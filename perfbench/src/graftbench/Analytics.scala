package graftbench

import java.nio.file.Files

import graft.{Queries, SparkEntry}

/** `curation_analytics`: the training-data half. Twelve headline queries,
  * run round robin until the time budget is spent, each written to a `noop`
  * sink, over generated tables in `--data`. An untimed first pass writes
  * every result as parquet for the oracle checks; after the timed window
  * the approximate queries run once more so their outputs can be compared
  * pass to pass.
  */
object Analytics {
  val queries: Seq[String] = Seq(
    "q_curation_pipeline", "q_minhash_neardup", "q_neardup_components",
    "q_span_dedup", "q_paragraph_dedup", "q_contamination", "q_token_budget",
    "q_hybrid_retrieval", "q_ann_ivf", "q_pagerank", "q21_waiting_supplier",
    "q9_product_profit")
  /** No DuckDB oracle: checked for identical output from pass to pass. */
  val repeatable: Seq[String] = Seq("q_minhash_neardup", "q_neardup_components", "q_ann_ivf")

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val dir = ctx.dataDir
    require(dir.nonEmpty && Files.isDirectory(java.nio.file.Paths.get(dir)),
      s"curation_analytics needs --data <generated tables dir>, got '$dir'")
    val oracles = SparkEntry.oracleSql.filter { case (n, _) => queries.contains(n) }
    Files.writeString(ctx.out.resolve("oracle_sql.json"), Json.value(oracles) + "\n")
    ctx.report("oracle_covered") = oracles.keys.toSeq.sorted
    ctx.report("repeatable") = repeatable

    def write(name: String, to: String): Unit = {
      val df = Queries.all(name).fn(spark, dir)
      if (to == "noop") df.write.format("noop").mode("overwrite").save()
      else df.coalesce(1).write.mode("overwrite").parquet(ctx.out.resolve(s"$to/$name").toString)
    }
    // warmup pass (untimed): results land as parquet for the oracle checks
    queries.foreach { n =>
      try write(n, "outputs")
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] warmup $n failed: $e")
      }
    }

    // closed loop over the query list, round robin, until the budget is
    // spent and every query has run at least once
    val planHashes = scala.collection.mutable.LinkedHashMap[String, Set[String]]()
    val deadline = ctx.deadlineNs
    var i = 0
    while (System.nanoTime() < deadline || i < queries.size) {
      val n = queries(i % queries.size)
      val before = ctx.rec.plans.count
      ctx.op(s"q.$n")(write(n, "noop"))
      if (ctx.traced) ctx.rec.plans.noopSince(before).foreach(h =>
        planHashes(n) = planHashes.getOrElse(n, Set.empty) + h)
      i += 1
    }
    val perQuery = queries.flatMap(n =>
      ctx.samples.get(s"q.$n").filter(_.nonEmpty).map(xs => Stats.median(xs.toSeq) / 1e3))
    ctx.report("queries_run") = i
    // a pass: the twelve queries once, each at its median
    ctx.report("analytics_total_s") = perQuery.sum
    ctx.report("analytics_geomean_s") = Stats.geomean(perQuery)
    ctx.report("throughput_per_s") = queries.size / perQuery.sum
    if (ctx.traced) {
      ctx.report("plan_hashes") = planHashes.map { case (n, hs) => n -> hs.toSeq.sorted }.toMap
      writeLayers(ctx, i.toDouble / queries.size)
    }
    // outside the timed window: the approximate queries once more
    repeatable.foreach { n =>
      try write(n, "outputs_repeat")
      catch { case e: Throwable => System.err.println(s"[perfbench] repeat $n failed: $e") }
    }
  }

  private def writeLayers(ctx: Ctx, nPasses: Double): Unit = {
    ctx.rec.jobs.quiesce()
    var scan = 0L
    var spill = 0L
    queries.foreach { n =>
      val ws = Tracer.named(s"q.$n").map(s => ctx.rec.jobs.window(s.startMs, s.endMs))
      def mean(f: Window => Double): Double =
        if (ws.isEmpty) 0.0 else ws.map(f).sum / ws.size
      ctx.layer(s"q.$n.s", ctx.samples.get(s"q.$n").filter(_.nonEmpty)
        .map(xs => Stats.median(xs.toSeq) / 1e3).getOrElse(0.0))
      ctx.layer(s"q.$n.task_ms", mean(_.taskMs.toDouble))
      ctx.layer(s"q.$n.gap_ms", mean(_.gapMs.toDouble))
      ctx.layer(s"q.$n.jobs", mean(_.jobs.toDouble))
      ctx.layer(s"q.$n.shuffle_bytes", mean(_.shuffleBytes.toDouble))
      scan += ws.map(_.inBytes).sum
      spill += ws.map(_.spill).sum
    }
    ctx.layer("analytics.scan_bytes", scan / nPasses)
    ctx.layer("analytics.spill_bytes", spill / nPasses)
  }
}
