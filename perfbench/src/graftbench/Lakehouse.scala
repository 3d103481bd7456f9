package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.cdc.{CdcParse, KeyedParquetTable}
import graft.streaming.{IncrementalAgg, Ingest}
import graft.validate.Validation

/** `cdc_lakehouse`: the storage layer's write and read paths, one round at a
  * time until the time budget is spent. A round drains the next envelope
  * micro-batch file through `Ingest.drainAvailableRaw` into a bucketed
  * entity table with stats columns and key bloom filters, plus lineage and
  * dead-letter tables; passes the same batch through
  * `IncrementalAgg.applyCdcBatch`; then reads the entity table ([[Reads]]).
  * One `Validation.autoMaintain` pass follows the rounds. Closed loop, one
  * client: each call starts when the previous one ends.
  */
object Lakehouse {
  val params = Gen.CdcParams()
  val readsPerRound = 3
  val warmupRounds = 2
  val statsCols = Seq("id", "price")
  val bloomBits = 8192
  val rawSchema: StructType = StructType(Seq(
    StructField("value", StringType),
    StructField("kafka_partition", IntegerType),
    StructField("kafka_offset", LongType)))
  val entitySchema: StructType = StructType(Seq(
    StructField("kafka_partition", IntegerType),
    StructField("kafka_offset", LongType),
    StructField("id", IntegerType),
    StructField("name", StringType),
    StructField("description", StringType),
    StructField("price", IntegerType),
    StructField("on_offer", BooleanType)))
  private val ordering = Seq(col("kafka_offset").desc)

  private def classify(df: DataFrame): DataFrame =
    df.withColumn("operation", CdcParse.classifyOperation(col("__deleted"), col("id")))
      .drop("__deleted")

  /** Generate one seed's batch files into `<out>/gen/cdc` and stop: used to
    * check that a seed reproduces its inputs byte for byte.
    */
  def generateOnly(ctx: Ctx): Unit =
    Gen.writeBatches(ctx.out.resolve("gen/cdc"), Gen.cdcBatches(ctx.seed, params))

  private def entityTable(ctx: Ctx, root: String) =
    new KeyedParquetTable(ctx.spark, root, Seq("id"), Nil, 8, Nil, statsCols, bloomBits)

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val root = ctx.out.resolve("cdc")
    var batches: Seq[Gen.CdcBatch] = Nil
    var files: Seq[Path] = Nil
    ctx.setup { rep =>
      val b = Gen.cdcBatches(ctx.seed, params)
      val f = Gen.writeBatches(root.resolve(s"gen$rep"), b)
      if (rep == 0) { batches = b; files = f }
      else Storage.deleteTree(root.resolve(s"gen$rep"))
    }
    describe(ctx, batches, files)

    val src = root.resolve("source")
    Files.createDirectories(src)
    val entity = entityTable(ctx, s"$root/entity")
    val lineage = new KeyedParquetTable(spark, s"$root/lineage", Seq("batch_id"), Nil, 4)
    val dead = new KeyedParquetTable(spark, s"$root/dead_letter", Seq("batch_id"))
    val ivmEntity = new KeyedParquetTable(spark, s"$root/ivm_entity", Seq("id"), Nil, 8)
    val agg = new KeyedParquetTable(spark, s"$root/ivm_agg", Seq("name"), Nil, 4)
    entity.createIfNotExists(entitySchema)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.bench")
    spark.sql(s"""CREATE TABLE graft.bench.items
      (kafka_partition INT, kafka_offset BIGINT, id INT, name STRING, description STRING,
       price INT, on_offer BOOLEAN)
      PARTITIONED BY (bucket(8, id))
      TBLPROPERTIES ('graft.keys'='id', 'graft.location'='${entity.root}',
        'graft.statsCols'='${statsCols.mkString(",")}', 'graft.bloomKeyBits'='$bloomBits')""")
    val reads = new Reads(spark, entity, "graft.bench.items", params.keys, params.zipfS,
      ctx.seed * 31 + 7)
    reads.states(entity.currentVersion) = Map.empty
    val raw = spark.readStream.schema(rawSchema).option("maxFilesPerTrigger", 1)
      .json(src.toString)
    def batchFrame(i: Int): DataFrame =
      classify(CdcParse.parseEnvelope(
        spark.read.schema(rawSchema).json(files(i).toString), "value"))

    val drainWallS = ArrayBuffer[Double]()
    val rawMetrics = ArrayBuffer[Ingest.RawBatchMetrics]()
    var applied = 0
    /** Drain, fold and read the next batch; untimed rounds run the same
      * calls outside `ctx.op` and record nothing.
      */
    def round(timed: Boolean): Unit = {
      def call[T](kind: String, record: Boolean = true)(body: => T): Unit =
        if (timed) ctx.op(kind, record)(body) else body
      val i = applied
      Files.copy(files(i), src.resolve(files(i).getFileName), StandardCopyOption.COPY_ATTRIBUTES)
      val t0 = System.nanoTime()
      call("ingest_drain", record = false) {
        Ingest.drainAvailableRaw(raw, entity, ordering, s"$root/checkpoint",
          Some(lineage), Some(dead), onMetrics = m => rawMetrics.synchronized(rawMetrics += m))
          .awaitTermination()
      }
      if (timed) drainWallS += (System.nanoTime() - t0) / 1e9
      applied += 1
      reads.states(entity.currentVersion) = Gen.cdcFinalState(batches, applied)
      call("ivm_batch") {
        IncrementalAgg.applyCdcBatch(ivmEntity, agg, batchFrame(i), "name", "price",
          ordering, "operation", Some(i.toString))
      }
      (0 until readsPerRound).foreach(_ => if (timed) reads.run(ctx) else reads.next()._2())
    }

    // warmup (untimed, counted in setup): the first rounds pay JIT and
    // codegen; their batches stay applied and are part of the checks
    (0 until warmupRounds).foreach(_ => round(timed = false))
    ctx.rec.progress.awaitTerminated(warmupRounds)
    ctx.rec.progress.reset()
    rawMetrics.clear()

    val ivmVersionsBefore = ivmEntity.currentVersion + agg.currentVersion
    val deadline = ctx.deadlineNs
    var timedRounds = 0
    while (System.nanoTime() < deadline && applied < files.size) {
      round(timed = true)
      timedRounds += 1
    }
    ctx.rec.progress.awaitTerminated(timedRounds)
    val progress = ctx.rec.progress.all
    progress.foreach(p => ctx.samples.getOrElseUpdate("ingest_batch", ArrayBuffer()) +=
      p.durations.getOrElse("triggerExecution", 0L).toDouble)
    // the source's numInputRows counts every action over the batch, so the
    // row count comes from the files the rounds fed
    val rowsIn = batches.slice(warmupRounds, applied).map(_.lines.size).sum.toLong
    ctx.report("ingest_rows_per_s") = rowsIn / drainWallS.sum
    ctx.report("throughput_per_s") = rowsIn / drainWallS.sum
    ctx.report("batches_applied") = applied
    ctx.report("timed_rounds") = timedRounds
    ctx.report("rows_ingested") = rowsIn
    ctx.report("versions_read") = reads.states.size
    if (ctx.traced) {
      writeLayers(ctx, entity, files.take(applied), progress, rawMetrics.toSeq,
        ivmEntity.currentVersion + agg.currentVersion - ivmVersionsBefore)
      reads.writeLayers(ctx)
    }

    // one maintenance pass, timed as its own operation
    val filesBefore = entity.files().count()
    val before = Storage.versions(entity.root).lastOption
    val plan = ctx.op("maintain") {
      Validation.autoMaintain(entity, maxFiles = 4L, retainLast = 2)
    }
    ctx.report("maintain_plan") = plan.getOrElse(Nil).map(_._1)
    if (ctx.traced) {
      val span = Tracer.named("maintain").last
      ctx.rec.jobs.quiesce()
      val w = ctx.rec.jobs.window(span.startMs, span.endMs)
      val after = Storage.versions(entity.root).lastOption
      val beforeKeys = before.map(_.files.map(_._1).toSet).getOrElse(Set.empty)
      ctx.layer("maint.files_before", filesBefore.toDouble)
      ctx.layer("maint.files_after", entity.files().count().toDouble)
      ctx.layer("maint.bytes_rewritten", after.map(_.files.filterNot(f =>
        beforeKeys(f._1)).map(_._2).sum).getOrElse(0L).toDouble)
      ctx.layer("maint.jobs", w.jobs.toDouble)
      ctx.layer("maint.gap_ms", w.gapMs.toDouble)
    }
    reads.check(ctx)
    checks(ctx, batches, applied, entity, lineage, dead, ivmEntity, agg, files)
  }

  private def describe(ctx: Ctx, batches: Seq[Gen.CdcBatch], files: Seq[Path]): Unit = {
    val rows = batches.map(_.lines.size).sum.toDouble
    val valid = batches.map(b => b.inserts + b.updates + b.deletes).sum.toDouble
    val g = ctx.generated
    g("batches") = batches.size
    g("rows") = rows.toLong
    g("bytes") = files.map(Files.size).sum
    g("keys") = params.keys
    g("zipf_s") = params.zipfS
    g("insert_share") = batches.map(_.inserts).sum / valid
    g("update_share") = batches.map(_.updates).sum / valid
    g("delete_share") = batches.map(_.deletes).sum / valid
    g("malformed_share") = batches.map(_.malformed).sum / rows
    g("valid_rows_per_distinct_key_per_batch") =
      valid / batches.map(_.distinctKeys).sum
    g("max_rows_per_key_in_a_batch") = batches.map(_.maxPerKey).max
    // measured skew: share of valid rows on the hottest 1% of keys
    val perKey = batches.flatMap(_.effects.map(_._1)).groupBy(identity).values
      .map(_.size).toSeq.sortBy(-_)
    g("top_1pct_keys_row_share") =
      perKey.take((params.keys / 100).max(1)).sum / valid
  }

  private def writeLayers(ctx: Ctx, entity: KeyedParquetTable, inputs: Seq[Path],
                          progress: Seq[Progress],
                          rawMetrics: Seq[Ingest.RawBatchMetrics], ivmCommits: Long): Unit = {
    ctx.rec.jobs.quiesce()
    val ws = progress.map(p => ctx.rec.jobs.window(p.startMs,
      p.startMs + p.durations.getOrElse("triggerExecution", 0L)))
    def perBatch(f: Window => Long): Double =
      if (ws.isEmpty) 0.0 else ws.map(f).sum.toDouble / ws.size
    def phase(k: String): Double =
      if (progress.isEmpty) 0.0 else Stats.median(progress.map(_.durations.getOrElse(k, 0L).toDouble))
    ctx.layer("ingest.jobs_per_batch", perBatch(_.jobs.toLong))
    ctx.layer("ingest.task_ms_per_batch", perBatch(_.taskMs))
    ctx.layer("ingest.gap_ms_per_batch", perBatch(_.gapMs))
    ctx.layer("ingest.shuffle_bytes_per_batch", perBatch(_.shuffleBytes))
    Seq("addBatch", "walCommit", "queryPlanning", "latestOffset").foreach(k =>
      ctx.layer(s"ingest.${k}_ms", phase(k)))
    // a batch applied twice would show as more applied callbacks than batches
    ctx.layer("ingest.replays_applied",
      (rawMetrics.count(_.applied) - progress.map(_.batchId).distinct.size).max(0).toDouble)

    val vs = Storage.versions(entity.root)
    val commits = vs.drop(1) // v0 is the empty create
    val inputBytes = inputs.map(Files.size).sum.toDouble
    val live = entity.countRows().toDouble
    ctx.layer("table.files_per_commit",
      if (commits.isEmpty) 0.0 else commits.map(_.newFiles).sum.toDouble / commits.size)
    ctx.layer("table.bytes_written_per_input_byte", commits.map(_.newBytes).sum / inputBytes)
    ctx.layer("table.bytes_per_live_row",
      vs.lastOption.map(_.files.map(_._2).sum).getOrElse(0L) / (live max 1.0))
    ctx.layer("table.snapshots", vs.size.toDouble)

    val ivm = Tracer.named("ivm_batch").map(s => ctx.rec.jobs.window(s.startMs, s.endMs))
    def ivmPer(f: Window => Long): Double =
      if (ivm.isEmpty) 0.0 else ivm.map(f).sum.toDouble / ivm.size
    ctx.layer("ivm.jobs_per_batch", ivmPer(_.jobs.toLong))
    ctx.layer("ivm.task_ms_per_batch", ivmPer(_.taskMs))
    ctx.layer("ivm.gap_ms_per_batch", ivmPer(_.gapMs))
    ctx.layer("ivm.commits_per_batch", if (ivm.isEmpty) 0.0 else ivmCommits.toDouble / ivm.size)
  }

  private def checks(ctx: Ctx, batches: Seq[Gen.CdcBatch], applied: Int,
                     entity: KeyedParquetTable, lineage: KeyedParquetTable,
                     dead: KeyedParquetTable, ivmEntity: KeyedParquetTable,
                     agg: KeyedParquetTable, files: Seq[Path]): Unit = {
    val spark = ctx.spark
    val model = Gen.cdcFinalState(batches, applied)
    def asItems(df: DataFrame): Map[Int, Gen.Item] =
      df.select("id", "name", "description", "price", "on_offer").collect().map { r =>
        r.getInt(0) -> Gen.Item(r.getInt(0), r.getString(1), r.getString(2), r.getInt(3),
          r.getBoolean(4))
      }.toMap
    def sameState(got: Map[Int, Gen.Item]): (Boolean, String) = {
      val wrong = (got.keySet ++ model.keySet).count(k => got.get(k) != model.get(k))
      (wrong == 0, s"${got.size} rows vs model ${model.size}, $wrong keys differ")
    }
    ctx.check("cdc.entity_equals_model")(sameState(asItems(entity.read())))
    ctx.check("cdc.ivm_entity_equals_model")(sameState(asItems(ivmEntity.read())))
    val injected = batches.take(applied).map(_.malformed).sum.toLong
    ctx.check("cdc.dead_letter_count") {
      val n = if (dead.exists) dead.read().count() else 0L
      (n == injected, s"$n dead-lettered vs $injected injected")
    }
    ctx.check("cdc.lineage_one_row_per_batch") {
      val ids = lineage.read().select("batch_id").collect().map(_.getLong(0)).toSeq
      (ids.sorted == (0L until applied.toLong), s"${ids.size} rows, ${ids.distinct.size} distinct, $applied batches")
    }
    ctx.check("cdc.ivm_agg_equals_groupby") {
      val want = model.values.groupBy(_.name).map { case (g, its) =>
        g -> (its.size.toLong, BigDecimal(its.map(_.price.toLong).sum)) }
      val got = agg.read().collect().map { r =>
        r.getAs[String]("name") -> (r.getAs[Long]("n_rows"),
          BigDecimal(r.getAs[java.math.BigDecimal]("sum_price"))) }.toMap
      val wrong = (want.keySet ++ got.keySet).count(k =>
        want.get(k).map(w => (w._1, w._2.setScale(6))) != got.get(k).map(x => (x._1, x._2.setScale(6))))
      (wrong == 0, s"${got.size} groups vs ${want.size}, $wrong differ")
    }
    ctx.check("cdc.redelivery_is_noop") {
      val last = applied - 1
      val v0 = entity.currentVersion
      val m = Ingest.applyRawBatch(spark.read.schema(rawSchema).json(files(last).toString),
        last.toLong, entity, ordering, Some(lineage), Some(dead))
      (!m.applied && entity.currentVersion == v0,
        s"applied=${m.applied}, version $v0 -> ${entity.currentVersion}")
    }
  }
}
