package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, its seed and time budget, the
  * recorders, and the bookkeeping of operations, samples and checks.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
                val traced: Boolean, val out: Path, val dataDir: String,
                val cores: Int, val rec: Recorders) {
  val samples = mutable.LinkedHashMap[String, ArrayBuffer[Double]]()
  var attempted = 0L
  var failed = 0L
  val checks = ArrayBuffer[(String, Boolean, String)]()
  val report = mutable.LinkedHashMap[String, Any]()
  val generated = mutable.LinkedHashMap[String, Any]()
  val perLayer = mutable.LinkedHashMap[String, Double]()
  val setupTimes = ArrayBuffer[Double]()
  var firstTimedMs = -1L

  /** Run one timed operation of `kind`: its wall time in ms becomes a
    * sample (unless `record` is off, when the caller supplies samples of
    * its own); a throw counts as a failed operation and yields None.
    */
  def op[T](kind: String, record: Boolean = true)(body: => T): Option[T] = {
    if (firstTimedMs < 0) {
      firstTimedMs = System.currentTimeMillis()
      stealAtStart = HostSteal.ticks()
    }
    attempted += 1
    val t0 = System.nanoTime()
    val r =
      try {
        val r = Tracer.span(kind)(body)
        if (record) samples.getOrElseUpdate(kind, ArrayBuffer()) += (System.nanoTime() - t0) / 1e6
        Some(r)
      } catch { case e: Throwable =>
        failed += 1
        System.err.println(s"[perfbench] $kind failed: $e")
        None
      }
    stealAtLastOp = HostSteal.ticks()
    r
  }

  /** An output check, run outside the timed window; a false result or a
    * throw counts as a failure.
    */
  def check(name: String)(body: => (Boolean, String)): Unit = {
    attempted += 1
    val (ok, detail) =
      try body catch { case e: Throwable => (false, s"threw: $e") }
    if (!ok) {
      failed += 1
      System.err.println(s"[perfbench] check $name FAILED: $detail")
    }
    checks += ((name, ok, detail))
  }

  /** Run one set-up step three times (rep 0 is the one kept) and record
    * each duration; `setup_s` counts their median.
    */
  def setup(step: Int => Unit): Unit =
    (0 until 3).foreach { rep =>
      val t0 = System.nanoTime()
      step(rep)
      setupTimes += (System.nanoTime() - t0) / 1e9
    }

  def deadlineNs: Long = System.nanoTime() + seconds * 1000000000L

  def layer(name: String, v: Double): Unit = perLayer(name) = v

  var stealAtStart = (0L, 0L)
  var stealAtLastOp = (0L, 0L)
}

/** Benchmark entry: `graftbench.Main --workload <w> --seed <n> --seconds <s>
  * --trace <0|1> --out <dir> [--data <dir>] [--cores <n>]`.
  * Writes `result.json` (and, traced, `spans.jsonl`) into `--out`.
  */
object Main {
  val workloads: Map[String, Ctx => Unit] = Map(
    "cdc_lakehouse" -> Lakehouse.run,
    "curation_analytics" -> Analytics.run,
    "gen_cdc" -> Lakehouse.generateOnly)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val seed = a("seed").toLong
    val traced = a.getOrElse("trace", "0") == "1"
    val out = Paths.get(a("out"))
    Files.createDirectories(out)
    val cores = a.get("cores").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val spark = graft.core.Session.tuned(
      SparkSession.builder().master(s"local[$cores]"), cores).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Tracer.enabled = traced
    Tracer.runId = s"$name-$seed-${ProcessHandle.current().pid()}"
    val ctx = new Ctx(spark, seed, a.getOrElse("seconds", "10").toInt, traced, out,
      a.getOrElse("data", ""), cores, new Recorders(spark, traced))
    val sessionReadyMs = System.currentTimeMillis()
    val code =
      try {
        workloads(name)(ctx)
        0
      } catch { case e: Throwable =>
        System.err.println(s"[perfbench] workload $name aborted: $e")
        e.printStackTrace()
        3
      }
    if (code == 0) writeResult(ctx, name, sessionReadyMs)
    spark.stop()
    sys.exit(code)
  }

  private def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  private def writeResult(ctx: Ctx, name: String, sessionReadyMs: Long): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val setupTotal = ctx.setupTimes.sum
    val setupMedian = if (ctx.setupTimes.isEmpty) 0.0 else Stats.median(ctx.setupTimes.toSeq)
    // process start → first timed operation, with the repeated set-up step
    // counted once, at its median
    val toFirstOp = (ctx.firstTimedMs - jvmStartMs) / 1e3
    val setupS = toFirstOp - setupTotal + setupMedian
    val kinds = ctx.samples.filter(_._2.nonEmpty)
    val e2e = Map[String, Any](
      "setup_s" -> setupS,
      "peak_rss_mb" -> peakRssMb,
      "p50_ms" -> Stats.weightedGeomean(kinds.values.map(xs =>
        Stats.median(xs.toSeq) -> xs.size.toDouble).toSeq),
      "throughput_per_s" -> ctx.report.getOrElse("throughput_per_s", 0.0))
    val result = Json.obj(Seq(
      "workload" -> name, "seed" -> ctx.seed, "traced" -> ctx.traced,
      "cores" -> ctx.cores,
      "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "e2e" -> e2e,
      "setup" -> Map("jvm_to_session_s" -> (sessionReadyMs - jvmStartMs) / 1e3,
        "to_first_timed_op_s" -> toFirstOp, "repeated_step_s" -> ctx.setupTimes.toSeq),
      "samples_ms" -> kinds.map { case (k, xs) => k -> Stats.summary(xs.toSeq, "ms") }.toMap,
      "host_steal_share" -> (ctx.stealAtLastOp._1 - ctx.stealAtStart._1).toDouble /
        ((ctx.stealAtLastOp._2 - ctx.stealAtStart._2) max 1L),
      "gc_ms" -> java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .toArray.map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean]
          .getCollectionTime).sum,
      "report" -> ctx.report.toMap,
      "generated" -> ctx.generated.toMap,
      "checks" -> ctx.checks.map { case (n, ok, d) =>
        Map("name" -> n, "ok" -> ok, "detail" -> d) }.toSeq,
      "per_layer" -> ctx.perLayer.toMap))
    Files.writeString(ctx.out.resolve("result.json"), result + "\n")
    if (ctx.traced) Tracer.write(ctx.out.resolve("spans.jsonl"))
  }
}
