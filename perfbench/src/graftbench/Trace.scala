package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced call into a layer: wall interval in epoch ms (the clock Spark
  * listener events use) plus a nanosecond duration, the span that caused it
  * and the run it belongs to.
  */
final case class Span(id: Long, parent: Long, name: String, run: String,
                      startMs: Long, endMs: Long, durNs: Long)

/** In-memory span recorder. Disabled (the untraced mode) it only runs the
  * body; enabled it records one [[Span]] per call, parented on the span
  * open on the calling thread. Spans are written out once, at the end.
  */
object Tracer {
  @volatile var enabled = false
  @volatile var runId = ""
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val open = ThreadLocal.withInitial[List[Long]](() => Nil)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = open.get.headOption.getOrElse(0L)
      open.set(id :: open.get)
      val t0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, name, runId, t0, System.currentTimeMillis(),
          System.nanoTime() - n0))
        open.set(open.get.tail)
      }
    }

  def named(name: String): Seq[Span] =
    spans.asScala.filter(_.name == name).toSeq.sortBy(_.startMs)

  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.asScala.toSeq.sortBy(_.id).map { s =>
      Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "run" -> s.run, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "dur_ns" -> s.durNs))
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Spark job and task data from the public [[SparkListener]] API. Jobs are
  * attributed to a span by time: the program runs some of its commits on
  * its own futures, so a thread- or property-based tag would miss them.
  */
final case class Window(wallMs: Long, jobs: Int, taskMs: Long, inBytes: Long,
                        inRecords: Long, shuffleBytes: Long, spill: Long,
                        jobUnionMs: Long) {
  /** Span wall time no Spark job covered: driver-side work. */
  def gapMs: Long = wallMs - jobUnionMs
}

final class JobRecorder extends SparkListener {
  private final class Job(val start: Long) { @volatile var end: Long = -1L }
  private final case class Task(stage: Int, runMs: Long, inBytes: Long, inRecords: Long,
                                shuffleWrite: Long, spill: Long)
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val events = new AtomicLong(0)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    events.incrementAndGet()
    jobs.put(e.jobId, new Job(e.time))
    e.stageIds.foreach(stageJob.putIfAbsent(_, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    events.incrementAndGet()
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    events.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) tasks.add(Task(e.stageId, m.executorRunTime,
      m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
      m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  /** Block until the asynchronous listener bus has delivered everything
    * started so far: every job ended and no event for 300 ms.
    */
  def quiesce(): Unit = {
    val deadline = System.currentTimeMillis() + 20000
    var last = -1L
    var stable = 0
    while (stable < 3 && System.currentTimeMillis() < deadline) {
      Thread.sleep(100)
      val now = events.get
      val allEnded = jobs.values.asScala.forall(_.end >= 0)
      if (now == last && allEnded) stable += 1 else stable = 0
      last = now
    }
  }

  /** Aggregates of the jobs that started inside [a, b]. */
  def window(a: Long, b: Long): Window = {
    val inside = jobs.asScala.filter { case (_, j) => j.start >= a && j.start <= b }
    val ids = inside.keySet
    val ts = tasks.asScala.filter(t => Option(stageJob.get(t.stage)).exists(ids))
    val union = unionMs(inside.values.map(j =>
      (j.start max a, (if (j.end < 0) b else j.end) min b)).toSeq)
    Window(b - a, inside.size, ts.map(_.runMs).sum, ts.map(_.inBytes).sum,
      ts.map(_.inRecords).sum, ts.map(_.shuffleWrite).sum, ts.map(_.spill).sum,
      union)
  }

  private def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = curE max e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** `StreamingQueryProgress` per micro-batch: start (epoch ms), the
  * `durationMs` phases, and the input row count.
  */
final case class Progress(batchId: Long, startMs: Long, durations: Map[String, Long],
                          inputRows: Long)

final class ProgressRecorder extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[Progress]()
  private val terminated = new AtomicInteger(0)

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    terminated.incrementAndGet()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    // AvailableNow also reports an empty closing trigger: keep real batches
    if (p.numInputRows > 0 && d.contains("addBatch"))
      progress.add(Progress(p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli, d, p.numInputRows))
  }

  /** Wait until `n` queries have reported termination (progress events are
    * posted before the termination event of their query).
    */
  def awaitTerminated(n: Int): Unit = {
    val deadline = System.currentTimeMillis() + 20000
    while (terminated.get < n && System.currentTimeMillis() < deadline) Thread.sleep(10)
  }

  def all: Seq[Progress] = progress.asScala.toSeq.sortBy(_.batchId)

  def reset(): Unit = { progress.clear(); terminated.set(0) }
}

/** Executed-plan hash of every finished query, from the public
  * [[QueryExecutionListener]] API.
  */
final case class PlanExec(planHash: String, isNoop: Boolean, seq: Long)

final class PlanRecorder extends QueryExecutionListener {
  private val seq = new AtomicLong(0)
  val execs = new ConcurrentLinkedQueue[PlanExec]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val plan = qe.executedPlan.toString
    execs.add(PlanExec(PlanRecorder.hash(plan), plan.contains("Noop"), seq.incrementAndGet()))
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def count: Long = seq.get

  /** Plan hash of the first `noop` write numbered above `after`, waiting
    * up to 5 s for the asynchronous listener bus to deliver it.
    */
  def noopSince(after: Long): Option[String] = {
    def find = execs.asScala.find(e => e.seq > after && e.isNoop).map(_.planHash)
    val deadline = System.currentTimeMillis() + 5000
    while (find.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(10)
    find
  }
}

object PlanRecorder {
  /** Plan shape hash: expression ids, RDD ids, temp paths and every other
    * run-specific number are masked before hashing.
    */
  def hash(plan: String): String = {
    val masked = plan.replaceAll("#\\d+L?", "#")
      .replaceAll("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "U")
      .replaceAll("\\d+", "N")
    java.security.MessageDigest.getInstance("MD5")
      .digest(masked.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
  }
}

/** Session-wide recorders, installed once per run. */
final class Recorders(spark: SparkSession, traced: Boolean) {
  val jobs = new JobRecorder
  val progress = new ProgressRecorder
  val plans = new PlanRecorder
  spark.streams.addListener(progress)
  if (traced) {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(plans)
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case n: BigDecimal => n.toString
    case m: Map[_, _] @unchecked =>
      obj(m.toSeq.map { case (k, x) => k.toString -> x }.sortBy(_._1))
    case s: Seq[_] => s.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}

/** CPU time the host took from this machine (`steal` in `/proc/stat`), as
  * cumulative (steal, total) ticks over all CPUs. On a shared virtual
  * machine its share over the timed window tells a slow host from a slow
  * program; the metrics are never adjusted by it.
  */
object HostSteal {
  def ticks(): (Long, Long) =
    try {
      val f = scala.io.Source.fromFile("/proc/stat")
      try {
        val v = f.getLines().next().split("\\s+").drop(1).take(8).map(_.toLong)
        (v(7), v.sum)
      } finally f.close()
    } catch { case _: Throwable => (0L, 0L) }
}

/** Sample statistics used by every workload. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it (nearest
    * rank). Below 21 samples no percentile at or above the median has ten
    * beyond it, and the maximum stands in. Returns (value, percentile,
    * samples).
    */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.size
    if (n < 21) (s.last, 100.0, n)
    else (s(n - 11), 100.0 * (n - 10) / n, n)
  }

  def geomean(xs: Seq[Double]): Double = weightedGeomean(xs.map(_ -> 1.0))

  /** Geometric mean of (value, weight) pairs. Weighting each operation
    * kind's median by its sample count gives the mean log-latency over
    * all operations run, with a once-per-run kind weighing as one sample.
    */
  def weightedGeomean(xs: Seq[(Double, Double)]): Double =
    math.exp(xs.map { case (x, w) => w * math.log(x max 1e-9) }.sum / xs.map(_._2).sum)

  /** Timing summary of one operation kind, in the result file's shape. */
  def summary(xs: Seq[Double], unit: String): Map[String, Any] =
    if (xs.isEmpty) Map("samples" -> 0, "unit" -> unit)
    else {
      val (t, p, n) = tail(xs)
      Map("p50" -> median(xs), "tail" -> t, "tail_percentile" -> p,
        "samples" -> n, "unit" -> unit, "values" -> xs)
    }
}
