package graftbench

import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.connector.read.Scan
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2ScanRelation, V1ScanWrapper}
import org.apache.spark.sql.functions.col

import graft.catalog.GraftScan
import graft.cdc.KeyedParquetTable

/** The read path of the storage layer, driven against a table whose state
  * at every recorded version is known from the model: point lookups
  * (`readForKeys` on skewed keys), catalog SQL aggregates over the same
  * root registered as `graft.<ns>.<table>`, and change reads
  * (`changesBetween` from an earlier recorded version to the current one).
  * Results are kept and checked after the timed window.
  */
final class Reads(spark: SparkSession, table: KeyedParquetTable, sqlName: String,
                  keySpace: Int, zipfS: Double, seed: Long) {
  import spark.implicits._

  sealed trait Read { def version: Long }
  final case class Point(version: Long, keys: Seq[Int], got: Seq[Gen.Item]) extends Read
  final case class Scan(version: Long, minPrice: Int, got: Map[String, (Long, Long)]) extends Read
  final case class Changes(version: Long, from: Long, got: Map[Int, String]) extends Read

  private val rnd = new SplittableRandom(seed)
  private val zipf = new Gen.Zipf(keySpace, zipfS, rnd.split())
  /** Model state at each recorded version; reads only target these. */
  val states = scala.collection.mutable.LinkedHashMap[Long, Map[Int, Gen.Item]]()
  val done = ArrayBuffer[Read]()
  /** One timed read's interval, files scanned and planning time (traced runs). */
  final case class ReadStat(kind: String, startMs: Long, endMs: Long, files: Long, planMs: Long)
  val planStats = ArrayBuffer[ReadStat]()

  private def item(r: org.apache.spark.sql.Row) = Gen.Item(r.getAs[Int]("id"),
    r.getAs[String]("name"), r.getAs[String]("description"), r.getAs[Int]("price"),
    r.getAs[Boolean]("on_offer"))

  private var issued = 0

  /** The next read: point, scan and changes in turn. Each kind cycles
    * through a fixed set of sizes, so every run does the same mix of work:
    * point lookups of 1, 8 and 64 skewed keys, change reads from 1, 2 and 4
    * recorded versions back. Keys and the scan's price floor are seeded.
    * Returns (kind, the call).
    */
  def next(): (String, () => (DataFrame, Read)) = {
    val v = table.currentVersion
    val cycle = issued / 3 % 3
    issued += 1
    if (issued % 3 == 1) {
      val keys = Seq.fill(Seq(1, 8, 64)(cycle))(zipf.next()).distinct
      "read_point" -> (() => {
        // readForKeys returns a row superset of the probe; refine by key
        val df = table.readForKeys(keys.toDF("id")).filter(col("id").isin(keys: _*))
        (df, Point(v, keys, df.collect().map(item).toSeq))
      })
    } else if (issued % 3 == 2) {
      val minPrice = rnd.nextInt(8000)
      "read_scan" -> (() => {
        val df = spark.sql(s"""SELECT name, count(*) AS n, sum(price) AS s
          FROM $sqlName WHERE price >= $minPrice GROUP BY name""")
        (df, Scan(v, minPrice, df.collect().map(r =>
          r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap))
      })
    } else {
      val earlier = states.keys.filter(_ < v).toSeq.sorted
      val from = earlier((earlier.size - Seq(1, 2, 4)(cycle)) max 0)
      "read_changes" -> (() => {
        val df = table.changesBetween(from, v)
        (df, Changes(v, from, df.collect().map(r =>
          r.getAs[Int]("id") -> r.getAs[String]("change_type")).toMap))
      })
    }
  }

  /** One timed read through `ctx.op`, recorded for the checks. */
  def run(ctx: Ctx): Unit = {
    val (kind, body) = next()
    val start = System.currentTimeMillis()
    ctx.op(kind)(body()).foreach { case (df, r) =>
      done += r
      if (ctx.traced) planStats += ReadStat(kind, start, System.currentTimeMillis(),
        Reads.scanFiles(df), df.queryExecution.tracker.phases.values.map(_.durationMs).sum)
    }
  }

  def writeLayers(ctx: Ctx): Unit = {
    ctx.rec.jobs.quiesce()
    Seq("point", "scan", "changes").foreach { op =>
      val mine = planStats.filter(_.kind == s"read_$op").toSeq
      val ws = mine.map(s => ctx.rec.jobs.window(s.startMs, s.endMs))
      def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
      ctx.layer(s"read.$op.files_scanned", mean(mine.map(_.files.toDouble)))
      ctx.layer(s"read.$op.bytes_scanned", mean(ws.map(_.inBytes.toDouble)))
      ctx.layer(s"read.$op.jobs", mean(ws.map(_.jobs.toDouble)))
      ctx.layer(s"read.$op.gap_ms", mean(ws.map(_.gapMs.toDouble)))
      ctx.layer(s"read.$op.plan_ms", mean(mine.map(_.planMs.toDouble)))
      if (op == "point") {
        val returned = done.collect { case p: Point => p.got.size }.sum
        ctx.layer("read.point.rows_scanned_per_row_returned",
          ws.map(_.inRecords).sum.toDouble / (returned max 1))
      }
    }
  }

  private def diff(from: Long, to: Long): Map[Int, String] = {
    val a = states(from)
    val b = states(to)
    (a.keySet ++ b.keySet).toSeq.flatMap { k =>
      (a.get(k), b.get(k)) match {
        case (None, Some(_)) => Some(k -> "insert")
        case (Some(_), None) => Some(k -> "delete")
        case (Some(x), Some(y)) if x != y => Some(k -> "update")
        case _ => None
      }
    }.toMap
  }

  private def expected(r: Read): Read = {
    val live = states(r.version)
    r match {
      case p: Point => p.copy(got = p.keys.flatMap(live.get).sortBy(_.id))
      case s: Scan => s.copy(got = live.values.filter(_.price >= s.minPrice).groupBy(_.name)
        .map { case (g, its) => g -> (its.size.toLong, its.map(_.price.toLong).sum) })
      case c: Changes => c.copy(got = diff(c.from, c.version))
    }
  }

  private def normalized(r: Read): Read = r match {
    case p: Point => p.copy(got = p.got.sortBy(_.id))
    case other => other
  }

  /** Every kept result against the model at the version it read. */
  def check(ctx: Ctx): Unit =
    Seq("Point", "Scan", "Changes").foreach { kind =>
      val mine = done.filter(_.getClass.getSimpleName == kind).toSeq
      val bad = mine.filter(r => normalized(r) != expected(r))
      ctx.check(s"reads.${kind.toLowerCase}_matches_model")((bad.isEmpty,
        s"${bad.size} of ${mine.size} results differ from the model" +
          bad.headOption.fold("")(r =>
            s"; first: got ${normalized(r)}, want ${expected(r)}".take(600))))
    }
}

object Reads {
  /** Files a read's plan opens: its own file scans plus, for a catalog
    * table, the engine read behind the `graft` scan (a V1 bridge, so its
    * files are not in the outer plan).
    */
  def scanFiles(df: DataFrame): Long =
    df.inputFiles.length.toLong + v2Scans(df.queryExecution.optimizedPlan).collect {
      case g: GraftScan => g
      case V1ScanWrapper(g: GraftScan, _, _) => g
    }.map(_.inner.inputFiles.length.toLong).sum

  /** DSv2 scans anywhere in the plan, including inner children (the
    * engine wraps its scans in a statistics node).
    */
  private def v2Scans(p: LogicalPlan): Seq[Scan] =
    (p match {
      case r: DataSourceV2ScanRelation => Seq(r.scan)
      case _ => Nil
    }) ++ (p.children ++ p.innerChildren.collect { case l: LogicalPlan => l }).flatMap(v2Scans)
}
