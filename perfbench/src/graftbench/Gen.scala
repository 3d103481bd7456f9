package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded input generators and the plain-Scala models the outputs are
  * checked against. Everything here is a pure function of the seed.
  */
object Gen {
  final case class Item(id: Int, name: String, description: String, price: Int,
                        onOffer: Boolean)

  val words: Array[String] = ("alpha bravo charlie delta echo foxtrot golf hotel " +
    "india juliet kilo lima mike november oscar papa quebec romeo sierra tango " +
    "uniform victor whiskey xray yankee zulu").split(' ')

  /** Zipf(s) over ranks 0..n-1, with ranks mapped to keys through a seeded
    * permutation so hot keys are spread over the key space (and buckets).
    */
  final class Zipf(n: Int, s: Double, rnd: SplittableRandom) {
    private val cdf = {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1, s))
      var acc = 0.0
      w.map { x => acc += x; acc }
    }
    private val perm = {
      val p = Array.range(0, n)
      for (i <- n - 1 to 1 by -1) {
        val j = rnd.nextInt(i + 1)
        val t = p(i); p(i) = p(j); p(j) = t
      }
      p
    }
    def next(): Int = {
      val u = rnd.nextDouble() * cdf(n - 1)
      var lo = 0
      var hi = n - 1
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cdf(mid) < u) lo = mid + 1 else hi = mid
      }
      perm(lo)
    }
  }

  def item(id: Int, rnd: SplittableRandom, groups: Int): Item =
    Item(id, s"cat-${rnd.nextInt(groups)}",
      Seq.fill(3 + rnd.nextInt(6))(words(rnd.nextInt(words.length))).mkString(" "),
      1 + rnd.nextInt(10000), rnd.nextBoolean())

  // --- cdc_lakehouse: Debezium envelope micro-batches -----------------------

  final case class CdcBatch(lines: Seq[String], effects: Seq[(Int, Option[Item])],
                            inserts: Int, updates: Int, deletes: Int,
                            malformed: Int, distinctKeys: Int, maxPerKey: Int)

  final case class CdcParams(keys: Int = 40000, batchRows: Int = 2000,
                             batches: Int = 48, zipfS: Double = 0.9,
                             deleteShare: Double = 0.12,
                             malformedShare: Double = 0.01, groups: Int = 40,
                             partitions: Int = 4)

  /** The envelope stream, split into micro-batches. Each valid row is an
    * insert (key absent), a delete (`__deleted = "true"`) or an update; a
    * malformed row carries a truncated or non-JSON `value` and must land in
    * the dead-letter table. `kafka_offset` is global and increasing, so the
    * latest row of a key within a batch is the one with the highest offset.
    */
  def cdcBatches(seed: Long, p: CdcParams): Seq[CdcBatch] = {
    val rnd = new SplittableRandom(seed)
    val zipf = new Zipf(p.keys, p.zipfS, rnd.split())
    val live = mutable.HashMap[Int, Item]()
    var offset = 0L
    (0 until p.batches).map { _ =>
      val lines = new mutable.ArrayBuffer[String](p.batchRows)
      val effects = mutable.ArrayBuffer[(Int, Option[Item])]()
      var ins, upd, del, bad = 0
      val perKey = mutable.HashMap[Int, Int]()
      (0 until p.batchRows).foreach { _ =>
        val id = zipf.next()
        val part = id % p.partitions
        val env =
          if (rnd.nextDouble() < p.malformedShare) {
            bad += 1
            if (rnd.nextBoolean()) {
              val full = envelope(item(id, rnd, p.groups), deleted = false)
              full.take(5 + rnd.nextInt(full.length / 2))
            } else s"not-json:${rnd.nextInt(1000000)}"
          } else {
            perKey(id) = perKey.getOrElse(id, 0) + 1
            live.get(id) match {
              case Some(cur) if rnd.nextDouble() < p.deleteShare =>
                del += 1
                live.remove(id)
                effects += id -> None
                envelope(cur, deleted = true)
              case prev =>
                if (prev.isEmpty) ins += 1 else upd += 1
                val it = item(id, rnd, p.groups)
                live(id) = it
                effects += id -> Some(it)
                envelope(it, deleted = false)
            }
          }
        lines += "{\"value\":" + Json.str(env) + ",\"kafka_partition\":" + part +
          ",\"kafka_offset\":" + offset + "}"
        offset += 1
      }
      CdcBatch(lines.toSeq, effects.toSeq, ins, upd, del, bad, perKey.size,
        if (perKey.isEmpty) 0 else perKey.values.max)
    }
  }

  private def envelope(it: Item, deleted: Boolean): String =
    "{\"schema\":null,\"payload\":{\"id\":" + it.id + ",\"name\":" + Json.str(it.name) +
      ",\"description\":" + Json.str(it.description) + ",\"price\":" + it.price +
      ",\"on_offer\":" + it.onOffer + ",\"__deleted\":\"" + deleted + "\"}}"

  /** Final entity state after the first `n` batches: latest effect wins. */
  def cdcFinalState(batches: Seq[CdcBatch], n: Int): Map[Int, Item] = {
    val m = mutable.HashMap[Int, Item]()
    batches.take(n).foreach(_.effects.foreach {
      case (id, Some(it)) => m(id) = it
      case (id, None) => m.remove(id)
    })
    m.toMap
  }

  /** Write batch `i` as `batch-<i>.json`, with modification times one second
    * apart so a file stream source orders the files as generated.
    */
  def writeBatches(dir: Path, batches: Seq[CdcBatch]): Seq[Path] = {
    Files.createDirectories(dir)
    batches.zipWithIndex.map { case (b, i) =>
      val p = dir.resolve(f"batch-$i%05d.json")
      Files.write(p, (b.lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
      Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 1000L))
      p
    }
  }
}
