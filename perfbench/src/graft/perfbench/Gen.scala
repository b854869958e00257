package graft.perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable
import scala.util.Random

/** The streaming workload's load generator: seeded, separate from the
  * system under test, and open-loop — slices are written on a schedule
  * that does not slow when the system does.
  *
  * A SLICE is one generator tick: one JSON-lines file in each source
  * directory, all stamped with the slice's event time. The event clock
  * advances `StepSec` per slice; 10% of DWS rows run 1 s behind it
  * (inside the 2 s watermark), so nothing is late and stream output must
  * equal the batch recomputation exactly. CDC envelopes carry the exact
  * slice time: keep-last needs a total order.
  *
  * Traffic per slice of size n: n order-detail rows for DWS (sku ~
  * Zipf(1.1) over 20,000 skus) plus 5% emit-then-retract duplicates
  * (exact copies), n/10 CDC envelopes over three dimension tables (at
  * most one per key per slice, so keep-last has a total order; 10% of
  * updates are deletes), and, where asked, n mart events (users ~
  * Zipf(1.1) over 2,000, five types, per-user non-decreasing
  * (ts, event_id) as the mart contract requires). Amounts and values are
  * multiples of 0.25, so sums are exact in any order. */
final class Gen(seed: Long) {
  import Gen._

  private val rnd = new Random(seed)
  private val skuCdf = zipfCdf(Skus, 1.1)
  private val userCdf = zipfCdf(Users, 1.1)
  private var nextDetail = 1L
  private var nextEvent = 1L
  private val liveKeys = Map("sku_info" -> mutable.Set[Long](),
    "user_info" -> mutable.Set[Long](), "base_province" -> mutable.Set[Long]())

  private def zipf(cdf: Array[Double]): Long = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    (if (i >= 0) i else -i - 1).toLong + 1
  }
  private def amount(): Double = (1 + rnd.nextInt(400)) / 4.0

  /** Slice `k` of size `n`: lines per source directory (CDC only when
    * `cdc`, mart events only when `events`). */
  def slice(k: Int, n: Int, cdc: Boolean = true, events: Boolean = false): Slice = {
    val ts = eventSec(k)
    def jitter(): Long = if (rnd.nextDouble() < 0.1) ts - 1 else ts
    val dws, envelopes = new StringBuilder
    for (_ <- 0 until n) {
      val d = nextDetail; nextDetail += 1
      val row = s"""{"order_detail_id":$d,"sku":${zipf(skuCdf)},"amount":${amount()},"ts_sec":${jitter()}}\n"""
      dws ++= row
      if (rnd.nextDouble() < 0.05) dws ++= row
    }
    val used = mutable.Set[(String, Long)]()
    for (_ <- 0 until (if (cdc) math.max(1, n / 10) else 0)) {
      val r = rnd.nextDouble()
      val (table, key) =
        if (r < 0.5) ("sku_info", zipf(skuCdf))
        else if (r < 0.9) ("user_info", zipf(userCdf))
        else ("base_province", 1L + rnd.nextInt(Provinces))
      if (used.add(table -> key)) {
        val live = liveKeys(table)
        val op =
          if (!live.contains(key)) { live += key; "insert" }
          else if (rnd.nextDouble() < 0.1) { live -= key; "delete" }
          else "update"
        val data = (("id" -> key.toString) +: Columns(table).map(c => c -> s"$c-${rnd.nextInt(1000)}")) :+
          ("create_time" -> ts.toString)
        envelopes ++= s"""{"database":"gmall","table":"$table","type":"$op","ts":$ts,"data":{""" +
          data.map { case (c, v) => s""""$c":"$v"""" }.mkString(",") + "}}\n"
      }
    }
    Slice(k, Map("dws" -> dws.toString) ++
      (if (cdc) Map("cdc" -> envelopes.toString) else Map.empty) ++
      (if (events) this.events(k, n).lines else Map.empty))
  }

  /** Slice `k` holding only `n` mart events. */
  def events(k: Int, n: Int): Slice = {
    val ts = eventSec(k)
    val evs = new StringBuilder
    for (j <- 0 until n) {
      val e = nextEvent; nextEvent += 1
      evs ++= s"""{"user_id":${zipf(userCdf)},"ts_sec":$ts,"ts_us":${ts * 1000000L + j},"event_id":$e,"event_type":"${Types(rnd.nextInt(Types.length))}","value":${amount()}}\n"""
    }
    Slice(k, Map("events" -> evs.toString))
  }

  /** A flusher: one DWS row of no sku at event second `ts`, to move the
    * watermark past the last real slice. */
  def flusher(k: Int, ts: Long): Slice =
    Slice(k, Map("dws" -> s"""{"order_detail_id":-$k,"sku":-1,"amount":0.0,"ts_sec":$ts}\n"""))
}

final case class Slice(k: Int, lines: Map[String, String]) {
  def rows(source: String): Long =
    lines.get(source).map(_.count(_ == '\n').toLong).getOrElse(0L)
  def events: Long = lines.keys.toSeq.map(rows).sum

  /** Write every file atomically: a hidden temp name (the file source
    * ignores dot-files), then a rename. */
  def write(root: Path): Unit = {
    def tmp(src: String) = root.resolve(src).resolve(f".s$k%06d.tmp")
    lines.foreach { case (src, body) => Files.writeString(tmp(src), body) }
    lines.keys.foreach(src => Files.move(tmp(src),
      root.resolve(src).resolve(f"s$k%06d.json"), StandardCopyOption.ATOMIC_MOVE))
  }
}

object Slice {
  /** One slice holding all of `slices`' rows (numbered like the first):
    * a backlog lands as one file per source, so the first trigger after
    * it lands sees all of it. */
  def concat(slices: Seq[Slice]): Slice =
    Slice(slices.head.k, slices.flatMap(_.lines.keys).distinct.map(src =>
      src -> slices.map(_.lines.getOrElse(src, "")).mkString).toMap)
}

object Gen {
  val Epoch = 1700000000L
  val StepSec = 1L
  val Skus = 20000
  val Users = 2000
  val Provinces = 34
  val Types = Seq("view", "click", "cart", "order", "pay")
  /** The DIM config rules' whitelisted columns per source table. */
  val Columns = Map(
    "sku_info" -> Seq("sku_name", "price", "tm_id"),
    "user_info" -> Seq("name", "level"),
    "base_province" -> Seq("name", "region_id"))
  val Sources = Seq("dws", "cdc", "events")

  def eventSec(k: Int): Long = Epoch + k * StepSec

  private def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = (1 to n).map(i => 1.0 / math.pow(i, s))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
  }
}
