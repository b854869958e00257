package graft.apps

import java.nio.file.Files

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sinks.Sinks

/** The AUTO-WIDEN policy (r13 verdict task #4): the round-13 1000×
  * probe fixed its measured per-batch ceiling by a MANUAL rebucket —
  * now the maintenance cycles consult the row/byte-aware
  * recommendation themselves. Pinned:
  *
  *  - the mart's sweep cadence widens AT MOST ONE table per cycle
  *    (bounded work), catches the remaining tables on later cycles,
  *    and never widens at stable scale (the hysteresis no-op);
  *  - state grown 35× across batches triggers the widening with ZERO
  *    manual rebucket calls, and every mart query stays exact across
  *    it (wall-clock flatness at 1000× is the ScaleProbe's evidence —
  *    PLANS.md round 14);
  *  - the text arm's router widens on the hybrid cycle cadence under
  *    the group lease, results identical (pure re-routing), and a
  *    same-scale follow-up cycle no-ops. */
class AutoWidenSpec extends SparkSpec {
  import spark.implicits._

  private def fs = new Path("/").getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  private def countOf(table: String): Option[Int] =
    Snapshots.settings(fs, new Path(table)).nbuckets

  test("mart sweeps auto-widen one grown table per cycle, no-op at stable scale, queries exact") {
    val dir = Files.createTempDirectory("autowiden-mart").toString
    def events(users: Long, off: Long): DataFrame =
      spark.range(users).select((col("id") + lit(off)).as("user_id"),
        timestamp_micros(lit(1700000000000000L) + col("id") % 1000)
          .as("ts"),
        (col("id") + lit(off)).as("event_id"),
        concat(lit("t"), (col("id") % 3).cast("string")).as("event_type"),
        (col("id") % 7).cast("double").as("value"))
    val ret = EventMartStream.Retention(decaySweepEveryN = 1,
      ttlSweepEveryN = Int.MaxValue) // autoWiden defaults ON
    // stable scale: 2k users — the recommendation stays inside the
    // 64-bucket default's hysteresis, nothing rebuckets (each table's
    // manifest records its count from its first commit, so 64 == never
    // widened)
    EventMartStream.processBatch(events(2000, 0), 1L, dir, ret)
    val tables = Seq("uv_days", "decay_weeks", "trans_state", "sess_state")
    tables.foreach(t => assert(countOf(s"$dir/$t").contains(64),
      s"$t widened at stable scale"))

    // 35× growth in one batch: uv_days (and friends) cross the
    // row-term threshold; exactly ONE table widens per sweep cycle
    EventMartStream.processBatch(events(68000, 10000000L), 2L, dir, ret)
    assert(countOf(s"$dir/uv_days").exists(_ > 64),
      "the grown uv_days did not auto-widen")
    assert(countOf(s"$dir/decay_weeks").contains(64),
      "more than one table widened in one cycle")

    // the next cycles catch the remaining grown tables, one each
    EventMartStream.processBatch(events(10, 20000000L), 3L, dir, ret)
    assert(countOf(s"$dir/decay_weeks").exists(_ > 64))
    assert(countOf(s"$dir/trans_state").contains(64))
    EventMartStream.processBatch(events(10, 20000100L), 4L, dir, ret)
    assert(countOf(s"$dir/trans_state").exists(_ > 64))
    EventMartStream.processBatch(events(10, 20000200L), 5L, dir, ret)
    assert(countOf(s"$dir/sess_state").exists(_ > 64))

    // stability: one more cycle at the same scale changes nothing
    val counts = tables.map(t => countOf(s"$dir/$t"))
    EventMartStream.processBatch(events(10, 20000300L), 6L, dir, ret)
    assert(tables.map(t => countOf(s"$dir/$t")) == counts,
      "a stable-scale cycle re-widened")

    // exactness across all of it: every user contributed exactly one
    // event on one day — zero manual rebucket calls anywhere above
    val totalUsers = 2000L + 68000 + 40
    val uv = EventMartStream.dailyUv(spark, dir)
      .agg(sum(col("uv")).as("uv"), sum(col("pv")).as("pv")).head
    assert(uv.getLong(0) == totalUsers, s"uv ${uv.getLong(0)}")
    assert(uv.getLong(1) == totalUsers, s"pv ${uv.getLong(1)}")
    assert(EventMartStream.decayScores(spark, dir).count() == totalUsers)
  }

  test("the text router auto-widens on the hybrid cycle; results identical; same-scale cycle no-ops") {
    def textOf(id: Long): String =
      s"alpha w${id % 7} w${(id / 7) % 7} common w${id % 5} tail${id % 3}"
    def docsOf(ids: Seq[Long]): DataFrame =
      ids.map(i => (i, textOf(i))).toDF("doc_id", "text")
    def vecsOf(ids: Seq[Long]): DataFrame =
      ids.toDF("vec_id").select(col("vec_id"),
        array((0 until 4).map(i =>
          (pmod(col("vec_id") * (7 * i + 3), lit(997)).cast("float")
            / lit(997f)) + lit(0.01f)): _*)
          .cast("array<float>").as("embedding"))
    val work = Files.createTempDirectory("autowiden-text").toString
    val (tIdx, vIdx, grp) = (s"$work/text", s"$work/vec", s"$work/grp")
    TextIndexApp.build(spark, docsOf(0L until 120L), tIdx, nBuckets = 8)
    VectorIndexApp.build(spark, vecsOf(0L until 120L), vIdx,
      kCells = 4, iters = 2)
    HybridSearchApp.commitGroup(spark, tIdx, vIdx, grp)
    def probes = docsOf(0L until 4L)
      .select(col("doc_id").as("q_id"), col("text"))
    def rowsOf(idx: String) = TextIndexApp.query(spark, probes, idx, 5)
      .select(col("q_id"), col("doc_id"), col("rnk"), col("bm25"))
      .as[(Long, Long, Int, Double)].collect().toSet

    // a healthy cycle with the DEFAULT target: no widening (64 MB per
    // bucket vs a kilobyte corpus)
    HybridSearchApp.append(spark, docsOf(120L until 140L),
      vecsOf(120L until 140L), tIdx, vIdx, grp)
    assert(Snapshots.settings(fs, new Path(s"$tIdx/postings")).nbuckets
      .contains(8), "the default target widened a kilobyte corpus")

    // size the target off the table's own bytes so the recommendation
    // lands ~4x the current count — the cycle widens, once
    val root = new Path(s"$tIdx/postings")
    val bytes = Snapshots.currentFiles(fs, root).get
      .map(f => fs.getFileStatus(new Path(root, f)).getLen).sum
    val target = math.max(1L, bytes / 32)
    HybridSearchApp.append(spark, docsOf(140L until 150L),
      vecsOf(140L until 150L), tIdx, vIdx, grp,
      textBucketTargetBytes = target)
    val widened = Snapshots.settings(fs, root).nbuckets
    assert(widened.exists(_ > 8), s"router did not widen (got $widened)")

    // identity: widening is pure re-routing, so the auto-widened index
    // must agree row-for-row with a FRESH build of the same corpus at
    // the widened count
    val freshDir = Files.createTempDirectory("autowiden-fresh").toString
    TextIndexApp.build(spark, docsOf(0L until 150L), freshDir,
      nBuckets = widened.get)
    assert(rowsOf(tIdx) == rowsOf(freshDir),
      "post-widen index diverged from a fresh build at that count")

    // same scale, same target: hysteresis holds, no further widening
    HybridSearchApp.append(spark, docsOf(150L until 152L),
      vecsOf(150L until 152L), tIdx, vIdx, grp,
      textBucketTargetBytes = target)
    assert(Snapshots.settings(fs, root).nbuckets == widened,
      "a same-scale cycle re-widened the router")
  }
}
