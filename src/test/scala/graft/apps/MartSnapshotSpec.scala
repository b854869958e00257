package graft.apps

import java.nio.file.Files

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sinks.Sinks

/** The mart tables' concurrent-reader contract (the r9 verdict's task
  * #5): `Sinks.upsertKeyed` / `upsertCombine` / `deleteWhere` in
  * snapshot mode publish through the [[Snapshots]] manifest tier, so a
  * reader that PLANNED its scan mid-batch sees the PRE-batch table —
  * its pinned files outlive the next commit by one more commit (the
  * grace window) — and a reader planned after the commit sees exactly
  * the post-batch table. Never a mix of swapped and unswapped buckets,
  * never a FileNotFound on a just-deleted file — the windows the raw
  * bucket-dir swap had.
  *
  * Also pinned here: a crash INSIDE the install leaves readers on the
  * pre-batch snapshot (installed-but-uncommitted files are unlisted),
  * the heal completes the batch exactly once, and a table whose every
  * row was deleted serves EMPTY rather than resurrecting its retired
  * grace-window files. */
class MartSnapshotSpec extends SparkSpec {
  import spark.implicits._

  private def fs = new Path("/").getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  /** (key, n) deltas — keys 0..19 spread over several buckets. */
  private def delta(keys: Range, n: Long): DataFrame =
    keys.map(k => (k.toLong, n)).toDF("k", "n")

  private def combineInto(df: DataFrame, path: String, batch: Long): Unit =
    Sinks.upsertCombine(spark, df, Seq("k"), Seq(sum(col("n")).as("n")),
      batch, path, nBuckets = 8)

  private def rows(df: DataFrame): Map[Long, Long] =
    df.collect().map((r: Row) => r.getLong(0) -> r.getLong(1)).toMap

  test("a reader planned mid-batch sees pre-batch state, never a mix") {
    val dir = Files.createTempDirectory("mart-snap").toString + "/t"
    combineInto(delta(0 until 20, 1), dir, 0L)
    // PLAN now (file list pinned by the manifest at plan time) …
    val planned = Sinks.readCombined(spark, dir)
    // … then a full batch mutates every bucket, retiring every file the
    // planned reader resolved
    combineInto(delta(0 until 20, 10), dir, 1L)
    // the planned reader executes AFTER the commit: exact pre-batch rows
    // (the retired files live through the grace window)
    assert(rows(planned) == (0 until 20).map(k => k.toLong -> 1L).toMap,
      "mid-batch reader must see the full pre-batch state")
    // a reader planned after the commit sees exactly the post-batch rows
    assert(rows(Sinks.readCombined(spark, dir)) ==
      (0 until 20).map(k => k.toLong -> 11L).toMap)
  }

  test("a crash mid-install leaves readers pre-batch; the replay lands the batch exactly once") {
    val dir = Files.createTempDirectory("mart-snap-crash").toString + "/t"
    combineInto(delta(0 until 20, 1), dir, 0L)
    val pre = rows(Sinks.readCombined(spark, dir))
    // crash after ONE install op: some staged files are live-but-unlisted
    // — precisely the state that was a torn MIX under the raw dir swap
    StagedCommit.crashAfterMoves = 1
    try intercept[IllegalStateException] {
      combineInto(delta(0 until 20, 10), dir, 1L)
    } finally StagedCommit.crashAfterMoves = Int.MaxValue
    assert(rows(Sinks.readCombined(spark, dir)) == pre,
      "a torn install must be invisible: manifest still pre-batch")
    // the streaming replay (same content, same batch id) heals the torn
    // install and applies the batch EXACTLY once — no bucket double-adds
    combineInto(delta(0 until 20, 10), dir, 1L)
    assert(rows(Sinks.readCombined(spark, dir)) ==
      (0 until 20).map(k => k.toLong -> 11L).toMap,
      "replay after a torn install must not double-count any bucket")
  }

  test("deleteWhere retires rows; a planned reader keeps them; an emptied table serves empty") {
    val dir = Files.createTempDirectory("mart-snap-del").toString + "/t"
    combineInto(delta(0 until 20, 1), dir, 0L)
    val planned = Sinks.readCombined(spark, dir)
    Sinks.deleteWhere(spark, dir, col("k") < 10)
    assert(rows(planned).keySet == (0L until 20L).toSet,
      "reader planned before the delete keeps the deleted rows (grace)")
    assert(rows(Sinks.readCombined(spark, dir)).keySet == (10L until 20L).toSet)
    // empty the table completely: the manifest lists zero data files but
    // the retired files are still on disk (grace) — the read must serve
    // EMPTY, not resurrect them through a raw-directory fallback
    Sinks.deleteWhere(spark, dir, lit(true))
    assert(Sinks.readCombined(spark, dir).isEmpty,
      "an emptied snapshot table must not resurrect retired files")
    // and the machinery accepts new rows after the wipe
    combineInto(delta(0 until 4, 7), dir, 1L)
    assert(rows(Sinks.readCombined(spark, dir)) ==
      (0 until 4).map(k => k.toLong -> 7L).toMap)
  }

  test("upsertKeyed in snapshot mode: keep-last survives a torn install and replays exactly") {
    val dir = Files.createTempDirectory("mart-snap-keyed").toString + "/t"
    def upsert(seq: Long, v: String): Unit =
      Sinks.upsertKeyed(spark,
        (0 until 12).map(k => (k.toLong, seq, v)).toDF("k", "seq", "v"),
        Seq("k"), Seq("seq"), dir, nBuckets = 8)
    upsert(1L, "a")
    val planned = Sinks.readKeyed(spark, dir)
    StagedCommit.crashAfterMoves = 1
    try intercept[IllegalStateException] { upsert(2L, "b") }
    finally StagedCommit.crashAfterMoves = Int.MaxValue
    assert(Sinks.readKeyed(spark, dir).select("v").distinct()
      .collect().map(_.getString(0)).toSeq == Seq("a"),
      "torn keyed install must be invisible")
    assert(planned.filter(col("v") =!= "a").isEmpty && planned.count() == 12,
      "the pre-crash reader stays pinned to generation a")
    // replay: heal completes the torn install (one commit), then the
    // merge applies on top (a second commit) — which by design ENDS
    // generation a's one-commit grace window, so `planned` is done
    // being consultable here; keep-last idempotence carries correctness
    upsert(2L, "b")
    assert(Sinks.readKeyed(spark, dir).filter(col("v") =!= "b").isEmpty)
    assert(Sinks.readKeyed(spark, dir).count() == 12,
      "keep-last must not duplicate keys across generations")
  }

  test("a second concurrent snapshot-mode writer fails loudly, table untouched") {
    val dir = Files.createTempDirectory("mart-snap-lock").toString + "/t"
    combineInto(delta(0 until 20, 1), dir, 0L)
    val pre = rows(Sinks.readCombined(spark, dir))
    // simulate a live concurrent writer: a fresh heartbeat lock on the
    // TABLE root (the unit the keyed sinks lock on)
    StagedCommit.withWriterLock(fs, new Path(dir)) {
      val e = intercept[IllegalStateException] {
        combineInto(delta(0 until 20, 10), dir, 1L)
      }
      assert(e.getMessage.contains("another writer"),
        s"wrong failure: ${e.getMessage}")
    }
    assert(rows(Sinks.readCombined(spark, dir)) == pre,
      "the refused writer must not have touched the table")
    // the lock released: the same mutation now applies
    combineInto(delta(0 until 20, 10), dir, 1L)
    assert(rows(Sinks.readCombined(spark, dir)) ==
      (0 until 20).map(k => k.toLong -> 11L).toMap)
  }

  test("an existing raw table upgrades in place with one bootstrap commit") {
    val dir = Files.createTempDirectory("mart-snap-up").toString + "/t"
    // legacy (raw bucket swap) table, as an older version left it
    LegacyTables.writeRawCombined(delta(0 until 20, 1), dir, nBuckets = 8)
    assert(Snapshots.currentFiles(fs, new Path(dir)).isEmpty, "still raw")
    // the one-time upgrade commits the bootstrap manifest; then a
    // normal merge
    Sinks.upgrade(spark, dir)
    combineInto(delta(0 until 20, 10), dir, 1L)
    assert(Snapshots.currentFiles(fs, new Path(dir)).nonEmpty)
    assert(rows(Sinks.readCombined(spark, dir)) ==
      (0 until 20).map(k => k.toLong -> 11L).toMap)
    // and once managed, even a flag-less call stays on the snapshot path
    Sinks.upsertCombine(spark, delta(0 until 20, 100), Seq("k"),
      Seq(sum(col("n")).as("n")), 2L, dir, nBuckets = 8)
    assert(rows(Sinks.readCombined(spark, dir)) ==
      (0 until 20).map(k => k.toLong -> 111L).toMap)
    assert(Snapshots.currentFiles(fs, new Path(dir)).nonEmpty)
  }

  test("a raw table reads by bucket, and adoption heals a crashed bucket swap") {
    val dir = Files.createTempDirectory("mart-snap-old").toString + "/t"
    LegacyTables.writeRawCombined(delta(0 until 20, 1), dir, nBuckets = 8)
    // an older version crashed between moving k=3's bucket aside and
    // promoting its replacement: the aside copy is the only one
    val b = graft.functions.StableHash.stable60Local("3") % 8
    val aside = new Path(dir + ".old", s"__bucket=$b")
    assert(fs.rename(new Path(dir, s"__bucket=$b"), aside))
    // the upgrade restores the aside bucket; the per-batch state
    // lookup then reads it by bucket
    Sinks.upgrade(spark, dir)
    val probe = Seq(3L).toDF("k")
    assert(rows(Sinks.readKeyedFor(spark, dir, probe, Seq("k")).get
      .filter(col("k") === 3L).select("k", "n")) == Map(3L -> 1L))
    combineInto(delta(0 until 20, 10), dir, 1L)
    assert(rows(Sinks.readCombined(spark, dir)) ==
      (0 until 20).map(k => k.toLong -> 11L).toMap)
    assert(!fs.exists(new Path(dir + ".old")))
  }
}
