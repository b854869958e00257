package graft.apps

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.StableHash
import graft.sinks.Sinks

/** Online re-bucketing (the r10 verdict's task #2): a keyed/combine
  * table's bucket count was frozen for its lifetime — the one
  * remaining unbounded-growth edge in the serving story (a stream that
  * grows 100× could never widen its layout without an offline
  * rebuild). [[Sinks.rebucket]] rewrites the table under the new
  * layout and flips count + data in ONE snapshot commit (the
  * manifest's `nbuckets` line):
  *
  *  - reads are row-for-row equal before and after;
  *  - a reader planned before the swap executes against the complete
  *    OLD layout; one planned after sees the complete NEW layout —
  *    never a mix;
  *  - every later merge resolves the count from the manifest, so
  *    post-rebucket upserts hash against the new layout (and their
  *    bucket-pruned state reads stay exact);
  *  - a crash at any install stage heals to exactly old-everything or
  *    new-everything — the install manifest's commit op carries the
  *    count;
  *  - also pinned: the enforcement of the mart tier's stamp-scheme
  *    upgrade constraint (task #4 — a pre-doubled-stamp table replayed
  *    by this build fails loudly instead of double-applying). */
class RebucketSpec extends SparkSpec {
  import spark.implicits._

  private def fs = new Path("/").getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  private def combineInto(path: String, keys: Range, n: Long,
                          batch: Long, nBuckets: Int = 4): Unit =
    Sinks.upsertCombine(spark, keys.map(k => (k.toLong, n)).toDF("k", "n"),
      Seq("k"), Seq(sum(col("n")).as("n")), batch, path,
      nBuckets = nBuckets)

  private def rows(df: DataFrame): Map[Long, Long] =
    df.collect().map((r: Row) => r.getLong(0) -> r.getLong(1)).toMap

  private def bucketsOf(path: String): Set[Int] =
    Snapshots.readTable(spark, new Path(path)).select("__bucket")
      .distinct().collect().map(_.getInt(0)).toSet

  test("rebucket: rows identical, layout rehashed, later merges use the new count") {
    val dir = Files.createTempDirectory("rebkt").toString + "/t"
    combineInto(dir, 0 until 64, 1, 0, nBuckets = 4)
    val before = rows(Sinks.readCombined(spark, dir))
    assert(bucketsOf(dir).forall(_ < 4))

    // a reader planned BEFORE the swap keeps the complete old layout
    val planned = Snapshots.readTable(spark, new Path(dir))
    Sinks.rebucket(spark, dir, Seq("k"), newN = 16)

    assert(rows(Sinks.readCombined(spark, dir)) == before,
      "rebucket changed row content")
    // the new layout really is stable60 % 16 — every row sits in the
    // bucket the shared router assigns it under the new count
    val misplaced = Snapshots.readTable(spark, new Path(dir))
      .filter(col("__bucket") =!=
        StableHash.bucket60(col("k").cast("string"), 16).cast("int"))
      .count()
    assert(misplaced == 0, s"$misplaced rows in the wrong new bucket")
    assert(bucketsOf(dir).exists(_ >= 4), "no row landed in a widened bucket")
    // the planned reader still sees the complete OLD generation
    assert(planned.select("__bucket").distinct().collect()
      .map(_.getInt(0)).forall(_ < 4),
      "pre-swap reader leaked new-layout buckets")
    assert(rows(planned.drop("__bucket", "__mart_batch")) == before,
      "pre-swap reader lost rows")

    // later merges resolve the count from the manifest (the stale
    // requested value 4 is ignored) and land correctly
    combineInto(dir, 0 until 64, 10, 1, nBuckets = 4)
    assert(rows(Sinks.readCombined(spark, dir)) ==
      (0 until 64).map(k => k.toLong -> 11L).toMap,
      "post-rebucket merge double-bucketed keys")
    val misplaced2 = Snapshots.readTable(spark, new Path(dir))
      .filter(col("__bucket") =!=
        StableHash.bucket60(col("k").cast("string"), 16).cast("int"))
      .count()
    assert(misplaced2 == 0, "post-rebucket merge used the old count")
    // and bucket-pruned point reads stay exact under the new layout
    val forKeys = Seq(3L, 17L, 42L).toDF("k")
    val pruned = Sinks.readKeyedFor(spark, dir, forKeys, Seq("k")).get
      .join(forKeys, "k")
    assert(rows(pruned.select(col("k"), col("n"))) ==
      Map(3L -> 11L, 17L -> 11L, 42L -> 11L),
      "readKeyedFor pruned the wrong buckets after rebucket")
  }

  test("a crash at any rebucket stage heals to old-everything or new-everything") {
    // crash points: before the install manifest's ops execute, and after
    // each of the first few install moves — the heal must land the
    // count and the layout TOGETHER every time
    Seq(-1, 0, 1, 3).foreach { k =>
      val dir = Files.createTempDirectory(s"rebkt-crash$k").toString + "/t"
      combineInto(dir, 0 until 64, 1, 0, nBuckets = 4)
      val before = rows(Sinks.readCombined(spark, dir))
      if (k < 0) StagedCommit.crashBeforeCommit = true
      else StagedCommit.crashAfterMoves = k
      try intercept[IllegalStateException] {
        Sinks.rebucket(spark, dir, Seq("k"), newN = 16)
      } finally {
        StagedCommit.crashBeforeCommit = false
        StagedCommit.crashAfterMoves = Int.MaxValue
      }
      // whatever the crash tore, reads stay exact…
      assert(rows(Sinks.readCombined(spark, dir)) == before,
        s"crash at $k: torn rebucket visible to readers")
      // …and the next writer entry heals count+layout together: either
      // the journal aborted (old count, old layout) or completed (new
      // count, new layout) — never a mismatch
      combineInto(dir, 0 until 64, 10, 1)
      val n = Snapshots.settings(fs, new Path(dir)).nbuckets
        .getOrElse(4)
      val misplaced = Snapshots.readTable(spark, new Path(dir))
        .filter(col("__bucket") =!=
          StableHash.bucket60(col("k").cast("string"), n).cast("int"))
        .count()
      assert(misplaced == 0,
        s"crash at $k healed to count $n but a different layout")
      assert(rows(Sinks.readCombined(spark, dir)) ==
        (0 until 64).map(x => x.toLong -> 11L).toMap,
        s"crash at $k: post-heal merge lost or duplicated rows")
      // the rebucket replay converges (idempotent once applied)
      Sinks.rebucket(spark, dir, Seq("k"), newN = 16)
      assert(Snapshots.settings(fs, new Path(dir)).nbuckets == Some(16))
      assert(rows(Sinks.readCombined(spark, dir)) ==
        (0 until 64).map(x => x.toLong -> 11L).toMap)
    }
  }

  test("rebucket refuses a raw (non-snapshot) table loudly") {
    // a raw table's crashed batches replay PER BUCKET; re-hashing could
    // merge a replayed bucket's stamp over an unreplayed key's delta —
    // so the primitive demands the table-atomic snapshot mode first
    val dir = Files.createTempDirectory("rebkt-raw").toString + "/t"
    LegacyTables.writeRawCombined(
      (0 until 16).map(k => (k.toLong, 1L)).toDF("k", "n"), dir, nBuckets = 4)
    val e = intercept[IllegalArgumentException] {
      Sinks.rebucket(spark, dir, Seq("k"), newN = 8)
    }
    assert(e.getMessage.contains("snapshot-managed"), e.getMessage)
    // the documented path works: upgrade, replay, then the rebucket
    // applies
    Sinks.upgrade(spark, dir)
    combineInto(dir, 0 until 16, 10, 1)
    Sinks.rebucket(spark, dir, Seq("k"), newN = 8)
    assert(Snapshots.settings(fs, new Path(dir)).nbuckets == Some(8))
    assert(rows(Sinks.readCombined(spark, dir)) ==
      (0 until 16).map(k => k.toLong -> 11L).toMap)
  }

  test("keep-last tables rebucket too; keys never duplicate across layouts") {
    val dir = Files.createTempDirectory("rebkt-keyed").toString + "/t"
    def upsert(seq: Long, v: String): Unit =
      Sinks.upsertKeyed(spark,
        (0 until 40).map(k => (k.toLong, seq, v)).toDF("k", "seq", "v"),
        Seq("k"), Seq("seq"), dir, nBuckets = 4)
    upsert(1L, "a")
    Sinks.rebucket(spark, dir, Seq("k"), newN = 8)
    upsert(2L, "b")
    val t = Sinks.readKeyed(spark, dir)
    assert(t.count() == 40, "keys duplicated across old/new layouts")
    assert(t.filter(col("v") =!= "b").isEmpty, "keep-last broke after rebucket")
  }

  private def headVersion(path: String): Int =
    fs.listStatus(new Path(s"$path/_snap")).map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.drop(1).forall(_.isDigit))
      .map(_.drop(1).toInt).max

  test("bucket count and graduation target flip in ONE commit and survive crash heals together") {
    val dir = Files.createTempDirectory("rebkt-tb").toString + "/t"
    combineInto(dir, 0 until 64, 1, 0, nBuckets = 4)
    val before = rows(Sinks.readCombined(spark, dir))
    val v0 = headVersion(dir)

    // one rebucket commit flips count AND per-table graduation target
    Sinks.rebucket(spark, dir, Seq("k"), newN = 16,
      targetBytes = Some(123456L))
    assert(headVersion(dir) == v0 + 1,
      "count+target+layout must flip in exactly one snapshot commit")
    assert(Snapshots.settings(fs, new Path(dir)).nbuckets == Some(16))
    assert(Snapshots.settings(fs, new Path(dir)).targetBytes == Some(123456L))
    assert(rows(Sinks.readCombined(spark, dir)) == before)

    // later commits carry the target forward like the count
    combineInto(dir, 0 until 64, 10, 1)
    assert(Snapshots.settings(fs, new Path(dir)).targetBytes == Some(123456L),
      "a later merge dropped the per-table target")

    // a crash mid-install heals count, target and layout TOGETHER
    StagedCommit.crashAfterMoves = 2
    try intercept[IllegalStateException] {
      Sinks.rebucket(spark, dir, Seq("k"), newN = 8, targetBytes = Some(777L))
    } finally StagedCommit.crashAfterMoves = Int.MaxValue
    combineInto(dir, 0 until 64, 100, 2) // writer entry heals
    val n = Snapshots.settings(fs, new Path(dir)).nbuckets.get
    val tb = Snapshots.settings(fs, new Path(dir)).targetBytes.get
    assert((n, tb) == (8, 777L) || (n, tb) == (16, 123456L),
      s"heal split the count/target pair: ($n, $tb)")
    val misplaced = Snapshots.readTable(spark, new Path(dir))
      .filter(col("__bucket") =!=
        StableHash.bucket60(col("k").cast("string"), n).cast("int"))
      .count()
    assert(misplaced == 0, s"healed to count $n but a different layout")

    // the bare setter: one commit, no layout change
    val vs = headVersion(dir)
    Sinks.setCompactionTarget(spark, dir, 999L)
    assert(headVersion(dir) == vs + 1)
    assert(Snapshots.settings(fs, new Path(dir)).targetBytes == Some(999L))
    assert(Snapshots.settings(fs, new Path(dir)).nbuckets == Some(n))
  }

  test("compaction graduates at the manifest's per-table target, not the global default") {
    val dir = Files.createTempDirectory("cmp-tb").toString + "/t"
    val root = new Path(dir)
    (0 until 4).foreach { i =>
      spark.range(i * 10, i * 10 + 10).toDF("id")
        .coalesce(1).write.mode("append").parquet(dir)
    }
    Snapshots.commit(fs, root)
    def group = Compaction.Group(Seq(root), Seq(col("id")),
      snapshotRoot = Some(root))
    def liveCount = Snapshots.readTable(spark, root).count()
    assert(liveCount == 40)

    // per-table target 1 byte: every file has graduated — even with a
    // huge call-site default, nothing is rewritten
    Sinks.setCompactionTarget(spark, dir, 1L)
    val c1 = Compaction.compact(spark, fs, new Path(dir + "_stg"),
      Seq(group), maxFiles = 1, targetBytes = Long.MaxValue)
    assert(c1 == 0,
      s"compaction rewrote $c1 dirs despite the 1-byte per-table target")

    // raise the per-table target: the same files are small again and
    // the directory compacts, rows byte-identical
    Sinks.setCompactionTarget(spark, dir, 64L * 1024 * 1024)
    val c2 = Compaction.compact(spark, fs, new Path(dir + "_stg"),
      Seq(group), maxFiles = 1, targetBytes = 1L)
    assert(c2 == 1, s"expected 1 compacted dir, got $c2")
    assert(liveCount == 40, "compaction changed the row multiset")
    assert(Snapshots.currentFiles(fs, root).get.length == 1,
      "the merged dir should hold one data file")
  }

  test("compaction refuses a snapshot group whose table has no manifest, and changes nothing") {
    val base = Files.createTempDirectory("cmp-nomanifest")
    val dir = base.toString + "/t"
    (0 until 3).foreach { i =>
      spark.range(i * 10, i * 10 + 10).toDF("id")
        .coalesce(1).write.mode("append").parquet(dir)
    }
    def tree(): Set[String] = {
      val walk = Files.walk(base)
      try walk.iterator().asScala.map(base.relativize(_).toString).toSet
      finally walk.close()
    }
    val before = tree()
    val e = intercept[IllegalArgumentException] {
      Compaction.compact(spark, fs, new Path(dir + "_stg"),
        Seq(Compaction.Group(Seq(new Path(dir)), Seq(col("id")),
          snapshotRoot = Some(new Path(dir)))), maxFiles = 1)
    }
    assert(e.getMessage.contains("no snapshot manifest"), e.getMessage)
    assert(tree() == before, "a refused compaction changed the file tree")
  }

  test("recommendedBuckets sizes the layout from the pinned manifest's own bytes") {
    val dir = Files.createTempDirectory("recbkt").toString + "/t"
    combineInto(dir, 0 until 256, 1, 0, nBuckets = 8)
    val root = new Path(dir)
    val totalBytes = Snapshots.currentFiles(fs, root).get
      .map(f => fs.getFileStatus(new Path(root, f)).getLen).sum
    assert(totalBytes > 0)
    // one bucket the size of the whole table → 1; half → 2; a tenth → 10
    assert(Sinks.recommendedBuckets(spark, dir, totalBytes) == 1)
    assert(Sinks.recommendedBuckets(spark, dir, totalBytes / 2 + 1) == 2)
    val tenth = Sinks.recommendedBuckets(spark, dir,
      math.max(1L, totalBytes / 10))
    assert(tenth == 10 || tenth == 11, s"got $tenth for a tenth-sized target")
    // raw tables have no pinned manifest to measure — loud, not a guess
    val raw = Files.createTempDirectory("recbkt-raw").toString + "/t"
    LegacyTables.writeRawCombined(
      (0 until 8).map(k => (k.toLong, 1L)).toDF("k", "n"), raw, nBuckets = 4)
    intercept[IllegalArgumentException] {
      Sinks.recommendedBuckets(spark, raw)
    }
    Sinks.upgrade(spark, raw)
    assert(Sinks.recommendedBuckets(spark, raw) == 1)
    // and the recommendation is the principled rebucket input
    val rec = Sinks.recommendedBuckets(spark, dir,
      math.max(1L, totalBytes / 4))
    Sinks.rebucket(spark, dir, Seq("k"), newN = rec)
    assert(Snapshots.settings(fs, root).nbuckets == Some(rec))
    assert(Sinks.readCombined(spark, dir).count() == 256)
  }

  test("recommendedBuckets is row-aware: the 1000x probe's narrow-row ceiling now recommends the widening it measured") {
    // the PLANS.md round-13 scenario (r13 verdict "what's wrong #2"):
    // 2 M ultra-narrow keyed-state rows on the stock 64-bucket layout
    // are only megabytes of BYTES, so the byte term said 1 bucket while
    // the measured per-batch wall said "widen" (42.4 s at 64 buckets
    // vs 15.0 s after the online rebucket to 6400) — the penalty is
    // ROW-driven rewrite amplification, invisible to byte sizing
    val dir = Files.createTempDirectory("recbkt-rows").toString + "/t"
    val users = spark.range(2000000L)
      .select(col("id").as("k"), lit(1L).as("n"))
    Sinks.upsertCombine(spark, users, Seq("k"), Seq(sum(col("n")).as("n")),
      0L, dir, nBuckets = 64)
    // bytes alone is still blind to the scenario — that was the bug
    assert(Sinks.recommendedBuckets(spark, dir,
      targetRowsPerBucket = Long.MaxValue) == 1,
      "expected the pure-bytes recommendation to stay 1 for a " +
        "megabytes-sized table (the documented blind spot)")
    // the rows term sees it: ceil(2M / 512) — the 6400-class widening
    // the probe measured, not a token bump
    val rec = Sinks.recommendedBuckets(spark, dir)
    assert(rec == 3907, s"expected ceil(2e6/512) = 3907, got $rec")
    spark.catalog.clearCache()
  }

  test("mart stamp-scheme enforcement: a pre-doubling table fails loudly, a fresh dir self-marks") {
    val dir = Files.createTempDirectory("stamp-scheme").toString
    // simulate a pre-upgrade build's output: a state table written with
    // UNDOUBLED stamps and no _stamp_scheme marker
    Sinks.upsertCombine(spark,
      Seq((1L, "2024-01-01", 5L)).toDF("user_id", "cur_date", "pv")
        .select(col("cur_date"), col("user_id"), col("pv")),
      Seq("cur_date", "user_id"), Seq(sum(col("pv")).as("pv")),
      batchId = 7L, path = s"$dir/uv_days")
    val ev = Seq((1L, 1000000L, 1L, "t0", 1.0))
      .toDF("user_id", "us", "event_id", "event_type", "value")
      .select(col("user_id"), timestamp_micros(col("us")).as("ts"),
        col("event_id"), col("event_type"), col("value"))
    val e = intercept[IllegalStateException] {
      EventMartStream.processBatch(ev, 7L, dir)
    }
    assert(e.getMessage.contains("_stamp_scheme"),
      s"wrong failure: ${e.getMessage}")
    // the documented migration: drain, then write the marker by hand —
    // after which processing resumes
    val out = fs.create(new Path(s"$dir/_stamp_scheme"), true)
    try out.write("2".getBytes("UTF-8")) finally out.close()
    EventMartStream.processBatch(ev, 7L, dir)
    // a FUTURE scheme also fails loudly (never silently reinterpreted)
    val out2 = fs.create(new Path(s"$dir/_stamp_scheme"), true)
    try out2.write("99".getBytes("UTF-8")) finally out2.close()
    val e2 = intercept[IllegalArgumentException] {
      EventMartStream.processBatch(ev, 8L, dir)
    }
    assert(e2.getMessage.contains("scheme"), s"wrong failure: ${e2.getMessage}")
    // and a fresh dir writes its own marker before the first mutation
    val fresh = Files.createTempDirectory("stamp-fresh").toString
    EventMartStream.processBatch(ev, 0L, fresh)
    assert(fs.exists(new Path(s"$fresh/_stamp_scheme")),
      "fresh mart dir did not self-mark its stamp scheme")
  }
}
