package graft.sinks

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

import graft.apps.{Compaction, Snapshots, StagedCommit}
import graft.functions.StableHash
import graft.operators.DedupOps

/** Sink layer — local-filesystem analogues of the reference's connector
  * sinks (Kafka topics / HBase / Doris become parquet directories; the
  * topology — fixed target, per-record dynamic target, keyed upsert — is
  * the part that carries over).
  *
  *  - K1 fixed-topic append           (`util/KafkaUtil.java:55-60`)
  *  - K2 dynamic per-record topic     (`app/dwd/DwdBaseApp.java:100-106` —
  *    topic taken from a column of the record)
  *  - K3 keyed upsert, last-wins      (upsert-kafka DDLs, e.g.
  *    `app/dwd/DwdTradeOrderDetail.java:174-219`)
  *  - K4 dim upsert                   (`app/dim/func/DimSinkFunction.java:40-62`
  *    — same merge, keyed by table+rowkey)
  *  - K7 debug/print sink             (`print()` calls throughout the apps)
  *
  * Every keyed table (K3/K4 and the mart tier) commits through ONE
  * protocol: the [[Snapshots]] manifest. A mutation stages its touched
  * buckets, journals the intent, installs the staged files and commits
  * a new manifest version — table-atomic under crashes and for
  * concurrent readers (see [[upsertKeyed]]).
  *
  * Exactly-once (R1/R2): streaming variants take a mandatory checkpoint
  * directory. `streamAppend` rides the file-sink commit log; `streamUpsert`
  * folds the batch id into the merge order so replays are idempotent;
  * `streamDynamic` writes each micro-batch under its own `__batch=<id>`
  * partition with dynamic partition overwrite, so a replayed batch
  * REPLACES its own output instead of appending duplicates. The restart
  * paths are asserted in `SinksSpec`.
  */
object Sinks {

  /** K2 — per-record dynamic routing: the target directory comes from a
    * COLUMN (`partitionBy`), one pass, no per-target scan. Hive-style
    * `topic=<v>/` subdirs are the topic fan-out. */
  def dynamicByColumn(df: DataFrame, topicCol: String, path: String): Unit =
    df.write.mode("append").partitionBy(topicCol).parquet(path)

  /** K2 batch body of [[streamDynamic]], exposed for direct testing:
    * the batch lands under `topic=<v>/__batch=<id>/` with DYNAMIC
    * partition overwrite, so re-applying the same batch id replaces its
    * own partitions (idempotent under streaming replay) and never touches
    * other batches' output. */
  def dynamicIdempotent(batch: DataFrame, topicCol: String, path: String,
                        batchId: Long): Unit =
    batch.withColumn("__batch", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(topicCol, "__batch")
      .parquet(path)

  /** Number of hash buckets a keyed table is partitioned into. Sized so
    * one bucket ≈ table/64 — at 100 TB, raise via the `nBuckets` knob.
    * The count is recorded in the table's [[Snapshots]] manifest from
    * its first commit on, and every later mutation hashes with the
    * RECORDED count (the bucket of a key is `stable60(key) % n`);
    * only [[rebucket]] changes it. */
  val DefaultUpsertBuckets = 64

  /** Engine-portable bucket id of the concatenated key columns — the same
    * `stable60 % n` the salting UDF (U1) uses, so the oracle/driver can
    * reproduce the layout. */
  def bucketOf(keys: Seq[String], nBuckets: Int) =
    StableHash.bucket60(
      concat_ws("", keys.map(k => col(k).cast("string")): _*), nBuckets)
      .cast("int")

  /** K3/K4 — keyed upsert, deterministic last-wins under `order`, with an
    * INCREMENTAL bucket-partitioned merge.
    *
    * Layout: the table lives as `path/__bucket=<b>/` Hive partitions,
    * `b = stable60(key) % nBuckets`. A merge
    *   1. computes the incoming rows' buckets (every key lives in exactly
    *      one bucket, so keep-last within touched buckets is globally
    *      correct),
    *   2. reads ONLY the touched buckets' current files, as the
    *      [[Snapshots]] manifest lists them,
    *   3. merges + keep-lasts them (union → row_number, one shuffle over
    *      touched-bucket data, not the table),
    *   4. stages the result partitioned by bucket and commits it through
    *      [[stageAndInstall]]: the staged files replace the touched
    *      buckets' files in ONE manifest commit.
    * Untouched buckets are never read or written — cost scales with
    * O(batch ∪ touched buckets), not O(table), which is what lets a
    * continuously-running stream upsert survive a 100 TB table. (A
    * transactional table format's MERGE INTO is the managed version of
    * exactly this.)
    *
    * Crash safety and isolation: the commit is table-atomic. A crash at
    * any point leaves the previous manifest current, and the next
    * writer's [[locked]] entry heals the journal to exactly the pre- or
    * post-batch table; re-applying the batch (streaming replay does
    * this) then converges, because the merge is idempotent under
    * `order` (callers fold the batch id into `order`). A reader planned
    * before the commit keeps its resolved files for two more commits;
    * one planned after sees exactly the post-batch table. */
  def upsertKeyed(spark: SparkSession, incoming: DataFrame, keys: Seq[String],
                  order: Seq[String], path: String,
                  dropCols: Seq[String] = Nil,
                  nBuckets: Int = DefaultUpsertBuckets): Unit = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    locked(fs, path, Some(nBuckets)) { (n, files) =>
      upsertKeyedBody(spark, fs, incoming, keys, order, path, dropCols, n,
        files)
    }
  }

  private def upsertKeyedBody(spark: SparkSession, fs: FileSystem,
                              incoming: DataFrame, keys: Seq[String],
                              order: Seq[String], path: String,
                              dropCols: Seq[String], n: Int,
                              files: Seq[String]): Unit = {
    val withB = incoming.withColumn("__bucket", bucketOf(keys, n))
    val touched = withB.select("__bucket").distinct()
      .collect().map(_.getInt(0)).sorted // ≤ n values, driver-safe
    if (touched.isEmpty) return
    val merged = touchedFiles(spark, path, files, touched.toIndexedSeq) match {
      case Some(cur) => cur.unionByName(withB, allowMissingColumns = true)
      case None => withB
    }
    val deduped = DedupOps.keepLast(merged, keys.map(col), order.map(col))
      .drop(dropCols: _*)
    stageAndInstall(spark, fs, path, files, deduped, touched.toIndexedSeq,
      Snapshots.Settings(Some(n)))
  }

  /** Run `body` under the table's single-writer lock (the [[Snapshots]]
    * contract — a second concurrent writer must fail loudly, not
    * interleave pending journals and manifest versions), after healing
    * any torn previous write: staged-install first (its journaled files
    * must be all-present-or-none before the snapshot heal can
    * adjudicate the pending journal), then the journal. */
  private def healedUnderLock(fs: FileSystem, path: String)
                             (body: => Unit): Unit =
    StagedCommit.withWriterLock(fs, new Path(path)) {
      StagedCommit.heal(fs, new Path(path + ".staging"))
      Snapshots.heal(fs, new Path(path))
      body
    }

  /** Run a keyed-table mutation [[healedUnderLock]]. `body` gets the
    * table's head ([[keyedHead]], resolved ONCE; the lock keeps it
    * fixed until the body's one commit): its recorded bucket count —
    * mutations hash with it, never with a caller's differing
    * `nBuckets`, which would put a key in a second bucket and
    * duplicate it — and its data files. A table with no manifest and
    * no data is bootstrapped by a version-1 commit recording the
    * writer's `nBuckets`; a mutation that brings no count has nothing
    * to change there and skips `body`. */
  private def locked(fs: FileSystem, path: String,
                     nBuckets: Option[Int] = None)
                    (body: (Int, Seq[String]) => Unit): Unit =
    healedUnderLock(fs, path) {
      keyedHead(fs, path).orElse(nBuckets.map { n =>
        Snapshots.commit(fs, new Path(path),
          settings = Snapshots.Settings(Some(n)))
        (n, Nil)
      }).foreach { case (n, files) => body(n, files) }
    }

  /** The head of keyed table `path`: its recorded bucket count and data
    * files from ONE manifest resolution (two could straddle a rebucket
    * commit and prune the new layout with the old count), or None while
    * the table holds neither a manifest nor data. A keyed table has one
    * on-disk format — a manifest whose head records `nbuckets`. A raw
    * bucket layout or a head with no count (both written only by older
    * versions) is refused loudly, before anything changes, naming the
    * one-time fix: [[upgrade]]. Hashing its keys with a guessed count
    * would prune and merge the wrong buckets. */
  private def keyedHead(fs: FileSystem,
                        path: String): Option[(Int, Seq[String])] = {
    val root = new Path(path)
    Snapshots.currentFilesAndSettings(fs, root) match {
      case Some((files, Snapshots.Settings(Some(n), _, _))) => Some((n, files))
      case head =>
        require(head.isEmpty && !Compaction.holdsData(fs, root),
          s"$path is not a snapshot-managed keyed table of this version " +
            "(a raw bucket layout, or a manifest that records no bucket " +
            "count — both written only by older versions). Run " +
            s"Sinks.upgrade(spark, \"$path\") once; nothing was changed.")
        None
    }
  }

  /** Adopt a keyed table an older version wrote into the current
    * on-disk format, in place: the one-time step every other keyed call
    * refuses to take implicitly ([[keyedHead]]). Under the writer lock
    * it heals any torn write, then settles `<table>.old`, the aside dir
    * of an older version's raw bucket swap (move live aside → promote
    * staged → drop aside): a `__bucket=N` aside whose live dir is
    * missing is the last copy of that bucket — restore it; one whose
    * live dir exists is stale — drop it. Hadoop reports a failed rename
    * by returning false, and the delete after it would then destroy
    * the last copy, so the restore is checked. Then it commits the
    * count of the `<table>.nbuckets` sidecar into the head (a raw
    * table's files become its first version) and deletes the sidecar.
    * Idempotent: a current-format table is left as it is. A crashed
    * batch of the older version may have merged some buckets only; its
    * replay after the upgrade is still exact, because
    * [[upsertCombine]]'s replay stamp is checked per bucket. */
  def upgrade(spark: SparkSession, path: String): Unit = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return
    healedUnderLock(fs, path) {
      val old = new Path(path + ".old")
      if (fs.exists(old)) {
        fs.listStatus(old).foreach { st =>
          val live = new Path(path, st.getPath.getName)
          if (fs.exists(live)) fs.delete(st.getPath, true)
          else if (!fs.rename(st.getPath, live))
            throw new java.io.IOException(s"restore ${st.getPath} failed for $live")
        }
        fs.delete(old, true)
      }
      val sidecar = new Path(path + ".nbuckets")
      if (Snapshots.settings(fs, root).nbuckets.isEmpty &&
        (Snapshots.currentVersion(fs, root).isDefined ||
          Compaction.holdsData(fs, root))) {
        require(fs.exists(sidecar), s"$path records no bucket count (no " +
          "manifest `nbuckets` line, no sidecar), so its layout is " +
          "unknown — rebuild the table")
        val in = fs.open(sidecar)
        val n = try scala.io.Source.fromInputStream(in).mkString.trim.toInt
          finally in.close()
        Snapshots.commit(fs, root, settings = Snapshots.Settings(Some(n)))
      }
      fs.delete(sidecar, false)
    }
  }

  /** The rows of `files` (a manifest's data list) in the `touched`
    * buckets, or None when they hold none — never the raw directories,
    * which may also hold the previous commits' retired (grace-window)
    * files. */
  private def touchedFiles(spark: SparkSession, path: String,
                           files: Seq[String],
                           touched: Seq[Int]): Option[DataFrame] = {
    val names = touched.map(b => s"__bucket=$b").toSet
    val hit = files.filter(f => names.contains(f.takeWhile(_ != '/')))
      .map(p => new Path(path, p).toString)
    if (hit.isEmpty) None
    else Some(spark.read.option("basePath", path).parquet(hit: _*))
  }

  /** THE commit of every keyed-table mutation: stage `df` (which must
    * carry `__bucket`) partitioned by bucket, journal the intent,
    * install the staged files ALONGSIDE the live ones (all-or-nothing
    * through a [[StagedCommit]] manifest — staged part-file names carry
    * a per-job UUID, so they never collide with live files), then
    * snapshot-commit: the staged files become the `buckets`' data and
    * the replaced originals RETIRE, outliving the commit by two more
    * commits (the readers' grace window, same contract as
    * [[graft.apps.Compaction]]'s snapshot groups). A targeted bucket
    * with NO staged output (every row removed) simply loses its files.
    * A reader that planned before the commit keeps every file it
    * resolved; one that plans after sees exactly the post-batch table —
    * pre- or post-batch state, never a mix, never a deleted file.
    * Crash-safe via [[locked]]'s heal-first discipline: the pending
    * journal is either aborted (nothing installed) or completed
    * (everything installed) on the next writer entry. `settings` ride
    * the journal and the commit — the bucket count `df` was hashed
    * with, plus a rebucket's graduation target — so a rebucket's
    * count, target and layout flip atomically in the crash-heal path
    * too. `files` is the head's data list from [[locked]]. */
  private def stageAndInstall(spark: SparkSession, fs: FileSystem,
                              path: String, files: Seq[String],
                              df: DataFrame, buckets: Seq[Int],
                              settings: Snapshots.Settings): Unit = {
    val root = new Path(path)
    val staging = new Path(path + ".staging")
    df.write.mode("overwrite").partitionBy("__bucket")
      .parquet(staging.toString)
    val names = buckets.map(b => s"__bucket=$b")
    val nameSet = names.toSet
    val replaced = files.filter(f => nameSet.contains(f.takeWhile(_ != '/')))
    val moves = names.flatMap { n =>
      Compaction.visibleFiles(fs, new Path(staging, n)).map { st =>
        (s"$n/${st.getPath.getName}",
          StagedCommit.Move(st.getPath, new Path(root, s"$n/${st.getPath.getName}")))
      }
    }
    if (replaced.isEmpty && moves.isEmpty) { fs.delete(staging, true); return }
    fs.mkdirs(root)
    Snapshots.writePending(fs, root, replaced, moves.map(_._1), settings)
    StagedCommit.publishOps(fs, staging, moves.map(_._2))
    Snapshots.commitPending(fs, root)
  }

  /** [[upsertKeyed]]'s ADDITIVE sibling — the incremental bucket merge
    * with an associative COMBINE instead of keep-last, made
    * exactly-once under streaming replay by a per-bucket batch stamp.
    *
    * `delta` holds this batch's per-key partial aggregates; the merge
    * reads ONLY the touched buckets, re-aggregates (live ∪ delta) by
    * `keys` with the caller's `combine` aggregates (which must be
    * associative+commutative — sums, min/max, struct-argmin/argmax),
    * and commits the touched buckets through [[stageAndInstall]] like
    * [[upsertKeyed]]. Untouched buckets are never read or written —
    * O(batch ∪ touched buckets), never O(table).
    *
    * EXACTLY-ONCE under replay: an additive merge is not naturally
    * idempotent (applying a delta twice double-counts), so every
    * merged row carries `__mart_batch` = the max batch id that touched
    * it, and a bucket whose live rows already show this batch id is
    * SKIPPED. The commit is table-atomic, so after a crash the heal
    * leaves every touched bucket either merged (stamped, skipped on
    * replay) or untouched (re-merged), and the replay converges with
    * no double count. The check is per bucket, so it also holds for a
    * table [[upgrade]] adopted after an older version's crash left some
    * of its buckets merged. Callers must pass the streaming micro-batch id
    * (monotone per checkpoint; a replayed batch reuses its id with
    * identical content — the foreachBatch contract). */
  def upsertCombine(spark: SparkSession, delta: DataFrame, keys: Seq[String],
                    combine: Seq[Column], batchId: Long, path: String,
                    nBuckets: Int = DefaultUpsertBuckets): Unit = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    locked(fs, path, Some(nBuckets)) { (n, files) =>
      upsertCombineBody(spark, fs, delta, keys, combine, batchId, path, n,
        files)
    }
  }

  private def upsertCombineBody(spark: SparkSession, fs: FileSystem,
                                delta: DataFrame, keys: Seq[String],
                                combine: Seq[Column], batchId: Long,
                                path: String, n: Int,
                                files: Seq[String]): Unit = {
    val withB = delta
      .withColumn("__bucket", bucketOf(keys, n))
      .withColumn("__mart_batch", lit(batchId))
    val touched = withB.select("__bucket").distinct()
      .collect().map(_.getInt(0)).sorted // ≤ n values, driver-safe
    if (touched.isEmpty) return
    val (skip, current) =
      touchedFiles(spark, path, files, touched.toIndexedSeq) match {
        case Some(live) =>
          // buckets stamped with this batch id OR LATER are fully merged
          // (stamps apply in strictly increasing order per table, and the
          // stored stamp is the bucket's max — so a later stamp proves
          // this one landed; `===` would let a same-batch follow-up
          // mutation, e.g. a retention fold, mask the main stamp and
          // make a crash replay double-apply it) — replay skips them
          (live.filter(col("__mart_batch") >= batchId)
            .select("__bucket").distinct().collect().map(_.getInt(0)),
            Some(live))
        case None => (Array.empty[Int], None)
      }
    val todo = touched.filterNot(skip.contains)
    if (todo.isEmpty) return
    val incoming = withB.filter(col("__bucket").isin(todo.map(Int.box): _*))
    val merged = current match {
      case Some(cur) => cur
        .filter(col("__bucket").isin(todo.map(Int.box): _*))
        .unionByName(incoming, allowMissingColumns = true)
      case None => incoming
    }
    val combined = merged
      .groupBy((keys :+ "__bucket").map(col): _*)
      .agg(combine.head, combine.tail :+
        max(col("__mart_batch")).as("__mart_batch"): _*)
    stageAndInstall(spark, fs, path, files, combined, todo.toIndexedSeq,
      Snapshots.Settings(Some(n)))
  }

  /** Read a table written by [[upsertCombine]] without its layout and
    * replay-stamp columns, through its newest manifest (file list
    * pinned at PLAN time — a writer committing mid-query cannot tear
    * the read or delete a referenced file inside the grace window). A
    * directory with no manifest is refused ([[Snapshots.readTable]]). */
  def readCombined(spark: SparkSession, path: String): DataFrame =
    Snapshots.readTable(spark, new Path(path))
      .drop("__bucket", "__mart_batch")

  /** [[readCombined]] pinned at a specific snapshot version — the
    * member read of a cross-table group resolution
    * ([[graft.apps.Snapshots.commitGroup]]). */
  def readCombinedAt(spark: SparkSession, path: String,
                     version: Int): DataFrame =
    Snapshots.readTableAt(spark, new Path(path), version)
      .drop("__bucket", "__mart_batch")

  /** [[readKeyed]] pinned at a specific snapshot version. */
  def readKeyedAt(spark: SparkSession, path: String,
                  version: Int): DataFrame =
    Snapshots.readTableAt(spark, new Path(path), version).drop("__bucket")

  /** K4 compaction — drop tombstones older than `olderThan` (the
    * pipeline's out-of-orderness bound: a tombstone only needs to outlive
    * the latest event that could still try to resurrect its key). The
    * tombstone-flavored [[deleteWhere]]. */
  def purgeTombstones(spark: SparkSession, path: String, tsCol: String,
                      olderThan: Long,
                      tombstoneCol: String = "__tombstone"): Unit =
    deleteWhere(spark, path, col(tombstoneCol) && col(tsCol) <= olderThan)

  /** Delete every row of an [[upsertKeyed]]/[[upsertCombine]] table
    * matching `predicate` — the state-retention primitive (W7's TTL
    * expiry, the decay tier's retired-bucket sweep). Only buckets
    * CONTAINING matching rows are rewritten; the rest of the table is
    * untouched — same incremental cost model as the merge itself (the
    * DISCOVERY pass scans the table once; callers run it as periodic
    * maintenance, not per batch). A null predicate row is treated as
    * NOT matching and kept. Idempotent: re-running after a crash finds
    * the already-deleted rows gone and rewrites nothing. */
  def deleteWhere(spark: SparkSession, path: String,
                  predicate: Column): Unit = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(path))) return
    locked(fs, path) { (n, files) =>
      val hit = coalesce(predicate, lit(false))
      val affected = Snapshots.readTable(spark, new Path(path)).filter(hit)
        .select("__bucket").distinct().collect().map(_.getInt(0)).sorted
      if (affected.nonEmpty)
        touchedFiles(spark, path, files, affected.toIndexedSeq).foreach { live =>
          stageAndInstall(spark, fs, path, files, live.filter(!hit),
            affected.toIndexedSeq, Snapshots.Settings(Some(n)))
        }
    }
  }

  /** The atomic move-rows cousin of [[deleteWhere]] — the retention
    * primitive for folding expired rows into carry rows OF THE SAME
    * TABLE in ONE commit: rows matching `predicate` are removed and
    * `migrate(matching)` rows (same schema, keys included — they may
    * hash into OTHER buckets) are merged in, re-aggregating every
    * touched bucket by `keys` with the caller's associative `combine`.
    * Because source removal and carry merge land in one
    * [[stageAndInstall]] (one staged manifest, one snapshot commit), a
    * concurrent reader sees the table before OR after the whole
    * migration — never the torn middle where rows exist twice or not
    * at all — and a crash heals to exactly one of those two states,
    * which also makes the operation replay-idempotent with no batch
    * stamp: once applied, `predicate` matches nothing. */
  def migrateWhere(spark: SparkSession, path: String, predicate: Column,
                   migrate: DataFrame => DataFrame,
                   keys: Seq[String], combine: Seq[Column]): Unit = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(path))) return
    locked(fs, path) { (n, files) =>
      val table = Snapshots.readTable(spark, new Path(path))
      val hit = coalesce(predicate, lit(false))
      val srcBuckets = table.filter(hit)
        .select("__bucket").distinct().collect().map(_.getInt(0))
      if (srcBuckets.nonEmpty) {
        // materialized ONCE: `moved` is consulted for its destination
        // buckets and merged into the staged write — recomputing it
        // would re-run the discovery scan and the caller's aggregation
        // per consumer (it is carry-row-sized: bounded by the source
        // table's key space, ContextCleaner-collected after)
        val moved = migrate(table.filter(hit).drop("__bucket"))
          .withColumn("__bucket", bucketOf(keys, n))
          .localCheckpoint(true)
        val dstBuckets = moved
          .select("__bucket").distinct().collect().map(_.getInt(0))
        val touched = (srcBuckets ++ dstBuckets).distinct.sorted.toIndexedSeq
        val kept = touchedFiles(spark, path, files, touched)
          .map(_.filter(!hit)).getOrElse(moved.limit(0))
        val merged = kept.unionByName(moved, allowMissingColumns = true)
          .groupBy((keys :+ "__bucket").map(col): _*)
          .agg(combine.head, combine.tail: _*)
        stageAndInstall(spark, fs, path, files, merged, touched,
          Snapshots.Settings(Some(n)))
      }
    }
  }

  /** ONLINE RE-BUCKETING (r10 verdict task #2): rewrite a keyed/combine
    * table under a NEW bucket count in one atomic snapshot commit —
    * the operation that lets a table that grew 100× widen its layout
    * (or a shrunken one narrow it) without a manual offline rebuild,
    * closing the "nBuckets is frozen for a table's lifetime"
    * scale edge. The full rewrite is the irreducible cost (every key
    * changes bucket residence); what the machinery buys is that it is
    * SAFE to do live:
    *
    *  - rows are read through the pinned manifest, re-assigned
    *    `__bucket = stable60(key) % newN`, staged, and installed via
    *    the same pending-journal → all-or-nothing install → snapshot
    *    commit path every keyed mutation uses;
    *  - the new bucket COUNT rides the commit itself (the manifest's
    *    `nbuckets` line, the table's only record of its count), so
    *    count and layout flip in ONE rename —
    *    every later merge, prune, and `readKeyedFor` resolves the
    *    count from the manifest and can never hash against the wrong
    *    layout;
    *  - a concurrent reader planned before the commit executes against
    *    the complete OLD layout (grace window), one planned after sees
    *    the complete NEW layout — never a mix;
    *  - a crash at any stage heals at the next writer entry to exactly
    *    old-everything or new-everything (the pending journal carries
    *    the count, so even the heal's commit flips both together).
    *
    * Like every keyed call, it refuses a table an older version wrote
    * ([[keyedHead]]). Such a table's crash contract was per-bucket replay (a
    * crashed batch left some buckets merged-and-stamped and others
    * not), and re-hashing would mix stamped and unstamped keys into one
    * NEW bucket, whose stamp would then mask the unmerged keys' delta
    * on replay, losing it silently: [[upgrade]] it, replay any
    * in-flight batch (its mutations are table-atomic from then on, so
    * the mixed state cannot recur), then rebucket. Keys are needed to
    * re-hash: pass the table's key columns. */
  def rebucket(spark: SparkSession, path: String, keys: Seq[String],
               newN: Int, targetBytes: Option[Long] = None): Unit = {
    require(newN > 0, s"bucket count must be positive (got $newN)")
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(path))) return
    locked(fs, path) { (oldN, curFiles) =>
      if (oldN != newN) {
        val settings = Snapshots.Settings(Some(newN), targetBytes = targetBytes)
        if (curFiles.isEmpty) {
          // nothing to move — the count flip is a bare commit
          Snapshots.commit(fs, new Path(path), settings = settings); ()
        } else {
          val table = Snapshots.readTable(spark, new Path(path))
          val oldBuckets = curFiles.map(_.takeWhile(_ != '/'))
            .filter(_.startsWith("__bucket="))
            .map(_.stripPrefix("__bucket=").toInt).distinct
          // one exchange on the NEW bucket key: without it every input
          // task writes a sliver of every new bucket dir — O(tasks ×
          // newN) small files on a wide rebucket
          val restaged = table.drop("__bucket")
            .withColumn("__bucket", bucketOf(keys, newN))
            .repartition(col("__bucket"))
          // replace EVERY current file; target every possible new
          // bucket dir (names with no staged output install nothing) —
          // enumerating 0 until newN is driver-side metadata, where
          // collecting the ACTUAL new ids would re-run the full table
          // rehash once just to learn them
          stageAndInstall(spark, fs, path, curFiles, restaged,
            (oldBuckets ++ (0 until newN)).distinct.sorted.toIndexedSeq,
            settings)
        }
      }
    }
  }

  /** Set a snapshot-managed table's PER-TABLE compaction graduation
    * size — one bare snapshot commit carrying the `targetbytes` line
    * ([[graft.apps.Snapshots.Settings]]); every later
    * [[graft.apps.Compaction]] pass over this table graduates files at
    * THIS size instead of the global default. The manifest-ceiling
    * knob: a table that grew 100× keeps its manifest line count flat
    * by graduating at a proportionally larger size (manifest lines ≈
    * tableBytes / targetBytes), while small state tables stay at the
    * default. Pair with [[rebucket]]`(…, targetBytes = Some(_))` when
    * the layout should flip in the same commit. */
  def setCompactionTarget(spark: SparkSession, path: String,
                          bytes: Long): Unit = {
    require(bytes > 0, s"target bytes must be positive (got $bytes)")
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // an explicit setter must not silently no-op on a typo'd path or a
    // set-before-first-write ordering — the table would keep the
    // global default with no signal
    require(Snapshots.currentVersion(fs, new Path(path)).isDefined,
      s"setCompactionTarget: $path has no snapshot manifest to carry " +
        "the setting")
    healedUnderLock(fs, path) {
      Snapshots.commit(fs, new Path(path),
        settings = Snapshots.Settings(targetBytes = Some(bytes)))
    }
  }

  /** Default target size of ONE BUCKET of a keyed/combine table —
    * what [[recommendedBuckets]] aims for. The mart-probe measurement
    * behind the value (PLANS.md "Round 11/12"): per-DIRECTORY
    * filesystem constants dominate kilobyte-sized buckets (a 6400-way
    * layout cost ~3 s MORE per batch than 64-way at probe scale), so
    * buckets should be wide enough that scan time, not directory
    * count, is the cost — while staying within one executor's
    * comfortable working set for the merge's touched-bucket rewrite.
    * 256 MB sits between the parquet row-group sweet spot and the
    * shuffle-partition sizing the session uses. */
  val DefaultBucketTargetBytes: Long = 256L * 1024 * 1024

  /** Default target ROW COUNT of one bucket — the rewrite-amplification
    * bound the bytes target cannot see (r13 verdict "what's wrong #2").
    * The 1000× mart probe measured the per-batch ceiling directly
    * (PLANS.md round 13): at 2 M ultra-narrow state rows on 64 buckets
    * (~31 k rows/bucket, still only megabytes) every 100-user batch
    * rewrote the whole table — 42.4 s/batch — while 6400 buckets
    * (~312 rows/bucket) restored the 1× wall (15.0 s). Per-batch merge
    * cost is touchedBuckets × rowsPerBucket, so flatness requires
    * rows-per-bucket bounded ABSOLUTELY (and the bucket count to
    * exceed the batch's key count — a layout a few times wider than a
    * batch keeps the rewrite batch-sized, not state-sized). 512 sits
    * on the measured-flat side of the probe's decade; the opposing
    * per-directory constant (≈3 s per batch at 6400 kilobyte-sized
    * dirs, measured r11) only dominates for pipelines whose batches
    * are enormous relative to state — such operators raise this knob
    * alongside the bytes target. For wide-row tables the BYTES term
    * usually recommends more buckets first; the max of the two terms
    * applies the stricter bound. */
  val DefaultBucketTargetRows: Long = 512L

  /** ceil(total / perUnit), clamped to [1, Int.MaxValue] — THE
    * units-for-a-target arithmetic every widening policy shares
    * ([[recommendedBuckets]], [[graft.apps.TextIndexApp.autoWiden]],
    * [[graft.apps.VectorIndexApp.autoRetrain]]); one definition so the
    * rounding/clamp semantics cannot drift between tiers. */
  private[graft] def unitsFor(total: Long, perUnit: Long): Int = {
    // overflow-safe ceil-div: `total + perUnit - 1` wraps negative for
    // totals near Long.MaxValue, which would clamp the recommendation
    // to 1 — disabling every widening policy exactly when the table is
    // largest (r14 ADVICE)
    val ceil = total / perUnit + (if (total % perUnit == 0) 0L else 1L)
    math.max(1L, ceil).min(Int.MaxValue.toLong).toInt
  }

  /** Recommend a bucket count for a snapshot-managed keyed table from
    * its OWN pinned manifest: the max of a bytes term (total data
    * bytes / `targetBytesPerBucket` — scan cost) and a rows term
    * (total rows / `targetRowsPerBucket` — per-batch rewrite
    * amplification; see [[DefaultBucketTargetRows]] for the measured
    * rationale), min 1. Bytes come from driver-side status calls over
    * the manifest's file list; rows from one metadata-only count over
    * the pinned snapshot (parquet footers — no data scan). The
    * principled input to [[rebucket]]: widen when the table grew past
    * its layout (recommended ≫ current), narrow a shrunken one —
    * instead of guessing a power of two. */
  def recommendedBuckets(spark: SparkSession, path: String,
                         targetBytesPerBucket: Long = DefaultBucketTargetBytes,
                         targetRowsPerBucket: Long = DefaultBucketTargetRows)
      : Int = {
    require(targetBytesPerBucket > 0,
      s"target bytes per bucket must be positive (got $targetBytesPerBucket)")
    require(targetRowsPerBucket > 0,
      s"target rows per bucket must be positive (got $targetRowsPerBucket)")
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = keyedHead(fs, path).map(_._2).getOrElse {
      throw new IllegalArgumentException(
        s"recommendedBuckets: $path holds no table yet")
    }
    // the manifest read above is UNLOCKED (this is a read-only advisory
    // API): a concurrent commit can delete a just-expired file in the
    // window between the listing and the status call — treat a vanished
    // file as 0 bytes rather than throwing from a sizing helper
    val bytes = files.iterator
      .map(f => scala.util.Try(
        fs.getFileStatus(new Path(root, f)).getLen).getOrElse(0L)).sum
    // count() over parquet resolves from footer row counts (no column
    // scan); the snapshot read pins the same file list the bytes saw —
    // a file expired between the two resolutions reads as 0 both ways
    val rows = scala.util.Try(Snapshots.readTable(spark, root).count())
      .getOrElse(0L)
    math.max(unitsFor(bytes, targetBytesPerBucket),
      unitsFor(rows, targetRowsPerBucket))
  }

  /** The hysteresis of every widening policy ([[autoWiden]],
    * [[graft.apps.TextIndexApp.autoWiden]],
    * [[graft.apps.VectorIndexApp.autoRetrain]]): widen only when the
    * recommendation is at least this multiple of the current geometry.
    * A recommendation drifting a few percent past the layout must not
    * thrash a full rewrite every cycle, and 2× bounds the amortized
    * cost at one rewrite per doubling of the data. */
  private[graft] val WidenFactor = 2.0

  /** AUTO-WIDEN policy (r13 verdict task #4) — the round-13 manual
    * knob turned into a decision the maintenance cycle makes itself:
    * consult [[recommendedBuckets]] against the table's recorded
    * count and [[rebucket]] when the recommendation exceeds it by
    * [[WidenFactor]]. Never NARROWS: a narrow recommendation can be a
    * transient (retention just swept; a probe table mid-load), and
    * shrinking is a deliberate operator action with [[rebucket]].
    * Returns the new count when it widened, None otherwise (a table
    * with no data yet, or within hysteresis). Callers bound the work
    * per cycle — the mart widens at most ONE table per sweep. */
  def autoWiden(spark: SparkSession, path: String, keys: Seq[String],
                targetBytesPerBucket: Long = DefaultBucketTargetBytes,
                targetRowsPerBucket: Long = DefaultBucketTargetRows)
      : Option[Int] = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cur = keyedHead(fs, path).map(_._1).getOrElse(return None)
    val rec = recommendedBuckets(spark, path, targetBytesPerBucket,
      targetRowsPerBucket)
    if (rec >= cur * WidenFactor) {
      rebucket(spark, path, keys, rec)
      Some(rec)
    } else None
  }

  /** Read a table written by [[upsertKeyed]] without its layout column
    * (snapshot-pinned when managed — see [[readCombined]]). */
  def readKeyed(spark: SparkSession, path: String): DataFrame =
    Snapshots.readTable(spark, new Path(path)).drop("__bucket")

  /** Rows of an [[upsertKeyed]] table whose key MAY be in `forKeys` —
    * reads ONLY the bucket dirs `forKeys` hashes into (callers still
    * join/filter exactly; this is the pruning step that keeps a
    * per-batch state lookup O(touched buckets), never O(table)).
    * `forKeys` must be a small frame (its distinct buckets are
    * collected — ≤ nBuckets values). None while the table holds no
    * data; a table an older version wrote is refused ([[keyedHead]]). */
  def readKeyedFor(spark: SparkSession, path: String,
                   forKeys: DataFrame, keys: Seq[String]): Option[DataFrame] = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    keyedHead(fs, path).flatMap { case (n, files) =>
      val touched = forKeys.select(bucketOf(keys, n).as("__b"))
        .distinct().collect().map(_.getInt(0)).toIndexedSeq
      touchedFiles(spark, path, files, touched).map(_.drop("__bucket"))
    }
  }

  /** K7 — debug sink. */
  def debug(df: DataFrame, n: Int = 20): Unit = df.show(n, truncate = false)

  // ------------------------------------------------------------- streaming

  /** K1 streaming — checkpointed parquet append (exactly-once to files). */
  def streamAppend(df: DataFrame, path: String, checkpoint: String): StreamingQuery =
    df.writeStream.format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .start()

  /** K2 streaming — dynamic per-record target via foreachBatch; replayed
    * batches overwrite their own `__batch` partition (idempotent). */
  def streamDynamic(df: DataFrame, topicCol: String, path: String,
                    checkpoint: String): StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        dynamicIdempotent(batch, topicCol, path, batchId)
      }
      .start()

  /** K3 streaming — keyed upsert per micro-batch. The batch id joins the
    * ordering so replayed batches (restart recovery) merge idempotently:
    * re-applying the same (key, order, batch) rows leaves the table
    * unchanged. */
  def streamUpsert(df: DataFrame, keys: Seq[String], order: Seq[String],
                   path: String, checkpoint: String): StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        upsertKeyed(batch.sparkSession,
          batch.withColumn("__upsert_batch", lit(batchId)),
          keys, order :+ "__upsert_batch", path,
          dropCols = Seq("__upsert_batch"))
      }
      .start()
}
