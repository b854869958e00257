package graft.apps

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bounded compaction of the incremental indexes' partition directories
  * — the missing half of the append-only design: every
  * [[VectorIndexApp]]`.append` / [[IncrementalReleaseApp]]`.append`
  * lands ONE new file per touched partition directory, so under the
  * streaming forms file count grows linearly with micro-batch count
  * forever (a year of 10 s batches is ~3M files per hot directory —
  * listing, planning and the O(delta) read claim all die). This keeps
  * every directory at ≤ [[DefaultMaxFiles]] files at rest:
  *
  *  - TRIGGER: after an append publishes, any directory it could have
  *    grown past the threshold is merged down to ONE file. Only touched
  *    directories can grow, so checking after each append bounds every
  *    directory at threshold+1 transiently and ≤ threshold at rest;
  *  - MERGE: one Spark job per schema group rewrites every
  *    over-threshold directory's files (the per-directory file lists
  *    are FROZEN first) into one file per directory —
  *    `repartition(col("__did"))` + `sortWithinPartitions` preserves
  *    each index's in-file ordering contract (vec_id for codes, sig for
  *    bands, fp for fps, doc_id for shingles), so parquet row-group
  *    min/max skipping survives compaction;
  *  - COMMIT: the swap goes through ONE [[StagedCommit.publishOps]]
  *    manifest — a `Move` per merged file, plus a `Del` per replaced
  *    file of a raw group (deletions run strictly before installs, so
  *    no crash window ever shows a row TWICE) or, last, one snapshot
  *    commit per [[Snapshots]] table that retires them; the existing
  *    heal-first discipline repairs a torn compaction before the next
  *    append reads anything. Pure file merge: the row multiset is
  *    untouched, so every query result is byte-identical before and
  *    after (spec-asserted).
  *
  * CONCURRENT READERS of a RAW group (a snapshot group's readers plan
  * against its manifest and keep their files for the grace window):
  * the writer lock excludes other WRITERS only. A query that plans its
  * scan while a compaction commit is in flight can reference a
  * just-deleted small file (task fails loudly with
  * FileNotFoundException — retry the query) or list between the Del
  * and Move phases and see the compacting directories' rows dark for
  * that one read. This is the same window [[SurgicalRewrite]]'s
  * aside-swap has always had, inherent to in-place file replacement
  * on a raw directory layout. Serve raw-group
  * queries from a replica or schedule compaction-bearing appends in
  * maintenance windows when read-your-exact-files matters; do NOT
  * paper over it with `spark.sql.files.ignoreMissingFiles`, which
  * converts the loud failure into silent row loss.
  *
  * The reference has no incremental-index surface; the shape follows
  * the log-structured compaction family (LSM/Iceberg `rewrite_files`):
  * amortized O(maxFiles) rewrites per directory per window, never a
  * full-index rewrite. */
object Compaction {

  /** Threshold at rest: a directory holding more than this many
    * SMALL files after an append has them merged to one file. Appends
    * add ≤1 file per touched directory, so steady state is ≤ threshold
    * small files, threshold+1 transiently. Private mutable for the
    * soak specs (small thresholds make short soaks exercise many
    * compaction cycles). */
  private[apps] var DefaultMaxFiles = 8

  /** Size-tier cutoff: a file at or above this GRADUATES — compaction
    * never reads or rewrites it again. Without the tier every merge
    * cycle would rewrite the directory's full contents (merged file
    * included), an O(total²/maxFiles) write amplification over the
    * stream's life; with it each byte is rewritten only until its file
    * graduates, and a directory's at-rest file count is ≤ maxFiles
    * small files + its graduated files — bounded by DATA size
    * (bytes/targetBytes), never by append count. PER-TABLE OVERRIDE:
    * a snapshot-managed table whose manifest carries a `targetbytes`
    * line ([[Snapshots.Settings]], set via
    * `Sinks.setCompactionTarget` or a `rebucket` flip) graduates at
    * ITS value — the manifest-ceiling knob that lets a 100 TB table
    * graduate at 1 GiB (8× fewer manifest lines) while small state
    * tables keep this default. */
  private[apps] var DefaultTargetBytes: Long = 128L * 1024 * 1024

  /** One schema-homogeneous set of directories with its in-file
    * ordering contract (the sort inside each merged file).
    * `snapshotRoot` — when set, the group's dirs belong to a
    * [[Snapshots]]-managed table rooted there: the merge installs its
    * files WITHOUT deleting the replaced originals (readers that
    * planned against the current snapshot keep every file they
    * resolved), and the manifest's snapshot commit retires the
    * originals, deleting them two commits LATER — closing the
    * concurrent-reader window documented in the header for raw
    * tables. */
  final case class Group(dirs: Seq[Path], order: Seq[Column],
                         snapshotRoot: Option[Path] = None)

  /** Directories under `root` (non-recursive) — the `key=value`
    * partition dirs of one index; skips `_staging`/dot entries. A
    * partition COLUMN may itself be underscore-prefixed (the sidecar
    * indexes partition by `__sp`/`__fp`/`__dp`), so a name containing
    * `=` is a partition dir regardless of its prefix — only
    * non-partition underscore/dot entries are metadata. For an
    * unpartitioned index (totals/meta) pass the root itself as the
    * single dir. */
  private[graft] def partitionDirs(fs: FileSystem, root: Path): Seq[Path] = {
    if (!fs.exists(root)) return Nil
    fs.listStatus(root).toSeq.filter { s =>
      val n = s.getPath.getName
      s.isDirectory && (n.contains("=") ||
        (!n.startsWith("_") && !n.startsWith(".")))
    }.map(_.getPath)
  }

  /** Visible data files directly inside `dir` (what a parquet reader
    * sees): no dot/underscore names, no subdirectories. */
  private[graft] def visibleFiles(fs: FileSystem, dir: Path): Seq[FileStatus] = {
    if (!fs.exists(dir)) return Nil
    fs.listStatus(dir).toSeq.filter(s => s.isFile &&
      !s.getPath.getName.startsWith("_") &&
      !s.getPath.getName.startsWith("."))
  }

  /** Whether `root` (or one of its partition dirs) holds a visible data
    * file — what a parquet reader of the directory would find. */
  private[graft] def holdsData(fs: FileSystem, root: Path): Boolean =
    (partitionDirs(fs, root) :+ root).exists(visibleFiles(fs, _).nonEmpty)

  /** Merge every directory in `groups` holding more than `maxFiles`
    * small (< `targetBytes`) visible files down to one file each,
    * committed crash-safe through one [[StagedCommit]] manifest.
    * Graduated files (≥ `targetBytes`) are never read or rewritten.
    * Returns the number of directories compacted. `staging` must be
    * the index's own `_staging` path so the existing heal-first
    * discipline covers a torn compaction. A snapshot group whose table
    * has no manifest (an older version's layout or a crashed build —
    * index builds commit version 1 with their data) is refused before
    * anything changes. */
  def compact(spark: SparkSession, fs: FileSystem, staging: Path,
              groups: Seq[Group],
              maxFiles: Int = DefaultMaxFiles,
              targetBytes: Long = DefaultTargetBytes): Int = {
    require(maxFiles >= 1, s"maxFiles must be >= 1 (got $maxFiles)")
    // heal FIRST, never delete: if a TORN compaction (or append) left
    // a frozen manifest here, its staged merged files are the only
    // copy of rows whose originals the Del phase already removed — a
    // blind delete would be permanent data loss, and freezing before
    // the heal would freeze the torn directory state. The app append
    // paths heal before calling this, so the common case is a no-op.
    StagedCommit.heal(fs, staging)
    // one head per snapshot table, resolved after the heal: the freeze
    // reads its data list and graduation target, its commit op the
    // version after it
    val heads: Map[Path, Snapshots.Manifest] =
      groups.flatMap(_.snapshotRoot).distinct.map { root =>
        root -> Snapshots.head(fs, root).getOrElse(throw
          new IllegalArgumentException(s"compaction of $root refused: it " +
            "has no snapshot manifest, so it is not a table this version " +
            "committed; nothing was changed"))
      }.toMap
    // FREEZE the per-directory file lists: the manifest's delete set
    // must be exactly the files the merge job read, no more. For a
    // snapshot-managed group only the CURRENT SNAPSHOT's data files
    // are candidates — a retired-pending file (replaced by the last
    // merge, alive only for its readers' grace window) merged again
    // would put its rows in the table twice.
    val frozen: Seq[(Group, Seq[(Path, Seq[Path])])] = groups.map { g =>
      val inData: Path => Boolean = g.snapshotRoot match {
        case Some(root) =>
          val abs = heads(root).data.map(p => new Path(root, p).toUri.getPath).toSet
          p => abs.contains(p.toUri.getPath)
        case None => _ => true // raw group: all visible is data
      }
      // per-table graduation size: the snapshot manifest's targetbytes
      // line overrides the call-site default (see DefaultTargetBytes)
      val effTarget = g.snapshotRoot.flatMap(heads(_).settings.targetBytes)
        .getOrElse(targetBytes)
      g -> g.dirs.flatMap { dir =>
        val files = visibleFiles(fs, dir)
          .filter(_.getLen < effTarget).map(_.getPath)
          .filter(inData)
        if (files.length > maxFiles) Some(dir -> files) else None
      }
    }.filter(_._2.nonEmpty)
    if (frozen.isEmpty) return 0

    // one job per schema group (a Group is schema-homogeneous by
    // construction): ONE scan over every over-threshold directory's
    // frozen files — a group can span hundreds of partition dirs (the
    // 256 band prefixes), and a per-dir scan unioned 256 ways is a
    // plan whose ANALYSIS alone dominates the merge. The directory
    // ordinal is re-attached by joining the scan's last TWO path
    // segments ("dir/name" — one write job emits the SAME part-task
    // file name into every partition dir it touches, so the name alone
    // collides; the dir segment disambiguates, and plain segments are
    // immune to the scheme-normalization mismatch between listStatus
    // and scan URIs) against a broadcast (dir/name → ordinal) lookup
    // frozen above; then one exchange on the ordinal and one sorted
    // file per ordinal. Explicit file paths (not the dir) keep
    // partition-column inference off, so the merged file carries
    // exactly the original physical schema — the partition value stays
    // encoded in the directory name.
    val ops = scala.collection.mutable.ArrayBuffer[StagedCommit.Op]()
    // per snapshot root: the originals the merges replace (root-
    // relative) and how many merged files they install, for its commit
    var snapPlan = Map.empty[Path, (Vector[String], Int)]
    def rel(root: Path, dir: Path, name: String): String =
      if (dir.toUri.getPath == root.toUri.getPath) name
      else s"${dir.getName}/$name"
    frozen.zipWithIndex.foreach { case ((g, entries), grp) =>
      val byName = entries.zipWithIndex.flatMap { case ((dir, files), did) =>
        files.map(f => (s"${dir.getName}/${f.getName}", did))
      }
      require(byName.map(_._1).distinct.length == byName.length,
        "frozen dir/file names collide — cannot tag the merge scan")
      val lookup = broadcast(
        spark.createDataFrame(byName).toDF("__fn", "__did"))
      val segs = split(input_file_name(), "/")
      // LEFT join + in-job raise_error: an unmatched scan row (a
      // listStatus-vs-scan path-form drift) must fail LOUDLY in the
      // merge job — an inner join would silently drop its rows into
      // the staged output and the commit would install data loss
      val tagged = spark.read
        .parquet(entries.flatMap(_._2).map(_.toString): _*)
        .withColumn("__fn", concat_ws("/",
          element_at(segs, -2), element_at(segs, -1)))
        .join(lookup, Seq("__fn"), "left")
        .withColumn("__did", when(col("__did").isNotNull, col("__did"))
          .otherwise(raise_error(concat(
            lit("compaction scan file not in the frozen list: "), col("__fn")))))
        .drop("__fn")
      val out = new Path(staging, s"cmp$grp")
      tagged
        .repartition(entries.length, col("__did"))
        .sortWithinPartitions(col("__did") +: g.order: _*)
        .write.partitionBy("__did").parquet(out.toString)
      entries.zipWithIndex.foreach { case ((dir, files), did) =>
        val merged = Option(fs.globStatus(new Path(out, s"__did=$did/*.parquet")))
          .getOrElse(Array.empty).map(_.getPath)
        // the repartition above writes exactly one file per ordinal; a
        // multi-file glob here would silently drop rows at install
        require(merged.length <= 1,
          s"compaction produced ${merged.length} files for $dir")
        g.snapshotRoot match {
          case Some(root) =>
            // snapshot mode: install WITHOUT deleting — the snapshot
            // commit below retires the originals; their physical
            // deletion waits two more commits (the readers' grace)
            val (repl, added) = snapPlan.getOrElse(root, (Vector.empty, 0))
            snapPlan += root -> (repl ++ files.map(f => rel(root, dir, f.getName)),
              added + merged.length)
          case None =>
            ops ++= files.map(StagedCommit.Del(_))
        }
        // a merged file keeps its unique part-…-uuid name — it can
        // never collide with a later append's files
        ops ++= merged.map(m => StagedCommit.Move(m, new Path(dir, m.getName)))
        // zero merged files ⇔ every frozen file was empty: the Dels
        // (raw mode) / retirements (snapshot mode) alone are the
        // compaction
      }
    }
    // ONE manifest: the raw Dels, every move, and last one snapshot
    // commit per snapshot table — the next heal rolls all of it forward
    StagedCommit.publishOps(fs, staging, ops.toSeq ++ snapPlan.map {
      case (root, (repl, added)) =>
        Snapshots.snapOp(fs, root, heads(root), repl, added)
    })
    frozen.map(_._2.length).sum
  }
}
