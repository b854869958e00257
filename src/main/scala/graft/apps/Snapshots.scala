package graft.apps

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}

/** A one-file snapshot tier for a partition-directory table — the
  * minimal metadata layer that removes [[Compaction]]'s documented
  * concurrent-reader window (a query planning its scan mid-compaction
  * could reference a just-deleted small file) WITHOUT an Iceberg-scale
  * format:
  *
  *  - `<table>/_snap/v<N>` — an immutable text manifest: the table's
  *    current data files (relative paths) plus the files RETIRED at
  *    this version (replaced by a compaction merge, still on disk)
  *    and the files EXPIRING (retired one version earlier, still on
  *    disk for one last commit), led by the table's [[Settings]] —
  *    their only record;
  *  - the current version is simply the highest `v<N>` present — a
  *    commit is ONE atomic rename (create-new-name), so there is no
  *    pointer file to non-atomically overwrite;
  *  - readers resolve the newest manifest at PLAN time and read its
  *    data files explicitly (`spark.read.parquet(files…)` with
  *    `basePath`), so a file replaced by a later commit is simply not
  *    in their list;
  *  - physical deletion of version N's retired files happens at commit
  *    N+2 — a TWO-COMMIT grace window: a reader that resolved version
  *    N keeps every resolved file until two further commits land.
  *    One commit is not enough because a writer step can legitimately
  *    commit the same table twice back-to-back (an index append's
  *    publish + compaction; a mart batch's merge + retention sweep) —
  *    with single-commit grace the second commit would delete files a
  *    reader planned against moments before the first. (Iceberg calls
  *    the mechanism snapshot expiration; this is the one-file version
  *    of it.)
  *
  * Writers are serialized by [[StagedCommit.withWriterLock]] (the
  * snapshot layer never writes outside it). Crash-safety: a writer
  * that installs files freezes its moves AND the snapshot commit
  * listing them into ONE [[StagedCommit]] manifest ([[snapOp]]), the
  * commit its last phase ([[replay]]); the writer-entry
  * [[StagedCommit.heal]] discards an unfrozen one (table unchanged)
  * or rolls a frozen one forward, commit included.
  * Every state a crash can leave is therefore one of: old snapshot +
  * originals (correct), old snapshot + originals + unreferenced
  * installed files (correct, the heal's commit lists them), or new
  * snapshot (correct).
  *
  * The reference has no file-layout tier at all; the shape here is the
  * log-structured-table lineage (Iceberg/Delta snapshot + expiry),
  * scoped to exactly what a serving index needs. (`private[graft]`:
  * the keyed-sink tier in [[graft.sinks.Sinks]] commits every keyed
  * table through this manifest machinery.) */
private[graft] object Snapshots {

  private def snapDir(root: Path) = new Path(root, "_snap")

  /** A table's settings: the bucket count (`nbuckets`), the
    * trained-state generation (`trainedgen`) and the per-table
    * compaction graduation size (`targetbytes`); None = not set. They
    * are the LEADING lines of every manifest (and of a [[snapOp]]'s
    * payload), and every commit carries forward each one it does not
    * set ([[orElse]]), so the manifest is the table's only record of
    * them and a setting flips atomically with the layout it
    * describes (a rebucket's count, a retrain's generation). */
  final case class Settings(nbuckets: Option[Int] = None,
                            trainedGen: Option[Int] = None,
                            targetBytes: Option[Long] = None) {
    /** Each setting of this one, else `prev`'s. */
    def orElse(prev: Settings): Settings =
      Settings(nbuckets.orElse(prev.nbuckets),
        trainedGen.orElse(prev.trainedGen),
        targetBytes.orElse(prev.targetBytes))

    private[Snapshots] def lines: Seq[String] =
      nbuckets.map(b => s"nbuckets $b").toSeq ++
        trainedGen.map(g => s"trainedgen $g") ++
        targetBytes.map(t => s"targetbytes $t")
  }

  /** One committed version (see the header for the file lists). */
  final case class Manifest(version: Int, settings: Settings,
                            data: Seq[String],
                            retired: Seq[String],
                            expiring: Seq[String])

  /** Highest committed version number under a `_snap` dir, if any —
    * THE manifest-naming convention (`v%08d`, digit-checked), in one
    * place: [[head]] and [[settings]] both resolve the head
    * through it, so the listing convention cannot drift between
    * readers (round-14 review). */
  private def newestVersion(fs: FileSystem, dir: Path): Option[Int] = {
    if (!fs.exists(dir)) return None
    val vs = fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.drop(1).forall(_.isDigit))
      .map(_.drop(1).toInt)
    if (vs.isEmpty) None else Some(vs.max)
  }

  /** Highest committed version NUMBER of `root`, if any — the cheap
    * (listing-only) head resolver for callers that must pin a version
    * ONCE and reuse it across several reads (e.g. the vector query's
    * books-then-codes pair, which must never straddle a retrain
    * flip). */
  def currentVersion(fs: FileSystem, root: Path): Option[Int] =
    newestVersion(fs, snapDir(root))

  /** Highest committed version under `root`, if any: data list and
    * settings from ONE resolution (two could straddle a rebucket). A
    * manifest written before the expiring generation simply has no
    * `expiring` lines — its retirees get one extra commit of grace. */
  def head(fs: FileSystem, root: Path): Option[Manifest] = {
    val dir = snapDir(root)
    newestVersion(fs, dir).map { n =>
      parseManifest(n, readLines(fs, new Path(dir, f"v$n%08d")))
    }
  }

  private def parseManifest(n: Int, lines: Seq[String]): Manifest =
    Manifest(n, parseSettings(lines.iterator),
      lines.collect { case s if s.startsWith("data ") => s.drop(5) },
      lines.collect { case s if s.startsWith("retired ") => s.drop(8) },
      lines.collect { case s if s.startsWith("expiring ") => s.drop(9) })

  private val SettingKeys = Set("nbuckets", "trainedgen", "targetbytes")

  /** THE parser of setting lines (manifests and journaled commits):
    * reads the leading lines up to the first one that is not a
    * setting, so it never reads into a file list. */
  private def parseSettings(lines: Iterator[String]): Settings =
    lines.map(_.split(" ", 2))
      .takeWhile(kv => kv.length == 2 && SettingKeys(kv(0)))
      .foldLeft(Settings()) { (s, kv) =>
        val v = kv(1).trim
        kv(0) match {
          case "nbuckets" => s.copy(nbuckets = Some(v.toInt))
          case "trainedgen" => s.copy(trainedGen = Some(v.toInt))
          case _ => s.copy(targetBytes = Some(v.toLong))
        }
      }

  /** The settings of `root`'s newest manifest, or of the manifest
    * `version` names — the geometry resolver for PINNED reads across
    * an online rebucket or retrain: a group-pinned query routes,
    * prunes and decodes with the settings of the generation it reads,
    * never the head's. Empty when the table has no manifest; a pinned
    * version that is gone fails loudly, as in [[readTableAt]]. Reads
    * only the leading setting lines ([[parseSettings]]), never the
    * data list. */
  def settings(fs: FileSystem, root: Path,
               version: Option[Int] = None): Settings = {
    val p = version match {
      case Some(v) => pinnedManifest(fs, root, v)
      case None => currentVersion(fs, root)
        .map(v => new Path(snapDir(root), f"v$v%08d"))
        .getOrElse(return Settings())
    }
    val in = fs.open(p)
    try {
      val br = new java.io.BufferedReader(
        new java.io.InputStreamReader(in, StandardCharsets.UTF_8))
      parseSettings(Iterator.continually(br.readLine()).takeWhile(_ != null))
    } finally in.close()
  }

  /** The current data-file list (paths relative to `root`); None when
    * the table is not snapshot-managed (no committed manifest). */
  def currentFiles(fs: FileSystem, root: Path): Option[Seq[String]] =
    head(fs, root).map(_.data)

  /** Commit ONLY if visible files exist that the current manifest does
    * not list — the replay / empty-batch heal path: a torn append that
    * crashed between its StagedCommit publish (files live, watermark
    * advanced) and its snapshot commit leaves its files UNLISTED, and
    * the appender's watermark guard returns before the normal
    * end-of-append commit would adopt them — without this, serving
    * reads omit the appended rows until some unrelated later write
    * happens to commit. Guarded (not an unconditional commit) so no-op
    * replays and empty batches neither churn versions nor end the
    * previous grace window early. Returns whether an adoption commit
    * fired — a true means a TORN append was just completed, and the
    * caller should restore the at-rest compaction bound over the whole
    * table (the torn append never reached its own compaction step, and
    * later appends only check THEIR touched directories). */
  def adoptUnlisted(fs: FileSystem, root: Path): Boolean =
    head(fs, root).exists { m =>
      val listed = (m.data ++ m.retired ++ m.expiring).toSet
      val adopt = visible(fs, root).exists(f => !listed(f))
      // enforceCeiling = false — the [[replay]] rationale (r14
      // ADVICE): a torn append's files are ALREADY published, so
      // refusing the adoption on an over-ceiling table could only
      // wedge every subsequent append behind the refusal; adoption
      // growth is bounded by the one torn batch, and the ceiling
      // still gates the normal append path that created the files.
      if (adopt) { commit(fs, root, enforceCeiling = false); () }
      adopt
    }

  /** Read `root` through its newest manifest — the file list is pinned
    * at PLAN time, so a compaction committing between plan and
    * execution cannot make the scan reference a deleted file (retired
    * files live one further commit, the grace window). `pruneDirs =
    * (column, keep)` additionally drops `column=value` partition dirs
    * whose value is outside `keep` BEFORE Spark lists anything — the
    * snapshot twin of partition-directory pruning (an empty pruned
    * list falls back to the full snapshot; the caller's value filter
    * still drops the rows). A directory with no manifest is refused
    * loudly: every writer commits its table's first version together
    * with its first data, so only an older version's layout or a
    * crashed build lacks one — a raw read would serve it unchecked.
    * ONE definition shared by the vector index's cell-pruned codes
    * scan and the text index's bucket-pruned postings scan — the
    * serving read path must not fork per index. */
  def readTable(spark: org.apache.spark.sql.SparkSession, root: Path,
                pruneDirs: Option[(String, Set[Long])] = None)
      : org.apache.spark.sql.DataFrame = {
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    readManifest(spark, fs, root, head(fs, root), pruneDirs)
  }

  /** Read `root` pinned at a SPECIFIC manifest version — the member
    * read of a cross-table [[commitGroup]] resolution. The named
    * manifest may trail the table's head (a writer committed after the
    * group advanced); the GROUP PIN written by [[commitGroup]] /
    * [[refreshGroupPins]] guarantees it still exists — manifest kept,
    * data files alive — for ANY lag the group's writers produce (heal
    * commits, adoptions, in-cycle compaction), with the keep-window in
    * [[commit]] (3 manifests, aligned with the 2-commit data-file
    * grace) as the pin-less floor. A missing manifest means the group
    * is staler than both protections — a decommissioned group or a
    * violated advance protocol — and fails loudly rather than
    * silently serving the wrong generation. */
  def readTableAt(spark: org.apache.spark.sql.SparkSession, root: Path,
                  version: Int,
                  pruneDirs: Option[(String, Set[Long])] = None)
      : org.apache.spark.sql.DataFrame = {
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = pinnedManifest(fs, root, version)
    readManifest(spark, fs, root,
      Some(parseManifest(version, readLines(fs, p))), pruneDirs)
  }

  /** The manifest file of pinned `version`, which must still exist. */
  private def pinnedManifest(fs: FileSystem, root: Path,
                             version: Int): Path = {
    val p = new Path(snapDir(root), f"v$version%08d")
    require(fs.exists(p),
      s"pinned manifest v$version of $root is gone — the table committed " +
        "past the manifest keep-window since its group last advanced " +
        "(group-advance protocol violated?)")
    p
  }

  private def readManifest(spark: org.apache.spark.sql.SparkSession,
                           fs: FileSystem, root: Path,
                           manifest: Option[Manifest],
                           pruneDirs: Option[(String, Set[Long])])
      : org.apache.spark.sql.DataFrame = {
    manifest match {
      // data empty covers BOTH the just-deleted state (retired files
      // still on disk carry the schema) and the fully-expired one two
      // commits later (all lists empty — a raw fallback would either
      // fail on an empty dir or resurrect crash leftovers)
      case Some(m) if m.data.isEmpty =>
        // every row deleted: the retired files survive only for the
        // grace window and carry the schema — serve an EMPTY frame; a
        // raw-directory fallback here would RESURRECT the deleted rows.
        // A crash inside [[commit]] between the expiry deletes and the
        // manifest rename can leave this manifest referencing already-
        // deleted expiring files, so plan only over files that still
        // exist; if every schema-carrying file expired (data, retired
        // AND expiring all gone — the degenerate terminal state of a
        // fully-emptied table) serve a zero-column empty frame rather
        // than a file-not-found, healed by the next writer's commit
        val alive = (m.retired ++ m.expiring)
          .filter(p => fs.exists(new Path(root, p)))
        if (alive.isEmpty) spark.emptyDataFrame
        else spark.read.option("basePath", root.toString)
          .parquet(alive.map(p => new Path(root, p).toString): _*)
          .limit(0)
      case Some(m) if m.data.nonEmpty =>
        val files = m.data
        val keep = pruneDirs match {
          case Some((column, vals)) => files.filter { f =>
            val dir = f.takeWhile(_ != '/')
            // a non-numeric partition value (__HIVE_DEFAULT_PARTITION__,
            // a foreign layout) stays IN the scan — the caller's value
            // filter decides; pruning here is best-effort only
            !dir.startsWith(s"$column=") ||
              scala.util.Try(dir.stripPrefix(s"$column=").toLong)
                .toOption.forall(vals.contains)
          }
          case None => files
        }
        val read = if (keep.nonEmpty) keep else files
        spark.read.option("basePath", root.toString)
          .parquet(read.map(p => new Path(root, p).toString): _*)
      case _ => throw new IllegalArgumentException(
        s"$root has no snapshot manifest — not a table this version " +
          "committed (a keyed table an older version wrote adopts the " +
          "current format through Sinks.upgrade)")
    }
  }

  /** All visible parquet data files under `root` (its partition dirs
    * plus the root itself), as root-relative paths. */
  private def visible(fs: FileSystem, root: Path): Seq[String] = {
    val dirs = Compaction.partitionDirs(fs, root) :+ root
    dirs.flatMap { d =>
      Compaction.visibleFiles(fs, d).map { f =>
        val rel = if (d == root) f.getPath.getName
          else s"${d.getName}/${f.getPath.getName}"
        rel
      }
    }
  }

  /** The enforced manifest ceiling (r13 verdict task #5). The
    * round-13 probe measured the tier's scaling directly (PLANS.md):
    * 10⁶ lines commit in ~13 s and resolve sub-second — the practical
    * ceiling — while the next decade is SUPERLINEAR (356 s commit,
    * 8.1 s resolve at 10⁷: the 10 M-line sort, the 360 MB manifest
    * string and the 156k-entries-per-dir listStatus compound). A
    * table crossing the ceiling has outgrown its file granularity,
    * and the sanctioned fix is the per-table graduation size
    * ([[graft.sinks.Sinks.setCompactionTarget]] / the manifest
    * `targetbytes` line): manifest lines ≈ tableBytes / targetBytes,
    * so a 100 TB table graduating at 1 GiB stays near 10⁵ lines.
    * Overridable (probes; an emergency brake) via the
    * `graft.snapshots.maxManifestLines` system property. */
  private def maxManifestLines: Long =
    sys.props.get("graft.snapshots.maxManifestLines")
      .flatMap(s => scala.util.Try(s.toLong).toOption)
      .getOrElse(1000000L)

  /** Commit the next snapshot version under the writer lock:
    * data = (all visible files) − `replaced` − (files already retired
    * or expiring at the current version); retired = `replaced`;
    * expiring = the current version's retired set (one commit old).
    * Then physically delete the current version's EXPIRING files —
    * their two-commit grace window ends here — and drop manifests
    * older than the previous one. Returns the committed version.
    * Unlisted visible files are adopted as data — which is exactly
    * right for files a torn append published before its snapshot
    * commit (the meta watermark makes the replay a no-op, so adoption
    * here is their only way in); a journaled install's files are never
    * unlisted at commit time because its commit rides the same
    * [[StagedCommit]] manifest as its moves. `settings` sets what it
    * names and carries the rest forward from the current version. An
    * older version's crash journal is refused before anything changes
    * ([[refuseLegacyJournal]]). */
  def commit(fs: FileSystem, root: Path,
             replaced: Seq[String] = Nil,
             settings: Settings = Settings(),
             enforceCeiling: Boolean = true): Int = {
    refuseLegacyJournal(fs, root)
    val cur = head(fs, root)
    val n = cur.map(_.version).getOrElse(0) + 1
    val kept = settings.orElse(cur.map(_.settings).getOrElse(Settings()))
    val expiring = cur.map(_.retired).getOrElse(Nil) // one commit old
    val dying = cur.map(_.expiring).getOrElse(Nil)   // two commits old
    val gone = (replaced ++ expiring ++ dying).toSet
    val data = visible(fs, root).filterNot(gone)
    // ceiling guard — LOUD, and BEFORE any mutation (the grace-window
    // delete pass below physically removes expiring files; a refused
    // commit must leave the table EXACTLY as it was, data included).
    // The guarded quantity is the DATA line count — the table's
    // steady-state manifest size; retired/expiring lines wash out
    // within two commits, bounding the transient total at ~2× data.
    // Only a commit that GROWS the data list past the ceiling is
    // refused: the way down from an over-ceiling table is a compaction
    // at a larger targetbytes, whose commit SHRINKS the data list, and
    // the remedy's own config commit ([[graft.sinks.Sinks
    // .setCompactionTarget]]) keeps it equal — neither may be blocked
    // by the very guard that demands them. `enforceCeiling = false` is
    // [[replay]]'s escape: a journaled install has already published
    // its files ([[StagedCommit.publishOps]]), so refusing ITS commit
    // could only wedge the heal loop — journaled flows are guarded in
    // [[snapOp]] instead, before the manifest freezes.
    if (enforceCeiling)
      requireUnderCeiling(root, data.size, cur.map(_.data.size).getOrElse(0))
    // GROUP-PIN protection (r11 verdict task #2 — the lag-liveness
    // edge): a version some GROUP manifest still NAMES must stay
    // resolvable, and its data files alive, for ANY commit lag a
    // maintenance cycle produces (heal commits, adoption commits,
    // flush+rewrite pairs) — not just the keep-window's arithmetic 2.
    // `pin.*` files under `_snap` record the group-named versions
    // ([[commitGroup]] writes them at every advance;
    // [[refreshGroupPins]] re-asserts them at cycle entry); a pinned
    // manifest is never cleaned up and its data files ride the
    // expiring list (the stubborn mechanism) until the pin advances —
    // at which point a later commit deletes both normally. A group
    // that stops advancing holds its generation's files forever: that
    // is the pin working as designed ([[dropGroup]] removes the pins
    // when a group is decommissioned).
    val pins = readPins(fs, root).filter(v => v > 0 && v < n).distinct
    val pinnedData: Set[String] = pins.flatMap { v =>
      val p = new Path(snapDir(root), f"v$v%08d")
      if (fs.exists(p)) parseManifest(v, readLines(fs, p)).data else Nil
    }.toSet
    // the two-commit grace ends for files retired at version n-2 —
    // deleted BEFORE the manifest rename, while the current manifest
    // still lists them as expiring: a crash mid-delete leaves every
    // survivor tracked (deleting after the rename left crash survivors
    // listed NOWHERE, and the next commit's visible-minus-gone scan
    // would have adopted the deleted rows back as data). A file whose
    // delete fails but still exists stays in the expiring list for a
    // later commit to retry, for the same reason — and a PINNED file
    // (data of a group-named generation) is deliberately kept in that
    // retry loop without being deleted at all.
    val stubborn = dying.filter { p =>
      pinnedData(p) || {
        val f = new Path(root, p)
        !fs.delete(f, false) && fs.exists(f)
      }
    }
    val dir = snapDir(root)
    fs.mkdirs(dir)
    val tmp = new Path(dir, s".tmp-v$n")
    // the setting lines lead the manifest, so [[settings]] reads them
    // without touching the data list
    write(fs, tmp,
      (kept.lines ++
        data.sorted.map(p => s"data $p") ++
        replaced.sorted.map(p => s"retired $p") ++
        (expiring ++ stubborn).sorted.map(p => s"expiring $p"))
        .mkString("\n"))
    require(fs.rename(tmp, new Path(dir, f"v$n%08d")),
      s"snapshot commit v$n lost a rename race — writer lock violated?")
    // keep a window of manifests, not just the newest: a reader between
    // list and open may grab the previous one, and a GROUP resolution
    // ([[commitGroup]]) may legitimately name a version up to two
    // commits behind the head (one maintenance cycle commits a member
    // twice — publish + compaction — before its group advances). Three
    // kept manifests cover exactly lag 2 — and deliberately NOT more:
    // the keep-window must agree with the DATA-FILE grace (a v-data
    // file replaced at v+1 dies at v+3), so a staler pin fails the
    // loud manifest-missing check in [[readTableAt]] instead of
    // passing it and then hitting deleted files at execution.
    // GROUP-PINNED versions are the exception on BOTH sides at once:
    // their manifests survive the cleanup here and their data files
    // survive the expiry above, so a resolvable pin still never
    // dangles on deleted files.
    val pinSet = pins.toSet
    if (fs.exists(dir)) fs.listStatus(dir).foreach { s =>
      val nm = s.getPath.getName
      if (nm.startsWith("v") && nm.drop(1).forall(_.isDigit) &&
        nm.drop(1).toInt < n - 2 &&
        !pinSet.contains(nm.drop(1).toInt)) fs.delete(s.getPath, false)
    }
    n
  }

  // -------------------------------------------------------- table groups

  /** TEST-ONLY crash injection: die between [[commitGroup]]'s manifest
    * rename and its superseded-pin sweep — the widest post-publish gap
    * a crash can hit. The new generation must already be pinned there
    * (pins are raised BEFORE the rename). */
  private[apps] var crashAfterGroupRename: Boolean = false

  /** Cross-table snapshot GROUPS — the tier that closes the torn-view
    * window between two single-table commits. A writer that mutates a
    * PAIR of tables (the mart's session fold commits `sess_grid` then
    * `sess_state`; a text-index append commits `postings` then
    * `doclens`) produces two per-table generations that are each
    * internally consistent but momentarily inconsistent with each
    * other; a reader resolving both tables' newest manifests between
    * the two commits sees a mixed generation (e.g. an expiring session
    * counted in the grid AND still open in the state — the double
    * count).
    *
    * A group manifest `groupRoot/v<N>` is ONE immutable text file
    * naming the `(member name → table version)` vector, committed by
    * one atomic rename. The writer advances the group only at
    * CONSISTENT points (after the whole pair committed); readers
    * resolve the newest group file and read every member table at its
    * NAMED version ([[readTableAt]]) — so any reader, planned at any
    * instant, sees one consistent cross-table generation: the one the
    * last group advance published.
    *
    * Version 0 names a member that had no manifest at group-commit
    * time (table not yet created) — readers serve it as EMPTY, which
    * is exactly what the generation contained.
    *
    * Liveness of what a group names: member tables keep 3 manifest
    * versions ([[commit]]) and a data file dies no earlier than three
    * commits after it leaves the data list, so a group whose writers
    * advance it within two member commits (every writer in this repo
    * advances after each pair, lag ≤ 2) always resolves with live
    * files; a staler group fails the manifest-missing check LOUDLY
    * (the keep-window and the file grace agree by construction — a
    * resolvable pin can never dangle on deleted files). */
  def commitGroup(fs: FileSystem, groupRoot: Path,
                  members: Seq[(String, Path)]): Int = {
    val vec = members.map { case (name, root) =>
      name -> head(fs, root).map(_.version).getOrElse(0)
    }
    val cur = currentGroupFile(fs, groupRoot)
    val curVec = cur.map { case (_, lines) => parseGroup(lines) }
    // idempotent: an unchanged vector neither churns group versions nor
    // ends the previous group generation's implicit grace early — but
    // the pins are still (re-)asserted, which is what upgrades a
    // pre-pin group's members on their first post-upgrade advance
    if (curVec.contains(vec.toMap)) {
      writeGroupPins(fs, groupRoot, members, vec.toMap)
      return cur.get._1
    }
    val n = cur.map(_._1).getOrElse(0) + 1
    fs.mkdirs(groupRoot)
    // raise the NEW generation's pins BEFORE the rename, WITHOUT yet
    // deleting the superseded ones — so neither generation is ever
    // unpinned across the advance. Pinning-then-crashing (no rename)
    // leaves the old generation current and still pinned, plus extra
    // new-gen pins (over-protection, swept by the next refresh);
    // renaming-then-crashing (the r12 "what's wrong #1" gap) leaves
    // the NEW generation both published AND pinned, so single-index
    // writers pushing members past the keep-window can no longer age
    // the group-named manifests out before the next cycle re-pins.
    writeGroupPins(fs, groupRoot, members, vec.toMap,
      cleanupSuperseded = false)
    val tmp = new Path(groupRoot, s".tmp-v$n")
    write(fs, tmp,
      vec.map { case (name, v) => s"member $name $v" }.mkString("\n"))
    require(fs.rename(tmp, new Path(groupRoot, f"v$n%08d")),
      s"group commit v$n lost a rename race — writer serialization violated?")
    if (crashAfterGroupRename)
      throw new IllegalStateException(
        "injected crash: group manifest renamed, superseded pins not swept")
    // the advance is published — NOW release the old generation's pins
    writeGroupPins(fs, groupRoot, members, vec.toMap)
    fs.listStatus(groupRoot).foreach { s =>
      val nm = s.getPath.getName
      if (nm.startsWith("v") && nm.drop(1).forall(_.isDigit) &&
        nm.drop(1).toInt < n - 1) fs.delete(s.getPath, false)
    }
    n
  }

  /** Re-assert the pins for the group's CURRENT vector without
    * advancing it — the maintenance-cycle ENTRY step: the cycle's own
    * commits (plus any heal/adoption commits the entry discipline
    * fires) can push a member arbitrarily far past the group-named
    * version, and the pins are what keep that version resolvable (and
    * its files alive) until the cycle's end-advance re-points them.
    * No-op for a group that was never committed; a pin whose manifest
    * already aged out stays unwritten (nothing left to protect — the
    * loud readTableAt check reports the protocol violation). */
  def refreshGroupPins(fs: FileSystem, groupRoot: Path,
                       members: Seq[(String, Path)]): Unit =
    resolveGroup(fs, groupRoot).foreach { vec =>
      writeGroupPins(fs, groupRoot, members, vec)
    }

  /** Decommission a group: delete its pin files from every member's
    * `_snap` dir and its manifest files. Without this, a deleted
    * group's pins would hold its last-named generation's manifests
    * and files FOREVER (the pin working as designed, on a group
    * nobody reads). Members keep serving through their own heads.
    * Leaves the group DIR itself for the caller (a writer lease's
    * lock file may live inside it — see
    * [[HybridSearchApp.dropGroup]]). */
  def dropGroup(fs: FileSystem, groupRoot: Path,
                members: Seq[(String, Path)]): Unit = {
    val tag = pinTag(fs, groupRoot)
    members.foreach { case (_, root) =>
      val dir = snapDir(root)
      if (fs.exists(dir)) fs.listStatus(dir).foreach { s =>
        val n = s.getPath.getName
        // also sweep a crashed refresh's tmp — no future write for
        // this tag will ever overwrite it once the group is gone.
        // `pin.$tag.` WITH the trailing dot: a tag that is a proper
        // prefix of another group's tag (32-bit hash collision plus a
        // name-prefix relation) must not have its pins swept here
        if (n.startsWith(s"pin.$tag.") || n == s".pin-$tag.tmp")
          fs.delete(s.getPath, false)
      }
    }
    if (fs.exists(groupRoot)) fs.listStatus(groupRoot).foreach { s =>
      val nm = s.getPath.getName
      if (nm.startsWith("v") && nm.drop(1).forall(_.isDigit))
        fs.delete(s.getPath, false)
    }
    ()
  }

  /** Filename-safe tag identifying a group inside its members' `_snap`
    * dirs — distinct groups pinning the same table coexist (e.g. a
    * text index's own postings/doclens group AND a hybrid group).
    * Hash of the fs-QUALIFIED path (so `/work//grp`, a relative
    * spelling and `/work/grp` agree) plus the sanitized final name
    * component — human-debuggable, and the name disambiguates a
    * 32-bit hash collision whenever the two groups' (truncated)
    * names differ; two groups colliding on BOTH is the residual
    * ~2^-32 risk, in which case one group's pin cleanup could drop
    * the other's pin (degrading it to keep-window protection, the
    * loud pre-pin behavior — never silent wrong data). */
  private def pinTag(fs: FileSystem, groupRoot: Path): String = {
    val qualified = fs.makeQualified(groupRoot).toUri.toString
    val h = scala.util.hashing.MurmurHash3.stringHash(qualified)
    val nm = groupRoot.getName.replaceAll("[^A-Za-z0-9_-]", "_").take(32)
    f"${h & 0xffffffffL}%08x-$nm"
  }

  private def writeGroupPins(fs: FileSystem, groupRoot: Path,
                             members: Seq[(String, Path)],
                             vec: Map[String, Int],
                             cleanupSuperseded: Boolean = true): Unit = {
    val tag = pinTag(fs, groupRoot)
    members.foreach { case (name, root) =>
      val v = vec.getOrElse(name, 0)
      if (v > 0 && fs.exists(new Path(snapDir(root), f"v$v%08d"))) {
        val dir = snapDir(root)
        // VERSIONED pin files — `pin.<tag>.<v>` — so a refresh never
        // passes through an unpinned instant: the new pin lands by
        // atomic rename BEFORE superseded ones are deleted, and a
        // concurrent member commit's readPins sees old, new or both
        // (union = brief over-protection), never neither. A
        // delete-then-rename of one fixed name had exactly that
        // window, racing live single-index writers that hold only the
        // MEMBER lock while the refresh holds only the GROUP lease.
        // The body carries the pinned version AND the qualified group
        // root — the back-pointer [[vacuum]] needs to tell a live
        // group's pin from one whose group was deleted out-of-band.
        val dst = new Path(dir, s"pin.$tag.$v")
        // an existing pin is rewritten IF it predates the back-pointer
        // (body has no second line): without the rewrite a legacy pin
        // would never acquire the back-pointer [[vacuum]] needs — its
        // documented remedy ("re-run the group's maintenance cycle,
        // the refresh rewrites the pin") used to be a no-op while the
        // group vector was unchanged, leaving a pre-upgrade orphan
        // permanently un-collectable (r13 ADVICE, medium)
        val legacy = fs.exists(dst) &&
          scala.util.Try(readLines(fs, dst)).toOption
            .forall(_.drop(1).headOption.map(_.trim).forall(_.isEmpty))
        if (!fs.exists(dst) || legacy) {
          fs.mkdirs(dir)
          val tmp = new Path(dir, s".pin-$tag.tmp")
          write(fs, tmp,
            s"$v\n${fs.makeQualified(groupRoot).toUri.toString}")
          if (legacy) {
            // upgrade WITHOUT an unpinned instant (rename-over-existing
            // is not atomic here, and delete-then-rename would let a
            // concurrent member commit's readPins see NO pin for v —
            // the exact race the versioned-pin design closed): land the
            // upgraded body as a sibling `…$v.u` first (readPins counts
            // it — same first line), then delete the legacy body, then
            // promote the sibling. A crash at any step leaves at least
            // one readable pin for v, and the superseded-pin sweep
            // below collects a stray sibling.
            val up = new Path(dir, s"pin.$tag.$v.u")
            fs.delete(up, false) // a crashed earlier upgrade's leftover
            require(fs.rename(tmp, up), s"could not stage pin upgrade $up")
            fs.delete(dst, false)
            require(fs.rename(up, dst) || fs.exists(dst),
              s"could not promote upgraded group pin $dst")
          } else require(fs.rename(tmp, dst) || fs.exists(dst),
            s"could not publish group pin $dst")
        }
        // `cleanupSuperseded = false` is [[commitGroup]]'s pre-rename
        // call: the OLD generation's pins must survive until the new
        // group manifest is published, so neither side of the rename
        // is ever unpinned
        if (cleanupSuperseded) fs.listStatus(dir).foreach { s =>
          val n = s.getPath.getName
          // trailing dot: never sweep another group whose tag merely
          // extends this one (see the same guard in [[dropGroup]])
          if (n.startsWith(s"pin.$tag.") && n != dst.getName)
            fs.delete(s.getPath, false)
        }
      }
    }
  }

  /** The versions of `root` pinned by any group (its `pin.*` files).
    * Line 1 of a pin body is the version; line 2 (absent in pins
    * written before [[vacuum]] existed) is the group back-pointer —
    * only line 1 matters here. */
  private def readPins(fs: FileSystem, root: Path): Seq[Int] = {
    val dir = snapDir(root)
    if (!fs.exists(dir)) return Nil
    fs.listStatus(dir).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("pin."))
      .flatMap(p => scala.util.Try(readLines(fs, p).head.trim.toInt).toOption)
  }

  /** Audit — and with `delete = true`, remove — orphaned snapshot
    * debris under `root/_snap` (the r12 verdict's "what's wrong #3":
    * an `rm -rf`'d group dir leaks its pins FOREVER, silently holding
    * manifests and data files). Findings, per kind:
    *
    *  - `orphan-pin` — a `pin.<tag>.<v>` whose recorded group root
    *    (the body's back-pointer) no longer resolves to any committed
    *    group manifest. [[dropGroup]] is the sanctioned path; this
    *    catches the out-of-band deletion it cannot.
    *  - `legacy-pin` — a pin with no back-pointer (written before the
    *    body carried one). Reported but NEVER deleted, even with
    *    `delete = true`: its group cannot be located, so liveness
    *    cannot be ruled out — re-run the group's maintenance cycle
    *    once (its refresh rewrites the pin with a back-pointer), then
    *    vacuum again.
    *  - `stale-tmp` — `.tmp-*` / `.pin-*.tmp` files older than
    *    `tmpOlderThanMs` (default 1 h): a crashed write's leftover; a
    *    LIVE writer's tmp is younger than any sane threshold because
    *    tmp files exist only inside a single write call.
    *
    * Report-only by default — returns `(kind, path)` pairs either way.
    * Deleting an orphan pin is safe by construction: the pin's only
    * reader is [[commit]]'s keep-window logic, and a pin whose group
    * is gone protects a generation nobody can resolve. */
  def vacuum(fs: FileSystem, root: Path, delete: Boolean = false,
             tmpOlderThanMs: Long = 60L * 60 * 1000)
      : Seq[(String, String)] = {
    val dir = snapDir(root)
    if (!fs.exists(dir)) return Nil
    val now = System.currentTimeMillis()
    val findings = fs.listStatus(dir).toSeq.flatMap { s =>
      val n = s.getPath.getName
      if (n.startsWith("pin.")) {
        val lines = scala.util.Try(readLines(fs, s.getPath)).getOrElse(Nil)
        lines.drop(1).headOption.map(_.trim).filter(_.nonEmpty) match {
          case Some(groupUri) =>
            val live = scala.util.Try(
              currentGroupFile(fs, new Path(groupUri)).isDefined)
              .getOrElse(false)
            if (live) Nil
            else Seq(("orphan-pin", s.getPath.toString))
          case None => Seq(("legacy-pin", s.getPath.toString))
        }
      } else if ((n.startsWith(".tmp-") || (n.startsWith(".pin-")
          && n.endsWith(".tmp"))) &&
          now - s.getModificationTime > tmpOlderThanMs)
        Seq(("stale-tmp", s.getPath.toString))
      else Nil
    }
    if (delete) applyVacuum(fs, findings)
    findings
  }

  /** [[vacuum]]'s delete pass, separated so the report→delete race
    * window is spec-drivable. Orphan-pin liveness is re-checked
    * IMMEDIATELY before each delete: the report pass's check is not
    * atomic with this moment, and a group mid-publish (another
    * process's first commitGroup pre-rename window, or a
    * dropGroup+recreate) can have gone live since — deleting its pin
    * then would leave a just-published generation unpinned until the
    * next refresh cycle (r13 ADVICE). A pin whose group re-appeared
    * (or whose body is now unreadable) is simply kept. */
  private[apps] def applyVacuum(fs: FileSystem,
                                findings: Seq[(String, String)]): Unit =
    findings.foreach {
      case ("orphan-pin", p) =>
        val stillOrphan = scala.util.Try {
          readLines(fs, new Path(p)).drop(1).headOption.map(_.trim)
            .filter(_.nonEmpty)
            .forall(uri => currentGroupFile(fs, new Path(uri)).isEmpty)
        }.getOrElse(false)
        if (stillOrphan) { fs.delete(new Path(p), false); () }
      case (kind, p) if kind != "legacy-pin" =>
        fs.delete(new Path(p), false); ()
      case _ => ()
    }

  /** Where maintenance-cycle [[vacuumReport]] findings land. Default:
    * log to stderr (report-only — DELETE stays a manual operator
    * action; see [[vacuum]]). Specs replace it to capture; operators
    * may route it into their telemetry. */
  private[apps] var onVacuumFindings: (Path, Seq[(String, String)]) => Unit =
    (root, findings) => if (findings.nonEmpty)
      System.err.println(s"[graft.vacuum] ${findings.size} finding(s) " +
        s"under $root/_snap: " +
        findings.map { case (k, p) => s"$k $p" }.mkString("; "))

  /** Report-mode [[vacuum]] wired to the findings hook — the form the
    * hybrid/mart maintenance cycles call on their cadence (r13 verdict
    * task #6): debris is SURFACED every cycle instead of waiting for
    * an operator to think of auditing, while deletion keeps requiring
    * a deliberate `vacuum(delete = true)`. One `_snap` listing per
    * table — report cost is metadata-scale. */
  def vacuumReport(fs: FileSystem, root: Path): Seq[(String, String)] = {
    val findings = vacuum(fs, root)
    onVacuumFindings(root, findings)
    findings
  }

  /** The newest group manifest's `(member → version)` vector, or None
    * when the group was never committed (pre-group layouts — callers
    * fall back to per-table newest-manifest reads). */
  def resolveGroup(fs: FileSystem, groupRoot: Path)
      : Option[Map[String, Int]] =
    currentGroupFile(fs, groupRoot).map { case (_, lines) =>
      parseGroup(lines)
    }

  private def parseGroup(lines: Seq[String]): Map[String, Int] =
    lines.collect { case s if s.startsWith("member ") =>
      val Array(name, v) = s.drop(7).split(' ')
      name -> v.toInt
    }.toMap

  private def currentGroupFile(fs: FileSystem, groupRoot: Path)
      : Option[(Int, Seq[String])] = {
    if (!fs.exists(groupRoot)) return None
    val vs = fs.listStatus(groupRoot).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.drop(1).forall(_.isDigit))
      .map(_.drop(1).toInt)
    if (vs.isEmpty) None
    else {
      val n = vs.max
      Some((n, readLines(fs, new Path(groupRoot, f"v$n%08d"))))
    }
  }

  /** The manifest-ceiling guard of [[commit]] and [[snapOp]]: `data`
    * lines past [[maxManifestLines]] are refused unless they do not
    * grow the head's `curData` (see [[commit]]). */
  private def requireUnderCeiling(root: Path, data: Int,
                                  curData: Int): Unit =
    require(data <= maxManifestLines || data <= curData,
      s"snapshot commit of $root would track $data data files, " +
        s"past the $maxManifestLines-line manifest ceiling (the " +
        "measured superlinear decade — PLANS.md round 13: 356 s " +
        "commits at 10^7 lines). The table has outgrown its file " +
        "granularity: raise its per-table compaction graduation size " +
        "(Sinks.setCompactionTarget / the manifest `targetbytes` " +
        "line — lines ~ tableBytes/targetBytes), or override " +
        "graft.snapshots.maxManifestLines if you accept the cost.")

  /** Refuse the crash journal an older version kept at `_snap/pending`:
    * left by a crashed write, it names installed files whose replaced
    * originals were never retired, so committing over it would adopt
    * both and duplicate rows. Only the version that wrote it heals it. */
  private[graft] def refuseLegacyJournal(fs: FileSystem, root: Path): Unit =
    require(!fs.exists(new Path(snapDir(root), "pending")),
      s"$root/_snap/pending is the crash journal of an interrupted " +
        "write by an older version, which this version does not " +
        "replay. Run one write of this table with the version that " +
        "wrote it (its writer entry heals the journal), then retry; " +
        "nothing was changed.")

  /** The [[StagedCommit.Snap]] op that commits `root` after a journaled
    * install of `added` files replacing `replaced` (root-relative),
    * recording `settings` (a rebucket's count, a retrain's generation
    * flip with the layout even when a heal commits). It records the
    * version it creates: `head` (resolved by the caller under the
    * writer lock) + 1. The ceiling guard runs here, before the manifest
    * freezes — once the moves run, the commit must complete —
    * projected from the head alone (unlisted files are torn-append
    * debris, bounded by one batch). */
  private[graft] def snapOp(fs: FileSystem, root: Path, head: Manifest,
                            replaced: Seq[String], added: Int,
                            settings: Settings = Settings()): StagedCommit.Snap = {
    refuseLegacyJournal(fs, root)
    requireUnderCeiling(root,
      head.data.size - replaced.size + added, head.data.size)
    StagedCommit.Snap(root, head.version + 1, replaced, settings)
  }

  /** The last phase of a [[StagedCommit]] manifest: commit `s`, ceiling
    * guard off (its files are installed; a refusal would wedge every
    * later heal), unless the head already reached `s.version` — a heal
    * replaying a landed commit would otherwise list the replaced files
    * as retired AND expiring, cutting a reader's grace to one commit. */
  private[apps] def replay(fs: FileSystem, s: StagedCommit.Snap): Unit =
    if (currentVersion(fs, s.root).forall(_ < s.version)) {
      commit(fs, s.root, s.replaced, s.settings, enforceCeiling = false); ()
    }

  /** A [[StagedCommit.Snap]]'s payload as manifest-line fields: the
    * setting lines, then `replaced <file>` per replaced file. */
  private[apps] def snapFields(replaced: Seq[String],
                               settings: Settings): Seq[String] =
    settings.lines ++ replaced.map(p => s"replaced $p")

  /** [[snapFields]] parsed back, settings through [[parseSettings]]. */
  private[apps] def parseSnapFields(fields: Seq[String])
      : (Seq[String], Settings) =
    (fields.collect { case f if f.startsWith("replaced ") => f.drop(9) },
      parseSettings(fields.iterator))

  private def write(fs: FileSystem, p: Path, content: String): Unit = {
    val out = fs.create(p, true)
    try out.write(content.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  private def readLines(fs: FileSystem, p: Path): Seq[String] = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
    finally in.close()
  }
}
