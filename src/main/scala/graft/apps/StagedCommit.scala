package graft.apps

import org.apache.hadoop.fs.{FileSystem, Path}

/** Manifest-ordered staged commit for multi-directory parquet updates —
  * the one crash journal of every file-moving writer:
  * [[IncrementalReleaseApp]], [[TextIndexApp]], [[VectorIndexApp]],
  * [[Compaction]] and the keyed sinks ([[graft.sinks.Sinks]]).
  *
  * A writer stages every output under one `_staging` directory, then
  * [[publish]]es: the staged files are enumerated into a manifest
  * (written atomically via temp + rename) of typed operations —
  * deletions (`D`, compaction's replaced files), bulk moves (`M`),
  * watermark moves (`W`) and snapshot commits (`S`, one per
  * [[Snapshots]] table the moves change) — executed in four strict
  * phases: all deletions (bounded rename pool), then all bulk moves
  * (pool), then the watermark moves serially, then the snapshot
  * commits serially last. The invariants a replayer can rely on:
  *
  *  - no manifest ⇒ nothing was published — [[heal]] discards the
  *    staging and the writer recomputes;
  *  - manifest present ⇒ the op set is FROZEN — [[heal]] finishes the
  *    remaining ops idempotently in the same four phases (a deletion
  *    already applied is a no-op; a file already at its destination is
  *    skipped; missing on both sides fails loudly; a snapshot commit
  *    whose table's head already reached the version the op recorded
  *    is skipped, so a replay never commits twice);
  *  - the `W` watermark ops run only after every move landed, so a
  *    watermark check ("is this batch applied?") can never observe a
  *    half-applied batch as applied; the `S` commits run after every
  *    file landed, so a table version never lists a missing file;
  *  - deletions complete strictly BEFORE any move installs, so a
  *    compaction manifest (delete N small files, install their merged
  *    replacement) can never make a row visible twice — the crash
  *    window shows rows temporarily dark (they live in the staged
  *    merged file the manifest froze), never duplicated.
  *
  * Single writer assumed — made checkable by [[withWriterLock]]: a
  * heartbeat-refreshed lock file under the destination root that makes
  * a second concurrent writer fail loudly instead of interleaving
  * staging deletes. Staging and destinations must share a filesystem
  * (renames, not copies). */
object StagedCommit {

  /** One frozen commit operation (one manifest line). */
  sealed trait Op
  /** Delete `p` if it exists (idempotent) — compaction's replaced
    * files. Runs in phase 1, strictly before any install. */
  final case class Del(p: Path) extends Op
  /** Move `src` → `dst` — the bulk phase 2, pooled. */
  final case class Move(src: Path, dst: Path) extends Op
  /** Watermark move — phase 3, strictly serial, after every move. */
  final case class Wmark(src: Path, dst: Path) extends Op
  /** Snapshot commit creating `version` of table `root` — phase 4,
    * serial, last. Built by [[Snapshots.snapOp]], which owns the
    * payload's encoding. */
  final case class Snap(root: Path, version: Int, replaced: Seq[String],
                        settings: Snapshots.Settings) extends Op

  /** TEST-ONLY crash injection for replay-heal specs — never set
    * outside tests. `crashBeforeCommit` dies after staging but before
    * the commit manifest exists; `crashAfterMoves = n` dies after the
    * n-th committed file op (deletions count too, snapshot commits
    * do not). */
  private[apps] var crashBeforeCommit: Boolean = false
  private[apps] var crashAfterMoves: Int = Int.MaxValue

  /** Concurrent ops [[publish]] and [[heal]] use for the non-watermark
    * phases. Renames/deletes are metadata-only but each is a filesystem
    * round-trip: a delta touching all 256 band prefixes stages a
    * thousand-odd files, and moving them serially on the driver made
    * the commit latency O(files) — and a torn 1k-file commit used to
    * HEAL at one round-trip per file. The pool hides the per-call
    * latency in both paths; the watermark moves are still strictly
    * serial AFTER the pool drains, so the "`W` visible ⇒ everything
    * landed" invariant holds for publish and heal alike. */
  private val CommitParallelism = 16

  /** Enumerate the staged files under each `(stagingSubdir → destRoot)`
    * mapping, write the manifest (paths matching `lastFragment` become
    * `W` watermark ops), execute it, and remove the staging dir. */
  def publish(fs: FileSystem, staging: Path,
              mappings: Seq[(String, String)],
              lastFragment: String): Unit = {
    val (rest, last) = stagedMoves(fs, staging, mappings, lastFragment)
    publishOps(fs, staging,
      rest.map { case (s, d) => Move(s, d) } ++
        last.map { case (s, d) => Wmark(s, d) })
  }

  /** Freeze an explicit op list into the manifest and execute it — the
    * entry point for ops [[publish]]'s directory enumeration can't
    * express (compaction's delete-then-install, snapshot commits).
    * `staging` must hold every `Move`/`Wmark` source (it is removed at
    * the end); a lone `Snap` (a delete-only mutation) still runs. */
  def publishOps(fs: FileSystem, staging: Path, ops: Seq[Op]): Unit = {
    if (crashBeforeCommit) throw new IllegalStateException(
      "injected crash: staged but uncommitted")
    if (ops.isEmpty) { fs.delete(staging, true); return }
    writeManifest(fs, staging, ops)
    execute(fs, ops, healing = false)
    fs.delete(staging, true)
  }

  /** Complete (or discard) a torn publish left by a crash: a staging
    * dir WITH a commit manifest finishes its ops idempotently (same
    * four phases, same pool); one WITHOUT a manifest never published
    * anything and is removed. */
  def heal(fs: FileSystem, staging: Path): Unit = {
    if (!fs.exists(staging)) return
    val manifest = new Path(staging, "COMMIT")
    if (fs.exists(manifest)) {
      val in = fs.open(manifest)
      val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().toList finally in.close()
      execute(fs, lines.map(parseOp), healing = true)
    }
    fs.delete(staging, true)
  }

  // ------------------------------------------------------------ execution

  /** The four strict phases shared by publish and heal: deletions
    * (pool) → bulk moves (pool) → watermark moves (serial) → snapshot
    * commits (serial). The global barriers between phases subsume any
    * per-directory ordering a compaction manifest needs (every replaced
    * file is gone before any merged file installs, every file is in
    * place before a manifest lists it). */
  private def execute(fs: FileSystem, ops: Seq[Op], healing: Boolean): Unit = {
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    runPooled(ops.collect { case d: Del => d })(d =>
      delOne(fs, d.p, counter))
    runPooled(ops.collect { case m: Move => m })(m =>
      moveOne(fs, m.src, m.dst, counter, healing))
    ops.collect { case w: Wmark => w }.foreach(w =>
      moveOne(fs, w.src, w.dst, counter, healing))
    ops.collect { case s: Snap => s }.foreach(Snapshots.replay(fs, _))
  }

  private def runPooled[T](items: Seq[T])(f: T => Unit): Unit = {
    if (items.isEmpty) return
    if (items.length == 1) { f(items.head); return }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(CommitParallelism, items.length))
    try {
      val futures = items.map { it =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = f(it)
        })
      }
      // .get() rethrows wrapped — unwrap so callers (and the crash-
      // injection specs) see the original failure, not the pool's
      futures.foreach { fu =>
        try fu.get()
        catch { case e: java.util.concurrent.ExecutionException =>
          throw e.getCause }
      }
    } finally {
      // await in-flight ops after the interrupt: a caller (or a
      // crash-injection spec) observing the filesystem right after a
      // failure must see a QUIESCED state, not ops still landing
      pool.shutdownNow()
      pool.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS)
    }
  }

  private def stagedMoves(fs: FileSystem, staging: Path,
                          mappings: Seq[(String, String)], lastFragment: String)
      : (Seq[(Path, Path)], Seq[(Path, Path)]) = {
    def files(root: Path): Seq[Path] = {
      if (!fs.exists(root)) return Nil
      val it = fs.listFiles(root, true)
      val buf = scala.collection.mutable.ArrayBuffer[Path]()
      while (it.hasNext) {
        val p = it.next().getPath
        if (!p.getName.startsWith("_") && !p.getName.startsWith(".")) buf += p
      }
      buf.toSeq
    }
    // listFiles returns scheme-qualified paths — qualify the roots the
    // same way before stripping them off. lastFragment matches the
    // STAGING-RELATIVE path only: matching the absolute destination
    // would misclassify every move under a destination root that
    // happens to contain the fragment (e.g. /warehouse/meta/corpus-idx)
    // and void the watermark-moves-last invariant.
    val all = mappings.flatMap { case (sub, dest) =>
      val root = new Path(staging, sub)
      files(root).map { p =>
        val q = fs.makeQualified(root).toString + "/"
        require(p.toString.startsWith(q), s"staged file $p outside root $q")
        val rel = p.toString.stripPrefix(q)
        (p, new Path(dest + "/" + rel), "/" + rel)
      }
    }
    val (last, rest) = all.partition(_._3.contains(lastFragment))
    (rest.map { case (src, dst, _) => (src, dst) },
      last.map { case (src, dst, _) => (src, dst) })
  }

  // ------------------------------------------------------------- manifest

  private def fmtOp(op: Op): String = op match {
    case Del(p)        => s"D\t$p"
    case Move(s, d)    => s"M\t$s\t$d"
    case Wmark(s, d)   => s"W\t$s\t$d"
    case Snap(r, v, replaced, settings) =>
      (Seq("S", r.toString, v.toString) ++
        Snapshots.snapFields(replaced, settings)).mkString("\t")
  }

  private def parseOp(line: String): Op = line.split('\t') match {
    case Array("D", p)    => Del(new Path(p))
    case Array("M", s, d) => Move(new Path(s), new Path(d))
    case Array("W", s, d) => Wmark(new Path(s), new Path(d))
    case Array("S", r, v, payload @ _*) =>
      val (replaced, settings) = Snapshots.parseSnapFields(payload)
      Snap(new Path(r), v.toInt, replaced, settings)
    // legacy (pre-op-typed) manifest: untagged "src\tdst" move lines —
    // a torn commit frozen by the previous format must stay healable
    // after an upgrade ("D" can never be a legacy src: paths in the
    // manifest are absolute). Replayed as plain moves: every op still
    // completes; only the wmark-last ordering WITHIN that one legacy
    // heal is degraded, matching the old serial-replay guarantee.
    case Array(s, d) if s.nonEmpty && d.nonEmpty =>
      Move(new Path(s), new Path(d))
    case _ => throw new IllegalStateException(s"corrupt manifest line: $line")
  }

  private def writeManifest(fs: FileSystem, staging: Path,
                            ops: Seq[Op]): Unit = {
    // duplicate destinations must never enter the FROZEN manifest: a
    // first-run collision failure would otherwise be "resolved" by the
    // next restart's heal replay overwriting the first writer's file —
    // the moveOne require only survives the crash contract if the
    // manifest itself is collision-free. A deletion targeting a move
    // destination is the same corruption in another coat (the heal
    // replay would delete the already-installed file, then find the
    // move's src gone).
    val dsts = ops.collect { case Move(_, d) => d; case Wmark(_, d) => d }
    val dups = dsts.groupBy(identity).filter(_._2.size > 1).keys
    require(dups.isEmpty,
      s"staged commit maps multiple sources to ${dups.mkString(", ")}")
    val dels = ops.collect { case Del(p) => p }.toSet
    val clash = dsts.filter(dels.contains)
    require(clash.isEmpty,
      s"staged commit both deletes and installs ${clash.mkString(", ")}")
    val tmp = new Path(staging, ".COMMIT.tmp")
    val out = fs.create(tmp, true)
    try out.write(ops.map(fmtOp).mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
    require(fs.rename(tmp, new Path(staging, "COMMIT")),
      "could not publish commit manifest")
  }

  // ------------------------------------------------------------ operations

  private def crashGate(counter: java.util.concurrent.atomic.AtomicInteger)
      : Unit =
    if (counter.getAndIncrement() >= crashAfterMoves)
      throw new IllegalStateException(
        "injected crash: commit interrupted mid-moves")

  /** Idempotent delete: already-gone (a replayed heal) is a no-op. */
  private def delOne(fs: FileSystem, p: Path,
      counter: java.util.concurrent.atomic.AtomicInteger): Unit = {
    crashGate(counter)
    fs.delete(p, false)
  }

  /** Idempotent, resumable move: a file already at its destination (a
    * replayed crash-interrupted commit) is skipped; missing on BOTH
    * sides is corruption and fails loudly. */
  private def moveOne(fs: FileSystem, src: Path, dst: Path,
      counter: java.util.concurrent.atomic.AtomicInteger,
      healing: Boolean): Unit = {
    crashGate(counter)
    if (fs.exists(src)) {
      fs.mkdirs(dst.getParent)
      if (fs.exists(dst)) {
        // src AND dst both present. On a FIRST-RUN publish that is a
        // destination collision (duplicate manifest entries, a violated
        // single-writer assumption) and silently replacing dst would be
        // data loss — fail loudly with both files intact. On a HEAL
        // replay the manifest froze the intended state before the
        // crash, so the staged src is authoritative — but the displaced
        // dst is EVIDENCE of an out-of-band writer: park it as a
        // dot-prefixed tombstone (invisible to parquet readers) rather
        // than deleting it, so a violated single-writer assumption
        // leaves an inspectable trace instead of vanishing.
        require(healing, s"commit destination already exists: $dst")
        val tomb = new Path(dst.getParent, s".ovr-${dst.getName}")
        fs.delete(tomb, false) // keep the LATEST incident's evidence
        require(fs.rename(dst, tomb), s"heal: could not park $dst")
      }
      require(fs.rename(src, dst), s"commit move failed: $src -> $dst")
    } else require(fs.exists(dst),
      s"commit lost a file (neither $src nor $dst exists)")
  }

  // ---------------------------------------------------------- writer lock

  /** Lease after which a lock with no heartbeat is considered dead. A
    * LIVE writer refreshes the lock every [[HeartbeatMs]], so a lock
    * older than the lease means its writer crashed — safe to break. */
  private[apps] val DefaultLeaseMs: Long = 60000L
  private val HeartbeatMs: Long = 5000L

  /** Run `body` holding the single-writer lock for `root` — the
    * enforcement of the "single writer assumed" contract. The lock is
    * an atomically-created `_writer.lock` file under `root` whose
    * content is a heartbeat timestamp, refreshed every [[HeartbeatMs]]
    * while `body` runs:
    *
    *  - a second writer arriving while the lock is fresh (age <
    *    `leaseMs`) fails LOUDLY — two live appenders can no longer
    *    interleave staging deletes and publish a half-staged manifest;
    *  - a lock whose heartbeat is older than `leaseMs` belongs to a
    *    crashed writer and is broken (stale-lease takeover) — a
    *    restarted stream resumes within one lease of a crash, and the
    *    torn commit it takes over is healed by the normal heal-first
    *    discipline;
    *  - the lock is released on every exit of `body` (success or
    *    throw); only a hard crash leaves it for the lease to expire.
    *
    * Best-effort by design (plain-filesystem create is the only
    * primitive assumed): it turns silent interleaving corruption into a
    * loud failure, it does not arbitrate truly simultaneous
    * sub-heartbeat races on filesystems without atomic create. */
  def withWriterLock[T](fs: FileSystem, root: Path,
                        leaseMs: Long = DefaultLeaseMs)(body: => T): T = {
    val lock = new Path(root, "_writer.lock")
    def stamp(overwrite: Boolean): Unit = {
      val out = fs.create(lock, overwrite)
      try out.write(s"${System.currentTimeMillis()}\n".getBytes("UTF-8"))
      finally out.close()
    }
    def heartbeatAge(): Long = {
      val ts = try {
        val in = fs.open(lock)
        try scala.io.Source.fromInputStream(in, "UTF-8")
          .getLines().next().trim.toLong
        finally in.close()
      } catch { // unreadable/empty (mid-refresh) reads as FRESH: never
        case _: Exception => System.currentTimeMillis() // break a live lock
      }
      System.currentTimeMillis() - ts
    }
    try stamp(overwrite = false)
    catch { case _: java.io.IOException =>
      val age = heartbeatAge()
      if (age <= leaseMs) throw new IllegalStateException(
        s"another writer holds $lock (heartbeat ${age} ms ago, lease " +
          s"$leaseMs ms) — single-writer contract violated; if the " +
          "holder is known dead, remove the lock or wait out the lease")
      // stale: its writer crashed — take over (and the subsequent
      // heal-first discipline repairs whatever it tore)
      fs.delete(lock, false)
      stamp(overwrite = false) // a concurrent taker wins the create race
    }
    val beat = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
      r => { val t = new Thread(r, "writer-lock-heartbeat")
             t.setDaemon(true); t })
    beat.scheduleAtFixedRate(
      () => try stamp(overwrite = true) catch { case _: Exception => () },
      HeartbeatMs, HeartbeatMs, java.util.concurrent.TimeUnit.MILLISECONDS)
    try body
    finally {
      // await the in-flight beat BEFORE deleting: shutdownNow alone
      // could interleave with a stamp() already past the create, which
      // would re-materialize the lock after the delete and block every
      // writer for a full lease with nobody alive
      beat.shutdownNow()
      beat.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
      fs.delete(lock, false)
    }
  }
}
