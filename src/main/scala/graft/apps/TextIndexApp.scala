package graft.apps

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{StableHash, TextFunctions}
import graft.queries.TextQueries

/** PERSISTENT inverted text index — the serving form of t15's BM25
  * retrieval, and the lexical twin of [[VectorIndexApp]]: build once,
  * query many times, append incrementally, retract surgically.
  *
  * t15 demonstrates the right plan (broadcast query terms prune the
  * scan to matching posting lists; the per-(query, doc) score is a
  * sorted-token float fold) but rebuilds the (doc, token, tf) frame
  * per query. Here that frame is the MATERIALIZED state:
  *
  *   - `postings/` — (token, doc_id, tf), PARTITIONED BY
  *     `bucket = stableMod(token) % nBuckets`: a query's term set maps
  *     to ≤ nBuckets literal bucket values, so the postings scan opens
  *     only those directories — term-routed pruning enforced at
  *     PLANNING time, the lexical analogue of the IVF cell prune.
  *     Rows sort by (doc_id, token) INSIDE each bucket: queries read
  *     whole bucket dirs anyway (the term match is a broadcast join,
  *     not a pushable literal), so the in-file order serves the OTHER
  *     access path — takedown discovery pushes a doc_id filter and
  *     skips row-groups via min/max stats, exactly like the vector
  *     index's vec_id clustering.
  *   - `doclens/` — (doc_id, len). Corpus stats (n_docs, t_tokens) and
  *     per-term df are NEVER stored: df aggregates from the probed
  *     posting lists and stats from one doclens agg at query time, so
  *     append and retract stay exact by construction — there is no
  *     denormalized count to drift. (The stats agg is linear in the
  *     DOCUMENT count — metadata-scale next to the corpus.)
  *   - `meta/` — max doc_id indexed (watermark, replay guard).
  *     The router's bucket count is a setting of the postings
  *     manifest (its `nbuckets` line, recorded from the build's
  *     commit on) and mutable via the online [[rebucket]], which
  *     flips count and layout in one commit.
  *
  * Appends stage under `_staging` and publish through [[StagedCommit]]
  * with the meta watermark last; `postings` and `doclens` are
  * [[Snapshots]]-managed so serving reads plan against a pinned file
  * list while [[Compaction]] keeps every directory at its file bound.
  * Tokenize-and-count is a pure per-document function, so
  * `append(build(A), B)` equals `build(A ∪ B)` row-for-row.
  *
  * The reference's only text surface is the keyword UDTF
  * (`util/SplitKeywordUDTF.java:19-34`); this is the LLM-pipeline
  * extension tier's retrieval serving layer (inverted files per the
  * classic IR lineage; BM25 per Robertson/Spärck Jones). */
object TextIndexApp {

  /** The term router — ONE definition (build/append and query must
    * route identically against any one layout; the count is
    * manifest-resolved per generation and mutable via [[rebucket]]).
    * [[StableHash.bucket60]] is the engine's canonical bucket id. */
  private def termBucket(nBuckets: Int) =
    StableHash.bucket60(col("token"), nBuckets).as("bucket")

  /** The postings+doclens cross-table GROUP (r10 verdict task #1): an
    * append commits the two tables separately, so two independent
    * newest-manifest reads could land on opposite sides — postings
    * with the delta's rows, doclens without its lengths (skewing df
    * and the corpus stats that are recomputed at query time). Writers
    * advance the group by one atomic rename only at consistent points
    * (entry after heals, post-publish, post-compaction, post-retract);
    * [[query]] resolves it once and reads BOTH members at the named
    * versions. Pre-group indexes (no group file) fall back to
    * per-table newest manifests. */
  private def groupRoot(indexDir: String) = new Path(s"$indexDir/_group")

  /** TEST-ONLY crash injection: throw between the postings and doclens
    * snapshot commits of an append — the exact instant the two
    * newest-manifest heads disagree about the delta, which the group
    * manifest exists to make unobservable. */
  private[apps] var crashBetweenCommits: Boolean = false

  /** TEST-ONLY interleave hook at the same instant — lets a spec hold
    * one maintenance driver provably mid-pair (postings committed,
    * doclens not) while a second driver attempts its own append or
    * retract against the held writer lock. Never set outside tests. */
  private[apps] var pauseBetweenCommits: () => Unit = () => ()
  private def groupMembers(indexDir: String): Seq[(String, Path)] =
    Seq("postings" -> new Path(s"$indexDir/postings"),
      "doclens" -> new Path(s"$indexDir/doclens"))
  private def advanceGroup(fs: org.apache.hadoop.fs.FileSystem,
                           indexDir: String): Unit = {
    Snapshots.commitGroup(fs, groupRoot(indexDir), groupMembers(indexDir))
    ()
  }

  /** Tokenize + per-doc term counts, the pure function whose purity
    * makes append == rebuild. */
  private def postingsOf(docs: DataFrame, nBuckets: Int): DataFrame =
    docs.select(col("doc_id"),
        explode(TextFunctions.tokens(TextFunctions.normalized(col("text"))))
          .as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      .withColumn("bucket", termBucket(nBuckets))

  private def lensOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      TextFunctions.wordCount(col("text")).as("len"))

  /** doclens stays write-parallel (a `coalesce(1)` would funnel a
    * corpus-sized row set through ONE task at scale); rows sort by
    * doc_id within each file so takedown discovery's pushed filter
    * skips row-groups, and [[Compaction]] bounds the file count. */
  private def writeLens(lens: DataFrame, dest: String): Unit =
    lens.sortWithinPartitions("doc_id")
      .write.mode("overwrite").parquet(dest)

  /** One exchange on the bucket key, rows clustered by (doc_id, token)
    * inside each bucket (see the header for why doc_id leads). */
  private def writePostings(postings: DataFrame, dest: String): Unit =
    postings
      .repartition(col("bucket"))
      .sortWithinPartitions(col("bucket"), col("doc_id"), col("token"))
      .write.mode("overwrite").partitionBy("bucket").parquet(dest)

  /** Build the full index. A crash mid-build heals by re-running (all
    * writes overwrite). */
  def build(spark: SparkSession, docs: DataFrame, indexDir: String,
            nBuckets: Int): Unit = {
    val fs = new Path(indexDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(staging(indexDir), true) // superseded, not healed
    writePostings(postingsOf(docs, nBuckets), s"$indexDir/postings")
    writeLens(lensOf(docs), s"$indexDir/doclens")
    docs.agg(max(col("doc_id")).as("max_doc_id"))
      .write.mode("overwrite").parquet(s"$indexDir/meta")
    // the router geometry rides the postings manifest from build on
    // (the Sinks.rebucket convention: count and layout in ONE rename)
    Snapshots.commit(fs, new Path(s"$indexDir/postings"),
      settings = Snapshots.Settings(Some(nBuckets)))
    Snapshots.commit(fs, new Path(s"$indexDir/doclens"))
    // a REBUILD over an existing dir starts a fresh group history —
    // stale generations must not outlive the tables they described
    fs.delete(groupRoot(indexDir), true)
    advanceGroup(fs, indexDir)
  }

  /** The term-router bucket count: the `nbuckets` line of the newest
    * postings manifest (writers, unpinned queries) or of the manifest
    * `pinnedPostings` names, so a group-pinned query planned across a
    * rebucket routes and prunes with the geometry of the generation
    * it reads, never the head's. */
  private def nBucketsOf(spark: SparkSession, indexDir: String,
                         pinnedPostings: Option[Int] = None): Int = {
    val fs = new Path(indexDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val root = new Path(s"$indexDir/postings")
    Snapshots.settings(fs, root, pinnedPostings).nbuckets.getOrElse(
      throw new IllegalStateException(
        s"$root records no router bucket count (no manifest `nbuckets` line)"))
  }

  /** Append `delta` documents. Idempotent under replay; refuses a
    * watermark-straddling delta; holds the single-writer lock across
    * staging + publish + compaction ([[StagedCommit.withWriterLock]]). */
  def append(spark: SparkSession, delta: DataFrame,
             indexDir: String): Unit = {
    val fs = new Path(indexDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    StagedCommit.withWriterLock(fs, new Path(indexDir)) {
      StagedCommit.heal(fs, staging(indexDir))
      // adopt files a torn append published but never snapshot-committed
      // BEFORE the early returns below (see VectorIndexApp.append).
      // An adoption means that append also never ran ITS compaction —
      // and later appends only check their own touched buckets, so a
      // bucket the torn append grew past the file bound would stay
      // over it indefinitely: restore the at-rest bound table-wide
      // ( `|` not `||` — both tables must be adopted, no short-circuit)
      val adopted =
        Snapshots.adoptUnlisted(fs, new Path(s"$indexDir/postings")) |
        Snapshots.adoptUnlisted(fs, new Path(s"$indexDir/doclens"))
      if (adopted) compactIndex(spark, fs, indexDir, touched = None)
      // a crashed retraction left one table retracted and the other
      // not — re-apply its journal BEFORE the entry advance below can
      // publish the torn pair as a consistent generation
      healTornRetract(spark, fs, indexDir)
      // entry advance: after the heals above both tables reflect the
      // same completed appends and retractions (the publish manifest
      // is all-or-nothing across both; compaction is
      // content-preserving; a torn retract was just re-applied), so
      // the heads are always a consistent generation here — catching
      // the group up heals a crash that landed between a pair's
      // commits and its group advance. Idempotent when nothing moved.
      advanceGroup(fs, indexDir)
      if (delta.isEmpty) return
      val maxBase = spark.read.parquet(s"$indexDir/meta")
        .agg(max(col("max_doc_id"))).head.getLong(0)
      val mm = delta.agg(min(col("doc_id")), max(col("doc_id"))).head
      val (minDelta, maxDelta) = (mm.getLong(0), mm.getLong(1))
      if (maxDelta <= maxBase) return // replayed, fully-applied batch
      require(minDelta > maxBase,
        s"delta doc_ids must exceed the indexed max ($minDelta <= $maxBase)")
      val nBuckets = nBucketsOf(spark, indexDir)
      val stg = staging(indexDir)
      fs.delete(stg, true)
      writePostings(postingsOf(delta, nBuckets), s"$stg/idx/postings")
      writeLens(lensOf(delta), s"$stg/idx/doclens")
      delta.agg(max(col("doc_id")).as("max_doc_id"))
        .write.mode("overwrite").parquet(s"$stg/idx/meta")
      val touched = Compaction
        .partitionDirs(fs, new Path(s"$stg/idx/postings")).map(_.getName)
      StagedCommit.publish(fs, stg, Seq("idx" -> indexDir),
        lastFragment = "/meta/")
      Snapshots.commit(fs, new Path(s"$indexDir/postings"))
      if (crashBetweenCommits) throw new IllegalStateException(
        "injected crash: postings committed, doclens not")
      pauseBetweenCommits()
      Snapshots.commit(fs, new Path(s"$indexDir/doclens"))
      // the append pair is complete — publish the consistent
      // generation before compaction (readers between here and the
      // post-compaction advance see the uncompacted but correct pair)
      advanceGroup(fs, indexDir)
      compactIndex(spark, fs, indexDir, Some(touched))
      advanceGroup(fs, indexDir)
    }
  }

  /** ONLINE RE-ROUTING of the term router (the round-13 1000× probe's
    * serving-latency knob): rewrite `postings` under a NEW bucket
    * count in one atomic snapshot commit — the lexical twin of
    * [[graft.sinks.Sinks.rebucket]]. The router was "frozen at build"
    * because changing it moves every posting list; the full rewrite IS
    * the irreducible cost — what this buys is that it is safe to do
    * LIVE, against a served index:
    *
    *  - rows are read through the pinned manifest, re-assigned
    *    `bucket = stable60(token) % newN`, staged, and installed and
    *    snapshot-committed through one [[StagedCommit]] manifest, the
    *    commit its last phase ([[Snapshots.snapOp]]);
    *  - the new count rides the commit itself (the manifest `nbuckets`
    *    line), so count and layout flip in ONE rename; later appends
    *    and queries resolve the count from the manifest
    *    ([[nBucketsOf]]) and can never route against the wrong layout;
    *  - a reader planned before the commit executes the complete OLD
    *    layout (grace window / group pins — and it PRUNES with the old
    *    count too, via [[Snapshots.settings]] of its pinned
    *    manifest); one planned after sees the complete new layout with
    *    the new count — never a mix;
    *  - a crash at any stage heals at the next writer entry to exactly
    *    old-everything or new-everything: the entry's one
    *    [[StagedCommit.heal]] discards an unfrozen install or rolls a
    *    frozen one forward, and the manifest's commit op carries the
    *    count, so even the healed commit flips both together.
    *
    * `doclens`, `meta` and df/corpus stats are untouched (nothing
    * denormalized depends on the router), so results are IDENTICAL
    * before and after — only the pruning geometry changes. The old
    * layout's files retire through the normal grace window (a retract
    * inside that window rewrites up to 2× files — the documented
    * takedown trade, briefly amplified). */
  def rebucket(spark: SparkSession, indexDir: String,
               newBuckets: Int): Unit = {
    require(newBuckets > 0, s"bucket count must be positive (got $newBuckets)")
    val fs = new Path(indexDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    StagedCommit.withWriterLock(fs, new Path(indexDir)) {
      // the full writer-entry discipline (same as append): heal a torn
      // install, adopt unlisted files, re-apply a crashed retraction,
      // THEN advance the group over the now-consistent heads — a
      // crashed previous rebucket completes or aborts right here,
      // before this one stages anything
      StagedCommit.heal(fs, staging(indexDir))
      val adopted =
        Snapshots.adoptUnlisted(fs, new Path(s"$indexDir/postings")) |
        Snapshots.adoptUnlisted(fs, new Path(s"$indexDir/doclens"))
      if (adopted) compactIndex(spark, fs, indexDir, touched = None)
      healTornRetract(spark, fs, indexDir)
      advanceGroup(fs, indexDir)
      if (nBucketsOf(spark, indexDir) == newBuckets) return
      val root = new Path(s"$indexDir/postings")
      val head = Snapshots.head(fs, root).getOrElse {
        throw new IllegalStateException(
          s"rebucket requires a snapshot-managed postings table at $root")
      }
      if (head.data.isEmpty) {
        // nothing to move — the count flip is a bare commit
        Snapshots.commit(fs, root,
          settings = Snapshots.Settings(Some(newBuckets)))
        advanceGroup(fs, indexDir)
        return
      }
      val stg = staging(indexDir)
      fs.delete(stg, true)
      val restaged = Snapshots.readTable(spark, root)
        .drop("bucket")
        .withColumn("bucket", termBucket(newBuckets))
      writePostings(restaged, s"$stg/reb/postings")
      val stagedRoot = new Path(s"$stg/reb/postings")
      val moves = Compaction.partitionDirs(fs, stagedRoot).flatMap { d =>
        Compaction.visibleFiles(fs, d).map { f =>
          StagedCommit.Move(f.getPath,
            new Path(root, s"${d.getName}/${f.getPath.getName}"))
        }
      }
      // one manifest: install all-or-nothing, then commit with replaced
      // = every current file and the count riding the commit op, so a
      // crash-healed rebucket still flips count and layout together
      StagedCommit.publishOps(fs, stg, moves :+ Snapshots.snapOp(fs, root,
        head, replaced = head.data, added = moves.size,
        settings = Snapshots.Settings(Some(newBuckets))))
      advanceGroup(fs, indexDir)
    }
  }

  /** Default target size of one POSTINGS bucket. The text index's
    * cost model differs from the keyed sinks': appends only ADD delta
    * files to bucket dirs (no touched-bucket rewrite, so no row-count
    * amplification term), and the number that grows with corpus size
    * at frozen geometry is the probed-bucket SCAN — the round-13
    * 1000× probe's warm fused latency grew 2.5× across three decades
    * purely from each probed bucket being 1000× bigger. 64 MB keeps a
    * probed bucket a sub-second columnar scan while the bucket count
    * stays two orders below the term cardinality. */
  val DefaultPostingsBucketBytes: Long = 64L * 1024 * 1024

  /** AUTO-WIDEN policy for the term router (r13 verdict task #4, the
    * lexical twin of [[graft.sinks.Sinks.autoWiden]]): consult the
    * postings table's pinned bytes against a per-bucket target and
    * [[rebucket]] online when the recommendation exceeds the current
    * count by [[graft.sinks.Sinks.WidenFactor]]. Bytes only — see
    * [[DefaultPostingsBucketBytes]] for why no rows term. Never
    * narrows. Returns the new count when it widened. */
  def autoWiden(spark: SparkSession, indexDir: String,
                targetBytesPerBucket: Long = DefaultPostingsBucketBytes)
      : Option[Int] = {
    require(targetBytesPerBucket > 0,
      s"target bytes per bucket must be positive (got $targetBytesPerBucket)")
    val fs = new Path(indexDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val root = new Path(s"$indexDir/postings")
    val files = Snapshots.currentFiles(fs, root).getOrElse(return None)
    val bytes = files.iterator
      .map(f => scala.util.Try(
        fs.getFileStatus(new Path(root, f)).getLen).getOrElse(0L)).sum
    val rec = graft.sinks.Sinks.unitsFor(bytes, targetBytesPerBucket)
    val cur = nBucketsOf(spark, indexDir)
    if (rec >= cur * graft.sinks.Sinks.WidenFactor) {
      rebucket(spark, indexDir, rec); Some(rec)
    }
    else None
  }

  /** Merge bucket dirs an append grew past [[Compaction.DefaultMaxFiles]]
    * (plus doclens and meta) down to one file each, preserving the
    * in-file doc_id clustering. */
  private[apps] def compactIndex(spark: SparkSession,
                                 fs: org.apache.hadoop.fs.FileSystem,
                                 indexDir: String,
                                 touched: Option[Seq[String]] = None): Unit =
    Compaction.compact(spark, fs, staging(indexDir), Seq(
      Compaction.Group(
        touched match {
          case Some(names) => names.map(n => new Path(s"$indexDir/postings/$n"))
          case None =>
            Compaction.partitionDirs(fs, new Path(s"$indexDir/postings"))
        },
        Seq(col("doc_id"), col("token")),
        snapshotRoot = Some(new Path(s"$indexDir/postings"))),
      Compaction.Group(Seq(new Path(s"$indexDir/doclens")),
        Seq(col("doc_id")),
        snapshotRoot = Some(new Path(s"$indexDir/doclens"))),
      // meta: raw Del+Move — its only readers hold the writer lock
      Compaction.Group(Seq(new Path(s"$indexDir/meta")),
        Seq(col("max_doc_id")))))

  /** Top-k BM25 search. `probes` carries `(q_id, text)` and is TINY by
    * contract (its distinct terms broadcast — the serving contract is
    * one bounded query batch per call). The postings scan is pruned at
    * planning time to the probed TERM BUCKETS (collected as ≤ nBuckets
    * distinct values — bounded by the router geometry, not the probe
    * count); per-term df aggregates from exactly those posting lists
    * and corpus stats from one doclens agg, so results equal t15's
    * from-scratch query over the indexed corpus (spec-asserted).
    *
    * `broadcastTerms = false` is the BATCH mode (v8's trade, lexical
    * flavor): a probe set the size of a table would not fit a driver
    * broadcast build AND its terms would touch every bucket anyway, so
    * the batch mode skips the bucket collect (no planning-time prune —
    * correct, the prune would keep everything) and joins the term
    * stream shuffled. Results are identical in both modes
    * (spec-asserted).
    *
    * CONTRACT: `probes` must be DETERMINISTIC (no `rand()` sampling) —
    * the term derivation is evaluated more than once (the bucket list
    * and the scoring join), and a nondeterministic probe set could
    * surface a term whose bucket the other evaluation pruned,
    * silently truncating results. Materialize a sampled frame first
    * (same contract as [[VectorIndexApp.query]]). */
  def query(spark: SparkSession, probes: DataFrame, indexDir: String,
            topK: Int, broadcastTerms: Boolean = true,
            pinned: Option[(Int, Int)] = None): DataFrame = {
    // the documented determinism contract, ENFORCED (the mirror of
    // VectorIndexApp.query's guard): the whole probe frame is
    // re-derived per consumer here, so every expression in its
    // analyzed plan must be deterministic — a rand() sample could
    // surface a term whose bucket the other evaluation pruned
    probes.queryExecution.analyzed.foreach { p =>
      p.expressions.foreach(e => require(e.deterministic,
        s"probes must be deterministic (got: ${e.sql}) — the term " +
          "derivation is evaluated more than once (bucket collect + " +
          "scoring join); materialize a sampled frame first"))
    }
    // pin BOTH member tables to one cross-table generation, resolved
    // ONCE at plan time: `pinned` carries an outer group's vector (the
    // hybrid tier); otherwise the index's own group names it; a
    // pre-group index falls back to per-table newest manifests
    val fs = new Path(indexDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val pin: Option[(Int, Int)] = pinned.orElse(
      Snapshots.resolveGroup(fs, groupRoot(indexDir))
        .map(v => (v.getOrElse("postings", 0), v.getOrElse("doclens", 0)))
        .filter { case (p, d) => p > 0 && d > 0 })
    // the router geometry of the generation THIS query reads — across
    // an online rebucket the head's count would prune wrong buckets
    val nBuckets = nBucketsOf(spark, indexDir, pin.map(_._1))
    val qterms = probes.select(col("q_id"),
        explode(array_distinct(
          TextFunctions.tokens(TextFunctions.normalized(col("text")))))
          .as("token"))
      .withColumn("bucket", termBucket(nBuckets))
    val postings = if (broadcastTerms) {
      val buckets = qterms.select(col("bucket")).distinct()
        .collect().map(_.getLong(0)) // ≤ nBuckets values, never per-probe
      postingsFrame(spark, indexDir, Some(buckets.toSet), pin.map(_._1))
        .filter(col("bucket").isin(buckets.toSeq: _*))
    } else postingsFrame(spark, indexDir, None, pin.map(_._1))
    val termSide =
      if (broadcastTerms) (df: DataFrame) => broadcast(df)
      else (df: DataFrame) => df.hint("shuffle_hash")
    // df over the FULL posting list of each probed term (a term's list
    // lives entirely in its bucket, so the pruned scan sees all of it)
    val df = postings
      .join(termSide(qterms.select(col("token")).distinct()), "token")
      .groupBy("token").agg(count(lit(1)).as("df"))
    val lensRoot = new Path(s"$indexDir/doclens")
    val lens = (pin.map(_._2) match {
      case Some(v) => Snapshots.readTableAt(spark, lensRoot, v)
      case None => Snapshots.readTable(spark, lensRoot)
    }).select(col("doc_id"), col("len"))
    TextQueries.bm25Rank(
        postings.select(col("doc_id"), col("token"), col("tf")),
        qterms.select(col("q_id"), col("token")), df, lens, topK,
        broadcastTerms)
      .orderBy("q_id", "rnk")
  }

  /** Retract documents (takedown): rewrites ONLY the files holding the
    * targets' rows — postings discovery pushes a doc_id filter that
    * skips row-groups via the in-file doc_id sort. df and corpus stats
    * need no adjustment (never stored — recomputed from the surviving
    * rows at query time), so a post-retraction query EQUALS a fresh
    * build without the targets. The meta watermark is not lowered: a
    * retracted id can never re-enter (monotone ingest).
    *
    * CROSS-TABLE crash safety: the retraction spans both tables, and a
    * crash between them would leave postings without the targets while
    * doclens still holds their lengths — a torn pair the next writer
    * entry's group advance must NOT publish as a consistent
    * generation. The target ids are therefore JOURNALED (atomic
    * tmp+rename) before any mutation; every writer entry replays the
    * journal first ([[healTornRetract]] — idempotent: excluding
    * already-absent ids rewrites nothing), so the pair is whole again
    * before any group advance can observe it. */
  def retract(spark: SparkSession, docIds: Seq[Long],
              indexDir: String): Unit = {
    if (docIds.isEmpty) return
    val fs = new Path(indexDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    StagedCommit.withWriterLock(fs, new Path(indexDir)) {
      StagedCommit.heal(fs, staging(indexDir))
      healTornRetract(spark, fs, indexDir) // a crashed PREVIOUS retract
      val j = retractJournal(indexDir)
      val tmp = new Path(s"$indexDir/._retract_ids.tmp")
      val out = fs.create(tmp, true)
      try out.write(docIds.mkString("", "\n", "\n").getBytes("UTF-8"))
      finally out.close()
      require(fs.rename(tmp, j), s"could not journal the retraction at $j")
      retractBody(spark, fs, docIds, indexDir)
      // both tables retracted — publish the post-takedown generation
      // (mid-retract, group readers stay on the pre-takedown vector,
      // modulo the documented in-place-rewrite trade)
      advanceGroup(fs, indexDir)
      fs.delete(j, false)
      ()
    }
  }

  private def retractJournal(indexDir: String) =
    new Path(s"$indexDir/_retract_ids")

  /** Re-apply a crashed retraction's journaled ids — MUST run at
    * writer entry BEFORE any group advance (see [[retract]]). Holds
    * the caller's writer lock. */
  private def healTornRetract(spark: SparkSession,
                              fs: org.apache.hadoop.fs.FileSystem,
                              indexDir: String): Unit = {
    val j = retractJournal(indexDir)
    if (!fs.exists(j)) return
    val in = fs.open(j)
    val ids = try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().filter(_.nonEmpty).map(_.toLong).toList
    finally in.close()
    retractBody(spark, fs, ids, indexDir)
    advanceGroup(fs, indexDir)
    fs.delete(j, false)
    ()
  }

  /** The two-table retraction, journaled by [[retract]]. TEST-ONLY
    * `crashBetweenRetracts` dies between the tables — the torn state
    * the journal exists to heal. */
  private[apps] var crashBetweenRetracts: Boolean = false
  private def retractBody(spark: SparkSession,
                          fs: org.apache.hadoop.fs.FileSystem,
                          docIds: Seq[Long], indexDir: String): Unit =
    Seq("postings", "doclens").foreach { t =>
      if (t == "doclens" && crashBetweenRetracts)
        throw new IllegalStateException(
          "injected crash: postings retracted, doclens not")
      val root = new Path(s"$indexDir/$t")
      // flush pending retirements: discovery below is a RAW scan
      // (same documented takedown trade as the vector index)
      Snapshots.commit(fs, root)
      val tmpDir = s"$indexDir/_retract_$t"
      if (fs.exists(new Path(tmpDir))) SurgicalRewrite.heal(fs, root)
      val hit = SurgicalRewrite.hitFiles(
        spark.read.parquet(root.toString), docIds, "doc_id")
      val order = if (t == "postings") Seq(col("doc_id"), col("token"))
                  else Seq(col("doc_id"))
      SurgicalRewrite.rewrite(spark, hit, tmpDir,
        SurgicalRewrite.excluding(_, docIds, "doc_id"), order)
      Snapshots.commit(fs, root) // drop files that vanished entirely
    }

  /** Streaming ingestion: each micro-batch of new documents appends
    * incrementally; the index is valid, queryable state after every
    * batch. Bootstrap with [[build]] over the backfill first. */
  def stream(docs: DataFrame, indexDir: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        append(batch.sparkSession, batch, indexDir)
      }
      .start()

  /** The postings table through [[Snapshots.readTable]], pruned to the
    * probed bucket directories before Spark lists anything; `version`
    * pins the group-named generation. */
  private[apps] def postingsFrame(spark: SparkSession, indexDir: String,
                                  buckets: Option[Set[Long]] = None,
                                  version: Option[Int] = None)
      : DataFrame = {
    val root = new Path(s"$indexDir/postings")
    version match {
      case Some(v) =>
        Snapshots.readTableAt(spark, root, v, buckets.map(("bucket", _)))
      case None =>
        Snapshots.readTable(spark, root, buckets.map(("bucket", _)))
    }
  }

  private def staging(indexDir: String): Path =
    new Path(s"$indexDir/_staging")

  /** Usage: `runMain graft.apps.TextIndexApp <sfDir> <indexDir>` —
    * builds over the documents table and smoke-queries it. */
  def main(args: Array[String]): Unit = {
    val Array(sfDir, indexDir) = args
    val spark = graft.GraftSession.local("graft-text-index")
    try {
      val docs = graft.sources.Tables.documents(spark, sfDir)
      build(spark, docs, indexDir, nBuckets = 16)
      val probes = docs.filter(col("doc_id") < 10)
        .select(col("doc_id").as("q_id"), col("text"))
      val n = query(spark, probes, indexDir, topK = 5).count()
      println(s"[text-index] built at $indexDir; smoke query rows: $n")
    } finally spark.stop()
  }
}
