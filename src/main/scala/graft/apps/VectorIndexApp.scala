package graft.apps

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.SimilarityOps

/** PERSISTENT IVF vector index — the serving form of v7's composed ANN
  * shape ([[SimilarityOps.ivfQuantizedAnn]]).
  *
  * v7 demonstrates the right 100 TB search plan (trained cells cut the
  * candidate set, int8 codes cut the scan memory 4×, exact rerank keeps
  * scores oracle-exact) but re-trains and re-quantizes per query. A
  * serving system builds that state ONCE and queries it many times:
  *
  *   - `centroids/` — the trained codebook (tiny; broadcast at query);
  *   - `codes/`     — per-vector (cell, int8 codes, scale, norm),
  *                    PARTITIONED BY CELL: a probe's nprobe-cell search
  *                    list becomes a literal directory filter, so the
  *                    candidate scan never opens an unprobed cell's
  *                    files — IVF's "read only the probed lists"
  *                    promise enforced at PLANNING time, not run time;
  *   - `meta/`      — max vec_id indexed (watermark, replay guard).
  *
  * The index APPENDS like the corpus release: new vectors are assigned
  * and quantized against the FROZEN codebook (the standard IVF serving
  * trade — re-training moves cell boundaries and would rewrite every
  * list; widening the cells is a [[retrain]]: staged beside the live
  * index, flipped in one manifest rename, consulted automatically by
  * [[autoRetrain]]), written
  * under `_staging`, and published by [[StagedCommit]] with the meta
  * watermark last — a replayed micro-batch heals a torn append and
  * no-ops an applied one, exactly [[IncrementalReleaseApp]]'s contract.
  * `append(build(A), B)` equals `build` over A ∪ B with A's codebook,
  * byte-for-byte (spec-asserted), because assignment and quantization
  * are pure per-vector functions of the frozen centroids.
  *
  * Queries against a larger corpus than the index covers (e.g. probes
  * arriving before their batch is indexed) still rerank exactly: the
  * candidate set comes from the index, the scores from the corpus.
  *
  * The reference has no vector/ANN surface — its only serving-side
  * index is the HBase dim table (`util/HBaseUtil.java`); this is part
  * of the LLM-pipeline extension tier (IVF per the FAISS lineage:
  * Jégou et al. '11 inverted files + scalar quantization). */
object VectorIndexApp {

  /** PQ geometry of the optional IVFADC index flavor: `m` sub-blocks of
    * `subDim` dims, `k` codewords per block, `iters` training rounds.
    * With it the codes table holds m PQ codes + one norm per vector
    * (16× smaller than the int8 default at the shipped geometry) and
    * queries ADC-scan the probed cells ([[SimilarityOps.ivfPqAnn]]). */
  final case class PqGeometry(m: Int, subDim: Int, k: Int, iters: Int)

  /** Where trained-state generation `gen`'s frozen books live:
    * generation 0 is the BUILD's books at the index root (the
    * pre-retrain layout, unchanged); generation N ≥ 1 is a
    * [[retrain]]'s `trained/g<N>/` subtree. Which generation a reader
    * resolves rides the CODES MANIFEST (its `trainedgen` setting,
    * [[Snapshots.settings]]) — committed atomically with the
    * re-encoded layout it describes, the [[graft.sinks.Sinks
    * .rebucket]] convention — so head and pinned readers alike always
    * pair a codes layout with the exact books that encoded it. Old
    * generations' books are kilobyte-scale and are left in place (a
    * pinned query may still read them); an operator may delete a
    * `trained/g<N>` dir once no group pin names a codes version of
    * that generation. */
  private def trainedDir(indexDir: String, gen: Int): String =
    if (gen == 0) indexDir else s"$indexDir/trained/g$gen"

  /** The trained-state generation of the codes manifest at `version`
    * (None = newest) — 0 for pre-retrain manifests. */
  private def trainedGenOf(fs: org.apache.hadoop.fs.FileSystem,
                           indexDir: String,
                           version: Option[Int] = None): Int =
    Snapshots.settings(fs, new Path(s"$indexDir/codes"), version)
      .trainedGen.getOrElse(0)

  /** Train the codebook on `corpus` and materialize the full index. A
    * crash mid-build is healed by re-running (all writes overwrite).
    * `pq` selects the IVFADC flavor: the per-sub-block codebooks are
    * trained here too (frozen, like the coarse centroids), persisted
    * under `pqbook`/`pqmeta`, and the codes table stores PQ codes. */
  def build(spark: SparkSession, corpus: DataFrame, indexDir: String,
            kCells: Int, iters: Int,
            pq: Option[PqGeometry] = None): Unit = {
    val fs = new Path(indexDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(staging(indexDir), true) // superseded, not healed
    // a REBUILD starts a fresh trained-state history: the codes
    // overwrite below wipes `codes/_snap` (so the new v1 carries no
    // trainedgen = generation 0), and stale retrain books must not
    // outlive the manifests that referenced them
    fs.delete(new Path(s"$indexDir/trained"), true)
    val sample = trainingSample(corpus, kCells, pq, corpus.count())
    SimilarityOps.kmeansCodebook(sample, kCells, iters)
      .write.mode("overwrite").parquet(s"$indexDir/centroids")
    writeKMeta(spark, kCells, indexDir)
    // encode against the books READ BACK from the index, not the lazy
    // training frames — otherwise the codes job re-runs the whole
    // training inside its own plan (the write is the materialization)
    val cents = spark.read.parquet(s"$indexDir/centroids")
    // a rebuild WITHOUT pq over a dir that previously held the IVFADC
    // flavor must drop the stale frozen books — pqState would otherwise
    // find them and silently rebuild as PQ against the OLD training
    if (pq.isEmpty) {
      fs.delete(new Path(s"$indexDir/pqbook"), true)
      fs.delete(new Path(s"$indexDir/pqmeta"), true)
    }
    pq.foreach(g => writePqBooks(spark, sample, g, indexDir))
    val codes = pqState(spark, indexDir, gen = 0) match {
      case Some((cb, m, subDim, _)) =>
        SimilarityOps.ivfPqCodes(corpus, cents, cb, m, subDim)
      case None => SimilarityOps.ivfCodes(corpus, cents)
    }
    writeCodes(codes, s"$indexDir/codes")
    corpus.agg(max(col("vec_id")).as("max_vec_id"))
      .write.mode("overwrite").parquet(s"$indexDir/meta")
    // snapshot v1: serving reads resolve the codes FILE LIST at plan
    // time from here on, so compaction can install/retire without ever
    // deleting a file a planned query still references
    Snapshots.commit(fs, new Path(s"$indexDir/codes"))
    ()
  }

  /** Training-sample size per requested centroid: Lloyd's iterations
    * average cluster members, and ~256 points per centroid pin each
    * mean far past the quantization noise floor — past that, more
    * training data moves centroids without moving recall (the
    * standard IVF practice; FAISS trains on samples of this order). */
  private val SamplePerCell = 256L

  /** Deterministic hash-sampled TRAINING frame (r15 verdict #4): the
    * coarse k-means and the PQ sub-books train on min(256·kCells, n)
    * vectors while the ENCODE still covers every vector — training
    * cost stops scaling with the corpus. Selection is content-free and
    * deterministic (xxhash64(vec_id) mod keep-rate), so a retrain and
    * a fresh build over the same corpus at the same geometry train on
    * the SAME rows and the retrain==rebuild identity gate holds
    * through sampling. Seed rows (vec_id < the larger of kCells and
    * the PQ codeword count) always survive: [[SimilarityOps
    * .kmeansCodebook]] seeds its centroids from the lowest ids, and a
    * sample that dropped them would train a different (and on tiny
    * corpora, empty) book. */
  private[graft] def trainingSample(corpus: DataFrame, kCells: Int,
                                    pq: Option[PqGeometry],
                                    n: Long): DataFrame = {
    val target = SamplePerCell * kCells
    if (n <= target) corpus
    else {
      val seedIds = math.max(kCells.toLong, pq.map(_.k.toLong).getOrElse(0L))
      val mod = n / target // ≥ 1 here; keeps ≈ target rows
      corpus.filter(col("vec_id") < seedIds ||
        pmod(xxhash64(col("vec_id")), lit(mod)) === 0)
    }
  }

  /** Persist the REQUESTED cell count beside a trained-state root's
    * centroids. k-means drops empty clusters, so the achieved centroid
    * count can be far below the request on a degenerate (duplicate-
    * heavy) corpus — [[autoRetrain]] compares its recommendation
    * against the REQUEST, or such a corpus would trigger a futile
    * full re-encode every maintenance cycle forever (round-14
    * review). */
  private def writeKMeta(spark: SparkSession, kCells: Int,
                         root: String): Unit =
    spark.range(1).select(lit(kCells).as("kcells"))
      .write.mode("overwrite").parquet(s"$root/kmeta")

  /** The requested cell count of a trained-state root; falls back to
    * the ACHIEVED centroid count for books that predate `kmeta`. */
  private def requestedCells(spark: SparkSession, root: String): Long = {
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new Path(s"$root/kmeta")))
      spark.read.parquet(s"$root/kmeta").head.getInt(0).toLong
    else spark.read.parquet(s"$root/centroids").count()
  }

  /** Train + persist the PQ books for one trained-state root (the
    * build's index root, or a retrain's `trained/g<N>`). */
  private def writePqBooks(spark: SparkSession, corpus: DataFrame,
                           g: PqGeometry, root: String): Unit = {
    SimilarityOps.pqCodebookEntries(
        SimilarityOps.pqCodebook(corpus, g.m, g.subDim, g.k, g.iters))
      .write.mode("overwrite").parquet(s"$root/pqbook")
    spark.range(1)
      .select(lit(g.m).as("m"), lit(g.subDim).as("sub_dim"),
        lit(g.k).as("k"))
      .write.mode("overwrite").parquet(s"$root/pqmeta")
  }

  /** The frozen PQ state of an IVFADC-flavored index AT a trained
    * generation: the rebuilt one-row codebook frame plus (m, subDim,
    * k); None for the int8 flavor (no pqbook at that generation). The
    * geometry is read from `pqmeta`, never inferred from the entries —
    * a codeword dropped in training must not shift the dense ADC slot
    * layout ([[SimilarityOps.pqLuts]]). */
  private def pqState(spark: SparkSession, indexDir: String, gen: Int)
      : Option[(DataFrame, Int, Int, Int)] = {
    val fs = new Path(indexDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val root = trainedDir(indexDir, gen)
    if (!fs.exists(new Path(s"$root/pqbook"))) None
    else {
      val g = spark.read.parquet(s"$root/pqmeta")
        .select(col("m"), col("sub_dim"), col("k")).head()
      Some((SimilarityOps.pqCodebookFromEntries(
          spark.read.parquet(s"$root/pqbook")),
        g.getInt(0), g.getInt(1), g.getInt(2)))
    }
  }

  /** Top-k search: probes = `corpus.filter(isProbe)`. The codes scan is
    * pruned to the probed cells' directories (collected as ≤ kCells
    * distinct literal values — bounded by the codebook, not the probe
    * count); raw embeddings are read from `corpus` only for the ≤
    * probes × rerankK rerank survivors. Output is identical to
    * [[SimilarityOps.ivfQuantizedAnn]] over the indexed corpus with
    * the stored codebook (spec-asserted).
    *
    * `broadcastProbes = false` is the BATCH mode: joining a probe set
    * the size of a table against the index, where a broadcast build
    * would not fit the driver — every probe-side frame runs shuffled
    * instead (see [[SimilarityOps.ivfSearchCodes]]). Results are
    * identical in both modes (spec-asserted).
    *
    * CONTRACT: `corpus` and `isProbe` must be DETERMINISTIC (no
    * `rand()` sampling predicates) — the probe derivation is evaluated
    * more than once (the cell list and the search side), and a
    * nondeterministic probe set would let a probe surface whose cells
    * were pruned by the other evaluation, silently truncating its
    * results. Sample into a materialized frame first if needed. */
  def query(spark: SparkSession, corpus: DataFrame, indexDir: String,
            isProbe: Column, topK: Int, nprobe: Int, rerankK: Int,
            broadcastProbes: Boolean = true,
            pinnedCodes: Option[Int] = None): DataFrame = {
    // the documented determinism contract, enforced: pull the analyzed
    // filter condition (public Catalyst API — Column internals moved in
    // Spark 4) and refuse a nondeterministic probe predicate loudly
    // instead of silently truncating results. Only the ROOT Filter —
    // the one this filter() call just added — is isProbe; deeper
    // filters belong to the caller's corpus derivation, which the
    // contract does not constrain (a persisted sampled corpus is the
    // documented way to sample).
    corpus.filter(isProbe).queryExecution.analyzed match {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        require(f.condition.deterministic,
          s"isProbe must be deterministic (got: ${f.condition.sql}) — " +
            "the probe derivation is evaluated more than once; " +
            "materialize a sampled frame first")
      case _ => ()
    }
    // the trained generation of the GENERATION THIS QUERY READS — a
    // pinned query planned across an online retrain must assign cells
    // and build LUTs with the books that encoded its pinned layout,
    // never the head's (the pinned-settings pattern, r13 verdict task #3).
    // HEAD queries resolve the newest committed codes version ONCE,
    // here, and use it for BOTH the books lookup and the codes read:
    // two independent newest-manifest reads could straddle a concurrent
    // retrain flip and pair one generation's books with the other's
    // codes — silently wrong cell assignment, the exact torn read the
    // trainedgen line exists to prevent (round-14 review).
    val fs2 = new Path(indexDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val codesVer = pinnedCodes.orElse(
      Snapshots.currentVersion(fs2, new Path(s"$indexDir/codes")))
    val gen = trainedGenOf(fs2, indexDir, codesVer)
    val cents = spark.read.parquet(s"${trainedDir(indexDir, gen)}/centroids")
    // The probe frame is never collect()ed wholesale: the only
    // per-query driver collect is the DISTINCT CELL list — bounded by
    // the CODEBOOK size (≤ kCells values), not the probe count. The
    // frame still reaches the driver once, transiently, inside the
    // search's broadcast build (inherent to broadcasting the probe
    // side — the IVF serving contract is that one query carries a
    // bounded probe batch); what the old collect-shape added on top —
    // a second full copy pinned in a LocalRelation in the plan, and
    // rows shipped through the task closure — is gone. Deliberately
    // NOT persisted: the derivation runs twice (cells job + broadcast
    // build), both narrow map-side passes over corpus.filter(isProbe),
    // because a persist with no caller-accessible handle would leak
    // one cache entry per query in a serving loop.
    val pqs = pqState(spark, indexDir, gen)
    val qprobes = pqs match {
      case Some((cb, m, subDim, k)) =>
        SimilarityOps.ivfPqProbes(corpus, cents, cb, isProbe, nprobe,
          m, subDim, k)
      case None => SimilarityOps.ivfProbes(corpus, cents, isProbe, nprobe)
    }
    val cells = qprobes.select(col("cluster")).distinct()
      .collect().map(_.getLong(0)) // ≤ kCells values, never per-probe
    val codes = codesFrame(spark, indexDir, Some(cells.toSet), codesVer)
      .filter(col("cluster").isin(cells.toSeq: _*))
    pqs match {
      case Some((_, m, _, k)) =>
        SimilarityOps.ivfPqSearchCodes(codes, qprobes, corpus, isProbe,
          m, k, topK, rerankK, broadcastProbes)
      case None =>
        SimilarityOps.ivfSearchCodes(codes, qprobes, corpus, isProbe,
          topK, rerankK, broadcastProbes)
    }
  }

  /** The codes table resolved through its [[Snapshots]] manifest: the
    * file list is pinned at PLAN time, so a compaction committing
    * between this plan and its execution cannot make the scan
    * reference a deleted file — retired files live one further commit
    * (the grace window) and replaced-but-planned reads stay valid.
    * `cells` additionally prunes the file list to the probed cell
    * directories before Spark ever lists anything (the snapshot twin
    * of the partition-directory pruning the raw path gets from the
    * `cluster` filter). The build commits v1, so a codes dir with no
    * manifest is a crashed build's and is refused like any other. */
  private[apps] def codesFrame(spark: SparkSession, indexDir: String,
                               cells: Option[Set[Long]] = None,
                               version: Option[Int] = None): DataFrame = {
    val root = new Path(s"$indexDir/codes")
    version match {
      // pinned by an outer cross-table group (the hybrid tier): read
      // the named generation, not the newest
      case Some(v) =>
        Snapshots.readTableAt(spark, root, v, cells.map(("cluster", _)))
      case None =>
        Snapshots.readTable(spark, root, cells.map(("cluster", _)))
    }
  }

  /** Append `delta` vectors against the frozen codebook. Idempotent
    * under replay; refuses a watermark-straddling delta. Holds the
    * single-writer lock for the whole staging+publish+compaction span —
    * a second concurrent appender fails loudly instead of interleaving
    * staging deletes ([[StagedCommit.withWriterLock]]). */
  def append(spark: SparkSession, delta: DataFrame,
             indexDir: String): Unit = {
    val fs = new Path(indexDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    StagedCommit.withWriterLock(fs, new Path(indexDir)) {
      StagedCommit.heal(fs, staging(indexDir))
      Snapshots.heal(fs, new Path(s"$indexDir/codes"))
      // a torn PREVIOUS append may have published (watermark advanced)
      // but crashed before its snapshot commit — its files are visible
      // yet unlisted, and the early returns below would otherwise skip
      // the commit that adopts them, leaving serving reads blind to
      // the appended vectors until an unrelated later write
      // an adoption means that torn append never ran ITS compaction —
      // later appends only check their own touched cells, so restore
      // the at-rest file bound table-wide (same fix as TextIndexApp)
      if (Snapshots.adoptUnlisted(fs, new Path(s"$indexDir/codes")))
        compactIndex(spark, fs, indexDir, touched = None)
      if (delta.isEmpty) return // nothing to apply (and min/max would be null)
      val maxBase = spark.read.parquet(s"$indexDir/meta")
        .agg(max(col("max_vec_id"))).head.getLong(0)
      val mm = delta.agg(min(col("vec_id")), max(col("vec_id"))).head
      val (minDelta, maxDelta) = (mm.getLong(0), mm.getLong(1))
      if (maxDelta <= maxBase) return // replayed, fully-applied batch
      require(minDelta > maxBase,
        s"delta vec_ids must exceed the indexed max ($minDelta <= $maxBase)")
      // appends land on the HEAD layout, so they encode against the
      // head's trained generation (post-retrain: the new books)
      val gen = trainedGenOf(fs, indexDir)
      val cents = spark.read.parquet(
        s"${trainedDir(indexDir, gen)}/centroids")
      val stg = staging(indexDir)
      fs.delete(stg, true)
      // the delta encodes against the index's FROZEN books (coarse and,
      // in the IVFADC flavor, PQ) — encode is a pure per-vector
      // function of them, which is what makes append == rebuild
      val deltaCodes = pqState(spark, indexDir, gen) match {
        case Some((cb, m, subDim, _)) =>
          SimilarityOps.ivfPqCodes(delta, cents, cb, m, subDim)
        case None => SimilarityOps.ivfCodes(delta, cents)
      }
      writeCodes(deltaCodes, s"$stg/idx/codes")
      delta.agg(max(col("vec_id")).as("max_vec_id"))
        .write.mode("overwrite").parquet(s"$stg/idx/meta")
      // the cell dirs this append touched, read off the STAGED layout
      // before publish moves it — scopes compaction's trigger check to
      // O(touched) listings instead of every cell dir per micro-batch
      val touched = Compaction
        .partitionDirs(fs, new Path(s"$stg/idx/codes")).map(_.getName)
      StagedCommit.publish(fs, stg, Seq("idx" -> indexDir),
        lastFragment = "/meta/")
      // register the delta's files in the next snapshot (a crash
      // between publish and here is safe: commit adopts unlisted
      // visible files as data, and the watermark makes the replay a
      // no-op). This commit also ends the PREVIOUS compaction's grace
      // window — its retired files are deleted now, one full commit
      // after they left the readable set.
      Snapshots.commit(fs, new Path(s"$indexDir/codes"))
      // bounded compaction AFTER the batch is fully applied: every cell
      // dir this append grew past the threshold merges to one file, so
      // file count stays flat under unbounded streaming appends instead
      // of linear in micro-batch count. A crash here is healed (same
      // staging, same manifest machinery) before the next append reads.
      compactIndex(spark, fs, indexDir, Some(touched))
    }
  }

  /** TEST-ONLY crash injection: die after the new generation's books
    * are trained and persisted but before any codes re-encode/install
    * — stage 1 of the retrain's two crash windows (stage 2, the torn
    * install, is driven via [[StagedCommit.crashAfterMoves]]). */
  private[apps] var crashAfterRetrainBooks: Boolean = false

  /** STAGED ONLINE RE-TRAIN (r13 verdict task #3) — the vector twin of
    * the text index's online [[TextIndexApp.rebucket]], for the knob
    * that is BY NATURE a rebuild: kCells is trained geometry
    * (centroids), so widening it means re-training and re-encoding
    * every vector. The full re-encode is the irreducible cost; what
    * this buys is doing it LIVE, against a served index, with no
    * offline window:
    *
    *  - codebook v(gen+1) (and, for the IVFADC flavor, PQ books) is
    *    trained and persisted BESIDE the live index under
    *    `trained/g<gen+1>/` — inert until referenced, so a crash here
    *    leaves the index byte-identical;
    *  - the corpus is re-encoded against the new books and staged; the
    *    new layout installs all-or-nothing through [[StagedCommit]]
    *    and flips in ONE snapshot commit whose `trainedgen` line names
    *    the books that encoded it ([[Snapshots.settings]] — the
    *    manifest-rides-the-geometry convention of
    *    [[graft.sinks.Sinks.rebucket]]);
    *  - a reader planned before the flip (head or group-pinned)
    *    executes the complete OLD layout with the OLD books; one
    *    planned after sees the complete new pair — never centroids of
    *    one generation against codes of another (the torn-read the
    *    r13 verdict's commitGroup sketch needed a group advance for;
    *    riding the codes manifest makes the flip single-rename-atomic
    *    and pins compose for free: a hybrid group pinning `codes`
    *    pins the books THROUGH it);
    *  - a crash at any stage heals at the next writer entry to exactly
    *    old-everything or new-everything — the pending journal carries
    *    the generation, so even a healed flip pairs layout and books.
    *
    * PURE RE-ENCODE contract: `corpus` must be the indexed corpus
    * (same watermark — append new vectors first, retract before or
    * after); enforced against the meta watermark. Prior generations'
    * books stay in place for pinned readers (kilobytes; see
    * [[trainedDir]]). `pq = None` INHERITS the current flavor — an
    * IVFADC index re-trains its PQ books at the inherited geometry
    * (changing flavor is a [[build]] decision); pass a geometry to
    * change the PQ shape alongside the cells. */
  def retrain(spark: SparkSession, corpus: DataFrame, indexDir: String,
              kCells: Int, iters: Int,
              pq: Option[PqGeometry] = None): Unit = {
    val fs = new Path(indexDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    StagedCommit.withWriterLock(fs, new Path(indexDir)) {
      // writer-entry discipline (same as append): finish or discard a
      // torn previous install, complete a journaled flip, adopt a torn
      // append's unlisted files
      StagedCommit.heal(fs, staging(indexDir))
      val codesRoot = new Path(s"$indexDir/codes")
      Snapshots.heal(fs, codesRoot)
      if (Snapshots.adoptUnlisted(fs, codesRoot))
        compactIndex(spark, fs, indexDir, touched = None)
      require(fs.exists(new Path(s"$indexDir/meta")),
        s"retrain requires a built index at $indexDir")
      val maxBase = spark.read.parquet(s"$indexDir/meta")
        .agg(max(col("max_vec_id"))).head.getLong(0)
      val cAgg = corpus.agg(max(col("vec_id")), count(lit(1))).head
      val (maxCorpus, nCorpus) = (cAgg.getLong(0), cAgg.getLong(1))
      require(maxCorpus == maxBase,
        s"retrain is a pure re-encode: the corpus watermark " +
          s"($maxCorpus) must equal the indexed one ($maxBase) — " +
          "append new vectors first, then retrain (a maintenance " +
          "cycle's fullVecCorpus must include the cycle's own delta)")
      // count identity too (round-14 review): retract keeps the max
      // watermark, so a corpus still carrying RETRACTED vectors passes
      // the max check alone — and the re-encode would write taken-down
      // vectors back into the served index. Count equality catches it
      // (residual risk: a count-preserving substitution — outside the
      // pure-re-encode contract either way).
      val nIndexed = codesFrame(spark, indexDir).count()
      require(nCorpus == nIndexed,
        s"retrain is a pure re-encode: the corpus has $nCorpus vectors " +
          s"but the index holds $nIndexed — a corpus still carrying " +
          "retracted vectors would re-encode takedowns back in; " +
          "rebuild the corpus from the surviving set")
      val curGen = trainedGenOf(fs, indexDir)
      val gen = curGen + 1
      // FLAVOR INHERITANCE (round-14 review): omitting `pq` keeps the
      // index's CURRENT flavor — an IVFADC index re-trains its PQ
      // books at the inherited (m, subDim, k) with this call's iters.
      // The old default (None = int8) silently downgraded an IVFADC
      // index whose operator widened kCells and forgot the argument —
      // a recall/latency class change with no error. Changing flavor
      // is a rebuild decision ([[build]]), not a retrain default.
      val effPq = pq.orElse(pqState(spark, indexDir, curGen)
        .map { case (_, m, subDim, k) => PqGeometry(m, subDim, k, iters) })
      val books = trainedDir(indexDir, gen)
      // a crashed previous attempt's books at this generation are
      // inert (no committed manifest references them) — rebuild them
      fs.delete(new Path(books), true)
      val sample = trainingSample(corpus, kCells, effPq, nCorpus)
      SimilarityOps.kmeansCodebook(sample, kCells, iters)
        .write.mode("overwrite").parquet(s"$books/centroids")
      writeKMeta(spark, kCells, books)
      effPq.foreach(g => writePqBooks(spark, sample, g, books))
      if (crashAfterRetrainBooks) throw new IllegalStateException(
        "injected crash: retrain books persisted, codes not re-encoded")
      val cents = spark.read.parquet(s"$books/centroids")
      val stg = staging(indexDir)
      fs.delete(stg, true)
      val codes = pqState(spark, indexDir, gen) match {
        case Some((cb, m, subDim, _)) =>
          SimilarityOps.ivfPqCodes(corpus, cents, cb, m, subDim)
        case None => SimilarityOps.ivfCodes(corpus, cents)
      }
      writeCodes(codes, s"$stg/rt/codes")
      val stagedRoot = new Path(s"$stg/rt/codes")
      val moves = Compaction.partitionDirs(fs, stagedRoot).flatMap { d =>
        Compaction.visibleFiles(fs, d).map { f =>
          val rel = s"${d.getName}/${f.getPath.getName}"
          (rel, StagedCommit.Move(f.getPath, new Path(codesRoot, rel)))
        }
      }
      // journal BEFORE the install (replaced = every current file; the
      // generation rides the journal so a crash-healed retrain still
      // flips books and layout together), install all-or-nothing,
      // commit — the flip
      val cur = Snapshots.currentFiles(fs, codesRoot).getOrElse(Nil)
      Snapshots.writePending(fs, codesRoot, replaced = cur,
        merged = moves.map(_._1),
        settings = Snapshots.Settings(trainedGen = Some(gen)))
      StagedCommit.publishOps(fs, stg, moves.map(_._2))
      Snapshots.commitPending(fs, codesRoot)
    }
  }

  /** Default target ROW COUNT of one IVF cell — the serving-latency
    * bound the [[autoRetrain]] policy maintains. A probe scans nprobe
    * cells, so per-probe candidate work is nprobe × rowsPerCell; 4096
    * keeps a default nprobe=4 probe at ≈16k codes (a milliseconds-
    * class columnar scan) while the codebook (≈ rows/4096 centroids)
    * stays broadcast-size up to ~10⁹ vectors. The hybrid-widen probe's
    * measured point sits on this line (PLANS.md round 14): 2 M rows at
    * 512 cells ≈ 3.9k rows/cell cut the 1000×-corpus warm fused
    * latency from 6.64 s to 4.71 s. */
  val DefaultRowsPerCell: Long = 4096L

  /** AUTO-RETRAIN policy — the dense arm's twin of [[graft.sinks
    * .Sinks.autoWiden]]/[[TextIndexApp.autoWiden]], for the geometry
    * knob that is BY NATURE a rebuild (see [[retrain]]): consult
    * rows-per-cell over the pinned codes snapshot (footer-only count)
    * against `targetRowsPerCell` and [[retrain]] to the recommendation
    * when it exceeds the current cell count by
    * [[graft.sinks.Sinks.WidenFactor]]. Never narrows. Returns the new cell count when it
    * re-trained.
    *
    * `corpus` is an explicit REQUIRED dependency because a retrain
    * re-encodes every vector — there is no cheap re-route here, and an
    * API that pretended otherwise would hide a full-corpus pass behind
    * a maintenance flag. The hysteresis bounds the amortized cost at
    * ≤ one re-encode per doubling of the corpus — the standard
    * grow-by-doubling amortization — and the whole pass runs OFF the
    * serving path (pinned readers flip at the group advance).
    * The PQ flavor is inherited ([[retrain]]'s `pq = None`). */
  def autoRetrain(spark: SparkSession, corpus: DataFrame, indexDir: String,
                  targetRowsPerCell: Long = DefaultRowsPerCell,
                  iters: Int = 4): Option[Int] = {
    require(targetRowsPerCell > 0,
      s"target rows per cell must be positive (got $targetRowsPerCell)")
    val fs = new Path(indexDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(s"$indexDir/meta"))) return None
    // an unreadable codes table SKIPS this cycle LOUDLY instead of
    // silently computing rows=0 (which would disable the policy
    // forever on a persistent fault — the serving-latency regression
    // it exists to prevent); the tolerated case is the unlocked
    // advisory race with a concurrent commit, which the next cycle
    // retries (round-14 review)
    val rows = scala.util.Try(codesFrame(spark, indexDir).count()) match {
      case scala.util.Success(n) => n
      case scala.util.Failure(e) =>
        System.err.println(s"[graft.vecindex] autoRetrain skipped this " +
          s"cycle: codes count failed under $indexDir: ${e.getMessage}")
        return None
    }
    // compare against the REQUESTED cell count, not the achieved one:
    // k-means drops empty clusters, so a duplicate-heavy corpus can
    // achieve 1 cell no matter the request — measuring the achieved
    // count would re-trigger a futile full re-encode every cycle
    // (round-14 review; [[writeKMeta]])
    val gen = trainedGenOf(fs, indexDir)
    val cur = requestedCells(spark, trainedDir(indexDir, gen))
    val rec = graft.sinks.Sinks.unitsFor(rows, targetRowsPerCell)
    if (rec >= cur * graft.sinks.Sinks.WidenFactor) {
      retrain(spark, corpus, indexDir, kCells = rec, iters = iters)
      Some(rec)
    } else None
  }

  /** Merge every codes cell dir (and the meta dir) holding more than
    * [[Compaction.DefaultMaxFiles]] small files down to one, preserving
    * the in-file vec_id clustering that makes row-group stats skip.
    * `touched` scopes the trigger check to the cell dirs one append
    * grew (every growth is a touch, so an untouched dir is already at
    * its last-touch bound); `None` checks everything. */
  private[apps] def compactIndex(spark: SparkSession,
                                 fs: org.apache.hadoop.fs.FileSystem,
                                 indexDir: String,
                                 touched: Option[Seq[String]] = None): Unit =
    Compaction.compact(spark, fs, staging(indexDir), Seq(
      // codes: snapshot-managed — serving queries plan against the
      // snapshot's file list, so the merge must retire (not delete)
      Compaction.Group(
        touched match {
          case Some(names) => names.map(n => new Path(s"$indexDir/codes/$n"))
          case None =>
            Compaction.partitionDirs(fs, new Path(s"$indexDir/codes"))
        },
        Seq(col("vec_id")),
        snapshotRoot = Some(new Path(s"$indexDir/codes"))),
      // meta: raw Del+Move is fine — its only readers are writers, and
      // they hold the single-writer lock
      Compaction.Group(Seq(new Path(s"$indexDir/meta")),
        Seq(col("max_vec_id")))))

  /** Retract vectors (takedown): rewrites ONLY the cell files holding
    * the targets, in one job, through [[SurgicalRewrite]]'s aside-swap.
    * Discovery is a narrow (vec_id) scan with a pushed filter — the
    * in-partition vec_id sort below makes row-group min/max stats do
    * the skipping. The meta watermark is NOT lowered: a retracted id
    * can never re-enter (monotone ingest), matching the release's
    * takedown-is-a-verdict semantic. */
  def retract(spark: SparkSession, vecIds: Seq[Long],
              indexDir: String): Unit = {
    if (vecIds.isEmpty) return
    val fs = new Path(indexDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    StagedCommit.withWriterLock(fs, new Path(indexDir)) {
      // finish any torn append first — a target in a staged-but-unmoved
      // file would dodge discovery and re-enter on the next heal — and
      // repair any torn swap from a crashed PREVIOUS retraction, whose
      // dark rows would likewise dodge the discovery scan below. The
      // heal walk is gated on the crashed rewrite's marker (its tmp dir
      // is removed only after every swap completes), so the common
      // no-crash takedown never pays an O(index) recursive listing.
      StagedCommit.heal(fs, staging(indexDir))
      val codesRoot = new Path(s"$indexDir/codes")
      Snapshots.heal(fs, codesRoot)
      // flush the snapshot's pending retirements: discovery below is a
      // RAW directory scan, and a retired-but-not-yet-deleted merge
      // source would show its rows twice (and get pointlessly
      // rewritten). Ending the grace window early here is the
      // documented takedown trade — a takedown is a scheduled
      // maintenance op, not a serving-path event.
      Snapshots.commit(fs, codesRoot)
      val tmpDir = s"$indexDir/_retract"
      if (fs.exists(new Path(tmpDir)))
        SurgicalRewrite.heal(fs, new Path(s"$indexDir/codes"))
      // small takedowns stay a pushed In-filter; large ones run as a
      // broadcast semi-join (discovery) / anti-join (rewrite) so the
      // expression tree never grows with the takedown size
      val hit = SurgicalRewrite.hitFiles(
        spark.read.parquet(s"$indexDir/codes"), vecIds, "vec_id")
      SurgicalRewrite.rewrite(spark, hit, tmpDir,
        SurgicalRewrite.excluding(_, vecIds, "vec_id"), Seq(col("vec_id")))
      // survivors keep their file NAMES (SurgicalRewrite installs the
      // replacement at the original path), but a file whose every row
      // was retracted VANISHES — re-commit so the snapshot never lists
      // a vanished file. In-place swaps keep the documented mid-swap
      // window for the touched files only (same trade as above).
      Snapshots.commit(fs, codesRoot)
      ()
    }
  }

  /** The codes table layout: one exchange on the partition key (without
    * it every task writes a sliver of every cell — O(tasks × cells)
    * small files), rows clustered by vec_id inside each cell so pushed
    * vec_id filters (retraction discovery, point lookups) skip
    * row-groups via parquet min/max stats. */
  private def writeCodes(codes: DataFrame, dest: String): Unit =
    codes
      .repartition(col("cluster"))
      .sortWithinPartitions(col("cluster"), col("vec_id"))
      .write.mode("overwrite").partitionBy("cluster").parquet(dest)

  /** Streaming ingestion: every micro-batch of new vectors appends
    * incrementally — the index is valid, queryable state after each
    * batch. Bootstrap with [[build]] over the backfill first. */
  def stream(vectors: DataFrame, indexDir: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    vectors.writeStream
      .option("checkpointLocation", checkpoint)
      // no empty-batch pre-check: append() no-ops on an empty delta
      // itself, and calling it unconditionally lets an empty batch
      // heal a torn previous append immediately
      .foreachBatch { (batch: DataFrame, _: Long) =>
        append(batch.sparkSession, batch, indexDir)
      }
      .start()

  private def staging(indexDir: String): Path =
    new Path(s"$indexDir/_staging")

  /** Usage: `runMain graft.apps.VectorIndexApp <sfDir> <indexDir>` —
    * builds the index over the embeddings table and smoke-queries it. */
  def main(args: Array[String]): Unit = {
    val Array(sfDir, indexDir) = args
    val spark = graft.GraftSession.local("graft-vector-index")
    try {
      val corpus = graft.sources.Tables.embeddings(spark, sfDir)
      build(spark, corpus, indexDir, kCells = 16, iters = 2)
      val n = query(spark, corpus, indexDir, col("vec_id") < 10,
        topK = 10, nprobe = 2, rerankK = 20).count()
      println(s"[vector-index] built at $indexDir; smoke query rows: $n")
    } finally spark.stop()
  }
}
