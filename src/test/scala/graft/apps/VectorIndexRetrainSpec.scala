package graft.apps

import java.nio.file.Files

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** STAGED ONLINE RE-TRAIN of the vector index
  * ([[VectorIndexApp.retrain]], r13 verdict task #3) — kCells is
  * trained geometry, so widening it is re-training + re-encoding; the
  * retrain does that LIVE, beside the served index, and flips books +
  * layout in ONE codes-manifest rename (the `trainedgen` line — the
  * [[Snapshots.settings]] pattern). Pinned here:
  *
  *  - a retrained index equals a FRESH BUILD at the new geometry
  *    (training is deterministic), and later appends encode against
  *    the new generation's books;
  *  - a group-pinned query planned across the flip reads the pinned
  *    layout WITH the books that encoded it — never the head's (the
  *    books generation rides the pinned codes version);
  *  - a crash at every stage (books persisted / install torn / staged
  *    but uncommitted) heals at the next writer entry to exactly
  *    old-everything or new-everything. */
class VectorIndexRetrainSpec extends SparkSpec {
  import spark.implicits._

  private def fs = new Path("/").getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  private val (topK, nprobe, rerankK) = (5, 2, 10)

  /** Deterministic 8-dim corpus — dim divisible by the PQ sub-block. */
  private def vecsOf(ids: Seq[Long]): DataFrame =
    ids.toDF("vec_id").select(col("vec_id"),
      array((0 until 8).map(i =>
        (pmod(col("vec_id") * (7 * i + 3) + i * i, lit(997)).cast("float")
          / lit(997f)) + lit(0.01f)): _*)
        .cast("array<float>").as("embedding"))

  private val baseIds = (0L until 300L).toSeq
  private def corpus = vecsOf(baseIds)

  private def rows(df: DataFrame) =
    df.select(col("q_id"), col("vec_id"), col("rank"), col("cos_sim"))
      .as[(Long, Long, Int, Double)].collect().toSet

  private def q(idx: String, c: DataFrame = corpus,
                pinned: Option[Int] = None) =
    rows(VectorIndexApp.query(spark, c, idx, col("vec_id") < 5,
      topK, nprobe, rerankK, pinnedCodes = pinned))

  private def genOf(idx: String): Option[Int] =
    Snapshots.settings(fs, new Path(s"$idx/codes")).trainedGen

  test("retrain equals a fresh build at the new geometry; appends encode against the new books") {
    val idx = Files.createTempDirectory("vidx-rt").toString
    VectorIndexApp.build(spark, corpus, idx, kCells = 4, iters = 2)
    assert(genOf(idx).isEmpty, "a fresh build must be generation 0")

    VectorIndexApp.retrain(spark, corpus, idx, kCells = 8, iters = 2)
    assert(genOf(idx).contains(1), "the flip must stamp the generation")
    val fresh8 = Files.createTempDirectory("vidx-rt-f8").toString
    VectorIndexApp.build(spark, corpus, fresh8, kCells = 8, iters = 2)
    assert(q(idx) == q(fresh8),
      "retrained index diverged from a fresh build at the new geometry")

    // idempotent re-run refuses nothing and re-flips to generation 2
    // with identical results (same corpus, same training)
    VectorIndexApp.retrain(spark, corpus, idx, kCells = 8, iters = 2)
    assert(genOf(idx).contains(2))
    assert(q(idx) == q(fresh8))

    // appends land on the head layout and must encode against the NEW
    // books — the in-memory v7 operator with the new codebook is the
    // oracle (a fresh build over corpus ∪ delta would re-train on the
    // union; append == rebuild only holds at a FIXED codebook)
    val delta = vecsOf(300L until 340L).localCheckpoint(true)
    VectorIndexApp.append(spark, delta, idx)
    val all = vecsOf(baseIds ++ (300L until 340L)).localCheckpoint(true)
    val cents = spark.read.parquet(s"${idx}/trained/g2/centroids")
    val want = rows(graft.operators.SimilarityOps.ivfQuantizedAnn(
      all, cents, col("vec_id") < 5, topK, nprobe, rerankK))
    assert(q(idx, all) == want,
      "a post-retrain append did not encode against the new books")

    // a retrain against a stale corpus (missing the appended ids)
    // refuses loudly instead of silently dropping vectors
    val e = intercept[IllegalArgumentException] {
      VectorIndexApp.retrain(spark, corpus, idx, kCells = 4, iters = 2)
    }
    assert(e.getMessage.contains("watermark"), e.getMessage)
  }

  test("a group-pinned query across the flip reads the pinned layout with ITS books") {
    def textOf(id: Long): String =
      s"alpha w${id % 7} w${(id / 7) % 7} common w${id % 5} tail${id % 3}"
    def docsOf(ids: Seq[Long]): DataFrame =
      ids.map(i => (i, textOf(i))).toDF("doc_id", "text")
    val work = Files.createTempDirectory("vidx-rt-grp").toString
    val (tIdx, vIdx, grp) = (s"$work/text", s"$work/vec", s"$work/grp")
    TextIndexApp.build(spark, docsOf(baseIds), tIdx, nBuckets = 8)
    VectorIndexApp.build(spark, corpus, vIdx, kCells = 4, iters = 2)
    HybridSearchApp.commitGroup(spark, tIdx, vIdx, grp)
    def grouped() = HybridSearchApp.query(spark, (0L until 4L).toSeq,
        docsOf(baseIds), corpus, tIdx, vIdx,
        topK = 5, armK = 20, k0 = 60, nprobe = 2, rerankK = 40,
        groupDir = Some(grp))
      .as[(Long, Long, Int, Double)].collect().toSet
    val pre = grouped()

    // a single-index writer retrains the dense arm mid-generation: the
    // hybrid group still names the generation-0 codes version, and the
    // pinned query must assign/scan with generation-0 books — pairing
    // the old layout with the NEW books would score against centroids
    // that never saw these codes
    VectorIndexApp.retrain(spark, corpus, vIdx, kCells = 8, iters = 2)
    assert(genOf(vIdx).contains(1))
    assert(grouped() == pre,
      "a group-pinned query mixed generations across the retrain flip")

    // the advance publishes the retrained generation: now it must
    // equal a from-scratch pair built at the new geometry
    HybridSearchApp.commitGroup(spark, tIdx, vIdx, grp)
    val ref = Files.createTempDirectory("vidx-rt-ref").toString
    val (tR, vR, gR) = (s"$ref/text", s"$ref/vec", s"$ref/grp")
    TextIndexApp.build(spark, docsOf(baseIds), tR, nBuckets = 8)
    VectorIndexApp.build(spark, corpus, vR, kCells = 8, iters = 2)
    HybridSearchApp.commitGroup(spark, tR, vR, gR)
    val want = HybridSearchApp.query(spark, (0L until 4L).toSeq,
        docsOf(baseIds), corpus, tR, vR,
        topK = 5, armK = 20, k0 = 60, nprobe = 2, rerankK = 40,
        groupDir = Some(gR))
      .as[(Long, Long, Int, Double)].collect().toSet
    assert(grouped() == want,
      "the advanced group diverged from a fresh pair at the new geometry")
  }

  test("a crash at every retrain stage heals to old-everything or new-everything") {
    val idx = Files.createTempDirectory("vidx-rt-crash").toString
    VectorIndexApp.build(spark, corpus, idx, kCells = 4, iters = 2)
    val pre = q(idx)
    def healEntry(): Unit = // any writer entry heals; an empty append is one
      VectorIndexApp.append(spark, corpus.filter(lit(false)), idx)

    // stage 1: books persisted, nothing re-encoded — the index is
    // byte-identical; the retry completes
    VectorIndexApp.crashAfterRetrainBooks = true
    try intercept[IllegalStateException] {
      VectorIndexApp.retrain(spark, corpus, idx, kCells = 8, iters = 2)
    } finally VectorIndexApp.crashAfterRetrainBooks = false
    assert(genOf(idx).isEmpty && q(idx) == pre,
      "a books-only crash leaked into the served index")
    VectorIndexApp.retrain(spark, corpus, idx, kCells = 8, iters = 2)
    assert(genOf(idx).contains(1))
    val r8 = q(idx)
    val fresh8 = Files.createTempDirectory("vidx-rt-c8").toString
    VectorIndexApp.build(spark, corpus, fresh8, kCells = 8, iters = 2)
    assert(r8 == q(fresh8))

    // stage 2: torn install — the commit manifest froze the op set, a
    // few moves landed, the snapshot commit never ran. The torn window
    // serves the complete OLD generation; the next writer entry
    // finishes the install and the journaled commit flips books +
    // layout together.
    StagedCommit.crashAfterMoves = 3
    try intercept[IllegalStateException] {
      VectorIndexApp.retrain(spark, corpus, idx, kCells = 16, iters = 2)
    } finally StagedCommit.crashAfterMoves = Int.MaxValue
    assert(genOf(idx).contains(1) && q(idx) == r8,
      "the torn-install window served a mixed generation")
    healEntry()
    assert(genOf(idx).contains(2),
      "the healed flip did not pair the generation with the layout")
    val fresh16 = Files.createTempDirectory("vidx-rt-c16").toString
    VectorIndexApp.build(spark, corpus, fresh16, kCells = 16, iters = 2)
    assert(q(idx) == q(fresh16), "the healed retrain changed results")

    // stage 3: staged but never committed (journal written, no commit
    // manifest) — the entry discipline aborts the journal and discards
    // the staging; the old generation keeps serving
    StagedCommit.crashBeforeCommit = true
    try intercept[IllegalStateException] {
      VectorIndexApp.retrain(spark, corpus, idx, kCells = 4, iters = 2)
    } finally StagedCommit.crashBeforeCommit = false
    healEntry()
    assert(genOf(idx).contains(2) && q(idx) == q(fresh16),
      "an uncommitted retrain leaked")
    // and the retried retrain at 4 equals the ORIGINAL build at 4
    VectorIndexApp.retrain(spark, corpus, idx, kCells = 4, iters = 2)
    assert(genOf(idx).contains(3) && q(idx) == pre,
      "a round-trip retrain (4→8→16→4) did not return to the original")
  }

  test("autoRetrain: stable scale no-ops; crossed rows-per-cell re-trains to the recommendation; hybrid wiring") {
    val idx = Files.createTempDirectory("vidx-art").toString
    VectorIndexApp.build(spark, corpus, idx, kCells = 4, iters = 2)

    // 300 rows / 4 cells = 75 rows/cell: a 100-row target recommends 3
    // cells — inside the 2× hysteresis (and a narrowing), so no-op
    assert(VectorIndexApp.autoRetrain(spark, corpus, idx,
      targetRowsPerCell = 100).isEmpty, "stable scale re-trained")
    assert(genOf(idx).isEmpty)

    // a 16-row target recommends ceil(300/16) = 19 ≥ 2×4: re-trains,
    // and the result equals a fresh build at the recommended count
    assert(VectorIndexApp.autoRetrain(spark, corpus, idx,
      targetRowsPerCell = 16, iters = 2).contains(19))
    assert(genOf(idx).contains(1))
    val fresh = Files.createTempDirectory("vidx-art-f").toString
    VectorIndexApp.build(spark, corpus, fresh, kCells = 19, iters = 2)
    assert(q(idx) == q(fresh),
      "auto-retrained index diverged from a fresh build at the rec")

    // same scale, same target: hysteresis holds (rec 19 < 2×19)
    assert(VectorIndexApp.autoRetrain(spark, corpus, idx,
      targetRowsPerCell = 16, iters = 2).isEmpty,
      "a same-scale consult re-trained")
    assert(genOf(idx).contains(1))

    // hybrid wiring: without fullVecCorpus the cycle never consults
    // the policy; with it, the policy runs after the advance
    def textOf(id: Long): String = s"alpha w${id % 7} common w${id % 5}"
    def docsOf(ids: Seq[Long]): DataFrame =
      ids.map(i => (i, textOf(i))).toDF("doc_id", "text")
    val work = Files.createTempDirectory("vidx-art-grp").toString
    val (tIdx, vIdx, grp) = (s"$work/text", s"$work/vec", s"$work/grp")
    TextIndexApp.build(spark, docsOf(0L until 60L), tIdx, nBuckets = 4)
    VectorIndexApp.build(spark, vecsOf(0L until 60L), vIdx,
      kCells = 2, iters = 2)
    HybridSearchApp.commitGroup(spark, tIdx, vIdx, grp)
    HybridSearchApp.append(spark, docsOf(60L until 80L),
      vecsOf(60L until 80L), tIdx, vIdx, grp)
    assert(genOf(vIdx).isEmpty, "the cycle re-trained without a corpus")
    // with the corpus AND a crossed target the cycle itself re-trains
    // (90 rows / 10-row target → 9 cells ≥ 2×2), zero direct calls;
    // the group still pins the pre-retrain generation until the next
    // cycle's advance (the text autoWiden publication contract)
    HybridSearchApp.append(spark, docsOf(80L until 90L),
      vecsOf(80L until 90L), tIdx, vIdx, grp,
      fullVecCorpus = Some(vecsOf(0L until 90L)),
      vecTargetRowsPerCell = 10)
    assert(genOf(vIdx).contains(1), "the cycle did not auto-retrain")
    val freshG = Files.createTempDirectory("vidx-art-gf").toString
    VectorIndexApp.build(spark, vecsOf(0L until 90L), freshG,
      kCells = 9, iters = 4)
    assert(q(vIdx, vecsOf(0L until 90L)) == q(freshG, vecsOf(0L until 90L)),
      "the cycle's auto-retrain diverged from a fresh build at the rec")
  }

  test("retrain refuses a corpus still carrying retracted vectors (takedown stays a verdict)") {
    val idx = Files.createTempDirectory("vidx-rt-ret").toString
    VectorIndexApp.build(spark, corpus, idx, kCells = 4, iters = 2)
    VectorIndexApp.retract(spark, Seq(10L, 11L, 12L), idx)
    // the original corpus passes the MAX watermark check (retract
    // keeps it) — only the count identity catches the re-encode that
    // would write the takedowns back into the served index
    val e = intercept[IllegalArgumentException] {
      VectorIndexApp.retrain(spark, corpus, idx, kCells = 8, iters = 2)
    }
    assert(e.getMessage.contains("retracted"), e.getMessage)
    // the surviving corpus retrains fine and the takedowns stay out
    val surviving = vecsOf(baseIds.filterNot(Set(10L, 11L, 12L)))
    VectorIndexApp.retrain(spark, surviving, idx, kCells = 8, iters = 2)
    assert(genOf(idx).contains(1))
    assert(!q(idx, surviving).exists { case (_, v, _, _) =>
      Set(10L, 11L, 12L)(v) }, "a retracted vector resurfaced")
  }

  test("autoRetrain does not loop on a degenerate (collapsed) codebook") {
    // every embedding identical: k-means assigns all vectors to one
    // cell (tie-break cid asc) and drops the empty clusters, so the
    // ACHIEVED centroid count is 1 whatever the request — the policy
    // must compare against the REQUESTED count or it would pay a full
    // re-encode every cycle forever
    val flat = (0L until 300L).toSeq.toDF("vec_id").select(col("vec_id"),
      array((0 until 8).map(_ => lit(0.5f)): _*)
        .cast("array<float>").as("embedding"))
    val idx = Files.createTempDirectory("vidx-art-deg").toString
    VectorIndexApp.build(spark, flat, idx, kCells = 4, iters = 2)
    assert(spark.read.parquet(s"$idx/centroids").count() == 1,
      "fixture did not collapse the codebook")
    assert(VectorIndexApp.autoRetrain(spark, flat, idx,
      targetRowsPerCell = 16, iters = 2).contains(19))
    assert(genOf(idx).contains(1))
    // same scale again: the request (19) is the comparison base, so
    // the consult no-ops even though only 1 cell was achieved
    assert(VectorIndexApp.autoRetrain(spark, flat, idx,
      targetRowsPerCell = 16, iters = 2).isEmpty,
      "the degenerate codebook re-triggered a retrain")
    assert(genOf(idx).contains(1))
  }

  test("the IVFADC flavor retrains books and codes together; omitted pq INHERITS the flavor") {
    val geo = VectorIndexApp.PqGeometry(m = 2, subDim = 4, k = 8, iters = 2)
    val idx = Files.createTempDirectory("vidx-rt-pq").toString
    VectorIndexApp.build(spark, corpus, idx, kCells = 4, iters = 2,
      pq = Some(geo))
    VectorIndexApp.retrain(spark, corpus, idx, kCells = 8, iters = 2,
      pq = Some(geo))
    assert(genOf(idx).contains(1))
    val fresh = Files.createTempDirectory("vidx-rt-pqf").toString
    VectorIndexApp.build(spark, corpus, fresh, kCells = 8, iters = 2,
      pq = Some(geo))
    assert(q(idx) == q(fresh),
      "PQ retrain diverged from a fresh PQ build at the new geometry")

    // a retrain that OMITS pq must keep the IVFADC flavor (inherited
    // geometry, this call's iters) — the old None-means-int8 default
    // silently changed the index's recall/latency class (round-14
    // review). Identity vs a fresh PQ build at the widened cells.
    VectorIndexApp.retrain(spark, corpus, idx, kCells = 16, iters = 2)
    assert(genOf(idx).contains(2))
    assert(fs.exists(new Path(s"$idx/trained/g2/pqbook")),
      "omitting pq dropped the PQ books — flavor not inherited")
    val fresh16 = Files.createTempDirectory("vidx-rt-pqf16").toString
    VectorIndexApp.build(spark, corpus, fresh16, kCells = 16, iters = 2,
      pq = Some(geo))
    assert(q(idx) == q(fresh16),
      "pq-inheriting retrain diverged from a fresh PQ build")
  }
}
