package graft.apps

import java.nio.file.Files

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** ONLINE re-routing of the text index's term router
  * ([[TextIndexApp.rebucket]]) — the knob the round-13 1000× serving
  * probe motivated: warm fused latency grew 2.5× across three decades
  * of corpus at FROZEN geometry, and the router used to be frozen at
  * build. Pinned here:
  *
  *  - results are IDENTICAL across a rebucket (BM25 never depended on
  *    the router — only pruning does) and later appends route with
  *    the new count, exactly like a fresh build at that count;
  *  - count and layout flip in ONE commit (the manifest `nbuckets`
  *    line — the [[graft.sinks.Sinks.rebucket]] convention), and a
  *    GROUP-PINNED query planned across the rebucket prunes with the
  *    geometry of the generation it reads, not the head's;
  *  - a crash at every stage (staged-not-committed; mid-install)
  *    heals at the next writer entry to exactly old-everything or
  *    new-everything — the torn window serves the old generation. */
class TextIndexRebucketSpec extends SparkSpec {
  import spark.implicits._

  private def fs = new Path("/").getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  private def textOf(id: Long): String = {
    val a = id % 7; val b = (id / 7) % 7; val c = id % 13; val d = id % 5
    s"alpha w$a w$b w$c common w$d w$a tail${id % 3}"
  }
  private def docsOf(ids: Seq[Long]): DataFrame =
    ids.map(i => (i, textOf(i))).toDF("doc_id", "text")
  private def probesOf(ids: Seq[Long]): DataFrame =
    docsOf(ids).select(col("doc_id").as("q_id"), col("text"))
  private def rows(df: DataFrame): Set[(Long, Long, Int, Double)] =
    df.select(col("q_id"), col("doc_id"), col("rnk"), col("bm25"))
      .as[(Long, Long, Int, Double)].collect().toSet

  private val probeIds = (0L until 4L).toSeq
  private def countOf(idx: String): Option[Int] =
    Snapshots.settings(fs, new Path(s"$idx/postings")).nbuckets

  test("rebucket preserves results, reroutes appends, and flips count+layout in one commit") {
    val idx = Files.createTempDirectory("tidx-reb").toString
    val baseIds = (0L until 120L).toSeq
    TextIndexApp.build(spark, docsOf(baseIds), idx, nBuckets = 8)
    assert(countOf(idx).contains(8), "build must stamp the manifest count")
    val pre = rows(TextIndexApp.query(spark, probesOf(probeIds), idx, 5))

    TextIndexApp.rebucket(spark, idx, 32)
    assert(countOf(idx).contains(32), "count must ride the rebucket commit")
    // the layout really moved: some postings live in buckets >= 8,
    // unreachable under the old modulus
    assert(Snapshots.readTable(spark, new Path(s"$idx/postings"))
      .filter(col("bucket") >= 8).count() > 0,
      "rebucket produced no bucket the old modulus could not")
    assert(rows(TextIndexApp.query(spark, probesOf(probeIds), idx, 5)) == pre,
      "results changed across a pure re-routing")

    // idempotent: same count = no version churn
    val vBefore = Snapshots.currentFiles(fs, new Path(s"$idx/postings"))
    TextIndexApp.rebucket(spark, idx, 32)
    assert(Snapshots.currentFiles(fs, new Path(s"$idx/postings")) == vBefore,
      "a same-count rebucket must be a no-op")

    // appends route with the NEW count; the result equals a fresh
    // build at 32 — and a fresh build at 8 (geometry-independence)
    val delta = (120L until 140L).toSeq
    TextIndexApp.append(spark, docsOf(delta), idx)
    val all = baseIds ++ delta
    Seq(8, 32).foreach { n =>
      val fresh = Files.createTempDirectory(s"tidx-reb-f$n").toString
      TextIndexApp.build(spark, docsOf(all), fresh, nBuckets = n)
      assert(rows(TextIndexApp.query(spark, probesOf(probeIds), idx, 5)) ==
        rows(TextIndexApp.query(spark, probesOf(probeIds), fresh, 5)),
        s"post-rebucket append diverged from a fresh build at $n buckets")
    }
  }

  test("a group-pinned query across a rebucket prunes with the pinned generation's geometry") {
    def vecsOf(ids: Seq[Long]): DataFrame =
      ids.toDF("vec_id").select(col("vec_id"),
        array((0 until 4).map(i =>
          (pmod(col("vec_id") * (7 * i + 3), lit(997)).cast("float") / lit(997f))
            + lit(0.01f)): _*).cast("array<float>").as("embedding"))
    val work = Files.createTempDirectory("tidx-reb-grp").toString
    val (textIdx, vecIdx, grp) = (s"$work/text", s"$work/vec", s"$work/_grp")
    val ids = (0L until 120L).toSeq
    TextIndexApp.build(spark, docsOf(ids), textIdx, nBuckets = 8)
    VectorIndexApp.build(spark, vecsOf(ids), vecIdx, kCells = 4, iters = 2)
    HybridSearchApp.commitGroup(spark, textIdx, vecIdx, grp)
    def grouped() = HybridSearchApp.query(spark, probeIds,
      docsOf(ids), vecsOf(ids), textIdx, vecIdx,
      topK = 5, armK = 20, k0 = 60, nprobe = 2, rerankK = 40,
      groupDir = Some(grp))
    def gRows(df: DataFrame) = df.as[(Long, Long, Int, Double)].collect().toSet
    val pre = gRows(grouped())

    // a single-index writer re-routes the text arm mid-generation: the
    // hybrid group still names the 8-bucket generation, and the pinned
    // query must read it with the 8-bucket modulus — the HEAD count
    // (32) would prune the wrong directories and silently drop terms
    TextIndexApp.rebucket(spark, textIdx, 32)
    assert(countOf(textIdx).contains(32))
    assert(gRows(grouped()) == pre,
      "a group-pinned query read the old layout with the new modulus")

    // the advance publishes the re-routed generation; still identical
    // results (routing is invisible to BM25), now at the new geometry
    HybridSearchApp.commitGroup(spark, textIdx, vecIdx, grp)
    assert(gRows(grouped()) == pre,
      "results changed across the advance of a pure re-routing")
  }

  test("a crash at every rebucket stage heals to old-everything or new-everything") {
    val idx = Files.createTempDirectory("tidx-reb-crash").toString
    val baseIds = (0L until 120L).toSeq
    TextIndexApp.build(spark, docsOf(baseIds), idx, nBuckets = 8)
    val pre = rows(TextIndexApp.query(spark, probesOf(probeIds), idx, 5))

    // stage A: staged but never committed — nothing published; the
    // next writer entry discards the staging and the retried rebucket
    // completes
    StagedCommit.crashBeforeCommit = true
    try intercept[IllegalStateException] {
      TextIndexApp.rebucket(spark, idx, 32)
    } finally StagedCommit.crashBeforeCommit = false
    assert(countOf(idx).contains(8), "an uncommitted rebucket leaked its count")
    assert(rows(TextIndexApp.query(spark, probesOf(probeIds), idx, 5)) == pre)
    TextIndexApp.rebucket(spark, idx, 32)
    assert(countOf(idx).contains(32))
    assert(rows(TextIndexApp.query(spark, probesOf(probeIds), idx, 5)) == pre)

    // stage B: mid-install — the commit manifest froze the op set, a
    // few moves landed, the snapshot commit never ran. The torn window
    // still serves the OLD (group-pinned) generation with the OLD
    // modulus; the next writer entry finishes the install and the
    // journaled commit flips count+layout together.
    StagedCommit.crashAfterMoves = 3
    try intercept[IllegalStateException] {
      TextIndexApp.rebucket(spark, idx, 64)
    } finally StagedCommit.crashAfterMoves = Int.MaxValue
    assert(countOf(idx).contains(32),
      "a torn install leaked its count before the snapshot commit")
    assert(rows(TextIndexApp.query(spark, probesOf(probeIds), idx, 5)) == pre,
      "the torn-install window served a mixed layout")
    TextIndexApp.append(spark, docsOf(Nil).limit(0), idx) // heal-only entry
    assert(countOf(idx).contains(64),
      "the healed rebucket did not flip the count with the layout")
    assert(rows(TextIndexApp.query(spark, probesOf(probeIds), idx, 5)) == pre,
      "the healed rebucket changed results")
  }
}
