package graft.apps

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The serving-read isolation contract the snapshot tier buys
  * ([[Snapshots]]): a reader that RESOLVED the codes file list at plan
  * time keeps every resolved file on disk through one full writer
  * cycle (append + publish + compaction + snapshot commit) — physical
  * deletion of a replaced file waits TWO further commits (round 10
  * widened the grace from one commit to two, because a single writer
  * step can legitimately commit twice back-to-back) — so a query
  * planned immediately before or during a compaction never sees
  * FileNotFoundException. This retires the concurrent-reader
  * window Compaction's header documented for raw directory layouts
  * (the r8 verdict's "what's wrong #3"): with raw Del-before-Move a
  * mid-compaction plan could reference a just-deleted small file.
  *
  * Also pinned: snapshot reads are EXACT through a crash inside the
  * compaction install (old manifest + originals — the reader cannot
  * even observe the dark-rows window raw readers had), and the grace
  * window actually ENDS one cycle later (bounded disk, non-vacuous). */
class SnapshotIsolationSpec extends SparkSpec {
  import spark.implicits._

  private val (kCells, topK, nprobe, rerankK) = (4, 3, 2, 5)

  private def vecs(lo: Long, hi: Long): DataFrame =
    spark.range(lo, hi).select(col("id").as("vec_id"),
      array((0 until 4).map(i =>
        (pmod(col("id") * (7 * i + 3), lit(997)).cast("float") / lit(997f))
          + lit(0.01f)): _*).cast("array<float>").as("embedding"))

  private def fs = new Path("/").getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  /** The reader's plan-time resolution: absolute paths of the current
    * snapshot's data files. */
  private def resolve(idx: String): Seq[String] = {
    val root = new Path(s"$idx/codes")
    Snapshots.currentFiles(fs, root).getOrElse(fail("no snapshot"))
      .map(p => new Path(root, p).toString)
  }

  private def readFiles(idx: String, files: Seq[String]): Set[Long] =
    spark.read.option("basePath", s"$idx/codes").parquet(files: _*)
      .select("vec_id").as[Long].collect().toSet

  test("a resolved file list survives one full append+compaction cycle; grace ends at the next") {
    val saved = Compaction.DefaultMaxFiles
    Compaction.DefaultMaxFiles = 2 // compact aggressively
    try {
      val idx = Files.createTempDirectory("snap-iso").toString
      var hi = 120L
      VectorIndexApp.build(spark, vecs(0, hi), idx, kCells, iters = 1)
      def append(n: Long): Unit = {
        VectorIndexApp.append(spark, vecs(hi, hi + n), idx); hi += n
      }
      // reach a steady state where compactions have fired
      (1 to 4).foreach(_ => append(10))

      // the READER plans now: resolve the file list and pin the
      // expected row multiset
      val planned = resolve(idx)
      val expected = readFiles(idx, planned)
      assert(expected == (0L until hi).toSet)

      // ONE full writer cycle commits (append registers its delta,
      // compaction replaces over-threshold files and retires them)
      append(10)

      // every file the reader resolved still exists — the replaced
      // ones are RETIRED (out of new snapshots) but not deleted
      val missing = planned.filterNot(f =>
        Files.exists(Paths.get(new java.net.URI(f).getPath)))
      assert(missing.isEmpty,
        s"reader-resolved files deleted within their grace window: $missing")
      // and the planned read still executes, returning exactly what
      // the reader resolved (append landed AFTER its plan)
      assert(readFiles(idx, planned) == expected,
        "a planned read changed under one concurrent writer cycle")

      // non-vacuity: the cycle did retire something, and the grace is
      // BOUNDED — two further commits physically delete it (two full
      // append cycles cover them regardless of whether each cycle's
      // compaction fires)
      append(10); append(10)
      val gone = planned.filterNot(f =>
        Files.exists(Paths.get(new java.net.URI(f).getPath)))
      assert(gone.nonEmpty,
        "no resolved file was ever replaced — fixture exercised nothing")

      // fresh resolutions see the full, current index
      assert(readFiles(idx, resolve(idx)) == (0L until hi).toSet)
    } finally Compaction.DefaultMaxFiles = saved
  }

  test("snapshot reads are exact through a crash inside the compaction install") {
    val saved = Compaction.DefaultMaxFiles
    Compaction.DefaultMaxFiles = 2
    try {
      val idx = Files.createTempDirectory("snap-crash").toString
      var hi = 120L
      VectorIndexApp.build(spark, vecs(0, hi), idx, kCells, iters = 1)
      // grow files with compaction disabled, so the next compact has work
      Compaction.DefaultMaxFiles = 1000
      (1 to 4).foreach { _ =>
        VectorIndexApp.append(spark, vecs(hi, hi + 10), idx); hi += 10
      }
      Compaction.DefaultMaxFiles = 2
      def snapIds(): Set[Long] =
        VectorIndexApp.codesFrame(spark, idx)
          .select("vec_id").as[Long].collect().toSet
      val pre = snapIds()
      assert(pre == (0L until hi).toSet)

      // crash mid-install: some merged files are in the directories,
      // none are in the snapshot — the reader's view must be IDENTICAL
      // (raw readers see duplicated rows here; snapshot readers see
      // nothing happen at all)
      try {
        StagedCommit.crashAfterMoves = 2
        intercept[IllegalStateException] {
          VectorIndexApp.compactIndex(spark, fs, idx)
        }
      } finally StagedCommit.crashAfterMoves = Int.MaxValue
      assert(snapIds() == pre,
        "a torn compaction changed the snapshot-read row multiset")

      // heal (compact entry heals the install manifest), then the
      // merge completes; the view is still exact
      VectorIndexApp.compactIndex(spark, fs, idx)
      assert(snapIds() == pre, "healed compaction changed the row multiset")
      assert(!Files.exists(Paths.get(s"$idx/codes/_snap/pending")))

      // queries over the soaked index still match the in-memory operator
      val cents = spark.read.parquet(s"$idx/centroids")
      val got = VectorIndexApp.query(spark, vecs(0, hi), idx,
        col("vec_id") < 5, topK, nprobe, rerankK)
        .select("q_id", "vec_id", "rank", "cos_sim")
        .as[(Long, Long, Int, Double)].collect().toSet
      val want = graft.operators.SimilarityOps.ivfQuantizedAnn(vecs(0, hi),
        cents, col("vec_id") < 5, topK, nprobe, rerankK)
        .select("q_id", "vec_id", "rank", "cos_sim")
        .as[(Long, Long, Int, Double)].collect().toSet
      assert(got == want)
    } finally Compaction.DefaultMaxFiles = saved
  }

  test("soak: 20 cycles of resolve-before / read-after, never a missing file") {
    assume(sys.env.contains("GRAFT_SOAK"), "soak opt-in: set GRAFT_SOAK=1")
    val saved = Compaction.DefaultMaxFiles
    Compaction.DefaultMaxFiles = 2
    try {
      val idx = Files.createTempDirectory("snap-soak").toString
      var hi = 100L
      VectorIndexApp.build(spark, vecs(0, hi), idx, kCells, iters = 1)
      (1 to 20).foreach { i =>
        val planned = resolve(idx)
        val expected = readFiles(idx, planned)
        VectorIndexApp.append(spark, vecs(hi, hi + 10), idx); hi += 10
        // the planned read (old snapshot) executes cleanly mid-churn
        assert(readFiles(idx, planned) == expected,
          s"cycle $i: planned read broke under the concurrent cycle")
        // and the fresh view is complete
        assert(readFiles(idx, resolve(idx)) == (0L until hi).toSet,
          s"cycle $i: fresh resolution incomplete")
      }
      // disk stays bounded: raw file count per dir <= data(threshold+
      // graduated) + one cycle's retired-pending — NOT linear in cycles
      val dirs = Files.list(Paths.get(s"$idx/codes")).iterator()
      var max = 0
      dirs.forEachRemaining { d =>
        if (d.getFileName.toString.startsWith("cluster=")) {
          val n = Files.list(d).iterator()
          var c = 0
          n.forEachRemaining(f => if (f.getFileName.toString.endsWith(".parquet")) c += 1)
          max = math.max(max, c)
        }
      }
      assert(max <= 2 * (Compaction.DefaultMaxFiles + 1) + 1,
        s"raw file count $max grew past the deferred-delete bound")
    } finally Compaction.DefaultMaxFiles = saved
  }
}
