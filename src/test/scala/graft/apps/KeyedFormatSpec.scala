package graft.apps

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sinks.Sinks

/** A keyed table has one on-disk format: a snapshot manifest whose head
  * records `nbuckets`. Every keyed write and bucket-pruned read refuses
  * any other layout loudly, naming [[Sinks.upgrade]] and leaving the
  * file tree as it was; `Sinks.upgrade` is the one step that adopts a
  * table an older version wrote, and it is idempotent. The crash
  * journal an older version kept at `_snap/pending` is refused by
  * every keyed write the same way, naming the version that wrote it. */
class KeyedFormatSpec extends SparkSpec {
  import spark.implicits._

  private def fs = new Path("/").getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  private def delta(n: Long): DataFrame =
    (0 until 20).map(k => (k.toLong, n)).toDF("k", "n")

  private def rows(df: DataFrame): Map[Long, Long] =
    df.select("k", "n").collect()
      .map((r: Row) => r.getLong(0) -> r.getLong(1)).toMap

  /** Every file under `parent` (the table and its siblings) with its
    * size. */
  private def tree(parent: String): Set[(String, Long)] = {
    val root = Paths.get(parent)
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => (root.relativize(p).toString, Files.size(p))).toSet
    finally walk.close()
  }

  /** Each keyed call on `dir` (writes only, unless `reads`) throws a
    * message naming `fix`, and the tree under `parent` is unchanged
    * afterwards. */
  private def assertRefused(parent: String, dir: String,
                            fix: String = "Sinks.upgrade",
                            reads: Boolean = true): Unit = {
    val before = tree(parent)
    val calls: Seq[(String, () => Any)] = Seq(
      "upsertCombine" -> (() => Sinks.upsertCombine(spark, delta(10),
        Seq("k"), Seq(sum(col("n")).as("n")), 1L, dir, nBuckets = 8)),
      "upsertKeyed" -> (() => Sinks.upsertKeyed(spark, delta(10),
        Seq("k"), Seq("n"), dir, nBuckets = 8)),
      "readKeyedFor" -> (() => Sinks.readKeyedFor(spark, dir,
        Seq(3L).toDF("k"), Seq("k"))),
      "deleteWhere" -> (() => Sinks.deleteWhere(spark, dir, col("k") < 5)),
      "rebucket" -> (() => Sinks.rebucket(spark, dir, Seq("k"), newN = 2)))
    calls.filter(reads || _._1 != "readKeyedFor").foreach { case (name, call) =>
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains(fix),
        s"$name: wrong refusal: ${e.getMessage}")
      assert(tree(parent) == before, s"$name changed the file tree")
    }
  }

  test("every keyed call refuses a raw table, naming Sinks.upgrade, and changes nothing") {
    val parent = Files.createTempDirectory("kfmt-raw").toString
    val dir = s"$parent/t"
    LegacyTables.writeRawCombined(delta(1), dir, nBuckets = 4)
    assertRefused(parent, dir)
  }

  test("a head manifest that records no bucket count is refused the same way") {
    val parent = Files.createTempDirectory("kfmt-nocount").toString
    val dir = s"$parent/t"
    Sinks.upsertCombine(spark, delta(1), Seq("k"),
      Seq(sum(col("n")).as("n")), 0L, dir, nBuckets = 4)
    val head = new Path(s"$dir/_snap", f"v${
      Snapshots.currentVersion(fs, new Path(dir)).get}%08d")
    val lines = Files.readAllLines(Paths.get(head.toString)).asScala
      .filterNot(_.startsWith("nbuckets "))
    val out = fs.create(head, true) // through Hadoop: keeps its checksum
    try out.write(lines.mkString("\n").getBytes("UTF-8")) finally out.close()
    assert(Snapshots.settings(fs, new Path(dir)).nbuckets.isEmpty)
    assertRefused(parent, dir)
  }

  test("an older version's _snap/pending crash journal is refused by every keyed write, and changes nothing") {
    val parent = Files.createTempDirectory("kfmt-pending").toString
    val dir = s"$parent/t"
    Sinks.upsertCombine(spark, delta(1), Seq("k"),
      Seq(sum(col("n")).as("n")), 0L, dir, nBuckets = 4)
    // the journal an older version's keyed write left when it crashed
    // after journaling, before its snapshot commit
    val out = fs.create(new Path(s"$dir/_snap/pending"), true)
    try out.write(("nbuckets 4\nreplaced __bucket=0/part-0.parquet\n" +
      "merged __bucket=0/part-1.parquet").getBytes("UTF-8"))
    finally out.close()
    assertRefused(parent, dir, fix = "with the version that wrote it",
      reads = false)
    // reads still serve the last committed version
    assert(rows(Sinks.readCombined(spark, dir)) ==
      (0 until 20).map(k => k.toLong -> 1L).toMap)
  }

  test("Sinks.upgrade adopts a raw table with its sidecar count, idempotently; the next write merges exactly") {
    val parent = Files.createTempDirectory("kfmt-up").toString
    val dir = s"$parent/t"
    LegacyTables.writeRawCombined(delta(1), dir, nBuckets = 4)
    Sinks.upgrade(spark, dir)
    assert(Snapshots.settings(fs, new Path(dir)).nbuckets == Some(4))
    assert(!Files.exists(Paths.get(s"$dir.nbuckets")))
    assert(!Files.exists(Paths.get(s"$dir.old")))
    assert(rows(Sinks.readCombined(spark, dir)) ==
      (0 until 20).map(k => k.toLong -> 1L).toMap)
    val adopted = tree(parent)
    Sinks.upgrade(spark, dir)
    assert(tree(parent) == adopted, "a second upgrade changed the tree")
    // a writer passing another count still hashes with the recorded one
    Sinks.upsertCombine(spark, delta(10), Seq("k"),
      Seq(sum(col("n")).as("n")), 1L, dir, nBuckets = 8)
    assert(rows(Sinks.readCombined(spark, dir)) ==
      (0 until 20).map(k => k.toLong -> 11L).toMap)
    assert(Snapshots.settings(fs, new Path(dir)).nbuckets == Some(4))
  }
}
