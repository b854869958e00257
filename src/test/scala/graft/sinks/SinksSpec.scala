package graft.sinks

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec

case class KV(k: Long, seq: Long, v: String)

class SinksSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("dynamicByColumn fans out one pass into per-topic directories") {
    val dir = tmp("dyn")
    val df = Seq(("t_click", 1), ("t_order", 2), ("t_click", 3)).toDF("topic", "v")
    Sinks.dynamicByColumn(df, "topic", dir)
    val click = spark.read.parquet(s"$dir/topic=t_click").as[Int].collect().sorted
    val order = spark.read.parquet(s"$dir/topic=t_order").as[Int].collect().sorted
    assert(click.sameElements(Array(1, 3)) && order.sameElements(Array(2)))
  }

  test("upsertKeyed: last-wins merge, idempotent on re-apply") {
    val dir = tmp("ups") + "/table"
    Sinks.upsertKeyed(spark, Seq(KV(1, 1, "a"), KV(2, 1, "b")).toDF(),
      Seq("k"), Seq("seq"), dir)
    Sinks.upsertKeyed(spark, Seq(KV(1, 2, "a2"), KV(3, 1, "c")).toDF(),
      Seq("k"), Seq("seq"), dir)
    val expect = Set(KV(1, 2, "a2"), KV(2, 1, "b"), KV(3, 1, "c"))
    assert(Sinks.readKeyed(spark, dir).as[KV].collect().toSet == expect)
    // exactly-once property: re-applying the same update changes nothing
    Sinks.upsertKeyed(spark, Seq(KV(1, 2, "a2"), KV(3, 1, "c")).toDF(),
      Seq("k"), Seq("seq"), dir)
    assert(Sinks.readKeyed(spark, dir).as[KV].collect().toSet == expect)
  }

  test("upsertKeyed is incremental: untouched buckets are not rewritten") {
    val dir = tmp("incr") + "/table"
    val n = Sinks.DefaultUpsertBuckets
    def bucket(k: Long): Int =
      (graft.functions.StableHash.stable60Local(k.toString) % n).toInt
    val k1 = 1L
    // any key hashing to a different bucket than k1 exercises the split
    val k2 = (2L to 1000L).find(bucket(_) != bucket(k1)).get
    Sinks.upsertKeyed(spark, Seq(KV(k1, 1, "a"), KV(k2, 1, "b")).toDF(),
      Seq("k"), Seq("seq"), dir)
    def files(b: Int): Set[(String, Long, Long)] = {
      val d = new java.io.File(s"$dir/__bucket=$b")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.length, f.lastModified)).toSet
    }
    val untouchedBefore = files(bucket(k2))
    assert(untouchedBefore.nonEmpty)
    Sinks.upsertKeyed(spark, Seq(KV(k1, 2, "a2")).toDF(),
      Seq("k"), Seq("seq"), dir)
    // k2's bucket: same file names, sizes, and mtimes — never rewritten
    assert(files(bucket(k2)) == untouchedBefore)
    // k1's bucket DID change
    assert(Sinks.readKeyed(spark, dir).as[KV].collect().toSet ==
      Set(KV(k1, 2, "a2"), KV(k2, 1, "b")))
  }

  test("upsertKeyed: the recorded bucket count wins over a mismatched later argument") {
    val dir = tmp("nbk") + "/table"
    Sinks.upsertKeyed(spark, Seq(KV(1, 1, "a")).toDF(), Seq("k"), Seq("seq"),
      dir, nBuckets = 8)
    // a later caller passing a DIFFERENT count must not re-hash keys into
    // other buckets (which would duplicate them across the table)
    Sinks.upsertKeyed(spark, Seq(KV(1, 2, "a2")).toDF(), Seq("k"), Seq("seq"),
      dir, nBuckets = 64)
    assert(Sinks.readKeyed(spark, dir).as[KV].collect().toSet == Set(KV(1, 2, "a2")))
  }

  test("the bucket count lives only in the manifest; reads create no file") {
    val parent = tmp("nbman")
    val dir = parent + "/table"
    def tree(): Set[String] = {
      val root = java.nio.file.Paths.get(parent)
      val walk = Files.walk(root)
      try walk.iterator().asScala.map(p => root.relativize(p).toString).toSet
      finally walk.close()
    }
    Sinks.upsertKeyed(spark, Seq(KV(1, 1, "a"), KV(2, 1, "b")).toDF(),
      Seq("k"), Seq("seq"), dir, nBuckets = 8)
    val snap = new java.io.File(s"$dir/_snap").listFiles()
      .map(_.getName).filter(_.matches("v\\d+")).sorted
    assert(snap.nonEmpty)
    snap.foreach { v =>
      val first = Files.readAllLines(
        java.nio.file.Paths.get(s"$dir/_snap/$v")).asScala.headOption
      assert(first.contains("nbuckets 8"), s"$v starts with $first")
    }
    assert(!new java.io.File(s"$dir.nbuckets").exists)

    // a pruned read of the table, and of an empty dir with no recorded
    // count, leaves the file tree as it was
    val empty = parent + "/empty"
    Files.createDirectories(java.nio.file.Paths.get(empty))
    val before = tree()
    val keys = Seq(1L, 3L).toDF("k")
    assert(Sinks.readKeyedFor(spark, dir, keys, Seq("k")).get
      .filter(col("k").isin(1L, 3L)).as[KV].collect().toSet ==
      Set(KV(1, 1, "a")))
    assert(Sinks.readKeyedFor(spark, empty, keys, Seq("k")).isEmpty)
    assert(tree() == before)

    // data with no recorded count: loud, never a guessed count
    Seq(KV(1, 1, "a")).toDF().write.parquet(s"$parent/bare/__bucket=0")
    intercept[IllegalArgumentException] {
      Sinks.readKeyedFor(spark, s"$parent/bare", keys, Seq("k"))
    }
  }

  test("purgeTombstones: only buckets with old tombstones rewritten; young tombstones survive") {
    val dir = tmp("purge") + "/table"
    val n = Sinks.DefaultUpsertBuckets
    def bucket(k: Long): Int =
      (graft.functions.StableHash.stable60Local(k.toString) % n).toInt
    val k1 = 1L
    val k2 = (2L to 1000L).find(bucket(_) != bucket(k1)).get
    val k3 = (k2 + 1 to 100000L).find(bucket(_) == bucket(k2)).get
    // k1: old tombstone (purgeable); k2: young tombstone; k3: live row
    // (k2, k3 share a bucket, so k1's bucket empties entirely on purge)
    val rows = Seq((k1, 10L, true), (k2, 500L, true), (k3, 500L, false))
    Sinks.upsertKeyed(spark,
      rows.toDF("k", "ts", "__tombstone"), Seq("k"), Seq("ts"), dir)
    def files(b: Int): Set[(String, Long, Long)] = {
      val d = new java.io.File(s"$dir/__bucket=$b")
      if (!d.exists()) Set.empty
      else d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.length, f.lastModified)).toSet
    }
    val k2Before = files(bucket(k2))
    Sinks.purgeTombstones(spark, dir, "ts", olderThan = 100L)
    // k1's bucket lost its only row; k2's bucket untouched
    // (its tombstone is younger than the bound)
    val got = Sinks.readKeyed(spark, dir)
      .select("k", "ts", "__tombstone")
      .as[(Long, Long, Boolean)].collect().toSet
    assert(got == Set((k2, 500L, true), (k3, 500L, false)))
    assert(files(bucket(k2)) == k2Before) // byte-identical, never rewritten
    // the purged file is retired, not deleted, until two more commits
    // end planned readers' grace window; then k1's bucket is empty on disk
    for (ts <- Seq(600L, 700L))
      Sinks.upsertKeyed(spark, Seq((k3, ts, false)).toDF("k", "ts", "__tombstone"),
        Seq("k"), Seq("ts"), dir)
    assert(files(bucket(k1)).isEmpty)
  }

  test("dynamicIdempotent: replaying a batch id does not duplicate rows") {
    val dir = tmp("dynidem")
    val b0 = Seq(("t_click", 1), ("t_order", 2)).toDF("topic", "v")
    Sinks.dynamicIdempotent(b0, "topic", dir, batchId = 0)
    Sinks.dynamicIdempotent(Seq(("t_click", 3)).toDF("topic", "v"), "topic", dir, 1)
    // crash-replay of batch 0: overwrites its own partitions, no dups
    Sinks.dynamicIdempotent(b0, "topic", dir, batchId = 0)
    val got = spark.read.parquet(dir).select("topic", "v")
      .as[(String, Int)].collect().toSet
    assert(got == Set(("t_click", 1), ("t_order", 2), ("t_click", 3)))
  }

  test("streamUpsert: upsert state tracks the stream's keep-last") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = tmp("sups") + "/table"
    val ckpt = tmp("sups-ckpt")
    val mem = MemoryStream[KV]
    val q = Sinks.streamUpsert(mem.toDF(), Seq("k"), Seq("seq"), dir, ckpt)
    try {
      mem.addData(Seq(KV(1, 1, "a"), KV(2, 1, "b"))); q.processAllAvailable()
      mem.addData(Seq(KV(1, 2, "a2"))); q.processAllAvailable()
    } finally q.stop()
    assert(Sinks.readKeyed(spark, dir).as[KV].collect().toSet ==
      Set(KV(1, 2, "a2"), KV(2, 1, "b")))
  }

  test("checkpointed file-source stream survives restart without duplicates (R1/R2)") {
    val src = tmp("fsrc")
    val out = tmp("fout")
    val ckpt = tmp("fckpt")
    val schema = Seq(KV(0, 0, "")).toDF().schema
    Seq(KV(1, 1, "a"), KV(2, 1, "b")).toDF()
      .write.parquet(s"$src/f1.parquet")
    val q1 = Sinks.streamAppend(
      spark.readStream.schema(schema).parquet(s"$src/*.parquet"), out, ckpt)
    try q1.processAllAvailable() finally q1.stop()
    // new files arrive while the query is DOWN; restart from checkpoint
    Seq(KV(3, 1, "c")).toDF().write.parquet(s"$src/f2.parquet")
    val q2 = Sinks.streamAppend(
      spark.readStream.schema(schema).parquet(s"$src/*.parquet"), out, ckpt)
    try q2.processAllAvailable() finally q2.stop()
    val got = spark.read.parquet(out).as[KV].collect().toSeq
    assert(got.size == 3) // every input exactly once, no replay dups
    assert(got.toSet == Set(KV(1, 1, "a"), KV(2, 1, "b"), KV(3, 1, "c")))
  }
}
