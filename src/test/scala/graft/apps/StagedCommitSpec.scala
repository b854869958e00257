package graft.apps

import java.nio.file.Files

import org.apache.hadoop.fs.Path

import graft.SparkSpec

/** [[StagedCommit]]'s commit mechanics in isolation (the app-level specs
  * exercise it through append): the bulk moves run through a rename
  * pool but the watermark still lands strictly last, a big manifest
  * commits whole, and a heal replay resolves a destination collision
  * deterministically instead of wedging forever. */
class StagedCommitSpec extends SparkSpec {

  private def fs = new Path("/tmp").getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  private def mkFile(p: Path, content: String): Unit = {
    val out = fs.create(p, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  private def listNames(root: Path): Set[String] = {
    if (!fs.exists(root)) return Set.empty
    val it = fs.listFiles(root, true)
    val buf = scala.collection.mutable.Set[String]()
    while (it.hasNext) {
      val p = it.next().getPath
      buf += p.toString.stripPrefix(fs.makeQualified(root).toString + "/")
    }
    buf.toSet
  }

  test("a 1k-file manifest commits whole; watermark lands only after every other file") {
    val base = Files.createTempDirectory("sc-bulk").toString
    val stg = new Path(s"$base/_staging")
    val dest = s"$base/out"
    val n = 1000
    (0 until n).foreach(i => mkFile(new Path(stg, s"idx/d${i % 31}/f$i"), s"c$i"))
    mkFile(new Path(stg, "idx/meta/part-0"), "wm")

    // crash mid-bulk: the watermark must NOT be visible — with the
    // rename pool the set of landed bulk files is nondeterministic, but
    // meta moves serially AFTER the pool drains, so a crash anywhere in
    // the bulk phase can never have published it
    try {
      StagedCommit.crashAfterMoves = n / 2
      intercept[IllegalStateException] {
        StagedCommit.publish(fs, stg, Seq("idx" -> dest), lastFragment = "/meta/")
      }
    } finally StagedCommit.crashAfterMoves = Int.MaxValue
    assert(!fs.exists(new Path(s"$dest/meta/part-0")),
      "watermark visible after a mid-bulk crash")
    assert(fs.exists(new Path(stg, "COMMIT")), "manifest must survive the crash")

    // heal completes the frozen manifest: all 1001 files land, meta included
    val t0 = System.nanoTime()
    StagedCommit.heal(fs, stg)
    val healSec = (System.nanoTime() - t0) / 1e9
    assert(listNames(new Path(dest)).size == n + 1,
      s"expected ${n + 1} files at $dest")
    assert(fs.exists(new Path(s"$dest/meta/part-0")))
    assert(!fs.exists(stg), "staging must be removed after heal")
    assert(healSec < 60, f"1k-file heal took $healSec%.1f s")
  }

  test("duplicate destinations are rejected at manifest freeze, with every staged file intact") {
    // two mappings whose staged files land on the SAME destination —
    // the violated-single-writer shape. The gate must fire BEFORE the
    // manifest exists: once frozen, a restart's heal replay would
    // "resolve" the collision by overwriting the first writer's file.
    val base = Files.createTempDirectory("sc-dup").toString
    val stg = new Path(s"$base/_staging")
    val dest = s"$base/out"
    mkFile(new Path(stg, "idx/a/f0"), "first")
    mkFile(new Path(stg, "idx2/a/f0"), "second")
    intercept[IllegalArgumentException] {
      StagedCommit.publish(fs, stg,
        Seq("idx" -> dest, "idx2" -> dest), lastFragment = "/meta/")
    }
    assert(!fs.exists(new Path(stg, "COMMIT")),
      "the colliding manifest must never be frozen")
    assert(fs.exists(new Path(stg, "idx/a/f0")) &&
      fs.exists(new Path(stg, "idx2/a/f0")),
      "both staged files must survive for inspection")
    assert(!fs.exists(new Path(s"$dest/a/f0")), "nothing may have moved")
  }

  test("heal resolves a src-and-dst collision from the frozen manifest, not a permanent failure") {
    val base = Files.createTempDirectory("sc-coll").toString
    val stg = new Path(s"$base/_staging")
    val dest = s"$base/out"
    mkFile(new Path(stg, "idx/a/f0"), "staged")
    mkFile(new Path(stg, "idx/meta/part-0"), "wm")
    // crash before ANY move, so the manifest freezes with both files
    try {
      StagedCommit.crashAfterMoves = 0
      intercept[IllegalStateException] {
        StagedCommit.publish(fs, stg, Seq("idx" -> dest), lastFragment = "/meta/")
      }
    } finally StagedCommit.crashAfterMoves = Int.MaxValue
    // an out-of-band file lands at a manifest destination — the old
    // require(!exists(dst)) made every subsequent heal fail forever here
    mkFile(new Path(s"$dest/a/f0"), "out-of-band")

    StagedCommit.heal(fs, stg)
    val in = fs.open(new Path(s"$dest/a/f0"))
    val got = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    assert(got == "staged", "the staged (manifest-frozen) content must win")
    // the displaced out-of-band file is EVIDENCE of a violated
    // single-writer assumption — parked as a dot-tombstone, not deleted
    val tomb = new Path(s"$dest/a/.ovr-f0")
    assert(fs.exists(tomb), "heal-overwrite must leave the displaced file")
    val tin = fs.open(tomb)
    val tgot = try scala.io.Source.fromInputStream(tin, "UTF-8").mkString
      finally tin.close()
    assert(tgot == "out-of-band", "the tombstone must hold the displaced bytes")
    assert(!fs.exists(stg))
    // and a second heal over the now-clean tree is a no-op
    StagedCommit.heal(fs, stg)
  }

  test("deletions run strictly before installs: the crash window shows rows dark, never twice") {
    // the compaction shape: replace two small files with one staged
    // merged file, through one manifest. At EVERY crash point the
    // directory must never hold both an old file and the merged file —
    // that is the window where a reader would see rows twice.
    def stage(tag: String): (Path, Path, Seq[StagedCommit.Op]) = {
      val base = Files.createTempDirectory(s"sc-del-$tag").toString
      val dir = new Path(s"$base/out/d0")
      mkFile(new Path(dir, "small-a"), "rows-a")
      mkFile(new Path(dir, "small-b"), "rows-b")
      val stg = new Path(s"$base/_staging")
      mkFile(new Path(stg, "merged"), "rows-a+rows-b")
      (stg, dir, Seq(
        StagedCommit.Del(new Path(dir, "small-a")),
        StagedCommit.Del(new Path(dir, "small-b")),
        StagedCommit.Move(new Path(stg, "merged"), new Path(dir, "merged"))))
    }
    // crash after 0, 1 and 2 ops: phases mean dels happen first, so the
    // merged file may exist ONLY once both old files are gone
    (0 to 2).foreach { k =>
      val (stg, dir, ops) = stage(s"k$k")
      try {
        StagedCommit.crashAfterMoves = k
        intercept[IllegalStateException] { StagedCommit.publishOps(fs, stg, ops) }
      } finally StagedCommit.crashAfterMoves = Int.MaxValue
      val names = listNames(dir)
      assert(!names.contains("merged") ||
        (!names.contains("small-a") && !names.contains("small-b")),
        s"crash after $k ops: merged visible alongside $names — duplicate rows")
      // heal finishes the frozen manifest: exactly the merged file remains
      StagedCommit.heal(fs, stg)
      assert(listNames(dir) == Set("merged"), s"after heal: ${listNames(dir)}")
      assert(!fs.exists(stg))
    }
  }

  test("a manifest that both deletes and installs the same path is rejected at freeze") {
    val base = Files.createTempDirectory("sc-clash").toString
    val stg = new Path(s"$base/_staging")
    val dst = new Path(s"$base/out/f0")
    mkFile(new Path(stg, "merged"), "m")
    mkFile(dst, "old")
    intercept[IllegalArgumentException] {
      StagedCommit.publishOps(fs, stg, Seq(
        StagedCommit.Del(dst),
        StagedCommit.Move(new Path(stg, "merged"), dst)))
    }
    assert(!fs.exists(new Path(stg, "COMMIT")),
      "the clashing manifest must never be frozen")
    assert(fs.exists(dst) && fs.exists(new Path(stg, "merged")),
      "nothing may have moved or been deleted")
  }

  test("a legacy (untagged src/dst) manifest from the pre-op-typed format still heals") {
    // a torn commit frozen by the PREVIOUS binary's two-field format
    // must stay healable after the upgrade — heal runs before every
    // append, so a wedged manifest would fail the stream forever
    val base = Files.createTempDirectory("sc-legacy").toString
    val stg = new Path(s"$base/_staging")
    val dest = s"$base/out"
    mkFile(new Path(stg, "data/f0"), "rows")
    mkFile(new Path(stg, "meta/part-0"), "wm")
    val legacy =
      s"${fs.makeQualified(new Path(stg, "data/f0"))}\t$dest/data/f0\n" +
        s"${fs.makeQualified(new Path(stg, "meta/part-0"))}\t$dest/meta/part-0\n"
    mkFile(new Path(stg, "COMMIT"), legacy)

    StagedCommit.heal(fs, stg)
    assert(listNames(new Path(dest)) == Set("data/f0", "meta/part-0"))
    assert(!fs.exists(stg))
  }

  test("a heal replaying a manifest whose moves and snapshot commit landed commits nothing twice") {
    val base = Files.createTempDirectory("sc-snap").toString
    val root = new Path(s"$base/t")
    val stg = new Path(s"$base/_staging")
    mkFile(new Path(root, "old-a"), "a")
    mkFile(new Path(root, "old-b"), "b")
    assert(Snapshots.commit(fs, root) == 1)
    mkFile(new Path(stg, "merged"), "a+b")
    StagedCommit.publishOps(fs, stg, Seq(
      StagedCommit.Move(new Path(stg, "merged"), new Path(root, "merged")),
      Snapshots.snapOp(fs, root, Snapshots.head(fs, root).get,
        replaced = Seq("old-a", "old-b"), added = 1)))
    val landed = Snapshots.head(fs, root).get
    assert(landed.version == 2 && landed.data == Seq("merged") &&
      landed.retired == Seq("old-a", "old-b"))
    // the state a crash after the commit, before the staging delete,
    // leaves: the frozen journal, every op of it already applied
    mkFile(new Path(stg, "COMMIT"),
      s"M\t${new Path(stg, "merged")}\t${new Path(root, "merged")}\n" +
        s"S\t$root\t2\treplaced old-a\treplaced old-b\n")
    StagedCommit.heal(fs, stg)
    assert(Snapshots.head(fs, root).get == landed,
      "the replayed heal committed again — a reader's grace window shrank")
    assert(!fs.exists(stg))
  }

  test("writer lock: a live holder blocks a second writer; a stale lease is taken over; release on every exit") {
    val root = new Path(Files.createTempDirectory("sc-lock").toString)
    val lock = new Path(root, "_writer.lock")

    // a second writer arriving while the first is live fails LOUDLY
    StagedCommit.withWriterLock(fs, root) {
      assert(fs.exists(lock))
      val e = intercept[IllegalStateException] {
        StagedCommit.withWriterLock(fs, root) {
          fail("second writer must never enter")
        }
      }
      assert(e.getMessage.contains("single-writer"))
    }
    assert(!fs.exists(lock), "lock must be released on success")

    // released on a throwing body too
    intercept[RuntimeException] {
      StagedCommit.withWriterLock(fs, root) { throw new RuntimeException("boom") }
    }
    assert(!fs.exists(lock), "lock must be released on failure")

    // a lock whose heartbeat is OLDER than the lease belongs to a
    // crashed writer: taken over, body runs
    mkFile(lock, s"${System.currentTimeMillis() - 10 * 60 * 1000}\n")
    var ran = false
    StagedCommit.withWriterLock(fs, root, leaseMs = 60000) { ran = true }
    assert(ran, "stale lease must be broken")
    assert(!fs.exists(lock))

    // an UNREADABLE lock (caught mid-refresh) reads as fresh — never
    // broken, the second writer still fails
    mkFile(lock, "")
    intercept[IllegalStateException] {
      StagedCommit.withWriterLock(fs, root) { fail("must not enter") }
    }
    fs.delete(lock, false)
  }
}
