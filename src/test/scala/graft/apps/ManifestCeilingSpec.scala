package graft.apps

import java.nio.file.Files

import org.apache.hadoop.fs.Path

import graft.SparkSpec

/** The enforced manifest ceiling (r13 verdict task #5): the round-13
  * probe measured the snapshot tier's last decade as SUPERLINEAR
  * (10⁶ lines: 13 s commits, sub-second resolves; 10⁷: 356 s / 8.1 s),
  * so [[Snapshots.commit]] now refuses a commit that GROWS a manifest
  * past the ceiling — loudly, pointing at the per-table `targetbytes`
  * knob that keeps real tables orders of magnitude below it. Pinned:
  *
  *  - a growth commit past the ceiling fails with the remedy named,
  *    and leaves the table exactly as it was;
  *  - non-growing commits on an already-over table are allowed — the
  *    remedy (compaction at a larger graduation size) must not be
  *    blocked by the very guard that demands it, and the table
  *    shrinks back under the ceiling through the normal grace window;
  *  - the `graft.snapshots.maxManifestLines` override lifts it (the
  *    manifest probe's documented escape hatch);
  *  - (review pass) a REFUSED commit leaves the grace-window files
  *    physically intact — the guard runs before the expiry delete
  *    pass, so readers of the two-commit-old generation keep their
  *    files;
  *  - (review pass) journaled flows are guarded at [[Snapshots
  *    .snapOp]] — BEFORE the [[StagedCommit]] manifest freezes, so
  *    before any install — and the manifest's commit phase completes
  *    unconditionally: once files are installed the flip must land
  *    even if the ceiling moved, or the heal loop would wedge on every
  *    writer entry. A real compaction on an over-ceiling table
  *    (replace K originals with fewer merged files, i.e. the
  *    prescribed remedy) journals, installs, and commits. */
class ManifestCeilingSpec extends SparkSpec {

  private def fs = new Path("/").getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  private val Prop = "graft.snapshots.maxManifestLines"

  private def mkFiles(root: Path, names: Seq[String]): Unit =
    names.foreach { n =>
      val out = fs.create(new Path(root, n), true)
      try out.write("x".getBytes("UTF-8")) finally out.close()
    }

  test("growth past the ceiling refuses loudly; shrinking and overridden commits land") {
    val prior = sys.props.get(Prop)
    val root = new Path(
      Files.createTempDirectory("snapceil").toString + "/t")
    try {
      fs.mkdirs(root)
      mkFiles(root, (0 until 10).map(i => f"part-$i%05d.parquet"))
      sys.props(Prop) = "8"
      val e = intercept[IllegalArgumentException] {
        Snapshots.commit(fs, root)
      }
      assert(e.getMessage.contains("targetbytes") &&
        e.getMessage.contains(Prop),
        s"the guard must name the remedy and the override: ${e.getMessage}")
      assert(Snapshots.currentFiles(fs, root).isEmpty,
        "a refused commit must leave the table unmanaged/unchanged")

      // the override lifts it — the probe's escape hatch
      sys.props(Prop) = "1000"
      assert(Snapshots.commit(fs, root) == 1)
      assert(Snapshots.currentFiles(fs, root).get.size == 10)

      // back under the tight ceiling the table is OVER (10 > 8): a
      // commit that grows it further still refuses…
      sys.props(Prop) = "8"
      mkFiles(root, Seq("part-extra.parquet"))
      val e2 = intercept[IllegalArgumentException] {
        Snapshots.commit(fs, root)
      }
      assert(e2.getMessage.contains("manifest ceiling"), e2.getMessage)
      fs.delete(new Path(root, "part-extra.parquet"), false)

      // …but the WAY DOWN stays open: a compaction-style commit
      // replacing 6 files (4 data + 6 retired = 10 lines, not more
      // than the head's 10) lands, and the two follow-up commits walk
      // the retirees through the grace window until the manifest is
      // back under the ceiling
      val replaced = (4 until 10).map(i => f"part-$i%05d.parquet")
      assert(Snapshots.commit(fs, root, replaced = replaced) == 2,
        "a non-growing commit on an over-ceiling table was refused")
      assert(Snapshots.commit(fs, root) == 3) // 4 data + 6 expiring
      assert(Snapshots.commit(fs, root) == 4) // 4 data — under ceiling
      assert(Snapshots.currentFiles(fs, root).get.size == 4)
      // and the expired files are physically gone
      assert(replaced.forall(r => !fs.exists(new Path(root, r))),
        "grace-window expiry did not delete the replaced files")
    } finally {
      prior match {
        case Some(v) => sys.props(Prop) = v
        case None => sys.props.remove(Prop)
      }
    }
  }

  test("a refused commit leaves grace-window files physically intact") {
    val prior = sys.props.get(Prop)
    val root = new Path(
      Files.createTempDirectory("snapceil2").toString + "/t")
    try {
      sys.props.remove(Prop)
      fs.mkdirs(root)
      mkFiles(root, Seq("a.parquet", "b.parquet", "c.parquet"))
      assert(Snapshots.commit(fs, root) == 1)
      // retire a and b: v2 lists them retired, v3 would expire them —
      // at v4's entry their grace window ends and they are deleted
      assert(Snapshots.commit(fs, root,
        replaced = Seq("a.parquet", "b.parquet")) == 2)
      assert(Snapshots.commit(fs, root) == 3)
      // v4 is a GROWTH commit past a now-tight ceiling: it must refuse
      // BEFORE the expiry pass — a refused commit deleting the expiring
      // files would break the two-commit-old generation's readers even
      // though no new version ever landed
      mkFiles(root, Seq("d.parquet", "e.parquet"))
      sys.props(Prop) = "2"
      intercept[IllegalArgumentException] { Snapshots.commit(fs, root) }
      assert(fs.exists(new Path(root, "a.parquet")) &&
        fs.exists(new Path(root, "b.parquet")),
        "a refused commit must not delete grace-window files")
      // lifted, the same commit lands and the grace window ends
      sys.props.remove(Prop)
      assert(Snapshots.commit(fs, root) == 4)
      assert(!fs.exists(new Path(root, "a.parquet")) &&
        !fs.exists(new Path(root, "b.parquet")))
    } finally {
      prior match {
        case Some(v) => sys.props(Prop) = v
        case None => sys.props.remove(Prop)
      }
    }
  }

  test("journaled flows: guarded before install, completable after — compaction on an over-ceiling table lands") {
    val prior = sys.props.get(Prop)
    val root = new Path(
      Files.createTempDirectory("snapceil3").toString + "/t")
    try {
      sys.props.remove(Prop)
      fs.mkdirs(root)
      val names = (0 until 10).map(i => f"part-$i%05d.parquet")
      mkFiles(root, names)
      assert(Snapshots.commit(fs, root) == 1)

      // a journaled GROWTH past the ceiling refuses when its commit op
      // is built — before the manifest freezes, so before any file was
      // installed or deleted
      sys.props(Prop) = "8"
      val head = Snapshots.head(fs, root).get
      val eg = intercept[IllegalArgumentException] {
        Snapshots.snapOp(fs, root, head, replaced = Nil, added = 2)
      }
      assert(eg.getMessage.contains("manifest ceiling"), eg.getMessage)

      // the REMEDY on the over-ceiling table (10 > 8): compact 6
      // originals into 1 merged file — journal (shrink: allowed),
      // install, and the completion commits even under a ceiling that
      // would refuse a fresh growth (it runs with the guard off: the
      // files are already installed, refusal could only wedge heal)
      val replaced = names.drop(4)
      val snap = Snapshots.snapOp(fs, root, head, replaced = replaced,
        added = 1)
      mkFiles(root, Seq("merged-0.parquet"))
      replaced.foreach(r => fs.delete(new Path(root, r), false))
      sys.props(Prop) = "2" // ceiling moved mid-flight: still completes
      StagedCommit.publishOps(fs, new Path(root.getParent, "_staging"),
        Seq(snap))
      assert(Snapshots.currentFiles(fs, root).get.size == 5,
        "the journaled compaction did not land")
      sys.props.remove(Prop)
      assert(Snapshots.commit(fs, root) == 3)
      assert(Snapshots.commit(fs, root) == 4)
      assert(Snapshots.currentFiles(fs, root).get.toSet ==
        (names.take(4) :+ "merged-0.parquet").toSet)
    } finally {
      prior match {
        case Some(v) => sys.props(Prop) = v
        case None => sys.props.remove(Prop)
      }
    }
  }
}
