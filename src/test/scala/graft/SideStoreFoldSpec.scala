package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

import graft.ops.SideStoreFold

/** The size-tiered run ladder (VERDICT r16 next-round #1 / missing #1):
  * the r16 single-`_tier` minor fold rewrote the WHOLE tier every firing,
  * so the minute before a major the minor cost approached the base
  * rewrite it replaced. The ladder bounds it: a minor fold is O(recent)
  * — the deltas alone become one new run — and HBase-style geometric
  * selection merges runs so both the re-merge work per row and the
  * reader's root count stay O(log). These rows pin the mechanics the
  * text/vector store specs exercise only through their valves: fold-level
  * read equivalence across every ladder state, the cascade's dynamics,
  * the merge artifact's crash windows, and the natural default-ratio
  * major crossing. */
class SideStoreFoldSpec extends SparkSpec {
  import spark.implicits._

  private def fsOf(p: String) = new Path(p)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def rows(lo: Long, hi: Long) =
    spark.range(lo, hi).select(col("id"), concat(lit("v"), col("id")).as("v"))

  private def writeDelta(root: String, name: String, lo: Long, hi: Long)
      : Path = {
    val p = new Path(s"$root/$name")
    rows(lo, hi).write.mode(SaveMode.Overwrite).parquet(p.toString)
    p
  }

  private def content(root: String): Set[(Long, String)] = {
    val srcs = SideStoreFold.storedRoots(fsOf(root), root)
    if (srcs.isEmpty) Set.empty
    else spark.read.parquet(srcs: _*).as[(Long, String)].collect().toSet
  }

  /** Row COUNT over the readable roots — set-equality can't see a reader
    * double-reading a merge artifact plus the runs it covers. */
  private def readRows(root: String): Long = {
    val srcs = SideStoreFold.storedRoots(fsOf(root), root)
    if (srcs.isEmpty) 0L else spark.read.parquet(srcs: _*).count()
  }

  private def files(p: String): Set[(String, Long, Long)] =
    fsOf(p).listStatus(new Path(p))
      .map(st => (st.getPath.getName, st.getLen, st.getModificationTime))
      .toSet

  private def runNames(root: String): Seq[String] = {
    val fs = fsOf(root)
    val rr = new Path(s"$root/_runs")
    if (!fs.exists(rr)) Seq.empty
    else fs.listStatus(rr).map(_.getPath.getName).sorted.toSeq
  }

  private def tempRoot(tag: String): String = java.nio.file.Files
    .createTempDirectory(s"graft_fold_$tag").toString + "/side"

  test("minor folds are O(recent): existing runs and the base stay " +
      "byte-identical; reads equal across every ladder state; the " +
      "default-ratio major crosses NATURALLY once the ladder rivals the base") {
    val root = tempRoot("ladder")
    val fs = fsOf(root)
    // seed a 100-row base
    SideStoreFold.fullFold(spark, fs, root,
      Seq(writeDelta(root, "u0001", 0, 100)), "id")
    assert(content(root) === rows(0, 100).as[(Long, String)].collect().toSet)
    val base0 = files(s"$root/_base")
    // an effectively-infinite merge ratio isolates the minor fold: every
    // firing must write ONE new run and touch nothing else
    spark.conf.set(SideStoreFold.RunMergeRatioConf, "1e18")
    try {
      SideStoreFold.minorFold(spark, fs, root,
        Seq(writeDelta(root, "u0002", 100, 200)), "id")
      assert(runNames(root) === Seq("r00001"))
      val run1 = files(s"$root/_runs/r00001")
      SideStoreFold.minorFold(spark, fs, root,
        Seq(writeDelta(root, "u0003", 200, 300)), "id")
      assert(runNames(root) === Seq("r00001", "r00002"))
      assert(files(s"$root/_runs/r00001") === run1,
        "a minor fold must never rewrite an existing run")
      assert(files(s"$root/_base") === base0,
        "a minor fold must never touch the base")
      assert(content(root) === rows(0, 300).as[(Long, String)].collect().toSet)
      assert(readRows(root) === 300L, "no root may be read twice")
      // default merge ratio: the two similar-size runs cascade into one on
      // the next firing (binary-counter dynamics). The major is held off
      // (huge MajorRatioConf) so the cascade is pinned in isolation —
      // since r18 a firing where the major is ALREADY due skips the
      // cascade outright (ADVICE r17: the major's dedup(base ∪ runs)
      // subsumes any merge work), which the next block pins.
      spark.conf.unset(SideStoreFold.RunMergeRatioConf)
      spark.conf.set(SideStoreFold.MajorRatioConf, "1e18")
      SideStoreFold.minorFold(spark, fs, root,
        Seq(writeDelta(root, "u0004", 300, 400)), "id")
      assert(runNames(root) === Seq("r00001"),
        s"equal-size runs must cascade-merge, got ${runNames(root)}")
      assert(files(s"$root/_base") === base0)
      assert(content(root) === rows(0, 400).as[(Long, String)].collect().toSet)
      // the firing where the major IS due skips the cascade (r18, ADVICE
      // r17): r00001 (300 rows) would otherwise carry-chain with the new
      // run, and the major below immediately rewrites the same bytes
      spark.conf.unset(SideStoreFold.MajorRatioConf)
      SideStoreFold.minorFold(spark, fs, root,
        Seq(writeDelta(root, "u0005", 400, 500)), "id")
      assert(runNames(root) === Seq("r00001", "r00002"),
        s"a minor fold with the major due must skip the cascade, got ${runNames(root)}")
      assert(content(root) === rows(0, 500).as[(Long, String)].collect().toSet)
      // NATURAL major: the ladder (400 rows) already rivals the base
      // (100 rows) at the default ratio 1.0 — no forcing conf
      SideStoreFold.majorFoldIfDue(spark, fs, root, "id")
      assert(runNames(root).isEmpty &&
        !fs.exists(new Path(s"$root/_runs")) &&
        fs.exists(new Path(s"$root/_base")))
      assert(content(root) === rows(0, 500).as[(Long, String)].collect().toSet)
      assert(readRows(root) === 500L)
    } finally {
      spark.conf.unset(SideStoreFold.RunMergeRatioConf)
      spark.conf.unset(SideStoreFold.MajorRatioConf)
    }
  }

  test("a small run never triggers a merge against a much larger elder " +
      "(the pre-major tail the ladder exists to kill)") {
    val root = tempRoot("tail")
    val fs = fsOf(root)
    // one big elder run (5000 rows), then a small newcomer (10 rows): the
    // r16 single-tier design would rewrite all 5010 rows; the ladder must
    // leave the elder byte-identical
    SideStoreFold.minorFold(spark, fs, root,
      Seq(writeDelta(root, "u0001", 0, 5000)), "id")
    val elder = files(s"$root/_runs/r00001")
    SideStoreFold.minorFold(spark, fs, root,
      Seq(writeDelta(root, "u0002", 5000, 5010)), "id")
    assert(runNames(root) === Seq("r00001", "r00002"),
      s"a 10-row run must not merge into a 5000-row elder, got ${runNames(root)}")
    assert(files(s"$root/_runs/r00001") === elder)
    assert(content(root) === rows(0, 5010).as[(Long, String)].collect().toSet)
  }

  test("merge crash windows: a COMPLETE merge artifact is preferred by " +
      "readers (covered runs skipped) and promoted by heal; a PARTIAL one " +
      "is invisible and discarded") {
    val root = tempRoot("merge")
    val fs = fsOf(root)
    spark.conf.set(SideStoreFold.RunMergeRatioConf, "1e18")
    try {
      SideStoreFold.minorFold(spark, fs, root,
        Seq(writeDelta(root, "u0001", 0, 100)), "id")
      SideStoreFold.minorFold(spark, fs, root,
        Seq(writeDelta(root, "u0002", 100, 200)), "id")
      assert(runNames(root) === Seq("r00001", "r00002"))
      // a merge that crashed after its _SUCCESS but before promotion:
      // readers must take the artifact INSTEAD of the runs it covers —
      // reading both would double every covered row
      rows(0, 200).write.parquet(s"$root/_runs/m00001_00002")
      assert(readRows(root) === 200L,
        "a complete merge artifact must shadow the runs it covers")
      assert(content(root) === rows(0, 200).as[(Long, String)].collect().toSet)
      // heal (any fold entry) promotes: covered runs deleted, artifact
      // renamed to the lowest covered seq
      SideStoreFold.minorFold(spark, fs, root, Seq.empty, "id")
      assert(runNames(root) === Seq("r00001"))
      assert(readRows(root) === 200L)
      // a PARTIAL artifact carrying rows that would CHANGE content must
      // stay invisible and be discarded, never promoted
      rows(999000, 999100).write.parquet(s"$root/_runs/m00001_00001")
      fs.delete(new Path(s"$root/_runs/m00001_00001/_SUCCESS"), false)
      assert(content(root) === rows(0, 200).as[(Long, String)].collect().toSet,
        "a partial merge artifact must be invisible")
      SideStoreFold.minorFold(spark, fs, root, Seq.empty, "id")
      assert(runNames(root) === Seq("r00001"),
        "heal must discard, never promote, a partial merge artifact")
      assert(content(root) === rows(0, 200).as[(Long, String)].collect().toSet)
    } finally spark.conf.unset(SideStoreFold.RunMergeRatioConf)
  }
}
