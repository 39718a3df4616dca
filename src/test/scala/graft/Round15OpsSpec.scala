package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-15 operator properties: the incremental drift monitor
  * (merged per-cell sufficient stats ≡ from-scratch readout, folds
  * exactly once per wave, bounded marker), and the lifecycle verbs
  * added this round.
  */
class Round15OpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val d = "/root/testdata/sf0.001"
  private val sim = graft.similarity.Similarity
  private def tmp(prefix: String) =
    TestFiles.tempDir(prefix).toString
  private def marker(path: String) = graft.io.Commit.readMarker(spark, path)

  test("incremental drift monitor: the merged-stats readout equals the " +
    "from-scratch readout row-for-row, stays quiet on the undrifted " +
    "base, fires on the delta, and a replayed fold is a no-op") {
    val root = tmp("graft_incrdrift")
    sim.publishV1Root(spark, d, root)
    val (drifted, cutoff) = sim.driftedEmbeddings(spark, d)
    sim.appendIndexWave(spark, d, root,
      drifted.filter(col("vec_id") < cutoff), 0L)
    sim.foldWaveDriftStats(spark, s"$root/v1", cutoff, 0L)
    // the monitor must not false-positive on the base-only artifact —
    // the property st29's quiet-readout require rests on, now read
    // from the merged artifact instead of an index rescan
    assert(sim.incrDriftReadout(spark, s"$root/v1")
        .filter(col("fill_skew") || col("err_drift")).isEmpty,
      "the merged-stats monitor false-positived on the undrifted base")
    sim.appendIndexWave(spark, d, root,
      drifted.filter(col("vec_id") >= cutoff), 1L)
    sim.foldWaveDriftStats(spark, s"$root/v1", cutoff, 1L)
    val merged = sim.incrDriftReadout(spark, s"$root/v1").collect().toSeq
    val scratch = sim.indexDriftReadout(
      sim.readIvfIndex(spark, s"$root/v1"), cutoff).collect().toSeq
    assert(merged == scratch,
      "merged-stats readout diverged from the from-scratch readout")
    assert(merged.exists(_.getAs[Boolean]("err_drift")),
      "the drifted delta did not fire err_drift through the artifact")
    // replayed fold (the crash-recovery path): marker and artifact
    // unchanged — the wave folds exactly once
    val m0 = marker(s"$root/v1/_DRIFT")
    sim.foldWaveDriftStats(spark, s"$root/v1", cutoff, 1L)
    assert(marker(s"$root/v1/_DRIFT") == m0,
      "replaying a folded wave changed the drift marker")
    assert(sim.incrDriftReadout(spark, s"$root/v1").collect().toSeq
      == merged, "replaying a folded wave changed the merged stats")
  }

  test("drift-stats fold log is BOUNDED: the marker carries a " +
    "high-water mark plus a recent window, ids under the mark skip, " +
    "and a long regime never grows the marker past the window") {
    val verDir = tmp("graft_driftlog")
    // hand-laid tiny segments: the fold verb reads seg_w<id> parquet
    // directly, so the log arithmetic is testable without paying a
    // real corpus encode per wave
    def laySeg(waveId: Long): Unit = {
      val df = spark.createDataFrame(
        java.util.List.of(
          org.apache.spark.sql.Row(waveId * 10, 0, 1L, 5L, 0L)),
        sim.IvfIndexSchema)
      df.write.mode("overwrite").parquet(s"$verDir/seg_w$waveId")
    }
    laySeg(0L); sim.foldWaveDriftStats(spark, verDir, 1000L, 0L)
    assert(marker(s"$verDir/_DRIFT") == "s=drift_stats_g0;hw=-1;w0")
    // a far-future wave advances the high-water mark to (max − window)
    laySeg(100L); sim.foldWaveDriftStats(spark, verDir, 1000L, 100L)
    val m = marker(s"$verDir/_DRIFT")
    assert(m.startsWith("s=drift_stats_g100;hw=36;"),
      s"marker did not advance the bounded mark: $m")
    assert(!m.contains("w0,") && m.endsWith("w100"),
      s"ids under the mark must leave the explicit window: $m")
    // an id at or under the mark is applied by construction (waveIds
    // are monotone per regime — an uncovered id under the mark was an
    // empty wave) and must skip even without an explicit entry
    laySeg(20L); sim.foldWaveDriftStats(spark, verDir, 1000L, 20L)
    assert(marker(s"$verDir/_DRIFT") == m,
      "a wave id under the high-water mark re-folded")
  }

  test("a delete wave replayed AFTER compaction absorbed its file " +
    "skips on the tombstone log — before round 15 it re-appended " +
    "(the name-based check forgot absorbed waves)") {
    import spark.implicits._
    val root = tmp("graft_tombreplay")
    sim.appendTombstoneWave(spark, root, Seq(1L, 2L).toDF("vec_id"), 0L)
    sim.appendTombstoneWave(spark, root, Seq(9L).toDF("vec_id"), 1L)
    sim.compactTombstones(spark, root)
    assert(marker(s"$root/_TOMB") == "tomb_merged1")
    // the replay: tomb_w1 is gone from the marker, so the old name
    // check would land it again as dead metadata
    sim.appendTombstoneWave(spark, root, Seq(9L).toDF("vec_id"), 1L)
    assert(marker(s"$root/_TOMB") == "tomb_merged1",
      "a compaction-absorbed wave re-appended on replay")
    // a genuinely NEW wave still lands beside the merged file
    sim.appendTombstoneWave(spark, root, Seq(23L).toDF("vec_id"), 2L)
    assert(marker(s"$root/_TOMB") == "tomb_merged1,tomb_w2")
  }

  test("retired-version GC: never collects the target of a live _SWAP " +
    "intent (never races completeSwap), grace-marks before deleting, " +
    "unmarks a version the pointer rolled back to, and replay after " +
    "deletion is a no-op") {
    import org.apache.hadoop.fs.Path
    val root = tmp("graft_vergc")
    val fs = graft.io.Commit.fileSystem(spark)
    def touch(ver: String): Unit = {
      fs.mkdirs(new Path(s"$root/$ver"))
      graft.io.Commit.writeMarker(spark, s"$root/$ver/_INDEX", "seg_x")
    }
    touch("v1"); touch("v2")
    graft.io.Commit.writeMarker(spark, s"$root/_VERSION", "v1")
    graft.io.Commit.writeMarker(spark, s"$root/_SWAP", "v2")
    // crash window held open: intent written, pointer not rolled —
    // BOTH versions are live (v2 is a commit in flight), so two full
    // passes must neither mark nor delete anything
    assert(sim.gcRetiredVersions(spark, root)
      == Seq("v1" -> "serving", "v2" -> "swap_target"))
    assert(sim.gcRetiredVersions(spark, root)
      == Seq("v1" -> "serving", "v2" -> "swap_target"))
    assert(fs.exists(new Path(s"$root/v2")),
      "GC collected the target of a live swap intent")
    // the swap commits; v1 is now dead weight — but pass 1 only
    // grace-marks it (auditable, nothing deleted)
    sim.completeSwap(spark, root)
    assert(sim.gcRetiredVersions(spark, root)
      == Seq("v1" -> "marked", "v2" -> "serving"))
    assert(fs.exists(new Path(s"$root/v1")),
      "the grace pass deleted instead of marking")
    // rollback window: the pointer moves BACK to v1 between passes —
    // the marked version is live again, so GC unmarks and keeps it
    graft.io.Commit.writeMarker(spark, s"$root/_VERSION", "v1")
    assert(sim.gcRetiredVersions(spark, root)
      == Seq("v1" -> "unmarked", "v2" -> "marked"))
    assert(fs.exists(new Path(s"$root/v1")),
      "GC collected a version the pointer rolled back to")
    // roll forward again and run the two passes to completion: v1 is
    // re-marked, then collected; v2 serves untouched throughout
    graft.io.Commit.writeMarker(spark, s"$root/_VERSION", "v2")
    assert(sim.gcRetiredVersions(spark, root)
      == Seq("v1" -> "marked", "v2" -> "unmarked"))
    assert(sim.gcRetiredVersions(spark, root)
      == Seq("v1" -> "deleted", "v2" -> "serving"))
    assert(!fs.exists(new Path(s"$root/v1")),
      "the marked dead version was not collected")
    assert(!fs.exists(new Path(s"$root/_RETIRED_v1")),
      "the grace mark outlived the collection")
    // replay-is-no-op: the collected version is gone from the listing
    assert(sim.gcRetiredVersions(spark, root)
      == Seq("v2" -> "serving"))
    assert(fs.exists(new Path(s"$root/v2/_INDEX")),
      "the serving version was disturbed by GC")
  }
}
