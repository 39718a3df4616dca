package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.apps.{CurationIncremental, VirusPipeline}
import graft.functions.Timing

/** The shared stage clock, and the stage names the staged verbs report
  * through `onStage`: `graft.Bench` turns them into its
  * `pipeline_*_sN_*` rows, and the benchmark driver switches layers on
  * "s1_features". */
class StageClockSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** The stages `f` reports, in order, and its wall seconds. */
  private def stagesOf(f: ((String, Double) => Unit) => Unit)
      : (Seq[(String, Double)], Double) = {
    val got = ArrayBuffer.empty[(String, Double)]
    val t0 = System.nanoTime()
    f((n, s) => got += n -> s)
    (got.toSeq, (System.nanoTime() - t0) / 1e9)
  }

  private def assertTimes(stages: Seq[(String, Double)], wall: Double) = {
    assert(stages.forall(_._2 >= 0.0), stages)
    assert(stages.map(_._2).sum <= wall, s"$stages exceed $wall s")
  }

  test("the clock's stages are contiguous; a stage another clock " +
    "measured is reported as given and starts the next stage") {
    val (stages, wall) = stagesOf { onStage =>
      val clock = Timing.stages("spec", onStage)
      Thread.sleep(50)
      clock.done("a")
      Thread.sleep(300)
      clock.ended("b", 0.25)
      clock.done("c")
    }
    assert(stages.map(_._1) == Seq("a", "b", "c"))
    assert(stages(0)._2 >= 0.05)
    assert(stages(1)._2 == 0.25)
    assert(stages(2)._2 < 0.2, "the stage after `ended` kept the old mark")
    assertTimes(Seq(stages(0), stages(2)), wall)
  }

  test("a window counts the classes compiled for a plan never seen " +
    "before, and none when the same plan runs again") {
    // a literal nothing else uses is inlined into the generated code, so
    // the stage's class is new to this JVM's codegen cache
    val q = spark.range(0, 100, 1, 2)
      .selectExpr(s"id * ${System.nanoTime()}L + 7 AS v")
    val (first, w1) = JobCount.windowOf(spark)(q.collect().toSeq)
    val (again, w2) = JobCount.windowOf(spark)(q.collect().toSeq)
    assert(first == again)
    assert(w1.compiles >= 1, s"the first run compiled ${w1.compiles}")
    assert(w2.compiles == 0, s"the second run compiled ${w2.compiles}")
  }

  test("VirusPipeline.run reports s1_features then s2_cluster") {
    val (stages, wall) = stagesOf { onStage =>
      VirusPipeline.run(spark, TestFiles.tinyApiLogs.toString, topN = 10,
        k = 2, onStage = onStage)
      ()
    }
    assert(stages.map(_._1) == Seq("s1_features", "s2_cluster"))
    assertTimes(stages, wall)
  }

  test("curateBase then applyDelta report s1..s6 then s7..s11, in order") {
    val d = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, d)
    val cutoff = CurationIncremental.cutoffOf(docs)
    val root = TestFiles.tempDir("graft_stage_names").toString
    val (stages, wall) = stagesOf { onStage =>
      CurationIncremental.curateBase(spark,
        docs.filter(col("doc_id") < cutoff), root, onStage = onStage)
      CurationIncremental.applyDelta(spark, root,
        docs.filter(col("doc_id") >= cutoff), onStage = onStage)
    }
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    assert(stages.map(_._1) == Seq(
      "s1_base_tokenize", "s2_base_exact_keys", "s3_base_neardup_bank",
      "s4_base_gates", "s5_base_decon", "s6_base_publish",
      "s7_delta_tokenize", "s8_delta_exact_vs_keys",
      "s9_delta_neardup_vs_bank", "s10_delta_gates_decon",
      "s11_merge_publish"))
    assertTimes(stages, wall)
  }
}
