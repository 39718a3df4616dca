package graft

import graft.apps.VirusPipeline
import graft.io.Codecs
import graft.operators.FeatureSelection
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end pipeline on the tiny fixture: artifacts exist with the
  * reference's byte formats; assignments join by key (never zip);
  * LIBSVM codec round-trips. */
class VirusPipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val dir =
    new java.io.File("src/test/resources/tiny_api_logs").getAbsolutePath

  test("pipeline writes all four artifacts in reference formats") {
    val out = java.nio.file.Files.createTempDirectory("graft_vp_").toString
    val a = VirusPipeline.run(spark, dir, topN = 10, k = 2)
    VirusPipeline.writeArtifacts(a, out)

    val topLines = scala.io.Source.fromFile(s"$out/topFeatures.txt")
      .getLines().toSeq
    assert(topLines == Seq("(B,0.0)", "(C,0.0)"))

    val libsvm = scala.io.Source.fromFile(s"$out/LIBSVMOutput.txt")
      .getLines().toSeq
    assert(libsvm.sorted == Seq("0 1:1 2:1", "1 1:1", "1 2:1"))

    val output = scala.io.Source.fromFile(s"$out/output.txt")
      .getLines().toSeq
    assert(output.size == 3) // c2 has no features → no row
    // reference byte format incl. spaces after JSON colons; size =
    // nFeatures − (rank−1) = 2 − 0 = 2 for B, 1 for C
    assert(output.exists(_.matches(
      """\d;1\.0;\[\{"name": "B", "size": 2\}\]""")))
    assert(output.exists(_.matches(
      """\d;0\.0;\[\{"name": "B", "size": 2\},\{"name": "C", "size": 1\}\]""")))

    val json = scala.io.Source.fromFile(s"$out/data.json").mkString
    assert(json.contains(""""name":"Main Container""""))
    assert(json.contains(""""name":"Virus""""))

    val report = a.clusterReport.collect().map(_.getString(0))
    assert(report.forall(_.matches("Cluster \\d contains \\d+ (Clean|Virus) files")))

    val score = VirusPipeline.entropyScore(a.assignments)
    assert(score >= 0.0 && score <= math.log(2))
  }

  test("run + writeArtifacts + entropyScore stay within their job counts") {
    // a private copy of the fixture: no plan cached by another test
    // serves it, so every job runs
    val copy = TestFiles.copyOf(TestFiles.tinyApiLogs).toString
    val out = java.nio.file.Files.createTempDirectory("graft_vpjobs_").toString
    val (a, runJobs) = JobCount.of(spark)(
      VirusPipeline.run(spark, copy, topN = 10, k = 2))
    val (_, writeJobs) = JobCount.of(spark)(
      VirusPipeline.writeArtifacts(a, out))
    val (_, entropyJobs) = JobCount.of(spark)(
      VirusPipeline.entropyScore(a.assignments))
    // the writers collect top and the LIBSVM rows; output.txt and
    // data.json render from local frames
    assert(writeJobs <= 3, s"writeArtifacts ran $writeJobs jobs")
    assert(entropyJobs <= 2, s"entropyScore ran $entropyJobs jobs")
    val total = runJobs + writeJobs + entropyJobs
    assert(total <= 29, s"run $runJobs + write $writeJobs + " +
      s"entropy $entropyJobs = $total jobs")
  }

  test("LIBSVM codec round-trips") {
    import spark.implicits._
    val lines = Seq("1 2:1 5:1", "0 1:1").toDS()
    val parsed = Codecs.readLibSvm(lines).collect()
    val byLabel = parsed.map(r =>
      r.getDouble(1) -> r.getSeq[Int](2)).toMap
    assert(byLabel(1.0) == Seq(2, 5) && byLabel(0.0) == Seq(1))
  }

  test("stage-2/3 artifacts byte-match the frozen full-corpus goldens") {
    // Frozen once from this pipeline on /root/reference/api_logs
    // (topN=2000, k=10, best-of-10 seeded k-means) after verifying two
    // independent runs produce identical bytes — the stage-2/3
    // equivalent of ReferenceParitySpec's stage-1 golden. Any change
    // to feature selection, vector assembly, clustering seeds, or the
    // output codecs shows up here as a byte diff.
    assume(new java.io.File("/root/reference/api_logs").isDirectory)
    val out = java.nio.file.Files.createTempDirectory("graft_golden_").toString
    val a = VirusPipeline.run(spark, "/root/reference/api_logs")
    VirusPipeline.writeArtifacts(a, out)
    def bytes(p: String) = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(p))
    assert(java.util.Arrays.equals(bytes(s"$out/output.txt"),
      bytes("src/test/resources/golden/output_fullcorpus.txt")),
      "output.txt drifted from the frozen golden")
    assert(java.util.Arrays.equals(bytes(s"$out/data.json"),
      bytes("src/test/resources/golden/data_fullcorpus.json")),
      "data.json drifted from the frozen golden")
  }

  test("classification report uses the reference's console format") {
    // needs enough rows to split; use the real corpus if present
    assume(new java.io.File("/root/reference/api_logs").isDirectory)
    val a = VirusPipeline.run(spark, "/root/reference/api_logs", topN = 2000)
    val samples = VirusPipeline.assemble(a.vectors, a.top.count().toInt)
    val rep = VirusPipeline.classificationReport(spark, samples)
    val rows = rep.collect()
    assert(rows.length == 19) // 14 DT points + 5 SVC points
    assert(rows.forall(_.getString(3).matches(""".*AUC = \d+\.\d\d%""")))
    // qualitative parity (readme.md:89-118): every AUC is a valid prob.
    assert(rows.forall(r => r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0))
    // Band parity with the reference's published tables (readme.md:
    // 89-118; SURVEY §5; round-6 verdict #8), part 1: deeper entropy
    // trees separate better than the depth-1 stump (the published
    // table climbs 64.88% → 79.17% at depth 3). Seeded split, so
    // deterministic on the full corpus.
    def auc(model: String, param: Double): Double =
      rows.find(r => r.getString(0) == model && r.getDouble(1) == param)
        .getOrElse(fail(s"missing report row $model/$param")).getDouble(2)
    assert(auc("dt-entropy", 3) >= auc("dt-entropy", 1),
      "depth-3 entropy tree must not separate worse than the stump")
  }

  test("faithful-SGD SVM reproduces the published reg-10 collapse") {
    // Band parity part 2 (readme.md:108-118): the reference's CV-SVM
    // table collapses at reg=10.0 (44.05%, BELOW every other point,
    // near coin-flip) — an artifact of SVMWithSGD's 10 fixed-step L2
    // iterations, which the modern LinearSVC route deliberately does
    // NOT reproduce (it stays ~0.85 here; that's why both optimizers
    // ship — SURVEY §2.8). Assert the band on the byte-faithful
    // optimizer, where the published shape is a property of the
    // algorithm, not of one dataset draw.
    assume(new java.io.File("/root/reference/api_logs").isDirectory)
    val a = VirusPipeline.run(spark, "/root/reference/api_logs", topN = 2000)
    val samples = VirusPipeline.assemble(a.vectors, a.top.count().toInt)
    val sgd = VirusPipeline.sgdReport(spark, samples).collect()
      .map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    val others = Seq(0.001, 0.01, 0.1, 1.0).map(sgd)
    assert(sgd(10.0) < others.min,
      s"reg-10 must be the worst point on the board: ${sgd(10.0)} vs $others")
    assert(math.abs(sgd(10.0) - 0.5) < 0.25,
      s"reg-10 must collapse toward coin-flip, got ${sgd(10.0)}")
  }
}
