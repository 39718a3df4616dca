package graft

import graft.apps.VirusPipeline
import graft.io.Codecs
import graft.operators.FeatureSelection
import org.scalatest.funsuite.AnyFunSuite

/** Codec round-trips, including interop with Spark's built-in
  * `libsvm` datasource (S3: the reference re-ingests its own artifact
  * via `MLUtils.loadLibSVMFile`, `KmeansVirus.scala:75`). */
class CodecsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val dir =
    new java.io.File("src/test/resources/tiny_api_logs").getAbsolutePath

  test("written LIBSVM loads through Spark's builtin libsvm source") {
    val a = VirusPipeline.run(spark, dir, topN = 10, k = 2)
    val out = TestFiles.tempDir("graft_libsvm_").toString
    Codecs.writeLibSvm(FeatureSelection.libsvmRows(a.vectors),
      s"$out/LIBSVMOutput.txt")
    val back = spark.read.format("libsvm").option("numFeatures", "2")
      .load(s"$out/LIBSVMOutput.txt")
    assert(back.count() == 3)
    assert(back.columns.toSet == Set("label", "features"))
    // builtin loader shifts to 0-based: c1 row (0-label) has both features
    val zeros = back.filter("label = 0.0").collect()
    assert(zeros.length == 1)
    val v = zeros(0).getAs[org.apache.spark.ml.linalg.SparseVector]("features")
    assert(v.indices.toSeq == Seq(0, 1))
  }

  test("line-order recovery survives a multi-partition single-file read") {
    import spark.implicits._
    val out = TestFiles.tempDir("graft_mp_").toString
    val n = 20000
    // label encodes the line number, so recovered order is checkable
    val lines = (0 until n).map(i => s"$i.0 ${i % 97 + 1}:1")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$out/m.txt"),
      lines.mkString("", "\n", "\n").getBytes)
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "8192")
    try {
      val ds = spark.read.textFile(s"$out/m.txt")
      assert(ds.rdd.getNumPartitions > 4, "file must split for this test")
      val back = Codecs.readLibSvm(ds).orderBy("row_id")
        .select("label").as[Double].collect()
      assert(back.toSeq == (0 until n).map(_.toDouble))
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }

  test("topFeatures codec round-trips with rank order (S4+P8)") {
    import spark.implicits._
    val a = VirusPipeline.run(spark, dir, topN = 10, k = 2)
    val out = TestFiles.tempDir("graft_tf_").toString
    Codecs.writeTopFeatures(a.top, s"$out/topFeatures.txt")
    val back = Codecs.readTopFeatures(
      spark.read.textFile(s"$out/topFeatures.txt"))
    val rows = back.collect().map(r => (r.getInt(0), r.getString(1), r.getDouble(2)))
    assert(rows.toSeq == Seq((1, "B", 0.0), (2, "C", 0.0)))
  }
}
