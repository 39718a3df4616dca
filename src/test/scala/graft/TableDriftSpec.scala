package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Round-5's events-ts incident pattern applied FORWARD (round-6
  * verdict #7): the driver's testdata generator may re-emit
  * documents/embeddings/lineitem under different physical parquet
  * encodings (INT32 ids, DECIMAL prices, DATE dates, DOUBLE
  * embeddings). The loaders normalize value-preserving widenings to
  * the canonical schema and fail LOUDLY on lossy ones — this spec
  * writes the same rows under alternate encodings and asserts both
  * halves, so a future regeneration cannot silently corrupt a family
  * again (EventTsEncodingSpec is the template; Tables.normalizeTo is
  * the mechanism).
  */
class TableDriftSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def stage(name: String, df: DataFrame): String = {
    val root = TestFiles.tempDir("graft_drift_")
    val tmp = root.resolve("_write")
    df.coalesce(1).write.parquet(tmp.toString)
    val part = java.nio.file.Files.list(tmp).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    java.nio.file.Files.move(part, root.resolve(s"$name.parquet"))
    root.toString
  }

  test("documents: INT32 ids/lengths widen to the canonical LONGs") {
    val rows = Seq((1, "aa", "en", "web", 2), (2, "bbb", "de", "book", 3))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val d = stage("documents", rows)
    assert(spark.read.parquet(s"$d/documents.parquet")
      .schema("doc_id").dataType == IntegerType, "fixture must be INT32")
    val got = Tables.documents(spark, d)
    assert(got.schema("doc_id").dataType == LongType)
    assert(got.schema("n_chars").dataType == LongType)
    assert(got.orderBy("doc_id").select("doc_id", "text", "n_chars")
      .as[(Long, String, Long)].collect().toSeq ==
      Seq((1L, "aa", 2L), (2L, "bbb", 3L)))
  }

  test("embeddings: INT32 vec_id widens; DOUBLE embeddings fail loudly") {
    val ok = Seq((1, Array(0.5f, 1.25f), 0), (2, Array(2f, 4f), 1))
      .toDF("vec_id", "embedding", "label")
    val d = stage("embeddings", ok)
    val got = Tables.embeddings(spark, d)
    assert(got.schema("vec_id").dataType == LongType)
    assert(got.schema("embedding").dataType.asInstanceOf[ArrayType]
      .elementType == FloatType)
    assert(got.orderBy("vec_id").select("embedding")
      .as[Array[Float]].collect().toSeq.map(_.toSeq) ==
      Seq(Seq(0.5f, 1.25f), Seq(2f, 4f)))
    // DOUBLE elements narrowing to FLOAT can lose bits → loud error
    // naming the table and column, never a silent cast
    val bad = Seq((1L, Array(0.1d, 0.2d), 0))
      .toDF("vec_id", "embedding", "label")
    val dBad = stage("embeddings", bad)
    val e = intercept[RuntimeException](Tables.embeddings(spark, dBad))
    assert(e.getMessage.contains("embeddings.embedding"))
  }

  test("lineitem: DECIMAL prices, INT32 keys, DATE shipdate normalize") {
    // values chosen exactly representable in binary (x.25 / x.5), so
    // the decimal→double widening must reproduce them bit-for-bit
    val base = Seq(
      (10L, 3L, 5L, 1, 2.0, 100.25, 0.5, 0.25, "N", "O",
        java.sql.Timestamp.valueOf("2024-03-01 00:00:00")),
      (11L, 4L, 6L, 2, 3.0, 200.5, 0.0, 0.125, "R", "F",
        java.sql.Timestamp.valueOf("2024-05-02 00:00:00")))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
    val drifted = base
      .withColumn("l_orderkey", col("l_orderkey").cast(IntegerType))
      .withColumn("l_partkey", col("l_partkey").cast(IntegerType))
      .withColumn("l_suppkey", col("l_suppkey").cast(IntegerType))
      .withColumn("l_extendedprice",
        col("l_extendedprice").cast(DecimalType(12, 2)))
      .withColumn("l_quantity", col("l_quantity").cast(DecimalType(12, 2)))
      .withColumn("l_shipdate", to_date(col("l_shipdate")))
    val dA = stage("lineitem", base)
    val dB = stage("lineitem", drifted)
    val a = Tables.lineitem(spark, dA)
    val b = Tables.lineitem(spark, dB)
    assert(a.schema == b.schema,
      "both encodings must normalize to the canonical schema")
    assert(b.schema("l_orderkey").dataType == LongType)
    assert(b.schema("l_extendedprice").dataType == DoubleType)
    assert(b.schema("l_shipdate").dataType == TimestampNTZType)
    assert(a.orderBy("l_orderkey").collect().toSeq ==
      b.orderBy("l_orderkey").collect().toSeq)
  }

  test("a missing canonical column fails loudly, naming it") {
    val d = stage("documents",
      Seq((1L, "aa")).toDF("doc_id", "text"))
    val e = intercept[RuntimeException](Tables.documents(spark, d))
    assert(e.getMessage.contains("lang"))
  }

  test("the shipped testdata is already canonical (identity fast-path)") {
    val d = "/root/testdata/sf0.001"
    for ((df, canon) <- Seq(
        Tables.documents(spark, d) -> Tables.DocumentsCanonical,
        Tables.embeddings(spark, d) -> Tables.EmbeddingsCanonical,
        Tables.lineitem(spark, d) -> Tables.LineitemCanonical)) {
      val have = df.schema.fields.map(f => f.name -> f.dataType).toMap
      canon.foreach { case (n, t) => assert(have(n) == t, s"$n: ${have(n)}") }
      // identity fast-path: the loader must return the bare relation
      // (a leaf plan, no injected Project), so scan pushdown
      // assertions elsewhere (PlanSpec q02) see the raw scan
      assert(df.queryExecution.analyzed.children.isEmpty,
        s"expected a bare relation, got:\n${df.queryExecution.analyzed}")
    }
  }
}
