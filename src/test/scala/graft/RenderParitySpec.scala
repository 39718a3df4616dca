package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import graft.apps.VirusPipeline
import graft.export.Hierarchy
import graft.io.Codecs
import graft.operators.FeatureSelection
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The driver-side renderers of the stage-1/2 artifacts against the
  * distributed forms they replaced, kept here as oracles: Spark's
  * `collect_list` nesting + `to_json` for `data.json`, and `orderBy` +
  * `collect` for each writer, and `libsvmRows` over the long-form
  * vectors for the LIBSVM file `writeArtifacts` renders from the
  * assembled samples. Identical bytes on the tiny fixture and
  * on adversarial rows (JSON escapes, non-ASCII and supplementary
  * characters, cluster ids ≥ 10). */
class RenderParitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** The former `Hierarchy.d3Json`. */
  private def toJsonNesting(assignments: DataFrame): String = {
    val samples = assignments.select(
      col("cluster"),
      when(col("label") === 0.0, "Clean").otherwise("Virus").as("label_name"),
      struct(col("sample_id").as("name"), col("apis").as("children")).as("sample"))
    val labels = samples
      .groupBy("cluster", "label_name")
      .agg(sort_array(collect_list(col("sample"))).as("children"))
      .select(col("cluster"),
        struct(col("label_name").as("name"), col("children")).as("label_node"))
    val clusters = labels
      .groupBy("cluster")
      .agg(sort_array(collect_list(col("label_node"))).as("children"))
      .select(struct(concat(lit("Cluster #"), col("cluster")).as("name"),
        col("children")).as("cluster_node"))
    clusters
      .agg(sort_array(collect_list(col("cluster_node"))).as("children"))
      .select(to_json(struct(lit("Main Container").as("name"),
        col("children"))).as("json"))
      .collect()(0).getString(0)
  }

  private def lines(ls: Array[String]): String = ls.mkString("", "\n", "\n")

  /** The former writers' sorted lines. */
  private def orderedTop(top: DataFrame): String =
    lines(top.orderBy("feature_index").select("token", "info_gain")
      .collect().map(r => s"(${r.getString(0)},${r.getDouble(1)})"))
  private def orderedLibSvm(rows: DataFrame): String =
    lines(rows.orderBy("sample_id").select("libsvm_row").collect()
      .map(_.getString(0)))
  private def orderedOutput(assignments: DataFrame): String =
    lines(Codecs.outputTxtLines(assignments)
      .orderBy("cluster", "label", "line").select("line").collect()
      .map(_.getString(0)))

  private def written(write: String => Unit): String = {
    val f = TestFiles.tempFile("graft_render_", ".txt")
    write(f.toString)
    new String(Files.readAllBytes(f), UTF_8)
  }

  private def assertSameBytes(top: DataFrame, vectors: DataFrame,
                              samples: DataFrame, assignments: DataFrame): Unit = {
    assert(written(Codecs.writeTopFeatures(top, _)) == orderedTop(top))
    val libsvm = FeatureSelection.libsvmRows(vectors)
    assert(written(Codecs.writeLibSvm(libsvm, _)) == orderedLibSvm(libsvm))
    // writeArtifacts renders the LIBSVM lines from the assembled samples
    val out = TestFiles.tempDir("graft_render_")
    VirusPipeline.writeArtifacts(VirusPipeline.Artifacts(top, vectors,
      samples, assignments, spark.emptyDataFrame, ""), out.toString)
    assert(new String(Files.readAllBytes(out.resolve("LIBSVMOutput.txt")),
      UTF_8) == orderedLibSvm(libsvm))
    assert(written(Codecs.writeOutputTxt(assignments, _)) ==
      orderedOutput(assignments))
    assert(Hierarchy.d3Json(assignments.collect().toSeq) ==
      toJsonNesting(assignments))
  }

  test("tiny fixture: driver renderers equal the distributed forms") {
    val a = VirusPipeline.run(spark, TestFiles.tinyApiLogs.toString,
      topN = 10, k = 2)
    assertSameBytes(a.top, a.vectors, a.samples, a.assignments)
    assert(a.json == toJsonNesting(a.assignments))
    // the apis leaves equal the former vec ⋈ top join + collect_list
    val n = a.top.count()
    val joined = a.vectors
      .join(a.top.select("feature_index", "token"), Seq("feature_index"))
      .groupBy("sample_id")
      .agg(sort_array(collect_list(struct(col("feature_index"),
        col("token")))).as("fs"))
      .select(col("sample_id"), expr(
        s"transform(fs, f -> struct(f.token AS name, " +
        s"$n - (f.feature_index - 1) AS size))").as("apis"))
    def bySample(df: DataFrame) =
      df.select("sample_id", "apis").collect().map(_.toString).sorted.toSeq
    assert(bySample(a.assignments) == bySample(joined))
    // the report equals the former groupBy + format_string + orderBy
    val report = a.assignments
      .groupBy(col("cluster"), when(col("label") === 0.0, "Clean")
        .otherwise("Virus").as("label_name"))
      .agg(count(lit(1)).as("n"))
      .select(format_string("Cluster %d contains %d %s files",
        col("cluster"), col("n"), col("label_name")).as("line"),
        col("cluster"), col("label_name"))
      .orderBy("cluster", "label_name")
    assert(a.clusterReport.collect().toSeq == report.collect().toSeq)
    def types(df: DataFrame) = df.schema.map(f => (f.name, f.dataType))
    assert(types(a.clusterReport) == types(report))
  }

  test("adversarial rows: escapes, UTF-8 order, clusters >= 10") {
    val supplementary = "😀" // U+1F600: F0 9F 98 80 in UTF-8
    val names = Seq("\"q\"", "back\\slash", "ctl\u0001\u001f\n\t\r\b\f",
      " \u007f/", "naïve é", supplementary, "ｚ", "", "Z", "a",
      "日本")
    // UTF-8 bytes put U+FF5A before U+1F600; UTF-16 units the reverse
    assert(Codecs.sqlStringOrder.lt("ｚ", supplementary))
    assert(supplementary.compareTo("ｚ") < 0)
    val rnd = new scala.util.Random(11)
    val top = rnd.shuffle(names.zipWithIndex.map { case (t, i) =>
      (i + 1, t, Seq(0.5, 1.0e-7, 0.0, 0.123456)(i % 4))
    }).toDF("feature_index", "token", "info_gain").repartition(3)
    val rows = for {
      c <- Seq(0, 1, 2, 9, 10, 11, 23)
      label <- Seq(0.0, 1.0)
      name <- names if rnd.nextInt(3) > 0
    } yield (c, label, s"$name/$c/${label.toInt}",
      rnd.shuffle(names.indices.toList).take(1 + rnd.nextInt(3)))
    val shuffled = rnd.shuffle(rows)
    val assignments = shuffled
      .map { case (c, l, s, idx) =>
        (c, l, s, idx.map(i => (names(i), names.size - i)))
      }
      .toDF("cluster", "label", "sample_id", "raw")
      .withColumn("apis", expr(
        "transform(raw, x -> struct(x._1 AS name, x._2 AS size))"))
      .drop("raw").repartition(3)
    val vectors = shuffled
      .flatMap { case (_, l, s, idx) => idx.map(i => (s, l, i + 1)) }
      .toDF("sample_id", "label", "feature_index").repartition(3)
    assertSameBytes(top, vectors,
      VirusPipeline.assemble(vectors, names.size), assignments)
  }
}
