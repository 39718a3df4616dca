package graft.io

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Text codecs for the reference's file artifacts, kept as pure
  * row→line functions so byte compatibility is testable (SURVEY §1.3).
  *
  * The writers collect to the driver on purpose: these artifacts are
  * small by construction (ranked features ≤ topN rows; one row per
  * sample), and the reference's sinks are driver-side writers too
  * (K1-K3, `FeatureSelectionCloud.scala:147-180`,
  * `KmeansVirus.scala:128-136`). They also sort on the driver, in
  * Spark's own orders (strings by UTF-8 bytes, doubles by
  * `SQLOrderingUtil`), so each writer is one collect and no sort job;
  * over the pipeline's local frames it is no job at all. Anything
  * large (the LIBSVM matrix at scale) can go through `df.write.text`
  * instead — the line-format columns are Spark expressions either way.
  */
object Codecs {

  /** Spark's ascending string order: UTF-8 bytes, which differs from
    * `String.compareTo`'s UTF-16 units around supplementary
    * characters. */
  val sqlStringOrder: Ordering[String] = (a, b) =>
    UTF8String.fromString(a).compareTo(UTF8String.fromString(b))

  private def writeLines(lines: Seq[String], path: String): Unit =
    Files.write(Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))

  /** K1: `(token,gain)` tuple lines, descending rank — byte format of
    * `topFeatures.txt` (`FeatureSelectionCloud.scala:147-158`). Uses
    * driver-side Double.toString for exact Java formatting. */
  def writeTopFeatures(top: DataFrame, path: String): Unit =
    writeLines(top.select("feature_index", "token", "info_gain").collect()
      .sortBy(_.getInt(0))
      .map(r => s"(${r.getString(1)},${r.getDouble(2)})").toSeq, path)

  /** K2: LIBSVM lines (already formatted by
    * `FeatureSelection.libsvmRows`), one file. Sorted by sample for
    * determinism (the reference inherited listing order). */
  def writeLibSvm(rows: DataFrame, path: String): Unit =
    writeLines(rows.select("sample_id", "libsvm_row").collect()
      .sortBy(_.getString(0))(sqlStringOrder).map(_.getString(1)).toSeq, path)

  /** S3-equivalent: parse LIBSVM text back to long form
    * `(row_id, label, indices ARRAY<INT>)`. The loader's 0-based shift
    * (`MLUtils.loadLibSVMFile`, SURVEY §7.4.4) is NOT applied here —
    * indices stay 1-based as written; ML vector assembly shifts once.
    *
    * Line-order recovery: `monotonically_increasing_id` is monotone in
    * (partition index, offset within partition), and for a SINGLE text
    * file Spark's split planning keeps partitions in byte-offset order
    * (equal-size splits are generated in offset order and the sort by
    * split length is stable; the short tail split is both smallest and
    * last). These artifacts are single files by construction (the
    * driver-side writers above). CodecsSpec proves the multi-partition
    * round-trip; a multi-FILE glob has no such guarantee — don't feed
    * one to these readers. */
  def readLibSvm(lines: Dataset[String]): DataFrame =
    lines.toDF("line")
      .withColumn("row_id", monotonically_increasing_id())
      .select(col("row_id"),
        split(col("line"), " ").getItem(0).cast("double").as("label"),
        expr("transform(slice(split(line, ' '), 2, 100000)," +
          " p -> cast(split_part(p, ':', 1) AS INT))").as("indices"))

  /** S4 + P8: parse `topFeatures.txt` tuple lines back to
    * (feature_index, token, info_gain) — the reference reparses this
    * file in stage 2 (`KmeansVirus.scala:94-99`, name cleanup at
    * `:99`); rank order = line order, 1-based (same single-file
    * order-recovery contract as [[readLibSvm]], spec-proven at >1
    * partition). */
  def readTopFeatures(lines: Dataset[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    lines.toDF("line")
      .withColumn("ord", monotonically_increasing_id())
      .select(col("ord"),
        regexp_extract(col("line"), "^\\((.*),([^,]*)\\)$", 1).as("token"),
        regexp_extract(col("line"), "^\\((.*),([^,]*)\\)$", 2)
          .cast("double").as("info_gain"))
      .withColumn("feature_index",
        row_number().over(Window.orderBy("ord")).cast("int"))
      .select("feature_index", "token", "info_gain")
  }

  /** K3 + P9: `cluster;label;[{"name": "X", "size": N},…]` lines —
    * byte format of `output.txt` (`KmeansVirus.scala:107-111,135`),
    * including the reference's spaces after the JSON colons (it
    * string-concatenates, it does not JSON-encode). Input:
    * (cluster INT, label DOUBLE, apis ARRAY<STRUCT<name,size>>). */
  def outputTxtLines(assignments: DataFrame): DataFrame =
    assignments.select(col("cluster"), col("label"),
      concat(col("cluster").cast("string"), lit(";"),
        col("label").cast("string"), lit(";"),
        lit("["),
        array_join(transform(col("apis"), a =>
          format_string("""{"name": "%s", "size": %d}""",
            a.getField("name"), a.getField("size"))), ","),
        lit("]")).as("line"))

  /** K3: [[outputTxtLines]] in (cluster, label, line) order. */
  def writeOutputTxt(assignments: DataFrame, path: String): Unit = {
    val order = Ordering.by[Row, Int](_.getInt(0))
      .orElse(Ordering.by[Row, Double](_.getDouble(1))(
        SQLOrderingUtil.compareDoubles(_, _)))
      .orElse(Ordering.by[Row, String](_.getString(2))(sqlStringOrder))
    writeLines(outputTxtLines(assignments).collect().sorted(order)
      .map(_.getString(2)).toSeq, path)
  }

  /** K5: the D3 hierarchy JSON (`Hierarchy.d3Json`'s rendering), as is. */
  def writeJson(json: String, path: String): Unit =
    Files.write(Paths.get(path), json.getBytes(StandardCharsets.UTF_8))
}
