package graft.io

import graft.functions.Funcs._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Reader for the reference's raw corpus layout
  * (`api_logs/{clean,virus}_LOGS_CONVERTED/` text files, one API call
  * per line, lines like `LoadLibrary -` — FIXTURES.md §1).
  *
  * ONE whole-corpus `textFile` scan with `input_file_name()` instead
  * of the reference's per-file RDD array + S3 SDK listing
  * (`FeatureSelectionCloud.scala:204-246,290,323-343`) — the per-file
  * identity becomes a `sample_id` column, which removes the O(#files)
  * job storm (SURVEY.md §4.2.1). Normalization strips `[ +-]` like the
  * reference (P1, `:333-337`) — this also erases the trailing ` -` of
  * every line; lines that normalize to empty are dropped (P2, `:337`).
  *
  * The scan names the two class directories and filters their files
  * with `pathGlobFilter`, so Spark lists them on the driver: a glob
  * that named every file would be listed by a parallel job with one
  * task per file once it matched more than
  * `parallelPartitionDiscovery.threshold` (32) paths. The file totals
  * (A3) come from that same listing and start no job either.
  *
  * At scale: many small files are the classic pathology here — Spark
  * handles packing via `maxPartitionBytes`/file coalescing, and the
  * output is immediately long-form columnar so everything downstream
  * is a normal shuffle-based operator.
  */
object ApiLogReader {

  /** The positive class's directory; every other class directory is
    * "clean". */
  private val VirusDir = "virus_LOGS_CONVERTED"

  /** One corpus text scan, UNFILTERED: every line becomes a row even
    * when its token normalizes to empty. [[callsOf]] and [[totalsOf]]
    * derive both stage-1 inputs from this single frame. */
  def readRaw(spark: SparkSession, dir: String): DataFrame =
    spark.read.option("pathGlobFilter", "*.txt")
      .textFile(s"$dir/*_LOGS_CONVERTED").toDF("line")
      .select(
        // sample_id keeps the class directory: the same basename exists
        // in BOTH class dirs, so basename alone would merge two samples.
        // input_file_name() is URI-encoded → decode for readable ids.
        // The last two path segments, without a per-row regex
        // (PropertiesSpec: equal to regexp_extract "([^/]+/[^/]+)$").
        url_decode(substring_index(input_file_name(), "/", -2))
          .as("sample_id"),
        when(input_file_name().contains(VirusDir), "virus")
          .otherwise("clean").as("cls"),
        normalizeToken(col("line")).as("token"))

  /** The calls view of [[readRaw]]: lines that normalize to empty are
    * dropped (P2). */
  def callsOf(raw: DataFrame): DataFrame =
    raw.filter(length(col("token")) > 0)

  /** calls(sample_id, cls, token); cls = parent-directory class
    * ("virus"/"clean"). */
  def read(spark: SparkSession, dir: String): DataFrame =
    callsOf(readRaw(spark, dir))

  /** Single-row totals (p = #positive-class files, t = #all files) —
    * counts FILES (including token-less ones), matching the
    * reference's listing-based counts (A3,
    * `FeatureSelectionCloud.scala:122-123`). */
  def totals(spark: SparkSession, dir: String, posCls: String): DataFrame =
    totalsOf(readRaw(spark, dir), posCls)

  /** [[totals]] over an already-read [[readRaw]] frame, counted from
    * the scan's own file listing (its `HadoopFsRelation.location`) as
    * a 1-row local frame: no corpus pass, no job. `listFiles` leaves
    * out 0-byte files, so it counts exactly the files that yield at
    * least one raw row — the files a distinct over `sample_id` counted
    * (token-less files included, since the raw frame is pre-filter;
    * ApiLogReaderSpec pins both). */
  def totalsOf(raw: DataFrame, posCls: String): DataFrame = {
    val paths = raw.queryExecution.analyzed.collectFirst {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) =>
        r.location.listFiles(Nil, Nil).flatMap(_.files).map(_.getPath.toString)
    }.getOrElse(throw new IllegalArgumentException(
      "totalsOf needs a frame read by readRaw"))
    val p = paths.count(f =>
      (if (f.contains(VirusDir)) "virus" else "clean") == posCls)
    raw.sparkSession.createDataFrame(
      java.util.List.of(Row(p.toLong, paths.size.toLong)),
      StructType(Seq(StructField("p", LongType), StructField("t", LongType))))
  }
}
