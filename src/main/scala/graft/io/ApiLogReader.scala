package graft.io

import graft.functions.Funcs._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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
  * At scale: many small files are the classic pathology here — Spark
  * handles packing via `maxPartitionBytes`/file coalescing, and the
  * output is immediately long-form columnar so everything downstream
  * is a normal shuffle-based operator.
  */
object ApiLogReader {

  /** One corpus text scan, UNFILTERED: every line becomes a row even
    * when its token normalizes to empty. [[callsOf]] and [[totalsOf]]
    * derive both stage-1 inputs from this single frame, so a caller
    * that caches it (the pipeline) pays ONE pass over the raw corpus
    * instead of one per consumer. */
  def readRaw(spark: SparkSession, dir: String): DataFrame =
    spark.read.textFile(s"$dir/*_LOGS_CONVERTED/*.txt").toDF("line")
      .select(
        // sample_id keeps the class directory: the same basename exists
        // in BOTH class dirs, so basename alone would merge two samples.
        // input_file_name() is URI-encoded → decode for readable ids.
        // The last two path segments, without a per-row regex
        // (PropertiesSpec: equal to regexp_extract "([^/]+/[^/]+)$").
        url_decode(substring_index(input_file_name(), "/", -2))
          .as("sample_id"),
        when(input_file_name().contains("virus_LOGS_CONVERTED"), "virus")
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
    * `FeatureSelectionCloud.scala:122-123`). Spark-native: distinct
    * file names from the same scan, before empty-line filtering. */
  def totals(spark: SparkSession, dir: String, posCls: String): DataFrame =
    totalsOf(readRaw(spark, dir), posCls)

  /** [[totals]] over an already-read [[readRaw]] frame — `sample_id`
    * is `classdir/basename`, a bijection of the file path within the
    * corpus, so distinct sample_ids count exactly the files the old
    * per-path distinct counted (and, like it, sees token-less files
    * because the frame is pre-filter). Assumes corpus filenames carry
    * no percent-encoded characters (they don't — FIXTURES.md §1):
    * sample_id is url_decode(path), so two distinct encoded paths
    * decoding to one string would merge; under that assumption the
    * decode is injective and the count equals the raw-path count. */
  def totalsOf(raw: DataFrame, posCls: String): DataFrame =
    raw.select("sample_id", "cls").distinct().agg(
      sum(when(col("cls") === posCls, 1L).otherwise(0L)).as("p"),
      count(lit(1)).as("t"))
}
