package graft.operators

import graft.Tables._
import graft.functions.Funcs._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The virus-analysis pipeline semantics (SURVEY.md §2) bound to the
  * driver's `documents` table for the DuckDB-oracle gate, plus the
  * text-analysis operators a training-data pipeline needs (language
  * ID, quality scoring, token stats, fingerprinting, shingling).
  *
  * The binary class split mirrors virus/clean: `lang = 'en'` is the
  * positive class. Tokens are whitespace-split words, normalized like
  * the reference's API names (P1: strip `[ +-]`,
  * `FeatureSelectionCloud.scala:333-337`; P2: drop empties, `:337`).
  */
object TextPipeline {

  /** documents → long-form calls table (sample_id, cls, token). */
  private def docCalls(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id").as("sample_id"),
              when(col("lang") === "en", "pos").otherwise("neg").as("cls"),
              explode(tokens(col("text"))).as("raw_token"))
      .select(col("sample_id"), col("cls"),
              normalizeToken(col("raw_token")).as("token"))
      .filter(length(col("token")) > 0)

  /** Single-row totals (p = #en docs, t = #docs) — the reference's
    * driver-side per-class file counts (A3). */
  private def docTotals(s: SparkSession, d: String): DataFrame =
    documents(s, d).agg(
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("p"),
      count(lit(1)).as("t"))

  private val TopK = 40

  // ---- shared oracle-SQL fragments (DuckDB dialect) -----------------

  /** Normalized non-empty token stream with class, distinct per doc. */
  private val toksCte =
    """toks AS (
      |  SELECT DISTINCT sample_id, cls, token FROM (
      |    SELECT doc_id AS sample_id,
      |           CASE WHEN lang = 'en' THEN 'pos' ELSE 'neg' END AS cls,
      |           regexp_replace(unnest(string_split(text, ' ')), '[ +-]', '', 'g') AS token
      |    FROM documents)
      |  WHERE length(token) > 0
      |)""".stripMargin

  // sums are CAST to BIGINT: DuckDB promotes integer sum() to HUGEINT,
  // which pandas surfaces as float64 — the driver's value hash then
  // sees 164.0 vs Spark's 164 and fails even though the math is right
  // (this was the entire root cause of round 1's vp02/vp06/ss02/dd08/
  // q12 hash mismatches)
  private val countsCte =
    """counts AS (
      |  SELECT token,
      |    CAST(sum(CASE WHEN cls = 'pos' THEN 1 ELSE 0 END) AS BIGINT) AS np,
      |    CAST(sum(CASE WHEN cls = 'neg' THEN 1 ELSE 0 END) AS BIGINT) AS nn
      |  FROM toks GROUP BY token
      |  HAVING sum(CASE WHEN cls = 'pos' THEN 1 ELSE 0 END) > 0
      |     AND sum(CASE WHEN cls = 'neg' THEN 1 ELSE 0 END) > 0
      |)""".stripMargin

  private val totalsCte =
    """totals AS (
      |  SELECT sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS p,
      |         count(*) AS t
      |  FROM documents
      |)""".stripMargin

  /** Raw info gain (NaN-propagating), ref `infoGain`
    * `FeatureSelectionCloud.scala:364-367`. */
  private val igSql: String = {
    val e1 = entropy2Sql("p", "t")
    val e2 = entropy2Sql("np", "np + nn")
    val e3 = entropy2Sql("p - np", "t - (np + nn)")
    s"""(($e1)
       | - ((CAST(np + nn AS DOUBLE) / CAST(t AS DOUBLE)) * ($e2))
       | - ((CAST(t - (np + nn) AS DOUBLE) / CAST(t AS DOUBLE)) * ($e3)))"""
      .stripMargin.replace("\n", "")
  }

  private val gainCte =
    s"""gains AS (
       |  SELECT token, np, nn,
       |    round(CASE WHEN isnan(ig) THEN 0.0 ELSE ig END, 6) AS info_gain
       |  FROM (SELECT token, np, nn, $igSql AS ig FROM counts CROSS JOIN totals)
       |)""".stripMargin

  private val topCte =
    s"""top AS (
       |  SELECT row_number() OVER (ORDER BY info_gain DESC, token ASC) AS feature_index,
       |         token, info_gain
       |  FROM gains
       |  ORDER BY info_gain DESC, token ASC
       |  LIMIT $TopK
       |)""".stripMargin

  private val vecCte =
    """vec AS (
      |  SELECT toks.sample_id AS doc_id,
      |         CASE WHEN toks.cls = 'pos' THEN 1.0 ELSE 0.0 END AS label,
      |         top.feature_index
      |  FROM toks JOIN top USING (token)
      |)""".stripMargin

  // -------------------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // vp01: A1+A2 document frequency per (token, class).
    "vp01_docfreq" -> ((s, d) =>
      FeatureSelection.docFreqOfDistinct(
          FeatureSelection.distinctCalls(docCalls(s, d)))
        .orderBy("token", "cls")),

    // vp02: M1+M2+P10+J1 information-gain ranking (inner-join parity
    // quirk included).
    "vp02_infogain" -> ((s, d) =>
      FeatureSelection.infoGainRankedOfDistinct(
          FeatureSelection.distinctCalls(docCalls(s, d)), "pos", docTotals(s, d))
        .orderBy("token")),

    // vp03: O1+O3 top-K features with 1-based rank.
    "vp03_topfeatures" -> ((s, d) =>
      FeatureSelection.topFeatures(
        FeatureSelection.infoGainRankedOfDistinct(
          FeatureSelection.distinctCalls(docCalls(s, d)), "pos", docTotals(s, d)),
        TopK)
        .orderBy("feature_index")),

    // vp04: J2+O5 sparse vectorization, long form. The tokenized
    // distinct-calls table feeds BOTH the info-gain ranking and the
    // vectorize join — materialize it once (locally localCheckpoint;
    // on a cluster a parquet checkpoint, same trade as dd05/dd10,
    // `dedup/Dedup.scala:253-261`) so the corpus is scanned/exploded
    // once per query instead of once per consumer.
    "vp04_vectorize" -> ((s, d) => {
      val distinct = FeatureSelection.distinctCalls(docCalls(s, d)).localCheckpoint()
      val ranked = FeatureSelection.infoGainRankedOfDistinct(distinct, "pos", docTotals(s, d))
      FeatureSelection.vectorizeOfDistinct(distinct,
          FeatureSelection.topFeatures(ranked, TopK), "pos")
        .withColumnRenamed("sample_id", "doc_id")
        .orderBy("doc_id", "feature_index")
    }),

    // vp05: K2 LIBSVM row codec (`label idx:1 …`, ascending 1-based
    // indices; zero-feature samples emit no row). Shares the single
    // materialized distinct-calls table exactly like vp04.
    "vp05_libsvm" -> ((s, d) => {
      val distinct = FeatureSelection.distinctCalls(docCalls(s, d)).localCheckpoint()
      val ranked = FeatureSelection.infoGainRankedOfDistinct(distinct, "pos", docTotals(s, d))
      FeatureSelection.libsvmRows(
          FeatureSelection.vectorizeOfDistinct(distinct,
            FeatureSelection.topFeatures(ranked, TopK), "pos"))
        .withColumnRenamed("sample_id", "doc_id")
        .orderBy("doc_id")
    }),

    // vp06: A4+A5+M3 per-cluster label-count entropy (natural log),
    // on a deterministic cluster assignment (doc_id % 10) so the
    // entropy operator itself is oracle-checkable; the real k-means
    // variant lives in the ml module. Ref `KmeansVirus.scala:199-206`.
    "vp06_cluster_entropy" -> ((s, d) => {
      val counts = documents(s, d)
        .select((col("doc_id") % 10).as("cluster"), col("lang").as("label"))
        .groupBy("cluster", "label").agg(count(lit(1)).as("n"))
      clusterEntropy(counts)
        .select(col("cluster"), col("n_total").as("n_docs"),
          round(col("entropy_raw"), 6).as("entropy"))
        .orderBy("cluster")
    }),

    // vp07: A6 weighted-average entropy score (global scalar), ref
    // `costlyWeightedAveEntropyScore`, `SVMDT.scala:264-284`.
    "vp07_entropy_score" -> ((s, d) => {
      val counts = documents(s, d)
        .select((col("doc_id") % 10).as("cluster"), col("lang").as("label"))
        .groupBy("cluster", "label").agg(count(lit(1)).as("n"))
      clusterEntropy(counts)
        .agg(round(sum(col("n_total") * col("entropy_raw")) / sum(col("n_total")), 6)
          .as("weighted_entropy"))
    })
  )

  val oracles: Map[String, String] = Map(
    "vp01_docfreq" ->
      s"""WITH $toksCte
         |SELECT token, cls, count(*) AS n_docs
         |FROM toks GROUP BY token, cls
         |ORDER BY token, cls""".stripMargin,

    "vp02_infogain" ->
      s"""WITH $toksCte, $countsCte, $totalsCte, $gainCte
         |SELECT token, np, nn, info_gain FROM gains
         |ORDER BY token""".stripMargin,

    "vp03_topfeatures" ->
      s"""WITH $toksCte, $countsCte, $totalsCte, $gainCte, $topCte
         |SELECT feature_index, token, info_gain FROM top
         |ORDER BY feature_index""".stripMargin,

    "vp04_vectorize" ->
      s"""WITH $toksCte, $countsCte, $totalsCte, $gainCte, $topCte, $vecCte
         |SELECT doc_id, label, feature_index FROM vec
         |ORDER BY doc_id, feature_index""".stripMargin,

    "vp05_libsvm" ->
      s"""WITH $toksCte, $countsCte, $totalsCte, $gainCte, $topCte, $vecCte
         |SELECT doc_id,
         |  CAST(label AS INT) || ' ' ||
         |    string_agg(feature_index || ':1', ' ' ORDER BY feature_index)
         |    AS libsvm_row
         |FROM vec
         |GROUP BY doc_id, label
         |ORDER BY doc_id""".stripMargin,

    "vp06_cluster_entropy" ->
      """WITH counts AS (
        |  SELECT doc_id % 10 AS cluster, lang AS label, count(*) AS n
        |  FROM documents GROUP BY 1, 2
        |), terms AS (
        |  SELECT cluster, n,
        |    -(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY cluster)) *
        |      ln(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY cluster)) AS term
        |  FROM counts
        |)
        |SELECT cluster, CAST(sum(n) AS BIGINT) AS n_docs, round(sum(term), 6) AS entropy
        |FROM terms GROUP BY cluster
        |ORDER BY cluster""".stripMargin,

    "vp07_entropy_score" ->
      """WITH counts AS (
        |  SELECT doc_id % 10 AS cluster, lang AS label, count(*) AS n
        |  FROM documents GROUP BY 1, 2
        |), terms AS (
        |  SELECT cluster, n,
        |    -(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY cluster)) *
        |      ln(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY cluster)) AS term
        |  FROM counts
        |), per_cluster AS (
        |  SELECT cluster, sum(n) AS cn, sum(term) AS h FROM terms GROUP BY cluster
        |)
        |SELECT round(sum(cn * h) / sum(cn), 6) AS weighted_entropy
        |FROM per_cluster""".stripMargin
  )
}
