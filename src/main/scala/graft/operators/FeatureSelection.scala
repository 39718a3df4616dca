package graft.operators

import graft.functions.Funcs._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's stage-1 pipeline (feature selection + vectorization,
  * `FeatureSelectionCloud.scala`) re-expressed as a parameterized,
  * composable DataFrame module.
  *
  * Input model: a long-form `calls` table `(sample_id, cls, token)` —
  * one row per token occurrence per sample — instead of the
  * reference's one-RDD-per-file `Array[RDD[String]]`
  * (`FeatureSelectionCloud.scala:323-343`). That single change removes
  * the reference's O(#files) scheduler round-trips: every step below
  * is one distributed job over the whole corpus.
  *
  * Each step has one entry point. The counting steps take the output
  * of [[distinctCalls]], which a caller runs once and may materialize
  * to share between ranking and vectorization (the `OfDistinct` names
  * state that input contract).
  *
  * Scale notes (100 TB):
  *   - [[distinctCalls]] dedups *before* [[docFreqOfDistinct]]
  *     aggregates (reference A1, `:337`) — shrinks the shuffle; then
  *     the count is a partial+final HashAggregate (the `reduceByKey`
  *     shape at `:387`).
  *   - [[infoGainRankedOfDistinct]]'s per-class join is on the token
  *     vocabulary (small relative to the corpus); totals are a 1-row
  *     broadcast.
  *   - [[vectorizeOfDistinct]] replaces the reference's per-sample
  *     leftOuterJoin-per-file loop (`doesFeatureExist`, `:494-519`)
  *     with ONE broadcast semi-join of the corpus against the top-K
  *     feature table.
  */
object FeatureSelection {

  /** A1: per-sample distinct token sets (set semantics for document
    * frequency). Ref `FeatureSelectionCloud.scala:337`. The class is
    * part of the key defensively — a sample_id must never straddle
    * classes, and if an upstream reader lets one, collapsing across
    * classes would silently undercount document frequencies. */
  def distinctCalls(calls: DataFrame): DataFrame =
    calls.dropDuplicates("sample_id", "cls", "token")

  /** A2+A3: document frequency per (token, cls) of a [[distinctCalls]]
    * table. Ref `countFeatures`, `FeatureSelectionCloud.scala:376-390`. */
  def docFreqOfDistinct(distinct: DataFrame): DataFrame =
    distinct.groupBy("token", "cls").agg(count(lit(1)).as("n_docs"))

  /** M1+M2+P10+J1: information-gain ranking of the tokens of a
    * [[distinctCalls]] table for a binary class split. `totals` is a
    * single-row DataFrame `(p, t)` = (#positive samples, #all samples)
    * — the reference's driver-side file counts
    * (`FeatureSelectionCloud.scala:122-123`).
    *
    * Faithfully reproduces the J1 inner-join quirk
    * (`FeatureSelectionCloud.scala:418`): tokens present in only one
    * class are dropped before ranking. Gains are NaN→0
    * (`replaceNaN`, `:392-399`) and rounded to 6 decimals so ranking
    * ties are stable across engines. */
  def infoGainRankedOfDistinct(distinct: DataFrame, posCls: String,
                               totals: DataFrame): DataFrame = {
    val df  = docFreqOfDistinct(distinct)
    val pos = df.filter(col("cls") === posCls).select(col("token"), col("n_docs").as("np"))
    val neg = df.filter(col("cls") =!= posCls).select(col("token"), col("n_docs").as("nn"))
    pos.join(neg, Seq("token"), "inner")              // J1 — parity quirk
      .crossJoin(broadcast(totals))
      .withColumn("info_gain",
        round(nanvl(infoGain(col("p"), col("t"), col("np") + col("nn"),
                             col("np")), lit(0.0)), 6))
      .select("token", "np", "nn", "info_gain")
  }

  /** O1+O3: top-K by gain with a 1-based rank (`feature_index`).
    * `takeOrdered` + per-sample `zipWithIndex` in the reference
    * (`FeatureSelectionCloud.scala:438,505`) become orderBy.limit
    * (TakeOrderedAndProject) + ONE `row_number` window over the tiny
    * ranked table. Tie-break on token keeps the rank deterministic
    * (the reference's tie order was partition-dependent, SURVEY §2.6). */
  def topFeatures(ranked: DataFrame, k: Int): DataFrame = {
    // The partitionless Window triggers WindowExec's "moving all data
    // to a single partition" warning — here that is the DESIGN, not a
    // scale defect: the window runs AFTER limit(k), so at most k
    // (= topN, ≤ a few thousand) rows ever reach the single partition,
    // regardless of corpus size. The heavy lifting (global top-K over
    // the full ranked table) is TakeOrderedAndProject, which is
    // distributed partial-top-K + driver merge.
    val w = Window.orderBy(col("info_gain").desc, col("token").asc)
    ranked.orderBy(col("info_gain").desc, col("token").asc).limit(k)
      .withColumn("feature_index", row_number().over(w))
      .select("feature_index", "token", "info_gain")
  }

  /** J2+O5: sparse binary vectorization — which top-K features each
    * sample of a [[distinctCalls]] table contains. One broadcast join
    * for the whole corpus (replaces the reference's per-sample job
    * storm, `doesFeatureExist` `FeatureSelectionCloud.scala:494-519`).
    * Output long-form: `(sample_id, label, feature_index)`. */
  def vectorizeOfDistinct(distinct: DataFrame, top: DataFrame,
                          posCls: String): DataFrame =
    distinct
      .join(broadcast(top.select("token", "feature_index")), Seq("token"))
      .select(col("sample_id"),
              when(col("cls") === posCls, 1.0).otherwise(0.0).as("label"),
              col("feature_index"))

  /** K2: LIBSVM text rows `label idx:1 idx:1 …`, 1-based ascending
    * indices, presence-only values — byte format of
    * `createLIBSVMFormat`, `FeatureSelectionCloud.scala:445-489`.
    * Samples matching zero features emit no row (`labelAdded` logic,
    * `:464-486`). */
  def libsvmRows(vectors: DataFrame): DataFrame =
    vectors.groupBy("sample_id", "label")
      .agg(sort_array(collect_list(col("feature_index"))).as("idxs"))
      .select(col("sample_id"),
        concat(col("label").cast("int").cast("string"), lit(" "),
          array_join(transform(col("idxs"),
            i => concat(i.cast("string"), lit(":1"))), " ")).as("libsvm_row"))
}
