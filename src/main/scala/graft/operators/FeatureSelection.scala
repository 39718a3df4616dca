package graft.operators

import graft.functions.Funcs._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.api.java.UDF1
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

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
  * Each step has one entry point; the top-K comes as a frame
  * ([[topFeatures]]) or collected ([[collectTopFeatures]]), in one
  * ranking order. The counting steps take the output of
  * [[distinctCalls]], which a caller runs once and may materialize to
  * share between ranking and vectorization (the `OfDistinct` names
  * state that input contract).
  *
  * Scale notes (100 TB):
  *   - [[distinctCalls]] dedups *before* [[docFreqOfDistinct]]
  *     aggregates (reference A1, `:337`) — shrinks the shuffle; then
  *     the count is a partial+final HashAggregate (the `reduceByKey`
  *     shape at `:387`).
  *   - [[infoGainRankedOfDistinct]] counts both classes in ONE
  *     aggregation over the token vocabulary (two conditional counts,
  *     one shuffle); totals are a 1-row broadcast.
  *   - [[vectorizeOfDistinct]] replaces the reference's per-sample
  *     leftOuterJoin-per-file loop (`doesFeatureExist`, `:494-519`)
  *     with ONE map-side pass: each distinct call looks its token up in
  *     the top-K's token → rank map, which the caller collected (at
  *     most K entries, shipped inside the task closure). A broadcast
  *     join would add the relation's estimated size (one 16 MB page at
  *     any K) to every task's peak memory and plan an exchange, a
  *     build side and a probe for a table the driver already holds.
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
    * [[distinctCalls]] table, `posCls` against the rest: `np` counts
    * the samples of class `posCls` that hold the token, `nn` those of
    * every other class. `totals` is a single-row DataFrame `(p, t)` =
    * (#positive samples, #all samples) — the reference's driver-side
    * file counts (`FeatureSelectionCloud.scala:122-123`).
    *
    * Both counts come from one aggregation by token, the shape of
    * `countFeatures` (`FeatureSelectionCloud.scala:376-390`) with its
    * two per-class passes folded into conditional counts. Faithfully
    * reproduces the J1 inner-join quirk (`:418`): a token present in
    * only one class (`np = 0` or `nn = 0`) is dropped before ranking,
    * as is a null token, which an equi-join never matches. With more
    * than two classes the former per-class join emitted one row per
    * token per non-positive class; here the rest is one class, which
    * is the same thing for the binary splits every caller passes.
    * Gains are NaN→0 (`replaceNaN`, `:392-399`) and rounded to 6
    * decimals so ranking ties are stable across engines. */
  def infoGainRankedOfDistinct(distinct: DataFrame, posCls: String,
                               totals: DataFrame): DataFrame =
    distinct.filter(col("token").isNotNull)
      .groupBy("token")
      .agg(count_if(col("cls") === posCls).as("np"),
           count_if(col("cls") =!= posCls).as("nn"))
      .filter(col("np") > 0 && col("nn") > 0)      // J1 — parity quirk
      .crossJoin(broadcast(totals))
      .withColumn("info_gain",
        round(nanvl(infoGain(col("p"), col("t"), col("np") + col("nn"),
                             col("np")), lit(0.0)), 6))
      .select("token", "np", "nn", "info_gain")

  /** The ranking order: gain descending, ties by token (the
    * reference's tie order was partition-dependent, SURVEY §2.6). */
  private val byGain = Seq(col("info_gain").desc, col("token").asc)

  /** O1+O3: top-K by gain with a 1-based rank (`feature_index`).
    * `takeOrdered` + per-sample `zipWithIndex` in the reference
    * (`FeatureSelectionCloud.scala:438,505`) become orderBy.limit
    * (TakeOrderedAndProject) + ONE `row_number` window over the tiny
    * ranked table. Tie-break on token keeps the rank deterministic. */
  def topFeatures(ranked: DataFrame, k: Int): DataFrame = {
    // The partitionless Window triggers WindowExec's "moving all data
    // to a single partition" warning — here that is the DESIGN, not a
    // scale defect: the window runs AFTER limit(k), so at most k
    // (= topN, ≤ a few thousand) rows ever reach the single partition,
    // regardless of corpus size. The heavy lifting (global top-K over
    // the full ranked table) is TakeOrderedAndProject, which is
    // distributed partial-top-K + driver merge.
    ranked.orderBy(byGain: _*).limit(k)
      .withColumn("feature_index", row_number().over(Window.orderBy(byGain: _*)))
      .select("feature_index", "token", "info_gain")
  }

  /** [[topFeatures]]' rows, collected: the same TakeOrderedAndProject,
    * whose collect is already in rank order, numbered on the driver
    * instead of by a window — `(feature_index, token, info_gain)`. */
  def collectTopFeatures(ranked: DataFrame,
                         k: Int): Seq[(Int, String, Double)] =
    ranked.orderBy(byGain: _*).limit(k).select("token", "info_gain")
      .collect().toSeq.zipWithIndex
      .map { case (r, i) => (i + 1, r.getString(0), r.getDouble(1)) }

  /** J2+O5: sparse binary vectorization — which top-K features each
    * sample of a [[distinctCalls]] table contains, given the collected
    * top-K ([[collectTopFeatures]]). One map-side pass for the whole
    * corpus (replaces the reference's per-sample job storm,
    * `doesFeatureExist` `FeatureSelectionCloud.scala:494-519`): each
    * call looks its token up in the top-K's token → rank map, and a
    * call whose token has no rank (or is null) emits no row.
    * Output long-form: `(sample_id, label, feature_index)`. */
  def vectorizeOfDistinct(distinct: DataFrame,
                          top: Seq[(Int, String, Double)],
                          posCls: String): DataFrame = {
    val ranks = top.map { case (rank, token, _) => token -> rank }.toMap
    // the Java form: its String argument is converted as is, where a
    // typed Scala UDF compiles a generated decoder for it
    val rankOf = udf(new UDF1[String, Int] {
      def call(token: String): Int = ranks.getOrElse(token, 0)
    }, IntegerType)
    distinct
      .select(col("sample_id"),
              when(col("cls") === posCls, 1.0).otherwise(0.0).as("label"),
              rankOf(col("token")).as("feature_index"))
      .filter(col("feature_index") > 0)
  }

  /** K2: LIBSVM text rows `label idx:1 idx:1 …`, 1-based ascending
    * indices, presence-only values — byte format of
    * `createLIBSVMFormat`, `FeatureSelectionCloud.scala:445-489`.
    * Samples matching zero features emit no row (`labelAdded` logic,
    * `:464-486`). */
  def libsvmRows(vectors: DataFrame): DataFrame =
    vectors.groupBy("sample_id", "label")
      .agg(sort_array(collect_list(col("feature_index"))).as("idxs"))
      .select(col("sample_id"), libsvmLine(col("label"), col("idxs")))

  /** One LIBSVM line, `libsvm_row`, from a 0/1 label and its ascending
    * 1-based feature indices. */
  def libsvmLine(label: Column, idxs: Column): Column =
    concat(label.cast("int").cast("string"), lit(" "),
      array_join(transform(idxs,
        i => concat(i.cast("string"), lit(":1"))), " ")).as("libsvm_row")
}
