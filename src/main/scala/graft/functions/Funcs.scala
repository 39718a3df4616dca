package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Shared column-expression helpers.
  *
  * Everything here except the driver-side [[weightedEntropy]] is a
  * pure Catalyst expression tree (no Scala UDFs),
  * so it stays inside whole-stage codegen and is usable at 100 TB
  * scale. Each helper is designed to be *cross-engine deterministic*:
  * the DuckDB oracle SQL in `SparkEntry.oracleSql` computes the exact
  * same integer / in-order-float arithmetic, so result hashes match
  * bit-for-bit.
  *
  * Determinism rules used throughout the engine:
  *   - integer arithmetic and exact int/int division: identical IEEE
  *     results in any engine;
  *   - string hashing goes through md5 (content-defined, identical in
  *     Spark and DuckDB) then a fixed-width hex prefix to bigint;
  *   - dot products / rolling hashes reduce arrays *in order* (Spark
  *     `aggregate` HOF == DuckDB `list_reduce`), so float results are
  *     bit-identical;
  *   - transcendentals (ln/log2) may differ by 1 ulp between libm
  *     builds → every value derived from them is `round(_, 6)`ed
  *     before leaving a query.
  */
object Funcs {

  /** API/token normalization, reference `FeatureSelectionCloud.scala:333-337`
    * (`replace(" ","").replace("+","").replace("-","")`). `translate`
    * with an empty replacement deletes the three characters without a
    * per-row regex; PropertiesSpec holds it equal to
    * `regexp_replace(c, "[ +-]", "")`. */
  def normalizeToken(c: Column): Column = translate(c, " +-", "")

  /** Whitespace tokenizer for `documents.text`; empty tokens dropped
    * (reference P2, `FeatureSelectionCloud.scala:337`). */
  def tokens(text: Column): Column =
    filter(split(text, " "), t => length(t) > 0)

  /** First `hexDigits` of md5 as a non-negative bigint. 15 hex digits
    * < 2^60 (safe in int64); 7 digits < 2^28 (safe to multiply by a
    * 31-bit coefficient). DuckDB equivalent:
    * `('0x' || substr(md5(x), 1, n))::bigint`. */
  def md5Long(c: Column, hexDigits: Int): Column =
    conv(substring(md5(c), 1, hexDigits), 16, 10).cast("long")

  /** Binary Shannon entropy of a p/t split, base 2 — reference
    * `entropy(x,y)` at `FeatureSelectionCloud.scala:350-353`. NaN when
    * x<=0 or x>=y, exactly like the reference's `0 * Math.log(0)`
    * (callers nanvl it, P10). The guard is explicit because Spark's
    * `log2` returns NULL for non-positive input where `java.lang.Math`
    * returns -Infinity — NULL would silently break NaN propagation. */
  def entropy2(x: Column, y: Column): Column = {
    val xd = x.cast("double"); val yd = y.cast("double")
    val p = xd / yd
    val q = (yd - xd) / yd
    when(xd > 0 && xd < yd, -(p * log2(p)) - (q * log2(q)))
      .otherwise(lit(Double.NaN))
  }

  /** DuckDB SQL text of [[entropy2]] — same guard, same shape. */
  def entropy2Sql(x: String, y: String): String = {
    val p = s"(CAST($x AS DOUBLE) / CAST($y AS DOUBLE))"
    val q = s"(CAST(($y) - ($x) AS DOUBLE) / CAST($y AS DOUBLE))"
    s"""CASE WHEN ($x) > 0 AND ($x) < ($y)
       | THEN -($p * log2($p)) - ($q * log2($q))
       | ELSE 'NaN'::DOUBLE END""".stripMargin.replace("\n", "")
  }

  /** Information gain of a feature for the binary class split —
    * reference `infoGain(p,t,tg,pg)`, `FeatureSelectionCloud.scala:364-367`.
    * p = #positive docs, t = #all docs, tg = docfreq over both
    * classes, pg = docfreq in positive class. NaN→0.0 handled by the
    * caller via `nanvl` (reference `replaceNaN`,
    * `FeatureSelectionCloud.scala:392-399`). */
  def infoGain(p: Column, t: Column, tg: Column, pg: Column): Column =
    entropy2(p, t) - (tg / t) * entropy2(pg, tg) -
      ((t - tg) / t) * entropy2(p - pg, t - tg)

  /** Per-cluster multiclass label entropy (natural log) from a
    * `(cluster, label, n)` counts table — the reference's M3
    * (`KmeansVirus.scala:199-206`) as one window + one aggregate.
    * Returns `(cluster, n_total, entropy_raw)` unrounded; callers
    * round / weight. Shared by vp06/vp07, ml02, and the pipeline
    * app's score so the term math lives once. */
  def clusterEntropy(counts: DataFrame): DataFrame = {
    val w = Window.partitionBy("cluster")
    val p = col("n").cast("double") / col("tot")
    counts.withColumn("tot", sum("n").over(w))
      .withColumn("term", -p * log(p))
      .groupBy("cluster")
      .agg(sum("n").as("n_total"), sum("term").as("entropy_raw"))
  }

  /** The cluster-size-weighted average of [[clusterEntropy]] over a
    * collected `(cluster, n)` counts table, one entry per (cluster,
    * label), computed on the driver: Σ n_total·entropy_raw / Σ n_total
    * with the same per-term math (`StrictMath.log` is the function
    * Spark's `log` evaluates). Equal to the Spark form up to the
    * summation order; NaN for an empty table. */
  def weightedEntropy[K](counts: Iterable[(K, Long)]): Double = {
    val byCluster = counts.groupMap(_._1)(_._2).values
    val weighted = byCluster.map { ns =>
      val tot = ns.sum
      val h = ns.map { n =>
        val p = n.toDouble / tot; -p * StrictMath.log(p)
      }.sum
      tot * h
    }.sum
    weighted / byCluster.map(_.sum).sum
  }

  /** DuckDB SQL of the in-order dot product (shared by the dedup and
    * similarity oracles — the Spark twin is [[dotProduct]]). */
  def dotProductSql(x: String, y: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |  list_transform(generate_series(1, len($x)),
       |    i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE))),
       |  (acc, v) -> acc + v)""".stripMargin.replace("\n", "")

  /** In-order dot product of two float-array columns (cast to double
    * element-wise first). Matches DuckDB
    * `list_reduce(list_prepend(0.0d, list_zip→products), +)` exactly
    * because both reduce left-to-right. */
  def dotProduct(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, v) => acc + v)

  /** Cosine similarity with in-order reductions; callers round before
    * comparing/ranking. */
  def cosine(a: Column, b: Column): Column =
    dotProduct(a, b) / (sqrt(dotProduct(a, a)) * sqrt(dotProduct(b, b)))

  /** Rolling polynomial fingerprint over the characters of `s`:
    * h = (h*31 + codepoint) mod 2147483647, reduced left-to-right.
    * Pure int64 arithmetic → bit-identical in any engine. Uses
    * sequence+substring rather than `split(s, "")` so the char walk
    * has identical boundary behavior to the oracle's generate_series. */
  def fingerprint(s: Column): Column =
    when(length(s) === 0, lit(0L)).otherwise(
      aggregate(
        transform(sequence(lit(1), length(s)),
          i => ascii(substring(s, i, lit(1))).cast("long")),
        lit(0L),
        (acc, c) => (acc * 31 + c) % 2147483647L))

  /** Character shingles of width `n` (reference P3 sliding-window
    * n-grams, `FeatureSelectionCloud.scala:306,314`): positions
    * 1..len-n+1, `substring(s, i, n)`. */
  def charShingles(s: Column, n: Int): Column =
    transform(
      sequence(lit(1), greatest(length(s) - (n - 1), lit(1))),
      i => substring(s, i, lit(n)))

  /** Content-stable 80/10/10 split assignment from the text digest —
    * shared by ta09 and the curation pipeline so thresholds change
    * once. */
  def hashSplit(text: Column): Column = {
    val bucket = md5Long(text, 7) % 10
    when(bucket < 8, "train").when(bucket < 9, "valid").otherwise("test")
  }

  /** Adjacent word pairs ("word bigrams") from a token array. */
  def wordBigrams(toks: Column): Column =
    transform(
      sequence(lit(1), greatest(size(toks) - 1, lit(1))),
      i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1)))
}
