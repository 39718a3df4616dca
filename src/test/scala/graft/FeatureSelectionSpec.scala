package graft

import graft.io.ApiLogReader
import graft.operators.FeatureSelection
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end stage-1 semantics on the hand-computable fixture
  * (FIXTURES.md §6): 2 virus files {v1: A,B(dup),empty; v2: A,C} and
  * 2 clean files {c1: B,C; c2: empty-only}. Exercises per-sample
  * dedup (A1), empty-line drop (P2), file-level totals incl. the
  * token-less file (A3), the J1 inner-join drop of class-exclusive
  * features, deterministic ranking, vectorization, and the
  * zero-feature-sample no-row rule. */
class FeatureSelectionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val dir =
    new java.io.File("src/test/resources/tiny_api_logs").getAbsolutePath
  private lazy val calls = ApiLogReader.read(spark, dir)
  private lazy val distinct = FeatureSelection.distinctCalls(calls)
  private lazy val totals = ApiLogReader.totals(spark, dir, "virus")

  test("reader dedups nothing but drops empty lines; dup lines survive") {
    // v1 contributes A,B,B (raw occurrences); bare ' -' dropped
    assert(calls.count() == 7)
    assert(calls.filter("sample_id = 'virus_LOGS_CONVERTED/v1.txt'").count() == 3)
  }

  test("totals count files, including the token-less sample") {
    val r = totals.collect()(0)
    assert(r.getLong(0) == 2 && r.getLong(1) == 4)
  }

  test("docFreq dedups per sample before counting (A1+A2)") {
    val df = FeatureSelection.docFreqOfDistinct(distinct).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(df == Map(
      ("A", "virus") -> 2, ("B", "virus") -> 1, ("C", "virus") -> 1,
      ("B", "clean") -> 1, ("C", "clean") -> 1))
  }

  test("J1 inner join drops class-exclusive features; gains hand-match") {
    val ranked = FeatureSelection.infoGainRankedOfDistinct(distinct, "virus", totals)
    val rows = ranked.collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    // A is virus-only → dropped (the reference's parity quirk)
    assert(rows.keySet == Set("B", "C"))
    // IG(B) = H(2/4) - (2/4)H(1/2) - (2/4)H(1/2) = 0; same for C
    assert(rows("B") == 0.0 && rows("C") == 0.0)
  }

  test("topFeatures ranks deterministically (gain desc, token asc)") {
    val ranked = FeatureSelection.infoGainRankedOfDistinct(distinct, "virus", totals)
    val top = FeatureSelection.topFeatures(ranked, 10).collect()
      .map(r => (r.getInt(0), r.getString(1)))
    assert(top.toSeq == Seq((1, "B"), (2, "C")))
  }

  test("vectorize + libsvm: zero-feature samples emit no row") {
    val ranked = FeatureSelection.infoGainRankedOfDistinct(distinct, "virus", totals)
    val top = FeatureSelection.collectTopFeatures(ranked, 10)
    val vec = FeatureSelection.vectorizeOfDistinct(distinct, top, "virus")
    val byDoc = vec.collect()
      .groupBy(_.getString(0))
      .view.mapValues(_.map(r => (r.getDouble(1), r.getInt(2))).toSet).toMap
    assert(byDoc == Map(
      "virus_LOGS_CONVERTED/v1.txt" -> Set((1.0, 1)),          // B
      "virus_LOGS_CONVERTED/v2.txt" -> Set((1.0, 2)),          // C
      "clean_LOGS_CONVERTED/c1.txt" -> Set((0.0, 1), (0.0, 2)) // B, C; c2 absent
    ))
    val rows = FeatureSelection.libsvmRows(vec).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rows == Map(
      "virus_LOGS_CONVERTED/v1.txt" -> "1 1:1",
      "virus_LOGS_CONVERTED/v2.txt" -> "1 2:1",
      "clean_LOGS_CONVERTED/c1.txt" -> "0 1:1 2:1"))
  }
}
