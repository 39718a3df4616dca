package graft

import graft.io.ApiLogReader
import graft.operators.FeatureSelection
import org.scalatest.funsuite.AnyFunSuite

/** Golden parity for stage-1 over the reference's real corpus
  * (`/root/reference/api_logs/`, 1604 files).
  *
  * The reference's committed `topFeatures.txt` was produced from a
  * DIFFERENT (smaller) input set than the committed corpus — its 162-
  * row `LIBSVMOutput.txt` proves that (SURVEY §5/§7.4.1), it contains
  * tokens that do not occur in the corpus at all (e.g.
  * `Executing:C:\ProgramFiles`), and an exact independent replication
  * of `FeatureSelectionCloud`'s algorithm over the committed corpus
  * yields different gains. Per SURVEY §5, the golden was therefore
  * regenerated ONCE by an independent (non-Spark) replication of the
  * reference algorithm — `FeatureSelectionCloud.scala:333-337`
  * normalization, `:337` per-file distinct, `:376-390` doc counts,
  * `:350-367` entropy/info-gain, `:392-399` NaN→0, `:418` inner join —
  * and frozen at `src/test/resources/golden/topFeatures_fullcorpus.tsv`
  * (84 surviving tokens with per-class doc freqs and full-precision
  * gains). This spec checks the Spark pipeline against that frozen
  * golden exactly.
  */
class ReferenceParitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val refDir = "/root/reference"
  private lazy val golden: Map[String, (Long, Long, Double)] =
    scala.io.Source.fromFile(
        "src/test/resources/golden/topFeatures_fullcorpus.tsv")
      .getLines().drop(1).map { l =>
        val Array(tok, np, nn, gain) = l.split("\t")
        tok -> ((np.toLong, nn.toLong, gain.toDouble))
      }.toMap

  test("info-gain ranking matches the regenerated full-corpus golden") {
    assume(new java.io.File(s"$refDir/api_logs").isDirectory,
      "reference corpus not available")
    val calls = ApiLogReader.read(spark, s"$refDir/api_logs")
    val totals = ApiLogReader.totals(spark, s"$refDir/api_logs", "virus")
    val got = FeatureSelection.infoGainRankedOfDistinct(
        FeatureSelection.distinctCalls(calls), "virus", totals)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap

    assert(golden.size == 84)
    assert(got.keySet == golden.keySet,
      s"missing=${golden.keySet -- got.keySet} extra=${got.keySet -- golden.keySet}")
    golden.foreach { case (api, (np, nn, gain)) =>
      val (gnp, gnn, ggain) = got(api)
      assert(gnp == np && gnn == nn, s"$api: docfreq ($gnp,$gnn) != ($np,$nn)")
      assert(math.abs(ggain - gain) < 1e-6, s"$api: got $ggain, golden $gain")
    }
  }

  test("corpus shape matches the measured scale facts") {
    assume(new java.io.File(s"$refDir/api_logs").isDirectory)
    val totals = ApiLogReader.totals(spark, s"$refDir/api_logs", "virus")
      .collect()(0)
    assert(totals.getLong(0) == 884)  // virus files (readme.md:87)
    assert(totals.getLong(1) == 1604) // total files
    val vocab = FeatureSelection
      .docFreqOfDistinct(FeatureSelection.distinctCalls(
        ApiLogReader.read(spark, s"$refDir/api_logs")))
      .select("token").distinct().count()
    assert(vocab == 124) // measured on the committed corpus
  }

  test("every committed-golden token that occurs in the corpus is ranked") {
    assume(new java.io.File(s"$refDir/api_logs").isDirectory)
    val committed = scala.io.Source.fromFile(s"$refDir/topFeatures.txt")
      .getLines().flatMap { line =>
        "^\\((.*),([-0-9.Ee]+)\\)$".r.findFirstMatchIn(line.trim).map(_.group(1))
      }.toSet
    assert(committed.size == 68)
    // tokens the committed run saw that exist in this corpus AND in
    // both classes must survive our J1 too
    val survivors = golden.keySet
    val inCorpusBothClasses = committed.intersect(survivors)
    assert(inCorpusBothClasses.size >= 65,
      s"only ${inCorpusBothClasses.size} committed features survive")
  }
}
