package graft

import graft.functions.Funcs._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class FuncsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def eval1(c: org.apache.spark.sql.Column): Any =
    Seq(1).toDF("x").select(c).collect()(0).get(0)

  test("normalizeToken strips space, plus, minus (reference P1)") {
    val got = Seq("LoadLibrary -", "a+b-c d", " -", "Get DEP+Policy")
      .toDF("s").select(normalizeToken($"s")).as[String].collect()
    assert(got.toSeq == Seq("LoadLibrary", "abcd", "", "GetDEPPolicy"))
  }

  test("entropy2 matches hand-computed binary entropy, NaN at bounds") {
    assert(eval1(entropy2(lit(1.0), lit(2.0))) == 1.0)
    val e34 = eval1(entropy2(lit(3.0), lit(4.0))).asInstanceOf[Double]
    assert(math.abs(e34 - 0.8112781244591328) < 1e-12)
    assert(eval1(entropy2(lit(0.0), lit(4.0))).asInstanceOf[Double].isNaN)
    assert(eval1(entropy2(lit(4.0), lit(4.0))).asInstanceOf[Double].isNaN)
  }

  test("infoGain matches hand-computed value and NaN→0 via nanvl") {
    // p=2 virus of t=4 files; token in 1 virus + 1 clean (tg=2, pg=1):
    // IG = H(2/4) - (2/4)H(1/2) - (2/4)H(1/2) = 1 - 0.5 - 0.5 = 0
    val ig = eval1(infoGain(lit(2.0), lit(4.0), lit(2.0), lit(1.0)))
    assert(ig.asInstanceOf[Double] == 0.0)
    // token in every file (tg=t) → NaN (reference replaceNaN → 0)
    val nan = eval1(infoGain(lit(2.0), lit(4.0), lit(4.0), lit(2.0)))
    assert(nan.asInstanceOf[Double].isNaN)
    assert(eval1(nanvl(infoGain(lit(2.0), lit(4.0), lit(4.0), lit(2.0)),
      lit(0.0))) == 0.0)
  }

  test("weightedEntropy equals clusterEntropy's weighted average") {
    // 40 random (cluster, label) count tables, each 1-12 clusters of
    // 1-3 labels (single-label clusters included: their entropy is 0),
    // checked in ONE Spark query: the cluster key carries the table
    val rnd = new scala.util.Random(7)
    val tables = (0 until 40).map { _ =>
      (0 until 1 + rnd.nextInt(12)).flatMap { c =>
        (0 until 1 + rnd.nextInt(3)).map(l =>
          (c, l, 1L + rnd.nextInt(if (rnd.nextBoolean()) 5 else 5000)))
      }
    }
    assert(tables.exists(_.groupBy(_._1).values.exists(_.size == 1)))
    val counts = tables.zipWithIndex.flatMap { case (t, i) =>
      t.map { case (c, _, n) => (i * 1000 + c, n) }
    }.toDF("cluster", "n")
    val viaSpark = clusterEntropy(counts)
      .groupBy(($"cluster" / 1000).cast("int").as("table"))
      .agg(sum($"n_total" * $"entropy_raw") / sum($"n_total"))
      .as[(Int, Double)].collect().toMap
    tables.zipWithIndex.foreach { case (t, i) =>
      val driver = weightedEntropy(t.map { case (c, _, n) => (c, n) })
      assert(math.abs(driver - viaSpark(i)) <= 1e-12 * math.abs(viaSpark(i)),
        s"table $i: driver $driver vs spark ${viaSpark(i)}")
    }
    assert(weightedEntropy(Seq((0, 4L), (1, 9L))) == 0.0)
  }

  test("fingerprint is the left-to-right polynomial hash") {
    // "ab" -> ((0*31+97)%p)*31+98 = 3105
    assert(eval1(fingerprint(lit("ab"))) == 3105L)
    assert(eval1(fingerprint(lit(""))) == 0L)
  }

  test("charShingles slides a 14-char window") {
    val got = Seq("abcdefghijklmnop").toDF("s")
      .select(charShingles($"s", 14)).as[Seq[String]].collect()(0)
    assert(got == Seq("abcdefghijklmn", "bcdefghijklmno", "cdefghijklmnop"))
    // shorter than window → single truncated shingle (oracle-aligned)
    val short = Seq("abc").toDF("s")
      .select(charShingles($"s", 14)).as[Seq[String]].collect()(0)
    assert(short == Seq("abc"))
  }

  test("cosine of identical vectors is 1, orthogonal is 0") {
    val df = Seq((Seq(1.0f, 0.0f), Seq(1.0f, 0.0f), Seq(0.0f, 2.0f)))
      .toDF("a", "b", "c")
    val r = df.select(cosine($"a", $"b"), cosine($"a", $"c")).collect()(0)
    assert(r.getDouble(0) == 1.0 && r.getDouble(1) == 0.0)
  }
}
