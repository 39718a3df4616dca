package graft

import graft.apps.VirusPipeline
import graft.ml.MlPipeline
import org.apache.spark.ml.classification.{DecisionTreeClassifier, LinearSVC, LogisticRegression}
import org.apache.spark.ml.evaluation.BinaryClassificationEvaluator
import org.apache.spark.ml.linalg.{SQLDataTypes, Vectors}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** Stage 3's shared sweeps (`MlPipeline.dtSweep`, `linearSweep`) and
  * `VirusPipeline.classificationReport` against the sequential fit
  * loops the report ran before, which live on here only as the oracle:
  * the same AUCs, compared with `==`, and the same report lines, on a
  * seeded, labeled sparse frame. */
class Stage3SweepSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val Seed = 42L

  /** Binary API-presence vectors like the paper's (KMeansRunsSpec's
    * shape: 240 samples over 80 APIs, six call profiles of 12 APIs, a
    * profile's API called with probability 0.6 and any other with
    * 0.05). Three profiles are virus; one label in five is flipped, so
    * no sweep point separates the classes perfectly. Cached over 4
    * partitions, as `VirusPipeline.run` caches its samples. */
  private lazy val samples: DataFrame = {
    val rnd = new scala.util.Random(11)
    val nApis = 80
    val profiles = Array.fill(6)(rnd.shuffle((0 until nApis).toList).take(12).toSet)
    val rows = (0 until 240).map { id =>
      val calls = (0 until nApis).filter(a =>
        rnd.nextDouble() < (if (profiles(id % 6)(a)) 0.6 else 0.05)).toArray
      val virus = (id % 6 < 3) != (rnd.nextDouble() < 0.2)
      Row(s"s$id", if (virus) 1.0 else 0.0,
        Vectors.sparse(nApis, calls, Array.fill(calls.length)(1.0)))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4),
      StructType(Seq(StructField("sample_id", StringType),
        StructField("label", DoubleType),
        StructField("features", SQLDataTypes.VectorType)))).cache()
  }

  private def evalr = new BinaryClassificationEvaluator()
    .setMetricName("areaUnderROC")

  private def dtLoop(train: DataFrame, eval: DataFrame): Seq[(String, Int, Double)] =
    for (imp <- Seq("entropy", "gini"); depth <- Seq(1, 2, 3, 4, 5, 10, 20))
    yield {
      val m = new DecisionTreeClassifier()
        .setImpurity(imp).setMaxDepth(depth).setSeed(Seed).fit(train)
      (imp, depth, evalr.evaluate(m.transform(eval)))
    }

  private def linearLoop(train: DataFrame, eval: DataFrame): Seq[(String, Double, Double)] =
    Seq(0.001, 0.01, 0.1, 1.0, 10.0).map { r =>
      val m = new LinearSVC().setRegParam(r).setMaxIter(10).fit(train)
      ("svc", r, evalr.evaluate(m.transform(eval)))
    } ++ Seq(0.001, 0.01, 0.1, 1.0, 10.0).map { r =>
      val m = new LogisticRegression().setRegParam(r).setMaxIter(10).fit(train)
      ("lr", r, evalr.evaluate(m.transform(eval)))
    }

  /** The former `classificationReport`, verbatim but for its return. */
  private def sequentialReport(samples: DataFrame,
      seed: Long): Seq[(String, Double, Double, String)] = {
    val Array(train, cv, test) = samples.select("label", "features")
      .randomSplit(Array(0.5, 0.25, 0.25), seed)
    train.cache(); cv.cache(); test.cache()
    val evalr = new BinaryClassificationEvaluator()
      .setMetricName("areaUnderROC")
    val dt = for (imp <- Seq("entropy", "gini");
                  depth <- Seq(1, 2, 3, 4, 5, 10, 20)) yield {
      val m = new DecisionTreeClassifier()
        .setImpurity(imp).setMaxDepth(depth).setSeed(seed).fit(train)
      val auc = evalr.evaluate(m.transform(cv))
      (s"dt-$imp", depth.toDouble, auc,
        f"$imp depth $depth, AUC = ${auc * 100}%2.2f%%")
    }
    val svc = Seq(0.001, 0.01, 0.1, 1.0, 10.0).map { r =>
      val m = new LinearSVC().setRegParam(r).setMaxIter(10).fit(train)
      val auc = evalr.evaluate(m.transform(test))
      ("svc", r, auc, f"svc reg $r, AUC = ${auc * 100}%2.2f%%")
    }
    Seq(train, cv, test).foreach(_.unpersist(false))
    dt ++ svc
  }

  private lazy val expected = sequentialReport(samples, Seed)

  test("classificationReport equals the sequential report: AUCs and lines") {
    val got = VirusPipeline.classificationReport(spark, samples, Seed).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getString(3)))
      .toSeq
    assert(got == expected)
    // the frame is not degenerate: the sweep points disagree
    assert(got.map(_._3).distinct.size > 2, got.map(_._3))
  }

  test("dtSweep and linearSweep on the report's splits equal its sequential loops") {
    val splits = MlPipeline.seededSplit(samples, Seed)
    splits.foreach(_.cache().count())
    val Array(train, cv, test) = splits
    assert(MlPipeline.dtSweep(train, cv, Seed).map {
      case (imp, depth, auc) => (s"dt-$imp", depth.toDouble, auc)
    } == expected.take(14).map(e => (e._1, e._2, e._3)))
    assert(MlPipeline.linearSweep(train, test, Seq("svc")) ==
      expected.drop(14).map(e => (e._1, e._2, e._3)))
    splits.foreach(_.unpersist(false))
  }

  test("ml03/ml04-shaped splits: both sweeps equal the sequential loops, svc + lr") {
    val Array(train, cv, test) = MlPipeline.seededSplit(samples, Seed)
      .map(_.coalesce(8).cache())
    Seq(train, cv, test).foreach(_.count())
    assert(MlPipeline.dtSweep(train, cv, Seed) == dtLoop(train, cv))
    val linear = MlPipeline.linearSweep(train, test, Seq("svc", "lr"))
    assert(linear == linearLoop(train, test))
    assert(linear.map(_._1) == Seq.fill(5)("svc") ++ Seq.fill(5)("lr"))
    Seq(train, cv, test).foreach(_.unpersist(false))
  }

  test("linearSweep rejects an unknown model family") {
    val Array(train, _, test) = MlPipeline.seededSplit(samples, Seed)
    intercept[IllegalArgumentException](
      MlPipeline.linearSweep(train, test, Seq("svm")))
  }
}
