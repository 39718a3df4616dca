package graft

import graft.apps.VirusPipeline
import graft.ml.MlPipeline
import org.apache.spark.ml.classification.{DecisionTreeClassifier, LinearSVC, LogisticRegression}
import org.apache.spark.ml.evaluation.BinaryClassificationEvaluator
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.ml.linalg.{SQLDataTypes, Vectors}
import org.apache.spark.mllib.linalg.{Vectors => OldVectors}
import org.apache.spark.mllib.regression.LabeledPoint
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions.{col, when}
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** Stage 3's shared sweeps (`MlPipeline.dtSweep`, `linearSweep`) and
  * `VirusPipeline.classificationReport` against the sequential fit
  * loops the report ran before, which live on here only as the oracle:
  * the same AUCs, compared with `==`, and the same report lines, on a
  * seeded, labeled sparse frame. `MlPipeline.withSeededSplit` is held
  * to `randomSplit` on the unsorted frame, and its plans and its
  * release of the parent are locked. */
class Stage3SweepSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
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

  /** ml10's shape: dense embeddings as vectors, label 1.0 for classes
    * 0-4 and 0.0 for 5-9, over 5 partitions, not cached. */
  private lazy val embeddingsLike: DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (0 until 300).map(i =>
      (i % 10, Array.fill(16)(rnd.nextGaussian().toFloat)))
    spark.sparkContext.parallelize(rows, 5).toDF("class", "embedding")
      .select(when(col("class") < 5, 1.0).otherwise(0.0).as("label"),
        array_to_vector(col("embedding")).as("features"))
  }

  /** Each row of a frame with the index of the partition it is in. */
  private def byPartition(df: DataFrame): Seq[(Int, Row)] =
    df.rdd.mapPartitionsWithIndex((i, rows) => rows.map(r => (i, r)))
      .collect().toSeq

  private def sorts(df: DataFrame): Seq[SortExec] =
    collect(df.queryExecution.executedPlan) { case s: SortExec => s }

  for ((name, frame) <- Seq[(String, () => DataFrame)](
      "virus-shaped" -> (() => samples), "ml10-shaped" -> (() => embeddingsLike)))
    test(s"withSeededSplit on the $name frame: randomSplit's rows, no second sort") {
      val data = frame()
      val plain = MlPipeline.seededSplit(data, Seed)
      val expected = plain.toSeq.map(byPartition)
      assert(expected.forall(_.nonEmpty))
      // randomSplit sorts each partition of an unsorted frame
      assert(plain.forall(sorts(_).nonEmpty))
      MlPipeline.withSeededSplit(data, Seed) { splits =>
        assert(splits.toSeq.map(byPartition) == expected)
        splits.foreach { split =>
          val plan = split.queryExecution.executedPlan
          assert(sorts(split).isEmpty, s"a split sorts its cached parent again:\n$plan")
          assert(collect(plan) { case c: InMemoryTableScanExec => c }.nonEmpty,
            s"a split does not read the cached parent:\n$plan")
        }
      }
    }

  for ((name, frame) <- Seq[(String, () => DataFrame)](
      "virus-shaped" -> (() => samples), "ml10-shaped" -> (() => embeddingsLike)))
    test(s"withSeededSplitPoints on the $name frame: randomSplit's rows " +
      "as points, in the same partitions and order, and no leak") {
      val data = frame()
      def point(r: Row) = LabeledPoint(r.getDouble(0),
        OldVectors.fromML(r.getAs[org.apache.spark.ml.linalg.Vector](1)))
      val expected = MlPipeline.seededSplit(data, Seed).toSeq
        .map(byPartition(_).map { case (i, r) => (i, point(r)) })
      assert(expected.forall(_.nonEmpty))
      val sc = spark.sparkContext
      val persisted = sc.getPersistentRDDs.keySet
      val got = MlPipeline.withSeededSplitPoints(data, Seed)(_.toSeq.map(
        _.mapPartitionsWithIndex((i, ps) => ps.map(p => (i, p))).collect().toSeq))
      assert(got == expected)
      assert(sc.getPersistentRDDs.keySet == persisted,
        s"persistent RDDs left: ${sc.getPersistentRDDs.keySet -- persisted}")
    }

  test("withSeededSplit releases its parent when the body throws") {
    val cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    def cached(df: DataFrame) = cache.lookupCachedData(
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).isDefined
    // the frame withSeededSplit caches
    val parent = samples.select("label", "features")
      .sortWithinPartitions("label", "features")
    val sc = spark.sparkContext
    samples.count()
    val persisted = sc.getPersistentRDDs.keySet
    val e = intercept[IllegalStateException] {
      MlPipeline.withSeededSplit(samples, Seed) { splits =>
        splits.head.count() // fills the parent's cache
        assert(cached(parent))
        assert(sc.getPersistentRDDs.size == persisted.size + 1)
        throw new IllegalStateException("fit failed")
      }
    }
    assert(e.getMessage == "fit failed")
    assert(!cached(parent), "the split's parent is still cached")
    assert(cached(samples), "releasing the parent released its input")
    assert(sc.getPersistentRDDs.keySet == persisted,
      s"persistent RDDs left: ${sc.getPersistentRDDs.keySet -- persisted}")
  }

  test("classificationReport stays within its job count") {
    samples.count()
    val (_, jobs) = JobCount.of(spark)(
      VirusPipeline.classificationReport(spark, samples, Seed))
    // 19 fits and their scoring, over splits of one cached parent that
    // the report fills before the concurrent fits start
    assert(jobs == 352, s"classificationReport ran $jobs jobs")
  }
}
