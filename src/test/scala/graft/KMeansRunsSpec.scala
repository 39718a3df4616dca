package graft

import graft.ml.MlPipeline
import org.apache.spark.ml.clustering.{KMeans, KMeansModel, KMeansRuns}
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.ml.linalg.{SQLDataTypes, Vector, Vectors}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** The batched k-means fit behind `bestOfKMeans` and `kmeansCostSweep`
  * against spark.ml's own row solver, which lives on here only as the
  * oracle: one `KMeans.fit` per seed. */
class KMeansRunsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val Seeds = Seq(42L, 43L, 44L)
  /** TESTDATA.md's smallest tier: 500 dense 64-d embeddings. */
  private val Sf0001 = "/root/testdata/sf0.001"
  /** The next tier (TESTDATA.md), in the same directory. */
  private val Sf001 = Sf0001.stripSuffix("sf0.001") + "sf0.01"

  private def rowFit(df: DataFrame, k: Int, seed: Long): KMeansModel =
    new KMeans().setSolver("row").setK(k).setTol(1e-6).setSeed(seed).fit(df)

  private def batched(df: DataFrame, k: Int, seeds: Seq[Long]): Seq[KMeansModel] =
    KMeansRuns.fit(df, "features", seeds.map(s => (k, s)))

  private def frame(rows: Seq[(Int, Vector)], partitions: Int): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (i, v) => Row(i, v) }, partitions),
      StructType(Seq(StructField("id", IntegerType),
        StructField("features", SQLDataTypes.VectorType))))

  /** Binary API-presence vectors like the paper's: 240 samples over 80
    * APIs, six call profiles of 12 APIs each, a profile's API called
    * with probability 0.6 and any other with 0.05 (density about 0.13). */
  private def virusLike(): DataFrame = {
    val rnd = new scala.util.Random(7)
    val nApis = 80
    val profiles = Array.fill(6)(rnd.shuffle((0 until nApis).toList).take(12).toSet)
    frame((0 until 240).map { id =>
      val calls = (0 until nApis).filter(a =>
        rnd.nextDouble() < (if (profiles(id % 6)(a)) 0.6 else 0.05)).toArray
      (id, Vectors.sparse(nApis, calls, Array.fill(calls.length)(1.0)))
    }, 4)
  }

  private def predictions(m: KMeansModel, df: DataFrame): Map[Int, Int] =
    m.transform(df).select("id", "prediction").collect()
      .map(r => r.getInt(0) -> r.getInt(1)).toMap

  private def bits(v: Vector): Seq[Long] =
    v.toArray.toSeq.map(java.lang.Double.doubleToLongBits)

  private def closeRel(a: Double, b: Double, tol: Double): Boolean =
    math.abs(a - b) <= tol * math.max(math.abs(a), math.abs(b))

  test("sparse virus-like vectors: every seed's model is the row solver's, bit for bit") {
    val df = virusLike().cache()
    val nnz = df.collect().map(_.getAs[Vector]("features").numNonzeros).sum
    // below spark.ml's `auto` threshold, so its default fit is this row fit
    assert(nnz.toDouble / (240 * 80) < 0.5)
    batched(df, 10, Seeds).zip(Seeds).foreach { case (m, seed) =>
      val o = rowFit(df, 10, seed)
      assert(m.clusterCenters.map(bits).toSeq == o.clusterCenters.map(bits).toSeq,
        s"seed $seed centers")
      assert(m.summary.numIter == o.summary.numIter, s"seed $seed numIter")
      assert(closeRel(m.summary.trainingCost, o.summary.trainingCost, 1e-12),
        s"seed $seed cost ${m.summary.trainingCost} vs ${o.summary.trainingCost}")
      assert(predictions(m, df) == predictions(o, df), s"seed $seed predictions")
      assert(m.getK == 10 && m.getSeed == seed && m.getTol == 1e-6)
    }
    df.unpersist(false)
  }

  test("sf0.001 dense embeddings: centers within 1e-12, predictions identical") {
    val df = Tables.embeddings(spark, Sf0001)
      .select(col("vec_id").cast("int").as("id"),
        array_to_vector(col("embedding")).as("features")).cache()
    batched(df, 10, Seeds).zip(Seeds).foreach { case (m, seed) =>
      val o = rowFit(df, 10, seed)
      assert(m.clusterCenters.length == o.clusterCenters.length)
      info(s"seed $seed: centers bit-identical: " +
        (m.clusterCenters.map(bits).toSeq == o.clusterCenters.map(bits).toSeq) +
        s", numIter ${m.summary.numIter} vs ${o.summary.numIter}")
      m.clusterCenters.zip(o.clusterCenters).foreach { case (a, b) =>
        val scale = b.toArray.map(math.abs).max
        a.toArray.zip(b.toArray).foreach { case (x, y) =>
          assert(math.abs(x - y) <= 1e-12 * scale, s"seed $seed center: $x vs $y")
        }
      }
      assert(predictions(m, df) == predictions(o, df), s"seed $seed predictions")
    }
    df.unpersist(false)
  }

  /** What a fit returns (centers' bits, numIter) or the class of what it
    * throws, with the start of its message. */
  private def outcome(fit: => KMeansModel): Either[(String, String), (Seq[Seq[Long]], Int)] =
    try {
      val m = fit
      Right((m.clusterCenters.toSeq.map(bits), m.summary.numIter))
    } catch {
      case e: Exception =>
        val root = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq.last
        Left((e.getClass.getName, String.valueOf(root.getMessage).take(40)))
    }

  private def assertSameOutcome(df: DataFrame): Either[(String, String), (Seq[Seq[Long]], Int)] = {
    val got = outcome(batched(df, 10, Seq(42L)).head)
    assert(got == outcome(rowFit(df, 10, 42L)))
    got
  }

  test("degenerate inputs end as spark.ml's fit ends") {
    val three = Seq(Vectors.dense(1.0, 0.0), Vectors.dense(0.0, 2.0), Vectors.dense(3.0, 3.0))
    // fewer distinct points than k: k-means|| keeps the 3 it finds
    val fewer = assertSameOutcome(frame((0 until 30).map(i => (i, three(i % 3))), 3))
    assert(fewer.map(_._1.size) == Right(3))
    val single = assertSameOutcome(frame(Seq((0, Vectors.dense(1.0, 2.0))), 1))
    assert(single == Right((Seq(bits(Vectors.dense(1.0, 2.0))), 1)))
    val same = assertSameOutcome(frame((0 until 20).map(i => (i, Vectors.dense(4.0, 5.0))), 4))
    assert(same.map(_._1.size) == Right(1))
    val empty = assertSameOutcome(frame(Seq.empty, 2))
    assert(empty.isLeft, empty)
    val nan = assertSameOutcome(frame(Seq((0, Vectors.dense(1.0, 2.0)),
      (1, Vectors.dense(Double.NaN, 0.0)), (2, Vectors.dense(3.0, 1.0))), 2))
    assert(nan.isLeft, nan)
    info(s"empty: $empty; NaN: $nan")
  }

  test("bestOfKMeans(runs = 10) runs at most 1 + 1 + 2·2 + 1 + 20 jobs") {
    val df = virusLike().cache()
    df.count()
    val (best, jobs) = JobCount.of(spark)(MlPipeline.bestOfKMeans(df, k = 10, runs = 10))
    assert(jobs <= 1 + 1 + 2 * 2 + 1 + 20, s"bestOfKMeans ran $jobs jobs")
    info(s"bestOfKMeans(runs = 10) ran $jobs jobs")
    // the lowest cost of the ten seeds' row-solver fits, lowest seed on ties
    val costs = (42L until 52L).map(s => rowFit(df, 10, s).summary.trainingCost)
    val bestSeed = 42L + costs.indexOf(costs.min)
    assert(best.getSeed == bestSeed)
    assert(closeRel(best.summary.trainingCost, costs.min, 1e-12))
    df.unpersist(false)
  }

  test("kmeansCostSweep fits every k of its grid in one batched fit") {
    val ks = Seq(2, 5, 10, 20)
    val (rows, jobs) = JobCount.of(spark)(
      MlPipeline.kmeansCostSweep(spark, Sf0001, ks).collect())
    assert(rows.map(_.getInt(0)).toSeq == ks)
    // the fit's ≤ 27 jobs, plus the sweep's own orderBy and collect
    assert(jobs <= 27 + 2, s"kmeansCostSweep ran $jobs jobs")
    info(s"kmeansCostSweep ran $jobs jobs")
    val df = Tables.embeddings(spark, Sf0001)
      .select(array_to_vector(col("embedding")).as("features"))
    rows.foreach { r =>
      val o = rowFit(df, r.getInt(0), 42L).summary.trainingCost
      assert(r.getDouble(1) == math.round(o * 1e4) / 1e4, s"k ${r.getInt(0)}")
    }
  }

  test("ml01, ml02 and ml06 fit through KMeansRuns within their job counts at sf0.01") {
    // each is one k-means run (≤ 1 + 1 + 2·2 + 1 + 20 jobs) plus the
    // query's own aggregation and collect; spark.ml's single fit added
    // its density (solver choice) job and its eager cluster-size job
    Seq("ml01_kmeans_sizes" -> 21, "ml02_kmeans_entropy" -> 22,
        "ml06_kmeans_centers" -> 20).foreach { case (q, max) =>
      val (rows, jobs) = JobCount.of(spark)(MlPipeline.queries(q)(spark, Sf001).collect())
      assert(rows.length == 10, s"$q rows")
      assert(jobs <= max, s"$q ran $jobs jobs")
      info(s"$q ran $jobs jobs")
    }
  }
}
