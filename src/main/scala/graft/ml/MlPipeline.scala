package graft.ml

import breeze.linalg.{DenseVector => BDV}
import graft.Tables._
import org.apache.spark.Partitioner
import org.apache.spark.ml.classification.{DecisionTreeClassifier, LinearSVC, LogisticRegression}
import org.apache.spark.ml.Transformer
import org.apache.spark.ml.clustering.{KMeansModel, KMeansRuns}
import org.apache.spark.ml.evaluation.BinaryClassificationEvaluator
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.mllib.classification.SVMModel
import org.apache.spark.mllib.linalg.{Vector => OldVector, Vectors => OldVectors}
import org.apache.spark.mllib.optimization.{HingeGradient, SquaredL2Updater}
import org.apache.spark.mllib.regression.LabeledPoint
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's ML stages (SURVEY.md §2.8, L1-L8) on `spark.ml`,
  * bound to the `embeddings` table.
  *
  * Each step of the reference's pipeline has one implementation,
  * shared by the queries and `VirusPipeline`: every k-means fit goes
  * through `KMeansRuns` ([[bestOfKMeans]], with `runs = 1` for a single
  * seeded fit, and [[kmeansCostSweep]]), which fits every (k, seed) run
  * in shared passes as Spark 1.x's `runs` did (`KMeans.setRuns` is gone
  * in Spark 2+); [[seededSplit]] is the 50/25/25 split; [[dtSweep]] and
  * [[linearSweep]] are the classifier sweeps. `SVMWithSGD` survives
  * only in RDD mllib, so its math is reproduced by the batched
  * [[sgdSweep]] (ml10). Every stochastic step is seeded (the reference
  * seeded nothing, so its published AUCs are one unreproducible draw).
  *
  * These queries have no DuckDB oracle (iterative ML is not
  * SQL-expressible) — the driver records a rows-only check.
  *
  * Scale notes: k-means/DT/SVC in spark.ml are already
  * data-distributed (per-iteration map + treeAggregate); feature
  * assembly here is one per-row `array_to_vector`, no shuffle. The
  * k-means runs and the SGD regularization grid are batched: one data
  * pass per iteration serves every run. The DT and linear sweeps
  * dispatch their fits concurrently from the driver ([[inParallel]]),
  * each fit itself distributed; each caller chooses its splits'
  * partition layout, which the fits' arithmetic depends on.
  */
object MlPipeline {

  private val Seed = 42L

  /** Concurrent fit dispatch on the global pool. Measured round 4: a
    * bounded 4-thread pool (4 fits × 8 partitions = exactly the 32
    * task slots) is 25-40% SLOWER than full concurrency here — each
    * fit alternates distributed jobs with driver-side phases
    * (aggregation merge, model construction), and the extra in-flight
    * fits fill those gaps. Keep dispatch unbounded; the per-fit
    * partition layout (coalesce 8) is what bounds task pressure.
    * Results keep input order (each point is seeded → deterministic). */
  private def inParallel[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    Await.result(Future.traverse(xs)(x => Future(f(x))), Duration.Inf)
  }

  /** L1 `setRuns=10` parity (`KmeansVirus.scala:183-186`): Spark 2+
    * removed multi-run k-means, so the best of N seeded fits, by
    * minimum training cost (WSSSE), reproduces the semantics. The N
    * fits share their passes as Spark 1.x's runs did (`KMeansRuns`):
    * one data pass per k-means|| step and per Lloyd iteration serves
    * every seed, so a fit runs at most 1 + 1 + 2·2 + 1 + 20 jobs
    * whatever N. Each seed's model is the one spark.ml's row solver
    * fits with tol 1e-6 (KMeansRunsSpec holds them to it). Deterministic:
    * seeds are baseSeed..baseSeed+runs-1 and ties on cost go to the
    * lowest seed. */
  def bestOfKMeans(data: DataFrame, k: Int, runs: Int,
      baseSeed: Long = Seed, featuresCol: String = "features"): KMeansModel = {
    require(runs >= 1, s"runs must be >= 1, got $runs")
    KMeansRuns.fit(data, featuresCol,
      (0 until runs).map(i => (k, baseSeed + i)))
      .minBy(_.summary.trainingCost)
  }

  /** L1 k-sweep over an arbitrary range (the reference sweeps 5..100
    * by 5 in `KmeansVirus.scala:165-173` and 30..160 by 10 in
    * `SVMDT.scala:240-247`), scored by training cost (WSSSE). Every k
    * is one run of the same batched fit as [[bestOfKMeans]], so the
    * whole grid shares each pass. The bench query ml05 keeps a small
    * default range; callers pass the full reference ranges. */
  def kmeansCostSweep(s: SparkSession, d: String, ks: Seq[Int]): DataFrame = {
    val data = embeddings(s, d)
      .select(array_to_vector(col("embedding")).as("features"))
    val rows = KMeansRuns.fit(data, "features", ks.map(k => (k, Seed)))
      .map(m => (m.getK, math.round(m.summary.trainingCost * 1e4) / 1e4))
    import s.implicits._
    rows.toDF("k", "training_cost").orderBy("k")
  }

  /** The reference's SVM regularization grid (`SVMDT.scala:204-214`). */
  val SgdRegParams: Seq[Double] = Seq(0.001, 0.01, 0.1, 1.0, 10.0)

  /** One point of [[sgdSweep]]: the fitted weights (no intercept), the
    * SGD iterations it ran, and its exact ROC AUC on the test split. */
  final case class SgdPoint(regParam: Double, weights: OldVector,
      iterations: Int, auc: Double)

  /** L5 with the reference's exact optimizer, batched: the
    * `SVMWithSGD.trainWithParams` fit (`SVMDT.scala:204-214`: zero
    * initial weights, step size 1.0, 10 iterations,
    * miniBatchFraction 1.0, HingeGradient, SquaredL2Updater, no
    * intercept) for every `regParams` point at once. Each SGD
    * iteration is ONE broadcast of the still-active weight vectors and
    * ONE `treeAggregate` that adds every active model's
    * `HingeGradient.compute` into its own buffer; each model then takes
    * its own `SquaredL2Updater` step and GradientDescent's convergence
    * rule (‖Δw‖ < 0.001·max(‖w‖, 1) from the second iteration on) — a
    * converged model leaves the later passes. One more pass scores
    * every model on `test` ([[rankAucs]]: one job for all AUCs instead
    * of a `BinaryClassificationMetrics` per model). Jobs: one for the
    * training stats (count, dimension and SVMWithSGD's 0/1 label
    * check, done once), ≤ 10 for the iterations, one for scoring —
    * whatever the grid size. MlSweepSpec holds the fits
    * and AUCs to `SVMWithSGD.run` and `areaUnderROC` within 1e-12.
    * `train` should be cached; `test` is read once. */
  def sgdSweep(train: RDD[LabeledPoint], test: RDD[LabeledPoint],
      regParams: Seq[Double]): Seq[SgdPoint] = {
    require(regParams.nonEmpty, "sgdSweep needs at least one regParam")
    val (m, badLabels, n) = train.treeAggregate((0L, 0L, 0))(
      (c, p) => (c._1 + 1,
        if (p.label == 0.0 || p.label == 1.0) c._2 else c._2 + 1,
        p.features.size),
      (a, b) => (a._1 + b._1, a._2 + b._2, math.max(a._3, b._3)))
    require(m > 0, "sgdSweep needs a non-empty training split")
    require(badLabels == 0, s"SVM labels must be 0 or 1: $badLabels are not")
    val gradient = new HingeGradient
    val updater = new SquaredL2Updater
    val weights = Array.fill(regParams.size)(OldVectors.zeros(n))
    val iterations = Array.fill(regParams.size)(0)
    var active = regParams.indices.toArray
    var i = 1
    while (active.nonEmpty && i <= 10) {
      val bcW = train.sparkContext.broadcast(active.map(weights))
      val sums = train.treeAggregate(Array.ofDim[Double](active.length, n))(
        (g, p) => {
          val w = bcW.value
          var j = 0
          while (j < w.length) {
            gradient.compute(p.features, p.label, w(j), OldVectors.dense(g(j)))
            j += 1
          }
          g
        },
        (a, b) => {
          for (j <- a.indices; k <- 0 until n) a(j)(k) += b(j)(k)
          a
        })
      bcW.destroy()
      active = active.zip(sums).filterNot { case (j, sum) =>
        // GradientDescent's own arithmetic: breeze's element-wise mean
        val grad = OldVectors.dense((new BDV(sum) / m.toDouble).data)
        val w = updater.compute(weights(j), grad, 1.0, i, regParams(j))._1
        val converged = i > 1 && { // GradientDescent.isConverged
          var d2 = 0.0; var w2 = 0.0; var k = 0
          while (k < n) {
            val dk = weights(j)(k) - w(k); d2 += dk * dk; w2 += w(k) * w(k)
            k += 1
          }
          math.sqrt(d2) < 0.001 * math.max(math.sqrt(w2), 1.0)
        }
        weights(j) = w; iterations(j) = i
        converged
      }.map(_._1)
      i += 1
    }
    val aucs = rankAucs(test,
      weights.map(w => new SVMModel(w, 0.0).clearThreshold()))
    regParams.indices.map(j =>
      SgdPoint(regParams(j), weights(j), iterations(j), aucs(j)))
  }

  /** Every model's exact ROC AUC on `test` from one pass: the scores go
    * to one partition per model, sorted, and each partition reduces to
    * ml15's tie-averaged rank statistic, U = Σ_s n_pos(s)·(neg_below(s)
    * + ½·n_neg(s)), kept as the integer 2U. A one-class or empty split
    * gets `BinaryClassificationMetrics`' ROC conventions: no negatives
    * → 1.0, no positives → 0.0, neither → 0.5. */
  private def rankAucs(test: RDD[LabeledPoint],
      models: Array[SVMModel]): Seq[Double] = {
    val bcM = test.sparkContext.broadcast(models)
    val nModels = models.length
    val byModel = new Partitioner {
      def numPartitions: Int = nModels
      def getPartition(key: Any): Int = key.asInstanceOf[(Int, Double)]._1
    }
    implicit val byModelThenScore: Ordering[(Int, Double)] =
      Ordering.Tuple2(Ordering.Int, Ordering.Double.TotalOrdering)
    val counts = test.flatMap { p =>
      val ms = bcM.value
      ms.indices.map(j => ((j, ms(j).predict(p.features)), p.label > 0.5))
    }.repartitionAndSortWithinPartitions(byModel).mapPartitions { it =>
      val rows = it.buffered
      var np = 0L; var nn = 0L; var twoU = 0L
      while (rows.hasNext) {
        val s = rows.head._1._2
        var gp = 0L; var gn = 0L
        while (rows.hasNext &&
            java.lang.Double.compare(rows.head._1._2, s) == 0) {
          if (rows.next()._2) gp += 1 else gn += 1
        }
        twoU += gp * (2 * nn + gn); np += gp; nn += gn
      }
      Iterator.single((np, nn, twoU))
    }.collect() // partition order = model order
    bcM.destroy()
    counts.toSeq.map { case (np, nn, twoU) =>
      if (nn == 0) { if (np == 0) 0.5 else 1.0 }
      else if (np == 0) 0.0
      else twoU / 2.0 / (np * nn).toDouble
    }
  }

  /** `trainWithParams` on a (label, features) frame (`SVMDT.scala:
    * 92-95,204-214`): the seeded 50/25/25 split, [[sgdSweep]] on the
    * train split (8 partitions, cached) and scored on the test split.
    * Shared by `VirusPipeline.sgdReport` and ml10. */
  def sgdSplitSweep(data: DataFrame, seed: Long,
      regParams: Seq[Double] = SgdRegParams): Seq[SgdPoint] = {
    val Array(train0, _, test0) = seededSplit(data, seed)
    def toRdd(df: DataFrame) = df.rdd.map { r =>
      LabeledPoint(r.getDouble(0), OldVectors.fromML(
        r.getAs[org.apache.spark.ml.linalg.Vector](1)))
    }
    val train = toRdd(train0).coalesce(8).cache()
    try sgdSweep(train, toRdd(test0), regParams)
    finally train.unpersist(false)
  }

  /** U3: the reference's seeded 50/25/25 (train, cv, test) split of a
    * frame's (label, features) columns (`SVMDT.scala:92-95`). */
  def seededSplit(data: DataFrame, seed: Long): Array[DataFrame] =
    data.select("label", "features").randomSplit(Array(0.5, 0.25, 0.25), seed)

  private def rocAuc(scored: DataFrame): Double =
    new BinaryClassificationEvaluator().setMetricName("areaUnderROC")
      .evaluate(scored)

  /** L4+L6+L7: the reference's decision-tree sweep
    * (`SVMDT.scala:147-164`): one seeded tree per (impurity, depth),
    * entropy/gini × depths 1, 2, 3, 4, 5, 10, 20, fitted on `train`,
    * with its unrounded ROC AUC on `eval`, in grid order. The fits run
    * concurrently, so both splits should be materialized. */
  def dtSweep(train: DataFrame, eval: DataFrame,
      seed: Long): Seq[(String, Int, Double)] = {
    val grid = for (imp <- Seq("entropy", "gini");
                    depth <- Seq(1, 2, 3, 4, 5, 10, 20)) yield (imp, depth)
    inParallel(grid) { case (imp, depth) =>
      val m = new DecisionTreeClassifier()
        .setImpurity(imp).setMaxDepth(depth).setSeed(seed).fit(train)
      (imp, depth, rocAuc(m.transform(eval)))
    }
  }

  /** L5+L7: the reference's linear-classifier sweep (`SVMDT.scala:
    * 204-214`): for each of `families`, "svc" (LinearSVC) or "lr"
    * (LogisticRegression), one 10-iteration fit per [[SgdRegParams]]
    * point on `train`, with its unrounded ROC AUC on `eval`,
    * family-major. All fits run as ONE concurrent batch (per-family
    * batches would idle executors while each one's slowest fit
    * drains), so both splits should be materialized. */
  def linearSweep(train: DataFrame, eval: DataFrame,
      families: Seq[String]): Seq[(String, Double, Double)] =
    inParallel(for (f <- families; r <- SgdRegParams) yield (f, r)) {
      case (f, r) =>
        val m: Transformer = f match {
          case "svc" => new LinearSVC().setRegParam(r).setMaxIter(10).fit(train)
          case "lr" =>
            new LogisticRegression().setRegParam(r).setMaxIter(10).fit(train)
          case other =>
            throw new IllegalArgumentException(s"unknown model family $other")
        }
        (f, r, rocAuc(m.transform(eval)))
    }

  /** ml01/ml02's fit (L1+L2, reference config `KmeansVirus.scala:
    * 183-186`): one seeded k = 10 k-means run over the embeddings,
    * whose (vec_id, label, features) rows come back with their cluster
    * in `prediction`. */
  private def embeddingClusters(s: SparkSession, d: String): DataFrame = {
    val data = embeddings(s, d).select(col("vec_id"), col("label"),
      array_to_vector(col("embedding")).as("features"))
    bestOfKMeans(data, k = 10, runs = 1).transform(data)
  }

  /** (label, features) — binary label: embeddings.label < 5, mirroring
    * the reference's virus/clean 1.0/0.0 (P4). */
  private def labeled(s: SparkSession, d: String): DataFrame =
    embeddings(s, d).select(
      when(col("label") < 5, 1.0).otherwise(0.0).as("label"),
      array_to_vector(col("embedding")).as("features"))

  /** ml18/ml19 shared corpus pass: the 8 per-bucket OLS sum rows
    * (nested hash buckets over lineitem, exact DECIMAL sums —
    * order-free, so the single corpus aggregate hash-gates). Both
    * consumers do their entire fit algebra on these ≤8 rows. */
  private def olsBucketSums(s: SparkSession, d: String): DataFrame = {
    import graft.functions.Funcs.md5Long
    val x = col("l_quantity").cast("decimal(18,2)")
    val y = col("l_extendedprice").cast("decimal(18,2)")
    val bkt = md5Long(concat(lit("lc:"), col("l_orderkey").cast("string"),
      lit(":"), col("l_linenumber").cast("string")), 15) % 8
    lineitem(s, d).withColumn("b", bkt)
      .groupBy("b").agg(count(lit(1)).as("n"),
        sum(x).as("sx"), sum(y).as("sy"), sum(x * y).as("sxy"),
        sum(x * x).as("sx2"), sum(y * y).as("syy"))
      .localCheckpoint() // 8 rows; all downstream algebra reads these
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ml01: L1+L2 — k-means k=10, tol=1e-6 (reference config,
    // `KmeansVirus.scala:183-186`), seeded; cluster sizes.
    "ml01_kmeans_sizes" -> ((s, d) =>
      embeddingClusters(s, d)
        .groupBy(col("prediction").as("cluster"))
        .agg(count(lit(1)).as("n_vectors"))
        .orderBy("cluster")),

    // ml02: A4+A5+A6+M3 — cluster-quality scoring by weighted label
    // entropy over real k-means clusters (ref
    // `costlyWeightedAveEntropyScore`, `SVMDT.scala:264-284`).
    "ml02_kmeans_entropy" -> ((s, d) => {
      val counts = embeddingClusters(s, d)
        .groupBy(col("prediction").as("cluster"), col("label"))
        .agg(count(lit(1)).as("n"))
      graft.functions.Funcs.clusterEntropy(counts)
        .select(col("cluster"), col("n_total").as("n_vectors"),
          round(col("entropy_raw"), 6).as("entropy"))
        .orderBy("cluster")
    }),

    // ml05: L1 k-sweep — reference sweeps k over ranges to pick the
    // cluster count (`KmeansVirus.scala:165-173`, `SVMDT.scala:240-247`),
    // scored by training cost (WSSSE). Small default range here; the
    // full reference ranges go through the same kmeansCostSweep
    // (spec-covered).
    "ml05_kmeans_cost" -> ((s, d) => kmeansCostSweep(s, d, Seq(2, 5, 10, 20))),

    // ml09: L1 `setRuns` parity — best-of-N seeded runs keeping the
    // min WSSSE (the reference's `setRuns(10)`; N=4 here keeps the
    // bench proportionate). best cost is non-increasing in N by
    // construction (seed sets are nested) — spec-asserted.
    "ml09_kmeans_bestof" -> ((s, d) => {
      val data = embeddings(s, d)
        .select(array_to_vector(col("embedding")).as("features"))
        .coalesce(8).cache()
      val rows = Seq(1, 4).map { runs =>
        val m = bestOfKMeans(data, k = 10, runs = runs)
        (runs, math.round(m.summary.trainingCost * 1e4) / 1e4)
      }
      data.unpersist(false)
      import s.implicits._
      rows.toDF("n_runs", "best_training_cost").orderBy("n_runs")
    }),

    // ml06: L3 — cluster centers dump (`SVMDT.scala:316`), reported as
    // per-center L2 norms.
    "ml06_kmeans_centers" -> ((s, d) => {
      val data = embeddings(s, d)
        .select(array_to_vector(col("embedding")).as("features"))
      val m = bestOfKMeans(data, k = 10, runs = 1)
      val rows = m.clusterCenters.zipWithIndex.map { case (c, i) =>
        (i, math.round(math.sqrt(c.toArray.map(x => x * x).sum) * 1e6) / 1e6)
      }
      import s.implicits._
      rows.toSeq.toDF("cluster", "center_l2_norm").orderBy("cluster")
    }),

    // ml08: the spark.ml-native dedup route (SURVEY §7.2 slice 5 —
    // `ml.feature.MinHashLSH`): HashingTF binary token vectors (no
    // fit, deterministic) → seeded MinHashLSH → approxSimilarityJoin.
    // The custom dd02/dd03 operators are the cross-engine-exact
    // implementation; this shows the built-in path works on the same
    // table. Rows-only check (hash seeds are engine-specific).
    "ml08_minhash_lsh" -> ((s, d) => {
      import org.apache.spark.ml.feature.{HashingTF, MinHashLSH}
      val toks = documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("tokens"))
      val tf = new HashingTF().setInputCol("tokens").setOutputCol("features")
        .setNumFeatures(1024).setBinary(true)
      // small sample: this is the built-in-route demonstration, and
      // approxSimilarityJoin explodes numHashTables rows per doc before
      // its join — the exact cross-engine path (dd02/dd03) is the
      // throughput implementation
      // cached: the self-join evaluates both sides (and fit a third
      // time) — without this the scan + hashing runs per consumer
      val vecs = tf.transform(toks).filter(col("doc_id") % 25 === 0).cache()
      val lsh = new MinHashLSH().setNumHashTables(4).setSeed(Seed)
        .setInputCol("features").setOutputCol("hashes")
      val model = lsh.fit(vecs)
      model.approxSimilarityJoin(vecs, vecs, 0.5, "jaccard_dist")
        .select(col("datasetA.doc_id").as("doc_a"),
          col("datasetB.doc_id").as("doc_b"),
          round(col("jaccard_dist"), 6).as("jaccard_dist"))
        .filter(col("doc_a") < col("doc_b"))
        .orderBy("doc_a", "doc_b")
    }),

    // ml07: PCA over the embedding vectors — the dimensionality-
    // reduction stage of a training-data pipeline (deterministic SVD,
    // no seed). Reports per-component explained variance; rows-only
    // check — but since round 9 the fit's SUFFICIENT STATISTICS (the
    // 64×64 covariance) are hash-gated by em12_pca_suffstats, and
    // Round9OpsSpec eigensolves that matrix to reproduce this query's
    // explained variance, so only the eigensolve itself is outside
    // the oracle.
    "ml07_pca_variance" -> ((s, d) => {
      val data = embeddings(s, d)
        .select(array_to_vector(col("embedding")).as("features"))
      val m = new org.apache.spark.ml.feature.PCA()
        .setK(8).setInputCol("features").setOutputCol("pca")
        .fit(data)
      val rows = m.explainedVariance.toArray.zipWithIndex.map {
        case (v, i) => (i, math.round(v * 1e6) / 1e6)
      }
      import s.implicits._
      rows.toSeq.toDF("component", "explained_variance")
        .orderBy("component")
    }),

    // ml03: L4+L6+L7+L8 — decision-tree sweep, impurity × depth,
    // scored by AUC-ROC on the cv split (50/25/25, ref
    // `SVMDT.scala:92-95,147-164`).
    "ml03_dt_auc" -> ((s, d) => {
      // see ml04: small splits → few partitions, cheap per-fit jobs
      val Array(train0, cv0, _) = seededSplit(labeled(s, d), Seed)
      val train = train0.coalesce(8).cache()
      val cv = cv0.coalesce(8).cache()
      train.count(); cv.count() // materialize before concurrent fits
      val rows = dtSweep(train, cv, Seed).map { case (imp, depth, auc) =>
        (imp, depth, math.round(auc * 1e4) / 1e4)
      }
      train.unpersist(false); cv.unpersist(false)
      import s.implicits._
      rows.toDF("impurity", "max_depth", "auc").orderBy("impurity", "max_depth")
    }),

    // ml10: L5 with the reference's EXACT optimizer — `SVMWithSGD`'s
    // math (10 SGD iterations, step 1.0, SquaredL2Updater, regParam
    // sweep, `trainWithParams` `SVMDT.scala:204-214`) through the
    // batched `sgdSweep`, so the "LinearSVC is a different optimizer"
    // caveat in SURVEY §2.8 is closed by running both: ml04 is the
    // modern spark.ml route, ml10 the byte-faithful SGD route (held to
    // `SVMWithSGD.run` and `BinaryClassificationMetrics` by
    // MlSweepSpec). Deterministic: zero-init weights,
    // miniBatchFraction=1.0, fixed 8-partition train layout.
    "ml10_svm_sgd" -> ((s, d) => {
      val rows = sgdSplitSweep(labeled(s, d), Seed)
        .map(p => (p.regParam, math.round(p.auc * 1e4) / 1e4))
      import s.implicits._
      rows.sortBy(_._1).toDF("reg_param", "auc") // driver-side: no sort job
    }),

    // ml04: L5+L7+L8 — linear classifier sweep over L2 regularization
    // (LinearSVC + LogisticRegression, the reference's two selector
    // branches, `SVMDT.scala:204-214`), AUC on the test split.
    "ml04_linear_auc" -> ((s, d) => {
      // the splits are small relative to the cluster: coalesce to a
      // few partitions before caching so each of the ~100 tiny
      // iteration/eval jobs schedules 8 tasks, not shuffle.partitions
      val Array(train0, _, test0) = seededSplit(labeled(s, d), Seed)
      val train = train0.coalesce(8).cache()
      val test = test0.coalesce(8).cache()
      train.count(); test.count() // materialize before concurrent fits
      val rows = linearSweep(train, test, Seq("svc", "lr")).map {
        case (f, r, auc) => (f, r, math.round(auc * 1e4) / 1e4)
      }
      train.unpersist(false); test.unpersist(false)
      import s.implicits._
      rows.toDF("model", "reg_param", "auc").orderBy("model", "reg_param")
    }),

    // ml11: k-means ASSIGNMENT (the predict/score half of L2) against
    // fixed centers — unlike the iterative fits, one Lloyd assignment
    // step is pure closed-form math, so this one IS oracle-checkable:
    // broadcast k centers, one pass over the vectors, per-row argmin
    // of squared L2 (in-order fold → engine-identical doubles),
    // partial min(struct) aggregate. This is exactly what
    // model.transform does at serving time; at 100 TB it's a
    // broadcast-map with zero shuffle before the keys-sized argmin.
    "ml11_kmeans_assign" -> ((s, d) => {
      val centers = embeddings(s, d).filter(col("vec_id") < 5)
        .select(col("vec_id").as("cid"), col("embedding").as("center"))
      val dist2 = aggregate(
        zip_with(col("embedding"), col("center"),
          (x, c) => (x.cast("double") - c.cast("double")) *
            (x.cast("double") - c.cast("double"))),
        lit(0.0), (a, e) => a + e)
      embeddings(s, d)
        .crossJoin(broadcast(centers))
        .select(col("vec_id"), col("cid"), dist2.as("d2"))
        .groupBy("vec_id")
        // argmin via min(struct): lexicographic (d2, cid) — center id
        // breaks exact-tie distances deterministically
        .agg(min(struct(col("d2"), col("cid"))).as("best"))
        .select(col("vec_id"), col("best.cid").as("cluster"),
          round(col("best.d2"), 6).as("dist2_6"))
        .orderBy("vec_id")
    }),

    // ml14: the RECENTER half of a Lloyd iteration — given ml11's
    // assignment, recompute each cluster's centroid per dimension
    // (posexplode → (cluster, dim) hash aggregate, em01's proven
    // engine-exact mean pattern). ml11 + ml14 together are one full
    // k-means step in closed form: the fits stay rows-only-checked,
    // but the algorithm's building blocks are each hash-exact.
    "ml14_kmeans_recenter" -> ((s, d) => {
      val assigned = queries("ml11_kmeans_assign")(s, d)
        .select(col("vec_id"), col("cluster"))
      embeddings(s, d).join(assigned, "vec_id")
        .select(col("cluster"), posexplode(col("embedding")))
        .withColumnsRenamed(Map("pos" -> "dim", "col" -> "v"))
        .withColumn("v", col("v").cast("double"))
        .groupBy("cluster", "dim")
        .agg(round(avg("v"), 6).as("mean_v"),
          count(lit(1)).as("n_members"))
        .orderBy("cluster", "dim")
    }),

    // ml13: classification metrics (confusion matrix + accuracy/
    // precision/recall/F1) for ml12's predictions against a derived
    // binary target — the eval operator every model pipeline ends
    // with (L7's AUC sibling, but closed-form so oracle-checkable).
    // Metrics use the all-integer forms (f1 = 2tp/(2tp+fp+fn)): one
    // exact division each, no compounding float ops. One aggregate
    // over the scored table — counts flow, rows don't.
    // ml21: OPERATING-POINT SELECTION — ml13 evaluates ONE threshold;
    // this sweeps 0.1..0.9 over ml12's scores in a single pass
    // (explode the 9 thresholds onto the scored rows, one grouped
    // aggregate) and flags the best-F1 row. Confusion counts are
    // integers, precision/recall/F1 are one exact int/int division
    // each (identical doubles in any engine), and the argmax ranks
    // the rounded F1 with the threshold as tie-break — so the whole
    // sweep, including the pick, hash-gates. The step every deployed
    // classifier needs between scoring (ml12) and serving: which
    // cutoff to ship.
    //
    // Scale: the scored table streams once through a 9× row expand
    // (counts flow, vectors don't); the sweep table is 9 rows and the
    // rank window runs on it alone.
    "ml21_threshold_sweep" -> ((s, d) => {
      val scored = queries("ml12_logistic_score")(s, d)
        .select(col("vec_id"), col("score_6"))
      val truth = embeddings(s, d)
        .select(col("vec_id"), (col("label") % 2 === 1).as("actual"))
      val ths = (1 to 9).map(i => lit(i.toDouble / 10.0))
      def n(p: Column, a: Column => Column) =
        sum(when(p && a(col("actual")), 1L).otherwise(0L))
      val byTh = scored.join(truth, "vec_id")
        .select(col("score_6"), col("actual"),
          explode(array(ths: _*)).as("threshold"))
        .withColumn("pred", col("score_6") >= col("threshold"))
        .groupBy("threshold")
        .agg(n(col("pred"), identity).as("tp"),
          n(col("pred"), !_).as("fp"),
          n(!col("pred"), identity).as("fn"),
          n(!col("pred"), !_).as("tn"))
        .select(col("threshold"), col("tp"), col("fp"), col("fn"),
          col("tn"),
          when(col("tp") + col("fp") === 0, lit(null)).otherwise(
            round(col("tp").cast("double") /
              (col("tp") + col("fp")), 6)).as("prec_6"),
          when(col("tp") + col("fn") === 0, lit(null)).otherwise(
            round(col("tp").cast("double") /
              (col("tp") + col("fn")), 6)).as("rec_6"),
          when(lit(2L) * col("tp") + col("fp") + col("fn") === 0,
            lit(null)).otherwise(
            round((lit(2.0) * col("tp")) /
              (lit(2L) * col("tp") + col("fp") + col("fn")), 6))
            .as("f1_6"))
      val w = Window.orderBy(col("f1_6").desc_nulls_last,
        col("threshold").asc)
      byTh.withColumn("is_best", row_number().over(w) === 1)
        .orderBy("threshold")
    }),

    "ml13_eval_metrics" -> ((s, d) => {
      val scored = queries("ml12_logistic_score")(s, d)
        .select(col("vec_id"), col("predicted"))
      val truth = embeddings(s, d)
        .select(col("vec_id"), (col("label") % 2 === 1).as("actual"))
      def n(p: Column => Column, a: Column => Column) =
        sum(when(p(col("predicted")) && a(col("actual")), 1L)
          .otherwise(0L))
      scored.join(truth, "vec_id")
        .agg(n(identity, identity).as("tp"),
          n(identity, !_).as("fp"),
          n(!_, identity).as("fn"),
          n(!_, !_).as("tn"))
        .select(col("tp"), col("fp"), col("fn"), col("tn"),
          ((col("tp") + col("tn")).cast("double") /
            (col("tp") + col("fp") + col("fn") + col("tn"))).as("acc"),
          // zero-denominator guards: Spark yields IEEE NaN on 0/0 where
          // DuckDB's behavior is version-dependent — NULL both sides
          // keeps the hash gate stable on a degenerate confusion matrix
          when(col("tp") + col("fp") === 0, lit(null)).otherwise(
            col("tp").cast("double") / (col("tp") + col("fp"))).as("prec"),
          when(col("tp") + col("fn") === 0, lit(null)).otherwise(
            col("tp").cast("double") / (col("tp") + col("fn"))).as("rec"),
          when(col("tp") * 2 + col("fp") + col("fn") === 0, lit(null))
            .otherwise((col("tp") * 2).cast("double") /
              (col("tp") * 2 + col("fp") + col("fn"))).as("f1"))
    }),

    // ml15: closed-form AUC-ROC (L7, `SVMDT.scala:157-158,177-178`) as
    // the tie-averaged rank statistic over ml12's deterministic
    // sigmoid scores — the last §2 numeric under the hash gate. Rather
    // than ranking every row (a global sort), group by the 6-decimal
    // score first: sigmoid ∈ (0,1), so the bucketed table has at most
    // 1,000,001 rows REGARDLESS of corpus size — the cumulative window
    // runs over that provably-bounded aggregate (ta12 pattern), and
    // AUC = Σ_s n_pos(s)·(cum_neg_below(s) + ½·n_neg(s)) / (np·nn),
    // exactly the Mann-Whitney U with average ranks for ties. Every
    // term is a multiple of 0.5 (exact in binary), so the sum is
    // order-independent — engine-identical doubles by construction.
    "ml15_rank_auc" -> ((s, d) => {
      val scored = queries("ml12_logistic_score")(s, d)
        .select(col("vec_id"), col("score_6"))
      val truth = embeddings(s, d)
        .select(col("vec_id"), (col("label") % 2 === 1).as("is_pos"))
      val byScore = scored.join(truth, "vec_id")
        .groupBy("score_6")
        .agg(sum(when(col("is_pos"), 1L).otherwise(0L)).as("n_pos"),
          sum(when(col("is_pos"), 0L).otherwise(1L)).as("n_neg"))
      val below = Window.orderBy("score_6")
        .rowsBetween(Window.unboundedPreceding, -1)
      byScore
        .withColumn("cum_neg_below",
          coalesce(sum("n_neg").over(below), lit(0L)))
        .agg(sum("n_pos").as("np"), sum("n_neg").as("nn"),
          sum(col("n_pos") *
            (col("cum_neg_below").cast("double") +
              lit(0.5) * col("n_neg"))).as("u"))
        // symmetric degenerate-class guard (NULL, not NaN/Inf — DuckDB
        // and Spark diverge on 0/0, see ml13 advice)
        .select(col("np"), col("nn"),
          when(col("np") === 0 || col("nn") === 0, lit(null))
            .otherwise(round(col("u") /
              (col("np") * col("nn")).cast("double"), 6)).as("auc"))
    }),

    // ml22: K-FOLD CROSS-VALIDATED RANK-AUC — the evaluation
    // discipline a single held-out AUC (ml15) lacks: fold the scored
    // population 5 ways by SALTED CONTENT HASH (ta09's split rule —
    // no RNG, so reruns and reshards land every vector in the same
    // fold; the salt decorrelates fold assignment from every other
    // hash use of vec_id) and report ml15's exact rank-AUC per fold.
    // The fold-to-fold spread is the variance estimate a model
    // comparison actually needs (spec-pinned: all five folds within a
    // band, and their pooled counts reconstruct ml15's population).
    //
    // Scale: identical to ml15 — scores bucket to ≤ 1e6+1 score_6
    // values PER FOLD before any window, so the rank accumulation
    // runs over bounded aggregates, never raw vectors; adding folds
    // multiplies the bounded table by K, not the corpus cost. The
    // 0.5-granular U sums are exact in double (halves), order-free.
    "ml22_kfold_eval" -> ((s, d) => {
      val folds = 5
      val scored = queries("ml12_logistic_score")(s, d)
        .select(col("vec_id"), col("score_6"))
      val truth = embeddings(s, d)
        .select(col("vec_id"), (col("label") % 2 === 1).as("is_pos"))
      val byScore = scored.join(truth, "vec_id")
        .withColumn("fold", pmod(graft.functions.Funcs.md5Long(
          concat(col("vec_id").cast("string"), lit("#fold")), 7),
          lit(folds.toLong)))
        .groupBy("fold", "score_6")
        .agg(sum(when(col("is_pos"), 1L).otherwise(0L)).as("n_pos"),
          sum(when(col("is_pos"), 0L).otherwise(1L)).as("n_neg"))
      val below = Window.partitionBy("fold").orderBy("score_6")
        .rowsBetween(Window.unboundedPreceding, -1)
      byScore
        .withColumn("cum_neg_below",
          coalesce(sum("n_neg").over(below), lit(0L)))
        .groupBy("fold")
        .agg(sum("n_pos").as("np"), sum("n_neg").as("nn"),
          sum(col("n_pos") *
            (col("cum_neg_below").cast("double") +
              lit(0.5) * col("n_neg"))).as("u"))
        .select(col("fold"), col("np"), col("nn"),
          when(col("np") === 0 || col("nn") === 0, lit(null))
            .otherwise(round(col("u") /
              (col("np") * col("nn")).cast("double"), 6)).as("auc"))
        .orderBy("fold")
    }),

    // ml16: the PRECISION-RECALL CURVE over ml12's scores — ml13 is
    // one operating point, ml15 is the rank summary; this is the curve
    // a threshold actually gets chosen from. Same bounded-aggregate
    // trick as ml15: scores bucket to ≤ 1,000,001 (score_6) rows
    // first, then the 9 candidate thresholds (k/10, k = 1..9) join
    // against THAT — the per-threshold confusion counts are sums over
    // the bucket table, so the corpus is scanned once regardless of
    // how many thresholds the sweep wants. Integer counts + one exact
    // division per metric (ml13's engine-exact forms, NULL on
    // degenerate denominators).
    "ml16_pr_curve" -> ((s, d) => {
      val scored = queries("ml12_logistic_score")(s, d)
        .select(col("vec_id"), col("score_6"))
      val truth = embeddings(s, d)
        .select(col("vec_id"), (col("label") % 2 === 1).as("is_pos"))
      val byScore = scored.join(truth, "vec_id")
        .groupBy("score_6")
        .agg(sum(when(col("is_pos"), 1L).otherwise(0L)).as("n_pos"),
          sum(when(col("is_pos"), 0L).otherwise(1L)).as("n_neg"))
      val thr = s.range(1, 10).select(col("id").cast("int").as("thr_10"))
      // t = k/10 as one double division — identical bits on both
      // engines (a 0.1-step literal would tempt decimal/double drift)
      val t = col("thr_10").cast("double") / lit(10.0)
      byScore.crossJoin(broadcast(thr))
        .groupBy("thr_10")
        .agg(
          sum(when(col("score_6") >= t, col("n_pos")).otherwise(0L)).as("tp"),
          sum(when(col("score_6") >= t, col("n_neg")).otherwise(0L)).as("fp"),
          sum(when(col("score_6") < t, col("n_pos")).otherwise(0L)).as("fn"))
        .select(col("thr_10"), col("tp"), col("fp"), col("fn"),
          when(col("tp") + col("fp") === 0, lit(null)).otherwise(
            col("tp").cast("double") / (col("tp") + col("fp"))).as("prec"),
          when(col("tp") + col("fn") === 0, lit(null)).otherwise(
            col("tp").cast("double") / (col("tp") + col("fn"))).as("rec"),
          when(col("tp") * 2 + col("fp") + col("fn") === 0, lit(null))
            .otherwise((col("tp") * 2).cast("double") /
              (col("tp") * 2 + col("fp") + col("fn"))).as("f1"))
        .orderBy("thr_10")
    }),

    // ml17: CALIBRATION (reliability) curve — the third leg of the
    // eval family (ml15 ranks, ml16 thresholds, this one asks whether
    // the scores MEAN anything): decile-bin the sigmoid scores and
    // compare each bin's mean predicted probability to its empirical
    // positive rate. Engine-exact by construction: scores carry ≤6
    // decimals, so the per-bin mean goes through an exact DECIMAL sum
    // (ss06's trick — order-free, no float fold), and the positive
    // rate is integer/integer. One aggregate over the scored table;
    // 10 rows out regardless of corpus.
    // ml19: LEAVE-ONE-BUCKET-OUT INFLUENCE (closed-form data
    // valuation) — "which slice of the data is helping or hurting?"
    // answered with ZERO refits over the corpus: for each training
    // bucket j, the OLS trained WITHOUT j comes algebraically from
    // the same 8 sum rows ml18 uses (total-minus-bucket on exact
    // decimal sums), evaluated on the held-out test bucket, and
    // influence_j = testMSE(without j) − testMSE(all). A positive
    // influence means the model got WORSE without the bucket (the
    // bucket helps); negative means the bucket hurts — the
    // Shapley-style diagnostic a data-curation loop ranks slices by.
    //
    // Scale: the corpus pays ONE aggregate (shared with ml18's sums);
    // all 8 leave-one-out fits are arithmetic on ≤8 rows. At 100 TB
    // bucket = source/domain/shard and this is how per-slice data
    // value gets measured without 8 training runs.
    "ml19_bucket_influence" -> ((s, d) => {
      val bs = olsBucketSums(s, d)
      val d2 = (c: Column) =>
        floor(c * 100).cast("long").cast("double") / lit(100.0)
      val test = bs.filter(col("b") === 7)
        .select(col("n").as("tn"),
          d2(col("sx")).as("tsx"), d2(col("sy")).as("tsy"),
          d2(col("sxy")).as("tsxy"), d2(col("sx2")).as("tsx2"),
          d2(col("syy")).as("tsyy"))
      val train = bs.filter(col("b") <= 6)
      val tot = train.agg(sum("n").as("n_t"), sum("sx").as("sx_t"),
        sum("sy").as("sy_t"), sum("sxy").as("sxy_t"),
        sum("sx2").as("sx2_t"), sum("syy").as("syy_t"))
      // candidate training sets: all 7 buckets (left_out = -1) plus
      // one leave-one-out row per bucket — exact decimal subtraction
      val loo = train.crossJoin(broadcast(tot))
        .select(col("b").as("left_out"),
          (col("n_t") - col("n")).as("n"),
          (col("sx_t") - col("sx")).as("sx"),
          (col("sy_t") - col("sy")).as("sy"),
          (col("sxy_t") - col("sxy")).as("sxy"),
          (col("sx2_t") - col("sx2")).as("sx2"),
          (col("syy_t") - col("syy")).as("syy"))
      val full = tot.select(lit(-1L).as("left_out"), col("n_t").as("n"),
        col("sx_t").as("sx"), col("sy_t").as("sy"), col("sxy_t").as("sxy"),
        col("sx2_t").as("sx2"), col("syy_t").as("syy"))
      val nD = col("n").cast("double")
      val slope = (nD * col("sxy") - col("sx") * col("sy")) /
        (nD * col("sx2") - col("sx") * col("sx"))
      val a = col("icept"); val bb = col("slope")
      val tnD = col("tn").cast("double")
      val fits = full.unionByName(loo)
        .select(col("left_out"), col("n"),
          d2(col("sx")).as("sx"), d2(col("sy")).as("sy"),
          d2(col("sxy")).as("sxy"), d2(col("sx2")).as("sx2"),
          d2(col("syy")).as("syy"))
        .crossJoin(broadcast(test))
        .withColumn("slope", slope)
        .withColumn("icept", (col("sy") - col("slope") * col("sx")) / nD)
        .withColumn("test_mse",
          (col("tsyy") - lit(2.0) * a * col("tsy") -
            lit(2.0) * bb * col("tsxy") + tnD * a * a +
            lit(2.0) * a * bb * col("tsx") + bb * bb * col("tsx2")) / tnD)
        .localCheckpoint() // ≤8 rows; read twice below
      val base = fits.filter(col("left_out") === -1L)
        .select(col("test_mse").as("mse_full"))
      fits.filter(col("left_out") >= 0L)
        .crossJoin(broadcast(base))
        .select(col("left_out"), col("n").as("n_train"),
          col("slope"), col("icept"), col("test_mse"),
          (col("test_mse") - col("mse_full")).as("influence"))
        .orderBy("left_out")
    }),

    // ml18: LEARNING CURVE, closed form — "does more data still help?"
    // answered without a single iterative fit: OLS (q27's closed form)
    // trained on nested hash-bucket fractions (bucket < j, ta18's
    // nesting so each training set contains the previous one) and
    // evaluated on a held-out bucket the training sets never touch.
    // Train and test MSE come ALGEBRAICALLY from exact decimal sums
    // (SSE = Σy² − 2aΣy − 2bΣxy + na² + 2abΣx + b²Σx², each Σ exact,
    // cast to double once) — no per-row residual pass, so the sums
    // are order-free and the whole curve hash-gates. The classic
    // diagnostic read: train MSE rises toward test MSE as data grows
    // (variance shrinking), gap = remaining overfit.
    //
    // Scale: ONE aggregate over the corpus to 8 per-bucket sum rows;
    // the cumsum, fits, and MSEs all run on ≤8 rows.
    "ml18_learning_curve" -> ((s, d) => {
      val bs = olsBucketSums(s, d)
      val w = Window.orderBy("b")
        .rowsBetween(Window.unboundedPreceding, 0)
      // decimal → double via exact centi-unit integers: DuckDB's
      // direct DECIMAL(38,_)→DOUBLE cast double-rounds (int128 then
      // ×10^-s) while the JVM's is correctly rounded — going through
      // floor(x·100)→BIGINT→DOUBLE/100.0 makes every step exact or
      // IEEE-identical in both engines (bounds: |x·100| < 2^63, fine
      // through sf0.1 with 9 decimal digits to spare)
      val d2 = (c: Column) =>
        floor(c * 100).cast("long").cast("double") / lit(100.0)
      val cum = bs.select(col("b"),
          sum("n").over(w).as("n"),
          sum("sx").over(w).as("sx"), sum("sy").over(w).as("sy"),
          sum("sxy").over(w).as("sxy"), sum("sx2").over(w).as("sx2"),
          sum("syy").over(w).as("syy"))
        .filter(col("b") <= 6) // bucket 7 is the held-out test set
        .select(col("b"), col("n"),
          d2(col("sx")).as("sx"), d2(col("sy")).as("sy"),
          d2(col("sxy")).as("sxy"), d2(col("sx2")).as("sx2"),
          d2(col("syy")).as("syy"))
      val test = bs.filter(col("b") === 7)
        .select(col("n").as("tn"),
          d2(col("sx")).as("tsx"), d2(col("sy")).as("tsy"),
          d2(col("sxy")).as("tsxy"), d2(col("sx2")).as("tsx2"),
          d2(col("syy")).as("tsyy"))
      val nD = col("n").cast("double")
      val slope = (nD * col("sxy") - col("sx") * col("sy")) /
        (nD * col("sx2") - col("sx") * col("sx"))
      val fitted = cum.crossJoin(broadcast(test))
        .withColumn("slope", slope)
        .withColumn("icept",
          (col("sy") - col("slope") * col("sx")) / nD)
      val a = col("icept"); val bb = col("slope")
      val tnD = col("tn").cast("double")
      fitted.select((col("b") + 1).cast("long").as("frac_j"),
          col("n").as("n_train"), col("slope"), col("icept"),
          ((col("syy") - lit(2.0) * a * col("sy") - lit(2.0) * bb * col("sxy")
            + nD * a * a + lit(2.0) * a * bb * col("sx")
            + bb * bb * col("sx2")) / nD).as("train_mse"),
          ((col("tsyy") - lit(2.0) * a * col("tsy") - lit(2.0) * bb * col("tsxy")
            + tnD * a * a + lit(2.0) * a * bb * col("tsx")
            + bb * bb * col("tsx2")) / tnD).as("test_mse"))
        .orderBy("frac_j")
    }),

    // ml20: SCALING-LAW FIT — the power-law exponent teams read off a
    // learning curve (test loss ≈ C·n^-α): ta21's quantized-log OLS
    // (xq/yq = floor(ln·1e6 + .5) exact BIGINTs, so the sums
    // hash-gate) over ml18's 7 (n_train, test_mse) curve points.
    // α > 0 means more data still buys loss; the ln-space intercept
    // is the curve's constant. Every per-point row carries the fit so
    // the output is self-describing.
    //
    // Scale: ml18's ONE corpus aggregate to 8 bucket rows; the curve
    // and the OLS are driver-trivial algebra on ≤8 rows after that —
    // nothing here grows with the corpus.
    "ml20_scaling_law" -> ((s, d) => {
      val curve = queries("ml18_learning_curve")(s, d)
        .select(col("frac_j"), col("n_train"), col("test_mse"))
      val q = (c: Column) => floor(log(c.cast("double")) * 1e6 + 0.5)
      val pts = curve.select(col("frac_j"), col("n_train"),
        col("test_mse"), q(col("n_train")).as("xq"),
        q(col("test_mse")).as("yq"))
      val nD = col("nn").cast("double")
      val slope = (nD * col("sxy") - col("sx").cast("double") *
          col("sy").cast("double")) /
        (nD * col("sxx") - col("sx").cast("double") *
          col("sx").cast("double"))
      val fit = pts
        .agg(count(lit(1)).as("nn"), sum("xq").as("sx"),
          sum("yq").as("sy"), sum(col("xq") * col("yq")).as("sxy"),
          sum(col("xq") * col("xq")).as("sxx"))
        .select(round(-slope, 6).as("alpha"),
          round((col("sy").cast("double") - slope *
            col("sx").cast("double")) / nD / 1e6, 6).as("ln_c"))
      pts.crossJoin(broadcast(fit))
        .select(col("frac_j"), col("n_train"),
          round(col("test_mse"), 6).as("test_mse_6"),
          col("alpha"), col("ln_c"))
        .orderBy("frac_j")
    }),

    "ml17_calibration" -> ((s, d) => {
      val scored = queries("ml12_logistic_score")(s, d)
        .select(col("vec_id"), col("score_6"))
      val truth = embeddings(s, d)
        .select(col("vec_id"), (col("label") % 2 === 1).as("is_pos"))
      scored.join(truth, "vec_id")
        .withColumn("bin",
          least(floor(col("score_6") * 10).cast("long"), lit(9L)))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"),
          sum(when(col("is_pos"), 1L).otherwise(0L)).as("n_pos"),
          (sum(col("score_6").cast("decimal(18,6)")).cast("double") /
            count(lit(1))).as("mean_score"),
          (sum(when(col("is_pos"), 1L).otherwise(0L)).cast("double") /
            count(lit(1))).as("pos_rate"))
        .orderBy("bin")
    }),

    // ml12: logistic scoring against a fixed weight vector (serving-
    // time inference for L5's model family, closed-form like ml11):
    // margin = w·x (in-order fold), score = sigmoid(margin). The
    // margin is bit-exact across engines; exp() agrees to the ulp on
    // both (verified by the hash gate), and the 6-decimal rounding
    // makes a last-ulp wobble invisible anyway.
    "ml12_logistic_score" -> ((s, d) => {
      val w = embeddings(s, d).filter(col("vec_id") === 0)
        .select(col("embedding").as("w"))
      embeddings(s, d)
        .crossJoin(broadcast(w))
        .select(col("vec_id"),
          graft.functions.Funcs.dotProduct(col("w"), col("embedding"))
            .as("margin"))
        .select(col("vec_id"), round(col("margin"), 6).as("margin_6"),
          round(lit(1.0) / (lit(1.0) + exp(-col("margin"))), 6)
            .as("score_6"),
          (col("margin") > 0.0).as("predicted"))
        .orderBy("vec_id")
    })
  )

  /** ml18's full oracle SQL — also nested as a CTE by ml20's
    * scaling-law fit, so the two stay in lockstep by construction. */
  private val ml18OracleSql: String =
    """WITH bs AS (
      |  SELECT ('0x' || substr(md5('lc:' || CAST(l_orderkey AS VARCHAR)
      |      || ':' || CAST(l_linenumber AS VARCHAR)), 1, 15))::BIGINT
      |      % 8 AS b,
      |    CAST(count(*) AS BIGINT) AS n,
      |    sum(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
      |    sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
      |    sum(CAST(l_quantity AS DECIMAL(18,2)) *
      |        CAST(l_extendedprice AS DECIMAL(18,2))) AS sxy,
      |    sum(CAST(l_quantity AS DECIMAL(18,2)) *
      |        CAST(l_quantity AS DECIMAL(18,2))) AS sx2,
      |    sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |        CAST(l_extendedprice AS DECIMAL(18,2))) AS syy
      |  FROM lineitem GROUP BY 1
      |), cum AS (
      |  -- decimal→double via exact centi-unit BIGINTs: DuckDB's
      |  -- direct wide-DECIMAL→DOUBLE cast double-rounds; this path
      |  -- is exact/IEEE-identical in both engines
      |  SELECT b, CAST(sum(n) OVER w AS BIGINT) AS n,
      |    CAST(floor(sum(sx) OVER w * 100) AS BIGINT) / 100.0 AS sx,
      |    CAST(floor(sum(sy) OVER w * 100) AS BIGINT) / 100.0 AS sy,
      |    CAST(floor(sum(sxy) OVER w * 100) AS BIGINT) / 100.0 AS sxy,
      |    CAST(floor(sum(sx2) OVER w * 100) AS BIGINT) / 100.0 AS sx2,
      |    CAST(floor(sum(syy) OVER w * 100) AS BIGINT) / 100.0 AS syy
      |  FROM bs
      |  WINDOW w AS (ORDER BY b
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |), test AS (
      |  SELECT CAST(n AS BIGINT) AS tn,
      |    CAST(floor(sx * 100) AS BIGINT) / 100.0 AS tsx,
      |    CAST(floor(sy * 100) AS BIGINT) / 100.0 AS tsy,
      |    CAST(floor(sxy * 100) AS BIGINT) / 100.0 AS tsxy,
      |    CAST(floor(sx2 * 100) AS BIGINT) / 100.0 AS tsx2,
      |    CAST(floor(syy * 100) AS BIGINT) / 100.0 AS tsyy
      |  FROM bs WHERE b = 7
      |), fitted AS (
      |  SELECT c.*, t.*,
      |    (CAST(c.n AS DOUBLE) * c.sxy - c.sx * c.sy) /
      |    (CAST(c.n AS DOUBLE) * c.sx2 - c.sx * c.sx) AS slope
      |  FROM cum c CROSS JOIN test t WHERE c.b <= 6
      |), fitted2 AS (
      |  SELECT *, (sy - slope * sx) / CAST(n AS DOUBLE) AS icept
      |  FROM fitted
      |)
      |SELECT CAST(b + 1 AS BIGINT) AS frac_j, n AS n_train,
      |  slope, icept,
      |  (syy - 2.0 * icept * sy - 2.0 * slope * sxy
      |    + CAST(n AS DOUBLE) * icept * icept
      |    + 2.0 * icept * slope * sx + slope * slope * sx2)
      |    / CAST(n AS DOUBLE) AS train_mse,
      |  (tsyy - 2.0 * icept * tsy - 2.0 * slope * tsxy
      |    + CAST(tn AS DOUBLE) * icept * icept
      |    + 2.0 * icept * slope * tsx + slope * slope * tsx2)
      |    / CAST(tn AS DOUBLE) AS test_mse
      |FROM fitted2
      |ORDER BY frac_j""".stripMargin

  /** Iterative ML is not SQL-expressible — no oracles for the fits
    * (driver records rows-only checks). The two closed-form scoring
    * queries (assignment + logistic inference) ARE oracle-checked. */
  val oracles: Map[String, String] = Map(
    "ml18_learning_curve" -> ml18OracleSql,

    // ml18's curve nested as a CTE, then ta21's quantized-log OLS
    // (xq/yq = floor(ln·1e6 + .5) BIGINTs) over the 7 curve points
    "ml20_scaling_law" ->
      // concatenated, NOT interpolated into the margin block: the
      // nested SQL contains lines starting with `||`, which a second
      // stripMargin would mangle
      ("WITH curve AS (\n" + ml18OracleSql + "\n" +
      """), pts AS (
         |  SELECT frac_j, n_train, test_mse,
         |    CAST(floor(ln(CAST(n_train AS DOUBLE)) * 1e6 + 0.5)
         |      AS BIGINT) AS xq,
         |    CAST(floor(ln(test_mse) * 1e6 + 0.5) AS BIGINT) AS yq
         |  FROM curve
         |), sums AS (
         |  SELECT CAST(count(*) AS BIGINT) AS nn,
         |    CAST(sum(xq) AS BIGINT) AS sx, CAST(sum(yq) AS BIGINT) AS sy,
         |    CAST(sum(xq * yq) AS BIGINT) AS sxy,
         |    CAST(sum(xq * xq) AS BIGINT) AS sxx
         |  FROM pts
         |), fit AS (
         |  SELECT
         |    (CAST(nn AS DOUBLE) * CAST(sxy AS DOUBLE)
         |       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
         |    (CAST(nn AS DOUBLE) * CAST(sxx AS DOUBLE)
         |       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS s_raw,
         |    CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
         |    CAST(nn AS DOUBLE) AS nnd
         |  FROM sums
         |)
         |SELECT p.frac_j, p.n_train, round(p.test_mse, 6) AS test_mse_6,
         |  round(-f.s_raw, 6) AS alpha,
         |  round((f.syd - f.s_raw * f.sxd) / f.nnd / 1e6, 6) AS ln_c
         |FROM pts p CROSS JOIN fit f
         |ORDER BY p.frac_j""".stripMargin),
    // ml18's bucket sums, leave-one-out by exact decimal subtraction,
    // same centi-unit decimal→double path, influence vs the full fit
    "ml19_bucket_influence" ->
      """WITH bs AS (
        |  SELECT ('0x' || substr(md5('lc:' || CAST(l_orderkey AS VARCHAR)
        |      || ':' || CAST(l_linenumber AS VARCHAR)), 1, 15))::BIGINT
        |      % 8 AS b,
        |    CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
        |    sum(CAST(l_quantity AS DECIMAL(18,2)) *
        |        CAST(l_extendedprice AS DECIMAL(18,2))) AS sxy,
        |    sum(CAST(l_quantity AS DECIMAL(18,2)) *
        |        CAST(l_quantity AS DECIMAL(18,2))) AS sx2,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |        CAST(l_extendedprice AS DECIMAL(18,2))) AS syy
        |  FROM lineitem GROUP BY 1
        |), test AS (
        |  SELECT CAST(n AS BIGINT) AS tn,
        |    CAST(floor(sx * 100) AS BIGINT) / 100.0 AS tsx,
        |    CAST(floor(sy * 100) AS BIGINT) / 100.0 AS tsy,
        |    CAST(floor(sxy * 100) AS BIGINT) / 100.0 AS tsxy,
        |    CAST(floor(sx2 * 100) AS BIGINT) / 100.0 AS tsx2,
        |    CAST(floor(syy * 100) AS BIGINT) / 100.0 AS tsyy
        |  FROM bs WHERE b = 7
        |), tot AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS n_t, sum(sx) AS sx_t,
        |    sum(sy) AS sy_t, sum(sxy) AS sxy_t, sum(sx2) AS sx2_t,
        |    sum(syy) AS syy_t
        |  FROM bs WHERE b <= 6
        |), cand AS (
        |  SELECT -1::BIGINT AS left_out, n_t AS n, sx_t AS sx, sy_t AS sy,
        |    sxy_t AS sxy, sx2_t AS sx2, syy_t AS syy FROM tot
        |  UNION ALL
        |  SELECT b AS left_out, t.n_t - bs.n, t.sx_t - bs.sx,
        |    t.sy_t - bs.sy, t.sxy_t - bs.sxy, t.sx2_t - bs.sx2,
        |    t.syy_t - bs.syy
        |  FROM bs CROSS JOIN tot t WHERE b <= 6
        |), cd AS (
        |  SELECT left_out, CAST(n AS BIGINT) AS n,
        |    CAST(floor(sx * 100) AS BIGINT) / 100.0 AS sx,
        |    CAST(floor(sy * 100) AS BIGINT) / 100.0 AS sy,
        |    CAST(floor(sxy * 100) AS BIGINT) / 100.0 AS sxy,
        |    CAST(floor(sx2 * 100) AS BIGINT) / 100.0 AS sx2,
        |    CAST(floor(syy * 100) AS BIGINT) / 100.0 AS syy
        |  FROM cand
        |), fitted AS (
        |  SELECT c.*, t.*,
        |    (CAST(c.n AS DOUBLE) * c.sxy - c.sx * c.sy) /
        |    (CAST(c.n AS DOUBLE) * c.sx2 - c.sx * c.sx) AS slope
        |  FROM cd c CROSS JOIN test t
        |), fitted2 AS (
        |  SELECT *, (sy - slope * sx) / CAST(n AS DOUBLE) AS icept
        |  FROM fitted
        |), scored AS (
        |  SELECT left_out, n, slope, icept,
        |    (tsyy - 2.0 * icept * tsy - 2.0 * slope * tsxy
        |      + CAST(tn AS DOUBLE) * icept * icept
        |      + 2.0 * icept * slope * tsx + slope * slope * tsx2)
        |      / CAST(tn AS DOUBLE) AS test_mse
        |  FROM fitted2
        |)
        |SELECT s.left_out, s.n AS n_train, s.slope, s.icept, s.test_mse,
        |  s.test_mse - f.test_mse AS influence
        |FROM scored s CROSS JOIN (
        |  SELECT test_mse FROM scored WHERE left_out = -1) f
        |WHERE s.left_out >= 0
        |ORDER BY s.left_out""".stripMargin,


    "ml11_kmeans_assign" ->
      s"""WITH centers AS (
         |  SELECT vec_id AS cid, embedding AS center FROM embeddings
         |  WHERE vec_id < 5
         |), d AS (
         |  SELECT e.vec_id, c.cid,
         |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(generate_series(1, len(e.embedding)),
         |        i -> (CAST(e.embedding[i] AS DOUBLE) -
         |              CAST(c.center[i] AS DOUBLE)) *
         |             (CAST(e.embedding[i] AS DOUBLE) -
         |              CAST(c.center[i] AS DOUBLE)))),
         |      (a, x) -> a + x) AS d2
         |  FROM embeddings e CROSS JOIN centers c
         |)
         |SELECT vec_id, cid AS cluster, round(d2, 6) AS dist2_6 FROM (
         |  SELECT vec_id, cid, d2,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid)
         |      AS rn
         |  FROM d)
         |WHERE rn = 1 ORDER BY vec_id""".stripMargin,

    "ml14_kmeans_recenter" ->
      """WITH centers AS (
        |  SELECT vec_id AS cid, embedding AS center FROM embeddings
        |  WHERE vec_id < 5
        |), dist AS (
        |  SELECT e.vec_id, c.cid,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(generate_series(1, len(e.embedding)),
        |        i -> (CAST(e.embedding[i] AS DOUBLE) -
        |              CAST(c.center[i] AS DOUBLE)) *
        |             (CAST(e.embedding[i] AS DOUBLE) -
        |              CAST(c.center[i] AS DOUBLE)))),
        |      (a, x) -> a + x) AS d2
        |  FROM embeddings e CROSS JOIN centers c
        |), asg AS (
        |  SELECT vec_id, cid AS cluster FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid)
        |        AS rn
        |    FROM dist)
        |  WHERE rn = 1
        |), idx AS (
        |  SELECT a.cluster, e.embedding,
        |    unnest(generate_series(1, len(e.embedding))) AS i
        |  FROM embeddings e JOIN asg a ON a.vec_id = e.vec_id
        |)
        |SELECT cluster, i - 1 AS dim,
        |  round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS mean_v,
        |  CAST(count(*) AS BIGINT) AS n_members
        |FROM idx GROUP BY 1, 2
        |ORDER BY cluster, dim""".stripMargin,

    // ml12's scoring CTE, the 9-threshold expand, one grouped
    // aggregate, argmax by rounded F1 (threshold tie-break)
    "ml21_threshold_sweep" ->
      s"""WITH w AS (
         |  SELECT embedding AS w FROM embeddings WHERE vec_id = 0
         |), m AS (
         |  SELECT e.vec_id,
         |    round(1.0 / (1.0 + exp(-(
         |      ${graft.functions.Funcs.dotProductSql("w.w", "e.embedding")}
         |    ))), 6) AS score_6,
         |    e.label % 2 = 1 AS actual
         |  FROM embeddings e CROSS JOIN w
         |), byth AS (
         |  SELECT CAST(t.i AS DOUBLE) / 10.0 AS threshold,
         |    CAST(count(CASE WHEN score_6 >= CAST(t.i AS DOUBLE) / 10.0
         |      AND actual THEN 1 END) AS BIGINT) AS tp,
         |    CAST(count(CASE WHEN score_6 >= CAST(t.i AS DOUBLE) / 10.0
         |      AND NOT actual THEN 1 END) AS BIGINT) AS fp,
         |    CAST(count(CASE WHEN score_6 < CAST(t.i AS DOUBLE) / 10.0
         |      AND actual THEN 1 END) AS BIGINT) AS fn,
         |    CAST(count(CASE WHEN score_6 < CAST(t.i AS DOUBLE) / 10.0
         |      AND NOT actual THEN 1 END) AS BIGINT) AS tn
         |  FROM m CROSS JOIN (SELECT unnest(generate_series(1, 9)) AS i) t
         |  GROUP BY t.i
         |), metrics AS (
         |  SELECT threshold, tp, fp, fn, tn,
         |    CASE WHEN tp + fp = 0 THEN NULL
         |         ELSE round(CAST(tp AS DOUBLE) / (tp + fp), 6)
         |    END AS prec_6,
         |    CASE WHEN tp + fn = 0 THEN NULL
         |         ELSE round(CAST(tp AS DOUBLE) / (tp + fn), 6)
         |    END AS rec_6,
         |    CASE WHEN 2 * tp + fp + fn = 0 THEN NULL
         |         ELSE round((2.0 * tp) / (2 * tp + fp + fn), 6)
         |    END AS f1_6
         |  FROM byth
         |)
         |SELECT threshold, tp, fp, fn, tn, prec_6, rec_6, f1_6,
         |  row_number() OVER (
         |    ORDER BY f1_6 DESC NULLS LAST, threshold ASC) = 1 AS is_best
         |FROM metrics
         |ORDER BY threshold""".stripMargin,

    "ml13_eval_metrics" ->
      s"""WITH w AS (
         |  SELECT embedding AS w FROM embeddings WHERE vec_id = 0
         |), m AS (
         |  SELECT e.vec_id,
         |    ${graft.functions.Funcs.dotProductSql("w.w", "e.embedding")}
         |      AS margin,
         |    e.label
         |  FROM embeddings e CROSS JOIN w
         |), c AS (
         |  SELECT
         |    CAST(count(CASE WHEN margin > 0 AND label % 2 = 1
         |      THEN 1 END) AS BIGINT) AS tp,
         |    CAST(count(CASE WHEN margin > 0 AND label % 2 = 0
         |      THEN 1 END) AS BIGINT) AS fp,
         |    CAST(count(CASE WHEN margin <= 0 AND label % 2 = 1
         |      THEN 1 END) AS BIGINT) AS fn,
         |    CAST(count(CASE WHEN margin <= 0 AND label % 2 = 0
         |      THEN 1 END) AS BIGINT) AS tn
         |  FROM m)
         |SELECT tp, fp, fn, tn,
         |  CAST(tp + tn AS DOUBLE) / (tp + fp + fn + tn) AS acc,
         |  CASE WHEN tp + fp = 0 THEN NULL
         |       ELSE CAST(tp AS DOUBLE) / (tp + fp) END AS prec,
         |  CASE WHEN tp + fn = 0 THEN NULL
         |       ELSE CAST(tp AS DOUBLE) / (tp + fn) END AS rec,
         |  CASE WHEN 2 * tp + fp + fn = 0 THEN NULL
         |       ELSE CAST(2 * tp AS DOUBLE) / (2 * tp + fp + fn) END AS f1
         |FROM c""".stripMargin,

    "ml15_rank_auc" ->
      s"""WITH w AS (
         |  SELECT embedding AS w FROM embeddings WHERE vec_id = 0
         |), m AS (
         |  SELECT e.vec_id,
         |    round(1.0 / (1.0 + exp(-(
         |      ${graft.functions.Funcs.dotProductSql("w.w", "e.embedding")}
         |    ))), 6) AS score_6,
         |    e.label % 2 = 1 AS is_pos
         |  FROM embeddings e CROSS JOIN w
         |), g AS (
         |  SELECT score_6,
         |    CAST(count(CASE WHEN is_pos THEN 1 END) AS BIGINT) AS n_pos,
         |    CAST(count(CASE WHEN NOT is_pos THEN 1 END) AS BIGINT) AS n_neg
         |  FROM m GROUP BY score_6
         |), c AS (
         |  SELECT n_pos, n_neg,
         |    COALESCE(CAST(sum(n_neg) OVER (ORDER BY score_6
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |      AS BIGINT), 0) AS cum_neg_below
         |  FROM g
         |), t AS (
         |  SELECT CAST(sum(n_pos) AS BIGINT) AS np,
         |    CAST(sum(n_neg) AS BIGINT) AS nn,
         |    sum(n_pos * (cum_neg_below + 0.5 * n_neg)) AS u
         |  FROM c)
         |SELECT np, nn,
         |  CASE WHEN np = 0 OR nn = 0 THEN NULL
         |       ELSE round(u / (CAST(np AS DOUBLE) * CAST(nn AS DOUBLE)), 6)
         |  END AS auc
         |FROM t""".stripMargin,

    // ml22: ml15's CTE chain with the salted-hash fold column
    // partitioning every stage
    "ml22_kfold_eval" ->
      s"""WITH w AS (
         |  SELECT embedding AS w FROM embeddings WHERE vec_id = 0
         |), m AS (
         |  SELECT e.vec_id,
         |    round(1.0 / (1.0 + exp(-(
         |      ${graft.functions.Funcs.dotProductSql("w.w", "e.embedding")}
         |    ))), 6) AS score_6,
         |    e.label % 2 = 1 AS is_pos,
         |    ('0x' || substr(md5(CAST(e.vec_id AS VARCHAR) || '#fold'),
         |      1, 7))::BIGINT % 5 AS fold
         |  FROM embeddings e CROSS JOIN w
         |), g AS (
         |  SELECT fold, score_6,
         |    CAST(count(CASE WHEN is_pos THEN 1 END) AS BIGINT) AS n_pos,
         |    CAST(count(CASE WHEN NOT is_pos THEN 1 END) AS BIGINT) AS n_neg
         |  FROM m GROUP BY fold, score_6
         |), c AS (
         |  SELECT fold, n_pos, n_neg,
         |    COALESCE(CAST(sum(n_neg) OVER (PARTITION BY fold
         |      ORDER BY score_6
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |      AS BIGINT), 0) AS cum_neg_below
         |  FROM g
         |), t AS (
         |  SELECT fold, CAST(sum(n_pos) AS BIGINT) AS np,
         |    CAST(sum(n_neg) AS BIGINT) AS nn,
         |    sum(n_pos * (cum_neg_below + 0.5 * n_neg)) AS u
         |  FROM c GROUP BY fold)
         |SELECT fold, np, nn,
         |  CASE WHEN np = 0 OR nn = 0 THEN NULL
         |       ELSE round(u / (CAST(np AS DOUBLE) * CAST(nn AS DOUBLE)), 6)
         |  END AS auc
         |FROM t ORDER BY fold""".stripMargin,

    "ml12_logistic_score" ->
      s"""WITH w AS (
         |  SELECT embedding AS w FROM embeddings WHERE vec_id = 0
         |), m AS (
         |  SELECT e.vec_id,
         |    ${graft.functions.Funcs.dotProductSql("w.w", "e.embedding")}
         |      AS margin
         |  FROM embeddings e CROSS JOIN w
         |)
         |SELECT vec_id, round(margin, 6) AS margin_6,
         |  round(1.0 / (1.0 + exp(-margin)), 6) AS score_6,
         |  margin > 0.0 AS predicted
         |FROM m ORDER BY vec_id""".stripMargin,

    "ml17_calibration" ->
      s"""WITH w AS (
         |  SELECT embedding AS w FROM embeddings WHERE vec_id = 0
         |), m AS (
         |  SELECT e.vec_id,
         |    round(1.0 / (1.0 + exp(-(
         |      ${graft.functions.Funcs.dotProductSql("w.w", "e.embedding")}
         |    ))), 6) AS score_6,
         |    e.label % 2 = 1 AS is_pos
         |  FROM embeddings e CROSS JOIN w
         |)
         |SELECT CAST(least(floor(score_6 * 10), 9) AS BIGINT) AS bin,
         |  CAST(count(*) AS BIGINT) AS n,
         |  CAST(count(CASE WHEN is_pos THEN 1 END) AS BIGINT) AS n_pos,
         |  CAST(sum(CAST(score_6 AS DECIMAL(18,6))) AS DOUBLE) / count(*)
         |    AS mean_score,
         |  CAST(count(CASE WHEN is_pos THEN 1 END) AS DOUBLE) / count(*)
         |    AS pos_rate
         |FROM m GROUP BY 1 ORDER BY bin""".stripMargin,

    "ml16_pr_curve" ->
      s"""WITH w AS (
         |  SELECT embedding AS w FROM embeddings WHERE vec_id = 0
         |), m AS (
         |  SELECT e.vec_id,
         |    round(1.0 / (1.0 + exp(-(
         |      ${graft.functions.Funcs.dotProductSql("w.w", "e.embedding")}
         |    ))), 6) AS score_6,
         |    e.label % 2 = 1 AS is_pos
         |  FROM embeddings e CROSS JOIN w
         |), g AS (
         |  SELECT score_6,
         |    CAST(count(CASE WHEN is_pos THEN 1 END) AS BIGINT) AS n_pos,
         |    CAST(count(CASE WHEN NOT is_pos THEN 1 END) AS BIGINT) AS n_neg
         |  FROM m GROUP BY score_6
         |), c AS (
         |  SELECT k.k AS thr_10,
         |    CAST(sum(CASE WHEN score_6 >= CAST(k.k AS DOUBLE) / 10.0
         |      THEN n_pos ELSE 0 END) AS BIGINT) AS tp,
         |    CAST(sum(CASE WHEN score_6 >= CAST(k.k AS DOUBLE) / 10.0
         |      THEN n_neg ELSE 0 END) AS BIGINT) AS fp,
         |    CAST(sum(CASE WHEN score_6 < CAST(k.k AS DOUBLE) / 10.0
         |      THEN n_pos ELSE 0 END) AS BIGINT) AS fn
         |  FROM g CROSS JOIN (
         |    SELECT unnest(generate_series(1, 9)) AS k) k
         |  GROUP BY 1)
         |SELECT thr_10, tp, fp, fn,
         |  CASE WHEN tp + fp = 0 THEN NULL
         |       ELSE CAST(tp AS DOUBLE) / (tp + fp) END AS prec,
         |  CASE WHEN tp + fn = 0 THEN NULL
         |       ELSE CAST(tp AS DOUBLE) / (tp + fn) END AS rec,
         |  CASE WHEN 2 * tp + fp + fn = 0 THEN NULL
         |       ELSE CAST(2 * tp AS DOUBLE) / (2 * tp + fp + fn) END AS f1
         |FROM c ORDER BY thr_10""".stripMargin
  )
}
