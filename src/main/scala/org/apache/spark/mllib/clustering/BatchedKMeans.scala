package org.apache.spark.mllib.clustering

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.mllib.linalg.{BLAS, Vector, Vectors}
import org.apache.spark.rdd.RDD
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.Utils
import org.apache.spark.util.random.{BernoulliSampler, SamplingUtils, XORShiftRandom}

/** Many seeded k-means fits over one dataset in the passes of one fit.
  *
  * Each run (k, seed) is the fit that spark.ml's `KMeans` row solver
  * makes with that k and seed, tol 1e-6 and its defaults otherwise:
  * euclidean distance, k-means|| with 2 init steps, at most 20 Lloyd
  * iterations, every instance weighted 1.0. The arithmetic is MLlib's own
  * (`DistanceMeasure`, `LocalKMeans.kMeansPlusPlus`, `BernoulliSampler`,
  * the same random streams); only the passes are shared:
  *
  *   - one `count` and one sample pass draw every run's first center
  *     (`takeSample(false, 1, XORShiftRandom(seed).nextInt())`);
  *   - each k-means|| step is one persisted cost pass with its sum and
  *     one candidate pass for every run;
  *   - one pass weights the candidates of every run that has more than
  *     k of them;
  *   - each Lloyd iteration is one pass returning every partition's
  *     (sums, weights, cost) for every run still iterating; a converged
  *     run leaves the later passes.
  *
  * Per-partition results merge on the driver in partition order, which
  * is the order Spark's local shuffle merges the row solver's
  * `reduceByKey` values in, so centers come out bit-identical. The
  * costs that Spark sums through an accumulator or `fold`, in task
  * completion order, may differ in the last bits.
  */
private[spark] object BatchedKMeans {

  private val MaxIterations = 20
  private val InitSteps = 2
  /** The Lloyd convergence tolerance: the reference's (`KmeansVirus.scala:183-186`). */
  val Tol = 1e-6

  private val measure = DistanceMeasure.decodeFromString(DistanceMeasure.EUCLIDEAN)

  /** One model per run, in the order of `runs`. The points (weight
    * 1.0, with their norms) are persisted for the fit's passes; its
    * first job, the count, fills that cache. */
  def run(points: RDD[Vector], runs: Seq[(Int, Long)]): Seq[KMeansModel] = {
    require(runs.nonEmpty, "BatchedKMeans needs at least one run")
    runs.foreach { case (k, _) => require(k > 1, s"k must be > 1, got $k") }
    val ks = runs.map(_._1).toArray
    // KMeans.initKMeansParallel's seed: takeSample's and every step's
    val seeds = runs.map { case (_, s) => new XORShiftRandom(s).nextInt() }.toArray
    val data = points.map(v => new VectorWithNorm(v, Vectors.norm(v, 2.0), 1.0))
      .setName("training instances").persist(StorageLevel.MEMORY_AND_DISK)
    try {
      lloyd(data, initParallel(data, ks, seeds, firstCenters(data, seeds)))
    } finally data.unpersist(false)
  }

  /** Every seed's `data.takeSample(false, 1, seed)`, toDense:
    * `takeSample`'s count and fraction, one pass running each seed's
    * per-partition `BernoulliSampler` with `PartitionwiseSampledRDD`'s
    * seeds, then `takeSample`'s shuffle. A seed whose sample comes back
    * empty is redrawn alone, as `takeSample` redraws. */
  private def firstCenters(data: RDD[VectorWithNorm],
      seeds: Array[Int]): Array[VectorWithNorm] = {
    val count = data.count()
    require(count > 0, s"No samples available from $data")
    val rands = seeds.map(s => new java.util.Random(s))
    // 1.0 for a single point, which takeSample collects instead: the
    // same one-point sample
    val fraction = SamplingUtils.computeFractionForSampleSize(1, count, false)
    val parts = data.getNumPartitions
    val partitionSeeds = rands.map { r =>
      val p = new java.util.Random(r.nextInt())
      Array.fill(parts)(p.nextLong())
    }
    val drawn = data.mapPartitionsWithIndex { (i, points) =>
      val all = points.toArray
      Iterator.single(partitionSeeds.map { ps =>
        val sampler = new BernoulliSampler[VectorWithNorm](fraction)
        sampler.setSeed(ps(i))
        sampler.sample(all.iterator).toArray
      })
    }.collect()
    rands.indices.map { r =>
      var sample = drawn.flatMap(_(r))
      while (sample.isEmpty) {
        sample = data.sample(false, fraction, rands(r).nextInt()).collect()
      }
      Utils.randomizeInPlace(sample, rands(r)).head.toDense
    }.toArray
  }

  /** `KMeans.initKMeansParallel` for every run at once: each step's
    * costs are one persisted array per point (one cost per run), and
    * every run draws its candidates from its own
    * `XORShiftRandom(seed ^ (step << 16) ^ partition)`. */
  private def initParallel(data: RDD[VectorWithNorm], ks: Array[Int],
      seeds: Array[Int], first: Array[VectorWithNorm]): Array[Array[VectorWithNorm]] = {
    val sc = data.sparkContext
    val nRuns = ks.length
    val centers = first.map(c => ArrayBuffer(c))
    var newCenters = first.map(Array(_))
    var costs = data.map(_ => Array.fill(nRuns)(Double.PositiveInfinity))
    // the persisted costs' lineage holds every step's broadcast, so
    // they are only destroyed once the last step is done
    val bcSteps = ArrayBuffer[Broadcast[_]]()
    for (step <- 0 until InitSteps) {
      val bcNew = sc.broadcast(newCenters)
      bcSteps += bcNew
      val preCosts = costs
      costs = data.zip(preCosts).map { case (p, c) =>
        val nc = bcNew.value
        Array.tabulate(nRuns)(r => math.min(measure.pointCost(nc(r), p), c(r)))
      }.persist(StorageLevel.MEMORY_AND_DISK)
      // DoubleRDDFunctions.sum: a fold from 0.0 in each partition, then
      // over the partitions
      val sumCosts = costs.mapPartitions { it =>
        val s = new Array[Double](nRuns)
        it.foreach(c => for (r <- 0 until nRuns) s(r) += c(r))
        Iterator.single(s)
      }.collect().foldLeft(new Array[Double](nRuns)) { (acc, s) =>
        for (r <- 0 until nRuns) acc(r) += s(r)
        acc
      }
      bcNew.unpersist()
      preCosts.unpersist()
      val chosen = data.zip(costs).mapPartitionsWithIndex { (index, pointCosts) =>
        val rands = seeds.map(s => new XORShiftRandom(s ^ (step << 16) ^ index))
        val picked = Array.fill(nRuns)(ArrayBuffer[VectorWithNorm]())
        pointCosts.foreach { case (p, c) =>
          for (r <- 0 until nRuns)
            if (rands(r).nextDouble() < 2.0 * c(r) * ks(r) / sumCosts(r)) picked(r) += p
        }
        Iterator.single(picked.map(_.toArray))
      }.collect()
      newCenters = Array.tabulate(nRuns)(r => chosen.flatMap(_(r)).map(_.toDense))
      for (r <- 0 until nRuns) centers(r) ++= newCenters(r)
    }
    costs.unpersist()
    bcSteps.foreach(_.destroy())

    val distinct = centers.map(_.map(_.vector).distinct.map(new VectorWithNorm(_)).toArray)
    val crowded = (0 until nRuns).filter(r => distinct(r).length > ks(r)).toArray
    if (crowded.nonEmpty) {
      // weight each candidate by the points closest to it, then pick k
      // of them by local k-means++
      val bcCandidates = sc.broadcast(crowded.map(distinct))
      val counts = data.mapPartitions { points =>
        val cs = bcCandidates.value
        val n = cs.map(c => new Array[Long](c.length))
        points.foreach { p =>
          for (j <- cs.indices) n(j)(measure.findClosest(cs(j), p)._1) += 1
        }
        Iterator.single(n)
      }.reduce { (a, b) =>
        for (j <- a.indices; i <- a(j).indices) a(j)(i) += b(j)(i)
        a
      }
      bcCandidates.destroy()
      crowded.zip(counts).foreach { case (r, n) =>
        distinct(r) = LocalKMeans.kMeansPlusPlus(0, distinct(r), n.map(_.toDouble), ks(r), 30)
      }
    }
    distinct
  }

  /** The row solver's Lloyd iterations for every run at once. */
  private def lloyd(data: RDD[VectorWithNorm],
      centers: Array[Array[VectorWithNorm]]): Seq[KMeansModel] = {
    val sc = data.sparkContext
    val withStats = centers.map(c => DistanceMeasure.shouldComputeStatistics(c.length))
    val costs = new Array[Double](centers.length)
    val iterations = new Array[Int](centers.length)
    var active = centers.indices.toArray
    var iteration = 0
    while (active.nonEmpty && iteration < MaxIterations) {
      // computed locally: the statistics Spark distributes for large
      // k·k·dims are the same numbers
      val stats = active.map(r =>
        if (withStats(r)) Some(measure.computeStatistics(centers(r))) else None)
      val bc = sc.broadcast((active.map(centers), stats))
      val parts = data.mapPartitions { points =>
        val (cs, st) = bc.value
        val sums = cs.map(c => Array.fill[Vector](c.length)(Vectors.zeros(c.head.vector.size)))
        val weights = cs.map(c => new Array[Double](c.length))
        val cost = new Array[Double](cs.length)
        points.foreach { p =>
          var j = 0
          while (j < cs.length) {
            val (best, d) = measure.findClosest(cs(j), st(j), p)
            cost(j) += d * p.weight
            measure.updateClusterSum(p, sums(j)(best))
            weights(j)(best) += p.weight
            j += 1
          }
        }
        Iterator.single((sums, weights, cost))
      }.collect()
      bc.destroy()
      active = active.zipWithIndex.filterNot { case (r, j) =>
        var converged = true
        for (i <- centers(r).indices) {
          var sum: Vector = null
          var weight = 0.0
          for ((s, w, _) <- parts if w(j)(i) > 0) {
            if (sum == null) sum = s(j)(i) else BLAS.axpy(1.0, s(j)(i), sum)
            weight += w(j)(i)
          }
          if (sum != null) {
            val c = measure.centroid(sum, weight)
            if (converged && !measure.isCenterConverged(centers(r)(i), c, Tol)) {
              converged = false
            }
            centers(r)(i) = c
          }
        }
        costs(r) = parts.foldLeft(0.0)(_ + _._3(j))
        iterations(r) = iteration + 1
        converged
      }.map(_._1)
      iteration += 1
    }
    centers.indices.map(r => new KMeansModel(centers(r).map(_.vector),
      DistanceMeasure.EUCLIDEAN, costs(r), iterations(r)))
  }
}
