package org.apache.spark.ml.clustering

import org.apache.spark.ml.linalg.Vector
import org.apache.spark.ml.util.DatasetUtils.{checkNonNanVectors, columnToVector}
import org.apache.spark.mllib.clustering.BatchedKMeans
import org.apache.spark.mllib.linalg.{Vectors => OldVectors}
import org.apache.spark.sql.{Dataset, Row}

/** spark.ml k-means for many (k, seed) runs over one dataset, fitted
  * together by [[BatchedKMeans]]. */
object KMeansRuns {

  /** The model `new KMeans().setSolver("row").setK(k).setSeed(seed)
    * .setTol(1e-6).setFeaturesCol(featuresCol).fit(dataset)` returns, for
    * every (k, seed) in `runs`, in that order. The instances pass
    * spark.ml's own input checks (`checkNonNanVectors`); each model
    * carries its estimator's params and a summary that computes nothing
    * until it is read. */
  def fit(dataset: Dataset[_], featuresCol: String,
      runs: Seq[(Int, Long)]): Seq[KMeansModel] = {
    val points = dataset
      .select(checkNonNanVectors(columnToVector(dataset, featuresCol)))
      .rdd.map { case Row(point: Vector) => OldVectors.fromML(point) }
    BatchedKMeans.run(points, runs).zip(runs).map { case (old, (k, seed)) =>
      val est = new KMeans().setK(k).setSeed(seed).setTol(BatchedKMeans.Tol)
        .setFeaturesCol(featuresCol)
      val model = new KMeansModel(est.uid, old).setParent(est)
        .copy(est.extractParamMap())
      model.createSummary(model.transform(dataset), old.numIter, old.trainingCost)
      model
    }
  }
}
