package graft.apps

import graft.export.Hierarchy
import graft.io.{ApiLogReader, Codecs}
import graft.ml.MlPipeline
import graft.operators.FeatureSelection
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's three programs chained as ONE DataFrame pipeline
  * with optional file checkpoints (SURVEY §3.4): feature selection →
  * vectorization → k-means clustering → hierarchy export →
  * classification reports. A user of
  * `FeatureSelectionCloud`/`Clustering`/`driver` runs this instead.
  *
  * Key rewrites vs the reference (SURVEY §4.2):
  *   - no per-sample jobs: one corpus scan, one broadcast semi-join;
  *   - cluster assignments join on `sample_id`, never positional `zip`
  *     (J3, `KmeansVirus.scala:123-125`);
  *   - no toString/regex reparse of sparse vectors (P7): the 1-based
  *     `feature_index` column flows end-to-end and is shifted exactly
  *     once at the ML boundary (SURVEY §7.4.4);
  *   - after the k-means fit, ONE collect of the per-sample
  *     assignments (plus the ≤ topN feature tokens) feeds every
  *     stage-2/3 output: the assignments and report frames are local,
  *     and the JSON, `output.txt` lines and report strings are
  *     rendered on the driver (P9/K3/K5/K6). These outputs are k×2
  *     counts plus one row per sample that their writers collect
  *     anyway; distributed, each pass paid their jobs and compiled
  *     their generated classes again.
  */
object VirusPipeline {

  /** `assignments` and `clusterReport` are local frames, `json` is the
    * rendered `data.json`; `top` and `vectors` are cached. */
  final case class Artifacts(top: DataFrame, vectors: DataFrame,
      assignments: DataFrame, clusterReport: DataFrame, json: String)

  private val assignmentSchema = StructType(Seq(
    StructField("cluster", IntegerType),
    StructField("label", DoubleType),
    StructField("sample_id", StringType),
    StructField("apis", ArrayType(StructType(Seq(
      StructField("name", StringType),
      StructField("size", IntegerType)))))))

  private val reportSchema = StructType(Seq(
    StructField("line", StringType),
    StructField("cluster", IntegerType),
    StructField("label_name", StringType)))

  private def local(spark: SparkSession, rows: Seq[Row],
                    schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** Sparse binary vector assembly (§2.9): 1-based ranks → 0-based
    * MLlib indices, presence-only values. */
  private val toSparse =
    udf((n: Int, idxs: Seq[Int]) =>
      Vectors.sparse(n, idxs.sorted.map(_ - 1).toArray,
        Array.fill(idxs.size)(1.0)))

  /** Long-form vectors → (sample_id, label, indices, features) with an
    * ML SparseVector column. */
  def assemble(vec: DataFrame, nFeatures: Int): DataFrame =
    vec.groupBy("sample_id", "label")
      .agg(sort_array(collect_list(col("feature_index"))).as("indices"))
      .withColumn("features", toSparse(lit(nFeatures), col("indices")))

  /** @param onStage stage-attribution callback (round-6 verdict #1):
    *   called at each stage boundary with (name, seconds). The
    *   boundaries force the stage's cached frame, which the next
    *   stage would materialize anyway — same total work, attributable
    *   wall-clock. Bench feeds these into `pipeline_virus_s*` rows so
    *   a per-round series can name the stage that diverges instead of
    *   one opaque e2e number. */
  def run(spark: SparkSession, apiLogsDir: String, topN: Int = 2000,
          k: Int = 10, seed: Long = 42L, runs: Int = 10,
          onStage: (String, Double) => Unit = (_, _) => ()): Artifacts = {
    var mark = System.nanoTime()
    def stageDone(name: String): Unit = {
      val now = System.nanoTime(); onStage(name, (now - mark) / 1e9)
      mark = now
    }
    // stage 1 — feature selection (FeatureSelectionCloud). The
    // per-sample dedup runs ONCE, shared by ranking and vectorization
    // through the OfDistinct variants (vp04/vp05's proven sharing).
    // The raw corpus text is NOT cached (round-15 verdict: caching
    // corpus-sized raw text is the failure mode at 100 TB, the same
    // reasoning that dropped curation's raw-text checkpoints) — the
    // totals come from the scan's file listing, not from a scan; the
    // dedup'd calls frame below IS cached and is what every downstream
    // consumer reads.
    val raw = ApiLogReader.readRaw(spark, apiLogsDir)
    val totals = ApiLogReader.totalsOf(raw, "virus")
    val distinct = FeatureSelection.distinctCalls(
      ApiLogReader.callsOf(raw)).cache()
    val ranked = FeatureSelection.infoGainRankedOfDistinct(
      distinct, "virus", totals)
    val top = FeatureSelection.topFeatures(ranked, topN).cache()
    val vec = FeatureSelection.vectorizeOfDistinct(distinct, top, "virus")
      .cache()
    // the token of each 1-based rank; this collect fills top's cache
    val tokens = top.select("feature_index", "token").collect()
      .sortBy(_.getInt(0)).map(_.getString(1))
    val nFeatures = tokens.length
    vec.count() // boundary: stage-2 reads the populated cache
    // top/vec are materialized; nothing downstream re-reads the
    // dedup'd calls — release it before clustering
    distinct.unpersist(false)
    stageDone("s1_features")

    // stage 2 — clustering (KmeansVirus): sparse vectors per sample
    // cached for the fit, the assignments below and callers'
    // `assemble(a.vectors, n)`; the fit's first job (its instance
    // count) fills the cache
    val samples = assemble(vec, nFeatures).cache()
    // L1 setRuns parity: the reference trains with `setRuns(10)`
    // (`KmeansVirus.scala:183-186`) — the best of `runs` seeded fits by
    // min WSSSE, all fitted together in shared passes as Spark 1.x's
    // runs were
    val model = MlPipeline.bestOfKMeans(samples, k, runs,
      baseSeed = seed)
    // ONE collect of the assignments (J3 done right: the prediction
    // rides its own sample's row, never a positional zip); every
    // stage-2/3 output below is rendered from these rows.
    // P9: api leaf {name, size} with size = totalFeatures − 0-based
    // rank (`KmeansVirus.scala:106-111`), in rank order
    val rows = model.transform(samples)
      .select(col("prediction").cast("int"), col("label"), col("sample_id"),
        col("indices"))
      .collect().toSeq.map { r =>
        Row(r.getInt(0), r.getDouble(1), r.getString(2),
          r.getSeq[Int](3).map(i => Row(tokens(i - 1), nFeatures - (i - 1))))
      }
    // A4+O4+K6: "Cluster N contains C L files" report rows
    val report = rows
      .groupMapReduce(r => (r.getInt(0), Hierarchy.labelName(r.getDouble(1))))(
        _ => 1L)(_ + _)
      .toSeq.sortBy(_._1).map { case ((cluster, label), n) =>
        Row(s"Cluster $cluster contains $n $label files", cluster, label)
      }
    val json = Hierarchy.d3Json(rows)
    stageDone("s2_cluster")

    Artifacts(top, vec, local(spark, rows, assignmentSchema),
      local(spark, report, reportSchema), json)
  }

  /** A6/M3: global weighted-average label entropy of the clustering
    * (`SVMDT.scala:264-284`), natural log. */
  def entropyScore(assignments: DataFrame): Double =
    graft.functions.Funcs.weightedEntropy(
      assignments.groupBy("cluster", "label").count().collect()
        .map(r => (r.get(0), r.getLong(2))))

  /** Stage 3 — `driver` (SVMDT): the DT impurity×depth sweep scored on
    * the cv split and the LinearSVC reg sweep scored on the test split
    * (`MlPipeline.dtSweep`/`linearSweep` over `MlPipeline.seededSplit`,
    * U3), reported in the reference's console format
    * `"<param>, AUC = NN.NN%"` (`SVMDT.scala:160-163,195-197`). The
    * splits are cached at the input's partitioning. */
  def classificationReport(spark: SparkSession, samples: DataFrame,
                           seed: Long = 42L): DataFrame = {
    val splits = MlPipeline.seededSplit(samples, seed)
    splits.foreach(_.cache().count()) // materialize before concurrent fits
    val Array(train, cv, test) = splits
    val dt = MlPipeline.dtSweep(train, cv, seed).map { case (imp, depth, auc) =>
      (s"dt-$imp", depth.toDouble, auc,
        f"$imp depth $depth, AUC = ${auc * 100}%2.2f%%")
    }
    val svc = MlPipeline.linearSweep(train, test, Seq("svc")).map {
      case (_, r, auc) => ("svc", r, auc, f"svc reg $r, AUC = ${auc * 100}%2.2f%%")
    }
    splits.foreach(_.unpersist(false))
    import spark.implicits._
    (dt ++ svc).toDF("model", "param", "auc", "line")
  }

  /** The reference's EXACT SVM optimizer on the virus corpus —
    * `SVMWithSGD` with the `trainWithParams` settings
    * (`SVMDT.scala:204-214`: 10 iterations, step 1.0,
    * SquaredL2Updater, regParam sweep), for band parity with the
    * published CV-SVM table (readme.md:108-118): the over-regularized
    * reg=10 point collapses toward coin-flip there BECAUSE of this
    * optimizer — modern LinearSVC/OWLQN does not reproduce that
    * artifact (it converges to a usable margin even at reg=10), which
    * is exactly why both routes ship (SURVEY §2.8; ml04 vs ml10).
    * The grid runs as ONE batched sweep (`MlPipeline.sgdSweep`): one
    * data pass per SGD iteration for all points and one scoring pass
    * for all AUCs, at most 10 + 10 jobs whatever the grid size
    * (MlSweepSpec pins the equivalence with `SVMWithSGD.run` and
    * `BinaryClassificationMetrics`, and the job count).
    * VirusPipelineSpec asserts the published bands on this report. */
  def sgdReport(spark: SparkSession, samples: DataFrame,
                seed: Long = 42L): DataFrame = {
    val rows = MlPipeline.sgdSplitSweep(samples, seed)
      .map(p => (p.regParam, p.auc))
    import spark.implicits._
    rows.sortBy(_._1).toDF("reg_param", "auc") // driver-side: no sort job
  }

  /** Writes the reference's four file artifacts. */
  def writeArtifacts(a: Artifacts, outDir: String): Unit = {
    new java.io.File(outDir).mkdirs()
    Codecs.writeTopFeatures(a.top, s"$outDir/topFeatures.txt")
    Codecs.writeLibSvm(FeatureSelection.libsvmRows(a.vectors),
      s"$outDir/LIBSVMOutput.txt")
    Codecs.writeOutputTxt(a.assignments, s"$outDir/output.txt")
    Codecs.writeJson(a.json, s"$outDir/data.json")
  }

  /** CLI: runMain graft.apps.VirusPipeline <apiLogsDir> <outDir> [k] */
  def main(args: Array[String]): Unit = {
    val Array(inDir, outDir) = args.take(2)
    val k = if (args.length > 2) args(2).toInt else 10
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
      .appName("graft-virus-pipeline")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val a = run(spark, inDir, k = k)
    writeArtifacts(a, outDir)
    a.clusterReport.select("line").collect().foreach(r => println(r.getString(0)))
    println(f"weighted label entropy = ${entropyScore(a.assignments)}%.6f")
    spark.stop()
  }
}
