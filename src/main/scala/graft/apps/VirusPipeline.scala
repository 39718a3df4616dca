package graft.apps

import graft.export.Hierarchy
import graft.io.{ApiLogReader, Codecs}
import graft.ml.MlPipeline
import graft.operators.FeatureSelection
import org.apache.spark.ml.linalg.{SQLDataTypes, Vector, Vectors}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.api.java.UDF2
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's three programs chained as ONE DataFrame pipeline
  * with optional file checkpoints (SURVEY §3.4): feature selection →
  * vectorization → k-means clustering → hierarchy export →
  * classification reports. A user of
  * `FeatureSelectionCloud`/`Clustering`/`driver` runs this instead.
  *
  * Key rewrites vs the reference (SURVEY §4.2):
  *   - no per-sample jobs: one corpus scan; stage 1's top-N (≤ topN
  *     rows) is collected once, and the driver keeps it: the token
  *     list, the local `top` frame and the token → rank map that
  *     vectorizes every distinct call (no join, no broadcast) all come
  *     from those rows. Nothing of stage 1 but the deduplicated calls
  *     is cached, and they are released once the k-means fit has
  *     filled `samples`; the vectorization runs inside the fit's first
  *     job, so stage 1's clock stops at the collect and the fit's
  *     stage carries the vectorization;
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
  *     their generated classes again. The samples are assigned on
  *     the driver by the model's `predict` (no `transform` job), the
  *     entropy score counts the local assignments on the driver (no
  *     job), and the LIBSVM lines render from the cached `samples`,
  *     whose sorted `indices` are the lines' index lists (one scan,
  *     no aggregation);
  *   - a pass compiles few generated classes, so that Spark's codegen
  *     cache (100 entries by default, in four LRU segments of 25,
  *     keyed by class loader and code) holds all of them and a
  *     repeated pass compiles none: the driver-side reads of the
  *     pass's local frames and of `samples` share their row codecs,
  *     and the UDFs take the Java form, which compiles no argument
  *     decoder (VirusPipelineSpec locks ≤ 60 classes, then 0).
  */
object VirusPipeline {

  /** `top`, `assignments` and `clusterReport` are local frames,
    * `json` is the rendered `data.json`; `vectors` is the
    * vectorization's plan over the released deduplicated calls, and
    * `samples` (the fit's input, `assemble(vectors, top.count)`, so a
    * caller that assembles the vectors again reads it) is cached until
    * the caller releases it. */
  final case class Artifacts(top: DataFrame, vectors: DataFrame,
      samples: DataFrame, assignments: DataFrame, clusterReport: DataFrame,
      json: String)

  private val assignmentSchema = StructType(Seq(
    StructField("cluster", IntegerType),
    StructField("label", DoubleType),
    StructField("sample_id", StringType),
    StructField("apis", ArrayType(StructType(Seq(
      StructField("name", StringType),
      StructField("size", IntegerType)))))))

  private val topSchema = StructType(Seq(
    StructField("feature_index", IntegerType, nullable = false),
    StructField("token", StringType),
    StructField("info_gain", DoubleType)))

  private val sgdSchema = StructType(Seq(
    StructField("reg_param", DoubleType, nullable = false),
    StructField("auc", DoubleType, nullable = false)))

  private val reportSchema = StructType(Seq(
    StructField("line", StringType),
    StructField("cluster", IntegerType),
    StructField("label_name", StringType)))

  private def local(spark: SparkSession, rows: Seq[Row],
                    schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** Sparse binary vector assembly (§2.9): 1-based ranks → 0-based
    * MLlib indices, presence-only values. */
  private def sparseOf(n: Int, idxs: Seq[Int]): Vector =
    Vectors.sparse(n, idxs.sorted.map(_ - 1).toArray,
      Array.fill(idxs.size)(1.0))

  /** [[sparseOf]] as a column function, in the Java form: its array
    * argument is converted as is, where a typed Scala UDF compiles a
    * generated decoder for it and an encoder for its vector. */
  private val toSparse =
    udf(new UDF2[Int, Seq[Int], Vector] {
      def call(n: Int, idxs: Seq[Int]): Vector = sparseOf(n, idxs)
    }, SQLDataTypes.VectorType)

  /** Long-form vectors → (sample_id, label, indices, features) with an
    * ML SparseVector column. */
  def assemble(vec: DataFrame, nFeatures: Int): DataFrame =
    vec.groupBy("sample_id", "label")
      .agg(sort_array(collect_list(col("feature_index"))).as("indices"))
      .withColumn("features", toSparse(lit(nFeatures), col("indices")))

  /** @param onStage stage-attribution callback (round-6 verdict #1):
    *   called at each stage boundary with (name, seconds):
    *   `s1_features` once the top-N is collected, `s2_cluster` once
    *   the fit (with the vectorization and `samples`' fill) and the
    *   driver-side renders are done. Bench feeds these into
    *   `pipeline_virus_s*` rows so a per-round series can name the
    *   stage that diverges instead of one opaque e2e number. */
  def run(spark: SparkSession, apiLogsDir: String, topN: Int = 2000,
          k: Int = 10, seed: Long = 42L, runs: Int = 10,
          onStage: (String, Double) => Unit = (_, _) => ()): Artifacts = {
    val clock = graft.functions.Timing.stages("vp", onStage)
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
    // the top-N (≤ topN rows) collected once, in rank order; this job
    // fills distinct's cache. The token list, the local `top` frame
    // and the rank map the vectorization looks tokens up in all come
    // from these rows: neither `top` nor the vectors are cached, and
    // no broadcast join ships the top-N back to the tasks.
    val topRows = FeatureSelection.collectTopFeatures(
      FeatureSelection.infoGainRankedOfDistinct(distinct, "virus", totals),
      topN)
    val tokens = topRows.map(_._2).toIndexedSeq
    val nFeatures = tokens.length
    val top = local(spark, topRows.map(Row.fromTuple), topSchema)
    val vec = FeatureSelection.vectorizeOfDistinct(distinct, topRows, "virus")
    clock.done("s1_features")

    // stage 2 — clustering (KmeansVirus): sparse vectors per sample
    // cached for the fit, the assignments below and callers'
    // `assemble(a.vectors, n)`, and returned so they can release it;
    // the fit's first job (its instance count) fills the cache, the
    // vectorization running inside it
    val samples = assemble(vec, nFeatures).cache()
    // L1 setRuns parity: the reference trains with `setRuns(10)`
    // (`KmeansVirus.scala:183-186`) — the best of `runs` seeded fits by
    // min WSSSE, all fitted together in shared passes as Spark 1.x's
    // runs were
    val model = MlPipeline.bestOfKMeans(samples, k, runs,
      baseSeed = seed)
    // samples is filled; nothing reads the dedup'd calls again
    distinct.unpersist(false)
    // ONE collect of the samples, each assigned on the driver by the
    // model's own `predict` (the function `transform` applies per row)
    // on its vector rebuilt from `indices` (the vector `toSparse` made
    // from them); every stage-2/3 output below is rendered from these
    // rows (J3 done right: the prediction rides its own sample's row,
    // never a positional zip). The columns are read in the order the
    // LIBSVM writer's scan reads them (by name), so both reads use one
    // generated column reader.
    // P9: api leaf {name, size} with size = totalFeatures − 0-based
    // rank (`KmeansVirus.scala:106-111`), in rank order
    val rows = samples.select("indices", "label", "sample_id").collect()
      .toSeq.map { r =>
        val idxs = r.getSeq[Int](0)
        Row(model.predict(sparseOf(nFeatures, idxs)), r.getDouble(1),
          r.getString(2), idxs.map(i => Row(tokens(i - 1), nFeatures - (i - 1))))
      }
    // A4+O4+K6: "Cluster N contains C L files" report rows
    val report = rows
      .groupMapReduce(r => (r.getInt(0), Hierarchy.labelName(r.getDouble(1))))(
        _ => 1L)(_ + _)
      .toSeq.sortBy(_._1).map { case ((cluster, label), n) =>
        Row(s"Cluster $cluster contains $n $label files", cluster, label)
      }
    val json = Hierarchy.d3Json(rows)
    clock.done("s2_cluster")

    Artifacts(top, vec, samples, local(spark, rows, assignmentSchema),
      local(spark, report, reportSchema), json)
  }

  /** A6/M3: global weighted-average label entropy of the clustering
    * (`SVMDT.scala:264-284`), natural log. The (cluster, label) pairs
    * are counted on the driver from the `output.txt` rows of the
    * assignments ([[Codecs.outputTxtLines]], which `writeArtifacts`
    * collects too): over `run`'s local assignments frame that starts
    * no job, and the two reads share one generated row encoder and
    * decoder instead of compiling a pair per projection. */
  def entropyScore(assignments: DataFrame): Double =
    graft.functions.Funcs.weightedEntropy(
      Codecs.outputTxtLines(assignments).collect()
        .groupMapReduce(r => (r.get(0), r.get(1)))(_ => 1L)(_ + _)
        .toSeq.map { case ((cluster, _), n) => (cluster, n) })

  /** Stage 3 — `driver` (SVMDT): the DT impurity×depth sweep scored on
    * the cv split and the LinearSVC reg sweep scored on the test split
    * (`MlPipeline.dtSweep`/`linearSweep` over `MlPipeline.seededSplit`,
    * U3), reported in the reference's console format
    * `"<param>, AUC = NN.NN%"` (`SVMDT.scala:160-163,195-197`). The
    * splits sample one sorted, cached parent at the input's
    * partitioning (`MlPipeline.withSeededSplit`), released on return. */
  def classificationReport(spark: SparkSession, samples: DataFrame,
                           seed: Long = 42L): DataFrame = {
    val (dt, svc) = MlPipeline.withSeededSplit(samples, seed) {
      case Array(train, cv, test) =>
        // one scan fills the cached parent before the concurrent fits,
        // which would otherwise each submit AQE's table-cache job for it
        train.count()
        (MlPipeline.dtSweep(train, cv, seed).map { case (imp, depth, auc) =>
          (s"dt-$imp", depth.toDouble, auc,
            f"$imp depth $depth, AUC = ${auc * 100}%2.2f%%")
        },
        MlPipeline.linearSweep(train, test, Seq("svc")).map { case (_, r, auc) =>
          ("svc", r, auc, f"svc reg $r, AUC = ${auc * 100}%2.2f%%")
        })
    }
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
    local(spark, MlPipeline.sgdSplitSweep(samples, seed)
      .map(p => Row(p.regParam, p.auc))
      .sortBy(_.getDouble(0)), sgdSchema) // driver-side: no sort job
  }

  /** Writes the reference's four file artifacts. */
  def writeArtifacts(a: Artifacts, outDir: String): Unit = {
    new java.io.File(outDir).mkdirs()
    Codecs.writeTopFeatures(a.top, s"$outDir/topFeatures.txt")
    Codecs.writeLibSvm(a.samples.select(col("sample_id"),
        FeatureSelection.libsvmLine(col("label"), col("indices"))),
      s"$outDir/LIBSVMOutput.txt")
    Codecs.writeOutputTxt(a.assignments, s"$outDir/output.txt")
    Codecs.writeJson(a.json, s"$outDir/data.json")
  }

  /** CLI: runMain graft.apps.VirusPipeline <apiLogsDir> <outDir> [k] */
  def main(args: Array[String]): Unit = {
    val Array(inDir, outDir) = args.take(2)
    val k = if (args.length > 2) args(2).toInt else 10
    val spark = graft.SparkEntry.localSession("graft-virus-pipeline",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    val a = run(spark, inDir, k = k)
    writeArtifacts(a, outDir)
    a.clusterReport.select("line").collect().foreach(r => println(r.getString(0)))
    println(f"weighted label entropy = ${entropyScore(a.assignments)}%.6f")
    spark.stop()
  }
}
