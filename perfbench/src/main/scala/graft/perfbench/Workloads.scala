package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import graft.apps.{CurationIncremental, VirusPipeline}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** What one pass sees: its own directory (fresh app roots and artifact
  * outputs) and its own view of the inputs. The table directory is a
  * per-pass set of hard links to the generated tables, so artifacts the
  * program publishes under a data directory's marker start absent in
  * every pass and every pass does the same work. */
final case class PassCtx(spark: SparkSession, dir: Path, tables: String,
    corpus: String, tracer: Tracer)

/** A piece of a workload's pass: the calls it makes into the program,
  * grouped into layer spans. `run` returns a check to run after the
  * timed window: it yields a digest of the piece's outputs ("" for a
  * piece whose outputs are checked another way). */
trait Part {
  /** verbs, stages or queries one run of the piece attempts */
  def ops: Int
  def run(c: PassCtx): () => String
}

/** A workload: the parts one pass runs, in order. */
final case class Workload(name: String, parts: Seq[Part]) {
  def ops: Int = parts.map(_.ops).sum
  def usesCorpus: Boolean = parts.contains(VirusPaper)
  def usesTables: Boolean = parts.exists(_ != VirusPaper)
  def queries: Seq[QueryMix] = parts.collect { case q: QueryMix => q }
  def pass(c: PassCtx): () => String = {
    val checks = parts.map(_.run(c))
    () => checks.map(_()).filter(_.nonEmpty).mkString(".")
  }
}

object Digest {
  private def cell(v: Any): String = v match {
    case null => "null"
    case d: Double => "%.9g".format(d)
    case f: Float => "%.6g".format(f)
    case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + "->" + cell(x) }.sorted
        .mkString("{", ",", "}")
    case x => x.toString
  }

  def sha(parts: Iterable[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach { p =>
      md.update(p.getBytes(StandardCharsets.UTF_8)); md.update(0: Byte)
    }
    md.digest().take(12).map("%02x".format(_)).mkString
  }

  /** Order-independent digest of rows; doubles at nine significant
    * digits. */
  def ofRows(rows: Iterable[Row]): String = sha(rows.toSeq.map(cell).sorted)

  def rows(df: DataFrame): String = ofRows(df.collect())

  def file(p: Path): String =
    sha(Seq(new String(Files.readAllBytes(p), StandardCharsets.UTF_8)))
}

/** The paper's three stages: feature selection and k-means
  * (`VirusPipeline.run`, best of `kmeansRuns` seeded fits), the artifact
  * export, and stage 3 with the reference's SVM-with-SGD sweep and the
  * label entropy. The DT and LinearSVC sweep (`classificationReport`,
  * 19 fits, about 20 s of a pass on four cores) is left out, and k-means
  * keeps the best of 3 fits instead of the paper's 10, so that a run of
  * the workload, cold pass included, stays near a minute on four cores. */
object VirusPaper extends Part {
  val ops = 5
  val kmeansRuns = 3

  def run(c: PassCtx): () => String = {
    val t = c.tracer
    val out = c.dir.resolve("artifacts")
    t.open("features", "features")
    val a = try VirusPipeline.run(c.spark, c.corpus, runs = kmeansRuns,
      onStage = (n, s) => {
      t.stage(n, s)
      if (n == "s1_features") t.switch("ml.kmeans", "ml.kmeans")
    }) finally t.close()
    t.span("export", "export") {
      VirusPipeline.writeArtifacts(a, out.toString)
    }
    val (sgd, entropy) = t.span("ml.sweeps", "ml.sweeps") {
      val samples = t.span("assemble") {
        VirusPipeline.assemble(a.vectors, a.top.count().toInt)
      }
      val sgd = t.span("sgdReport") {
        VirusPipeline.sgdReport(c.spark, samples).collect()
      }
      val e = t.span("entropyScore") {
        VirusPipeline.entropyScore(a.assignments)
      }
      (sgd, e)
    }
    () => {
      val files = Seq("topFeatures.txt", "LIBSVMOutput.txt", "output.txt",
        "data.json").map(f => Digest.file(out.resolve(f)))
      require(entropy >= 0.0 && entropy <= math.log(2.0) + 1e-9,
        s"weighted label entropy $entropy outside [0, ln 2]")
      // The SGD AUCs are not digested: randomSplit's per-partition sort
      // can only order by `label` (features is a vector), so rows of one
      // label keep the arrival order of assemble's shuffle, and the
      // train/test split, with every AUC, varies from pass to pass.
      // Their grid and range are checked instead.
      val aucs = sgd.map(_.getAs[Double]("auc"))
      require(sgd.length == 5 && aucs.forall(x => x >= 0.0 && x <= 1.0),
        "stage-3 report out of shape")
      val grid = sgd.map(r => s"svm-sgd ${r.getDouble(0)}")
      // one short digest per artifact, so a mismatch names its artifact
      (files ++ Seq(Digest.rows(a.clusterReport), Digest.sha(grid.sorted.toSeq),
        Digest.sha(Seq("%.9g".format(entropy))))).map(_.take(6)).mkString(".")
    }
  }
}

/** `CurationIncremental`: base curation of the documents below the
  * cutoff, the delta merge-publish of the rest, and a serve of the
  * published set, on the pass's own root. */
object CurationIncr extends Part {
  val ops = 3

  def run(c: PassCtx): () => String = {
    val t = c.tracer
    val root = c.dir.resolve("curation").toString
    val docs = graft.Tables.documents(c.spark, c.tables)
    val cutoff = t.span("curation.base", "curation.base") {
      val cutoff = CurationIncremental.cutoffOf(docs)
      CurationIncremental.curateBase(c.spark,
        docs.filter(col("doc_id") < cutoff), root, onStage = t.stage)
      cutoff
    }
    t.span("curation.delta", "curation.delta") {
      CurationIncremental.applyDelta(c.spark, root,
        docs.filter(col("doc_id") >= cutoff), onStage = t.stage)
      t.span("serve") {
        CurationIncremental.published(c.spark, root)
          .write.format("noop").mode("overwrite").save()
      }
    }
    () => {
      val pub = CurationIncremental.published(c.spark, root)
      val n = pub.count()
      val total = docs.count()
      require(n > 0 && n <= total, s"published $n rows of $total documents")
      Digest.rows(pub).take(6)
    }
  }
}

/** Registered queries. Each result is collected to the driver inside
  * the timed pass (the results are small), so the output checks read
  * the pass's own results instead of running every query again. */
final case class QueryMix(queries: Seq[(String, String)]) extends Part {
  val ops = queries.size
  /** the last pass's results by query, with their schemas */
  private var last = Seq.empty[(String, StructType, Array[Row])]

  def run(c: PassCtx): () => String = {
    val all = graft.SparkEntry.queries
    val results = queries.map { case (q, layer) =>
      c.tracer.span(layer, layer) {
        c.tracer.span(q) {
          val df = all(q)(c.spark, c.tables)
          (q, df.schema, df.collect())
        }
      }
    }
    last = results
    () => results.map { case (_, _, rows) => Digest.ofRows(rows).take(6) }
      .mkString(".")
  }

  /** Writes the last pass's results as one parquet file per query, with
    * each query's oracle SQL, for the comparison against DuckDB outside
    * the timed window. */
  def dump(spark: SparkSession, out: Path): Unit = {
    last.foreach { case (q, schema, rows) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(out.resolve(q).toString)
    }
    val sql = graft.SparkEntry.oracleSql
    val json = queries.map(_._1).map(q =>
      Json.str(q) + ":" + Json.str(sql(q))).mkString("{", ",", "}")
    Files.writeString(out.resolve("oracle_sql.json"), json)
  }
}

object Workloads {
  /** query → layer: one query for each layer of the engine's operator
    * modules (two for the relational layer: Relational and Sessionize). */
  val platformQueries: Seq[(String, String)] = Seq(
    "dd22_span_ladder" -> "dedup",
    "ss01_knn_brute" -> "similarity.serve",
    "q03_revenue_by_nation" -> "relational",
    "q13_sessionize" -> "relational",
    "st23_stream_table_stats" -> "streaming",
    "mm11_caption_alignment" -> "multimodal",
    "io22_table_stats" -> "io.stats")

  val all: Seq[Workload] = Seq(
    Workload("virus_paper", Seq(VirusPaper)),
    Workload("platform_mix",
      Seq(CurationIncr, QueryMix(platformQueries))))

  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    sys.error(s"unknown workload '$n'; known: ${all.map(_.name).mkString(", ")}"))
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
    case ch => ch.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
