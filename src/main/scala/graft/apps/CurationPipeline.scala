package graft.apps

import graft.Tables
import graft.dedup.Dedup
import graft.operators.TextAnalysis
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** End-to-end training-data curation over the `documents` table — the
  * operator families composed the way a 100 TB corpus pipeline runs
  * them:
  *
  *   1. exact dedup — hash-agg on a content digest, keeper = min id;
  *   2. near-dup removal — MinHash/LSH candidate pairs → connected
  *      components → keep the highest-quality member of each group
  *      (dd16's keeper rule, doc_id tie-break);
  *   3. quality + language + repetition gate — heuristic score
  *      threshold, stopword-profile language allowlist, and the
  *      Gopher-style duplicate-bigram-fraction cap — then
  *      DECONTAMINATION: the held-out benchmark sample and every
  *      survivor sharing a word-8-gram with it are dropped (ta16's
  *      overlap core);
  *   4. content-stable split assignment + stats for audit;
  *   5. embedding compression — PQ codes for the survivors, the
  *      8-bytes-per-vector shape ss07's ADC search serves from.
  *
  * Everything is the same oracle-checked operator the query surface
  * exposes (dd01/dd03/dd07/dd16/ta02/ta03/ta11/ta16/ta09/em03) — this
  * app only composes them.
  * Each stage's survivors flow as (doc_id)-keyed frames; text payloads
  * are re-joined once at the end, so the wide column never rides
  * through the dedup shuffles (at 100 TB the payload stays in parquet
  * until the final projection).
  */
object CurationPipeline {

  final case class Result(curated: DataFrame, stats: DataFrame,
      compressed: DataFrame)

  /** @param checkpoint lineage-truncation strategy for the CC stage;
    *   None (default) resolves `spark.graft.cc.checkpoint` from the
    *   session conf (`local` | `reliable:<dir>`), so a cluster run
    *   selects reliable checkpointing without code changes.
    * @param requireEmbeddingCoverage when true, a curated document
    *   without an embedding row fails the run (the strict
    *   doc_id==vec_id contract); by default partial coverage is
    *   legal — the corpus at sf0.1 (and any real corpus mid-backfill)
    *   embeds only a subset — and the coverage gap is REPORTED in the
    *   stats table instead of silently shrinking the compressed set. */
  def run(spark: SparkSession, dir: String,
          checkpoint: Option[Dedup.CheckpointStrategy] = None,
          requireEmbeddingCoverage: Boolean = false,
          alignGateU6: Option[Long] = None,
          onStage: (String, Double) => Unit = (_, _) => ()): Result = {
    // stage attribution (round-6 verdict #1): every stage below
    // already ends in a forcing count, so the deltas between those
    // counts ARE the stage wall-clocks — the callback adds zero work
    val clock = graft.functions.Timing.stages("cp", onStage)
    val docs = Tables.documents(spark, dir).cache()
    val total = docs.count()
    clock.done("s1_read")
    // ONE tokenization for the whole pipeline (round-9 verdict: the
    // corpus was tokenized three times — quality scoring, the
    // repetition gate, and the decontamination gram explode each
    // re-derived tokens(text)). All three now read this single
    // materialization; at 100 TB the durable equivalent is a
    // tokenized parquet written once beside the corpus.
    val toksAll = TextAnalysis.tokenized(docs).localCheckpoint()
    // one scoring pass, reused by the near-dup keeper (stage 2) and
    // the gate (stage 3) — localCheckpoint so the per-row scoring work
    // is paid exactly once even when the two consumers race a loaded
    // host (the frame is small: ids + a handful of numeric scores)
    val scoredAll = TextAnalysis.scoredT(toksAll).localCheckpoint()

    // 1. exact dedup on the full-text digest: keep min doc_id per key
    val exactKeep = docs
      .select(col("doc_id"), md5(col("text")).as("content_key"))
      .groupBy("content_key").agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    val nExact = exactKeep.count()
    clock.done("s2_exact_dedup")

    // 2. near-dup removal: LSH pairs → CC groups → keep the
    // highest-QUALITY member per group (dd16's oracle-checked rule;
    // doc_id is the deterministic tie-break — an exact-dup twin always
    // ties on quality, so the stage-1 keeper, which has the lowest id
    // among identical texts, also wins here). Docs in no group are
    // their own keeper. Only ids + scores shuffle.
    // Pairs are restricted to exact-dedup survivors first: an exact
    // duplicate has identical signatures to its keeper, so the keeper
    // carries the same connectivity and dropping the losers' pairs
    // shrinks the CC input without changing any component.
    val pairs = Dedup.candidatePairs(spark, dir)
      .join(exactKeep.select(col("doc_id").as("doc_a")), Seq("doc_a"), "left_semi")
      .join(exactKeep.select(col("doc_id").as("doc_b")), Seq("doc_b"), "left_semi")
    val groups = Dedup.connectedComponents(pairs,
      checkpoint = checkpoint.getOrElse(
        Dedup.CheckpointStrategy.fromConf(spark)))
    val wKeep = Window.partitionBy("group_id")
      .orderBy(col("quality_score").desc, col("doc_id").asc)
    val nearDupLosers = groups
      .join(scoredAll.select("doc_id", "quality_score"), Seq("doc_id"))
      .withColumn("rn", row_number().over(wKeep))
      .filter(col("rn") > 1)
      .select("doc_id")
    val nearKeep = exactKeep.join(nearDupLosers, Seq("doc_id"), "left_anti")
    val nNear = nearKeep.count()
    clock.done("s3_neardup_cc")

    // 3. quality + language + repetition gate — two per-row scoring
    // projections over the shared tokenization, id-joined to the
    // survivors, filtered by CurationIncremental's thresholds.
    // localCheckpoint: the gate's survivors feed the s4 count, the
    // decontamination candidate restriction, AND the final projection —
    // one materialization (ids + scores only).
    val gated = nearKeep.join(scoredAll, Seq("doc_id"))
      .join(TextAnalysis.repetitionScoredT(toksAll)
        .select("doc_id", "dup_bigram_frac"), Seq("doc_id"))
      .filter(CurationIncremental.gateCond)
      .localCheckpoint()
    val nGated = gated.count()
    clock.done("s4_gates")

    // 3b. DECONTAMINATION (ta16's overlap core): the held-out
    // benchmark sample is excluded from the training corpus outright,
    // and so is any survivor sharing a word-8-gram with it — the pass
    // every corpus runs before it ships, here as a pipeline stage.
    // The benchmark gram set broadcasts; the candidate side is the
    // GATED SURVIVORS' pre-tokenized rows (id semi-join above the
    // gram explode — answer-identical, since the contaminated ids are
    // anti-joined against the survivors anyway), so the 8-gram blowup
    // tracks the survivor count, not the corpus (round-9 verdict #1).
    val bench = TextAnalysis.benchSample(docs, CurationIncremental.BenchN)
      .localCheckpoint()
    val candToks = toksAll
      .join(gated.select("doc_id"), Seq("doc_id"), "left_semi")
    val deconBase = gated
      .join(bench.select("doc_id"), Seq("doc_id"), "left_anti")
      .join(TextAnalysis.contaminatedIdsT(candToks, bench),
        Seq("doc_id"), "left_anti")
    // 3c. optional CAPTION↔MEDIA ALIGNMENT gate (mm11): survivors
    // whose caption-alignment score falls below the threshold are
    // dropped; docs WITHOUT an embedding row pass (the same partial-
    // coverage contract as stage 5 — absence is audited there, never
    // a silent drop). One ids-only anti-join against the
    // oracle-checked mm11 scores; the score column is CARRIED into
    // the curated output and the dropped count into the stats table,
    // so the gate is auditable the way missing_embedding is.
    val (decon, nAlignDropped) = alignGateU6 match {
      case Some(th) =>
        val scores = graft.multimodal.Multimodal.alignmentScores(spark, dir)
          .select("doc_id", "align_u6").localCheckpoint()
        val low = scores.filter(col("align_u6") < th).select("doc_id")
        val kept = deconBase.join(low, Seq("doc_id"), "left_anti")
          .join(scores, Seq("doc_id"), "left")
        (kept, deconBase.join(low, Seq("doc_id"), "left_semi").count())
      case None => (deconBase, 0L)
    }
    // 4. content-stable split assignment (ta09): the digest, not an
    // RNG, decides train/valid/test, so reruns and reshards keep every
    // document's split
    // localCheckpoint: the count below and every downstream consumer
    // (the caller's write, stage 5's survivor join) read ONE
    // materialization instead of re-running the dedup/gate/decon
    // lineage per action — without it the caller's output write
    // re-executed the whole pipeline a second time (the round-7 bench
    // measured that re-run as a 40 s s7_outputs stage). At 100 TB the
    // durable equivalent is the io09 write-audit-publish path, where
    // the parquet write IS the single materialization; in-process the
    // checkpoint plays that role.
    val curatedCols = Seq("doc_id", "text", "lang", "source",
      "predicted_lang", "quality_score", "dup_bigram_frac", "n_tokens",
      "split") ++ (if (alignGateU6.isDefined) Seq("align_u6") else Nil)
    val curated = decon
      .join(docs.select("doc_id", "text", "lang", "source"), Seq("doc_id"))
      .withColumn("split", graft.functions.Funcs.hashSplit(col("text")))
      .select(curatedCols.map(col): _*)
      .localCheckpoint()
    val nFinal = curated.count()
    clock.done("s5_decon_split")
    docs.unpersist(false)

    // 5. embedding compression for the survivors: PQ codes (the
    // oracle-checked em03 assignment) pivoted to one row per vector —
    // 8 one-byte codes instead of 256 bytes of floats ride to the ANN
    // index (ss07 serves directly off this shape). m-sorted before the
    // pivot so the code order is positional, not shuffle-dependent.
    // CONTRACT: the embeddings table's vec_id IS the documents table's
    // doc_id (same key space — TESTDATA's layout), but coverage may be
    // PARTIAL (sf0.1 embeds 2000 of 5000 docs; a real corpus
    // mid-backfill looks the same). The join is LEFT + audited below:
    // the coverage gap lands in the stats table ("missing_embedding"),
    // and `requireEmbeddingCoverage` turns it into a loud failure for
    // deployments where full coverage IS the contract — either way the
    // compressed set never shrinks silently.
    // each survivor also carries its IVF cell, so the compressed table
    // IS the ss09 serving layout: written partitioned by cell (see
    // main), a probe reads nprobe directories of codes — the curation
    // output plugs straight into the partition-pruned ANN serve.
    val (cells, _) = graft.similarity.Similarity.ivfCells(spark, dir)
    val compressed = curated.select("doc_id")
      .join(TextAnalysis.pqAssign(spark, dir)
        .groupBy("vec_id")
        .agg(sort_array(collect_list(struct(col("m"), col("code")))).as("mc"))
        .select(col("vec_id").as("doc_id"),
          transform(col("mc"), x => x.getField("code").cast("byte"))
            .as("pq_codes")),
        Seq("doc_id"), "left")
      .join(cells.select(col("vec_id").as("doc_id"), col("cell")),
        Seq("doc_id"), "left")
      // one materialization shared by the audit aggregate, the served
      // filter, and the caller's write — the PQ codebook training in
      // this lineage must not re-run per consumer
      .localCheckpoint()
    val cRow = compressed
      .agg(count(lit(1)).as("n"),
        count(when(col("pq_codes").isNull, 1)).as("n_missing"))
      .head()
    val (nAudited, nMissing) = (cRow.getLong(0), cRow.getLong(1))
    clock.done("s6_pq_compress")
    if (nMissing > 0 && requireEmbeddingCoverage)
      throw new IllegalStateException(
        s"$nMissing of $nAudited curated documents have no embedding " +
          "row — requireEmbeddingCoverage is set and the doc_id==vec_id " +
          "contract between documents and embeddings is not fully covered")
    // the serving layout carries only embedded survivors; the gap is
    // visible above, never silent
    val served = compressed.filter(col("pq_codes").isNotNull)

    import spark.implicits._
    val stats = (Seq(
      ("input", total),
      ("after_exact_dedup", nExact),
      ("after_near_dedup", nNear),
      ("after_quality_lang_gate", nGated)) ++
      // the alignment gate's drop count is a first-class audit row
      // whenever the gate ran — a gate that can drop documents
      // invisibly is the curation bug class the stats table exists
      // to prevent
      (if (alignGateU6.isDefined) Seq(("align_gated", nAlignDropped))
       else Nil) ++
      Seq(
        ("after_decontamination", nFinal),
        ("compressed_embeddings", nAudited - nMissing),
        ("missing_embedding", nMissing)))
      .toDF("stage", "n_docs")
    Result(curated, stats, served)
  }

  /** CLI: runMain graft.apps.CurationPipeline <sfDir> <outDir> */
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = graft.SparkEntry.localSession("graft-curation-pipeline",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    val r = run(spark, sfDir)
    r.curated.write.mode("overwrite").parquet(s"$outDir/curated")
    // the ss09 serving layout: cell-partitioned codes, so an ANN probe
    // reads nprobe directories (PartitionFilters) of 8-byte codes
    r.compressed.write.mode("overwrite").partitionBy("cell")
      .parquet(s"$outDir/pq_codes")
    r.stats.coalesce(1).write.mode("overwrite")
      .json(s"$outDir/stats")
    r.stats.show(false)
    spark.stop()
  }
}
