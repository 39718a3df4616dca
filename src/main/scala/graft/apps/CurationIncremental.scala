package graft.apps

import graft.dedup.Dedup
import graft.io.Commit
import graft.operators.TextAnalysis
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** INCREMENTAL curation — how a 100 TB corpus is actually maintained:
  * the published corpus is never re-curated; each daily delta batch
  * flows delta → dedup-against-the-corpus-banks → gates →
  * decontamination → MERGE publish. Every stage is an already
  * oracle-checked operator (dd01's digest dedup, dd09's
  * check-against-the-bank shape, dd03's LSH banding, ta02/ta03/ta11's
  * gates, ta16's contamination core, io19's anti-join∪union MERGE,
  * io09's marker publish); this module only composes them — the
  * composition the round-9 verdict named as the #1 missing piece.
  *
  * The dedup rules are the FIRST-WINS (keep-smallest-id) family —
  * exact: min doc_id per content digest; near-dup: drop any exact
  * keeper sharing an LSH band bucket with a smaller-id exact keeper
  * (dd19's non-transitive keep-first rule, the SemDeDup shape) —
  * because first-wins is the rule that makes incrementality EXACT:
  * under the monotone-ingest contract (every new document's id
  * exceeds every published id — the log-structured reality of any
  * append corpus), a batch can never change the verdict on an earlier
  * document, so
  *
  *   incremental(base, then delta) ≡ from-scratch(base ∪ delta)
  *
  * row-for-row, for ANY batching of the delta. The registered query
  * cu01 IS that theorem under the driver's hash gate: the Spark side
  * runs base-then-delta through the persisted banks and the published
  * snapshot; the DuckDB oracle curates the full corpus from scratch.
  * (CurationPipeline.run keeps the batch highest-quality-keeper rule;
  * that rule is order-dependent by design and cannot be incremental.)
  *
  * Persisted state per published version (the "banks" — all
  * digest/sketch-sized, never text):
  *   - `keys`:  distinct content digests of every document EVER seen
  *     (exact-dedup needs all of them: a delta twin of a gated-out
  *     base doc is still a duplicate);
  *   - `bank`:  LSH band rows of every EXACT KEEPER (near-dup checks
  *     run against keepers, pre-gate, exactly like the from-scratch
  *     rule);
  *   - `bench`: the pinned decontamination holdout (drawn once from
  *     the base corpus — production would pin an external eval set);
  *   - `snap<v>` + `_SNAPSHOT` marker: the published curated corpus
  *     (io09's atomic swap; `_KEYS`/`_BANK` markers version the banks
  *     the same way).
  *
  * Scale: a delta batch costs O(|delta|) text work (tokenize, score,
  * gram-explode the batch) plus digest/band-keyed joins against the
  * banks — the corpus text is never re-read, the banks are
  * digest-sized, and the MERGE is io19's broadcast-anti ∪ union
  * (production prunes to matched files; copy-on-write here). The
  * gram explode broadcasts the fixed-size bench gram set, st10's
  * rule.
  */
object CurationIncremental {

  // gate thresholds, shared by CurationPipeline.run's gate and st19's
  // streaming ingest gate
  private[graft] val MinQuality = 0.3
  private[graft] val Langs = Seq("en", "de", "es")
  private[graft] val MaxDupBigramFrac = 0.2
  private[graft] val BenchN = TextAnalysis.DeconBenchN

  private[graft] def gateCond: Column =
    col("quality_score") >= MinQuality &&
      col("predicted_lang").isin(Langs: _*) &&
      col("dup_bigram_frac") <= MaxDupBigramFrac

  /** One verb's per-document SPINE, checkpointed once: (doc_id, lang,
    * source, content_key, toks, n_tokens, quality_score,
    * predicted_lang, dup_bigram_frac) — the routing columns, the md5
    * digest exact dedup keys on, the one tokenization the decon gram
    * explode reads, and the gate columns, all from one projection of
    * the documents frame. Later stages read it through doc_id joins;
    * none re-derives a score or joins a score frame back onto ids. The
    * gate columns are TextAnalysis' own score expressions, so they are
    * ta02/ta03/ta11's values by construction. */
  private def docSpine(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"), col("source"),
        md5(col("text")).as("content_key"),
        graft.functions.Funcs.tokens(col("text")).as("toks"))
      .select(col("*"), TextAnalysis.tokenBigrams(col("toks")).as("bgs"))
      .select(col("doc_id"), col("lang"), col("source"),
        col("content_key"), col("toks"),
        size(col("toks")).as("n_tokens"),
        TextAnalysis.qualityScore(col("toks")).as("quality_score"),
        TextAnalysis.predictedLang(col("toks")).as("predicted_lang"),
        TextAnalysis.dupBigramFrac(col("bgs")).as("dup_bigram_frac"))
      .localCheckpoint()

  /** Published snapshot schema: id + routing columns + the two gate
    * scores (audit), never the text payload — the curated TEXT stays
    * in the corpus files; this table is the curation VERDICT. */
  private def curatedRows(spine: DataFrame, finalIds: DataFrame): DataFrame =
    finalIds.join(
      spine.select("doc_id", "lang", "source", "n_tokens", "quality_score"),
      Seq("doc_id"))

  private def readVersioned(s: SparkSession, root: String,
      marker: String): DataFrame =
    s.read.parquet(s"$root/" + Commit.readMarker(s, s"$root/$marker"))

  /** Curate the base corpus from scratch under the first-wins rules
    * and publish snapshot v0 plus the banks. Destroys anything at
    * `root`. */
  def curateBase(spark: SparkSession, baseDocs: DataFrame, root: String,
      onStage: (String, Double) => Unit = (_, _) => ()): Unit = {
    val clock = graft.functions.Timing.stages("cu", onStage)
    val fs = Commit.fileSystem(spark)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)

    // docs is a pushdown filter over the parquet table — its two text
    // consumers (band signatures, holdout sample) re-scan cheaper than
    // a corpus-text materialization reads back (and at 100 TB
    // checkpointing the raw text onto executor storage is the failure
    // mode, not the optimization); the spine is the one checkpoint
    val docs = baseDocs
    val spine = docSpine(docs)
    clock.done("s1_base_tokenize")

    val finalIds = dedupGateDecon(spark, root, docs, spine, gateCond,
      publishBanks = true, clock.done)

    curatedRows(spine, finalIds)
      .write.mode("overwrite").parquet(s"$root/snap0")
    Commit.writeMarker(spark, s"$root/_SNAPSHOT", "snap0")
    clock.done("s6_base_publish")
  }

  /** The gate-independent stages shared by cu01's hand-rule curation
    * and cu05's artifact-gated one: exact first-wins dedup, band-bank
    * near-dup drop, the gates over the [[docSpine]], the pinned
    * holdout, and decontamination — everything whose verdict cannot
    * depend on which quality gate is in force. `gate` is the ONLY varying
    * verdict (the hand rule incl. quality_score for cu01; structural-
    * only for cu05, whose trained artifact replaces the rule
    * downstream); `publishBanks` is cu01's (applyDelta rolls the key
    * and band banks forward; cu05's pregate table never does). Stage
    * callbacks fire under cu01's historical names so bench stage rows
    * stay comparable round-over-round. Returns the survivor ids
    * after gate + holdout + decon. Factored so the two pipelines'
    * equivalence theorems hold by SHARED CODE, not by two copies kept
    * manually in sync. */
  private def dedupGateDecon(spark: SparkSession, root: String,
      docs: DataFrame, spine: DataFrame, gate: Column,
      publishBanks: Boolean, stageDone: String => Unit): DataFrame = {
    // exact first-wins (+ the key bank: ALL digests ever seen), over
    // the spine's digests — the md5 text pass ran once, in the spine
    val keyed = spine.select("doc_id", "content_key")
    val keep1 = keyed.groupBy("content_key").agg(min("doc_id").as("doc_id"))
      .select("doc_id").localCheckpoint()
    if (publishBanks) {
      keyed.select("content_key").distinct()
        .write.mode("overwrite").parquet(s"$root/keys/v0")
      Commit.writeMarker(spark, s"$root/_KEYS", "keys/v0")
    }
    stageDone("s2_base_exact_keys")

    // band bank over exact keepers; first-wins near-dup drop
    val sigs = Dedup.bandedSigsOf(docs.join(keep1, Seq("doc_id"), "left_semi"))
    val bank = if (publishBanks) {
      sigs.write.mode("overwrite").parquet(s"$root/bank/v0")
      Commit.writeMarker(spark, s"$root/_BANK", "bank/v0")
      spark.read.parquet(s"$root/bank/v0")
    } else sigs.localCheckpoint()
    val dropped = bank.join(
        bank.select(col("doc_id").as("other"), col("band"), col("bkey")),
        Seq("band", "bkey"))
      .filter(col("other") < col("doc_id"))
      .select("doc_id").distinct()
    val keep2 = keep1.join(dropped, Seq("doc_id"), "left_anti")
    stageDone("s3_base_neardup_bank")

    // gates over the spine's gate columns
    val gated = keep2.join(spine, Seq("doc_id")).filter(gate)
      .select("doc_id").localCheckpoint()
    stageDone("s4_base_gates")

    // pinned holdout + decontamination (candidates = gated survivors)
    TextAnalysis.benchSample(docs, BenchN).select("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$root/bench")
    Commit.writeMarker(spark, s"$root/_BENCH", "bench")
    val bench = spark.read.parquet(s"$root/bench")
    val finalIds = deconIds(spine, gated, bench)
    stageDone("s5_base_decon")
    finalIds
  }

  /** The gated survivors minus the holdout and minus every survivor
    * sharing a gram with it — the gram explode runs over the
    * survivors' spine tokens only. */
  private def deconIds(spine: DataFrame, gated: DataFrame,
      bench: DataFrame): DataFrame = {
    val candToks = spine.select("doc_id", "toks")
      .join(gated, Seq("doc_id"), "left_semi")
    gated
      .join(bench.select("doc_id"), Seq("doc_id"), "left_anti")
      .join(TextAnalysis.contaminatedIdsT(candToks, bench),
        Seq("doc_id"), "left_anti")
  }

  /** Apply one delta batch against the published state at `root`:
    * dedup vs the banks, gate, decontaminate vs the pinned holdout,
    * MERGE-publish the next snapshot version, roll the banks forward.
    * Requires the monotone-ingest contract (delta ids > every id in
    * the banks) — that contract, not luck, is what makes the result
    * equal to from-scratch curation (see object doc). */
  def applyDelta(spark: SparkSession, root: String, deltaDocs: DataFrame,
      onStage: (String, Double) => Unit = (_, _) => ()): Unit = {
    val clock = graft.functions.Timing.stages("cu", onStage)
    val ver = Commit.readMarker(spark, s"$root/_SNAPSHOT")
      .stripPrefix("snap").toLong
    val next = ver + 1
    val keys = readVersioned(spark, root, "_KEYS")
    val bank = readVersioned(spark, root, "_BANK")
    val bench = readVersioned(spark, root, "_BENCH")

    // the delta slice recomputes from the pushdown scan cheaper than
    // it materializes (curateBase's reasoning); the spine is the one
    // checkpoint
    val docs = deltaDocs
    val spine = docSpine(docs)
    clock.done("s7_delta_tokenize")

    // exact: first-wins WITHIN the batch, then anti-join against the
    // key bank (dd09's novelty check — one digest-keyed join, the
    // corpus text never moves); s11's key-bank roll reads the same
    // spine digests
    val keyed = spine.select("doc_id", "content_key")
    val keep1 = keyed.groupBy("content_key").agg(min("doc_id").as("doc_id"))
      .join(keys, Seq("content_key"), "left_anti")
      .select("doc_id").localCheckpoint()
    clock.done("s8_delta_exact_vs_keys")

    // near-dup: a delta keeper is dropped iff any SMALLER-id exact
    // keeper — published (bank) or in this batch — shares a band
    // bucket. Band-keyed join against the bank; batch text never
    // joins corpus text.
    val deltaBands = Dedup
      .bandedSigsOf(docs.join(keep1, Seq("doc_id"), "left_semi"))
      .localCheckpoint() // feeds the drop join AND the bank roll
    val dropped = deltaBands.join(
        bank.unionByName(deltaBands)
          .select(col("doc_id").as("other"), col("band"), col("bkey")),
        Seq("band", "bkey"))
      .filter(col("other") < col("doc_id"))
      .select("doc_id").distinct()
    val keep2 = keep1.join(dropped, Seq("doc_id"), "left_anti")
    clock.done("s9_delta_neardup_vs_bank")

    // gates + decontamination vs the pinned holdout — batch-local
    // text work only
    val gated = keep2.join(spine, Seq("doc_id")).filter(gateCond)
      .select("doc_id").localCheckpoint()
    val finalIds = deconIds(spine, gated, bench)
    clock.done("s10_delta_gates_decon")

    // MERGE publish (io19: anti-join ∪ union, never full-outer) into
    // snap<next>, then the atomic marker swap; banks roll forward
    // under their own markers. Under monotone ingest the anti-join is
    // provably empty (new ids), but the MERGE shape is kept — it is
    // the production path when a delta carries updates too.
    val cdc = curatedRows(spine, finalIds).localCheckpoint()
    readVersioned(spark, root, "_SNAPSHOT")
      .join(broadcast(cdc.select("doc_id")), Seq("doc_id"), "left_anti")
      .unionByName(cdc)
      .write.mode("overwrite").parquet(s"$root/snap$next")
    keys.unionByName(keyed.select("content_key")).distinct()
      .write.mode("overwrite").parquet(s"$root/keys/v$next")
    bank.unionByName(deltaBands)
      .write.mode("overwrite").parquet(s"$root/bank/v$next")
    Commit.writeMarker(spark, s"$root/_KEYS", s"keys/v$next")
    Commit.writeMarker(spark, s"$root/_BANK", s"bank/v$next")
    Commit.writeMarker(spark, s"$root/_SNAPSHOT", s"snap$next")
    clock.done("s11_merge_publish")
  }

  /** cu03: BENCHMARK-REFRESH decontamination — a new eval set lands
    * AFTER publish (the normal cadence: benchmarks release faster
    * than corpora re-curate). Production never re-curates: the
    * published verdict stays authoritative for dedup and gates; the
    * only new fact is the new holdout's gram set, so the refresh is
    * ONE pass over the SURVIVING corpus text against the NEW grams
    * (fixed-size broadcast, st10's rule — text re-read only for
    * snapshot members via a semi-join), then a MERGE-delete publish
    * of the next snapshot version and a marker roll of the bench
    * bank. Old-holdout hits need no rescan — those docs are already
    * out — and gram sets union, so
    *
    *   refresh(v_k, B_new) ≡ from-scratch(bench = B_old ∪ B_new)
    *
    * row-for-row; cu03's DuckDB oracle states exactly that
    * equivalence (from-scratch curation with the doubled holdout).
    * Snapshots and benches are never overwritten in place — each
    * version is a new directory behind its marker (io09/io21's
    * history discipline). */
  def refreshBench(spark: SparkSession, root: String, docs: DataFrame,
      extraN: Int,
      onStage: (String, Double) => Unit = (_, _) => ()): Unit =
    refreshWave(spark, root, docs,
      TextAnalysis.benchSample(docs, BenchN + extraN)
        .select("doc_id", "text"), onStage)

  /** One refresh WAVE against an INCOMING eval-set frame — cu03's
    * core factored out so cu04 can drive it per landing microbatch.
    * The incoming frame is anti-joined against the current bench
    * bank, so waves compose: refresh(refresh(v, B1), B2) ≡
    * refresh(v, B1 ∪ B2) ≡ from-scratch(bench = B_old ∪ B1 ∪ B2) by
    * cu03's equivalence applied inductively — which is exactly how
    * cu04's stream is hash-gated by a from-scratch batch oracle. */
  def refreshWave(spark: SparkSession, root: String, docs: DataFrame,
      incoming: DataFrame,
      onStage: (String, Double) => Unit = (_, _) => ()): Unit = {
    val clock = graft.functions.Timing.stages("cu", onStage)
    val ver = Commit.readMarker(spark, s"$root/_SNAPSHOT")
      .stripPrefix("snap").toLong
    val next = ver + 1
    val oldBench = readVersioned(spark, root, "_BENCH")
    // the genuinely-new members of the incoming eval set
    val newBench = incoming
      .join(oldBench.select("doc_id"), Seq("doc_id"), "left_anti")
      .select("doc_id", "text")
      .localCheckpoint() // feeds the gram explode AND the id delete
    // published() is already a parquet read — checkpointing it only
    // copied parquet into the block manager once per wave; both
    // consumers re-read the snapshot file directly
    val snap = published(spark, root)
    clock.done("s12_refresh_sample")

    // one decon pass: text re-read ONLY for surviving snapshot ids,
    // grams checked ONLY against the new holdout's gram set
    val survToks = TextAnalysis.tokenized(
      docs.join(snap.select("doc_id"), Seq("doc_id"), "left_semi"))
    val removed = TextAnalysis.contaminatedIdsT(survToks, newBench)
      .unionByName(newBench.select("doc_id")).distinct()
      .localCheckpoint()
    clock.done("s13_refresh_decon_scan")

    snap.join(broadcast(removed), Seq("doc_id"), "left_anti")
      .write.mode("overwrite").parquet(s"$root/snap$next")
    oldBench.unionByName(newBench).coalesce(1)
      .write.mode("overwrite").parquet(s"$root/bench_r$next")
    Commit.writeMarker(spark, s"$root/_BENCH", s"bench_r$next")
    Commit.writeMarker(spark, s"$root/_SNAPSHOT", s"snap$next")
    clock.done("s14_refresh_publish")
  }

  /** cu04's idempotent per-microbatch wrapper around [[refreshWave]]
    * (st12's sink discipline): a redelivered wave is skipped before
    * any marker moves. The refresh rolls _SNAPSHOT/_BENCH versions;
    * the guard is TWO-PHASE so "exactly one version per wave" holds
    * across the crash window between publish and commit marker: a
    * started marker records the snapshot version seen BEFORE the
    * wave ran, and a replay that finds the snapshot already past
    * that version knows the wave's refreshWave completed — it writes
    * the missing committed marker and skips, instead of rolling an
    * extra (content-identical) version. The one remaining window is
    * a crash INSIDE refreshWave after its _BENCH roll — there the
    * replay re-runs the wave (its incoming frame anti-joins to
    * empty, so content is unchanged) and version numbering alone can
    * exceed the wave count: at-least-once with idempotent content.
    * Empty microbatches are short-circuited (Structured Streaming
    * delivers them). */
  private[graft] def refreshWaveBatch(ss: SparkSession, root: String,
      docs: DataFrame, df: DataFrame, id: Long): Boolean = {
    if (Commit.exists(ss, s"$root/_refresh_committed_$id")) return false
    if (df.isEmpty) return false
    val started = s"$root/_refresh_started_$id"
    val curVer = Commit.readMarker(ss, s"$root/_SNAPSHOT")
      .stripPrefix("snap").toLong
    if (Commit.exists(ss, started) &&
        curVer > Commit.readMarker(ss, started).toLong) {
      // the wave's refresh completed before the crash; only the
      // committed marker is missing — write it, never re-roll
      Commit.writeMarker(ss, s"$root/_refresh_committed_$id", "done")
      return false
    }
    Commit.writeMarker(ss, started, curVer.toString)
    refreshWave(ss, root, docs, df)
    Commit.writeMarker(ss, s"$root/_refresh_committed_$id", "done")
    true
  }

  /** cu02's tightened quality bar (vs [[MinQuality]] = 0.3; the
    * fixture's published scores span ~0.30–0.43, so 0.36 BINDS —
    * both keep and remove sets are non-empty). */
  private[graft] val RegateMinQuality = 0.36

  /** cu02: GATE-CHANGE RECURATION — tighten the quality gate on an
    * already-published corpus WITHOUT re-reading any text. Sound
    * because (a) both dedup stages run UPSTREAM of the gates, so a
    * stricter gate cannot change any dedup verdict, and (b)
    * decontamination is a PER-DOCUMENT property of the doc's own
    * grams vs the pinned holdout, so a doc's contamination verdict
    * doesn't depend on which other docs are gated. Hence
    *
    *   from-scratch(minQ′) ≡ published(minQ) ∩ {quality ≥ minQ′}
    *
    * for any minQ′ ≥ minQ — and the right side reads only the
    * published VERDICT table (quality_score is audited in the
    * snapshot exactly for this). The new snapshot is written and
    * marker-swapped like any other version; at 100 TB copy-on-write
    * you'd prune the rewrite to files containing removals (io16's
    * stats route) — the verdict table is id+scores, never text, so
    * even the full rewrite is corpus-size-independent. */
  def regateQuality(spark: SparkSession, root: String,
      minQ: Double): Unit = {
    val ver = Commit.readMarker(spark, s"$root/_SNAPSHOT")
      .stripPrefix("snap").toLong
    val next = ver + 1
    readVersioned(spark, root, "_SNAPSHOT")
      .filter(col("quality_score") >= minQ)
      .write.mode("overwrite").parquet(s"$root/snap$next")
    Commit.writeMarker(spark, s"$root/_SNAPSHOT", s"snap$next")
  }

  // ---- cu05: trained-artifact gate + recuration on artifact roll ---

  /** cu05: replace the hand quality RULE with ta32's trained,
    * versioned classifier as the gate input — production gates are
    * artifacts, not thresholds in code (round-13 verdict ask #6).
    * The pipeline publishes a gate-independent PREGATE verdict table
    * (dedup → structural gates → decontamination — everything whose
    * verdict cannot depend on which quality gate is in force), then a
    * versioned weight artifact (ta32's closed-form NB training on the
    * labeled slice), and the snapshot = pregate members the
    * CLASSIFIER's own decision boundary accepts (score_u6 > 0).
    * Because the pregate table survives artifact rolls, a NON-
    * monotone gate change (new weights admit docs the old gate
    * rejected) recurates by ONE broadcast scoring pass over the
    * pregate members — never re-deduping, never re-decontaminating
    * (cu02's theorem generalized: the published verdicts that are
    * gate-independent are exactly the ones a roll can reuse). */
  def curateModelGated(spark: SparkSession, docs0: DataFrame,
      root: String): Unit = {
    val fs = Commit.fileSystem(spark)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    // raw-text checkpoint dropped (curateBase's reasoning)
    val docs = docs0
    val spine = docSpine(docs)
    // the shared stages with STRUCTURAL gates only — the trained
    // artifact replaces the quality RULE, so quality_score never
    // gates here (the pregate verdicts must be gate-independent)
    val pregateIds = dedupGateDecon(spark, root, docs, spine,
      col("predicted_lang").isin(Langs: _*) &&
        col("dup_bigram_frac") <= MaxDupBigramFrac,
      publishBanks = false, _ => ())
    pregateIds
      .join(spine.select("doc_id", "lang", "source", "n_tokens"),
        Seq("doc_id"))
      .write.mode("overwrite").parquet(s"$root/pregate/v0")
    Commit.writeMarker(spark, s"$root/_PREGATE", "pregate/v0")
    // gate artifact v1: ta32's classifier trained on the even labeled
    // half, published behind the versioned marker
    TextAnalysis.trainQualityWeights(spark,
      docs.filter(col("doc_id") % 2 === 0))
      .coalesce(1).write.mode("overwrite").parquet(s"$root/weights_v1")
    Commit.writeMarker(spark, s"$root/_WEIGHTS", "weights_v1")
    regateFromArtifact(spark, docs, root, "snap0")
  }

  /** The scoring frame of the CURRENT gate artifact over the PREGATE
    * members — one broadcast of the B+1-row weight table, zero
    * training aggregates (PlanSpec locks this: curation consumes the
    * artifact, it never retrains). */
  private[graft] def modelGateScores(spark: SparkSession,
      docs: DataFrame, root: String): DataFrame = {
    val weights = spark.read.parquet(
      s"$root/" + Commit.readMarker(spark, s"$root/_WEIGHTS"))
    val pregate = readVersioned(spark, root, "_PREGATE")
    TextAnalysis.scoreQuality(
      docs.join(pregate.select("doc_id"), Seq("doc_id")), weights)
  }

  /** Publish the snapshot under the current artifact: pregate members
    * the classifier's own decision boundary accepts. */
  private def regateFromArtifact(spark: SparkSession, docs: DataFrame,
      root: String, snap: String): Unit = {
    val pregate = readVersioned(spark, root, "_PREGATE")
    pregate.join(modelGateScores(spark, docs, root)
        .filter(col("score_u6") > 0L)
        .select("doc_id", "prob_6"), Seq("doc_id"))
      .select("doc_id", "lang", "source", "n_tokens", "prob_6")
      .write.mode("overwrite").parquet(s"$root/$snap")
    Commit.writeMarker(spark, s"$root/_SNAPSHOT", snap)
  }

  /** Roll the gate artifact to v2 — trained on the ODD labeled half,
    * a genuinely different classifier — and recurate from the pregate
    * verdicts: one scoring pass, text read once for the members only,
    * dedup/decon never recomputed. Non-monotone by construction
    * (weights_v2 admits docs v1 rejected and vice versa — the spec
    * asserts both directions are non-empty), which is exactly why the
    * PREGATE table, not the snapshot, is the recuration input. */
  def rollModelGate(spark: SparkSession, docs: DataFrame,
      root: String): Unit = {
    TextAnalysis.trainQualityWeights(spark,
      docs.filter(col("doc_id") % 2 === 1))
      .coalesce(1).write.mode("overwrite").parquet(s"$root/weights_v2")
    Commit.writeMarker(spark, s"$root/_WEIGHTS", "weights_v2")
    regateFromArtifact(spark, docs, root, "snap1")
  }

  /** The id cutoff splitting a documents table into base (< cutoff)
    * and delta (≥ cutoff) — the top decile by id, the deterministic
    * stand-in for "yesterday's corpus + today's arrivals" that both
    * engines can state in closed form. */
  private[graft] def cutoffOf(docs: DataFrame): Long = {
    val maxId = docs.agg(max("doc_id")).head().getLong(0)
    (maxId + 1L) * 9L / 10L
  }

  /** Read back the published snapshot at `root`. */
  private[graft] def published(s: SparkSession, root: String): DataFrame =
    readVersioned(s, root, "_SNAPSHOT")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // cu01: the full incremental composition — curate the base 90%,
    // then flow the top-decile delta through the banks and MERGE
    // publish — read back through the PUBLISHED marker. The DuckDB
    // oracle curates the FULL corpus from scratch under the same
    // first-wins rules, so the hash gate is an equivalence PROOF:
    // never-recurate-the-base produces byte-identical curation
    // verdicts to recurating everything (Round10OpsSpec adds the
    // any-batching half of the theorem).
    "cu01_incremental_curation" -> ((s, d) => {
      val docs = graft.Tables.documents(s, d)
      val cutoff = cutoffOf(docs)
      val root = graft.io.JsonLines.stagingDir("curation_incr")
      curateBase(s, docs.filter(col("doc_id") < cutoff), root)
      applyDelta(s, root, docs.filter(col("doc_id") >= cutoff))
      published(s, root)
        .withColumn("is_delta", col("doc_id") >= cutoff)
        .orderBy("doc_id")
    }),

    // cu02: gate-change recuration — curate the corpus at the 0.3
    // quality bar, then tighten to 0.36 purely from the published
    // verdict table (see [[regateQuality]]). The DuckDB oracle
    // curates FROM SCRATCH at 0.36 over the raw corpus, so the hash
    // gate is the equivalence proof: filter-the-verdict ≡
    // recurate-everything, text never re-read.
    "cu02_gate_recuration" -> ((s, d) => {
      val docs = graft.Tables.documents(s, d)
      val root = graft.io.JsonLines.stagingDir("curation_regate")
      curateBase(s, docs, root)
      regateQuality(s, root, RegateMinQuality)
      published(s, root).orderBy("doc_id")
    }),

    // cu05: TRAINED-ARTIFACT GATE + RECURATION ON ARTIFACT ROLL —
    // cu02's recuration discipline upgraded from a hand threshold to
    // ta32's versioned classifier artifact (round-13 verdict ask #6:
    // production gates are trained artifacts, and the PIPELINE
    // consumes the version). Dedup → structural gates → decon publish
    // a gate-INDEPENDENT pregate verdict table; gate artifact v1
    // (even-half training) gates snapshot v0; the roll to v2
    // (odd-half training — a genuinely different classifier) recurates
    // by ONE broadcast scoring pass over the pregate members. The
    // DuckDB oracle recurates FROM SCRATCH under v2 — dedup, gates,
    // decon, ta32's whole train-and-score chain on the odd half — so
    // the hash gate proves roll-and-rescore ≡ recurate-everything-
    // under-the-new-artifact, text read once, non-monotone swaps
    // included (v2 admits docs v1 rejected; the spec pins both
    // directions non-empty).
    //
    // Scale: the roll moves |pregate| rows through one broadcast of a
    // 1025-row artifact; dedup banks and decon verdicts — the
    // corpus-sized passes — are never touched. PlanSpec locks zero
    // training aggregates in the scoring plan.
    "cu05_artifact_gate_recuration" -> ((s, d) => {
      val docs = graft.Tables.documents(s, d)
      val root = graft.io.JsonLines.stagingDir("curation_modelgate")
      curateModelGated(s, docs, root)
      rollModelGate(s, docs, root)
      published(s, root).orderBy("doc_id")
    }),

    // cu03: benchmark-refresh decontamination — curate, then a NEW
    // eval set (the next BenchN docs in the pinned hash order) lands:
    // one decon pass over the published snapshot vs the new grams
    // only, MERGE-delete publish. The DuckDB oracle curates FROM
    // SCRATCH with the doubled holdout, so the hash gate proves
    // refresh ≡ recurate-with-the-union (see [[refreshBench]]).
    "cu03_bench_refresh" -> ((s, d) => {
      val docs = graft.Tables.documents(s, d)
      val root = graft.io.JsonLines.stagingDir("curation_refresh")
      curateBase(s, docs, root)
      refreshBench(s, root, docs, BenchN)
      published(s, root).orderBy("doc_id")
    }),

    // cu04: STREAMING BENCH-REFRESH — cu03's refresh as a live stream
    // over LANDING eval sets, completing the cu batch/stream matrix
    // (cu01 incremental corpus / cu03 batch refresh / cu04 streaming
    // refresh). Three eval-set waves (consecutive slices of the
    // pinned hash order) land as files; each microbatch drives one
    // refreshWave through the idempotent marker sink (st12's
    // discipline — replay of a committed wave is skipped before any
    // version rolls). The hash gate is the merge-law trick: waves
    // compose (refresh(refresh(v,B1),B2) ≡ refresh(v, B1∪B2)), and
    // cu03's own theorem turns the composition into from-scratch
    // curation with the UNION holdout — so the batch oracle (cu03's
    // SQL with the quadrupled holdout) gates the stream verbatim.
    //
    // Scale: per wave, exactly cu03's one decon pass (new grams
    // broadcast, text re-read only for surviving snapshot members);
    // stream state is the marker set — nothing else persists between
    // waves. Arrival order is pinned by mtime (st20's discipline):
    // refresh versions must roll in landing order.
    "cu04_stream_bench_refresh" -> ((s, d) => {
      import org.apache.hadoop.fs.Path
      val root = graft.io.JsonLines.stagingDir("curation_refresh_stream")
      val fs = Commit.fileSystem(s)
      fs.delete(new Path(root), true)
      val ss = graft.streaming.EventStream.streamSession(s, 8)
      val docs = graft.Tables.documents(ss, d)
      curateBase(ss, docs, root)
      val waves = 3
      fs.mkdirs(new Path(s"$root/landing"))
      // ONE bounded prefix sample, sliced by rank per wave —
      // benchSample is a deterministic prefix of the md5 order, so
      // wave k (= prefix(N·(k+1)) minus prefix(N·k)) is exactly ranks
      // N·k+1 .. N·(k+1); the old per-wave anti-join of two fresh
      // samples ran 2 corpus-wide TakeOrdered passes PER WAVE to
      // stage the same rows (guide §1.2). ≤ 4·BenchN rows, bounded.
      val ranked = TextAnalysis.benchSample(docs, BenchN * (waves + 1))
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(
            md5(col("doc_id").cast("string")), col("doc_id"))))
        .localCheckpoint()
      (1 to waves).foreach { k =>
        ranked
          .filter(col("rk") > BenchN * k && col("rk") <= BenchN * (k + 1))
          .select("doc_id", "text")
          .coalesce(1).write.mode("overwrite")
          .parquet(s"$root/stage/w$k")
        val part = fs.listStatus(new Path(s"$root/stage/w$k"))
          .map(_.getPath).filter(_.getName.startsWith("part-")).head
        fs.rename(part, new Path(s"$root/landing/w$k.parquet"))
        // arrival order = mtime order (FileStreamSource's sort key)
        fs.setTimes(new Path(s"$root/landing/w$k.parquet"),
          60000L * (k + 1), -1)
      }
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      graft.streaming.EventStream.drainBatches(ss, s"$root/landing",
        StructType(Seq(StructField("doc_id", LongType),
          StructField("text", StringType))), s"$root/ckpt") {
        (df, id) => refreshWaveBatch(ss, root, docs, df, id)
      }
      val ver = Commit.readMarker(ss, s"$root/_SNAPSHOT")
        .stripPrefix("snap").toLong
      require(ver >= waves,
        s"expected $waves refresh versions to have rolled, got $ver")
      published(ss, root).orderBy("doc_id")
    }))

  val oracles: Map[String, String] = Map(
    "cu01_incremental_curation" -> {
      import TextAnalysis.{toksSql, ContamN}
      val g = ContamN - 1
      s"""WITH cut AS (
         |  SELECT (max(doc_id) + 1) * 9 // 10 AS c FROM documents
         |), keep1 AS (
         |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
         |), ${Dedup.sigCte},
         |bands AS (
         |  SELECT doc_id, j // ${Dedup.RowsPerBand} AS band,
         |    string_agg(minhash, ',' ORDER BY j) AS bkey
         |  FROM sig GROUP BY doc_id, j // ${Dedup.RowsPerBand}
         |), dropped2 AS (
         |  SELECT DISTINCT b.doc_id FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
         |  WHERE a.doc_id IN (SELECT doc_id FROM keep1)
         |    AND b.doc_id IN (SELECT doc_id FROM keep1)
         |), keep2 AS (
         |  SELECT doc_id FROM keep1
         |  WHERE doc_id NOT IN (SELECT doc_id FROM dropped2)
         |), ${TextAnalysis.scoredSqlCte},
         |${TextAnalysis.repSqlCte},
         |gated AS (
         |  SELECT k.doc_id FROM keep2 k
         |  JOIN scored s USING (doc_id) JOIN rep r USING (doc_id)
         |  WHERE s.quality_score >= $MinQuality
         |    AND s.predicted_lang IN (${Langs.map("'" + _ + "'").mkString(", ")})
         |    AND r.dup_bigram_frac <= $MaxDupBigramFrac
         |), bench AS (
         |  SELECT doc_id, text FROM documents CROSS JOIN cut
         |  WHERE doc_id < c
         |  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT $BenchN
         |), bg AS (
         |  SELECT DISTINCT unnest(list_distinct(list_transform(
         |    generate_series(1, len(toks) - $g),
         |    i -> array_to_string(toks[i : i + $g], ' ')))) AS g
         |  FROM (SELECT $toksSql AS toks FROM bench)
         |  WHERE len(toks) >= $ContamN
         |), contam AS (
         |  SELECT DISTINCT doc_id FROM (
         |    SELECT doc_id, unnest(list_transform(
         |      generate_series(1, len(toks) - $g),
         |      i -> array_to_string(toks[i : i + $g], ' '))) AS g
         |    FROM (SELECT doc_id, $toksSql AS toks FROM documents
         |          WHERE doc_id IN (SELECT doc_id FROM gated))
         |    WHERE len(toks) >= $ContamN)
         |  WHERE g IN (SELECT g FROM bg)
         |), fin AS (
         |  SELECT doc_id FROM gated
         |  WHERE doc_id NOT IN (SELECT doc_id FROM bench)
         |    AND doc_id NOT IN (SELECT doc_id FROM contam)
         |)
         |SELECT d.doc_id, d.lang, d.source, s.n_tokens, s.quality_score,
         |  d.doc_id >= (SELECT c FROM cut) AS is_delta
         |FROM fin f
         |JOIN documents d USING (doc_id)
         |JOIN scored s USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    },

    // from-scratch curation at the TIGHTENED bar — identical CTE
    // chain to cu01 minus the base/delta split (cu02 curates the
    // whole corpus as base), bench drawn from the full corpus, and
    // the stricter threshold applied in `gated`. Equality with the
    // Spark side's verdict-table filter proves the recuration theorem.
    "cu02_gate_recuration" -> {
      import TextAnalysis.{toksSql, ContamN}
      val g = ContamN - 1
      s"""WITH keep1 AS (
         |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
         |), ${Dedup.sigCte},
         |bands AS (
         |  SELECT doc_id, j // ${Dedup.RowsPerBand} AS band,
         |    string_agg(minhash, ',' ORDER BY j) AS bkey
         |  FROM sig GROUP BY doc_id, j // ${Dedup.RowsPerBand}
         |), dropped2 AS (
         |  SELECT DISTINCT b.doc_id FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
         |  WHERE a.doc_id IN (SELECT doc_id FROM keep1)
         |    AND b.doc_id IN (SELECT doc_id FROM keep1)
         |), keep2 AS (
         |  SELECT doc_id FROM keep1
         |  WHERE doc_id NOT IN (SELECT doc_id FROM dropped2)
         |), ${TextAnalysis.scoredSqlCte},
         |${TextAnalysis.repSqlCte},
         |gated AS (
         |  SELECT k.doc_id FROM keep2 k
         |  JOIN scored s USING (doc_id) JOIN rep r USING (doc_id)
         |  WHERE s.quality_score >= $RegateMinQuality
         |    AND s.predicted_lang IN (${Langs.map("'" + _ + "'").mkString(", ")})
         |    AND r.dup_bigram_frac <= $MaxDupBigramFrac
         |), bench AS (
         |  SELECT doc_id, text FROM documents
         |  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT $BenchN
         |), bg AS (
         |  SELECT DISTINCT unnest(list_distinct(list_transform(
         |    generate_series(1, len(toks) - $g),
         |    i -> array_to_string(toks[i : i + $g], ' ')))) AS g
         |  FROM (SELECT $toksSql AS toks FROM bench)
         |  WHERE len(toks) >= $ContamN
         |), contam AS (
         |  SELECT DISTINCT doc_id FROM (
         |    SELECT doc_id, unnest(list_transform(
         |      generate_series(1, len(toks) - $g),
         |      i -> array_to_string(toks[i : i + $g], ' '))) AS g
         |    FROM (SELECT doc_id, $toksSql AS toks FROM documents
         |          WHERE doc_id IN (SELECT doc_id FROM gated))
         |    WHERE len(toks) >= $ContamN)
         |  WHERE g IN (SELECT g FROM bg)
         |), fin AS (
         |  SELECT doc_id FROM gated
         |  WHERE doc_id NOT IN (SELECT doc_id FROM bench)
         |    AND doc_id NOT IN (SELECT doc_id FROM contam)
         |)
         |SELECT d.doc_id, d.lang, d.source, s.n_tokens, s.quality_score
         |FROM fin f
         |JOIN documents d USING (doc_id)
         |JOIN scored s USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    },

    // from-scratch curation with the DOUBLED holdout — cu02's CTE
    // chain at the base quality bar, bench LIMIT 2N. Equality with
    // the Spark side's refresh publish proves the bench-refresh
    // theorem (gram sets union; old hits are already out).
    "cu03_bench_refresh" -> refreshOracleSql(2 * BenchN),

    // cu04: the SAME from-scratch equivalence with the union of all
    // three landed waves — base BenchN + 3×BenchN = the quadrupled
    // holdout. That this one query gates a three-wave STREAM is the
    // merge-law trick (see the query's doc comment).
    "cu04_stream_bench_refresh" -> refreshOracleSql(4 * BenchN),

    // cu05: from-scratch recuration under the ROLLED artifact — the
    // cu02 CTE chain with the quality rule removed (structural gates
    // only), decon over the structural survivors, then ta32's whole
    // train-and-score chain (qcScoreSqlCtes — the same text ta32's
    // own oracle composes, so the engines' classifier cannot drift)
    // on the ODD labeled half, gated at the decision boundary.
    "cu05_artifact_gate_recuration" -> {
      import TextAnalysis.{toksSql, ContamN}
      val g = ContamN - 1
      s"""WITH keep1 AS (
         |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
         |), ${Dedup.sigCte},
         |bands AS (
         |  SELECT doc_id, j // ${Dedup.RowsPerBand} AS band,
         |    string_agg(minhash, ',' ORDER BY j) AS bkey
         |  FROM sig GROUP BY doc_id, j // ${Dedup.RowsPerBand}
         |), dropped2 AS (
         |  SELECT DISTINCT b.doc_id FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
         |  WHERE a.doc_id IN (SELECT doc_id FROM keep1)
         |    AND b.doc_id IN (SELECT doc_id FROM keep1)
         |), keep2 AS (
         |  SELECT doc_id FROM keep1
         |  WHERE doc_id NOT IN (SELECT doc_id FROM dropped2)
         |), ${TextAnalysis.scoredSqlCte},
         |${TextAnalysis.repSqlCte},
         |structural AS (
         |  SELECT k.doc_id FROM keep2 k
         |  JOIN scored s USING (doc_id) JOIN rep r USING (doc_id)
         |  WHERE s.predicted_lang IN (${Langs.map("'" + _ + "'").mkString(", ")})
         |    AND r.dup_bigram_frac <= $MaxDupBigramFrac
         |), bench AS (
         |  SELECT doc_id, text FROM documents
         |  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT $BenchN
         |), bg AS (
         |  SELECT DISTINCT unnest(list_distinct(list_transform(
         |    generate_series(1, len(toks) - $g),
         |    i -> array_to_string(toks[i : i + $g], ' ')))) AS g
         |  FROM (SELECT $toksSql AS toks FROM bench)
         |  WHERE len(toks) >= $ContamN
         |), contam AS (
         |  SELECT DISTINCT doc_id FROM (
         |    SELECT doc_id, unnest(list_transform(
         |      generate_series(1, len(toks) - $g),
         |      i -> array_to_string(toks[i : i + $g], ' '))) AS g
         |    FROM (SELECT doc_id, $toksSql AS toks FROM documents
         |          WHERE doc_id IN (SELECT doc_id FROM structural))
         |    WHERE len(toks) >= $ContamN)
         |  WHERE g IN (SELECT g FROM bg)
         |), pregate AS (
         |  SELECT doc_id FROM structural
         |  WHERE doc_id NOT IN (SELECT doc_id FROM bench)
         |    AND doc_id NOT IN (SELECT doc_id FROM contam)
         |), ${TextAnalysis.qcScoreSqlCtes("doc_id % 2 = 1")}
         |SELECT d.doc_id, d.lang, d.source, s.n_tokens,
         |  round(1.0 / (1.0 + exp(-(CAST(q.score_u6 AS DOUBLE)
         |    / 1000000.0))), 6) AS prob_6
         |FROM pregate p
         |JOIN qscored q USING (doc_id)
         |JOIN documents d USING (doc_id)
         |JOIN scored s USING (doc_id)
         |WHERE q.score_u6 > 0
         |ORDER BY doc_id""".stripMargin
    })

  /** The refresh-equivalence oracle, parameterized by the total
    * holdout size: from-scratch curation where the bench sample is
    * the first `benchLimit` docs of the pinned hash order. cu03 uses
    * 2×BenchN (one refresh), cu04 4×BenchN (three streamed waves). */
  private def refreshOracleSql(benchLimit: Int): String = {
      import TextAnalysis.{toksSql, ContamN}
      val g = ContamN - 1
      s"""WITH keep1 AS (
         |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
         |), ${Dedup.sigCte},
         |bands AS (
         |  SELECT doc_id, j // ${Dedup.RowsPerBand} AS band,
         |    string_agg(minhash, ',' ORDER BY j) AS bkey
         |  FROM sig GROUP BY doc_id, j // ${Dedup.RowsPerBand}
         |), dropped2 AS (
         |  SELECT DISTINCT b.doc_id FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
         |  WHERE a.doc_id IN (SELECT doc_id FROM keep1)
         |    AND b.doc_id IN (SELECT doc_id FROM keep1)
         |), keep2 AS (
         |  SELECT doc_id FROM keep1
         |  WHERE doc_id NOT IN (SELECT doc_id FROM dropped2)
         |), ${TextAnalysis.scoredSqlCte},
         |${TextAnalysis.repSqlCte},
         |gated AS (
         |  SELECT k.doc_id FROM keep2 k
         |  JOIN scored s USING (doc_id) JOIN rep r USING (doc_id)
         |  WHERE s.quality_score >= $MinQuality
         |    AND s.predicted_lang IN (${Langs.map("'" + _ + "'").mkString(", ")})
         |    AND r.dup_bigram_frac <= $MaxDupBigramFrac
         |), bench AS (
         |  SELECT doc_id, text FROM documents
         |  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT $benchLimit
         |), bg AS (
         |  SELECT DISTINCT unnest(list_distinct(list_transform(
         |    generate_series(1, len(toks) - $g),
         |    i -> array_to_string(toks[i : i + $g], ' ')))) AS g
         |  FROM (SELECT $toksSql AS toks FROM bench)
         |  WHERE len(toks) >= $ContamN
         |), contam AS (
         |  SELECT DISTINCT doc_id FROM (
         |    SELECT doc_id, unnest(list_transform(
         |      generate_series(1, len(toks) - $g),
         |      i -> array_to_string(toks[i : i + $g], ' '))) AS g
         |    FROM (SELECT doc_id, $toksSql AS toks FROM documents
         |          WHERE doc_id IN (SELECT doc_id FROM gated))
         |    WHERE len(toks) >= $ContamN)
         |  WHERE g IN (SELECT g FROM bg)
         |), fin AS (
         |  SELECT doc_id FROM gated
         |  WHERE doc_id NOT IN (SELECT doc_id FROM bench)
         |    AND doc_id NOT IN (SELECT doc_id FROM contam)
         |)
         |SELECT d.doc_id, d.lang, d.source, s.n_tokens, s.quality_score
         |FROM fin f
         |JOIN documents d USING (doc_id)
         |JOIN scored s USING (doc_id)
         |ORDER BY doc_id""".stripMargin
  }
}
