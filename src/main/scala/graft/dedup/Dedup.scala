package graft.dedup

import java.nio.ByteBuffer
import java.security.MessageDigest

import graft.Tables._
import graft.functions.Funcs._
import graft.functions.VecDot
import graft.operators.TextAnalysis
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Deduplication operators for a large-scale training-data pipeline:
  * exact (hash-groupBy), MinHash signatures + LSH banding, SimHash,
  * exact n-gram Jaccard, and embedding-cosine near-dup.
  *
  * Scale design:
  *   - exact dedup is one hash aggregate on a content digest — the
  *     only shuffle is on the digest, never the payload;
  *   - MinHash signatures are computed per-row with array expressions
  *     (zero shuffle); LSH candidate generation shuffles only
  *     (band, band-key) pairs — never compares all pairs;
  *   - SimHash is per-row bit arithmetic (zero shuffle);
  *   - exact Jaccard is the verify step you run on LSH candidates; the
  *     all-pairs form here is deliberately bounded to a FIXED-SIZE
  *     deterministic sample (hash-ordered top-[[SampleN]]) because an
  *     unrestricted all-pairs join can never scale — at 100 TB you'd
  *     only ever run it per-bucket. Fixed SIZE, not fixed rate: a
  *     `% k` sample grows with the corpus and its pair count grows
  *     quadratically; a top-N sample caps the pair work at N²/2
  *     forever, and the only corpus-dependent cost is the one-pass
  *     hash-ordered top-N scan (per-partition top-N + a K-row merge,
  *     no shuffle of the corpus).
  *
  * Hashing is content-defined via md5 (identical in Spark and DuckDB)
  * reduced to fixed-width hex prefixes, so every value below is
  * reproducible by the SQL oracle bit-for-bit.
  */
object Dedup {

  private val P = 2147483647L // 2^31 - 1

  /** Fixed SAMPLE SIZE for the calibration/recall-reference queries
    * (dd05/dd06): a deterministic hash-ordered top-N, so the all-pairs
    * verify math is exercised on ≤ N²/2 pairs REGARDLESS of corpus
    * size. (A fixed-RATE sample like `id % 5 = 0` grows linearly with
    * the corpus and its pair count quadratically — fine at one SF,
    * quadratic death at 100×.) */
  private[graft] val SampleN = 500

  /** dd15 span-dedup window geometry: 64-char windows every 32 chars,
    * so every char is covered by exactly two windows and a duplicated
    * run of ≥ 2·W−stride chars is guaranteed to produce at least one
    * shared window hash. */
  private[graft] val SpanW      = 64
  private[graft] val SpanStride = 32

  /** dd22's width ladder — the span lengths an exact-substring dedup
    * policy is tuned over (powers of two around the Lee et al. 50-
    * token operating point, char-denominated here). */
  private[graft] val SpanLadder = Seq(16, 32, 64, 128, 256)

  /** dd24 content-defined-chunking geometry: the boundary decision
    * hashes a [[CdcHashW]]-char gram and cuts after it when the hash
    * ≡ 0 (mod [[CdcDiv]]) — expected segment length = CdcDiv chars
    * (matching dd23's fixed [[SpanW]]=64), and the decision depends
    * ONLY on the local gram content, never on the offset, which is
    * the whole point: a span duplicated at ANY shift reproduces its
    * interior boundaries and therefore its segment digests. */
  private[graft] val CdcHashW = 16
  private[graft] val CdcDiv   = 64

  /** dd24 segment-length clamps — the LBFS/rsync [min, max] rule the
    * pure mod-divisor cut MUST carry in a web corpus: on low-entropy
    * runs (separator walls, `====` banners, repeated whitespace) a
    * character whose gram hashes ≡ 0 cuts at EVERY position — 1-char
    * segments, an n_segs = len blowup, and a first-wins election that
    * rewrites that character corpus-wide. The clamp is the standard
    * greedy: a content cut closer than [[CdcMin]] to the last kept
    * boundary is SKIPPED (never cut), and a gap longer than [[CdcMax]]
    * gets forced cuts every CdcMax chars (so a zero-cut run still
    * chunks). Values follow LBFS's min = expected/4, max = 4×expected
    * around the CdcDiv = 64 operating point. Only the final segment
    * (ends at len) may be shorter than CdcMin — the standard edge. */
  private[graft] val CdcMin = 16L
  private[graft] val CdcMax = 256L

  /** Deterministic fixed-size sample: hash-ordered top-N over the id.
    * Plans as per-partition TakeOrdered + an N-row merge — one scan,
    * no corpus shuffle — and the SQL oracle reproduces it with
    * `ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT N`. The id
    * tie-break is unreachable (distinct ids hash distinctly) but keeps
    * the ordering total by construction. */
  private[graft] def hashSample(df: DataFrame, idCol: String): DataFrame =
    df.orderBy(md5(col(idCol).cast("string")), col(idCol)).limit(SampleN)

  /** Fused native dot product (bit-identical to Funcs.dotProduct —
    * see VecDot); register() is idempotent per session. */
  private def dot(s: SparkSession, a: Column, b: Column): Column = {
    VecDot.register(s)
    call_function("vec_dot", a, b)
  }

  /** 16 affine minhash functions (a*h + b) mod P; literals derived
    * deterministically so the SQL oracle regenerates the same table. */
  private val MinhashParams: Seq[(Int, Long, Long)] =
    (0 until 16).map { j =>
      (j, (1000003L * (2 * j + 3)) % P, (998244353L * (j + 7)) % P)
    }

  // dd19's SemDeDup cosine cutoff — the keep-first threshold applied
  // within each IVF cell
  private[graft] val SemTau = 0.3

  /** dd19/dd26's shared SemDeDup pass over an arbitrary cell
    * assignment frame (vec_id, cell): compare pairs ONLY within a
    * cell, mark every vector with a higher-similarity-than-τ neighbor
    * of smaller id (the non-transitive keep-first rule). Factored so
    * the from-scratch clustering (dd19) and the maintained-index
    * artifact (dd26) dedup through literally the same code — the two
    * queries' hash equality under one oracle is then purely a theorem
    * about where the assignment came from. */
  private def semDedupOver(s: SparkSession, d: String,
      assigned: DataFrame): DataFrame = {
    val e = embeddings(s, d).select(col("vec_id"), col("embedding"),
      sqrt(dot(s, col("embedding"), col("embedding"))).as("nrm"))
    val m = assigned.join(e, Seq("vec_id"))
    val a = m.select(col("cell"), col("vec_id").as("keep_id"),
      col("embedding").as("ae"), col("nrm").as("an"))
    val b = m.select(col("cell"), col("vec_id"),
      col("embedding").as("be"), col("nrm").as("bn"))
    val dups = a.join(b, Seq("cell"))
      .filter(col("keep_id") < col("vec_id"))
      .withColumn("cos", round(
        dot(s, col("ae"), col("be")) / (col("an") * col("bn")), 6))
      .filter(col("cos") >= SemTau)
      .select("vec_id").distinct()
    assigned
      .join(dups.withColumn("dup_", lit(1)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        col("dup_").isNotNull.as("is_semdup"))
      .orderBy("vec_id")
  }

  private[graft] val NumBands = 4
  private[graft] val RowsPerBand = 4

  /** 14-char shingles of the leading 64 chars — "leading-content"
    * near-dup signature base (P3 shingling applied to a prefix). */
  private def prefixShingles: Column =
    array_distinct(charShingles(substring(col("text"), 1, 64), 14))

  /** Signature columns over a pre-materialized `hs_` hash-array
    * column. The shingle md5s MUST be computed in their own projection
    * first: referencing the raw expression from all 16 signature
    * columns would re-inline (and re-hash) it 16 times — Catalyst does
    * not CSE non-cheap aliases across collapsed projects, and the
    * measured cost was ~4x on the whole query. Spec oracle for the
    * fused native bank (HashSketches). */
  private def minhashSigs(hs: Column): Seq[Column] =
    MinhashParams.map { case (_, a, b) =>
      array_min(transform(hs, h => (h * a + b) % P))
    }

  /** Registers the fused sketch functions; idempotent per session. */
  private def registerSketches(s: SparkSession): Unit = {
    s.sessionState.functionRegistry.createOrReplaceTempFunction(
      "minhash_sigs",
      exprs => graft.functions.MinHashSigs(exprs.head,
        MinhashParams.map { case (_, a, b) => (a, b) }, P),
      "scala_udf")
    s.sessionState.functionRegistry.createOrReplaceTempFunction(
      "simhash64",
      exprs => graft.functions.SimHashBits(exprs.head, 32),
      "scala_udf")
    s.sessionState.functionRegistry.createOrReplaceTempFunction(
      "shingle_md5s",
      exprs => graft.functions.ShingleMd5s(exprs.head,
        prefixLen = 64, width = 14, hexDigits = 7),
      "scala_udf")
    s.sessionState.functionRegistry.createOrReplaceTempFunction(
      "token_md5s",
      exprs => graft.functions.TokenMd5s(exprs.head, hexDigits = 8),
      "scala_udf")
  }

  /** Composable twin of the fused `shingle_md5s` (spec oracle). */
  private def withShingleHashes(df: DataFrame): DataFrame =
    df.select(col("doc_id"),
      transform(prefixShingles, s => md5Long(s, 7)).as("hs_"))

  /** (doc_id, source, sig_) over an arbitrary documents frame — batch
    * or STREAMING: the per-row sketch math is stateless, which
    * (together with dd14's elementwise-min merge law) is what makes
    * MinHash maintainable as a streaming materialized view (st09).
    * Each stage materializes in its own projection (same CSE rationale
    * as the hash array: fanning element_at over an un-materialized
    * alias would re-inline the whole computation). */
  private[graft] def sigBank(docs: DataFrame): DataFrame = {
    registerSketches(docs.sparkSession)
    docs
      .select(col("doc_id"), col("source"),
        call_function("shingle_md5s", col("text")).as("hs_"))
      .select(col("doc_id"), col("source"),
        call_function("minhash_sigs", col("hs_")).as("sig_"))
  }

  /** (doc_id, sig_) — the id-keyed view of [[sigBank]]. */
  private def withSigBank(s: SparkSession, d: String): DataFrame =
    sigBank(documents(s, d)).select("doc_id", "sig_")

  /** dd18's sweep: every factorization of the 16-hash signature into
    * (bands × rows-per-band). */
  private[graft] val LshTuningConfigs = Seq((16, 1), (8, 2), (4, 4), (2, 8))

  /** Collection-level (per-source) sketches by elementwise-min merge
    * of [[sigBank]]'s per-document signatures — the UNORDERED core of
    * dd14, shared with the streaming materialized view (st09): min is
    * the merge operator, so partial aggregation combines map-side in
    * batch and per-microbatch in streaming, identically. */
  private[graft] def sourceSketch(sigs: DataFrame): DataFrame =
    sigs
      .select(col("source"), posexplode(col("sig_")))
      .withColumnsRenamed(Map("pos" -> "j", "col" -> "mh"))
      .groupBy("source", "j")
      .agg(min("mh").as("minhash"))

  /** (doc_id, band, bkey) — one row per LSH band per document; the
    * single definition of the banding layout (candidatePairs, dd09,
    * and the incremental curation's persisted band bank all consume
    * it, so band/row/bkey-format changes once). */
  private[graft] def bandedSigsOf(docs: DataFrame): DataFrame = {
    val bandCols = (0 until NumBands).map { b =>
      struct(lit(b).as("band"),
        concat_ws(",", (0 until RowsPerBand).map(r =>
          element_at(col("sig_"), b * RowsPerBand + r + 1).cast("string")): _*)
          .as("bkey"))
    }
    sigBank(docs).select("doc_id", "sig_")
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bkey").as("bkey"))
  }

  private def bandedSigs(s: SparkSession, d: String): DataFrame =
    bandedSigsOf(documents(s, d))

  /** Embedding near-dup pairs within random-hyperplane buckets
    * (vec_a < vec_b, rounded cosine ≥ 0.2) — UNORDERED; dd08 adds the
    * user-facing sort, dd13 feeds the pairs straight into connected
    * components. Norms are precomputed per vector (one fold per pair
    * instead of three). */
  private def embeddingDupPairs(s: SparkSession, d: String): DataFrame = {
    val bk = graft.similarity.Similarity.buckets(s, d)
    val e = embeddings(s, d)
      .select(col("vec_id"), col("embedding"),
        sqrt(dot(s, col("embedding"), col("embedding"))).as("nrm"))
      .join(bk, Seq("vec_id"))
    val a = e.select(col("bucket"), col("vec_id").as("vec_a"),
      col("embedding").as("ea"), col("nrm").as("na"))
    val b = e.select(col("bucket"), col("vec_id").as("vec_b"),
      col("embedding").as("eb"), col("nrm").as("nb"))
    a.join(b, Seq("bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cos", round(
        dot(s, col("ea"), col("eb")) / (col("na") * col("nb")), 6))
      .filter(col("cos") >= 0.2)
      .select("vec_a", "vec_b", "bucket", "cos")
  }

  /** LSH candidate pairs (doc_a < doc_b): docs sharing any
    * (band, band-key) bucket. Shared by dd03 (pair listing), dd07
    * (group resolution) and apps.CurationPipeline. */
  def candidatePairs(s: SparkSession, d: String): DataFrame = {
    val bands = bandedSigs(s, d)
    val a = bands.select(col("doc_id").as("doc_a"), col("band"), col("bkey"))
    val b = bands.select(col("doc_id").as("doc_b"), col("band"), col("bkey"))
    a.join(b, Seq("band", "bkey"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  /** Per-round lineage-truncation strategy for iterative plans:
    * [[CheckpointStrategy.Local]] (executor-local storage — fine in
    * local mode and on a healthy cluster that tolerates recompute-on-
    * executor-loss) or [[CheckpointStrategy.Reliable]] (HDFS/S3
    * checkpoint dir — survives executor loss, the right choice for a
    * multi-hour 100 TB run). */
  sealed trait CheckpointStrategy
  object CheckpointStrategy {
    case object Local extends CheckpointStrategy
    final case class Reliable(dir: String) extends CheckpointStrategy

    /** Session-level resolution: `spark.graft.cc.checkpoint` =
      * `local` (default) | `reliable:<dir>`. Every CC-based query
      * (dd07/dd13) and the curation pipeline route through this, so a
      * cluster run selects reliable checkpointing with one conf — no
      * code change. Unknown values fail loudly: a typo'd strategy
      * silently running Local on a multi-hour job is exactly the
      * failure mode the conf exists to prevent. */
    def fromConf(s: SparkSession): CheckpointStrategy =
      s.conf.get("spark.graft.cc.checkpoint", "local") match {
        case "local" => Local
        case r if r.startsWith("reliable:") && r.length > "reliable:".length =>
          Reliable(r.substring("reliable:".length))
        case other => throw new IllegalArgumentException(
          "spark.graft.cc.checkpoint must be 'local' or " +
            s"'reliable:<dir>', got '$other'")
      }
  }

  /** Connected components over undirected (doc_a, doc_b) pairs →
    * (doc_id, group_id = min id in component), by alternating
    * LARGE-STAR / SMALL-STAR contraction (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14): each round every
    * node hooks its larger neighbors (large-star), then its smaller
    * ones (small-star), onto the minimum of its neighborhood; the
    * edge set contracts to a star forest rooted at component minima
    * in O(log² n) rounds guaranteed, ~log n observed (measured: 6
    * rounds worst-case over exhaustive ≤25-node graphs, 14 at a
    * 100k-node permuted chain).
    *
    * This replaced round 10's original propagate+pointer-jump loop
    * after the property sweep found its worst case: on chains whose
    * ids are PERMUTED against the path order (so every label lookup
    * lands on an unrelated node), single-jump propagation degrades to
    * O(n) rounds — 22 rounds on a 25-node chain, where star
    * contraction needs 6. Adversarial id placement on long link
    * chains is exactly what a 100 TB crawl graph contains, so the
    * log bound is the difference between a converging job and a
    * stalled one.
    *
    * The loop exits at the exact fixpoint (same edge count and no
    * edge left the set — subset + equal size ⇒ set equality) and
    * fails loudly past maxRounds. Used by dd07/dd13 and the curation
    * pipeline's near-dup-removal stage. */
  def connectedComponents(pairs0: DataFrame, maxRounds: Int = 20,
      checkpoint: CheckpointStrategy = CheckpointStrategy.Local): DataFrame = {
    // Reliable: set the checkpoint dir ONCE per invocation (Spark
    // qualifies it and appends a UUID subdir, so comparing against the
    // caller's raw path can never match — a per-truncate guard would
    // silently re-set it and scatter every round into a fresh dir)
    checkpoint match {
      case CheckpointStrategy.Reliable(dir) =>
        pairs0.sparkSession.sparkContext.setCheckpointDir(dir)
      case _ => ()
    }
    def truncate(df: DataFrame): DataFrame = checkpoint match {
      case CheckpointStrategy.Local => df.localCheckpoint()
      case CheckpointStrategy.Reliable(_) =>
        // persist first: reliable checkpoint materializes the plan in
        // one job and writes files in a SECOND job — uncached, that
        // recomputes the whole round's join plan twice
        df.persist()
        val out = df.checkpoint()
        df.unpersist(false)
        out
    }
    // drops the block-manager storage behind a SUPERSEDED checkpointed
    // frame: localCheckpoint blocks have truncated lineage, so they are
    // non-evictable and would otherwise pile up one per round until the
    // ContextCleaner GCs them — a driver looping CC over many inputs
    // accumulates block-manager memory. Only safe on intermediates that
    // nothing will read again (an unpersisted localCheckpoint CANNOT
    // recompute); for Reliable the data lives in files and this merely
    // drops a transient cached copy.
    def release(df: DataFrame): Unit =
      df.queryExecution.analyzed.foreach {
        case lr: org.apache.spark.sql.execution.LogicalRDD =>
          lr.rdd.unpersist(false)
        case _ => ()
      }
    // materialize the (often expensive) pair input ONCE — it feeds the
    // canonical edge seed AND the final node set. The checkpoint is
    // deterministic single execution (a lazy .cache() would let two
    // downstream branches race the pair-generation plan).
    val pairs = truncate(pairs0)
    def symOf(e: DataFrame): DataFrame = e.union(
      e.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
    // m(u) = min(Γ(u) ∪ {u}) over the symmetric view
    def minsOf(sym: DataFrame): DataFrame = sym
      .groupBy(col("doc_a").as("u")).agg(min("doc_b").as("nmin"))
      .select(col("u"), least(col("u"), col("nmin")).as("m"))
    // large-star: hook every neighbor LARGER than u onto m(u).
    // Duplicate output edges are harmless here — minsOf is a MIN
    // aggregate (dup-insensitive) and small-star's final distinct
    // canonicalizes — so this stage skips its own dedup shuffle.
    def largeStar(e: DataFrame): DataFrame = {
      val sym = symOf(e)
      sym.join(minsOf(sym), sym("doc_a") === col("u"))
        .where(col("doc_b") > col("doc_a"))
        .select(col("m").as("doc_a"), col("doc_b"))
    }
    // small-star: hook every neighbor SMALLER than u, and u itself,
    // onto m(u)
    def smallStar(e: DataFrame): DataFrame = {
      val sym = symOf(e)
      val withM = sym.join(minsOf(sym), sym("doc_a") === col("u"))
      withM.where(col("doc_b") < col("doc_a"))
        .select(col("m").as("doc_a"), col("doc_b"))
        .union(withM.select(col("m").as("doc_a"), col("doc_a").as("doc_b")))
        .where(col("doc_a") =!= col("doc_b"))
        .distinct()
    }
    // canonical (min, max) distinct edge seed — callers already pass
    // a<b pairs, but contraction correctness REQUIRES the invariant
    var edges = truncate(pairs
      .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"))
      .where(col("doc_a") =!= col("doc_b")).distinct())
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      round += 1
      // truncate lineage every round: the loop otherwise embeds the
      // previous plan twice per iteration (2^rounds blowup — went
      // 102 s at sf0.1 without this, ~2 s with it). Strategy is the
      // caller's: local in local mode, Reliable(dir) on a cluster.
      val next = truncate(smallStar(largeStar(edges)))
      // exact convergence probe with NO confirm round: the
      // contraction's fixpoints are precisely the PROPER star forests
      // — no node on both sides (roots only as doc_a, leaves only as
      // doc_b) AND every leaf under exactly one root. Both conditions
      // are required: {(0,5),(0,7),(1,5),(1,6)} has disjoint sides
      // but leaf 5 under two roots — one more round merges 0 and 1,
      // so declaring convergence there returns duplicated, WRONG
      // labels (caught by the union-find property sweep). At a proper
      // star forest each center is its component minimum by
      // construction (center < every leaf), and both star steps map
      // the set to itself.
      converged = next.select("doc_a")
        .join(next.select(col("doc_b").as("doc_a")), Seq("doc_a"),
          "left_semi")
        .isEmpty &&
        next.groupBy("doc_b").agg(count(lit(1)).as("n_roots"))
          .where(col("n_roots") > 1).isEmpty
      // the previous round's edge checkpoint is fully superseded the
      // moment `next` materialized (truncate is eager) — release its
      // blocks now instead of letting rounds pile up in block-manager
      // memory until GC
      release(edges)
      edges = next
    }
    if (!converged)
      // fail loudly: labels that are not the component minimum would
      // silently under-deduplicate everything downstream
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxRounds rounds " +
          "(star contraction needs ~log n — raise maxRounds)")
    // at the fixpoint the edge set is a star forest rooted at the
    // component minima: every non-root appears as doc_b with its root
    // as doc_a, roots appear only as doc_a
    val labels = truncate(
      symOf(pairs).select(col("doc_a").as("doc_id")).distinct()
        .join(edges.select(col("doc_b").as("doc_id"),
          col("doc_a").as("group_id")).distinct(), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("group_id"), col("doc_id")).as("group_id")))
    // pairs and the final edge checkpoint fed only the RETURNED labels
    // frame, which is itself a checkpoint — their blocks are
    // unreachable from any future computation; release them. The
    // labels checkpoint is the return value and must stay.
    release(edges)
    release(pairs)
    labels
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // dd01: exact dedup by content digest (here: of the 64-char prefix,
    // where the corpus genuinely has duplicate groups). Keeper = min id.
    "dd01_exact_dedup" -> ((s, d) =>
      documents(s, d)
        .groupBy(md5(substring(col("text"), 1, 64)).as("content_key"))
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("keeper_doc_id"))
        .filter(col("n_docs") > 1)
        .orderBy("content_key")),

    // dd17: CANONICALIZED exact dedup — dd01 after text normalization
    // (lowercase, every non-alphanumeric run collapsed to one space,
    // trimmed; keyed on the canonical form's 64-char prefix, dd01's
    // convention), the cheap middle ground between byte-exact dedup
    // and MinHash: case, punctuation, and whitespace variants of the
    // same page collapse to one canonical form without any pair
    // enumeration. The canonical text is pure ASCII by construction
    // (the regex collapses everything else), so character prefixes
    // agree across engines. Same scale shape as dd01 — a per-row
    // codegen'd projection then one digest-keyed aggregate; only
    // 16-byte digests shuffle, never text.
    "dd17_canonical_dedup" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"), md5(substring(trim(regexp_replace(
          lower(col("text")), "[^a-z0-9]+", " ")), 1, 64)).as("canon_key"))
        .groupBy("canon_key")
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("keeper_doc_id"))
        .filter(col("n_docs") > 1)
        .orderBy("canon_key")),

    // dd18: LSH TUNING CURVE — the (bands × rows) operating-point
    // table a dedup deployment is tuned from, the dedup twin of
    // ss20's nprobe sweep: for each way of banding the 16-hash
    // signature ((16,1), (8,2), (4,4), (2,8)), how many candidate
    // pairs does the OR-over-bands collision rule produce, and how
    // similar are they (mean signature-agreement Jaccard estimate,
    // dd12's estimator)? More rows per band = a sharper s-curve =
    // fewer, higher-similarity candidates — this table is where the
    // verification budget gets chosen. Scale: per config the shuffle
    // carries (band, key) strings; candidates are bucket-bounded;
    // the estimate joins signatures for candidate pairs only.
    "dd18_lsh_tuning" -> ((s, d) => {
      val sigs = withSigBank(s, d).localCheckpoint()
      val cand = LshTuningConfigs.map { case (b, r) =>
        val banded = sigs.select(col("doc_id"), explode(array(
          (0 until b).map(i => struct(lit(i).as("band"),
            concat_ws(":", transform(slice(col("sig_"), i * r + 1, r),
              _.cast("string"))).as("key"))): _*)).as("bk"))
          .select(col("doc_id"), col("bk.band").as("band"),
            col("bk.key").as("key"))
        banded.select(col("band"), col("key"), col("doc_id").as("doc_a"))
          .join(banded.select(col("band"), col("key"),
            col("doc_id").as("doc_b")), Seq("band", "key"))
          .where(col("doc_a") < col("doc_b"))
          .select(col("doc_a"), col("doc_b")).distinct()
          .select(lit(b).as("bands"), lit(r).as("rows_per_band"),
            col("doc_a"), col("doc_b"))
      }.reduce(_ unionByName _)
      cand
        .join(sigs.select(col("doc_id").as("doc_a"), col("sig_").as("sa")),
          Seq("doc_a"))
        .join(sigs.select(col("doc_id").as("doc_b"), col("sig_").as("sb")),
          Seq("doc_b"))
        .withColumn("est_u6", floor(
          aggregate(zip_with(col("sa"), col("sb"),
            (x, y) => when(x === y, 1L).otherwise(0L)), lit(0L),
            (acc, v) => acc + v).cast("double") / 16 * 1e6 + 0.5)
          .cast("long"))
        .groupBy("bands", "rows_per_band")
        .agg(count(lit(1)).as("n_candidate_pairs"),
          round(sum("est_u6").cast("double") / count(lit(1)) / 1e6, 6)
            .as("mean_est_jaccard"))
        .orderBy(col("bands").desc)
    }),

    // dd02: MinHash signatures (16 hashes), long form — per-row array
    // math, no shuffle (fused native bank, one pass over the hashes).
    "dd02_minhash_sig" -> ((s, d) =>
      withSigBank(s, d)
        .select(col("doc_id"), posexplode(col("sig_")))
        .withColumnsRenamed(Map("pos" -> "j", "col" -> "minhash"))
        .orderBy("doc_id", "j")),

    // dd03: LSH banding — docs sharing any (band, band-key) bucket are
    // candidate near-dup pairs. Shuffles band keys only.
    "dd03_lsh_pairs" -> ((s, d) =>
      candidatePairs(s, d).orderBy("doc_a", "doc_b")),

    // dd04: 32-bit SimHash over distinct word tokens — per-row bit
    // arithmetic, zero shuffle (fused native vote, one pass over the
    // hashes instead of 32 interpreted folds).
    "dd04_simhash" -> ((s, d) => {
      registerSketches(s)
      documents(s, d)
        // fused token hashing (not the transform/filter HOF chain:
        // HOFs are CodegenFallback and would drag the SimHash vote in
        // the same projection out of whole-stage codegen too)
        .select(col("doc_id"),
          call_function("token_md5s", col("text")).as("hs_"))
        .select(col("doc_id"),
          call_function("simhash64", col("hs_")).as("simhash"))
        .orderBy("doc_id")
    }),

    // dd05: exact word-bigram Jaccard on a FIXED-SIZE sampled subset —
    // the verify-stage of near-dup detection (run per-LSH-bucket at
    // scale). Cost bound is corpus-independent: ≤ SampleN²/2 pairs no
    // matter how big the corpus grows; only the hash-ordered top-N
    // scan sees the full table, once.
    "dd05_ngram_jaccard" -> ((s, d) => {
      val sub = hashSample(documents(s, d), "doc_id")
      // materialize the exploded bigram set once — it feeds three
      // consumers (sizes + both join sides), and Spark would otherwise
      // re-tokenize and re-explode the corpus for each (on a cluster:
      // a parquet checkpoint or .cache; locally localCheckpoint)
      val sh = sub.select(col("doc_id"),
        explode(array_distinct(wordBigrams(tokens(col("text"))))).as("s"))
        .localCheckpoint()
      val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val inter = sh.select(col("doc_id").as("doc_a"), col("s"))
        .join(sh.select(col("doc_id").as("doc_b"), col("s")), Seq("s"))
        .filter(col("doc_a") < col("doc_b"))
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_inter"))
      inter
        .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), Seq("doc_a"))
        .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), Seq("doc_b"))
        .withColumn("jaccard", round(col("n_inter").cast("double") /
          (col("na") + col("nb") - col("n_inter")).cast("double"), 6))
        .filter(col("jaccard") >= 0.06)
        .select("doc_a", "doc_b", "n_inter", "jaccard")
        .orderBy("doc_a", "doc_b")
    }),

    // dd10: the production verify stage, unsampled — exact word-bigram
    // Jaccard computed ONLY for LSH candidate pairs (dd03's output),
    // via one array_intersect per pair. This is the canonical
    // MinHash-LSH pipeline shape: sketch (dd02) → band join (dd03) →
    // exact verify on candidates (here) → groups (dd07). Cost scales
    // with candidate count, never corpus²; dd05's sampled all-pairs
    // form remains as the recall reference for the verify math.
    "dd10_lsh_verified" -> ((s, d) => {
      // late materialization: candidate pairs are a tiny fraction of
      // the corpus, so the (wide) bigram arrays are computed ONLY for
      // pair members — a semi-join reduces the scan before the array
      // work, instead of shuffling every document's bigram set into
      // the joins (measured 5.4 s → ~1.5 s at sf0.1; at 100 TB the
      // difference is the whole corpus vs the duplicate tail).
      // localCheckpoint: pairs feed both the members derivation and
      // the final join — without it the LSH banding runs twice.
      val pairs = candidatePairs(s, d).localCheckpoint()
      val members = pairs.select(col("doc_a").as("doc_id"))
        .union(pairs.select(col("doc_b").as("doc_id"))).distinct()
      val sets = documents(s, d)
        .join(members, Seq("doc_id"), "left_semi")
        .select(col("doc_id"),
          array_distinct(wordBigrams(tokens(col("text")))).as("bg"))
        .localCheckpoint() // two join consumers below
      pairs
        .join(sets.select(col("doc_id").as("doc_a"), col("bg").as("ba")),
          Seq("doc_a"))
        .join(sets.select(col("doc_id").as("doc_b"), col("bg").as("bb")),
          Seq("doc_b"))
        .withColumn("n_inter", size(array_intersect(col("ba"), col("bb"))))
        .withColumn("jaccard", round(col("n_inter").cast("double") /
          (size(col("ba")) + size(col("bb")) - col("n_inter"))
            .cast("double"), 6))
        .select("doc_a", "doc_b", "n_inter", "jaccard")
        .orderBy("doc_a", "doc_b")
    }),

    // dd11: bigram CONTAINMENT on the LSH candidate pairs — catches
    // the doc-embedded-in-doc case Jaccard misses: a short doc fully
    // contained in a long one has n_inter/min(|A|,|B|) = 1 while its
    // Jaccard is small. Same late-materialized shape as dd10 (arrays
    // computed only for pair members), so the cost scales with the
    // candidate tail, never corpus².
    "dd11_containment" -> ((s, d) => {
      val pairs = candidatePairs(s, d).localCheckpoint()
      val members = pairs.select(col("doc_a").as("doc_id"))
        .union(pairs.select(col("doc_b").as("doc_id"))).distinct()
      val sets = documents(s, d)
        .join(members, Seq("doc_id"), "left_semi")
        .select(col("doc_id"),
          array_distinct(wordBigrams(tokens(col("text")))).as("bg"))
        .localCheckpoint() // two join consumers below
      pairs
        .join(sets.select(col("doc_id").as("doc_a"), col("bg").as("ba")),
          Seq("doc_a"))
        .join(sets.select(col("doc_id").as("doc_b"), col("bg").as("bb")),
          Seq("doc_b"))
        .withColumn("n_inter", size(array_intersect(col("ba"), col("bb"))))
        .withColumn("containment", round(col("n_inter").cast("double") /
          least(size(col("ba")), size(col("bb"))).cast("double"), 6))
        .select("doc_a", "doc_b", "n_inter", "containment")
        .orderBy("doc_a", "doc_b")
    }),

    // dd12: sketch-quality measurement — MinHash-ESTIMATED Jaccard
    // (matching signature components / 16) against the EXACT Jaccard
    // of the underlying hashed-shingle sets, per candidate pair. This
    // is the operator that answers "how many bands/rows do I need":
    // at 100 TB you tune the sketch on a sample with exactly this
    // query before committing to a corpus-wide banding layout. The
    // estimate needs only the 16-long signatures (no text); the exact
    // side late-materializes shingle sets for pair members only.
    "dd12_minhash_estimate" -> ((s, d) => {
      registerSketches(s)
      val pairs = candidatePairs(s, d).localCheckpoint()
      val members = pairs.select(col("doc_a").as("doc_id"))
        .union(pairs.select(col("doc_b").as("doc_id"))).distinct()
      val base = documents(s, d)
        .join(members, Seq("doc_id"), "left_semi")
        .select(col("doc_id"),
          call_function("shingle_md5s", col("text")).as("hs_"))
        .select(col("doc_id"), array_distinct(col("hs_")).as("hd_"),
          call_function("minhash_sigs", col("hs_")).as("sig_"))
        .localCheckpoint() // two join consumers below
      val nMatch = (0 until 16).map(j =>
        when(element_at(col("sa"), j + 1) === element_at(col("sb"), j + 1),
          1).otherwise(0)).reduce(_ + _)
      pairs
        .join(base.select(col("doc_id").as("doc_a"), col("hd_").as("ha"),
          col("sig_").as("sa")), Seq("doc_a"))
        .join(base.select(col("doc_id").as("doc_b"), col("hd_").as("hb"),
          col("sig_").as("sb")), Seq("doc_b"))
        .withColumn("n_match", nMatch)
        .withColumn("n_inter", size(array_intersect(col("ha"), col("hb"))))
        .withColumn("jaccard_est",
          round(col("n_match").cast("double") / 16.0, 6))
        .withColumn("jaccard_exact", round(col("n_inter").cast("double") /
          (size(col("ha")) + size(col("hb")) - col("n_inter"))
            .cast("double"), 6))
        .select("doc_a", "doc_b", "n_match", "n_inter", "jaccard_est",
          "jaccard_exact")
        .orderBy("doc_a", "doc_b")
    }),

    // dd07: duplicate-group resolution — connected components over the
    // LSH candidate pairs (the step that turns pairs into dedup
    // groups: keep min-id per group, drop the rest). Each round does
    // min-label propagation over edges (hash-min) AND a pointer-jump
    // (label := label of my label), so label depth halves per round —
    // convergence in O(log diameter) rounds, not O(diameter). The loop
    // exits at the observed fixpoint: the convergence probe is a cheap
    // count on the round's already-materialized checkpoint, so it adds
    // no extra pass over the data.
    "dd07_dup_groups" -> ((s, d) =>
      connectedComponents(candidatePairs(s, d),
        checkpoint = CheckpointStrategy.fromConf(s)).orderBy("doc_id")),

    // dd20: DUPLICATE-AWARE LOSS WEIGHTS (soft dedup) — the
    // alternative to dropping duplicates that recent pretraining
    // pipelines prefer: keep every copy but weight each document
    // 1/|dup group| so a page duplicated 1000× contributes one
    // document's worth of gradient instead of dominating the loss.
    // Composes dd07's CC groups; docs in no candidate pair are their
    // own singleton group (weight 1.0). The weight is one exact IEEE
    // division per group size, so the whole table hash-gates.
    //
    // Scale: dd07's CC cost (pairs/labels only) + one group-size
    // aggregate + a doc_id equi-join of ids — text and vectors never
    // shuffle; the output is the (doc_id, weight) side input a
    // training dataloader joins on.
    "dd20_dup_weights" -> ((s, d) => {
      val groups = connectedComponents(candidatePairs(s, d),
        checkpoint = CheckpointStrategy.fromConf(s))
      // g feeds both the group-size aggregate and the final join;
      // localCheckpoint so the documents-scan + CC-join subtree runs
      // once (same pattern as ml18/ml19's olsBucketSums)
      val g = documents(s, d).select(col("doc_id"))
        .join(groups, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("group_id"), col("doc_id")).as("group_id"))
        .localCheckpoint()
      val sizes = g.groupBy("group_id").agg(count(lit(1)).as("n_members"))
      g.join(sizes, Seq("group_id"))
        .select(col("doc_id"), col("group_id"), col("n_members"),
          round(lit(1.0) / col("n_members").cast("double"), 6).as("weight"))
        .orderBy("doc_id")
    }),

    // dd21: CROSS-SOURCE DUPLICATION MATRIX — which crawls copy from
    // each other: dd07's near-dup groups joined to each member's
    // source, reduced to an unordered source-pair table of duplicate
    // pair counts (src_a==src_b is within-source duplication). The
    // report every multi-source corpus needs before mixing weights:
    // a hot off-diagonal cell means two "independent" sources are the
    // same crawl twice. Pairs are NEVER enumerated — the per-(group,
    // source) membership counts are computed first, and the pair
    // count is the closed form n_a·n_b (C(n,2) on the diagonal), so
    // the group_id self-join runs on the counts table, bounded by
    // groups × sources-per-group, not on members².
    //
    // Scale: dd07's CC cost + one (group, source) aggregate + a
    // group-keyed equi-join of count rows; output is ≤ |sources|²
    // rows, corpus-independent.
    "dd21_source_overlap" -> ((s, d) => {
      val groups = connectedComponents(candidatePairs(s, d),
        checkpoint = CheckpointStrategy.fromConf(s))
      val gs = groups
        .join(documents(s, d).select("doc_id", "source"), Seq("doc_id"))
        .groupBy("group_id", "source").agg(count(lit(1)).as("n"))
        .localCheckpoint() // feeds both sides of the pair join once
      val a = gs.select(col("group_id"), col("source").as("src_a"),
        col("n").as("na"))
      val b = gs.select(col("group_id"), col("source").as("src_b"),
        col("n").as("nb"))
      a.join(b, Seq("group_id"))
        .filter(col("src_a") <= col("src_b"))
        .withColumn("pairs",
          when(col("src_a") === col("src_b"),
            expr("na * (na - 1) DIV 2"))
            .otherwise(col("na") * col("nb")))
        .filter(col("pairs") > 0)
        .groupBy("src_a", "src_b")
        .agg(sum("pairs").as("n_dup_pairs"),
          countDistinct("group_id").as("n_groups"))
        .orderBy("src_a", "src_b")
    }),

    // dd08: embedding near-dup at scale — the UNSAMPLED version of
    // dd06: candidate pairs come only from within a random-hyperplane
    // LSH bucket (same bucketing as ss02), so the join is an equi-join
    // on bucket id over the full table, never an all-pairs cross. The
    // per-bucket pair count is what the plane count controls; dd06's
    // sampled all-pairs form remains as the recall reference.
    "dd08_embedding_dup_lsh" -> ((s, d) =>
      embeddingDupPairs(s, d).orderBy("vec_a", "vec_b")),

    // dd13: SEMANTIC dup groups — the embedding-space twin of dd07:
    // connected components over dd08's bucketed near-dup pairs at a
    // tight cosine threshold. This is the full semantic-dedup
    // pipeline composed end-to-end (hyperplane buckets → in-bucket
    // pairs → transitive groups → keep min id per group); everything
    // shuffled is pairs/labels, never vectors, and the CC loop is
    // the same O(log diameter) pointer-jumping as the text path.
    "dd13_semantic_groups" -> ((s, d) => {
      // the UNORDERED pair builder: dd08's user-facing orderBy would
      // be a wasted full sort here — the CC loop doesn't care
      val pairs = embeddingDupPairs(s, d)
        .filter(col("cos") >= 0.35)
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
      connectedComponents(pairs,
          checkpoint = CheckpointStrategy.fromConf(s))
        .select(col("doc_id").as("vec_id"), col("group_id"))
        .orderBy("vec_id")
    }),

    // dd09: incremental dedup — the daily-ingest shape: an incoming
    // batch (here doc_id % 10 = 9) is checked against the existing
    // corpus WITHOUT re-deduplicating the corpus itself. Exact novelty
    // is an anti-join on the content digest; near-dup exposure is the
    // count of corpus docs sharing any LSH band bucket. Both joins key
    // on digests/bucket ids — the corpus text is never reshuffled, so
    // batch cost scales with the batch, not the corpus.
    "dd09_incremental" -> ((s, d) => {
      val isNew = col("doc_id") % 10 === 9
      val keyed = documents(s, d)
        .select(col("doc_id"), md5(col("text")).as("content_key"))
      val newKeys = keyed.filter(isNew)
      // distinct keys: a key held by several base docs must not fan
      // the left join out to one row per holder
      val baseKeys = keyed.filter(!isNew)
        .select("content_key").distinct()
      val exactDup = newKeys.join(
        baseKeys.withColumn("dup_", lit(1)),
        Seq("content_key"), "left")
        .select(col("doc_id"),
          (col("dup_").isNotNull).as("is_exact_dup"))
      val bands = bandedSigs(s, d)
      val nearHits = bands.filter(isNew)
        .join(bands.filter(!isNew)
            .select(col("doc_id").as("base_id"), col("band"), col("bkey")),
          Seq("band", "bkey"))
        .groupBy("doc_id")
        .agg(countDistinct("base_id").as("n_near_candidates"))
      exactDup.join(nearHits, Seq("doc_id"), "left")
        .select(col("doc_id"), col("is_exact_dup"),
          coalesce(col("n_near_candidates"), lit(0L)).as("n_near_candidates"))
        .orderBy("doc_id")
    }),

    // dd14: MinHash sketch MERGE — the algebraic property that makes
    // MinHash a distributed sketch: the signature of a UNION of
    // shingle sets is the elementwise MIN of the members' signatures.
    // Spark computes collection-level (per-source) sketches by merging
    // the per-document signatures; the ORACLE computes them from the
    // definition (min over the union's hashes) — so the hash gate
    // PROVES the merge law end-to-end, not that two copies of the same
    // shortcut agree. At 100 TB this is how sketches maintain: shards
    // sketch locally, combiners elementwise-min, and collection-level
    // similarity/containment runs on 16 longs per collection without
    // ever revisiting text (partial aggregation does the merging
    // map-side — the shuffle carries one signature per source per
    // partition).
    "dd14_sketch_merge" -> ((s, d) =>
      sourceSketch(sigBank(documents(s, d))).orderBy("source", "j")),

    // dd19: SEMANTIC dedup, cluster-scoped (the SemDeDup recipe:
    // Abbas et al. 2023) — partition the embedding space with the
    // IVF coarse quantizer (ss03's cells, oracle-reproducible), then
    // compare pairs ONLY within a cell and mark every vector that has
    // a higher-similarity-than-τ neighbor with a smaller id. Unlike
    // dd13 (transitive CC groups over LSH pairs), this is the
    // non-transitive keep-first rule the published pipeline uses, and
    // the cluster scoping is what makes it train-scale: pair work is
    // Σ|cell|², bounded by the quantizer's cell size, never corpus².
    //
    // Scale: one cell-keyed equi-shuffle of (id, vector) rows; at
    // 100 TB the cell count grows with the corpus (k ∝ n / target
    // cell size), keeping |cell| constant — the pair join stays
    // linear-ish in n while an unscoped pair join would be n².
    "dd19_semdedup" -> ((s, d) =>
      semDedupOver(s, d,
        graft.similarity.Similarity.ivfCells(s, d)._1)),

    // dd26: SemDeDup SERVED FROM THE MAINTAINED INDEX — dd19's
    // cluster-scoped semantic dedup with the cell partition read back
    // from the PUBLISHED IVF index artifact (ss26's root: base segment
    // + appended delta segments behind the marker) instead of being
    // recomputed from the raw corpus. This is the production
    // composition the index lifecycle exists for: the artifact that
    // already serves ANN probes (ss08), drift monitoring (ss27), and
    // compaction/GC (ss28/ss29) gains a SECOND CONSUMER FAMILY — the
    // curation pipeline's semantic-dedup pass reuses the maintained
    // cell assignment rather than re-clustering the corpus per run
    // (SemDeDup's clustering step is the expensive half at 100 TB; an
    // index you maintain incrementally amortizes it across every
    // consumer). The oracle is dd19's VERBATIM — hash equality is the
    // theorem stored-assignment ≡ from-scratch-assignment composed
    // over the whole dedup pass, which holds because per-wave encoding
    // under frozen geometry is bit-identical to the batch assignment
    // (ss26's law, consumed here rather than re-proven).
    //
    // Scale: reading (vec_id, cell) pairs from the index is an
    // 8 B/row columnar scan with the embedding payload joined once;
    // the pair work stays Σ|cell|² exactly as dd19 — nothing about
    // the dedup changes, only WHERE the clustering came from.
    "dd26_semdedup_from_index" -> ((s, d) => {
      val sim = graft.similarity.Similarity
      val (root, _) = graft.functions.Timing.t("dd26.publish")(
        sim.publishedIvfIndex(s, d))
      semDedupOver(s, d,
        sim.readIvfIndex(s, root).select("vec_id", "cell").distinct())
    }),

    // dd06: embedding-cosine near-dup pairs on a FIXED-SIZE sampled
    // subset (in-order double fold → bit-identical to the oracle).
    // Same corpus-independent ≤ SampleN²/2 pair bound as dd05; the
    // unsampled production path is dd08's bucketed equi-join.
    "dd06_embedding_dup" -> ((s, d) => {
      // norms are precomputed per vector, not per pair — sqrt(dot(v,v))
      // is a pure function of v, so the rounded cosine is unchanged
      // while the pair join does 1 fold instead of 3
      val sub = hashSample(embeddings(s, d), "vec_id")
        .select(col("vec_id"), col("embedding"),
          sqrt(dot(s, col("embedding"), col("embedding"))).as("nrm"))
      val a = sub.select(col("vec_id").as("vec_a"), col("embedding").as("ea"),
        col("nrm").as("na"))
      val b = sub.select(col("vec_id").as("vec_b"), col("embedding").as("eb"),
        col("nrm").as("nb"))
      a.join(b, col("vec_a") < col("vec_b"))
        .withColumn("cos", round(
          dot(s, col("ea"), col("eb")) / (col("na") * col("nb")), 6))
        .filter(col("cos") >= 0.2)
        .select("vec_a", "vec_b", "cos")
        .orderBy("vec_a", "vec_b")
    }),

    // dd15: exact duplicated-SPAN detection — the substring-level
    // complement of dd01's whole-document hash: fixed-width character
    // windows (W=64, stride 32) are content-hashed, a span is
    // "duplicated" when it occurs in ≥2 distinct documents, and each
    // document reports how much of it is made of such shared spans
    // (boilerplate headers, license blocks, templated text — the stuff
    // document-level dedup can't see). This is the bounded-window form
    // of exact-substring training-data dedup; the unbounded-span
    // variant is a suffix-array build, which trades this one linear
    // shuffle for O(n log n) sorts.
    //
    // Scale: windows/doc = len/stride, so the shuffle carries ~24
    // bytes per 32 corpus chars (16-hex-char span hash + doc_id) —
    // LINEAR in corpus size, and the per-hash group is bounded by the
    // number of documents sharing that span. No pair join anywhere.
    "dd15_dup_spans" -> ((s, d) => {
      // materialize the hashed windows once — they feed the dup-hash
      // aggregate, the per-doc totals, and the semi-join (on a
      // cluster: .cache or a parquet checkpoint)
      val spans = documents(s, d)
        .filter(length(col("text")) >= SpanW)
        .select(col("doc_id"),
          explode(sequence(lit(1), length(col("text")) - (SpanW - 1),
            lit(SpanStride))).as("pos"),
          col("text"))
        .select(col("doc_id"),
          substring(md5(expr(s"substring(text, pos, $SpanW)")), 1, 16).as("h"))
        .localCheckpoint()
      val dupH = spans.groupBy("h")
        .agg(countDistinct(col("doc_id")).as("n_docs"))
        .filter(col("n_docs") >= 2).select("h")
      val dupPerDoc = spans.join(dupH, Seq("h"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("n_dup"))
      spans.groupBy("doc_id").agg(count(lit(1)).as("n_windows"))
        .join(dupPerDoc, Seq("doc_id"), "left")
        .withColumn("n_dup", coalesce(col("n_dup"), lit(0L)))
        // floor(x*1e6 + .5) micro-units, not round(): engine round()
        // semantics differ at the .5 double boundary
        .withColumn("dup_frac_u6",
          floor(col("n_dup") * lit(1000000.0) / col("n_windows") + 0.5)
            .cast("long"))
        .select("doc_id", "n_windows", "n_dup", "dup_frac_u6")
        .orderBy("doc_id")
    }),

    // dd22: EXACT-SUBSTRING DUP LADDER — dd15 answers "how much of
    // each doc is duplicated at ONE width"; this is the width LADDER
    // an exact-substring dedup policy is actually tuned on (the Lee
    // et al. "Deduplicating Training Data Makes Language Models
    // Better" regime): for every width in {16,32,64,128,256}, how
    // many distinct spans are shared ACROSS documents, how many docs
    // share the worst span, total cross-doc occurrences, and the
    // lexicographically smallest offending span (the auditable
    // example a policy review wants to see). Stride is 1 — EXACT
    // occurrence semantics, not dd15's 2×-coverage windows.
    //
    // Scale: one walk of each document digests every window of every
    // width (the key is the first 64 bits of the window's md5, the
    // same bits as the oracle's 16-hex prefix); the counting pass
    // shuffles (width, digest, doc_id, pos) — never span text (dd15's
    // rule); groups are bounded by docs actually sharing a span. Span
    // TEXT is extracted late, one substring per cross-doc digest
    // (dd10's lesson), and reduced by min(). The ladder output is
    // |widths| rows. The unbounded-length variant (suffix-array
    // prefix-doubling) trades these linear digest shuffles for
    // O(log n) global sorts; the bounded ladder is what policy
    // tuning actually consumes.
    "dd22_span_ladder" -> ((s, d) => spanLadder(s, d)),

    // dd23: DUPLICATE-SPAN REMOVAL — the rewrite rung above dd22's
    // census: dd15/dd22 DETECT duplicated substrings; this operator
    // actually REMOVES them and hands back the cleaned corpus, the
    // step the Lee et al. exact-substring pipeline ships (keep ONE
    // occurrence of every duplicated span, delete the rest). The
    // corpus is cut into non-overlapping [[SpanW]]-char segments
    // (trailing partial included); a segment INSTANCE survives iff it
    // is the globally-first occurrence of its content — min
    // (doc_id, k) over the content digest, the first-wins rule every
    // dd keep-decision here uses — and each document is re-assembled
    // from its surviving segments. Output per doc: segment totals,
    // removed count, and the rewritten text's length + md5 (the hash
    // PROVES the rewrite without shipping the text).
    //
    // Scale (the late-materialization shape): segment TEXT never
    // enters a shuffle. Pass 1 shuffles (digest, doc_id, k) to elect
    // first occurrences — min(struct) is partial-aggregatable, so
    // map-side combine collapses per-partition repeats; pass 2
    // shuffles (doc_id, k, kept) flags down to per-doc kept-k ARRAYS
    // (ints only); the rebuild is then ONE doc_id equi-join back to
    // the text and a per-row substring concat — the payload moves
    // through exactly one join, never an explode-shuffle. Segments
    // per doc = len/W, so state is linear and bounded everywhere.
    "dd23_span_removal" -> ((s, d) => {
      val w = SpanW
      val docs = documents(s, d)
        .filter(length(col("text")) >= 1)
        .select(col("doc_id"), col("text"))
        .localCheckpoint() // feeds the instance pass AND the rebuild
      val inst = docs
        .select(col("doc_id"),
          explode(sequence(lit(0L),
            floor((length(col("text")) - 1) / w).cast("long"))).as("k"),
          col("text"))
        .select(col("doc_id"), col("k"),
          substring(md5(expr(s"substring(text, k * $w + 1, $w)")), 1, 16)
            .as("h"))
        .localCheckpoint() // feeds the first-wins aggregate AND flags
      val firsts = inst.groupBy("h")
        .agg(min(struct(col("doc_id"), col("k"))).as("wit"))
      val keptKs = inst.join(firsts, Seq("h"))
        .withColumn("kept", col("doc_id") === col("wit.doc_id") &&
          col("k") === col("wit.k"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_segs"),
          sum(when(col("kept"), 0L).otherwise(1L)).as("n_removed"),
          sort_array(collect_list(when(col("kept"), col("k")))).as("ks"))
      docs.join(keptKs, Seq("doc_id"))
        .withColumn("new_text", concat_ws("",
          transform(col("ks"), k =>
            col("text").substr((k * w + 1).cast("int"), lit(w)))))
        .select(col("doc_id"), col("n_segs"), col("n_removed"),
          length(col("new_text")).cast("long").as("new_len"),
          md5(col("new_text")).as("new_md5"))
        .orderBy("doc_id")
    }),

    // dd24: OFFSET-ROBUST duplicate-span removal — dd23 with
    // content-defined segmentation. dd23's segments are 0-anchored
    // (k·W offsets in each doc's OWN coordinate system), so a span
    // duplicated at a 1-char shift never shares a segment digest and
    // the removal pass is blind to it — dd22's stride-1 census SEES
    // such duplicates but dd23 cannot cut them. Here segment
    // boundaries are placed by CONTENT (Rabin/CDC: cut after every
    // [[CdcHashW]]-gram whose hash ≡ 0 mod [[CdcDiv]], the
    // rsync/LBFS rule), so the segmentation is offset-invariant: the
    // interior of a duplicated span chunks identically wherever it
    // lands, its segment digests collide across docs, and dd23's
    // first-wins election + rebuild apply unchanged. Only the (up to
    // CdcHashW+CdcDiv chars of) span edges — where the cut depends on
    // bytes outside the span — can survive, the standard CDC edge
    // effect. Segment lengths carry the LBFS [CdcMin, CdcMax] clamp
    // (see the constants — without it a low-entropy run whose gram
    // hashes ≡ 0 shreds into 1-char segments and the election
    // rewrites that character corpus-wide); the clamp trades a
    // bounded edge effect (thinning near a kept boundary depends on
    // the boundary's position) for bounded segment geometry, exactly
    // the trade rsync/LBFS ship. Output schema = dd23's (totals,
    // removed, rebuilt length + md5).
    //
    // Scale (dd23's late-materialization shape, one extra linear
    // pass): the boundary pass explodes stride-1 grams but shuffles
    // NOTHING of them — the gram hash is computed and filtered in the
    // scan stage, and only (doc_id, cut_pos) ints reach the per-doc
    // boundary aggregate. Segment digests are computed AFTER the one
    // doc_id equi-join of the int boundary arrays back to the text
    // (payload through exactly one join, dd23's rule), so shuffles
    // carry (digest, doc_id, k) and int arrays only. Per-doc state is
    // len/CdcDiv expected boundaries — linear, bounded by max doc
    // size exactly like dd23's len/W segments.
    // dd25: PARAGRAPH-GRANULARITY NEAR-DUP — the production dedup
    // stack's missing rung (RefinedWeb/Dolma dedup at sub-document
    // granularity; dd15's span detection is fuzzy-match, this is
    // sketch-based): fixed 20-token windows per document (the
    // fixture has no newline paragraphs — split('\n\n') is the
    // production one-line swap), MinHash+LSH at PARAGRAPH grain,
    // exact-Jaccard ≥ 0.9 verification of bucket candidates, and
    // every verified duplicate mapped BACK to its (doc, token-span)
    // with the earliest verified partner as keeper — the removal
    // table dd23/dd24's rewrite machinery consumes. The fixture
    // genuinely contains duplicated windows (53 duplicated paragraph
    // texts at sf0.01), so the output is non-trivial at every SF.
    //
    // Scale: per-row sketches, (band,bkey)-only LSH shuffle,
    // candidate-only verification — dd03/dd10's cost shape at
    // paragraph cardinality (~n_tokens/20 rows); nothing all-pairs.
    "dd25_paragraph_dedup" -> ((s, d) =>
      paragraphDupSpans(documents(s, d))),

    "dd24_cdc_span_removal" -> ((s, d) => {
      val wh = CdcHashW
      val dv = CdcDiv
      val docs = documents(s, d)
        .filter(length(col("text")) >= 1)
        .select(col("doc_id"), col("text"),
          length(col("text")).cast("long").as("len"))
        // spread before per-position work: the fixture parquet reads
        // as 1–2 partitions and localCheckpoint pins that (the dd22
        // lesson — the boundary explode would run on 1–2 cores)
        .repartition(s.sparkContext.defaultParallelism)
        .localCheckpoint() // feeds cuts, the segment join, the rebuild
      val cuts = docs
        .filter(col("len") >= wh)
        .select(col("doc_id"),
          explode(sequence(lit(1L), col("len") - (wh - 1))).as("i"),
          col("text"))
        .filter(md5Long(expr(s"substring(text, i, $wh)"), 7) % dv === 0)
        .select(col("doc_id"), (col("i") + (wh - 1)).as("pos"))
      // [CdcMin, CdcMax] clamp (see the constants): one left-to-right
      // fold per doc over the sorted content cuts + the len sentinel —
      // skip a cut closer than CdcMin to the last kept boundary, force
      // cuts every CdcMax across longer gaps, always end at len (the
      // one segment allowed shorter than CdcMin). The fold is a
      // per-row array aggregate over ~len/CdcDiv ints — no extra scan,
      // no extra shuffle vs the unclamped sentinel union.
      val (mn, mx) = (CdcMin, CdcMax)
      val clampFold =
        s"""aggregate(
           |  concat(filter(cs, x -> x < len), array(len)),
           |  array(CAST(0 AS BIGINT)),
           |  (acc, p) -> concat(
           |    acc,
           |    CASE WHEN (p - element_at(acc, -1) - 1) div $mx > 0
           |         THEN sequence(element_at(acc, -1) + $mx,
           |                       element_at(acc, -1) +
           |                         ((p - element_at(acc, -1) - 1) div $mx)
           |                           * $mx,
           |                       $mx)
           |         ELSE CAST(array() AS ARRAY<BIGINT>) END,
           |    CASE WHEN p = len OR
           |              p - (element_at(acc, -1) +
           |                ((p - element_at(acc, -1) - 1) div $mx) * $mx)
           |                >= $mn
           |         THEN array(p)
           |         ELSE CAST(array() AS ARRAY<BIGINT>) END))""".stripMargin
      val bounds = docs.select(col("doc_id"), col("len"))
        .join(cuts.groupBy("doc_id")
          .agg(sort_array(collect_list(col("pos"))).as("cs")),
          Seq("doc_id"), "left")
        .withColumn("cs",
          coalesce(col("cs"), expr("CAST(array() AS ARRAY<BIGINT>)")))
        .select(col("doc_id"), expr(clampFold).as("bs"))
      val inst = docs.join(bounds, Seq("doc_id"))
        .select(col("doc_id"), col("text"), col("bs"),
          explode(sequence(lit(0), size(col("bs")) - 2)).as("j"))
        .select(col("doc_id"), col("j").cast("long").as("k"),
          element_at(col("bs"), col("j") + 1).as("st"),
          (element_at(col("bs"), col("j") + 2)
            - element_at(col("bs"), col("j") + 1)).as("wd"),
          col("text"))
        .select(col("doc_id"), col("k"), col("st"), col("wd"),
          substring(md5(col("text").substr((col("st") + 1).cast("int"),
            col("wd").cast("int"))), 1, 16).as("h"))
        .localCheckpoint() // feeds the first-wins aggregate AND flags
      val firsts = inst.groupBy("h")
        .agg(min(struct(col("doc_id"), col("k"))).as("wit"))
      val keptKs = inst.join(firsts, Seq("h"))
        .withColumn("kept", col("doc_id") === col("wit.doc_id") &&
          col("k") === col("wit.k"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_segs"),
          sum(when(col("kept"), 0L).otherwise(1L)).as("n_removed"),
          sort_array(collect_list(when(col("kept"),
            struct(col("k"), col("st"), col("wd"))))).as("ks"))
      docs.join(keptKs, Seq("doc_id"))
        .withColumn("new_text", concat_ws("",
          transform(col("ks"), t =>
            col("text").substr((t.getField("st") + 1).cast("int"),
              t.getField("wd").cast("int")))))
        .select(col("doc_id"), col("n_segs"), col("n_removed"),
          length(col("new_text")).cast("long").as("new_len"),
          md5(col("new_text")).as("new_md5"))
        .orderBy("doc_id")
    }),

    // dd16: canonical-REPRESENTATIVE selection — the "which duplicate
    // do we KEEP" decision that turns dd07's group ids into an
    // actionable keep/drop list: per near-dup group, the member with
    // the highest ta02 quality score (doc_id as the deterministic
    // tie-break), plus the group size the curation report wants.
    //
    // Scale: groups cover only the duplicate TAIL of the corpus, so
    // the per-row quality math runs AFTER a semi-join down to members
    // (dd10's late-materialization lesson — score the tail, not the
    // corpus); the argmax is one row_number window over group-sized
    // partitions, and everything shuffled is keyed by doc_id/group_id.
    "dd16_canonical_docs" -> ((s, d) => {
      val groups = connectedComponents(candidatePairs(s, d),
        checkpoint = CheckpointStrategy.fromConf(s))
      val memberDocs = documents(s, d)
        .join(groups.select("doc_id"), Seq("doc_id"), "left_semi")
      val m = groups.join(
        TextAnalysis.qualityScored(memberDocs)
          .select("doc_id", "quality_score"), "doc_id")
      val counts = m.groupBy("group_id").agg(count(lit(1)).as("n_members"))
      val w = Window.partitionBy("group_id")
        .orderBy(col("quality_score").desc, col("doc_id").asc)
      m.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .join(counts, "group_id")
        .select(col("group_id"), col("n_members"),
          col("doc_id").as("kept_doc_id"),
          col("quality_score").as("kept_quality"))
        .orderBy("group_id")
    })
  )

  // ---- dd22 span ladder ---------------------------------------------

  /** The corpus, spread to full parallelism before per-position
    * work. The fixture parquet reads as 1–2 partitions (it is far
    * under maxPartitionBytes), and localCheckpoint PINS that — so the
    * window-digest walk downstream would run on 1–2 cores. One small
    * round-robin shuffle of the 5000-row doc table buys 32-way md5
    * throughput; at cluster scale the file split count makes this a
    * no-op-sized rebalance. Checkpointed because the digest walk and
    * the witness extraction both read it. */
  private def ladderDocs(s: SparkSession, d: String): DataFrame =
    documents(s, d).select(col("doc_id"), col("text"))
      .repartition(s.sparkContext.defaultParallelism)
      .localCheckpoint()

  /** dd22's window-digest kernel: (w, doc_id, pos, h) for every width
    * w in [[SpanLadder]] and every 1-based position pos with
    * pos + w - 1 ≤ length(text), from ONE walk of each document. h is
    * the first 8 bytes of md5 over the window's UTF-8 bytes, i.e. the
    * same 64 bits as `substring(md5(substring(text, pos, w)), 1, 16)`,
    * so grouping on it equals grouping on that hex prefix (the DuckDB
    * oracle's key). Code points are counted over the raw UTF-8 bytes
    * with `UTF8String.numBytesForFirstByte`, the rule Spark's `length`
    * and `substring` count with; the byte offset of every code point is
    * found once, so a window's bytes are a slice of the document and
    * no position walks the string from its start. A null text emits
    * nothing. One digest per task. */
  private def windowDigests(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    val widths = SpanLadder
    docs.select(col("doc_id"), col("text").cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        val md = MessageDigest.getInstance("MD5")
        val digest = new Array[Byte](16)
        val prefix = ByteBuffer.wrap(digest)
        rows.filter(_._2 != null).flatMap { case (docId, bytes) =>
          val starts = new Array[Int](bytes.length + 1)
          var n = 0
          var i = 0
          while (i < bytes.length) {
            starts(n) = i
            n += 1
            i += UTF8String.numBytesForFirstByte(bytes(i))
          }
          starts(n) = math.min(i, bytes.length)
          widths.iterator.flatMap { w =>
            (0 to n - w).iterator.map { p =>
              md.update(bytes, starts(p), starts(p + w) - starts(p))
              md.digest(digest, 0, 16)
              (w, docId, p + 1, prefix.getLong(0))
            }
          }
        }
      }
      .toDF("w", "doc_id", "pos", "h")
  }

  /** dd22: the window digests through ONE election aggregate (digests
    * seen in ≥ 2 docs, with occurrence counts and the min-(doc, pos)
    * witness), then ONE per-width aggregate that also extracts each
    * witness's span LATE — one substring per cross digest, never per
    * position — and takes the smallest. doc_id is the documents key,
    * so the witness join keeps one row per cross digest. Widths
    * without a cross span read 0 with a null span. */
  private def spanLadder(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = ladderDocs(s, d)
    val perWidth = windowDigests(s, docs)
      .groupBy("w", "h")
      .agg(countDistinct("doc_id").as("n_docs"),
        count(lit(1)).as("n_occ"),
        min(struct(col("doc_id"), col("pos"))).as("wit"))
      .filter(col("n_docs") >= 2)
      .select(col("w"), col("n_docs"), col("n_occ"),
        col("wit.doc_id").as("doc_id"), col("wit.pos").as("pos"))
      .join(docs, Seq("doc_id"))
      .groupBy("w")
      .agg(count(lit(1)).as("n_cross_spans"),
        max("n_docs").as("max_docs"),
        sum("n_occ").as("n_cross_occ"),
        min(expr("substring(text, pos, w)")).as("min_cross_span"))
    SpanLadder.toDF("w")
      .join(perWidth, Seq("w"), "left")
      .select(col("w").cast("long"),
        coalesce(col("n_cross_spans"), lit(0L)).as("n_cross_spans"),
        coalesce(col("max_docs"), lit(0L)).as("max_docs"),
        coalesce(col("n_cross_occ"), lit(0L)).as("n_cross_occ"),
        col("min_cross_span"))
      .orderBy("w")
  }

  // ---- oracles ------------------------------------------------------

  private val prefixShinglesSql =
    """list_distinct(list_transform(
      |  generate_series(1, greatest(length(substr(text, 1, 64)) - 13, 1)),
      |  i -> substr(substr(text, 1, 64), i, 14)))""".stripMargin

  private val paramsValues = MinhashParams
    .map { case (j, a, b) => s"($j, ${a}::BIGINT, ${b}::BIGINT)" }
    .mkString(", ")

  // ---- dd25: paragraph-granularity near-dup, doc back-mapping -----

  /** dd25's paragraphizer width: non-overlapping [[ParaW]]-token
    * windows. The fixture's documents are single-line word streams
    * (no newlines anywhere — verified), so the deterministic
    * "paragraph" is a fixed token window; the production splitter is
    * `split(text, '\n\n')` — a one-line swap that changes nothing
    * downstream because everything operates on (doc_id, para_idx,
    * ptext) rows. */
  private[graft] val ParaW = 20

  /** Paragraph key arithmetic: pkey = doc_id * base + para_idx packs
    * the (doc, para) identity into one join key. 2^20 paragraphs per
    * document = a 20M-token document before collision — stated, not
    * checked per row. */
  private[graft] val ParaKeyBase = 1048576L

  /** (doc_id, para_idx, pkey, start_tok, n_tok, ptext) — one row per
    * fixed-width token window of each document. */
  private[graft] def paragraphsOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        filter(split(col("text"), " "), t => length(t) > 0).as("ts"))
      .filter(size(col("ts")) >= 1)
      .select(col("doc_id"), col("ts"),
        explode(sequence(lit(0L),
          ceil(size(col("ts")).cast("double") / lit(ParaW.toDouble))
            - 1L)).as("para_idx"))
      .select(col("doc_id"), col("para_idx"),
        (col("doc_id") * ParaKeyBase + col("para_idx")).as("pkey"),
        (col("para_idx") * ParaW + 1L).as("start_tok"),
        least(lit(ParaW.toLong),
          size(col("ts")) - col("para_idx") * ParaW).as("n_tok"),
        concat_ws(" ",
          slice(col("ts"), (col("para_idx") * ParaW + 1L).cast("int"),
            lit(ParaW))).as("ptext"))

  /** The dd25 core over an ARBITRARY (doc_id, text) frame: paragraphs
    * → 14-char shingle MinHash (full paragraph text, not dd02's
    * 64-char prefix — a paragraph IS short) → the standard 4×4 LSH
    * banding → bucket-joined candidate pairs → exact-Jaccard
    * verification at ≥0.9 (integer cross-multiplication) → each
    * verified duplicate mapped back to (doc, span) with its earliest
    * verified partner resolved to a SURVIVING keeper
    * ([[resolveKeepers]] — ≥0.9 Jaccard is non-transitive, so the raw
    * min-partner can itself be removed). Returns one row per REMOVED
    * paragraph: (doc_id, para_idx, start_tok, n_tok, keep_doc,
    * keep_para) — the span table dd23/dd24-style removal rewrites
    * from. Factored over the frame so the spec can plant a duplicated
    * paragraph across synthetic docs.
    *
    * Scale: per-row sketches (zero shuffle), the LSH shuffle carries
    * (band, bkey) pairs only, verification late-materializes shingle
    * sets for CANDIDATE pairs only (dd10's discipline), and the
    * keeper aggregate is per removed paragraph — all-pairs never
    * exists at any stage. */
  private[graft] def paragraphDupSpans(docs: DataFrame): DataFrame = {
    import graft.functions.Timing.t
    registerSketches(docs.sparkSession)
    val paras = t("dd25.paras_ckpt")(paragraphsOf(docs).localCheckpoint())
    // shingle hashes in their own projection (the CSE lesson at
    // minhashSigs), consumed by BOTH the signature pass and the
    // verification join
    val hs = t("dd25.hs_ckpt")(paras
      .select(col("pkey"),
        array_distinct(charShingles(col("ptext"), 14)).as("sh"))
      .select(col("pkey"), transform(col("sh"), x => md5Long(x, 7)).as("hs"))
      .localCheckpoint())
    val banded = hs
      .select(col("pkey"), call_function("minhash_sigs", col("hs")).as("sig_"))
      .select(col("pkey"), explode(array((0 until NumBands).map { b =>
        struct(lit(b).as("band"),
          concat_ws(",", (0 until RowsPerBand).map(r =>
            element_at(col("sig_"), b * RowsPerBand + r + 1)
              .cast("string")): _*).as("bkey"))
      }: _*)).as("bk"))
      .select(col("pkey"), col("bk.band").as("band"),
        col("bk.bkey").as("bkey"))
    val pairs = banded.alias("a")
      .join(banded.alias("b"),
        col("a.band") === col("b.band") &&
          col("a.bkey") === col("b.bkey") &&
          col("a.pkey") < col("b.pkey"))
      .select(col("a.pkey").as("pa"), col("b.pkey").as("pb"))
      .distinct()
    val removed = t("dd25.resolveKeepers")(resolveKeepers(pairs
      .join(hs.select(col("pkey").as("pa"), col("hs").as("hs_a")), Seq("pa"))
      .join(hs.select(col("pkey").as("pb"), col("hs").as("hs_b")), Seq("pb"))
      .withColumn("n_inter",
        size(array_intersect(col("hs_a"), col("hs_b"))).cast("long"))
      .withColumn("n_union",
        (size(col("hs_a")) + size(col("hs_b"))).cast("long") - col("n_inter"))
      .filter(col("n_inter") * 10L >= col("n_union") * 9L)
      .groupBy(col("pb").as("pkey"))
      .agg(min("pa").as("keeper"))))
    removed.join(paras, Seq("pkey"))
      .select(col("doc_id"), col("para_idx"), col("start_tok"),
        col("n_tok"),
        floor(col("keeper") / lit(ParaKeyBase)).cast("long")
          .as("keep_doc"),
        pmod(col("keeper"), lit(ParaKeyBase)).as("keep_para"))
      .orderBy("doc_id", "para_idx")
  }

  /** Resolve keeper chains to a SURVIVING root: min-partner keepers
    * can themselves be removed when ≥0.9 Jaccard is non-transitive
    * (A~B, B~C, A≁C leaves C pointing at the removed B — round-13
    * advisor), so a consumer rewriting spans from the table would
    * drop content with no surviving copy. Keepers strictly decrease
    * along a chain (min(pa) < pb by the pair ordering), so the chains
    * form a DAG and pointer-doubling (k ← k∘k each round) reaches the
    * chain's surviving end in O(log longest-chain) rounds — dd07's
    * reachability discipline applied to the removal table, which is
    * candidate-sized, never corpus-sized. */
  private[graft] def resolveKeepers(removed0: DataFrame): DataFrame = {
    var rem = removed0.localCheckpoint()
    var changed = true
    while (changed) {
      // the convergence flag rides the jump itself (new keeper ≠ old
      // keeper ⟺ a non-null k2 differs) — the old shape re-joined
      // the jumped frame against rem and ran a second job per round
      // just to ask "did anything move"
      val jumped = rem.alias("r")
        .join(rem.select(col("pkey").as("keeper"),
            col("keeper").as("k2")).alias("j"),
          Seq("keeper"), "left")
        .select(col("pkey"),
          coalesce(col("k2"), col("keeper")).as("keeper"),
          (col("k2").isNotNull && col("k2") =!= col("keeper"))
            .as("chg"))
        .localCheckpoint()
      changed = jumped.filter(col("chg")).limit(1).count() > 0
      rem = jumped.select("pkey", "keeper")
    }
    rem
  }

  /** dd07/dd16 shared chain: MinHash bands → candidate pairs →
    * symmetric edges → recursive reachability → `groups(doc_id,
    * group_id)` with the min-reachable-id as the group label. */
  private val minhashGroupsCte =
    s"""bands AS (
       |  SELECT doc_id, j // ${RowsPerBand} AS band,
       |    string_agg(minhash, ',' ORDER BY j) AS bkey
       |  FROM sig GROUP BY doc_id, j // ${RowsPerBand}
       |), pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
       |), edges AS (
       |  SELECT doc_a, doc_b FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs
       |), reach AS (
       |  WITH RECURSIVE r(src, dst) AS (
       |    SELECT doc_a, doc_a FROM edges
       |    UNION
       |    SELECT r.src, e.doc_b FROM r JOIN edges e ON r.dst = e.doc_a
       |  ) SELECT src, dst FROM r
       |), groups AS (
       |  SELECT src AS doc_id, min(dst) AS group_id
       |  FROM reach GROUP BY src
       |)""".stripMargin

  private[graft] val sigCte =
    s"""hs AS (
       |  SELECT doc_id, ('0x' || substr(md5(s), 1, 7))::BIGINT AS h FROM (
       |    SELECT doc_id, unnest($prefixShinglesSql) AS s FROM documents)
       |), params(j, a, b) AS (VALUES $paramsValues),
       |sig AS (
       |  SELECT doc_id, j, min((h * a + b) % ${P}) AS minhash
       |  FROM hs CROSS JOIN params GROUP BY doc_id, j
       |)""".stripMargin

  private val simhashBitsSql = (0 until 32).map { b =>
    s"""(CASE WHEN list_reduce(list_prepend(0::BIGINT,
       |  list_transform(hs, h -> ((h >> $b) & 1) * 2 - 1)),
       |  (acc, v) -> acc + v) > 0 THEN ${1L << b}::BIGINT ELSE 0::BIGINT END)"""
      .stripMargin.replace("\n", "")
  }.mkString(" + ")

  private def dotSql(x: String, y: String) = dotProductSql(x, y)

  /** dd19/dd26's shared oracle: the full SemDeDup recomputation —
    * from-scratch IVF cell assignment, within-cell pairs, keep-first
    * verdict. dd26's hash equality under this SAME text is the
    * stored-assignment ≡ from-scratch theorem at the dedup layer. */
  private def semDedupOracleSql: String =
    s"""WITH ${graft.similarity.Similarity.ivfSqlCtes}, pairs AS (
       |  SELECT bb.vec_id,
       |    round(${dotSql("ea.embedding", "eb.embedding")} /
       |      (sqrt(${dotSql("ea.embedding", "ea.embedding")}) *
       |       sqrt(${dotSql("eb.embedding", "eb.embedding")})), 6) AS cos
       |  FROM ivf_assigned ab
       |  JOIN ivf_assigned bb ON ab.cell = bb.cell
       |   AND ab.vec_id < bb.vec_id
       |  JOIN embeddings ea ON ea.vec_id = ab.vec_id
       |  JOIN embeddings eb ON eb.vec_id = bb.vec_id
       |), dups AS (
       |  SELECT DISTINCT vec_id FROM pairs WHERE cos >= $SemTau
       |)
       |SELECT v.vec_id, v.cell, (d.vec_id IS NOT NULL) AS is_semdup
       |FROM ivf_assigned v LEFT JOIN dups d ON v.vec_id = d.vec_id
       |ORDER BY v.vec_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "dd01_exact_dedup" ->
      """SELECT md5(substr(text, 1, 64)) AS content_key, count(*) AS n_docs,
        |  min(doc_id) AS keeper_doc_id
        |FROM documents
        |GROUP BY 1 HAVING count(*) > 1
        |ORDER BY content_key""".stripMargin,

    "dd17_canonical_dedup" ->
      """SELECT md5(substr(trim(regexp_replace(lower(text),
        |    '[^a-z0-9]+', ' ', 'g')), 1, 64)) AS canon_key,
        |  count(*) AS n_docs, min(doc_id) AS keeper_doc_id
        |FROM documents
        |GROUP BY 1 HAVING count(*) > 1
        |ORDER BY canon_key""".stripMargin,

    "dd02_minhash_sig" ->
      s"""WITH $sigCte
         |SELECT doc_id, j, minhash FROM sig ORDER BY doc_id, j""".stripMargin,

    // dd18: per-config band CTEs (band key = the ordered minhash
    // slice as a ':'-joined string, matching Spark's concat_ws over
    // slice), distinct OR-over-bands pairs, signature-agreement
    // estimate joined for candidates only
    "dd18_lsh_tuning" -> {
      val cfgCtes = LshTuningConfigs.map { case (b, r) =>
        s"""bd$b AS (
           |  SELECT doc_id, j // $r AS band,
           |    string_agg(CAST(minhash AS VARCHAR), ':' ORDER BY j) AS key
           |  FROM sig GROUP BY doc_id, j // $r
           |), pp$b AS (
           |  SELECT DISTINCT $b AS bands, $r AS rows_per_band,
           |    a.doc_id AS doc_a, b2.doc_id AS doc_b
           |  FROM bd$b a JOIN bd$b b2
           |    ON a.band = b2.band AND a.key = b2.key
           |   AND a.doc_id < b2.doc_id
           |)""".stripMargin
      }.mkString(",\n")
      val unionAll = LshTuningConfigs.map { case (b, _) =>
        s"SELECT * FROM pp$b" }.mkString("\n  UNION ALL ")
      s"""WITH $sigCte,
         |$cfgCtes,
         |cand AS (
         |  $unionAll
         |), est AS (
         |  SELECT c.bands, c.rows_per_band, c.doc_a, c.doc_b,
         |    CAST(floor(CAST((
         |      SELECT count(*) FROM sig xa JOIN sig xb
         |      ON xa.j = xb.j AND xa.minhash = xb.minhash
         |      WHERE xa.doc_id = c.doc_a AND xb.doc_id = c.doc_b
         |    ) AS DOUBLE) / 16 * 1000000 + 0.5) AS BIGINT) AS est_u6
         |  FROM cand c
         |)
         |SELECT CAST(bands AS INT) AS bands,
         |  CAST(rows_per_band AS INT) AS rows_per_band,
         |  count(*) AS n_candidate_pairs,
         |  round(CAST(sum(est_u6) AS DOUBLE) / count(*) / 1000000.0, 6)
         |    AS mean_est_jaccard
         |FROM est
         |GROUP BY 1, 2
         |ORDER BY bands DESC""".stripMargin
    },

    // dd25: the whole paragraph-grain chain recomputed — windows,
    // full-text shingle MinHash, 4×4 banding, bucket pairs, exact
    // Jaccard ≥ 0.9 by integer cross-multiplication, earliest-partner
    // keeper, span back-mapping.
    "dd25_paragraph_dedup" ->
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    list_filter(string_split(text, ' '), t -> length(t) > 0)
         |      AS ts
         |  FROM documents
         |), paras AS (
         |  SELECT doc_id, g.i AS para_idx,
         |    doc_id * $ParaKeyBase + g.i AS pkey,
         |    g.i * $ParaW + 1 AS start_tok,
         |    least($ParaW, len(ts) - g.i * $ParaW) AS n_tok,
         |    array_to_string(
         |      ts[(g.i * $ParaW + 1):(g.i * $ParaW + $ParaW)], ' ')
         |      AS ptext
         |  FROM toks, LATERAL unnest(generate_series(0,
         |    CAST(ceil(len(ts) / ${ParaW}.0) AS BIGINT) - 1)) AS g(i)
         |  WHERE len(ts) >= 1
         |), ph AS (
         |  SELECT pkey, list_transform(list_distinct(
         |      list_transform(
         |        generate_series(1, greatest(length(ptext) - 13, 1)),
         |        i -> substr(ptext, i, 14))),
         |    s -> ('0x' || substr(md5(s), 1, 7))::BIGINT) AS hs
         |  FROM paras
         |), hsx AS (
         |  SELECT pkey, unnest(hs) AS h FROM ph
         |), params(j, a, b) AS (VALUES $paramsValues),
         |psig AS (
         |  SELECT pkey, j, min((h * a + b) % $P) AS minhash
         |  FROM hsx CROSS JOIN params GROUP BY pkey, j
         |), pbands AS (
         |  SELECT pkey, j // $RowsPerBand AS band,
         |    string_agg(minhash, ',' ORDER BY j) AS bkey
         |  FROM psig GROUP BY pkey, j // $RowsPerBand
         |), cand AS (
         |  SELECT DISTINCT a.pkey AS pa, b.pkey AS pb
         |  FROM pbands a JOIN pbands b
         |    ON a.band = b.band AND a.bkey = b.bkey AND a.pkey < b.pkey
         |), rem0 AS (
         |  SELECT pb AS pkey, min(pa) AS keeper FROM (
         |    SELECT c.pa, c.pb,
         |      CAST(len(list_intersect(x.hs, y.hs)) AS BIGINT) AS ni,
         |      CAST(len(x.hs) + len(y.hs) AS BIGINT)
         |        - CAST(len(list_intersect(x.hs, y.hs)) AS BIGINT) AS nu
         |    FROM cand c
         |    JOIN ph x ON x.pkey = c.pa
         |    JOIN ph y ON y.pkey = c.pb)
         |  WHERE ni * 10 >= nu * 9
         |  GROUP BY pb
         |), remr AS (
         |  -- keeper chains resolved to a SURVIVING root: keepers
         |  -- strictly decrease, so min over the reachable set is the
         |  -- chain's end — the one pointer with no rem0 entry
         |  WITH RECURSIVE rr(pkey, keeper) AS (
         |    SELECT pkey, keeper FROM rem0
         |    UNION
         |    SELECT rr.pkey, n.keeper FROM rr JOIN rem0 n
         |      ON rr.keeper = n.pkey
         |  ) SELECT pkey, keeper FROM rr
         |), rem AS (
         |  SELECT pkey, min(keeper) AS keeper FROM remr GROUP BY pkey
         |)
         |SELECT p.doc_id, p.para_idx, p.start_tok, p.n_tok,
         |  r.keeper // $ParaKeyBase AS keep_doc,
         |  r.keeper % $ParaKeyBase AS keep_para
         |FROM rem r JOIN paras p USING (pkey)
         |ORDER BY p.doc_id, p.para_idx""".stripMargin,

    "dd03_lsh_pairs" ->
      s"""WITH $sigCte,
         |bands AS (
         |  SELECT doc_id, j // ${RowsPerBand} AS band,
         |    string_agg(minhash, ',' ORDER BY j) AS bkey
         |  FROM sig GROUP BY doc_id, j // ${RowsPerBand}
         |)
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |FROM bands a JOIN bands b
         |  ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
         |ORDER BY doc_a, doc_b""".stripMargin,

    "dd04_simhash" ->
      s"""SELECT doc_id, $simhashBitsSql AS simhash FROM (
         |  SELECT doc_id, list_transform(
         |    list_distinct(list_filter(string_split(text, ' '), t -> length(t) > 0)),
         |    t -> ('0x' || substr(md5(t), 1, 8))::BIGINT) AS hs
         |  FROM documents)
         |ORDER BY doc_id""".stripMargin,

    "dd05_ngram_jaccard" ->
      s"""WITH sub AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> length(t) > 0) AS toks
        |  FROM (SELECT doc_id, text FROM documents
        |        ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT $SampleN)
        |), sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, greatest(len(toks) - 1, 1)),
        |    i -> concat_ws(' ', toks[i], toks[i + 1])))) AS s
        |  FROM sub
        |), sizes AS (
        |  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
        |), inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT doc_a, doc_b, n_inter,
        |  round(CAST(n_inter AS DOUBLE) / CAST(sa.n + sb.n - n_inter AS DOUBLE), 6) AS jaccard
        |FROM inter
        |JOIN sizes sa ON doc_a = sa.doc_id
        |JOIN sizes sb ON doc_b = sb.doc_id
        |WHERE round(CAST(n_inter AS DOUBLE) / CAST(sa.n + sb.n - n_inter AS DOUBLE), 6) >= 0.06
        |ORDER BY doc_a, doc_b""".stripMargin,

    // computes the per-source sketch FROM THE DEFINITION (min over the
    // union's shingle hashes) — Spark merges per-doc sketches instead,
    // so a hash match proves the merge law
    "dd14_sketch_merge" ->
      s"""WITH $sigCte
         |SELECT d.source, p.j,
         |  min((h.h * p.a + p.b) % ${P}) AS minhash
         |FROM hs h
         |JOIN documents d ON d.doc_id = h.doc_id
         |CROSS JOIN params p
         |GROUP BY d.source, p.j
         |ORDER BY source, j""".stripMargin,

    "dd10_lsh_verified" ->
      s"""WITH $sigCte,
         |bands AS (
         |  SELECT doc_id, j // ${RowsPerBand} AS band,
         |    string_agg(minhash, ',' ORDER BY j) AS bkey
         |  FROM sig GROUP BY doc_id, j // ${RowsPerBand}
         |), pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
         |), sets AS (
         |  SELECT doc_id, list_distinct(list_transform(
         |    generate_series(1, greatest(len(toks) - 1, 1)),
         |    i -> concat_ws(' ', toks[i], toks[i + 1]))) AS bg
         |  FROM (SELECT doc_id,
         |    list_filter(string_split(text, ' '), t -> length(t) > 0) AS toks
         |    FROM documents)
         |)
         |SELECT doc_a, doc_b,
         |  len(list_intersect(a.bg, b.bg)) AS n_inter,
         |  round(CAST(len(list_intersect(a.bg, b.bg)) AS DOUBLE) /
         |    CAST(len(a.bg) + len(b.bg) - len(list_intersect(a.bg, b.bg))
         |      AS DOUBLE), 6) AS jaccard
         |FROM pairs
         |JOIN sets a ON doc_a = a.doc_id
         |JOIN sets b ON doc_b = b.doc_id
         |ORDER BY doc_a, doc_b""".stripMargin,

    "dd11_containment" ->
      s"""WITH $sigCte,
         |bands AS (
         |  SELECT doc_id, j // ${RowsPerBand} AS band,
         |    string_agg(minhash, ',' ORDER BY j) AS bkey
         |  FROM sig GROUP BY doc_id, j // ${RowsPerBand}
         |), pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
         |), sets AS (
         |  SELECT doc_id, list_distinct(list_transform(
         |    generate_series(1, greatest(len(toks) - 1, 1)),
         |    i -> concat_ws(' ', toks[i], toks[i + 1]))) AS bg
         |  FROM (SELECT doc_id,
         |    list_filter(string_split(text, ' '), t -> length(t) > 0) AS toks
         |    FROM documents)
         |)
         |SELECT doc_a, doc_b,
         |  len(list_intersect(a.bg, b.bg)) AS n_inter,
         |  round(CAST(len(list_intersect(a.bg, b.bg)) AS DOUBLE) /
         |    CAST(least(len(a.bg), len(b.bg)) AS DOUBLE), 6) AS containment
         |FROM pairs
         |JOIN sets a ON doc_a = a.doc_id
         |JOIN sets b ON doc_b = b.doc_id
         |ORDER BY doc_a, doc_b""".stripMargin,

    "dd12_minhash_estimate" ->
      s"""WITH $sigCte,
         |bands AS (
         |  SELECT doc_id, j // ${RowsPerBand} AS band,
         |    string_agg(minhash, ',' ORDER BY j) AS bkey
         |  FROM sig GROUP BY doc_id, j // ${RowsPerBand}
         |), pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
         |), hd AS (
         |  SELECT DISTINCT doc_id, h FROM hs
         |), sizes AS (
         |  SELECT doc_id, count(*) AS n FROM hd GROUP BY doc_id
         |), inter AS (
         |  SELECT p.doc_a, p.doc_b, count(*) AS n_inter
         |  FROM pairs p
         |  JOIN hd x ON x.doc_id = p.doc_a
         |  JOIN hd y ON y.doc_id = p.doc_b AND y.h = x.h
         |  GROUP BY p.doc_a, p.doc_b
         |), matches AS (
         |  SELECT p.doc_a, p.doc_b,
         |    CAST(count(CASE WHEN sa.minhash = sb.minhash THEN 1 END)
         |      AS BIGINT) AS n_match
         |  FROM pairs p
         |  JOIN sig sa ON sa.doc_id = p.doc_a
         |  JOIN sig sb ON sb.doc_id = p.doc_b AND sb.j = sa.j
         |  GROUP BY p.doc_a, p.doc_b
         |)
         |SELECT m.doc_a, m.doc_b, m.n_match,
         |  CAST(COALESCE(i.n_inter, 0) AS BIGINT) AS n_inter,
         |  round(CAST(m.n_match AS DOUBLE) / 16.0, 6) AS jaccard_est,
         |  round(CAST(COALESCE(i.n_inter, 0) AS DOUBLE) /
         |    CAST(sa.n + sb.n - COALESCE(i.n_inter, 0) AS DOUBLE), 6)
         |    AS jaccard_exact
         |FROM matches m
         |LEFT JOIN inter i ON i.doc_a = m.doc_a AND i.doc_b = m.doc_b
         |JOIN sizes sa ON m.doc_a = sa.doc_id
         |JOIN sizes sb ON m.doc_b = sb.doc_id
         |ORDER BY m.doc_a, m.doc_b""".stripMargin,

    "dd07_dup_groups" ->
      s"""WITH $sigCte,
         |$minhashGroupsCte
         |SELECT doc_id, group_id FROM groups
         |ORDER BY doc_id""".stripMargin,

    // dd07's groups extended to every document (singletons are their
    // own group), sized, and inverted into loss weights
    "dd20_dup_weights" ->
      s"""WITH $sigCte,
         |$minhashGroupsCte,
         |all_g AS (
         |  SELECT d.doc_id, coalesce(g.group_id, d.doc_id) AS group_id
         |  FROM documents d LEFT JOIN groups g USING (doc_id)
         |), sizes AS (
         |  SELECT group_id, count(*) AS n_members
         |  FROM all_g GROUP BY group_id
         |)
         |SELECT a.doc_id, a.group_id, s.n_members,
         |  round(1.0 / CAST(s.n_members AS DOUBLE), 6) AS weight
         |FROM all_g a JOIN sizes s USING (group_id)
         |ORDER BY a.doc_id""".stripMargin,

    // dd07's groups joined to sources, pair counts in closed form
    // from the per-(group, source) membership counts
    "dd21_source_overlap" ->
      s"""WITH $sigCte,
         |$minhashGroupsCte,
         |gsrc AS (
         |  SELECT g.group_id, d.source, CAST(count(*) AS BIGINT) AS n
         |  FROM groups g JOIN documents d USING (doc_id)
         |  GROUP BY g.group_id, d.source
         |), pp AS (
         |  SELECT a.group_id, a.source AS src_a, b.source AS src_b,
         |    CASE WHEN a.source = b.source THEN a.n * (a.n - 1) // 2
         |         ELSE a.n * b.n END AS pairs
         |  FROM gsrc a JOIN gsrc b USING (group_id)
         |  WHERE a.source <= b.source
         |)
         |SELECT src_a, src_b, CAST(sum(pairs) AS BIGINT) AS n_dup_pairs,
         |  CAST(count(DISTINCT group_id) AS BIGINT) AS n_groups
         |FROM pp WHERE pairs > 0
         |GROUP BY src_a, src_b
         |ORDER BY src_a, src_b""".stripMargin,

    // dd07's group resolution + ta02's quality CTE: the keep-list is
    // derivable entirely in SQL, so the hash gate checks the whole
    // dedup-then-select composition
    "dd16_canonical_docs" ->
      s"""WITH $sigCte,
         |$minhashGroupsCte,
         |${TextAnalysis.scoredSqlCte},
         |m AS (
         |  SELECT g.group_id, g.doc_id, s.quality_score
         |  FROM groups g JOIN scored s USING (doc_id)
         |), r AS (
         |  SELECT m.*, row_number() OVER (
         |    PARTITION BY group_id
         |    ORDER BY quality_score DESC, doc_id) AS rn
         |  FROM m
         |), c AS (
         |  SELECT group_id, count(*) AS n_members FROM m GROUP BY group_id
         |)
         |SELECT r.group_id, c.n_members, r.doc_id AS kept_doc_id,
         |  r.quality_score AS kept_quality
         |FROM r JOIN c USING (group_id) WHERE r.rn = 1
         |ORDER BY group_id""".stripMargin,

    "dd09_incremental" ->
      s"""WITH $sigCte,
         |bands AS (
         |  SELECT doc_id, j // ${RowsPerBand} AS band,
         |    string_agg(minhash, ',' ORDER BY j) AS bkey
         |  FROM sig GROUP BY doc_id, j // ${RowsPerBand}
         |), keyed AS (
         |  SELECT doc_id, md5(text) AS content_key, doc_id % 10 = 9 AS is_new
         |  FROM documents
         |), exact AS (
         |  SELECT n.doc_id,
         |    (count(b.doc_id) > 0) AS is_exact_dup
         |  FROM keyed n LEFT JOIN keyed b
         |    ON b.content_key = n.content_key AND NOT b.is_new
         |  WHERE n.is_new
         |  GROUP BY n.doc_id
         |), near AS (
         |  SELECT nb.doc_id, count(DISTINCT bb.doc_id) AS n_near_candidates
         |  FROM bands nb
         |  JOIN bands bb ON bb.band = nb.band AND bb.bkey = nb.bkey
         |    AND bb.doc_id % 10 <> 9
         |  WHERE nb.doc_id % 10 = 9
         |  GROUP BY nb.doc_id
         |)
         |SELECT e.doc_id, e.is_exact_dup,
         |  coalesce(n.n_near_candidates, 0) AS n_near_candidates
         |FROM exact e LEFT JOIN near n ON e.doc_id = n.doc_id
         |ORDER BY e.doc_id""".stripMargin,

    "dd13_semantic_groups" ->
      s"""WITH planes AS (
         |  SELECT vec_id AS plane_id, embedding AS plane FROM embeddings
         |  WHERE vec_id < 4
         |), buckets AS (
         |  SELECT vec_id, CAST(sum(CASE WHEN ${dotSql("embedding", "plane")} >= 0
         |    THEN (1::BIGINT << plane_id) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM embeddings CROSS JOIN planes
         |  GROUP BY vec_id
         |), pairs AS (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |    round(${dotSql("a.embedding", "b.embedding")} /
         |      (sqrt(${dotSql("a.embedding", "a.embedding")}) *
         |       sqrt(${dotSql("b.embedding", "b.embedding")})), 6) AS cos
         |  FROM buckets ab
         |  JOIN buckets bb ON ab.bucket = bb.bucket AND ab.vec_id < bb.vec_id
         |  JOIN embeddings a ON a.vec_id = ab.vec_id
         |  JOIN embeddings b ON b.vec_id = bb.vec_id
         |), p2 AS (
         |  SELECT vec_a, vec_b FROM pairs WHERE cos >= 0.35
         |), edges AS (
         |  SELECT vec_a AS a, vec_b AS b FROM p2
         |  UNION SELECT vec_b, vec_a FROM p2
         |), reach AS (
         |  WITH RECURSIVE r(src, dst) AS (
         |    SELECT a, a FROM edges
         |    UNION
         |    SELECT r.src, e.b FROM r JOIN edges e ON r.dst = e.a
         |  ) SELECT src, dst FROM r
         |)
         |SELECT src AS vec_id, min(dst) AS group_id
         |FROM reach GROUP BY src
         |ORDER BY vec_id""".stripMargin,

    "dd08_embedding_dup_lsh" ->
      s"""WITH planes AS (
         |  SELECT vec_id AS plane_id, embedding AS plane FROM embeddings
         |  WHERE vec_id < 4
         |), buckets AS (
         |  -- CAST: DuckDB integer sum() is HUGEINT → float64 in pandas,
         |  -- which fails the driver's value hash against Spark's int64
         |  SELECT vec_id, CAST(sum(CASE WHEN ${dotSql("embedding", "plane")} >= 0
         |    THEN (1::BIGINT << plane_id) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM embeddings CROSS JOIN planes
         |  GROUP BY vec_id
         |), pairs AS (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, ab.bucket,
         |    round(${dotSql("a.embedding", "b.embedding")} /
         |      (sqrt(${dotSql("a.embedding", "a.embedding")}) *
         |       sqrt(${dotSql("b.embedding", "b.embedding")})), 6) AS cos
         |  FROM buckets ab
         |  JOIN buckets bb ON ab.bucket = bb.bucket AND ab.vec_id < bb.vec_id
         |  JOIN embeddings a ON a.vec_id = ab.vec_id
         |  JOIN embeddings b ON b.vec_id = bb.vec_id
         |)
         |SELECT vec_a, vec_b, bucket, cos FROM pairs
         |WHERE cos >= 0.2
         |ORDER BY vec_a, vec_b""".stripMargin,

    "dd06_embedding_dup" ->
      s"""WITH sub AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $SampleN
         |), pairs AS (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |    round(${dotSql("a.embedding", "b.embedding")} /
         |      (sqrt(${dotSql("a.embedding", "a.embedding")}) *
         |       sqrt(${dotSql("b.embedding", "b.embedding")})), 6) AS cos
         |  FROM sub a JOIN sub b ON a.vec_id < b.vec_id
         |)
         |SELECT vec_a, vec_b, cos FROM pairs
         |WHERE cos >= 0.2
         |ORDER BY vec_a, vec_b""".stripMargin,

    "dd19_semdedup" -> semDedupOracleSql,

    // dd26: dd19's oracle VERBATIM — the stored index's cell
    // assignment must dedup identically to the from-scratch one
    // (ss26's append ≡ from-scratch law, consumed by a second family).
    "dd26_semdedup_from_index" -> semDedupOracleSql,

    "dd15_dup_spans" ->
      s"""WITH spans AS (
         |  SELECT doc_id, substr(md5(substr(text, pos, $SpanW)), 1, 16) AS h
         |  FROM (SELECT doc_id, text,
         |          unnest(generate_series(1, length(text) - ${SpanW - 1},
         |                                 $SpanStride)) AS pos
         |        FROM documents WHERE length(text) >= $SpanW)
         |), dup_h AS (
         |  SELECT h FROM spans GROUP BY h HAVING count(DISTINCT doc_id) >= 2
         |), dup_per_doc AS (
         |  SELECT doc_id, count(*) AS n_dup FROM spans
         |  WHERE h IN (SELECT h FROM dup_h) GROUP BY doc_id
         |), totals AS (
         |  SELECT doc_id, count(*) AS n_windows FROM spans GROUP BY doc_id
         |)
         |SELECT t.doc_id, t.n_windows, coalesce(d.n_dup, 0) AS n_dup,
         |  CAST(floor(coalesce(d.n_dup, 0) * 1000000.0 / t.n_windows + 0.5)
         |       AS BIGINT) AS dup_frac_u6
         |FROM totals t LEFT JOIN dup_per_doc d ON t.doc_id = d.doc_id
         |ORDER BY t.doc_id""".stripMargin,

    "dd22_span_ladder" -> {
      val widthsList = SpanLadder.mkString("[", ", ", "]")
      s"""WITH widths AS (
         |  SELECT unnest($widthsList) AS w
         |), pos AS (
         |  SELECT w, doc_id, text,
         |    unnest(generate_series(1, length(text) - w + 1)) AS p
         |  FROM documents CROSS JOIN widths
         |  WHERE length(text) >= w
         |), spans AS (
         |  SELECT w, doc_id, substr(text, p, w) AS span
         |  FROM pos
         |), per AS (
         |  SELECT w, substr(md5(span), 1, 16) AS h,
         |    count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ
         |  FROM spans GROUP BY 1, 2
         |), crossed AS (
         |  SELECT * FROM per WHERE n_docs >= 2
         |), pw AS (
         |  SELECT w, CAST(count(*) AS BIGINT) AS n_cross_spans,
         |    CAST(max(n_docs) AS BIGINT) AS max_docs,
         |    CAST(sum(n_occ) AS BIGINT) AS n_cross_occ
         |  FROM crossed GROUP BY w
         |), mn AS (
         |  SELECT s.w, min(s.span) AS min_cross_span
         |  FROM spans s JOIN crossed c
         |    ON c.w = s.w AND c.h = substr(md5(s.span), 1, 16)
         |  GROUP BY s.w
         |)
         |SELECT CAST(widths.w AS BIGINT) AS w,
         |  coalesce(pw.n_cross_spans, CAST(0 AS BIGINT)) AS n_cross_spans,
         |  coalesce(pw.max_docs, CAST(0 AS BIGINT)) AS max_docs,
         |  coalesce(pw.n_cross_occ, CAST(0 AS BIGINT)) AS n_cross_occ,
         |  mn.min_cross_span
         |FROM widths LEFT JOIN pw ON widths.w = pw.w
         |LEFT JOIN mn ON widths.w = mn.w
         |ORDER BY w""".stripMargin
    },

    // dd23: the first-wins election is a row_number over the content
    // digest (ORDER BY doc_id, k ≡ Spark's min(struct)); the rebuild
    // is an ordered filtered string_agg.
    "dd23_span_removal" ->
      s"""WITH segs AS (
         |  SELECT doc_id, k,
         |    substr(text, CAST(k * $SpanW + 1 AS INT), $SpanW) AS seg
         |  FROM (
         |    SELECT doc_id, text,
         |      unnest(generate_series(0,
         |        CAST(floor((length(text) - 1) / $SpanW) AS BIGINT))) AS k
         |    FROM documents WHERE length(text) >= 1)
         |), flags AS (
         |  SELECT doc_id, k, seg,
         |    row_number() OVER (PARTITION BY substr(md5(seg), 1, 16)
         |      ORDER BY doc_id, k) = 1 AS kept
         |  FROM segs
         |), reb AS (
         |  SELECT doc_id,
         |    CAST(count(*) AS BIGINT) AS n_segs,
         |    CAST(count(*) FILTER (WHERE NOT kept) AS BIGINT) AS n_removed,
         |    coalesce(string_agg(seg, '' ORDER BY k)
         |      FILTER (WHERE kept), '') AS new_text
         |  FROM flags GROUP BY doc_id
         |)
         |SELECT doc_id, n_segs, n_removed,
         |  CAST(length(new_text) AS BIGINT) AS new_len,
         |  md5(new_text) AS new_md5
         |FROM reb ORDER BY doc_id""".stripMargin,

    // dd24: content-defined boundaries (gram-hash mod divisor) under
    // the LBFS [CdcMin, CdcMax] clamp — the same left-to-right fold
    // the Spark side runs (list_reduce with a BIGINT[] accumulator:
    // skip cuts closer than min to the last kept boundary, force cuts
    // every max across longer gaps, always end at len) — then dd23's
    // election (row_number over the digest ≡ min(struct)) and ordered
    // filtered string_agg rebuild on the variable segments.
    "dd24_cdc_span_removal" ->
      s"""WITH docs AS (
         |  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS len
         |  FROM documents WHERE length(text) >= 1
         |), cuts AS (
         |  SELECT doc_id, CAST(i + ${CdcHashW - 1} AS BIGINT) AS pos FROM (
         |    SELECT doc_id, text,
         |      unnest(generate_series(1, length(text) - ${CdcHashW - 1}))
         |        AS i
         |    FROM docs WHERE len >= $CdcHashW)
         |  WHERE ('0x' || substr(md5(substr(text, CAST(i AS INT),
         |      $CdcHashW)), 1, 7))::BIGINT % $CdcDiv = 0
         |), carr AS (
         |  SELECT doc_id, list_sort(list(pos)) AS cs FROM cuts
         |  GROUP BY doc_id
         |), bnd AS (
         |  SELECT d.doc_id, list_reduce(
         |    list_prepend([0]::BIGINT[], list_transform(
         |      list_append(list_filter(coalesce(c.cs, CAST([] AS BIGINT[])),
         |        x -> x < d.len), d.len), x -> [x])),
         |    (a, b) -> list_concat(list_concat(a,
         |      CASE WHEN (b[1] - a[-1] - 1) // $CdcMax > 0
         |           THEN generate_series(a[-1] + $CdcMax,
         |             a[-1] + ((b[1] - a[-1] - 1) // $CdcMax) * $CdcMax,
         |             $CdcMax)
         |           ELSE CAST([] AS BIGINT[]) END),
         |      CASE WHEN b[1] = d.len OR
         |                b[1] - (a[-1] +
         |                  ((b[1] - a[-1] - 1) // $CdcMax) * $CdcMax)
         |                  >= $CdcMin
         |           THEN b ELSE CAST([] AS BIGINT[]) END)) AS bs
         |  FROM docs d LEFT JOIN carr c USING (doc_id)
         |), segs AS (
         |  SELECT doc_id, CAST(j - 1 AS BIGINT) AS k, bs[j] AS st,
         |    bs[j + 1] - bs[j] AS wd
         |  FROM (SELECT doc_id, bs,
         |    unnest(generate_series(1, len(bs) - 1)) AS j FROM bnd)
         |), inst AS (
         |  SELECT s.doc_id, s.k, s.st,
         |    substr(d.text, CAST(s.st + 1 AS INT), CAST(s.wd AS INT))
         |      AS seg
         |  FROM segs s JOIN docs d USING (doc_id)
         |  WHERE s.wd IS NOT NULL
         |), flags AS (
         |  SELECT doc_id, k, seg,
         |    row_number() OVER (PARTITION BY substr(md5(seg), 1, 16)
         |      ORDER BY doc_id, k) = 1 AS kept
         |  FROM inst
         |), reb AS (
         |  SELECT doc_id,
         |    CAST(count(*) AS BIGINT) AS n_segs,
         |    CAST(count(*) FILTER (WHERE NOT kept) AS BIGINT) AS n_removed,
         |    coalesce(string_agg(seg, '' ORDER BY k)
         |      FILTER (WHERE kept), '') AS new_text
         |  FROM flags GROUP BY doc_id
         |)
         |SELECT doc_id, n_segs, n_removed,
         |  CAST(length(new_text) AS BIGINT) AS new_len,
         |  md5(new_text) AS new_md5
         |FROM reb ORDER BY doc_id""".stripMargin
  )
}
