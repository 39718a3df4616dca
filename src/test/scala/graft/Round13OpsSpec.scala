package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-13 operator properties: the chunked artifact-encode law,
  * drift-triggered retrain + versioned reindex swap (crash windows,
  * no-op on a healthy index), streaming tombstone deletes, the index
  * lifecycle pipeline, paragraph-granularity near-dup, and the
  * published-weights quality classifier. */
class Round13OpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val d = "/root/testdata/sf0.001"
  private def q(name: String) = SparkEntry.queries(name)(spark, d)

  test("ta29 chunked encode ≡ single-chain fold on the published " +
    "merge table — checkpointed chunk boundaries never change a row") {
    import graft.operators.TextAnalysis
    val sep = TextAnalysis.BpeSep
    val root = TextAnalysis.publishedBpeMerges(spark, d)
    val ver = graft.io.Commit.readMarker(spark, s"$root/_MERGES")
    val merges = spark.read.parquet(s"$root/$ver")
      .orderBy("round", "idx").select("lsym", "rsym")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    // a chunk size the published table actually straddles — the law
    // must see real checkpointed chunk boundaries, not one vacuous
    // chunk (the sf0.001 table is ~55 merges, under the production
    // EncodeChunkMerges)
    val chunkSize = 8
    assert(merges.size > chunkSize,
      s"fixture's ${merges.size} merges don't exercise >1 chunk — " +
        "the law below would be vacuous")
    val words = Tables.documents(spark, d)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .select(regexp_replace(col("word"), "(.)", s"$sep$$1$sep").as("seq"))
      .groupBy("seq").agg(count(lit(1)).cast("long").as("f"))
    // the single-chain reference: ALL merges folded into one column
    val single = words
      .select(TextAnalysis.encodeChunkChain(merges).as("seq"), col("f"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val chunked = TextAnalysis.encodeChunked(words, merges, chunkSize)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(chunked == single)
    // and the production path (encodeFromArtifact at EncodeChunkMerges)
    // agrees with both
    val prod = TextAnalysis.encodeFromArtifact(spark, d)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(prod == single)
  }

  private def idxRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
      r.getLong(3), r.getBoolean(4))).toSet

  test("st27 streamed tombstone deletes ≡ ss30's batch delete " +
    "row-for-row — N microbatches of delete requests serve exactly " +
    "like one batch") {
    val st = idxRows(q("st27_stream_index_delete"))
    assert(st == idxRows(q("ss30_index_delete")))
    // and three waves really landed (the equality above would hold
    // vacuously through a single file) — read off the waves' own
    // bounded log, since the sink's mid-stream compaction (round 15)
    // has already absorbed the per-wave file names into a merged file
    val sim = graft.similarity.Similarity
    val root = sim.ivfIndexRoot(d) + "_sdel"
    val log = sim.readWaveLog(spark, s"$root/_TOMB_APPLIED")
    assert(Seq(0L, 1L, 2L).forall(w => sim.waveApplied(log, w)),
      s"expected three streamed tombstone waves in the log, got $log")
    val tombs = graft.io.Commit.readMarker(spark, s"$root/_TOMB")
      .split(",").toSeq
    assert(tombs.length <= sim.TombMaxEntries,
      s"the sink's compaction left an over-long list: $tombs")
  }

  test("appendTombstoneWave: empty waves never touch the marker, " +
    "replays never change committed waves, and a post-fold wave " +
    "starts a fresh list") {
    import spark.implicits._
    val sim = graft.similarity.Similarity
    val root = TestFiles.tempDir("graft_st27_sink").toString
    val tomb = s"$root/_TOMB"
    // empty wave: short-circuits before any marker or file exists
    sim.appendTombstoneWave(spark,
      root, Seq.empty[Long].toDF("vec_id"), 0L)
    assert(!graft.io.Commit.exists(spark, tomb))
    sim.appendTombstoneWave(spark, root, Seq(1L, 2L).toDF("vec_id"), 0L)
    assert(graft.io.Commit.readMarker(spark, tomb) == "tomb_w0")
    sim.appendTombstoneWave(spark, root, Seq(3L).toDF("vec_id"), 1L)
    assert(graft.io.Commit.readMarker(spark, tomb) == "tomb_w0,tomb_w1")
    // replaying wave 0 with DIFFERENT ids must skip before any work:
    // the marker proves the wave committed, so its file is immutable
    sim.appendTombstoneWave(spark, root, Seq(99L).toDF("vec_id"), 0L)
    assert(graft.io.Commit.readMarker(spark, tomb) == "tomb_w0,tomb_w1")
    val w0 = spark.read.parquet(s"$root/tomb_w0")
      .collect().map(_.getLong(0)).toSet
    assert(w0 == Set(1L, 2L),
      "a replayed wave rewrote a committed tombstone file")
    // after a fold clears the marker to "none", the next delete batch
    // starts a fresh list (it must NOT resurrect absorbed tombstones)
    graft.io.Commit.writeMarker(spark, tomb, "none")
    sim.appendTombstoneWave(spark, root, Seq(7L).toDF("vec_id"), 5L)
    assert(graft.io.Commit.readMarker(spark, tomb) == "tomb_w5")
  }

  test("dd25: a paragraph duplicated across docs is found and mapped " +
    "back to its (doc, span) with the earliest keeper; unique " +
    "paragraphs survive; intra-doc duplicates are caught too") {
    import spark.implicits._
    import graft.dedup.Dedup
    // 20-token "paragraphs" (ParaW) built from distinctive words so
    // shingle sets are discriminative
    def para(seed: String) =
      (0 until Dedup.ParaW).map(i => s"$seed$i").mkString(" ")
    val dup = para("shared")
    val docs = Seq(
      // doc 0: dup at window 0, unique tail at window 1
      (0L, dup + " " + para("zero")),
      // doc 1: dup again at window 0 (cross-doc duplicate), unique tail
      (1L, dup + " " + para("one")),
      // doc 2: fully unique
      (2L, para("two") + " " + para("alsotwo")),
      // doc 3: the same paragraph twice WITHIN one doc
      (3L, para("three") + " " + para("three"))
    ).toDF("doc_id", "text")
    val removed = Dedup.paragraphDupSpans(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    // exactly two removals: doc 1's window 0 (keeper doc 0 window 0)
    // and doc 3's window 1 (keeper doc 3 window 0) — every unique
    // window survives
    assert(removed.toSet == Set(
      (1L, 0L, 1L, 20L, 0L, 0L),
      (3L, 1L, 21L, 20L, 3L, 0L)),
      s"got ${removed.toSeq}")
  }

  test("ta32: scoring from the published artifact ≡ train-and-score " +
    "inline, and the classifier genuinely prefers the target domain") {
    val ta = graft.operators.TextAnalysis
    val docs = Tables.documents(spark, d)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getBoolean(4))).toSet
    val artifact = rows(q("ta32_quality_classifier"))
    val inline = rows(ta.scoreQuality(docs,
      ta.trainQualityWeights(spark,
        docs.filter(col("doc_id") % 2 === 0))))
    assert(artifact == inline,
      "the published weight artifact does not reproduce closed-form " +
        "training")
    // the learned signal is real: mean P(en) over en docs must beat
    // the non-en mean by a wide margin (measured ≈0.47 vs ≤0.13 at
    // sf0.001)
    val lang = docs.select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def meanProb(p: Boolean) = {
      val xs = artifact.toSeq.filter(r => (lang(r._1) == "en") == p)
      xs.map(_._4).sum / xs.size
    }
    assert(meanProb(true) > meanProb(false) + 0.1,
      s"en=${meanProb(true)} other=${meanProb(false)}")
  }

  test("ss32 no-op law: a non-firing verdict never stages a v2 — the " +
    "healthy corpus through the SAME retrain code path leaves the " +
    "index exactly as published") {
    val sim = graft.similarity.Similarity
    val root = sim.retrainRoot(d, "spec_noop")
    // scale 1.0 = the undrifted corpus pushed through the identical
    // machinery: v1 publishes, the verdict must not fire (verified
    // all-false at every SF), and NOTHING v2-shaped may exist after
    assert(!sim.retrainIfDrifted(spark, d, root, scale = 1.0d),
      "the healthy corpus fired the retrain verdict")
    assert(graft.io.Commit.readMarker(spark, s"$root/_VERSION") == "v1")
    assert(!graft.io.Commit.exists(spark, s"$root/v2/_INDEX"),
      "a non-firing verdict staged a v2 index")
    assert(!graft.io.Commit.exists(spark, s"$root/_SWAP"),
      "a non-firing verdict wrote a swap intent")
    // and the drifted corpus through the same path DOES fire + swap
    val rootA = sim.retrainRoot(d, "a")
    assert(sim.retrainIfDrifted(spark, d, rootA))
    assert(graft.io.Commit.readMarker(spark, s"$rootA/_VERSION") == "v2")
    assert(graft.io.Commit.readMarker(spark, s"$rootA/_SWAP") == "none")
  }

  test("ss32 crash windows: a swap intent without a pointer roll " +
    "never changes what serves; completeSwap finishes either half " +
    "idempotently; readers never run recovery") {
    val sim = graft.similarity.Similarity
    val root = sim.retrainRoot(d, "spec_crash")
    sim.publishDriftedV1(spark, d, root)
    sim.stageRetrainedV2(spark, d, root)
    def served() = idxRows(sim.readServedIndex(spark, root)
      .select(col("vec_id"), col("cell"), col("m"), col("code"),
        lit(false).as("x")))
    val v1Rows = served()
    // crash window 1: intent durable, pointer never rolled
    graft.io.Commit.writeMarker(spark, s"$root/_SWAP", "v2")
    assert(graft.io.Commit.readMarker(spark, s"$root/_VERSION") == "v1")
    assert(served() == v1Rows,
      "a prepared-but-uncommitted swap changed what serves")
    // recovery completes the roll
    sim.completeSwap(spark, root)
    assert(graft.io.Commit.readMarker(spark, s"$root/_VERSION") == "v2")
    assert(graft.io.Commit.readMarker(spark, s"$root/_SWAP") == "none")
    val v2Rows = served()
    assert(v2Rows != v1Rows,
      "the retrained version served identically — the swap proved " +
        "nothing (geometry did not move?)")
    // crash window 2: pointer rolled but the intent clear was lost —
    // recovery only clears, never re-rolls or regresses
    graft.io.Commit.writeMarker(spark, s"$root/_SWAP", "v2")
    sim.completeSwap(spark, root)
    assert(graft.io.Commit.readMarker(spark, s"$root/_VERSION") == "v2")
    assert(graft.io.Commit.readMarker(spark, s"$root/_SWAP") == "none")
    assert(served() == v2Rows)
    // and recovery on a quiet root is a no-op
    sim.completeSwap(spark, root)
    assert(served() == v2Rows)
  }

  test("ss32/ss33/ss34 compose: the swap actually changes serving, " +
    "the audit's SSE gate is the real improvement, and re-running " +
    "the committed swap is idempotent") {
    val pre = idxRows(q("ss33_preswap_serving"))
    val post = idxRows(q("ss32_index_retrain_swap"))
    assert(pre != post,
      "v1 and v2 serve identically — the retrain moved nothing")
    // same corpus either side: same rows, different assignment
    assert(pre.map(_._1) == post.map(_._1))
    val audit = q("ss34_retrain_recall_audit").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    val sse = audit.map(a => a._1 -> a._5).toMap
    assert(sse("v2") < sse("v1"),
      s"retrain did not improve the recorded objective: $sse")
    audit.foreach(a => assert(a._3 == 10L, s"audit k wrong: $a"))
    // idempotent replay of the committed swap
    assert(idxRows(q("ss32_index_retrain_swap")) == post)
  }

  test("replaying the WHOLE lifecycle over an already-folded root is " +
    "a pure no-op: the applied-wave log survives the fold, so waves " +
    "never re-append and the fold never self-overwrites (full-suite " +
    "ordering bug, round 13)") {
    val root = TestFiles.tempDir("graft_lifecycle_replay").toString
    def served() = idxRows(
      graft.apps.IndexLifecycle.run(spark, d, root)
        .select(col("vec_id"), col("cell"), col("m"), col("code"),
          lit(false).as("x")))
    val first = served()
    def segDirs() = new java.io.File(root).listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("seg_"))
      .sorted.toSeq
    assert(segDirs() == Seq("seg_folded1"))
    val marker = graft.io.Commit.readMarker(spark, s"$root/_INDEX")
    val applied = graft.io.Commit.readMarker(spark, s"$root/_APPLIED")
    // bounded applied-log encoding (round 14): high-water mark +
    // explicit recent window — w0/w1 sit above the (still negative)
    // mark, so both are listed explicitly
    assert(applied == "hw=-1;w0,w1")
    // the replay: before the applied-wave log, wave 0/1 re-appended
    // here (their seg_w names were gone from the folded marker) and
    // the second fold crashed reading the segment it was overwriting
    val second = served()
    assert(second == first)
    assert(segDirs() == Seq("seg_folded1"),
      "a replayed lifecycle resurrected absorbed wave segments")
    assert(graft.io.Commit.readMarker(spark, s"$root/_INDEX") == marker)
    assert(graft.io.Commit.readMarker(spark, s"$root/_APPLIED")
      == applied)
  }

  test("foldTombstones absorbs a streamed multi-file tombstone list: " +
    "live rows unchanged through the fold, marker cleared to none") {
    val sim = graft.similarity.Similarity
    q("st27_stream_index_delete").collect() // ensure the lifecycle ran
    // fold a COPY of st27's root: folding the shared root in place
    // would leave _TOMB at "none" for every later consumer in this
    // JVM (the replay log makes st27's rerun a true no-op since
    // round 15, so nothing re-creates the tombstone list), and
    // PlanSpec's st27 anti-join lock would plan against a folded
    // index depending on suite order
    val shared = sim.ivfIndexRoot(d) + "_sdel"
    val root = shared + "_foldcopy"
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = org.apache.hadoop.fs.FileSystem.get(conf)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(shared), fs,
      new org.apache.hadoop.fs.Path(root), false, conf)
    val pre = idxRows(sim.readIvfIndexLive(spark, root)
      .select(col("vec_id"), col("cell"), col("m"), col("code"),
        lit(false).as("x")))
    sim.foldTombstones(spark, root)
    assert(graft.io.Commit.readMarker(spark, s"$root/_TOMB") == "none")
    assert(graft.io.Commit.readMarker(spark, s"$root/_INDEX")
      == "seg_folded1")
    val post = idxRows(sim.readIvfIndexLive(spark, root)
      .select(col("vec_id"), col("cell"), col("m"), col("code"),
        lit(false).as("x")))
    assert(post == pre)
  }
}
