package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Property tests for the round-10 work: the incremental-curation
  * equivalence theorem (in-suite halves the DuckDB hash gate can't
  * state), the bloom sizing law, and q19b's register algebra.
  * (st18's replay-safe publish is in EventStreamSpec.)
  */
class Round10OpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val d = "/root/testdata/sf0.001"
  private val sf001 = d.stripSuffix("sf0.001") + "sf0.01"
  private def q(name: String) = SparkEntry.queries(name)(spark, d)

  import graft.apps.CurationIncremental

  test("incremental curation is invariant to delta BATCHING: " +
    "one delta wave == two id-ordered waves, row for row") {
    // cu01's oracle proves incremental(base, delta) == from-scratch;
    // this proves the other half of the theorem — the published
    // corpus does not depend on how the delta is batched, as long as
    // batches respect id order (the monotone-ingest contract).
    val docs = Tables.documents(spark, d)
    val cutoff = CurationIncremental.cutoffOf(docs)
    val mid = docs.filter(col("doc_id") >= cutoff)
      .agg(expr("percentile_approx(doc_id, 0.5)")).head().getLong(0)

    val root1 = TestFiles.tempDir("graft_incr_one").toString
    CurationIncremental.curateBase(spark,
      docs.filter(col("doc_id") < cutoff), root1)
    CurationIncremental.applyDelta(spark, root1,
      docs.filter(col("doc_id") >= cutoff))

    val root2 = TestFiles.tempDir("graft_incr_two").toString
    CurationIncremental.curateBase(spark,
      docs.filter(col("doc_id") < cutoff), root2)
    CurationIncremental.applyDelta(spark, root2,
      docs.filter(col("doc_id") >= cutoff && col("doc_id") < mid))
    CurationIncremental.applyDelta(spark, root2,
      docs.filter(col("doc_id") >= mid))

    val one = CurationIncremental.published(spark, root1)
    val two = CurationIncremental.published(spark, root2)
    assert(one.count() > 0)
    assert(one.exceptAll(two).isEmpty && two.exceptAll(one).isEmpty,
      "published corpus differs between one-wave and two-wave ingestion")
    // the two-wave run must have published three snapshot versions
    assert(graft.io.Commit.readMarker(spark, s"$root2/_SNAPSHOT") == "snap2")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root1))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root2))
  }

  test("st19's ingestCurateBatch: accepted corpus is invariant to " +
    "batching (three key-sliced batches == one batch) and a replayed " +
    "batch skips with the bank untouched") {
    import graft.streaming.EventStream
    import org.apache.spark.sql.DataFrame
    val docs = Tables.documents(spark, d)
    val keyed = docs.withColumn("ck", md5(col("text")))
    def run(batches: Seq[DataFrame]): (String, Set[org.apache.spark.sql.Row]) = {
      val root = TestFiles.tempDir("graft_ingest").toString
      val out = s"$root/out"
      batches.zipWithIndex.foreach { case (b, i) =>
        assert(EventStream.ingestCurateBatch(spark, root, out,
          b.drop("ck"), i.toLong))
      }
      (root, EventStream.readCommitted(spark, out,
        EventStream.ingestCuratedSchema).collect().toSet)
    }
    // each batch carries COMPLETE content-key groups (the st19
    // staging contract), so the accepted set must not depend on how
    // the corpus is split into batches
    val slices = (0 until 3).map(i =>
      keyed.filter(pmod(xxhash64(col("ck")), lit(3)) === i))
    val (root3, three) = run(slices)
    val (root1, one) = run(Seq(keyed))
    assert(one.nonEmpty && one == three,
      "accepted corpus differs between 1-batch and 3-batch ingestion")
    // recovery replay of the final batch: the key-bank marker proves
    // completion, so the call reports a skip and the bank is untouched
    assert(graft.io.Commit.readMarker(spark, s"$root3/_KEYS") == "keys/v2")
    assert(!EventStream.ingestCurateBatch(spark, root3, s"$root3/out",
      slices(2).drop("ck"), 2L))
    assert(graft.io.Commit.readMarker(spark, s"$root3/_KEYS") == "keys/v2")
    Seq(root3, root1).foreach(r =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(r)))
  }

  test("BloomGate sizes the sketch from the holdout count " +
    "(fixture floor preserved, production holdouts grow the bitset)") {
    import graft.functions.BloomGate
    // the documented fixture shape: anything at or under MinItems
    // stays exactly 2^20 bits (128 KiB)
    assert(BloomGate.bitsFor(1L) == BloomGate.MinBits)
    assert(BloomGate.bitsFor(BloomGate.MinItems) == BloomGate.MinBits)
    // a 10⁸-gram holdout gets 2^30 bits, not a saturated 2^20
    assert(BloomGate.bitsFor(100000000L) == (1L << 30))
    // monotone, power-of-two, and ≥ BitsPerItem·n everywhere
    var prev = 0L
    for (n <- Seq(1L, 1000L, 200000L, 3000000L, 50000000L)) {
      val b = BloomGate.bitsFor(n)
      assert(java.lang.Long.bitCount(b) == 1)
      assert(b >= math.min(BloomGate.MinBits, n * BloomGate.BitsPerItem))
      assert(b >= n * BloomGate.BitsPerItem || b == BloomGate.MinBits)
      assert(b >= prev); prev = b
    }
  }

  test("q19b's registers reconstruct: estimate within HLL's error " +
    "band of the exact distinct count, registers consistent") {
    val rows = q("q19b_hll_registers").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (sumPow, nNonzero, estU3, nExact) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      // register sum bounds: 256 empty registers would give 256·2^33
      assert(sumPow <= 256L * (1L << 33) && sumPow > 0)
      assert(nNonzero >= 0 && nNonzero <= 256)
      // HLL standard error at m=256 is 1.04/√256 = 6.5%; allow 4σ.
      // (The hash gate pins exactness; this pins the MATH being the
      // estimator it claims to be.)
      val est = estU3 / 1000.0
      assert(math.abs(est - nExact) <= math.max(4 * 0.065 * nExact, 8.0),
        s"flag ${r.getString(0)}: est $est vs exact $nExact")
    }
  }

  test("curation pipeline align gate: score column carried, " +
    "align_gated stats row present, drops audited") {
    import graft.apps.CurationPipeline
    val none = CurationPipeline.run(spark, d)
    assert(!none.curated.columns.contains("align_u6"))
    assert(none.stats.filter(col("stage") === "align_gated").isEmpty)
    // a threshold high enough to actually drop scored survivors
    val gatedRun = CurationPipeline.run(spark, d,
      alignGateU6 = Some(Long.MaxValue))
    assert(gatedRun.curated.columns.contains("align_u6"))
    val droppedRow = gatedRun.stats
      .filter(col("stage") === "align_gated").collect()
    assert(droppedRow.length == 1)
    val nDropped = droppedRow.head.getLong(1)
    // every doc WITH an alignment score below MaxValue is dropped, so
    // the audited drop count must equal the before/after difference
    val before = none.stats.filter(col("stage") === "after_decontamination")
      .head().getLong(1)
    val after = gatedRun.stats
      .filter(col("stage") === "after_decontamination").head().getLong(1)
    assert(before - after == nDropped && nDropped > 0)
    // survivors are exactly the docs with NO alignment score (absence
    // passes by the partial-coverage contract), so align_u6 is null
    // on every curated row
    assert(gatedRun.curated.filter(col("align_u6").isNotNull).isEmpty)
  }

  test("io20 expectation report: internally consistent, and the " +
    "fixture-violated checks actually FAIL") {
    val rep = q("io20_expectations").collect()
    assert(rep.length == 10)
    rep.foreach { r =>
      val (v, t, pass) = (r.getLong(2), r.getLong(3), r.getBoolean(4))
      assert(v >= 0 && v <= t)
      assert(pass == (v == 0)) // `pass` is derived, never asserted free
    }
    val byName = rep.map(r => r.getString(1) -> r.getBoolean(4)).toMap
    // the generator's line key really is non-unique, and the
    // tightened discount cap really is exceeded — a suite where every
    // check passes would prove nothing about the checker
    assert(!byName("unique_order_line"))
    assert(!byName("range_discount_tight"))
    assert(!byName("accepted_event_type"))
    // the structurally-sound constraints hold
    assert(byName("fk_custkey_exists") && byName("pk_unique_custkey") &&
      byName("range_quantity") && byName("freshness_window"))
  }

  test("ta25 temperature mix: quotas sum EXACTLY to the budget " +
    "(largest-remainder law) and the fill respects availability") {
    val rows = q("ta25_temperature_mix").collect()
    val budget = graft.operators.TextAnalysis.TempMixDocBudget
    assert(rows.map(_.getLong(4)).sum == budget) // exact apportionment
    rows.foreach { r =>
      val (c, nDocs, sMicro, quota, nSel) = (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))
      // the α=1/2 score is the micro-quantized IEEE sqrt — recompute
      assert(sMicro == math.floor(math.sqrt(c.toDouble) * 1e6 + 0.5).toLong)
      // a source fills min(quota, availability), never more
      assert(nSel == math.min(quota, nDocs))
    }
    // temperature FLATTENS the mixture: quota shares must be strictly
    // less spread than raw token shares (sqrt compresses ratios)
    val cs = rows.map(_.getLong(1).toDouble)
    val qs = rows.map(_.getLong(4).toDouble)
    assert(qs.max / qs.min < cs.max / cs.min)
  }

  test("mm13 banded-Hamming near-dup: pigeonhole recall is EXACT — " +
    "every true pair within d<=7 is found, none beyond is") {
    import graft.multimodal.Multimodal
    val hashes = Multimodal.mediaPayloads(spark, d).collect()
      .map { r =>
        val a = Multimodal.imageAHash(r)
        val b = Multimodal.imageAHashEdited(r)
        val dist = java.lang.Long.bitCount(a.ahash_hi ^ b.ahash_hi) +
          java.lang.Long.bitCount(a.ahash_lo ^ b.ahash_lo)
        r.doc_id -> dist
      }.toMap
    val out = q("mm13_image_neardup").collect()
    out.foreach { r =>
      assert(r.getLong(3) <= 7L) // verify gate holds on every pair
      assert(r.getLong(2) >= 1L) // a candidate has >= 1 equal band
    }
    val truePairs = out.filter(_.getBoolean(4))
      .map(r => r.getLong(0)).toSet
    val expected = hashes.filter(_._2 <= 7).keySet
    assert(truePairs == expected) // exact recall at d<=7, by pigeonhole
    assert(expected.nonEmpty)     // ...and the law was actually exercised
  }

  test("st20 late audit: conservation + monotone watermark, and a " +
    "replayed batch is skipped before any state is touched") {
    import graft.streaming.EventStream
    val rows = q("st20_stream_late_audit").collect()
    assert(rows.length == 5)
    var prevWm = Long.MinValue
    rows.foreach { r =>
      // every arrival is classified exactly once
      assert(r.getLong(2) == r.getLong(3) + r.getLong(4) + r.getLong(5))
      // the watermark never regresses, and wm_out is wm_in ∨ batch max
      val wmOut = r.getLong(6)
      assert(wmOut >= prevWm)
      if (!r.isNullAt(1)) assert(r.getLong(1) == prevWm)
      prevWm = wmOut
    }
    // stragglers actually exercised both late buckets somewhere
    assert(rows.map(_.getLong(4)).sum > 0 && rows.map(_.getLong(5)).sum > 0)
    // replay: the audit sink's marker guard fires before the
    // watermark marker is read or advanced
    val root = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft_stream_lateaudit")
      .toString
    val ev = graft.Tables.events(spark, d)
      .select(col("event_id"), expr("unix_micros(ts)").as("ts_us"))
    val wmBefore = graft.io.Commit.readMarker(spark, s"$root/_WM")
    assert(!EventStream.lateAuditBatch(spark, root, s"$root/out", ev, 4L))
    assert(graft.io.Commit.readMarker(spark, s"$root/_WM") == wmBefore)
  }

  test("ta26 BPE merges match a direct in-memory reference trainer " +
    "(pair choice, count, and vocab size, iteration by iteration)") {
    // independent implementation: mutable symbol sequences, explicit
    // greedy left-to-right merge — no string-replace trick shared
    // with the query under test
    val words = Tables.documents(spark, d).select("text").collect()
      .flatMap(_.getString(0).split(" ")).filter(_.nonEmpty)
      .map(w => w.codePoints().toArray
        .map(cp => new String(Character.toChars(cp))).toList)
    var freq = words.groupBy(identity).map { case (k, v) =>
      k -> v.length.toLong }
    val expected = (1 to graft.operators.TextAnalysis.BpeIters).map { _ =>
      val pairCounts = scala.collection.mutable.Map[(String, String), Long]()
      freq.foreach { case (seq, f) =>
        seq.zip(seq.tail).foreach { p =>
          pairCounts(p) = pairCounts.getOrElse(p, 0L) + f }
      }
      val ((l, r), cnt) = pairCounts.toSeq
        .sortBy { case ((a, b), c) => (-c, a, b) }.head
      def merge(seq: List[String]): List[String] = seq match {
        case a :: b :: rest if a == l && b == r => (l + r) :: merge(rest)
        case a :: rest => a :: merge(rest)
        case Nil => Nil
      }
      freq = freq.groupBy { case (seq, _) => merge(seq) }
        .map { case (k, v) => k -> v.values.sum }
      val vocab = freq.keys.flatten.toSet.size.toLong
      (l, r, cnt, vocab)
    }
    val got = q("ta26_bpe_merges").collect().map(r =>
      (r.getString(1), r.getString(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq == expected)
  }

  test("cu02 regate: removals are exactly the under-bar rows, the " +
    "old snapshot stays readable, and re-applying is idempotent") {
    import graft.apps.CurationIncremental
    val docs = Tables.documents(spark, d)
    val root = TestFiles.tempDir("graft_regate").toString
    CurationIncremental.curateBase(spark, docs, root)
    val v0 = CurationIncremental.published(spark, root).collect()
    CurationIncremental.regateQuality(spark, root, 0.36)
    val v1 = CurationIncremental.published(spark, root).collect()
    // removals = exactly the published rows under the new bar
    val removed = v0.map(_.getLong(0)).toSet -- v1.map(_.getLong(0)).toSet
    assert(removed == v0.filter(_.getDouble(4) < 0.36)
      .map(_.getLong(0)).toSet)
    assert(removed.nonEmpty && v1.nonEmpty) // the bar BINDS both ways
    // the superseded snapshot is still on disk under its version name
    // (io18's GC owns deletion; regate never destroys history)
    assert(spark.read.parquet(s"$root/snap0").count() == v0.length)
    // idempotence: tightening to the same bar changes nothing
    CurationIncremental.regateQuality(spark, root, 0.36)
    val v2 = CurationIncremental.published(spark, root).collect()
    assert(v2.map(_.getLong(0)).sorted.sameElements(
      v1.map(_.getLong(0)).sorted))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("q45 histogram quantiles: every estimate brackets the rank " +
    "statistic within one bin width") {
    // the sketch's error CONTRACT is against the DISCRETE order
    // statistic x_k, k = ceil(q·n) (the row the register walk
    // locates): the estimate is the upper edge of x_k's bin, so
    // x_k <= est <= x_k + width. (The query's *_exact columns are
    // the continuous interpolated quantiles — those can exceed x_k
    // by one inter-value gap, which is a property of interpolation,
    // not sketch error.)
    val ev = Tables.events(spark, d)
      .select(col("event_type"), col("value"))
    val b = ev.agg(min("value"), max("value")).head()
    val width = (b.getDouble(1) - b.getDouble(0)) / 256
    val byType = ev.collect()
      .groupBy(_.getString(0)).map { case (t, rs) =>
        t -> rs.map(_.getDouble(1)).sorted }
    q("q45_hist_quantiles").collect().foreach { r =>
      val sorted = byType(r.getString(0))
      Seq((2, 0.5), (4, 0.9), (6, 0.99)).foreach { case (ei, qq) =>
        val est = r.getDouble(ei)
        val xk = sorted(math.ceil(qq * sorted.length).toInt - 1)
        assert(est >= xk - 1e-9 && est - width <= xk + 1e-9,
          s"estimate $est does not bracket x_k=$xk within width $width")
      }
    }
  }

  test("ml22 k-fold AUC: pooled fold counts reconstruct ml15's " +
    "population, and every fold is populated") {
    val foldRows = q("ml22_kfold_eval").collect()
    assert(foldRows.length == 5)
    foldRows.foreach(r => assert(r.getLong(1) > 0 && r.getLong(2) > 0))
    val pop = q("ml15_rank_auc").head()
    assert(foldRows.map(_.getLong(1)).sum == pop.getLong(0))
    assert(foldRows.map(_.getLong(2)).sum == pop.getLong(1))
    // per-fold AUCs estimate the same ranking quality — a fold
    // diverging wildly from the population would mean the hash split
    // correlated with the score (the salt exists to prevent that)
    val popAuc = pop.getDouble(2)
    foldRows.foreach(r => assert(math.abs(r.getDouble(3) - popAuc) < 0.2))
  }

  test("st21 streaming quantile registers agree with q45's batch " +
    "registers column for column (the merge law, stream vs batch)") {
    val stream = q("st21_stream_quantiles").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toMap
    val batch = q("q45_hist_quantiles").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2),
        r.getDouble(4), r.getDouble(6))).toMap
    assert(stream == batch)
  }

  test("mm14 aligned frame-shingle overlap: 100% recall, zero false " +
    "pairs, and n_match = frames minus the edited count, doc by doc") {
    val docs = Tables.documents(spark, d).select("doc_id").collect()
      .map(_.getLong(0))
    val out = q("mm14_audio_neardup").collect()
    assert(out.forall(_.getBoolean(4)), "no unrelated pair may match")
    assert(out.map(_.getLong(0)).toSet == docs.toSet, "every re-encode found")
    val byDoc = out.map(r => r.getLong(0) -> r.getLong(2)).toMap
    docs.foreach { id =>
      val edited = (0 until 16).count(f => (id + f) % 7 == 0)
      assert(byDoc(id) == 16L - edited,
        s"doc $id: expected ${16 - edited} intact frames, got ${byDoc(id)}")
    }
  }

  test("connectedComponents converges in log rounds on adversarial " +
    "permuted chains (the case that broke propagate+jump)") {
    import spark.implicits._
    // the scalacheck shrink that exposed the old algorithm: a
    // diameter-8 path whose ids are permuted against path order —
    // propagate+single-jump needed 9 rounds here (and 22 on the
    // 25-node variant below); star contraction is bounded by ~log n
    val shrunk = Seq((13L, 23L), (21L, 23L), (8L, 18L), (8L, 21L),
      (0L, 20L), (6L, 18L), (13L, 20L), (6L, 1L)).toDF("doc_a", "doc_b")
    val got = graft.dedup.Dedup.connectedComponents(shrunk, maxRounds = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.values.toSet == Set(0L), "one component rooted at 0")
    assert(got.keySet ==
      Set(0L, 1L, 6L, 8L, 13L, 18L, 20L, 21L, 23L))
    // the probe counterexample: after one contraction round this graph
    // is {(0,5),(0,7),(1,5),(1,6)} — SIDES-DISJOINT but leaf 5 sits
    // under two roots, so a sides-only convergence probe would stop
    // early and return duplicated labels for 5 (found by the property
    // sweep; the proper-star-forest probe must keep going)
    val probeTrap = Seq((0L, 7L), (5L, 6L), (1L, 6L), (5L, 7L))
      .toDF("doc_a", "doc_b")
    val trapLabels = graft.dedup.Dedup
      .connectedComponents(probeTrap, maxRounds = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(trapLabels.length == 5, "exactly one label row per node")
    assert(trapLabels.toMap.values.toSet == Set(0L))
    // a 25-node chain under a fixed permutation — old algorithm: 22
    // rounds; the star bound for n=25 is 6 (simulation in the commit)
    val perm = new scala.util.Random(10).shuffle((0L until 25L).toList)
    val chain = perm.zip(perm.tail).toDF("doc_a", "doc_b")
    val labels = graft.dedup.Dedup
      .connectedComponents(chain, maxRounds = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == 25 && labels.values.toSet == Set(0L))
  }

  test("dd22 span ladder matches a brute-force in-memory recompute " +
    "(counts, worst-span doc fanout, and the lexicographic witness)") {
    val texts = Tables.documents(spark, d)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val got = q("dd22_span_ladder").collect()
    assert(got.length == graft.dedup.Dedup.SpanLadder.length)
    // the fixture has cross spans at the widest rung, so no width's
    // comparison below is vacuous
    assert(got.last.getLong(1) > 0L)
    graft.dedup.Dedup.SpanLadder.zip(got).foreach { case (w, row) =>
      val perSpan = scala.collection.mutable.Map[String,
        (scala.collection.mutable.Set[Long], Long)]()
      texts.foreach { case (id, t) =>
        (0 to t.length - w).foreach { i =>
          val s = t.substring(i, i + w)
          val (ids, occ) = perSpan.getOrElseUpdate(s,
            (scala.collection.mutable.Set[Long](), 0L))
          ids += id
          perSpan(s) = (ids, occ + 1)
        }
      }
      val cross = perSpan.filter(_._2._1.size >= 2)
      assert(row.getLong(0) == w)
      assert(row.getLong(1) == cross.size.toLong)
      assert(row.getLong(2) ==
        (if (cross.isEmpty) 0L else cross.values.map(_._1.size).max.toLong))
      assert(row.getLong(3) == cross.values.map(_._2).sum)
      if (cross.nonEmpty) assert(row.getString(4) == cross.keys.min)
      else assert(row.isNullAt(4))
    }
  }

  test("dd22 runs 11 jobs at sf0.01, five times out of five") {
    val jobs = (1 to 5).map { _ =>
      JobCount.of(spark)(
        SparkEntry.queries("dd22_span_ladder")(spark, sf001).collect())._2
    }
    info(s"dd22 at sf0.01 ran ${jobs.mkString(", ")} jobs")
    assert(jobs == Seq.fill(5)(11))
  }

  test("curateBase then applyDelta run 55 jobs at sf0.01, three times " +
    "out of three") {
    val docs = Tables.documents(spark, sf001)
    val cutoff = CurationIncremental.cutoffOf(docs)
    val jobs = (1 to 3).map { i =>
      val root = TestFiles.tempDir(s"graft_cu_jobs$i").toString
      JobCount.of(spark) {
        CurationIncremental.curateBase(spark,
          docs.filter(col("doc_id") < cutoff), root)
        CurationIncremental.applyDelta(spark, root,
          docs.filter(col("doc_id") >= cutoff))
      }._2
    }
    info(s"curateBase + applyDelta at sf0.01 ran ${jobs.mkString(", ")} jobs")
    assert(jobs == Seq.fill(3)(55))
  }

  test("io21 rollback leaves BOTH snapshot versions on disk — " +
    "rollback is a pointer move, never a delete") {
    q("io21_snapshot_rollback").collect() // runs publish/gate/rollback
    val root = graft.io.JsonLines.stagingDir("rollback")
    val versions = new java.io.File(root).listFiles()
      .filter(_.getName.startsWith("v_"))
    assert(versions.length == 2, "history must retain good AND bad")
    val cur = graft.io.Commit.readMarker(spark, s"$root/_CURRENT")
    // the CURRENT pointer names the LARGER snapshot (the good one —
    // the bad publish dropped a third of the rows)
    val sizes = versions.map(v => v.getName ->
      spark.read.parquet(v.getPath).count()).toMap
    assert(sizes(cur) == sizes.values.max)
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("dd23 span removal matches a brute-force first-wins rewrite, " +
    "and the rebuilt corpus holds each segment content exactly once") {
    val w = graft.dedup.Dedup.SpanW
    val texts = Tables.documents(spark, d)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
      .filter(_._2.nonEmpty).sortBy(_._1)
    val seen = scala.collection.mutable.Set[String]()
    val expected = texts.map { case (id, t) =>
      val segs = t.grouped(w).toSeq
      val kept = segs.filter(seg => seen.add(seg))
      id -> (segs.length.toLong, (segs.length - kept.length).toLong,
        kept.mkString)
    }.toMap
    val got = q("dd23_span_removal").collect()
    assert(got.length == expected.size)
    got.foreach { r =>
      val (nSegs, nRemoved, newText) = expected(r.getLong(0))
      assert(r.getLong(1) == nSegs)
      assert(r.getLong(2) == nRemoved)
      assert(r.getLong(3) == newText.length.toLong)
      assert(r.getString(4) == md5Hex(newText))
    }
    // first-wins is a set election: kept instances = distinct contents
    val distinctContents = texts.flatMap(_._2.grouped(w)).distinct.size
    val keptTotal = got.map(r => r.getLong(1) - r.getLong(2)).sum
    assert(keptTotal == distinctContents.toLong)
  }

  test("ta27 BPE encode matches the in-memory reference trainer's " +
    "final type table, and token mass is conserved") {
    // ta27 now encodes with the BATCHED trainer's table (round 11);
    // by the ta26b parity theorem (Round11OpsSpec) that equals the
    // SEQUENTIAL trainer run for the same total merge count — so the
    // independent reference here stays the plain sequential trainer
    // (explicit sequence merge, no string-replace trick), run for
    // ta26b's total accepted merges.
    val nMerges = q("ta26b_bpe_batch_merges").count().toInt
    val words = Tables.documents(spark, d).select("text").collect()
      .flatMap(_.getString(0).split(" ")).filter(_.nonEmpty)
      .map(w => w.codePoints().toArray
        .map(cp => new String(Character.toChars(cp))).toList)
    var freq = words.groupBy(identity).map { case (k, v) =>
      k -> v.length.toLong }
    (1 to nMerges).foreach { _ =>
      val pairCounts = scala.collection.mutable.Map[(String, String), Long]()
      freq.foreach { case (seq, f) =>
        seq.zip(seq.tail).foreach { p =>
          pairCounts(p) = pairCounts.getOrElse(p, 0L) + f }
      }
      val ((l, r), _) = pairCounts.toSeq
        .sortBy { case ((a, b), c) => (-c, a, b) }.head
      def merge(seq: List[String]): List[String] = seq match {
        case a :: b :: rest if a == l && b == r => (l + r) :: merge(rest)
        case a :: rest => a :: merge(rest)
        case Nil => Nil
      }
      freq = freq.groupBy { case (seq, _) => merge(seq) }
        .map { case (k, v) => k -> v.values.sum }
    }
    val corpusCount = scala.collection.mutable.Map[String, Long]()
    val nTypes = scala.collection.mutable.Map[String, Long]()
    freq.foreach { case (seq, f) =>
      seq.foreach(sym => corpusCount(sym) = corpusCount.getOrElse(sym, 0L) + f)
      seq.distinct.foreach(sym => nTypes(sym) = nTypes.getOrElse(sym, 0L) + 1)
    }
    val got = q("ta27_bpe_encode").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.keySet == corpusCount.keySet)
    got.foreach { case (sym, (cc, nt)) =>
      assert(cc == corpusCount(sym), s"corpus_count($sym)")
      assert(nt == nTypes(sym), s"n_types($sym)")
    }
    // conservation: total symbol mass = total encoded corpus tokens
    val totalMass = freq.map { case (seq, f) => seq.length * f }.sum
    assert(got.values.map(_._1).sum == totalMass)
  }

  test("ta28 semantic decon matches brute-force max-cosines, the " +
    "holdout is excluded, and the flag binds both ways") {
    import graft.operators.TextAnalysis.{SemDeconN, SemDeconTau}
    val vecs = Tables.embeddings(spark, d)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val hold = vecs.sortBy { case (id, _) => (md5Hex(id.toString), id) }
      .take(SemDeconN)
    val holdIds = hold.map(_._1).toSet
    def dot(a: Array[Float], b: Array[Float]): Double =
      a.indices.foldLeft(0.0)((acc, i) => acc + a(i).toDouble * b(i).toDouble)
    val expected = vecs.filterNot(v => holdIds(v._1)).map { case (id, e) =>
      val nrm = math.sqrt(dot(e, e))
      val mc = hold.map { case (_, h) =>
        math.floor(dot(e, h) / (nrm * math.sqrt(dot(h, h))) * 1e6 + 0.5)
          .toLong
      }.max
      id -> mc
    }.toMap
    val got = q("ta28_semantic_decon").collect()
    assert(got.length == expected.size)
    assert(got.forall(r => !holdIds(r.getLong(0))))
    got.foreach { r =>
      assert(r.getLong(1) == expected(r.getLong(0)))
      assert(r.getBoolean(2) ==
        (r.getLong(1) >= math.round(SemDeconTau * 1e6)))
    }
    // non-degenerate on the fixture: the gate flags some, not all
    assert(got.exists(_.getBoolean(2)) && got.exists(!_.getBoolean(2)))
  }

  test("em15 whitening: audit sums match a brute-force recompute and " +
    "the whitened corpus is actually white (mean 0, unit variance)") {
    val vecs = Tables.embeddings(spark, d)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val dim = vecs.head._2.length
    val n = vecs.length.toLong
    val s1 = Array.fill(dim)(0L); val s2 = Array.fill(dim)(0L)
    vecs.foreach { case (_, e) =>
      e.indices.foreach { i =>
        val x = e(i).toDouble
        s1(i) += math.floor(x * 1e9 + 0.5).toLong
        s2(i) += math.floor(x * x * 1e9 + 0.5).toLong
      }
    }
    val mu = s1.map(_.toDouble / n / 1e9)
    val sd = s2.indices.map(i =>
      math.sqrt(s2(i).toDouble / n / 1e9 - mu(i) * mu(i))).toArray
    val expected = vecs.map { case (id, e) =>
      val z = e.indices.map(i =>
        if (sd(i) == 0.0) 0.0 else (e(i).toDouble - mu(i)) / sd(i))
      id -> (z.map(v => math.floor(v * 1e6 + 0.5).toLong).sum,
        z.map(v => math.floor(v * v * 1e4 + 0.5).toLong).sum)
    }.toMap
    val got = q("em15_whitening").collect()
    assert(got.length == expected.size)
    got.foreach { r =>
      val (zs, z2) = expected(r.getLong(0))
      assert(r.getLong(1) == zs, s"z_sum_u6(${r.getLong(0)})")
      assert(r.getLong(2) == z2, s"z2_sum_u4(${r.getLong(0)})")
    }
    // whiteness: corpus-mean z per dim ~ 0, corpus-mean z^2 per dim ~ 1
    val meanZ = got.map(_.getLong(1)).sum.toDouble / 1e6 / n / dim
    val meanZ2 = got.map(_.getLong(2)).sum.toDouble / 1e4 / n / dim
    assert(math.abs(meanZ) < 1e-3)
    assert(math.abs(meanZ2 - 1.0) < 1e-2)
  }

  test("q46 association rules: confidence bounded, supports " +
    "consistent, and the pair counts match a brute-force recompute") {
    val got = q("q46_association_rules").collect()
    assert(got.nonEmpty)
    // brute force: sessionize in memory with the same 30-min gap
    val evs = Tables.events(spark, d)
      .selectExpr("user_id", "event_id", "event_type",
        "unix_micros(ts) AS ts_us").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .sortBy(e => (e._1, e._4, e._2))
    val baskets = scala.collection.mutable.Map[(Long, Long),
      scala.collection.mutable.Set[String]]()
    var cur = (-1L, 0L); var lastTs = Long.MinValue; var lastUser = -1L
    evs.foreach { case (u, _, t, ts) =>
      if (u != lastUser || ts - lastTs > graft.operators.Sessionize.GapUs)
        cur = (u, cur._2 + 1)
      lastUser = u; lastTs = ts
      baskets.getOrElseUpdate(cur,
        scala.collection.mutable.Set[String]()) += t
    }
    val nB = baskets.size.toLong
    val itemN = scala.collection.mutable.Map[String, Long]()
    val pairN = scala.collection.mutable.Map[(String, String), Long]()
    baskets.values.foreach { items =>
      items.foreach(i => itemN(i) = itemN.getOrElse(i, 0L) + 1)
      val s = items.toSeq.sorted
      for (i <- s.indices; j <- i + 1 until s.length)
        pairN((s(i), s(j))) = pairN.getOrElse((s(i), s(j)), 0L) + 1
    }
    assert(got.length == pairN.size)
    got.foreach { r =>
      val key = (r.getString(0), r.getString(1))
      assert(r.getLong(2) == pairN(key), s"n_ab$key")
      assert(r.getLong(3) == itemN(key._1) && r.getLong(4) == itemN(key._2))
      assert(r.getLong(5) == nB)
      assert(r.getLong(6) == r.getLong(2) * 1000000L / r.getLong(3))
      assert(r.getLong(6) <= 1000000L, "confidence is a probability")
      assert(r.getLong(7) ==
        r.getLong(2) * nB * 1000000L / (r.getLong(3) * r.getLong(4)))
    }
  }

  test("mm15 keyframes: every keyframe lies inside its shot's extent " +
    "and carries the shot's max integer-milli brightness") {
    val frames = q("mm10_shot_boundaries").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4)))
    // shot assignment: running count of cut flags per doc
    val byDoc = frames.groupBy(_._1).view.mapValues(_.sortBy(_._2))
    val shots = scala.collection.mutable.Map[(Long, Long),
      scala.collection.mutable.ArrayBuffer[(Int, Long)]]()
    byDoc.foreach { case (doc, fs) =>
      var shot = 0L
      fs.foreach { case (_, idx, sum, n, cut) =>
        if (cut) shot += 1
        shots.getOrElseUpdate((doc, shot),
          scala.collection.mutable.ArrayBuffer[(Int, Long)]()) +=
          ((idx, sum * 1000 / n))
      }
    }
    val got = q("mm15_keyframes").collect()
    assert(got.length == shots.size)
    got.foreach { r =>
      val fs = shots((r.getLong(0), r.getLong(1)))
      val (startF, endF) = (fs.map(_._1).min, fs.map(_._1).max)
      assert(r.getInt(2) == startF && r.getInt(3) == endF)
      assert(r.getLong(4) == fs.length.toLong)
      val best = fs.maxBy { case (idx, mm) => (mm, -idx) }
      assert(r.getInt(5) == best._1, s"keyframe of ${(r.getLong(0), r.getLong(1))}")
      assert(r.getLong(6) == best._2)
    }
  }

  test("io22 from-scratch ANALYZE and io23's merged buffers agree on " +
    "every shared column's scalar stats (the merge law, cross-query)") {
    val full = q("io22_table_stats").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getString(4), r.getString(5))).toMap
    val merged = q("io23_incremental_stats").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getString(3), r.getString(4))).toMap
    // io23 maintains 3 of io22's 7 columns; on those the two paths
    // must agree exactly (rows, nulls, min, max)
    merged.keys.foreach { c =>
      assert(full.contains(c), s"io22 must cover $c")
      assert(full(c) == merged(c), s"stats($c): ${full(c)} vs ${merged(c)}")
    }
  }

  test("st23's streamed buffers equal io23's merged ones row for row " +
    "at sf0.001 and sf0.01 (one merge law, batch and stream)") {
    Seq(d, sf001).foreach { dir =>
      def rows(name: String) =
        SparkEntry.queries(name)(spark, dir).collect().toSeq
      val streamed = rows("st23_stream_table_stats")
      assert(streamed.length == 3)
      assert(streamed == rows("io23_incremental_stats"))
    }
  }

  test("cu03 refresh with an EMPTY new eval set is a published no-op " +
    "(same verdict rows, version advanced)") {
    val docs = Tables.documents(spark, d)
    val root = graft.io.JsonLines.stagingDir("curation_refresh_noop")
    CurationIncremental.curateBase(spark, docs, root)
    val v0 = CurationIncremental.published(spark, root)
      .collect().map(_.toString).sorted
    CurationIncremental.refreshBench(spark, root, docs, extraN = 0)
    val v1 = CurationIncremental.published(spark, root)
      .collect().map(_.toString).sorted
    assert(v1.sameElements(v0), "no new eval items => no removals")
    assert(graft.io.Commit.readMarker(spark, s"$root/_SNAPSHOT") == "snap1")
  }
}
