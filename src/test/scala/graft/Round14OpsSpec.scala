package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-14 operator properties: re-entrant fold (post-fold delete
  * and append waves are absorbed, never discarded — the round-13
  * advisor's GDPR-loss finding), the bounded applied-wave log, the
  * version-aware append (post-swap waves freeze on the SERVED
  * version's published geometry), the swap gate's refusal path, the
  * sampled-scale recall audit, and the full-lifecycle composition. */
class Round14OpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val d = "/root/testdata/sf0.001"
  private val sim = graft.similarity.Similarity
  private def q(name: String) = SparkEntry.queries(name)(spark, d)
  private def tmp(prefix: String) =
    TestFiles.tempDir(prefix).toString
  private def marker(path: String) = graft.io.Commit.readMarker(spark, path)

  private def idxRows(df: org.apache.spark.sql.DataFrame) =
    df.select("vec_id", "cell", "m", "code").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      .toSet

  test("fold is re-entrant: a delete wave landed AFTER a fold is " +
    "absorbed by the next fold, never silently discarded (the " +
    "round-13 advisor's GDPR-loss bug)") {
    import spark.implicits._
    val root = tmp("graft_refold")
    val emb = Tables.embeddings(spark, d).select("vec_id", "embedding")
    sim.appendIndexWave(spark, d, root, emb, 0L)
    sim.foldTombstones(spark, root) // fold with nothing to absorb
    assert(marker(s"$root/_INDEX") == "seg_folded1")
    val pre = idxRows(sim.readIvfIndexLive(spark, root))
    // the post-fold delete wave the old early-return threw away
    sim.appendTombstoneWave(spark, root, Seq(5L, 12L).toDF("vec_id"), 1L)
    sim.foldTombstones(spark, root)
    assert(marker(s"$root/_INDEX") == "seg_folded2",
      "the second fold did not write a new generation")
    assert(marker(s"$root/_TOMB") == "none")
    val post = idxRows(sim.readIvfIndexLive(spark, root))
    assert(post == pre.filterNot(r => r._1 == 5L || r._1 == 12L),
      "the folded index did not lose exactly the deleted rows")
    // and the serve path agrees with the pre-fold anti-join view
    assert(!post.exists(r => r._1 == 5L || r._1 == 12L),
      "deleted rows resurrected through the re-entrant fold")
  }

  test("fold unions absorbed wave ids into the applied log: a wave " +
    "whose own _APPLIED roll was lost to a crash is still remembered " +
    "after compaction, so its replay is a no-op") {
    val root = tmp("graft_fold_applied")
    val emb = Tables.embeddings(spark, d).select("vec_id", "embedding")
    val half = emb.filter(col("vec_id") % 2 === 0)
    sim.appendIndexWave(spark, d, root, half, 0L)
    sim.appendIndexWave(spark, d, root,
      emb.filter(col("vec_id") % 2 === 1), 1L)
    // simulate the crash window: wave 1's applied roll never landed
    graft.io.Commit.writeMarker(spark, s"$root/_APPLIED", "hw=-1;w0")
    sim.foldTombstones(spark, root)
    assert(marker(s"$root/_INDEX") == "seg_folded1")
    assert(sim.waveApplied(sim.readAppliedLog(spark, root), 1L),
      "the fold forgot the wave it absorbed")
    val folded = idxRows(sim.readIvfIndexLive(spark, root))
    sim.gcIvfIndex(spark, root) // retire the absorbed wave dirs
    assert(!new java.io.File(s"$root/seg_w1").exists())
    // replaying wave 1 must now skip entirely — a re-append would
    // recreate the retired directory
    sim.appendIndexWave(spark, d, root,
      emb.filter(col("vec_id") % 2 === 1), 1L)
    assert(marker(s"$root/_INDEX") == "seg_folded1",
      "a replayed absorbed wave re-appended after the fold")
    assert(!new java.io.File(s"$root/seg_w1").exists())
    assert(idxRows(sim.readIvfIndexLive(spark, root)) == folded)
  }

  test("the applied-wave log is BOUNDED: a long monotone wave history " +
    "encodes as high-water mark + recent window, replays below the " +
    "mark skip, and genuinely new ids stay unapplied") {
    val root = tmp("graft_applied_bound")
    (0L to 99L).foreach(i => sim.recordAppliedWaves(spark, root, Seq(i)))
    val txt = marker(s"$root/_APPLIED")
    assert(txt.startsWith("hw=35;"), s"unexpected encoding: $txt")
    assert(txt.split(";")(1).split(",").length <= sim.AppliedWaveWindow,
      s"recent window exceeds the bound: $txt")
    val log = sim.readAppliedLog(spark, root)
    assert(sim.waveApplied(log, 3L), "an id below the mark reads unapplied")
    assert(sim.waveApplied(log, 99L))
    assert(!sim.waveApplied(log, 100L), "an unseen future id reads applied")
    // and an append whose id sits below the mark short-circuits
    val emb = Tables.embeddings(spark, d).select("vec_id", "embedding")
    sim.appendIndexWave(spark, d, root, emb.limit(5), 3L)
    assert(!new java.io.File(s"$root/seg_w3").exists(),
      "a replay below the high-water mark re-encoded its wave")
  }

  test("compactTombstones bounds the _TOMB list between folds: one " +
    "merged file, identical serving, re-entrant on later waves, and " +
    "GC retires the absorbed files") {
    import spark.implicits._
    val root = tmp("graft_tombcompact")
    val emb = Tables.embeddings(spark, d).select("vec_id", "embedding")
    sim.appendIndexWave(spark, d, root, emb, 0L)
    sim.appendTombstoneWave(spark, root, Seq(1L, 2L).toDF("vec_id"), 0L)
    sim.appendTombstoneWave(spark, root, Seq(9L).toDF("vec_id"), 1L)
    sim.appendTombstoneWave(spark, root, Seq(16L, 2L).toDF("vec_id"), 2L)
    val pre = idxRows(sim.readIvfIndexLive(spark, root))
    sim.compactTombstones(spark, root)
    assert(marker(s"$root/_TOMB") == "tomb_merged1")
    assert(idxRows(sim.readIvfIndexLive(spark, root)) == pre,
      "tombstone compaction changed the live view")
    // a later wave appends beside the merged file; a second
    // compaction absorbs both without self-overwriting
    sim.appendTombstoneWave(spark, root, Seq(23L).toDF("vec_id"), 3L)
    assert(marker(s"$root/_TOMB") == "tomb_merged1,tomb_w3")
    sim.compactTombstones(spark, root)
    assert(marker(s"$root/_TOMB") == "tomb_merged2")
    val live = idxRows(sim.readIvfIndexLive(spark, root))
    assert(live == pre.filterNot(_._1 == 23L))
    // GC retires every tomb_* file the marker no longer references
    sim.gcIvfIndex(spark, root)
    val tombFiles = new java.io.File(root).listFiles()
      .map(_.getName).filter(_.startsWith("tomb_")).toSet
    assert(tombFiles == Set("tomb_merged2"), s"got $tombFiles")
    assert(idxRows(sim.readIvfIndexLive(spark, root)) == live)
  }

  test("the swap gate REFUSES a worsened objective instead of " +
    "throwing: v1 keeps serving, no intent is written (round-13 " +
    "advisor)") {
    val root = sim.retrainRoot(d, "spec_refuse")
    sim.publishDriftedV1(spark, d, root)
    val v1Rows = idxRows(sim.readServedIndex(spark, root))
    // a FOREIGN staged v2 with an absurd recorded objective — the
    // only way to reach the refusal path, since Lloyd guarantees
    // improvement when stageRetrainedV2 itself produced the artifact
    sim.readIvfIndex(spark, s"$root/v1")
      .withColumn("d2_u6", lit(10000000L))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$root/v2/seg_full")
    graft.io.Commit.writeMarker(spark, s"$root/v2/_INDEX", "seg_full")
    assert(!sim.retrainIfDrifted(spark, d, root),
      "the gate accepted a worsened objective")
    assert(marker(s"$root/_VERSION") == "v1")
    assert(!graft.io.Commit.exists(spark, s"$root/_SWAP"),
      "a refused swap left a durable intent")
    assert(idxRows(sim.readServedIndex(spark, root)) == v1Rows,
      "a refused swap changed what serves")
  }

  test("version-aware append, pre-swap: a wave appended to a " +
    "versioned root BEFORE any retrain encodes under v1's published " +
    "geometry — bit-identical to the from-scratch v1 build") {
    val root = sim.retrainRoot(d, "spec_vappend")
    val ref = sim.retrainRoot(d, "spec_vappend_ref")
    sim.publishV1Root(spark, d, root)
    val (drifted, cutoff) = sim.driftedEmbeddings(spark, d)
    sim.appendIndexWave(spark, d, root,
      drifted.filter(col("vec_id") < cutoff), 0L)
    sim.publishDriftedV1(spark, d, ref)
    val got = idxRows(sim.readIvfIndex(spark, s"$root/v1"))
    val want = idxRows(sim.readIvfIndex(spark, s"$ref/v1"))
      .filter(_._1 < cutoff)
    assert(got == want,
      "a pre-swap wave did not reproduce the v1 from-scratch encode")
  }

  test("ss36: the post-swap wave carries v2 codes — re-encoding the " +
    "same wave under v1's geometry provably differs, so the append " +
    "really froze on the retrained frame") {
    val rows = q("ss36_postswap_append").collect()
    val maxId = Tables.embeddings(spark, d)
      .agg(max("vec_id")).head().getLong(0)
    val waveRows = rows.filter(_.getBoolean(5))
    assert(waveRows.nonEmpty && waveRows.forall(_.getLong(0) > maxId))
    assert(waveRows.length == rows.count(r => r.getLong(0) > maxId))
    // every wave row flagged is_delta (ids above the cutoff)
    assert(waveRows.forall(_.getBoolean(4)))
    // replay: the whole query is marker-guarded end to end
    assert(q("ss36_postswap_append").collect().map(_.toSeq).toSeq
      == rows.map(_.toSeq).toSeq)
  }

  test("ss37 composes and replays: the full lifecycle is idempotent, " +
    "deleted rows never resurrect through the retrain, and the " +
    "post-swap-appended v2 still folds/GCs cleanly") {
    val first = q("ss37_index_full_lifecycle").collect().map(_.toSeq)
    val deleted = first.filter { r =>
      val id = r.head.asInstanceOf[Long]
      val isWave = r(5).asInstanceOf[Boolean]
      !isWave && id % sim.TombMod == sim.TombRem
    }
    assert(deleted.isEmpty,
      s"the retrain resurrected ${deleted.size} deleted rows")
    assert(first.exists(_(5).asInstanceOf[Boolean]),
      "no post-swap wave rows in the served lifecycle index")
    val second = q("ss37_index_full_lifecycle").collect().map(_.toSeq)
    assert(second.toSeq == first.toSeq, "the lifecycle replay diverged")
    // maintenance still composes on the versioned side: fold + GC the
    // post-swap-appended v2 and serve the same rows
    val root = sim.retrainRoot(d, "e2e")
    sim.foldTombstones(spark, s"$root/v2")
    sim.gcIvfIndex(spark, s"$root/v2")
    val third = q("ss37_index_full_lifecycle").collect().map(_.toSeq)
    assert(third.toSeq == first.toSeq,
      "folding the post-swap v2 changed the served rows")
  }

  test("ss38 sampled scale-path audit ≡ the exact audit on the " +
    "sampled probes, and the k-heap aggregate matches sort-and-take " +
    "on adversarial ties") {
    val exact = q("ss34_retrain_recall_audit")
      .filter(col("query_id") % sim.AuditProbeStride === 0)
      .collect().map(_.toSeq).toSet
    val sampled = q("ss38_sampled_recall_audit")
      .collect().map(_.toSeq).toSet
    assert(sampled == exact)
    // aggregator law on a frame with heavy key ties: agg top-k ids ==
    // sort-and-take ids, per group
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (0 until 400).map { i =>
      (i % 5L, rnd.nextInt(6).toLong, rnd.nextLong().abs % 1000L)
    }
    val df = rows.toDF("g", "key", "id").dropDuplicates("g", "key", "id")
    val topk = udaf(new graft.functions.TopKMinAgg(7),
      org.apache.spark.sql.Encoders.product[(Long, Long)])
    val got = df.groupBy("g").agg(topk(col("key"), col("id")).as("top"))
      .collect().map(r => r.getLong(0) ->
        r.getSeq[org.apache.spark.sql.Row](1)
          .map(x => (x.getLong(0), x.getLong(1))).toList).toMap
    val want = df.collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
      .groupBy(_._1)
      .map { case (g, xs) => g -> xs.map(_._2).sorted.take(7).toList }
    assert(got == want)
  }

  test("st28 streamed post-swap appends ≡ ss36's one-batch wave " +
    "row-for-row, and ss39's bounded serve ≡ ss01's exact serve " +
    "including ranks and cosines") {
    val st = q("st28_stream_postswap_append").collect().map(_.toSeq).toSet
    val ss = q("ss36_postswap_append").collect().map(_.toSeq).toSet
    assert(st == ss,
      "N microbatches of post-swap traffic served differently from " +
        "one batch")
    val bounded = q("ss39_bounded_knn").collect().map(_.toSeq).toSeq
    val exact = q("ss01_knn_brute").collect().map(_.toSeq).toSeq
    assert(bounded == exact,
      "the k-heap path diverged from the exact row_number serve")
  }

  test("st29 stream-driven drift-retrain ≡ ss36's batch chain " +
    "row-for-row: the monitor fires on the delta wave, the retrain " +
    "commits mid-stream, and post-swap waves freeze on v2") {
    val st = q("st29_stream_drift_retrain").collect().map(_.toSeq).toSet
    val ss = q("ss36_postswap_append").collect().map(_.toSeq).toSet
    assert(st == ss,
      "the stream-dispatched retrain lifecycle served differently " +
        "from the batch retrain-then-append chain")
  }

  test("st29's monitor never false-positives: undrifted waves landing " +
    "on a fresh versioned root leave every readout quiet and the " +
    "version pointer at v1") {
    import org.apache.hadoop.fs.Path
    val root = sim.retrainRoot(d, "q")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(root), true)
    sim.publishV1Root(spark, d, root)
    val (drifted0, cutoff) = sim.driftedEmbeddings(spark, d)
    // below the cutoff the "drifted" frame is the plain double cast —
    // two undrifted waves, the regime st29's quietReadouts require
    // rests on (a false-positive here would fire a pointless
    // corpus-sized retrain on every quiet day)
    val base = drifted0.filter(col("vec_id") < cutoff).localCheckpoint()
    val mid = cutoff / 2
    Seq(base.filter(col("vec_id") < mid),
        base.filter(col("vec_id") >= mid)).zipWithIndex.foreach {
      case (wave, i) =>
        sim.appendIndexWave(spark, d, root, wave, i.toLong)
        val flagged = sim.indexDriftReadout(
            sim.readIvfIndex(spark, s"$root/v1"), cutoff)
          .filter(col("fill_skew") || col("err_drift"))
        assert(flagged.isEmpty,
          s"monitor flagged an undrifted wave $i: " +
            flagged.collect().mkString(", "))
    }
    assert(marker(s"$root/_VERSION") == "v1",
      "an undrifted stream moved the version pointer")
    assert(sim.readIvfIndex(spark, s"$root/v1")
      .select("vec_id").distinct().count() == cutoff,
      "the two undrifted waves did not land losslessly")
  }

  test("dd26 semantic dedup from the maintained index ≡ dd19's " +
    "from-scratch clustering row-for-row, with a real dup signal") {
    val fromIndex = q("dd26_semdedup_from_index").collect()
      .map(_.toSeq).toSeq
    val fromScratch = q("dd19_semdedup").collect().map(_.toSeq).toSeq
    assert(fromIndex == fromScratch,
      "the stored cell assignment deduped differently from the " +
        "from-scratch one")
    val nDup = fromIndex.count(r => r(2).asInstanceOf[Boolean])
    assert(nDup > 0 && nDup < fromIndex.size,
      s"expected a non-trivial semdup verdict split, got $nDup of " +
        s"${fromIndex.size}")
  }

  test("dd25 keeper chains resolve to a SURVIVING root (round-13 " +
    "advisor): pointer doubling on a deep chain, and a planted " +
    "non-transitive A~B~C points C at the surviving A, never the " +
    "removed B") {
    import spark.implicits._
    import graft.dedup.Dedup
    // unit law: a 5-deep chain + an independent pointer resolve to
    // their surviving ends
    val rem = Seq((10L, 8L), (8L, 6L), (6L, 4L), (4L, 2L), (2L, 0L),
      (77L, 3L)).toDF("pkey", "keeper")
    val res = Dedup.resolveKeepers(rem).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(res == Map(10L -> 0L, 8L -> 0L, 6L -> 0L, 4L -> 0L,
      2L -> 0L, 77L -> 3L))
    // e2e: one 20-token paragraph per doc; B differs from A by one
    // character, C from B by one more — shingle Jaccard ≈0.91 for
    // adjacent pairs (verified) but ≈0.83 for A–C (rejected), the
    // advisor's non-transitive shape
    def paraOf(muts: Map[Int, Char]): String =
      (0 until Dedup.ParaW).map { i =>
        val base = f"t$i%02dabcdefghijk"
        muts.get(i).map(c => base.init + c).getOrElse(base)
      }.mkString(" ")
    val a = paraOf(Map.empty)
    val b = paraOf(Map(5 -> 'z'))
    val c = paraOf(Map(5 -> 'z', 14 -> 'z'))
    val docs = Seq((0L, a), (1L, b), (2L, c)).toDF("doc_id", "text")
    val spans = Dedup.paragraphDupSpans(docs).collect()
      .map(r => (r.getLong(0), r.getLong(4), r.getLong(5))).toSet
    assert(spans == Set((1L, 0L, 0L), (2L, 0L, 0L)),
      s"C must keep to the surviving A after resolution; got $spans")
  }

  test("mm18 determinism contract: measured worst decode error is " +
    "within the pinned bound with real margin, decoded planes are " +
    "byte-frozen per payload, and a corrupt payload fails loudly") {
    import graft.multimodal.Multimodal._
    val recs = jpegPayloads(spark, d).collect()
    // the measured-max record: the law's bound must hold with margin
    // (measured 2 at both SFs when pinned; a JDK codec change that
    // moves it past JpegMaxAbsErr fails the hash gate too)
    val worst = recs.map(jpegWorstErr).max
    assert(worst <= JpegMaxAbsErr,
      s"measured worst error $worst exceeds the pinned bound")
    assert(worst <= JpegMaxAbsErr / 2,
      s"measured worst error $worst ate the pinned margin — re-pin")
    // golden freeze: the exact decoded feature row for two fixed docs
    // (the JDK decoder's per-payload determinism, mm17's discipline)
    val f0 = decodeJpegFeatures(recs.find(_.doc_id == 0L).get)
    assert(f0.within_tolerance && f0.decode_stable)
    val f7 = decodeJpegFeatures(recs.find(_.doc_id == 7L).get)
    assert(f7.within_tolerance && f7.decode_stable)
    // every registered row passes both verdicts (what the oracle's
    // TRUE columns assert)
    val rows = q("mm18_jpeg_decode").collect()
    assert(rows.length == recs.length)
    assert(rows.forall(r => r.getBoolean(4) && r.getBoolean(5)))
    // corrupt payload: flip bytes mid-scan -> loud failure, never
    // garbage features
    val bad = recs.head.payload.clone()
    java.util.Arrays.fill(bad, bad.length / 2, bad.length, 0x55.toByte)
    intercept[Exception] {
      decodeJpegFeatures(
        graft.multimodal.Multimodal.MediaRecord(recs.head.doc_id, bad))
    }
  }

  test("ss33 self-heals its simulated crash window: the intent is " +
    "cleared after the reader, so maintenance can never commit it " +
    "and the query re-runs forever") {
    q("ss33_preswap_serving").collect()
    val root = sim.retrainRoot(d, "b")
    assert(marker(s"$root/_SWAP") == "none",
      "ss33 left its simulated intent durable")
    // a maintenance pass between runs must now be a no-op
    sim.completeSwap(spark, root)
    assert(marker(s"$root/_VERSION") == "v1",
      "maintenance committed a swap the query merely simulated")
    q("ss33_preswap_serving").collect()
  }
}
