package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-12 operator properties: the cu04 two-phase replay guard,
  * dd24's CDC chunk clamps, the BPE artifact encode path, PNG decode
  * parity, the widen+rename merge laws, and the incremental ANN index
  * append law. */
class Round12OpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val d = "/root/testdata/sf0.001"
  private def q(name: String) = SparkEntry.queries(name)(spark, d)

  test("cu04 two-phase guard: a crash between publish and commit " +
    "marker does not roll an extra version on replay") {
    import graft.apps.CurationIncremental
    val docs = Tables.documents(spark, d)
    val root = TestFiles.tempDir("graft_cu04_twophase").toString
    CurationIncremental.curateBase(spark, docs, root)
    val wave = graft.operators.TextAnalysis
      .benchSample(docs, 2 * CurationIncremental.BenchN)
      .select("doc_id", "text")
    assert(CurationIncremental.refreshWaveBatch(spark, root, docs, wave, 0L))
    def ver = graft.io.Commit.readMarker(spark, s"$root/_SNAPSHOT")
      .stripPrefix("snap").toLong
    assert(ver == 1L)
    // simulate the crash window: the wave completed (version rolled)
    // but the committed marker write was lost
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(root, "_refresh_committed_0"))
    assert(!CurationIncremental.refreshWaveBatch(spark, root, docs, wave, 0L))
    assert(ver == 1L) // the replay recovered the marker, never re-rolled
    assert(graft.io.Commit.exists(spark, s"$root/_refresh_committed_0"))
    // and a fully-committed wave still skips outright
    assert(!CurationIncremental.refreshWaveBatch(spark, root, docs, wave, 0L))
    assert(ver == 1L)
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("dd24 [min,max] clamp: a degenerate every-position-cut doc and " +
    "a zero-cut doc both chunk inside the clamp band, and neither is " +
    "rewritten away") {
    import graft.dedup.Dedup.{CdcDiv, CdcHashW, CdcMax, CdcMin}
    import spark.implicits._
    // '´'×16 hashes ≡ 0 mod CdcDiv (every gram position is a content
    // cut — the separator-wall case the clamp exists for); 'z'×16
    // does not (no content cut at all — the forced-cut case)
    def md5Long7(s: String) = java.lang.Long.parseLong(
      md5hex(s).take(7), 16)
    assert(md5Long7("´" * CdcHashW) % CdcDiv == 0L)
    assert(md5Long7("z" * CdcHashW) % CdcDiv != 0L)
    val wall = "´" * 600
    val flat = "z" * 600
    val dir = TestFiles.tempDir("graft_dd24_clamp").toString
    Seq((1L, wall, "en", "web", 600L), (2L, flat, "en", "web", 600L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("dd24_cdc_span_removal")(spark, dir)
      .collect().map(r => r.getLong(0) -> r).toMap

    // independent greedy (the per-step formulation, not the engine's
    // fold): next boundary = first content cut >= last+min if within
    // last+max, else forced last+max, else len
    def segments(t: String): Seq[String] = {
      val cuts = (1 to t.length - CdcHashW + 1)
        .filter(i => md5Long7(t.substring(i - 1, i - 1 + CdcHashW))
          % CdcDiv == 0)
        .map(i => (i + CdcHashW - 1).toLong).filter(_ < t.length)
      val bs = scala.collection.mutable.ArrayBuffer(0L)
      while (bs.last < t.length) {
        val l = bs.last
        val c = cuts.find(_ >= l + CdcMin)
        bs += (c match {
          case Some(p) if p - l <= CdcMax => p
          case _ => if (t.length - l <= CdcMax) t.length.toLong
                    else l + CdcMax
        })
      }
      bs.zip(bs.tail).map { case (a, b) =>
        t.substring(a.toInt, b.toInt) }.toSeq
    }
    Seq(1L -> wall, 2L -> flat).foreach { case (id, t) =>
      val segs = segments(t)
      // clamp band: every segment <= max, every non-final >= min —
      // the 1-char-shred and the unbounded-segment failure are both
      // structurally impossible
      assert(segs.forall(_.length <= CdcMax))
      assert(segs.init.forall(_.length >= CdcMin))
      val kept = {
        val seen = scala.collection.mutable.Set[String]()
        segs.filter(seen.add)
      }
      val row = rows(id)
      assert(row.getLong(1) == segs.length.toLong)
      assert(row.getLong(2) == (segs.length - kept.length).toLong)
      assert(row.getLong(3) == kept.mkString.length.toLong)
      assert(row.getString(4) == md5hex(kept.mkString))
      // self-repetition dedupes WITHIN the doc (that is correct span
      // removal), but the survivor keeps at least a full min-sized
      // segment — never the 1-char residue the unclamped rule left
      assert(row.getLong(3) >= CdcMin)
    }
    // the wall doc chunks at the min spacing, the flat doc at max
    assert(rows(1L).getLong(1) == (600L + CdcMin - 1) / CdcMin)
    assert(rows(2L).getLong(1) == (600L + CdcMax - 1) / CdcMax)
  }

  test("ta29/ta27 encode-from-artifact reproduces the trainer's own " +
    "final type table exactly (replace-chain composition law)") {
    import graft.operators.TextAnalysis
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    // trainer's final table (the in-query retrain ta27 used to run)
    val trained = rows(TextAnalysis.bpeBatchTrained(spark, d)._2)
    // artifact path: published merge table + one chained projection
    val art = rows(TextAnalysis.encodeFromArtifact(spark, d))
    assert(trained.nonEmpty)
    assert(art == trained)
    // and the publish is idempotent: a second call reuses the marker
    val root = TextAnalysis.publishedBpeMerges(spark, d)
    assert(graft.io.Commit.readMarker(spark, s"$root/_MERGES")
      == "merges_v1")
  }

  test("mm16 PNG round trip: ImageIO decode reproduces the pixel " +
    "generator byte-for-byte, per pixel and channel") {
    import graft.multimodal.Multimodal
    // odd/even ids, non-square dims, incl. a width below the aHash
    // grid — the geometries the fixture actually produces
    for ((id, w, h) <- Seq((0L, 4, 3), (7L, 17, 10), (123L, 32, 19))) {
      val png = Multimodal.encodePng(id, w, h)
      // a real container, not a raw plane: PNG magic + IHDR
      assert(png.take(8).map(_ & 0xFF).toSeq ==
        Seq(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A))
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(png))
      assert(img.getWidth == w && img.getHeight == h)
      for (y <- 0 until h; x <- 0 until w) {
        val rgb = img.getRGB(x, y)
        val p = (y * w + x) * 3
        assert(((rgb >> 16) & 0xFF) == Multimodal.pixelByte(id, p))
        assert(((rgb >> 8) & 0xFF) == Multimodal.pixelByte(id, p + 1))
        assert((rgb & 0xFF) == Multimodal.pixelByte(id, p + 2))
      }
      // and the worker's feature set over the same payload
      val f = Multimodal.decodePngFeatures(
        Multimodal.MediaRecord(id, png))
      assert(f.width == w && f.height == h && f.n_pixels == w * h)
      assert(f.checksum == (0 until 3 * w * h)
        .map(i => Multimodal.pixelByte(id, i).toLong).sum)
    }
    // a corrupted payload fails loudly, never yields garbage features
    val bad = Multimodal.encodePng(1L, 8, 8)
    bad(bad.length / 2) = (bad(bad.length / 2) ^ 0x5A).toByte
    intercept[Exception] {
      Multimodal.decodePngFeatures(Multimodal.MediaRecord(1L, bad))
    }
  }

  test("io19c widen+rename: field-id mapping merge equals " +
    "migrate-then-merge row-for-row, and int-era stats buffers merge " +
    "under the widening cast") {
    import graft.io.JsonLines
    val (base, cdcKeys, cdcRows, root) = JsonLines.widenRenameParts(spark, d)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq
    val mapped = rows(JsonLines.widenRenameOnMerge(base, cdcKeys, cdcRows))
    val migrated = rows(
      JsonLines.migrateThenMerge(spark, base, cdcKeys, cdcRows, root))
    assert(mapped.nonEmpty)
    assert(mapped == migrated)
    // the rename + widening are real: the merged schema carries the
    // NEW name at LONG type while the staged base file still holds
    // the OLD name at INT — data files were never rewritten
    val merged = JsonLines.widenRenameOnMerge(base, cdcKeys, cdcRows)
    assert(merged.schema("n_chars").dataType.typeName == "long")
    assert(merged.columns.contains("language"))
    assert(base.schema("n_chars").dataType.typeName == "integer")
    assert(base.columns.contains("lang"))

    // stats merge law under the cast: count/nulls/min/max buffers
    // computed in the INT era, cast to long, merge with the delta's
    // LONG buffers into exactly the stats recomputed over the merged
    // snapshot — why a 100 TB table's widened column keeps its
    // incremental stats history (io23's discipline)
    import org.apache.spark.sql.functions._
    val survivors = JsonLines.mapOldEra(base)
      .join(broadcast(cdcKeys), Seq("doc_id"), "left_anti")
    def buf(df: org.apache.spark.sql.DataFrame) = {
      val r = df.agg(count(lit(1)), count(col("n_chars")),
        min(col("n_chars").cast("long")),
        max(col("n_chars").cast("long")),
        sum(col("n_chars").cast("long"))).head()
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))
    }
    val (n1, nn1, mn1, mx1, s1) = buf(survivors)
    val (n2, nn2, mn2, mx2, s2) = buf(cdcRows)
    val (nM, nnM, mnM, mxM, sM) =
      buf(JsonLines.widenRenameOnMerge(base, cdcKeys, cdcRows))
    assert((n1 + n2, nn1 + nn2, math.min(mn1, mn2),
      math.max(mx1, mx2), s1 + s2) == ((nM, nnM, mnM, mxM, sM)))
  }

  test("ss26 appended index: segment layout is real (base untouched, " +
    "delta in its own segment) and ADC serving from the appended " +
    "index equals ss07 with recall@10 over the pinned floor") {
    import graft.operators.TextAnalysis.{pqCodebook, pqDist2, PqM, PqSub}
    import graft.similarity.Similarity
    import org.apache.spark.sql.expressions.Window
    // rebuild from scratch: an earlier ss28 run in this JVM may have
    // compacted the shared session index — this test is about the
    // APPENDED layout, so force the two-segment publish
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(Similarity.ivfIndexRoot(d)))
    val (root, cutoff) = Similarity.publishedIvfIndex(spark, d)
    // the publish is a genuine two-segment append: the marker names
    // both segments, the delta segment holds exactly the delta ids,
    // and the base segment was written before the delta existed
    assert(graft.io.Commit.readMarker(spark, s"$root/_INDEX")
      == "seg_base,seg_delta1")
    val idx = Similarity.readIvfIndex(spark, root).localCheckpoint()
    val nBase = idx.filter(col("vec_id") < cutoff).count()
    val nDelta = idx.filter(col("vec_id") >= cutoff).count()
    assert(nBase > 0 && nDelta > 0)
    val deltaSeg = spark.read
      .option("basePath", s"$root/seg_delta1")
      .schema(Similarity.IvfIndexSchema).parquet(s"$root/seg_delta1")
    assert(deltaSeg.filter(col("vec_id") < cutoff).count() == 0)
    assert(deltaSeg.count() == nDelta)

    // serve ADC top-10 FROM THE APPENDED INDEX (ss07's math over the
    // published segments) — must equal ss07's inline geometry, which
    // carries ApproxBoundsSpec's pinned recall with it
    val nq = Similarity.NumQueries
    val lut = Tables.embeddings(spark, d).filter(col("vec_id") < nq)
      .select(col("vec_id").as("query_id"),
        explode(sequence(lit(0), lit(PqM - 1))).as("m"),
        col("embedding").as("qe"))
      .select(col("query_id"), col("m"),
        slice(col("qe"), col("m") * PqSub + 1, lit(PqSub)).as("qsub"))
      .join(pqCodebook(spark, d), Seq("m"))
      .select(col("query_id"), col("m"), col("cid"),
        floor(pqDist2(col("qsub"), col("center")) * 1e6 + 0.5)
          .cast("long").as("ld2_u6"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("adc_u6").asc, col("neighbor_id").asc)
    val served = idx
      .join(broadcast(lut),
        idx("m") === lut("m") && idx("code") === lut("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
      .agg(sum("ld2_u6").as("adc_u6"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= Similarity.TopK)
      .select("query_id", "rank", "neighbor_id")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "rank", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val ss07 = SparkEntry.queries("ss07_knn_pq")(spark, d)
    assert(rows(served) == rows(ss07))
    // recall floor vs the brute ground truth on the APPENDED index
    // (= ApproxBoundsSpec's pinned ss07 measurement, 0.20 at sf0.001)
    val truth = SparkEntry.queries("ss01_knn_brute")(spark, d)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hits = rows(served).map { case (q, _, n) => (q, n) }
      .intersect(truth).size
    val recall = hits.toDouble / truth.size
    assert(recall >= 0.2,
      f"served recall@10 from the appended index = $recall%.2f " +
        "fell below the pinned ss07 floor")
  }

  test("ss28 compaction: one segment after, rows byte-identical, " +
    "idempotent on a second call") {
    import graft.similarity.Similarity
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(Similarity.ivfIndexRoot(d)))
    val (root, _) = Similarity.publishedIvfIndex(spark, d)
    def rows() = Similarity.readIvfIndex(spark, root).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).sorted.toSeq
    val before = rows()
    Similarity.compactIvfIndex(spark, root)
    assert(graft.io.Commit.readMarker(spark, s"$root/_INDEX")
      == "seg_compact1")
    val after = rows()
    assert(after == before)
    // idempotent: a second compact is a no-op (no self-overwrite)
    Similarity.compactIvfIndex(spark, root)
    assert(rows() == before)
  }

  test("ss29 GC: audit rows are additive (base + delta = compact), " +
    "dead segment dirs are deleted, the live index is untouched, " +
    "and a second GC is a harmless no-op") {
    import graft.similarity.Similarity
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(Similarity.ivfIndexRoot(d)))
    val (root, _) = Similarity.publishedIvfIndex(spark, d)
    Similarity.compactIvfIndex(spark, root)
    def segDirs() = new java.io.File(root).listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("seg_"))
      .sorted.toSeq
    assert(segDirs() == Seq("seg_base", "seg_compact1", "seg_delta1"))
    val before = Similarity.readIvfIndex(spark, root).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).sorted.toSeq
    val audit = Similarity.gcIvfIndex(spark, root)
    assert(audit.map(a => (a._1, a._2)) == Seq(
      ("seg_base", false), ("seg_compact1", true), ("seg_delta1", false)))
    // additivity: the survivor is exactly the union of the dead two
    val byName = audit.map(a => a._1 -> a).toMap
    assert(byName("seg_base")._3 + byName("seg_delta1")._3
      == byName("seg_compact1")._3)
    assert(byName("seg_base")._4 + byName("seg_delta1")._4
      == byName("seg_compact1")._4)
    // disk agrees with the marker, and the live index is untouched
    assert(segDirs() == Seq("seg_compact1"))
    val after = Similarity.readIvfIndex(spark, root).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).sorted.toSeq
    assert(after == before)
    // a second GC finds nothing dead: one live row, nothing deleted
    val again = Similarity.gcIvfIndex(spark, root)
    assert(again.map(a => (a._1, a._2)) == Seq(("seg_compact1", true)))
    assert(again.head._3 == byName("seg_compact1")._3
      && again.head._4 == byName("seg_compact1")._4)
  }

  test("ta26b batching throughput on a Zipfian many-type vocab: " +
    "average acceptance per round clears B/2, and the batched walk " +
    "still equals the sequential trainer merge-for-merge") {
    import graft.operators.TextAnalysis
    import spark.implicits._
    // The fixture corpus has 31 word types, so acceptance caps at
    // ~1.6/round and the B× round reduction is invisible there. This
    // generator-defined vocab is the regime real corpora live in:
    // V = 400 word types over a wide symbol alphabet (each word two
    // fresh symbols), Zipf frequencies f_i = max(1, 3000/(i+1)) so
    // candidate counts fall off a long tail, and every 10th word
    // SHARES its left symbol with its predecessor so the stop gate
    // (interaction arm) fires realistically instead of never.
    val V = 400
    def wchar(k: Int) = new String(Character.toChars(0x4E00 + k))
    def word(i: Int): String =
      if (i % 10 == 0 && i > 0) wchar(2 * (i - 1)) + wchar(2 * i + 1)
      else wchar(2 * i) + wchar(2 * i + 1)
    val docRows = (0 until V).map { i =>
      val f = math.max(1, 3000 / (i + 1))
      (i.toLong, Seq.fill(f)(word(i)).mkString(" "))
    }
    val dir = TestFiles.tempDir("graft_zipf_bpe").toString
    docRows.map { case (id, t) => (id, t, "en", "web", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")

    val (merges, _) = TextAnalysis.bpeBatchTrained(spark, dir)
    assert(merges.nonEmpty)
    val rounds = merges.map(_._1).distinct.size
    val avg = merges.size.toDouble / rounds
    // Measured: 320 merges in 32 rounds = 10.0/round, exactly the
    // designed interaction spacing — each round's walk accepts the
    // ten disjoint pairs ahead of the sharing word and stops at it,
    // which is the gate doing precisely its job (vs ~1.6/round on
    // the 31-type fixture corpus). Deterministic fixture → pin the
    // exact numbers (the ApproxBoundsSpec convention); the B/2 floor
    // is the semantic claim: driver rounds ≈ merges / acceptance,
    // so 32k merges at this acceptance is ~3.2k rounds, not 32k jobs.
    assert(merges.size == 320 && rounds == 32,
      s"acceptance changed: ${merges.size} merges in $rounds rounds")
    assert(avg >= TextAnalysis.BpeBatchB / 2.0,
      f"average acceptance $avg%.1f/round fell below B/2 on the " +
        "Zipf vocab")

    // and the parity theorem holds in the HIGH-acceptance regime too:
    // flatten the batched table in (round, idx) order and replay an
    // independent in-memory sequential trainer step for step
    var freq: Map[List[String], Long] = docRows
      .flatMap(_._2.split(" ")).filter(_.nonEmpty)
      .groupBy(identity).map { case (w, v) =>
        w.codePoints().toArray
          .map(cp => new String(Character.toChars(cp))).toList ->
          v.length.toLong
      }
    val flat = merges.map(m => (m._3, m._4))
    flat.foreach { case (l, r) =>
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      freq.foreach { case (seq, f) =>
        seq.zip(seq.tail).foreach { p =>
          counts(p) = counts.getOrElse(p, 0L) + f }
      }
      val best = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }
      assert(best._1 == ((l, r)),
        s"sequential argmax ${best._1} != batched merge ($l,$r)")
      freq = freq.map { case (seq, f) =>
        val out = scala.collection.mutable.ListBuffer[String]()
        var i = 0
        while (i < seq.length) {
          if (i + 1 < seq.length && seq(i) == l && seq(i + 1) == r) {
            out += (l + r); i += 2
          } else { out += seq(i); i += 1 }
        }
        out.toList -> f
      }.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
    }
  }

  test("q47 multi-feature as-of assembly equals a brute-force " +
    "per-probe per-feature latest-state lookup, including NULL rows") {
    val got = q("q47_feature_asof").collect()
      .map(r => (r.getLong(0), Seq(3, 5, 7).map(i =>
        if (r.isNullAt(i)) -1L else r.getLong(i)))).toMap
    val ev = Tables.events(spark, d)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val probes = ev.filter(_._4 == "purchase")
    assert(probes.nonEmpty && got.size == probes.length)
    probes.foreach { case (eid, uid, ts, _) =>
      // brute force per feature type: latest same-user event of that
      // type at or before ts; equal-ts ties resolve to max event_id
      val want = Seq("view", "click", "error").map { t =>
        val cand = ev.filter(e => e._2 == uid && e._4 == t && e._3 <= ts)
        if (cand.isEmpty) -1L else cand.maxBy(e => (e._3, e._1))._3
      }
      assert(got(eid) == want, s"probe $eid: got ${got(eid)}, want $want")
    }
  }

  test("ss30 delete lifecycle: tombstones hide rows from the live " +
    "view without touching segments, the fold rewrites and clears, " +
    "and a replayed delete cannot resurrect folded tombstones") {
    import graft.similarity.Similarity.{TombMod, TombRem}
    val sim = graft.similarity.Similarity
    val emb = Tables.embeddings(spark, d)
    val (root, _) = sim.publishedIvfIndex(spark, d, "_delspec")
    val all = sim.readIvfIndex(spark, root)
      .select("vec_id", "cell", "m", "code").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      .toSet
    val tombIds = emb.filter(col("vec_id") % TombMod === TombRem)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(tombIds.nonEmpty && tombIds.contains(3L))
    sim.writeTombstones(spark, root,
      emb.filter(col("vec_id") % TombMod === TombRem).select("vec_id"))
    // delete path is metadata-only: both data segments still on disk,
    // live view already excludes exactly the tombstoned rows
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def dirs = fs.listStatus(new org.apache.hadoop.fs.Path(root))
      .filter(_.isDirectory).map(_.getPath.getName).toSet
    assert(Set("seg_base", "seg_delta1", "tomb_1").subsetOf(dirs))
    def live = sim.readIvfIndexLive(spark, root)
      .select("vec_id", "cell", "m", "code").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      .toSet
    val preFold = live
    assert(preFold == all.filterNot(r => tombIds.contains(r._1)))
    sim.foldTombstones(spark, root)
    assert(graft.io.Commit.readMarker(spark, s"$root/_INDEX")
      == "seg_folded1")
    assert(graft.io.Commit.readMarker(spark, s"$root/_TOMB") == "none")
    assert(live == preFold) // the fold is invisible to readers
    // replaying the delete batch after the fold is a no-op: the
    // _TOMB marker (now "none") proves it was applied and absorbed
    sim.writeTombstones(spark, root,
      emb.filter(col("vec_id") % TombMod === TombRem).select("vec_id"))
    assert(graft.io.Commit.readMarker(spark, s"$root/_TOMB") == "none")
    assert(live == preFold)
    // and ss30's registered output equals ss26's minus the tombstones
    val ss30 = q("ss30_index_delete").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3),
        r.getBoolean(4))).toSet
    val ss26 = q("ss26_ivf_index_append").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3),
        r.getBoolean(4))).toSet
    assert(ss30 == ss26.filterNot(r => r._1 % TombMod == TombRem))
  }

  test("st26 stream-appended index equals ss26's batch append " +
    "row-for-row, through a real three-segment marker layout") {
    val rows = (df: org.apache.spark.sql.DataFrame) => df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3),
        r.getBoolean(4))).toSet
    val st = rows(q("st26_stream_index_append"))
    // the stream's three waves cover the whole table, so the result
    // must equal the BATCH incremental index (ss26) exactly — the
    // stream core and the batch entry are the same operation
    assert(st == rows(q("ss26_ivf_index_append")))
    val root = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      "graft_stream_index", "idx").toString
    val marker = graft.io.Commit.readMarker(spark, s"$root/_INDEX")
    val segs = marker.split(",").toSeq
    assert(segs.length == 3 && segs.forall(_.startsWith("seg_w")),
      s"expected three stream segments, got $marker")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    segs.foreach(g => assert(fs.exists(
      new org.apache.hadoop.fs.Path(s"$root/$g"))))
  }

  test("ta30 interpolated Kneser-Ney equals an independent in-memory " +
    "scorer: discounted seen mass, continuation backoff for unseen " +
    "bigrams, Pcont fallback for unseen contexts, OOV floor") {
    val docs = Tables.documents(spark, d)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0),
        r.getString(1).split(" ").filter(_.nonEmpty).toSeq))
    val train = docs.filter(_._1 % 2 == 0)
    val scoreDocs = docs.filter(_._1 % 2 != 0)
    val tb = scala.collection.mutable.Map[(String, String), Long]()
    train.foreach { case (_, ts) =>
      ts.zip(ts.drop(1)).foreach(p => tb(p) = tb.getOrElse(p, 0L) + 1L) }
    val cw = tb.groupBy(_._1._1).map { case (w, m) => w -> m.values.sum }
    val n1f = tb.groupBy(_._1._1).map { case (w, m) => w -> m.size.toLong }
    val n1b = tb.groupBy(_._1._2).map { case (w, m) => w -> m.size.toLong }
    val t = tb.size.toLong
    val vt = train.flatMap(_._2).distinct.size.toLong
    def pc(w2: String) =
      (n1b.getOrElse(w2, 0L) + 1L).toDouble / (t + vt + 1L).toDouble
    var sawUnseen = false; var sawOov = false
    val want = scoreDocs.filter(_._2.size >= 2).map { case (id, ts) =>
      val bgs = ts.zip(ts.drop(1))
      val lp = bgs.map { case (w1, w2) =>
        if (sawUnseen || !tb.contains((w1, w2))) sawUnseen = true
        val p = cw.get(w1) match {
          case None => sawOov = true; pc(w2)
          case Some(c1) =>
            (math.max(tb.getOrElse((w1, w2), 0L).toDouble - 0.75, 0.0) +
              0.75 * (n1f(w1).toDouble * pc(w2))) / c1.toDouble
        }
        math.floor(math.log(p) * 1e6 + 0.5).toLong
      }.sum
      id -> (bgs.size.toLong, lp)
    }.toMap
    val got = q("ta30_kneser_ney").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(4))).toMap
    assert(got.keySet == want.keySet)
    want.foreach { case (id, w) =>
      assert(got(id) == w, s"doc $id: got ${got(id)}, want $w") }
    assert(sawUnseen, "fixture never exercised the unseen-bigram path")
    // the shared ~30-word vocabulary means the REAL fixture can never
    // produce an out-of-vocabulary CONTEXT (sawOov stays false), so the
    // Pcont-fallback branch gets its own fixture (round-12 advisor:
    // without this the branch was structurally uncovered): train "a b
    // a c", score "z q b a" — context z is OOV (falls back to Pcont
    // alone), (b,a) is a seen bigram, (a,?) unseen-w2 paths covered by
    // the real fixture above.
    assert(!sawOov, "real fixture now produces OOV contexts — fold " +
      "this synthetic check back into the main assertion")
    locally {
      import spark.implicits._
      val trainF = Seq((0L, Seq("a", "b", "a", "c")))
        .toDF("doc_id", "ts")
      val scoreF = Seq((1L, Seq("z", "q", "b", "a"))).toDF("doc_id", "ts")
      val r = graft.operators.TextAnalysis
        .kneserNeyScore(trainF, scoreF).collect()
      assert(r.length == 1)
      val row = r.head
      // train bigrams: (a,b)=1, (b,a)=1, (a,c)=1; T=3, V=3
      // cw: a->2 (n1f 2), b->1 (n1f 1); n1b: b->1, a->1, c->1
      val pcQ = 1.0 / 7.0            // q unseen as continuation: (0+1)/(3+3+1)
      val pcB = (1.0 + 1.0) / 7.0    // N1+(•,b)=1
      val pcA = (1.0 + 1.0) / 7.0
      val lpZQ = pcQ                 // z is an OOV context → Pcont(q) alone
      val lpQB = pcB                 // q is an OOV context → Pcont(b) alone
      val lpBA = (math.max(1.0 - 0.75, 0.0) + 0.75 * (1.0 * pcA)) / 1.0
      val want = Seq(lpZQ, lpQB, lpBA)
        .map(p => math.floor(math.log(p) * 1e6 + 0.5).toLong).sum
      assert(row.getLong(1) == 3L, "n_bigrams")
      assert(row.getLong(3) == 2L,
        s"n_oov_ctx: got ${row.getLong(3)} — the Pcont fallback " +
          "branch did not fire for the OOV contexts")
      assert(row.getLong(4) == want,
        s"sum_lp_u6: got ${row.getLong(4)}, want $want")
    }
  }

  test("ta31 DSIR selection equals an independent in-memory " +
    "importance scorer and actually prefers the target domain") {
    import graft.operators.TextAnalysis.{DsirB, DsirK}
    def bucket(t: String): Long =
      java.lang.Long.parseLong(md5hex(t).take(7), 16) % DsirB
    val docs = Tables.documents(spark, d)
      .select("doc_id", "text", "lang").collect()
      .map(r => (r.getLong(0),
        r.getString(1).split(" ").filter(_.nonEmpty).map(bucket).toSeq,
        r.getString(2)))
    val ct = scala.collection.mutable.Map[Long, Long]()
    val cr = scala.collection.mutable.Map[Long, Long]()
    docs.foreach { case (_, bs, lang) => bs.foreach { b =>
      cr(b) = cr.getOrElse(b, 0L) + 1L
      if (lang == "en") ct(b) = ct.getOrElse(b, 0L) + 1L } }
    val (nt, nr) = (ct.values.sum, cr.values.sum)
    val lr = (0L until DsirB).map { b =>
      b -> math.floor((
        math.log((ct.getOrElse(b, 0L) + 1L).toDouble) -
        math.log((nt + DsirB).toDouble) -
        math.log((cr.getOrElse(b, 0L) + 1L).toDouble) +
        math.log((nr + DsirB).toDouble)) * 1e6 + 0.5).toLong
    }.toMap
    val want = docs.filter(_._2.nonEmpty)
      .map { case (id, bs, _) => (id, bs.map(lr).sum) }
      .sortBy { case (id, w) => (-w, id) }.take(DsirK)
    val got = q("ta31_dsir_select").collect()
      .map(r => (r.getLong(1), r.getLong(4)))
    assert(got.toSeq == want.toSeq)
    // the selection must actually tilt toward the target domain:
    // selected docs are majority-'en' while the corpus is not
    val selLang = q("ta31_dsir_select").collect().map(_.getString(2))
    val corpusEn = docs.count(_._3 == "en").toDouble / docs.length
    assert(corpusEn < 0.5, s"fixture is already en-majority: $corpusEn")
    assert(selLang.count(_ == "en").toDouble / selLang.length > 0.5,
      s"selection did not tilt to the target domain: " +
        selLang.groupBy(identity).view.mapValues(_.length).toMap)
  }

  test("mm17 JDK WAV decode: PCM bytes equal the hand parser's " +
    "byte-for-byte on every payload, and a corrupted payload fails " +
    "loudly instead of yielding features") {
    import graft.multimodal.Multimodal
    val payloads = Multimodal.wavPayloads(spark, d).collect()
    assert(payloads.length >= 100)
    payloads.foreach { r =>
      val hand = Multimodal.decodeWav(r.payload)
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(r.payload))
      val jdk = ais.readAllBytes()
      assert(java.util.Arrays.equals(jdk, hand.pcm),
        s"doc ${r.doc_id}: JDK PCM differs from the hand parser's")
      assert(ais.getFormat.getChannels == hand.channels &&
        ais.getFormat.getSampleRate.toInt == hand.sampleRate)
    }
    val bad = payloads.head.payload.clone()
    bad(0) = 'X'.toByte // break the RIFF magic
    intercept[Exception] {
      Multimodal.decodeWavJdk(Multimodal.MediaRecord(-1L, bad))
    }
  }

  test("ss31 serving from the deleted index: tombstoned ids vanish " +
    "from every top-k, ranks re-close dense, and surviving ss07 " +
    "results can only be promoted") {
    import graft.similarity.Similarity.{TombMod, TombRem}
    val del = q("ss31_deleted_serving").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(del.nonEmpty)
    del.foreach { case (_, _, n) =>
      assert(n % TombMod != TombRem, s"tombstoned neighbor $n served") }
    del.groupBy(_._1).foreach { case (qid, rows) =>
      assert(rows.map(_._2).sorted == (1 to rows.length),
        s"query $qid ranks not dense: ${rows.map(_._2).sorted}") }
    val full = q("ss07_knn_pq").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val delRank = del.map { case (qid, rk, n) => (qid, n) -> rk }.toMap
    var promoted = 0
    full.filter(_._3 % TombMod != TombRem).foreach { case (qid, rk, n) =>
      val r2 = delRank.get((qid, n))
      assert(r2.nonEmpty && r2.get <= rk,
        s"survivor ($qid,$n) demoted: ss07 rank $rk -> $r2")
      if (r2.get < rk) promoted += 1
    }
    assert(promoted > 0,
      "no survivor was promoted — the delete never bound on a top-k")
  }

  test("cross-query: q47's click feature agrees with q16's " +
    "single-state as-of sweep probe-for-probe") {
    // q16 carries click_ts as a timestamp; q47 carries click_ts_us as
    // epoch micros — same instant, same tie rule, so they must agree
    // on every purchase probe (and on which probes have no click)
    val q16r = q("q16_asof_join").collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(4)) -1L
         else r.getTimestamp(4).toInstant.toEpochMilli * 1000L +
           r.getTimestamp(4).getNanos / 1000 % 1000)).toMap
    val q47r = q("q47_feature_asof").collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(5)) -1L else r.getLong(5))).toMap
    assert(q16r.keySet == q47r.keySet)
    q16r.foreach { case (eid, ts16) =>
      assert(q47r(eid) == ts16,
        s"probe $eid: q16 click_ts_us $ts16 != q47 ${q47r(eid)}") }
  }

  test("ss29 GC composes with the ss30 delete-fold: after the fold, " +
    "GC deletes exactly the dead pre-delete segments and the live " +
    "folded rows are untouched") {
    val sim = graft.similarity.Similarity
    // ensure the _del root is in its post-fold state (idempotent)
    q("ss30_index_delete").collect()
    val root = sim.ivfIndexRoot(d) + "_del"
    val before = sim.readIvfIndexLive(spark, root)
      .select("vec_id", "cell", "m", "code").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      .toSet
    val audit = sim.gcIvfIndex(spark, root)
    // the fold left seg_base + seg_delta1 dead and seg_folded1 live
    assert(audit.map(a => (a._1, a._2)).toSet ==
      Set(("seg_base", false), ("seg_delta1", false),
        ("seg_folded1", true)), s"unexpected GC audit: $audit")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def exists(g: String) =
      fs.exists(new org.apache.hadoop.fs.Path(s"$root/$g"))
    assert(!exists("seg_base") && !exists("seg_delta1") &&
      exists("seg_folded1"))
    val after = sim.readIvfIndexLive(spark, root)
      .select("vec_id", "cell", "m", "code").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      .toSet
    assert(after == before, "GC changed the live index")
  }

  test("ss28 compaction composes with the st26 stream-built index: " +
    "compacting the three stream segments is invisible to readers") {
    val sim = graft.similarity.Similarity
    val rows = (df: org.apache.spark.sql.DataFrame) => df
      .select("vec_id", "cell", "m", "code").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      .toSet
    q("st26_stream_index_append").collect() // (re)build the stream index
    val root = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      "graft_stream_index", "idx").toString
    val before = rows(sim.readIvfIndex(spark, root))
    sim.compactIvfIndex(spark, root)
    assert(graft.io.Commit.readMarker(spark, s"$root/_INDEX")
      == "seg_compact1")
    assert(rows(sim.readIvfIndex(spark, root)) == before,
      "compaction of the stream-built index changed its rows")
  }
}
