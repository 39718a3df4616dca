package graft

import java.security.MessageDigest
import org.scalatest.funsuite.AnyFunSuite

/** Property tests for the round-11 work. The headline is dd24's
  * offset-robustness theorem: a span duplicated at a 1-char shift is
  * invisible to dd23's 0-anchored segmentation (proved here — zero
  * removals) but is cut by dd24's content-defined segmentation, and
  * dd24's output matches a brute-force reimplementation of the CDC
  * rule + first-wins rewrite computed in plain Scala, independent of
  * both engines the driver compares.
  */
class Round11OpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def md5hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** First 7 hex digits of md5 as a long — Funcs.md5Long(c, 7). */
  private def md5Long7(s: String): Long =
    java.lang.Long.parseLong(md5hex(s).take(7), 16)

  private def writeDocs(rows: Seq[(Long, String)]): String = {
    val dir = TestFiles.tempDir("graft_r11").toString
    rows.map { case (id, t) => (id, t, "en", "web", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    dir
  }

  /** Brute-force dd24 segmentation: cut after every CdcHashW-gram
    * whose 7-hex md5 prefix is ≡ 0 mod CdcDiv, then the LBFS
    * [CdcMin, CdcMax] clamp as an explicit left-to-right greedy —
    * skip a cut closer than min to the last kept boundary, force
    * cuts every max across longer gaps, always end at len.
    * (Round12OpsSpec re-derives the same greedy independently for
    * its degenerate-doc properties.) */
  private def cdcSegments(t: String): Seq[String] = {
    val wh = graft.dedup.Dedup.CdcHashW
    val dv = graft.dedup.Dedup.CdcDiv
    val mn = graft.dedup.Dedup.CdcMin
    val mx = graft.dedup.Dedup.CdcMax
    val cuts = (1 to t.length - wh + 1)
      .filter(i => md5Long7(t.substring(i - 1, i - 1 + wh)) % dv == 0)
      .map(i => (i + wh - 1).toLong).filter(_ < t.length)
    val acc = scala.collection.mutable.ArrayBuffer(0L)
    (cuts :+ t.length.toLong).foreach { p =>
      val last = acc.last
      val n = (p - last - 1) / mx
      (1L to n).foreach(j => acc += last + j * mx)
      if (p == t.length || p - (last + n * mx) >= mn) acc += p
    }
    acc.zip(acc.tail).map { case (a, b) =>
      t.substring(a.toInt, b.toInt) }.toSeq
  }

  test("dd24 removes a 1-char-shifted duplicated span that dd23's " +
    "aligned segmentation provably cannot cut, and matches the " +
    "brute-force CDC first-wins rewrite") {
    val rnd = new scala.util.Random(20260815)
    def rs(n: Int): String =
      (1 to n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val shared = rs(600)
    // offsets 100 vs 101: S starts at different positions mod 64, so
    // no 64-aligned segment of doc 2 can equal one of doc 1's
    val docA = rs(100) + shared + rs(80)
    val docB = rs(101) + shared + rs(90)
    val dir = writeDocs(Seq((1L, docA), (2L, docB)))

    // dd23 is blind to the shift: zero removals in either doc
    val dd23 = SparkEntry.queries("dd23_span_removal")(spark, dir)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(dd23(1L).getLong(2) == 0L)
    assert(dd23(2L).getLong(2) == 0L)

    // dd24 cuts it: doc 1 (first occurrence) keeps everything, doc 2
    // loses the interior of the shared span — only the CDC edge
    // effect (segments whose boundary decision reads bytes outside
    // the span) can survive
    val dd24 = SparkEntry.queries("dd24_cdc_span_removal")(spark, dir)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(dd24(1L).getLong(2) == 0L)
    assert(dd24(2L).getLong(2) > 0L)
    val removedChars = docB.length - dd24(2L).getLong(3)
    assert(removedChars >= shared.length / 2,
      s"expected most of the ${shared.length}-char shared span " +
        s"removed, got $removedChars chars")

    // exact parity with the independent in-memory rewrite
    val seen = scala.collection.mutable.Set[String]()
    Seq((1L, docA), (2L, docB)).foreach { case (id, t) =>
      val segs = cdcSegments(t)
      val kept = segs.filter(seen.add)
      val row = dd24(id)
      assert(row.getLong(1) == segs.length.toLong)
      assert(row.getLong(2) == (segs.length - kept.length).toLong)
      assert(row.getLong(3) == kept.mkString.length.toLong)
      assert(row.getString(4) == md5hex(kept.mkString))
    }
  }

  test("ta26b batched merges, flattened in (round, idx) order, equal " +
    "the sequential trainer's merge sequence exactly") {
    // the parity theorem end-to-end: an independent in-memory
    // SEQUENTIAL trainer (explicit sequence merge, recomputing the
    // argmax after every single merge) must produce the same (lsym,
    // rsym, pair_count) sequence as the batched trainer's flattened
    // merge table — not similar token tables, the SAME merges in the
    // SAME order with the SAME counts
    val d = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("ta26b_bpe_batch_merges")(spark, d)
      .collect()
      .map(r => (r.getString(2), r.getString(3), r.getLong(4))).toSeq
    assert(got.nonEmpty)
    // well above ta26's 3-merge demonstration: the full table the
    // 32-round budget trains on this corpus
    assert(got.length >= 40, s"expected a deep merge table, got ${got.length}")

    var freq = Tables.documents(spark, d).select("text").collect()
      .flatMap(_.getString(0).split(" ")).filter(_.nonEmpty)
      .map(w => w.codePoints().toArray
        .map(cp => new String(Character.toChars(cp))).toList)
      .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val ref = scala.collection.mutable.ListBuffer[(String, String, Long)]()
    (1 to got.length).foreach { _ =>
      val pairCounts = scala.collection.mutable.Map[(String, String), Long]()
      freq.foreach { case (seq, f) =>
        seq.zip(seq.tail).foreach { p =>
          pairCounts(p) = pairCounts.getOrElse(p, 0L) + f }
      }
      val ((l, r), c) = pairCounts.toSeq
        .sortBy { case ((a, b), n) => (-n, a, b) }.head
      ref += ((l, r, c))
      def merge(seq: List[String]): List[String] = seq match {
        case a :: b :: rest if a == l && b == r => (l + r) :: merge(rest)
        case a :: rest => a :: merge(rest)
        case Nil => Nil
      }
      freq = freq.groupBy { case (seq, _) => merge(seq) }
        .map { case (k, v) => k -> v.values.sum }
    }
    assert(got == ref.toSeq)
  }

  test("ta26b acceptance gate: interaction STOPS the batch (not " +
    "skip), and the created-pair bound rejects a dominated candidate") {
    import graft.operators.TextAnalysis.{BpeCand, bpeBatchAccept}
    // interaction: #2 shares a symbol with #1 — the batch must stop
    // AT it, not skip past it to #3 (a skipped pair's count may still
    // outrank #3 at the sequential trainer's next step)
    val stopAt = bpeBatchAccept(Seq(
      BpeCand("a", "b", 100, 5, 5),
      BpeCand("b", "c", 90, 5, 5),
      BpeCand("x", "y", 50, 5, 5)))
    assert(stopAt.map(c => (c.l, c.r)) == Seq(("a", "b")))
    // created-pair bound: merging (a,b) with maxIn(a)=80 can create a
    // pair counting up to 80 — a later candidate at 60 is NOT provably
    // the next argmax and must stop the batch, while one at 95 is safe
    val bounded = bpeBatchAccept(Seq(
      BpeCand("a", "b", 100, 80, 10),
      BpeCand("x", "y", 60, 5, 5)))
    assert(bounded.map(c => (c.l, c.r)) == Seq(("a", "b")))
    val safe = bpeBatchAccept(Seq(
      BpeCand("a", "b", 100, 80, 10),
      BpeCand("x", "y", 95, 5, 5)))
    assert(safe.map(c => (c.l, c.r)) == Seq(("a", "b"), ("x", "y")))
  }

  test("io19b evolve-on-merge equals backfill-then-merge row for row") {
    // the schema-evolution merge law has two spellings — evolve the
    // schema during the merge (union of schemas, NULL backfill on
    // base survivors) or ALTER-backfill the base first and run the
    // plain schema-aligned merge — and they must be the same
    // operation, not two operations that happen to agree on
    // aggregates
    val d = "/root/testdata/sf0.001"
    val (base, cdcKeys, cdcRows, _) =
      graft.io.JsonLines.evolveMergeParts(spark, d)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "text", "lang", "source", "n_chars", "tok_count")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4),
        if (r.isNullAt(5)) None else Some(r.getLong(5))))
      .sortBy(_._1).toSeq
    val evolved = rows(
      graft.io.JsonLines.evolveOnMerge(base, cdcKeys, cdcRows))
    val backfilled = rows(
      graft.io.JsonLines.backfillThenMerge(base, cdcKeys, cdcRows))
    assert(evolved.nonEmpty)
    assert(evolved == backfilled)
    // the evolution is real: surviving base rows are NULL-backfilled,
    // CDC rows carry values
    assert(evolved.exists(_._6.isEmpty))
    assert(evolved.exists(_._6.isDefined))
  }

  test("cu04 wave sink is replay-safe: a committed wave is skipped " +
    "and no version rolls twice") {
    import graft.apps.CurationIncremental
    val d = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, d)
    val root = TestFiles.tempDir("graft_cu04_replay").toString
    CurationIncremental.curateBase(spark, docs, root)
    val wave = graft.operators.TextAnalysis
      .benchSample(docs, 2 * CurationIncremental.BenchN)
      .select("doc_id", "text")
    assert(CurationIncremental.refreshWaveBatch(spark, root, docs, wave, 0L))
    def ver = graft.io.Commit.readMarker(spark, s"$root/_SNAPSHOT")
      .stripPrefix("snap").toLong
    val after = ver
    assert(after == 1L)
    // redelivery of the committed wave: skipped before any marker moves
    assert(!CurationIncremental.refreshWaveBatch(spark, root, docs, wave, 0L))
    assert(ver == after)
    // and an empty microbatch is short-circuited the same way
    assert(!CurationIncremental.refreshWaveBatch(spark, root, docs,
      wave.limit(0), 7L))
    assert(ver == after)
    // cross-query lock (the io22⇔io23 discipline): the stream's
    // one-wave state IS cu03's batch refresh — published snapshot
    // after this single wave equals the cu03 entry row-for-row
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getAs[Number](3).longValue /* n_tokens */)).toSeq
    val streamed = rows(CurationIncremental.published(spark, root))
    val batch = rows(SparkEntry.queries("cu03_bench_refresh")(spark, d))
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("dd24 segmentation is offset-invariant after re-sync: the " +
    "shared span chunks identically at both shifts from the first " +
    "common kept boundary, reached within one clamp period") {
    // With the [min,max] clamp the greedy's state is the last KEPT
    // boundary, so the first boundaries inside the span can depend on
    // pre-span content; but the moment both runs keep the SAME
    // relative boundary, every later decision sees identical state +
    // identical content ⇒ identical chunking. The theorem is
    // therefore suffix invariance from the first common boundary,
    // and that boundary arrives within ~one max-length segment.
    val rnd = new scala.util.Random(7)
    def rs(n: Int): String =
      (1 to n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val shared = rs(600)
    val edge = graft.dedup.Dedup.CdcHashW + graft.dedup.Dedup.CdcDiv
    // kept boundaries relative to the span start, restricted to the
    // interior (a full gram away from either edge, so every boundary
    // decision reads span bytes only)
    def relBounds(t: String, start: Int): Seq[Long] = {
      var off = 0L
      cdcSegments(t).map { seg => off += seg.length; off }
        .map(_ - start)
        .filter(p => p >= edge && p <= shared.length - edge)
    }
    val ba = relBounds(rs(37) + shared + rs(50), 37)
    val bb = relBounds(rs(38) + shared + rs(61), 38)
    val common = ba.toSet.intersect(bb.toSet)
    assert(common.nonEmpty)
    val rp = common.min
    assert(rp <= edge + graft.dedup.Dedup.CdcMax +
      graft.dedup.Dedup.CdcMin)
    val sa = ba.filter(_ >= rp)
    assert(sa.length >= 3) // suffix equality is not vacuous
    assert(sa == bb.filter(_ >= rp))
  }
}
