package graft

import java.security.MessageDigest
import org.scalatest.funsuite.AnyFunSuite

/** In-test oracles for the span-dedup / contamination / mixing-weight
  * queries (dd15, ta16, q30): each is recomputed brute-force in plain
  * Scala over a purpose-built synthetic corpus, so the assertion is
  * independent of BOTH engines the driver compares (Spark and the SQL
  * oracle) and of the shipped testdata fixtures.
  */
class CurationQueriesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def md5hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private def toks(t: String): Seq[String] =
    t.split(" ").filter(_.nonEmpty).toSeq

  private def writeDocs(rows: Seq[(Long, String, String, String)]): String = {
    val dir = TestFiles.tempDir("graft_cq").toString
    rows.map { case (id, t, l, src) => (id, t, l, src, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def u6(num: Long, den: Long): Long =
    math.floor(num * 1000000.0 / den + 0.5).toLong

  // ---- dd15 ---------------------------------------------------------

  /** Brute-force dd15: 64-char windows every 32 chars. */
  private def spanHashes(t: String): Seq[String] =
    (1 to (t.length - 63) by 32)
      .map(p => md5hex(t.substring(p - 1, p - 1 + 64)).take(16))

  test("dd15 matches a brute-force span-dedup recompute") {
    // docs 1/2 share a position-aligned 128-char prefix (=> exactly the
    // windows at pos 1/33/65 collide); doc 3 repeats one char — all its
    // windows hash equal WITHIN the doc, which must NOT count as
    // duplication; doc 4 is below the window width and must vanish.
    val prefix = "abcdefgh" * 16
    val rows = Seq(
      (1L, prefix + "x" * 200, "en", "web"),
      (2L, prefix + "y" * 200, "en", "web"),
      (3L, "z" * 300, "en", "web"),
      (4L, "too short", "en", "web"))
    val dir = writeDocs(rows)

    val spans = rows.filter(_._2.length >= 64)
      .map { case (id, t, _, _) => id -> spanHashes(t) }
    val dupH = spans.flatMap { case (id, hs) => hs.distinct.map(_ -> id) }
      .groupBy(_._1).filter(_._2.map(_._2).distinct.size >= 2).keySet
    val expected = spans.map { case (id, hs) =>
      val nd = hs.count(dupH)
      (id, hs.size.toLong, nd.toLong, u6(nd.toLong, hs.size.toLong))
    }.sortBy(_._1)

    val got = SparkEntry.queries("dd15_dup_spans")(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // the aligned-prefix pair shares exactly 3 windows, the
    // self-repetitive doc none
    assert(got.find(_._1 == 1L).get._3 == 3L)
    assert(got.find(_._1 == 3L).get._3 == 0L)
    assert(!got.exists(_._1 == 4L))
  }

  // ---- ta16 ---------------------------------------------------------

  private def grams8(ts: Seq[String]): Seq[String] =
    if (ts.size < 8) Seq.empty
    else (0 to ts.size - 8).map(i => ts.slice(i, i + 8).mkString(" "))

  test("ta16 matches a brute-force contamination recompute") {
    // 80 docs: a global 8-token header (guarantees every eval doc has
    // at least one contaminated gram as long as ANY doc lands on the
    // training side), pair-shared bodies, unique tails
    val header = "alpha beta gamma delta epsilon zeta eta theta"
    val rows = (0L until 80L).map { i =>
      val body = (0 until 10).map(j => s"w${i / 2}_$j").mkString(" ")
      (i, s"$header $body tail_$i", "en", "web")
    }
    val dir = writeDocs(rows)

    val evalIds = rows.map(_._1)
      .sortBy(id => (md5hex(id.toString), id)).take(64).toSet
    val trainGrams = rows.filterNot(r => evalIds(r._1))
      .flatMap(r => grams8(toks(r._2))).toSet
    val expected = rows.filter(r => evalIds(r._1))
      .map { r =>
        val gs = grams8(toks(r._2)).distinct
        val nc = gs.count(trainGrams)
        (r._1, gs.size.toLong, nc.toLong, u6(nc.toLong, gs.size.toLong))
      }
      .filter(_._2 > 0).sortBy(_._1)

    val got = SparkEntry.queries("ta16_contamination")(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    assert(got.forall(_._3 >= 1L), "global header must contaminate")
    assert(got.exists(_._3 < got.map(_._2).max),
      "unique tails must keep some grams clean")
  }

  // ---- ta17 ---------------------------------------------------------

  test("ta17 matches a brute-force PII-redaction recompute") {
    // ids chosen to cover every generator combination: 0 (all three),
    // 3 (email only), 4 (phone), 5 (ip), 12 (email+phone), 15
    // (email+ip), 20 (phone+ip), 7 (none)
    val ids = Seq(0L, 3L, 4L, 5L, 7L, 12L, 15L, 20L, 60L)
    val rows = ids.map(i => (i, s"plain words doc $i", "en", "web"))
    val dir = writeDocs(rows)

    val email = "[a-z0-9]+@[a-z0-9]+\\.[a-z]+"
    val phone = "555-[0-9]{4}"
    val ip    = "[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+"
    def count(p: String, s: String) =
      p.r.findAllIn(s).size.toLong
    val redTexts = rows.map { case (i, t, _, _) =>
      val payload = t +
        (if (i % 3 == 0) s" contact u$i@ex${i % 7}.org" else "") +
        (if (i % 4 == 0) f" call 555-${i % 10000}%04d" else "") +
        (if (i % 5 == 0) s" from 10.${i % 256}.${(i / 256) % 256}.${i % 100}"
         else "")
      val red = payload.replaceAll(email, "<EMAIL>")
        .replaceAll(phone, "<PHONE>").replaceAll(ip, "<IP>")
      (i, payload, red)
    }
    val expected = redTexts.map { case (i, payload, red) =>
      (i, count(email, payload), count(phone, payload), count(ip, payload),
        red.length.toLong, md5hex(red))
    }.sortBy(_._1)

    val got = SparkEntry.queries("ta17_pii_redact")(spark, dir)
      .as[(Long, Long, Long, Long, Long, String)].collect().toSeq
    assert(got == expected)
    // the generator must have exercised every class and the clean path
    assert(got.find(_._1 == 0L).get.productIterator.toSeq.slice(1, 4) ==
      Seq(1L, 1L, 1L))
    assert(got.find(_._1 == 7L).get.productIterator.toSeq.slice(1, 4) ==
      Seq(0L, 0L, 0L))
    // redaction is complete: no raw PII survives in any scrubbed text
    assert(redTexts.forall { case (_, _, red) =>
      !red.contains("@") && !red.contains("555-") &&
        ip.r.findFirstIn(red).isEmpty
    })
  }

  // ---- ta18 ---------------------------------------------------------

  test("ta18 matches a brute-force Heaps-law recompute") {
    // vocab growth by construction: every doc carries two common words
    // plus one word new to its own id — so each added fraction adds
    // exactly its docs' private words to the vocabulary
    val rows = (1L to 40L).map(i =>
      (i, s"common words uniq$i" + (if (i % 3 == 0) s" extra$i" else ""),
        "en", "web"))
    val dir = writeDocs(rows)

    def bucket(id: Long): Long =
      (BigInt(md5hex(s"heaps:$id").take(15), 16) % 8).toLong
    val byB = rows.groupBy { case (id, _, _, _) => bucket(id) }
    val cum = (0L until 8L).scanLeft((0L, 0L, Set.empty[String])) {
      case ((nd, nt, vocab), b) =>
        val ds = byB.getOrElse(b, Seq.empty)
        (nd + ds.size, nt + ds.map(d => toks(d._2).size.toLong).sum,
          vocab ++ ds.flatMap(d => toks(d._2)))
    }.drop(1).zipWithIndex.map { case ((nd, nt, v), j) =>
      (j.toLong, nd, nt, v.size.toLong)
    }.filter(t => t._3 > 0 && t._4 > 0)

    // the micro-unit OLS, exactly as both engines compute it
    val pts = cum.map(t =>
      (math.floor(math.log(t._3.toDouble) * 1e6 + 0.5).toLong,
        math.floor(math.log(t._4.toDouble) * 1e6 + 0.5).toLong))
    val n = pts.size.toDouble
    val (sx, sy) = (pts.map(_._1).sum.toDouble, pts.map(_._2).sum.toDouble)
    val sxy = pts.map(t => t._1 * t._2).sum.toDouble
    val sxx = pts.map(t => t._1 * t._1).sum.toDouble
    val beta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    val logK = (sy - beta * sx) / n / 1e6

    val got = SparkEntry.queries("ta18_heaps_law")(spark, dir)
      .as[(Long, Long, Long, Long, Double, Double)].collect().toSeq
    assert(got.map(t => (t._1, t._2, t._3, t._4)) ==
      cum.map(t => (t._1, t._2, t._3, t._4)))
    got.foreach { t =>
      assert(math.abs(t._5 - beta) < 1e-6, s"beta ${t._5} vs $beta")
      assert(math.abs(t._6 - logK) < 1e-6, s"logK ${t._6} vs $logK")
    }
    // growth curves are monotone and the fit slope is a real Heaps
    // exponent (sublinear growth: 0 < beta < 1)
    assert(cum.map(_._4) == cum.map(_._4).sorted)
    assert(beta > 0 && beta < 1, s"beta=$beta")
  }

  // ---- ta19 ---------------------------------------------------------

  test("ta19 matches a brute-force budget-selection recompute") {
    // three quality classes with uniform per-class scores, sized so the
    // 20k budget takes all of A (12k tokens), PART of B (8k of 10k —
    // the boundary bin, tie-broken by md5 order), and none of C
    val stop = ("the a of and in to " * 20).trim  // 120 tokens, all stop
    val mid  = ("word " * 100).trim               // 100 tokens
    val low  = ("xy " * 30).trim                  // 30 tokens
    val rows = (1L to 100L).map((_, stop)) ++
      (101L to 200L).map((_, mid)) ++ (201L to 300L).map((_, low))
    val dir = writeDocs(rows.map { case (i, t) => (i, t, "en", "web") })

    val sw = Set("the", "a", "of", "and", "in", "to")
    def qu6(t: String): Long = {
      val ts = toks(t); val n = ts.size.toDouble
      val s = 0.5 * (ts.count(sw) / n) +
        0.3 * math.min(ts.map(_.length).sum / n / 8.0, 1.0) +
        0.2 * math.min(n / 100.0, 1.0)
      // Spark's round(): BigDecimal.valueOf + HALF_UP
      val r = BigDecimal(java.math.BigDecimal.valueOf(s))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      math.floor(r * 1e6 + 0.5).toLong
    }
    val docs = rows.map { case (id, t) => (id, toks(t).size.toLong, qu6(t)) }
    val expected = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, String)]
    var budget = graft.operators.TextAnalysis.TokenBudget
    docs.groupBy(_._3).toSeq.sortBy(-_._1).foreach { case (q, ds) =>
      val ordered = ds.sortBy(d => (md5hex(d._1.toString), d._1))
      val total = ds.map(_._2).sum
      if (budget >= total) {
        ordered.foreach(d => expected += ((d._1, d._2, q, "full")))
        budget -= total
      } else if (budget > 0) {
        var left = budget
        ordered.foreach { d =>
          if (d._2 <= left) { expected += ((d._1, d._2, q, "partial"))
            left -= d._2 }
          else left = -1 // window cumsum stops at first overflow
        }
        budget = 0
      }
    }

    val got = SparkEntry.queries("ta19_budget_select")(spark, dir)
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(got == expected.toSeq)
    // the scenario really exercised both tiers and the budget is tight:
    // selected tokens fit, and no excluded same-or-better doc would
    assert(got.map(_._4).toSet == Set("full", "partial"))
    val used = got.map(_._2).sum
    assert(used <= graft.operators.TextAnalysis.TokenBudget)
    assert(got.count(_._4 == "partial") == 80 && used == 20000L)
  }

  // ---- st11 ---------------------------------------------------------

  test("st11 heavy hitters match a brute-force CMS recompute") {
    // full plain-Scala count-min sketch over the sf0.001 fixture
    // (runDocStream's file-stream source wants the fixture's single-
    // file parquet layout, so this test recomputes on the shipped
    // corpus rather than a writeDocs dir): same geometry (4×512,
    // md5-prefix hashing), same serving rule, same report
    val dir = "/root/testdata/sf0.001"
    val texts = spark.read.parquet(s"$dir/documents.parquet")
      .select("text").as[String].collect().toSeq
    val toksAll = texts.flatMap(toks)
    val tru = toksAll.groupBy(identity).map { case (t, xs) =>
      t -> xs.size.toLong }
    def bucket(r: Int, tok: String): Long =
      java.lang.Long.parseLong(md5hex(s"$r:$tok").take(7), 16) % 512L
    val cells = toksAll.flatMap(t => (0 until 4).map(r => (r, bucket(r, t))))
      .groupBy(identity).map { case (cell, xs) => cell -> xs.size.toLong }
    val expected = tru.toSeq.map { case (t, n) =>
      val est = (0 until 4).map(r => cells((r, bucket(r, t)))).min
      (t, est, n, est - n)
    }.sortBy { case (t, est, _, _) => (-est, t) }.take(25)

    val got = SparkEntry.queries("st11_stream_heavy_hitters")(spark, dir)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // CMS contract over the FULL vocabulary, not just the report:
    // the estimate never undercounts
    assert(tru.forall { case (t, n) =>
      (0 until 4).map(r => cells((r, bucket(r, t)))).min >= n })
  }

  // ---- q30 ----------------------------------------------------------

  test("q30 matches a brute-force mixing-weight recompute") {
    val langs = Seq("en", "de", "es")
    val sources = Seq("web", "wiki", "code", "news")
    val rows = (0L until 90L).map { i =>
      (i, s"doc number $i with some text", langs((i % 3).toInt),
        sources((i % 7 % 4).toInt)) // uneven group sizes
    }
    val dir = writeDocs(rows)

    val groups = rows.groupBy(r => (r._3, r._4)).toSeq.map {
      case ((l, src), rs) =>
        (l, src, rs.size.toLong, rs.map(_._2.length.toLong).sum,
          math.floor(math.sqrt(rs.size.toDouble) * 1000000.0).toLong)
    }
    val tot = groups.map(_._5).sum
    val expected = groups.map { case (l, src, n, ch, s6) =>
      (l, src, n, ch, math.floor(s6 * 1000000.0 / tot + 0.5).toLong)
    }.sortBy(g => (g._1, g._2))

    val got = SparkEntry.queries("q30_mix_weights")(spark, dir)
      .as[(String, String, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // weights normalize (within per-group half-unit rounding) and are
    // monotone in group size
    assert(math.abs(got.map(_._5).sum - 1000000L) <= groups.size / 2 + 1)
    val bySize = got.sortBy(_._3)
    assert(bySize.zip(bySize.tail).forall { case (a, b) => a._5 <= b._5 })
  }

  // ---- q31 ----------------------------------------------------------

  test("q31 matches a brute-force mix-apply recompute") {
    // same uneven-group corpus as q30; 90 docs << the 200-doc target,
    // so every bucket's quota CAPS at its size (the without-
    // replacement path) — plus one giant bucket that out-sizes its
    // quota and must truncate in hash order
    val langs = Seq("en", "de", "es")
    val sources = Seq("web", "wiki", "code", "news")
    val small = (0L until 90L).map { i =>
      (i, s"doc number $i with some text", langs((i % 3).toInt),
        sources((i % 7 % 4).toInt))
    }
    val giant = (100L until 400L).map { i =>
      (i, s"giant bucket doc $i", "en", "web")
    }
    val rows = small ++ giant
    val dir = writeDocs(rows)

    val groups = rows.groupBy(r => (r._3, r._4)).toSeq.map {
      case ((l, src), rs) =>
        (l, src, rs,
          math.floor(math.sqrt(rs.size.toDouble) * 1000000.0).toLong)
    }
    val tot = groups.map(_._4).sum
    val expected = groups.flatMap { case (l, src, rs, s6) =>
      val w = math.floor(s6 * 1000000.0 / tot + 0.5).toLong
      val quota = math.floor(200L * w / 1000000.0 + 0.5).toLong
      rs.map(_._1).sortBy(id => (md5hex(id.toString), id))
        .take(quota.toInt).zipWithIndex
        .map { case (id, k) => (l, src, id, k + 1L) }
    }.sortBy(t => (t._1, t._2, t._4))

    val got = SparkEntry.queries("q31_mix_apply")(spark, dir)
      .as[(String, String, Long, Long)].collect().toSeq
    assert(got == expected)
    // the giant bucket truncated (quota < size), some small bucket
    // was fully taken (cap path) — both regimes exercised
    val giantKept = got.count(g => g._1 == "en" && g._2 == "web")
    assert(giantKept < 300 + small.count(r => r._3 == "en" && r._4 == "web"))
    assert(groups.exists { case (l, src, rs, _) =>
      got.count(g => g._1 == l && g._2 == src) == rs.size })
  }
}
