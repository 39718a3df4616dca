package graft

import graft.functions.Funcs
import graft.operators.FeatureSelection
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Property tests (SURVEY §5): pipeline invariants over randomly
  * generated tiny corpora, including tokens with the characters the
  * normalizer strips and duplicate lines. */
class PropertiesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val rawToken = Gen.oneOf(
    "Load Library", "Sleep+", "Create-Thread", "Open", "bind",
    "Exec WMI", "Get-Key", " - ", "Crypt")
  private val sample = for {
    cls <- Gen.oneOf("virus", "clean")
    toks <- Gen.nonEmptyListOf(rawToken)
  } yield (cls, toks.take(8))
  private val corpus = Gen.nonEmptyListOf(sample).map(_.take(8).zipWithIndex
    .map { case ((cls, toks), i) => (s"s$i", cls, toks) })

  private def runProp(p: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(12), p)
    assert(res.passed, res.status.toString)
  }

  test("pipeline invariants hold on random corpora") {
    runProp(Prop.forAll(corpus) { cs =>
      val calls = cs.flatMap { case (id, cls, toks) =>
        toks.map(t => (id, cls, t))
      }.toDF("sample_id", "cls", "raw")
        .select(col("sample_id"), col("cls"),
          Funcs.normalizeToken(col("raw")).as("token"))
        .filter(length(col("token")) > 0)
      val nPerClass = cs.groupBy(_._2).view.mapValues(_.size).toMap
      val totals = Seq((nPerClass.getOrElse("virus", 0).toLong,
        cs.size.toLong)).toDF("p", "t")

      val distinct = FeatureSelection.distinctCalls(calls)
      val df = FeatureSelection.docFreqOfDistinct(distinct).collect()
      val dfOk = df.forall(r =>
        r.getLong(2) <= nPerClass.getOrElse(r.getString(1), 0).toLong)

      val ranked = FeatureSelection
        .infoGainRankedOfDistinct(distinct, "virus", totals).collect()
      val gainOk = ranked.forall { r =>
        val g = r.getDouble(3); g >= 0.0 && g <= 1.0
      }

      val top = FeatureSelection.topFeatures(
        FeatureSelection.infoGainRankedOfDistinct(distinct, "virus", totals), 5)
      val vec = FeatureSelection.vectorizeOfDistinct(distinct, top, "virus").collect()
      val k = top.count()
      val vecOk = vec.forall { r =>
        val fi = r.getInt(2); fi >= 1 && fi <= k &&
          (r.getDouble(1) == 0.0 || r.getDouble(1) == 1.0)
      }

      val rows = FeatureSelection.libsvmRows(
        FeatureSelection.vectorizeOfDistinct(distinct, top, "virus")).collect()
      val rowsOk = rows.length <= cs.size &&
        rows.forall(_.getString(1).matches("[01]( \\d+:1)+"))

      dfOk && gainOk && vecOk && rowsOk
    })
  }

  test("connectedComponents equals driver-side union-find on random graphs") {
    // CC underpins every dedup-group decision (dd07, curation) — it
    // must match an obviously-correct sequential union-find on
    // arbitrary graphs: chains, stars, cycles, disconnected pieces.
    val edgeGen = for {
      n <- Gen.choose(2, 24)
      m <- Gen.choose(1, 32)
      es <- Gen.listOfN(m, for {
        a <- Gen.choose(0L, n.toLong)
        b <- Gen.choose(0L, n.toLong)
      } yield (math.min(a, b), math.max(a, b)))
    } yield es.filter(e => e._1 != e._2).distinct
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(6),
      Prop.forAll(edgeGen) { es =>
        es.isEmpty || {
          val got = graft.dedup.Dedup
            .connectedComponents(es.toDF("doc_a", "doc_b"), maxRounds = 8)
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
          val parent = scala.collection.mutable.Map[Long, Long]()
          def find(x: Long): Long = {
            val p = parent.getOrElseUpdate(x, x)
            if (p == x) x else { val r = find(p); parent(x) = r; r }
          }
          es.foreach { case (a, b) =>
            val (ra, rb) = (find(a), find(b))
            if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
          }
          val expected = es.flatMap(e => Seq(e._1, e._2)).distinct
            .groupBy(find).flatMap { case (_, ns) =>
              val m = ns.min
              ns.map(_ -> m)
            }
          got == expected
        }
      })
    assert(res.passed, res.status.toString)
  }

  test("normalizeToken is idempotent") {
    runProp(Prop.forAll(Gen.asciiPrintableStr) { s =>
      val once = Seq(s).toDF("x")
        .select(Funcs.normalizeToken(col("x"))).as[String].collect()(0)
      val twice = Seq(once).toDF("x")
        .select(Funcs.normalizeToken(col("x"))).as[String].collect()(0)
      once == twice
    })
  }

  // ASCII, the three stripped characters, and multi-byte code points
  // (2-, 3- and 4-byte UTF-8, the last a surrogate pair in Java)
  private val mixedChar = Gen.frequency(
    4 -> Gen.alphaNumChar.map(_.toString),
    3 -> Gen.oneOf(" ", "+", "-"),
    1 -> Gen.oneOf("é", "ß", "中", "😀", "\t", "_", "%"))
  private def strOf(part: Gen[String]) =
    Gen.listOf(part).map(_.take(24).mkString)

  test("normalizeToken's translate equals the regexp_replace it replaced") {
    runProp(Prop.forAll(Gen.listOf(strOf(mixedChar))) { xs =>
      val ss = (None +: xs.map(Some(_))).toDF("x")
      ss.select(Funcs.normalizeToken(col("x")).as("got"),
          regexp_replace(col("x"), "[ +-]", "").as("want"))
        .collect().forall(r => r.get(0) == r.get(1))
    })
  }

  test("readRaw's substring_index equals the regexp_extract it replaced") {
    // the domain is input_file_name(): an absolute URI of a file (at
    // least two non-empty segments, possibly spaces or %-escapes), or
    // "" when the scan has no file name
    val segment = strOf(Gen.frequency(
      6 -> mixedChar.suchThat(_ != "%"),
      1 -> Gen.oneOf("%20", "%25", "%2F", "%E4%B8%AD")))
      .suchThat(_.nonEmpty)
    val path = for {
      scheme <- Gen.oneOf("file://", "hdfs://nn:8020", "s3a://bucket", "")
      segs <- Gen.chooseNum(2, 6).flatMap(Gen.listOfN(_, segment))
    } yield segs.mkString(s"$scheme/", "/", "")
    runProp(Prop.forAll(Gen.listOf(path)) { ps =>
      ("" +: ps).toDF("p")
        .select(substring_index(col("p"), "/", -2).as("got"),
          regexp_extract(col("p"), "([^/]+/[^/]+)$", 1).as("want"))
        .collect().forall(r => r.get(0) == r.get(1))
    })
  }

  test("mm03 video container round-trips every frame for any geometry") {
    import graft.multimodal.Multimodal
    val gen = for {
      id <- Gen.chooseNum(0L, 1000000L)
      cp <- Gen.chooseNum(0, 500)
    } yield (id, cp)
    runProp(Prop.forAll(gen) { case (id, cp) =>
      val payload = Multimodal.encodeVideo(id, cp)
      // walk ALL frames (not just the sampled ones) via the container
      // parser and check geometry + every pixel against the generator
      var pos = 0
      var f = 0
      var ok = true
      while (pos < payload.length && ok) {
        val (img, next) = Multimodal.parsePpmAt(payload, pos)
        val (w, h) = Multimodal.videoDims(id, f, cp)
        ok = img.width == w && img.height == h &&
          img.pixels.indices.forall(i =>
            (img.pixels(i) & 0xFF) == Multimodal.videoPixel(id, f, i))
        pos = next
        f += 1
      }
      ok && f == Multimodal.videoFrameCount(id) && pos == payload.length
    })
  }

  test("mm05 WAV chunks: overlap, widths, checksums vs a naive reference") {
    import graft.multimodal.Multimodal
    val gen = for {
      id <- Gen.chooseNum(0L, 1000000L)
      ch <- Gen.chooseNum(1, 3)
      frames <- Gen.chooseNum(1, 200)
    } yield (id, ch, frames)
    runProp(Prop.forAll(gen) { case (id, ch, frames) =>
      val chunks = Multimodal.overlapWavChunks(Multimodal.MediaRecord(
        id, Multimodal.encodeWav(id, 8000, ch, frames))).toList
      chunks.size == (frames + 31) / 32 &&
        chunks.zipWithIndex.forall { case (c, ci) =>
          val from = ci * 32
          val until = math.min(from + 48, frames)
          val expect = (from until until).flatMap(i =>
            (0 until ch).map(cc =>
              Multimodal.sampleValue(id, i, cc).toLong)).sum
          c.chunk_idx == ci && c.n_frames == until - from &&
            c.checksum == expect
        }
    })
  }

  test("PPM codec round-trips encode→decode for any geometry") {
    import graft.multimodal.Multimodal
    val gen = for {
      id <- Gen.chooseNum(0L, 1000000L)
      w <- Gen.chooseNum(1, 64)
      h <- Gen.chooseNum(1, 64)
    } yield (id, w, h)
    runProp(Prop.forAll(gen) { case (id, w, h) =>
      val img = Multimodal.decodePpm(Multimodal.encodePpm(id, w, h))
      img.width == w && img.height == h && img.maxVal == 255 &&
        img.pixels.length == 3 * w * h &&
        img.pixels.indices.forall(i =>
          (img.pixels(i) & 0xFF) == Multimodal.pixelByte(id, i))
    })
  }

  test("PPM decoder rejects malformed payloads loudly") {
    import graft.multimodal.Multimodal._
    import java.nio.charset.StandardCharsets.US_ASCII
    val good = encodePpm(7L, 3, 2)
    // real decoder behaviors: bad magic, truncated plane, trailing
    // garbage, non-8-bit maxval, missing ints — all named errors
    def err(bytes: Array[Byte]): String =
      intercept[IllegalArgumentException](decodePpm(bytes)).getMessage
    assert(err("P5\n3 2\n255\nxxx".getBytes(US_ASCII)).contains("magic"))
    assert(err(good.dropRight(1)).contains("pixel plane"))
    assert(err(good :+ 0.toByte).contains("pixel plane"))
    assert(err("P6\n3 2\n65535\n".getBytes(US_ASCII)).contains("maxval"))
    assert(err("P6\n \n".getBytes(US_ASCII)).contains("integer"))
    // non-whitespace separator after maxval must not decode silently
    val badSep = ("P6\n3 2\n255X".getBytes(US_ASCII)
      ++ good.drop(good.length - 18))
    assert(err(badSep).contains("whitespace"))
    // absurd header dims are rejected before any Int overflow
    assert(err("P6\n100000 100000\n255\n".getBytes(US_ASCII))
      .contains("bad dims"))
    // and a comment-bearing header (legal PPM) still parses
    val withComment = ("P6\n# a comment\n3 2\n255\n".getBytes(US_ASCII)
      ++ good.drop(good.length - 18))
    assert(decodePpm(withComment).width == 3)
  }

  test("WAV codec round-trips encode→decode for any geometry") {
    import graft.multimodal.Multimodal
    val gen = for {
      id <- Gen.chooseNum(0L, 1000000L)
      rate <- Gen.oneOf(8000, 12000, 16000, 44100)
      ch <- Gen.chooseNum(1, 4)
      frames <- Gen.chooseNum(1, 300)
    } yield (id, rate, ch, frames)
    runProp(Prop.forAll(gen) { case (id, rate, ch, frames) =>
      val wav = Multimodal.decodeWav(
        Multimodal.encodeWav(id, rate, ch, frames))
      wav.sampleRate == rate && wav.channels == ch &&
        wav.bitsPerSample == 16 &&
        wav.pcm.length == frames * ch * 2 &&
        (0 until frames).forall { i =>
          (0 until ch).forall { c =>
            val off = (i * ch + c) * 2
            val v = (wav.pcm(off + 1).toInt << 8) | (wav.pcm(off) & 0xFF)
            v == Multimodal.sampleValue(id, i, c)
          }
        }
    })
  }

  test("WAV decoder rejects malformed payloads loudly") {
    import graft.multimodal.Multimodal._
    import java.nio.charset.StandardCharsets.US_ASCII
    val good = encodeWav(7L, 8000, 2, 5)
    def err(bytes: Array[Byte]): String =
      intercept[IllegalArgumentException](decodeWav(bytes)).getMessage
    // bad magic / form type
    assert(err("JUNKxxxxxxxx".getBytes(US_ASCII)).contains("magic"))
    // truncation breaks the declared RIFF size (named error, not OOB)
    assert(err(good.dropRight(1)).contains("RIFF size"))
    assert(err(good :+ 0.toByte).contains("RIFF size"))
    // corrupt the WAVE form tag in place
    val badForm = good.clone(); badForm(8) = 'X'.toByte
    assert(err(badForm).contains("form type"))
    // non-PCM audio format (fmt chunk starts at byte 20)
    val badFmt = good.clone(); badFmt(20) = 3.toByte
    assert(err(badFmt).contains("audio format"))
    // 8-bit samples are rejected (bits/sample at fmt offset +14)
    val bad8 = good.clone(); bad8(34) = 8.toByte
    assert(err(bad8).contains("bits/sample"))
    // a data chunk with no preceding fmt must fail, not NPE: rewrite
    // the fmt tag to an unknown chunk so only data remains
    val noFmt = good.clone()
    noFmt(12) = 'j'.toByte; noFmt(13) = 'u'.toByte
    noFmt(14) = 'n'.toByte; noFmt(15) = 'k'.toByte
    assert(err(noFmt).contains("before fmt"))
  }

  test("resizeHalf equals a naive per-pixel reference") {
    import graft.multimodal.Multimodal
    val gen = for {
      id <- Gen.chooseNum(0L, 100000L)
      w <- Gen.chooseNum(1, 40)
      h <- Gen.chooseNum(1, 40)
    } yield (id, w, h)
    runProp(Prop.forAll(gen) { case (id, w, h) =>
      val r = Multimodal.resizeHalf(
        Multimodal.MediaRecord(id, Multimodal.encodePpm(id, w, h)))
      val w2 = (w + 1) / 2
      val h2 = (h + 1) / 2
      val want = (for {
        y <- 0 until h2; x <- 0 until w2; c <- 0 until 3
      } yield Multimodal.pixelByte(id, ((2 * y) * w + 2 * x) * 3 + c)
        .toLong).sum
      r.out_width == w2 && r.out_height == h2 && r.checksum == want
    })
  }
}
