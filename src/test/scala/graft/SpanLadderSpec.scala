package graft

import graft.dedup.Dedup.SpanLadder
import graft.io.Codecs
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** dd22's window-digest kernel on text where code points, UTF-16 chars
  * and UTF-8 bytes disagree, and on degenerate documents. The expected
  * rows come from an in-memory brute force over `String.codePoints`,
  * independent of the engine and of Spark. (Round10OpsSpec holds the
  * brute force on the fixture and dd22's job lock.) */
class SpanLadderSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def writeDocs(rows: Seq[(Long, String)]): String = {
    val dir = TestFiles.tempDir("graft_dd22").toString
    rows.map { case (id, t) =>
      (id, t, "en", "web", Option(t).map(_.codePointCount(0, t.length).toLong)) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    dir
  }

  private def dd22(dir: String): Seq[Row] =
    SparkEntry.queries("dd22_span_ladder")(spark, dir).collect().toSeq

  /** The ladder by brute force: every window of every width, keyed by
    * its text, with windows cut by `cut(text, w)`. */
  private def bruteForce(docs: Seq[(Long, String)],
      cut: (String, Int) => Seq[String]): Seq[Row] =
    SpanLadder.map { w =>
      val ids = scala.collection.mutable.Map[String, Set[Long]]()
      val occ = scala.collection.mutable.Map[String, Long]()
      docs.filter(_._2 != null).foreach { case (id, t) =>
        cut(t, w).foreach { s =>
          ids(s) = ids.getOrElse(s, Set.empty[Long]) + id
          occ(s) = occ.getOrElse(s, 0L) + 1
        }
      }
      val cross = ids.collect { case (s, d) if d.size >= 2 => s }.toSeq
      Row(w.toLong, cross.size.toLong,
        if (cross.isEmpty) 0L else cross.map(ids(_).size).max.toLong,
        cross.map(occ).sum,
        if (cross.isEmpty) null else cross.min(Codecs.sqlStringOrder))
    }

  private def codePointWindows(t: String, w: Int): Seq[String] = {
    val cps = t.codePoints().toArray
    (0 to cps.length - w).map(i => new String(cps, i, w))
  }

  private def charWindows(t: String, w: Int): Seq[String] =
    (0 to t.length - w).map(i => t.substring(i, i + w))

  test("dd22 counts windows in code points: 2-, 3- and 4-byte " +
    "characters across window edges, a short doc and a null text") {
    val rnd = new scala.util.Random(20261019)
    val alphabet = Seq("a", "b", "c", "d", " ", "é", "ü", "中", "文",
      "😀", "🚀")
    def rs(n: Int): String =
      Seq.fill(n)(alphabet(rnd.nextInt(alphabet.length))).mkString
    // a 300-code-point multibyte span in two docs at different offsets,
    // part of it in a third doc
    val shared = rs(300)
    val sharedCps = shared.codePoints().toArray
    def slice(from: Int, n: Int) = new String(sharedCps, from, n)
    val docs = Seq(
      1L -> (rs(7) + shared + rs(40)),
      2L -> (rs(13) + shared + rs(5)),
      3L -> (rs(3) + slice(50, 70) + rs(20)),
      // exactly 16 code points but more chars, a window of docs 1-3
      4L -> slice(100, 16),
      // 15 code points but at least 16 UTF-16 chars: too short for
      // any window, unless windows are counted in chars
      5L -> ("😀😀" + slice(200, 13)),
      6L -> null)
    assert(docs(4)._2.length >= 16 && docs(3)._2.length > 16)

    val want = bruteForce(docs, codePointWindows)
    // the data tells a code-point walk from a UTF-16 one at every width
    want.zip(bruteForce(docs, charWindows)).foreach { case (a, b) =>
      assert(a != b)
    }
    assert(want.forall(_.getLong(1) > 0L))
    assert(want.head.getLong(2) == 4L)
    assert(dd22(writeDocs(docs)) == want)
  }

  test("dd22 folds a document's repeats: a window twice in one doc " +
    "and once in another counts 2 docs, 3 occurrences, and its " +
    "witness is the first position in the smaller doc_id") {
    val w = "ABCDEFGHIJKLMNOP" // one width-16 window; every filler
    // letter below occurs once in the corpus, so no other window of
    // any width is shared
    val docs = Seq(
      7L -> ("ab" + w + "cdefghijkl" + w + "mn"), // at 3 and 29
      4L -> ("opqrstuvw" + w + "xyz"))             // at 10
    val election = graft.dedup.Dedup.crossDigests(spark,
      docs.toDF("doc_id", "text")).collect().toSeq
    assert(election == Seq(Row(16, 2L, 3L, 4L, 10)))
    val got = dd22(writeDocs(docs))
    assert(got == SpanLadder.map { width =>
      if (width == 16) Row(16L, 1L, 2L, 3L, w)
      else Row(width.toLong, 0L, 0L, 0L, null)
    })
    assert(got == bruteForce(docs, codePointWindows))
  }

  test("dd22 over an empty documents table: every width reads 0 with " +
    "a null span") {
    val want = SpanLadder.map(w => Row(w.toLong, 0L, 0L, 0L, null))
    assert(dd22(writeDocs(Seq.empty)) == want)
  }
}
