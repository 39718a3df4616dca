package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Timing

/** `graft.Bench.staged`, the one frame every bench entry runs in. No
  * Spark: the listener windows are stubbed. */
class BenchSpec extends AnyFunSuite {

  /** Window n (1-based, in call order) holds n jobs, 10n GC ms and a
    * peak of n MB, so a row names the window it was given. */
  private def numbered(): () => Timing.Window = {
    var n = 0
    () => { n += 1; Timing.Window(n, 10L * n, 1048576L * n, n.toLong) }
  }

  test("a body that throws yields -1 plus the stage rows it reached") {
    val r = Bench.staged("pipeline_x", skip = false, numbered()) { clock =>
      clock.ended("s1_a", 0.5)
      clock.done("s2_b")
      throw new IllegalStateException("boom")
    }
    assert(r.queries.map(_._1) ==
      Seq("pipeline_x", "pipeline_x_s1_a", "pipeline_x_s2_b"))
    assert(r.queries.head._2 == -1.0)
    assert(r.queries(1)._2 == 0.5)
    // window 1 precedes the entry; 2 and 3 close its stages, 4 its tail
    assert(r.gcMs == Seq("pipeline_x" -> 90L, "pipeline_x_s1_a" -> 20L,
      "pipeline_x_s2_b" -> 30L))
    assert(r.peakMb == Seq("pipeline_x" -> 4.0, "pipeline_x_s1_a" -> 2.0,
      "pipeline_x_s2_b" -> 3.0))
  }

  test("a skipped entry adds no rows and opens no window") {
    var windows = 0
    val r = Bench.staged("pipeline_x", skip = true,
      () => { windows += 1; Timing.Window(0, 0L, 0L, 0L) }) { _ =>
      fail("a skipped entry ran its body")
    }
    assert(r == Bench.Rows(Nil, Nil, Nil))
    assert(windows == 0)
  }

  test("stage rows are <entry>_<stage>, rounded to ms, and only they " +
    "match bench_median.py's stage-row filter") {
    val r = Bench.staged("pipeline_y", skip = false, numbered()) { clock =>
      clock.ended("s1_read", 1.23449)
      clock.ended("s10_serve", 2.0006)
    }
    assert(r.queries.tail ==
      Seq("pipeline_y_s1_read" -> 1.234, "pipeline_y_s10_serve" -> 2.001))
    assert(r.queries.head._1 == "pipeline_y" && r.queries.head._2 >= 0.0)
    val stageRow = "pipeline_.*_s\\d+_.*"
    assert(r.queries.map(_._1).map(_.matches(stageRow)) ==
      Seq(false, true, true))
    assert(r.gcMs.map(_._1) == r.queries.map(_._1))
    assert(r.peakMb.map(_._1) == r.queries.map(_._1))
  }

  test("an entry without stages is one row over its own window") {
    val r = Bench.staged("q01", skip = false, numbered())(_ => ())
    assert(r.queries.map(_._1) == Seq("q01") && r.queries.head._2 >= 0.0)
    assert(r.gcMs == Seq("q01" -> 20L) && r.peakMb == Seq("q01" -> 2.0))
  }
}
