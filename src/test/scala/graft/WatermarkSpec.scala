package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Top-level so the Dataset encoder needs no outer scope. */
case class TimedEv(ts: Timestamp, event_type: String)

/** Token-bearing twin for the merge-law sketch eviction test. */
case class TimedTok(ts: Timestamp, token: String)

/** Append-mode windowed aggregation with a watermark: windows emit
  * exactly once, only after the watermark passes their end — the
  * state-bounding behavior SCALE.md relies on (complete-mode st01
  * covers the value parity; this covers the lifecycle). */
class WatermarkSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private def t(hhmm: String) = Timestamp.valueOf(s"2024-01-01 $hhmm:00")

  test("st12 commit protocol: torn writes recover, replays skip, " +
      "readers see only committed batches") {
    import graft.streaming.EventStream.{commitBatch, committedIds, readCommitted}
    import spark.implicits._
    val out = TestFiles.tempDir("graft_eo_spec").toString
    val schema = org.apache.spark.sql.types.StructType
      .fromDDL("id LONG, v STRING")
    def batch(tag: String, n: Int) =
      (1L to n).map(i => (i, s"$tag-$i")).toDF("id", "v")

    // a TORN first attempt: data lands but the marker never does
    // (simulated by writing the dir directly) — invisible to readers,
    // and a retry of the same batch replaces it wholesale
    batch("torn", 3).write.parquet(s"$out/batch=0")
    assert(committedIds(spark, out).isEmpty)
    assert(commitBatch(spark, out, batch("good", 5), 0L))
    assert(committedIds(spark, out) == Seq(0L))
    val vs = readCommitted(spark, out, schema)
      .select("v").as[String].collect().sorted.toSeq
    assert(vs.size == 5 && vs.forall(_.startsWith("good")),
      s"torn rows leaked or retry lost rows: $vs")

    // a REPLAY of a committed batch is a no-op even with different
    // data (the first durable commit wins — Streaming re-delivers the
    // same content; the guard is against double-apply)
    assert(!commitBatch(spark, out, batch("replay", 9), 0L))
    assert(readCommitted(spark, out, schema).count() == 5)

    // later batches append; the reader unions exactly the marked set
    assert(commitBatch(spark, out, batch("b1", 2), 1L))
    assert(committedIds(spark, out) == Seq(0L, 1L))
    assert(readCommitted(spark, out, schema).count() == 7)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
  }

  test("watermarked hour windows emit once finalized, never early") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[TimedEv]
    val agg = ms.toDS()
      .withWatermark("ts", "1 hour")
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.format("memory").queryName("wm_test")
      .outputMode("append").start()
    try {
      ms.addData(TimedEv(t("00:10"), "click"), TimedEv(t("00:40"), "click"),
        TimedEv(t("01:10"), "view"))
      q.processAllAvailable()
      // watermark = 01:10 − 1h → no window end ≤ it → nothing emitted
      assert(spark.table("wm_test").count() == 0)

      ms.addData(TimedEv(t("03:30"), "click"))
      q.processAllAvailable()
      // watermark = 02:30 → [00,01) and [01,02) finalized
      val rows = spark.table("wm_test")
        .select(col("window.start").cast("string"), col("event_type"), col("n"))
        .as[(String, String, Long)].collect().toSet
      assert(rows == Set(
        ("2024-01-01 00:00:00", "click", 2L),
        ("2024-01-01 01:00:00", "view", 1L)))
    } finally q.stop()
  }

  test("append-mode sliding windows: watermark evicts closed state") {
    // the state-bounding claim st06 CAN'T show (it runs complete mode,
    // which retains every window): in append mode the 2h/1h sliding
    // windows are dropped from the store once the watermark passes
    // their end — state stays proportional to OPEN windows, not to
    // stream history
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[TimedEv]
    val agg = ms.toDS()
      .withWatermark("ts", "1 hour")
      .groupBy(window($"ts", "2 hours", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.format("memory").queryName("wm_slide")
      .outputMode("append").start()
    try {
      ms.addData(TimedEv(t("00:10"), "click"), TimedEv(t("00:40"), "click"),
        TimedEv(t("01:10"), "click"))
      q.processAllAvailable()
      // 4 open sliding windows in state ([23,01) [00,02) [01,03) [02,04)
      // never materializes — only windows holding events), none closed
      assert(spark.table("wm_slide").count() == 0)

      ms.addData(TimedEv(t("05:30"), "click"))
      q.processAllAvailable()
      ms.addData(TimedEv(t("05:35"), "click"))
      q.processAllAvailable() // second batch: eviction definitely applied
      // watermark = 04:30 → the three windows ending ≤ 04:30 emitted,
      // exactly once each
      val emitted = spark.table("wm_slide")
        .select(col("window.start").cast("string"), col("n"))
        .as[(String, Long)].collect().toSet
      assert(emitted == Set(
        ("2023-12-31 23:00:00", 2L),
        ("2024-01-01 00:00:00", 3L),
        ("2024-01-01 01:00:00", 1L)))
      // and the store now holds only the two OPEN windows of the 05:xx
      // events ([04,06) and [05,07)) — closed-window state is gone
      val stateRows = q.lastProgress.stateOperators.head.numRowsTotal
      assert(stateRows <= 3,
        s"expected closed windows evicted from state, got $stateRows rows")
    } finally q.stop()
  }

  test("append-mode windowed CMS: state is sketch-bounded and evicts") {
    // the eviction story st09/st11 CAN'T show (they run complete mode
    // over finite sources): a WINDOWED count-min sketch kept by the
    // same merge law (cells combine by addition, so the per-microbatch
    // partial aggregation IS the sketch merge) in append mode. Two
    // bounded-state claims, both asserted on the state store itself:
    //  1. within an open window, state is ≤ D×W CELLS no matter how
    //     many distinct tokens flow through (sketch-bounded, never
    //     vocabulary-bounded — the reason a 100 TB stream can keep it);
    //  2. once the watermark passes a window's end, its cells leave
    //     the store (time-bounded: state ∝ open windows only).
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val D = 2
    val W = 8
    val ms = MemoryStream[TimedTok]
    val cells = ms.toDS()
      .withWatermark("ts", "1 hour")
      .select(col("ts"), posexplode(array(
        (0 until D).map(r =>
          pmod(hash(lit(r), col("token")), lit(W)).cast("long")): _*)))
      .withColumnsRenamed(Map("pos" -> "r", "col" -> "b"))
      .groupBy(window($"ts", "1 hour"), $"r", $"b")
      .agg(count(lit(1)).as("c"))
    val q = cells.writeStream.format("memory").queryName("wm_cms")
      .outputMode("append").start()
    try {
      // 40 distinct tokens, split across two microbatches so the
      // merge law actually merges partials across batches
      val toks = (1 to 40).map(i => TimedTok(t("00:%02d".format(i)), s"tok$i"))
      ms.addData(toks.take(25): _*)
      q.processAllAvailable()
      ms.addData(toks.drop(25): _*)
      q.processAllAvailable()
      assert(spark.table("wm_cms").count() == 0) // window still open
      val openState = q.lastProgress.stateOperators.head.numRowsTotal
      assert(openState <= D * W,
        s"state must be sketch-bounded (≤ ${D * W} cells), got $openState " +
          "— a vocabulary-sized state would not survive an unbounded stream")

      // advance the watermark past the window's end → emit + evict
      ms.addData(TimedTok(t("02:30"), "late-driver"))
      q.processAllAvailable()
      ms.addData(TimedTok(t("02:35"), "late-driver2"))
      q.processAllAvailable() // second batch: eviction definitely applied
      val emitted = spark.table("wm_cms")
        .select($"r", $"b", $"c").as[(Int, Long, Long)].collect()
      // the emitted hour-0 sketch equals the exact batch recomputation
      // with the same cell expression (merge across microbatches lost
      // nothing)
      val expect = spark.createDataset(toks)
        .select(posexplode(array((0 until D).map(r =>
          pmod(hash(lit(r), col("token")), lit(W)).cast("long")): _*)))
        .withColumnsRenamed(Map("pos" -> "r", "col" -> "b"))
        .groupBy($"r", $"b").agg(count(lit(1)).as("c"))
        .as[(Int, Long, Long)].collect().toSet
      assert(emitted.toSet == expect)
      // and the closed window's cells are OUT of the store
      val afterState = q.lastProgress.stateOperators.head.numRowsTotal
      assert(afterState <= 2 * D,
        s"closed-window cells must be evicted, got $afterState state rows")
    } finally q.stop()
  }
}
