package graft

import graft.streaming.EventStream
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** `graft.streaming.EventStream`'s stream harness and its per-batch
  * versioned merges: a failing `foreachBatch` body surfaces its own
  * exception and leaves no query running, the memory drain removes its
  * staging dir when the plan fails to build, the `foreachBatch` drain
  * counts one microbatch per landed file, the merges skip a replayed
  * batch, and main code drains a stream in one place only. */
class EventStreamSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val d = "/root/testdata/sf0.001"

  private val idSchema = StructType(Seq(StructField("id", LongType)))

  /** Lands `n` ten-row parquet files in a fresh dir; returns its path. */
  private def land(n: Int): String = {
    val src = TestFiles.tempDir("graft_es_src").resolve("src").toString
    (0 until n).foreach { i =>
      spark.range(10L * i, 10L * i + 10).toDF("id")
        .coalesce(1).write.mode("append").parquet(src)
    }
    src
  }

  private def ckpt(): String =
    TestFiles.tempDir("graft_es_ckpt").resolve("ckpt").toString

  test("a foreachBatch body that throws surfaces its own exception " +
    "as the cause, and no query stays active") {
    val ss = EventStream.streamSession(spark, 2)
    val boom = new IllegalStateException("batch body failed")
    val e = intercept[StreamingQueryException](
      EventStream.drainBatches(ss, land(2), idSchema, ckpt())(
        (_, _) => throw boom))
    val causes = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).toList
    assert(causes.last eq boom, s"cause chain: $causes")
    assert(ss.streams.active.isEmpty)
  }

  test("the memory drain deletes its staging dir when build throws") {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    def staged(): Set[String] =
      tmp.toFile.list().filter(_.startsWith("graft_stream_")).toSet
    val before = staged()
    var during = Set.empty[String]
    val e = intercept[IllegalStateException](
      EventStream.memoryDrain(spark, d, "documents", "es_build_fails",
        "append", statePartitions = 1, copies = 2) { _ =>
        during = staged() -- before
        throw new IllegalStateException("build failed")
      })
    assert(e.getMessage == "build failed")
    assert(during.size == 1, s"staging dirs made by the drain: $during")
    assert(!Files.exists(tmp.resolve(during.head)))
  }

  test("the foreachBatch drain returns one batch per landed file") {
    var rows = 0L
    val batches = EventStream.drainBatches(spark, land(3), idSchema,
      ckpt())((df, _) => rows += df.count())
    assert(batches == 3)
    assert(rows == 30L)
  }

  /** Merges `b0` as batch 0, re-delivers it, then merges ten of its
    * rows at version `next` as batch 1. */
  private def assertReplaySkips(
      merge: (SparkSession, String, DataFrame, Long) => Boolean,
      out: String, b0: DataFrame, next: Long): Unit = {
    assert(merge(spark, out, b0, 0L))
    val afterFirst = spark.read.parquet(s"$out/snap0").collect().toSet
    // the at-least-once replay: same batch id re-delivered after the
    // marker swap — without the guard this read+overwrite of snap0
    // throws; with it, the call reports a skip and state is untouched
    assert(!merge(spark, out, b0, 0L))
    assert(spark.read.parquet(s"$out/snap0").collect().toSet == afterFirst)
    // a NEW batch id still merges normally on top
    val b1 = b0.withColumn("text", concat(col("text"), lit(" [rev2]")))
      .withColumn("version", lit(next)).limit(10)
    assert(merge(spark, out, b1, 1L))
    assert(graft.io.Commit.readMarker(spark, s"$out/_SNAPSHOT") == "snap1")
    val merged = spark.read.parquet(s"$out/snap1")
    assert(merged.filter(col("version") === next).count() == 10)
    assert(merged.count() == 50)
  }

  test("st18's upsertDocBatch and st25's upsertWidenRenameBatch skip a " +
    "replayed batch whose marker already points at it (recovery " +
    "replay is a no-op, not a crash)") {
    val docs = Tables.documents(spark, d)
      .select("doc_id", "text", "lang", "source", "n_chars").limit(50)
    // st18: no published base; batch 0 is the first snapshot
    assertReplaySkips(EventStream.upsertDocBatch,
      TestFiles.tempDir("graft_upsert_replay").toString,
      docs.drop("n_chars").withColumn("version", lit(1L)), next = 2L)
    // st25: an INT-era base under the old column name, new-era batches
    val out = TestFiles.tempDir("graft_widen_replay").toString
    docs.withColumn("n_chars", col("n_chars").cast("int"))
      .withColumn("version", lit(1L))
      .write.mode("overwrite").parquet(s"$out/snapbase")
    graft.io.Commit.writeMarker(spark, s"$out/_SNAPSHOT", "snapbase")
    assertReplaySkips(EventStream.upsertWidenRenameBatch, out,
      docs.select(col("doc_id"), col("text"), col("lang").as("language"),
        col("source"), col("n_chars"), lit(2L).as("version")), next = 3L)
  }

  test("st24 evolve-merge batch evolves the snapshot schema, " +
    "NULL-backfills base survivors, and is replay-safe") {
    val out = TestFiles.tempDir("graft_st24_replay").toString
    val docs0 = Tables.documents(spark, d)
      .select("doc_id", "text", "lang", "source")
    docs0.withColumn("version", lit(1L))
      .write.mode("overwrite").parquet(s"$out/snapbase")
    graft.io.Commit.writeMarker(spark, s"$out/_SNAPSHOT", "snapbase")
    val wide = docs0.filter(col("doc_id") % 7 === 0)
      .withColumn("text", concat(col("text"), lit(" [rev2]")))
      .withColumn("version", lit(2L))
      .withColumn("tok_count",
        size(graft.functions.Funcs.tokens(col("text"))).cast("long"))
    assert(EventStream.upsertEvolveBatch(spark, out, wide, 0L))
    val snap = spark.read.parquet(
      s"$out/" + graft.io.Commit.readMarker(spark, s"$out/_SNAPSHOT"))
    assert(snap.columns.contains("tok_count"))
    val nBase = snap.filter(col("tok_count").isNull).count()
    val nWide = snap.filter(col("tok_count").isNotNull).count()
    assert(nWide == wide.count())
    assert(nBase == docs0.count() - nWide)
    // redelivery of the committed batch: marker guard skips it
    assert(!EventStream.upsertEvolveBatch(spark, out, wide, 0L))
  }

  test("processAllAvailable appears exactly once under src/main/scala") {
    val files = Files.walk(Paths.get("src/main/scala"))
    val hits =
      try files.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .map { f =>
          val text = new String(Files.readAllBytes(f), StandardCharsets.UTF_8)
          f.getFileName.toString ->
            "processAllAvailable".r.findAllMatchIn(text).size
        }.filter(_._2 > 0).toList
      finally files.close()
    assert(hits == List("EventStream.scala" -> 1), s"hits: $hits")
  }
}
