package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the events timestamp contract across parquet encodings.
  *
  * The driver's testdata has shipped `events.ts` as TIMESTAMP(NANOS)
  * (rounds ≤4; Spark surfaces it as LONG under the legacy flag) and as
  * TIMESTAMP_MICROS with isAdjustedToUTC=false (round 5+; surfaces as
  * TIMESTAMP_NTZ). Round 5 lost 20 queries to this silently: the repo
  * assumed one encoding while the data carried the other. This spec
  * writes the SAME events under all three Spark-surfaced encodings
  * (LONG nanos / TIMESTAMP_NTZ micros / TIMESTAMP instant) and asserts
  * `Tables.events` and the streaming path produce identical results,
  * so the next testdata regeneration cannot break the contract again.
  */
class EventTsEncodingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // 2024-03-01T00:00:00Z in ns, plus offsets crossing hour boundaries
  private val Base = 1709251200L * 1000000000L
  private def fixtureDirs(): (String, String, String) = {
    val root = TestFiles.tempDir("graft_ts_enc_")
    val rows = Seq(
      (1L, Base, 7L, "click", 1.5, "{}"),
      (2L, Base + 59L * 60 * 1000000000L, 7L, "click", 2.0, "{}"),
      (3L, Base + 61L * 60 * 1000000000L, 8L, "purchase", 9.25, "{}"),
      (4L, Base + 200L * 60 * 1000000000L + 123456789L, 8L, "view", 0.5, "{}"))
    val asLong = rows.toDF("event_id", "ts", "user_id", "event_type",
      "value", "props")
    val asInstant = asLong.withColumn("ts",
      timestamp_micros(expr("ts div 1000")))
    val asNtz = asInstant.withColumn("ts", col("ts").cast(TimestampNTZType))
    // testdata ships events.parquet as a single FILE (the stream
    // source symlinks it); extract the lone part file from the
    // directory Spark writes
    def stage(name: String, df: DataFrame): String = {
      val d = root.resolve(name)
      val tmp = d.resolve("_write")
      df.coalesce(1).write.parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      java.nio.file.Files.move(part, d.resolve("events.parquet"))
      d.toString
    }
    (stage("enc_long", asLong), stage("enc_ntz", asNtz),
      stage("enc_instant", asInstant))
  }

  test("Tables.events yields identical instants for all three encodings") {
    val (dLong, dNtz, dInstant) = fixtureDirs()
    // the staged files must actually surface as three distinct types,
    // or this spec stops testing anything when defaults change
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    assert(spark.read.parquet(s"$dLong/events.parquet")
      .schema("ts").dataType == LongType)
    assert(spark.read.parquet(s"$dNtz/events.parquet")
      .schema("ts").dataType == TimestampNTZType)
    val got = Seq(dLong, dNtz, dInstant).map { d =>
      val df = Tables.events(spark, d)
      assert(df.schema("ts").dataType == TimestampType, s"dir $d")
      df.orderBy("event_id").collect().toSeq
    }
    assert(got(0) == got(1))
    assert(got(0) == got(2))
    // and the instants are the file's µs values, not a tz-shifted copy
    val us = Tables.events(spark, dNtz).orderBy("event_id")
      .select(unix_micros(col("ts"))).as[Long].collect()
    assert(us(0) == Base / 1000)
    assert(us(3) == (Base + 200L * 60 * 1000000000L + 123456789L) / 1000)
  }

  test("streaming schema probe agrees across encodings (st01 shape)") {
    val (dLong, dNtz, _) = fixtureDirs()
    val a = graft.streaming.EventStream
      .hourlyTotals(spark, dLong, "ts_enc_long").collect().toSeq
    val b = graft.streaming.EventStream
      .hourlyTotals(spark, dNtz, "ts_enc_ntz").collect().toSeq
    assert(a.nonEmpty)
    assert(a == b)
  }
}
