package graft

import java.nio.file.Files

import graft.functions.Funcs.normalizeToken
import graft.io.ApiLogReader
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The stage-1 reader lists the corpus on the driver: the same rows as
  * the per-file glob it replaced, file totals from the listing equal to
  * that glob's distinct-`sample_id` totals, and no Spark job. */
class ApiLogReaderSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** The former reader: a glob naming every file. */
  private def globRaw(dir: String): DataFrame =
    spark.read.textFile(s"$dir/*_LOGS_CONVERTED/*.txt").toDF("line")
      .select(
        url_decode(substring_index(input_file_name(), "/", -2))
          .as("sample_id"),
        when(input_file_name().contains("virus_LOGS_CONVERTED"), "virus")
          .otherwise("clean").as("cls"),
        normalizeToken(col("line")).as("token"))

  /** The former totals: distinct sample_ids over a scan. */
  private def distinctTotals(raw: DataFrame): (Long, Long) = {
    val r = raw.select("sample_id", "cls").distinct().agg(
      sum(when(col("cls") === "virus", 1L).otherwise(0L)),
      count(lit(1))).collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  private def listingTotals(raw: DataFrame): (Long, Long) = {
    val r = ApiLogReader.totalsOf(raw, "virus").collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  test("listing totals equal the distinct-sample_id totals") {
    val edge = TestFiles.copyOf(TestFiles.tinyApiLogs)
    Files.write(edge.resolve("virus_LOGS_CONVERTED/empty.txt"),
      Array.emptyByteArray)
    Files.write(edge.resolve("clean_LOGS_CONVERTED/notes.md"),
      "A -\n".getBytes)
    for (dir <- Seq(TestFiles.tinyApiLogs.toString, edge.toString)) {
      val raw = ApiLogReader.readRaw(spark, dir)
      assert(listingTotals(raw) == distinctTotals(globRaw(dir)), dir)
      assert(raw.collect().map(_.toString).sorted.toSeq ==
        globRaw(dir).collect().map(_.toString).sorted.toSeq, dir)
      // the token-less c2 counts; the 0-byte and non-.txt files do not
      assert(listingTotals(raw) == ((2L, 4L)), dir)
    }
  }

  test("reading a 40-file corpus starts no Spark job") {
    val dir = TestFiles.tempDir("graft_reader40_")
    for (cls <- Seq("clean", "virus"); i <- 0 until 20) {
      val d = Files.createDirectories(dir.resolve(s"${cls}_LOGS_CONVERTED"))
      Files.write(d.resolve(s"s$i.txt"), s"Api$i -\n".getBytes)
    }
    val (totals, jobs) = JobCount.of(spark)(
      listingTotals(ApiLogReader.readRaw(spark, dir.toString)))
    assert(totals == ((20L, 40L)))
    assert(jobs == 0, s"readRaw + totalsOf started $jobs jobs")
    // the per-file glob lists these 40 paths (> the 32-path
    // parallel-discovery threshold) with a job
    assert(JobCount.of(spark)(globRaw(dir.toString))._2 > 0)
  }
}
