package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The co-located-join half of the bucketing story (BucketLayoutSpec
  * covers partition pruning): two tables bucketed on the join key at
  * the same bucket count join with NO shuffle exchange on either side
  * — at 100 TB that turns the biggest fact⋈fact join from a full
  * two-sided shuffle into a zipped per-bucket merge. */
class BucketedJoinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("bucketed fact-fact join plans without any Exchange") {
    val d = "/root/testdata/sf0.001"
    val wh = TestFiles.tempDir("graft_bucketed_")
      .toString
    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS ord_bucketed")
    Tables.lineitem(spark, d)
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$wh/li").mode("overwrite")
      .saveAsTable("li_bucketed")
    Tables.orders(spark, d)
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$wh/ord").mode("overwrite")
      .saveAsTable("ord_bucketed")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // disable broadcast so the join must pick the co-located
    // sort-merge path the test is about
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table("li_bucketed")
        .join(spark.table("ord_bucketed"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"))
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      // the ONLY exchange allowed is the final single-column groupBy's;
      // neither join input may shuffle — bucket layout already
      // co-locates them
      val joinPart = plan.substring(plan.indexOf("SortMergeJoin"))
      assert(!joinPart.contains("Exchange"),
        s"join inputs shuffled despite bucketing:\n$plan")
      // and the bucketed plan returns the plain join's answer
      val expected = Tables.lineitem(spark, d)
        .join(Tables.orders(spark, d),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val got = j.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == expected)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS li_bucketed")
      spark.sql("DROP TABLE IF EXISTS ord_bucketed")
    }
  }
}
