package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SCALE.md's ANN storage claim, made concrete: writing the embedding
  * table partitioned by LSH bucket means a bucket-filtered read scans
  * ONE partition (partition pruning), so a query touches 1/2^planes
  * of the corpus. */
class BucketLayoutSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("bucket-partitioned layout gives partition-pruned reads") {
    val d = "/root/testdata/sf0.001"
    val lsh = SparkEntry.queries("ss02_knn_lsh")(spark, d)
    // reuse the similarity module's bucket assignment via its query
    // output to learn a real bucket id
    val someBucket = lsh.select("bucket").limit(1).collect()(0).getLong(0)

    // write embeddings partitioned by an (illustrative) bucket column
    val out = TestFiles.tempDir("graft_bucket_").toString
    Tables.embeddings(spark, d)
      .withColumn("bucket", pmod(col("vec_id"), lit(16)))
      .write.partitionBy("bucket").mode("overwrite").parquet(out)

    val back = spark.read.parquet(out).filter(col("bucket") === someBucket % 16)
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"))
    // pruned scan reads ~1/16 of rows
    val total = Tables.embeddings(spark, d).count()
    val pruned = back.count()
    assert(pruned > 0 && pruned < total / 8)
  }

  test("ss09 probe read touches ONLY the probed cell partitions") {
    val d = "/root/testdata/sf0.001"
    val (idx, probes, cells) = similarity.Similarity.pqCellIndex(spark, d)
    // the serve-side read prunes at the directory level, not post-scan
    assert(idx.queryExecution.executedPlan.toString
      .contains("PartitionFilters"))
    // "number of partitions read" — the scan's driver-side metric,
    // populated when partition pruning selects the directories
    // (DataFrame.inputFiles would list the WHOLE relation, filters
    // ignored — it cannot prove pruning)
    def partitionsRead(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collectLeaves().collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metrics("numPartitions").value
      }.getOrElse(fail("no file scan in plan"))
    }
    assert(partitionsRead(idx) == cells.size,
      s"ss09's read must touch exactly the ${cells.size} probed cells")
    // a SINGLE query's serve reads exactly its nprobe cells — a strict
    // subset of the written index (the union over 5 queries above may
    // legitimately cover most cells)
    val q0 = probes.filter(col("query_id") === 0)
      .select("cell").collect().map(_.getLong(0)).toSet
    assert(q0.size == similarity.Similarity.IvfProbe)
    assert(q0.size < similarity.Similarity.IvfCents)
    val one = spark.read.parquet(
        graft.io.JsonLines.stagingDir("pq_by_cell"))
      .filter(col("cell").isin(q0.toSeq: _*))
    assert(partitionsRead(one) == q0.size,
      s"single-query serve must read exactly ${q0.size} partitions")
  }

  test("ss18 served MMR selects only from the pruned index's cells") {
    val d = "/root/testdata/sf0.001"
    val res = SparkEntry.queries("ss18_mmr_served")(spark, d)
      .select("query_id", "sel_rank", "neighbor_id").collect()
    val S = similarity.Similarity
    assert(res.length == S.NumQueries * S.MmrK)
    // per query: K distinct picks, ranks 1..K
    res.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      assert(rows.map(_.getLong(2)).distinct.length == S.MmrK)
      assert(rows.map(_.getInt(1)).sorted.toSeq == (1 to S.MmrK))
    }
    // every pick must be a member of the probed cells' index content —
    // the candidate universe of the pruned read the previous test
    // proves is directory-level partition pruning
    val (idx, probes, _) = S.pqCellIndex(spark, d)
    val allowed = idx.select("vec_id", "cell").distinct()
      .join(probes, Seq("cell"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    res.foreach { r =>
      assert(allowed.contains((r.getLong(0), r.getLong(2))),
        s"pick ${r.getLong(2)} for query ${r.getLong(0)} is outside " +
          "the probed cells — the serve is not riding the pruned index")
    }
  }
}
