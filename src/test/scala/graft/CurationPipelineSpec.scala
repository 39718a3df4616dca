package graft

import graft.apps.CurationPipeline
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariants of the composed curation pipeline at sf0.001. */
class CurationPipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val d = "/root/testdata/sf0.001"

  lazy val result = CurationPipeline.run(spark, d)

  test("stage counts are monotone non-increasing and end positive") {
    val m = result.stats.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m("input") >= m("after_exact_dedup"))
    assert(m("after_exact_dedup") >= m("after_near_dedup"))
    assert(m("after_near_dedup") >= m("after_quality_lang_gate"))
    assert(m("after_quality_lang_gate") >= m("after_decontamination"))
    assert(m("after_decontamination") > 0)
    // sf0.001 embeds every document, so the coverage audit must report
    // zero gap here (sf0.1's partial-coverage path is exercised by the
    // bench entry); the compressed set equals the curated survivors
    assert(m("missing_embedding") == 0)
    assert(m("compressed_embeddings") == m("after_decontamination"))
  }

  test("alignment gate drops exactly the below-threshold embedded survivors") {
    val th = graft.multimodal.Multimodal.AlignThreshU6
    val gatedRun = CurationPipeline.run(spark, d, alignGateU6 = Some(th))
    val baseIds = result.curated.select("doc_id").collect()
      .map(_.getLong(0)).toSet
    val gatedIds = gatedRun.curated.select("doc_id").collect()
      .map(_.getLong(0)).toSet
    val misaligned = SparkEntry.queries("mm11_caption_alignment")(spark, d)
      .filter(!col("aligned")).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(gatedIds == baseIds -- misaligned,
      "aligned-gated corpus must equal the base corpus minus mm11's misaligned ids")
    assert(gatedIds.size < baseIds.size,
      "fixture must actually exercise the gate")
  }

  test("strict embedding-coverage mode passes on a fully-embedded corpus") {
    // the opt-in contract must not fire when coverage IS full
    val r = CurationPipeline.run(spark, d, requireEmbeddingCoverage = true)
    assert(r.compressed.count() > 0)
  }

  test("curated corpus has no exact duplicates and respects the gate") {
    val c = result.curated.cache()
    val dupKeys = c.groupBy(md5(col("text"))).count()
      .filter(col("count") > 1).count()
    assert(dupKeys == 0)
    assert(c.filter(col("quality_score") < 0.3).count() == 0)
    assert(c.filter(!col("predicted_lang").isin("en", "de", "es"))
      .count() == 0)
    // repetition gate: no survivor exceeds the duplicate-bigram cap,
    // and the carried column matches an independent recomputation
    assert(c.filter(col("dup_bigram_frac") > 0.2).count() == 0)
    val recomputed = graft.operators.TextAnalysis.repetitionScored(
      Tables.documents(spark, d))
      .select(col("doc_id"), col("dup_bigram_frac").as("recheck"))
    assert(c.join(recomputed, Seq("doc_id"))
      .filter(col("dup_bigram_frac") =!= col("recheck")).count() == 0)
  }

  test("any surviving group member is the quality-argmax keeper") {
    // replicate the pipeline's group construction (pairs restricted to
    // exact-dedup survivors) and dd16's keeper rule, then check the
    // OBSERVABLE output: a group contributes at most one doc to the
    // curated corpus, and if it contributes one, it is the keeper
    // (the keeper itself may still fall to the gates — then the group
    // contributes nothing)
    val docs = Tables.documents(spark, d)
    val exactKeep = docs
      .select(col("doc_id"), md5(col("text")).as("k"))
      .groupBy("k").agg(min("doc_id").as("doc_id")).select("doc_id")
    val pairs = graft.dedup.Dedup.candidatePairs(spark, d)
      .join(exactKeep.select(col("doc_id").as("doc_a")), Seq("doc_a"), "left_semi")
      .join(exactKeep.select(col("doc_id").as("doc_b")), Seq("doc_b"), "left_semi")
    val groups = graft.dedup.Dedup.connectedComponents(pairs)
    val q = graft.operators.TextAnalysis
      .qualityScored(docs).select("doc_id", "quality_score")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("group_id")
      .orderBy(col("quality_score").desc, col("doc_id").asc)
    val keepers = groups.join(q, Seq("doc_id"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).select("doc_id", "group_id")
    val curatedMembers = result.curated.select("doc_id")
      .join(groups, Seq("doc_id"))
    assert(curatedMembers.groupBy("group_id").count()
      .filter(col("count") > 1).count() == 0,
      "a group may contribute at most one curated doc")
    assert(curatedMembers.join(keepers, Seq("doc_id"), "left_anti")
      .count() == 0,
      "a curated group member must be its group's quality-argmax")
  }

  test("curated corpus is decontaminated against the benchmark sample") {
    val docs = Tables.documents(spark, d)
    val bench = graft.operators.TextAnalysis.benchSample(docs, 16)
      .select("doc_id", "text").collect()
    val benchIds = bench.map(_.getLong(0)).toSet
    val curated = result.curated.select("doc_id", "text").collect()
    assert(curated.forall(r => !benchIds(r.getLong(0))),
      "benchmark docs must not ship in the training corpus")
    // brute-force 8-gram overlap, independent of the pipeline's code
    def grams(t: String): Set[String] = {
      val ts = t.split(" ").filter(_.nonEmpty)
      if (ts.length < 8) Set.empty
      else (0 to ts.length - 8).map(i =>
        ts.slice(i, i + 8).mkString(" ")).toSet
    }
    val benchGrams = bench.flatMap(r => grams(r.getString(1))).toSet
    assert(curated.forall(r =>
      grams(r.getString(1)).forall(g => !benchGrams(g))),
      "no curated doc may share a word-8-gram with the benchmark")
  }

  test("deterministic across runs") {
    val again = CurationPipeline.run(spark, d)
    assert(result.curated.select("doc_id").exceptAll(
      again.curated.select("doc_id")).count() == 0)
    assert(again.curated.count() == result.curated.count())
  }

  test("reliable checkpointing is selectable via the session conf") {
    // the cluster path: spark.graft.cc.checkpoint=reliable:<dir> must
    // route the pipeline's CC stage through reliable checkpoints (file
    // artifacts in the dir prove it ran) and change nothing about the
    // answer
    val ckDir = TestFiles.tempDir("graft_cc_ck_").toString
    spark.conf.set("spark.graft.cc.checkpoint", s"reliable:$ckDir")
    try {
      val rel = CurationPipeline.run(spark, d)
      assert(rel.curated.select("doc_id").exceptAll(
        result.curated.select("doc_id")).count() == 0)
      assert(rel.curated.count() == result.curated.count())
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(ckDir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(files > 0, "reliable checkpoint wrote no files")
    } finally spark.conf.unset("spark.graft.cc.checkpoint")
    // and a typo'd strategy fails loudly instead of silently running
    // Local on what the caller believed was a fault-tolerant run
    spark.conf.set("spark.graft.cc.checkpoint", "reliabel:/x")
    try intercept[IllegalArgumentException] {
      graft.dedup.Dedup.CheckpointStrategy.fromConf(spark)
    } finally spark.conf.unset("spark.graft.cc.checkpoint")
  }

  test("PQ compression covers survivors with positional 8-code arrays") {
    val comp = result.compressed.cache()
    // one code row per survivor that has an embedding (id spaces align
    // in the synthetic tables), never more than the curated set
    assert(comp.count() > 0 && comp.count() <= result.curated.count())
    assert(comp.groupBy("doc_id").count().filter(col("count") > 1)
      .count() == 0)
    // every array is the full M=8 subspace codes, each in [0, k)
    assert(comp.filter(size(col("pq_codes")) =!=
      graft.operators.TextAnalysis.PqM).count() == 0)
    assert(comp.filter(exists(col("pq_codes"),
      c => c < 0 || c >= graft.operators.TextAnalysis.PqK)).count() == 0)
    // every survivor carries a valid IVF cell — the partition key of
    // the ss09 serving layout main() writes
    assert(comp.filter(col("cell").isNull || col("cell") < 0 ||
      col("cell") >= graft.similarity.Similarity.IvfCents).count() == 0)
    // positional: element m must equal em03's code for subspace m
    val flat = comp.select(col("doc_id"),
      posexplode(col("pq_codes")))
      .withColumnsRenamed(Map("pos" -> "m", "col" -> "code_arr"))
    val em03 = graft.operators.TextAnalysis.pqAssign(spark, d)
      .select(col("vec_id").as("doc_id"), col("m"),
        col("code").cast("byte").as("code_ref"))
    assert(flat.join(em03, Seq("doc_id", "m"))
      .filter(col("code_arr") =!= col("code_ref")).count() == 0)
    comp.unpersist(false)
  }

  test("split assignment is content-stable and covers every survivor") {
    val c = result.curated
    assert(c.filter(!col("split").isin("train", "valid", "test"))
      .count() == 0)
    // the split must be exactly the digest-derived assignment —
    // recomputed independently here, so an RNG-based assignment (even
    // a seeded one) would mismatch
    val expected = when(
      graft.functions.Funcs.md5Long(col("text"), 7) % 10 < 8, "train")
      .when(graft.functions.Funcs.md5Long(col("text"), 7) % 10 < 9, "valid")
      .otherwise("test")
    assert(c.filter(col("split") =!= expected).count() == 0)
  }
}
