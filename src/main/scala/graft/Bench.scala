package graft

import scala.collection.mutable.ArrayBuffer

import graft.apps.{CurationIncremental, CurationPipeline, IndexLifecycle,
  VirusPipeline}
import graft.functions.Timing
import org.apache.spark.sql.functions.col

/** Benchmark main: runs every declared query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query and
  * total wall-clock seconds.
  *
  * Each query is forced through the `noop` sink — a bare `count()`
  * would let Catalyst prune the projected columns and skip exactly the
  * expression work (fingerprints, cosines, minhashes) being measured.
  */
object Bench {

  /** What one entry adds to each of the JSON line's three maps
    * (`queries`, `gc_ms`, `peak_task_mem_mb`). */
  private[graft] final case class Rows(queries: Seq[(String, Double)],
      gcMs: Seq[(String, Long)], peakMb: Seq[(String, Double)])

  /** One bench entry: a query, the calibration row or a staged
    * pipeline. Its row is the wall time of `body`, or -1 when `body`
    * throws, so a failure never passes for a fast success; the rows of
    * the stages it reached stay. Every stage reported on the entry's
    * clock (`done`, or an inner verb's `onStage` through `ended`)
    * becomes the row `<name>_<stage>`, rounded to ms, and gets its own
    * listener window, closed as the stage ends (round-12 verdict #7:
    * stage rows were the one place the host adjudicator had to
    * abstain). The entry's gc is the sum of its windows, its peak their
    * max. A skipped entry (query filter, absent corpus) adds nothing.
    *
    * The windows carry the task-attributed GC milliseconds and the
    * largest single-task peak execution memory (round-10 verdict #5:
    * make host-transient bench windows self-adjudicating). A 35 s
    * reading with flat GC/peak columns is host contention; one with a
    * GC spike is the query's own allocation pressure. */
  private[graft] def staged(name: String, skip: Boolean,
      window: () => Timing.Window)(body: Timing.Stages => Unit): Rows =
    if (skip) Rows(Nil, Nil, Nil)
    else {
      window() // what ran before the entry is not its own
      val stages = ArrayBuffer.empty[(String, Double)]
      val windows = ArrayBuffer.empty[(String, Timing.Window)]
      val clock = Timing.stages(name, (stage, sec) => {
        val k = s"${name}_$stage"
        stages += k -> math.rint(sec * 1000) / 1000
        windows += k -> window()
      })
      val ok =
        try { body(clock); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          false
        }
      val secs = if (ok) clock.elapsed else -1.0
      val all = windows.map(_._2) :+ window()
      val total = Timing.Window(all.map(_.jobs).sum, all.map(_.gcMs).sum,
        all.map(_.peakBytes).max, all.map(_.compiles).sum)
      Rows((name -> secs) +: stages.toSeq,
        (name -> total.gcMs) +: windows.toSeq.map { case (k, w) => k -> w.gcMs },
        (name -> total.peakMb) +: windows.toSeq.map { case (k, w) => k -> w.peakMb })
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkEntry.localSession("graft-bench",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    // warmup: JIT + codegen + parquet footer caches, so the first
    // measured query doesn't absorb JVM start-up cost
    spark.range(1000000L).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1).collect()
    // spark.ml warm-up: the first MLlib fit of a cold JVM pays ~3-6 s
    // of class-loading + BLAS + codegen that belongs to the JVM, not
    // the query — a throwaway 100-row fit through the k-means path the
    // ml* queries use absorbs it, so they (alphabetically mid-run)
    // measure steady-state
    locally {
      import org.apache.spark.ml.clustering.KMeansRuns
      import org.apache.spark.ml.functions.array_to_vector
      import org.apache.spark.sql.functions._
      val tiny = spark.range(100)
        .select(array_to_vector(array(rand(1).cast("float"),
          rand(2).cast("float"))).as("features"))
      KMeansRuns.fit(tiny, "features", Seq((2, 1L)))
    }
    // optional comma-separated query filter for single-query iteration
    // (perf work shouldn't pay the full 100+-query suite per probe)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      // fail loudly on an empty or typo'd filter: either would
      // otherwise bench ZERO queries and write an empty-map artifact
      val unknown = names -- SparkEntry.queries.keySet
      if (names.isEmpty || unknown.nonEmpty) {
        System.err.println(
          if (names.isEmpty) "[bench] SPARK_GRAFT_BENCH_ONLY is set but empty"
          else s"[bench] unknown SPARK_GRAFT_BENCH_ONLY names: ${unknown.mkString(", ")}")
        spark.stop()
        sys.exit(1)
      }
    }
    val listener = Timing.listen(spark)
    def bench(name: String, skip: Boolean)(
        body: Timing.Stages => Unit): Rows =
      staged(name, skip, () => listener.window())(body)
    // host-speed calibration row (round-13 verdict ask #7): a fixed
    // CPU-bound, DATA-INDEPENDENT computation — xxhash64 folded over a
    // seeded integer range on all cores — measured first in every run,
    // including filtered ones. The documented hypervisor drift moves
    // this row exactly as it moves every same-binary query; a code
    // change cannot (nothing here touches data or the engine under
    // test), so bench_median.py can report the round-over-round
    // criterion both raw and calibration-normalized.
    val calib = bench("calib_cpu", skip = false) { _ =>
      // modulo keeps the 400M-term sum inside a long under ANSI (raw
      // xxhash64 sums overflow); the work measured is the hash, not
      // the sum
      spark.range(0L, 1600000000L, 1L, 32)
        .selectExpr("sum(xxhash64(id, id + 7, id * 31) % 1000000)")
        .collect()
    }
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .map { case (name, fn) =>
        bench(name, skip = false) { _ =>
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        }
      }
    // The staged pipelines: each verb reports its own stages through
    // the entry's clock, and a bench-timed tail stage forces the
    // outputs, so the stage rows sum to ~the e2e row and a divergent
    // round names its divergent stage (round-6 verdict #1). All are
    // skipped under a query filter: a filtered perf probe shouldn't pay
    // them.
    val logs = sys.env.getOrElse("SPARK_GRAFT_API_LOGS",
      "/root/reference/api_logs")
    def tmp(dir: String): String = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), dir).toString
    // the index lifecycles run on a fresh root, so every stage measures
    // real verb work rather than marker skips
    def freshRoot(dir: String): String = {
      val root = tmp(dir)
      org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(root), true)
      root
    }
    val pipelines = Seq(
      // the paper's workload: feature selection → best-of-10 k-means
      // (s1, s2 from the run) → report + all four file artifacts (s3);
      // also skipped when the API-log corpus is absent
      bench("pipeline_virus_e2e",
          only.isDefined || !new java.io.File(logs).isDirectory) { clock =>
        val a = VirusPipeline.run(spark, logs, onStage = clock.ended)
        VirusPipeline.writeArtifacts(a, tmp("graft_bench_pipeline"))
        a.clusterReport.select("line").collect()
        clock.done("s3_artifacts")
      },
      // exact dedup → LSH/CC near-dup keeper → gates + decontamination
      // → split stats → PQ compression (s1..s6 from the run's forcing
      // counts), then the three outputs forced as a real run lands them
      bench("pipeline_curation_e2e", only.isDefined) { clock =>
        val r = CurationPipeline.run(spark, sfDir, onStage = clock.ended)
        r.curated.write.format("noop").mode("overwrite").save()
        r.compressed.write.format("noop").mode("overwrite").save()
        r.stats.collect()
        clock.done("s7_outputs")
      },
      // incremental curation: base curate+publish, then one delta batch
      // through the persisted banks to a MERGE publish (round-9
      // verdict: the "delta cost tracks the delta" series)
      bench("pipeline_curation_incr", only.isDefined) { clock =>
        val docs = Tables.documents(spark, sfDir)
        val cutoff = CurationIncremental.cutoffOf(docs)
        val root = tmp("graft_bench_incr")
        CurationIncremental.curateBase(spark,
          docs.filter(col("doc_id") < cutoff), root, onStage = clock.ended)
        CurationIncremental.applyDelta(spark, root,
          docs.filter(col("doc_id") >= cutoff), onStage = clock.ended)
        CurationIncremental.published(spark, root)
          .write.format("noop").mode("overwrite").save()
      },
      // build → append → delete → fold/compact → GC → serve (the code
      // ss35's oracle gates)
      bench("pipeline_index_e2e", only.isDefined) { clock =>
        IndexLifecycle.run(spark, sfDir, freshRoot("graft_bench_idxlife"),
          onStage = clock.ended).write.format("noop").mode("overwrite").save()
        clock.done("s7_serve")
      },
      // the full lifecycle with the corpus-sized verb (round-13 verdict
      // ask #2): s7's drift-triggered retrain + versioned swap measures
      // the real Lloyd loop + re-encode, then the post-swap append,
      // retired-version GC and serve
      bench("pipeline_index_full", only.isDefined) { clock =>
        IndexLifecycle.runFull(spark, sfDir, freshRoot("graft_bench_idxfull"),
          onStage = clock.ended).write.format("noop").mode("overwrite").save()
        clock.done("s10_serve")
      })
    listener.close()
    val entries = (calib +: queries) ++ pipelines
    val results = entries.flatMap(_.queries)
    val qs = results.map { case (k, v) => "\"" + k + f"""\":$v%.3f""" }
      .mkString("{", ",", "}")
    val gcJson = entries.flatMap(_.gcMs)
      .map { case (k, v) => "\"" + k + s"""\":$v""" }.mkString("{", ",", "}")
    val peakJson = entries.flatMap(_.peakMb)
      .map { case (k, v) => "\"" + k + f"""\":$v%.1f""" }.mkString("{", ",", "}")
    val failed = results.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
    // pipeline_*_sN_* stage rows are attributions of their e2e row and
    // sum to ~it — counting them again would double the pipelines in
    // the round-over-round total; calib_cpu is the host meter, not a
    // query, so it never enters the criterion sum either
    val total = results
      .filter { case (k, v) => v >= 0 && k != "calib_cpu" &&
        !k.matches("pipeline_.*_s\\d+_.*") }
      .map(_._2).sum
    val line =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"gc_ms":$gcJson,"peak_task_mem_mb":$peakJson,"errors":${failed.mkString("[", ",", "]")},"sf":"$sfDir"}"""
    println(line)
    // machine-readable artifact: the driver keeps only the tail of
    // stdout, which truncates the per-query map mid-stream on a
    // 100+-query surface — also write the full line to a file (path
    // overridable) so rounds diff mechanically, not from prose. A
    // filtered run defaults to a separate path so a perf probe never
    // clobbers the full-suite artifact.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      if (only.isDefined) "bench_out_partial.json" else "bench_out.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath),
      line + "\n")
    spark.stop()
  }
}
