package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark driver: one JVM, one workload. Starts a warmed session
  * (set-up), runs one cold pass and then warm passes
  * for about `--seconds` (at least `--min-warm`; three when traced): a
  * pass starts only while the window still holds one more pass as long
  * as the last. Writes a JSON report of the set-up and of every pass,
  * each with its wall and its process CPU seconds. With `--trace 1`
  * warm passes alternate between traced and untraced, and the traced
  * passes' spans and raw Spark events go to `--events` as JSON lines.
  *
  * Usage:
  *   Driver --workload <name> --inputs <dir> --work <dir>
  *          --report <file> --seconds <s> --min-warm <n> --trace <0|1>
  *          --cpus <n> [--events <file>] [--oracle-dump <dir>]
  */
object Driver {

  def session(cpus: Int, localDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000000L).selectExpr("sum(id)").collect()
    spark
  }

  private def parse(args: Array[String]): Map[String, String] =
    args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case a => sys.error(s"bad arguments near ${a.mkString(" ")}")
    }.toMap

  /** CPU time of every thread of this process. On a virtual machine it
    * leaves out the time the hypervisor gave to other guests, which wall
    * time counts. */
  private val osBean = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Resident-set high-water mark of this process, in kB. */
  private def peakRssKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(-1L)

  /** Hard-links every file under `src` into the same layout under `dst`. */
  private def linkTree(src: Path, dst: Path): Unit = {
    val files = Files.walk(src)
    try files.iterator().asScala.filter(Files.isRegularFile(_)).foreach { f =>
      val to = dst.resolve(src.relativize(f))
      Files.createDirectories(to.getParent)
      Files.createLink(to, f)
    } finally files.close()
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getStartTime
    val cpus = o("cpus").toInt
    val report = Paths.get(o("report"))
    val work = Paths.get(o.getOrElse("work", report.getParent.toString))
    Files.createDirectories(work)
    val spark = session(cpus, work.resolve("spark-local").toString)
    val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val setupCpuS = osBean.getProcessCpuTime / 1e9
    val base = Seq(
      "setup_s" -> Json.num(setupS),
      "setup_cpu_s" -> Json.num(setupCpuS),
      "spark_version" -> Json.str(spark.version),
      "java_version" -> Json.str(System.getProperty("java.version")))
    val w = Workloads.byName(o("workload"))
    val inputs = Paths.get(o("inputs"))
    val seconds = o("seconds").toDouble
    val traceRun = o("trace") == "1"
    // a traced run brackets an untraced pass with two traced ones, so the
    // tracing overhead is not mistaken for JIT warm-up between passes
    val minWarm = if (traceRun) 3 else o("min-warm").toInt
    val rec = new Recorder(spark)
    var passDir: Path = work
    val tracer = new Tracer(() => Seq(passDir.toFile,
      new java.io.File(System.getProperty("java.io.tmpdir"))))
    val events = mutable.ArrayBuffer.empty[String]
    val passes = mutable.ArrayBuffer.empty[String]

    def runPass(idx: Int, kind: String, traced: Boolean): Double = {
      passDir = work.resolve(s"pass-$idx")
      val tables = passDir.resolve("tables")
      if (w.usesTables) linkTree(inputs.resolve("tables"), tables)
      val corpus = passDir.resolve("api_logs")
      if (w.usesCorpus) linkTree(inputs.resolve("api_logs"), corpus)
      val ctx = PassCtx(spark, passDir, tables.toString, corpus.toString,
        tracer)
      tracer.enabled = traced
      rec.quiesce()
      rec.drainEvents()
      rec.tracing = traced
      tracer.reset()
      val j0 = rec.jobs.get()
      rec.taskMem.set(0)
      val cpu0 = osBean.getProcessCpuTime
      val t0 = System.nanoTime()
      tracer.open("pass")
      val check =
        try Right(w.pass(ctx))
        catch { case e: Throwable => Left(e) }
        finally while (tracer.enabled && tracer.depth > 0) tracer.close()
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (osBean.getProcessCpuTime - cpu0) / 1e9
      rec.quiesce()
      rec.tracing = false
      val jobs = rec.jobs.get() - j0
      val taskMem = rec.taskMem.get()
      if (traced) {
        val (js, ts, ps) = rec.drainEvents()
        tracer.spans.foreach { s =>
          events += Json.obj("type" -> Json.str("span"), "pass" -> idx.toString,
            "id" -> s.id.toString, "parent" -> s.parent.toString,
            "name" -> Json.str(s.name), "layer" -> Json.str(s.layer),
            "start" -> Json.num(s.start), "end" -> Json.num(s.end),
            "files" -> s.files.toString)
        }
        tracer.spans.clear()
        js.foreach(t => events += Json.obj("type" -> Json.str("job"),
          "pass" -> idx.toString, "t" -> t.toString))
        ts.foreach { case (a, b, run, sh) =>
          events += Json.obj("type" -> Json.str("task"),
            "pass" -> idx.toString, "start" -> a.toString,
            "end" -> b.toString, "run_ms" -> run.toString,
            "shuffle_bytes" -> sh.toString)
        }
        ps.foreach { case (n, a, b) =>
          events += Json.obj("type" -> Json.str("plan"),
            "pass" -> idx.toString, "phase" -> Json.str(n),
            "start" -> a.toString, "end" -> b.toString)
        }
      }
      val (ok, digest, error) = check match {
        case Left(e) => (false, "", String.valueOf(e))
        case Right(f) =>
          try (true, f(), "")
          catch { case e: Throwable => (false, "", "check: " + e) }
      }
      if (error.nonEmpty) System.err.println(s"[perfbench] pass $idx: $error")
      passes += Json.obj("index" -> idx.toString, "kind" -> Json.str(kind),
        "traced" -> traced.toString, "wall_s" -> Json.num(wall),
        "cpu_s" -> Json.num(cpu),
        "jobs" -> jobs.toString, "ok" -> ok.toString,
        "task_mem_mb" -> Json.num(taskMem / 1048576.0),
        "digest" -> Json.str(digest), "error" -> Json.str(error))
      org.apache.commons.io.FileUtils.deleteQuietly(passDir.toFile)
      wall
    }

    var last = runPass(0, "cold", traced = false)
    val warmStart = System.nanoTime()
    var i = 1
    while (i <= minWarm || ((System.nanoTime() - warmStart) / 1e9 + last
        <= seconds && i <= 200)) {
      last = runPass(i, "warm", traced = traceRun && i % 2 == 1)
      i += 1
    }
    o.get("oracle-dump").foreach { d =>
      w.queries.foreach(_.dump(spark, Paths.get(d)))
    }
    val rss = peakRssKb()
    o.get("events").foreach(f =>
      Files.writeString(Paths.get(f), events.map(_ + "\n").mkString))
    Files.writeString(report, Json.obj(base ++ Seq(
      "workload" -> Json.str(w.name),
      "ops_per_pass" -> w.ops.toString,
      "peak_rss_kb" -> rss.toString,
      "passes" -> passes.mkString("[", ",", "]")): _*))
    spark.stop()
  }
}
