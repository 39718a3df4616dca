package graft.functions

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** The one measurement facility of main code: every clock and every
  * Spark listener lives here.
  *
  *  - [[t]] wraps one block of a composed verb (retrain/swap, audits,
  *    trainers): `GRAFT_TIMING=1` prints one stderr line per block so
  *    a probe can attribute a multi-second verb without touching the
  *    measured plans. Off (the default) it is a bare call.
  *  - [[stages]] is the stage clock of every staged verb (the virus
  *    and curation pipelines, incremental curation, the index
  *    lifecycles) and of `graft.Bench`'s entries. Each `done(name)`
  *    reports the seconds since the previous mark to the verb's
  *    `onStage` callback, so a verb's stages are contiguous and sum to
  *    its wall time; `GRAFT_TIMING=1` also prints them.
  *  - [[listen]] attaches the one `SparkListener`: it counts the jobs,
  *    the task GC milliseconds, the largest task peak execution memory
  *    and the generated classes compiled in each window between two
  *    `window()` calls. The test helper `JobCount` and `graft.Bench`'s
  *    gc/peak columns read it.
  *  - [[quiesce]] waits until Spark's asynchronous listener bus has
  *    delivered every event posted so far, so a window's counters hold
  *    exactly the work that ran inside it.
  */
object Timing {
  private[graft] val on = sys.env.get("GRAFT_TIMING").contains("1")

  private def print(name: String, sec: Double): Unit =
    if (on) System.err.println(f"[timing] $name $sec%.3f s")

  def t[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val t0 = System.nanoTime()
      try body
      finally print(name, (System.nanoTime() - t0) / 1e9)
    }

  /** A stage clock for `verb`, started now; see [[Stages]]. */
  def stages(verb: String, onStage: (String, Double) => Unit): Stages =
    new Stages(verb, onStage)

  /** A stage ends when it is reported: the time `onStage` itself takes
    * belongs to the next stage. */
  final class Stages private[Timing] (verb: String,
      onStage: (String, Double) => Unit) {
    private val t0 = System.nanoTime()
    private var mark = t0

    /** Seconds since the clock started. */
    def elapsed: Double = (System.nanoTime() - t0) / 1e9

    /** Stage `name` ended now: report the seconds since the previous
      * mark and print them under `GRAFT_TIMING=1`. */
    def done(name: String): Unit = {
      val sec = (System.nanoTime() - mark) / 1e9
      print(s"$verb.$name", sec)
      ended(name, sec)
    }

    /** Stage `name` ended now after `seconds` that another clock
      * measured (an inner verb's `onStage`): report them as they are,
      * so the next `done` times only what follows. */
    def ended(name: String, seconds: Double): Unit = {
      mark = System.nanoTime()
      onStage(name, seconds)
    }
  }

  /** One window's counters: jobs started, GC milliseconds charged to
    * its tasks, the largest single-task peak execution memory, and the
    * classes Janino compiled in the whole JVM, driver and tasks alike
    * (a class served from Spark's codegen cache is not compiled). */
  final case class Window(jobs: Int, gcMs: Long, peakBytes: Long,
      compiles: Long) {
    def peakMb: Double = math.rint(peakBytes / 1048576.0 * 10) / 10
  }

  /** The one `SparkListener`; see [[listen]]. */
  final class Listener private[Timing] (spark: SparkSession)
      extends SparkListener {
    private val jobs = new AtomicInteger()
    private val gcMs = new AtomicLong()
    private val peak = new AtomicLong()
    private val compiled = new AtomicLong(compileCount())

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet(); ()
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        gcMs.addAndGet(m.jvmGCTime)
        peak.getAndUpdate(p => math.max(p, m.peakExecutionMemory)); ()
      }
    }

    /** Wait for the bus, then take the counters since the previous
      * window (or since [[listen]]) and start the next window. */
    def window(): Window = {
      quiesce(spark)
      val c = compileCount()
      Window(jobs.getAndSet(0), gcMs.getAndSet(0), peak.getAndSet(0),
        c - compiled.getAndSet(c))
    }

    def close(): Unit = spark.sparkContext.removeSparkListener(this)
  }

  /** Attach a listener once the bus has delivered every earlier event,
    * so its first window holds only work that starts from now on. */
  def listen(spark: SparkSession): Listener = {
    quiesce(spark)
    val l = new Listener(spark)
    spark.sparkContext.addSparkListener(l)
    l
  }

  /** Janino compiles in this JVM so far: every `CodeGenerator` cache
    * miss records its compile time in this histogram. */
  private def compileCount(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      .getCount

  /** Wait (at most 10 s, then throw) until the listener bus has
    * delivered every posted event. The bus is private to Spark, hence
    * the reflection. */
  private def quiesce(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    try bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
      .invoke(bus, java.lang.Long.valueOf(10000L))
    catch {
      case e: java.lang.reflect.InvocationTargetException => throw e.getCause
    }
    ()
  }
}
