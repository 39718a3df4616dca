package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counts jobs always, and while `tracing` is on keeps the raw events
  * the per-layer breakdown is derived from: job submissions, task
  * intervals with their run time and shuffle bytes, and Catalyst phase
  * intervals. Events carry wall-clock times (epoch milliseconds), so
  * they are attributed to spans by time after the run, not by
  * snapshots taken at span edges. */
final class Recorder(spark: SparkSession) extends SparkListener {
  @volatile var tracing = false
  val jobs = new AtomicLong(0)
  /** execution memory (sort, aggregation and join buffers) of the tasks
    * since the last reset, each task at its peak, summed; in bytes */
  val taskMem = new AtomicLong(0)
  val jobStarts = new ConcurrentLinkedQueue[Long]()
  /** (launch ms, finish ms, executorRunTime ms, shuffle read+write bytes) */
  val tasks = new ConcurrentLinkedQueue[(Long, Long, Long, Long)]()
  /** (phase name, start ms, end ms) */
  val plans = new ConcurrentLinkedQueue[(String, Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    if (tracing) jobStarts.add(e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    if (e.taskMetrics != null) taskMem.addAndGet(e.taskMetrics.peakExecutionMemory)
    if (tracing && e.taskInfo != null) {
      val i = e.taskInfo
      val m = e.taskMetrics
      val (run, shuffle) =
        if (m == null) (0L, 0L)
        else (m.executorRunTime,
          m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten)
      tasks.add((i.launchTime, i.finishTime, run, shuffle))
    }
  }

  private val planListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit =
      if (tracing) qe.tracker.phases.foreach { case (name, p) =>
        plans.add((name, p.startTimeMs, p.endTimeMs))
      }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(planListener)

  /** Blocks until the listener bus has delivered every posted event, so
    * counts read after a pass include the pass's last jobs. The bus is
    * private to Spark; reflection keeps this a benchmark-only concern. */
  def quiesce(): Unit =
    try {
      val bus = spark.sparkContext.getClass.getMethod("listenerBus")
        .invoke(spark.sparkContext)
      bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
        .invoke(bus, java.lang.Long.valueOf(10000L))
      ()
    } catch { case _: Throwable => Thread.sleep(500) }

  def drainEvents(): (Seq[Long], Seq[(Long, Long, Long, Long)],
      Seq[(String, Long, Long)]) = {
    def drain[T](q: ConcurrentLinkedQueue[T]): Seq[T] = {
      val b = Seq.newBuilder[T]
      var x = q.poll()
      while (x != null) { b += x; x = q.poll() }
      b.result()
    }
    (drain(jobStarts), drain(tasks), drain(plans))
  }
}
