package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block of code starts. */
object JobCount {

  /** The block's result and the number of jobs it started. */
  def of[A](spark: SparkSession)(f: => A): (A, Int) = {
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    // the listener bus is asynchronous and private to Spark: wait for
    // it to deliver every posted event before and after the block
    def quiesce(): Unit = {
      val bus = spark.sparkContext.getClass.getMethod("listenerBus")
        .invoke(spark.sparkContext)
      bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
        .invoke(bus, java.lang.Long.valueOf(10000L))
      ()
    }
    quiesce()
    spark.sparkContext.addSparkListener(listener)
    try {
      val a = f
      quiesce()
      (a, jobs.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
