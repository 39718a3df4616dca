package graft

import org.apache.spark.sql.SparkSession

import graft.functions.Timing

/** Counts the Spark jobs a block of code starts. */
object JobCount {

  /** The block's result and the number of jobs it started. */
  def of[A](spark: SparkSession)(f: => A): (A, Int) = {
    val (a, w) = windowOf(spark)(f)
    (a, w.jobs)
  }

  /** The block's result and the listener window around it. */
  def windowOf[A](spark: SparkSession)(f: => A): (A, Timing.Window) = {
    val listener = Timing.listen(spark)
    try {
      val a = f
      (a, listener.window())
    } finally listener.close()
  }
}
