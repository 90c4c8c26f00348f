package graft

import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block of driver code starts, on its own thread
  * and on the threads it spawns: [[graft.tools.Probe.record]]'s job list. */
object JobCount {
  /** `body`'s result and the number of jobs it started. */
  def apply[T](spark: SparkSession)(body: => T): (T, Int) = {
    val rec = graft.tools.Probe.record(spark)(body)
    (rec.result, rec.jobs.size)
  }
}
