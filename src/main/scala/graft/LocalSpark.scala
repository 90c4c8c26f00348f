package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession recipe shared by the entry points (Bench,
  * Verify, Main) and the dev tools: UTC session time zone, UI off, and
  * `nanosAsLong` so NANOS-encoded testdata timestamps read the same way
  * everywhere (see [[graft.ops.Tables.t]]). Callers pass the master and
  * the shuffle partition count; the builder is returned so a caller can
  * add its own settings before `getOrCreate()`. */
object LocalSpark {
  def builder(master: String, partitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", partitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** The session Bench, Verify and every `graft.tools` main run on:
    * `local[n]` with `n` shuffle partitions, `n` read from
    * `SPARK_GRAFT_CPUS` (default 4), logging at WARN. */
  def fromEnv(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
