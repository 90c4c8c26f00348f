package graft.tools


/** Probe: the streaming memory-sink query must be re-runnable in one
  * session (name reuse) — Bench/Verify may both hit it. */
object ProbeStream {
  def main(args: Array[String]): Unit = {
    val spark = graft.LocalSpark.builder("local[8]", 8).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val d = "/root/testdata/sf0.001"
    val n1 = graft.streaming.EventStreams.hourlyWindowed(spark, d).count()
    val n2 = graft.streaming.EventStreams.hourlyWindowed(spark, d).count()
    println(s"[probe] stream run1=$n1 run2=$n2")
    assert(n1 == n2 && n1 > 0)
    spark.stop()
  }
}
