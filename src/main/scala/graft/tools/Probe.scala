package graft.tools

import graft.SparkEntry

/** Dev tool: run one named query N times, print timings and the formatted
  * physical plan. `runMain graft.tools.Probe <query> [sfDir] [reps]`.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = {
      val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
      graft.LocalSpark.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    }
    spark.sparkContext.setLogLevel("WARN")
    val fn = SparkEntry.queries(name)
    println(s"== plan for $name ==")
    fn(spark, sfDir).explain("formatted")
    (1 to reps).foreach { i =>
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      // execute df's OWN QueryExecution: df.count() would build a separate
      // aggregate QueryExecution and leave df's plan unexecuted, so the
      // "final adaptive plan" below would print isFinalPlan=false with
      // none of AQE's runtime decisions
      val n = df.queryExecution.toRdd.count()
      println(f"[probe] $name rep$i rows=$n t=${(System.nanoTime() - t0) / 1e9}%.2fs")
      if (i == 1) {
        // post-execution plan: AQE's runtime decisions (broadcast
        // conversions, ReusedExchange, coalesced partitions) only appear
        // in the FINAL adaptive plan, after an action has run
        println(s"== final adaptive plan for $name ==")
        println(df.queryExecution.executedPlan.toString)
      }
    }
    spark.stop()
  }
}
