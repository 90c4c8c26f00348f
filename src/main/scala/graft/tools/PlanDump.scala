package graft.tools

import graft.SparkEntry

/** Dev tool: dump `explain("formatted")` for a comma-separated list of
  * queries to `<outDir>/<query>_<tag>.txt` — the committed plan evidence
  * for optimization rounds. `runMain graft.tools.PlanDump
  * <q1,q2,...> <outDir> <tag> [sfDir]`. Queries run nothing: the dump is
  * the pre-execution plan (deterministic, diff-able); composites' build
  * side effects still run at construction time where the query eagerly
  * builds state.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val outDir = args(1)
    val tag = args(2)
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    val spark = {
      val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
      graft.LocalSpark.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    }
    spark.sparkContext.setLogLevel("WARN")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        graft.queries.ServeBench.serves(name))
      val plan = try {
        val df = fn(spark, sfDir)
        df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
      } catch { case e: Throwable => s"PLAN FAILED: $e" }
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${name}_$tag.txt"),
        plan.getBytes("UTF-8"))
      println(s"[plandump] $name -> $outDir/${name}_$tag.txt")
    }
    spark.stop()
  }
}
