package graft.tools


/** Mirrors the driver's t1 smoke: SparkEntry.entry on sf0.001, rows > 0. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.LocalSpark.builder("local[8]", 8).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val df = graft.SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, false)
    println(s"[smoke] entry rows=$n schema=${df.schema.simpleString}")
    assert(n > 0, "entry must return rows")

    // probe: a config-string agg outside the allowlist must be rejected at
    // compile time (the reference splices it into expr() unvalidated)
    val hostile = graft.queries.ParityQueries.flagshipSpec
      .replace("\"agg\": \"sum\"", "\"agg\": \"java_method\"")
    val rejected =
      try { graft.compile.SpecCompiler.compile(spark, graft.spec.PipelineSpec.fromJson(hostile)); false }
      catch { case _: IllegalArgumentException => true }
    assert(rejected, "non-allowlisted agg must be rejected")
    println("[smoke] hostile agg string rejected by allowlist")
    spark.stop()
  }
}
