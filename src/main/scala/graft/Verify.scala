package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated substring filter (local iteration
    // only — the driver always passes exactly two args)
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).headOption.map(_.split(",").toSeq)
    def selected(name: String): Boolean = only.forall(_.exists(name.contains))
    val spark = LocalSpark.fromEnv()
    // ORACLE-BUILD-TIME corpus parameter: the unigram-LM replay's Viterbi
    // unroll depth (one dp CTE per word position) is derived from the
    // corpus's actual longest whitespace token, not a constant — a corpus
    // with longer words than the old 24-char margin would have silently
    // dropped them from the replay's M-step while the engine (which loops
    // to the real word length) still counted them. MUST run before the
    // first SparkEntry access: the query/oracle maps build on object init.
    try {
      import org.apache.spark.sql.functions._
      val longest = graft.ops.Tables.t(spark, sfDir, "documents")
        .where(col("text").isNotNull)
        .select(explode(split(col("text"), " ")).as("w"))
        .agg(max(length(col("w"))).as("m"))
        .head.getAs[Any]("m")
      longest match {
        case n: Number if n.intValue > 0 =>
          // No upper cap here: the consumer (CorpusQueries) compares the
          // published depth to its unroll cap and swaps the three unigram
          // oracles for a LOUD generated error() when exceeded — one
          // pathological long token (URL/base64 run) must fail those rows
          // with a clear message, not emit thousands of dp CTEs DuckDB
          // cannot plan.
          sys.props("graft.oracle.unigram.maxlen") = n.intValue.toString
          System.err.println(s"[verify] unigram oracle unroll depth = ${n.intValue}")
        case _ => ()
      }
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[verify] unigram depth probe failed (default 24): $e")
    }
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => selected(kv._1)).foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(f"[verify] $name ok in ${(System.nanoTime() - t0) / 1e9}%.1fs")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
