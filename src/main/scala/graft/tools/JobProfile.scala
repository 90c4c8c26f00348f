package graft.tools

import graft.SparkEntry
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Dev tool: run one query end to end with a job listener and print every
  * Spark job's wall time + call site — the optimization rounds' answer to
  * "where does a lifecycle composite actually spend its seconds" when the
  * UI is disabled. `runMain graft.tools.JobProfile <query> [sfDir]`.
  * Also prints the gaps BETWEEN jobs (driver-side work: planning, file
  * listing, commit protocol, lease/ledger I/O), which at small scale
  * factors routinely dominate the jobs themselves.
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.LocalSpark.builder(s"local[$cpus]", cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fn = SparkEntry.queries.getOrElse(name,
      graft.queries.ServeBench.serves(name))
    // warmup: JIT + codegen caches, so the profile measures the engine
    try fn(spark, sfDir).count() catch { case e: Throwable =>
      System.err.println(s"[profile] warmup failed: $e") }
    case class J(id: Int, t0: Long, var t1: Long = 0L, site: String)
    val jobs = new scala.collection.mutable.ArrayBuffer[J]
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.synchronized {
          // stage names carry the call site ("parquet at Stage.scala:209")
          // even when no job description/callSite property is set; SQL
          // executions run through withThreadLocalCaptured futures whose
          // callsite is useless — dig the first graft frame out of the
          // stage details (the submitting stack) instead
          val infos = js.stageInfos.sortBy(_.stageId)
          val stageName = infos.lastOption.map(_.name).getOrElse("?")
          val graftFrame = infos.reverseIterator
            .flatMap(_.details.split('\n'))
            .find(l => l.contains("graft.") && !l.contains("JobProfile"))
            .map(_.trim.stripPrefix("at ").take(120))
          jobs += J(js.jobId, js.time,
            site = Option(js.properties).flatMap { p =>
              Option(p.getProperty("spark.job.description"))
            }.orElse(graftFrame).getOrElse(stageName).take(120))
        }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        jobs.synchronized {
          jobs.find(_.id == je.jobId).foreach(_.t1 = je.time)
        }
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    fn(spark, sfDir).count()
    val wall = (System.nanoTime() - t0) / 1e9
    Thread.sleep(500) // let the listener bus drain the final JobEnd events
    val sorted = jobs.sortBy(_.t0)
    var covered = 0L
    var prevEnd = 0L
    var gapTotal = 0L
    println(f"[profile] $name%s wall=${wall}%.2fs jobs=${sorted.size}%d")
    sorted.foreach { j =>
      val dur = j.t1 - j.t0
      covered += dur
      val gap = if (prevEnd > 0) j.t0 - prevEnd else 0L
      if (gap > 0) gapTotal += gap
      println(f"[profile]   job ${j.id}%4d ${dur / 1e3}%7.2fs gapBefore=${gap / 1e3}%6.2fs  ${j.site}%s")
      prevEnd = math.max(prevEnd, j.t1)
    }
    println(f"[profile] covered=${covered / 1e3}%.2fs gaps=${gapTotal / 1e3}%.2fs (driver-side) of wall=$wall%.2fs")
    // aggregate by call site
    println("[profile] by site:")
    sorted.groupBy(_.site).map { case (s, js) =>
      (s, js.map(j => j.t1 - j.t0).sum, js.size)
    }.toSeq.sortBy(-_._2).take(25).foreach { case (s, ms, n) =>
      println(f"[profile]   ${ms / 1e3}%7.2fs n=$n%3d  $s%s")
    }
    spark.stop()
  }
}
