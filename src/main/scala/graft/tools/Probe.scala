package graft.tools

import graft.SparkEntry
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The dev probe. Names resolve from `SparkEntry.queries`, then
  * `ServeBench.serves`; `sfDir` defaults to the sf0.1 testdata.
  *
  *  - `plan <q1,q2,...> <outDir> <tag> [sfDir]` writes each query's
  *    pre-execution `explain("formatted")` plan to
  *    `<outDir>/<query>_<tag>.txt` — the committed plan evidence under
  *    `plans/`. Nothing executes, except the state a composite builds
  *    eagerly while its DataFrame is constructed.
  *  - `run <query> [sfDir] [reps]` (reps default 3) prints the formatted
  *    plan, each rep's wall time (construction included) with its task
  *    count and max vs mean task time, then the last
  *    rep's final adaptive plan and its per-job breakdown: every Spark
  *    job's wall time, the driver-side gap before it (planning, file
  *    listing, commit protocol, lease and ledger I/O), its call site and
  *    the operator scopes of the stages it ran (`{Exchange|LocalTableScan}`),
  *    then time by call site — jobs submitted from a future (AQE stages,
  *    broadcasts), whose call site names no engine code, are keyed by
  *    their scopes instead. Each rep executes the query's OWN
  *    QueryExecution (`toRdd`): a `count()` would plan a separate
  *    aggregate that Catalyst prunes, and leave the final adaptive plan
  *    unexecuted.
  *
  * `sbt "runMain graft.tools.Probe run q06_flagship_pipeline"`
  */
object Probe {
  def main(args: Array[String]): Unit = {
    def sfDir(i: Int) = args.lift(i).getOrElse("/root/testdata/sf0.1")
    val mode: SparkSession => Unit = args.toSeq match {
      case Seq("plan", names, outDir, tag, _*) =>
        plan(_, names.split(",").toSeq, outDir, tag, sfDir(4))
      case Seq("run", name, _*) =>
        run(_, name, sfDir(2), args.lift(3).fold(3)(_.toInt))
      case _ =>
        System.err.println("usage: Probe plan <q1,q2,...> <outDir> <tag> " +
          "[sfDir] | Probe run <query> [sfDir] [reps]")
        sys.exit(2)
    }
    val spark = graft.LocalSpark.fromEnv()
    try mode(spark) finally spark.stop()
  }

  private def query(name: String): (SparkSession, String) => DataFrame =
    SparkEntry.queries.getOrElse(name,
      graft.queries.ServeBench.serves.getOrElse(name,
        throw new IllegalArgumentException(s"no query or serve named $name")))

  private def plan(spark: SparkSession, names: Seq[String], outDir: String,
                   tag: String, sfDir: String): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      val text = try {
        query(name)(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
      } catch { case e: Throwable => s"PLAN FAILED: $e" }
      val out = java.nio.file.Paths.get(outDir, s"${name}_$tag.txt")
      java.nio.file.Files.write(out, text.getBytes("UTF-8"))
      println(s"[probe] $name -> $out")
    }
  }

  private def run(spark: SparkSession, name: String, sfDir: String,
                  reps: Int): Unit = {
    val fn = query(name)
    println(s"== plan for $name ==")
    fn(spark, sfDir).explain("formatted")
    val last = (1 to reps).map { i =>
      val rec = record(spark) {
        val df = fn(spark, sfDir)
        (df, df.queryExecution.toRdd.count())
      }
      val ts = rec.taskMs // a straggler far above the mean: one hot partition
      println(f"[probe] $name rep$i rows=${rec.result._2} t=${rec.wall}%.2fs " +
        s"jobs=${rec.jobs.size} tasks=${ts.size}" + (if (ts.isEmpty) "" else
          s" maxTask=${ts.max}ms meanTask=${ts.sum / ts.size}ms"))
      rec
    }.last
    println(s"== final adaptive plan for $name ==")
    println(last.result._1.queryExecution.executedPlan.toString)
    println(f"[probe] $name wall=${last.wall}%.2fs jobs=${last.jobs.size}%d")
    val gaps = gapsBefore(last.jobs)
    last.jobs.zip(gaps).foreach { case (j, (gap, overlap)) =>
      println(f"[probe]   job ${j.id}%4d ${(j.end - j.start) / 1e3}%7.2fs " +
        f"gapBefore=${gap / 1e3}%6.2fs" +
        (if (overlap > 0) f" overlap=${overlap / 1e3}%.2fs" else "") +
        s"  ${j.site}  ${j.ops}")
    }
    val covered = last.jobs.map(j => j.end - j.start).sum
    println(f"[probe] covered=${covered / 1e3}%.2fs " +
      f"gaps=${gaps.map(_._1).sum / 1e3}%.2fs (driver-side) of " +
      f"wall=${last.wall}%.2fs")
    println("[probe] by site:")
    last.jobs.groupBy(_.key).map { case (s, js) =>
      (s, js.map(j => j.end - j.start).sum, js.size)
    }.toSeq.sortBy(-_._2).take(25).foreach { case (s, ms, n) =>
      println(f"[probe]   ${ms / 1e3}%7.2fs n=$n%3d  $s%s")
    }
  }

  /** Each job's (gap, overlap) in ms, jobs in start order: the driver
    * time since every earlier job ended, or, for a job AQE starts while
    * an earlier one still runs, gap 0 and the time it overlaps. */
  def gapsBefore(jobs: Seq[Job]): Seq[(Long, Long)] = {
    val ends = jobs.scanLeft(0L)((e, j) => math.max(e, j.end))
    jobs.zip(ends).map { case (j, e) =>
      val d = if (e > 0) j.start - e else 0L
      (math.max(d, 0L), math.max(-d, 0L))
    }
  }

  /** A stage a job ran: its task count and its operators' scope names. */
  final case class StageRun(id: Int, tasks: Int, scopes: Seq[String])

  /** A Spark job: start and end (epoch ms), call site, whether that site
    * names engine code (a job description or a `graft.` frame), and the
    * stages it ran — skipped stages, whose output an earlier job already
    * computed, are not among them. */
  final case class Job(id: Int, start: Long, end: Long, site: String,
                       anchored: Boolean, stages: Seq[StageRun]) {
    /** The operator scopes of its stages: `{Exchange|WholeStageCodegen}`. */
    def ops: String = stages.flatMap(_.scopes).distinct.sorted.mkString("{", "|", "}")
    /** Its by-site key: the site when it names engine code, else [[ops]]. */
    def key: String = if (anchored) site else ops
  }

  /** What a [[record]]ed block did: its result, its driver wall seconds,
    * the Spark jobs it started (in start order), and its tasks' run
    * times (ms) and spilled bytes (memory + disk). */
  final case class Recorded[T](result: T, wall: Double, jobs: Seq[Job],
                               taskMs: Seq[Long], spilled: Long)

  private val TagKey = "graft.probe.tag"

  /** Run `body`, recording the Spark jobs it starts and their tasks. Its
    * jobs carry a fresh tag in an inheritable local property, so jobs
    * started on threads the block spawns (`graft.ops.Par`, broadcast
    * exchanges) count too. Listener events arrive asynchronously but in
    * order, so once a sentinel job started after the block has been
    * seen, every event of the block has arrived; a sentinel unseen after
    * 30 s throws rather than return partial counts. */
  def record[T](spark: SparkSession)(body: => T): Recorded[T] = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID.toString
    val sentinel = s"$tag-sentinel"
    val jobs = scala.collection.mutable.Map.empty[Int, Job]
    val stages = scala.collection.mutable.Map.empty[Int, Int] // stage -> job
    val taskMs = Vector.newBuilder[Long]
    var spilled = 0L
    @volatile var drained = false
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
        val t = Option(js.properties).map(_.getProperty(TagKey)).orNull
        if (t == sentinel) drained = true
        else if (t == tag) {
          val (s, anchored) = site(js)
          jobs(js.jobId) = Job(js.jobId, js.time, js.time, s, anchored, Nil)
          stages ++= js.stageIds.map(_ -> js.jobId)
        }
      }
      override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = synchronized {
        val si = ev.stageInfo
        for (id <- stages.get(si.stageId); j <- jobs.get(id)) {
          val scopes = si.rddInfos.flatMap(_.scope).map(_.name
            .replaceAll("\\s*\\(\\d+\\)$", "").trim).distinct.sorted
          jobs(id) = j.copy(stages = j.stages :+ StageRun(si.stageId, si.numTasks, scopes))
        }
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
        jobs.get(je.jobId).foreach(j => jobs(je.jobId) = j.copy(end = je.time))
      }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
        if (stages.contains(te.stageId)) {
          taskMs += te.taskInfo.duration
          Option(te.taskMetrics).foreach(m =>
            spilled += m.memoryBytesSpilled + m.diskBytesSpilled)
        }
      }
    }
    def tagged[R](t: String)(f: => R): R = {
      val prev = sc.getLocalProperty(TagKey)
      sc.setLocalProperty(TagKey, t)
      try f finally sc.setLocalProperty(TagKey, prev)
    }
    sc.addSparkListener(listener)
    try {
      val t0 = System.nanoTime()
      val result = tagged(tag)(body)
      val wall = (System.nanoTime() - t0) / 1e9
      tagged(sentinel)(sc.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!drained && System.nanoTime() < deadline) Thread.sleep(10)
      if (!drained)
        throw new IllegalStateException("the sentinel job never reached the listener")
      listener.synchronized {
        Recorded(result, wall, jobs.values.toSeq.sortBy(j => (j.start, j.id)),
          taskMs.result(), spilled)
      }
    } finally sc.removeSparkListener(listener)
  }

  /** A job's call site, and whether it names engine code: its description
    * when one is set, else the first engine frame of the submitting stack
    * in the stage details, else (not anchored) the last stage's name.
    * Jobs that AQE and broadcast exchanges submit from their own futures
    * carry no engine frame and read as the future's call site
    * ("$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:1768"). */
  private def site(js: SparkListenerJobStart): (String, Boolean) = {
    val infos = js.stageInfos.sortBy(_.stageId)
    val frame = infos.reverseIterator
      .flatMap(_.details.split('\n'))
      .find(l => l.contains("graft.") && !l.contains("graft.tools."))
      .map(_.trim.stripPrefix("at "))
    Option(js.properties).flatMap(p =>
      Option(p.getProperty("spark.job.description")))
      .orElse(frame) match {
      case Some(s) => (s.take(120), true)
      case None => (infos.lastOption.map(_.name).getOrElse("?").take(120), false)
    }
  }
}
