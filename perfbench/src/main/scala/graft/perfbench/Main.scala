package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark process: one workload, one client, one JSON report.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --data <table dir> --work <scratch dir> --out <report.json>
  *      [--warmup-data <tiny table dir>]
  * Main --dump-oracles <file>
  * }}}
  *
  * Untraced (`--trace 0`): set up the workload, then run passes back to
  * back until `--seconds` have gone by and at least the workload's
  * minimum count has run; a workload whose state grows from cycle to
  * cycle runs exactly its minimum. Traced (`--trace 1`): run exactly the
  * minimum count with spans, Spark and streaming listeners, so per-layer
  * counts repeat exactly.
  */
object Main {
  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }

  /** Harrell–Davis estimate of quantile `q` of operation latencies: a
    * Beta-weighted mean of all order statistics. A run yields a small
    * sample of unlike operations (18 reports, 17 index operations), where
    * the sample quantile jumps between neighbouring operations from run
    * to run; this estimate moves smoothly instead. */
  private def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      def cdf(x: Double) =
        if (x <= 0) 0.0 else if (x >= 1) 1.0
        else org.apache.commons.math3.special.Beta.regularizedBeta(x, q * (n + 1), (1 - q) * (n + 1))
      s.indices.map(i => s(i) * (cdf((i + 1.0) / n) - cdf(i.toDouble / n))).sum
    }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    args.get("dump-oracles") match {
      case Some(f) => dumpOracles(f)
      case None => run(args)
    }
  }

  /** The DuckDB oracle SQL of every batch job, for the digest generator. */
  private def dumpOracles(file: String): Unit = {
    val names = (Workloads.etlParity ++ Workloads.etlSpec ++ Workloads.corpus)
      .map(Workloads.queryName)
    val json = names.sorted.map(n =>
      "\"" + n + "\":" + Json.str(graft.SparkEntry.oracleSql(n))).mkString("{", ",", "}")
    java.nio.file.Files.write(java.nio.file.Paths.get(file), json.getBytes("UTF-8"))
  }

  private val jobListener = new JobListener

  private def newSession(env: Env, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", env.path("spark-local"))
      .config("spark.sql.warehouse.dir", env.path("warehouse"))
      .config("spark.hadoop.fs.file.impl", classOf[CountingLocalFs].getName)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.setCheckpointDir(env.path("checkpoints"))
    if (Trace.enabled) {
      s.sparkContext.addSparkListener(jobListener)
      s.streams.addListener(new StreamListener)
    }
    s
  }

  private def run(args: Map[String, String]): Unit = {
    val env = Env(args("data"), args("work"), args("seed").toLong)
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val cores = Runtime.getRuntime.availableProcessors()
    val w = Workloads(args("workload"), env)
    w match {
      case i: IndexServeIngest => FsCounts.root = new java.io.File(i.indexRoot).getAbsolutePath
      case _ =>
    }
    Trace.enabled = traced

    val runStart = System.nanoTime()
    var spark: SparkSession = null
    val setupTimes = (1 to w.setupRepeats).map { k =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      Trace.span("setup") {
        spark = newSession(env, cores)
        // tagged like an operation, so the ops.Par overlap of set-up
        // counts in spark.max_concurrent_jobs
        spark.sparkContext.setLocalProperty(Trace.OpProperty, s"setup#$k")
        try w.setup(spark) finally spark.sparkContext.setLocalProperty(Trace.OpProperty, null)
      }
      (System.nanoTime() - t0) / 1e9
    }
    val client = new Client(spark)
    val warmStart = System.nanoTime()
    args.get("warmup-data").foreach { tiny =>
      Trace.enabled = false
      w.warmup(client, tiny)
      Trace.enabled = traced
    }
    val warmSeconds = (System.nanoTime() - warmStart) / 1e9

    val fsBefore = FsCounts.snapshot
    val cycleTimes = mutable.ArrayBuffer.empty[Double]
    val loopStart = System.nanoTime()
    var n = 0
    def elapsed = (System.nanoTime() - loopStart) / 1e9
    Trace.span("run") {
      while (cycleTimes.size < w.minCycles ||
          (!traced && w.loopsForSeconds && elapsed < seconds)) {
        val t0 = System.nanoTime()
        Trace.span(s"workload:${w.name}#$n")(w.cycle(client, n))
        cycleTimes += (System.nanoTime() - t0) / 1e9
        n += 1
      }
    }
    val loopSeconds = elapsed
    val fsAfter = FsCounts.snapshot
    val ops = client.records.toSeq

    // machine-drift probes at graft.Bench's fixed work sizes; traced runs
    // only, as they take seconds and gate nothing. Like the warm-up and
    // the checks, their jobs carry no operation tag, so no per-layer
    // figure counts them.
    val (calibCpu, calibShuffle) =
      if (traced) (graft.Bench.calibration(spark), graft.Bench.calibrationShuffle(spark))
      else (Double.NaN, Double.NaN)

    val verifyStart = System.nanoTime()
    val verifyFailed = w.verify(spark, client)
    val verifySeconds = (System.nanoTime() - verifyStart) / 1e9
    val outMb = w.outBytes / 1e6
    w.close()
    spark.stop()

    val okOps = ops.filter(_.ok).map(_.seconds)
    // a mismatched output counts as one more failed operation
    val attempted = client.records.size
    val failed = client.records.count(!_.ok) + verifyFailed
    val e2e = Map(
      "setup_s" -> median(setupTimes),
      "pass_s" -> median(cycleTimes.toSeq),
      "op_p50_s" -> quantile(okOps, 0.5),
      "op_p75_s" -> quantile(okOps, 0.75),
      "ops_per_s" -> ops.size / loopSeconds,
      "out_mb" -> outMb,
      "peak_rss_mb" -> peakRssMb())

    val perLayer =
      if (!traced) Map.empty[String, Double]
      else layerMetrics(client, ops, cycleTimes.size, cores, fsBefore, fsAfter) ++
        Map("stage.files_per_component" -> 0.0, "stage.pending_tombstones" -> 0.0) ++
        w.layerState ++
        kindMetrics(w, ops, loopSeconds, outMb) ++ Map(
          "calib.cpu_s" -> calibCpu,
          "calib.shuffle_s" -> calibShuffle)

    val report = Json.obj(Seq(
      "workload" -> Json.str(w.name),
      "seed" -> env.seed.toString,
      "cores" -> cores.toString,
      "cycles" -> cycleTimes.size.toString,
      "first_cycle_s" -> Json.num(cycleTimes.head),
      "wall_s" -> Json.obj(Seq("setup" -> Json.num(setupTimes.sum),
        "warmup" -> Json.num(warmSeconds), "loop" -> Json.num(loopSeconds),
        "verify" -> Json.num(verifySeconds),
        "total" -> Json.num((System.nanoTime() - runStart) / 1e9))),
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "errors" -> client.errors.map(Json.str).mkString("[", ",", "]"),
      "calibration" -> Json.obj(Seq("cpu_s" -> Json.num(calibCpu),
        "shuffle_s" -> Json.num(calibShuffle))),
      "ops" -> ops.map(o => s"[${Json.str(o.name)},${Json.num(o.seconds)}]").mkString("[", ",", "]"),
      "metrics" -> Json.nums(e2e),
      "layers" -> Json.nums(perLayer),
      "digest_checks" -> w.digestChecks.map(d =>
        Json.obj(Seq("query" -> Json.str(d.query), "path" -> Json.str(d.path))))
        .mkString("[", ",", "]")))
    java.nio.file.Files.write(java.nio.file.Paths.get(args("out")), report.getBytes("UTF-8"))
    if (traced) Trace.write(env.path("trace.jsonl"))
    println(s"[perfbench] ${w.name} seed=${env.seed} cycles=${cycleTimes.size} " +
      f"wall=${(System.nanoTime() - runStart) / 1e9}%.1fs failed=$failed")
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024)
      .getOrElse(0.0)

  /** Length of the union of closed intervals. */
  private def unionLength(iv: Seq[(Double, Double)]): Double =
    iv.sortBy(_._1).foldLeft((0.0, Double.NegativeInfinity)) { case ((acc, end), (s, e)) =>
      if (e <= end) (acc, end)
      else (acc + e - math.max(s, end), e)
    }._1

  private def layerMetrics(client: Client, ops: Seq[OpRecord], cycles: Int, cores: Int,
                           fs0: Map[String, Double], fs1: Map[String, Double])
      : Map[String, Double] = {
    val per = (x: Double) => x / cycles
    val spans = Trace.spans
    val byId = spans.map(s => s.id -> s).toMap
    val epochOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6
    def opOf(s: Span): Option[String] = {
      var p = s
      while (p.parent != 0 && !p.name.startsWith("op:")) p = byId(p.parent)
      if (p.name.startsWith("op:")) Some(p.name.stripPrefix("op:")) else None
    }
    val ids = ops.map(_.id).toSet
    val phases = spans.filter(s => !s.name.startsWith("op:") && opOf(s).exists(ids))
    def phase(n: String) = phases.filter(_.name == n).map(_.seconds).sum
    val stats = ids.toSeq.flatMap(id => Option(Trace.ops.get(id)))
    def sum(k: String) = stats.map(_.sums(k)).sum
    val jobIv = stats.flatMap(_.jobs.map { case (a, b) => (a.toDouble, b.toDouble) })
    val jobS = unionLength(jobIv) / 1e3
    // per operation: wall time not covered by construction, planning or jobs
    val gaps = ops.map { o =>
      val own = phases.filter(s => opOf(s).contains(o.id) &&
        Set("spec.parse", "compile", "construct", "plan").contains(s.name))
        .map(s => ((s.startNs / 1e6) + epochOffsetMs, (s.endNs / 1e6) + epochOffsetMs))
      val jobs = Option(Trace.ops.get(o.id)).toSeq.flatMap(_.jobs.map { case (a, b) =>
        (a.toDouble, b.toDouble) })
      math.max(0.0, o.seconds - unionLength(own ++ jobs) / 1e3)
    }
    val opWall = ops.map(_.seconds).sum
    val covered = phases.filter(s => byId.get(s.parent).exists(_.name.startsWith("op:")))
      .map(_.seconds).sum
    val sparkKeys = Seq("spark.executor_cpu_s", "spark.executor_run_s", "spark.gc_s",
      "spark.spill_bytes", "spark.input_bytes", "spark.shuffle_read_bytes",
      "spark.shuffle_write_bytes", "spark.tasks", "spark.single_task_stages")
    val streamKeys = Seq("stream.batches", "stream.trigger_s", "stream.add_batch_s",
      "stream.planning_s", "stream.wal_commit_s")
    // every workload reports every name; a layer it never runs reads 0
    val opNames = Seq("bm25", "conjunctive", "phrase", "neardup", "ivf",
      "stream_append", "manifest_append", "tombstone", "compaction")
    val jobNames = (Workloads.etlParity ++ Workloads.etlSpec ++ Workloads.corpus)
      .map(Workloads.queryName)
    Map(
      "spec.parse_s" -> per(phase("spec.parse")),
      "compile.build_s" -> per(phase("compile")),
      "construct_s" -> per(phase("construct")),
      "plan_s" -> per(phase("plan")),
      "sink_s" -> per(phase("sink")),
      "sink.rows" -> per(sum("sink.rows")),
      "sink.bytes" -> per(sum("sink.bytes")),
      "spark.jobs" -> per(jobIv.size),
      "spark.job_s" -> per(jobS),
      "spark.core_busy_frac" ->
        (if (jobS > 0) sum("spark.executor_run_s") / (jobS * cores) else 0.0),
      "spark.max_concurrent_jobs" -> jobListener.maxActive.get.toDouble,
      "driver_gap_s" -> per(gaps.sum),
      "trace.unaccounted_frac" -> (if (opWall > 0) (opWall - covered) / opWall else 0.0),
      "stage.compactions" -> per(ops.count(_.name == "compaction") + sum("stage.auto_compactions"))
    ) ++ Seq("plan.exchanges", "plan.scans").map(k => k -> per(client.planCounts(k))) ++
      sparkKeys.map(k => k -> per(sum(k))) ++ streamKeys.map(k => k -> per(sum(k))) ++
      fs1.map { case (k, v) => k -> per(v - fs0(k)) } ++
      opNames.map(n => s"op.$n.p50_s" -> median(ops.filter(o => o.name == n && o.ok).map(_.seconds))) ++
      jobNames.map(n => s"job.$n.s" -> median(ops.filter(o => o.name == n && o.ok).map(_.seconds)))
  }

  /** Latency by operation kind (serves are reports on the batch
    * workloads) and the index workload's own figures. */
  private def kindMetrics(w: Workload, ops: Seq[OpRecord], loopSeconds: Double,
                           outMb: Double): Map[String, Double] = {
    val ok = ops.filter(_.ok)
    def lat(kinds: Set[String]) = ok.filter(o => kinds(o.kind)).map(_.seconds)
    val reads = lat(Set("serve", "job"))
    val index = w.isInstanceOf[IndexServeIngest]
    Map(
      "serve_p50_s" -> quantile(reads, 0.5),
      "serve_p75_s" -> quantile(reads, 0.75),
      "ingest_visible_p50_s" -> quantile(lat(Set("ingest")), 0.5),
      "maint_p50_s" -> quantile(lat(Set("maint")), 0.5),
      "index_ops_per_s" -> (if (index) ops.size / loopSeconds else 0.0),
      "index_mb" -> (if (index) outMb else 0.0))
  }
}

/** Just enough JSON writing for the report. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def nums(m: Map[String, Double]): String =
    obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) })
}
