package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Benchmark entry point. Emits ONE JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`.
  *
  * Contention robustness: a single timed run per query is unusable on a
  * shared machine — two byte-identical trees benched in consecutive rounds
  * moved one query 7.5× with zero code change. Each query therefore runs
  * `SPARK_GRAFT_BENCH_RUNS` (default 3) times INTERLEAVED — round 1 of all
  * queries, then round 2, then round 3 — so a transient contention event
  * inflates at most one round of each query instead of all samples of one
  * query. Reported per-query figure and the total are the per-query
  * MEDIANS; min and max ship alongside so the spread is visible in the
  * recorded artifact.
  */
object Bench {
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** MACHINE-FACTOR calibration: a fixed CPU-bound query — a pure
    * Levenshtein fold over deterministically generated 256-char strings,
    * zero I/O, zero data-dependent shuffle — timed interleaved with every
    * round. Two byte-identical trees benched in consecutive rounds have
    * moved 1.2–1.5× with zero code change (the r15↔r16 machine band,
    * proven by hand-built worktree controls); this query's median is that
    * band MEASURED, so `queries_norm` (per-query median ÷ calibration)
    * compares across rounds without re-running those controls. The work
    * size is fixed forever — changing it breaks cross-round comparison.
    *
    * ONE SCALAR IS NOT ENOUGH — measured on the first container-reboot
    * the sf1 gate straddled: short parallel CPU bursts read 32% FASTER
    * on the new boot while shuffle-heavy queries read 1.1–1.3× slower —
    * the two resources move independently across boots, so normalizing
    * an I/O-bound query by a CPU probe ANTI-corrects. Hence the second
    * scalar [[calibrationShuffle]]: `queries_norm` stays CPU-normalized
    * (the band it was built for), and a tripwire hit is adjudicated by
    * which calibration moved — CPU flat + shuffle elevated across
    * disjoint untouched families means machine I/O band (re-record
    * anchors on the new boot), both flat means a real regression.
    */
  private[graft] def calibration(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0, 24000, 1, 32)
      .select(levenshtein(
        repeat(md5(col("id").cast("string")), 8),
        repeat(md5((col("id") + 1).cast("string")), 8)).as("d"))
      .agg(sum(col("d"))).head()
    (System.nanoTime() - t0) / 1e9
  }

  /** The SHUFFLE-throughput twin of [[calibration]]: a fixed 2M-row hash
    * exchange + wide aggregate, zero input I/O, trivial per-row CPU — its
    * median moves with disk/page-cache/exchange throughput where the CPU
    * probe stays flat. Work size fixed forever, same rule as above.
    */
  private[graft] def calibrationShuffle(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0, 2000000, 1, 32)
      .select(pmod(col("id") * 2654435761L, lit(1000003L)).as("k"),
        col("id"))
      .groupBy(col("k")).agg(sum(col("id")).as("s"))
      .agg(count(lit(1)), sum(col("s"))).head()
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt.max(1)
    val spark = LocalSpark.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // JIT/codegen warmup on the tiny sf so per-query times measure the
    // engine, not first-touch JVM compilation of Catalyst/janino paths
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    // optional comma-separated substring filter for local iteration, e.g.
    // SPARK_GRAFT_ONLY=q34,q49 — the driver never sets it
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (n, _) =>
      only.forall(_.exists(n.contains)) }
    val samples = scala.collection.mutable.Map.empty[String, Vector[Double]]
    val errors = scala.collection.mutable.Map.empty[String, String]
    var calibSamples = Vector.empty[Double]
    var calibShuffleSamples = Vector.empty[Double]
    calibration(spark) // untimed JIT warmup of the calibration path itself
    calibrationShuffle(spark)
    for (_ <- 1 to runs) {
      // one calibration sample per interleaved round, so a contention
      // event that inflates this round's queries inflates the machine
      // factor with them
      calibSamples :+= calibration(spark)
      calibShuffleSamples :+= calibrationShuffle(spark)
      for ((name, fn) <- selected) {
        val t0 = System.nanoTime()
        // a query that throws must NOT record its fast-fail wall time as
        // a healthy sample — mark it errored and exclude it from totals
        try {
          fn(spark, sfDir).count()
          val dt = (System.nanoTime() - t0) / 1e9
          samples(name) = samples.getOrElse(name, Vector.empty) :+ dt
        } catch { case e: Throwable =>
          errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
            .replaceAll("[\"\\\\\\p{Cntrl}]", " ").take(200)
        }
      }
    }
    val ok = selected.filter { case (n, _) => samples.contains(n) }
    def jmap(f: Vector[Double] => Double) = ok
      .map { case (n, _) => s"\"" + n + "\":" + f(samples(n)) }
      .mkString("{", ",", "}")
    val med = jmap(median)
    val mins = jmap(_.min)
    val maxs = jmap(_.max)
    // AMORTIZED-SERVING pass: the lifecycle totals above pay an honest
    // per-run index build, which dominates them and hides serve-path
    // regressions the production deployment would feel. Build the
    // persisted-index fixtures ONCE (untimed), then time only the
    // serve/probe/diff stages — reported ALONGSIDE the lifecycle totals.
    val serveSel = graft.queries.ServeBench.serves.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.exists(n.contains)) }
    val serveSamples = scala.collection.mutable.Map.empty[String, Vector[Double]]
    if (serveSel.nonEmpty)
      graft.queries.ServeBench.fixtures.foreach { case (fam, build) =>
        try build(spark, sfDir)
        catch { case e: Throwable =>
          errors(s"serve_fixture_$fam") =
            Option(e.getMessage).getOrElse(e.getClass.getName)
              .replaceAll("[\"\\\\\\p{Cntrl}]", " ").take(200) }
      }
    for (_ <- 1 to runs; (name, fn) <- serveSel) {
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        serveSamples(name) = serveSamples.getOrElse(name, Vector.empty) :+ dt
      } catch { case e: Throwable =>
        errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
          .replaceAll("[\"\\\\\\p{Cntrl}]", " ").take(200)
      }
    }
    val serveOk = serveSel.filter { case (n, _) => serveSamples.contains(n) }
    val serveMed = serveOk
      .map { case (n, _) => s"\"" + n + "\":" + median(serveSamples(n)) }
      .mkString("{", ",", "}")
    val serveTotal = serveOk
      .map { case (n, _) => median(serveSamples(n)) }.sum
    val errs = errors.toSeq.sortBy(_._1)
      .map { case (n, m) => s"\"" + n + "\":\"" + m + "\"" }
      .mkString("{", ",", "}")
    val total = ok.map { case (n, _) => median(samples(n)) }.sum
    // GOVERNING gate reading (BASELINE.md "Bench gate definition"): the
    // sum of this bench's medians over EXACTLY the 46 queries in the r1
    // table, vs the 97.64 s anchor — carried in the bench JSON itself so
    // the driver's recorded line always contains the governing number.
    val r1Workload: Set[String] =
      ((1 to 24) ++ (30 to 48) ++ (50 to 52)).map(i => f"q$i%02d_").toSet
    val sameWorkloadMedians = ok.collect {
      case (n, _) if r1Workload.exists(n.startsWith) => median(samples(n))
    }
    val sameWorkload = sameWorkloadMedians.sum
    // same_workload_n guards the gate reading: an erroring r1-workload
    // query would otherwise silently DROP from the sum and make the
    // governing number read faster than the true 46-query total — the
    // gate consumer must assert n == 46 before trusting the total.
    val sameWorkloadN = sameWorkloadMedians.size
    // machine factor: the fixed CPU-bound query's median this run, plus
    // per-query medians normalized by it — cross-round comparisons read
    // queries_norm (machine-band-free) and raw seconds stay alongside
    val calib = median(calibSamples)
    val calibShuffle = median(calibShuffleSamples)
    val norm = ok
      .map { case (n, _) => s"\"" + n + "\":" + (median(samples(n)) / calib) }
      .mkString("{", ",", "}")
    val full = s"""{"metric":"total","value":$total,"unit":"sec","queries":$med,"runs":$runs,"queries_min":$mins,"queries_max":$maxs,"same_workload_total":$sameWorkload,"same_workload_n":$sameWorkloadN,"calibration":$calib,"calibration_shuffle":$calibShuffle,"calibration_samples":[${calibSamples.mkString(",")}],"queries_norm":$norm,"serve_total":$serveTotal,"serve_queries":$serveMed,"errors":$errs,"sf":"$sfDir"}"""
    // The driver's artifact capture keeps only the TAIL of stdout and its
    // parser has failed on every long line so far (r9: full JSON captured,
    // `parsed` still null). Defend three ways: persist the full JSON to a
    // file, print the long line, and END with a SHORT summary line — total
    // + counts only, no per-query maps — that any line-oriented JSON
    // parser handles; the medians live in bench_out.json and the long line.
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get("bench_out.json"),
        (full + "\n").getBytes("UTF-8"))
    } catch { case _: Throwable => () } // best-effort: read-only cwd must not fail the bench
    println(full)
    println(s"""{"metric":"total","value":$total,"unit":"sec","runs":$runs,"n_queries":${ok.size},"same_workload_total":$sameWorkload,"same_workload_n":$sameWorkloadN,"calibration":$calib,"calibration_shuffle":$calibShuffle,"serve_total":$serveTotal,"n_serve":${serveOk.size},"n_errors":${errors.size},"sf":"$sfDir"}""")
    spark.stop()
  }
}
