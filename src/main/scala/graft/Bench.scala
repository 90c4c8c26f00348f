package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Benchmark entry point. Emits ONE JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`.
  *
  * A single timed run per query is unusable on a shared machine (two
  * byte-identical trees benched in consecutive rounds moved one query
  * 7.5×), so each query runs `SPARK_GRAFT_BENCH_RUNS` (default 3) times
  * through [[interleaved]]: a transient contention event inflates at most
  * one round of each query. Per-query figures and the total are MEDIANS;
  * min and max ship alongside so the spread is visible.
  */
object Bench {
  private[graft] def median(xs: Seq[Double]): Double = {
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

  /** An error message as one JSON-safe string: quotes, backslashes and
    * control characters blanked, at most 200 chars. */
  private def sanitize(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName)
      .replaceAll("[\"\\\\\\p{Cntrl}]", " ").take(200)

  /** What [[interleaved]] measured: per-query wall samples, one sample of
    * each calibration per round, and the sanitized error of every query
    * that threw. */
  final case class Rounds(samples: Map[String, Vector[Double]],
                          calibration: Vector[Double],
                          calibrationShuffle: Vector[Double],
                          errors: Map[String, String])

  /** Time `queries` on `sfDir` `runs` times INTERLEAVED (round 1 of every
    * query, then round 2, …), taking one [[calibration]] and one
    * [[calibrationShuffle]] sample per round when `calibrate` is set, so
    * a contention event that inflates a round's queries inflates the
    * machine factor with them. The timed action is `count()`. A query
    * that throws records no sample (its fast-fail wall is not a healthy
    * time); its sanitized message lands in `errors`. Samples and failures
    * are logged to stderr under `[tag]`. Bench and ScaleGate both time
    * through here. */
  def interleaved(spark: SparkSession, sfDir: String,
                  queries: Seq[(String, (SparkSession, String) => DataFrame)],
                  runs: Int, tag: String, calibrate: Boolean = true): Rounds = {
    val samples = scala.collection.mutable.Map.empty[String, Vector[Double]]
    val errors = scala.collection.mutable.Map.empty[String, String]
    var calib = Vector.empty[Double]
    var calibShuffle = Vector.empty[Double]
    if (calibrate) { // untimed JIT warmup of the calibration paths
      calibration(spark)
      calibrationShuffle(spark)
    }
    for (r <- 1 to runs) {
      if (calibrate) {
        calib :+= calibration(spark)
        calibShuffle :+= calibrationShuffle(spark)
      }
      for ((name, fn) <- queries) {
        val t0 = System.nanoTime()
        try {
          val rows = fn(spark, sfDir).count()
          val dt = (System.nanoTime() - t0) / 1e9
          samples(name) = samples.getOrElse(name, Vector.empty) :+ dt
          System.err.println(f"[$tag] run $r $name: $rows rows in $dt%.1fs")
        } catch { case e: Throwable =>
          errors(name) = sanitize(e)
          System.err.println(s"[$tag] run $r $name FAILED: ${errors(name)}")
        }
      }
    }
    Rounds(samples.toMap, calib, calibShuffle, errors.toMap)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt.max(1)
    val spark = LocalSpark.fromEnv()
    // JIT/codegen warmup on the tiny sf so per-query times measure the
    // engine, not first-touch JVM compilation of Catalyst/janino paths
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    // optional comma-separated substring filter for local iteration, e.g.
    // SPARK_GRAFT_ONLY=q34,q49 — the driver never sets it
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (n, _) =>
      only.forall(_.exists(n.contains)) }
    val lifecycle = interleaved(spark, sfDir, selected, runs, "bench")
    val samples = lifecycle.samples.toSeq.sortBy(_._1)
    val errors = scala.collection.mutable.Map.empty[String, String] ++
      lifecycle.errors
    def jmap(xs: Seq[(String, Vector[Double])])(f: Vector[Double] => Double) =
      xs.map { case (n, v) => s"\"" + n + "\":" + f(v) }.mkString("{", ",", "}")
    val med = jmap(samples)(median)
    val mins = jmap(samples)(_.min)
    val maxs = jmap(samples)(_.max)
    // AMORTIZED-SERVING pass: the lifecycle totals above pay an honest
    // per-run index build, which dominates them and hides serve-path
    // regressions the production deployment would feel. Build the
    // persisted-index fixtures ONCE (untimed), then time only the
    // serve/probe/diff stages — reported ALONGSIDE the lifecycle totals.
    val serveSel = graft.queries.ServeBench.serves.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.exists(n.contains)) }
    if (serveSel.nonEmpty)
      graft.queries.ServeBench.fixtures.foreach { case (fam, build) =>
        try build(spark, sfDir)
        catch { case e: Throwable => errors(s"serve_fixture_$fam") = sanitize(e) }
      }
    val serves = interleaved(spark, sfDir, serveSel, runs, "bench",
      calibrate = false)
    val serveSamples = serves.samples.toSeq.sortBy(_._1)
    errors ++= serves.errors
    val serveMed = jmap(serveSamples)(median)
    val serveTotal = serveSamples.map(x => median(x._2)).sum
    val errs = errors.toSeq.sortBy(_._1)
      .map { case (n, m) => s"\"" + n + "\":\"" + m + "\"" }
      .mkString("{", ",", "}")
    val total = samples.map(x => median(x._2)).sum
    // GOVERNING gate reading (BASELINE.md "Bench gate definition"): the
    // sum of this bench's medians over EXACTLY the 46 queries in the r1
    // table, vs the 97.64 s anchor — carried in the bench JSON itself so
    // the driver's recorded line always contains the governing number.
    val r1Workload: Set[String] =
      ((1 to 24) ++ (30 to 48) ++ (50 to 52)).map(i => f"q$i%02d_").toSet
    val sameWorkloadMedians = samples.collect {
      case (n, v) if r1Workload.exists(n.startsWith) => median(v)
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
    val calibSamples = lifecycle.calibration
    val calib = median(calibSamples)
    val calibShuffle = median(lifecycle.calibrationShuffle)
    val norm = jmap(samples)(median(_) / calib)
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
    println(s"""{"metric":"total","value":$total,"unit":"sec","runs":$runs,"n_queries":${samples.size},"same_workload_total":$sameWorkload,"same_workload_n":$sameWorkloadN,"calibration":$calib,"calibration_shuffle":$calibShuffle,"serve_total":$serveTotal,"n_serve":${serveSamples.size},"n_errors":${errors.size},"sf":"$sfDir"}""")
    spark.stop()
  }
}
