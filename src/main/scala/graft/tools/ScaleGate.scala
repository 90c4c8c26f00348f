package graft.tools

/** The STANDING sf1 scale gate. Round 16 produced the scale-evidence
  * class (a one-off sf1 bench + spot oracles); this tool makes it a
  * per-round ritual with a regression tripwire, so a scale regression
  * introduced later fails LOUDLY instead of waiting for someone to
  * repeat the ritual by hand.
  *
  * What it does, in one invocation:
  *  1. If the sf1 dataset is absent, derives it deterministically from
  *     sf0.1 via [[ScaleUp.derive]] (same tables every time — the
  *     derivation has no RNG).
  *  2. Times the [[spotSet]] `SPARK_GRAFT_SF1_RUNS` (default 3) times
  *     through [[graft.Bench.interleaved]] (interleaved rounds, one
  *     sample of each calibration per round).
  *  3. Normalizes each per-query median by the calibration median
  *     (machine factor) and compares against `conf/sf1_anchors.json`'s
  *     recorded normalized anchors: any query above
  *     `tripwire × anchor_norm` is a REGRESSION — listed on stderr and
  *     the exit code is 1.
  *
  * Output: one JSON line (also written to `sf1_gate_out.json`) with raw
  * medians, normalized medians, per-query ratios vs anchor, and the
  * regression list. Paste the per-round numbers into BASELINE.md's
  * "sf1 standing gate" section.
  *
  * Usage: SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.ScaleGate"
  *   env: SPARK_GRAFT_SF1_DIR  (default /tmp/graft_sf1)
  *        SPARK_GRAFT_SF_DIR   (sf0.1 source, default /root/testdata/sf0.1)
  *        SPARK_GRAFT_SF1_RUNS (default 3)
  *        SPARK_GRAFT_ONLY     (substring filter, local iteration only)
  *        SPARK_GRAFT_CPUS     (default 4, as every tool; must equal the
  *                              anchors' `cpus`, and the machine must have
  *                              that many cores, else exit 2 before any run)
  */
object ScaleGate {
  /** The spot set: every member either exercises a lifecycle composite
    * (build + maintain + serve — the shapes that regress first at
    * scale), carries an sf1-computable oracle, or is one of the
    * adjudicated sf1 outliers whose ratio must not silently worsen. */
  val spotSet: Seq[String] = Seq(
    "q31_dedup_minhash_lsh",      // banded candidate join
    "q32_dedup_simhash",          // 64-bit contract path (known n²/32 floor)
    "q49_dedup_cluster_minhash",  // CC clustering composite
    "q52_multimodal_embed_ann",   // embed + LSH pairs (dataset-artifact watch)
    "q75_knn_classify",           // declared brute-force baseline
    "q86_stream_neardup_manifest",// streamed manifest lifecycle
    "q93_apss_cosine",            // APSS candidate+verify
    "q133_campaign_snapshot",     // campaign lifecycle composite
    "q144_campaign_rollback",     // campaign lifecycle composite
    "q180_winnow_manifest_probe", // winnow manifest lifecycle
    "q185_winnow_spans",          // winnow span merge
    "q193_winnow_time_travel",    // winnow version resolution
    "q194_winnow_maintenance_diff",
    "q199_campaign_spot",         // campaign lifecycle composite
    "q206_setsim_join",           // corpus-wide prefix-filtered join
    "q217_setsim_index_probe",    // heaviest lifecycle composite
    "q218_stream_setsim_ingest",  // streamed shell-fill composite
    "q221_setsim_join_spot",      // sliced sf1-computable oracle
    "q224_simhash_wide",          // 128-bit scale path
    "q225_setsim_probe_spot",     // sliced probe oracle (q217's dual)
    "q226_stream_setsim_spot")    // sliced probe oracle (q218's dual)

  /** >1.5× the anchor's normalized reading fails the gate. */
  val Tripwire = 1.5

  /** Anchors file shape: {"cpus": n, "calibration": sec, "name": sec, …}
    * — raw medians from the round that recorded them on a `local[n]`
    * session; normalization happens here (anchor_norm = anchor_sec /
    * anchor_calibration). Parsed with a regex: the file is flat and tiny. */
  private def readAnchors(path: String)
      : (Double, Option[Int], Map[String, Double]) = {
    val f = new java.io.File(path)
    if (!f.exists()) return (0.0, None, Map.empty)
    val text = new String(
      java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    val pair = """"([A-Za-z0-9_]+)"\s*:\s*([0-9.]+)""".r
    val all = pair.findAllMatchIn(text)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
    (all.getOrElse("calibration", 0.0), all.get("cpus").map(_.toInt),
      all -- Seq("calibration", "calibration_shuffle", "cpus"))
  }

  def main(args: Array[String]): Unit = {
    val sf1Dir = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "/tmp/graft_sf1")
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_SF1_RUNS", "3").toInt.max(1)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
    val spark = graft.LocalSpark.fromEnv()
    // the calibration probe slows with fewer slots or cores far more than
    // the spot queries do, so normalized readings compare only on a session
    // as wide as the anchors' with a core per slot
    val (anchorCalib, anchorCpus, anchors) = readAnchors("conf/sf1_anchors.json")
    val cpus = spark.sparkContext.defaultParallelism
    val cores = Runtime.getRuntime.availableProcessors
    anchorCpus.filter(a => a != cpus || a > cores).foreach { a =>
      System.err.println(s"[sf1gate] conf/sf1_anchors.json was recorded at " +
        s"local[$a] on $a+ cores, this session is local[$cpus] on $cores: run " +
        s"with SPARK_GRAFT_CPUS=$a on $a+ cores, or re-record the anchors " +
        s"(and their cpus) here")
      spark.stop()
      sys.exit(2)
    }

    // 1. dataset: derive when absent (deterministic, so "absent" is the
    // only trigger — a present dir is trusted; delete it to force)
    val marker = new java.io.File(s"$sf1Dir/documents.parquet")
    if (!marker.exists()) {
      System.err.println(s"[sf1gate] $sf1Dir absent — deriving 10x of $srcDir")
      ScaleUp.derive(spark, srcDir, sf1Dir, 10)
    }

    val selected = spotSet
      .filter(n => only.forall(_.exists(n.contains)))
      .flatMap(n => graft.SparkEntry.queries.get(n).map(n -> _))
    require(selected.nonEmpty, "spot set resolved to zero queries")

    // 2. interleaved timed runs + one calibration sample per round
    graft.SparkEntry.entry(spark).count() // JIT/codegen warmup
    val graft.Bench.Rounds(samples, calibSamples, calibShuffleSamples, errors) =
      graft.Bench.interleaved(spark, sf1Dir, selected, runs, "sf1gate")

    // 3. normalize + tripwire vs anchors. queries_norm divides by the CPU
    // probe only; the shuffle probe is emitted for ADJUDICATION — a
    // tripwire hit across disjoint untouched families with the CPU probe
    // flat and the shuffle probe elevated is a machine I/O band (re-record
    // anchors on the new boot), not a code regression (Bench.calibration
    // scaladoc records the boot where the two moved opposite ways).
    val calib = graft.Bench.median(calibSamples)
    val calibShuffle = graft.Bench.median(calibShuffleSamples)
    val rows = selected.collect { case (n, _) if samples.contains(n) =>
      val raw = graft.Bench.median(samples(n))
      val norm = raw / calib
      val ratio = anchors.get(n).filter(_ > 0).filter(_ => anchorCalib > 0)
        .map(a => norm / (a / anchorCalib))
      (n, raw, norm, ratio)
    }
    val regressions = rows.filter(_._4.exists(_ > Tripwire))
    val missingAnchor = rows.filter(_._4.isEmpty).map(_._1)
    def jnum(d: Double) = f"$d%.4f"
    val qJson = rows.map { case (n, raw, _, _) => s"\"$n\":${jnum(raw)}" }
      .mkString("{", ",", "}")
    val nJson = rows.map { case (n, _, nm, _) => s"\"$n\":${jnum(nm)}" }
      .mkString("{", ",", "}")
    val rJson = rows.collect { case (n, _, _, Some(r)) => s"\"$n\":${jnum(r)}" }
      .mkString("{", ",", "}")
    val regJson = regressions.map(r => s"\"${r._1}\"").mkString("[", ",", "]")
    val errJson = errors.toSeq.sortBy(_._1)
      .map { case (n, m) => s"\"$n\":\"$m\"" }.mkString("{", ",", "}")
    val total = rows.map(_._2).sum
    val json = s"""{"metric":"sf1_gate","value":${jnum(total)},"unit":"sec","runs":$runs,"calibration":${jnum(calib)},"calibration_shuffle":${jnum(calibShuffle)},"queries":$qJson,"queries_norm":$nJson,"ratios_vs_anchor":$rJson,"regressions":$regJson,"errors":$errJson,"tripwire":$Tripwire,"sf":"$sf1Dir"}"""
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("sf1_gate_out.json"), (json + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () }
    println(json)
    if (missingAnchor.nonEmpty)
      System.err.println(s"[sf1gate] no anchor yet for: " +
        missingAnchor.mkString(", ") + " — record this run's medians in " +
        "conf/sf1_anchors.json")
    spark.stop()
    if (regressions.nonEmpty || errors.nonEmpty) {
      regressions.foreach { case (n, raw, norm, r) =>
        System.err.println(f"[sf1gate] REGRESSION $n: ${raw}%.1fs " +
          f"(normalized ${norm}%.2f = ${r.get}%.2fx anchor, tripwire $Tripwire)")
      }
      errors.keys.foreach(n => System.err.println(s"[sf1gate] ERROR $n"))
      sys.exit(1)
    }
  }
}
