package graft.tools

import graft.ext.Dedup
import graft.ops.Tables
import org.apache.spark.sql.functions._

/** Scale probe (diagnostic, not driver-run): replicate the sf0.1 documents
  * table N× with shifted ids — every copy is an exact duplicate of the
  * original, the regime a crawl corpus actually presents — and time the
  * near-dup operators. What this demonstrates: exact-collapse keeps the
  * banded-join work constant in the replication factor (class count is
  * unchanged; only the slim class-assignment exchange and the final
  * expansion grow), so clustering scales ~linearly in rows while a
  * collapse-free design would grow quadratically with duplication.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_SCALE_N=10
  *        sbt "runMain graft.tools.ScaleProbe"
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val n = sys.env.getOrElse("SPARK_GRAFT_SCALE_N", "10").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.LocalSpark.builder(s"local[$cpus]", cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // optional comma-separated section filter for local iteration, e.g.
    // SPARK_GRAFT_PROBE_ONLY=apss,saltjoin
    val sectionsOnly = sys.env.get("SPARK_GRAFT_PROBE_ONLY")
      .map(_.split(",").toSeq)
    def sel(section: String): Boolean =
      sectionsOnly.forall(_.exists(section.contains))

    val base = Tables.parquet(spark, s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    def replicated(k: Int) =
      (0 until k).map(i => base.select(
        (col("doc_id") + lit(i * 10000000L)).as("doc_id"), col("text")))
        .reduce(_ union _)

    def time[T](tag: String)(f: => T): Unit = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[scale] $tag: $r in ${(System.nanoTime() - t0) / 1e9}%.1fs")
    }

    if (sel("dedup")) for (k <- Seq(1, n)) {
      val docs = replicated(k).localCheckpoint() // isolate op cost from input build
      time(s"${k}x clusters") {
        Dedup.minhashClusters(docs, "text", "doc_id").count()
      }
      time(s"${k}x exact") {
        Dedup.exact(docs, "text", "doc_id").count()
      }
      time(s"${k}x chunk-dedup") {
        // checksum over the rebuilt text so column pruning can't skip the
        // ownership join or the rebuild aggregation
        Dedup.chunkDedup(docs, "text", "doc_id")
          .agg(sum(length(col("clean_text"))).as("chars"),
            sum(col("n_kept")).as("kept")).head()
      }
    }

    // ---- DSIR selection (q120): the model is a `buckets`-row count
    // table no matter the corpus — replication changes NOTHING about it
    // (identical bucket frequencies), so the cost must be the linear
    // explode + broadcast-join + per-doc sum and nothing else. The probe
    // times 1× vs n× and prints the model row count both ways.
    if (sel("dsir")) for (k <- Seq(1, n)) {
      val docs = replicated(k).localCheckpoint()
      val target = docs.where(pmod(col("doc_id"), lit(10L)) < 2)
      time(s"${k}x dsir-weights") {
        graft.ext.Corpus.dsirWeights(docs, target, "text", "doc_id")
          .agg(sum(col("dsir_bits")), sum(when(col("selected"), 1L))).head()
      }
    }

    // ---- doc novelty (q122): the gram-stream ⋈ df join is the one
    // inverted-index join in the library WITHOUT a frequency cap (every
    // occurrence must meet its df — a cap would change the answer), so
    // hot grams fan out. Join OUTPUT is exactly the gram stream (one df
    // row per gram), so wall must stay ~linear in rows; AQE's skew split
    // handles the per-partition imbalance the hot keys cause.
    if (sel("novelty")) for (k <- Seq(1, n)) {
      val docs = replicated(k).localCheckpoint()
      time(s"${k}x doc-novelty") {
        graft.ext.Corpus.docNovelty(docs, "text", "doc_id")
          .agg(sum(col("n_shared")), sum(col("n_grams"))).head()
      }
    }

    // ---- persisted minhash manifest (q84): the corpus side's signature/
    // banding work is paid once at build; per-ingest probe cost must be
    // batch-dominated, NOT corpus-dominated. Salted replication (each copy
    // gets one distinct extra token) grows the DISTINCT class count k×, so
    // this measures a genuinely growing manifest — probe time may grow
    // with the slim bands scan but must stay far under the no-index
    // alternative (recomputing pair signatures over corpus ∪ batch every
    // ingest), and far under its own build time.
    if (sel("manifest")) for (k <- Seq(1, n)) {
      val corpus = (0 until k).map(i => base.select(
        (col("doc_id") + lit(i * 10000000L)).as("doc_id"),
        concat(col("text"), lit(s" v$i")).as("text")))
        .reduce(_ union _).localCheckpoint()
      val path = s"target/graft-scaleprobe-manifest-$k"
      time(s"${k}x manifest-build") {
        Dedup.saveMinhashManifest(corpus, "text", "doc_id", path,
          k = 32, bands = 16)
      }
      time(s"${k}x manifest-probe") {
        Dedup.incrementalNearDups(base, path, "text", "doc_id", 0.9).count()
      }
      if (k == n) time(s"${k}x no-index-recompute") {
        Dedup.minhashPairs(corpus.union(base), "text", "doc_id",
          threshold = 0.9, bands = 16).count()
      }
    }

    // ---- manifest delete cost (q108 vs tombstones): the immediate
    // content delete anti-join-rewrites BOTH manifest tables per call —
    // index-sized work per delete — while the tombstone path appends a
    // batch-sized key set and defers the rewrite to one compaction. A
    // daily drip-feed of D deletes pays D×(index rewrite) immediately vs
    // D×(batch append) + 1×(compaction) batched; the probe measures one
    // delete each way, plus the fold, on the k×-salted manifest.
    if (sel("manifestdelete")) {
      val k = n
      val corpus = (0 until k).map(i => base.select(
        (col("doc_id") + lit(i * 10000000L)).as("doc_id"),
        concat(col("text"), lit(s" v$i")).as("text")))
        .reduce(_ union _).localCheckpoint()
      val victim = corpus.where(pmod(col("doc_id"), lit(1000)) === 7)
        .localCheckpoint()
      for (mode <- Seq("immediate", "tombstone")) {
        val path = s"target/graft-scaleprobe-mandel-$mode-$k"
        val p = new org.apache.hadoop.fs.Path(path)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(p)) fs.delete(p, true)
        Dedup.saveMinhashManifest(corpus, "text", "doc_id", path,
          k = 32, bands = 16)
        if (mode == "immediate") time(s"${k}x delete-immediate") {
          Dedup.deleteContentFromMinhashManifest(victim, "text", path)
        } else {
          time(s"${k}x delete-tombstone") {
            Dedup.tombstoneContentInMinhashManifest(victim, "text", path)
          }
          time(s"${k}x probe-with-pending-tombstones") {
            Dedup.incrementalNearDups(base, path, "text", "doc_id", 0.9).count()
          }
          time(s"${k}x tombstone-fold(compaction)") {
            Dedup.MinhashManifest.compact(spark, path)
          }
        }
      }
    }

    // ---- winnow probe df-cap cost (the deliberately-unpersisted dfs/
    // question): the probe computes its df cap per call, but ON THE
    // SLICE — manifest rows matching the batch's own hashes — so the
    // aggregate is bounded by batch hashes × df, not manifest size. The
    // probe times the SAME fixed batch against a 1× and an n× manifest;
    // a flat-ish reading justifies recompute-per-probe over maintaining
    // a persisted dfs/ component through appends/forgets/compactions.
    if (sel("winnowprobe")) for (k <- Seq(1, n)) {
      val corpus = (0 until k).map(i => base.select(
        (col("doc_id") + lit(i * 10000000L)).as("doc_id"),
        concat(col("text"), lit(s" v$i")).as("text")))
        .reduce(_ union _).localCheckpoint()
      val path = s"target/graft-scaleprobe-winnow-$k"
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
      val batch = base.where(col("doc_id") < 500).localCheckpoint()
      time(s"${k}x winnow-build") {
        Dedup.saveWinnowManifest(corpus, "text", "doc_id", path)
      }
      time(s"${k}x winnow-probe(cold)") {
        Dedup.probeWinnowOverlap(batch, path).count()
      }
      time(s"${k}x winnow-probe(repeat)") {
        Dedup.probeWinnowOverlap(batch, path).count()
      }
    }

    // ---- sentence decontamination: train-side duplication (the crawl
    // regime) must collapse in the pre-distinct BEFORE the probe join —
    // the distinct sentence set is invariant in k, so N× train rows cost
    // only the linear explode+distinct, never N× join work
    if (sel("decon")) for (k <- Seq(1, n)) {
      val train = replicated(k).localCheckpoint()
      time(s"${k}x sentence-decon") {
        graft.ext.Corpus.decontaminateSentences(train, base, "text", "doc_id")
          .agg(sum(col("n_leaked")), sum(col("n_sentences"))).head()
      }
    }

    // ---- semantic decontam (q146): probe set broadcast once, scoring a
    // map-only HOF fold — wall should be LINEAR in train rows (no
    // shuffle to go super-linear, no pair relation to go quadratic)
    if (sel("semdecon")) for (k <- Seq(1, n)) {
      val embBase = Tables.parquet(spark, s"$sfDir/embeddings.parquet")
        .select("vec_id", "embedding")
      val probeSet = embBase.where(pmod(col("vec_id"), lit(20)) === 7)
        .localCheckpoint()
      val train = (0 until k).map(i => embBase
        .where(pmod(col("vec_id"), lit(20)) =!= 7)
        .select((col("vec_id") + lit(i * 10000000L)).as("vec_id"),
          col("embedding")))
        .reduce(_ union _).localCheckpoint()
      time(s"${k}x semantic-decontam") {
        graft.ext.Similarity.semanticDecontam(train, probeSet, 0.35)
          .agg(sum(col("is_contaminated").cast("long"))).head()
      }
    }

    // ---- LM maintenance cost (q91/q107/q116): with additive delta
    // counts, append and delete are BATCH-sized (one delta write) while
    // the fold defers to compaction — the same shape as the manifest's
    // tombstones. Build over the k×-namespaced corpus, then time one
    // delete, a scoring pass over the pending deltas, and the fold.
    if (sel("lmdelete")) {
      val k = n
      val corpus = (0 until k).map(i => base.select(
        (col("doc_id") + lit(i * 10000000L)).as("doc_id"),
        regexp_replace(col("text"), lit("(\\S+)"), lit(s"$$1c$i")).as("text")))
        .reduce(_ union _).localCheckpoint()
      val path = s"target/graft-scaleprobe-lm-$k"
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
      time(s"${k}x lm-build") {
        graft.ext.Corpus.saveLm(corpus, "text", "doc_id", path)
      }
      val victim = corpus.where(pmod(col("doc_id"), lit(1000)) === 7)
        .localCheckpoint()
      time(s"${k}x lm-delete(delta-append)") {
        graft.ext.Corpus.deleteFromLm(victim, path, "text", "doc_id",
          opId = "probe_delete")
      }
      time(s"${k}x lm-score-with-pending-deltas") {
        graft.ext.Corpus.lmPerplexityIndexed(base, path, "text", "doc_id")
          .count()
      }
      time(s"${k}x lm-delta-fold(compaction)") {
        graft.ext.Corpus.Lm.compact(spark, path)
      }
      time(s"${k}x lm-score-compacted") {
        graft.ext.Corpus.lmPerplexityIndexed(base, path, "text", "doc_id")
          .count()
      }
    }

    // ---- budget selection (q85): the selector windows the SCORE
    // HISTOGRAM, so its cost contract depends on the score's resolution.
    // A CONTINUOUS score (xxhash-derived double here — every doc its own
    // class) degenerates the histogram to corpus size; quantizeScore
    // bounds it at `resolution` classes regardless of rows. Both must
    // produce budget-sized selections; the quantized plan's window input
    // must stay flat as k grows while the raw one tracks the corpus.
    if (sel("budget")) for (k <- Seq(1, n)) {
      val docs = replicated(k)
        .withColumn("q", (abs(xxhash64(col("doc_id"))) % 1000000L)
          .cast("double") / 1000000.0)
        .localCheckpoint()
      time(s"${k}x budget-raw-continuous") {
        graft.ext.Corpus.budgetSelect(docs, "text", "doc_id",
          col("q"), 500).count()
      }
      time(s"${k}x budget-quantized-256") {
        graft.ext.Corpus.budgetSelect(docs, "text", "doc_id",
          graft.ext.Corpus.quantizeScore(col("q"), 256), 500).count()
      }
    }

    // ---- corpus stats: the histogram relation is invariant under
    // duplication (same groups × same distinct lengths), so N× rows add
    // only linear partial-agg work before the tiny window
    if (sel("stats")) for (k <- Seq(1, n)) {
      val docs = replicated(k).withColumn("g", lit("all")).localCheckpoint()
      time(s"${k}x corpus-stats") {
        graft.ext.Corpus.corpusStats(docs, Seq("g"), "text").count()
      }
    }

    // ---- dominant-bucket skew: one bucket gets ~100x the rows of each of
    // ten minor buckets (the crawl-source histogram), and the per-bucket
    // pair demand far exceeds a fixed fanout. Adaptive-with-floor must cut
    // the giant's quadratic workload into shuffle-width tasks where fixed-8
    // strands 3/4 of the cores; the minor buckets take the floor, not the
    // fixed replication. targetPairsPerTask is lowered so the sf0.1 fixture
    // presents the same demand/width ratio a 100 TB bucket would.
    val taskMs = scala.collection.mutable.ArrayBuffer.empty[Long]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        taskMs.synchronized { taskMs += te.taskInfo.duration }
    }
    val skewed = base.withColumn("bucket",
      when(pmod(col("doc_id"), lit(110)) < 100, lit("giant"))
        .otherwise(concat(lit("s"), pmod(col("doc_id"), lit(10)))))
      .localCheckpoint()
    val target = 200000L
    if (sel("skewpairs")) {
    val fanouts = Dedup.bucketFanouts(skewed, "bucket", fixed = 0,
      targetPairsPerTask = target, cap = cpus.toInt)
      .collect().map(r => r.getString(0) -> r.getInt(1)).sortBy(_._1)
    println(s"[scale] skew fanouts (adaptive+floor): ${fanouts.mkString(", ")}")
    spark.sparkContext.addSparkListener(listener)
    for (fan <- Seq(0, 8)) {
      val tag = if (fan == 0) "adaptive+floor" else s"fixed-$fan"
      val walls = (1 to 3).map { _ =>
        taskMs.synchronized(taskMs.clear())
        val t0 = System.nanoTime()
        Dedup.ngramJaccardPairs(skewed, "text", "doc_id", "bucket",
          n = 2, threshold = 0.05, fanout = fan,
          targetPairsPerTask = target).count()
        val dt = (System.nanoTime() - t0) / 1e9
        Thread.sleep(200) // let the async listener bus drain
        val ts = taskMs.synchronized(taskMs.toVector)
        (dt, ts.max, ts.sum.toDouble / ts.length)
      }
      val med = walls.sortBy(_._1).apply(1)
      println(f"[scale] skew pair-join $tag: median ${med._1}%.2fs " +
        f"(straggler task ${med._2}ms vs mean ${med._3}%.0fms; " +
        s"walls=${walls.map(w => f"${w._1}%.2f").mkString(",")})")
    }
    spark.sparkContext.removeSparkListener(listener)
    }

    // ---- APSS (q93): replication with a PER-COPY TOKEN NAMESPACE (every
    // token of copy i is suffixed with the copy tag, so cross-copy cosine
    // is 0, true pair density per copy equals the original, and — unlike
    // salt INTERLEAVING, which collapses the gram space onto ~|vocab|²
    // super-frequent types and inflates join density 30× — each copy's
    // gram-frequency profile is exactly the original's). Candidate-join
    // and verify work must then scale ~linearly in k. Plain replication
    // would also be the wrong probe: exact copies are genuine near-dups,
    // so the TRUE output itself is Θ(k²) pairs and no exact algorithm can
    // beat its own answer size.
    // ---- prefix-filtered set-sim join (q206): replicating the corpus k×
    // multiplies EXACT-duplicate classes, the dominant shape at crawl
    // scale. The exact-collapse pre-pass keeps the df table, prefix join,
    // and verification on DISTINCT sets (k-invariant); only the
    // member-pair EXPANSION grows — and that is output-sized by
    // definition (every expanded row is a true pair the caller asked
    // for). Probe reports pairs + wall: wall must grow like the OUTPUT,
    // not like k² join work on the heavy stages.
    if (sel("setsim")) for (k <- Seq(1, n)) {
      val docs = replicated(k).localCheckpoint()
      time(s"${k}x setsim-pairs") {
        graft.ext.Dedup.setSimJoinPairs(docs, "text", "doc_id",
          threshold = 0.7, shingle = 3).count()
      }
    }

    if (sel("apss")) for (k <- Seq(1, n)) {
      val docs = (0 until k).map(i => base.select(
        (col("doc_id") + lit(i * 10000000L)).as("doc_id"),
        regexp_replace(col("text"), lit("(\\S+)"), lit(s"$$1c$i")).as("text")))
        .reduce(_ union _).localCheckpoint()
      time(s"${k}x apss-pairs") {
        graft.ext.Search.apssCosinePairs(docs, n = 3).count()
      }
    }

    // ---- mergeable report cards (q96): folding k per-day histograms must
    // cost histogram-sized work (groups × distinct lengths — corpus-size-
    // invariant), while the recompute alternative re-scans all k days
    if (sel("merge")) for (k <- Seq(1, n)) {
      val keys = Seq("g")
      val days = (0 until k).map { i =>
        graft.ext.Corpus.tokenHistogram(
          base.select((col("doc_id") + lit(i * 10000000L)).as("doc_id"),
            col("text")).withColumn("g", lit("all")),
          keys, "text").localCheckpoint() // persisted state, as in production
      }
      time(s"${k}x stats-merge(histograms)") {
        graft.ext.Corpus.statsFromHistogram(
          graft.ext.Corpus.mergeHistograms(days, keys), keys).count()
      }
      if (k == n) time(s"${k}x stats-recompute(corpus)") {
        graft.ext.Corpus.corpusStats(
          replicated(k).withColumn("g", lit("all")), Seq("g"), "text").count()
      }
    }

    // ---- text-index lifecycle (q102/q104): the maintenance claim is that
    // APPEND cost tracks the BATCH while a rebuild tracks the accumulated
    // corpus. Build the index over k× salted corpus, then append one 1×
    // batch — the gap between append and rebuild is the amortization a
    // daily ingest pipeline banks every day.
    if (sel("textindex")) {
      val k = n
      val big = (0 until k).map(i => base.select(
        (col("doc_id") + lit(i * 10000000L)).as("doc_id"),
        regexp_replace(col("text"), lit("(\\S+)"), lit(s"$$1c$i")).as("text")))
        .reduce(_ union _).localCheckpoint()
      val idx = s"target/graft-scaleprobe-textindex-$k"
      time(s"${k}x textindex-build") {
        graft.ext.Search.saveTextIndex(big, idx)
      }
      val batch = base.select(col("doc_id") + lit(900000000L) as "doc_id",
        col("text")).localCheckpoint()
      time(s"${k}x textindex-append-1x-batch") {
        graft.ext.Search.appendToTextIndex(batch, idx)
      }
      time(s"${k}x textindex-serve") {
        graft.ext.Search.bm25TopKIndexed(spark, idx,
          Seq("spark", "join", "window", "stream"), 20).count()
      }
      // fragmentation: 30 more micro-batch appends leave 30 file
      // generations per component; compare serve cost fragmented vs
      // compacted — the listing + tiny-row-group tax compaction removes
      for (b <- 1 to 30) {
        val slice = batch.where(pmod(col("doc_id"), lit(30)) === b % 30)
        graft.ext.Search.appendToTextIndex(slice, idx,
          batchId = Some(b.toLong))
      }
      time(s"${k}x textindex-serve-fragmented(31-gen)") {
        graft.ext.Search.bm25TopKIndexed(spark, idx,
          Seq("spark", "join", "window", "stream"), 20).count()
      }
      time(s"${k}x textindex-compact") {
        graft.ext.Search.TextIndex.compact(spark, idx)
      }
      time(s"${k}x textindex-serve-compacted") {
        graft.ext.Search.bm25TopKIndexed(spark, idx,
          Seq("spark", "join", "window", "stream"), 20).count()
      }
    }

    // ---- campaign pin (q133's primitive): the pin is METADATA-ONLY —
    // per member component one recursive listing + one atomic rename,
    // under the member root leases — so its cost tracks live FILE COUNT,
    // never data bytes. Probe: build a three-family campaign (text index
    // + manifest + LM) over the 1× and n× corpora and time pin /
    // drop+vacuum; bytes grow n×, file counts stay write-parallelism-
    // bound, so the pin should be ~flat.
    if (sel("campaign")) for (k <- Seq(1, n)) {
      val docs = replicated(k).localCheckpoint()
      val text = s"target/graft-scaleprobe-campaign-text-$k"
      val mani = s"target/graft-scaleprobe-campaign-mani-$k"
      val lm = s"target/graft-scaleprobe-campaign-lm-$k"
      Seq(text, mani, lm).foreach { p =>
        val hp = new org.apache.hadoop.fs.Path(p)
        hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(hp, true)
      }
      graft.ext.Search.saveTextIndex(docs, text)
      graft.ext.Search.TextIndex.compact(spark, text)
      Dedup.saveMinhashManifest(docs, "text", "doc_id", mani)
      Dedup.MinhashManifest.compact(spark, mani)
      graft.ext.Corpus.saveLm(docs, "text", "doc_id", lm)
      val members = Seq(
        graft.ext.Campaign.Member(graft.ext.Search.TextIndex, text),
        graft.ext.Campaign.Member(Dedup.MinhashManifest, mani),
        graft.ext.Campaign.Member(graft.ext.Corpus.Lm, lm))
      time(s"${k}x campaign-pin(3 families)") {
        graft.ext.Campaign.snapshot(spark, "probe_pin", members); "pinned"
      }
      // restore is the one snapshot op that MOVES DATA (executor-parallel
      // byte copies of the pinned version) — unlike the metadata-only
      // pin, its wall time should track bytes / write-parallelism, i.e.
      // grow with k but stay far under a rebuild (no shuffle, no
      // banding/counting compute — just copies)
      time(s"${k}x campaign-restore(3 families)") {
        graft.ext.Campaign.restore(spark, "probe_pin", members); "restored"
      }
      time(s"${k}x campaign-drop+vacuum") {
        graft.ext.Campaign.drop(spark, "probe_pin", members)
        graft.ext.Campaign.vacuum(spark, members); "reclaimed"
      }
    }

    // ---- graph family (q210/q214/q215/q216): the co-occurrence graph's
    // hub skew is the scale risk. Two 10× regimes, probed separately:
    //  - DENSE (orderkeys shifted, partkeys SHARED): 10× baskets over one
    //    catalog — the co-click regime of a 10× traffic step. Distinct
    //    edges saturate (they're bounded by catalog²·basket-locality), so
    //    the iterate cost must stay near-flat while only the edge-BUILD
    //    join (pair fanout before distinct) pays ~10×.
    //  - DISJOINT (both shifted): 10 independent copies — nodes AND edges
    //    10×, per-node degree unchanged; everything downstream must scale
    //    ~linearly and stragglers must stay near the mean (AQE-split
    //    checkpointed rounds, no global collect anywhere).
    if (sel("graph")) {
      val li = Tables.parquet(spark, s"$sfDir/lineitem.parquet")
        .select("l_orderkey", "l_partkey", "l_quantity")
      def liRep(k: Int, disjoint: Boolean) =
        (0 until k).map(i => li.select(
          (col("l_orderkey") + lit(i * 100000000L)).as("l_orderkey"),
          (if (disjoint) col("l_partkey") + lit(i * 100000000L)
           else col("l_partkey")).as("l_partkey"),
          col("l_quantity"))).reduce(_ union _).localCheckpoint()
      for ((tag, docsLi) <- Seq(
          "1x" -> liRep(1, disjoint = false),
          s"${n}x-dense" -> liRep(n, disjoint = false),
          s"${n}x-disjoint" -> liRep(n, disjoint = true))) {
        spark.sparkContext.addSparkListener(listener)
        def timed(op: String)(f: => Long): Unit = {
          taskMs.synchronized(taskMs.clear())
          val t0 = System.nanoTime()
          val r = f
          val dt = (System.nanoTime() - t0) / 1e9
          Thread.sleep(200) // let the async listener bus drain
          val ts = taskMs.synchronized(taskMs.toVector)
          println(f"[scale] $tag graph-$op: $r rows in $dt%.2fs " +
            f"(straggler task ${ts.max}ms vs mean ${ts.sum / ts.length}ms)")
        }
        // q214/q215's analyst graph (quantity-filtered, quadratically
        // thinner) for the wedge-bound ops; the raw co-order graph for
        // pagerank/k-core exactly as q210/q216 run them
        val thin = graft.ext.Graph.coOccurrenceEdges(
          docsLi.where(col("l_quantity") >= 40), "l_orderkey", "l_partkey")
          .localCheckpoint()
        val full = graft.ext.Graph.coOccurrenceEdges(
          docsLi, "l_orderkey", "l_partkey")
        timed("edges-build+pagerank5") {
          graft.ext.Graph.pageRankInt(full, iters = 5).count()
        }
        timed("triangles") {
          graft.ext.Graph.triangleCounts(thin).count()
        }
        timed("kcore90") {
          graft.ext.Graph.kCorePeel(
            graft.ext.Graph.coOccurrenceEdges(
              docsLi, "l_orderkey", "l_partkey"), k = 90, rounds = 4).count()
        }
        val seeds = docsLi.select(col("l_partkey").as("id"))
          .where(pmod(col("id"), lit(100)) === 0).distinct()
        timed("bfs3") {
          graft.ext.Graph.seedDistances(thin, seeds, maxHops = 3).count()
        }
        spark.sparkContext.removeSparkListener(listener)
      }
    }

    if (sel("ledger")) {
      // the ledger's own small-files problem: one batch-<id> marker per
      // micro-batch, forever, vs one folded high-water marker. Measure
      // the maintenance listing cost both ways (the replay check itself
      // is one exists() either way — the listing is what sweepUncommitted
      // and compactLedger pay per maintenance op)
      import org.apache.hadoop.fs.Path
      val root = "target/graft-scaleprobe-ledger"
      val p = new Path(root)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(p, true)
      val ledger = new Path(root, "_ledger")
      fs.mkdirs(ledger)
      val nMarkers = 43200 // a month of minute-batches
      time(s"ledger-write-${nMarkers}-markers") {
        (0 until nMarkers).foreach(i =>
          fs.create(new Path(ledger, s"batch-$i"), false).close())
      }
      time(s"ledger-list-${nMarkers}-markers") {
        fs.listStatus(ledger).length
      }
      time("ledger-fold(compactLedger)") {
        graft.ops.Stage.compactLedger(spark, root)
      }
      time("ledger-list-folded") {
        fs.listStatus(ledger).length
      }
    }

    // ---- docNovelty under a PATHOLOGICAL hot gram: a fixed 4-token tail
    // appended to half the corpus plants trigrams whose df is N/2 — the
    // worst key shape for the one uncapped inverted-index join in the
    // library (every gram occurrence must meet its df row; a frequency
    // cap would change the answer). The probe measures whether AQE's
    // skew split actually breaks the hot keys' partitions at local[32]:
    // straggler task time must stay near the mean and wall must stay
    // ~linear 1×→n×, else the documented mitigation (two-level (gram,
    // salt) pre-aggregation) gets implemented rather than documented.
    if (sel("noveltyskew")) for (k <- Seq(1, n)) {
      val docs = replicated(k).select(col("doc_id"),
        when(pmod(col("doc_id"), lit(2)) === 0,
          concat(col("text"), lit(" zqhotw zqhotx zqhoty zqhotz")))
          .otherwise(col("text")).as("text"))
        .localCheckpoint()
      spark.sparkContext.addSparkListener(listener)
      val walls = (1 to 3).map { _ =>
        taskMs.synchronized(taskMs.clear())
        val t0 = System.nanoTime()
        graft.ext.Corpus.docNovelty(docs, "text", "doc_id")
          .agg(sum(col("n_shared")), sum(col("n_grams"))).head()
        val dt = (System.nanoTime() - t0) / 1e9
        Thread.sleep(200) // let the async listener bus drain
        val ts = taskMs.synchronized(taskMs.toVector)
        (dt, ts.max, ts.sum.toDouble / ts.length)
      }
      spark.sparkContext.removeSparkListener(listener)
      val med = walls.sortBy(_._1).apply(1)
      println(f"[scale] ${k}x novelty-hotgram: median ${med._1}%.2fs " +
        f"(straggler task ${med._2}ms vs mean ${med._3}%.0fms; " +
        s"walls=${walls.map(w => f"${w._1}%.2f").mkString(",")})")
    }

    // ---- salted join (q99): 90% of 4M probe rows pile on one key (the
    // null-pile / dominant-tenant shape); compare straggler task time
    // plain vs salted at the same shuffle width. The salted plan's build
    // side is ×salts, so its MEAN rises a little — the point is the MAX
    // collapsing toward the mean.
    // AQE's own skew split would mask the lever (it handles the plain SMJ
    // case); the probe models the paths AQE won't re-plan
    if (sel("saltjoin")) {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    val skewProbe = spark.range(0, 4000000).select(
      when(pmod(col("id"), lit(10)) < 9, lit(1L))
        .otherwise(pmod(col("id"), lit(1000L))).as("k"),
      col("id").as("pv")).localCheckpoint()
    val buildSide = spark.range(0, 1000).select(
      col("id").as("bk"), (col("id") * 7).as("bv")).localCheckpoint()
    spark.sparkContext.addSparkListener(listener)
    for (salted <- Seq(false, true)) {
      val tag = if (salted) "salted-8" else "plain"
      val walls = (1 to 3).map { _ =>
        taskMs.synchronized(taskMs.clear())
        val t0 = System.nanoTime()
        val j = if (salted)
          graft.ops.Joins.saltedJoin(skewProbe, buildSide, "k", "bk",
            salts = 8, probeSalt = xxhash64(col("pv")))
        else skewProbe.join(buildSide, col("k") === col("bk"))
        j.agg(sum(col("pv") + col("bv"))).head()
        val dt = (System.nanoTime() - t0) / 1e9
        Thread.sleep(200)
        val ts = taskMs.synchronized(taskMs.toVector)
        (dt, ts.max, ts.sum.toDouble / ts.length)
      }
      val med = walls.sortBy(_._1).apply(1)
      println(f"[scale] skew join $tag: median ${med._1}%.2fs " +
        f"(straggler task ${med._2}ms vs mean ${med._3}%.0fms)")
    }
    spark.sparkContext.removeSparkListener(listener)
    }

    // ---- sf1 lifecycle stragglers: the graph probes record max-task vs
    // mean-task; the winnow/campaign/manifest lifecycle composites (the
    // 55–69 s walls of the sf1 bench) did not. Runs against the DERIVED
    // sf1 dataset (SPARK_GRAFT_SF1_DIR; build it with ScaleUp/ScaleGate
    // first) and prints straggler ratios for minhash-manifest
    // compaction, winnow spans, and the three-family campaign build +
    // snapshot pin — a straggler far above the mean would mean one hot
    // partition carries the composite and the 10× step scaled by luck.
    if (sel("sf1lifecycle")) {
      val sf1 = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "/tmp/graft_sf1")
      val docs1 = Tables.parquet(spark, s"$sf1/documents.parquet")
        .select("doc_id", "text").localCheckpoint()
      spark.sparkContext.addSparkListener(listener)
      def timed1(op: String)(f: => Any): Unit = {
        taskMs.synchronized(taskMs.clear())
        val t0 = System.nanoTime()
        val r = f
        val dt = (System.nanoTime() - t0) / 1e9
        Thread.sleep(200) // let the async listener bus drain
        val ts = taskMs.synchronized(taskMs.toVector)
        // metadata-only ops (the snapshot pin) run ZERO Spark tasks —
        // that absence is itself the measurement
        val strag = if (ts.isEmpty) "no tasks (metadata-only)"
          else f"straggler task ${ts.max}ms vs mean ${ts.sum / ts.length}ms, ${ts.length} tasks"
        println(f"[scale] sf1 $op: $r in $dt%.1fs ($strag)")
      }
      val mani = "target/graft-scaleprobe-sf1-mani"
      val maniP = new org.apache.hadoop.fs.Path(mani)
      maniP.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(maniP, true)
      timed1("minhash-manifest-build(evens)") {
        Dedup.saveMinhashManifest(
          docs1.where(pmod(col("doc_id"), lit(2)) === 0), "text", "doc_id",
          mani, k = 32, bands = 16); "built"
      }
      Dedup.tombstoneContentInMinhashManifest(
        docs1.where(pmod(col("doc_id"), lit(1000)) === 6), "text", mani)
      timed1("minhash-manifest-compaction") {
        Dedup.MinhashManifest.compact(spark, mani); "compacted"
      }
      timed1("winnow-spans") {
        Dedup.winnowSpans(docs1, "text", "doc_id",
          n = 3, w = 4, maxDf = 20, maxGap = 8).count()
      }
      val ctext = "target/graft-scaleprobe-sf1-camp-text"
      val cmani = "target/graft-scaleprobe-sf1-camp-mani"
      val clm = "target/graft-scaleprobe-sf1-camp-lm"
      Seq(ctext, cmani, clm).foreach { p =>
        val hp = new org.apache.hadoop.fs.Path(p)
        hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(hp, true)
      }
      timed1("campaign-build(3 families)") {
        graft.ext.Search.saveTextIndex(docs1, ctext)
        graft.ext.Search.TextIndex.compact(spark, ctext)
        Dedup.saveMinhashManifest(
          docs1.where(pmod(col("doc_id"), lit(10)) < 5), "text", "doc_id",
          cmani, k = 32, bands = 16)
        Dedup.MinhashManifest.compact(spark, cmani)
        graft.ext.Corpus.saveLm(docs1, "text", "doc_id", clm); "built"
      }
      val members = Seq(
        graft.ext.Campaign.Member(graft.ext.Search.TextIndex, ctext),
        graft.ext.Campaign.Member(Dedup.MinhashManifest, cmani),
        graft.ext.Campaign.Member(graft.ext.Corpus.Lm, clm))
      timed1("campaign-snapshot(pin)") {
        graft.ext.Campaign.snapshot(spark, "sf1_probe", members); "pinned"
      }
      graft.ext.Campaign.drop(spark, "sf1_probe", members)
      spark.sparkContext.removeSparkListener(listener)
    }

    // ---- sf3-equivalent MEMORY HEADROOM: the 128 GiB sandbox fits sf1
    // easily; this probe pushes the top-RSS composites (set-sim index
    // build, winnow spans, campaign-scale text index) at 3× the sf1
    // document volume to find the first memory wall — the next missing
    // scale fact. Replication follows the ScaleUp documents rule (per-
    // copy variable hash-tag namespace on top of the sf1 copies), so
    // duplication RATE stays constant and the probes measure genuinely
    // larger corpora. Reports wall, straggler ratio, spill bytes, and
    // the JVM's VmHWM after each op; an OOM or spill explosion names the
    // first operator to hit the wall.
    if (sel("sf3memory")) {
      val sf1 = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "/tmp/graft_sf1")
      val base1 = Tables.parquet(spark, s"$sf1/documents.parquet")
        .select("doc_id", "text")
      val docs3 = (0 until 3).map { j =>
        val shifted = base1.select(
          (col("doc_id") + lit(j * 1000000000L)).as("doc_id"), col("text"))
        if (j == 0) shifted
        else shifted.withColumn("text",
          when(col("text").isNotNull,
            concat_ws(" ", transform(split(col("text"), " "), tok =>
              when(length(tok) > 0,
                concat(tok, lit(s"d$j"),
                  lower(hex(pmod(xxhash64(tok, lit(j + 100)), lit(4096L))))))
                .otherwise(tok)))))
      }.reduce(_ union _).localCheckpoint()
      println(s"[scale] sf3memory corpus rows: ${docs3.count()}")
      val spills = new java.util.concurrent.atomic.AtomicLong(0L)
      val spillListener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          taskMs.synchronized { taskMs += te.taskInfo.duration }
          val m = te.taskMetrics
          if (m != null)
            spills.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
          ()
        }
      }
      spark.sparkContext.addSparkListener(spillListener)
      def vmHwmMb(): Long =
        scala.util.Try(
          scala.io.Source.fromFile("/proc/self/status").getLines()
            .find(_.startsWith("VmHWM"))
            .map(_.replaceAll("[^0-9]", "").toLong / 1024).getOrElse(-1L))
          .getOrElse(-1L)
      def timed3(op: String)(f: => Any): Unit = {
        taskMs.synchronized(taskMs.clear())
        spills.set(0L)
        val t0 = System.nanoTime()
        val r = try f catch { case e: Throwable =>
          s"FAILED(${e.getClass.getSimpleName}: " +
            s"${Option(e.getMessage).getOrElse("").take(120)})" }
        val dt = (System.nanoTime() - t0) / 1e9
        Thread.sleep(200)
        val ts = taskMs.synchronized(taskMs.toVector)
        val strag = if (ts.isEmpty) "n/a"
          else f"${ts.max}ms vs mean ${ts.sum / ts.length}ms"
        println(f"[scale] sf3 $op: $r in $dt%.1fs (straggler $strag; " +
          f"spilled ${spills.get / 1048576} MiB; VmHWM ${vmHwmMb()} MiB)")
      }
      val idx3 = "target/graft-scaleprobe-sf3-setsim"
      val idx3P = new org.apache.hadoop.fs.Path(idx3)
      idx3P.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(idx3P, true)
      timed3("setsim-index-build") {
        Dedup.saveSetSimIndex(docs3, "text", "doc_id", idx3); "built"
      }
      timed3("winnow-spans") {
        Dedup.winnowSpans(docs3, "text", "doc_id",
          n = 3, w = 4, maxDf = 20, maxGap = 8).count()
      }
      val text3 = "target/graft-scaleprobe-sf3-text"
      val text3P = new org.apache.hadoop.fs.Path(text3)
      text3P.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(text3P, true)
      timed3("textindex-build+compact") {
        graft.ext.Search.saveTextIndex(docs3, text3)
        graft.ext.Search.TextIndex.compact(spark, text3); "built"
      }
      spark.sparkContext.removeSparkListener(spillListener)
    }
    spark.stop()
  }
}
