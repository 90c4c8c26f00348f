package graft.tools

import graft.ext.{Campaign, Corpus, Dedup, Graph, Search}
import graft.ops.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scale probe (diagnostic): operator-level 1× vs n×
  * probes for the claims no spec, perfbench workload or ScaleGate spot
  * query checks — replication invariance, straggler tasks under skew,
  * maintenance amortization and memory headroom. Each section replicates
  * an sf0.1 table (or the sf1 documents) and times its operators through
  * one helper that reports wall time, max vs mean task time, spill and
  * the JVM's VmHWM.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_SCALE_N=10
  *        SPARK_GRAFT_PROBE_ONLY=<section,...>
  *        sbt "runMain graft.tools.ScaleProbe"
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val n = sys.env.getOrElse("SPARK_GRAFT_SCALE_N", "10").toInt
    val spark = graft.LocalSpark.fromEnv()

    // optional comma-separated section filter for local iteration, e.g.
    // SPARK_GRAFT_PROBE_ONLY=graph,saltjoin
    val sectionsOnly = sys.env.get("SPARK_GRAFT_PROBE_ONLY")
      .map(_.split(",").toSeq)
    def sel(section: String): Boolean =
      sectionsOnly.forall(_.exists(section.contains))

    val base = Tables.parquet(spark, s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    /** `k` copies of the documents, ids shifted per copy and copy `i`'s
      * text re-spelled by `respell(text, i)` (identity: exact copies). */
    def copies(k: Int, respell: (Column, Int) => Column = (t, _) => t) =
      ScaleUp.copies(base, k)((d, i) => d.select(
        (col("doc_id") + lit(i * 10000000L)).as("doc_id"),
        respell(col("text"), i).as("text")))
    def fresh(path: String): String = {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      path
    }
    def vmHwmMb(): Long =
      scala.util.Try(
        scala.io.Source.fromFile("/proc/self/status").getLines()
          .find(_.startsWith("VmHWM"))
          .map(_.replaceAll("[^0-9]", "").toLong / 1024).getOrElse(-1L))
        .getOrElse(-1L)

    /** Run `f` `reps` times ([[Probe.record]] each) and print the median
      * rep: its result (or FAILED: a throwing op does not end the run),
      * wall, max vs mean task time, spill and VmHWM; every rep's wall
      * when `reps` > 1. */
    def timed(tag: String, reps: Int = 1)(f: => Any): Unit = {
      val recs = (1 to reps).map(_ => Probe.record(spark) {
        try f catch { case e: Throwable =>
          s"FAILED(${e.getClass.getSimpleName}: " +
            s"${Option(e.getMessage).getOrElse("").take(120)})" }
      })
      val med = recs.sortBy(_.wall).apply(reps / 2)
      val ts = med.taskMs
      val tasks = if (ts.isEmpty) "no tasks (metadata-only)"
        else s"straggler task ${ts.max}ms vs mean ${ts.sum / ts.length}ms"
      val walls = if (reps == 1) ""
        else recs.map(r => f"${r.wall}%.2f").mkString("; walls=", ",", "")
      println(f"[scale] $tag: ${med.result} in ${med.wall}%.2fs ($tasks; " +
        s"spilled ${med.spilled / 1048576} MiB; VmHWM ${vmHwmMb()} MiB$walls)")
    }

    // ---- near-dup operators on EXACT-duplicate replication (every copy
    // verbatim, the regime a crawl corpus presents; the sf1 gate's
    // namespaced copies are the other regime): exact-collapse keeps the
    // banded-join work constant in k (class count is unchanged; only the
    // slim class-assignment exchange and the final expansion grow), so
    // wall must grow ~linearly in rows, never quadratically.
    if (sel("dedup")) for (k <- Seq(1, n)) {
      val docs = copies(k).localCheckpoint() // isolate op cost from input build
      timed(s"${k}x clusters") {
        Dedup.minhashClusters(docs, "text", "doc_id").count()
      }
      timed(s"${k}x exact") { Dedup.exact(docs, "text", "doc_id").count() }
      timed(s"${k}x chunk-dedup") {
        // checksum over the rebuilt text so column pruning can't skip the
        // ownership join or the rebuild aggregation
        Dedup.chunkDedup(docs, "text", "doc_id")
          .agg(sum(length(col("clean_text"))), sum(col("n_kept"))).head()
      }
    }

    // ---- DSIR selection (q120): the model is a `buckets`-row count
    // table no matter the corpus — replication changes NOTHING about it
    // (identical bucket frequencies), so the cost must be the linear
    // explode + broadcast-join + per-doc sum and nothing else. The probe
    // times 1× vs n× and prints the model row count both ways.
    if (sel("dsir")) for (k <- Seq(1, n)) {
      val docs = copies(k).localCheckpoint()
      val target = docs.where(pmod(col("doc_id"), lit(10L)) < 2)
      timed(s"${k}x dsir-weights") {
        Corpus.dsirWeights(docs, target, "text", "doc_id")
          .agg(sum(col("dsir_bits")), sum(when(col("selected"), 1L))).head()
      }
    }

    // ---- doc novelty (q122): the gram-stream ⋈ df join is the one
    // inverted-index join in the library WITHOUT a frequency cap (every
    // occurrence must meet its df — a cap would change the answer), so
    // hot grams fan out. Join OUTPUT is exactly the gram stream (one df
    // row per gram), so wall must stay ~linear in rows. The hot-gram arm
    // appends a fixed 4-token tail to half the corpus, planting trigrams
    // whose df is N/2 — the worst key shape: AQE's skew split must keep
    // the straggler task near the mean, else the documented mitigation
    // (two-level (gram, salt) pre-aggregation) gets implemented.
    if (sel("novelty")) for (k <- Seq(1, n); hot <- Seq(false, true)) {
      val docs = copies(k, (t, _) => if (!hot) t else
        when(pmod(col("doc_id"), lit(2)) === 0,
          concat(t, lit(" zqhotw zqhotx zqhoty zqhotz"))).otherwise(t))
        .localCheckpoint()
      timed(s"${k}x doc-novelty${if (hot) "-hotgram" else ""}", reps = 3) {
        Corpus.docNovelty(docs, "text", "doc_id")
          .agg(sum(col("n_shared")), sum(col("n_grams"))).head()
      }
    }

    // ---- winnow probe df-cap cost (the deliberately-unpersisted dfs/
    // question): the probe computes its df cap per call, but ON THE
    // SLICE — manifest rows matching the batch's own hashes — so the
    // aggregate is bounded by batch hashes × df, not manifest size. The
    // probe times the SAME fixed batch against a 1× and an n× salted
    // manifest (one distinct extra token per copy); a flat-ish reading
    // justifies recompute-per-probe over maintaining a persisted dfs/
    // component through appends/forgets/compactions.
    if (sel("winnowprobe")) for (k <- Seq(1, n)) {
      val corpus = copies(k, (t, i) => concat(t, lit(s" v$i")))
        .localCheckpoint()
      val path = fresh(s"target/graft-scaleprobe-winnow-$k")
      val batch = base.where(col("doc_id") < 500).localCheckpoint()
      timed(s"${k}x winnow-build") {
        Dedup.saveWinnowManifest(corpus, "text", "doc_id", path)
      }
      timed(s"${k}x winnow-probe(cold)") {
        Dedup.probeWinnowOverlap(batch, path).count()
      }
      timed(s"${k}x winnow-probe(repeat)") {
        Dedup.probeWinnowOverlap(batch, path).count()
      }
    }

    // ---- sentence decontamination: train-side duplication (the crawl
    // regime) must collapse in the pre-distinct BEFORE the probe join —
    // the distinct sentence set is invariant in k, so N× train rows cost
    // only the linear explode+distinct, never N× join work
    if (sel("decon")) for (k <- Seq(1, n)) {
      val train = copies(k).localCheckpoint()
      timed(s"${k}x sentence-decon") {
        Corpus.decontaminateSentences(train, base, "text", "doc_id")
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
      val train = ScaleUp.copies(
        embBase.where(pmod(col("vec_id"), lit(20)) =!= 7), k)((d, i) =>
        d.withColumn("vec_id", col("vec_id") + lit(i * 10000000L)))
        .localCheckpoint()
      timed(s"${k}x semantic-decontam") {
        graft.ext.Similarity.semanticDecontam(train, probeSet, 0.35)
          .agg(sum(col("is_contaminated").cast("long"))).head()
      }
    }

    // ---- LM maintenance cost (q91/q107/q116): with additive delta
    // counts, append and delete are BATCH-sized (one delta write) while
    // the fold defers to compaction — the same shape as the manifest's
    // tombstones. Build over the k×-namespaced corpus (every token of
    // copy i suffixed `c<i>`), then time one delete, a scoring pass over
    // the pending deltas, and the fold.
    if (sel("lmdelete")) {
      val k = n
      val corpus = copies(k, (t, i) =>
        regexp_replace(t, lit("(\\S+)"), lit(s"$$1c$i"))).localCheckpoint()
      val path = fresh(s"target/graft-scaleprobe-lm-$k")
      timed(s"${k}x lm-build") {
        Corpus.saveLm(corpus, "text", "doc_id", path)
      }
      val victim = corpus.where(pmod(col("doc_id"), lit(1000)) === 7)
        .localCheckpoint()
      timed(s"${k}x lm-delete(delta-append)") {
        Corpus.deleteFromLm(victim, path, "text", "doc_id",
          opId = "probe_delete")
      }
      timed(s"${k}x lm-score-with-pending-deltas") {
        Corpus.lmPerplexityIndexed(base, path, "text", "doc_id").count()
      }
      timed(s"${k}x lm-delta-fold(compaction)") {
        Corpus.Lm.compact(spark, path)
      }
      timed(s"${k}x lm-score-compacted") {
        Corpus.lmPerplexityIndexed(base, path, "text", "doc_id").count()
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
      val docs = copies(k)
        .withColumn("q", (abs(xxhash64(col("doc_id"))) % 1000000L)
          .cast("double") / 1000000.0)
        .localCheckpoint()
      timed(s"${k}x budget-raw-continuous") {
        Corpus.budgetSelect(docs, "text", "doc_id", col("q"), 500).count()
      }
      timed(s"${k}x budget-quantized-256") {
        Corpus.budgetSelect(docs, "text", "doc_id",
          Corpus.quantizeScore(col("q"), 256), 500).count()
      }
    }

    // ---- dominant-bucket skew: one bucket gets ~100x the rows of each of
    // ten minor buckets (the crawl-source histogram), and the per-bucket
    // pair demand far exceeds a fixed fanout. Adaptive-with-floor must cut
    // the giant's quadratic workload into shuffle-width tasks where fixed-8
    // strands 3/4 of the cores; the minor buckets take the floor, not the
    // fixed replication. targetPairsPerTask is lowered so the sf0.1 fixture
    // presents the same demand/width ratio a 100 TB bucket would.
    if (sel("skewpairs")) {
      val skewed = base.withColumn("bucket",
        when(pmod(col("doc_id"), lit(110)) < 100, lit("giant"))
          .otherwise(concat(lit("s"), pmod(col("doc_id"), lit(10)))))
        .localCheckpoint()
      val target = 200000L
      val fanouts = Dedup.bucketFanouts(skewed, "bucket", fixed = 0,
        targetPairsPerTask = target, cap = spark.sparkContext.defaultParallelism)
        .collect().map(r => r.getString(0) -> r.getInt(1)).sortBy(_._1)
      println(s"[scale] skew fanouts (adaptive+floor): ${fanouts.mkString(", ")}")
      for (fan <- Seq(0, 8))
        timed(s"skew pair-join ${if (fan == 0) "adaptive+floor" else s"fixed-$fan"}",
            reps = 3) {
          Dedup.ngramJaccardPairs(skewed, "text", "doc_id", "bucket",
            n = 2, threshold = 0.05, fanout = fan,
            targetPairsPerTask = target).count()
        }
    }

    // ---- prefix-filtered set-sim join (q206) on exact-duplicate copies:
    // the exact-collapse pre-pass keeps the df table, prefix join and
    // verification on DISTINCT sets (k-invariant); only the member-pair
    // expansion grows, and that is output-sized by definition — wall
    // must grow like the pairs printed, not like k² join work.
    if (sel("setsim")) for (k <- Seq(1, n)) {
      val docs = copies(k).localCheckpoint()
      timed(s"${k}x setsim-pairs") {
        Dedup.setSimJoinPairs(docs, "text", "doc_id", threshold = 0.7,
          shingle = 3).count()
      }
    }

    // ---- corpus stats and mergeable report cards (q96): the histogram
    // relation is invariant under duplication (same groups × same
    // distinct lengths), so recomputing over N× rows adds only linear
    // partial-agg work before the tiny window, while folding k per-day
    // histograms costs histogram-sized work (corpus-size-invariant)
    if (sel("stats")) for (k <- Seq(1, n)) {
      val keys = Seq("g")
      val days = (0 until k).map { i =>
        Corpus.tokenHistogram(
          base.select((col("doc_id") + lit(i * 10000000L)).as("doc_id"),
            col("text")).withColumn("g", lit("all")),
          keys, "text").localCheckpoint() // persisted state, as in production
      }
      timed(s"${k}x stats-merge(histograms)") {
        Corpus.statsFromHistogram(Corpus.mergeHistograms(days, keys), keys)
          .count()
      }
      timed(s"${k}x stats-recompute(corpus)") {
        Corpus.corpusStats(copies(k).withColumn("g", lit("all")), Seq("g"),
          "text").count()
      }
    }

    // ---- campaign pin cost: a pin records each member's file set —
    // metadata only, so bytes grow k× but file counts stay write-
    // parallelism-bound and the pin must stay ~flat 1×→n×. Restore is the
    // one snapshot op that MOVES data (executor-parallel copies of the
    // pinned files): it should track bytes, far under a rebuild.
    if (sel("campaign")) for (k <- Seq(1, n)) {
      val docs = copies(k).localCheckpoint()
      val Seq(text, mani, lm) = Seq("text", "mani", "lm")
        .map(f => fresh(s"target/graft-scaleprobe-campaign-$f-$k"))
      Search.saveTextIndex(docs, text)
      Search.TextIndex.compact(spark, text)
      Dedup.saveMinhashManifest(docs, "text", "doc_id", mani)
      Dedup.MinhashManifest.compact(spark, mani)
      Corpus.saveLm(docs, "text", "doc_id", lm)
      val members = Seq(Campaign.Member(Search.TextIndex, text),
        Campaign.Member(Dedup.MinhashManifest, mani),
        Campaign.Member(Corpus.Lm, lm))
      timed(s"${k}x campaign-pin(3 families)") {
        Campaign.snapshot(spark, "probe_pin", members); "pinned"
      }
      timed(s"${k}x campaign-restore(3 families)") {
        Campaign.restore(spark, "probe_pin", members); "restored"
      }
      timed(s"${k}x campaign-drop+vacuum") {
        Campaign.drop(spark, "probe_pin", members)
        Campaign.vacuum(spark, members); "reclaimed"
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
      def liRep(k: Int, disjoint: Boolean): DataFrame =
        ScaleUp.copies(li, k)((d, i) => d.select(
          (col("l_orderkey") + lit(i * 100000000L)).as("l_orderkey"),
          (if (disjoint) col("l_partkey") + lit(i * 100000000L)
           else col("l_partkey")).as("l_partkey"),
          col("l_quantity"))).localCheckpoint()
      for ((tag, docsLi) <- Seq(
          "1x" -> liRep(1, disjoint = false),
          s"${n}x-dense" -> liRep(n, disjoint = false),
          s"${n}x-disjoint" -> liRep(n, disjoint = true))) {
        // q214/q215's analyst graph (quantity-filtered, quadratically
        // thinner) for the wedge-bound ops; the raw co-order graph for
        // pagerank/k-core exactly as q210/q216 run them
        val thin = Graph.coOccurrenceEdges(
          docsLi.where(col("l_quantity") >= 40), "l_orderkey", "l_partkey")
          .localCheckpoint()
        def full = Graph.coOccurrenceEdges(docsLi, "l_orderkey", "l_partkey")
        timed(s"$tag graph-edges-build+pagerank5") {
          Graph.pageRankInt(full, iters = 5).count()
        }
        timed(s"$tag graph-triangles") {
          Graph.triangleCounts(thin).count()
        }
        timed(s"$tag graph-kcore90") {
          Graph.kCorePeel(full, k = 90, rounds = 4).count()
        }
        val seeds = docsLi.select(col("l_partkey").as("id"))
          .where(pmod(col("id"), lit(100)) === 0).distinct()
        timed(s"$tag graph-bfs3") {
          Graph.seedDistances(thin, seeds, maxHops = 3).count()
        }
      }
    }

    // ---- the ledger's own small-files problem: one batch-<id> marker per
    // micro-batch, forever, vs one folded high-water marker. Times the
    // listing that sweepUncommitted and compactLedger pay per maintenance
    // op over a month of minute-batch markers, then after the fold.
    if (sel("ledger")) {
      import org.apache.hadoop.fs.Path
      val root = fresh("target/graft-scaleprobe-ledger")
      val ledger = new Path(root, "_ledger")
      val fs = ledger.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val nMarkers = 43200
      timed(s"ledger-write-$nMarkers-markers") {
        (0 until nMarkers).foreach(i =>
          fs.create(new Path(ledger, s"batch-$i"), false).close())
      }
      timed(s"ledger-list-$nMarkers-markers") { fs.listStatus(ledger).length }
      timed("ledger-fold(compact)") { graft.ops.Family("ledger",
        (_, _) => Nil, (_, _, _) => ()).compact(spark, root) }
      timed("ledger-list-folded") { fs.listStatus(ledger).length }
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
      for (salted <- Seq(false, true))
        timed(s"skew join ${if (salted) "salted-8" else "plain"}", reps = 3) {
          val j = if (salted)
            graft.ops.Joins.saltedJoin(skewProbe, buildSide, "k", "bk",
              salts = 8, probeSalt = xxhash64(col("pv")))
          else skewProbe.join(buildSide, col("k") === col("bk"))
          j.agg(sum(col("pv") + col("bv"))).head()
        }
    }

    // ---- sf3-equivalent MEMORY HEADROOM: this probe pushes the top-RSS
    // composites (set-sim index build, winnow spans, campaign-scale text
    // index) at 3× the sf1 document volume (SPARK_GRAFT_SF1_DIR, derived
    // by ScaleGate) to find the first memory wall — the next missing
    // scale fact. Replication follows the ScaleUp documents rule (per-
    // copy variable hash-tag namespace on top of the sf1 copies), so
    // duplication RATE stays constant and the probes measure genuinely
    // larger corpora; an OOM or spill explosion names the first operator
    // to hit the wall.
    if (sel("sf3memory")) {
      val sf1 = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "/tmp/graft_sf1")
      val base1 = Tables.parquet(spark, s"$sf1/documents.parquet")
        .select("doc_id", "text")
      val docs3 = ScaleUp.copies(base1, 3) { (d, j) =>
        val shifted =
          d.withColumn("doc_id", col("doc_id") + lit(j * 1000000000L))
        if (j == 0) shifted
        else shifted.withColumn("text",
          when(col("text").isNotNull,
            concat_ws(" ", transform(split(col("text"), " "), tok =>
              when(length(tok) > 0,
                concat(tok, lit(s"d$j"),
                  lower(hex(pmod(xxhash64(tok, lit(j + 100)), lit(4096L))))))
                .otherwise(tok)))))
      }.localCheckpoint()
      println(s"[scale] sf3memory corpus rows: ${docs3.count()}")
      val idx3 = fresh("target/graft-scaleprobe-sf3-setsim")
      timed("sf3 setsim-index-build") {
        Dedup.saveSetSimIndex(docs3, "text", "doc_id", idx3); "built"
      }
      timed("sf3 winnow-spans") {
        Dedup.winnowSpans(docs3, "text", "doc_id",
          n = 3, w = 4, maxDf = 20, maxGap = 8).count()
      }
      val text3 = fresh("target/graft-scaleprobe-sf3-text")
      timed("sf3 textindex-build+compact") {
        Search.saveTextIndex(docs3, text3)
        Search.TextIndex.compact(spark, text3); "built"
      }
    }
    spark.stop()
  }
}
