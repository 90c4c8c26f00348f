package graft.queries

import graft.ext.{Campaign, Corpus, Dedup, Search, Similarity}
import graft.ops.Family
import graft.ops.Tables.{sfTag, t}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** AMORTIZED-SERVING benchmark registry. The lifecycle queries
  * (q102-q132) deliberately pay an honest per-run index build +
  * maintenance + serve, which is the right correctness contract but the
  * wrong performance lens for production: a deployed index is built
  * once and served thousands of times, so a serve-path regression
  * (slower probe join, lost partition pruning) hides inside a total
  * dominated by the build. This registry separates the two: [[fixtures]]
  * builds each family's persisted state ONCE (untimed), [[serves]] are
  * the pure serve/probe/diff stages timed against those prebuilt states.
  * [[graft.Bench]] runs them after the lifecycle loop and reports
  * `serve_total`/`serve_queries` ALONGSIDE (never replacing) the
  * honest-lifecycle totals.
  *
  * Serve entries mirror the lifecycle queries' shapes (same terms, k,
  * probe batches) so a serve number here is the amortized cost of the
  * corresponding lifecycle query's final stage.
  */
object ServeBench {

  private def textPath(d: String) = s"target/graft-servebench-text-${sfTag(d)}"
  private def maniPath(d: String) = s"target/graft-servebench-mani-${sfTag(d)}"
  private def ivfPath(d: String) = s"target/graft-servebench-ivf-${sfTag(d)}"
  private def lmPath(d: String) = s"target/graft-servebench-lm-${sfTag(d)}"
  private def pqPath(d: String) = s"target/graft-servebench-pq-${sfTag(d)}"
  private def winnowPath(d: String) =
    s"target/graft-servebench-winnow-${sfTag(d)}"
  private def binaryPath(d: String) =
    s"target/graft-servebench-binary-${sfTag(d)}"
  private def setsimPath(d: String) =
    s"target/graft-servebench-setsim-${sfTag(d)}"

  private def deq(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
      Similarity.dequantize(
        Similarity.quantize(col("embedding"), 200.0), 200.0).as("embedding"))

  /** One builder per family: save → compact/version → pin "bench_pin" →
    * one maintenance op, so every serve path (live, snapshot, previous,
    * diff) has a state to read. Untimed by [[graft.Bench]]. */
  val fixtures: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "text" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val p = textPath(d)
      Search.saveTextIndex(docs, p)
      // positions ride the same maintenance history below (compaction
      // re-sorts them, the delete anti-joins them), so the phrase serve
      // (s14) reads a maintained component, not a fresh build
      Search.savePositionalIndex(docs, p)
      Search.TextIndex.compact(s, p)
      Search.TextIndex.snapshot(s, p, "bench_pin")
      Search.deleteFromTextIndex(s, p,
        docs.where(pmod(col("doc_id"), lit(10)) === 3).select("doc_id"))
    }),
    "manifest" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val p = maniPath(d)
      Dedup.saveMinhashManifest(
        docs.where(pmod(col("doc_id"), lit(10)) < 5), "text", "doc_id",
        p, k = 32, bands = 16) // q84's parameters, so serve == its tail
      Dedup.MinhashManifest.compact(s, p)
      Dedup.MinhashManifest.snapshot(s, p, "bench_pin")
      Dedup.deleteContentFromMinhashManifest(
        docs.where(pmod(col("doc_id"), lit(10)) === 1), "text", p)
    }),
    "ivf" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val p = ivfPath(d)
      Similarity.saveIvfIndex(emb, p, nCentroids = 16, dim = 64,
        quantScale = 200.0,
        centroidsIn = Similarity.sampleCentroids(deq(emb), 16))
      Similarity.IvfIndex.snapshot(s, p, "bench_pin")
      Similarity.deleteFromIvfIndex(s, p,
        emb.where(pmod(col("vec_id"), lit(10)) === 7).select("vec_id"))
    }),
    "lm" -> ((s, d) => {
      val split = Corpus.splitAssign(t(s, d, "documents"), "text")
      val p = lmPath(d)
      Corpus.saveLm(split.where(col("split") === "train"), "text",
        "doc_id", p)
      Corpus.Lm.snapshot(s, p, "bench_pin")
      Corpus.appendToLm(split.where(col("split") === "val"), p,
        "text", "doc_id", opId = "bench_grow")
    }),
    "pq" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.savePqIndex(emb, pqPath(d), m = 8, nCent = 16, dim = 64)
    }),
    "binary" -> ((s, d) =>
      Similarity.saveBinaryIndex(t(s, d, "embeddings"), binaryPath(d),
        dim = 64)),
    "setsim" -> ((s, d) =>
      Dedup.saveSetSimIndex(
        t(s, d, "documents").where(pmod(col("doc_id"), lit(2)) === 0),
        "text", "doc_id", setsimPath(d))),
    "winnow" -> ((s, d) =>
      Dedup.saveWinnowManifest(
        t(s, d, "documents").where(pmod(col("doc_id"), lit(2)) === 0),
        "text", "doc_id", winnowPath(d))),
    // campaign fixture — its OWN paths, never the shared family
    // fixtures above: Campaign.restore publishes a fresh version of
    // every member, which would shift each shared component's PREVIOUS
    // version to the post-maintenance state and silently turn the
    // s05/s08 maintenance-diff serves into no-op comparisons of two
    // identical states. Workflow = q144's: build the three states, one
    // cross-family pin, destructive maintenance on all three, restore
    // the pin — s19 reads the pin, s20 the post-restore live state.
    "campaign" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Search.saveTextIndex(docs, cTextPath(d))
      Search.TextIndex.compact(s, cTextPath(d))
      Dedup.saveMinhashManifest(
        docs.where(pmod(col("doc_id"), lit(10)) < 5), "text", "doc_id",
        cManiPath(d), k = 32, bands = 16)
      Dedup.MinhashManifest.compact(s, cManiPath(d))
      val split = Corpus.splitAssign(docs, "text")
      Corpus.saveLm(split.where(col("split") === "train"), "text",
        "doc_id", cLmPath(d))
      val members = Seq(
        Campaign.Member(Search.TextIndex, cTextPath(d)),
        Campaign.Member(Dedup.MinhashManifest, cManiPath(d)),
        Campaign.Member(Corpus.Lm, cLmPath(d)))
      Campaign.snapshot(s, "bench_campaign", members)
      Search.deleteFromTextIndex(s, cTextPath(d),
        docs.where(pmod(col("doc_id"), lit(10)) === 3).select("doc_id"))
      Dedup.deleteContentFromMinhashManifest(
        docs.where(pmod(col("doc_id"), lit(10)) === 1), "text",
        cManiPath(d))
      Corpus.appendToLm(split.where(col("split") === "val"), cLmPath(d),
        "text", "doc_id", opId = "bench_campaign_grow")
      Campaign.restore(s, "bench_campaign", members)
    })
  )

  private def cTextPath(d: String) =
    s"target/graft-servebench-ctext-${sfTag(d)}"
  private def cManiPath(d: String) =
    s"target/graft-servebench-cmani-${sfTag(d)}"
  private def cLmPath(d: String) =
    s"target/graft-servebench-clm-${sfTag(d)}"

  /** The q133/q144 serve tails: all three campaign members read from one
    * pin (s19) or from the post-restore LIVE state (s20), harmonized
    * into the (family, doc_id, v1, v2, v3) report. */
  private def campaignUnion(s: SparkSession, d: String,
                            pin: Option[String]): DataFrame = {
    val docs = t(s, d, "documents")
    val split = Corpus.splitAssign(docs, "text")
    val probe = docs.where(pmod(col("doc_id"), lit(10)) >= 5)
    val test = split.where(col("split") === "test" && col("text").isNotNull)
    val at = pin.fold[Family.At](Family.Live)(Family.Pinned)
    val bm = Search.bm25TopKIndexed(s, cTextPath(d), SearchQueries.bmTerms,
        k = 20, k1 = SearchQueries.k1, b = SearchQueries.b, at = at)
      .select(lit("bm25").as("family"), col("doc_id"),
        col("score").as("v1"), col("rank").cast("double").as("v2"),
        col("dl").cast("double").as("v3"))
    val nd = Dedup.incrementalNearDups(probe, cManiPath(d), "text",
        "doc_id", threshold = 0.9, at = at)
      .select(lit("neardup").as("family"), col("doc_id"),
        col("near_jaccard").as("v1"),
        col("is_near_dup").cast("double").as("v2"),
        lit(null).cast("double").as("v3"))
    val lm = Corpus.lmPerplexityIndexed(test, cLmPath(d), "text", "doc_id",
        at = at)
      .select(lit("lm").as("family"), col("doc_id"),
        col("bits_x100").cast("double").as("v1"),
        col("n_bigrams").cast("double").as("v2"),
        col("total_bits").cast("double").as("v3"))
    bm.unionByName(nd).unionByName(lm)
  }

  /** The timed serve/probe/diff stages — each the final stage of a
    * lifecycle query, against the prebuilt fixture. */
  val serves: Map[String, (SparkSession, String) => DataFrame] = Map(
    // text family: live serve (q102/q105 tail), AND-search (q103),
    // pinned serve (q127), snapshot AND-search (q132), diff (q128)
    "s01_bm25_indexed" -> ((s, d) =>
      Search.bm25TopKIndexed(s, textPath(d), SearchQueries.bmTerms, k = 20,
        k1 = SearchQueries.k1, b = SearchQueries.b)),
    "s02_conjunctive" -> ((s, d) =>
      Search.conjunctiveSearch(s, textPath(d), SearchQueries.bmTerms)),
    "s03_bm25_snapshot" -> ((s, d) =>
      Search.bm25TopKIndexed(s, textPath(d), SearchQueries.bmTerms, k = 20,
        k1 = SearchQueries.k1, b = SearchQueries.b,
        at = Family.Pinned("bench_pin"))),
    "s04_conjunctive_snapshot" -> ((s, d) =>
      Search.conjunctiveSearch(s, textPath(d), SearchQueries.bmTerms,
        at = Family.Pinned("bench_pin"))),
    "s05_bm25_diff" -> ((s, d) =>
      Search.bm25MaintenanceDiff(s, textPath(d), SearchQueries.bmTerms,
        k = 20, k1 = SearchQueries.k1, b = SearchQueries.b)),
    // manifest family: live probe (q84 tail), pinned probe, diff (q130
    // tail)
    "s06_neardup_probe" -> ((s, d) =>
      Dedup.incrementalNearDups(
        t(s, d, "documents").where(pmod(col("doc_id"), lit(10)) >= 5),
        maniPath(d), "text", "doc_id", threshold = 0.9)),
    "s07_neardup_snapshot" -> ((s, d) =>
      Dedup.incrementalNearDups(
        t(s, d, "documents").where(pmod(col("doc_id"), lit(10)) >= 5),
        maniPath(d), "text", "doc_id", threshold = 0.9,
        at = Family.Pinned("bench_pin"))),
    "s08_neardup_diff" -> ((s, d) =>
      Dedup.incrementalNearDupsDiff(
        t(s, d, "documents").where(pmod(col("doc_id"), lit(10)) >= 5),
        maniPath(d), "text", "doc_id", threshold = 0.9)),
    // IVF family: live top-k (q82 tail), pinned top-k (q114's serve
    // shape), diff (q129 tail)
    "s09_ivf_topk" -> ((s, d) =>
      Similarity.topKIvfIndexed(s,
        deq(t(s, d, "embeddings")).where(col("vec_id") < 10),
        ivfPath(d), k = 10)),
    "s10_ivf_snapshot" -> ((s, d) =>
      Similarity.topKIvfIndexed(s,
        deq(t(s, d, "embeddings")).where(col("vec_id") < 10),
        ivfPath(d), k = 10, at = Family.Pinned("bench_pin"))),
    "s11_ivf_diff" -> ((s, d) =>
      Similarity.ivfMaintenanceDiff(s,
        deq(t(s, d, "embeddings")).where(col("vec_id") < 10),
        ivfPath(d), k = 10)),
    // LM family: live scoring (q91 tail), frozen-pin scoring (q131 tail)
    "s12_lm_score" -> ((s, d) =>
      Corpus.lmPerplexityIndexed(
        Corpus.splitAssign(t(s, d, "documents"), "text")
          .where(col("split") === "test" && col("text").isNotNull),
        lmPath(d), "text", "doc_id")),
    "s13_lm_snapshot" -> ((s, d) =>
      Corpus.lmPerplexityIndexed(
        Corpus.splitAssign(t(s, d, "documents"), "text")
          .where(col("split") === "test" && col("text").isNotNull),
        lmPath(d), "text", "doc_id", at = Family.Pinned("bench_pin"))),
    // phrase serve over the maintained positional component (q151/q155
    // tail): slot-filtered pruned scans + the shifted intersection
    "s14_phrase_search" -> ((s, d) =>
      Search.phraseSearchIndexed(s, textPath(d),
        Seq("part", "filter", "scan"), k = 20)),
    // persisted-PQ ADC serve (q161 tail): the 8-byte code scan with the
    // exact query side — the compact-candidate production serve
    "s15_pq_topk" -> ((s, d) =>
      Similarity.pqTopKIndexed(s,
        t(s, d, "embeddings").where(col("vec_id") < 10), pqPath(d),
        k = 10)),
    // proximity serve over the maintained positional component (q178
    // tail): two pruned term scans + the windowed pair-count HOF
    "s16_proximity" -> ((s, d) =>
      Search.proximitySearchIndexed(s, textPath(d), "spark", "join",
        maxDist = 5, k = 20)),
    // winnow-manifest overlap probe (q180 tail): batch-sized probe of
    // the persisted fingerprint corpus
    "s17_winnow_probe" -> ((s, d) =>
      Dedup.probeWinnowOverlap(
        t(s, d, "documents").where(pmod(col("doc_id"), lit(2)) === 1),
        winnowPath(d))),
    // diversified serve from the persisted IVF index (q188 tail): the
    // pruned over-fetch probe plus the per-query greedy MMR fold
    "s18_mmr_indexed" -> ((s, d) =>
      Similarity.mmrTopKIndexed(s,
        deq(t(s, d, "embeddings")).where(col("vec_id") < 10),
        ivfPath(d), k = 10, fetch = 40)),
    // campaign family: all three members from one pin (q133 tail) and
    // the post-restore live serve (q144 tail) — the serve-path
    // regression signal for the heaviest lifecycle composites
    // persisted-binary Hamming+rerank serve (q204 tail): the packed-
    // words scan for candidates, exact cosine over the 16k pool
    "s21_binary_topk" -> ((s, d) =>
      Similarity.binaryTopKIndexed(s,
        t(s, d, "embeddings").where(col("vec_id") < 10),
        t(s, d, "embeddings"), binaryPath(d), k = 10)),
    "s22_setsim_probe" -> ((s, d) =>
      // q217/q218's serve tail: the exact near-dup gate probing a
      // 100-doc batch against the prebuilt evens index
      Dedup.probeSetSimOverlap(
        t(s, d, "documents")
          .where(pmod(col("doc_id"), lit(2)) === 1 &&
            col("doc_id") < 200), setsimPath(d), threshold = 0.7)),
    "s19_campaign_snapshot" -> ((s, d) =>
      campaignUnion(s, d, Some("bench_campaign"))),
    "s20_campaign_restore_serve" -> ((s, d) =>
      campaignUnion(s, d, None))
  )
}
