package graft.queries

import graft.ext.{Campaign, Corpus, Dedup, Search}
import graft.ops.Family
import graft.ops.Tables.{sfTag, t}
import org.apache.spark.sql.functions._

/** The cross-family campaign-snapshot query: ONE pin (one name, one
  * logical instant) across a text index, a dedup manifest, and an LM —
  * then maintenance on all three families, then all three served FROM
  * THE PIN. Each family's serve must equal its own pre-maintenance
  * full-corpus oracle (q102's BM25 replay, q84's exact-Jaccard replay,
  * q91's LM replay — verbatim, composed by UNION), so the campaign pin
  * is value-checked end to end on every member.
  */
object CampaignQueries {
  import ParityQueries.Q
  import org.apache.spark.sql.{DataFrame, SparkSession}

  /** The trio's shared BUILD phase — text index, minhash manifest, LM —
    * run CONCURRENTLY ([[graft.ops.Par]], guide §2.6): the three builds
    * touch disjoint persisted roots and share no side effects, so their
    * jobs overlap and each build's straggler tail back-fills with the
    * next family's tasks. Per-family work (and results) identical to the
    * old sequential form. */
  private def buildFamilies(s: SparkSession, docs: DataFrame,
                            split: DataFrame, text: String, mani: String,
                            lm: String): Unit =
    graft.ops.Par.run(
      () => {
        Search.saveTextIndex(docs, text)
        Search.TextIndex.compact(s, text)
      },
      () => {
        Dedup.saveMinhashManifest(
          docs.where(pmod(col("doc_id"), lit(10)) < 5), "text", "doc_id",
          mani, k = 32, bands = 16)
        Dedup.MinhashManifest.compact(s, mani)
      },
      () => Corpus.saveLm(split.where(col("split") === "train"), "text",
        "doc_id", lm))

  /** The trio's shared MAINTENANCE phase after the pin — a delete+compact
    * on the index, a content-forget+compact on the manifest, a val-split
    * ingest+compact on the LM — same disjoint-roots concurrency argument
    * as [[buildFamilies]]. */
  private def maintainFamilies(s: SparkSession, docs: DataFrame,
                               split: DataFrame, text: String, mani: String,
                               lm: String): Unit =
    graft.ops.Par.run(
      () => {
        Search.deleteFromTextIndex(s, text,
          docs.where(pmod(col("doc_id"), lit(10)) === 3).select("doc_id"))
        Search.TextIndex.compact(s, text)
      },
      () => {
        Dedup.deleteContentFromMinhashManifest(
          docs.where(pmod(col("doc_id"), lit(10)) === 1), "text", mani)
        Dedup.MinhashManifest.compact(s, mani)
      },
      () => {
        Corpus.appendToLm(split.where(col("split") === "val"), lm,
          "text", "doc_id", opId = "grow_val")
        Corpus.Lm.compact(s, lm)
      })

  val queries: Map[String, Q] = Map(
    "q133_campaign_snapshot" -> ((s, d) => {
      val sf = sfTag(d)
      val docs = t(s, d, "documents")
      val text = s"target/graft-campaign-text-$sf"
      val mani = s"target/graft-campaign-manifest-$sf"
      val lm = s"target/graft-campaign-lm-$sf"
      // the release's three family states, built from one corpus:
      // the full-corpus text index (compacted → versioned), the q84
      // manifest half, and the q91 train-split LM (born versioned) —
      // concurrently, the roots are disjoint (buildFamilies)
      val split = Corpus.splitAssign(docs, "text")
      buildFamilies(s, docs, split, text, mani, lm)
      // ONE pin, one instant, all three families — every member root
      // lease held (sorted order) while the per-family pins land
      val members = Seq(Campaign.Member(Search.TextIndex, text),
        Campaign.Member(Dedup.MinhashManifest, mani),
        Campaign.Member(Corpus.Lm, lm))
      Campaign.snapshot(s, "release_pin", members)
      // maintenance lands on ALL THREE after the pin — each family's
      // live state diverges from the pin in its own way
      maintainFamilies(s, docs, split, text, mani, lm)
      // serve all three FROM THE PIN, harmonized into one report:
      // (family, doc_id, v1, v2, v3) — per family, v* carry its own
      // metrics (bm25: score/rank/dl; neardup: jaccard/verdict/—;
      // lm: bits_x100/n_bigrams/total_bits), each replayed exactly by
      // the UNION oracle below
      val bm = Search.bm25TopKIndexed(s, text, SearchQueries.bmTerms,
          k = 20, k1 = SearchQueries.k1, b = SearchQueries.b,
          at = Family.Pinned("release_pin"))
        .select(lit("bm25").as("family"), col("doc_id"),
          col("score").as("v1"), col("rank").cast("double").as("v2"),
          col("dl").cast("double").as("v3"))
      val nd = Dedup.incrementalNearDups(
          docs.where(pmod(col("doc_id"), lit(10)) >= 5), mani,
          "text", "doc_id", threshold = 0.9,
          at = Family.Pinned("release_pin"))
        .select(lit("neardup").as("family"), col("doc_id"),
          col("near_jaccard").as("v1"),
          col("is_near_dup").cast("double").as("v2"),
          lit(null).cast("double").as("v3"))
      val lmScores = Corpus.lmPerplexityIndexed(
          split.where(col("split") === "test" && col("text").isNotNull),
          lm, "text", "doc_id", at = Family.Pinned("release_pin"))
        .select(lit("lm").as("family"), col("doc_id"),
          col("bits_x100").cast("double").as("v1"),
          col("n_bigrams").cast("double").as("v2"),
          col("total_bits").cast("double").as("v3"))
      bm.unionByName(nd).unionByName(lmScores).orderBy("family", "doc_id")
    }),

    "q199_campaign_spot" -> ((s, d) => {
      // q133's three-family pin/maintain/serve with the NEAR-DUP SERVE
      // probe fixed to the 200-doc slice (the q134 sliced-probe trick):
      // the exact-Jaccard member oracle is quadratic in probe × manifest
      // and kept q133/q144 sf0.01-gated — slicing the PROBE makes the
      // whole three-family union oracle linear in the corpus, so the
      // campaign machinery (sorted-lease pin, triple maintenance,
      // pinned serves) finally gets its 10× size-step check. The engine
      // still builds, pins, and maintains the FULL-size states.
      val sf = sfTag(d)
      val docs = t(s, d, "documents")
      val text = s"target/graft-campaign-spot-text-$sf"
      val mani = s"target/graft-campaign-spot-manifest-$sf"
      val lm = s"target/graft-campaign-spot-lm-$sf"
      val split = Corpus.splitAssign(docs, "text")
      buildFamilies(s, docs, split, text, mani, lm)
      val members = Seq(Campaign.Member(Search.TextIndex, text),
        Campaign.Member(Dedup.MinhashManifest, mani),
        Campaign.Member(Corpus.Lm, lm))
      Campaign.snapshot(s, "release_pin", members)
      maintainFamilies(s, docs, split, text, mani, lm)
      val bm = Search.bm25TopKIndexed(s, text, SearchQueries.bmTerms,
          k = 20, k1 = SearchQueries.k1, b = SearchQueries.b,
          at = Family.Pinned("release_pin"))
        .select(lit("bm25").as("family"), col("doc_id"),
          col("score").as("v1"), col("rank").cast("double").as("v2"),
          col("dl").cast("double").as("v3"))
      val nd = Dedup.incrementalNearDups(
          docs.where(pmod(col("doc_id"), lit(10)) >= 5 &&
            col("doc_id") < 400), mani,
          "text", "doc_id", threshold = 0.9,
          at = Family.Pinned("release_pin"))
        .select(lit("neardup").as("family"), col("doc_id"),
          col("near_jaccard").as("v1"),
          col("is_near_dup").cast("double").as("v2"),
          lit(null).cast("double").as("v3"))
      val lmScores = Corpus.lmPerplexityIndexed(
          split.where(col("split") === "test" && col("text").isNotNull),
          lm, "text", "doc_id", at = Family.Pinned("release_pin"))
        .select(lit("lm").as("family"), col("doc_id"),
          col("bits_x100").cast("double").as("v1"),
          col("n_bigrams").cast("double").as("v2"),
          col("total_bits").cast("double").as("v3"))
      bm.unionByName(nd).unionByName(lmScores).orderBy("family", "doc_id")
    }),

    "q144_campaign_rollback" -> ((s, d) => {
      // q133's workflow taken one step further: pin, run the SAME
      // destructive campaign on all three families (every tombstone
      // compacted away — nothing pending masks), then decide the
      // campaign was wrong and ROLL ALL THREE BACK with one
      // Campaign.restore. The serves below are the ordinary LIVE
      // paths — production reads, not snapshot reads — and must equal
      // the same pre-maintenance union oracle: the restored file sets
      // byte-match the pin, so every score is bit-stable.
      val sf = sfTag(d)
      val docs = t(s, d, "documents")
      val text = s"target/graft-campaign-rb-text-$sf"
      val mani = s"target/graft-campaign-rb-manifest-$sf"
      val lm = s"target/graft-campaign-rb-lm-$sf"
      val split = Corpus.splitAssign(docs, "text")
      buildFamilies(s, docs, split, text, mani, lm)
      val members = Seq(Campaign.Member(Search.TextIndex, text),
        Campaign.Member(Dedup.MinhashManifest, mani),
        Campaign.Member(Corpus.Lm, lm))
      Campaign.snapshot(s, "release_pin", members)
      maintainFamilies(s, docs, split, text, mani, lm)
      Campaign.restore(s, "release_pin", members)
      val bm = Search.bm25TopKIndexed(s, text,
          SearchQueries.bmTerms, k = 20,
          k1 = SearchQueries.k1, b = SearchQueries.b)
        .select(lit("bm25").as("family"), col("doc_id"),
          col("score").as("v1"), col("rank").cast("double").as("v2"),
          col("dl").cast("double").as("v3"))
      val nd = Dedup.incrementalNearDups(
          docs.where(pmod(col("doc_id"), lit(10)) >= 5), mani,
          "text", "doc_id", threshold = 0.9)
        .select(lit("neardup").as("family"), col("doc_id"),
          col("near_jaccard").as("v1"),
          col("is_near_dup").cast("double").as("v2"),
          lit(null).cast("double").as("v3"))
      val lmScores = Corpus.lmPerplexityIndexed(
          split.where(col("split") === "test" && col("text").isNotNull),
          lm, "text", "doc_id")
        .select(lit("lm").as("family"), col("doc_id"),
          col("bits_x100").cast("double").as("v1"),
          col("n_bigrams").cast("double").as("v2"),
          col("total_bits").cast("double").as("v3"))
      bm.unionByName(nd).unionByName(lmScores).orderBy("family", "doc_id")
    })
  )

  /** The three families' existing full-corpus replays (q102 / q84 /
    * q91), composed with the same per-family projections the queries
    * apply. Shared by q133 (maintenance must be invisible through the
    * pin) and q144 (a restore must make the LIVE state equal the pin).
    */
  private def unionReplayOver(neardupReplay: String): String =
    s"""SELECT * FROM (
            SELECT 'bm25' AS family, doc_id, score AS v1,
                   CAST(rank AS DOUBLE) AS v2, CAST(dl AS DOUBLE) AS v3
            FROM (${SearchQueries.bm25SqlOver("SELECT * FROM documents")})
            UNION ALL
            SELECT 'neardup' AS family, doc_id, near_jaccard AS v1,
                   CAST(CAST(is_near_dup AS INT) AS DOUBLE) AS v2,
                   CAST(NULL AS DOUBLE) AS v3
            FROM ($neardupReplay)
            UNION ALL
            SELECT 'lm' AS family, doc_id,
                   CAST(bits_x100 AS DOUBLE) AS v1,
                   CAST(n_bigrams AS DOUBLE) AS v2,
                   CAST(total_bits AS DOUBLE) AS v3
            FROM (${CorpusQueries.lmIndexedReplay})
          ) ORDER BY family, doc_id"""

  private val unionReplay: String =
    unionReplayOver(DedupQueries.incrementalMinhashReplay)

  val oracles: Map[String, String] = Map(
    "q133_campaign_snapshot" -> unionReplay,
    "q144_campaign_rollback" -> unionReplay,
    // q199: the same union with the q134 sliced-probe near-dup member —
    // linear in the corpus, so the THREE-family campaign replays at sf0.1
    "q199_campaign_spot" -> unionReplayOver(
      DedupQueries.incrementalMinhashReplayOver("doc_id < 400"))
  )
}
