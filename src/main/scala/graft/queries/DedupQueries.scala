package graft.queries

import graft.ext.Dedup
import graft.ops.Family
import graft.ops.Tables.{sfTag, t}
import org.apache.spark.sql.functions._

/** Dedup operator queries.
  *
  * Oracle strategy: exact/n-gram ops are pure set arithmetic → direct SQL.
  * The MinHash LSH ops verify candidates with EXACT Jaccard and their
  * banding recall at the query threshold is ≈1 − 3·10⁻¹² per pair (k=32,
  * r=2, b=16; measured 0 misses out of 964 854 true pairs at sf0.1), so
  * the emitted set equals "all pairs with Jaccard ≥ t" and the oracle is
  * the exact self-join — an approximate ALGORITHM carrying an exact
  * CONTRACT. SimHash stays rows-only: its signature is a vote over
  * xxhash64 bits, which exists in no external engine; DedupSpec pins it
  * with planted duplicates and hand-verified Hamming distances.
  */
object DedupQueries {
  import ParityQueries.Q

  val queries: Map[String, Q] = Map(
    "q30_dedup_exact" -> ((s, d) =>
      Dedup.exact(t(s, d, "documents"), "text", "doc_id")
        .select(col("keeper_id"), col("n_copies"))
        .orderBy("keeper_id")),

    "q78_dedup_normalized" -> ((s, d) =>
      // near-exact dedup: one keeper per distinct NORMALIZED content
      // (lowercase, whitespace-collapsed, trimmed) — the re-crawl-variant
      // pre-pass exact hashing misses
      Dedup.exactNormalized(t(s, d, "documents"), "text", "doc_id")
        .select(col("keeper_id"), col("n_copies"))
        .orderBy("keeper_id")),

    "q31_dedup_minhash_lsh" -> ((s, d) =>
      Dedup.minhashPairs(t(s, d, "documents"), "text", "doc_id",
        threshold = 0.9, bands = 16)
        .orderBy("doc_a", "doc_b")),

    "q88_dup_source_matrix" -> ((s, d) => {
      // dedup-policy planning input: the near-dup pair relation rolled up
      // to an unordered (source, source) matrix — which sources duplicate
      // each other, and how much of it is exact. Counts only (integer,
      // hash-stable); a double average of Jaccards would be summation-
      // order-dependent across engines.
      val docs = t(s, d, "documents")
      val pairs = Dedup.minhashPairs(docs, "text", "doc_id",
        threshold = 0.9, bands = 16)
      val src = docs.select(col("doc_id"), col("source"))
      pairs
        .join(src.select(col("doc_id").as("doc_a"),
          col("source").as("source_a")), Seq("doc_a"))
        .join(src.select(col("doc_id").as("doc_b"),
          col("source").as("source_b")), Seq("doc_b"))
        .groupBy(least(col("source_a"), col("source_b")).as("src_lo"),
          greatest(col("source_a"), col("source_b")).as("src_hi"))
        .agg(count(lit(1)).as("n_pairs"),
          count(when(col("jaccard") === 1.0, lit(1))).as("n_exact"))
        .orderBy("src_lo", "src_hi")
    }),

    "q125_manifest_time_travel" -> ((s, d) => {
      // TIME-TRAVEL validation probe on the dedup manifest (q119/q121's
      // read for this family): build q84's manifest (v1), compact (v2),
      // FORGET a seventh of its content (v3), then probe the PREVIOUS snapshot — verdicts must equal probing
      // the undeleted manifest, q84's oracle verbatim. This is how a
      // forget operation's verdict changes are diffed before trusting it.
      val docs = t(s, d, "documents")
      val path =
        s"target/graft-manifest-asof-${sfTag(d)}"
      val manifest = docs.where(pmod(col("doc_id"), lit(10)) < 5)
      Dedup.saveMinhashManifest(manifest, "text", "doc_id", path,
        k = 32, bands = 16)
      Dedup.MinhashManifest.compact(s, path)
      Dedup.deleteContentFromMinhashManifest(
        manifest.where(pmod(col("doc_id"), lit(7)) === 2), "text", path)
      Dedup.incrementalNearDups(
        docs.where(pmod(col("doc_id"), lit(10)) >= 5), path,
        "text", "doc_id", threshold = 0.9, at = Family.Previous)
        .orderBy("doc_id")
    }),

    "q130_manifest_maintenance_diff" -> ((s, d) => {
      // q128's validation-diff applied to the dedup manifest: build
      // q84's manifest, FORGET a seventh of its content (the forget is
      // the manifest's FIRST maintenance op — the build is born
      // versioned, so its version is the previous snapshot and no
      // warm-up compact is needed), then diff the probe verdicts: exactly the documents
      // whose best match was forgotten flip, with both Jaccards as
      // evidence. The oracle replays both manifest states.
      val docs = t(s, d, "documents")
      val path = s"target/graft-manifest-diff-${sfTag(d)}"
      val manifest = docs.where(pmod(col("doc_id"), lit(10)) < 5)
      Dedup.saveMinhashManifest(manifest, "text", "doc_id", path,
        k = 32, bands = 16)
      Dedup.deleteContentFromMinhashManifest(
        manifest.where(pmod(col("doc_id"), lit(7)) === 2), "text", path)
      Dedup.incrementalNearDupsDiff(
        docs.where(pmod(col("doc_id"), lit(10)) >= 5), path,
        "text", "doc_id", threshold = 0.9)
    }),

    "q134_manifest_diff_spot" -> ((s, d) => {
      // q130's maintenance diff with the probe batch restricted to a
      // FIXED 200-doc slice (doc_id < 400 on the probe half). Purpose:
      // the manifest family's exact-pair oracles are quadratic in
      // probe × manifest and sf0.01-gated (>100 CPU-min each at sf0.1,
      // measured — BASELINE.md), so the family had no size-step check.
      // Slicing the PROBE keeps the oracle linear in the corpus
      // (quadratic only in the 200-doc slice) while the engine still
      // builds, forgets from, and double-probes the FULL-size manifest —
      // exactly the state a 10× step could break (bucket boundaries,
      // banding fanout, tombstone-mask joins).
      val docs = t(s, d, "documents")
      val path = s"target/graft-manifest-spot-${sfTag(d)}"
      val manifest = docs.where(pmod(col("doc_id"), lit(10)) < 5)
      Dedup.saveMinhashManifest(manifest, "text", "doc_id", path,
        k = 32, bands = 16)
      Dedup.deleteContentFromMinhashManifest(
        manifest.where(pmod(col("doc_id"), lit(7)) === 2), "text", path)
      Dedup.incrementalNearDupsDiff(
        docs.where(pmod(col("doc_id"), lit(10)) >= 5 &&
          col("doc_id") < 400),
        path, "text", "doc_id", threshold = 0.9)
    }),

    "q108_manifest_content_delete" -> ((s, d) => {
      // right-to-be-forgotten on the dedup manifest — CONTENT-keyed (the
      // docs table stores exact-collapse representatives, so id-keyed
      // deletion could forget content other collapsed documents still
      // carry; see Dedup.deleteContentFromMinhashManifest). Build q84's
      // manifest, forget a seventh of its content, probe the same batch:
      // verdicts must equal probing a manifest that never held it.
      val docs = t(s, d, "documents")
      val path =
        s"target/graft-manifest-delete-${sfTag(d)}"
      val manifest = docs.where(pmod(col("doc_id"), lit(10)) < 5)
      Dedup.saveMinhashManifest(manifest, "text", "doc_id", path,
        k = 32, bands = 16)
      Dedup.deleteContentFromMinhashManifest(
        manifest.where(pmod(col("doc_id"), lit(7)) === 2), "text", path)
      Dedup.incrementalNearDups(
        docs.where(pmod(col("doc_id"), lit(10)) >= 5), path,
        "text", "doc_id", threshold = 0.9)
        .orderBy("doc_id")
    }),

    "q115_stream_manifest_ingest" -> ((s, d) => {
      // the dedup-manifest ingest loop CLOSED over streaming (q109's
      // shape for the LSH manifest): a manifest SHELL is built first —
      // meta only, empty docs/bands — then the manifest half of the
      // corpus streams in via foreachBatch with EXACTLY-ONCE appends
      // (appendToMinhashManifest(batchId = Some(id)): staged docs/bands
      // published under a batchId ledger; a replayed plain append would
      // bloat both tables — replay windows pinned in DedupSpec). Probing
      // the other half afterwards equals probing a batch-built manifest
      // — q84's oracle verbatim.
      val docs = t(s, d, "documents")
      val path = s"target/graft-stream-manifest-${sfTag(d)}"
      val conf = s.sparkContext.hadoopConfiguration
      Seq(path, s"$path.ckpt").foreach { dir =>
        val p = new org.apache.hadoop.fs.Path(dir)
        val fs = p.getFileSystem(conf)
        if (fs.exists(p)) fs.delete(p, true)
      }
      Dedup.saveMinhashManifest(docs.where(lit(false)), "text", "doc_id",
        path, k = 32, bands = 16)
      val stream = s.readStream
        .schema(graft.streaming.DocumentStreams.docSchema)
        .parquet(s"$d/documents.*")
        .where(pmod(col("doc_id"), lit(10)) < 5)
      // self-maintaining sink (auto-compaction bounds docs/bands-file
      // and ledger growth), then the per-batch files are compacted
      // before probing (full lifecycle: ingest → compact → probe),
      // putting compaction under this oracle
      Dedup.MinhashManifest.ingest(stream, path)((batch, batchId) =>
        Dedup.appendToMinhashManifest(batch, "text", "doc_id", path,
          batchId = Some(batchId)))
      Dedup.incrementalNearDups(
        docs.where(pmod(col("doc_id"), lit(10)) >= 5), path,
        "text", "doc_id", threshold = 0.9)
        .orderBy("doc_id")
    }),

    "q84_dedup_incremental_minhash" -> ((s, d) => {
      // incremental NEAR-dup ingest against a PERSISTED LSH manifest: the
      // corpus side's signatures/bands are built once on disk (amortized
      // over every later batch — the dedup analogue of q82's persisted
      // IVF index), the new batch probes them. Same k=32/r=2/b=16 recall
      // ≈ 1 as q31, so the verdict equals "∃ manifest doc with exact
      // Jaccard ≥ 0.9" and the oracle is the exact cross check.
      val docs = t(s, d, "documents")
      val path = s"target/graft-minhash-manifest-${sfTag(d)}"
      Dedup.saveMinhashManifest(
        docs.where(pmod(col("doc_id"), lit(10)) < 5), "text", "doc_id",
        path, k = 32, bands = 16)
      Dedup.incrementalNearDups(
        docs.where(pmod(col("doc_id"), lit(10)) >= 5), path,
        "text", "doc_id", threshold = 0.9)
        .orderBy("doc_id")
    }),

    "q32_dedup_simhash" -> ((s, d) =>
      // portable 64-bit token hash so the oracle can replay the vote →
      // signature → Hamming pipeline exactly; banding recall is 1 by the
      // pigeonhole theorem, so output = ALL pairs at Hamming ≤ 7. This
      // row pins the EXPLICIT 64-bit contract path (simhashPairs64) —
      // the family default simhashPairs routes to the 128-bit scale
      // variant q224 oracles.
      Dedup.simhashPairs64(t(s, d, "documents"), "text", "doc_id",
        maxHamming = 7, chunks = 8,
        hasher = graft.ext.TextAnalysis.portableTokenHash64 _)
        .orderBy("doc_a", "doc_b")),

    "q224_simhash_wide" -> ((s, d) =>
      // the 128-bit SimHash SCALE PATH (round-16 sf1 bench finding:
      // 64-bit/8-bit-band pigeonhole has an n²/32 random-collision
      // candidate floor — q32's wall grew 67× at the 10× step while its
      // output grew 10×). Same Hamming ≤ 7 recall-1 contract over the
      // doubled signature, 16-bit bands → ≈256× lower collision floor;
      // both words from the portable hash (second word salted), so the
      // oracle replays the whole thing
      Dedup.simhashPairs128(t(s, d, "documents"), "text", "doc_id",
        maxHamming = 7,
        hasher = graft.ext.TextAnalysis.portableTokenHash64 _)
        .orderBy("doc_a", "doc_b")),

    "q202_simhash_coverage" -> ((s, d) => {
      // the NULL-doc join-back contract, exercised: simhashSignatures
      // deliberately emits NO row for NULL-text documents (an all-zero
      // signature would pair every null doc with everything near
      // Hamming 0); joinBackToCorpus restores one row per corpus doc
      // with a NULL signature where none exists — the coverage report a
      // pipeline audits before trusting pair counts.
      val docs = t(s, d, "documents")
      Dedup.joinBackToCorpus(docs,
        Dedup.simhashSignatures(docs, "text", "doc_id",
          hasher = graft.ext.TextAnalysis.portableTokenHash64 _))
        .select(col("doc_id"), col("simhash"),
          col("simhash").isNotNull.as("has_signature"))
        .orderBy("doc_id")
    }),

    "q33_dedup_ngram_jaccard" -> ((s, d) =>
      Dedup.ngramJaccardPairs(t(s, d, "documents"), "text", "doc_id",
        bucketCol = "source", n = 2, threshold = 0.05)
        .orderBy("bucket", "doc_a", "doc_b")),

    "q34_dedup_cluster" -> ((s, d) =>
      Dedup.dedupClusters(t(s, d, "documents"), "text", "doc_id",
        bucketCol = "source", n = 2, threshold = 0.05)
        .orderBy("doc_id")),

    "q206_setsim_join" -> ((s, d) =>
      // prefix-filtered exact set-similarity join (AllPairs/PPJoin):
      // corpus-wide, deterministic recall 1, no blocking bucket and no
      // banding — the lossless prefix filter replaces both
      Dedup.setSimJoinPairs(t(s, d, "documents"), "text", "doc_id",
        threshold = 0.7, shingle = 3)
        .orderBy("doc_a", "doc_b")),

    "q221_setsim_join_spot" -> ((s, d) =>
      // q206 at the 10× size step: the ENGINE still runs the corpus-wide
      // prefix-filtered self-join (full-size df table, prefixes,
      // candidate buckets — exactly the state a size step could break);
      // only the OUTPUT is restricted to pairs touching a fixed doc_id
      // slice. Because the slice is an id PREFIX and output pairs have
      // doc_a < doc_b, "touching" reduces to doc_a < 400, and the DuckDB
      // replay becomes one slice × corpus join — linear in the corpus
      // (q134's spot trick, giving the set-sim family its sf0.1 oracle)
      Dedup.setSimJoinPairs(t(s, d, "documents"), "text", "doc_id",
        threshold = 0.7, shingle = 3)
        .where(col("doc_a") < 400)
        .orderBy("doc_a", "doc_b")),

    "q207_editdist_join" -> ((s, d) =>
      // q-gram count-filtered Levenshtein join over the distinct value
      // domain (record linkage on part names)
      Dedup.editDistanceJoin(t(s, d, "part"), "p_name", maxDist = 2, q = 2)
        .orderBy("name_a", "name_b")),

    "q217_setsim_index_probe" -> ((s, d) => {
      // the DETERMINISTIC-EXACT incremental near-dup gate: index half
      // the corpus (built in two halves — rebuild + plain append, the
      // append-stability contract), probe the other half; the oracle is
      // the exact batch-vs-corpus cross Jaccard, so a recall loss from
      // the one-sided prefix filter or an append-staled posting would
      // hash-mismatch
      val docs = t(s, d, "documents")
      val path = s"target/graft-setsim-index-${sfTag(d)}"
      Dedup.saveSetSimIndex(
        docs.where(pmod(col("doc_id"), lit(4)) === 0), "text", "doc_id",
        path)
      Dedup.appendToSetSimIndex(
        docs.where(pmod(col("doc_id"), lit(4)) === 2), "text", "doc_id",
        path)
      Dedup.probeSetSimOverlap(
        docs.where(pmod(col("doc_id"), lit(2)) === 1), path,
        threshold = 0.7)
        .orderBy("doc_batch", "doc_corpus")
    }),

    "q218_stream_setsim_ingest" -> ((s, d) => {
      // the exact-gate ingest loop CLOSED over streaming (q182's shape
      // for this family): empty born-versioned shell, the even half
      // streams in through the family's self-maintaining ingest
      // (EXACTLY-ONCE appends, auto-compaction, a final compaction),
      // probe the odd half — must equal probing the batch-built index
      // (q217's oracle verbatim; append-stability is what makes the
      // shell-fill path exact by construction)
      val docs = t(s, d, "documents")
      val path = s"target/graft-stream-setsim-${sfTag(d)}"
      val conf = s.sparkContext.hadoopConfiguration
      Seq(path, s"$path.ckpt").foreach { dir =>
        val p = new org.apache.hadoop.fs.Path(dir)
        val fs = p.getFileSystem(conf)
        if (fs.exists(p)) fs.delete(p, true)
      }
      Dedup.saveSetSimIndex(docs.where(lit(false)), "text", "doc_id", path)
      val stream = s.readStream
        .schema(graft.streaming.DocumentStreams.docSchema)
        .parquet(s"$d/documents.*")
        .where(pmod(col("doc_id"), lit(2)) === 0)
      Dedup.SetSimIndex.ingest(stream, path)((batch, batchId) =>
        Dedup.appendToSetSimIndex(batch, "text", "doc_id", path,
          batchId = Some(batchId)))
      Dedup.probeSetSimOverlap(
        docs.where(pmod(col("doc_id"), lit(2)) === 1), path,
        threshold = 0.7)
        .orderBy("doc_batch", "doc_corpus")
    }),

    "q225_setsim_probe_spot" -> ((s, d) => {
      // q217's lifecycle with an sf1-COMPUTABLE oracle (the q221 slice
      // trick applied to the PROBE side): the ENGINE still pays the full
      // composite — rebuild over a quarter of the corpus, plain append
      // of another quarter, probe — but the probe batch is a fixed
      // id-prefix slice of the odd half, so the DuckDB replay is ONE
      // slice × evens join, linear in the corpus, where q217's full
      // odd × even replay is quadratic (≈9 h at sf1, excluded by
      // measurement). This gives the heaviest lifecycle composite
      // direct scale-step evidence instead of "carried by q221".
      val docs = t(s, d, "documents")
      val path = s"target/graft-setsim-spot-${sfTag(d)}"
      Dedup.saveSetSimIndex(
        docs.where(pmod(col("doc_id"), lit(4)) === 0), "text", "doc_id",
        path)
      Dedup.appendToSetSimIndex(
        docs.where(pmod(col("doc_id"), lit(4)) === 2), "text", "doc_id",
        path)
      Dedup.probeSetSimOverlap(
        docs.where(pmod(col("doc_id"), lit(2)) === 1 &&
          col("doc_id") < 400), path,
        threshold = 0.7)
        .orderBy("doc_batch", "doc_corpus")
    }),

    "q226_stream_setsim_spot" -> ((s, d) => {
      // q218's streamed shell-fill with the same sliced probe: the FULL
      // even half still streams through the family's exactly-once
      // ingest (the heavy, scale-relevant half of the composite); only
      // the probe batch is the id-prefix slice, so the sf1 oracle is the
      // same linear slice × evens replay as q225 — the two heaviest
      // lifecycle composites get direct sf1-computable CORRECTNESS rows
      val docs = t(s, d, "documents")
      val path = s"target/graft-stream-setsim-spot-${sfTag(d)}"
      val conf = s.sparkContext.hadoopConfiguration
      Seq(path, s"$path.ckpt").foreach { dir =>
        val p = new org.apache.hadoop.fs.Path(dir)
        val fs = p.getFileSystem(conf)
        if (fs.exists(p)) fs.delete(p, true)
      }
      Dedup.saveSetSimIndex(docs.where(lit(false)), "text", "doc_id", path)
      val stream = s.readStream
        .schema(graft.streaming.DocumentStreams.docSchema)
        .parquet(s"$d/documents.*")
        .where(pmod(col("doc_id"), lit(2)) === 0)
      Dedup.SetSimIndex.ingest(stream, path)((batch, batchId) =>
        Dedup.appendToSetSimIndex(batch, "text", "doc_id", path,
          batchId = Some(batchId)))
      Dedup.probeSetSimOverlap(
        docs.where(pmod(col("doc_id"), lit(2)) === 1 &&
          col("doc_id") < 400), path,
        threshold = 0.7)
        .orderBy("doc_batch", "doc_corpus")
    }),

    "q212_fuzzy_canonicalize" -> ((s, d) => {
      // the record-linkage loop closed: edit-distance clusters over the
      // value domain, every ROW remapped to its cluster's canonical name
      val part = t(s, d, "part")
      val canon = Dedup.fuzzyCanonicalize(part, "p_name", maxDist = 2)
      part.join(canon, Seq("p_name"))
        .select(col("p_partkey"), col("p_name"),
          col("canonical").as("canonical_name"))
        .orderBy("p_partkey")
    }),

    "q38_dedup_embed_cosine" -> ((s, d) => {
      // embedding-cosine near-dup, LSH-bucketed (the q36 brute-force's scale
      // path). Vectors come from the SQL-portable feature-hash embedding so
      // the oracle can rebuild them; near-dup docs land >=0.98 in count-
      // vector space while unrelated same-language docs sit at 0.85-0.9.
      val vecs = t(s, d, "documents").select(col("doc_id").as("vec_id"),
        graft.ext.TextAnalysis.portableHashEmbedding(col("text"), 64).as("embedding"))
      graft.ext.Similarity.cosineDupPairsLsh(vecs, threshold = 0.98, dim = 64)
        .orderBy("id_a", "id_b")
    }),

    "q49_dedup_cluster_minhash" -> ((s, d) =>
      // corpus-wide near-dup clustering, the 100 TB path: MinHash candidate
      // edges (never a bucket cross product) -> large-star/small-star CC
      Dedup.minhashClusters(t(s, d, "documents"), "text", "doc_id",
        threshold = 0.9)
        .orderBy("doc_id")),

    "q111_dedup_keep_best" -> ((s, d) =>
      // q49's clustering with the production keeper policy: retain each
      // cluster's LONGEST document (ties to smallest id), not its
      // smallest id — the clean mirror over the boilerplate scrape
      Dedup.minhashClustersKeepBest(t(s, d, "documents"), "text", "doc_id",
        score = col("n_chars"), threshold = 0.9)
        .orderBy("doc_id")),

    "q66_dedup_chunk" -> ((s, d) =>
      // C4-style paragraph-granularity dedup: fixed 20-token chunks, first
      // corpus-wide occurrence wins, documents rebuilt from survivors
      Dedup.chunkDedup(t(s, d, "documents"), "text", "doc_id",
        chunkTokens = 20)
        .orderBy("doc_id")),

    "q110_boilerplate_strip" -> ((s, d) =>
      // CCNet-shaped boilerplate removal: a chunk appearing in >= 3
      // DISTINCT documents is dropped from every copy (q66 keeps the
      // first occurrence; a frequency threshold keeps none)
      Dedup.stripFrequentChunks(t(s, d, "documents"), "text", "doc_id",
        chunkTokens = 20, minDocs = 3)
        .orderBy("doc_id")),

    "q141_dedup_chunk_within" -> ((s, d) =>
      // C4's WITHIN-document repetition trim: each doc keeps its own
      // distinct chunks' first occurrences — a pure per-row HOF
      // expression, shuffle-free where q66's cross-corpus ownership
      // must exchange chunk hashes
      Dedup.chunkDedupWithinDoc(t(s, d, "documents"), "text", "doc_id",
        chunkTokens = 20)
        .orderBy("doc_id")),

    "q175_winnow_near_dup" -> ((s, d) =>
      // MOSS-style winnowing near-dup candidates: position-robust
      // partial-overlap detection via shared selected-fingerprint
      // counts, boilerplate-capped. The oracle replays every window
      // argmin (rightmost tie), the df cap, and both fp counts.
      Dedup.winnowNearDupPairs(t(s, d, "documents"), "text", "doc_id",
        n = 3, w = 4, minShared = 2, maxDf = 20)
        .orderBy("doc_a", "doc_b")),

    "q180_winnow_manifest_probe" -> ((s, d) => {
      // incremental partial-overlap detection at ingest: persist the
      // corpus's winnowing fingerprints ONCE (built on a quarter of the
      // docs, grown to the even half with a plain append — probe must
      // equal a fresh build over the union), then probe the odd half
      // batch-sized. Per probe doc: its strongest known-corpus overlap,
      // containment ppm, and the flag. The oracle replays both sides'
      // winnowing, the exclusion-style df cap, and the argmax.
      val sf = sfTag(d)
      val path = s"target/graft-winnow-manifest-$sf"
      val docs = t(s, d, "documents")
      Dedup.saveWinnowManifest(
        docs.where(pmod(col("doc_id"), lit(4)) === 0), "text", "doc_id", path)
      Dedup.appendToWinnowManifest(
        docs.where(pmod(col("doc_id"), lit(4)) === 2), "text", "doc_id", path)
      Dedup.probeWinnowOverlap(
        docs.where(pmod(col("doc_id"), lit(2)) === 1), path)
        .orderBy("doc_id")
    }),

    "q185_winnow_spans" -> ((s, d) =>
      // quotation-span reconstruction: q179's anchors collapsed into
      // contiguous shared passages — same diagonal (pos_a − pos_b),
      // gaps ≤ 8 gram positions — reported as word-index ranges on
      // both sides with anchor counts. The oracle replays the anchor
      // join, the diagonal sessionize, and every span boundary.
      Dedup.winnowSpans(t(s, d, "documents"), "text", "doc_id",
        n = 3, w = 4, maxDf = 20, maxGap = 8)
        .orderBy("doc_a", "doc_b", "start_a", "start_b")),

    "q183_winnow_leakage_matrix" -> ((s, d) =>
      // the release gate at winnowed density: q142's pairwise
      // cross-split leakage matrix computed over selected fingerprints
      // (~2/(w+1) of the grams) instead of every n-gram — the cheap
      // first gate, with the full-gram matrix as the escalation. The
      // oracle replays split assignment, every window argmin, the df
      // cap, and every rollup count.
      Dedup.winnowLeakageMatrix(
        graft.ext.Corpus.splitAssign(t(s, d, "documents"), "text"),
        "text", "doc_id", n = 3, w = 4, minShared = 1, maxDf = 20)
        .orderBy("split_a", "split_b")),

    "q193_winnow_time_travel" -> ((s, d) => {
      // TIME-TRAVEL probe on the winnow manifest (q125's read for this
      // family): build on the even half, FORGET every eighth id (the
      // delete publishes v2 and keeps v1 as the previous snapshot),
      // then probe the PREVIOUS state — verdicts must equal probing the
      // undeleted manifest, q180's oracle verbatim.
      val sf = sfTag(d)
      val path = s"target/graft-winnow-manifest-tt-$sf"
      val docs = t(s, d, "documents")
      Dedup.saveWinnowManifest(
        docs.where(pmod(col("doc_id"), lit(2)) === 0), "text", "doc_id", path)
      Dedup.deleteFromWinnowManifest(s, path,
        docs.where(pmod(col("doc_id"), lit(8)) === 0).select("doc_id"))
      Dedup.probeWinnowOverlap(
        docs.where(pmod(col("doc_id"), lit(2)) === 1), path,
        at = Family.Previous)
        .orderBy("doc_id")
    }),

    "q194_winnow_maintenance_diff" -> ((s, d) => {
      // the validate-before-trust report for a forget batch: previous
      // vs live probe verdicts per document with lost/appeared/
      // rematched/changed/held status — the q130 shape for this family.
      // The oracle joins the with- and without-the-forgotten replays
      // and re-derives every status. (Under a forget-only fixture
      // 'appeared' cannot fire — removing corpus evidence never creates
      // overlap; it fires under append-driven maintenance. At sf0.1
      // this fixture yields lost 182 / rematched 236 / changed 1 /
      // held 2081.)
      val sf = sfTag(d)
      val path = s"target/graft-winnow-manifest-diff-$sf"
      val docs = t(s, d, "documents")
      Dedup.saveWinnowManifest(
        docs.where(pmod(col("doc_id"), lit(2)) === 0), "text", "doc_id", path)
      Dedup.deleteFromWinnowManifest(s, path,
        docs.where(pmod(col("doc_id"), lit(8)) === 0).select("doc_id"))
      Dedup.winnowMaintenanceDiff(
        docs.where(pmod(col("doc_id"), lit(2)) === 1), path)
        .orderBy("doc_id")
    }),

    "q189_winnow_manifest_tombstone" -> ((s, d) => {
      // the batched-forget path: tombstone every eighth id (batch-sized
      // append), probe while PENDING (the mask must hold immediately),
      // compact (the fold turns it physical), probe again — BOTH phases
      // must equal probing a manifest built without those docs (q181's
      // oracle, duplicated per phase).
      val sf = sfTag(d)
      val path = s"target/graft-winnow-manifest-ts-$sf"
      val docs = t(s, d, "documents")
      Dedup.saveWinnowManifest(
        docs.where(pmod(col("doc_id"), lit(2)) === 0), "text", "doc_id", path)
      Dedup.tombstoneFromWinnowManifest(s, path,
        docs.where(pmod(col("doc_id"), lit(8)) === 0).select("doc_id"))
      val probe = docs.where(pmod(col("doc_id"), lit(2)) === 1)
      val pending = Dedup.probeWinnowOverlap(probe, path)
        .withColumn("phase", lit("pending"))
      Dedup.WinnowManifest.compact(s, path)
      val folded = Dedup.probeWinnowOverlap(probe, path)
        .withColumn("phase", lit("folded"))
      pending.unionByName(folded).orderBy("phase", "doc_id")
    }),

    "q182_stream_winnow_ingest" -> ((s, d) => {
      // the winnow-manifest ingest loop CLOSED over streaming (q115's
      // shape for this family): an empty born-versioned SHELL first,
      // then the even half streams in via foreachBatch with
      // EXACTLY-ONCE fingerprint appends; compact the per-batch file
      // trail (restores the h-sort); probe the odd half — must equal
      // probing a batch-built manifest, q180's oracle verbatim.
      val docs = t(s, d, "documents")
      val path = s"target/graft-stream-winnow-${sfTag(d)}"
      val conf = s.sparkContext.hadoopConfiguration
      Seq(path, s"$path.ckpt").foreach { dir =>
        val p = new org.apache.hadoop.fs.Path(dir)
        val fs = p.getFileSystem(conf)
        if (fs.exists(p)) fs.delete(p, true)
      }
      Dedup.saveWinnowManifest(docs.where(lit(false)), "text", "doc_id", path)
      val stream = s.readStream
        .schema(graft.streaming.DocumentStreams.docSchema)
        .parquet(s"$d/documents.*")
        .where(pmod(col("doc_id"), lit(2)) === 0)
      // self-maintaining sink: auto-compaction bounds fps-file and
      // ledger growth; the drained manifest is compacted (h-sort restored)
      Dedup.WinnowManifest.ingest(stream, path)((batch, batchId) =>
        Dedup.appendToWinnowManifest(batch, "text", "doc_id", path,
          batchId = Some(batchId)))
      Dedup.probeWinnowOverlap(
        docs.where(pmod(col("doc_id"), lit(2)) === 1), path)
        .orderBy("doc_id")
    }),

    "q181_winnow_manifest_delete" -> ((s, d) => {
      // the winnow manifest's right-to-be-forgotten path: build on the
      // even half, pin, DELETE every eighth id (an anti-join compaction
      // rewrite), probe the odd half — verdicts must equal probing a
      // manifest built without the deleted docs (the oracle filters the
      // manifest side identically). Restore-from-pin is spec-pinned.
      val sf = sfTag(d)
      val path = s"target/graft-winnow-manifest-del-$sf"
      val docs = t(s, d, "documents")
      Dedup.saveWinnowManifest(
        docs.where(pmod(col("doc_id"), lit(2)) === 0), "text", "doc_id", path)
      Dedup.WinnowManifest.snapshot(s, path, "pre_forget")
      Dedup.deleteFromWinnowManifest(s, path,
        docs.where(pmod(col("doc_id"), lit(8)) === 0).select("doc_id"))
      Dedup.probeWinnowOverlap(
        docs.where(pmod(col("doc_id"), lit(2)) === 1), path)
        .orderBy("doc_id")
    }),

    "q179_winnow_alignments" -> ((s, d) =>
      // overlap LOCALIZATION: every shared selected fingerprint's
      // positions on both sides of a document pair — the alignment
      // anchors quotation extraction / plagiarism-span reporting read.
      // The oracle replays the q175 selection plus the position-pair
      // self-join.
      Dedup.winnowAlignments(t(s, d, "documents"), "text", "doc_id",
        n = 3, w = 4, maxDf = 20)
        .orderBy("doc_a", "doc_b", "h", "pos_a", "pos_b")),

    "q80_dedup_substring" -> ((s, d) =>
      // exact-substring dedup: repeated >=20-token runs at ARBITRARY
      // offsets removed from all but their first corpus occurrence —
      // the suffix-array standard re-expressed as sliding rolling-hash
      // windows + chunkDedup's ownership machinery
      Dedup.substringDedup(t(s, d, "documents"), "text", "doc_id",
        minTokens = 20)
        .orderBy("doc_id"))
  )

  /** The portable-hash SimHash signature replay (toks → packed 61-bit
    * hash → per-bit votes → sig), shared by the q32 pair join and the
    * q202 coverage join-back. NULL-text docs produce no sigs row.
    */
  /** The portable-hash vote→signature replay, NAMEABLE so q224 can run
    * it twice (unsalted + salted second word) in one statement. `salt`
    * is appended to each distinct token BEFORE the char folds — exactly
    * the engine's `concat(tok, lit("#2"))`. */
  private def simhashSigCtesNamed(p: String, salt: String): String = {
    val charFold = (base: Long, pm: Long) =>
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(range(1, length(tok) + 1),
              i -> CAST(ascii(substr(tok, i, 1)) AS BIGINT))),
            (acc, c) -> (acc * $base + c) % $pm)"""
    s"""${p}toks AS (
          SELECT doc_id,
                 unnest(list_distinct(string_split(text, ' ')))$salt AS tok
          FROM documents),
        ${p}h AS (
          SELECT doc_id,
                 ${charFold(31L, 1000000007L)} * 2147483648
                   + ${charFold(131L, 998244353L)} AS h
          FROM ${p}toks),
        ${p}votes AS (
          SELECT doc_id, b.bit,
                 sum(CASE WHEN (h >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS v
          FROM ${p}h CROSS JOIN range(0, 61) b(bit)
          GROUP BY doc_id, b.bit),
        ${p}sigs AS (
          SELECT doc_id,
                 CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit)
                     ELSE 0 END) AS BIGINT) AS sig
          FROM ${p}votes GROUP BY doc_id)"""
  }

  private val simhashSigCtes: String = simhashSigCtesNamed("", "")

  /** DuckDB left-fold dot product over two DOUBLE lists (mirrors the
    * engine's fixed fold order exactly).
    */
  private def duckDot(a: String, b: String) =
    s"""list_reduce(list_prepend(0.0,
          list_transform(range(1, len($a) + 1),
            i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))),
          (x, y) -> x + y)"""

  /** DuckDB reconstruction of TextAnalysis.portableHashEmbedding: slot =
    * (char-fold (acc*31 + ascii) mod 1e9+7) mod 64 per token; vector =
    * per-slot token counts as DOUBLE.
    */
  private val portableVectors =
    """SELECT doc_id, list_transform(range(0, 64),
         s -> CAST(len(list_filter(slots, x -> x = s)) AS DOUBLE)) AS vec
       FROM (
         SELECT doc_id, list_transform(string_split(text, ' '),
           t -> list_reduce(
                  list_prepend(CAST(0 AS BIGINT),
                    list_transform(range(1, length(t) + 1),
                      i -> CAST(ascii(substr(t, i, 1)) AS BIGINT))),
                  (acc, c) -> (acc * 31 + c) % 1000000007) % 64) AS slots
         FROM documents)"""

  /** Exact unigram-Jaccard pair join ≥ 0.9 (the contract the MinHash ops
    * fulfil). Token sets are distinct STRINGS where the engine uses
    * distinct xxhash64 longs — identical set sizes minus 2^-64 collisions.
    */
  private val tokenSets =
    "SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM documents"
  private val exactJaccardPairs =
    s"""SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))
                AS jaccard
       FROM ($tokenSets) a JOIN ($tokenSets) b ON a.doc_id < b.doc_id
       WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
               / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))
             >= 0.9"""

  /** Exact dual of the manifest probe (q84 batch-built, q115
    * stream-ingested — identical manifest content either way): per new
    * doc the max exact Jaccard >= 0.9 against any manifest doc. The
    * engine's LSH candidates + first-matching-band dedup are invisible to
    * the contract at this recall; null-text docs pair with nothing.
    */
  private[queries] val incrementalMinhashReplay =
    incrementalMinhashReplayOver("TRUE")

  /** [[incrementalMinhashReplay]] with the probe batch restricted by
    * `probeWhere` — the spot-run lever: the replay is quadratic in
    * probe × manifest, so a fixed probe slice keeps it linear in the
    * corpus (quadratic only in the slice) at sf0.1. */
  private[queries] def incrementalMinhashReplayOver(probeWhere: String) =
    s"""WITH m AS (
         SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
         FROM documents WHERE doc_id % 10 < 5 AND text IS NOT NULL),
       n AS (
         SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
         FROM documents WHERE doc_id % 10 >= 5 AND ($probeWhere)),
       p AS (
         SELECT n.doc_id,
                CAST(len(list_intersect(n.toks, m.toks)) AS DOUBLE)
                  / (len(n.toks) + len(m.toks)
                     - len(list_intersect(n.toks, m.toks))) AS jac
         FROM n LEFT JOIN m ON n.toks IS NOT NULL)
       SELECT doc_id,
              max(CASE WHEN jac >= 0.9 THEN jac END) AS near_jaccard,
              coalesce(bool_or(jac >= 0.9), false) AS is_near_dup
       FROM p GROUP BY doc_id ORDER BY doc_id"""

  /** q108's replay: q84's exact cross-check with the manifest side minus
    * the forgotten CONTENT — any manifest doc whose distinct-token set
    * equals a deleted doc's set drops out (set equality via sorted
    * distinct lists — identical to the engine's hash-set key modulo
    * 2^-64 collisions). Shared with q130's diff oracle. */
  private val contentDeleteReplay = contentDeleteReplayOver("TRUE")

  /** [[contentDeleteReplay]] with the probe batch restricted by
    * `probeWhere` — see [[incrementalMinhashReplayOver]]. */
  private def contentDeleteReplayOver(probeWhere: String) =
    s"""WITH m0 AS (
         SELECT doc_id, list_sort(list_distinct(string_split(text, ' '))) AS toks
         FROM documents WHERE doc_id % 10 < 5 AND text IS NOT NULL),
       del AS (
         SELECT DISTINCT list_sort(list_distinct(string_split(text, ' '))) AS k
         FROM documents
         WHERE doc_id % 10 < 5 AND doc_id % 7 = 2 AND text IS NOT NULL),
       m AS (
         SELECT m0.doc_id, m0.toks FROM m0
         LEFT JOIN del ON m0.toks = del.k WHERE del.k IS NULL),
       n AS (
         SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
         FROM documents WHERE doc_id % 10 >= 5 AND ($probeWhere)),
       p AS (
         SELECT n.doc_id,
                CAST(len(list_intersect(n.toks, m.toks)) AS DOUBLE)
                  / (len(n.toks) + len(m.toks)
                     - len(list_intersect(n.toks, m.toks))) AS jac
         FROM n LEFT JOIN m ON n.toks IS NOT NULL)
       SELECT doc_id,
              max(CASE WHEN jac >= 0.9 THEN jac END) AS near_jaccard,
              coalesce(bool_or(jac >= 0.9), false) AS is_near_dup
       FROM p GROUP BY doc_id ORDER BY doc_id"""

  private def winnowProbeReplay(manifestExtra: String): String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
                    FROM documents
                    WHERE text IS NOT NULL AND len(string_split(text, ' ')) >= 3),
         g AS (SELECT doc_id, len(toks) - 2 AS m, i - 1 AS pos,
                      array_to_string(toks[i:i+2], ' ') AS tok
               FROM (SELECT doc_id, toks,
                            unnest(range(1, len(toks) - 1)) AS i
                     FROM t)),
         h AS (SELECT doc_id, m, pos,
                      list_reduce(list_prepend(CAST(0 AS BIGINT),
                        list_transform(range(1, length(tok) + 1),
                          i -> CAST(ascii(substr(tok, i, 1)) AS BIGINT))),
                        (acc, c) -> (acc * 31 + c) % 1000000007) * 2147483648
                      + list_reduce(list_prepend(CAST(0 AS BIGINT),
                        list_transform(range(1, length(tok) + 1),
                          i -> CAST(ascii(substr(tok, i, 1)) AS BIGINT))),
                        (acc, c) -> (acc * 131 + c) % 998244353) AS h
               FROM g),
         wins AS (SELECT doc_id, pos, h,
                         unnest(range(greatest(pos - 3, 0),
                           least(pos, greatest(m - 4, 0)) + 1)) AS s
                  FROM h),
         sel AS (SELECT DISTINCT doc_id, h FROM (
                   SELECT doc_id, s, pos, h,
                          row_number() OVER (PARTITION BY doc_id, s
                                             ORDER BY h ASC, pos DESC) AS rn
                   FROM wins) WHERE rn = 1),
         mf AS (SELECT doc_id AS doc, h FROM sel WHERE doc_id % 2 = 0
                $manifestExtra),
         bf AS (SELECT doc_id AS bdoc, h FROM sel WHERE doc_id % 2 = 1),
         capped AS (SELECT h FROM (SELECT h, count(*) AS hdf
                                   FROM mf GROUP BY h) WHERE hdf > 20),
         bk AS (SELECT bdoc, h FROM bf WHERE h NOT IN (SELECT h FROM capped)),
         mk AS (SELECT doc, h FROM mf WHERE h NOT IN (SELECT h FROM capped)),
         nfp AS (SELECT bdoc, count(*) AS n_fp FROM bk GROUP BY bdoc),
         sh AS (SELECT bk.bdoc, mk.doc, count(*) AS shared
                FROM bk JOIN mk USING (h) GROUP BY 1, 2),
         best AS (SELECT bdoc, doc AS best_match, shared FROM (
                    SELECT bdoc, doc, shared,
                           row_number() OVER (PARTITION BY bdoc
                             ORDER BY shared DESC, doc ASC) AS rn
                    FROM sh) WHERE rn = 1)
         SELECT d.doc_id,
                CAST(coalesce(nfp.n_fp, 0) AS BIGINT) AS n_fp,
                CAST(best.best_match AS BIGINT) AS best_match,
                CAST(coalesce(best.shared, 0) AS BIGINT) AS shared,
                CAST(CASE WHEN coalesce(nfp.n_fp, 0) > 0
                     THEN coalesce(best.shared, 0) * 1000000 // nfp.n_fp
                     ELSE 0 END AS BIGINT) AS containment_ppm,
                coalesce(best.shared, 0) >= 2 AS flagged
         FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d
         LEFT JOIN nfp ON nfp.bdoc = d.doc_id
         LEFT JOIN best ON best.bdoc = d.doc_id
         ORDER BY d.doc_id"""

  val oracles: Map[String, String] = Map(
    "q30_dedup_exact" ->
      """SELECT min(doc_id) AS keeper_id, count(*) AS n_copies
         FROM documents GROUP BY text ORDER BY keeper_id""",

    "q78_dedup_normalized" ->
      """SELECT min(doc_id) AS keeper_id, count(*) AS n_copies
         FROM documents
         GROUP BY trim(regexp_replace(lower(text), '\s+', ' ', 'g'))
         ORDER BY keeper_id""",

    "q31_dedup_minhash_lsh" ->
      s"""SELECT doc_a, doc_b, jaccard FROM ($exactJaccardPairs)
          ORDER BY doc_a, doc_b""",

    // rollup of the exact pair relation through the (doc → source) map;
    // jaccard = 1.0 is exact in both engines (intersection == union)
    "q88_dup_source_matrix" ->
      s"""WITH p AS ($exactJaccardPairs),
          s AS (SELECT doc_id, source FROM documents)
          SELECT least(sa.source, sb.source) AS src_lo,
                 greatest(sa.source, sb.source) AS src_hi,
                 count(*) AS n_pairs,
                 count(CASE WHEN jaccard = 1.0 THEN 1 END) AS n_exact
          FROM p JOIN s sa ON p.doc_a = sa.doc_id
                 JOIN s sb ON p.doc_b = sb.doc_id
          GROUP BY 1, 2 ORDER BY 1, 2""",

    "q84_dedup_incremental_minhash" -> incrementalMinhashReplay,

    // q125 probes the snapshot the content delete superseded — the full
    // manifest, exactly as if the forget never happened (q84's oracle)
    "q125_manifest_time_travel" -> incrementalMinhashReplay,

    // q115 streams the same manifest half in through exactly-once appends:
    // the grown manifest's content equals q84's batch build, so the probe
    // contract — and the oracle — are q84's verbatim
    "q115_stream_manifest_ingest" -> incrementalMinhashReplay,

    // q84's exact cross check with the manifest side minus the forgotten
    // CONTENT: any manifest doc whose distinct-token set equals a deleted
    // doc's set drops out (set equality via sorted distinct lists —
    // identical to the engine's hash-set key modulo 2^-64 collisions)
    "q108_manifest_content_delete" -> contentDeleteReplay,

    // q130 diffs the pre-forget verdicts against the live ones: both
    // manifest states replayed, same join, same status classification
    "q130_manifest_maintenance_diff" ->
      s"""SELECT doc_id,
                 bef.near_jaccard AS jaccard_before,
                 bef.is_near_dup AS dup_before,
                 aft.near_jaccard AS jaccard_after,
                 aft.is_near_dup AS dup_after,
                 CASE WHEN bef.is_near_dup AND NOT aft.is_near_dup
                        THEN 'forgotten'
                      WHEN NOT bef.is_near_dup AND aft.is_near_dup
                        THEN 'appeared'
                      WHEN bef.is_near_dup AND aft.is_near_dup
                           AND bef.near_jaccard <> aft.near_jaccard
                        THEN 'rematched'
                      ELSE 'held' END AS status
          FROM ($incrementalMinhashReplay) bef
          JOIN ($contentDeleteReplay) aft USING (doc_id)
          ORDER BY doc_id""",

    // q134: q130's diff replay with the probe fixed to the 200-doc
    // slice — quadratic only in the slice, so it runs at sf0.1 (the
    // family's size-step check)
    "q134_manifest_diff_spot" ->
      s"""SELECT doc_id,
                 bef.near_jaccard AS jaccard_before,
                 bef.is_near_dup AS dup_before,
                 aft.near_jaccard AS jaccard_after,
                 aft.is_near_dup AS dup_after,
                 CASE WHEN bef.is_near_dup AND NOT aft.is_near_dup
                        THEN 'forgotten'
                      WHEN NOT bef.is_near_dup AND aft.is_near_dup
                        THEN 'appeared'
                      WHEN bef.is_near_dup AND aft.is_near_dup
                           AND bef.near_jaccard <> aft.near_jaccard
                        THEN 'rematched'
                      ELSE 'held' END AS status
          FROM (${incrementalMinhashReplayOver("doc_id < 400")}) bef
          JOIN (${contentDeleteReplayOver("doc_id < 400")}) aft
            USING (doc_id)
          ORDER BY doc_id""",

    // q32: replay the portable hash → per-bit votes → signature → exact
    // Hamming join. Bits 61-63 of the packed hash are always 0, so both
    // engines' signatures agree there (all-minus votes → bit 0) and the
    // oracle only materializes votes for bits 0..60.
    "q32_dedup_simhash" ->
      s"""WITH $simhashSigCtes
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
          FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
          WHERE bit_count(xor(a.sig, b.sig)) <= 7
          ORDER BY doc_a, doc_b""",

    // q224: both signature words replayed (second over '#2'-salted
    // tokens), then the exact all-pairs 128-bit Hamming join — the
    // engine's banded candidates are pigeonhole-lossless, so equality
    // holds exactly
    "q224_simhash_wide" ->
      s"""WITH $simhashSigCtes,
          ${simhashSigCtesNamed("w2", " || '#2'")},
          w AS (SELECT a.doc_id, a.sig AS hi, b.sig AS lo
                FROM sigs a JOIN w2sigs b USING (doc_id))
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))
                      AS INTEGER) AS hamming
          FROM w a JOIN w b ON a.doc_id < b.doc_id
          WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 7
          ORDER BY doc_a, doc_b""",

    // q202: q32's signature replay LEFT-joined back onto the corpus —
    // NULL-text docs have no sigs row (string_split(NULL) unnests to
    // nothing), exactly the engine's no-row contract, and come back
    // with a NULL signature
    "q202_simhash_coverage" ->
      s"""WITH $simhashSigCtes
          SELECT d.doc_id, s.sig AS simhash,
                 s.sig IS NOT NULL AS has_signature
          FROM documents d LEFT JOIN sigs s USING (doc_id)
          ORDER BY d.doc_id""",

    "q33_dedup_ngram_jaccard" ->
      """WITH g AS (
           SELECT source AS bucket, doc_id,
                  list_distinct(list_transform(range(1, len(toks)),
                    i -> toks[i] || ' ' || toks[i + 1])) AS grams
           FROM (SELECT source, doc_id, string_split(text, ' ') AS toks
                 FROM documents))
         SELECT a.bucket AS bucket, a.doc_id AS doc_a, b.doc_id AS doc_b,
                CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                  / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)))
                  AS jaccard
         FROM g a JOIN g b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
         WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                 / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)))
               >= 0.05
         ORDER BY a.bucket, doc_a, doc_b""",

    // connected components as a recursive reachability CTE: comp(node) =
    // min(node reachable) — exact dual of the engine's star contraction
    "q34_dedup_cluster" ->
      """WITH RECURSIVE g AS (
           SELECT source AS bucket, doc_id,
                  list_distinct(list_transform(range(1, len(toks)),
                    i -> toks[i] || ' ' || toks[i + 1])) AS grams
           FROM (SELECT source, doc_id, string_split(text, ' ') AS toks
                 FROM documents)),
         pairs AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM g a JOIN g b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
           WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                   / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)))
                 >= 0.05),
         edges AS (
           SELECT doc_a AS a, doc_b AS b FROM pairs
           UNION ALL
           SELECT doc_b AS a, doc_a AS b FROM pairs),
         reach(node, r) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT reach.node, e.b FROM reach JOIN edges e ON reach.r = e.a)
         SELECT node AS doc_id, min(r) AS cluster_rep,
                CAST(CASE WHEN node = min(r) THEN 1 ELSE 0 END AS INTEGER) AS is_keeper
         FROM reach GROUP BY node ORDER BY doc_id""",

    // q206: the prefix filter is lossless, so the oracle is the exact
    // all-pairs 3-gram-shingle Jaccard self-join — same double division
    // (CAST(i AS DOUBLE) / (la + lb - i)) as the engine's merge-walk
    "q206_setsim_join" ->
      """WITH g AS (
           SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
                    i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))
                  AS grams
           FROM (SELECT doc_id, string_split(text, ' ') AS toks
                 FROM documents WHERE text IS NOT NULL))
         SELECT doc_a, doc_b, jaccard FROM (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                    / (len(a.grams) + len(b.grams)
                       - len(list_intersect(a.grams, b.grams))) AS jaccard
           FROM g a JOIN g b ON a.doc_id < b.doc_id
           WHERE len(a.grams) >= 1 AND len(b.grams) >= 1)
         WHERE jaccard >= 0.7
         ORDER BY doc_a, doc_b""",

    // q221: pairs with doc_a < doc_b touching the id-prefix slice are
    // exactly the pairs with doc_a IN slice (doc_b < 400 implies
    // doc_a < 400), so ONE slice-vs-corpus join replays the spot — linear
    // in the corpus, quadratic only in the 400-doc slice
    "q221_setsim_join_spot" ->
      """WITH g AS (
           SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
                    i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))
                  AS grams
           FROM (SELECT doc_id, string_split(text, ' ') AS toks
                 FROM documents WHERE text IS NOT NULL))
         SELECT doc_a, doc_b, jaccard FROM (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                    / (len(a.grams) + len(b.grams)
                       - len(list_intersect(a.grams, b.grams))) AS jaccard
           FROM g a JOIN g b ON a.doc_id < b.doc_id
           WHERE a.doc_id < 400
             AND len(a.grams) >= 1 AND len(b.grams) >= 1)
         WHERE jaccard >= 0.7
         ORDER BY doc_a, doc_b""",

    // q207: count filter + short band are lossless, so the oracle is the
    // exact all-pairs Levenshtein self-join over the distinct value domain
    "q207_editdist_join" ->
      """WITH n AS (SELECT DISTINCT p_name AS name FROM part
                    WHERE p_name IS NOT NULL)
         SELECT a.name AS name_a, b.name AS name_b,
                CAST(levenshtein(a.name, b.name) AS INTEGER) AS dist
         FROM n a JOIN n b ON a.name < b.name
         WHERE levenshtein(a.name, b.name) <= 2
         ORDER BY name_a, name_b""",

    // q217: probing a (rebuild + append)-built index over the evens with
    // the odds must equal the exact cross Jaccard — append staleness or
    // one-sided-filter recall loss would surface as missing rows.
    // q218: the streamed shell-fill builds the same evens index through
    // exactly-once batches — same oracle verbatim
    "q218_stream_setsim_ingest" ->
      """WITH g AS (
           SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
                    i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))
                  AS grams
           FROM (SELECT doc_id, string_split(text, ' ') AS toks
                 FROM documents WHERE text IS NOT NULL))
         SELECT doc_batch, doc_corpus, jaccard FROM (
           SELECT a.doc_id AS doc_batch, b.doc_id AS doc_corpus,
                  CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                    / (len(a.grams) + len(b.grams)
                       - len(list_intersect(a.grams, b.grams))) AS jaccard
           FROM g a JOIN g b ON a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
           WHERE len(a.grams) >= 1 AND len(b.grams) >= 1)
         WHERE jaccard >= 0.7
         ORDER BY doc_batch, doc_corpus""",

    "q217_setsim_index_probe" ->
      """WITH g AS (
           SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
                    i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))
                  AS grams
           FROM (SELECT doc_id, string_split(text, ' ') AS toks
                 FROM documents WHERE text IS NOT NULL))
         SELECT doc_batch, doc_corpus, jaccard FROM (
           SELECT a.doc_id AS doc_batch, b.doc_id AS doc_corpus,
                  CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                    / (len(a.grams) + len(b.grams)
                       - len(list_intersect(a.grams, b.grams))) AS jaccard
           FROM g a JOIN g b ON a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
           WHERE len(a.grams) >= 1 AND len(b.grams) >= 1)
         WHERE jaccard >= 0.7
         ORDER BY doc_batch, doc_corpus""",

    // q225/q226: the q217/q218 lifecycle with the probe batch restricted
    // to the id-prefix slice — a.doc_id < 400 makes the replay ONE
    // slice × evens join, linear in the corpus at any scale factor
    // (the reason these two exist; see the engine-side comments)
    "q225_setsim_probe_spot" ->
      """WITH g AS (
           SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
                    i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))
                  AS grams
           FROM (SELECT doc_id, string_split(text, ' ') AS toks
                 FROM documents WHERE text IS NOT NULL))
         SELECT doc_batch, doc_corpus, jaccard FROM (
           SELECT a.doc_id AS doc_batch, b.doc_id AS doc_corpus,
                  CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                    / (len(a.grams) + len(b.grams)
                       - len(list_intersect(a.grams, b.grams))) AS jaccard
           FROM g a JOIN g b
             ON a.doc_id % 2 = 1 AND a.doc_id < 400 AND b.doc_id % 2 = 0
           WHERE len(a.grams) >= 1 AND len(b.grams) >= 1)
         WHERE jaccard >= 0.7
         ORDER BY doc_batch, doc_corpus""",

    "q226_stream_setsim_spot" ->
      """WITH g AS (
           SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
                    i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))
                  AS grams
           FROM (SELECT doc_id, string_split(text, ' ') AS toks
                 FROM documents WHERE text IS NOT NULL))
         SELECT doc_batch, doc_corpus, jaccard FROM (
           SELECT a.doc_id AS doc_batch, b.doc_id AS doc_corpus,
                  CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                    / (len(a.grams) + len(b.grams)
                       - len(list_intersect(a.grams, b.grams))) AS jaccard
           FROM g a JOIN g b
             ON a.doc_id % 2 = 1 AND a.doc_id < 400 AND b.doc_id % 2 = 0
           WHERE len(a.grams) >= 1 AND len(b.grams) >= 1)
         WHERE jaccard >= 0.7
         ORDER BY doc_batch, doc_corpus""",

    // q212: reachability closure over the exact edit-distance pair set
    // (the q34 recursive pattern); canonical = each component's
    // lexicographic minimum, mapped back onto every row
    "q212_fuzzy_canonicalize" ->
      """WITH RECURSIVE n AS (SELECT DISTINCT p_name AS name FROM part
                              WHERE p_name IS NOT NULL),
         pairs AS (SELECT a.name AS na, b.name AS nb
                   FROM n a JOIN n b ON a.name < b.name
                   WHERE levenshtein(a.name, b.name) <= 2),
         edges AS (SELECT na AS a, nb AS b FROM pairs
                   UNION ALL SELECT nb, na FROM pairs),
         reach(node, r) AS (
           SELECT name, name FROM n
           UNION
           SELECT reach.node, e.b FROM reach JOIN edges e ON reach.r = e.a),
         comp AS (SELECT node AS name, min(r) AS canonical
                  FROM reach GROUP BY node)
         SELECT p.p_partkey, p.p_name, c.canonical AS canonical_name
         FROM part p JOIN comp c ON c.name = p.p_name
         ORDER BY p.p_partkey""",

    "q38_dedup_embed_cosine" ->
      s"""WITH v AS ($portableVectors),
          e AS (SELECT doc_id, vec,
                       sqrt(${duckDot("vec", "vec")}) AS nrm
                FROM v)
          SELECT id_a, id_b, cos_sim FROM (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   ${duckDot("a.vec", "b.vec")} / (a.nrm * b.nrm) AS cos_sim
            FROM e a JOIN e b ON a.doc_id < b.doc_id)
          WHERE cos_sim >= 0.98
          ORDER BY id_a, id_b""",

    // same reachability closure as q34, over the corpus-wide exact-Jaccard
    // pair set the MinHash candidate stage reproduces at recall 1
    "q49_dedup_cluster_minhash" ->
      s"""WITH RECURSIVE pairs AS ($exactJaccardPairs),
          edges AS (
            SELECT doc_a AS a, doc_b AS b FROM pairs
            UNION ALL
            SELECT doc_b AS a, doc_a AS b FROM pairs),
          reach(node, r) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT reach.node, e.b FROM reach JOIN edges e ON reach.r = e.a)
          SELECT node AS doc_id, min(r) AS cluster_rep,
                 CAST(CASE WHEN node = min(r) THEN 1 ELSE 0 END AS INTEGER) AS is_keeper
          FROM reach GROUP BY node ORDER BY doc_id""",

    // q49's reachability closure + per-component quality argmax: the
    // keeper is the longest document (ties to the smallest id), while
    // cluster_rep stays the component minimum as the stable cluster key
    "q111_dedup_keep_best" ->
      s"""WITH RECURSIVE pairs AS ($exactJaccardPairs),
          edges AS (
            SELECT doc_a AS a, doc_b AS b FROM pairs
            UNION ALL
            SELECT doc_b AS a, doc_a AS b FROM pairs),
          reach(node, r) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT reach.node, e.b FROM reach JOIN edges e ON reach.r = e.a),
          comp AS (
            SELECT node, min(r) AS cluster_rep FROM reach GROUP BY node),
          rk AS (
            SELECT c.node, c.cluster_rep,
                   row_number() OVER (PARTITION BY c.cluster_rep
                                      ORDER BY d.n_chars DESC, c.node) AS rn
            FROM comp c JOIN documents d ON c.node = d.doc_id),
          best AS (SELECT cluster_rep, node AS keeper_id FROM rk WHERE rn = 1)
          SELECT c.node AS doc_id, c.cluster_rep, b.keeper_id,
                 CAST(CASE WHEN c.node = b.keeper_id THEN 1 ELSE 0 END
                      AS INTEGER) AS is_keeper
          FROM comp c JOIN best b USING (cluster_rep) ORDER BY doc_id""",

    // keeper = first (doc, idx) occurrence per chunk TEXT where the engine
    // groups on the chunk's xxhash64 — identical modulo 2^-64 collisions
    "q66_dedup_chunk" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         g AS (SELECT doc_id,
                      list_transform(range(0, (len(toks) - 1) // 20 + 1),
                        i -> struct_pack(idx := i,
                               chunk := array_to_string(toks[(i*20+1):(i*20+20)], ' '))) AS cs
               FROM t),
         c AS (SELECT doc_id, u.idx AS idx, u.chunk AS chunk
               FROM (SELECT doc_id, unnest(cs) AS u FROM g)),
         k AS (SELECT doc_id, idx, chunk,
                      row_number() OVER (PARTITION BY chunk
                                         ORDER BY doc_id, idx) AS rn
               FROM c),
         r AS (SELECT doc_id, count(*) AS n_kept,
                      string_agg(chunk, ' ' ORDER BY idx) AS clean_text
               FROM k WHERE rn = 1 GROUP BY doc_id)
         SELECT d.doc_id,
                CAST(CASE WHEN d.text IS NULL THEN 0
                          ELSE (len(string_split(d.text, ' ')) - 1) // 20 + 1
                     END AS INTEGER) AS n_chunks,
                coalesce(r.n_kept, 0) AS n_kept,
                coalesce(r.clean_text, '') AS clean_text
         FROM documents d LEFT JOIN r ON d.doc_id = r.doc_id
         ORDER BY d.doc_id""",

    // q66's replay with ownership PARTITIONED BY (doc, chunk) instead of
    // corpus-wide chunk — first occurrence within each document wins
    "q141_dedup_chunk_within" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         g AS (SELECT doc_id,
                      list_transform(range(0, (len(toks) - 1) // 20 + 1),
                        i -> struct_pack(idx := i,
                               chunk := array_to_string(toks[(i*20+1):(i*20+20)], ' '))) AS cs
               FROM t),
         c AS (SELECT doc_id, u.idx AS idx, u.chunk AS chunk
               FROM (SELECT doc_id, unnest(cs) AS u FROM g)),
         k AS (SELECT doc_id, idx, chunk,
                      row_number() OVER (PARTITION BY doc_id, chunk
                                         ORDER BY idx) AS rn
               FROM c),
         r AS (SELECT doc_id, count(*) AS n_kept,
                      string_agg(chunk, ' ' ORDER BY idx) AS clean_text
               FROM k WHERE rn = 1 GROUP BY doc_id)
         SELECT d.doc_id,
                CAST(CASE WHEN d.text IS NULL THEN 0
                          ELSE (len(string_split(d.text, ' ')) - 1) // 20 + 1
                     END AS INTEGER) AS n_chunks,
                coalesce(r.n_kept, 0) AS n_kept,
                coalesce(r.clean_text, '') AS clean_text
         FROM documents d LEFT JOIN r ON d.doc_id = r.doc_id
         ORDER BY d.doc_id""",

    // frequency on the chunk TEXT where the engine counts distinct docs
    // per 8-byte chunk hash; chunks at document frequency >= 3 vanish
    // from every document, survivors rebuild in original order
    "q110_boilerplate_strip" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
                    FROM documents WHERE text IS NOT NULL),
         g AS (SELECT doc_id,
                      list_transform(range(0, (len(toks) - 1) // 20 + 1),
                        i -> struct_pack(idx := i,
                               chunk := array_to_string(toks[(i*20+1):(i*20+20)], ' '))) AS cs
               FROM t),
         c AS (SELECT doc_id, u.idx AS idx, u.chunk AS chunk
               FROM (SELECT doc_id, unnest(cs) AS u FROM g)),
         b AS (SELECT chunk FROM c GROUP BY chunk
               HAVING count(DISTINCT doc_id) >= 3),
         k AS (SELECT c.doc_id, c.idx, c.chunk
               FROM c ANTI JOIN b USING (chunk)),
         r AS (SELECT doc_id, count(*) AS n_kept,
                      string_agg(chunk, ' ' ORDER BY idx) AS clean_text
               FROM k GROUP BY doc_id)
         SELECT d.doc_id,
                CAST(CASE WHEN d.text IS NULL THEN 0
                          ELSE (len(string_split(d.text, ' ')) - 1) // 20 + 1
                     END AS INTEGER) AS n_chunks,
                coalesce(r.n_kept, 0) AS n_kept,
                coalesce(r.clean_text, '') AS clean_text
         FROM documents d LEFT JOIN r ON d.doc_id = r.doc_id
         ORDER BY d.doc_id""",

    // q175: full SIGMOD'03 winnowing replay — the char-fold gram hashes,
    // every w-window argmin with the RIGHTMOST-position tie rule
    // (row_number over h ASC, pos DESC), the distinct selected set, the
    // df cap, the shared-count gate, and both sides' fp counts
    "q175_winnow_near_dup" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
                    FROM documents
                    WHERE text IS NOT NULL AND len(string_split(text, ' ')) >= 3),
         g AS (SELECT doc_id, len(toks) - 2 AS m, i - 1 AS pos,
                      array_to_string(toks[i:i+2], ' ') AS tok
               FROM (SELECT doc_id, toks,
                            unnest(range(1, len(toks) - 1)) AS i
                     FROM t)),
         h AS (SELECT doc_id, m, pos,
                      list_reduce(list_prepend(CAST(0 AS BIGINT),
                        list_transform(range(1, length(tok) + 1),
                          i -> CAST(ascii(substr(tok, i, 1)) AS BIGINT))),
                        (acc, c) -> (acc * 31 + c) % 1000000007) * 2147483648
                      + list_reduce(list_prepend(CAST(0 AS BIGINT),
                        list_transform(range(1, length(tok) + 1),
                          i -> CAST(ascii(substr(tok, i, 1)) AS BIGINT))),
                        (acc, c) -> (acc * 131 + c) % 998244353) AS h
               FROM g),
         wins AS (SELECT doc_id, pos, h,
                         unnest(range(greatest(pos - 3, 0),
                           least(pos, greatest(m - 4, 0)) + 1)) AS s
                  FROM h),
         sel AS (SELECT DISTINCT doc_id, h FROM (
                   SELECT doc_id, s, pos, h,
                          row_number() OVER (PARTITION BY doc_id, s
                                             ORDER BY h ASC, pos DESC) AS rn
                   FROM wins) WHERE rn = 1),
         dfh AS (SELECT h, count(*) AS hdf FROM sel GROUP BY h),
         kept AS (SELECT sel.doc_id, sel.h FROM sel
                  JOIN dfh USING (h) WHERE hdf <= 20),
         cnt AS (SELECT doc_id, count(*) AS nfp FROM kept GROUP BY doc_id),
         pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                          count(*) AS shared
                   FROM kept a JOIN kept b
                     ON a.h = b.h AND a.doc_id < b.doc_id
                   GROUP BY 1, 2 HAVING count(*) >= 2)
         SELECT doc_a, doc_b, CAST(shared AS BIGINT) AS shared,
                CAST(ca.nfp AS BIGINT) AS fp_a, CAST(cb.nfp AS BIGINT) AS fp_b
         FROM pairs
         JOIN cnt ca ON ca.doc_id = doc_a
         JOIN cnt cb ON cb.doc_id = doc_b
         ORDER BY doc_a, doc_b""",

    // q180/q181: both sides' winnowing replayed (manifest = even ids,
    // probe = odd ids; q181 additionally forgets every eighth id), the
    // exclusion-style df cap (drop hashes the manifest holds in > 20
    // docs; keep manifest-unknown probe hashes in n_fp), the
    // (shared DESC, doc ASC) argmax, and the ppm division
    "q180_winnow_manifest_probe" -> winnowProbeReplay(""),
    "q181_winnow_manifest_delete" ->
      winnowProbeReplay("AND doc_id % 8 <> 0"),
    // q182 streams the even half in via exactly-once appends, then
    // compacts — verdicts must equal the batch-built manifest's
    "q182_stream_winnow_ingest" -> winnowProbeReplay(""),

    // q193: probing the PREVIOUS snapshot equals probing the undeleted
    // manifest — q180's replay verbatim
    "q193_winnow_time_travel" -> winnowProbeReplay(""),

    // q194: the with- and without-the-forgotten replays joined, every
    // status re-derived (null-safe match compare = IS DISTINCT FROM)
    "q194_winnow_maintenance_diff" ->
      s"""SELECT p.doc_id,
                 p.best_match AS prev_match, p.shared AS prev_shared,
                 l.best_match AS live_match, l.shared AS live_shared,
                 CASE WHEN p.flagged AND NOT l.flagged THEN 'lost'
                      WHEN NOT p.flagged AND l.flagged THEN 'appeared'
                      WHEN p.flagged AND l.flagged AND
                           (p.best_match IS DISTINCT FROM l.best_match)
                        THEN 'rematched'
                      WHEN p.shared <> l.shared THEN 'changed'
                      ELSE 'held' END AS status
          FROM (${winnowProbeReplay("")}) p
          JOIN (${winnowProbeReplay("AND doc_id % 8 <> 0")}) l
            USING (doc_id)
          ORDER BY p.doc_id""",

    // q189: q181's no-eighth-ids replay on BOTH sides of the fold —
    // the pending mask and the physical delete serve identically
    "q189_winnow_manifest_tombstone" ->
      s"""SELECT t.*, p.phase
          FROM (${winnowProbeReplay("AND doc_id % 8 <> 0")}) t
          CROSS JOIN (VALUES ('pending'), ('folded')) p(phase)
          ORDER BY p.phase, t.doc_id""",

    // q183: the winnow selection replay (q175's CTEs) + q142's split
    // assignment and rollup — leakage matrix over selected fingerprints
    "q183_winnow_leakage_matrix" ->
      s"""WITH t AS (SELECT doc_id,
                          CASE WHEN ${CorpusQueries.fpFold} % 100 < 80
                               THEN 'train'
                               WHEN ${CorpusQueries.fpFold} % 100 < 90
                               THEN 'val' ELSE 'test' END AS split,
                          string_split(text, ' ') AS toks
                    FROM documents
                    WHERE text IS NOT NULL AND len(string_split(text, ' ')) >= 3),
         g AS (SELECT doc_id, split, len(toks) - 2 AS m, i - 1 AS pos,
                      array_to_string(toks[i:i+2], ' ') AS tok
               FROM (SELECT doc_id, split, toks,
                            unnest(range(1, len(toks) - 1)) AS i
                     FROM t)),
         h AS (SELECT doc_id, split, m, pos,
                      list_reduce(list_prepend(CAST(0 AS BIGINT),
                        list_transform(range(1, length(tok) + 1),
                          i -> CAST(ascii(substr(tok, i, 1)) AS BIGINT))),
                        (acc, c) -> (acc * 31 + c) % 1000000007) * 2147483648
                      + list_reduce(list_prepend(CAST(0 AS BIGINT),
                        list_transform(range(1, length(tok) + 1),
                          i -> CAST(ascii(substr(tok, i, 1)) AS BIGINT))),
                        (acc, c) -> (acc * 131 + c) % 998244353) AS h
               FROM g),
         wins AS (SELECT doc_id, split, pos, h,
                         unnest(range(greatest(pos - 3, 0),
                           least(pos, greatest(m - 4, 0)) + 1)) AS s
                  FROM h),
         sel AS (SELECT DISTINCT doc_id, split, h FROM (
                   SELECT doc_id, split, s, pos, h,
                          row_number() OVER (PARTITION BY doc_id, s
                                             ORDER BY h ASC, pos DESC) AS rn
                   FROM wins) WHERE rn = 1),
         dfh AS (SELECT h, count(*) AS hdf FROM sel GROUP BY h),
         kept AS (SELECT sel.split, sel.doc_id AS doc, sel.h FROM sel
                  JOIN dfh USING (h) WHERE hdf <= 20),
         p AS (SELECT a.split AS split_a, a.doc AS doc_a,
                      b2.split AS split_b, b2.doc AS doc_b,
                      count(*) AS ns
               FROM kept a JOIN kept b2
                 ON a.h = b2.h AND a.split < b2.split
               GROUP BY 1, 2, 3, 4 HAVING count(*) >= 1),
         mx AS (SELECT split_a, split_b,
                       CAST(count(*) AS BIGINT) AS n_leak_pairs,
                       CAST(count(DISTINCT doc_a) AS BIGINT) AS n_docs_a,
                       CAST(count(DISTINCT doc_b) AS BIGINT) AS n_docs_b,
                       CAST(sum(ns) AS BIGINT) AS n_shared_total
                FROM p GROUP BY 1, 2),
         sp AS (SELECT DISTINCT CASE WHEN ${CorpusQueries.fpFold} % 100 < 80
                                     THEN 'train'
                                     WHEN ${CorpusQueries.fpFold} % 100 < 90
                                     THEN 'val' ELSE 'test' END AS s
                FROM documents),
         fr AS (SELECT a.s AS split_a, b.s AS split_b
                FROM sp a JOIN sp b ON a.s < b.s)
         SELECT fr.split_a, fr.split_b,
                coalesce(mx.n_leak_pairs, 0) AS n_leak_pairs,
                coalesce(mx.n_docs_a, 0) AS n_docs_a,
                coalesce(mx.n_docs_b, 0) AS n_docs_b,
                coalesce(mx.n_shared_total, 0) AS n_shared_total
         FROM fr LEFT JOIN mx USING (split_a, split_b)
         ORDER BY fr.split_a, fr.split_b""",

    // q185: q179's anchor replay + the diagonal sessionize (lag > 8
    // starts a run) + span boundaries on both sides
    "q185_winnow_spans" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
                    FROM documents
                    WHERE text IS NOT NULL AND len(string_split(text, ' ')) >= 3),
         g AS (SELECT doc_id, len(toks) - 2 AS m, i - 1 AS pos,
                      array_to_string(toks[i:i+2], ' ') AS tok
               FROM (SELECT doc_id, toks,
                            unnest(range(1, len(toks) - 1)) AS i
                     FROM t)),
         h AS (SELECT doc_id, m, pos,
                      list_reduce(list_prepend(CAST(0 AS BIGINT),
                        list_transform(range(1, length(tok) + 1),
                          i -> CAST(ascii(substr(tok, i, 1)) AS BIGINT))),
                        (acc, c) -> (acc * 31 + c) % 1000000007) * 2147483648
                      + list_reduce(list_prepend(CAST(0 AS BIGINT),
                        list_transform(range(1, length(tok) + 1),
                          i -> CAST(ascii(substr(tok, i, 1)) AS BIGINT))),
                        (acc, c) -> (acc * 131 + c) % 998244353) AS h
               FROM g),
         wins AS (SELECT doc_id, pos, h,
                         unnest(range(greatest(pos - 3, 0),
                           least(pos, greatest(m - 4, 0)) + 1)) AS s
                  FROM h),
         sel AS (SELECT DISTINCT doc_id, pos, h FROM (
                   SELECT doc_id, s, pos, h,
                          row_number() OVER (PARTITION BY doc_id, s
                                             ORDER BY h ASC, pos DESC) AS rn
                   FROM wins) WHERE rn = 1),
         dfh AS (SELECT h, count(*) AS hdf
                 FROM (SELECT DISTINCT doc_id, h FROM sel) GROUP BY h),
         kept AS (SELECT sel.doc_id, sel.pos, sel.h FROM sel
                  JOIN dfh USING (h) WHERE hdf <= 20),
         al AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                       a.pos AS pos_a, b.pos AS pos_b,
                       a.pos - b.pos AS diag
                FROM kept a JOIN kept b
                  ON a.h = b.h AND a.doc_id < b.doc_id),
         r AS (SELECT doc_a, doc_b, pos_a, diag,
                      CASE WHEN lag(pos_a) OVER
                             (PARTITION BY doc_a, doc_b, diag
                              ORDER BY pos_a) IS NULL
                           OR pos_a - lag(pos_a) OVER
                             (PARTITION BY doc_a, doc_b, diag
                              ORDER BY pos_a) > 8
                           THEN 1 ELSE 0 END AS brk
               FROM al),
         rr AS (SELECT doc_a, doc_b, pos_a, diag,
                       sum(brk) OVER (PARTITION BY doc_a, doc_b, diag
                                      ORDER BY pos_a
                                      ROWS UNBOUNDED PRECEDING) AS run
                FROM r)
         SELECT doc_a, doc_b,
                CAST(min(pos_a) AS INTEGER) AS start_a,
                CAST(max(pos_a) + 2 AS INTEGER) AS end_a,
                CAST(min(pos_a) - diag AS INTEGER) AS start_b,
                CAST(max(pos_a) + 2 - diag AS INTEGER) AS end_b,
                CAST(count(*) AS BIGINT) AS n_anchors
         FROM rr GROUP BY doc_a, doc_b, diag, run
         ORDER BY doc_a, doc_b, start_a, start_b""",

    // q179: q175's selection replay with positions retained, then the
    // df-capped position-pair self-join — every alignment anchor
    "q179_winnow_alignments" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
                    FROM documents
                    WHERE text IS NOT NULL AND len(string_split(text, ' ')) >= 3),
         g AS (SELECT doc_id, len(toks) - 2 AS m, i - 1 AS pos,
                      array_to_string(toks[i:i+2], ' ') AS tok
               FROM (SELECT doc_id, toks,
                            unnest(range(1, len(toks) - 1)) AS i
                     FROM t)),
         h AS (SELECT doc_id, m, pos,
                      list_reduce(list_prepend(CAST(0 AS BIGINT),
                        list_transform(range(1, length(tok) + 1),
                          i -> CAST(ascii(substr(tok, i, 1)) AS BIGINT))),
                        (acc, c) -> (acc * 31 + c) % 1000000007) * 2147483648
                      + list_reduce(list_prepend(CAST(0 AS BIGINT),
                        list_transform(range(1, length(tok) + 1),
                          i -> CAST(ascii(substr(tok, i, 1)) AS BIGINT))),
                        (acc, c) -> (acc * 131 + c) % 998244353) AS h
               FROM g),
         wins AS (SELECT doc_id, pos, h,
                         unnest(range(greatest(pos - 3, 0),
                           least(pos, greatest(m - 4, 0)) + 1)) AS s
                  FROM h),
         sel AS (SELECT DISTINCT doc_id, pos, h FROM (
                   SELECT doc_id, s, pos, h,
                          row_number() OVER (PARTITION BY doc_id, s
                                             ORDER BY h ASC, pos DESC) AS rn
                   FROM wins) WHERE rn = 1),
         dfh AS (SELECT h, count(*) AS hdf
                 FROM (SELECT DISTINCT doc_id, h FROM sel) GROUP BY h),
         kept AS (SELECT sel.doc_id, sel.pos, sel.h FROM sel
                  JOIN dfh USING (h) WHERE hdf <= 20)
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.h AS h,
                CAST(a.pos AS INTEGER) AS pos_a,
                CAST(b.pos AS INTEGER) AS pos_b
         FROM kept a JOIN kept b
           ON a.h = b.h AND a.doc_id < b.doc_id
         ORDER BY doc_a, doc_b, h, pos_a, pos_b""",

    // ownership on the window TEXT where the engine uses a double-modulus
    // rolling hash (collision odds ~2^-61 per pair); a token survives iff
    // no non-first window covers it OR an owned duplicated window covers
    // it (the periodic-repeat protection — first corpus occurrence of
    // every duplicated run survives intact)
    "q80_dedup_substring" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
                    FROM documents WHERE text IS NOT NULL),
         w AS (SELECT doc_id, u AS i,
                      array_to_string(toks[(u+1):(u+20)], ' ') AS win
               FROM (SELECT doc_id, toks,
                            unnest(range(0, greatest(len(toks) - 19, 0))) AS u
                     FROM t)),
         k AS (SELECT doc_id, i,
                      row_number() OVER (PARTITION BY win
                                         ORDER BY doc_id, i) AS rn,
                      count(*) OVER (PARTITION BY win) AS cnt
               FROM w),
         s AS (SELECT doc_id, list_sort(list(i)) AS starts
               FROM k WHERE rn > 1 GROUP BY doc_id),
         p AS (SELECT doc_id, list_sort(list(i)) AS own_starts
               FROM k WHERE rn = 1 AND cnt > 1 GROUP BY doc_id),
         r AS (SELECT t.doc_id, t.toks,
                      list_filter(range(0, len(t.toks)),
                        j -> len(list_filter(
                               coalesce(s.starts, CAST([] AS BIGINT[])),
                               st -> st <= j AND j < st + 20)) = 0
                             OR len(list_filter(
                               coalesce(p.own_starts, CAST([] AS BIGINT[])),
                               st -> st <= j AND j < st + 20)) > 0) AS keep
               FROM t LEFT JOIN s ON t.doc_id = s.doc_id
                      LEFT JOIN p ON t.doc_id = p.doc_id)
         SELECT d.doc_id,
                CAST(CASE WHEN d.text IS NULL THEN 0
                          ELSE len(r.toks) END AS INTEGER) AS n_tokens,
                CAST(CASE WHEN d.text IS NULL THEN 0
                          ELSE len(r.toks) - len(r.keep) END AS INTEGER) AS n_removed,
                CASE WHEN d.text IS NULL THEN ''
                     -- coalesce: DuckDB's array_to_string of an EMPTY list
                     -- is NULL, the engine's array_join is ''
                     ELSE coalesce(array_to_string(list_transform(r.keep,
                            j -> r.toks[CAST(j + 1 AS INTEGER)]), ' '), '')
                END AS clean_text
         FROM documents d LEFT JOIN r ON d.doc_id = r.doc_id
         ORDER BY d.doc_id"""
  )
}
