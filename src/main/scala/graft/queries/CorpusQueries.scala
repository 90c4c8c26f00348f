package graft.queries

import graft.ext.Corpus
import graft.ops.Family
import graft.ops.Tables.{sfTag, t}
import org.apache.spark.sql.functions._

/** Corpus-management queries: deterministic splitting + decontamination.
  *
  * Both carry full DuckDB equality oracles: the split bucket is the q23
  * rolling fingerprint mod 100, and decontamination joins on n-gram
  * EQUALITY (the engine's xxhash64 gram keys collide with probability
  * 2⁻⁶⁴ per gram pair — the oracle joins the gram strings directly).
  */
object CorpusQueries {
  import ParityQueries.Q

  val queries: Map[String, Q] = Map(
    "q53_split_assign" -> ((s, d) =>
      Corpus.splitAssign(t(s, d, "documents"), "text")
        .select(col("doc_id"), col("bucket"), col("split"))
        .orderBy("doc_id")),

    "q147_epoch_shards" -> ((s, d) => {
      // two epochs of the deterministic training-order shuffle over one
      // corpus: per (epoch, doc), the shard label and intra-shard sort
      // key. The epochs must be DIFFERENT permutations of the SAME docs
      // (the oracle replays both md5 keys and both shard folds), and
      // everything is a map-only label — the one exchange is the final
      // deterministic presentation sort
      val docs = t(s, d, "documents")
      Corpus.epochShards(docs, "doc_id", epoch = 0, nShards = 16)
        .unionByName(
          Corpus.epochShards(docs, "doc_id", epoch = 1, nShards = 16))
        .orderBy("epoch", "shard", "sort_key", "doc_id")
    }),

    "q148_temperature_mixture" -> ((s, d) => {
      // α=1/2 temperature flattening over a deliberately SKEWED source
      // grouping (the testdata's sources are uniform, which would make
      // every rate 1000‰ — a no-op; 4:2:1 group sizes exercise real
      // downsampling): 'big' lands near 500‰, 'mid' near 707‰, 'rare'
      // anchors at 1000‰. Oracle replays counts, the sqrt-ratio rate,
      // and the fingerprint keep decision
      val docs = t(s, d, "documents").withColumn("grp",
        when(pmod(col("doc_id"), lit(7)) < 4, lit("big"))
          .when(pmod(col("doc_id"), lit(7)) < 6, lit("mid"))
          .otherwise(lit("rare")))
      Corpus.temperatureResample(docs, "text", "grp")
        .select(col("doc_id"), col("grp"), col("n_source"), col("rate_pm"))
        .orderBy("doc_id")
    }),

    "q54_decontaminate" -> ((s, d) => {
      val docs = Corpus.splitAssign(t(s, d, "documents"), "text")
      Corpus.decontaminate(
        docs.where(col("split") === "train"),
        docs.where(col("split") === "test"),
        "text", "doc_id", n = 5, minShared = 1)
        .orderBy("eval_id", "train_id")
    }),

    "q79_decontaminate_filter" -> ((s, d) => {
      // enforcement: the train split with leaking documents REMOVED —
      // what the training-file writer consumes after reading q54's report
      val docs = Corpus.splitAssign(t(s, d, "documents"), "text")
      Corpus.decontaminateFilter(
        docs.where(col("split") === "train"),
        docs.where(col("split") === "test"),
        "text", "doc_id", n = 5, minShared = 1)
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    }),

    "q142_split_leakage_matrix" -> ((s, d) =>
      // the release gate: pairwise n-gram leakage across all three
      // splits as one matrix — leak-pair counts, distinct leaking docs
      // per side, shared-gram mass, zero rows for clean pairs. Oracle
      // replays split assignment, gram sets, the corpus-wide stop cap,
      // and every rollup count.
      Corpus.splitLeakageMatrix(
        Corpus.splitAssign(t(s, d, "documents"), "text"),
        "text", "doc_id", n = 5, minShared = 1)
        .orderBy("split_a", "split_b")),

    "q87_contamination_overlap" -> ((s, d) => {
      // corpus-level dirtiness statistic: per test doc, the fraction of
      // its distinct 3-grams that appear anywhere in the train split —
      // the overlap measure reported next to benchmark scores, companion
      // to q54's per-pair report and q72's sentence-leak count
      val docs = Corpus.splitAssign(t(s, d, "documents"), "text")
      Corpus.contaminationOverlap(
        docs.where(col("split") === "train"),
        docs.where(col("split") === "test"),
        "text", "doc_id", n = 3)
        .orderBy("eval_id")
    }),

    "q72_decontaminate_sentences" -> ((s, d) => {
      // eval-leak check at SENTENCE granularity: per test doc, how many
      // of its sentences appear verbatim anywhere in the train split.
      // The fixture corpus carries no [.!?] punctuation, so here every
      // document is one sentence and the expected result is all-zero
      // leaks — which is itself a designed property under test: content-
      // fingerprint splitting can never put byte-identical text in two
      // splits. Multi-sentence leak detection is pinned by CorpusSpec.
      val docs = Corpus.splitAssign(t(s, d, "documents"), "text")
      Corpus.decontaminateSentences(
        docs.where(col("split") === "train"),
        docs.where(col("split") === "test"),
        "text", "doc_id", minChars = 20)
        .orderBy("eval_id")
    }),

    "q55_stream_quality_gate" -> ((s, d) =>
      // the text/corpus expressions under a REAL streaming query — same
      // columns, same results as the batch dual (stateless append mode)
      graft.streaming.DocumentStreams.qualityGate(s, d, stopwords)
        .orderBy("doc_id")),

    "q60_pack_sequences" -> ((s, d) =>
      // fixed-token-budget packing per source shard, deterministic by
      // doc_id order — the training-file writer's group assignment
      Corpus.packSequences(t(s, d, "documents"), "text",
        shardCol = "source", orderCol = "doc_id", budget = 256L)
        .select(col("doc_id"), col("source"), col("n_tokens"), col("pack_id"))
        .orderBy("doc_id")),

    "q59_mixture_sample" -> ((s, d) =>
      // training-mix weighting: downsample two crawl-ish sources, keep the
      // rest whole; decision is the content fingerprint's per-mille bucket
      Corpus.mixtureSample(t(s, d, "documents"), "text", "source",
        ratesPerMille = Map("src0" -> 250, "src1" -> 500))
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")),

    "q58_stream_dedup" -> ((s, d) =>
      // stateful streaming dedup, state bounded by the ingest watermark;
      // the emitted hash SET is deterministic (which row carried it isn't,
      // so only the hash column leaves the operator)
      graft.streaming.DocumentStreams.streamingDedup(s, d)
        .orderBy("content_hash")),

    "q76_stream_incremental_dedup" -> ((s, d) =>
      // continuous daily-ingest: the stream anti-joins a static known-hash
      // manifest (here: every third document plays yesterday's corpus),
      // in-stream dups collapse under the watermark — q56/q63's contract
      // as a forever-running query
      graft.streaming.DocumentStreams.streamingIncrementalDedup(s, d,
        t(s, d, "documents").where(pmod(col("doc_id"), lit(3)) === 0))
        .orderBy("content_hash")),

    "q86_stream_neardup_manifest" -> ((s, d) => {
      // continuous near-dup ingest: the stream probes q84's persisted LSH
      // manifest via stream-static equi-joins (zero join state; the only
      // state is the watermark-evicted emission dedup) and flags arriving
      // docs with Jaccard ≥ 0.9 against yesterday's corpus
      val docs = t(s, d, "documents")
      val path = s"target/graft-minhash-manifest-stream-${sfTag(d)}"
      graft.ext.Dedup.saveMinhashManifest(
        docs.where(pmod(col("doc_id"), lit(10)) < 5), "text", "doc_id",
        path, k = 32, bands = 16)
      graft.streaming.DocumentStreams.streamingNearDupFlags(s, d, path,
        newFilter = pmod(col("doc_id"), lit(10)) >= 5, threshold = 0.9)
        .orderBy("doc_id")
    }),

    "q62_stratified_sample" -> ((s, d) =>
      // balanced eval-set construction: exactly 10 docs per source, chosen
      // by content fingerprint — deterministic, skew-immune
      Corpus.stratifiedSample(t(s, d, "documents"), "text",
        stratumCol = "source", idCol = "doc_id", k = 10)
        .select(col("doc_id"), col("source"), col("sample_rank"))
        .orderBy("doc_id")),

    "q56_dedup_incremental" -> ((s, d) => {
      // daily-ingest shape: new batch anti-joined against the existing
      // corpus manifest by content hash, then collapsed to keepers
      val docs = t(s, d, "documents")
      graft.ext.Dedup.incrementalNew(
        docs.where(pmod(col("doc_id"), lit(10)) >= 6),
        docs.where(pmod(col("doc_id"), lit(10)) < 6),
        "text", "doc_id")
        .orderBy("keeper_id")
    }),

    "q81_lm_perplexity" -> ((s, d) => {
      // CCNet-shaped quality signal: per-doc surprisal under a bigram LM
      // trained on the corpus itself, in pure INTEGER log2 arithmetic so
      // the score replays exactly in any engine
      val docs = t(s, d, "documents")
      Corpus.lmPerplexity(docs, docs, "text", "doc_id")
        .orderBy("doc_id")
    }),

    "q85_budget_select" -> ((s, d) => {
      // data selection under a token budget: keep the best documents by a
      // quality score until half the corpus's tokens are spent, prefix
      // rule over (score DESC, doc_id ASC). Fixture score = distinct-token
      // count (integer, heavily tied — exercising the straddling-class
      // resolution); q73's learned score drops in unchanged. The corpus is
      // never globally sorted — admission is decided against the score
      // HISTOGRAM's running totals (see Corpus.budgetSelect).
      val docs = t(s, d, "documents")
      Corpus.budgetSelect(docs, "text", "doc_id",
        size(array_distinct(split(col("text"), " "))).cast("long"),
        budgetPerMille = 500)
        .orderBy("doc_id")
    }),

    "q112_budget_select_by_source" -> ((s, d) => {
      // q85's selection with an INDEPENDENT budget per source: each source
      // keeps its best half (by tokens), so one dominant crawl cannot
      // spend the corpus-wide budget — the per-source cap of a mixture
      // design. Same histogram discipline, keyed by source.
      val docs = t(s, d, "documents")
      Corpus.budgetSelectBy(docs, "text", "doc_id",
        size(array_distinct(split(col("text"), " "))).cast("long"),
        partitionCols = Seq("source"), budgetPerMille = 500)
        .orderBy("doc_id")
    }),

    "q120_dsir_select" -> ((s, d) => {
      // DSIR-style domain-targeted selection (Xie et al., NeurIPS 2023):
      // score every document by the hashed-bigram importance log-ratio
      // between a TARGET domain sample (here the English subset — the
      // "select data that looks like my curated domain" use) and the raw
      // corpus, in integer bits (engine-portable floor-log₂, q81's
      // trick). selected = more target-like than corpus-average. The
      // model is 64 hashed buckets — corpus-size-invariant by
      // construction, broadcast into the scoring join.
      val docs = t(s, d, "documents")
      Corpus.dsirWeights(docs, docs.where(col("lang") === "en"),
        "text", "doc_id", buckets = 64)
        .orderBy("doc_id")
    }),

    "q126_stream_drift_monitor" -> ((s, d) => {
      // q124's pre-admission drift check LIVE on the ingest stream: the
      // new crawl's bucket histogram is complete-mode streaming state
      // (corpus-size-invariant), the reference half is static. Counts
      // are order-insensitive sums, so the report equals the batch
      // drift — q124's oracle verbatim.
      val docs = t(s, d, "documents")
      graft.streaming.DocumentStreams.streamingDriftMonitor(s, d,
        reference = docs.where(pmod(col("doc_id"), lit(2)) === 0),
        newFilter = pmod(col("doc_id"), lit(2)) === 1,
        bucketWidth = 8)
        .orderBy("bucket")
    }),

    "q124_corpus_drift" -> ((s, d) => {
      // snapshot drift report: token-length histogram shares of two
      // corpus halves in INTEGER ppm, per-bucket absolute difference —
      // the total-variation terms (TVD = Σ delta_ppm / 2) a pipeline
      // owner checks before admitting a new crawl into the mixture. No
      // float division decides any drift number.
      val docs = t(s, d, "documents")
      Corpus.histogramDrift(
        docs.where(pmod(col("doc_id"), lit(2)) === 0),
        docs.where(pmod(col("doc_id"), lit(2)) === 1),
        "text", bucketWidth = 8)
        .orderBy("bucket")
    }),

    "q122_doc_novelty" -> ((s, d) =>
      // corpus-internal uniqueness: per document, the fraction of its
      // distinct trigrams appearing in at least one OTHER document — the
      // cross-document template/boilerplate signal intra-doc repetition
      // (q61) cannot see. 8-byte gram hashes through every exchange.
      Corpus.docNovelty(t(s, d, "documents"), "text", "doc_id", n = 3)
        .orderBy("doc_id")),

    "q113_pipeline_funnel" -> ((s, d) =>
      // the composed cleaning pipeline's attrition report: ingest →
      // quality gate → normalized exact dedup → token-budget selection,
      // one row per stage with surviving doc/token counts — the funnel a
      // corpus owner reads before a training run. Every stage is an
      // operator this library ships standalone (q21/q78/q85); the funnel
      // pins that they COMPOSE, gate order included (dedup keepers are
      // chosen among quality survivors only). 0.68 sits just under the
      // fixture's median quality, so the gate visibly bites; the fixture
      // has no normalized-dup pairs at sf0.01 (8 at sf0.1), so the dedup
      // stage's nonzero attrition is pinned by CorpusSpec instead.
      Corpus.pipelineFunnel(t(s, d, "documents"), "text", "doc_id",
        stopwords, qualityMin = 0.68, budgetPerMille = 500)
        .orderBy("stage_idx")),

    "q150_training_prep_funnel" -> ((s, d) =>
      // the round-12 capstone: q113's funnel extended with the semantic
      // decontam gate (q146's scoring as a stage) and the temperature
      // mixture (q148's rates over the SURVIVORS — upstream attrition
      // reshapes the source counts the flattening corrects). The oracle
      // replays every stage: quality expr, normalized-dedup keepers,
      // the max-cos contamination verdicts, and the sqrt-ratio rates +
      // fingerprint decision over the post-decontam counts
      Corpus.trainingPrepFunnel(
        t(s, d, "documents"), t(s, d, "embeddings"),
        "text", "doc_id", stopwords, qualityMin = 0.68,
        probeFilter = pmod(col("vec_id"), lit(20)) === 7,
        decontamThreshold = 0.35, sourceCol = "source")
        .orderBy("stage_idx")),

    "q91_lm_perplexity_indexed" -> ((s, d) => {
      // the CCNet deployment shape: the reference LM (trained on the
      // train split) persists to disk ONCE, and each later batch (here
      // the test split) scores against the loaded counts — no training
      // pass per batch. Unseen test bigrams hit the add-one floor via
      // the left joins.
      val docs = Corpus.splitAssign(t(s, d, "documents"), "text")
      val path = s"target/graft-lm-${sfTag(d)}"
      Corpus.saveLm(docs.where(col("split") === "train"), "text", "doc_id",
        path)
      Corpus.lmPerplexityIndexed(
        docs.where(col("split") === "test" && col("text").isNotNull),
        path, "text", "doc_id")
        .orderBy("doc_id")
    }),

    "q162_bpe_train" -> ((s, d) =>
      // tokenizer TRAINING: the first 8 BPE merges learned from the
      // corpus's word-frequency table (Sennrich et al.) — pair counts,
      // deterministic (count DESC, left, right) argmax, left-to-right
      // merge application as a codegen'd fold. The oracle replays the
      // ENTIRE training loop: 8 chained CTE generations of the symbol
      // table, each applying the previous argmax merge with the same
      // string-accumulator fold.
      Corpus.bpeMerges(t(s, d, "documents"), "text", nMerges = 8)),

    "q192_pack_efficiency" -> ((s, d) => {
      // the packing-efficiency report the training-file writer
      // monitors: per shard, documents, packs, BPE tokens, and FILL
      // (tokens·10⁶ div packs·budget) — a low fill ppm means wasted
      // sequence slots (padding) and argues for a different budget or
      // doc ordering. q184's composition rolled up per source.
      import s.implicits._
      val docs = t(s, d, "documents")
      val merges = Corpus.bpeMergesInMemory(docs, "text", nMerges = 8)
        .orderBy("rank").select("left", "right")
        .as[(String, String)].collect().toSeq
      val seg = Corpus.bpeSegmentCounts(docs, "text", "doc_id", merges)
      Corpus.packSequencesBy(
        docs.select(col("doc_id"), col("source"))
          .join(seg.select(col("doc_id"), col("n_bpe_tokens")), Seq("doc_id")),
        "n_bpe_tokens", shardCol = "source", orderCol = "doc_id",
        budget = 512L)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("pack_id")).as("n_packs"),
          sum(col("n_bpe_tokens")).as("n_bpe_tokens"))
        .select(col("source"), col("n_docs"), col("n_packs"),
          col("n_bpe_tokens"),
          expr("n_bpe_tokens * 1000000L div (n_packs * 512L)")
            .as("fill_ppm"))
        .orderBy("source")
    }),

    "q186_bpe_fertility" -> ((s, d) => {
      // tokenizer FERTILITY by language: BPE tokens per word in integer
      // ppm, per lang group — the diagnostic a vocabulary owner reads
      // before reallocating merges across languages. Trains the
      // in-memory 8-merge table, segments, rolls up. The oracle replays
      // training, segmentation, and every ppm ratio.
      import s.implicits._
      val docs = t(s, d, "documents")
      val merges = Corpus.bpeMergesInMemory(docs, "text", nMerges = 8)
        .orderBy("rank").select("left", "right")
        .as[(String, String)].collect().toSeq
      Corpus.bpeFertility(docs, "text", "doc_id", "lang", merges)
        .orderBy("lang")
    }),

    "q197_unigram_train" -> ((s, d) => {
      // the OTHER production tokenizer: SentencePiece-style unigram-LM
      // training — substring seed, top-k multi-char pieces, two hard-EM
      // rounds of integer-bits Viterbi + count M-step with natural
      // pruning. All statistics integer, so the oracle replays the seed,
      // every Viterbi argmin, the re-counts, the prune, and the final
      // costs — the trained MODEL is the checked artifact.
      Corpus.unigramTrain(t(s, d, "documents"), "text",
        seedSize = 24, maxPieceLen = 3, iters = 2)
        .orderBy(col("n_uses").desc, col("piece"))
    }),

    "q223_unigram_soft_fp" -> ((s, d) =>
      // soft (expectation-weighted) unigram-LM EM in SHARED FIXED POINT
      // — the round-16 determinism upgrade that moves soft-EM from
      // property-tested into the exact-replay oracle set: every
      // transcendental is a defined integer function over tables both
      // sides share (graft.ops.Fp), M-step sums are order-free integer
      // sums, and the oracle replays seed, both forward-backward
      // E-steps, the posterior quantization, the prune, and the final
      // fp-bit costs bit-for-bit
      Corpus.unigramTrainSoftFp(t(s, d, "documents"), "text",
        seedSize = 24, maxPieceLen = 3, iters = 2)
        .orderBy(col("exp_uses_micro").desc, col("piece"))),

    "q198_pack_unigram_budget" -> ((s, d) => {
      // q184's packing composition on the UNIGRAM tokenizer: train,
      // segment every document with the trained costs (packed-long
      // Viterbi HOF over the distinct-word dictionary), pack per source
      // shard on the unigram token budget. The oracle replays training,
      // segmentation, AND the prefix-sum pack assignment.
      val docs = t(s, d, "documents")
      val model = Corpus.unigramTrain(docs, "text",
        seedSize = 24, maxPieceLen = 3, iters = 2)
      val seg = Corpus.unigramSegmentCounts(docs, "text", "doc_id", model)
      Corpus.packSequencesBy(
        docs.select(col("doc_id"), col("source"))
          .join(seg.select(col("doc_id"), col("n_unigram_tokens")),
            Seq("doc_id")),
        "n_unigram_tokens", shardCol = "source", orderCol = "doc_id",
        budget = 256L)
        .select("doc_id", "source", "n_unigram_tokens", "pack_id")
        .orderBy("doc_id")
    }),

    "q184_pack_bpe_budget" -> ((s, d) => {
      // the PRODUCTION packing composition: train the tokenizer (the
      // in-memory loop, 8 merges to stay oracle-tractable), segment
      // every document, then pack per source shard on the BPE token
      // budget — models consume BPE tokens, so this is the count the
      // training-file writer actually budgets on. The oracle replays
      // training, segmentation, AND the prefix-sum pack assignment.
      import s.implicits._
      val docs = t(s, d, "documents")
      val merges = Corpus.bpeMergesInMemory(docs, "text", nMerges = 8)
        .orderBy("rank").select("left", "right")
        .as[(String, String)].collect().toSeq
      val seg = Corpus.bpeSegmentCounts(docs, "text", "doc_id", merges)
      Corpus.packSequencesBy(
        docs.select(col("doc_id"), col("source"))
          .join(seg.select(col("doc_id"), col("n_bpe_tokens")), Seq("doc_id")),
        "n_bpe_tokens", shardCol = "source", orderCol = "doc_id",
        budget = 512L)
        .select("doc_id", "source", "n_bpe_tokens", "pack_id")
        .orderBy("doc_id")
    }),

    "q177_pmi_collocations" -> ((s, d) =>
      // Church & Hanks collocation mining: top-50 adjacent pairs by
      // integer-bits PMI with the min-count-5 hapax guard — products in
      // DECIMAL(38,0) so the same query survives 100 TB counts. The
      // testdata draws words near-uniformly (no pair clears a full PMI
      // bit), so the query runs at minLift = 1 — the at-least-
      // independence floor — to exercise real output; the oracle
      // replays the counts, the HUGEINT lift, the floor, and the
      // total-order top-k.
      Corpus.pmiCollocations(t(s, d, "documents"), "text", "doc_id",
        k = 50, minCount = 5L, minLift = 1L)),

    "q176_bpe_train_production" -> ((s, d) =>
      // tokenizer training PHASE 2 (the production path): the classic
      // in-memory Sennrich merge loop over the one-distributed-pass
      // word-frequency table — 64 merges here, 30k at production, with
      // incremental pair-count maintenance so depth costs argmax scans,
      // not corpus passes. Output-identical to the distributed
      // bootstrap (CorpusSpec property); the oracle replays all 64
      // training generations.
      Corpus.bpeMergesInMemory(t(s, d, "documents"), "text", nMerges = 64)),

    "q163_bpe_segment" -> ((s, d) => {
      // the apply half: train the 8 merges, segment every document with
      // them via the broadcast word dictionary, report whitespace vs
      // BPE token counts — the sequence-length accounting packing and
      // budget decisions need. The oracle replays training AND the
      // dictionary join.
      import s.implicits._
      val docs = t(s, d, "documents")
      val merges = Corpus.bpeMerges(docs, "text", nMerges = 8)
        .orderBy("rank").select("left", "right")
        .as[(String, String)].collect().toSeq
      Corpus.bpeSegmentCounts(docs, "text", "doc_id", merges)
        .orderBy("doc_id")
    }),

    "q169_heavy_hitters_cms" -> ((s, d) => {
      // the fixed-size mergeable frequency summary: two disjoint halves
      // sketched separately, MERGED (q96's incremental report-card move,
      // but with CONSTANT state — 4×1024 cells no matter the vocabulary),
      // then every distinct token point-estimated against the merged
      // sketch; heavy hitters = est ≥ N/200. The oracle replays the
      // double-hash cells, the min-over-depth estimates, and the exact
      // counts, so the CMS ≥-truth guarantee is value-checked per token.
      val docs = t(s, d, "documents")
      val (depth, width) = (4, 1024)
      val sketch = Corpus.cmsMerge(Seq(
        Corpus.cmsTokenSketch(
          docs.where(pmod(col("doc_id"), lit(2)) === 0), "text", depth, width),
        Corpus.cmsTokenSketch(
          docs.where(pmod(col("doc_id"), lit(2)) === 1), "text", depth, width)))
      val toks = docs.where(col("text").isNotNull)
        .select(explode(split(col("text"), " ")).as("tok"))
      val exact = toks.groupBy("tok").agg(count(lit(1)).as("exact"))
      val total = toks.agg(count(lit(1)).as("n"))
      Corpus.cmsEstimates(sketch, exact.select("tok"), depth, width)
        .join(exact, Seq("tok"))
        .crossJoin(broadcast(total))
        .where(col("est") * 200 >= col("n"))
        .select(col("tok"), col("est"), col("exact"),
          (col("est") - col("exact")).as("overcount"))
        .orderBy("tok")
    }),

    "q170_hll_distinct" -> ((s, d) => {
      // the fixed-size mergeable DISTINCT-count summary: per-half HLL
      // registers MAXed together (m = 64 rows of state forever — the
      // cross-day vocabulary-growth monitor), finalized into the
      // all-integer estimate; the exact distinct count rides along so
      // the estimator's error is itself under the oracle.
      val docs = t(s, d, "documents")
      val regs = Corpus.hllMerge(Seq(
        Corpus.hllTokenRegisters(
          docs.where(pmod(col("doc_id"), lit(2)) === 0), "text"),
        Corpus.hllTokenRegisters(
          docs.where(pmod(col("doc_id"), lit(2)) === 1), "text")))
      val exact = docs.where(col("text").isNotNull)
        .select(explode(split(col("text"), " ")).as("tok"))
        .agg(countDistinct(col("tok")).as("exact_distinct"))
      Corpus.hllEstimate(regs).crossJoin(broadcast(exact))
        .select(col("m"), col("zero_registers"), col("s"),
          col("est_distinct"), col("exact_distinct"),
          (col("est_distinct") - col("exact_distinct")).as("err"))
    }),

    "q168_kneser_ney" -> ((s, d) => {
      // the KenLM/CCNet smoothing itself: interpolated Kneser–Ney with
      // D = 3/4 and an add-one continuation floor, every probability a
      // ratio of pure integers (the distribution sums to exactly 1 —
      // see Corpus.kneserNeyBits), scored over q91's train/test split.
      // The oracle replays the continuation counts N1+(p·)/N1+(·w),
      // the interpolation, and the unseen-prefix fallback per gram.
      val docs = Corpus.splitAssign(t(s, d, "documents"), "text")
      Corpus.kneserNeyBits(
        docs.where(col("split") === "train"),
        docs.where(col("split") === "test" && col("text").isNotNull),
        "text", "doc_id")
        .orderBy("doc_id")
    }),

    "q160_stupid_backoff" -> ((s, d) => {
      // the web-scale LM scoring recipe (Brants et al.): seen trigrams
      // score by relative frequency, misses back off trigram → bigram →
      // smoothed unigram at exactly one penalty bit per level (α = 1/2,
      // integral by design) — q91's train/test split; ~46% of test
      // trigrams are unseen at sf0.01. The natural split never reaches
      // the LAST rung at this sf (every test-split BIGRAM is seen in
      // train), so the score set also carries a deterministic OOV
      // variant of each test doc — every token '~v'-suffixed, doc_id
      // offset by 10M — whose trigrams all fall through to the add-one
      // unigram floor; the oracle replays the same variant, so all
      // three ladder rungs are DuckDB-checked.
      val docs = Corpus.splitAssign(t(s, d, "documents"), "text")
      val test = docs.where(col("split") === "test" && col("text").isNotNull)
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val oov = test.select((col("doc_id") + lit(10000000L)).as("doc_id"),
        expr("concat(replace(text, ' ', '~v '), '~v')").as("text"))
      Corpus.stupidBackoffBits(
        docs.where(col("split") === "train"),
        test.unionByName(oov), "text", "doc_id")
        .orderBy("doc_id")
    }),

    "q157_nb_class_filter" -> ((s, d) => {
      // the fastText/CCNet classifier-filter stage: train a multinomial
      // Naive Bayes on a labeled reference class (here lang = 'en' —
      // CCNet's "is Wikipedia" seed, with the testdata's label), score
      // every document's class log-odds in INTEGER floor-log₂ bits
      // (q81's no-float-log discipline — the trained model itself
      // replays exactly), keep = margin ≥ 0. The oracle re-derives the
      // class counts, every per-token weight, and every verdict.
      val docs = t(s, d, "documents")
      Corpus.nbClassBits(docs, docs, col("lang") === "en", "text", "doc_id")
        .orderBy("doc_id")
    }),

    "q140_perplexity_buckets" -> ((s, d) => {
      // CCNet head/middle/tail: score the test split against the
      // train-split LM, then bucket by integer bits_x100 terciles —
      // score-class granular, so every boundary decision is integer
      // arithmetic the oracle replays exactly (q91's replay + the same
      // histogram cumsum + the same div rule).
      val docs = Corpus.splitAssign(t(s, d, "documents"), "text")
      val path = s"target/graft-lm-buckets-${sfTag(d)}"
      Corpus.saveLm(docs.where(col("split") === "train"), "text", "doc_id",
        path)
      Corpus.perplexityBuckets(
        docs.where(col("split") === "test" && col("text").isNotNull),
        path, "text", "doc_id", nBuckets = 3)
        .orderBy("doc_id")
    }),

    "q131_lm_frozen_snapshot" -> ((s, d) => {
      // FROZEN-MODEL scoring: pin the model, grow it with the val split
      // (delta appends land new files next to the pinned ones), then
      // score the test split from the PIN — which must equal scoring
      // against the train-only model, q91's oracle verbatim. This is
      // the file-list pin earning its keep on the one delta-maintained
      // index: a directory pin would absorb the appended counts and
      // every score would drift.
      val docs = Corpus.splitAssign(t(s, d, "documents"), "text")
      val path = s"target/graft-lm-frozen-${sfTag(d)}"
      Corpus.saveLm(docs.where(col("split") === "train"), "text", "doc_id",
        path)
      Corpus.Lm.snapshot(s, path, "eval_pin")
      Corpus.appendToLm(docs.where(col("split") === "val"), path,
        "text", "doc_id", opId = "grow_val")
      Corpus.lmPerplexityIndexed(
        docs.where(col("split") === "test" && col("text").isNotNull),
        path, "text", "doc_id", at = Family.Pinned("eval_pin"))
        .orderBy("doc_id")
    }),

    "q116_stream_lm_ingest" -> ((s, d) => {
      // the LM lifecycle CLOSED over streaming (q109's shape for the
      // model counts): the reference LM grows from a document stream —
      // train-split filter stream-side, then per-micro-batch count
      // deltas with EXACTLY-ONCE publish (appendToLm(batchId = …): a
      // replayed plain append would double the batch's counts and change
      // every score; replay windows pinned in CorpusSpec) — is compacted
      // (delta trail folded to one row per key), then scores the test
      // split. Counts are exact sums regardless of batching, so the
      // streamed model scores bit-identically to q91's one-shot build —
      // q91's oracle verbatim.
      val path = s"target/graft-stream-lm-${sfTag(d)}"
      val conf = s.sparkContext.hadoopConfiguration
      Seq(path, s"$path.ckpt").foreach { dir =>
        val p = new org.apache.hadoop.fs.Path(dir)
        val fs = p.getFileSystem(conf)
        if (fs.exists(p)) fs.delete(p, true)
      }
      val stream = Corpus.splitAssign(
        s.readStream.schema(graft.streaming.DocumentStreams.docSchema)
          .parquet(s"$d/documents.*"), "text")
        .where(col("split") === "train")
      // self-maintaining sink: auto-compaction bounds delta-file and
      // ledger growth; the drained model is compacted before scoring
      Corpus.Lm.ingest(stream, path)((batch, batchId) =>
        Corpus.appendToLm(batch, path, "text", "doc_id",
          batchId = Some(batchId)))
      val docs = Corpus.splitAssign(t(s, d, "documents"), "text")
      Corpus.lmPerplexityIndexed(
        docs.where(col("split") === "test" && col("text").isNotNull),
        path, "text", "doc_id")
        .orderBy("doc_id")
    }),

    "q63_dedup_bloom_incremental" -> ((s, d) => {
      // q56's ingest shape with the Bloom prefilter: identical output
      // contract (the sketch has no false negatives), but the anti-join
      // probe exchange carries only the sketch-positive fraction of the
      // batch. Different split than q56 so the two exercise different
      // batch compositions.
      val docs = t(s, d, "documents")
      graft.ext.Dedup.incrementalNewBloom(
        docs.where(pmod(col("doc_id"), lit(10)) >= 4),
        docs.where(pmod(col("doc_id"), lit(10)) < 4),
        "text", "doc_id")
        .orderBy("keeper_id")
    }),

    "q96_stats_merge" -> ((s, d) => {
      // the INCREMENTAL report-card path: per-"day" token histograms are
      // the mergeable state — summing them reproduces the union's
      // histogram, so the accumulated corpus is never re-scanned. The
      // oracle is q74's whole-corpus SQL: merge(parts) must equal
      // recompute(whole) exactly.
      val docs = t(s, d, "documents")
      val keys = Seq("source", "lang")
      val day1 = graft.ext.Corpus.tokenHistogram(
        docs.where(pmod(col("doc_id"), lit(2)) === 0), keys, "text")
      val day2 = graft.ext.Corpus.tokenHistogram(
        docs.where(pmod(col("doc_id"), lit(2)) === 1), keys, "text")
      graft.ext.Corpus.statsFromHistogram(
        graft.ext.Corpus.mergeHistograms(Seq(day1, day2), keys), keys)
        .orderBy("source", "lang")
    }),

    "q107_lm_index_delete" -> ((s, d) => {
      // right-to-be-forgotten on the persisted LM: every model statistic
      // is a count, so deletion is exact subtraction — the shrunk model
      // must score bit-identically to a fresh train over the surviving
      // train docs (the oracle trains on exactly those)
      val docs = Corpus.splitAssign(t(s, d, "documents"), "text")
      val path = s"target/graft-lm-delete-${sfTag(d)}"
      val train = docs.where(col("split") === "train")
      Corpus.saveLm(train, "text", "doc_id", path)
      Corpus.deleteFromLm(
        train.where(pmod(col("doc_id"), lit(10)) === 3), path,
        "text", "doc_id", opId = "q107_forget")
      Corpus.lmPerplexityIndexed(
        docs.where(col("split") === "test" && col("text").isNotNull),
        path, "text", "doc_id")
        .orderBy("doc_id")
    }),

    "q101_stream_stats" -> ((s, d) =>
      // the report card maintained OVER THE INGEST STREAM: complete-mode
      // histogram aggregation whose state is corpus-size-invariant, then
      // the same exact-quantile finalization as q74 (whose oracle this
      // must match bit-for-bit)
      graft.streaming.DocumentStreams.streamingStats(
        s, d, Seq("source", "lang"))
        .orderBy("source", "lang")),

    "q98_length_outliers" -> ((s, d) => {
      // stats-DRIVEN gating: flag documents longer than their own
      // (source, lang) group's exact p90 — the curation step that turns
      // q74's report card into a filter. The group-stats relation is
      // bounded by group cardinality (never corpus size), so it joins
      // back as a broadcast and the gate itself is map-side: two corpus
      // passes total (histogram + scan), no corpus shuffle.
      val docs = t(s, d, "documents")
      val stats = graft.ext.Corpus.corpusStats(
        docs, Seq("source", "lang"), "text", quantiles = Seq(90))
        .select(col("source"), col("lang"), col("p90_tokens"))
      docs.where(col("text").isNotNull)
        .select(col("doc_id"), col("source"), col("lang"),
          graft.ext.TextAnalysis.tokenCount(col("text")).cast("long")
            .as("n_toks"))
        .join(broadcast(stats), Seq("source", "lang"))
        .withColumn("is_outlier",
          (col("n_toks") > col("p90_tokens")).cast("int"))
        .orderBy("doc_id")
    }),

    "q171_kmv_distinct" -> ((s, d) => {
      // the third fixed-size mergeable summary, completing the sketch
      // trio (q169 CMS frequencies, q170 HLL distinct): K MINIMUM VALUES
      // over the TRIGRAM stream — two disjoint halves sketched
      // separately, merged (union-then-retake-k IS the union's sketch),
      // finalized into the (k−1)·P div h_k integer estimate; the exact
      // distinct count rides along so the estimator's error is itself
      // under the oracle. Trigrams, not tokens: the testdata vocabulary
      // (31 words) is smaller than k and would never saturate the
      // sketch — the trigram space (~16k grams at sf0.001) exercises the
      // estimator branch at every SF.
      val docs = t(s, d, "documents")
      val mins = Corpus.kmvMerge(Seq(
        Corpus.kmvShingleMins(
          docs.where(pmod(col("doc_id"), lit(2)) === 0), "text", 3, 256),
        Corpus.kmvShingleMins(
          docs.where(pmod(col("doc_id"), lit(2)) === 1), "text", 3, 256)),
        256)
      val exact = docs.where(col("text").isNotNull)
        .select(split(col("text"), " ").as("toks"))
        .where(size(col("toks")) >= 3)
        .select(explode(expr(
          "transform(sequence(1, size(toks) - 2), i -> concat(" +
            "element_at(toks, i), ' ', element_at(toks, i + 1), ' ', " +
            "element_at(toks, i + 2)))")).as("g"))
        .agg(countDistinct(col("g")).as("exact_distinct"))
      Corpus.kmvEstimate(mins, 256).crossJoin(broadcast(exact))
        .select(col("k"), col("filled"), col("hk"), col("est_distinct"),
          col("exact_distinct"),
          (col("est_distinct") - col("exact_distinct")).as("err"))
    }),

    "q172_kmv_lang_overlap" -> ((s, d) => {
      // the set operation registers cannot do — cross-corpus Jaccard
      // from sketches ALONE: per-language trigram KMV sketches, each
      // pair's union re-sketched (the k smallest of the two sketches'
      // union) and its members flagged for membership in both sides;
      // matched/k_used estimates Jaccard. The exact intersection, union,
      // and Jaccard ride along per pair, so the estimator's per-pair
      // error is value-checked. Everything past the sketches is
      // pairs·k-sized no matter the corpus.
      val docs = t(s, d, "documents")
      val mins = Corpus.kmvGroupedShingleMins(docs, "lang", "text", 3, 256)
      val est = Corpus.kmvPairOverlap(mins, 256)
      val grams = docs
        .where(col("text").isNotNull && col("lang").isNotNull)
        .select(col("lang"), split(col("text"), " ").as("toks"))
        .where(size(col("toks")) >= 3)
        .select(col("lang"), explode(expr(
          "transform(sequence(1, size(toks) - 2), i -> concat(" +
            "element_at(toks, i), ' ', element_at(toks, i + 1), ' ', " +
            "element_at(toks, i + 2)))")).as("g"))
        .distinct()
      val sizes = grams.groupBy("lang").agg(count(lit(1)).as("n"))
      val inter = grams.as("ga")
        .join(grams.as("gb"),
          col("ga.g") === col("gb.g") && col("ga.lang") < col("gb.lang"))
        .groupBy(col("ga.lang").as("key_a"), col("gb.lang").as("key_b"))
        .agg(count(lit(1)).as("exact_inter"))
      est.join(inter, Seq("key_a", "key_b"), "left")
        .na.fill(0L, Seq("exact_inter"))
        .join(sizes.select(col("lang").as("key_a"), col("n").as("n_a")),
          Seq("key_a"))
        .join(sizes.select(col("lang").as("key_b"), col("n").as("n_b")),
          Seq("key_b"))
        .select(col("key_a"), col("key_b"), col("k_used"), col("matched"),
          col("jacc_est_pm"), col("exact_inter"),
          (col("n_a") + col("n_b") - col("exact_inter")).as("exact_union"),
          expr("(1000 * exact_inter) div (n_a + n_b - exact_inter)")
            .as("exact_jacc_pm"))
        .withColumn("err_pm", col("jacc_est_pm") - col("exact_jacc_pm"))
        .orderBy("key_a", "key_b")
    })
  )

  private val stopwords = Seq("the", "a", "of", "and", "to", "in", "is")
  private val stopListSql = stopwords.map(s => s"'$s'").mkString(", ")

  /** The portable char-fold (31, 1e9+7) over the space-joined gram
    * column `g` — the q169/q170 token fold applied to shingles, so the
    * KMV oracles replay every retained hash value for value. */
  private val gramFold =
    """list_reduce(list_prepend(CAST(0 AS BIGINT),
         list_transform(range(1, length(g) + 1),
           i -> CAST(ascii(substr(g, i, 1)) AS BIGINT))),
         (acc, c) -> (acc * 31 + c) % 1000000007)"""

  /** q23's rolling fingerprint fold, reused for the split bucket. */
  private[queries] val fpFold =
    """list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform(string_split(text, ' '),
             t -> CAST(ascii(substr(t, 1, 1)) AS BIGINT) * 100 + length(t))),
         (acc, h) -> (acc * 31 + h) % 1000000007)"""

  /** q81's integer-bits replay with counts from the TRAIN split and
    * scoring over the TEST split — the served contract of BOTH the
    * one-shot persisted LM (q91) and the stream-ingested one (q116):
    * every model statistic is a count, exact under any batching.
    */
  private[queries] val lmIndexedReplay =
    s"""WITH s0 AS (SELECT doc_id, string_split(text, ' ') AS toks,
                           $fpFold % 100 AS b
                    FROM documents WHERE text IS NOT NULL),
       tr AS (SELECT doc_id, toks FROM s0 WHERE b < 80),
       te AS (SELECT doc_id, toks FROM s0 WHERE b >= 90),
       gtr AS (SELECT doc_id, toks[i] AS p, toks[i + 1] AS w
               FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
                     FROM tr)),
       gte AS (SELECT doc_id, toks[i] AS p, toks[i + 1] AS w
               FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
                     FROM te)),
       cb AS (SELECT p, w, count(*) AS cb FROM gtr GROUP BY p, w),
       cu AS (SELECT p, count(*) AS cu FROM gtr GROUP BY p),
       v AS (SELECT count(DISTINCT tok) AS v
             FROM (SELECT unnest(toks) AS tok FROM tr)),
       s AS (SELECT gte.doc_id,
                    length(bin((coalesce(cu.cu, 0) + v.v)
                               // (coalesce(cb.cb, 0) + 1))) - 1 AS bits
             FROM gte LEFT JOIN cb USING (p, w) LEFT JOIN cu USING (p)
             CROSS JOIN v),
       r AS (SELECT doc_id, count(*) AS n_bigrams,
                    sum(bits) AS total_bits
             FROM s GROUP BY doc_id)
       SELECT te.doc_id,
              CAST(coalesce(r.n_bigrams, 0) AS BIGINT) AS n_bigrams,
              CAST(coalesce(r.total_bits, 0) AS BIGINT) AS total_bits,
              CAST(coalesce(r.total_bits * 100 // r.n_bigrams, 0)
                   AS BIGINT) AS bits_x100
       FROM te LEFT JOIN r ON te.doc_id = r.doc_id
       ORDER BY te.doc_id"""

  /** The q162 BPE-training replay, GENERATED for `n` merges: the loop
    * structure is static per merge (pair counts → argmax → fold-apply),
    * so the oracle is n chained CTE generations of the symbol table.
    * The fold mirrors `Corpus.bpeApplyMerge` exactly — accumulator =
    * chr(1)-joined emitted symbols, chr(2), pending symbol (empty ⇔
    * none); a merge emits a||b and clears the pending; the flush joins
    * the tail back and drops the leading empty from the chr(1) joins.
    */
  private def bpeTrainCtes(n: Int): String = {
    def accDone(acc: String) = s"string_split($acc, chr(2))[1]"
    def accPrev(acc: String) = s"string_split($acc, chr(2))[2]"
    // AS MATERIALIZED: every generation references w$i several times
    // (pair counts + the rewrite); DuckDB's default CTE inlining would
    // otherwise expand the chain to 3^n copies of the base scan — at
    // the q176 depth (64) that exhausts file handles before it
    // exhausts time. Materialization makes the replay linear in n.
    val iters = (1 to n).map { i =>
      s"""p$i AS MATERIALIZED (SELECT syms[j] AS a, syms[j + 1] AS b,
                       CAST(sum(freq) AS BIGINT) AS n
                FROM (SELECT syms, freq, unnest(range(1, len(syms))) AS j
                      FROM w$i)
                GROUP BY 1, 2),
          m$i AS MATERIALIZED (SELECT a, b, n FROM p$i
                ORDER BY n DESC, a, b LIMIT 1),
          w${i + 1} AS MATERIALIZED (
            SELECT word, list_filter(string_split(
                     CASE WHEN ${accPrev("folded")} = ''
                          THEN ${accDone("folded")}
                          ELSE ${accDone("folded")} || chr(1) ||
                               ${accPrev("folded")} END,
                     chr(1)), x -> x <> '') AS syms, freq
            FROM (SELECT word, list_reduce(list_prepend(chr(2), syms),
                    (acc, s) -> CASE
                      WHEN ${accPrev("acc")} = m.a AND s = m.b
                        THEN ${accDone("acc")} || chr(1) || m.a || m.b
                             || chr(2)
                      WHEN ${accPrev("acc")} = '' THEN acc || s
                      ELSE ${accDone("acc")} || chr(1) ||
                           ${accPrev("acc")} || chr(2) || s END) AS folded,
                    freq
                  FROM w$i CROSS JOIN m$i m))"""
    }.mkString(",\n          ")
    s"""w0 AS MATERIALIZED (SELECT word, count(*) AS freq
                    FROM (SELECT unnest(string_split(text, ' ')) AS word
                          FROM documents WHERE text IS NOT NULL)
                    WHERE length(word) > 0 GROUP BY word),
        w1 AS MATERIALIZED (SELECT word, list_append(
                        list_transform(range(1, length(word) + 1),
                          i -> substr(word, i, 1)), '</w>') AS syms, freq
               FROM w0),
          $iters"""
  }

  private def bpeReplaySql(n: Int): String = {
    val out = (1 to n).map(i =>
      s"""SELECT CAST($i AS INTEGER) AS rank, a AS "left", b AS "right",
                n AS pair_count FROM m$i""").mkString("\n          UNION ALL ")
    s"""WITH ${bpeTrainCtes(n)}
        SELECT * FROM (
          $out) ORDER BY rank"""
  }

  /** q163: the trained dictionary (generation n+1 of the symbol table)
    * joined back onto every document's word stream — per-doc whitespace
    * vs BPE token counts. */
  private def bpeSegmentSql(n: Int): String =
    s"""WITH ${bpeTrainCtes(n)},
        ds AS (SELECT doc_id, word
               FROM (SELECT doc_id,
                            unnest(string_split(text, ' ')) AS word
                     FROM documents WHERE text IS NOT NULL)
               WHERE length(word) > 0),
        seg AS (SELECT ds.doc_id, count(*) AS n_words,
                       CAST(sum(len(w.syms)) AS BIGINT) AS n_bpe_tokens
                FROM ds JOIN w${n + 1} w USING (word)
                GROUP BY ds.doc_id)
        SELECT d.doc_id,
               CAST(coalesce(seg.n_words, 0) AS BIGINT) AS n_words,
               CAST(coalesce(seg.n_bpe_tokens, 0) AS BIGINT)
                 AS n_bpe_tokens
        FROM documents d LEFT JOIN seg USING (doc_id)
        ORDER BY d.doc_id"""

  /** The q197 unigram-LM training replay, GENERATED: seed (substring
    * counts, all chars + top-`seedSize` multi-char), then `iters` hard-EM
    * rounds — each a bits table, an unrolled per-position Viterbi argmin
    * (dp CTEs for word lengths 1..`maxLen` — [[unigramOracleMaxLen]] at
    * both call sites, derived from the target corpus's actual longest
    * word at oracle-build time; the ENGINE loops to the actual word
    * length, so only this replay has an unroll bound), the
    * path-exploded M-step re-count, and the natural prune. A word
    * LONGER than `maxLen` would silently drop from the replay's M-step
    * (no dp CTE covers its length) while the engine still counts it —
    * an engine/oracle mismatch, never a wrong engine. The Viterbi tie rule is the
    * engine's exactly: (total bits, piece count, chr(1)-joined path).
    * Returns the WITH body up to `vocab$iters` + `ftot` (final totals).
    */
  /** Viterbi unroll depth for the unigram replay, DERIVED FROM THE CORPUS
    * at oracle-build time: [[graft.Verify]] probes `max(length(word))`
    * over the target corpus and publishes it through this property before
    * the oracle map initializes, so a corpus with arbitrarily long words
    * replays exactly (the engine loops to the real word length; only the
    * generated SQL has an unroll bound). 24 is the standalone fallback
    * (tests / Bench never evaluate these oracle strings against data).
    */
  private def unigramOracleMaxLen: Int =
    sys.props.get("graft.oracle.unigram.maxlen")
      .flatMap(s => scala.util.Try(s.toInt).toOption)
      .filter(_ >= 1).getOrElse(24)

  /** Hard cap on the generated unigram replay's unroll depth. The
    * statement emits one dp CTE per word position (q223 adds forward AND
    * backward per iteration), so one pathological token — a URL or
    * base64 run in a crawl-style corpus — would otherwise balloon the
    * oracle into thousands of CTEs DuckDB likely cannot plan. Past the
    * cap the three unigram oracles become a generated `error()` call
    * naming the depth: a LOUD per-row failure with a clear message
    * instead of an unbounded SQL text. The ENGINE is unaffected (it
    * loops to the real word length); only the replay refuses. */
  private val UnigramUnrollCap = 400

  /** Wraps a unigram oracle body with the [[UnigramUnrollCap]] check —
    * `sql` is by-name so the (expensive, depth-parameterized) generation
    * never runs when the cap trips. */
  private def unigramOracleGuard(sql: => String): String = {
    val depth = unigramOracleMaxLen
    if (depth > UnigramUnrollCap)
      s"SELECT error('unigram replay unroll depth $depth exceeds cap " +
        s"$UnigramUnrollCap (one dp CTE per word position; q223 doubles " +
        "it) — the corpus has a pathological long token. Pre-split long " +
        "tokens or raise the cap deliberately.')"
    else sql
  }

  private def unigramTrainCtes(seedSize: Int, pieceLen: Int, iters: Int,
                               maxLen: Int): String = {
    val seed =
      s"""uwords AS MATERIALIZED (
            SELECT w AS word, count(*) AS f, length(w) AS wl
            FROM (SELECT unnest(string_split(text, ' ')) AS w
                  FROM documents WHERE text IS NOT NULL)
            WHERE length(w) > 0 GROUP BY w),
          ust AS (SELECT word, f, wl, unnest(range(1, wl + 1)) AS s
                  FROM uwords),
          upieces AS (
            SELECT f, substr(word, CAST(s AS INTEGER),
                             CAST(pl AS INTEGER)) AS piece
            FROM (SELECT word, f, s,
                         unnest(range(1, least($pieceLen, wl - s + 1) + 1))
                           AS pl
                  FROM ust)),
          useedc AS MATERIALIZED (
            SELECT piece, CAST(sum(f) AS BIGINT) AS c
            FROM upieces GROUP BY piece),
          vocab0 AS MATERIALIZED (
            SELECT piece, c FROM useedc WHERE length(piece) = 1
            UNION ALL
            SELECT piece, c FROM (
              SELECT piece, c,
                     row_number() OVER (ORDER BY c DESC, piece) AS rn
              FROM useedc WHERE length(piece) > 1) WHERE rn <= $seedSize)"""
    val iterBlocks = (1 to iters).map { t =>
      val pv = s"vocab${t - 1}"
      val dp = (1 to maxLen).map { k =>
        val legs = (math.max(0, k - pieceLen) until k).map { j =>
          val plen = k - j
          if (plen == 1)
            s"""SELECT d.word, d.wl, d.f, d.bits + coalesce(b.b, u.ub)
                         AS bits,
                       d.np + 1 AS np,
                       d.path || chr(1) || substr(d.word, $k, 1) AS path
                FROM dp${t}_$j d
                LEFT JOIN bits$t b ON b.piece = substr(d.word, $k, 1)
                CROSS JOIN unk$t u
                WHERE d.wl >= $k"""
          else
            s"""SELECT d.word, d.wl, d.f, d.bits + b.b AS bits,
                       d.np + 1 AS np,
                       d.path || chr(1) || substr(d.word, ${j + 1}, $plen)
                         AS path
                FROM dp${t}_$j d
                JOIN bits$t b
                  ON b.piece = substr(d.word, ${j + 1}, $plen)
                WHERE d.wl >= $k"""
        }.mkString("\nUNION ALL\n")
        s"""dp${t}_$k AS MATERIALIZED (
              SELECT word, wl, f, bits, np, path FROM (
                SELECT *, row_number() OVER (PARTITION BY word
                            ORDER BY bits, np, path) AS rn
                FROM ($legs)) WHERE rn = 1)"""
      }.mkString(",\n")
      val segs = (1 to maxLen)
        .map(k => s"SELECT f, path FROM dp${t}_$k WHERE wl = $k")
        .mkString("\nUNION ALL\n")
      s"""tot$t AS (SELECT CAST(sum(c) AS BIGINT) AS tt,
                           CAST(count(*) AS BIGINT) AS tv FROM $pv),
          bits$t AS MATERIALIZED (
            SELECT piece,
                   CAST(length(bin((t.tt + t.tv) // (c + 1))) - 1
                        AS BIGINT) AS b
            FROM $pv CROSS JOIN tot$t t),
          unk$t AS (SELECT CAST(length(bin(tt + tv)) - 1 AS BIGINT) AS ub
                    FROM tot$t),
          dp${t}_0 AS (SELECT word, wl, f, CAST(0 AS BIGINT) AS bits,
                              0 AS np, '' AS path
                       FROM uwords),
          $dp,
          useg$t AS MATERIALIZED ($segs),
          unc$t AS (
            SELECT piece, CAST(sum(f) AS BIGINT) AS c
            FROM (SELECT f, unnest(string_split(substr(path, 2), chr(1)))
                           AS piece
                  FROM useg$t)
            GROUP BY piece),
          vocab$t AS MATERIALIZED (
            SELECT v.piece, coalesce(n.c, 0) AS c
            FROM $pv v LEFT JOIN unc$t n ON n.piece = v.piece
            WHERE length(v.piece) = 1 OR coalesce(n.c, 0) > 0)"""
    }.mkString(",\n")
    s"""$seed,
        $iterBlocks,
        ftot AS (SELECT CAST(sum(c) AS BIGINT) AS tt,
                        CAST(count(*) AS BIGINT) AS tv FROM vocab$iters)"""
  }

  /** The q223 SOFT-EM replay, GENERATED — the fixed-point dual of
    * [[unigramTrainCtes]]. Same seed and iteration skeleton, but the
    * E-step is a full forward–backward in [[graft.ops.Fp]]'s integer
    * fixed point instead of a Viterbi argmin: α by position (unrolled
    * CTEs 1..maxLen), β by SUFFIX length (so one unroll serves every
    * word length), posteriors through the shared exp2 table, and the
    * M-step a plain integer GROUP BY sum — order-free, which is the
    * whole point. log₂ is the 20-round mantissa-squaring recursive CTE
    * ([[graft.ops.Fp.Sql.log2fpCte]]); the lse/exp2 tables are emitted
    * as integer literals from the engine's OWN arrays, so the two sides
    * cannot disagree even in table generation. Leg fold order (ascending
    * split for α, ascending piece length for β) mirrors the engine's
    * contract exactly — the pairwise quantized lse is not associative.
    */
  private def unigramSoftFpCtes(seedSize: Int, pieceLen: Int, iters: Int,
                                maxLen: Int, pruneMicro: Long): String = {
    import graft.ops.Fp
    val BB = Fp.B
    def lse2(a: String, b: String) = Fp.Sql.lse2Expr(a, b, "lsetab")
    // fold legs with engine NULL-skip semantics: lse2 only between
    // present legs, in the emission order given
    def foldLegs(legs: Seq[String]): String = legs.reduce((acc, x) =>
      s"""(CASE WHEN ($acc) IS NULL THEN ($x)
                WHEN ($x) IS NULL THEN ($acc)
                ELSE ${lse2(s"($acc)", s"($x)")} END)""")
    val tables =
      s"""${Fp.Sql.tableCte("exp2tab", Fp.exp2Tab)},
          ${Fp.Sql.tableCte("lsetab", Fp.lseTab)}"""
    val seed =
      s"""uwords AS MATERIALIZED (
            SELECT w AS word, count(*) AS f, length(w) AS wl
            FROM (SELECT unnest(string_split(text, ' ')) AS w
                  FROM documents WHERE text IS NOT NULL)
            WHERE length(w) > 0 GROUP BY w),
          ust AS (SELECT word, f, wl, unnest(range(1, wl + 1)) AS s
                  FROM uwords),
          upieces AS (
            SELECT f, substr(word, CAST(s AS INTEGER),
                             CAST(pl AS INTEGER)) AS piece
            FROM (SELECT word, f, s,
                         unnest(range(1, least($pieceLen, wl - s + 1) + 1))
                           AS pl
                  FROM ust)),
          useedc AS MATERIALIZED (
            SELECT piece, CAST(sum(f) AS BIGINT) AS c
            FROM upieces GROUP BY piece),
          vocab0 AS MATERIALIZED (
            SELECT piece, c * $BB AS c FROM (
              SELECT piece, c FROM useedc WHERE length(piece) = 1
              UNION ALL
              SELECT piece, c FROM (
                SELECT piece, c,
                       row_number() OVER (ORDER BY c DESC, piece) AS rn
                FROM useedc WHERE length(piece) > 1) WHERE rn <= $seedSize))"""
    val iterBlocks = (1 to iters).map { t =>
      val pv = s"vocab${t - 1}"
      // forward α: one CTE per absolute position k; legs by ascending
      // split j (= descending piece length), engine fold order
      val fwd = (1 to maxLen).map { k =>
        val plens = (1 to pieceLen).filter(p => k - p >= 0).sortBy(p => -p)
        val joins = plens.map { p =>
          s"""LEFT JOIN (SELECT a.word, a.la + b.lp AS lv
                 FROM fa${t}_${k - p} a JOIN bits$t b
                   ON b.piece = substr(a.word, ${k - p + 1}, $p)
                 WHERE a.wl >= $k AND a.la IS NOT NULL) g$p
                ON g$p.word = w.word"""
        }.mkString("\n")
        s"""fa${t}_$k AS MATERIALIZED (
              SELECT w.word, w.wl, w.f,
                     ${foldLegs(plens.map(p => s"g$p.lv"))} AS la
              FROM uwords w
              $joins
              WHERE w.wl >= $k)"""
      }.mkString(",\n")
      // backward β: one CTE per SUFFIX length m; legs by ascending piece
      // length, engine fold order
      val bwd = (1 to maxLen).map { m =>
        val plens = (1 to pieceLen).filter(p => m - p >= 0)
        val joins = plens.map { p =>
          s"""LEFT JOIN (SELECT a.word, b.lp + a.lb AS lv
                 FROM bb${t}_${m - p} a JOIN bits$t b
                   ON b.piece = substr(a.word, a.wl - $m + 1, $p)
                 WHERE a.wl >= $m AND a.lb IS NOT NULL) h$p
                ON h$p.word = w.word"""
        }.mkString("\n")
        s"""bb${t}_$m AS MATERIALIZED (
              SELECT w.word, w.wl,
                     ${foldLegs(plens.map(p => s"h$p.lv"))} AS lb
              FROM uwords w
              $joins
              WHERE w.wl >= $m)"""
      }.mkString(",\n")
      val faAll = (0 to maxLen)
        .map(k => s"SELECT word, wl, f, $k AS pos, la FROM fa${t}_$k")
        .mkString("\nUNION ALL\n")
      val bbAll = (0 to maxLen)
        .map(m => s"SELECT word, wl, wl - $m AS pos, lb FROM bb${t}_$m")
        .mkString("\nUNION ALL\n")
      s"""tot$t AS (SELECT CAST(sum(c) AS BIGINT) AS tt,
                           CAST(count(*) AS BIGINT) AS tv FROM $pv),
          dsrc$t AS (SELECT 1 AS kk, tt + tv * $BB AS x FROM tot$t),
          ${Fp.Sql.log2fpCte(s"den$t", s"dsrc$t", "kk")},
          psrc$t AS (SELECT piece, c + $BB AS x FROM $pv),
          ${Fp.Sql.log2fpCte(s"plog$t", s"psrc$t", "piece")},
          bits$t AS MATERIALIZED (
            SELECT p.piece, p.l2 - (SELECT l2 FROM den$t) AS lp
            FROM plog$t p),
          fa${t}_0 AS (SELECT word, wl, f, CAST(0 AS BIGINT) AS la
                       FROM uwords),
          $fwd,
          bb${t}_0 AS (SELECT word, wl, CAST(0 AS BIGINT) AS lb
                       FROM uwords),
          $bwd,
          faAll$t AS ($faAll),
          bbAll$t AS ($bbAll),
          an$t AS (SELECT word, la AS lan FROM faAll$t
                   WHERE pos = wl AND la IS NOT NULL),
          legsE$t AS (
            SELECT a.f, b.piece,
                   greatest(n.lan - (a.la + b.lp + c.lb), 0) AS y
            FROM faAll$t a
            CROSS JOIN (SELECT unnest(range(1, ${pieceLen + 1})) AS plen) pl
            JOIN bits$t b
              ON b.piece = substr(a.word, CAST(a.pos + 1 AS INTEGER),
                                  CAST(pl.plen AS INTEGER))
            JOIN bbAll$t c ON c.word = a.word AND c.pos = a.pos + pl.plen
            JOIN an$t n ON n.word = a.word
            WHERE a.pos + pl.plen <= a.wl
              AND a.la IS NOT NULL AND c.lb IS NOT NULL),
          ex$t AS MATERIALIZED (
            SELECT piece,
                   CAST(sum(f * (${Fp.Sql.exp2Expr("y", "exp2tab")} // 1024))
                        AS BIGINT) AS c
            FROM legsE$t GROUP BY piece),
          vocab$t AS MATERIALIZED (
            SELECT v.piece, coalesce(e.c, 0) AS c
            FROM $pv v LEFT JOIN ex$t e ON e.piece = v.piece
            WHERE length(v.piece) = 1 OR coalesce(e.c, 0) >= $pruneMicro)"""
    }.mkString(",\n")
    s"""$tables,
        $seed,
        $iterBlocks,
        ftot AS (SELECT CAST(sum(c) AS BIGINT) AS tt,
                        CAST(count(*) AS BIGINT) AS tv FROM vocab$iters),
        fdsrc AS (SELECT 1 AS kk, tt + tv * $BB AS x FROM ftot),
        ${Fp.Sql.log2fpCte("fden", "fdsrc", "kk")},
        fpsrc AS (SELECT piece, c + $BB AS x FROM vocab$iters),
        ${Fp.Sql.log2fpCte("fplog", "fpsrc", "piece")}"""
  }

  /** The q198 segmentation replay on top of [[unigramTrainCtes]]: final
    * model costs, the PACKED (bits·2²⁰ + pieces) per-position Viterbi
    * min — a plain `min` per dp cell, the engine's packed-long HOF
    * exactly — then per-doc rollup and the prefix-sum pack assignment.
    */
  private def unigramPackSql(seedSize: Int, pieceLen: Int, iters: Int,
                             maxLen: Int, budget: Long): String = {
    val dp = (1 to maxLen).map { k =>
      val legs = (math.max(0, k - pieceLen) until k).map { j =>
        val plen = k - j
        if (plen == 1)
          s"""SELECT d.word, d.wl,
                     d.pk + (coalesce(b.b, u.ub) * 1048576 + 1) AS pk
              FROM adp_$j d
              LEFT JOIN abits b ON b.piece = substr(d.word, $k, 1)
              CROSS JOIN aunk u
              WHERE d.wl >= $k"""
        else
          s"""SELECT d.word, d.wl, d.pk + (b.b * 1048576 + 1) AS pk
              FROM adp_$j d
              JOIN abits b ON b.piece = substr(d.word, ${j + 1}, $plen)
              WHERE d.wl >= $k"""
      }.mkString("\nUNION ALL\n")
      s"""adp_$k AS MATERIALIZED (
            SELECT word, wl, min(pk) AS pk FROM ($legs)
            GROUP BY word, wl)"""
    }.mkString(",\n")
    val segs = (1 to maxLen)
      .map(k => s"SELECT word, pk FROM adp_$k WHERE wl = $k")
      .mkString("\nUNION ALL\n")
    s"""WITH ${unigramTrainCtes(seedSize, pieceLen, iters, maxLen)},
        abits AS MATERIALIZED (
          SELECT piece,
                 CAST(length(bin((t.tt + t.tv) // (c + 1))) - 1 AS BIGINT)
                   AS b
          FROM vocab$iters CROSS JOIN ftot t),
        aunk AS (SELECT CAST(length(bin(tt + tv)) - 1 AS BIGINT) AS ub
                 FROM ftot),
        adp_0 AS (SELECT word, wl, CAST(0 AS BIGINT) AS pk FROM uwords),
        $dp,
        aseg AS MATERIALIZED ($segs),
        ads AS (SELECT doc_id, word
                FROM (SELECT doc_id,
                             unnest(string_split(text, ' ')) AS word
                      FROM documents WHERE text IS NOT NULL)
                WHERE length(word) > 0),
        aper AS (SELECT ads.doc_id,
                        CAST(sum(a.pk % 1048576) AS BIGINT) AS n_uni
                 FROM ads JOIN aseg a USING (word)
                 GROUP BY ads.doc_id),
        abase AS (SELECT d.doc_id, d.source,
                         CAST(coalesce(aper.n_uni, 0) AS BIGINT)
                           AS n_unigram_tokens
                  FROM documents d LEFT JOIN aper USING (doc_id))
        SELECT doc_id, source, n_unigram_tokens,
               CAST(floor(COALESCE(sum(n_unigram_tokens)
                   OVER (PARTITION BY source ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING), 0)
                 / $budget.0) AS BIGINT) AS pack_id
        FROM abase ORDER BY doc_id"""
  }

  /** q124/q126 drift replay: integer-ppm histogram shares per bucket
    * between the even/odd corpus halves; `//` and `div` agree on
    * non-negative operands, so every drift number replays exactly.
    */
  private val driftReplay =
    """WITH ha AS (SELECT len(string_split(text, ' ')) // 8 AS bucket,
                          count(*) AS n_a
                   FROM documents
                   WHERE doc_id % 2 = 0 AND text IS NOT NULL
                   GROUP BY 1),
       hb AS (SELECT len(string_split(text, ' ')) // 8 AS bucket,
                     count(*) AS n_b
              FROM documents
              WHERE doc_id % 2 = 1 AND text IS NOT NULL
              GROUP BY 1),
       t AS (SELECT (SELECT coalesce(sum(n_a), 0) FROM ha) AS tot_a,
                    (SELECT coalesce(sum(n_b), 0) FROM hb) AS tot_b),
       j AS (SELECT coalesce(ha.bucket, hb.bucket) AS bucket,
                    coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b
             FROM ha FULL OUTER JOIN hb ON ha.bucket = hb.bucket),
       p AS (SELECT j.bucket, j.n_a, j.n_b,
                    CASE WHEN t.tot_a > 0
                         THEN j.n_a * 1000000 // t.tot_a ELSE 0 END AS sa,
                    CASE WHEN t.tot_b > 0
                         THEN j.n_b * 1000000 // t.tot_b ELSE 0 END AS sb
             FROM j CROSS JOIN t)
       SELECT CAST(bucket AS BIGINT) AS bucket,
              CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
              CAST(sa AS BIGINT) AS share_a_ppm,
              CAST(sb AS BIGINT) AS share_b_ppm,
              CAST(abs(sa - sb) AS BIGINT) AS delta_ppm
       FROM p ORDER BY bucket"""

  val oracles: Map[String, String] = Map(
    // q120: replay the hashed-bigram importance weights exactly — the
    // char-fold bucket hash (q32's replay applied to 'p w' gram strings),
    // add-one-smoothed bucket counts for raw and target (lang='en')
    // distributions, integer floor-log₂ surprisal difference per bucket
    // (q81's length(bin(..)) trick), summed per document
    "q120_dsir_select" ->
      """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks
                    FROM documents WHERE text IS NOT NULL),
         g AS (SELECT doc_id, lang, toks[i] || ' ' || toks[i + 1] AS gram
               FROM (SELECT doc_id, lang, toks,
                            unnest(range(1, len(toks))) AS i
                     FROM t)),
         b AS (SELECT doc_id, lang,
                      list_reduce(list_prepend(CAST(0 AS BIGINT),
                        list_transform(range(1, length(gram) + 1),
                          i -> CAST(ascii(substr(gram, i, 1)) AS BIGINT))),
                        (acc, c) -> (acc * 31 + c) % 1000000007) % 64
                        AS bucket
               FROM g),
         cr AS (SELECT bucket, count(*) AS cr FROM b GROUP BY bucket),
         ct AS (SELECT bucket, count(*) AS ct FROM b
                WHERE lang = 'en' GROUP BY bucket),
         tot AS (SELECT (SELECT count(*) FROM b) AS tr,
                        (SELECT count(*) FROM b WHERE lang = 'en') AS tt),
         w AS (SELECT cr.bucket,
                      (length(bin((tot.tr + 64) // (cr.cr + 1))) - 1)
                    - (length(bin((tot.tt + 64) // (coalesce(ct.ct, 0) + 1)))
                       - 1) AS wbits
               FROM cr LEFT JOIN ct ON cr.bucket = ct.bucket CROSS JOIN tot),
         s AS (SELECT b.doc_id, count(*) AS n_bigrams,
                      sum(w.wbits) AS dsir_bits
               FROM b JOIN w ON b.bucket = w.bucket GROUP BY b.doc_id)
         SELECT d.doc_id,
                CAST(coalesce(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
                CAST(coalesce(s.dsir_bits, 0) AS BIGINT) AS dsir_bits,
                coalesce(s.dsir_bits, 0) > 0 AS selected
         FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id
         ORDER BY d.doc_id""",

    // q124: integer-ppm histogram shares per bucket; // and div agree on
    // non-negative operands, so every drift number replays exactly
    "q124_corpus_drift" -> driftReplay,

    // q126 maintains the same histogram as streaming state — counts are
    // order-insensitive sums, so the streamed report equals batch drift
    "q126_stream_drift_monitor" -> driftReplay,

    // q122: distinct-trigram sets per doc (the engine's distinct gram
    // HASHES equal distinct gram strings modulo 2^-64 collisions — the
    // q31/q54 argument); df counts contributing documents, df>1 = shared
    "q122_doc_novelty" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
                    FROM documents WHERE text IS NOT NULL),
         g AS (SELECT doc_id,
                      unnest(list_distinct(list_transform(
                        range(1, len(toks) - 1),
                        i -> toks[i] || ' ' || toks[i + 1] || ' '
                             || toks[i + 2]))) AS gram
               FROM t),
         dfq AS (SELECT gram, count(*) AS df FROM g GROUP BY gram),
         s AS (SELECT g.doc_id, count(*) AS n_grams,
                      sum(CASE WHEN dfq.df > 1 THEN 1 ELSE 0 END) AS n_shared
               FROM g JOIN dfq USING (gram) GROUP BY g.doc_id)
         SELECT d.doc_id,
                CAST(coalesce(s.n_grams, 0) AS BIGINT) AS n_grams,
                CAST(coalesce(s.n_shared, 0) AS BIGINT) AS n_shared,
                CASE WHEN coalesce(s.n_grams, 0) > 0
                     THEN CAST(s.n_shared AS DOUBLE) / s.n_grams
                     ELSE 0.0 END AS shared_frac
         FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id
         ORDER BY d.doc_id""",

    // both epochs' md5 keys and the two-nibble shard fold, spelled with
    // strpos over the same hex alphabet as the engine's locate
    "q147_epoch_shards" ->
      s"""WITH k AS (
            SELECT doc_id, e.epoch,
                   md5(CAST(e.epoch AS VARCHAR) || ':' ||
                       CAST(doc_id AS VARCHAR)) AS sort_key
            FROM documents CROSS JOIN (VALUES (0), (1)) AS e(epoch))
          SELECT doc_id, epoch, sort_key,
                 CAST((strpos('0123456789abcdef', substr(sort_key, 1, 1)) * 16
                       + strpos('0123456789abcdef', substr(sort_key, 2, 1)))
                      % 16 AS INTEGER) AS shard
          FROM k
          ORDER BY epoch, shard, sort_key, doc_id""",

    // per-group counts, the sqrt-ratio rate in the engine's exact
    // expression order, then the same fingerprint keep decision as q59
    "q148_temperature_mixture" ->
      s"""WITH g AS (
            SELECT doc_id, text,
                   CASE WHEN doc_id % 7 < 4 THEN 'big'
                        WHEN doc_id % 7 < 6 THEN 'mid'
                        ELSE 'rare' END AS grp
            FROM documents),
          n AS (SELECT grp, count(*) AS n_source FROM g GROUP BY grp),
          m AS (SELECT min(n_source) AS n_min FROM n),
          r AS (SELECT grp, n_source,
                       CAST(floor((1000 * sqrt(n_min)) / sqrt(n_source))
                            AS BIGINT) AS rate_pm
                FROM n CROSS JOIN m)
          SELECT doc_id, grp, n_source, rate_pm
          FROM g JOIN r USING (grp)
          WHERE $fpFold % 1000 < rate_pm
          ORDER BY doc_id""",

    "q53_split_assign" ->
      s"""SELECT doc_id, CAST(fp % 100 AS INTEGER) AS bucket,
                 CASE WHEN fp % 100 < 80 THEN 'train'
                      WHEN fp % 100 < 90 THEN 'val'
                      ELSE 'test' END AS split
          FROM (SELECT doc_id, $fpFold AS fp FROM documents)
          ORDER BY doc_id""",

    // same split + gram construction as q54 at n=3; the train side
    // collapses to a DISTINCT gram set (presence-only), per eval doc one
    // count and one double division
    "q87_contamination_overlap" ->
      s"""WITH s AS (
            SELECT doc_id, string_split(text, ' ') AS toks, $fpFold % 100 AS b
            FROM documents),
          g AS (
            SELECT doc_id, b,
                   list_distinct(list_transform(range(1, len(toks) - 1),
                     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                     AS grams
            FROM s),
          tg AS (SELECT DISTINCT unnest(grams) AS gr FROM g WHERE b < 80),
          e AS (SELECT doc_id AS eval_id, grams FROM g WHERE b >= 90),
          eg AS (SELECT eval_id, unnest(grams) AS gr FROM e),
          seen AS (SELECT eval_id, count(*) AS n_seen
                   FROM eg JOIN tg USING (gr) GROUP BY eval_id)
          SELECT e.eval_id, len(e.grams) AS n_grams,
                 coalesce(seen.n_seen, 0) AS n_seen,
                 CASE WHEN len(e.grams) > 0
                      THEN CAST(coalesce(seen.n_seen, 0) AS DOUBLE)
                           / len(e.grams)
                      ELSE 0.0 END AS overlap_frac
          FROM e LEFT JOIN seen USING (eval_id) ORDER BY eval_id""",

    "q54_decontaminate" ->
      s"""WITH s AS (
            SELECT doc_id, string_split(text, ' ') AS toks, $fpFold % 100 AS b
            FROM documents),
          g AS (
            SELECT doc_id, b,
                   list_distinct(list_transform(range(1, len(toks) - 3),
                     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                          || ' ' || toks[i+3] || ' ' || toks[i+4])) AS grams
            FROM s),
          tg AS (SELECT doc_id AS train_id, unnest(grams) AS gr
                 FROM g WHERE b < 80),
          df AS (SELECT gr, count(*) AS dfc FROM tg GROUP BY gr),
          tk AS (SELECT train_id, tg.gr FROM tg JOIN df USING (gr)
                 WHERE dfc <= 10000),
          eg AS (SELECT doc_id AS eval_id, unnest(grams) AS gr
                 FROM g WHERE b >= 90)
          SELECT eval_id, train_id, count(*) AS n_shared
          FROM tk JOIN eg USING (gr)
          GROUP BY eval_id, train_id
          HAVING count(*) >= 1
          ORDER BY eval_id, train_id""",

    // q54's gram machinery generalized to all split pairs: one gram
    // relation with the split carried, corpus-wide stop cap, pair join
    // with split_a < split_b, matrix rollup with zero-filled clean pairs
    "q142_split_leakage_matrix" ->
      s"""WITH s AS (
            SELECT doc_id, string_split(text, ' ') AS toks, $fpFold % 100 AS b
            FROM documents),
          sp AS (
            SELECT doc_id, toks,
                   CASE WHEN b < 80 THEN 'train'
                        WHEN b < 90 THEN 'val'
                        ELSE 'test' END AS split
            FROM s),
          g AS (
            SELECT doc_id, split,
                   list_distinct(list_transform(range(1, len(toks) - 3),
                     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                          || ' ' || toks[i+3] || ' ' || toks[i+4])) AS grams
            FROM sp),
          x AS (SELECT split, doc_id AS doc, unnest(grams) AS gr FROM g),
          dfc AS (SELECT gr, count(*) AS c FROM x GROUP BY gr),
          k AS (SELECT x.split, x.doc, x.gr FROM x JOIN dfc USING (gr)
                WHERE c <= 10000),
          p AS (
            SELECT a.split AS split_a, a.doc AS doc_a,
                   b2.split AS split_b, b2.doc AS doc_b,
                   count(*) AS ns
            FROM k a JOIN k b2 ON a.gr = b2.gr AND a.split < b2.split
            GROUP BY 1, 2, 3, 4 HAVING count(*) >= 1),
          m AS (
            SELECT split_a, split_b,
                   count(*) AS n_leak_pairs,
                   count(DISTINCT doc_a) AS n_docs_a,
                   count(DISTINCT doc_b) AS n_docs_b,
                   sum(ns) AS n_shared_total
            FROM p GROUP BY split_a, split_b),
          sp2 AS (SELECT DISTINCT split FROM sp),
          ap AS (SELECT a.split AS split_a, b.split AS split_b
                 FROM sp2 a JOIN sp2 b ON a.split < b.split)
          SELECT ap.split_a, ap.split_b,
                 CAST(coalesce(m.n_leak_pairs, 0) AS BIGINT) AS n_leak_pairs,
                 CAST(coalesce(m.n_docs_a, 0) AS BIGINT) AS n_docs_a,
                 CAST(coalesce(m.n_docs_b, 0) AS BIGINT) AS n_docs_b,
                 CAST(coalesce(m.n_shared_total, 0) AS BIGINT) AS n_shared_total
          FROM ap LEFT JOIN m
            ON ap.split_a = m.split_a AND ap.split_b = m.split_b
          ORDER BY ap.split_a, ap.split_b""",

    // integer-only bigram LM replay: counts, integer division, and log2
    // floor via binary-string length — no float log on either engine
    "q81_lm_perplexity" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
                    FROM documents WHERE text IS NOT NULL),
         g AS (SELECT doc_id, toks[i] AS p, toks[i + 1] AS w
               FROM (SELECT doc_id, toks,
                            unnest(range(1, len(toks))) AS i
                     FROM t)),
         cb AS (SELECT p, w, count(*) AS cb FROM g GROUP BY p, w),
         cu AS (SELECT p, count(*) AS cu FROM g GROUP BY p),
         v AS (SELECT count(DISTINCT tok) AS v
               FROM (SELECT unnest(toks) AS tok FROM t)),
         s AS (SELECT g.doc_id,
                      length(bin((cu.cu + v.v) // (cb.cb + 1))) - 1 AS bits
               FROM g JOIN cb USING (p, w) JOIN cu USING (p) CROSS JOIN v),
         r AS (SELECT doc_id, count(*) AS n_bigrams,
                      sum(bits) AS total_bits
               FROM s GROUP BY doc_id)
         SELECT d.doc_id,
                CAST(coalesce(r.n_bigrams, 0) AS BIGINT) AS n_bigrams,
                CAST(coalesce(r.total_bits, 0) AS BIGINT) AS total_bits,
                CAST(coalesce(r.total_bits * 100 // r.n_bigrams, 0)
                     AS BIGINT) AS bits_x100
         FROM documents d LEFT JOIN r ON d.doc_id = r.doc_id
         ORDER BY d.doc_id""",

    // q81's integer-bits replay with counts from the TRAIN split and
    // scoring over the TEST split; unseen bigrams take the add-one floor
    // through coalesce(…, 0), exactly the engine's left joins
    "q91_lm_perplexity_indexed" -> lmIndexedReplay,

    // q116 streams the same train split into the model through
    // exactly-once count-delta appends + compaction: counts are exact
    // sums regardless of batching, so the oracle is q91's verbatim
    "q116_stream_lm_ingest" -> lmIndexedReplay,

    // q131 scores from a pin taken BEFORE the val-split append — the
    // frozen model IS the train-only model, q91's replay verbatim
    "q131_lm_frozen_snapshot" -> lmIndexedReplay,

    // q162: the full 8-merge training replay, generated — per
    // generation: adjacent-pair counts over the symbol table, the
    // (n DESC, a, b) argmax, and the same left-to-right fold (string
    // accumulator: chr(1)-joined emitted symbols + chr(2) + pending)
    "q162_bpe_train" -> bpeReplaySql(8),

    // q176: the same generated replay at the production query's depth —
    // 64 chained CTE generations
    "q176_bpe_train_production" -> bpeReplaySql(64),

    // q192: q184's replay rolled up per shard with the fill-ppm ratio
    "q192_pack_efficiency" ->
      s"""WITH ${bpeTrainCtes(8)},
          ds AS (SELECT doc_id, word
                 FROM (SELECT doc_id,
                              unnest(string_split(text, ' ')) AS word
                       FROM documents WHERE text IS NOT NULL)
                 WHERE length(word) > 0),
          seg AS (SELECT ds.doc_id,
                         CAST(sum(len(w.syms)) AS BIGINT) AS n_bpe
                  FROM ds JOIN w9 w USING (word)
                  GROUP BY ds.doc_id),
          base AS (SELECT d.doc_id, d.source,
                          CAST(coalesce(seg.n_bpe, 0) AS BIGINT)
                            AS n_bpe_tokens
                   FROM documents d LEFT JOIN seg USING (doc_id)),
          packed AS (SELECT doc_id, source, n_bpe_tokens,
                            CAST(floor(COALESCE(sum(n_bpe_tokens)
                                OVER (PARTITION BY source ORDER BY doc_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING), 0)
                              / 512.0) AS BIGINT) AS pack_id
                     FROM base)
          SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(count(DISTINCT pack_id) AS BIGINT) AS n_packs,
                 CAST(sum(n_bpe_tokens) AS BIGINT) AS n_bpe_tokens,
                 CAST(sum(n_bpe_tokens) * 1000000
                      // (count(DISTINCT pack_id) * 512) AS BIGINT)
                   AS fill_ppm
          FROM packed GROUP BY source ORDER BY source""",

    // q186: the training + segmentation replay rolled up per lang with
    // the integer ppm ratio
    "q186_bpe_fertility" ->
      s"""WITH ${bpeTrainCtes(8)},
          ds AS (SELECT doc_id, word
                 FROM (SELECT doc_id,
                              unnest(string_split(text, ' ')) AS word
                       FROM documents WHERE text IS NOT NULL)
                 WHERE length(word) > 0),
          seg AS (SELECT ds.doc_id, count(*) AS n_words,
                         CAST(sum(len(w.syms)) AS BIGINT) AS n_bpe
                  FROM ds JOIN w9 w USING (word)
                  GROUP BY ds.doc_id),
          base AS (SELECT d.lang, d.doc_id,
                          CAST(coalesce(seg.n_words, 0) AS BIGINT)
                            AS n_words,
                          CAST(coalesce(seg.n_bpe, 0) AS BIGINT) AS n_bpe
                   FROM documents d LEFT JOIN seg USING (doc_id))
          SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(n_words) AS BIGINT) AS n_words,
                 CAST(sum(n_bpe) AS BIGINT) AS n_bpe_tokens,
                 CAST(CASE WHEN sum(n_words) > 0
                      THEN sum(n_bpe) * 1000000 // sum(n_words)
                      ELSE 0 END AS BIGINT) AS fertility_ppm
          FROM base GROUP BY lang ORDER BY lang""",

    // q197: the generated unigram-LM EM replay — seed, two Viterbi
    // E-steps (per-position argmin CTEs, tie rule (bits, np, path)),
    // M-step counts, prune, final integer costs
    "q197_unigram_train" -> unigramOracleGuard(
      s"""${"WITH " + unigramTrainCtes(24, 3, 2, unigramOracleMaxLen)}
          SELECT piece, c AS n_uses,
                 CAST(length(bin((t.tt + t.tv) // (c + 1))) - 1 AS BIGINT)
                   AS cost_bits
          FROM vocab2 CROSS JOIN ftot t
          ORDER BY n_uses DESC, piece"""),

    // q223: the generated fixed-point soft-EM replay (tables embedded as
    // integer literals from the engine's own arrays; see
    // unigramSoftFpCtes). pruneMicro 524288 = 0.5 expected uses.
    "q223_unigram_soft_fp" -> unigramOracleGuard(
      s"""WITH RECURSIVE
          ${unigramSoftFpCtes(24, 3, 2, unigramOracleMaxLen, 524288L)}
          SELECT v.piece, CAST(v.c AS BIGINT) AS exp_uses_micro,
                 CAST((SELECT l2 FROM fden) - p.l2 AS BIGINT)
                   AS neg_log2p_fp
          FROM vocab2 v JOIN fplog p ON p.piece = v.piece
          ORDER BY exp_uses_micro DESC, v.piece"""),

    // q198: the trained model's packed-long Viterbi over the dictionary,
    // per-doc rollup, and the windowed prefix-sum pack (q184's shape on
    // unigram counts)
    "q198_pack_unigram_budget" ->
      unigramOracleGuard(unigramPackSql(24, 3, 2, unigramOracleMaxLen, 256L)),

    // q184: the 8-generation training replay + the dictionary join
    // (q163's CTEs) + q60's windowed prefix-sum pack assignment on the
    // BPE counts
    "q184_pack_bpe_budget" ->
      s"""WITH ${bpeTrainCtes(8)},
          ds AS (SELECT doc_id, word
                 FROM (SELECT doc_id,
                              unnest(string_split(text, ' ')) AS word
                       FROM documents WHERE text IS NOT NULL)
                 WHERE length(word) > 0),
          seg AS (SELECT ds.doc_id,
                         CAST(sum(len(w.syms)) AS BIGINT) AS n_bpe
                  FROM ds JOIN w9 w USING (word)
                  GROUP BY ds.doc_id),
          base AS (SELECT d.doc_id, d.source,
                          CAST(coalesce(seg.n_bpe, 0) AS BIGINT)
                            AS n_bpe_tokens
                   FROM documents d LEFT JOIN seg USING (doc_id))
          SELECT doc_id, source, n_bpe_tokens,
                 CAST(floor(COALESCE(sum(n_bpe_tokens)
                     OVER (PARTITION BY source ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING), 0)
                   / 512.0) AS BIGINT) AS pack_id
          FROM base ORDER BY doc_id""",

    // q177: pair/unigram counts, HUGEINT lift (the decimal-width replay
    // of the engine's DECIMAL(38,0) products), floor-log₂ bits, and the
    // (lift DESC, n_pair DESC, w1, w2) total-order top-k
    "q177_pmi_collocations" ->
      """WITH tk AS (SELECT string_split(text, ' ') AS toks
                     FROM documents WHERE text IS NOT NULL),
         cb AS (SELECT toks[i] AS w1, toks[i + 1] AS w2,
                       count(*) AS n_pair
                FROM (SELECT toks, unnest(range(1, len(toks))) AS i
                      FROM tk) GROUP BY 1, 2),
         cw AS (SELECT tok, count(*) AS n_tok
                FROM (SELECT unnest(toks) AS tok FROM tk) GROUP BY tok),
         nn AS (SELECT CAST(sum(n_tok) AS BIGINT) AS n FROM cw),
         j AS (SELECT w1, w2, n_pair, l.n_tok AS n_l, r.n_tok AS n_r,
                      CAST((CAST(n_pair AS HUGEINT) * n)
                        // (CAST(l.n_tok AS HUGEINT) * r.n_tok)
                        AS BIGINT) AS lift
               FROM cb
               JOIN cw l ON l.tok = w1
               JOIN cw r ON r.tok = w2
               CROSS JOIN nn
               WHERE n_pair >= 5)
         SELECT w1, w2, CAST(n_pair AS BIGINT) AS n_pair,
                CAST(n_l AS BIGINT) AS n_l, CAST(n_r AS BIGINT) AS n_r,
                lift, CAST(length(bin(lift)) - 1 AS BIGINT) AS pmi_bits
         FROM j WHERE lift >= 1
         ORDER BY lift DESC, n_pair DESC, w1, w2 LIMIT 50""",

    // q163: the same 8 training generations, then the dictionary join
    // back onto every document's word stream
    "q163_bpe_segment" -> bpeSegmentSql(8),

    // q160: lmIndexedReplay's split with the trigram backoff chain —
    // seen trigrams at c3p // c3, trigram misses at the bigram ratio
    // plus one penalty bit (spelled − 1 + 1 in both engines), full
    // falls at the add-one unigram floor plus two, and both per-doc
    // backoff counts
    // q169: replays the Kirsch–Mitzenmacher cells (the two char-folds
    // q32's oracle already spells), the grouped cell counts, the
    // min-over-depth estimates, exact counts, and the N/200 threshold
    "q169_heavy_hitters_cms" -> {
      def fold(base: Long, p: Long) =
        s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(range(1, length(tok) + 1),
                i -> CAST(ascii(substr(tok, i, 1)) AS BIGINT))),
              (acc, c) -> (acc * $base + c) % $p)"""
      s"""WITH toks AS (
            SELECT unnest(string_split(text, ' ')) AS tok
            FROM documents WHERE text IS NOT NULL),
          h AS (SELECT tok, ${fold(31L, 1000000007L)} AS h1,
                       ${fold(131L, 998244353L)} AS h2
                FROM toks),
          cells AS (
            SELECT dd.d, (h1 + dd.d * h2) % 1024 AS bucket,
                   count(*) AS c
            FROM h CROSS JOIN range(0, 4) dd(d) GROUP BY 1, 2),
          cand AS (SELECT tok, count(*) AS exact FROM toks GROUP BY tok),
          n AS (SELECT count(*) AS n FROM toks),
          candh AS (SELECT tok, exact, ${fold(31L, 1000000007L)} AS h1,
                           ${fold(131L, 998244353L)} AS h2
                    FROM cand),
          est AS (
            SELECT x.tok, x.exact, min(coalesce(c.c, 0)) AS est
            FROM (SELECT tok, exact, dd.d AS d,
                         (h1 + dd.d * h2) % 1024 AS bucket
                  FROM candh CROSS JOIN range(0, 4) dd(d)) x
            LEFT JOIN cells c ON c.d = x.d AND c.bucket = x.bucket
            GROUP BY x.tok, x.exact)
          SELECT tok, CAST(est AS BIGINT) AS est,
                 CAST(exact AS BIGINT) AS exact,
                 CAST(est - exact AS BIGINT) AS overcount
          FROM est CROSS JOIN n
          WHERE est * 200 >= n.n
          ORDER BY tok"""
    },

    // q170: replays the register relation (bucket, max leading-zero
    // rank), the exact-integer harmonic sum (empty registers at 2^25),
    // the α₆₄ = 709/1000 integer estimate, and the signed error
    "q170_hll_distinct" -> {
      val fold =
        s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(range(1, length(tok) + 1),
                i -> CAST(ascii(substr(tok, i, 1)) AS BIGINT))),
              (acc, c) -> (acc * 31 + c) % 1000000007)"""
      s"""WITH toks AS (
            SELECT unnest(string_split(text, ' ')) AS tok
            FROM documents WHERE text IS NOT NULL),
          h AS (SELECT $fold AS h FROM toks),
          r AS (SELECT h % 64 AS bucket,
                       max(CASE WHEN h // 64 = 0 THEN 25
                                ELSE 25 - length(bin(h // 64)) END) AS r
                FROM h GROUP BY 1),
          s AS (SELECT CAST(sum(1 << (25 - r)) AS BIGINT)
                       + (64 - count(*)) * ${1L << 25} AS s,
                       64 - count(*) AS zero_registers
                FROM r),
          e AS (SELECT count(DISTINCT tok) AS exact_distinct FROM toks)
          SELECT CAST(64 AS BIGINT) AS m,
                 CAST(zero_registers AS BIGINT) AS zero_registers,
                 CAST(s AS BIGINT) AS s,
                 CAST(${709L * 64 * 64 * (1L << 25)} // (1000 * s)
                      AS BIGINT) AS est_distinct,
                 CAST(exact_distinct AS BIGINT) AS exact_distinct,
                 CAST(${709L * 64 * 64 * (1L << 25)} // (1000 * s)
                      - exact_distinct AS BIGINT) AS err
          FROM s CROSS JOIN e"""
    },

    // q168: replays the continuation statistics (N1+(p·) per prefix,
    // N1+(·w) per word, B distinct bigram types), the integerized
    // interpolation num/den, and the unseen-prefix continuation fall —
    // exact equality because every probability is a ratio of integers
    "q168_kneser_ney" ->
      s"""WITH s0 AS (SELECT doc_id, string_split(text, ' ') AS toks,
                             $fpFold % 100 AS b
                      FROM documents WHERE text IS NOT NULL),
          tr AS (SELECT doc_id, toks FROM s0 WHERE b < 80),
          te AS (SELECT doc_id, toks FROM s0 WHERE b >= 90),
          gtr AS (SELECT toks[i] AS p, toks[i + 1] AS w
                  FROM (SELECT toks, unnest(range(1, len(toks))) AS i
                        FROM tr)),
          gte AS (SELECT doc_id, toks[i] AS p, toks[i + 1] AS w
                  FROM (SELECT doc_id, toks,
                               unnest(range(1, len(toks))) AS i
                        FROM te)),
          cb AS (SELECT p, w, count(*) AS cb FROM gtr GROUP BY p, w),
          cu AS (SELECT p, CAST(sum(cb) AS BIGINT) AS cu,
                        count(*) AS n1p_p
                 FROM cb GROUP BY p),
          cwn AS (SELECT w, count(*) AS n1p_w FROM cb GROUP BY w),
          bv AS (SELECT (SELECT count(*) FROM cb) AS b,
                        (SELECT count(DISTINCT tok)
                         FROM (SELECT unnest(toks) AS tok FROM tr)) AS v),
          -- den/num in HUGEINT (the engine's DECIMAL(38,0) — BIGINT
          -- products overflow at scale) and the same two-step quotient:
          -- h1 = q div 2^30; bin() takes BIGINT, q can pass it
          sq AS (SELECT gte.doc_id, cu.cu, cwn.n1p_w, bv.b, bv.v,
                        4 * CAST(cu.cu AS HUGEINT) * (bv.b + bv.v) AS den,
                        (greatest(4 * CAST(coalesce(cb.cb, 0) AS HUGEINT)
                                    - 3, 0) * (bv.b + bv.v)
                         + 3 * CAST(cu.n1p_p AS HUGEINT)
                           * (coalesce(cwn.n1p_w, 0) + 1)) AS num
                 FROM gte LEFT JOIN cb USING (p, w)
                 LEFT JOIN cu USING (p)
                 LEFT JOIN cwn USING (w) CROSS JOIN bv),
          s AS (SELECT doc_id,
                       CASE WHEN cu IS NOT NULL
                            THEN CASE WHEN den // (num * 1073741824) = 0
                                 THEN length(bin(CAST(den // num AS BIGINT)))
                                        - 1
                                 ELSE 30 + length(bin(CAST(
                                        den // (num * 1073741824)
                                        AS BIGINT))) - 1 END
                            ELSE length(bin((b + v)
                                   // (coalesce(n1p_w, 0) + 1))) - 1
                       END AS bits,
                       CASE WHEN cu IS NULL THEN 1 ELSE 0 END AS miss
                FROM sq),
          r AS (SELECT doc_id, count(*) AS n_bigrams,
                       sum(miss) AS n_unseen_prefix,
                       sum(bits) AS total_bits
                FROM s GROUP BY doc_id)
          SELECT te.doc_id,
                 CAST(coalesce(r.n_bigrams, 0) AS BIGINT) AS n_bigrams,
                 CAST(coalesce(r.n_unseen_prefix, 0) AS BIGINT)
                   AS n_unseen_prefix,
                 CAST(coalesce(r.total_bits, 0) AS BIGINT) AS total_bits,
                 CAST(coalesce(r.total_bits * 100 // r.n_bigrams, 0)
                      AS BIGINT) AS bits_x100
          FROM te LEFT JOIN r ON te.doc_id = r.doc_id
          ORDER BY te.doc_id""",

    "q160_stupid_backoff" ->
      s"""WITH s0 AS (SELECT doc_id, text, string_split(text, ' ') AS toks,
                             $fpFold % 100 AS b
                      FROM documents WHERE text IS NOT NULL),
          tr AS (SELECT doc_id, toks FROM s0 WHERE b < 80),
          te AS (SELECT doc_id, toks FROM s0 WHERE b >= 90
                 UNION ALL
                 SELECT doc_id + 10000000 AS doc_id,
                        string_split(replace(text, ' ', '~v ') || '~v', ' ')
                          AS toks
                 FROM s0 WHERE b >= 90),
          g3tr AS (SELECT toks[i] AS a, toks[i + 1] AS p,
                          toks[i + 2] AS w
                   FROM (SELECT toks,
                                unnest(range(1, len(toks) - 1)) AS i
                         FROM tr)),
          g3te AS (SELECT doc_id, toks[i] AS a, toks[i + 1] AS p,
                          toks[i + 2] AS w
                   FROM (SELECT doc_id, toks,
                                unnest(range(1, len(toks) - 1)) AS i
                         FROM te)),
          gtr AS (SELECT toks[i] AS p, toks[i + 1] AS w
                  FROM (SELECT toks,
                               unnest(range(1, len(toks))) AS i
                        FROM tr)),
          c3 AS (SELECT a, p, w, count(*) AS c3 FROM g3tr
                 GROUP BY a, p, w),
          c3p AS (SELECT a, p, CAST(sum(c3) AS BIGINT) AS c3p
                  FROM c3 GROUP BY a, p),
          cb AS (SELECT p, w, count(*) AS cb FROM gtr GROUP BY p, w),
          cu AS (SELECT p, CAST(sum(cb) AS BIGINT) AS cu
                 FROM cb GROUP BY p),
          cw AS (SELECT tok AS w, count(*) AS cw
                 FROM (SELECT unnest(toks) AS tok FROM tr) GROUP BY tok),
          nv AS (SELECT CAST(sum(cw) AS BIGINT) AS n,
                        CAST(count(*) AS BIGINT) AS v
                 FROM cw),
          s AS (SELECT g3te.doc_id,
                       CASE WHEN c3.c3 IS NOT NULL
                            THEN length(bin(c3p.c3p // c3.c3)) - 1
                            WHEN cb.cb IS NOT NULL
                            THEN length(bin(cu.cu // cb.cb)) - 1 + 1
                            ELSE length(bin((nv.n + nv.v)
                                   // (coalesce(cw.cw, 0) + 1))) - 1 + 2
                       END AS bits,
                       CASE WHEN c3.c3 IS NOT NULL THEN 0
                            WHEN cb.cb IS NOT NULL THEN 1
                            ELSE 2 END AS lvl
                FROM g3te LEFT JOIN c3 USING (a, p, w)
                LEFT JOIN c3p USING (a, p)
                LEFT JOIN cb USING (p, w)
                LEFT JOIN cu USING (p)
                LEFT JOIN cw USING (w) CROSS JOIN nv),
          r AS (SELECT doc_id, count(*) AS n_trigrams,
                       sum(CASE WHEN lvl >= 1 THEN 1 ELSE 0 END)
                         AS n_backoffs,
                       sum(CASE WHEN lvl = 2 THEN 1 ELSE 0 END)
                         AS n_unigram_backoffs,
                       sum(bits) AS total_bits
                FROM s GROUP BY doc_id)
          SELECT te.doc_id,
                 CAST(coalesce(r.n_trigrams, 0) AS BIGINT) AS n_trigrams,
                 CAST(coalesce(r.n_backoffs, 0) AS BIGINT) AS n_backoffs,
                 CAST(coalesce(r.n_unigram_backoffs, 0) AS BIGINT)
                   AS n_unigram_backoffs,
                 CAST(coalesce(r.total_bits, 0) AS BIGINT) AS total_bits,
                 CAST(coalesce(r.total_bits * 100 // r.n_trigrams, 0)
                      AS BIGINT) AS bits_x100
          FROM te LEFT JOIN r ON te.doc_id = r.doc_id
          ORDER BY te.doc_id""",

    // q157: the class counts, the per-token floor-log₂ weights (length
    // (bin(x)) − 1 == the engine's spelling), and every margin/verdict —
    // scoring over the train corpus itself, so the inner token join is
    // the engine's left-join-with-unk-fallback on this data
    "q157_nb_class_filter" ->
      """WITH tr AS (SELECT (lang = 'en') AS y,
                            unnest(string_split(text, ' ')) AS tok
                     FROM documents WHERE text IS NOT NULL),
          c AS (SELECT tok,
                       CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT)
                         AS np,
                       CAST(sum(CASE WHEN NOT y THEN 1 ELSE 0 END)
                            AS BIGINT) AS nn
                FROM tr GROUP BY tok),
          w AS (SELECT tok,
                       CAST((length(bin((tn + v) // (nn + 1))) - 1)
                          - (length(bin((tp + v) // (np + 1))) - 1)
                            AS BIGINT) AS wbits
                FROM (SELECT tok, np, nn,
                             CAST(sum(np) OVER () AS BIGINT) AS tp,
                             CAST(sum(nn) OVER () AS BIGINT) AS tn,
                             CAST(count(*) OVER () AS BIGINT) AS v
                      FROM c)),
          s AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                FROM documents WHERE text IS NOT NULL),
          pd AS (SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                        CAST(sum(w.wbits) AS BIGINT) AS margin_bits
                 FROM s JOIN w USING (tok) GROUP BY s.doc_id)
          SELECT d.doc_id,
                 CAST(coalesce(pd.n_tokens, 0) AS BIGINT) AS n_tokens,
                 CAST(coalesce(pd.margin_bits, 0) AS BIGINT) AS margin_bits,
                 coalesce(pd.margin_bits, 0) >= 0 AS keep
          FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id
          ORDER BY d.doc_id""",

    // q140: q91's replay wrapped in the score-class tercile rule — the
    // same histogram cumsum and integer div the engine applies
    "q140_perplexity_buckets" ->
      s"""WITH scored AS ($lmIndexedReplay),
            hist AS (SELECT bits_x100, count(*) AS n FROM scored
                     GROUP BY bits_x100),
            c AS (SELECT bits_x100,
                         sum(n) OVER (ORDER BY bits_x100) - n AS cb,
                         sum(n) OVER () AS nt
                  FROM hist),
            b AS (SELECT bits_x100,
                         CAST(least(cb * 3 // nt + 1, 3) AS BIGINT)
                           AS ppl_bucket
                  FROM c)
          SELECT s.doc_id, s.n_bigrams, s.total_bits, s.bits_x100,
                 b.ppl_bucket
          FROM scored s JOIN b USING (bits_x100)
          ORDER BY s.doc_id""",

    // q91's replay with the TRAIN side filtered to the survivors — the
    // subtracted model must be indistinguishable from training on them
    "q107_lm_index_delete" ->
      s"""WITH s0 AS (SELECT doc_id, string_split(text, ' ') AS toks,
                             $fpFold % 100 AS b
                      FROM documents WHERE text IS NOT NULL),
         tr AS (SELECT doc_id, toks FROM s0
                WHERE b < 80 AND doc_id % 10 <> 3),
         te AS (SELECT doc_id, toks FROM s0 WHERE b >= 90),
         gtr AS (SELECT doc_id, toks[i] AS p, toks[i + 1] AS w
                 FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
                       FROM tr)),
         gte AS (SELECT doc_id, toks[i] AS p, toks[i + 1] AS w
                 FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
                       FROM te)),
         cb AS (SELECT p, w, count(*) AS cb FROM gtr GROUP BY p, w),
         cu AS (SELECT p, count(*) AS cu FROM gtr GROUP BY p),
         v AS (SELECT count(DISTINCT tok) AS v
               FROM (SELECT unnest(toks) AS tok FROM tr)),
         s AS (SELECT gte.doc_id,
                      length(bin((coalesce(cu.cu, 0) + v.v)
                                 // (coalesce(cb.cb, 0) + 1))) - 1 AS bits
               FROM gte LEFT JOIN cb USING (p, w) LEFT JOIN cu USING (p)
               CROSS JOIN v),
         r AS (SELECT doc_id, count(*) AS n_bigrams,
                      sum(bits) AS total_bits
               FROM s GROUP BY doc_id)
         SELECT te.doc_id,
                CAST(coalesce(r.n_bigrams, 0) AS BIGINT) AS n_bigrams,
                CAST(coalesce(r.total_bits, 0) AS BIGINT) AS total_bits,
                CAST(coalesce(r.total_bits * 100 // r.n_bigrams, 0)
                     AS BIGINT) AS bits_x100
         FROM te LEFT JOIN r ON te.doc_id = r.doc_id
         ORDER BY te.doc_id""",

    // q54's machinery, inverted: train docs NOT in the leak-pair set
    "q79_decontaminate_filter" ->
      s"""WITH s AS (
            SELECT doc_id, source, string_split(text, ' ') AS toks,
                   $fpFold % 100 AS b
            FROM documents),
          g AS (
            SELECT doc_id, b,
                   list_distinct(list_transform(range(1, len(toks) - 3),
                     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                          || ' ' || toks[i+3] || ' ' || toks[i+4])) AS grams
            FROM s),
          tg AS (SELECT doc_id AS train_id, unnest(grams) AS gr
                 FROM g WHERE b < 80),
          dfq AS (SELECT gr, count(*) AS dfc FROM tg GROUP BY gr),
          tk AS (SELECT train_id, tg.gr FROM tg JOIN dfq USING (gr)
                 WHERE dfc <= 10000),
          eg AS (SELECT doc_id AS eval_id, unnest(grams) AS gr
                 FROM g WHERE b >= 90),
          leaks AS (SELECT DISTINCT train_id FROM tk JOIN eg USING (gr))
          SELECT s.doc_id, s.source
          FROM s LEFT JOIN leaks ON s.doc_id = leaks.train_id
          WHERE s.b < 80 AND leaks.train_id IS NULL
          ORDER BY s.doc_id""",

    // engine joins on xxhash64 of the sentence; the oracle joins on the
    // sentence text itself — identical modulo 2^-64 collisions (the same
    // equivalence q66 relies on)
    "q72_decontaminate_sentences" ->
      s"""WITH s AS (
            SELECT doc_id, text, $fpFold % 100 AS b FROM documents),
          sen AS (
            SELECT doc_id, b, trim(x) AS sent
            FROM (SELECT doc_id, b,
                         unnest(string_split_regex(text, '[.!?]+')) AS x
                  FROM s)
            WHERE length(trim(x)) >= 20),
          tset AS (SELECT DISTINCT sent FROM sen WHERE b < 80),
          es AS (SELECT DISTINCT doc_id AS eval_id, sent
                 FROM sen WHERE b >= 90),
          agg AS (
            SELECT eval_id,
                   count(*) AS n_sentences,
                   CAST(sum(CASE WHEN t.sent IS NOT NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_leaked
            FROM es LEFT JOIN tset t ON es.sent = t.sent
            GROUP BY eval_id)
          SELECT d.doc_id AS eval_id,
                 coalesce(a.n_sentences, 0) AS n_sentences,
                 coalesce(a.n_leaked, 0) AS n_leaked
          FROM (SELECT doc_id FROM s WHERE b >= 90) d
          LEFT JOIN agg a ON d.doc_id = a.eval_id
          ORDER BY eval_id""",

    "q55_stream_quality_gate" ->
      s"""WITH b AS (
            SELECT doc_id, text, string_split(text, ' ') AS toks,
                   length(text) AS nc
            FROM documents),
          m AS (
            SELECT doc_id, text,
                   CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr,
                   CAST(len(list_filter(toks, x -> x IN ($stopListSql))) AS DOUBLE)
                     / len(toks) AS stop_ratio,
                   CAST(nc - (len(toks) - 1) AS DOUBLE) / len(toks) AS mtl
            FROM b),
          sc AS (
            SELECT doc_id, text,
                   ttr * 0.5 + (1.0 - stop_ratio) * 0.3 +
                   (CASE WHEN mtl BETWEEN 3.0 AND 8.0 THEN 1.0 ELSE 0.5 END) * 0.2
                     AS quality
            FROM m)
          SELECT doc_id, quality,
                 CASE WHEN $fpFold % 100 < 80 THEN 'train'
                      WHEN $fpFold % 100 < 90 THEN 'val'
                      ELSE 'test' END AS split
          FROM sc WHERE quality >= 0.8 ORDER BY doc_id""",

    "q60_pack_sequences" ->
      """SELECT doc_id, source,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                CAST(floor(COALESCE(sum(len(string_split(text, ' ')))
                    OVER (PARTITION BY source ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  / 256.0) AS BIGINT) AS pack_id
         FROM documents ORDER BY doc_id""",

    "q59_mixture_sample" ->
      s"""SELECT doc_id, source FROM
          (SELECT doc_id, source, $fpFold % 1000 AS b FROM documents)
          WHERE b < (CASE source WHEN 'src0' THEN 250
                                 WHEN 'src1' THEN 500 ELSE 1000 END)
          ORDER BY doc_id""",

    "q58_stream_dedup" ->
      """SELECT DISTINCT sha256(text) AS content_hash FROM documents
         ORDER BY content_hash""",

    // LEFT JOIN ... IS NULL, not NOT IN: anti-join semantics must keep
    // NULL-hash rows the way the engine's left_anti does (null keys never
    // match), where NOT IN would three-value-logic them away
    "q76_stream_incremental_dedup" ->
      """WITH known AS (
           SELECT DISTINCT sha256(text) AS h
           FROM documents WHERE doc_id % 3 = 0),
         hashes AS (SELECT DISTINCT sha256(text) AS content_hash
                    FROM documents)
         SELECT content_hash
         FROM hashes LEFT JOIN known ON hashes.content_hash = known.h
         WHERE known.h IS NULL
         ORDER BY content_hash""",

    "q62_stratified_sample" ->
      s"""SELECT doc_id, source, sample_rank FROM (
            SELECT doc_id, source,
                   CAST(row_number() OVER (PARTITION BY source
                                           ORDER BY fp, doc_id) AS INTEGER)
                     AS sample_rank
            FROM (SELECT doc_id, source, $fpFold AS fp FROM documents))
          WHERE sample_rank <= 10 ORDER BY doc_id""",

    "q56_dedup_incremental" ->
      """WITH newd AS (SELECT * FROM documents WHERE doc_id % 10 >= 6),
          ex AS (SELECT DISTINCT text FROM documents WHERE doc_id % 10 < 6)
          SELECT min(doc_id) AS keeper_id, count(*) AS n_copies
          FROM newd WHERE text NOT IN (SELECT text FROM ex)
          GROUP BY text ORDER BY keeper_id""",

    // q84's flag contract restricted to the flagged ids: exact Jaccard ≥
    // 0.9 against any manifest doc (the engine's streaming LSH probe is
    // invisible at recall ≈ 1; null-text docs never flag)
    "q86_stream_neardup_manifest" ->
      """WITH m AS (
           SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
           FROM documents WHERE doc_id % 10 < 5 AND text IS NOT NULL),
         n AS (
           SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
           FROM documents WHERE doc_id % 10 >= 5 AND text IS NOT NULL)
         SELECT DISTINCT n.doc_id AS doc_id
         FROM n JOIN m ON
           CAST(len(list_intersect(n.toks, m.toks)) AS DOUBLE)
             / (len(n.toks) + len(m.toks) - len(list_intersect(n.toks, m.toks)))
           >= 0.9
         ORDER BY 1""",

    // the naive total-sort formulation IS the oracle: cumulative tokens
    // over (score DESC, doc_id), kept while within half the corpus's
    // tokens — the engine's histogram-admission plan must agree exactly
    "q85_budget_select" ->
      """WITH s AS (
           SELECT doc_id,
                  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
                    AS score,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
           FROM documents WHERE text IS NOT NULL),
         t AS (SELECT sum(n_tokens) * 500 // 1000 AS budget FROM s),
         c AS (SELECT s.*,
                      sum(n_tokens) OVER (ORDER BY score DESC, doc_id)
                        AS cum
               FROM s)
         SELECT doc_id, score, n_tokens FROM c, t
         WHERE cum <= budget ORDER BY doc_id""",

    // q85's prefix rule with the window and budget both keyed by source
    "q112_budget_select_by_source" ->
      """WITH s AS (
           SELECT doc_id, source,
                  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
                    AS score,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
           FROM documents WHERE text IS NOT NULL),
         t AS (SELECT source, sum(n_tokens) * 500 // 1000 AS budget
               FROM s GROUP BY source),
         c AS (SELECT s.*,
                      sum(n_tokens) OVER (PARTITION BY source
                                          ORDER BY score DESC, doc_id)
                        AS cum
               FROM s)
         SELECT c.doc_id, c.source, c.score, c.n_tokens
         FROM c JOIN t USING (source)
         WHERE cum <= budget ORDER BY doc_id""",

    // the funnel replayed as a CTE chain of the stages' own oracles
    // (q21's quality formula, q78's normalized-content grouping, q85's
    // prefix-rule budget), aggregated to per-stage counts
    "q113_pipeline_funnel" ->
      s"""WITH base AS (
            SELECT doc_id, text,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                   CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                     / len(string_split(text, ' ')) * 0.5
                   + (1.0 - CAST(len(list_filter(string_split(text, ' '),
                         x -> x IN ($stopListSql))) AS DOUBLE)
                       / len(string_split(text, ' '))) * 0.3
                   + (CASE WHEN CAST(length(text)
                                     - (len(string_split(text, ' ')) - 1)
                                  AS DOUBLE) / len(string_split(text, ' '))
                             BETWEEN 3.0 AND 8.0
                           THEN 1.0 ELSE 0.5 END) * 0.2 AS quality
            FROM documents WHERE text IS NOT NULL),
          gated AS (SELECT * FROM base WHERE quality >= 0.68),
          keep AS (SELECT min(doc_id) AS doc_id FROM gated
                   GROUP BY trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))),
          dd AS (SELECT gated.* FROM gated JOIN keep USING (doc_id)),
          bud AS (SELECT sum(n_tokens) * 500 // 1000 AS budget FROM dd),
          cum AS (SELECT dd.*,
                         sum(n_tokens) OVER (ORDER BY quality DESC, doc_id)
                           AS cum_tok
                  FROM dd),
          sel AS (SELECT cum.* FROM cum, bud WHERE cum_tok <= budget)
          SELECT * FROM (
            SELECT CAST(0 AS INTEGER) AS stage_idx, 'ingest' AS stage,
                   count(*) AS docs_kept,
                   CAST(COALESCE(sum(n_tokens), 0) AS BIGINT) AS tokens_kept
            FROM base
            UNION ALL
            SELECT 1, 'quality', count(*),
                   CAST(COALESCE(sum(n_tokens), 0) AS BIGINT) FROM gated
            UNION ALL
            SELECT 2, 'dedup', count(*),
                   CAST(COALESCE(sum(n_tokens), 0) AS BIGINT) FROM dd
            UNION ALL
            SELECT 3, 'budget', count(*),
                   CAST(COALESCE(sum(n_tokens), 0) AS BIGINT) FROM sel)
          ORDER BY stage_idx""",

    // q113's stage replays + the q146 contamination verdict (max-cos
    // HAVING — only the verdict is needed, no argmax) + q148's
    // sqrt-ratio rates computed over the POST-decontam survivor counts
    "q150_training_prep_funnel" ->
      s"""WITH base AS (
            SELECT doc_id, source AS src, text,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                   CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                     / len(string_split(text, ' ')) * 0.5
                   + (1.0 - CAST(len(list_filter(string_split(text, ' '),
                         x -> x IN ($stopListSql))) AS DOUBLE)
                       / len(string_split(text, ' '))) * 0.3
                   + (CASE WHEN CAST(length(text)
                                     - (len(string_split(text, ' ')) - 1)
                                  AS DOUBLE) / len(string_split(text, ' '))
                             BETWEEN 3.0 AND 8.0
                           THEN 1.0 ELSE 0.5 END) * 0.2 AS quality
            FROM documents WHERE text IS NOT NULL),
          gated AS (SELECT * FROM base WHERE quality >= 0.68),
          keep AS (SELECT min(doc_id) AS doc_id FROM gated
                   GROUP BY trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))),
          dd AS (SELECT gated.* FROM gated JOIN keep USING (doc_id)),
          e AS (SELECT vec_id, embedding,
                       sqrt(${SimilarityQueries.duckDot(
                         "embedding", "embedding")}) AS nrm
                FROM embeddings),
          cont AS (
            SELECT t.vec_id FROM (SELECT * FROM e WHERE vec_id % 20 <> 7) t
            CROSS JOIN (SELECT * FROM e WHERE vec_id % 20 = 7) p
            GROUP BY t.vec_id
            HAVING max(${SimilarityQueries.duckDot(
              "t.embedding", "p.embedding")} / (t.nrm * p.nrm)) >= 0.35),
          dc AS (SELECT dd.* FROM dd LEFT JOIN cont
                 ON dd.doc_id = cont.vec_id WHERE cont.vec_id IS NULL),
          n AS (SELECT src, count(*) AS n_source FROM dc GROUP BY src),
          m AS (SELECT min(n_source) AS n_min FROM n),
          r AS (SELECT src, CAST(floor((1000 * sqrt(n_min)) / sqrt(n_source))
                                 AS BIGINT) AS rate_pm
                FROM n CROSS JOIN m),
          mx AS (SELECT dc.* FROM dc JOIN r USING (src)
                 WHERE $fpFold % 1000 < rate_pm)
          SELECT * FROM (
            SELECT CAST(0 AS INTEGER) AS stage_idx, 'ingest' AS stage,
                   count(*) AS docs_kept,
                   CAST(COALESCE(sum(n_tokens), 0) AS BIGINT) AS tokens_kept
            FROM base
            UNION ALL SELECT 1, 'quality', count(*),
                   CAST(COALESCE(sum(n_tokens), 0) AS BIGINT) FROM gated
            UNION ALL SELECT 2, 'dedup', count(*),
                   CAST(COALESCE(sum(n_tokens), 0) AS BIGINT) FROM dd
            UNION ALL SELECT 3, 'decontam', count(*),
                   CAST(COALESCE(sum(n_tokens), 0) AS BIGINT) FROM dc
            UNION ALL SELECT 4, 'mixture', count(*),
                   CAST(COALESCE(sum(n_tokens), 0) AS BIGINT) FROM mx)
          ORDER BY stage_idx""",

    // exact dual of q56's oracle on the q63 split: the Bloom prefilter is
    // invisible to the output contract
    "q63_dedup_bloom_incremental" ->
      """WITH newd AS (SELECT * FROM documents WHERE doc_id % 10 >= 4),
          ex AS (SELECT DISTINCT text FROM documents WHERE doc_id % 10 < 4)
          SELECT min(doc_id) AS keeper_id, count(*) AS n_copies
          FROM newd WHERE text NOT IN (SELECT text FROM ex)
          GROUP BY text ORDER BY keeper_id""",

    // q74's whole-corpus report card verbatim: the merged per-part
    // histograms must be indistinguishable from a single-pass recompute
    "q96_stats_merge" ->
      """WITH h AS (
           SELECT source, lang, len(string_split(text, ' ')) AS n_toks,
                  count(*) AS c
           FROM documents WHERE text IS NOT NULL GROUP BY 1, 2, 3),
         cum AS (
           SELECT source, lang, n_toks, c,
                  sum(c) OVER (PARTITION BY source, lang
                               ORDER BY n_toks) AS hi,
                  sum(c) OVER (PARTITION BY source, lang) AS cnt
           FROM h),
         b AS (SELECT *, hi - c + 1 AS lo FROM cum)
         SELECT source, lang,
                CAST(max(cnt) AS BIGINT) AS n_docs,
                CAST(sum(n_toks * c) AS DOUBLE) / max(cnt) AS mean_tokens,
                CAST(max(CASE WHEN (cnt-1)*50//100+1 BETWEEN lo AND hi
                              THEN n_toks END) AS BIGINT) AS p50_tokens,
                CAST(max(CASE WHEN (cnt-1)*90//100+1 BETWEEN lo AND hi
                              THEN n_toks END) AS BIGINT) AS p90_tokens,
                CAST(max(CASE WHEN (cnt-1)*99//100+1 BETWEEN lo AND hi
                              THEN n_toks END) AS BIGINT) AS p99_tokens
         FROM b GROUP BY source, lang ORDER BY source, lang""",

    // q74's whole-corpus SQL again: the stream-maintained histogram must
    // finalize to exactly the batch report card
    "q101_stream_stats" ->
      """WITH h AS (
           SELECT source, lang, len(string_split(text, ' ')) AS n_toks,
                  count(*) AS c
           FROM documents WHERE text IS NOT NULL GROUP BY 1, 2, 3),
         cum AS (
           SELECT source, lang, n_toks, c,
                  sum(c) OVER (PARTITION BY source, lang
                               ORDER BY n_toks) AS hi,
                  sum(c) OVER (PARTITION BY source, lang) AS cnt
           FROM h),
         b AS (SELECT *, hi - c + 1 AS lo FROM cum)
         SELECT source, lang,
                CAST(max(cnt) AS BIGINT) AS n_docs,
                CAST(sum(n_toks * c) AS DOUBLE) / max(cnt) AS mean_tokens,
                CAST(max(CASE WHEN (cnt-1)*50//100+1 BETWEEN lo AND hi
                              THEN n_toks END) AS BIGINT) AS p50_tokens,
                CAST(max(CASE WHEN (cnt-1)*90//100+1 BETWEEN lo AND hi
                              THEN n_toks END) AS BIGINT) AS p90_tokens,
                CAST(max(CASE WHEN (cnt-1)*99//100+1 BETWEEN lo AND hi
                              THEN n_toks END) AS BIGINT) AS p99_tokens
         FROM b GROUP BY source, lang ORDER BY source, lang""",

    // q74's p90 replay joined back onto the corpus — the gate itself is
    // pure integer comparison
    "q98_length_outliers" ->
      """WITH h AS (
           SELECT source, lang, len(string_split(text, ' ')) AS n_toks,
                  count(*) AS c
           FROM documents WHERE text IS NOT NULL GROUP BY 1, 2, 3),
         cum AS (
           SELECT source, lang, n_toks, c,
                  sum(c) OVER (PARTITION BY source, lang
                               ORDER BY n_toks) AS hi,
                  sum(c) OVER (PARTITION BY source, lang) AS cnt
           FROM h),
         b AS (SELECT *, hi - c + 1 AS lo FROM cum),
         st AS (
           SELECT source, lang,
                  CAST(max(CASE WHEN (cnt-1)*90//100+1 BETWEEN lo AND hi
                                THEN n_toks END) AS BIGINT) AS p90_tokens
           FROM b GROUP BY source, lang)
         SELECT doc_id, d.source, d.lang,
                len(string_split(text, ' ')) AS n_toks, p90_tokens,
                CAST(CASE WHEN len(string_split(text, ' ')) > p90_tokens
                          THEN 1 ELSE 0 END AS INTEGER) AS is_outlier
         FROM documents d JOIN st ON d.source = st.source AND d.lang = st.lang
         WHERE d.text IS NOT NULL
         ORDER BY doc_id""",

    // q171: replays the trigram stream, the fold hashes, the k smallest
    // distinct values (the merged halves' sketch EQUALS the union's —
    // the mergeability claim — so the oracle sketches the union
    // directly), the (k−1)·P div h_k estimate, and the exact rider
    "q171_kmv_distinct" ->
      s"""WITH s0 AS (SELECT string_split(text, ' ') AS toks
                      FROM documents WHERE text IS NOT NULL),
          gs AS (SELECT unnest(list_transform(range(1, len(toks) - 1),
                        i -> toks[i] || ' ' || toks[i + 1] || ' '
                             || toks[i + 2])) AS g
                 FROM s0 WHERE len(toks) >= 3),
          hs AS (SELECT DISTINCT $gramFold AS h FROM gs),
          mins AS (SELECT h FROM hs ORDER BY h LIMIT 256),
          a AS (SELECT count(*) AS filled, max(h) AS hk FROM mins),
          e AS (SELECT count(DISTINCT g) AS exact_distinct FROM gs)
          SELECT CAST(256 AS BIGINT) AS k,
                 CAST(filled AS BIGINT) AS filled,
                 CAST(hk AS BIGINT) AS hk,
                 CAST(CASE WHEN filled < 256 THEN filled
                      ELSE (CAST(255 AS BIGINT) * 1000000007) // hk END AS BIGINT)
                   AS est_distinct,
                 CAST(exact_distinct AS BIGINT) AS exact_distinct,
                 CAST(CASE WHEN filled < 256 THEN filled
                      ELSE (CAST(255 AS BIGINT) * 1000000007) // hk END
                      - exact_distinct AS BIGINT) AS err
          FROM a CROSS JOIN e""",

    // q172: replays the per-language k-smallest sketches, each pair's
    // union re-sketch with both-side membership flags, the matched/k
    // estimate, and the exact intersection/union/Jaccard riders
    "q172_kmv_lang_overlap" ->
      s"""WITH s0 AS (SELECT lang, string_split(text, ' ') AS toks
                      FROM documents
                      WHERE text IS NOT NULL AND lang IS NOT NULL),
          gr AS (SELECT lang,
                        unnest(list_transform(range(1, len(toks) - 1),
                          i -> toks[i] || ' ' || toks[i + 1] || ' '
                               || toks[i + 2])) AS g
                 FROM s0 WHERE len(toks) >= 3),
          gd AS (SELECT DISTINCT lang, g FROM gr),
          hd AS (SELECT DISTINCT lang, $gramFold AS h FROM gd),
          mins AS (SELECT lang, h
                   FROM (SELECT lang, h, row_number()
                           OVER (PARTITION BY lang ORDER BY h) AS rn
                         FROM hd)
                   WHERE rn <= 256),
          mem AS (SELECT a.lang AS key_a, b.lang AS key_b, m.h,
                         max(CASE WHEN m.lang = a.lang THEN 1 ELSE 0 END)
                           AS in_a,
                         max(CASE WHEN m.lang = b.lang THEN 1 ELSE 0 END)
                           AS in_b
                  FROM (SELECT DISTINCT lang FROM mins) a
                  JOIN (SELECT DISTINCT lang FROM mins) b
                    ON a.lang < b.lang
                  JOIN mins m ON m.lang IN (a.lang, b.lang)
                  GROUP BY 1, 2, 3),
          sel AS (SELECT * FROM (SELECT *, row_number()
                                   OVER (PARTITION BY key_a, key_b
                                         ORDER BY h) AS rn
                                 FROM mem)
                  WHERE rn <= 256),
          est AS (SELECT key_a, key_b, count(*) AS k_used,
                         sum(CASE WHEN in_a + in_b = 2 THEN 1 ELSE 0 END)
                           AS matched
                  FROM sel GROUP BY 1, 2),
          sz AS (SELECT lang, count(*) AS n FROM gd GROUP BY 1),
          inter AS (SELECT a.lang AS key_a, b.lang AS key_b,
                           count(*) AS exact_inter
                    FROM gd a JOIN gd b
                      ON a.g = b.g AND a.lang < b.lang
                    GROUP BY 1, 2)
          SELECT est.key_a, est.key_b,
                 CAST(k_used AS BIGINT) AS k_used,
                 CAST(matched AS BIGINT) AS matched,
                 CAST((1000 * matched) // k_used AS BIGINT)
                   AS jacc_est_pm,
                 CAST(coalesce(exact_inter, 0) AS BIGINT) AS exact_inter,
                 CAST(sa.n + sb.n - coalesce(exact_inter, 0) AS BIGINT)
                   AS exact_union,
                 CAST((1000 * coalesce(exact_inter, 0))
                      // (sa.n + sb.n - coalesce(exact_inter, 0))
                      AS BIGINT) AS exact_jacc_pm,
                 CAST((1000 * matched) // k_used
                      - (1000 * coalesce(exact_inter, 0))
                        // (sa.n + sb.n - coalesce(exact_inter, 0))
                      AS BIGINT) AS err_pm
          FROM est
          LEFT JOIN inter ON inter.key_a = est.key_a
                         AND inter.key_b = est.key_b
          JOIN sz sa ON sa.lang = est.key_a
          JOIN sz sb ON sb.lang = est.key_b
          ORDER BY est.key_a, est.key_b"""
  )
}
