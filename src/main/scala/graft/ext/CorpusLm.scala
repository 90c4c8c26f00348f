package graft.ext

import graft.ops.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Language models and corpus scoring: NB class bits, bigram LM with persisted delta-maintained state, stupid backoff, Kneser-Ney, PMI, sentence decontamination, prep funnels.
  * One family of [[Corpus]] — the object is assembled from the
  * per-family traits (graft.ext.Corpus*.scala) so each file stays
  * reviewable; call sites are unchanged.
  */
trait CorpusLm extends CorpusTokenizers {
  /** Naive Bayes reference-class filter — the fastText/CCNet-style
    * "train a cheap classifier on a labeled seed, filter the crawl with
    * it" pipeline stage, as one declarative plan. `labelCol` marks the
    * training rows' reference class (CCNet uses "is Wikipedia"; q157
    * uses `lang = 'en'`); every `score` document gets the multinomial-NB
    * log-odds of that class over its token stream, with add-one
    * smoothing and a uniform class prior.
    *
    * ALL log arithmetic is the corpus's INTEGER floor-log₂ convention
    * ([[lmPerplexity]]'s `length(bin(x)) − 1` trick): per token t and
    * class c the smoothed surprisal is
    * bits_c(t) = floor(log₂((T_c + V) div (n_c(t) + 1))) with T_c the
    * class's token total and V the train vocabulary size, and the
    * per-token evidence is wbits(t) = bits_neg(t) − bits_pos(t)
    * (positive ⇒ the token is cheaper to encode under the reference
    * class). No float log anywhere, so the trained model AND every
    * verdict replay bit-identically in any engine. Tokens unseen in
    * training score the n_c = 0 floor through the same formula (the
    * one-row `unk` fallback); resolution is whole bits per token and a
    * document's margin sums hundreds of them.
    *
    * Output: (id, n_tokens, margin_bits, keep) per score document,
    * keep = margin_bits ≥ 0; empty/NULL-text documents come back
    * (0, 0, true) — a zero-evidence doc is uniform, the caller's
    * threshold decides its fate.
    *
    * Scale shape: training is one labeled-token explode folded to a
    * vocabulary-sized (token, n_pos, n_neg) relation (map-side partial
    * aggs); totals and V are three scalars folded by one aggregate and
    * broadcast as a single row (never a window over the unbounded
    * histogram, never a pass over the corpus). Scoring joins the
    * score corpus's token stream to the weight relation by token —
    * the planner/AQE broadcasts when the vocabulary is actually small
    * and shuffles otherwise (no forced hint: a fastText-scale seed has
    * tens of millions of tokens) — and folds per doc. Nothing collects;
    * at 100 TB persist the count relation like the LM's and rescore
    * incrementally.
    */
  def nbClassBits(train: DataFrame, score: DataFrame, labelCol: Column,
                  textCol: String, idCol: String): DataFrame = {
    val toks = train
      .where(col(textCol).isNotNull)
      .select(labelCol.cast("boolean").as("y"),
        explode(graft.ext.TextAnalysis.tokens(col(textCol))).as("tok"))
    val counts = toks.groupBy("tok")
      .agg(sum(when(col("y"), 1L).otherwise(0L)).as("np"),
        sum(when(!col("y"), 1L).otherwise(0L)).as("nn"))
    // Class totals and V are three scalars: one map-side-partial agg,
    // broadcast as a single row into everything that needs them. (An
    // unpartitioned window here would funnel the whole vocabulary
    // relation through one partition — the histogram is crawl-vocabulary
    // sized, not bounded.)
    val totals = counts
      .agg(sum("np").as("tp"), sum("nn").as("tn"), count(lit(1)).as("v"))
    val weighted = counts
      .crossJoin(broadcast(totals))
      .select(col("tok"),
        ((length(bin(expr("(tn + v) div (nn + 1)"))) - 1)
          - (length(bin(expr("(tp + v) div (np + 1)"))) - 1))
          .cast("long").as("wbits"))
    // the unseen-token fallback: the same formula at n_c = 0, one row
    val unk = totals
      .select(((length(bin(expr("(tn + v) div 1"))) - 1)
        - (length(bin(expr("(tp + v) div 1"))) - 1))
        .cast("long").as("unk_wbits"))
    val stream = score
      .where(col(textCol).isNotNull)
      .select(col(idCol).as("doc"),
        explode(graft.ext.TextAnalysis.tokens(col(textCol))).as("tok"))
    // No broadcast hint on the vocabulary join: `weighted` is one row per
    // distinct seed-set token, unbounded for a fastText-scale labeled
    // seed. The planner/AQE broadcasts it when it is actually small and
    // shuffles otherwise (PlanAuditSpec pins the broadcast-disabled plan).
    val perDoc = stream
      .join(weighted, Seq("tok"), "left")
      .crossJoin(broadcast(unk))
      .groupBy("doc")
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("wbits"), col("unk_wbits"))).as("margin_bits"))
    score.select(col(idCol).as("doc"))
      .join(perDoc, Seq("doc"), "left")
      .select(col("doc").as(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("margin_bits"), lit(0L)).as("margin_bits"),
        (coalesce(col("margin_bits"), lit(0L)) >= 0).as("keep"))
  }

  /** KenLM-shaped n-gram LM quality score: per-document surprisal under a
    * bigram model with add-one smoothing, trained on the corpus itself
    * (the CCNet recipe scores against a reference-corpus LM — pass that
    * corpus as `train` — and keeps the low-perplexity tail). Per bigram
    * (p, w) the smoothed probability is (c(p,w) + 1) / (c(p) + V); the
    * reported surprisal is its INTEGER log₂ floor:
    *
    *   bits(p, w) = floor(log₂((c(p) + V) div (c(p,w) + 1)))
    *
    * computed as `length(bin(ratio)) − 1` — pure integer arithmetic, no
    * float log anywhere, so the score replays bit-identically in any
    * engine (float ln/log2 differ across libm implementations in the last
    * ulp, which an exact-equality oracle cannot tolerate). Resolution is
    * whole bits at the per-bigram level; per document the mean over
    * hundreds of bigrams recovers fractional precision — bits_x100 is the
    * per-bigram mean in centibits, again by integer division.
    *
    * Output: (doc_id, n_bigrams, total_bits, bits_x100) per input
    * document; documents with fewer than two tokens (or NULL text) have no
    * bigrams and come back 0/0/0. High bits_x100 = surprising = low
    * quality under the model.
    *
    * Scale shape: the model is the (bigram count, prefix count) pair of
    * aggregate relations — partial-agged map-side; scoring joins the
    * exploded bigram stream to them by key (the prefix join's hot keys —
    * "the", "of" — are AQE-skew-splittable; no window anywhere). The
    * vocabulary size rides as a one-row broadcast. When scoring against a
    * FIXED reference LM at 100 TB, persist the two count relations and
    * broadcast them if the vocabulary is bounded.
    */
  def lmPerplexity(train: DataFrame, score: DataFrame, textCol: String,
                   idCol: String): DataFrame = {
    val (cb, cu, v) = trainLmCounts(train, textCol, idCol)
    scoreAgainstLm(score, cb, cu, v, textCol, idCol)
  }

  /** The (doc, p, w) bigram stream of a corpus — shared by LM training
    * and scoring, which must tokenize identically.
    */
  /** PMI COLLOCATION MINING (Church & Hanks, CL'90): the top-k adjacent
    * word pairs by pointwise mutual information — the collocation table
    * tokenizer-vocabulary and phrase-mining decisions read. In the
    * floor-log₂-bits discipline of [[lmPerplexity]]: lift =
    * (c(w1,w2)·N) div (c(w1)·c(w2)) as pure integers, pmi_bits =
    * length(bin(lift)) − 1, keep lift ≥ `minLift` (default 2 = PMI ≥ 1
    * bit, the standard positive-PMI cut; 1 = "at least independence",
    * the right floor for near-uniform corpora where nothing clears a
    * full bit) and pair count ≥ `minCount` (the classic
    * low-frequency PMI-inflation guard: a hapax pair has sky-high PMI
    * and zero evidence). The products run in DECIMAL(38,0): at a 100 TB
    * corpus c·N overflows a long (~10¹³ · 10¹³), while the DIV result
    * is ≤ N and always fits.
    *
    * Total order (lift DESC, n_pair DESC, w1, w2) → fully deterministic
    * top-k. Scale shape: the pair and unigram count relations are the
    * only corpus-sized passes (partial-agged map-side); the joins are
    * vocabulary-sized (planner-decided, no forced broadcast — the crawl
    * vocabulary rule from bpeSegmentCounts); N rides as a one-row
    * broadcast; the top-k is TakeOrderedAndProject, never a global sort.
    * Output: (w1, w2, n_pair, n_l, n_r, lift, pmi_bits).
    */
  def pmiCollocations(docs: DataFrame, textCol: String, idCol: String,
                      k: Int = 50, minCount: Long = 5L,
                      minLift: Long = 2L): DataFrame = {
    require(k >= 1, s"k must be positive: $k")
    require(minCount >= 1, s"minCount must be positive: $minCount")
    require(minLift >= 1, s"minLift must be positive: $minLift")
    val cb = bigramStream(docs, textCol, idCol)
      .groupBy(col("p").as("w1"), col("w").as("w2"))
      .agg(count(lit(1)).as("n_pair"))
    val cw = docs.where(col(textCol).isNotNull)
      .select(explode(split(col(textCol), " ")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n_tok"))
    val n = cw.agg(sum(col("n_tok")).as("n"))
    cb.where(col("n_pair") >= minCount)
      .join(cw.select(col("tok").as("w1"), col("n_tok").as("n_l")), Seq("w1"))
      .join(cw.select(col("tok").as("w2"), col("n_tok").as("n_r")), Seq("w2"))
      .crossJoin(broadcast(n))
      .select(col("w1"), col("w2"), col("n_pair"), col("n_l"), col("n_r"),
        expr("(CAST(n_pair AS DECIMAL(38,0)) * n) div " +
          "(CAST(n_l AS DECIMAL(38,0)) * n_r)").as("lift"))
      .where(col("lift") >= minLift)
      .select(col("w1"), col("w2"), col("n_pair"), col("n_l"), col("n_r"),
        col("lift"),
        (length(bin(col("lift"))) - 1).cast("long").as("pmi_bits"))
      .orderBy(col("lift").desc, col("n_pair").desc, col("w1"), col("w2"))
      .limit(k)
  }


  /** (bigram counts, prefix counts, vocab size) — the entire model. */
  private def trainLmCounts(train: DataFrame, textCol: String,
                            idCol: String): (DataFrame, DataFrame, DataFrame) = {
    val cb = bigramStream(train, textCol, idCol)
      .groupBy("p", "w").agg(count(lit(1)).as("cb"))
    // c(p) = Σ_w c(p,w) exactly (every bigram occurrence carries prefix
    // p), so the prefix counts REAGGREGATE the much smaller bigram-count
    // relation instead of a second explode pass over the corpus — q24's
    // tf→df shape. The vocab scan stays its own pass: a token appearing
    // only in one-token documents forms no bigram, so V is not derivable
    // from the gram stream.
    val cu = cb.groupBy("p").agg(sum(col("cb")).as("cu"))
    val v = train.where(col(textCol).isNotNull)
      .select(explode(split(col(textCol), " ")).as("tok"))
      .agg(countDistinct(col("tok")).as("v"))
    (cb, cu, v)
  }

  private def scoreAgainstLm(score: DataFrame, cb: DataFrame, cu: DataFrame,
                             v: DataFrame, textCol: String,
                             idCol: String): DataFrame = {
    // unseen bigrams/prefixes score against zero counts (left joins):
    // bits = floor(log2((c(p) + V) div (c(p,w) + 1))) in pure integers
    val scored = bigramStream(score, textCol, idCol)
      .join(cb, Seq("p", "w"), "left")
      .join(cu, Seq("p"), "left")
      .crossJoin(broadcast(v))
      .select(col("doc"),
        (length(bin(expr("(coalesce(cu, 0) + v) div (coalesce(cb, 0) + 1)")))
          - 1).cast("long").as("bits"))
    val perDoc = scored.groupBy("doc")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("bits")).as("total_bits"))
    score.select(col(idCol).as("doc"))
      .join(perDoc, Seq("doc"), "left")
      .select(col("doc").as("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("total_bits"), lit(0L)).as("total_bits"),
        coalesce(expr("total_bits * 100 div n_bigrams"), lit(0L))
          .as("bits_x100"))
  }

  /** STUPID BACKOFF scoring (Brants, Popat, Xu, Och, Dean — "Large
    * Language Models in Machine Translation", EMNLP'07): the
    * web-scale LM recipe that skips discounting entirely — score an
    * n-gram by its relative frequency when seen and recursively back
    * off with a constant penalty when not. Trigram model, per
    * test-corpus trigram (a, p, w), in the integer floor-log₂ bits of
    * [[lmPerplexity]] (no float log anywhere — the trained model and
    * every score replay exactly):
    *
    *   seen trigram:      bits = floor(log₂(c(a,p) div c(a,p,w)))
    *   else seen bigram:  bits = floor(log₂(c(p) div c(p,w))) + 1
    *   else:              bits = floor(log₂((N + V) div (c(w) + 1))) + 2
    *
    * with N the train corpus's token total, V its vocabulary size, and
    * add-one smoothing only where a count can be zero. The +1 bit per
    * backoff LEVEL is the backoff constant: α = 1/2 exactly, chosen
    * integral by design (Brants et al.'s α = 0.4 ≈ 1.32 bits — the
    * paper notes the value barely matters, and a whole bit keeps every
    * score integer).
    *
    * Versus [[lmPerplexity]]'s add-one bigram model: seen n-grams are
    * not dragged toward the vocabulary floor (c(p) + V inflates every
    * denominator there), and unseen ones fall back on real
    * lower-order evidence instead of a uniform V-sized guess — the
    * standard reason backoff dominates plain add-one at web scale.
    * The per-document backoff counts are reported too (the OOV-gram
    * rate is a quality signal in its own right).
    *
    * Output: (doc_id, n_trigrams, n_backoffs, n_unigram_backoffs,
    * total_bits, bits_x100) per score document — n_backoffs counts
    * trigram misses (either level), n_unigram_backoffs the full
    * two-level falls; documents with fewer than three tokens come back
    * all-zero.
    *
    * Scale shape: [[lmPerplexity]]'s counts-relation joins, one per
    * model order (trigram-, bigram-, unigram-count relations — each
    * partial-agged map-side, the lower orders vocabulary-sized and
    * broadcastable); the (N, V) pair rides as a one-row broadcast. Hot
    * contexts AQE-skew-split like the base model's.
    */
  def stupidBackoffBits(train: DataFrame, score: DataFrame,
                        textCol: String, idCol: String): DataFrame = {
    val c3 = trigramStream(train, textCol, idCol)
      .groupBy("a", "p", "w").agg(count(lit(1)).as("c3"))
    // context counts reaggregate the gram-count relation (the
    // trainLmCounts shape), never a second corpus pass
    val c3p = c3.groupBy("a", "p").agg(sum(col("c3")).as("c3p"))
    val cb = bigramStream(train, textCol, idCol)
      .groupBy("p", "w").agg(count(lit(1)).as("cb"))
    val cu = cb.groupBy("p").agg(sum(col("cb")).as("cu"))
    val cw = train.where(col(textCol).isNotNull)
      .select(explode(split(col(textCol), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cw"))
    val nv = cw.agg(sum(col("cw")).as("n"), count(lit(1)).as("v"))
    val scored = trigramStream(score, textCol, idCol)
      .join(c3, Seq("a", "p", "w"), "left")
      .join(c3p, Seq("a", "p"), "left")
      .join(cb, Seq("p", "w"), "left")
      .join(cu, Seq("p"), "left")
      .join(cw, Seq("w"), "left")
      .crossJoin(broadcast(nv))
      .select(col("doc"),
        when(col("c3").isNotNull,
          (length(bin(expr("c3p div c3"))) - 1).cast("long"))
          .when(col("cb").isNotNull,
            (length(bin(expr("cu div cb"))) - 1 + 1).cast("long"))
          .otherwise(
            (length(bin(expr("(n + v) div (coalesce(cw, 0) + 1)")))
              - 1 + 2).cast("long"))
          .as("bits"),
        when(col("c3").isNotNull, 0L)
          .when(col("cb").isNotNull, 1L).otherwise(2L).as("level"))
    val perDoc = scored.groupBy("doc")
      .agg(count(lit(1)).as("n_trigrams"),
        sum(when(col("level") >= 1, 1L).otherwise(0L)).as("n_backoffs"),
        sum(when(col("level") === 2, 1L).otherwise(0L))
          .as("n_unigram_backoffs"),
        sum(col("bits")).as("total_bits"))
    score.select(col(idCol).as("doc"))
      .join(perDoc, Seq("doc"), "left")
      .select(col("doc").as("doc_id"),
        coalesce(col("n_trigrams"), lit(0L)).as("n_trigrams"),
        coalesce(col("n_backoffs"), lit(0L)).as("n_backoffs"),
        coalesce(col("n_unigram_backoffs"), lit(0L))
          .as("n_unigram_backoffs"),
        coalesce(col("total_bits"), lit(0L)).as("total_bits"),
        coalesce(expr("total_bits * 100 div n_trigrams"), lit(0L))
          .as("bits_x100"))
  }

  /** The (doc, a, p, w) trigram stream — [[bigramStream]]'s shape one
    * order up, tokenizing identically. */
  private def trigramStream(df: DataFrame, textCol: String,
                            idCol: String): DataFrame = {
    val toks = split(col(textCol), " ")
    val idxs = when(size(toks) >= 3, sequence(lit(1), size(toks) - 2))
      .otherwise(array().cast("array<int>"))
    df.where(col(textCol).isNotNull)
      .select(col(idCol).as("doc"),
        explode(transform(idxs, i => struct(
          element_at(toks, i).as("a"),
          element_at(toks, i + 1).as("p"),
          element_at(toks, i + 2).as("w")))).as("g"))
      .select(col("doc"), col("g.a").as("a"), col("g.p").as("p"),
        col("g.w").as("w"))
  }

  /** Interpolated KNESER–NEY bigram scoring (Kneser & Ney, ICASSP'95;
    * Chen & Goodman's interpolated form, TR-10-98) — the smoothing the
    * KenLM/CCNet quality-filter stack actually ships, in the exact
    * integer floor-log₂-bits discipline of [[lmPerplexity]] and
    * [[stupidBackoffBits]] so the DuckDB oracle replays every score.
    *
    * The model, with absolute discount D = 3/4 (integral-rational by
    * design) and the continuation distribution add-one smoothed over
    * the vocabulary:
    *
    *   P(w|p) = (max(c(p,w) − D, 0) + D·N1+(p·)·Pc(w)) / c(p)
    *   Pc(w)  = (N1+(·w) + 1) / (B + V)
    *
    * where N1+(p·) = distinct continuations of prefix p, N1+(·w) =
    * distinct contexts preceding w (the "how novel is this word"
    * statistic that makes KN KN — a word seen often but only in one
    * collocation gets a LOW continuation weight), B = distinct bigram
    * types, V = vocab size. Multiplying through by 4·(B + V) makes both
    * sides of the ratio pure integers:
    *
    *   num = max(4·c(p,w) − 3, 0)·(B + V) + 3·N1+(p·)·(N1+(·w) + 1)
    *   den = 4·c(p)·(B + V)
    *   bits = floor(log₂(den / num)) — num/den in DECIMAL(38,0) (the
    *   long products overflow at 100 TB counts — the pmiCollocations
    *   class), the floor-log₂ via a two-step quotient (q div 2^30
    *   first) because q itself can pass a long and bin() takes longs
    *
    * Σ_w num = den EXACTLY (the discount mass D·N1+(p·) re-spreads over
    * Pc, which itself sums to one: Σ N1+(·w) = B, Σ 1 = V), so this is
    * a proper distribution and `den div num ≥ 1` for every gram — no
    * float anywhere, no clamping. An unseen PREFIX (c(p) = 0, so there
    * is no discount mass to interpolate) falls back to Pc alone:
    * bits = floor(log₂((B + V) div (N1+(·w) + 1))), counted per doc as
    * `n_unseen_prefix`.
    *
    * Output: (doc_id, n_bigrams, n_unseen_prefix, total_bits, bits_x100)
    * per score document — [[lmPerplexity]]'s surface plus the
    * prefix-miss rate; sub-two-token documents come back all-zero.
    *
    * Scale shape: identical to [[lmPerplexity]] — the model is three
    * count relations (bigram-sized cb; vocabulary-sized cu/n1p per
    * prefix and n1p per word, derived by REAGGREGATING cb, never a
    * second corpus pass) joined onto the score gram stream, plus a
    * one-row (B, V) broadcast. Hot prefixes AQE-skew-split like the
    * base model's.
    */
  def kneserNeyBits(train: DataFrame, score: DataFrame, textCol: String,
                    idCol: String): DataFrame = {
    val cb = bigramStream(train, textCol, idCol)
      .groupBy("p", "w").agg(count(lit(1)).as("cb"))
    // c(p) and N1+(p·) in one reaggregation of the bigram-count relation
    val cu = cb.groupBy("p")
      .agg(sum(col("cb")).as("cu"), count(lit(1)).as("n1p_p"))
    val cwn = cb.groupBy("w").agg(count(lit(1)).as("n1p_w"))
    val bv = cb.agg(count(lit(1)).as("b")).crossJoin(
      train.where(col(textCol).isNotNull)
        .select(explode(split(col(textCol), " ")).as("tok"))
        .agg(countDistinct(col("tok")).as("v")))
    // den = 4·c(p)·(B+V) and num both run in DECIMAL(38,0): at 100 TB
    // counts (c(p) ~ 1e13 for a stop-word prefix, B+V ~ 1e12) the long
    // products overflow — under ANSI that is a runtime crash on the
    // first hot prefix, the pmiCollocations overflow class. The
    // floor-log₂ then needs the quotient q = den div num, which itself
    // can exceed a long (bin() takes longs), so it is taken in two
    // steps: h1 = den div (num·2^30) is q div 2^30 exactly — if zero,
    // q < 2^30 and the direct div fits a long; otherwise
    // bits = 30 + floor(log₂(h1)), with h1 ≤ ~1e16 long-safe. Headroom:
    // den ≤ 4e25, num·2^30 ≤ 4.3e34 — both inside DECIMAL(38,0).
    val seenBits =
      """CASE WHEN h1 = 0
              THEN length(bin(kn_den div kn_num)) - 1
              ELSE 30 + length(bin(h1)) - 1 END"""
    val scored = bigramStream(score, textCol, idCol)
      .join(cb, Seq("p", "w"), "left")
      .join(cu, Seq("p"), "left")
      .join(cwn, Seq("w"), "left")
      .crossJoin(broadcast(bv))
      .withColumn("kn_den",
        expr("4 * CAST(cu AS DECIMAL(38,0)) * (b + v)"))
      .withColumn("kn_num",
        expr("""greatest(4 * CAST(coalesce(cb, 0) AS DECIMAL(38,0)) - 3, 0)
                  * (b + v)
                + 3 * CAST(n1p_p AS DECIMAL(38,0))
                  * (coalesce(n1p_w, 0) + 1)"""))
      .withColumn("h1", expr("kn_den div (kn_num * 1073741824)"))
      .select(col("doc"),
        when(col("cu").isNotNull, expr(seenBits).cast("long"))
          .otherwise(
            (length(bin(expr("(b + v) div (coalesce(n1p_w, 0) + 1)")))
              - 1).cast("long"))
          .as("bits"),
        when(col("cu").isNull, 1L).otherwise(0L).as("miss"))
    val perDoc = scored.groupBy("doc")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("miss")).as("n_unseen_prefix"),
        sum(col("bits")).as("total_bits"))
    score.select(col(idCol).as("doc"))
      .join(perDoc, Seq("doc"), "left")
      .select(col("doc").as("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_unseen_prefix"), lit(0L)).as("n_unseen_prefix"),
        coalesce(col("total_bits"), lit(0L)).as("total_bits"),
        coalesce(expr("total_bits * 100 div n_bigrams"), lit(0L))
          .as("bits_x100"))
  }

  /** Persist the bigram LM to `path` — the CCNet deployment shape: train
    * the reference LM once, score every later crawl batch from the loaded
    * counts ([[lmPerplexityIndexed]]) without touching the reference
    * corpus again. Layout (the ADDITIVE-counts design the text index's
    * stats rows use, which is what makes the LM maintainable):
    *
    *  - `bigrams/`: (p, w, cb) DELTA rows — a fresh build writes one row
    *    per bigram; [[appendToLm]] appends a batch's positive counts;
    *    [[deleteFromLm]] appends NEGATIVE counts. The model's count is
    *    the SUM per (p, w), positive-only.
    *  - `vocab/`: (tok, c) delta rows, same discipline. Scoring only
    *    needs the vocab SIZE, but size is not maintainable under deletion
    *    without per-token counts (a deleted document's tokens may survive
    *    in other documents; only a count can tell).
    *
    * Prefix counts and the vocab size are DERIVED at load ([[loadLm]]) —
    * c(p) = Σ_w c(p,w) exactly as training derives it, V = tokens with a
    * positive summed count — so growing or shrinking the model never
    * read-modify-writes an aggregate row. [[Lm]]'s `compact` folds the
    * delta trail on the maintenance schedule.
    *
    * TIME TRAVEL: the version-flip previous-serve the text and IVF
    * indexes offer (`at = Family.Previous` on `bm25TopKIndexed` /
    * `topKIvfIndexed`) deliberately has no LM counterpart
    * ([[lmPerplexityIndexed]] rejects it). Those families maintain by
    * REWRITE (each op publishes a full new version, so "the state the op
    * superseded" is a directory that already exists); the LM maintains
    * by DELTA — an append/delete lands rows, and only a compaction
    * publishes a version, so the pre-op state is not a version but "the
    * trail minus the op's rows". Reverting an op here is the delta
    * design's native move instead: publish the op's deltas negated
    * (same staging machinery, batch-sized), rather than serving an
    * old directory.
    */
  def saveLm(train: DataFrame, textCol: String, idCol: String,
             path: String): Unit = {
    val spark = train.sparkSession
    // ONE root lease over both component rebuilds: a leased delta
    // publish landing BETWEEN the two flips would pair the new corpus's
    // bigrams with the old corpus's vocab — V wrong for every
    // unseen-bigram score
    Lm.rebuild(spark, path) { lease =>
      // bigram/token explosion amplifies each doc row ~|tokens|×; spread
      // a compact scan before it (Tables.spreadAmplified scaladoc)
      val spread = graft.ops.Tables.spreadAmplified(
        train.select(col(idCol), col(textCol)), col(idCol))
      graft.ops.Stage.publishRebuild(lease, s"$path/bigrams",
        bigramStream(spread, textCol, idCol)
          .groupBy("p", "w").agg(count(lit(1)).as("cb")))
      graft.ops.Stage.publishRebuild(lease, s"$path/vocab",
        spread.where(col(textCol).isNotNull)
          .select(explode(split(col(textCol), " ")).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("c")))
    }
  }

  /** The model relations of a persisted LM at version `at` (live or
    * pinned): summed positive bigram counts, prefix counts derived from
    * them, and the one-row vocab size. ONE loader so every consumer
    * agrees on the fold. The groupBy's exchange doubles as the scoring
    * join's (p, w) partitioning, so folding deltas at load adds no extra
    * shuffle over pre-aggregated tables.
    */
  private def loadLm(spark: org.apache.spark.sql.SparkSession, path: String,
                     at: graft.ops.Family.At)
      : (DataFrame, DataFrame, DataFrame) = {
    // enforce publishOnce's retry contract at the one place every live
    // LM consumer passes through: a crashed-unretried delete/append is
    // SERVING but not durable — the next compaction reverts it. Surface
    // the pending op ids loudly so the operator retries (same id) first;
    // metadata-only (one ledger + two component listings). A pin's file
    // list is frozen, so only live reads can serve a pending op.
    if (at == graft.ops.Family.Live) {
      val pending = graft.ops.Stage.pendingOps(spark, path,
        Lm.components(spark, path))
      if (pending.nonEmpty)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"LM at $path has UNCOMMITTED maintenance ops " +
            s"[${pending.mkString(", ")}]: their deltas serve now but are " +
            "not durable — retry each op with its original id BEFORE any " +
            "compaction, or the compaction will revert it")
    }
    val read = Lm.read(spark, path, at) _
    val cb = read("bigrams")
      .groupBy("p", "w").agg(sum(col("cb")).as("cb"))
      .where(col("cb") > 0)
    val cu = cb.groupBy("p").agg(sum(col("cb")).as("cu"))
    val v = read("vocab")
      .groupBy("tok").agg(sum(col("c")).as("c"))
      .agg(count(when(col("c") > 0, lit(1))).as("v"))
    (cb, cu, v)
  }

  /** The additive (bigrams, vocab) delta pair of a batch, shared by every
    * maintenance path so build, append, and delete agree on tokenization
    * to the letter. `sign` is +1 (ingest) or -1 (delete). */
  private def lmDeltas(batch: DataFrame, textCol: String, idCol: String,
                       sign: Int): (DataFrame, DataFrame) = (
    bigramStream(batch, textCol, idCol)
      .groupBy("p", "w").agg((count(lit(1)) * sign).as("cb")),
    batch.where(col(textCol).isNotNull)
      .select(explode(split(col(textCol), " ")).as("tok"))
      .groupBy("tok").agg((count(lit(1)) * sign).as("c")))

  /** Grow a [[saveLm]] model with a new training batch WITHOUT retraining:
    * every model statistic is a count, so ingest is exact addition — the
    * batch's bigram/token counts land as new delta rows, batch-sized work
    * only. Scoring afterwards equals a fresh train over the union
    * (CorpusSpec pins it). `batchId = Some(id)` is the EXACTLY-ONCE
    * stream path: a replayed plain append would double the batch's counts
    * and CHANGE every later score — counts are the model, so the LM is as
    * exposed to at-least-once replay as the IVF lists. Otherwise the
    * deltas publish under `add_<opId>` (a fresh id when `opId` is empty).
    */
  def appendToLm(batch: DataFrame, path: String, textCol: String,
                 idCol: String, opId: String = "",
                 batchId: Option[Long] = None): Unit =
    publishLmDeltas(batch, path, textCol, idCol, sign = 1, "add", opId,
      batchId)

  /** Delete documents from a [[saveLm]] model — exact subtraction, now as
    * NEGATIVE delta rows (their text must be supplied; the contract is
    * `deleted` ⊆ the trained corpus, each document passed exactly once).
    * BATCH-sized work: where the earlier design anti-join-rewrote every
    * count table per delete (index-sized — the manifest's pre-tombstone
    * problem), the delta append defers the physical fold to [[Lm]]'s
    * `compact` while [[loadLm]]'s positive-sum fold makes scoring reflect
    * the deletion immediately. Scoring afterwards is bit-identical to a
    * fresh train over the survivors (the q107 oracle and CorpusSpec pin
    * it): counts sum to exactly the survivor counts, zeroed bigrams drop
    * from the model, V counts only tokens with surviving occurrences.
    */
  def deleteFromLm(deleted: DataFrame, path: String, textCol: String,
                   idCol: String, opId: String): Unit =
    publishLmDeltas(deleted, path, textCol, idCol, sign = -1, "del", opId,
      None)

  /** One atomic, retry-idempotent publish of a paired (bigrams, vocab)
    * delta through [[Lm]]'s `append` — under `<kind>_<opId>` (a caller's
    * retry-stable id) or the stream's batch id. The counts ARE the
    * model, so the two tables must move together: a crash between two
    * plain appends left vocab counting tokens whose bigrams were already
    * subtracted (V too high, every unseen-bigram score off), and a retry
    * would double-apply the half that landed. Staged + marker-protected,
    * a retry with the same id republishes exactly once or no-ops. */
  private def publishLmDeltas(df: DataFrame, path: String, textCol: String,
                              idCol: String, sign: Int, kind: String,
                              opId: String, batchId: Option[Long]): Unit = {
    val (cbD, vD) = lmDeltas(df, textCol, idCol, sign)
    Lm.append(df.sparkSession, path, batchId,
      if (opId.isEmpty) "" else s"${kind}_$opId") { (staging, _) =>
      cbD.write.mode("overwrite").parquet(s"$staging/bigrams")
      vD.write.mode("overwrite").parquet(s"$staging/vocab")
    }
  }

  /** [[Lm]]'s compaction fold over the delta trail: the additive rows
    * fold to one positive row per key (dropping zeroed bigrams/tokens —
    * folded deletes physically disappear here), coalesced to
    * [[graft.ops.Stage.compactionPartitions]] files. Scoring before and
    * after is identical ([[loadLm]] sums either representation to the
    * same counts); publish is atomic, so a crash mid-compaction leaves
    * the delta trail serving. The LM keeps no tombstones (it deletes by
    * negated delta), so `tomb` is always None.
    */
  private def foldLm(lease: graft.ops.Stage.Lease, comps: Seq[String],
                     tomb: Option[DataFrame]): Unit = {
    import graft.ops.Stage.{compactionPartitions, publishRewrite, resolve}
    val (spark, path) = (lease.spark, lease.root)
    val nB = compactionPartitions(spark, s"$path/bigrams")
    publishRewrite(lease, s"$path/bigrams",
      Tables.parquet(spark, resolve(spark, s"$path/bigrams"))
        .groupBy("p", "w").agg(sum(col("cb")).as("cb"))
        .where(col("cb") > 0).repartition(nB))
    val nV = compactionPartitions(spark, s"$path/vocab")
    publishRewrite(lease, s"$path/vocab",
      Tables.parquet(spark, resolve(spark, s"$path/vocab"))
        .groupBy("tok").agg(sum(col("c")).as("c"))
        .where(col("c") > 0).repartition(nV))
  }

  /** [[lmPerplexity]] scoring against a [[saveLm]] model on disk: the
    * training pass is skipped entirely — per-batch cost is the batch's
    * bigram explode plus the count-relation joins over the loaded model.
    * `at` is live or an [[Lm]] pin — the frozen model's counts,
    * whatever has been appended or deleted since. `Previous` throws
    * IllegalArgumentException: the LM maintains by delta, so it has no
    * superseded version to serve — revert one op by publishing its
    * deltas negated (see [[saveLm]]).
    */
  def lmPerplexityIndexed(score: DataFrame, path: String, textCol: String,
                          idCol: String,
                          at: graft.ops.Family.At = graft.ops.Family.Live)
      : DataFrame = {
    require(at != graft.ops.Family.Previous,
      s"the LM at $path has no previous version to serve: it maintains " +
        "by delta, not by version flip — revert an op by publishing its " +
        "deltas negated, or pin the model (Corpus.Lm.snapshot) and serve " +
        "at = Pinned(name)")
    val (cb, cu, v) = loadLm(score.sparkSession, path, at)
    scoreAgainstLm(score, cb, cu, v, textCol, idCol)
  }

  /** CCNet-style PERPLEXITY BUCKETING (Wenzek et al., LREC'20): split a
    * corpus into `nBuckets` fluency tiers — head/middle/tail at the
    * default 3 — by LM score against a persisted reference model
    * ([[lmPerplexityIndexed]]'s integer bits_x100, ascending = more
    * fluent), the partition CCNet trains on head+middle and discards or
    * down-weights tail from. Bucketing is SCORE-CLASS GRANULAR: every
    * document sharing one bits_x100 value lands in one bucket —
    * `bucket = min(cum_docs_before · nBuckets div N + 1, nBuckets)`, all
    * integer arithmetic, so the boundary replays identically in any
    * engine (a per-document NTILE would need a global corpus sort AND
    * tie-break semantics; the class rule needs neither). Granularity
    * cost: one straddling class can overfill its bucket by its class
    * size — bounded by the docs sharing one 0.01-bit score value.
    *
    * Scale shape: the scoring pass is [[lmPerplexityIndexed]]; the
    * bucket rule rides windows over the SCORE HISTOGRAM (one row per
    * distinct bits_x100 — bounded by the score RANGE, not the corpus;
    * the [[budgetSelectBy]] discipline), and the class→bucket map joins
    * back AQE-broadcast. No corpus-sized sort, no collect.
    */
  def perplexityBuckets(score: DataFrame, lmPath: String, textCol: String,
                        idCol: String, nBuckets: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nBuckets >= 2, s"nBuckets must be >= 2, got $nBuckets")
    val scored = lmPerplexityIndexed(score, lmPath, textCol, idCol)
      .select(col(idCol), col("n_bigrams"), col("total_bits"),
        col("bits_x100"))
    val hist = scored.groupBy("bits_x100").agg(count(lit(1)).as("n_docs"))
    // both windows read one row per distinct score class — the single
    // partition holds the bounded histogram, never the corpus
    val byScore = Window.orderBy(col("bits_x100"))
    val all = Window.partitionBy()
    val classes = hist
      .withColumn("cum_before",
        sum(col("n_docs")).over(byScore) - col("n_docs"))
      .withColumn("n_total", sum(col("n_docs")).over(all))
      .select(col("bits_x100"),
        least(expr(s"cum_before * $nBuckets div n_total") + 1,
          lit(nBuckets.toLong)).as("ppl_bucket"))
    scored.join(classes, Seq("bits_x100"))
      .select(col(idCol), col("n_bigrams"), col("total_bits"),
        col("bits_x100"), col("ppl_bucket"))
  }

  /** The LM's lifecycle descriptor: named-snapshot pin, restore, drop,
    * vacuum and health over the (bigrams, vocab) count pair. Because a
    * pin records FILE LISTS and the LM maintains by additive delta —
    * appends/deletes land new delta files, never rewrite old ones — a
    * pinned model stays scoreable bit-identically
    * (`lmPerplexityIndexed(…, at = Pinned(name))`) while ingest
    * continues: the frozen-model contract an eval pipeline needs
    * (today's quality scores must not drift because tonight's crawl
    * landed). This is NOT version time-travel (the LM deliberately has
    * none — reverting ONE op is a negated-delta publish, see
    * [[saveLm]]); restore undoes a
    * whole campaign of deltas in one bytes-of-the-pin copy.
    * Its `compact` ([[foldLm]]) REWRITES the components, after which the
    * pin keeps serving the pre-compaction state it captured. */
  val Lm: graft.ops.Family =
    graft.ops.Family("lm", (_, _) => Seq("bigrams", "vocab"), foldLm)

  /** Sentence-level decontamination: per eval document, how many of its
    * distinct sentences (split on `[.!?]+` runs, trimmed, at least
    * `minChars` chars — the floor drops "Yes"-style stop sentences) appear
    * VERBATIM anywhere in the train corpus. The sentence is the
    * granularity eval-benchmark leaks actually happen at: a test question
    * pasted into a training document survives [[decontaminate]]'s
    * document-pair threshold only if enough other grams co-occur, but is
    * caught here sentence by sentence. Output: one row per eval document
    * — (eval_id, n_sentences, n_leaked), zero-filled so clean documents
    * are visible as 0/0 rather than absent.
    *
    * Same exchange discipline as [[graft.ext.Dedup.chunkDedup]]'s
    * ownership pass: sentences cross the wire as 8-byte xxhash64 values,
    * never text. The train side is pre-distinct (one row per distinct
    * sentence corpus-wide), so the probe join's fanout is exactly 1 and a
    * boilerplate sentence repeated in millions of train docs costs one
    * hash, not millions — no stop-sentence cap needed where [[decontaminate]]
    * needs its maxDf.
    */
  def decontaminateSentences(train: DataFrame, eval_ : DataFrame,
                             textCol: String, idCol: String,
                             minChars: Int = 20): DataFrame = {
    def sentences(df: DataFrame, side: String): DataFrame =
      df.select(col(idCol).as(side),
          explode(split(col(textCol), "[.!?]+")).as("raw"))
        .select(col(side), trim(col("raw")).as("sent"))
        .where(length(col("sent")) >= minChars)
    val trainSet = sentences(train, "train_id")
      .select(xxhash64(col("sent")).as("h")).distinct()
      .withColumn("leaked", lit(1L))
    val evalSent = sentences(eval_, "eval_id")
      .select(col("eval_id"), xxhash64(col("sent")).as("h")).distinct()
    val agged = evalSent.join(trainSet, Seq("h"), "left")
      .groupBy("eval_id")
      .agg(count(lit(1)).as("n_sentences"),
        sum(coalesce(col("leaked"), lit(0L))).as("n_leaked"))
    eval_.select(col(idCol).as("eval_id")).distinct()
      .join(agged, Seq("eval_id"), "left")
      .select(col("eval_id"),
        coalesce(col("n_sentences"), lit(0L)).as("n_sentences"),
        coalesce(col("n_leaked"), lit(0L)).as("n_leaked"))
  }

  /** Composed cleaning pipeline with a per-stage attrition report — the
    * funnel a corpus owner reads before a training run: ingest → quality
    * gate → normalized exact dedup → token-budget selection, each stage
    * consuming the previous stage's survivors. One row per stage with the
    * surviving document and token counts.
    *
    * Stage semantics (each an operator this library ships standalone):
    *  - `quality`: [[TextAnalysis.qualityScore]] ≥ `qualityMin`;
    *  - `dedup`: one keeper (min id) per distinct [[Dedup.normalizeText]]-ed
    *    content AMONG the quality survivors — gate order matters: a
    *    low-quality copy must not become the keeper of a class whose other
    *    copies pass;
    *  - `budget`: [[budgetSelectBy]] over the dedup survivors, best
    *    quality first, `budgetPerMille` of the surviving tokens.
    *
    * Scale shape: the report is four aggregate rows. Stage membership is
    * decided by the operators' own plans (hash-groupBy dedup on 32-byte
    * normalized-content hashes, histogram-windowed budget admission — see
    * their docs); the funnel adds only id-only semi-joins and count/sum
    * aggregates, never a second pass over text. The four stage aggregates
    * share their deepest subplans via Spark's ReuseExchange; a pipeline
    * that has already MATERIALIZED per-stage outputs should aggregate
    * those instead of re-deriving them here.
    */
  /** [[pipelineFunnel]] extended to the FULL training-data-prep shape —
    * the round-12 capstone composition: ingest → quality gate →
    * normalized exact dedup → SEMANTIC DECONTAMINATION (drop survivors
    * whose embedding sits within `decontamThreshold` of the held-out
    * probe set — [[graft.ext.Similarity.semanticDecontamScores]]'s
    * broadcast fold; documents WITHOUT an embedding pass through: there
    * is nothing to judge, and silently dropping them would make missing
    * metadata a deletion) → TEMPERATURE MIXTURE ([[temperatureResample]]
    * at α=1/2 over the decontaminated survivors — rates computed on the
    * SURVIVOR counts, gate order again: upstream attrition reshapes the
    * source distribution the flattening must correct). One row per
    * stage with surviving doc/token counts.
    *
    * Scale shape: the per-stage gates are the standalone operators'
    * own plans (map-only scoring, hash-groupBy dedup, broadcast probe
    * fold, broadcast rate table); the funnel adds id-only anti/semi
    * joins and five aggregate rows. Contamination verdicts are computed
    * over the full non-probe embedding side, not the joined survivors —
    * the verdict is a property of the id, so the result is identical
    * and the plan skips a join in the hot path.
    */
  def trainingPrepFunnel(docs: DataFrame, emb: DataFrame,
                         textCol: String, idCol: String,
                         stopwords: Seq[String], qualityMin: Double,
                         probeFilter: Column, decontamThreshold: Double,
                         sourceCol: String,
                         vecIdCol: String = "vec_id"): DataFrame = {
    // the pipelineFunnel materialization rule, one stage deeper: five
    // stage aggregates, the dedup groupBy, the anti-join, and the
    // mixture's two consumers all re-derived the scan + tokenize +
    // quality-regex lineage. The content hash (quality survivors only)
    // and the mixture's per-mille sampling key are computed in the same
    // single pass, so no text column crosses the materialization.
    def ckpt(d: DataFrame): DataFrame = graft.ops.Tables.materialize(d)
    val base = ckpt(docs.where(col(textCol).isNotNull)
      .select(col(idCol).as("id"), col(sourceCol).as("src"),
        col(textCol).as("text"),
        TextAnalysis.tokenCount(col(textCol)).cast("long").as("n_tokens"),
        TextAnalysis.qualityScore(col(textCol), stopwords).as("quality"))
      .select(col("id"), col("src"), col("n_tokens"), col("quality"),
        when(col("quality") >= qualityMin,
          sha2(Dedup.normalizeText(col("text")), 256)).as("h"),
        pmod(TextAnalysis.fingerprint(col("text")), lit(1000L)).as("fpm")))
    val gated = base.where(col("quality") >= qualityMin)
    val keepers = gated
      .groupBy(col("h"))
      .agg(min(col("id")).as("id"))
      .select("id")
    val deduped = gated.join(keepers, Seq("id"), "left_semi")
    val contaminated = graft.ext.Similarity.semanticDecontamScores(
        emb.where(!probeFilter), emb.where(probeFilter),
        decontamThreshold, idCol = vecIdCol)
      .where(col("is_contaminated"))
      .select(col(vecIdCol).as("id"))
    val decon = deduped.join(contaminated, Seq("id"), "left_anti")
    val mixed = temperatureResampleByKey(decon, "fpm", "src")
    def stageRow(i: Int, name: String, stage: DataFrame) =
      stage.agg(count(lit(1)).as("docs_kept"),
          coalesce(sum(col("n_tokens")), lit(0L)).as("tokens_kept"))
        .select(lit(i).as("stage_idx"), lit(name).as("stage"),
          col("docs_kept"), col("tokens_kept"))
    stageRow(0, "ingest", base)
      .unionAll(stageRow(1, "quality", gated))
      .unionAll(stageRow(2, "dedup", deduped))
      .unionAll(stageRow(3, "decontam", decon))
      .unionAll(stageRow(4, "mixture", mixed))
  }

  def pipelineFunnel(df: DataFrame, textCol: String, idCol: String,
                     stopwords: Seq[String], qualityMin: Double = 0.5,
                     budgetPerMille: Int = 500): DataFrame = {
    // ONE slim per-doc relation, materialized once: the four stage
    // aggregates below plus the budget selector's three internal
    // consumers each re-ran the scan + tokenize + quality-regex lineage
    // (~10 corpus passes measured in the q113 plan) — ReuseExchange only
    // dedups identical EXCHANGES, never the regex-heavy scan stage under
    // them. The content hash is computed in the same pass (only for
    // quality survivors — the rest never reach the dedup groupBy), so no
    // text column crosses the materialization: 8 + 8 + 8 + 32-ish bytes
    // per doc, corpus-count-sized, not corpus-byte-sized.
    def ckpt(d: DataFrame): DataFrame = graft.ops.Tables.materialize(d)
    val base = ckpt(df.where(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        TextAnalysis.tokenCount(col(textCol)).cast("long").as("n_tokens"),
        TextAnalysis.qualityScore(col(textCol), stopwords).as("quality"),
        col(textCol).as("text"))
      .select(col("id"), col("n_tokens"), col("quality"),
        when(col("quality") >= qualityMin,
          sha2(Dedup.normalizeText(col("text")), 256)).as("h")))
    val gated = base.where(col("quality") >= qualityMin)
    val keepers = gated
      .groupBy(col("h"))
      .agg(min(col("id")).as("id"))
      .select("id")
    val deduped = gated.join(keepers, Seq("id"), "left_semi")
    val selected = budgetSelectDocs(
      deduped.select(col("id"), col("quality").as("score"), col("n_tokens")),
      Nil, budgetPerMille)
    def stageRow(i: Int, name: String, stage: DataFrame) =
      stage.agg(count(lit(1)).as("docs_kept"),
          coalesce(sum(col("n_tokens")), lit(0L)).as("tokens_kept"))
        .select(lit(i).as("stage_idx"), lit(name).as("stage"),
          col("docs_kept"), col("tokens_kept"))
    stageRow(0, "ingest", base)
      .unionAll(stageRow(1, "quality", gated))
      .unionAll(stageRow(2, "dedup", deduped))
      .unionAll(stageRow(3, "budget", selected))
  }
}
