package graft.ext

import graft.ops.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over embedding columns.
  *
  * Determinism: all vector math is done in DOUBLE after an exact
  * float→double widening, with a fixed left-to-right fold order
  * (`aggregate` over `zip_with`), so scores are bit-identical across
  * engines and partition layouts — an oracle can reproduce them exactly.
  *
  * Scale shapes:
  *  - brute force: queries broadcast against the corpus scan — correct
  *    baseline, O(|Q|·|C|) but one pass, no shuffle of the corpus. Right
  *    whenever |Q| is small (ad-hoc probes, eval sets).
  *  - LSH (random hyperplanes): corpus bucketed by signature; the join is
  *    an equi-join on the bucket key, so each query only scores its bucket.
  *    Signature length trades recall for bucket size; at 100 TB raise
  *    recall with multi-probe (`topKLsh(nProbe = …)` — query-side bit-flip
  *    probes into Hamming-1 buckets) instead of shortening signatures,
  *    which would grow EVERY bucket.
  */
object Similarity {

  /** Exact double dot product with fixed left-to-right fold order.
    * Backed by the codegen'd [[graft.functions.DotProduct]] expression —
    * bit-identical to `aggregate(zip_with(...))` but runs as a primitive
    * loop inside whole-stage codegen instead of the HOF interpreter.
    */
  def dot(a: Column, b: Column): Column = graft.functions.VectorExpressions.dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity in deterministic double arithmetic. Zero-norm
    * inputs yield NaN (undefined direction — the [[normalizeVec]]
    * contract): under Spark 4's default ANSI mode a bare x/0.0 THROWS
    * DIVIDE_BY_ZERO even for doubles, so every scoring path must branch
    * on the zero denominator or crash on the first zero embedding. NaN
    * sorts LAST under a descending rank, so zero vectors lose every
    * top-k contest instead of killing the job. */
  def cosine(a: Column, b: Column): Column =
    safeCosine(dot(a, b), norm(a), norm(b))

  /** The ONE guarded cosine division every pair-scoring site goes
    * through (see [[cosine]] — ANSI throws on double /0). */
  private[ext] def safeCosine(dotCol: Column, na: Column,
                              nb: Column): Column =
    when(na * nb === lit(0.0), lit(Double.NaN))
      .otherwise(dotCol / (na * nb))

  /** Brute-force top-k cosine neighbors for each query vector.
    * The query set is broadcast; ranking ties break on corpus id.
    * Norms are computed ONCE per vector before the join — at |Q|·|C| pairs
    * the per-pair work is a single dot fold, not three.
    */
  def topKBruteForce(queries: DataFrame, corpus: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // float→double widening happens ONCE per vector here, not per pair
    // inside the join (a per-pair cast re-allocates both arrays for every
    // one of the |Q|·|C| combinations).
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("q_vec"),
      norm(col(vecCol)).as("q_norm"))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("c_vec"),
      norm(col(vecCol)).as("c_norm"))
    val scored = c.crossJoin(broadcast(q))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        safeCosine(dot(col("q_vec"), col("c_vec")),
          col("q_norm"), col("c_norm"))
          .as("cos_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    // zero-norm sides score NaN (safeCosine), and BOTH Spark and DuckDB
    // sort NaN as the LARGEST double — unfiltered, a zero vector would
    // win rank 1 of every top-k. Undefined-direction pairs are EXCLUDED
    // (the simhashSignatures null-doc rule); joinBackToCorpus restores
    // coverage rows where a caller needs them.
    scored.where(!isnan(col("cos_sim")))
      .withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** Pack the SIGN BITS of a (castable) vector column into
    * ceil(dim/63) NON-NEGATIVE longs — bit j of word w set iff
    * coordinate (w·63 + j) > 0. 63 bits per word keeps every word
    * strictly non-negative, the repo's portable-bit-surface convention
    * (56-bit dHash, 63-bit aHash): band extraction, XOR, and popcount
    * replay in engines whose BIGINT ops reject sign-bit games. The bit
    * value is `pow(2, j)` cast to long — powers of two are EXACTLY
    * representable doubles up to 2^62, so the cast is exact (the Scala
    * Column API's shiftleft takes only a literal shift, and this keeps
    * the whole pack one codegen-able expression, O(dim) per vector —
    * the norm-binding discipline of [[normalizeVec]]).
    */
  def binarySignWords(v: Column, dim: Int): Column = {
    require(dim >= 1, s"dim must be positive: $dim")
    val d = v.cast("array<double>")
    val words = (dim + 62) / 63
    array((0 until words).map { w =>
      val lo = w * 63
      val n = math.min(63, dim - lo)
      aggregate(
        zip_with(slice(d, lo + 1, n), sequence(lit(0), lit(n - 1)),
          (x, j) => when(x > lit(0.0), pow(lit(2.0), j).cast("long"))
            .otherwise(lit(0L))),
        lit(0L), (acc, b) => acc.bitwiseOR(b))
    }: _*)
  }

  /** Hamming distance between two [[binarySignWords]] arrays: Σ over
    * words of popcount(xor) — codegen'd bit math, no per-bit loop. */
  def hammingWords(a: Column, b: Column): Column =
    aggregate(zip_with(a, b,
        (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
      lit(0L), (acc, h) => acc + h)

  /** BINARY-QUANTIZATION ANN: top-k cosine neighbors via sign-bit
    * Hamming candidates + exact rerank — the 1-bit-per-dimension scale
    * path production vector stores ship next to PQ (FAISS binary
    * indexes, Qdrant/Milvus binary quantization): for unit-ish vectors
    * the angle between two vectors is monotone-ish in the Hamming
    * distance of their coordinate sign patterns (each agreeing sign bit
    * is one axis-aligned hyperplane both sides of — the
    * Goemans–Williamson sign-hash bound at the identity basis), so
    * ranking by sign Hamming is a cheap candidate generator and an
    * exact cosine pass over `overfetch·k` candidates repairs the
    * approximation where it matters.
    *
    * Scale shape — why this exists next to [[topKBruteForce]]: the
    * candidate stage scans 8·ceil(dim/63) BYTES per corpus vector
    * (64× smaller than the raw doubles at dim 64, 512× at dim 4096)
    * and evaluates popcounts, not dot products; the per-query
    * `h_rank <= overfetch·k` filter plans as a map-side
    * WindowGroupLimit, so each partition forwards at most M rows per
    * query into the exchange; the exact rerank joins FULL vectors for
    * only |Q|·M candidates. Fully deterministic: Hamming ties break on
    * neighbor id (so the candidate SET is a pure function of the data
    * and the oracle replays it), cosine ties likewise.
    *
    * Recall is governed by the pool depth: on the synthetic testdata's
    * near-uniform dim-64 embeddings (the ADVERSARIAL case for sign
    * bits — real text/image embeddings cluster, where sign patterns
    * separate far better) the measured recall@10 ladder vs exact
    * brute force is 0.33 / 0.48 / 0.65 at overfetch 4 / 8 / 16
    * (BASELINE.md). Threshold-centering variants (per-vector mean,
    * per-dimension mean, per-vector median) measured within noise of
    * plain sign-of-coordinate on this data, so the simplest
    * oracle-replayable rule stays; the pool stays k·overfetch rows per
    * query at ANY corpus size, so raising overfetch buys recall at
    * rerank cost, never at scan cost.
    *
    * Output: (query_id, neighbor_id, hamming, cos_sim, rank),
    * rank 1..k per query by exact cosine over the candidate pool.
    */
  def binaryTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                 overfetch: Int = 16, dim: Int = 64,
                 idCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame =
    binaryServeSigs(
      corpus.select(col(idCol).as("neighbor_id"),
        binarySignWords(col(vecCol), dim).as("words")),
      queries, corpus, k, overfetch, dim, idCol, vecCol)

  /** The ONE binary serve tail shared by the inline [[binaryTopK]] and
    * every persisted-index serve ([[binaryTopKIndexed]] at any
    * version), so they answer bit-identically over the same
    * effective signature relation. `sigs` is (neighbor_id, words);
    * reranking reads raw vectors from `corpus` — the index never
    * duplicates them (the pqTopKRerankIndexed convention). */
  private def binaryServeSigs(sigs: DataFrame, queries: DataFrame,
                              corpus: DataFrame, k: Int, overfetch: Int,
                              dim: Int, idCol: String,
                              vecCol: String): DataFrame = {
    require(k >= 1, s"k must be positive: $k")
    require(overfetch >= 1, s"overfetch must be positive: $overfetch")
    val m = k * overfetch
    val qSig = queries.select(col(idCol).as("query_id"),
      binarySignWords(col(vecCol), dim).as("q_sig"))
    // the candidate scan carries ONLY (id, packed sign words) — never
    // the vector itself
    val ham = sigs
      .select(col("neighbor_id"), col("words").as("c_sig"))
      .crossJoin(broadcast(qSig))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        hammingWords(col("q_sig"), col("c_sig")).as("hamming"))
    val wH = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming"), col("neighbor_id"))
    val cand = ham.withColumn("h_rank", row_number().over(wH))
      .where(col("h_rank") <= m).drop("h_rank")
    // exact rerank over candidate-sized relations only
    val qVec = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("q_vec"),
      norm(col(vecCol)).as("q_norm"))
    val cVec = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("c_vec"),
      norm(col(vecCol)).as("c_norm"))
    val scored = cand
      .join(cVec, Seq("neighbor_id"))
      .join(broadcast(qVec), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"), col("hamming"),
        safeCosine(dot(col("q_vec"), col("c_vec")),
          col("q_norm"), col("c_norm"))
          .as("cos_sim"))
    val wC = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    // NaN (zero-norm) pairs excluded before ranking — see topKBruteForce
    scored.where(!isnan(col("cos_sim")))
      .withColumn("rank", row_number().over(wC))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("hamming"),
        col("cos_sim"), col("rank"))
  }

  /** MMR-DIVERSIFIED top-k retrieval (Carbonell & Goldstein, SIGIR'98 —
    * maximal marginal relevance): per query, k results chosen greedily
    * by `λ·cos(q, c) − (1−λ)·max_{s∈picked} cos(c, s)` — the second
    * term is what plain top-k lacks: it PENALIZES picking another
    * near-copy of something already picked, so the result set covers
    * the neighborhood instead of repeating its densest cluster (the
    * retrieval-augmentation and eval-set-builder default). Entirely
    * deterministic: the candidate pool is the EXACT brute-force
    * top-`fetch` (ties by id), every score is IEEE double arithmetic
    * in pinned operation order (the [[topKBruteForce]] discipline, so
    * the DuckDB oracle replays every pick), score ties break to the
    * smaller id, and the empty-selection first pick is plain top-1
    * for any λ > 0 (at λ = 0 — pure diversity, no relevance term —
    * every first-pick score is 0·cos − 1·0 = 0 and the id tie-break
    * decides; still deterministic and oracle-replayed, just not top-1).
    * Any `lam` in [0,1] oracle-replays exactly: the replay emits
    * BOTH engine coefficients — `lam` and the computed double
    * `1.0 − lam` — as shortest-round-trip decimal literals
    * (`Double.toString` round-trips by the IEEE 754 / Java spec, and
    * DuckDB parses a decimal literal to the nearest double), so e.g.
    * λ=0.3 replays with literals 0.3 and 0.7000000000000001, never the
    * NOT-equal double 0.7.
    *
    * Scale shape: stage 1 is [[topKBruteForce]] (broadcast query side);
    * stage 2 is one groupBy over the (|Q|·fetch)-sized candidate
    * relation and a per-query greedy fold as a codegen'd HOF — k
    * iterations over ≤ fetch candidates with ≤ k·dim flops each,
    * bounded per group, never corpus-sized. The candidate relation
    * broadcasts into the corpus-side vector join.
    *
    * Output: (query_id, neighbor_id, cos_sim, mmr_score, rank),
    * rank 1..k per query.
    */
  def mmrTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              fetch: Int = 50, lam: Double = 0.5,
              idCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, s"k must be positive: $k")
    require(fetch >= k, s"fetch ($fetch) must be >= k ($k)")
    require(lam >= 0.0 && lam <= 1.0, s"lambda in [0,1], got $lam")
    val cands = topKBruteForce(queries, corpus, fetch, idCol, vecCol)
      .select(col("query_id"), col("neighbor_id"), col("cos_sim"))
    val cvecs = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("vec"),
      norm(col(vecCol)).as("nrm"))
    // (|Q|·fetch)-sized side broadcasts into the corpus-sized one
    mmrGreedy(cvecs.join(broadcast(cands), Seq("neighbor_id")), k, lam)
  }

  /** [[mmrTopK]] served from the PERSISTED IVF index — diversified
    * retrieval at the amortized-index price: the candidate pool is
    * [[topKIvfIndexed]] at depth `fetch` (partition-pruned probe of the
    * inverted lists), and the redundancy sims compute over the INDEX'S
    * OWN dequantized codes, so the whole pick sequence is a pure
    * function of the persisted state (oracle-replayed end to end, like
    * the q82 family). Tombstoned vectors never enter (the serve masks
    * them). Same determinism contract as [[mmrTopK]].
    */
  def mmrTopKIndexed(spark: org.apache.spark.sql.SparkSession,
                     queries: DataFrame, path: String, k: Int,
                     fetch: Int = 40, nProbe: Int = 4, lam: Double = 0.5,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, s"k must be positive: $k")
    require(fetch >= k, s"fetch ($fetch) must be >= k ($k)")
    // ONE view, ONE meta load — the lists resolve is shared by the
    // candidate probe AND the redundancy-vector read. Two separate
    // resolves would let a concurrent maintenance publish land between
    // them: candidates from version V1 joined to vectors (and scale)
    // from V2 — silently fewer than k rows, or OLD codes dequantized
    // with NEW parameters after a rebuild.
    val v = IvfIndex.view(spark, path)
    val (scale, _) = loadIvfMeta(spark, path)
    val served = serveIvfLists(spark, queries, path, v("lists"), fetch,
      nProbe, idCol, vecCol)
      .select(col("query_id"), col("neighbor_id"), col("cos_sim"))
    val cvec = if (scale > 0) dequantize(col("code"), scale)
      else col("code")
    val vecs = v.raw("lists")
      .select(col("vec_id").as("neighbor_id"), cvec.as("vec"))
      .withColumn("nrm", norm(col("vec")))
    mmrGreedy(vecs.join(broadcast(served), Seq("neighbor_id")), k, lam)
  }

  /** DIVERSE hard negatives from the persisted IVF index —
    * [[hardNegativesIndexed]] composed with the MMR greedy: over-fetch
    * `fetch` candidates from the pruned probe, drop same-label rows,
    * then pick k by relevance-vs-redundancy instead of plain top-k.
    * Why a contrastive batch wants it: the k hardest negatives are
    * frequently k near-copies of ONE confusable item — diverse
    * negatives cover more of the decision boundary per batch slot
    * (the in-batch-negative diversity argument). Same determinism and
    * oracle-replay contract as [[mmrTopKIndexed]]; labels ride along
    * as evidence columns. Queries whose label-filtered pool holds
    * fewer than k rows return that many (raise `fetch`/`nProbe`).
    */
  def diverseHardNegativesIndexed(spark: org.apache.spark.sql.SparkSession,
                                  queries: DataFrame, path: String,
                                  labels: DataFrame, k: Int,
                                  fetch: Int = 40, nProbe: Int = 4,
                                  lam: Double = 0.5,
                                  labelCol: String = "label",
                                  idCol: String = "vec_id",
                                  vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, s"k >= 1, got $k") // k=0 would make the greedy's
    // sequence(1, k) DESCEND to [1, 0] and return 2 rows, not 0
    require(fetch >= k, s"fetch ($fetch) must be >= k ($k)")
    // one view, one meta load — the mmrTopKIndexed torn-read rationale
    val v = IvfIndex.view(spark, path)
    val (scale, _) = loadIvfMeta(spark, path)
    val served = serveIvfLists(spark, queries, path, v("lists"), fetch,
      nProbe, idCol, vecCol)
    val qL = queries.select(col(idCol).as("query_id"),
      col(labelCol).as("query_label"))
    val nL = labels.select(col(idCol).as("neighbor_id"),
      col(labelCol).as("neighbor_label"))
    val cross = served
      .join(broadcast(qL), Seq("query_id"))
      .join(nL, Seq("neighbor_id"))
      .where(col("neighbor_label") =!= col("query_label"))
      .select(col("query_id"), col("neighbor_id"), col("cos_sim"))
    val cvec = if (scale > 0) dequantize(col("code"), scale)
      else col("code")
    val vecs = v.raw("lists")
      .select(col("vec_id").as("neighbor_id"), cvec.as("vec"))
      .withColumn("nrm", norm(col("vec")))
    mmrGreedy(vecs.join(broadcast(cross), Seq("neighbor_id")), k, lam)
      .join(broadcast(qL), Seq("query_id"))
      .join(nL, Seq("neighbor_id"))
      .select(col("query_id"), col("query_label"), col("neighbor_id"),
        col("neighbor_label"), col("cos_sim"), col("mmr_score"),
        col("rank"))
  }

  /** The shared greedy stage of [[mmrTopK]]/[[mmrTopKIndexed]]: input is
    * the vector-enriched candidate relation (query_id, neighbor_id,
    * cos_sim, vec, nrm); one groupBy and a per-query k-iteration HOF
    * fold, bounded per group. */
  private def mmrGreedy(enriched: DataFrame, k: Int,
                        lam: Double): DataFrame = {
    require(lam >= 0.0 && lam <= 1.0, s"lambda in [0,1], got $lam")
    // the id keeps its NATIVE type end to end: a cast("long") here
    // would turn string ids (UUIDs — legal everywhere else in this
    // file) into NULLs, and the de-dup `exists` below would silently
    // drop every candidate after the first pick (one row per query, no
    // error). The argmax therefore cannot lean on id negation either —
    // it is an explicit (score DESC, id ASC) comparison fold.
    val idT = enriched.schema("neighbor_id").dataType.sql
    val candT =
      s"struct<id:$idT,cos:double,vec:array<double>,nrm:double>"
    val pickT = s"array<struct<id:$idT,cos:double,score:double," +
      "vec:array<double>,nrm:double>>"
    val grouped = enriched.groupBy("query_id")
      .agg(collect_list(struct(
        col("neighbor_id").as("id"),
        col("cos_sim").as("cos"), col("vec"), col("nrm")).cast(candT))
        .as("cands"))
    def pickStep(acc: Column): Column = {
      val remaining = filter(col("cands"), c =>
        !exists(acc, p => p.getField("id") === c.getField("id")))
      val scoredC = transform(remaining, c => {
        val maxsim = coalesce(array_max(transform(acc, p =>
          dot(c.getField("vec"), p.getField("vec")) /
            (c.getField("nrm") * p.getField("nrm")))), lit(0.0))
        struct(
          (lit(lam) * c.getField("cos") - lit(1.0 - lam) * maxsim)
            .as("score"),
          c.getField("id").as("id"), c.getField("cos").as("cos"),
          c.getField("vec").as("vec"), c.getField("nrm").as("nrm"))
      })
      // argmax by (score DESC, id ASC), type-agnostically: fold the
      // scored array against its own first element
      val best = aggregate(scoredC, element_at(scoredC, 1), (b, c) =>
        when(c.getField("score") > b.getField("score") ||
          (c.getField("score") === b.getField("score") &&
            c.getField("id") < b.getField("id")), c).otherwise(b))
      val pickedT = s"struct<id:$idT,cos:double,score:double," +
        "vec:array<double>,nrm:double>"
      when(size(scoredC) > 0,
        concat(acc, array(struct(
          best.getField("id").as("id"), best.getField("cos").as("cos"),
          best.getField("score").as("score"),
          best.getField("vec").as("vec"),
          best.getField("nrm").as("nrm")).cast(pickedT))))
        .otherwise(acc)
    }
    val greedy = aggregate(sequence(lit(1), lit(k)),
      array().cast(pickT), (acc, _) => pickStep(acc))
    grouped
      .select(col("query_id"),
        posexplode(greedy).as(Seq("pos", "p")))
      .select(col("query_id"), col("p.id").as("neighbor_id"),
        col("p.cos").as("cos_sim"), col("p.score").as("mmr_score"),
        (col("pos") + 1).as("rank"))
  }

  /** HARD-NEGATIVE mining for metric-learning / embedding-model training
    * data: per query, the k most-similar corpus vectors whose LABEL
    * DIFFERS from the query's — the "looks like a match, must be pushed
    * apart" pairs a contrastive objective needs (easy negatives are
    * already far and teach nothing). Same exact brute-force shape as
    * [[topKBruteForce]] (broadcast query side, one codegen'd dot per
    * surviving pair, per-query window heap); the label-mismatch filter
    * runs BEFORE the dot, so same-label pairs cost an equality test, not
    * a d-length fold. Output adds both labels as evidence columns.
    *
    * Scale path: compose the same post-filter over [[topKIvfIndexed]]
    * output with an OVER-FETCH (serve k' > k, filter, re-rank) — an
    * inverted list cannot label-filter internally without one index per
    * label, and over-fetch is the standard remedy; this exact form is
    * the oracle-checkable baseline the over-fetched serve is validated
    * against (q135).
    */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, k: Int,
                    labelCol: String = "label", idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"),
      col(labelCol).as("query_label"),
      col(vecCol).cast("array<double>").as("q_vec"),
      norm(col(vecCol)).as("q_norm"))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(labelCol).as("neighbor_label"),
      col(vecCol).cast("array<double>").as("c_vec"),
      norm(col(vecCol)).as("c_norm"))
    val scored = c.crossJoin(broadcast(q))
      .where(col("query_id") =!= col("neighbor_id") &&
        col("neighbor_label") =!= col("query_label"))
      .select(col("query_id"), col("query_label"), col("neighbor_id"),
        col("neighbor_label"),
        safeCosine(dot(col("q_vec"), col("c_vec")),
          col("q_norm"), col("c_norm"))
          .as("cos_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    // zero-norm sides score NaN (safeCosine), and BOTH Spark and DuckDB
    // sort NaN as the LARGEST double — unfiltered, a zero vector would
    // win rank 1 of every top-k. Undefined-direction pairs are EXCLUDED
    // (the simhashSignatures null-doc rule); joinBackToCorpus restores
    // coverage rows where a caller needs them.
    scored.where(!isnan(col("cos_sim")))
      .withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** L2-normalize a (castable) vector column elementwise — the
    * pre-step that makes PQ's approximate INNER PRODUCT an approximate
    * COSINE. Zero vectors become NaN (undefined direction) — callers'
    * contract, as with cosine itself; the zero-norm case is an explicit
    * branch because under Spark 4's default ANSI mode a bare x/0.0
    * would THROW DIVIDE_BY_ZERO instead of yielding the documented NaN
    * (which the family's isnan filters key on).
    *
    * The norm is BOUND as a lambda variable (transform over a 1-element
    * array holding it) so the dot product evaluates exactly ONCE per
    * vector no matter where the column lands: a higher-order-function
    * lambda body re-evaluates per element, so placing `sqrt(dot(d,d))`
    * inline inside the per-element branch made the whole normalize
    * O(dim²) — the same re-evaluation class as topGramRatio's sort and
    * pqCodes' argmin accumulator, measured as a 1.3–1.8× PQ-family
    * regression at dim=64 and a 100–1000× blowup at production dims.
    * The zero-vector branch sits at ARRAY level (array_repeat of NaN),
    * outside the per-element map. */
  def normalizeVec(v: Column): Column = {
    val d = v.cast("array<double>")
    element_at(
      transform(array(sqrt(dot(d, d))), nrm =>
        when(nrm === lit(0.0), array_repeat(lit(Double.NaN), size(d)))
          .otherwise(transform(d, x => x / nrm))),
      1)
  }

  /** PRODUCT-QUANTIZATION codebooks (Jégou, Douze, Schmid — "Product
    * Quantization for Nearest Neighbor Search", TPAMI'11): the vector
    * space splits into `m` contiguous subspaces of dim/m dimensions,
    * each with its own `nCent`-entry codebook; a vector encodes as m
    * small code indices — here 8 codes over 16 centroids = 8 bytes per
    * vector vs 256 for raw floats, the 30×-class compression that lets
    * a 100 TB corpus's candidate scan fit in memory. Codebooks are the
    * first `nCent` corpus vectors' NORMALIZED subvectors (the frozen
    * smallest-id sample convention of [[sampleCentroids]]/q39 — fully
    * deterministic, so the oracle re-derives them from the table).
    */
  def pqCodebooks(corpus: DataFrame, m: Int, nCent: Int, dim: Int,
                  idCol: String = "vec_id", vecCol: String = "embedding")
      : Array[Array[Array[Double]]] = {
    require(dim % m == 0, s"dim=$dim must split evenly into m=$m subspaces")
    val subDim = dim / m
    val seeds = sampleCentroids(
      corpus.select(col(idCol), normalizeVec(col(vecCol)).as(vecCol)),
      nCent, idCol, vecCol)
    Array.tabulate(m)(j => seeds.map(_.slice(j * subDim, (j + 1) * subDim)))
  }

  /** K-MEANS-TRAINED PQ codebooks: [[pqCodebooks]]' frozen smallest-id
    * seeds refined by `iters` Lloyd iterations of plain (non-spherical)
    * per-subspace k-means — the TPAMI'11 training recipe. Each iteration
    * is DataFrame work (one corpus pass: explode to (subspace, subvector)
    * rows, argmin-L2² assignment against the literal codebooks, one
    * groupBy re-estimation); only the m×nCent×subDim codebook matrix
    * reaches the driver, so training a 100 TB corpus is `iters`
    * distributed passes, exactly like [[trainCentroids]].
    *
    * DETERMINISM — the property that lets an oracle value-check a
    * TRAINED model: a float mean over shuffled partitions is
    * order-dependent in its last ulp, and a last-ulp flip near a Voronoi
    * boundary flips code assignments. So the update statistics accumulate
    * on a 2^-20 fixed-point grid (the [[quantize]] floor(x·G + 0.5)
    * convention applied to the k-means update): per (subspace, code,
    * position) the sum of LONG-quantized coordinates is exact integer
    * arithmetic in any engine and any order, and the re-estimated
    * coordinate is one division chain (sum / n / G) spelled identically
    * in the replay. Assignment ties keep the SMALLEST code (strict <,
    * mirroring [[pqCodes]]); empty clusters keep their previous entry.
    * The 1e-6 grid error is far below any plausible cluster geometry —
    * it buys bit-identical codebooks, not worse ones.
    */
  def trainPqCodebooks(corpus: DataFrame, m: Int, nCent: Int, dim: Int,
                       iters: Int = 1, idCol: String = "vec_id",
                       vecCol: String = "embedding")
      : Array[Array[Array[Double]]] = {
    require(dim % m == 0, s"dim=$dim must split evenly into m=$m subspaces")
    require(iters >= 0, s"iters=$iters must be non-negative")
    val subDim = dim / m
    val Grid = 1048576.0 // 2^20
    var cb = pqCodebooks(corpus, m, nCent, dim, idCol, vecCol)
    // (j, sv) rows: every vector's m normalized subvectors. The
    // normalize sits in its own projection (see pqCodes), the explode in
    // the next — one corpus pass per iteration re-reads this lineage.
    val sub = corpus
      .select(normalizeVec(col(vecCol)).as("nv"))
      // a zero vector's NaN subvectors would carry the -1 argmin
      // sentinel into the stats collect and index the codebook array at
      // -1 on the driver (AIOOBE mid-training) — the pqCodes rule
      .where(!isnan(element_at(col("nv"), 1)))
      .select(explode(array((0 until m).map(j =>
        struct(lit(j).as("j"),
          slice(col("nv"), j * subDim + 1, subDim).as("sv"))): _*)).as("e"))
      .select(col("e.j").as("j"), col("e.sv").as("sv"))
    for (_ <- 1 to iters) {
      // array-by-subspace of (code, centroid) pairs, one literal — the
      // bound-lambda HOF argmin of pqCodes, indexed by the row's j
      val cbLit = typedLit(cb.map(_.zipWithIndex.map {
        case (cv, c) => (c, cv.toSeq)
      }.toSeq).toSeq)
      val cbJ = element_at(cbLit, col("j") + 1)
      // aliases on struct fields built from lambda-bound values get
      // stripped by the analyzer here (unlike pqCodeArray's literal-fed
      // variant), so both branches cast to one explicit struct type
      val accType = "struct<d:double,c:int>"
      val code = aggregate(cbJ,
        struct(lit(Double.MaxValue).as("d"), lit(-1).as("c")).cast(accType),
        (acc, e) => {
          val dd = aggregate(
            zip_with(col("sv"), e.getField("_2"), (x, y) => (x - y) * (x - y)),
            lit(0.0), (a, z) => a + z)
          when(dd < acc.getField("d"),
            struct(dd.as("d"), e.getField("_1").as("c")).cast(accType))
            .otherwise(acc)
        }).getField("c")
      val stats = sub
        .select(col("j"), code.as("c"),
          posexplode(col("sv")).as(Seq("pos", "x")))
        .groupBy("j", "c", "pos")
        .agg(sum(floor(col("x") * Grid + lit(0.5)).cast("long")).as("smi"),
          count(lit(1)).as("n"))
        .collect()
      val next = cb.map(_.map(_.clone()))
      stats.foreach { r =>
        next(r.getInt(0))(r.getInt(1))(r.getInt(2)) =
          r.getLong(3).toDouble / r.getLong(4) / Grid
      }
      cb = next
    }
    cb
  }

  /* FAMILY OVERVIEW (plain comment, not scaladoc — it describes the
   * whole PQ group, not the next member):
   * PQ ENCODE + ADC SERVE: corpus vectors normalize, encode to m code
    * indices (per subspace, argmin exact-L2² against the codebook —
    * strict `<` keeps the SMALLEST index on ties, mirrored by the
    * oracle's (d, c) rank), and queries rank candidates by the
    * asymmetric distance computation: approx cos(q, v) =
    * Σ_j dot(q_subj, codebook_j[code_j(v)]) — the QUERY side stays
    * exact, only the corpus side is quantized (Jégou et al.'s ADC,
    * which dominates symmetric code-to-code distances). The sum folds
    * j-ascending left-associated, spelled identically in the oracle.
    *
    * Scale shape: encoding is MAP-ONLY against the broadcast literal
    * codebooks (one pass, then the 8-byte codes persist in place of
    * 256-byte vectors); serving broadcasts the query side and scans
    * CODES, never raw vectors — per pair m array lookups + m tiny dots
    * instead of a dim-length dot. Compose with the IVF lists for the
    * full IVF-PQ shape (coarse cells prune, codes rank); here the flat
    * scan keeps the oracle replay exact end to end.
    */
  /** PQ ENCODE alone: (id, codes) — each vector's m argmin-L2² code
    * indices against the normalized codebooks (strict `<` keeps the
    * SMALLEST index on ties). The argmin runs as an `aggregate` HOF
    * over the literal codebook — the accumulator is a bound lambda
    * variable, so the plan stays LINEAR in nCent (a Column-level
    * foldLeft of when/otherwise would copy the accumulator subtree per
    * step: exponential tree, driver OOM — measured). Normalization
    * sits in its OWN projection: `nv` feeds all m subspace encoders,
    * and CollapseProject refuses to inline a non-cheap expression
    * referenced m times — without the boundary the whole normalize
    * tree would re-evaluate once per subspace per row (4.5× slower,
    * measured at sf0.1).
    */
  def pqCodes(corpus: DataFrame, dim: Int,
              codebooks: Array[Array[Array[Double]]],
              idCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame = {
    corpus
      .select(col(idCol), normalizeVec(col(vecCol)).as("nv"))
      // zero vectors normalize to all-NaN, every subspace distance is
      // NaN, the argmin keeps its -1 sentinel, and element_at(codes, 0)
      // would crash EVERY later ADC serve against the poisoned index —
      // exclude them, the trainCentroids rule (a zero embedding has no
      // direction to quantize)
      .where(!isnan(element_at(col("nv"), 1)))
      .select(col(idCol), pqCodeArray(col("nv"), dim, codebooks).as("codes"))
  }

  /** The m-element PQ code array for a NORMALIZED vector column —
    * shared by [[pqCodes]] and [[ivfPqTopK]] so both paths encode
    * identically. See [[pqCodes]] for the HOF-argmin and projection-
    * boundary rationale. */
  private def pqCodeArray(nv: Column, dim: Int,
                          codebooks: Array[Array[Array[Double]]]): Column = {
    val m = codebooks.length
    require(m > 0 && dim % m == 0, s"dim=$dim must split into m=$m")
    val subDim = dim / m
    def codeOf(j: Int): Column = {
      val sub = slice(nv, j * subDim + 1, subDim)
      val cbJ = typedLit(codebooks(j).zipWithIndex.map {
        case (cv, c) => (c, cv.toSeq)
      }.toSeq) // array<struct<_1: code, _2: centroid subvector>>
      aggregate(cbJ,
        struct(lit(Double.MaxValue).as("d"), lit(-1).as("c")),
        (acc, e) => {
          val dd = aggregate(
            zip_with(sub, e.getField("_2"), (x, y) => (x - y) * (x - y)),
            lit(0.0), (a, z) => a + z)
          when(dd < acc.getField("d"),
            struct(dd.as("d"), e.getField("_1").as("c")))
            .otherwise(acc)
        }).getField("c")
    }
    array((0 until m).map(codeOf): _*)
  }

  /** The ADC score expression shared by [[pqTopK]] and [[ivfPqTopK]]:
    * Σ_j dot(q_subj, codebook_j[code_j]) as a j-ascending left fold. */
  private def adcScore(qv: Column, codes: Column, dim: Int,
                       codebooks: Array[Array[Array[Double]]]): Column = {
    val m = codebooks.length
    val subDim = dim / m
    val cbLit = typedLit(codebooks.map(_.map(_.toSeq).toSeq).toSeq)
    (0 until m).map { j =>
      dot(slice(qv, j * subDim + 1, subDim),
        element_at(element_at(cbLit, j + 1),
          element_at(codes, j + 1) + lit(1)))
    }.reduceLeft(_ + _)
  }

  /** The FULL IVF-PQ composition (the production ANN shape at 100 TB:
    * coarse cells PRUNE, compact codes RANK): corpus vectors carry an
    * IVF cell (argmax raw dot against the frozen coarse centroids —
    * the q39 assignment convention, ties to the larger index via the
    * (d, c) struct max) AND their PQ codes; queries probe their
    * `nProbe` nearest cells and rank ONLY those cells' candidates by
    * ADC. Per query the scan cost is (corpus/nCells)·nProbe code rows
    * — cell pruning bounds candidates, 8-byte codes bound bytes, and
    * the query side stays exact. Recall loss vs [[pqTopK]]'s flat scan
    * is exactly the IVF probe miss, measurable with [[recallAtK]].
    */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, k: Int, dim: Int,
                codebooks: Array[Array[Array[Double]]],
                centroidsIn: Array[Array[Double]], nProbe: Int = 4,
                idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    def centDots(v: Column): Column = centDotsFor(centroidsIn)(v)
    val c = corpus
      .select(col(idCol).as("neighbor_id"),
        col(vecCol).cast("array<double>").as("dv"),
        normalizeVec(col(vecCol)).as("nv"))
      .where(!isnan(element_at(col("nv"), 1))) // the pqCodes zero-vector rule
      .select(col("neighbor_id"),
        array_max(centDots(col("dv"))).getField("c").as("centroid"),
        pqCodeArray(col("nv"), dim, codebooks).as("codes"))
    val q = queries
      .select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("dv"),
        normalizeVec(col(vecCol)).as("qv"))
      .select(col("query_id"), col("qv"),
        explode(transform(
          slice(reverse(array_sort(centDots(col("dv")))), 1, nProbe),
          p => p.getField("c"))).as("centroid"))
    val scored = c.join(broadcast(q), Seq("centroid"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        adcScore(col("qv"), col("codes"), dim, codebooks).as("approx_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("approx_sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  def pqTopK(queries: DataFrame, corpus: DataFrame, k: Int, dim: Int,
             codebooks: Array[Array[Array[Double]]],
             idCol: String = "vec_id",
             vecCol: String = "embedding"): DataFrame =
    pqServeCodes(
      pqCodes(corpus, dim, codebooks, idCol, vecCol)
        .withColumnRenamed(idCol, "neighbor_id"),
      queries, k, dim, codebooks, idCol, vecCol)

  /** The ADC serve tail over a (neighbor_id, codes) relation — ONE
    * implementation shared by the inline [[pqTopK]] and the persisted
    * [[pqTopKIndexed]], so fresh and stored codes serve bit-identically
    * (the writeIvfLists argument, applied to PQ). */
  private def pqServeCodes(codes: DataFrame, queries: DataFrame, k: Int,
                           dim: Int, codebooks: Array[Array[Array[Double]]],
                           idCol: String, vecCol: String): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"),
      normalizeVec(col(vecCol)).as("qv"))
    val scored = codes.crossJoin(broadcast(q))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        adcScore(col("qv"), col("codes"), dim, codebooks).as("approx_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("approx_sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** PQ with EXACT RE-RANKING — the standard production recovery for
    * code distortion: ADC over-fetches a `fetch`-deep shortlist from
    * the compact codes, then ONLY those candidates' raw vectors are
    * read and re-scored with exact cosine, and the top k of the exact
    * scores serve. Recall loss then comes only from true neighbors
    * missing the shortlist entirely (measured in RecallCheck on the
    * sf0.01 corpus: recall@10 0.25 → 0.35/0.55/0.76 at fetch
    * 20/50/100 — random embeddings are PQ's worst case; clustered real
    * corpora retain far more), while the scan stays
    * code-sized — raw vectors are touched for |queries|·fetch rows,
    * not the corpus. The re-rank join keys on the shortlist (semi-join
    * pruning of the vector read), and the final window sees fetch rows
    * per query, never the corpus.
    */
  def pqTopKRerank(queries: DataFrame, corpus: DataFrame, k: Int,
                   fetch: Int, dim: Int,
                   codebooks: Array[Array[Array[Double]]],
                   idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    require(fetch >= k, s"fetch=$fetch must be >= k=$k")
    val shortlist = pqTopK(queries, corpus, fetch, dim, codebooks,
      idCol, vecCol).select(col("query_id"), col("neighbor_id"))
    val cVec = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("c_vec"),
      norm(col(vecCol)).as("c_norm"))
    val qVec = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("q_vec"),
      norm(col(vecCol)).as("q_norm"))
    val exact = shortlist
      .join(cVec, Seq("neighbor_id"))
      .join(broadcast(qVec), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        safeCosine(dot(col("q_vec"), col("c_vec")),
          col("q_norm"), col("c_norm"))
          .as("cos_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    // NaN (zero-norm) pairs excluded before ranking — see topKBruteForce
    exact.where(!isnan(col("cos_sim")))
      .withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  // ----------------------------------------------------- PQ index persistence

  /** Persist a servable PQ index under `path` — the production form of
    * the [[pqTopK]] claim: 8-byte codes stand in for 256-byte raw
    * vectors ON DISK, so every later query batch scans codes, never
    * re-encodes the corpus. Layout (all parquet):
    *
    *  - `codes/`: (vec_id, codes ARRAY<INT>) — one row per vector;
    *  - `codebooks/`: (j, c, vec) — the m×nCent codebook entries, tiny;
    *  - `meta/`: one row (dim, m, n_cent).
    *
    * All three are published under [[PqIndex]]'s rebuild, born
    * versioned: a rebuild severs previous-serving grace, so stale codes
    * can never pair with new codebooks, and a leased append never reads
    * half-written codebooks or meta.
    *
    * `trainIters` > 0 trains the codebooks ([[trainPqCodebooks]] —
    * oracle-replayable fixed-point Lloyd); 0 keeps the frozen
    * smallest-id sample. Codes are a pure function of (vector,
    * codebooks), so append/delete (frozen codebooks) leave the index
    * bit-identical in content to a fresh build over the effective
    * corpus — the invariant the q161 oracle and SimilaritySpec pin.
    * A delete is tombstones plus an immediate fold ([[deleteFromPqIndex]]):
    * the codes relation is ~32× smaller than raw vectors, so the fold is
    * cheap per delete and serves need not mask pending tombstones.
    */
  def savePqIndex(corpus: DataFrame, path: String, m: Int, nCent: Int,
                  dim: Int, trainIters: Int = 0, idCol: String = "vec_id",
                  vecCol: String = "embedding",
                  codebooksIn: Array[Array[Array[Double]]] = null): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    import graft.ops.Stage.publishRebuild
    PqIndex.rebuild(spark, path) { lease =>
      // codebooksIn is the SHELL path for streaming ingest: codebooks
      // from the full (static) corpus, an empty codes relation, the
      // stream fills it (q114's shell convention for the IVF lists)
      val cb = if (codebooksIn != null) codebooksIn
      else if (trainIters > 0)
        trainPqCodebooks(corpus, m, nCent, dim, trainIters, idCol, vecCol)
      else pqCodebooks(corpus, m, nCent, dim, idCol, vecCol)
      publishRebuild(lease, s"$path/codebooks",
        cb.zipWithIndex.flatMap { case (cbJ, j) =>
          cbJ.zipWithIndex.map { case (cv, c) => (j, c, cv.toSeq) }
        }.toSeq.toDF("j", "c", "vec").repartition(1))
      publishRebuild(lease, s"$path/meta",
        Seq((dim, m, nCent)).toDF("dim", "m", "n_cent").repartition(1))
      publishRebuild(lease, s"$path/codes",
        pqCodes(corpus, dim, cb, idCol, vecCol).withColumnRenamed(idCol, "vec_id"))
    }
  }

  /** The (dim, codebooks) a persisted PQ index was built with — one
    * loader for every function that must agree on them bit-exactly.
    * Only m×nCent×subDim doubles reach the driver. */
  private def loadPqMeta(spark: org.apache.spark.sql.SparkSession,
                         path: String): (Int, Array[Array[Array[Double]]]) = {
    val meta = Tables.parquet(spark,
      graft.ops.Stage.resolve(spark, s"$path/meta")).head()
    val m = meta.getAs[Int]("m"); val nCent = meta.getAs[Int]("n_cent")
    val cb = Array.fill(m, nCent)(Array.empty[Double])
    Tables.parquet(spark, graft.ops.Stage.resolve(spark, s"$path/codebooks"))
      .collect()
      .foreach(r => cb(r.getInt(0))(r.getInt(1)) =
        r.getSeq[Double](2).toArray)
    (meta.getAs[Int]("dim"), cb)
  }

  /** Append new vectors to a persisted [[savePqIndex]] index: the saved
    * codebooks stay frozen, arrivals encode with the same argmin
    * geometry and land as new code files — batch-sized work, and the
    * grown index serves bit-identically to a fresh build over the union
    * with the same codebooks. Staged through [[PqIndex]]'s `append`
    * (`batchId = Some(id)` is the exactly-once stream path: a replayed
    * batch never surfaces duplicated vectors as duplicate top-k
    * candidates); the codebooks load inside the stager, under the root
    * lease, so they cannot race a rebuild. */
  def appendToPqIndex(newVecs: DataFrame, path: String,
                      idCol: String = "vec_id", vecCol: String = "embedding",
                      batchId: Option[Long] = None): Unit = {
    val spark = newVecs.sparkSession
    PqIndex.append(spark, path, batchId) { (staging, _) =>
      val (dim, cb) = loadPqMeta(spark, path)
      pqCodes(newVecs, dim, cb, idCol, vecCol)
        .withColumnRenamed(idCol, "vec_id")
        .write.mode("overwrite").parquet(s"$staging/codes")
    }
  }

  /** Delete vectors from a [[savePqIndex]] index: the ids land as
    * tombstones, then [[PqIndex]]'s `compact` folds them out of the codes
    * relation in one atomic publish; codebooks and meta stay frozen, so
    * the shrunk index equals a fresh build over the survivors. */
  def deleteFromPqIndex(spark: org.apache.spark.sql.SparkSession,
                        path: String, ids: DataFrame,
                        idCol: String = "vec_id"): Unit =
    PqIndex.delete(path, ids.select(col(idCol).as("vec_id")))

  /** ADC top-k served from a persisted [[savePqIndex]] index: the scan
    * is the 8-byte-code relation, the query side stays exact —
    * bit-identical to [[pqTopK]] over the same effective corpus (shared
    * serve tail). `at` picks the codes version
    * ([[graft.ops.Family.read]]): live, the PREVIOUS version the last
    * maintenance op superseded (fails loudly after a fresh build — a
    * rebuild severs the grace), or a [[PqIndex]] pin's file list.
    * Pending tombstones (a delete that failed before its fold) mask
    * every version alike, as in [[topKIvfIndexed]]. */
  def pqTopKIndexed(spark: org.apache.spark.sql.SparkSession,
                    queries: DataFrame, path: String, k: Int,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    at: graft.ops.Family.At = graft.ops.Family.Live)
      : DataFrame = {
    val v = PqIndex.view(spark, path, at)
    val (dim, cb) = loadPqMeta(spark, path)
    pqServeCodes(v("codes").withColumnRenamed("vec_id", "neighbor_id"),
      queries, k, dim, cb, idCol, vecCol)
  }

  /** [[pqTopKRerank]] served from the PERSISTED codes: the ADC
    * shortlist comes from the stored 8-byte relation, then exact cosine
    * re-scores ONLY the |queries|·fetch shortlisted raw vectors from
    * `corpus` (the raw-vector side stays wherever the vectors live —
    * the index never duplicates them). The production serve: compact
    * scan for candidates, exact math for the final order. */
  def pqTopKRerankIndexed(spark: org.apache.spark.sql.SparkSession,
                          queries: DataFrame, corpus: DataFrame,
                          path: String, k: Int, fetch: Int,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding"): DataFrame = {
    require(fetch >= k, s"fetch=$fetch must be >= k=$k")
    val shortlist = pqTopKIndexed(spark, queries, path, fetch, idCol, vecCol)
      .select(col("query_id"), col("neighbor_id"))
    val cVec = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("c_vec"),
      norm(col(vecCol)).as("c_norm"))
    val qVec = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("q_vec"),
      norm(col(vecCol)).as("q_norm"))
    val exact = shortlist
      .join(cVec, Seq("neighbor_id"))
      .join(broadcast(qVec), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        safeCosine(dot(col("q_vec"), col("c_vec")),
          col("q_norm"), col("c_norm"))
          .as("cos_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    // NaN (zero-norm) pairs excluded before ranking — see topKBruteForce
    exact.where(!isnan(col("cos_sim")))
      .withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** The PQ and binary compaction fold: the one-row-per-vector
    * `component` (codes, sig) of `family` minus the tombstoned vec_ids,
    * coalesced to [[graft.ops.Stage.compactionPartitions]] files and
    * published atomically. A tombstone-free fold preserves the row
    * multiset, so serving before and after is identical. */
  private def foldVectors(family: graft.ops.Family,
                          lease: graft.ops.Stage.Lease, component: String,
                          tomb: Option[DataFrame]): Unit = {
    val (spark, dir) = (lease.spark, s"${lease.root}/$component")
    val n = graft.ops.Stage.compactionPartitions(spark, dir)
    graft.ops.Stage.publishRewrite(lease, dir,
      family.mask(Tables.parquet(spark, graft.ops.Stage.resolve(spark, dir)),
        tomb).repartition(n))
  }

  /** Maintenance DIFF of the PQ index's two serveable states — PREVIOUS
    * vs LIVE top-k per query with both ranks and a status, the same
    * validation read as [[ivfMaintenanceDiff]]. Codebooks are frozen,
    * so a pair on both sides keeps its exact approx_sim; only
    * membership and rank can move. */
  def pqMaintenanceDiff(spark: org.apache.spark.sql.SparkSession,
                        queries: DataFrame, path: String, k: Int,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame =
    graft.ops.Family.rankDiff(
      pqTopKIndexed(spark, queries, path, k, idCol, vecCol, _),
      Seq("query_id", "neighbor_id"), "approx_sim", "sim")

  /** The PQ index's lifecycle descriptor: staged append, compaction
    * ([[foldVectors]]), named-snapshot pin, restore, drop, vacuum and
    * health over the codes component (codebooks are frozen at build);
    * pins serve through `pqTopKIndexed(…, at)`. */
  val PqIndex: graft.ops.Family =
    graft.ops.Family("pq_index", (_, _) => Seq("codes"),
      (lease, _, tomb) => foldVectors(PqIndex, lease, "codes", tomb),
      graft.ops.Family.Key(Set("codes")))

  // ------------------------------------------------ binary index persistence

  /** Persist a servable BINARY (sign-bit) index under `path` — the
    * production form of the [[binaryTopK]] claim: 8·ceil(dim/63)-byte
    * packed signatures stand in for the raw vectors ON DISK, so every
    * later query batch scans words, never re-packs the corpus. Layout:
    *
    *  - `sig/`: (vec_id, words ARRAY<BIGINT>, dim INT) — one row per
    *    vector, born versioned under [[BinaryIndex]]'s rebuild.
    *    `dim` is STAMPED on every row (RLE-compressed constant — the
    *    round-15 manifest rule: serves derive parameters from the data
    *    they actually scan, so a serve racing a rebuild that changes
    *    dim can never pack its queries against the other generation's
    *    words);
    *  - `meta/`: one row (dim), versioned, published FIRST inside the
    *    root lease — the APPEND paths' parameter source (their reads
    *    hold the lease, so they cannot race a rebuild) and the
    *    empty-index serve fallback.
    *
    * Signatures are a pure function of (vector, dim), so append/delete
    * leave the index bit-identical in content to a fresh build over
    * the effective corpus (the savePqIndex invariant — q204's oracle
    * pins it). A delete folds its tombstones in the same call, as for
    * PQ: the sig relation is 64× smaller than raw vectors at dim 64.
    */
  def saveBinaryIndex(corpus: DataFrame, path: String, dim: Int = 64,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    BinaryIndex.rebuild(spark, path) { lease =>
      graft.ops.Stage.publishRebuild(lease, s"$path/meta",
        Seq(dim).toDF("dim").repartition(1))
      graft.ops.Stage.publishRebuild(lease, s"$path/sig",
        binarySigRows(corpus, dim, idCol, vecCol))
    }
  }

  /** The ONE sig projection shared by build and append (the
    * manifestKeyed rule — a schema change applied to only one of
    * them would corrupt every later serve of a mixed index). */
  private def binarySigRows(vecs: DataFrame, dim: Int, idCol: String,
                            vecCol: String): DataFrame =
    vecs.select(col(idCol).as("vec_id"),
        binarySignWords(col(vecCol), dim).as("words"))
      .withColumn("dim", lit(dim))

  /** The index's dim — from the sig stamp when rows exist (the data the
    * serve actually reads), from versioned meta for an empty index (any
    * dim packs queries against zero candidates identically). */
  private def binaryIndexDim(spark: org.apache.spark.sql.SparkSession,
                             path: String, sigs: DataFrame): Int =
    sigs.select(col("dim")).limit(1).collect().headOption
      .map(_.getInt(0))
      .getOrElse(Tables.parquet(spark,
        graft.ops.Stage.resolve(spark, s"$path/meta")).head().getAs[Int]("dim"))

  /** Append new vectors to a persisted [[saveBinaryIndex]] index:
    * arrivals pack with the index's own dim and land as new sig files —
    * batch-sized work, and the grown index serves bit-identically to a
    * fresh build over the union. Staged through [[BinaryIndex]]'s
    * `append` (`batchId = Some(id)` is the exactly-once stream path: a
    * replayed batch never doubles its signature rows); meta is read
    * inside the stager, under the root lease, so it cannot race a
    * rebuild. */
  def appendToBinaryIndex(newVecs: DataFrame, path: String,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding",
                          batchId: Option[Long] = None): Unit = {
    val spark = newVecs.sparkSession
    BinaryIndex.append(spark, path, batchId) { (staging, _) =>
      val dim = Tables.parquet(spark,
        graft.ops.Stage.resolve(spark, s"$path/meta")).head().getAs[Int]("dim")
      binarySigRows(newVecs, dim, idCol, vecCol)
        .write.mode("overwrite").parquet(s"$staging/sig")
    }
  }

  /** Delete vectors from a [[saveBinaryIndex]] index: the ids land as
    * tombstones, then [[BinaryIndex]]'s `compact` folds them out of the
    * sig relation in one atomic publish; the shrunk index equals a fresh
    * build over the survivors. */
  def deleteFromBinaryIndex(spark: org.apache.spark.sql.SparkSession,
                            path: String, ids: DataFrame,
                            idCol: String = "vec_id"): Unit =
    BinaryIndex.delete(path, ids.select(col(idCol).as("vec_id")))

  /** Hamming-candidate + exact-rerank top-k served from a persisted
    * [[saveBinaryIndex]] index: candidates come from the stored packed
    * words, the rerank reads raw vectors from `corpus` (the raw-vector
    * side stays wherever the vectors live — the index never duplicates
    * them). Bit-identical to [[binaryTopK]] over the same effective
    * corpus (shared serve tail). `at` picks the sig version as in
    * [[pqTopKIndexed]], pending tombstones masked; the dim comes from
    * the stamp on the rows it reads, so a pinned or previous serve packs
    * its queries against its own generation. */
  def binaryTopKIndexed(spark: org.apache.spark.sql.SparkSession,
                        queries: DataFrame, corpus: DataFrame,
                        path: String, k: Int, overfetch: Int = 16,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding",
                        at: graft.ops.Family.At = graft.ops.Family.Live)
      : DataFrame = {
    val v = BinaryIndex.view(spark, path, at)
    binaryServeSigs(v("sig").withColumnRenamed("vec_id", "neighbor_id"),
      queries, corpus, k, overfetch, binaryIndexDim(spark, path, v.raw("sig")),
      idCol, vecCol)
  }

  /** Maintenance DIFF of the binary index's two serveable states —
    * PREVIOUS vs LIVE top-k per query, the [[pqMaintenanceDiff]]
    * validation read. The rerank is exact cosine on both sides, so a
    * pair present on both keeps its cos_sim and only membership/rank
    * can move. */
  def binaryMaintenanceDiff(spark: org.apache.spark.sql.SparkSession,
                            queries: DataFrame, corpus: DataFrame,
                            path: String, k: Int, overfetch: Int = 16,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding"): DataFrame =
    graft.ops.Family.rankDiff(
      binaryTopKIndexed(spark, queries, corpus, path, k, overfetch, idCol,
        vecCol, _),
      Seq("query_id", "neighbor_id"), "cos_sim", "sim")

  /** The binary index's lifecycle descriptor: staged append, compaction
    * ([[foldVectors]]), named-snapshot pin, restore, drop, vacuum and
    * health over the sig component; pins serve through
    * `binaryTopKIndexed(…, at)`. */
  val BinaryIndex: graft.ops.Family =
    graft.ops.Family("binary_index", (_, _) => Seq("sig"),
      (lease, _, tomb) => foldVectors(BinaryIndex, lease, "sig", tomb),
      graft.ops.Family.Key(Set("sig")))

  /** SEMANTIC DECONTAMINATION: for every train vector, its maximum
    * cosine against a held-out probe/eval set, the probe that attains
    * it, and a `is_contaminated` verdict at `threshold` — the
    * embedding-space complement of the n-gram decontamination family
    * (exact/substring overlap can be paraphrased away; an eval item
    * reworded still lands next to its source in embedding space).
    *
    * SCALE SHAPE — the whole point of the operator: the probe set is
    * small by nature (an eval suite, not a corpus), so it is folded
    * into ONE row of (id, vec, norm) structs and broadcast; scoring is
    * then a map-only `aggregate` HOF pass over the train side — ZERO
    * shuffle at any train size, no groupBy, no window, no per-pair row
    * explosion (the |train|·|probe| pairs exist only inside the fold).
    * Contrast [[topKBruteForce]], which materializes the pair relation
    * because it must rank per QUERY; here the max is per TRAIN row, so
    * the reduction lives in the row itself. Argmax ties break to the
    * smallest probe id (probes fold in ascending-id order with a
    * strict `>`), mirroring the oracle's (cos DESC, id ASC) rank.
    * Train rows are scored against every probe INCLUDING an identical
    * twin if the caller passes overlapping sets — disjointness is the
    * caller's split contract, not re-checked here.
    */
  def semanticDecontam(train: DataFrame, probe: DataFrame,
                       threshold: Double, idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame =
    semanticDecontamScores(train, probe, threshold, idCol, vecCol)
      .orderBy(idCol)

  /** [[semanticDecontam]] WITHOUT the presentation sort — the row-local
    * scoring alone, so the same plan runs under a streaming query
    * (append mode forbids global sorts; the gate is stateless, so
    * streaming results are batch-identical row for row). */
  def semanticDecontamScores(train: DataFrame, probe: DataFrame,
                             threshold: Double, idCol: String = "vec_id",
                             vecCol: String = "embedding"): DataFrame = {
    val probes = probe
      .select(struct(col(idCol).as("pid"),
        col(vecCol).cast("array<double>").as("pv"),
        norm(col(vecCol)).as("pnrm")).as("p"))
      .agg(sort_array(collect_list(col("p"))).as("probes")) // pid asc
    val t = train.select(col(idCol),
      col(vecCol).cast("array<double>").as("tv"),
      norm(col(vecCol)).as("tnrm"))
    val init = struct(lit(-2.0).as("cos"), lit(-1L).as("pid"))
    t.crossJoin(broadcast(probes))
      .withColumn("best",
        aggregate(col("probes"), init, (acc, p) => {
          val c = safeCosine(dot(col("tv"), p.getField("pv")),
            col("tnrm"), p.getField("pnrm"))
          when(c > acc.getField("cos"),
            struct(c.as("cos"), p.getField("pid").as("pid")))
            .otherwise(acc)
        }))
      .select(col(idCol),
        col("best.pid").as("nearest_probe_id"),
        col("best.cos").as("max_probe_cos"),
        (col("best.cos") >= lit(threshold)).as("is_contaminated"))
  }

  /** Recall@k report of an approximate top-k relation against the exact
    * one — ANN index QUALITY MONITORING as an operator (the operator
    * form of tools/RecallCheck's round-11 measurement): per query, how
    * many of the exact top-k neighbors the approximate serve recovered.
    * Inputs are any two (query_id, neighbor_id, …) top-k relations —
    * [[topKLsh]] / [[topKIvf]] / [[topKIvfIndexed]] against
    * [[topKBruteForce]] — so the report slots after any serve path,
    * including snapshot serves (pin recall BEFORE a maintenance campaign,
    * re-measure after). Cost: a join of two k-rows-per-query relations —
    * the expensive parts are the inputs, which the caller already has.
    * Queries the approximate side missed entirely (empty probe buckets)
    * report recall 0, not absence. recall = n_hit / k_exact with both
    * operands small exact integers — bit-identical in any engine.
    */
  def recallAtK(exact: DataFrame, approx: DataFrame): DataFrame = {
    val ex = exact.select(col("query_id"), col("neighbor_id"))
    val ap = approx.select(col("query_id"), col("neighbor_id"))
    val hits = ex.join(ap, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
    ex.groupBy("query_id").agg(count(lit(1)).as("k_exact"))
      .join(hits, Seq("query_id"), "left_outer")
      .select(col("query_id"), col("k_exact"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)).cast("double") /
          col("k_exact").cast("double")).as("recall"))
  }

  /** Scalar int8 quantization of an embedding column: the first memory
    * lever of a 100 TB vector store (4× fewer bytes than float32 through
    * every scan, shuffle and cache; recall cost bounded by the rounding
    * error ≤ 1/(2·scale) per component). Values clamp into [−128, 127].
    * Pure expression — runs in the scan stage.
    *
    * floor(x·scale + 0.5) instead of round(): round-half-even vs half-up
    * varies across engines, while floor is the same IEEE operation
    * everywhere — so quantized vectors are bit-identical in any replayer.
    */
  def quantize(vec: Column, scale: Double): Column =
    transform(vec.cast("array<double>"), x =>
      greatest(least(floor(x * lit(scale) + lit(0.5)), lit(127.0)),
        lit(-128.0)).cast("tinyint"))

  /** Inverse of [[quantize]] (up to rounding): int8 codes back to doubles,
    * ready for the unchanged similarity operators.
    */
  def dequantize(qvec: Column, scale: Double): Column =
    transform(qvec, v => v.cast("double") / lit(scale))

  /** k-NN majority label vote over a top-k neighbor relation — the
    * embedding-quality eval (how often do a vector's nearest neighbors
    * share its label?) and the weak-labeling step of a curation pipeline.
    * `neighbors` is ANY (query_id, neighbor_id) relation —
    * [[topKBruteForce]], [[topKLsh]] or [[topKIvf]] output — so the vote
    * inherits its producer's scale contract; this stage itself only joins
    * the slim (id, label) relation (broadcast when small) and aggregates
    * |Q|·k rows. Ties break toward the smaller label — deterministic and
    * oracle-replayable. Output: (query_id, predicted_label, votes).
    */
  def knnClassify(neighbors: DataFrame, labeled: DataFrame,
                  idCol: String = "vec_id",
                  labelCol: String = "label"): DataFrame = {
    val lab = labeled.select(col(idCol).as("neighbor_id"),
      col(labelCol).as("n_label"))
    val votes = neighbors.join(lab, Seq("neighbor_id"))
      .groupBy("query_id", "n_label").agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("votes").desc, col("n_label"))
    votes.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select(col("query_id"), col("n_label").as("predicted_label"),
        col("votes"))
  }

  /** Deterministic random hyperplanes (fixed seed) for sign-bit LSH. */
  private def hyperplanes(nBits: Int, dim: Int): Array[Array[Double]] = {
    val rnd = new java.util.Random(7L)
    Array.fill(nBits)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-bit LSH signature: bit i = (v · h_i) > 0. One fused native
    * expression ([[graft.functions.HyperplaneSignBits]]): a single pass
    * over the vector against a constant plane matrix, instead of nBits
    * composed dot/when/sum expressions that bloat codegen.
    */
  def lshSignature(vec: Column, nBits: Int, dim: Int): Column =
    graft.functions.VectorExpressions
      .hyperplaneSignBits(vec, hyperplanes(nBits, dim))

  /** Corpus-sample hyperplanes: plane i = v(2i) − v(2i+1) over the 2·nBits
    * smallest-id vectors. One constant-size driver lookup at any corpus
    * scale (a sorted-limit scan of 2·nBits rows), deterministic, and —
    * unlike RNG planes — exactly reproducible by an external oracle engine
    * from the data alone, which is what lets an approximate ANN query
    * carry a full equality oracle. Difference-of-samples planes also adapt
    * to the data's location: for all-positive embeddings they discriminate
    * where origin-anchored Gaussian planes collapse into one orthant.
    */
  def samplePlanes(corpus: DataFrame, nBits: Int,
                   idCol: String = "vec_id",
                   vecCol: String = "embedding"): Array[Array[Double]] = {
    val rows = corpus
      .select(col(idCol), col(vecCol).cast("array<double>").as("v"))
      .orderBy(col(idCol)).limit(2 * nBits).select("v").collect()
    require(rows.length == 2 * nBits,
      s"samplePlanes needs ${2 * nBits} corpus vectors, found ${rows.length}")
    Array.tabulate(nBits) { i =>
      val a = rows(2 * i).getSeq[Double](0)
      val b = rows(2 * i + 1).getSeq[Double](0)
      a.zip(b).map { case (x, y) => x - y }.toArray
    }
  }

  /** Bucketed ANN: equi-join query and corpus on the LSH bucket, exact
    * cosine within the bucket, top-k per query. Approximate — recall
    * depends on nBits; pairs in unprobed buckets are never scored.
    * `planes` overrides the default fixed-seed Gaussian hyperplanes (see
    * [[samplePlanes]] for the oracle-reproducible choice).
    *
    * MULTI-PROBE (`nProbe` > 1): each query also probes the Hamming-1
    * neighbor buckets from flipping bits 0..nProbe-2 of its signature —
    * the near-miss buckets where one borderline hyperplane vote went the
    * other way, which is where most single-probe recall loss lives. The
    * recall lever costs query-side fan-out only: the corpus index is
    * untouched (fixed index cost), and because a (query, neighbor) pair
    * can match through exactly ONE mask (the mask must equal sig_q XOR
    * sig_c), the probe fan-out never emits duplicate pairs — no distinct
    * needed before ranking. `nProbe = nBits + 1` probes the full
    * Hamming-1 ball, a condition an oracle replays as
    * `bit_count(sig_q XOR sig_c) <= 1`.
    */
  def topKLsh(queries: DataFrame, corpus: DataFrame, k: Int, nBits: Int, dim: Int,
              idCol: String = "vec_id", vecCol: String = "embedding",
              planes: Array[Array[Double]] = null, nProbe: Int = 1): DataFrame = {
    val pl = if (planes == null) hyperplanes(nBits, dim) else planes
    def sig(vec: Column): Column =
      graft.functions.VectorExpressions.hyperplaneSignBits(vec, pl)
    val masks: Seq[Long] =
      0L +: (0 until math.min(nProbe - 1, nBits)).map(i => 1L << i)
    val q = queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("q_vec"),
        norm(col(vecCol)).as("q_norm"),
        sig(col(vecCol)).as("sig"))
      .select(col("query_id"), col("q_vec"), col("q_norm"),
        explode(array(masks.map(m =>
          col("sig").bitwiseXOR(lit(m))): _*)).as("bucket"))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("c_vec"),
      norm(col(vecCol)).as("c_norm"),
      sig(col(vecCol)).as("bucket"))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        safeCosine(dot(col("q_vec"), col("c_vec")),
          col("q_norm"), col("c_norm"))
          .as("cos_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    // zero-norm sides score NaN (safeCosine), and BOTH Spark and DuckDB
    // sort NaN as the LARGEST double — unfiltered, a zero vector would
    // win rank 1 of every top-k. Undefined-direction pairs are EXCLUDED
    // (the simhashSignatures null-doc rule); joinBackToCorpus restores
    // coverage rows where a caller needs them.
    scored.where(!isnan(col("cos_sim")))
      .withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** Banded sign-LSH near-duplicate pairs: the scale path for
    * [[cosineDupPairsExact]]. Same candidate-first shuffle discipline as
    * `Dedup.minhashPairs`: the banded self-join carries only vector ids
    * (plus the signature words both sides already have), pair uniqueness
    * is the FIRST-MATCHING-BAND rule — a collision at band b survives only
    * if no earlier band of the signature XOR is all-zero, pure bit math —
    * then vectors join back for ONE exact cosine verification per unique
    * pair. No `distinct()` exchange over the candidate set: a dense
    * duplicate cluster costs O(pairs) long-comparisons in the candidate
    * stage, not a multi-million-row shuffle + hash aggregate.
    *
    * Recall: a pair at angle θ agrees on one bit with prob p = 1 − θ/π;
    * collision prob = 1 − (1 − p^bitsPerBand)^bands. Verification is
    * exact, so precision is always 1 regardless of banding.
    *
    * WHY 16×32 is the default — the random-collision FLOOR. Unrelated
    * pairs share a band with prob ≈ bands·2^−bitsPerBand, and that floor
    * times n²/2 is a hard candidate count no verification can dodge. The
    * old 6×6 default floored at 6/2⁶ ≈ 9.4%: measured 127 M candidates
    * for 50 k chunk-histogram embeddings at sf1 (the structural n²/32
    * disease q224 fixed for 64-bit SimHash, in cosine clothing) — 47 B
    * candidates at 1 M docs. 16-bit bands floor at 32/2¹⁶ ≈ 0.049%,
    * ~190× lower, AND the extra bands push BOUNDARY miss probability at
    * cos 0.98 — the contract threshold of every default-config caller —
    * to ≈1.1e−6 per pair (vs 1.2e−3 for the old 6×6: a 16×16 variant
    * measured here was 385× cheaper but dropped exactly one boundary
    * pair in 218 at sf1; 32 bands buy back recall with floor to spare).
    * The widened signature (512 planes = 8 words) no longer fits one
    * long, so the signature is an ARRAY of 64-bit words, 64/bitsPerBand
    * full bands per word; a single-word config (any bitsPerBand·bands ≤
    * 64, e.g. q36's explicit 4×9) produces bit-identical pair sets to
    * the pre-array implementation. Low-threshold callers (cos ≪ 0.98)
    * should pass explicit wide-band params: at cos 0.9 sixteen-bit bands
    * recall poorly where 4×9 recalls ≈0.97 — narrow bands buy their
    * floor with boundary recall, and the right trade depends on the
    * caller's threshold.
    *
    * Hyperplanes are CENTERED on the corpus mean: all-positive embeddings
    * (count vectors, post-ReLU features) live in one orthant where raw
    * sign-LSH barely discriminates — every bucket is dense and candidates
    * approach O(n²). Since dot(v−m, p) = dot(v,p) − dot(m,p), centering is
    * just a per-plane scalar offset on the bit threshold; the offsets come
    * from one corpus-mean aggregate (a constant 1×dim row at any scale) and
    * near-identical pairs still land together because both members shift
    * identically. Verification cosine stays on the RAW vectors.
    */
  def cosineDupPairsLsh(corpus: DataFrame, threshold: Double, dim: Int,
                        bitsPerBand: Int = 16, bands: Int = 32,
                        idCol: String = "vec_id", vecCol: String = "embedding",
                        planes: Array[Array[Double]] = null): DataFrame = {
    require(bitsPerBand >= 1 && bitsPerBand <= 63,
      s"bitsPerBand must be in [1, 63], got $bitsPerBand")
    val pl = if (planes == null) hyperplanes(bitsPerBand * bands, dim) else planes
    require(pl.length == bitsPerBand * bands,
      s"need ${bitsPerBand * bands} planes, got ${pl.length}")
    // (id, v, nrm) feeds FOUR subtrees (mean aggregate, banding, both
    // verification join-backs). Deliberately NOT persisted: a lazily
    // returned plan gives this function no hook to ever unpersist, so a
    // cache here leaked one full corpus projection into the block
    // manager PER CALL for the session's lifetime (a per-snapshot dedup
    // sweep accumulates corpora until eviction). The projection is
    // map-only over the corpus scan — lineage recompute per consumer is
    // the standard Spark answer; callers that hold embeddings as a
    // computed column and call this repeatedly should persist THEIR
    // input, where they can also release it.
    val c = corpus.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"), norm(col(vecCol)).as("nrm"))
    // RNG planes are origin-anchored, so they get mean-centered via per-plane
    // offsets dot(mean, p) — one tiny aggregate, collected as consts. Caller-
    // provided planes (e.g. [[samplePlanes]] differences) already adapt to
    // the data's location AND an avg-aggregate offset is float-order
    // sensitive, so zero offsets keep the whole machinery exactly replayable
    // by an external oracle engine.
    val offsets: Array[Double] =
      if (planes != null) new Array[Double](pl.length)
      else {
        val mean = c.select(posexplode(col("v")))
          .groupBy(col("pos")).agg(avg(col("col")).as("m"))
          .orderBy("pos").collect().map(_.getDouble(1))
        pl.map(p => p.zip(mean).map { case (a, b) => a * b }.sum)
      }
    // fused signatures, 64/bitsPerBand full bands per 64-bit word (one
    // HyperplaneSignBits pass per word over its plane slice); band keys
    // are bit-chunks of the owning word
    val bandsPerWord = 64 / bitsPerBand
    val nWords = (bands + bandsPerWord - 1) / bandsPerWord
    val sigWords: Seq[Column] = (0 until nWords).map { w =>
      val from = w * bandsPerWord * bitsPerBand
      val until = math.min(bands, (w + 1) * bandsPerWord) * bitsPerBand
      graft.functions.VectorExpressions.hyperplaneSignBits(
        col("v"), pl.slice(from, until), offsets.slice(from, until))
    }
    val mask = (1L << bitsPerBand) - 1
    // band b lives at bit offset (b % bandsPerWord)·bitsPerBand of word
    // b / bandsPerWord (1-indexed for element_at)
    def bandKey(sig: Column, b: Int): Column =
      shiftrightunsigned(element_at(sig, b / bandsPerWord + 1),
        (b % bandsPerWord) * bitsPerBand).bitwiseAND(lit(mask))
    val banded = c.select(col("id"), array(sigWords: _*).as("sig"))
      .select(col("id"), col("sig"),
        posexplode(array((0 until bands).map(b => bandKey(col("sig"), b)): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_key")
    // candidate work is quadratic in bucket size but its input is tiny, so
    // the streamed side must be spread over the shuffle width explicitly
    // (AQE sizes partitions by input bytes and would run it single-task)
    val shufflePartitions =
      corpus.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt
    val left = banded.select(col("band"), col("band_key"),
      col("id").as("id_a"), col("sig").as("sig_a"))
      .repartition(shufflePartitions, col("band"), col("band_key"))
    val right = banded.select(col("band"), col("band_key"),
      col("id").as("id_b"), col("sig").as("sig_b"))
    // first-matching-band: band b survives only if no earlier bitsPerBand-
    // wide chunk of sig_a XOR sig_b (within the chunk's owning word) is
    // zero — pairs unique by construction
    def xorKey(b: Int): Column = {
      val w = b / bandsPerWord + 1
      shiftrightunsigned(
        element_at(col("sig_a"), w).bitwiseXOR(element_at(col("sig_b"), w)),
        (b % bandsPerWord) * bitsPerBand).bitwiseAND(lit(mask))
    }
    // foldLeft, not reduce: bands = 1 is legal and has no earlier band
    val earlierBandMatched = (0 until bands - 1).map { b =>
      (col("band") > b) && (xorKey(b) === 0L)
    }.foldLeft(lit(false))(_ || _)
    val candidates = left.join(right, Seq("band", "band_key"))
      .where(col("id_a") < col("id_b") && !earlierBandMatched)
      .select("id_a", "id_b")
    val pairs = candidates
      .join(c.select(col("id").as("id_a"), col("v").as("v_a"), col("nrm").as("n_a")), Seq("id_a"))
      .join(c.select(col("id").as("id_b"), col("v").as("v_b"), col("nrm").as("n_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        safeCosine(dot(col("v_a"), col("v_b")),
          col("n_a"), col("n_b")).as("cos_sim"))
      .where(col("cos_sim") >= threshold)
    pairs
  }

  /** Deterministic coarse-quantizer centroids (fixed seed, distinct from the
    * hyperplane seed).
    */
  private def centroids(n: Int, dim: Int): Array[Array[Double]] = {
    val rnd = new java.util.Random(13L)
    Array.fill(n)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Coarse-quantizer centroids seeded from the data: the `n` smallest-id
    * corpus vectors. Constant driver-side work at any corpus size, and
    * exactly reproducible by an oracle engine (the seeds are rows, not RNG
    * state) — the IVF dual of [[samplePlanes]].
    */
  def sampleCentroids(corpus: DataFrame, n: Int,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): Array[Array[Double]] = {
    val rows = corpus
      .select(col(idCol), col(vecCol).cast("array<double>").as("v"))
      .orderBy(col(idCol)).limit(n).select("v").collect()
    require(rows.length == n,
      s"sampleCentroids needs $n corpus vectors, found ${rows.length}")
    rows.map(_.getSeq[Double](0).toArray)
  }

  /** K-means-trained centroids: Lloyd iterations run AS DATAFRAME JOBS —
    * assignment is the same argmax-dot expression the IVF query uses, the
    * re-estimation is one groupBy over (centroid, position). Nothing but
    * the k×dim centroid matrix ever reaches the driver, so training a
    * 100 TB corpus is `iters` distributed passes, not a collect.
    *
    * Seeded from [[sampleCentroids]] (deterministic); vectors are
    * L2-normalized inside the objective and every centroid — seed or
    * re-estimated mean — is L2-normalized back to the unit sphere
    * (spherical k-means), so argmax-DOT assignment IS argmax-cosine and
    * the trained cells partition by DIRECTION, matching the metric the
    * IVF search ranks by. Without the re-normalization a mean of unit
    * vectors shrinks with its cluster's spread (‖mean‖ ≈ avg cos to the
    * center), and argmax-dot would systematically favor COHERENT cells
    * over diffuse ones near boundaries. Empty cells keep their previous
    * (already unit) centroid.
    */
  def trainCentroids(corpus: DataFrame, n: Int, dim: Int, iters: Int = 3,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): Array[Array[Double]] = {
    def unitize(c: Array[Double]): Array[Double] = {
      val nrm = math.sqrt(c.map(x => x * x).sum)
      if (nrm > 0.0) c.map(_ / nrm) else c
    }
    var cents = sampleCentroids(corpus, n, idCol, vecCol).map(unitize)
    val unit = {
      val v = col(vecCol).cast("array<double>")
      transform(v, x => x / sqrt(graft.functions.VectorExpressions.dot(v, v)))
    }
    val vecs = corpus.select(unit.as("v")).where(!isnan(element_at(col("v"), 1)))
    for (_ <- 1 to iters) {
      val cd = array(cents.zipWithIndex.map { case (cv, i) =>
        struct(graft.functions.VectorExpressions
          .dot(col("v"), array(cv.map(lit(_)): _*)).as("d"), lit(i).as("c"))
      }: _*)
      val means = vecs
        .select(col("v"), array_max(cd).getField("c").as("centroid"))
        .select(col("centroid"), posexplode(col("v")))
        .groupBy("centroid", "pos").agg(avg("col").as("m"))
        .collect()
      val next = cents.map(_.clone())
      means.foreach(r => next(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
      val updated = means.map(_.getInt(0)).toSet
      cents = next.zipWithIndex.map { case (c, i) =>
        if (updated(i)) unitize(c) else c }
    }
    cents
  }

  /** [[trainCentroids]] in the PORTABLE fixed-point discipline of
    * [[trainPqCodebooks]] — the variant an oracle can value-check, which
    * is what lets the TRAINED IVF path (q158) sit under the same
    * bit-exact correctness gate as the frozen-sample one (q39). Same
    * spherical-k-means semantics: seeds are the `n` smallest-id
    * NORMALIZED vectors (the q152 cent convention), assignment is
    * argmax-dot with ties to the LARGER centroid id (the engine's
    * (d, c) struct array_max == the replay's ORDER BY d DESC, c DESC),
    * and each re-estimated mean is computed from exact integer sums of
    * 2^-20-quantized coordinates, then re-unitized with one
    * fixed-order sum of squares + sqrt (both IEEE-exact in any engine).
    * Empty cells keep their previous unit centroid. `iters` distributed
    * passes; only the n×dim matrix reaches the driver.
    */
  def trainCentroidsPortable(corpus: DataFrame, n: Int, dim: Int,
                             iters: Int = 1, idCol: String = "vec_id",
                             vecCol: String = "embedding")
      : Array[Array[Double]] = {
    require(iters >= 0, s"iters=$iters must be non-negative")
    val Grid = 1048576.0 // 2^20
    def unitize(c: Array[Double]): Array[Double] = {
      // ascending-position fold, the duckDot spelling
      val nrm = math.sqrt(c.foldLeft(0.0)((a, x) => a + x * x))
      if (nrm > 0.0) c.map(_ / nrm) else c
    }
    var cents = sampleCentroids(
      corpus.select(col(idCol), normalizeVec(col(vecCol)).as(vecCol)),
      n, idCol, vecCol)
    // zero vectors normalize to all-NaN and would silently drag a
    // centroid's fixed-point update toward zero (NaN sorts greatest in
    // the argmax; its floor(NaN·G) quantizes to 0 while still counting)
    // — trainCentroids filters them (its line has the same guard), the
    // portable variant must too or the two diverge AND the oracle replay
    // of the NaN cast is engine-defined
    val nv = corpus.select(normalizeVec(col(vecCol)).as("nv"))
      .where(!isnan(element_at(col("nv"), 1)))
    for (_ <- 1 to iters) {
      val cd = array(cents.zipWithIndex.map { case (cv, i) =>
        struct(dot(col("nv"), array(cv.map(lit(_)): _*)).as("d"),
          lit(i).as("c"))
      }: _*)
      val stats = nv
        .select(array_max(cd).getField("c").as("c"),
          posexplode(col("nv")).as(Seq("pos", "x")))
        .groupBy("c", "pos")
        .agg(sum(floor(col("x") * Grid + lit(0.5)).cast("long")).as("smi"),
          count(lit(1)).as("cnt"))
        .collect()
      val next = cents.map(_.clone())
      val touched = scala.collection.mutable.Set.empty[Int]
      stats.foreach { r =>
        next(r.getInt(0))(r.getInt(1)) =
          r.getLong(2).toDouble / r.getLong(3) / Grid
        touched += r.getInt(0)
      }
      cents = next.zipWithIndex.map { case (c, i) =>
        if (touched(i)) unitize(c) else c
      }
    }
    cents
  }

  /** IVF-style ANN: corpus rows are assigned to their best coarse centroid
    * (the inverted list); each query probes its `nProbe` nearest centroids
    * and scores only those lists. The assignment/probing is pure expression
    * work (array of (dot, idx) structs; struct ordering makes array_max an
    * argmax), the probe fan-out is an explode + equi-join on the centroid
    * id — so the corpus is scanned once and never shuffled by pair.
    *
    * Versus [[topKLsh]]: buckets follow the data's density (centroid
    * Voronoi cells) rather than fixed hyperplane sign patterns, and recall
    * is tuned at query time via nProbe with no re-indexing. `centroidsIn`
    * overrides the default fixed-seed Gaussian centroids: pass
    * [[trainCentroids]] for k-means cells (the production shape) or
    * [[sampleCentroids]] for oracle-reproducible determinism.
    */
  /** (dot, index) struct array against a constant centroid matrix — struct
    * ordering makes `array_max` an argmax with ties to the larger index.
    */
  private def centDotsFor(cents: Array[Array[Double]])(v: Column): Column =
    array(cents.zipWithIndex.map { case (cv, i) =>
      struct(dot(v, array(cv.map(lit(_)): _*)).as("d"), lit(i).as("c"))
    }: _*)

  def topKIvf(queries: DataFrame, corpus: DataFrame, k: Int, dim: Int,
              nCentroids: Int = 16, nProbe: Int = 4,
              idCol: String = "vec_id", vecCol: String = "embedding",
              centroidsIn: Array[Array[Double]] = null): DataFrame = {
    val cents = if (centroidsIn == null) centroids(nCentroids, dim) else centroidsIn
    def centDots(v: Column): Column = centDotsFor(cents)(v)
    val c = corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).cast("array<double>").as("c_vec"),
        norm(col(vecCol)).as("c_norm"), centDots(col(vecCol).cast("array<double>")).as("cd"))
      .select(col("neighbor_id"), col("c_vec"), col("c_norm"),
        array_max(col("cd")).getField("c").as("centroid"))
    val q = queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("q_vec"),
        norm(col(vecCol)).as("q_norm"), centDots(col(vecCol).cast("array<double>")).as("cd"))
      .select(col("query_id"), col("q_vec"), col("q_norm"),
        explode(transform(slice(reverse(array_sort(col("cd"))), 1, nProbe),
          p => p.getField("c"))).as("centroid"))
    val scored = c.join(broadcast(q), Seq("centroid"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        safeCosine(dot(col("q_vec"), col("c_vec")),
          col("q_norm"), col("c_norm"))
          .as("cos_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    // zero-norm sides score NaN (safeCosine), and BOTH Spark and DuckDB
    // sort NaN as the LARGEST double — unfiltered, a zero vector would
    // win rank 1 of every top-k. Undefined-direction pairs are EXCLUDED
    // (the simhashSignatures null-doc rule); joinBackToCorpus restores
    // coverage rows where a caller needs them.
    scored.where(!isnan(col("cos_sim")))
      .withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** Corpus COMPOSITION over embedding clusters: assign every vector to
    * its argmax-dot centroid (the IVF assignment geometry, frozen and
    * replayable) and roll up counts per (centroid, label) with each
    * label's share of its cluster — the mixture matrix a corpus designer
    * reads before reweighting sources (the DoReMi/SemDeDup-adjacent
    * "what does my embedding space actually contain per domain" report;
    * the same rollup keyed by source instead of label audits crawl
    * composition). Pass [[trainCentroids]] in production;
    * [[sampleCentroids]] keeps the oracle replayable.
    *
    * `share` is one IEEE division of exact integers — bit-identical in
    * any engine. Scale shape: assignment is pure map work against the
    * broadcast k×dim centroid matrix (the [[topKIvf]] expression array);
    * the only exchanges aggregate (centroid, label) rows — at most
    * k×|labels| of them — and the cluster-total join-back is a broadcast
    * of ≤ k rows.
    */
  def clusterMixture(corpus: DataFrame, labelCol: String,
                     centroidsIn: Array[Array[Double]],
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    // NULL vectors have no argmax cell — excluded, like NULL text in
    // corpusStats (callers filter explicitly when they need them counted)
    val assigned = corpus.where(col(vecCol).isNotNull)
      .select(col(labelCol).as("label"),
        array_max(centDotsFor(centroidsIn)(col(vecCol).cast("array<double>")))
          .getField("c").as("centroid"))
    val counts = assigned.groupBy("centroid", "label")
      .agg(count(lit(1)).as("n_vecs"))
    // cluster totals via a window over the k×|labels| counts relation —
    // a separate totals aggregate would repeat the counts subtree and
    // depend on ReuseExchange to avoid a second assignment pass; the
    // window states the one-pass shape structurally, and its partitions
    // are per-centroid label rows, bounded by |labels|
    val perCentroid = Window.partitionBy(col("centroid"))
    counts
      .withColumn("n_total", sum(col("n_vecs")).over(perCentroid))
      .select(col("centroid"), col("label"), col("n_vecs"), col("n_total"),
        (col("n_vecs").cast("double") / col("n_total")).as("share"))
  }

  /** EMBEDDING-SPACE drift monitor — [[graft.ext.Corpus.histogramDrift]]
    * (q124's ppm drift report) applied to the vector modality: assign
    * BOTH corpus snapshots to the same FROZEN centroids (argmax dot,
    * [[clusterMixture]]'s assignment geometry) and compare per-centroid
    * occupancy shares in integer ppm, one row per centroid with both
    * counts, both shares, and the absolute ppm delta (TVD = Σ delta / 2,
    * the same bounded metric q124 uses — no float division decides any
    * drift number). This is the signal a text-length histogram cannot
    * see: a new crawl whose documents LOOK the same but whose embedding
    * mass shifts between clusters (topic/source drift) moves these
    * shares before any length statistic moves. Centroids must be FROZEN
    * (train once on the reference, reuse — the [[saveIvfIndex]]
    * discipline); re-training per comparison would chase the drift it
    * is meant to measure.
    *
    * Scale shape: assignment is map work against the broadcast k×dim
    * matrix; the only exchanges aggregate (centroid, count) rows — at
    * most k per side — and the totals ride a window over that k-row
    * relation ([[graft.ext.Corpus.driftFromHistograms]], reused
    * verbatim so text and embedding drift share one comparison
    * arithmetic). NULL vectors are excluded on both sides.
    */
  def embeddingDrift(reference: DataFrame, current: DataFrame,
                     centroidsIn: Array[Array[Double]],
                     vecCol: String = "embedding"): DataFrame =
    Corpus.driftFromHistograms(
      centroidHistogram(reference, centroidsIn, "n_a", vecCol),
      centroidHistogram(current, centroidsIn, "n_b", vecCol))
      .withColumnRenamed("bucket", "centroid")

  /** One snapshot's (bucket = centroid, count) occupancy histogram — the
    * mergeable drift state of [[embeddingDrift]], public for the same
    * reason [[graft.ext.Corpus.lengthBucketHistogram]] is: the STREAMING
    * embedding-drift monitor maintains exactly this relation as
    * complete-mode aggregation state (k rows, corpus-size invariant),
    * and both sides of a drift comparison must assign identically. */
  def centroidHistogram(df: DataFrame, centroidsIn: Array[Array[Double]],
                        countName: String,
                        vecCol: String = "embedding"): DataFrame =
    df.where(col(vecCol).isNotNull)
      .select(array_max(
          centDotsFor(centroidsIn)(col(vecCol).cast("array<double>")))
        .getField("c").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as(countName))

  // -------------------------------------------------------- index persistence

  /** Persist a servable IVF index under `path` so repeated query batches
    * skip centroid training AND corpus assignment — the build is one
    * corpus pass, amortized over every later [[topKIvfIndexed]] call.
    * Layout (all parquet):
    *
    *  - `centroids/`: (centroid INT, vec ARRAY<DOUBLE>) — the k trained
    *    centroids, tiny;
    *  - `lists/`, PARTITIONED BY centroid: (vec_id, code) — the inverted
    *    lists. `code` is the raw double vector, or int8 codes when
    *    `quantScale` > 0 ([[quantize]] — the 4× storage lever applied to
    *    the index files themselves);
    *  - `meta/`: one row (dim, n_centroids, quant_scale).
    *
    * With quantization on, centroid ASSIGNMENT runs over the
    * dequantized codes, so the index is a pure function of what it
    * stores and a replayer holding only the codes reproduces it exactly.
    * The partitionBy turns probe selectivity into directory pruning: a
    * query batch probing p of k centroids reads p/k of the index bytes
    * (dynamic partition pruning against the broadcast probe list), which
    * is the difference between an index lookup and a corpus scan at
    * 100 TB.
    *
    * All three are published under [[IvfIndex]]'s rebuild, born
    * versioned. The rebuild gives the old corpus's lists NO
    * previous-serving grace: a Previous serve right after a rebuild
    * would otherwise dequantize OLD-corpus lists with the NEW meta's
    * quantScale/centroids. Previous-serving returns after the first
    * post-rebuild maintenance op.
    */
  def saveIvfIndex(corpus: DataFrame, path: String, nCentroids: Int, dim: Int,
                   quantScale: Double = 0.0, iters: Int = 3,
                   idCol: String = "vec_id", vecCol: String = "embedding",
                   centroidsIn: Array[Array[Double]] = null): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    import graft.ops.Stage.publishRebuild
    IvfIndex.rebuild(spark, path) { lease =>
      val cents = if (centroidsIn == null)
        trainCentroids(corpus, nCentroids, dim, iters, idCol, vecCol)
      else centroidsIn
      publishRebuild(lease, s"$path/centroids",
        cents.zipWithIndex.toSeq.map { case (v, i) => (i, v.toSeq) }
          .toDF("centroid", "vec").repartition(1))
      publishRebuild(lease, s"$path/meta",
        Seq((dim, cents.length, quantScale))
          .toDF("dim", "n_centroids", "quant_scale").repartition(1))
      publishRebuild(lease, s"$path/lists")(versionDir =>
        writeIvfLists(corpus, cents, quantScale, idCol, vecCol, versionDir))
    }
  }

  /** The (scale, centroids) a persisted index was built with — ONE loader
    * for every function that must agree on them bit-exactly (serve,
    * append). Only k×dim doubles reach the driver.
    */
  private def loadIvfMeta(spark: org.apache.spark.sql.SparkSession,
                          path: String): (Double, Array[Array[Double]]) = {
    val meta = Tables.parquet(spark,
      graft.ops.Stage.resolve(spark, s"$path/meta")).head()
    // sorted on the driver: an orderBy here ran a range-partition sample
    // job and a shuffle for k rows on every serve
    val cents = Tables.parquet(spark,
        graft.ops.Stage.resolve(spark, s"$path/centroids"))
      .select("centroid", "vec").collect().sortBy(_.getInt(0))
      .map(_.getSeq[Double](1).toArray)
    (meta.getAs[Double]("quant_scale"), cents)
  }

  /** Quantize-assign-write of the inverted lists, shared by the builder
    * and [[appendToIvfIndex]]'s stager. ONE implementation on purpose:
    * build and append must agree bit-exactly on the code and the
    * assignment geometry, or a grown index silently stops matching a
    * fresh build (the invariant SimilaritySpec pins).
    */
  private def writeIvfLists(vecs: DataFrame, cents: Array[Array[Double]],
                            quantScale: Double, idCol: String,
                            vecCol: String, listsDir: String): Unit = {
    val code = if (quantScale > 0) quantize(col(vecCol), quantScale)
      else col(vecCol).cast("array<double>")
    val assignVec = if (quantScale > 0)
      dequantize(quantize(col(vecCol), quantScale), quantScale)
    else col(vecCol).cast("array<double>")
    vecs.select(col(idCol).as("vec_id"), code.as("code"),
        array_max(centDotsFor(cents)(assignVec)).getField("c").as("centroid"))
      .write.mode("overwrite").partitionBy("centroid").parquet(listsDir)
  }

  /** Append new vectors to a persisted [[saveIvfIndex]] index WITHOUT
    * retraining: the saved centroids stay fixed, arrivals are assigned to
    * their nearest centroid with the same quantize→dequantize geometry and
    * land in that centroid's inverted-list partition. Because the
    * assignment is a pure function of (vector, centroids), an index built
    * on a base set and appended with a batch is bit-identical in content
    * to one built on the union with the same centroids (SimilaritySpec
    * pins this) — the daily-ingest path that keeps serving from one index
    * while the corpus grows, paying one batch-sized pass per day instead
    * of a corpus-sized rebuild. Quality caveat, as in every IVF system:
    * centroids drift stale as the distribution shifts; retrain on the
    * index's own schedule, not per batch.
    *
    * Staged through [[IvfIndex]]'s `append` — the partition-preserving
    * publish: each staged `centroid=N/` file lands in the live
    * `centroid=N/`. `batchId = Some(id)` is the EXACTLY-ONCE stream path:
    * a replayed batch would otherwise DUPLICATE its vectors in the lists,
    * and duplicated vectors SURFACE IN SERVED RESULTS as duplicate top-k
    * candidate rows. The centroids load inside the stager, under the root
    * lease, so a replayed batch never pays the centroid collect and a
    * rebuild cannot race the load.
    */
  def appendToIvfIndex(newVecs: DataFrame, path: String,
                       idCol: String = "vec_id", vecCol: String = "embedding",
                       batchId: Option[Long] = None): Unit = {
    val spark = newVecs.sparkSession
    IvfIndex.append(spark, path, batchId) { (staging, _) =>
      val (scale, cents) = loadIvfMeta(spark, path)
      writeIvfLists(newVecs, cents, scale, idCol, vecCol, s"$staging/lists")
    }
  }

  /** Delete vectors from a [[saveIvfIndex]] index — unlike the MinHash
    * manifest (whose docs table stores exact-collapse REPRESENTATIVES, so
    * an id-keyed delete could forget content other living docs still
    * carry), the inverted lists hold one row PER VECTOR, making id-keyed
    * deletion exact: the ids land as tombstones, then [[IvfIndex]]'s
    * `compact` folds them out of the lists in one atomic publish;
    * centroids and meta stay frozen. Assignment is a pure per-vector
    * function of the frozen centroids, so the shrunk index is
    * bit-identical to a fresh build over the survivors with the same
    * centroids (the invariant SimilaritySpec and the q106 oracle pin).
    */
  def deleteFromIvfIndex(spark: org.apache.spark.sql.SparkSession,
                         path: String, ids: DataFrame,
                         idCol: String = "vec_id"): Unit =
    IvfIndex.delete(path, ids.select(col(idCol).as("vec_id")))

  /** TOMBSTONE vectors in a [[saveIvfIndex]] index — the batched
    * alternative to [[deleteFromIvfIndex]]'s per-call lists rewrite:
    * serves mask the pending ids at once, and [[IvfIndex]]'s `compact`
    * folds them. Serve-equivalent to the immediate delete at every point
    * (q118 pins it against q106's oracle).
    */
  def tombstoneFromIvfIndex(spark: org.apache.spark.sql.SparkSession,
                            path: String, ids: DataFrame,
                            idCol: String = "vec_id"): Unit =
    IvfIndex.tombstone(path, ids.select(col(idCol).as("vec_id")))

  /** [[IvfIndex]]'s compaction fold over the inverted lists, after a run
    * of per-batch appends: each micro-batch leaves its own `b<batchId>-*`
    * (or `o<opId>-*`) files inside every `centroid=N/` partition it
    * touched, so after thousands of batches a probe pays file-listing and
    * tiny-row-group overhead proportional to batch count, not data size.
    * One lists-sized rewrite restores one-file-per-centroid:
    * `repartition(centroid)` (task count from
    * [[graft.ops.Stage.compactionPartitions]]) keeps each centroid's rows
    * in one task, and the partitionBy write lands them in one file per
    * directory — still scan-parallel at 100 TB because parquet splits on
    * row groups, not files. Pending tombstones fold into the rewrite as a
    * physical delete; otherwise content (vec_id, centroid, code) is
    * preserved exactly — centroids, meta, and served top-k are untouched
    * (SimilaritySpec pins it).
    */
  private def foldLists(lease: graft.ops.Stage.Lease, comps: Seq[String],
                        tomb: Option[DataFrame]): Unit = {
    import graft.ops.Stage.{compactionPartitions, publishRewrite, resolve}
    val (spark, path) = (lease.spark, lease.root)
    val n = compactionPartitions(spark, s"$path/lists")
    publishRewrite(lease, s"$path/lists") { versionDir =>
      IvfIndex.mask(Tables.parquet(spark, resolve(spark, s"$path/lists")), tomb)
        .repartition(n, col("centroid"))
        .write.mode("overwrite").partitionBy("centroid").parquet(versionDir)
    }
  }

  /** Serve top-k from a [[saveIvfIndex]] index: identical ranking contract
    * to [[topKIvf]] over the same centroids and (de)quantized vectors, but
    * the corpus side is the prebuilt inverted lists — no training, no
    * assignment, and only the probed `nProbe`/k fraction of index
    * partitions read.
    *
    * `at` picks the lists version ([[graft.ops.Family.read]]): live, the
    * PREVIOUS version a delete or compaction superseded (kept one publish
    * cycle), or an [[IvfIndex]] pin's file list (`basePath` keeps the
    * centroid partition column inferable from the pinned paths).
    * Centroids and meta are FROZEN after the build — every maintenance op
    * rewrites only `lists/` — so every version ranks against the same
    * geometry. Pending tombstones mask every version alike
    * (right-to-be-forgotten holds for validation reads).
    */
  def topKIvfIndexed(spark: org.apache.spark.sql.SparkSession,
                     queries: DataFrame, path: String, k: Int, nProbe: Int = 4,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding",
                     at: graft.ops.Family.At = graft.ops.Family.Live)
      : DataFrame =
    serveIvfLists(spark, queries, path, IvfIndex.view(spark, path, at)("lists"),
      k, nProbe, idCol, vecCol)

  /** [[hardNegatives]]' SCALE PATH, made concrete: mine cross-label hard
    * negatives from the PERSISTED IVF index via OVER-FETCH — serve
    * `k × overFetch` candidates per query from the inverted lists, join
    * neighbor labels from the caller's labels relation (the index stores
    * codes, not labels — one index per label would be the only
    * alternative, and it would break every other consumer), drop
    * same-label candidates, re-rank, keep k. The standard remedy for
    * post-filtered ANN: the filter can only SHRINK a ranked prefix, so
    * over-fetching restores depth; queries whose entire over-fetched
    * prefix was same-label yield fewer than k rows (raise `overFetch` or
    * `nProbe` — the exact [[hardNegatives]] is the oracle-checked
    * baseline to validate a chosen setting against, which is exactly
    * what q137's oracle does at the replayed geometry). Cost: the
    * [[topKIvfIndexed]] serve at depth k·overFetch plus one join of a
    * k·overFetch·|Q|-row relation against the labels table.
    */
  def hardNegativesIndexed(spark: org.apache.spark.sql.SparkSession,
                           queries: DataFrame, path: String,
                           labels: DataFrame, k: Int, overFetch: Int = 4,
                           nProbe: Int = 4, labelCol: String = "label",
                           idCol: String = "vec_id",
                           vecCol: String = "embedding"): DataFrame = {
    require(overFetch >= 1, s"overFetch must be >= 1, got $overFetch")
    val served = topKIvfIndexed(spark, queries, path, k * overFetch,
      nProbe, idCol, vecCol)
    val qLabels = queries.select(col(idCol).as("query_id"),
      col(labelCol).as("query_label"))
    val nLabels = labels.select(col(idCol).as("neighbor_id"),
      col(labelCol).as("neighbor_label"))
    val filtered = served
      .join(broadcast(qLabels), Seq("query_id"))
      .join(nLabels, Seq("neighbor_id"))
      .where(col("neighbor_label") =!= col("query_label"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    filtered
      .select(col("query_id"), col("query_label"), col("neighbor_id"),
        col("neighbor_label"), col("cos_sim"))
      .withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** The IVF index's lifecycle descriptor: staged append, compaction
    * ([[foldLists]]), named-snapshot pin, restore, drop, vacuum and
    * health over the lists component. Centroids and
    * meta are frozen after the build, so `lists/` is the only component
    * with versions to pin, and restoring it restores the whole
    * serveable state: the restored partition directories byte-match the
    * pin, so dynamic partition pruning and the dequantization parameters
    * serve exactly as at pin time. A pin outlives the one-cycle
    * validation window of `topKIvfIndexed(…, at = Previous)` and serves
    * through `at = Pinned(name)`; restore is the undo for
    * an append/forget campaign [[ivfMaintenanceDiff]] flagged as wrong.
    * [[saveIvfIndex]] writes the lists born-versioned, so any saved
    * index is pinnable immediately. */
  val IvfIndex: graft.ops.Family =
    graft.ops.Family("ivf_index", (_, _) => Seq("lists"), foldLists,
      graft.ops.Family.Key(Set("lists")))

  /** Maintenance DIFF of the index's two serveable states: PREVIOUS
    * (the lists snapshot the last maintenance op superseded) vs LIVE,
    * one row per (query, neighbor) pair in either top-k with both
    * ranks and a status — `dropped` (deleted, or displaced by the
    * candidate-set change), `entered`, `moved`, `held`. Centroids and
    * codes are frozen, so a pair present on both sides keeps its exact
    * cos_sim — only membership and rank can move. The first-class form
    * of the validation read (the purpose of `topKIvfIndexed(…, at =
    * Previous)`);
    * cost is two probes plus a full outer join of two k-per-query
    * relations. q129 pins it against a DuckDB replay of both rankings.
    */
  def ivfMaintenanceDiff(spark: org.apache.spark.sql.SparkSession,
                         queries: DataFrame, path: String, k: Int,
                         nProbe: Int = 4, idCol: String = "vec_id",
                         vecCol: String = "embedding"): DataFrame =
    graft.ops.Family.rankDiff(
      topKIvfIndexed(spark, queries, path, k, nProbe, idCol, vecCol, _),
      Seq("query_id", "neighbor_id"), "cos_sim", "cos")

  /** The shared IVF serve body over a (masked) lists relation already
    * read at one version — [[topKIvfIndexed]] at any `at`, and the MMR
    * serves that share one lists resolve with their redundancy-vector
    * read. */
  private def serveIvfLists(spark: org.apache.spark.sql.SparkSession,
                            queries: DataFrame, path: String,
                            lists: DataFrame,
                            k: Int, nProbe: Int, idCol: String,
                            vecCol: String): DataFrame = {
    val (scale, cents) = loadIvfMeta(spark, path)
    val cvec = if (scale > 0) dequantize(col("code"), scale)
      else col("code")
    val c = lists
      .select(col("vec_id").as("neighbor_id"), cvec.as("c_vec"), col("centroid"))
      .withColumn("c_norm", norm(col("c_vec")))
    val q = queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("q_vec"),
        norm(col(vecCol)).as("q_norm"),
        centDotsFor(cents)(col(vecCol).cast("array<double>")).as("cd"))
      .select(col("query_id"), col("q_vec"), col("q_norm"),
        explode(transform(slice(reverse(array_sort(col("cd"))), 1, nProbe),
          p => p.getField("c"))).as("centroid"))
    val scored = c.join(broadcast(q), Seq("centroid"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        safeCosine(dot(col("q_vec"), col("c_vec")),
          col("q_norm"), col("c_norm"))
          .as("cos_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    // zero-norm sides score NaN (safeCosine), and BOTH Spark and DuckDB
    // sort NaN as the LARGEST double — unfiltered, a zero vector would
    // win rank 1 of every top-k. Undefined-direction pairs are EXCLUDED
    // (the simhashSignatures null-doc rule); joinBackToCorpus restores
    // coverage rows where a caller needs them.
    scored.where(!isnan(col("cos_sim")))
      .withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    * embedding space coarsely, then search for near-duplicates ONLY
    * within each cluster — the cluster assignment bounds the quadratic.
    * Per vector the verdict is: `dup_of` = the smallest earlier (lower-id)
    * same-cluster vector with cosine ≥ tau, or −1; `keep` = 1 iff no such
    * earlier duplicate exists. Keeping the minimum id makes the verdict a
    * pure function of the corpus (no RNG, no iteration order).
    *
    * Scale shape: assignment is the same argmax-dot expression array the
    * IVF path uses — pure map work against a broadcast k×dim centroid
    * matrix. The pair search is a self-join ON THE CLUSTER ID, so each
    * cluster's Θ(c²) pair work stays inside its own shuffle partitions
    * and the cross-cluster n² never materializes. The operating contract
    * at 100 TB is the paper's: k grows with the corpus (k ∝ n keeps
    * E[c²] bounded), and the AQE skew-join split handles the occasional
    * dense cell. Pass [[trainCentroids]] for production cells;
    * [[sampleCentroids]] keeps the oracle replayable.
    */
  def semDedup(corpus: DataFrame, tau: Double, dim: Int, nClusters: Int = 16,
               idCol: String = "vec_id", vecCol: String = "embedding",
               centroidsIn: Array[Array[Double]] = null): DataFrame = {
    val cents = if (centroidsIn == null) centroids(nClusters, dim) else centroidsIn
    val assigned = corpus.select(col(idCol).as("vec_id"),
        col(vecCol).cast("array<double>").as("v"),
        norm(col(vecCol)).as("nrm"),
        array_max(centDotsFor(cents)(col(vecCol).cast("array<double>")))
          .getField("c").as("centroid"))
    val a = assigned.select(col("centroid"), col("vec_id").as("id_a"),
      col("v").as("v_a"), col("nrm").as("n_a"))
    val b = assigned.select(col("centroid"), col("vec_id").as("id_b"),
      col("v").as("v_b"), col("nrm").as("n_b"))
    val dups = a.join(b, Seq("centroid"))
      .where(col("id_a") < col("id_b"))
      .where(safeCosine(dot(col("v_a"), col("v_b")),
        col("n_a"), col("n_b")) >= tau)
      .groupBy(col("id_b").as("vec_id")).agg(min(col("id_a")).as("dup_of"))
    assigned.select(col("vec_id"), col("centroid"))
      .join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("centroid"),
        coalesce(col("dup_of"), lit(-1L)).as("dup_of"),
        (coalesce(col("dup_of"), lit(-1L)) < 0).cast("int").as("keep"))
      .orderBy("vec_id")
  }

  /** Exact embedding-cosine pairs above a threshold — a corpus×corpus
    * self-join, O(n²) BY CONSTRUCTION. This is the small-corpus reference
    * oracle (tests, eval sets), NOT the dup-pairs operator: the production
    * contract is [[cosineDupPairsLsh]] (bucketed candidates, exact
    * verification). The `maxRows` guard makes the quadratic boundary
    * explicit — past it the job fails fast with the routing hint instead of
    * melting a cluster. The guard count is one ids-only pass, noise next to
    * the n² pair stage it protects.
    */
  def cosineDupPairsExact(corpus: DataFrame, threshold: Double,
                          idCol: String = "vec_id", vecCol: String = "embedding",
                          maxRows: Long = 100000L): DataFrame = {
    val n = corpus.select(col(idCol)).count()
    require(n <= maxRows,
      s"cosineDupPairsExact is O(n²) and corpus has $n rows (> $maxRows); " +
        "use cosineDupPairsLsh for the bucketed scale path")
    val a = corpus.select(col(idCol).as("id_a"),
      col(vecCol).cast("array<double>").as("v_a"),
      norm(col(vecCol)).as("n_a"))
    val b = corpus.select(col(idCol).as("id_b"),
      col(vecCol).cast("array<double>").as("v_b"),
      norm(col(vecCol)).as("n_b"))
    a.crossJoin(b).where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        safeCosine(dot(col("v_a"), col("v_b")),
          col("n_a"), col("n_b")).as("cos_sim"))
      .where(col("cos_sim") >= threshold)
  }
}
