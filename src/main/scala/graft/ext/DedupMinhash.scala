package graft.ext

import graft.ops.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** MinHash+LSH near-dup pairs, the persisted manifest lifecycle, connected components, and dedup clustering.
  * One family of [[Dedup]] — the object is assembled from the
  * per-family traits (graft.ext.Dedup*.scala) so each file stays
  * reviewable; call sites are unchanged.
  */
trait DedupMinhash extends DedupExactOps {
  // ---------------------------------------------------------------- MinHash

  /** Deterministic affine hash family over xxhash64 token hashes:
    * h_i(x) = (a_i·x + b_i) mod p. Seeds are fixed constants so signatures
    * are stable across runs and cluster sizes.
    */
  private val MinhashP = 2147483647L // 2^31 - 1: keeps a·h + b < 2^62,
  // overflow-free under ANSI mode (Spark 4 default) without try_multiply
  private def hashParams(k: Int): Seq[(Long, Long)] = {
    val rnd = new java.util.Random(42)
    Seq.fill(k)((math.abs(rnd.nextLong()) % (MinhashP - 1) + 1,
      math.abs(rnd.nextLong()) % MinhashP))
  }

  /** Distinct-token set as sorted xxhash64 longs: downstream set arithmetic
    * (Jaccard intersect/union) runs over 8-byte longs instead of strings —
    * smaller shuffle payloads and branch-free comparisons. Collision odds at
    * 64 bits are negligible for document-sized token sets.
    */
  private def tokenHashes(text: Column): Column =
    // fused expression, value-identical to
    // array_sort(array_distinct(transform(split(text, " "), xxhash64))) —
    // n = 1 word-grams ARE the tokens, and both forms dedup the HASH
    // values (see TextExpressions.hashedWordNgramsBytes); the composable
    // chain paid three interpreted collection expressions and a token
    // string allocation per row in every manifest build/probe tokenize
    graft.functions.TextExpressions.hashedWordNgrams(text, 1)

  /** MinHash signature (k mins over the distinct-token set) as an
    * expression column — no UDF, no extra shuffle; computed in the scan
    * stage. Token hashes go through xxhash64 (codegen'd), folded into
    * [0, p) before the affine family so products stay in range.
    */
  def minhashSignature(text: Column, k: Int = 32): Column =
    minhashFromHashes(tokenHashes(text), k)

  private def minhashFromHashes(hashes: Column, k: Int): Column = {
    val params = hashParams(k)
    graft.functions.SetExpressions.minhashSignature(hashes,
      params.map(_._1).toArray, params.map(_._2).toArray, MinhashP)
  }

  /** Exact-collapse of identical token sets: (seth = xxhash64 of the sorted
    * distinct token-hash array, doc, rep = min doc of the class). The
    * exchange carries only (8-byte seth, doc id) — token arrays never move.
    * Identical sets have identical Jaccard against EVERYTHING, so every
    * pair-level computation downstream only needs one representative per
    * class; real corpora are heavily exact-duplicated, and collision work
    * in a banded self-join is quadratic in class size, so collapsing first
    * is the single biggest lever on a duplicate-dense 100 TB corpus.
    * Null-token docs are excluded (they must never pair).
    */
  private[ext] def exactClasses(docs: DataFrame): DataFrame = {
    val slim = docs.where(col("toks").isNotNull)
      .select(xxhash64(col("toks")).as("seth"), col("doc"))
    // rep via groupBy + join back, NOT a window over partitionBy(seth): a
    // mega-class (1M copies of one boilerplate page) is a single window
    // partition = a single task, while the groupBy partial-aggregates
    // map-side and AQE skew-splits the join's oversized partition
    slim.join(slim.groupBy("seth").agg(min(col("doc")).as("rep")), Seq("seth"))
  }

  /** TRUE when no band BEFORE this collision row's `band` also matched —
    * the first-matching-band survivor test of pair dedup, one kernel
    * ([[graft.functions.FirstEqualIndex]]) that walks both band-key arrays
    * once. An unrolled OR of `element_at` pairs read both arrays once per
    * earlier band for every raw collision, and a lambda form would run the
    * interpreted HOF evaluator per row. With one band, index 0 is always
    * ≥ band 0.
    */
  private def firstMatchingBand(keysA: Column, keysB: Column): Column =
    graft.functions.SetExpressions.firstEqualIndex(keysA, keysB) >= col("band")

  /** One (pos, col) row per band key of a freshly signed `keys`. OUTER on
    * purpose: the inner `posexplode` makes Catalyst infer a
    * `size(keys) > 0` filter, and pushdown inlines `keys` (the tokenizer
    * and the signature with it) into that filter — the signature was
    * recomputed once per band. `keys` is never null or empty (bands ≥ 1,
    * xxhash64 is never null), so the outer form returns the same rows and
    * infers nothing.
    */
  private def bandKeyRows: Column = posexplode_outer(col("keys"))

  /** (doc, ntok, keys): per-doc token count and the `bands` LSH band keys
    * (xxhash64 of each signature slice). The signature lives in its own
    * projection: `sig` is referenced by all `bands` slices, and keeping it
    * separate stops CollapseProject from inlining (and so re-computing) the
    * k-hash signature once per band. Shared by the self-join pair finder
    * and the persisted-manifest incremental path, which must band
    * IDENTICALLY for their buckets to be join-compatible.
    */
  private def keyedSignatures(docs: DataFrame, k: Int, bands: Int,
                              keepToks: Boolean = false): DataFrame = {
    require(k % bands == 0,
      s"bands ($bands) must divide the signature length ($k) — a remainder " +
        "would silently drop the trailing hashes from every band key")
    val r = k / bands
    // keepToks threads the token set through instead of re-joining `docs`
    // later: a streaming caller may reference its source only once
    val extra = if (keepToks) Seq(col("toks")) else Seq.empty
    val sigs = docs.select(Seq(col("doc"), size(col("toks")).as("ntok"),
      minhashFromHashes(col("toks"), k).as("sig")) ++ extra: _*)
    sigs.select(Seq(col("doc"), col("ntok"),
      array((0 until bands).map(b =>
        xxhash64(slice(col("sig"), b * r + 1, r))): _*).as("keys")) ++ extra: _*)
  }

  /** Verified near-dup pairs among the given (doc, toks) relation: band
    * the signature, equi-join on (band, bandKey) for candidates, verify
    * with exact Jaccard over the distinct-token sets, keep pairs ≥
    * threshold.
    *
    * Banding: k hashes split into `bands` rows of k/bands; a pair collides
    * if ANY band matches — with k=32, bands=8 (r=4) the candidate recall at
    * j=0.9 is 1-(1-0.9⁴)⁸ ≈ 0.9998. At larger scale tighten r to keep
    * bucket sizes bounded and let AQE handle residual skew.
    *
    * Shuffle discipline (this is what survives a dense near-dup cluster —
    * a C-doc bucket emits O(C²) collisions, so per-collision cost must be
    * bytes, not documents):
    *  1. the banding self-join carries only (doc id, token count) — no
    *     token arrays cross the candidate shuffle;
    *  2. a size prefilter (j ≥ t ⇒ min|A|,|B| ≥ t·max|A|,|B|, an exact
    *     necessary condition) drops impossible pairs before dedup;
    *  3. pair dedup is the FIRST-MATCHING-BAND rule, not a distinct(): each
    *     side carries its (small) band-key array, and a collision at band b
    *     survives only if no band before b also collided — pairs are unique
    *     by construction, so the multi-million-row candidate exchange +
    *     hash aggregate disappears into a map-side filter;
    *  4. only then are the token-hash sets joined back (shuffle keyed on
    *     doc id, proportional to surviving candidates) for one exact
    *     Jaccard evaluation per unique pair.
    */
  private def verifiedPairs(docs: DataFrame, threshold: Double,
                            k: Int, bands: Int): DataFrame = {
    val keyed = keyedSignatures(docs, k, bands)
    val banded = keyed.select(col("doc"), col("ntok"), col("keys"),
      bandKeyRows)
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_key")
    // spread the streamed side over the shuffle width: collision work is
    // quadratic in bucket size while input bytes are tiny, so the planner
    // would otherwise run every bucket's cross product in the scan's one task
    val shufflePartitions =
      docs.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt
    val left = banded.select(col("band"), col("band_key"),
      col("doc").as("doc_a"), col("ntok").as("n_a"), col("keys").as("keys_a"))
      .repartition(shufflePartitions, col("band"), col("band_key"))
    val right = banded.select(col("band"), col("band_key"),
      col("doc").as("doc_b"), col("ntok").as("n_b"), col("keys").as("keys_b"))
    val candidates = left.join(right, Seq("band", "band_key"))
      .where(col("doc_a") < col("doc_b") &&
        least(col("n_a"), col("n_b")).cast("double") >=
          lit(threshold) * greatest(col("n_a"), col("n_b")) &&
        firstMatchingBand(col("keys_a"), col("keys_b")))
      .select(col("doc_a"), col("doc_b"))
    candidates
      .join(docs.select(col("doc").as("doc_a"), col("toks").as("toks_a")), Seq("doc_a"))
      .join(docs.select(col("doc").as("doc_b"), col("toks").as("toks_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        graft.functions.SetExpressions
          .sortedSetJaccard(col("toks_a"), col("toks_b")).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Class-level near-dup machinery shared by [[minhashPairs]] and
    * [[minhashClusters]]: returns (members, repPairs) where members is
    * (seth, doc, rep) over every non-null doc and repPairs is the verified
    * (doc_a, doc_b, jaccard) relation over class REPRESENTATIVES only.
    */
  private def classPairs(df: DataFrame, textCol: String, idCol: String,
                         threshold: Double, k: Int,
                         bands: Int): (DataFrame, DataFrame) = {
    // deliberately NOT materialized (measured): checkpointing (doc, toks)
    // here regressed q31/q88/q49/q111 1.5–2× at sf0.1 — the token-array
    // materialization costs more than re-deriving the tokenize projection
    // per consumer, because every consumer prunes it to a scalar
    // (set hash, signature, count) in the scan stage anyway. A probe
    // batch within the broadcast bound is the other case (localProbe):
    // it is collected once, while this is the whole corpus
    val docs =
      df.select(col(idCol).as("doc"), tokenHashes(col(textCol)).as("toks"))
    val members = exactClasses(docs)
    // token arrays stay map-side: the rep filter is a slim semi-join on the
    // doc id, and only representatives enter the banded pipeline
    val repDocs = docs.join(
      members.where(col("doc") === col("rep")).select(col("doc")),
      Seq("doc"), "left_semi")
    (members, verifiedPairs(repDocs, threshold, k, bands))
  }

  /** MinHash+LSH near-dup pairs over ALL documents: exact-collapse first,
    * banded LSH + exact verify over class representatives, then expand —
    * cross-class pairs inherit the class-pair Jaccard (identical sets ⇒
    * identical Jaccard), within-class pairs are 1.0 by construction. The
    * expansion joins carry only ids and one double.
    *
    * The PAIRS contract is inherently quadratic in duplicate-class size
    * (a 1M-copy class owes 5·10¹¹ within-class rows); the expansion only
    * makes that cost explicit and streamable. Callers who need GROUPS
    * rather than pairs use [[minhashClusters]], which stays linear in
    * members via star edges.
    */
  def minhashPairs(df: DataFrame, textCol: String, idCol: String,
                   threshold: Double = 0.9, k: Int = 32, bands: Int = 8): DataFrame = {
    val (members, repPairs) = classPairs(df, textCol, idCol, threshold, k, bands)
    val memA = members.select(col("rep").as("doc_a"), col("doc").as("m_a"))
    val memB = members.select(col("rep").as("doc_b"), col("doc").as("m_b"))
    val cross = repPairs
      .join(memA, Seq("doc_a")).join(memB, Seq("doc_b"))
      .select(least(col("m_a"), col("m_b")).as("doc_a"),
        greatest(col("m_a"), col("m_b")).as("doc_b"), col("jaccard"))
    val within = members.select(col("seth"), col("doc").as("doc_a"))
      .join(members.select(col("seth"), col("doc").as("doc_b")), Seq("seth"))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), lit(1.0).as("jaccard"))
    cross.union(within)
  }

  // ------------------------------------- persisted MinHash manifest (q84)

  /** Build and persist the LSH near-dup manifest for a corpus: the
    * signature/banding work that [[minhashPairs]] recomputes per run, paid
    * ONCE and amortized over every later ingest batch (the dedup analogue
    * of the persisted IVF index, Similarity.saveIvfIndex). Layout under
    * `path`:
    *  - `docs/`   (doc, toks, ntok, keys): one row per EXACT-CLASS
    *    representative — identical token sets have identical Jaccard
    *    against everything, so non-reps add candidates without adding
    *    information; collapsing at build time shrinks the manifest by the
    *    corpus's duplication factor.
    *  - `bands/`  (band, band_key, doc, ntok, keys): the exploded LSH
    *    buckets, ready to equi-join against a probe batch with no
    *    signature recomputation.
    *  - `meta/`   (k, bands, threshold is NOT pinned — it's a probe-time
    *    choice): banding parameters for APPEND paths (which read it
    *    under the root lease, so it cannot race a rebuild). Probes do
    *    NOT read it — they derive (k, bands) from the stamp columns on
    *    the bands rows they actually scan, so a probe racing a rebuild
    *    that changes the parameters can never band with one generation's
    *    meta against the other's buckets (which would produce silent
    *    zero-candidate verdicts).
    */
  def saveMinhashManifest(df: DataFrame, textCol: String, idCol: String,
                          path: String, k: Int = 32, bands: Int = 8): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    MinhashManifest.rebuild(spark, path) { lease =>
      // meta ∥ docs (guide §2.6): both publish under the held ROOT lease
      // — no append can read a half-built state either way (appends
      // acquire the root lease) — and the meta job's ~0.2 s of publish
      // latency disappears under the docs build. bands stays ordered
      // after docs (it reads the published docs parquet).
      import graft.ops.Stage.publishRebuild
      val keyed = manifestKeyed(df, textCol, idCol, k, bands)
      graft.ops.Par.run(
        () => publishRebuild(lease, s"$path/meta",
          Seq((k, bands)).toDF("k", "bands").repartition(1)),
        () => publishRebuild(lease, s"$path/docs",
          keyed.select(col("doc"), col("toks"), col("ntok"), col("keys"))))
      // bands/ derives from the JUST-PUBLISHED docs parquet (safe under
      // the held root lease), not from `keyed`'s lineage: the second
      // publish used to re-run the whole tokenize → exact-collapse →
      // sign pipeline — the build's dominant cost — just to explode the
      // band keys it had already computed (the set-sim postings fix,
      // applied here; bandsRows only reads (doc, ntok, keys), all of
      // which the docs component persists)
      val publishedDocs = Tables.parquet(spark,
        graft.ops.Stage.resolve(spark, s"$path/docs"))
      publishRebuild(lease, s"$path/bands", bandsRows(publishedDocs, k, bands))
    }
  }

  /** The ONE bands projection shared by build and append — the
    * exploded LSH buckets PLUS the (k, bands) stamp columns probes derive
    * their banding parameters from. Stamping the parameters onto the data
    * itself (two RLE-compressed int constants per row) is what makes a
    * probe self-consistent: it bands its batch with exactly the
    * parameters of the bucket rows it joins, whatever meta/ says at that
    * instant. */
  private def bandsRows(keyed: DataFrame, k: Int, bands: Int): DataFrame =
    // the INNER posexplode here, unlike bandKeyRows: `keys` is read from
    // the persisted docs, so its inferred filter recomputes nothing, and
    // the outer form would turn every bands file's `band` column nullable
    keyed.select(col("doc"), col("ntok"), col("keys"),
        posexplode(col("keys")))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_key")
      .withColumn("k", lit(k)).withColumn("bands", lit(bands))

  /** The shared tokenize → exact-collapse → sign pipeline of
    * [[saveMinhashManifest]] and [[appendToMinhashManifest]], whose bands
    * [[bandsRows]] derives. ONE implementation on purpose — build and
    * append must stay join-compatible, and a schema or collapse change
    * applied to only one of them would silently corrupt every probe of a
    * mixed manifest.
    */
  private def manifestKeyed(df: DataFrame, textCol: String, idCol: String,
                            k: Int, bands: Int): DataFrame = {
    val docs = df.select(col(idCol).as("doc"), tokenHashes(col(textCol)).as("toks"))
    val members = exactClasses(docs)
    val reps = docs.join(
      members.where(col("doc") === col("rep")).select(col("doc")),
      Seq("doc"), "left_semi")
    // keepToks threads the token sets through the signature projection —
    // no join-back shuffle to reattach them for the docs table
    keyedSignatures(reps, k, bands, keepToks = true)
  }

  /** Append a batch to a persisted [[saveMinhashManifest]] manifest
    * WITHOUT rebuilding: signatures/bands are computed for the batch
    * against the manifest's own (k, bands) parameters and land in
    * `docs/` and `bands/`. The intended ingest loop is
    * [[incrementalNearDups]] → filter survivors → append THEM, so the
    * manifest stays near-dup-free by construction; appending an
    * un-probed batch is allowed but duplicates matching content in the
    * manifest (harmless for probe verdicts — identical token sets band
    * identically — but wasted bytes). The batch is exact-collapsed
    * within itself, like the builder. The dedup analogue of
    * Similarity.appendToIvfIndex.
    *
    * Staged through [[MinhashManifest]]'s `append`, with (k, bands) read
    * inside the stager under the root lease. The staged docs parquet IS
    * this batch's keyed rows, so bands derive from it instead of
    * re-running the tokenize → collapse → sign lineage (the
    * saveMinhashManifest recompute fix). `batchId = Some(id)` is the
    * exactly-once stream path: a replayed plain append would not change
    * probe VERDICTS, but it would double the replayed batch's bytes in
    * both tables and its rows in every later candidate join.
    */
  def appendToMinhashManifest(newDf: DataFrame, textCol: String,
                              idCol: String, path: String,
                              batchId: Option[Long] = None): Unit = {
    val spark = newDf.sparkSession
    MinhashManifest.append(spark, path, batchId) { (staging, _) =>
      val meta = Tables.parquet(spark,
        graft.ops.Stage.resolve(spark, s"$path/meta")).head()
      val k = meta.getAs[Int]("k"); val bands = meta.getAs[Int]("bands")
      manifestKeyed(newDf, textCol, idCol, k, bands)
        .select(col("doc"), col("toks"), col("ntok"), col("keys"))
        .write.mode("overwrite").parquet(s"$staging/docs")
      bandsRows(Tables.parquet(spark, s"$staging/docs"), k, bands)
        .write.mode("overwrite").parquet(s"$staging/bands")
    }
  }

  /** Delete CONTENT from a persisted manifest — keyed by the documents'
    * distinct-token sets, NOT their ids, and deliberately so: the docs
    * table stores exact-collapse REPRESENTATIVES, so an id-keyed delete
    * would silently forget content that other collapsed-away documents
    * still carry. Content-keyed semantics match what manifest deletion
    * means operationally: this content must no longer be recognized as
    * "known" (new arrivals of it probe as fresh). Every manifest entry
    * whose token set equals a deleted document's token set is dropped
    * from both tables: the content's keys land as tombstones, then
    * [[MinhashManifest]]'s `compact` folds them ([[foldManifest]]).
    * Probing afterwards equals probing a manifest built without that
    * content (the q108 oracle pins it).
    */
  def deleteContentFromMinhashManifest(deleted: DataFrame, textCol: String,
                                       path: String): Unit = {
    tombstoneContentInMinhashManifest(deleted, textCol, path)
    MinhashManifest.compact(deleted.sparkSession, path)
  }

  /** TOMBSTONE content in a persisted manifest — the batched alternative
    * to [[deleteContentFromMinhashManifest]], whose immediate fold pays
    * manifest-sized work PER CALL (index-sized work every day under a
    * drip-feed of right-to-be-forgotten requests). Probes mask the
    * pending token-set keys in the docs relation, so tombstoned content
    * probes as fresh (candidates from its bands rows die in the
    * verification join), and [[MinhashManifest]]'s `compact` folds them.
    * Verdict-equivalent to the immediate delete at every point
    * (DedupSpec pins it).
    *
    * Contract note: a tombstone masks its content until folded —
    * deliberately including copies APPENDED while it is pending
    * ("forget this content" beats "but it arrived again"); re-admitting
    * content requires compacting first, then appending it.
    */
  def tombstoneContentInMinhashManifest(deleted: DataFrame, textCol: String,
                                        path: String): Unit =
    MinhashManifest.tombstone(path, deleted.where(col(textCol).isNotNull)
      .select(xxhash64(tokenHashes(col(textCol)))))

  /** [[MinhashManifest]]'s compaction fold, after a run of per-batch
    * appends: every ingest batch leaves its own `b<batchId>-*` (or
    * `o<opId>-*`) files in `docs/` and `bands/`, so after thousands of
    * batches a probe pays file-listing and tiny-row-group overhead
    * proportional to batch count. One manifest-sized rewrite per table
    * coalesces to [[graft.ops.Stage.compactionPartitions]] files (live
    * bytes / `maxPartitionBytes`); bands repartitions on its join key
    * (band, band_key) so each bucket's rows co-locate in one file's row
    * groups. Pending [[tombstoneContentInMinhashManifest]] tombstones are
    * FOLDED by the same pass — matching docs and their bands rows drop —
    * so the drip-feed of deletes pays index-sized work once per
    * compaction, not once per delete. Probe verdicts are unchanged at
    * every point (DedupSpec pins it): tombstones stay pending until the
    * reset after the fold, so a crash between the table rewrites and the
    * reset only re-folds an already-clean manifest next time.
    */
  private def foldManifest(lease: graft.ops.Stage.Lease, comps: Seq[String],
                           tomb: Option[DataFrame]): Unit = {
    import graft.ops.Stage.{compactionPartitions, publishRewrite, resolve}
    val (spark, path) = (lease.spark, lease.root)
    val docs = Tables.parquet(spark, resolve(spark, s"$path/docs"))
    // with nothing pending, `removed` is empty but keeps the manifest's
    // OWN doc column type — spark.range(0)'s LONG would coerce a
    // string-id manifest's anti-join key (ANSI runtime cast error on a
    // routine compaction)
    val removed = MinhashManifest.matched(docs, tomb).select("doc")
    // independent component rewrites run CONCURRENTLY (guide §2.6 — the
    // text fold's overlap note). The docs scan listed its files at plan
    // construction above, and the docs flip keeps that version for one
    // grace cycle, so the bands rewrite reads a stable pre-fold docs
    // snapshot whichever thunk publishes first.
    val nBands = compactionPartitions(spark, s"$path/bands")
    val nDocs = compactionPartitions(spark, s"$path/docs")
    graft.ops.Par.run(
      () => publishRewrite(lease, s"$path/bands",
        Tables.parquet(spark, resolve(spark, s"$path/bands"))
          .join(removed, Seq("doc"), "left_anti")
          .repartition(nBands, col("band"), col("band_key"))),
      () => publishRewrite(lease, s"$path/docs",
        MinhashManifest.mask(docs, tomb).repartition(nDocs)))
  }

  /** Incremental NEAR-dup detection of an ingest batch against a persisted
    * [[saveMinhashManifest]] manifest: per new document, the maximum exact
    * Jaccard against any manifest document among LSH candidates (null when
    * none reaches `threshold`) and the keep/flag verdict — the near-dup
    * generalization of [[incrementalNew]]'s exact-hash anti-join.
    *
    * Scale shape: the manifest is NOT recomputed — its banded buckets load
    * straight into the candidate equi-join, so per-batch cost is
    * signatures over the batch plus a join whose left side is batch-sized.
    * The batch is exact-collapsed first (only class representatives enter
    * the join; verdicts fan back out over ids). Candidate dedup is the
    * same first-matching-band rule as [[minhashPairs]] — no distinct()
    * exchange — and the verification join touches token sets only for
    * surviving candidates. New-vs-new duplication is deliberately out of
    * scope (that is the batch-level [[minhashPairs]]/[[minhashClusters]]
    * pass); this operator answers "is it already in the corpus".
    *
    * `at` picks the (docs, bands) version probed
    * ([[graft.ops.Family.read]]): live; PREVIOUS — the state a content
    * delete or compaction superseded, kept one publish cycle, the
    * validation read that diffs a forget operation's verdict changes
    * before trusting it; or a PINNED [[MinhashManifest]] snapshot, any
    * number of maintenance ops later. Meta (k, bands) is frozen at
    * build; pending tombstones mask every version (right-to-be-forgotten
    * holds for validation reads).
    */
  def incrementalNearDups(newDf: DataFrame, manifestPath: String,
                          textCol: String, idCol: String,
                          threshold: Double = 0.9,
                          at: graft.ops.Family.At = graft.ops.Family.Live)
      : DataFrame =
    probePrepared(prepareProbe(newDf, textCol, idCol), idCol, manifestPath,
      threshold, at)

  /** Maintenance DIFF of the manifest's two probeable states: PREVIOUS
    * (the snapshot the last forget/compaction superseded) vs LIVE, one
    * row per probe document with both verdicts and a status —
    * `forgotten` (was a near-dup, no longer: its match was deleted),
    * `appeared` (the reverse — an append's effect), `rematched` (still
    * a near-dup but the best-match Jaccard changed: the TOP match was
    * forgotten, a weaker one remains), `held`. The per-document report
    * an operator reads before trusting a right-to-be-forgotten batch:
    * exactly the documents whose verdicts the op changed, with the
    * evidence. Cost: two probes plus a join of two batch-sized verdict
    * relations. q130 pins every verdict, Jaccard, and label against a
    * DuckDB replay of both manifest states.
    */
  def incrementalNearDupsDiff(newDf: DataFrame, manifestPath: String,
                              textCol: String, idCol: String,
                              threshold: Double = 0.9): DataFrame = {
    // ONE prepared probe batch shared by both manifest-state probes —
    // only the manifest side differs between them. Within the broadcast
    // bound it is materialized: tokenized once and bound as local
    // relations (localProbe), so neither probe re-reads the batch; above
    // it the two probes share the plan but each re-runs the tokenize
    val p = prepareProbe(newDf, textCol, idCol)
    val before = probePrepared(p, idCol, manifestPath, threshold,
        graft.ops.Family.Previous)
      .select(col(idCol), col("near_jaccard").as("jaccard_before"),
        col("is_near_dup").as("dup_before"))
    val after = probePrepared(p, idCol, manifestPath, threshold,
        graft.ops.Family.Live)
      .select(col(idCol), col("near_jaccard").as("jaccard_after"),
        col("is_near_dup").as("dup_after"))
    // both relations emit one row per newDf document (left-join +
    // zero-fill contract), so the inner join is total
    before.join(after, Seq(idCol))
      .withColumn("status",
        when(col("dup_before") && !col("dup_after"), lit("forgotten"))
          .when(!col("dup_before") && col("dup_after"), lit("appeared"))
          .when(col("dup_before") && col("dup_after") &&
            col("jaccard_before") =!= col("jaccard_after"), lit("rematched"))
          .otherwise(lit("held")))
      .orderBy(idCol)
  }

  /** The manifest's lifecycle descriptor: staged append, compaction
    * ([[foldManifest]]), named-snapshot pin, restore, drop, vacuum and
    * health over the (docs, bands) pair. A pin outlives
    * the one-cycle previous window and serves through
    * `incrementalNearDups(…, at = Pinned(name))`; restore is the undo for a
    * forget/ingest campaign [[incrementalNearDupsDiff]] flagged as wrong.
    * Meta is frozen at build; [[saveMinhashManifest]] builds every
    * component born versioned, so a fresh manifest is pinnable at
    * once. */
  val MinhashManifest: graft.ops.Family =
    graft.ops.Family("minhash_manifest", (_, _) => Seq("docs", "bands"),
      foldManifest, graft.ops.Family.Key(Set("docs"), hashOf = Some("toks")))

  /** The probe batch's (ids, exact classes as (doc, rep), class
    * representatives' (doc, toks)), built once so the single probes and
    * the DIFF probe (two manifest states, same batch) share one
    * construction of the probe side. */
  private case class PreparedProbe(ids: DataFrame, members: DataFrame,
                                   repDocs: DataFrame)

  private def prepareProbe(newDf: DataFrame, textCol: String,
                           idCol: String): PreparedProbe = {
    val docs = newDf.select(col(idCol).as("doc"),
      tokenHashes(col(textCol)).as("toks"))
    if (Tables.shipsWhole(docs)) localProbe(docs)
    else {
      // above the bound (the classPairs note: materializing a corpus-sized
      // token relation costs more than re-deriving it per consumer)
      val members = exactClasses(docs) // null-text docs excluded: never match
      val repDocs = docs.join(
        members.where(col("doc") === col("rep")).select(col("doc")),
        Seq("doc"), "left_semi")
      PreparedProbe(docs.select(col("doc")), members, repDocs)
    }
  }

  /** [[prepareProbe]] of a batch within the broadcast bound: tokenized
    * ONCE by one collect, exact-collapsed on the driver, and bound as
    * local relations that the signatures, the token join-back and both
    * DIFF probes read. Unbound, every consumer re-scans and re-tokenizes
    * the batch (q84's plan at sf0.1 scans documents 9 times), the probe
    * side runs in the scan's tasks — one, for a one-row-group file — and
    * the exact classes cost a shuffle and three broadcasts; a
    * LocalTableScan spreads over the default parallelism. Classes group
    * by token-set equality (the Spark path's set hash, without its
    * collision odds); any member stands for its class, since identical
    * sets get identical verdicts.
    */
  private def localProbe(docs: DataFrame): PreparedProbe = {
    val spark = docs.sparkSession
    val rows = docs.collect()
    val classes = rows.filter(!_.isNullAt(1))
      .groupBy(_.getSeq[Long](1)).values.toSeq
    val doc = docs.schema("doc")
    def local(fields: Seq[org.apache.spark.sql.types.StructField],
              rs: Seq[org.apache.spark.sql.Row]): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(rs: _*),
        org.apache.spark.sql.types.StructType(fields))
    val all = local(docs.schema.fields.toSeq, rows.toSeq)
    val reps = local(Seq(doc), classes.map(c => org.apache.spark.sql.Row(c.head.get(0))))
    PreparedProbe(all.select(col("doc")),
      local(Seq(doc, doc.copy(name = "rep")), classes.flatMap(c =>
        c.toSeq.map(r => org.apache.spark.sql.Row(r.get(0), c.head.get(0))))),
      // the reps' rows come out of a join, not a local relation of their
      // own: Catalyst folds a projection straight over a local relation
      // on the driver (ConvertToLocalRelation), which would compute the
      // signatures there, on one thread
      all.join(reps, Seq("doc"), "left_semi"))
  }

  private def probePrepared(p: PreparedProbe, idCol: String,
                            manifestPath: String,
                            threshold: Double,
                            at: graft.ops.Family.At): DataFrame = {
    val verdicts = manifestMatchRows(p.repDocs, manifestPath, threshold,
        at = at)
      .groupBy("doc_n").agg(max(col("jaccard")).as("near_jaccard"))
    // rep verdicts fan out over exact-class members; docs outside `members`
    // (null text) and unmatched reps flag false with a null jaccard
    val flags = p.members.select(col("doc"), col("rep"))
      .join(verdicts.withColumnRenamed("doc_n", "rep"), Seq("rep"))
      .select(col("doc"), col("near_jaccard"))
    p.ids
      .join(flags, Seq("doc"), "left")
      .select(col("doc").as(idCol), col("near_jaccard"),
        col("near_jaccard").isNotNull.as("is_near_dup"))
  }

  /** Verified (doc_n, jaccard) match rows of a probe relation against a
    * persisted manifest — one row per (probe doc, matching manifest doc)
    * pair at `jaccard ≥ threshold`. The shared core of the batch
    * [[incrementalNearDups]] (which exact-collapses, then aggregates to a
    * per-doc verdict) and the STREAMING probe (which cannot pre-aggregate
    * in append mode and instead deduplicates emissions under a watermark).
    * `probe` is (doc, toks) with toks from [[tokenHashes]].
    *
    * `carryTokens` picks who pays for verification's token sets:
    *  - `false` (batch): the candidate exchange carries ids and band keys
    *    only, and token sets join back in afterwards, proportional to
    *    surviving candidates — the cheap shape, but the join-back
    *    references `probe` a second time, which a streaming source cannot
    *    do (it would become a stream-stream self-join).
    *  - `true` (streaming): the probe's token set rides through the
    *    banding explode and candidate join — `bands`× duplication of one
    *    document's token hashes, the price of keeping every stream-side
    *    step a stateless projection or stream-static equi-join.
    *
    * `at` picks the (docs, bands) version ([[graft.ops.Family.read]]).
    */
  private[graft] def manifestMatchRows(probe: DataFrame, manifestPath: String,
                                       threshold: Double,
                                       carryTokens: Boolean = false,
                                       at: graft.ops.Family.At =
                                         graft.ops.Family.Live)
      : DataFrame = {
    val spark = probe.sparkSession
    val v = MinhashManifest.view(spark, manifestPath, at)
    val manBands = v("bands")
    // banding parameters come from the stamp on the bands rows the probe
    // ACTUALLY READS — never from meta/, whose read could race a rebuild
    // that changes (k, bands): banding the batch with one generation's
    // parameters against the other generation's buckets shares no keys
    // and returns a silent all-fresh verdict. The stamp also makes
    // SNAPSHOT probes self-consistent (pins cover data, not meta). An
    // EMPTY manifest has no stamp row and falls back to meta — any
    // parameters probe an empty bucket relation identically.
    val (k, bands) = manBands.select(col("k"), col("bands"))
      .limit(1).collect().headOption
      .map(r => (r.getInt(0), r.getInt(1)))
      .getOrElse {
        val meta = Tables.parquet(spark,
          graft.ops.Stage.resolve(spark, s"$manifestPath/meta")).head()
        (meta.getAs[Int]("k"), meta.getAs[Int]("bands"))
      }
    // pending tombstones mask the docs (bands read as stored): a
    // tombstoned doc's bands rows may still generate candidates, but
    // those die in the verification join against the masked docs
    val manDocs = v("docs")
    val keyed = keyedSignatures(probe, k, bands, keepToks = carryTokens)
    val carryIn = if (carryTokens) Seq(col("toks").as("toks_n")) else Seq.empty
    val carryOn = if (carryTokens) Seq(col("toks_n")) else Seq.empty
    val newBands = keyed
      .select(Seq(col("doc"), col("ntok"), col("keys"),
        bandKeyRows) ++ carryIn: _*)
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_key")
      .select(Seq(col("band"), col("band_key"), col("doc").as("doc_n"),
        col("ntok").as("n_n"), col("keys").as("keys_n")) ++ carryOn: _*)
    val right = manBands.select(col("band"), col("band_key"),
      col("doc").as("doc_m"), col("ntok").as("n_m"), col("keys").as("keys_m"))
    val candidates = newBands.join(right, Seq("band", "band_key"))
      .where(least(col("n_n"), col("n_m")).cast("double") >=
        lit(threshold) * greatest(col("n_n"), col("n_m")) &&
        firstMatchingBand(col("keys_n"), col("keys_m")))
      .select(Seq(col("doc_n"), col("doc_m")) ++ carryOn: _*)
    val paired =
      if (carryTokens) candidates
      else candidates.join(
        probe.select(col("doc").as("doc_n"), col("toks").as("toks_n")),
        Seq("doc_n"))
    paired
      .join(manDocs.select(col("doc").as("doc_m"), col("toks").as("toks_m")),
        Seq("doc_m"))
      .select(col("doc_n"), graft.functions.SetExpressions
        .sortedSetJaccard(col("toks_n"), col("toks_m")).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** (doc, toks) probe relation for [[manifestMatchRows]] — public face of
    * the token-set projection so streaming callers band identically.
    */
  private[graft] def tokenSetRelation(df: DataFrame, textCol: String,
                                      idCol: String): DataFrame =
    df.select(col(idCol).as("doc"), tokenHashes(col(textCol)).as("toks"))

  // ------------------------------------------------------------- clustering

  /** Connected components by the alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond"): each round rewires edges toward the smallest node seen in a
    * neighborhood, converging to one star per component rooted at the
    * component's minimum id in O(log²) rounds — versus O(diameter) for
    * plain min-label propagation, the difference between a handful and
    * hundreds of rounds on the chain-shaped clusters near-dup graphs grow
    * at 100 TB. The driver loop iterates over ROUNDS only; every round is
    * two distributed groupBy+join passes over the (shrinking) edge set.
    *
    *  - large-star: for each node u, connect every LARGER neighbor to
    *    m = min(Γ(u) ∪ {u}) — high-degree nodes fan their neighborhoods
    *    out to their local minimum (skew-safe: the groupBy key is the
    *    node, the per-key state one long).
    *  - small-star: each node and its smaller neighbors all re-point at
    *    the smallest of them.
    *
    * Edges stay oriented (larger → smaller) throughout; convergence is one
    * (count, decimal-sum-of-edge-hashes) aggregate per round compared to
    * the previous round's — no driver-side edge diff. Every round ends in
    * an EAGER checkpoint: each iteration stacks two join+agg+distinct
    * layers on the plan, so without per-round lineage truncation Catalyst
    * re-analyzes a tree that grows ~4× per round and the DRIVER (not the
    * cluster) becomes the bottleneck — checkpointing is what keeps round
    * cost flat in the round number. WHICH checkpoint follows the session:
    * when `sparkContext.setCheckpointDir` points at durable storage the
    * loop uses reliable `checkpoint()` (an executor lost mid-run recovers
    * from the checkpoint files — the cluster-production mode); otherwise it
    * falls back to `localCheckpoint()` (blocks on executor local storage,
    * faster, lost blocks are NOT recomputable — the local-mode default).
    * Same plan shape either way.
    *
    * Returns (id, comp) for EVERY node in `nodes`; comp is the cluster's
    * minimum id, so `id === comp` selects one canonical representative per
    * cluster (singletons keep themselves) — the "keep one doc per
    * duplicate cluster" step of a dedup pipeline.
    */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
                          maxIter: Int = 25): DataFrame = {
    // orient (larger → smaller), drop self-loops, dedup once up front;
    // eager checkpoint so the (possibly expensive) edge-generation plan is
    // computed exactly once and the loop starts from a flat lineage
    val debug = sys.env.contains("GRAFT_CC_DEBUG")
    var t0 = System.nanoTime()
    def lap(tag: String): Unit = if (debug) {
      System.err.println(f"[cc] $tag ${(System.nanoTime() - t0) / 1e9}%.2fs")
      t0 = System.nanoTime()
    }
    // set certificate: (edge count, Σ xxhash64(u,v) as decimal — overflow-
    // free at any edge count). Equal certificates ⇒ the round was a no-op
    // ⇒ stars formed (the star state is the contraction's unique fixpoint).
    // The certificate rides the checkpoint's own materialization job as
    // observe() metrics — no separate per-round aggregate job; the
    // standalone aggregate stays as a fallback if metrics don't surface.
    def certExprs = Seq(count(lit(1)).as("cc_n"),
      sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")).as("cc_s"))
    // `localCheckpoint()` is eager, so by the time it returns the observe()
    // metrics of its materialization job are either set or they will never
    // be; `getRowOrEmpty` does one BOUNDED (~100 ms) wait on this thread —
    // no helper thread to park, nothing leaked when metrics don't surface.
    // If they don't, fall back to a standalone aggregate for this round and
    // skip the Observation path for the rest of the process (detect-once).
    // reliable checkpoint when the session has a durable checkpoint dir,
    // localCheckpoint otherwise (both eager — see the scaladoc)
    def ckpt(df: DataFrame): DataFrame =
      if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
      else df.localCheckpoint()
    def checkpointWithCert(df: DataFrame): (DataFrame, String) = {
      def aggCert(out: DataFrame): String =
        out.agg(certExprs.head, certExprs.tail: _*).head().mkString("|")
      if (observeMetricsBroken) {
        val out = ckpt(df)
        (out, aggCert(out))
      } else {
        val obs = org.apache.spark.sql.Observation()
        val out = ckpt(df.observe(obs, certExprs.head, certExprs.tail: _*))
        // bounded wait on THIS thread (Observation.future is the only
        // public non-blocking-forever accessor); on timeout nothing is
        // parked or abandoned — we just stop asking
        scala.util.Try(scala.concurrent.Await.result(
          obs.future, scala.concurrent.duration.Duration(2, "s"))) match {
          case scala.util.Success(row) => (out, row.mkString("|"))
          case scala.util.Failure(_) =>
            observeMetricsBroken = true
            (out, aggCert(out))
        }
      }
    }
    var (e, prev) = checkpointWithCert(edges
      .select(greatest(col("src"), col("dst")).as("u"),
        least(col("src"), col("dst")).as("v"))
      .where(col("u") =!= col("v")).distinct())
    lap("edges+checkpoint+cert0")
    var converged = false
    var it = 0
    // Both star steps need min-over-neighborhood alongside every edge row.
    // That min comes from a groupBy + join back, NOT a window over
    // partitionBy(u): near-dup graphs GUARANTEE hub nodes (a component
    // root accumulates its whole cluster as neighbors), and a hub's window
    // partition is one task doing the whole cluster, while the groupBy
    // partial-aggregates map-side (one row per key per map task) and the
    // join's oversized hub partition is AQE-skew-splittable. One more
    // exchange per star, but the exchange that skew can't kill.
    while (!converged && it < maxIter) {
      // large-star: m = min(Γ(u) ∪ {u}); emit (v, m) for v ∈ Γ(u), v > u.
      // No dedup here — duplicate (v, m) rows pass through to the single
      // distinct below; one fewer exchange beats early dedup at any scale
      // where duplicates are a minority (they are: one per shared-min pair).
      val bidir = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val lsMins = bidir.groupBy("u").agg(min(col("v")).as("mn"))
      val ls = bidir.join(lsMins, Seq("u"))
        .where(col("v") > col("u"))
        .select(col("v").as("u"), least(col("u"), col("mn")).as("v"))
      // small-star: m = min of u's (all smaller) neighbors; u and every
      // neighbor except m re-point at m
      val ssMins = ls.groupBy("u").agg(min(col("v")).as("mn"))
      val withMin = ls.join(ssMins, Seq("u"))
      val ssRaw = withMin.where(col("v") =!= col("mn"))
        .select(col("v").as("u"), col("mn").as("v"))
        .union(withMin.select(col("u"), col("mn").as("v")))
        .distinct()
      // EAGER checkpoint: materializes this round AND truncates lineage;
      // the convergence certificate rides the same job via observe()
      val (ss, cert) = checkpointWithCert(ssRaw)
      converged = cert == prev
      prev = cert
      e.unpersist()
      e = ss
      it += 1
      lap(s"round $it (converged=$converged)")
    }
    // stars point member → root; roots and isolated nodes label themselves
    val members0 = e.select(col("u").as("id"), col("v").as("comp"))
    // If maxIter ended the loop before the certificate stabilized, the edge
    // relation is a PARTIAL contraction, not yet a star forest: a node can
    // still carry several outgoing edges, and a bare left join would emit
    // duplicate (id, comp) rows. Collapse to min-label per node — exactly
    // one row per node, every label a smaller node of the SAME component
    // (contraction never crosses components) — and say so: labels may not
    // be fully collapsed to the component minimum, so `id === comp` keeper
    // selection can over-select until maxIter is raised.
    val members =
      if (converged) members0
      else {
        System.err.println(s"[cc] WARNING: no convergence after $maxIter " +
          "rounds; emitting min-label partial contraction (one row per " +
          "node, labels component-consistent but possibly non-minimal)")
        members0.groupBy("id").agg(min(col("comp")).as("comp"))
      }
    nodes.select(col("id"))
      .join(members, Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
  }

  /** Set once when observe() metrics fail to surface after an eager
    * checkpoint's materialization job — later [[connectedComponents]]
    * rounds then go straight to the standalone certificate aggregate
    * instead of re-probing (and re-waiting) every round.
    */
  @volatile private var observeMetricsBroken: Boolean = false


  /** Corpus-wide near-dup clustering at scale: [[minhashPairs]] candidates
    * (banded equi-join, never a bucket cross product) verified by exact
    * token-set Jaccard ≥ threshold feed [[connectedComponents]]. The edge
    * relation is exactly "all pairs with Jaccard ≥ threshold" as long as
    * the banding recall at the threshold is 1 − ε with ε ≈ 0: the default
    * k=32, r=2, b=16 puts pair-miss odds at (1−j²)¹⁶ ≈ 3·10⁻¹² for
    * j = 0.9 (measured: 0 of 964 854 true pairs missed at sf0.1), so the
    * output is oracle-checkable against an exact-pair reachability
    * closure. This is the 100 TB shape: candidate work scales with true
    * collisions, not with bucket sizes.
    */
  def minhashClusters(df: DataFrame, textCol: String, idCol: String,
                      threshold: Double = 0.9, bands: Int = 16): DataFrame = {
    // CC runs on the CLASS graph, not the doc graph: rep-level near-dup
    // edges plus one member→rep star edge per duplicate doc. Reachability
    // is identical (members connect through their rep; a doc-level edge
    // has the same Jaccard as its class-level edge) but the edge relation
    // shrinks from Σ|A|·|B| expanded pairs to one row per class pair.
    val (members, repPairs) = classPairs(df, textCol, idCol, threshold,
      k = 32, bands = bands)
    val edges = repPairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(members.where(col("doc") =!= col("rep"))
        .select(col("doc").as("src"), col("rep").as("dst")))
    val nodes = df.select(col(idCol).as("id"))
    connectedComponents(nodes, edges)
      .select(col("id").as(idCol), col("comp").as("cluster_rep"),
        (col("id") === col("comp")).cast("int").as("is_keeper"))
  }

  /** [[minhashClusters]] with QUALITY-RANKED keeper selection: instead of
    * keeping each near-dup cluster's smallest id (an arbitrary choice),
    * keep its best document under `score` (ties broken toward the
    * smallest id, so the output is a pure function of the data). This is
    * the keep-best policy production dedup runs use — when a page exists
    * as both a boilerplate-riddled scrape and a clean mirror, the cluster
    * should surface the clean one.
    *
    * Output: one row per input document — (idCol, cluster_rep, keeper_id,
    * is_keeper). `cluster_rep` stays the component minimum (a stable
    * cluster KEY, independent of the scoring function); `keeper_id` is the
    * quality argmax (the document to RETAIN).
    *
    * Scale shape: inherits [[minhashClusters]]'s candidate discipline; the
    * argmax adds one groupBy over (cluster, score, id) triples — map-side
    * partial max — and one join back by cluster key. The keeper relation
    * has one row per cluster, so the join is AQE-broadcastable exactly
    * when dedup found real collapse; in the no-dup worst case it is a
    * same-cardinality equi-join on the cluster key, never a cross
    * product.
    */
  def minhashClustersKeepBest(df: DataFrame, textCol: String, idCol: String,
                              score: Column, threshold: Double = 0.9,
                              bands: Int = 16): DataFrame = {
    val clusters = minhashClusters(df, textCol, idCol, threshold, bands)
      .select(col(idCol), col("cluster_rep"))
    // materialized: consumed TWICE below (the keeper argmax and the final
    // join) — without it each consumer re-runs the cluster relation's
    // post-CC lineage (node scan + member join + the df join for the
    // score column). The relation is three scalars per doc — exactly the
    // "slim" side of the materialization rule (Tables.materialize).
    val scored = graft.ops.Tables.materialize(clusters.join(
      df.select(col(idCol), score.as("kb_score")), Seq(idCol)))
    // argmin of (-score, id): highest score, ties to the SMALLEST id —
    // the id tie-break rides the struct field's own ordering, so STRING
    // ids work too (negating the id — the old encoding — casts strings
    // to null under ANSI and silently elects no keeper; the same hazard
    // probeWinnowOverlap documents and avoids). NULL scores negate to NULL,
    // and a null struct field sorts SMALLEST under ascending struct
    // comparison — the bare argmin would elect a null-scored document
    // over every real-scored one. Coalescing the negated score to +Inf
    // makes null-scored rows sort LAST: they can never beat a scored
    // document, yet an all-null cluster still elects its smallest id
    // (an isNotNull pre-filter would instead drop such clusters from the
    // keeper join entirely).
    val keepers = scored.groupBy(col("cluster_rep"))
      .agg(min(struct(
        coalesce(-col("kb_score"), lit(Double.PositiveInfinity))
          .as("kb_neg_score"),
        col(idCol).as("kb_id"))).as("kb"))
      .select(col("cluster_rep"), col("kb").getField("kb_id").as("keeper_id"))
    scored.join(keepers, Seq("cluster_rep"))
      .select(col(idCol), col("cluster_rep"), col("keeper_id"),
        (col(idCol) === col("keeper_id")).cast("int").as("is_keeper"))
  }

}
