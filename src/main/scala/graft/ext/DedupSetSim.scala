package graft.ext

import graft.ops.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Prefix-filtered exact set-similarity joins, the persisted set-sim index, edit-distance joins, and fuzzy canonicalization.
  * One family of [[Dedup]] — the object is assembled from the
  * per-family traits (graft.ext.Dedup*.scala) so each file stays
  * reviewable; call sites are unchanged.
  */
trait DedupSetSim extends DedupWinnow {
  /** Prefix-filtered exact set-similarity self-join (the AllPairs / PPJoin
    * family — Bayardo/Ma/Srikant "Scaling Up All Pairs Similarity Search"
    * WWW'07; Xiao et al. "Efficient Similarity Joins for Near Duplicate
    * Detection" WWW'08): every unordered document pair whose DISTINCT
    * word-`shingle`-gram sets have Jaccard ≥ `threshold`, with an EXACT
    * contract (the oracle is the all-pairs self-join) but never an
    * all-pairs plan. This fills the deliberate gap between
    * [[ngramJaccardPairs]] (exact, but needs a caller-supplied blocking
    * bucket) and [[minhashPairs]] (corpus-wide, but probabilistic recall):
    * corpus-wide AND deterministic-recall-1.
    *
    * Candidate generation is the LOSSLESS prefix filter: order the gram
    * vocabulary globally by (document frequency asc, gram asc) — rarest
    * first — and explode only each set's first
    * `p = L − floor(t·L) + 1` grams. Pigeonhole: if two sets share no
    * prefix element, each retains at most `ceil(t·L) − 1 < t·L` elements
    * outside the other's reach, so their Jaccard is < t. Rarest-first makes
    * the candidate join self-limiting at scale: a stop-word-frequency gram
    * enters a prefix only when a document has almost nothing rarer, so
    * candidate-bucket sizes track true-duplicate density, not vocabulary
    * skew. The df table itself is one linear aggregate, joined back by
    * gram — no global rank/row_number bottleneck.
    *
    * Float safety: the prefix length uses `floor(t·L − 1e-9)` and the
    * symmetric size filter `min(L) ≥ t·max(L) − 1e-9`, each relaxed by an
    * epsilon so IEEE rounding can only ADD candidates (the exact
    * [[graft.functions.SetExpressions.sortedSetJaccard]] verification
    * removes them); tightening would silently drop true pairs.
    *
    * Output: (doc_a, doc_b, jaccard), doc_a < doc_b, one row per true
    * pair. Documents with no `shingle`-gram (text NULL or shorter than
    * `shingle` tokens) emit nothing — an empty set has no defined Jaccard.
    */
  def setSimJoinPairs(df: DataFrame, textCol: String, idCol: String,
                      threshold: Double = 0.7,
                      shingle: Int = 3): DataFrame = {
    require(shingle >= 1, s"shingle >= 1, got $shingle")
    // fused sorted-distinct-hashed-gram expression — value-identical to
    // array_sort(transform(wordNgrams(...), xxhash64)) with zero gram
    // STRING allocation (see TextExpressions.hashedWordNgramsBytes)
    setSimJoinOnSets(df.select(col(idCol).as("doc"),
      graft.functions.TextExpressions
        .hashedWordNgrams(col(textCol), shingle).as("grams")), threshold)
  }

  /** The [[setSimJoinPairs]] core over PRE-BUILT element sets: `sets`
    * must carry (`doc`, `grams`) with `grams` a SORTED DISTINCT long
    * array (any hashed element domain — word shingles, frame hashes,
    * feature ids). Same lossless prefix + positional + size filters,
    * same exact merge-walk verification, same (doc_a, doc_b, jaccard)
    * output. Empty sets emit nothing.
    */
  def setSimJoinOnSets(setsIn: DataFrame,
                       threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold in (0, 1], got $threshold")
    def ckpt(df: DataFrame): DataFrame = graft.ops.Tables.materialize(df)
    // The set relation feeds FOUR consumers (df table, ranking, and both
    // verify sides) and the prefix relation TWO (both candidate sides);
    // without materialization each consumer re-runs the set construction
    // — higher-order-function gram hashing is CodegenFallback, so that
    // pass dominates (measured at sf0.1: 9.1 s → ~4 s with the two
    // checkpoints). One doc-count-sized materialization each, the
    // pageRankInt reuse rule.
    val allSets = ckpt(setsIn
      .where(size(col("grams")) >= 1)
      .withColumn("l", size(col("grams"))))
    // EXACT-COLLAPSE before the expensive machinery (the minhash
    // classPairs rule): identical gram SETS — exact duplicates and
    // re-crawls are the dominant class at corpus scale — collapse to one
    // representative (min doc id), so the df table, the prefix join, and
    // the verification all run on DISTINCT sets; member pairs expand
    // afterward from the verified class pairs (cross-class) and as
    // jaccard-1.0 rows (within-class, always ≥ any legal threshold).
    // Grouping is by the full gram array (exact, no collapse-key
    // collision risk); members join back on the array, a shuffle the
    // class relation already paid.
    val sets = ckpt(allSets.groupBy(col("grams"), col("l"))
      .agg(min(col("doc")).as("doc"))
      .select(col("doc"), col("grams"), col("l")))
    val members = ckpt(allSets.select(col("doc").as("member"), col("grams"))
      .join(sets.select(col("doc").as("rep"), col("grams")), Seq("grams"))
      .select(col("rep"), col("member")))
    // Gram document frequency: the global rarest-first ordering key. One
    // linear explode + count; at corpus scale this relation is
    // vocabulary-sized and hash-joins back by gram.
    val gdf = sets.select(explode(col("grams")).as("g"))
      .groupBy("g").agg(count(lit(1)).as("gdf"))
    // Rank each doc's grams by (df asc, gram asc) WITHOUT a global
    // row_number: the (df, gram) pair is itself a total order, so sorting
    // the per-doc struct array and slicing the first p entries is the
    // prefix. p = l − floor(t·l − ε) + 1 (ε relaxes, see scaladoc).
    val ranked = sets.select(col("doc"), col("l"), explode(col("grams")).as("g"))
      .join(gdf, Seq("g"))
      .groupBy("doc", "l")
      .agg(array_sort(collect_list(struct(col("gdf"), col("g")))).as("ord"))
      .withColumn("p",
        col("l") - floor(lit(threshold) * col("l") - lit(1e-9)).cast("int")
          + lit(1))
    val prefix = ckpt(ranked.select(col("doc"), col("l"),
      posexplode(slice(col("ord"), lit(1), col("p").cast("int"))))
      .select(col("doc"), col("l"), (col("pos") + 1).as("rk"),
        col("col.g").as("g")))
    // Candidate pairs: equi-join on a shared prefix gram + two more
    // lossless prunes, deduplicated before verification so each pair pays
    // one merge-walk:
    //  - size filter: Jaccard ≥ t forces t·max(L) ≤ min(L);
    //  - PPJoin positional filter: Jaccard ≥ t ⟺ overlap o ≥ α =
    //    t/(1+t)·(La+Lb); a match at ordered positions (i, j) bounds the
    //    overlap THROUGH that match by 1 + min(La−i, Lb−j). Lossless
    //    because a true pair survives via its FIRST shared gram in the
    //    global order: that gram lies inside both prefixes (if all shared
    //    grams sat beyond A's prefix then o < t·La, but o ≥ α ≥ t·La
    //    given Lb ≥ t·La from the size filter — contradiction), and at
    //    the first match nothing shared precedes (i, j), so the bound
    //    there is ≥ o ≥ α and the row passes.
    val alpha =
      lit(threshold / (1.0 + threshold)) * (col("a.l") + col("b.l")) -
        lit(1e-9)
    val cand = prefix.as("a")
      .join(prefix.as("b"),
        col("a.g") === col("b.g") && col("a.doc") < col("b.doc") &&
          least(col("a.l"), col("b.l")) >=
            lit(threshold) * greatest(col("a.l"), col("b.l")) - lit(1e-9) &&
          lit(1) + least(col("a.l") - col("a.rk"),
            col("b.l") - col("b.rk")) >= alpha)
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .distinct()
    val setsA = sets.select(col("doc").as("doc_a"), col("grams").as("g_a"))
    val setsB = sets.select(col("doc").as("doc_b"), col("grams").as("g_b"))
    val classPairs = cand
      .join(setsA, Seq("doc_a")).join(setsB, Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        graft.functions.SetExpressions
          .sortedSetJaccard(col("g_a"), col("g_b")).as("jaccard"))
      .where(col("jaccard") >= threshold)
    // Expand class pairs to member pairs: cross-class pairs inherit the
    // verified class Jaccard (identical sets ⇒ identical similarity);
    // within-class pairs are exactly 1.0, always ≥ any legal threshold.
    // Orientation re-derives per member pair — reps are ordered, members
    // interleave arbitrarily.
    val cross = classPairs
      .join(members.select(col("rep").as("doc_a"), col("member").as("m_a")),
        Seq("doc_a"))
      .join(members.select(col("rep").as("doc_b"), col("member").as("m_b")),
        Seq("doc_b"))
      .select(least(col("m_a"), col("m_b")).as("doc_a"),
        greatest(col("m_a"), col("m_b")).as("doc_b"), col("jaccard"))
    val within = members.as("x")
      .join(members.as("y"),
        col("x.rep") === col("y.rep") && col("x.member") < col("y.member"))
      .select(col("x.member").as("doc_a"), col("y.member").as("doc_b"),
        lit(1.0).as("jaccard"))
    cross.union(within)
  }

  /** Exact edit-distance self-join over a string VALUE DOMAIN (q-gram
    * count filtering — Gravano et al., "Approximate String Joins in a
    * Database (Almost) for Free", VLDB'01): every unordered pair of
    * DISTINCT non-null `strCol` values within Levenshtein distance
    * `maxDist`, without an all-pairs scan. The record-linkage primitive:
    * production runs it on the deduplicated value domain (|V| distinct
    * names/titles ≪ row count at 100 TB) and equi-joins survivors back to
    * rows.
    *
    * Candidates come from two LOSSLESS branches:
    *  - **q-gram count filter** (the scale path): one edit destroys at
    *    most `q` positional q-grams, so `lev(a,b) ≤ d` forces the
    *    MULTISET q-gram overlap `≥ max(|a|,|b|) − q + 1 − q·d`. Multiset
    *    semantics become an equi-join by keying each gram with its
    *    occurrence index (row_number within (value, gram) by position):
    *    join rows per pair = Σ_g min(cnt_a, cnt_b). Pairs whose bound is
    *    ≥ 1 — i.e. max length ≥ q·(d+1) — are guaranteed caught here.
    *  - **short-value band**: values shorter than `q·(maxDist+1)` can be
    *    inside distance d while sharing zero q-grams; they pair among
    *    themselves through the SAME count filter at gram size 1 (one
    *    edit destroys at most one unigram, so `lev ≤ d` forces a shared-
    *    char multiset overlap ≥ max(|a|,|b|) − d, which is ≥ 1 whenever
    *    the longer side exceeds `d` chars). Only values of length ≤
    *    `maxDist` — a constant alphabet-bounded domain — pair
    *    unconditionally under the length filter. A (short, long) pair is
    *    covered by the q-gram branch: its bound uses max length.
    *
    * Both branches also apply the length filter `||a|−|b|| ≤ d` (an
    * insertion/deletion changes length by one). Verification uses Spark's
    * codegen'd thresholded `levenshtein(a, b, d)` — early-exit at `d`, so
    * verify cost is O(d·len) per candidate, not O(len²).
    *
    * Output: (name_a, name_b, dist), name_a < name_b, dist in [1, maxDist].
    */
  def editDistanceJoin(df: DataFrame, strCol: String,
                       maxDist: Int = 2, q: Int = 2): DataFrame = {
    require(maxDist >= 1, s"maxDist >= 1, got $maxDist")
    require(q >= 1, s"q >= 1, got $q")
    val names = df.select(col(strCol).as("name"))
      .where(col("name").isNotNull).distinct()
      .withColumn("len", length(col("name")))
    // Positional grams with occurrence indices: multiset intersection as
    // an equi-join on (gram, occ). Guard: a name shorter than gq chars
    // has NO grams — sequence(1, 0) would generate a DESCENDING range
    // (the rawWordNgrams rule), manufacturing bogus grams (harmless to
    // the result — verification is exact — but wasted candidate work).
    def gramCand(subset: DataFrame, gq: Int): DataFrame = {
      val grams = subset
        .select(col("name"), col("len"),
          posexplode(when(col("len") >= gq,
            transform(sequence(lit(1), col("len") - (gq - 1)),
              i => col("name").substr(i, lit(gq))))
            .otherwise(array().cast("array<string>"))))
        .withColumn("occ", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("name"), col("col")).orderBy(col("pos"))))
        .select(col("name"), col("len"), col("col").as("g"), col("occ"))
      grams.as("a")
        .join(grams.as("b"),
          col("a.g") === col("b.g") && col("a.occ") === col("b.occ") &&
            col("a.name") < col("b.name") &&
            abs(col("a.len") - col("b.len")) <= maxDist)
        .groupBy(col("a.name").as("name_a"), col("b.name").as("name_b"),
          col("a.len").as("len_a"), col("b.len").as("len_b"))
        .agg(count(lit(1)).as("shared"))
        .where(col("shared") >=
          greatest(col("len_a"), col("len_b")) - (gq - 1) - gq * maxDist)
        .select(col("name_a"), col("name_b"))
    }
    val shortBound = q * (maxDist + 1)
    val shorts = names.where(col("len") < shortBound)
    // values of length ≤ maxDist can share zero characters with a true
    // match — pair that constant alphabet-bounded sliver unconditionally.
    // The predicate is pure inequality, so this plans as a nested-loop
    // join; the broadcast hint pins the build side to the PROVABLY
    // constant-bounded tiny relation (≤ |Σ|^maxDist values) — without it
    // the planner's stats could pick the data-sized side.
    val tiny = broadcast(names.where(col("len") <= maxDist))
    val tinyCand = tiny.as("a")
      .join(names.as("b"),
        col("a.name") < col("b.name") &&
          abs(col("a.len") - col("b.len")) <= maxDist)
      .select(col("a.name").as("name_a"), col("b.name").as("name_b"))
      .union(tiny.as("b").join(names.as("a"),
        col("a.name") < col("b.name") &&
          abs(col("a.len") - col("b.len")) <= maxDist)
        .select(col("a.name").as("name_a"), col("b.name").as("name_b")))
    gramCand(names, q).union(gramCand(shorts, 1)).union(tinyCand)
      .distinct()
      .withColumn("dist",
        levenshtein(col("name_a"), col("name_b"), maxDist))
      .where(col("dist") =!= -1)
  }

  /** Persist a DETERMINISTIC-EXACT set-similarity index: the incremental
    * "does this batch near-dup against the corpus?" gate with
    * [[setSimJoinPairs]]' exact contract, where [[saveMinhashManifest]]
    * answers the same question probabilistically. Built inside
    * [[SetSimIndex]]'s rebuild; two components, both born versioned:
    *
    *  - `sets`: (doc, grams, l) — each document's sorted distinct hashed
    *    `shingle`-gram set (the verification side);
    *  - `postings`: (g, doc, l) — the FULL inverted gram postings (the
    *    candidate side).
    *
    * Storing FULL postings (not index-time prefixes) is what makes the
    * index APPEND-STABLE: the probe's candidate filter is the ONE-SIDED
    * prefix theorem — if Jaccard(A, B) ≥ t then A's first
    * `p = L_A − floor(t·L_A) + 1` elements under ANY fixed order must
    * intersect B itself (all-shared-in-the-suffix would force
    * o ≤ ceil(t·L_A) − 1 < t·L_A ≤ o) — which needs NO ordering
    * agreement with the stored side. Document frequency therefore only
    * tunes candidate VOLUME (the probe derives CURRENT df for the
    * batch's grams from the postings), never recall, and appends can't
    * stale anything.
    */
  def saveSetSimIndex(df: DataFrame, textCol: String, idCol: String,
                      path: String, shingle: Int = 3): Unit = {
    val spark = df.sparkSession
    SetSimIndex.rebuild(spark, path) { lease =>
      val sets = setSimSets(df, textCol, idCol, shingle)
      var setsDir: String = null
      graft.ops.Stage.publishRebuild(lease, s"$path/sets") { vd =>
        sets.write.mode("overwrite").parquet(vd); setsDir = vd
      }
      // postings derive from the PUBLISHED sets parquet, not the sets
      // plan: lineage would re-run the whole gram pipeline (tokenize +
      // ngram + hash + sort) just to explode it, and the parquet read
      // arrives already split into row groups so the explode-amplified
      // postings stage parallelizes from the scan (the sf3 probe's 2×
      // build straggler was this recompute funneling through the
      // input's partition count)
      // the sets parquet is compact (hashed longs), so the scan packs it
      // into one maxPartitionBytes-sized partition — spread it too or the
      // posting explode funnels through a single task
      graft.ops.Stage.publishRebuild(lease, s"$path/postings")(vd =>
        setSimPostings(graft.ops.Tables.spreadAmplified(
            Tables.parquet(spark, setsDir), col("doc")))
          .write.mode("overwrite").parquet(vd))
    }
  }

  private def setSimSets(df: DataFrame, textCol: String, idCol: String,
                         shingle: Int): DataFrame =
    // gram construction does work ∝ exploded grams, not input bytes —
    // spread a compact scan first (Tables.spreadAmplified scaladoc;
    // no-op passthrough for streaming micro-batch frames and for scans
    // that already arrive split)
    graft.ops.Tables.spreadAmplified(
        df.select(col(idCol).as("doc"), col(textCol).as("_text")),
        col("doc"))
      .select(col("doc"),
        graft.functions.TextExpressions
          .hashedWordNgrams(col("_text"), shingle).as("grams"))
      .where(size(col("grams")) >= 1)
      .withColumn("l", size(col("grams")))

  private def setSimPostings(sets: DataFrame): DataFrame =
    sets.select(col("doc"), col("l"), explode(col("grams")).as("g"))
      .select(col("g"), col("doc"), col("l"))

  /** Append a batch to a [[saveSetSimIndex]] index through
    * [[SetSimIndex]]'s staged `append`: both components gain the batch's
    * rows (full postings are append-stable, see the save scaladoc) and
    * commit under one ledger marker, or the next sweep reverts both — a
    * doc in `sets` but not in `postings` would never surface as a
    * candidate again, a recall hole in an index whose contract is
    * deterministic recall 1. The index's shingle width must match. Pass
    * a stable `opId` to make a caller-side retry idempotent;
    * `batchId = Some(id)` is the exactly-once stream path (a replayed
    * batch would double its rows in both components and every later
    * candidate join). */
  def appendToSetSimIndex(newDf: DataFrame, textCol: String, idCol: String,
                          path: String, shingle: Int = 3,
                          opId: String = "",
                          batchId: Option[Long] = None): Unit =
    SetSimIndex.append(newDf.sparkSession, path, batchId, opId) { (staging, _) =>
      val sets = setSimSets(newDf, textCol, idCol, shingle)
      sets.write.mode("overwrite").parquet(s"$staging/sets")
      setSimPostings(sets).write.mode("overwrite")
        .parquet(s"$staging/postings")
    }

  /** Probe a batch against a [[saveSetSimIndex]] index: every
    * (batch doc, corpus doc) pair with gram-set Jaccard ≥ `threshold`,
    * EXACTLY (recall 1 modulo 2⁻⁶⁴ gram-hash collisions). Work shape:
    * the batch's gram df comes from the postings restricted to the
    * batch's grams (posting-list-sized, the BM25 serve rule); the
    * candidate join streams batch PREFIX grams (rarest-first under the
    * derived df) against the full postings with the symmetric size
    * filter; verification joins both sides' stored gram arrays through
    * the merge-walk. Probing is read-only.
    *
    * `at` picks the (sets, postings) version ([[graft.ops.Family.read]]):
    * live; PREVIOUS — the state the last delete or compaction superseded;
    * or a PINNED [[SetSimIndex]] snapshot. Pending tombstones mask the
    * corpus sets of every version; a tombstoned doc's postings may still
    * make candidates, which die in the verification join.
    *
    * Output: (doc_batch, doc_corpus, jaccard).
    */
  def probeSetSimOverlap(batch: DataFrame, path: String,
                         threshold: Double = 0.7,
                         textCol: String = "text",
                         idCol: String = "doc_id",
                         shingle: Int = 3,
                         at: graft.ops.Family.At = graft.ops.Family.Live)
      : DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold in (0, 1], got $threshold")
    // one view: each component resolves once, shared by candidates and
    // verification — the torn-read rule (a concurrent rebuild must not
    // split a probe across generations)
    val v = SetSimIndex.view(batch.sparkSession, path, at)
    val postings = v("postings")
    val corpusSets = v("sets")
    def ckpt(df: DataFrame): DataFrame = graft.ops.Tables.materialize(df)
    val bSets = ckpt(setSimSets(batch, textCol, idCol, shingle))
    val bGrams = bSets.select(col("doc"), col("l"),
      explode(col("grams")).as("g"))
    // CURRENT corpus df for the batch's grams only (unseen grams → 0,
    // i.e. rarest — they can't produce candidates anyway)
    val gdf = postings.join(
        bGrams.select(col("g")).distinct(), Seq("g"))
      .groupBy("g").agg(count(lit(1)).as("gdf"))
    val prefix = ckpt(bGrams
      .join(gdf, Seq("g"), "left")
      .na.fill(0L, Seq("gdf"))
      .groupBy("doc", "l")
      .agg(array_sort(collect_list(struct(col("gdf"), col("g")))).as("ord"))
      .withColumn("p",
        col("l") - floor(lit(threshold) * col("l") - lit(1e-9)).cast("int")
          + lit(1))
      .select(col("doc"), col("l"),
        explode(slice(col("ord"), lit(1), col("p").cast("int"))).as("e"))
      .select(col("doc"), col("l"), col("e.g").as("g")))
    val cand = prefix.as("b")
      .join(postings.as("c"),
        col("b.g") === col("c.g") &&
          least(col("b.l"), col("c.l")) >=
            lit(threshold) * greatest(col("b.l"), col("c.l")) - lit(1e-9))
      .select(col("b.doc").as("doc_batch"), col("c.doc").as("doc_corpus"))
      .distinct()
    cand
      .join(bSets.select(col("doc").as("doc_batch"), col("grams").as("g_b")),
        Seq("doc_batch"))
      .join(corpusSets.select(col("doc").as("doc_corpus"),
        col("grams").as("g_c")), Seq("doc_corpus"))
      .select(col("doc_batch"), col("doc_corpus"),
        graft.functions.SetExpressions
          .sortedSetJaccard(col("g_b"), col("g_c")).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Delete CONTENT from a [[saveSetSimIndex]] index — keyed by gram-set
    * hash like [[deleteContentFromMinhashManifest]] (this content must
    * no longer be recognized): the content's `seth` keys land as
    * tombstones, then [[SetSimIndex]]'s `compact` folds them
    * ([[foldSetSim]]). */
  def deleteContentFromSetSimIndex(deleted: DataFrame, textCol: String,
                                   path: String, shingle: Int = 3): Unit =
    SetSimIndex.delete(path, deleted.where(col(textCol).isNotNull)
      .select(xxhash64(graft.functions.TextExpressions
        .hashedWordNgrams(col(textCol), shingle))))

  /** [[SetSimIndex]]'s compaction fold: the pending tombstones' sets and
    * their documents' postings drop (the anti-join rewrite), and each
    * component coalesces to [[graft.ops.Stage.compactionPartitions]]
    * files — a streamed index leaves one file set per micro-batch. */
  private def foldSetSim(lease: graft.ops.Stage.Lease, comps: Seq[String],
                         tomb: Option[DataFrame]): Unit = {
    import graft.ops.Stage.{compactionPartitions, publishRewrite, resolve}
    val (spark, path) = (lease.spark, lease.root)
    val sets = Tables.parquet(spark, resolve(spark, s"$path/sets"))
    val removed = SetSimIndex.matched(sets, tomb).select("doc")
    val nSets = compactionPartitions(spark, s"$path/sets")
    val nPost = compactionPartitions(spark, s"$path/postings")
    // independent component rewrites run CONCURRENTLY (guide §2.6 — the
    // text fold's overlap note); `sets` listed its files at construction
    // and the sets flip keeps that version one grace cycle, so the
    // postings thunk's anti-join input is stable
    graft.ops.Par.run(
      () => publishRewrite(lease, s"$path/postings",
        Tables.parquet(spark, resolve(spark, s"$path/postings"))
          .join(removed, Seq("doc"), "left_anti").repartition(nPost)),
      () => publishRewrite(lease, s"$path/sets",
        SetSimIndex.mask(sets, tomb).repartition(nSets)))
  }

  /** The set-sim index's lifecycle descriptor: staged append, compaction
    * ([[foldSetSim]]), content-keyed tombstones (`seth` over a set's
    * `grams`), named-snapshot pin, restore, drop, vacuum and health over
    * the (sets, postings) pair; pins serve through
    * `probeSetSimOverlap(…, at = Pinned(name))`. */
  val SetSimIndex: graft.ops.Family =
    graft.ops.Family("set_sim", (_, _) => Seq("sets", "postings"), foldSetSim,
      graft.ops.Family.Key(Set("sets"), hashOf = Some("grams")))

  /** Canonicalize a noisy string VALUE DOMAIN: connected components over
    * the [[editDistanceJoin]] graph (values within `maxDist` edits are
    * the same entity), each cluster represented by its lexicographically
    * smallest member. Output: one row per DISTINCT non-null `strCol`
    * value — (`strCol`, canonical) — for the caller to equi-join back
    * onto rows (the record-linkage loop closed: candidate → verify →
    * cluster → canonical). Transitive by design: "color" ~ "colour" ~
    * "colouur" collapse together even when the endpoints exceed
    * `maxDist`, which is what entity resolution wants and what a plain
    * pair list cannot give.
    */
  def fuzzyCanonicalize(df: DataFrame, strCol: String,
                        maxDist: Int = 2, q: Int = 2): DataFrame = {
    val nodes = df.select(col(strCol).as("id"))
      .where(col("id").isNotNull).distinct()
    val edges = editDistanceJoin(df, strCol, maxDist, q)
      .select(col("name_a").as("src"), col("name_b").as("dst"))
    connectedComponents(nodes, edges)
      .select(col("id").as(strCol), col("comp").as("canonical"))
  }
}
