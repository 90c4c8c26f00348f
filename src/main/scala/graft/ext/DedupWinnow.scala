package graft.ext

import graft.ops.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Winnowing (SIGMOD'03) fingerprints, alignments, spans, leakage matrix, and the persisted winnow manifest lifecycle.
  * One family of [[Dedup]] — the object is assembled from the
  * per-family traits (graft.ext.Dedup*.scala) so each file stays
  * reviewable; call sites are unchanged.
  */
trait DedupWinnow extends DedupSimhash {
  // ------------------------------------------------------------- winnowing

  /** WINNOWING document fingerprints (Schleimer, Wilkerson, Aiken —
    * "Winnowing: Local Algorithms for Document Fingerprinting",
    * SIGMOD'03; the MOSS scheme): hash every word n-gram, slide a window
    * of `w` consecutive gram hashes over each document, and in each
    * window select the MINIMUM hash — rightmost position on ties, the
    * paper's rule. The selected positions fingerprint the document with
    * the paper's guarantee: any shared substring of at least n + w − 1
    * words produces at least one IDENTICAL selected fingerprint in both
    * documents (a window of that match lies entirely inside it), while
    * the expected density is only 2/(w+1) of the grams — position-robust
    * partial-overlap detection (plagiarism, quotation, template reuse)
    * that [[ngramJaccardPairs]]' whole-set Jaccard dilutes away and
    * MinHash, which samples the whole document, cannot localize.
    * Documents shorter than one window keep their global minimum — short
    * docs are never unfingerprintable.
    *
    * Gram hash = the portable char-fold over [[rawWordNgrams]]' space-
    * joined shingles, so the oracle replays every window argmin.
    *
    * Scale shape: each gram row fans out to the ≤ w windows that contain
    * it (a bounded explode — w is 4-8, the algorithm's own constant),
    * and the per-window argmin is a groupBy MIN over a lexicographic
    * (h, −pos, pos) struct — partial-aggregated map-side, so the (id,
    * window) exchange carries pre-collapsed minima, not the w× fanout.
    * No window-function sort over the corpus. Output: distinct
    * (id, pos, h) selected fingerprints.
    */
  def winnowFingerprints(df: DataFrame, textCol: String, idCol: String,
                         n: Int = 3, w: Int = 4): DataFrame = {
    require(n >= 2 && n <= 8, s"n in [2,8], got $n")
    require(w >= 2 && w <= 64, s"w in [2,64], got $w")
    import graft.functions.TextExpressions.charFold
    // DUAL-modulus gram hash (~61 bits, the windowHashesBytes/q32 rule):
    // a single mod-1e9+7 fold is ~2^30 values — 50% birthday collision
    // at only ~32k distinct grams, and winnowing's per-window MINIMUM
    // selection concentrates the selected fingerprints at the LOW end of
    // the space, making cross-document false shares (spurious leak-gate
    // pairs) far likelier than uniform; the df cap would then silently
    // drop the hottest collided hashes and destroy recall on real
    // overlaps at corpus scale
    // the gram/window stages below amplify each input row ~L·w×; a
    // bytes-sized scan partition must not carry the whole corpus
    // (Tables.spreadAmplified scaladoc — the measured 30× sf1 straggler).
    // The non-empty-grams filter is expressed on RAW TOKEN COUNT, not on
    // the gram array: `size(grams) > 0` ⟺ tokens ≥ n (rawWordNgrams'
    // guard), but a filter on the array PUSHES BELOW the repartition and
    // drags the whole per-position gram construction into the scan stage
    // — the round-17 stage probe measured it as a 45 s two-task stage
    // (one per row group) under a 32-way plan. The cheap predicate
    // pushes to the scan harmlessly; grams are built once, post-shuffle.
    // posexplode_OUTER, not posexplode: InferFiltersFromGenerate adds
    // `size(grams) > 0` before an inner generate, and THAT inferred
    // predicate — carrying the whole gram construction — collapses
    // through the projection and pushes below the repartition all the
    // same (measured as the stage above re-appearing). The outer
    // generate infers nothing; its one null row per gramless doc
    // (already excluded by the token-count filter) drops for free.
    val grams = graft.ops.Tables.spreadAmplified(
        df.select(col(idCol), col(textCol))
          .where(col(textCol).isNotNull &&
            size(split(col(textCol), " ")) >= n), col(idCol))
      .select(col(idCol), rawWordNgrams(col(textCol), n).as("grams"))
      .select(col(idCol), size(col("grams")).as("m"),
        posexplode_outer(col("grams")).as(Seq("pos", "g")))
      .where(col("g").isNotNull)
      .select(col(idCol), col("m"), col("pos"),
        (charFold(col("g"), 31L, 1000000007L) * lit(2147483648L) +
          charFold(col("g"), 131L, 998244353L)).as("h"))
    // window starts containing pos: [pos−w+1, pos] ∩ [0, max(m−w, 0)] —
    // non-empty for every pos (short docs collapse to the s = 0 window)
    val wins = grams.select(col(idCol), col("pos"), col("h"),
      explode(sequence(
        greatest(col("pos") - (w - 1), lit(0)),
        least(col("pos"), greatest(col("m") - w, lit(0))))).as("s"))
    wins.groupBy(col(idCol), col("s"))
      // lexicographic min: smallest h, then LARGEST pos (rightmost tie)
      .agg(min(struct(col("h"), (-col("pos")).as("np"), col("pos")))
        .as("sel"))
      .select(col(idCol), col("sel.pos").as("pos"), col("sel.h").as("h"))
      .distinct()
  }

  /** Near-duplicate candidate pairs from shared winnowing fingerprints:
    * documents sharing ≥ `minShared` selected hashes, with each side's
    * fingerprint count for containment math downstream. Fingerprints
    * whose document frequency exceeds `maxDf` are dropped FIRST — the
    * boilerplate guard every fingerprint joiner needs: one template
    * fragment selected in 1% of a 100 TB corpus would otherwise
    * contribute quadratic join output; after the cap each hash yields
    * ≤ maxDf² pairs. One hash-equi self-join over the (id, h) relation —
    * document text never travels. Output: (doc_a, doc_b, shared, fp_a,
    * fp_b) with fp counts over the capped fingerprint sets.
    */
  /** Overlap LOCALIZATION from winnowing fingerprints — the step beyond
    * [[winnowNearDupPairs]]' who-matches-whom: WHERE the shared content
    * sits. One row per shared selected fingerprint occurrence across a
    * document pair: (doc_a, doc_b, h, pos_a, pos_b) — pos_* are the
    * 0-based word-gram positions of the shared hash on each side, i.e.
    * alignment anchor points for quotation extraction, plagiarism-span
    * reporting, or containment math (anchors clustered in doc_a but
    * spread in doc_b = a quoted in b). The SIGMOD'03 guarantee makes the
    * anchors dense: every shared run of ≥ n + w − 1 words contributes at
    * least one row.
    *
    * Same boilerplate cap as the pair form: fingerprints with document
    * frequency > `maxDf` are dropped before the self-join, bounding the
    * per-hash output at maxDf² alignment rows. Scale shape: one
    * hash-equi self-join over the selected (id, pos, h) relation —
    * document text never travels.
    */
  def winnowAlignments(df: DataFrame, textCol: String, idCol: String,
                       n: Int = 3, w: Int = 4, maxDf: Int = 20): DataFrame = {
    require(maxDf >= 2, s"maxDf >= 2, got $maxDf")
    // MATERIALIZED once: the fingerprint subtree feeds the df-cap
    // aggregate AND both sides of the self-join — left declarative,
    // Spark re-executes the whole explode/window pipeline per consumer
    // (the broadcast subquery and each join leg plan it independently;
    // measured at sf1 by the round-17 stage probe: 4 evaluations,
    // two riding 32 s broadcast-thread stages of a 45 s wall).
    // localCheckpoint stores executor-local blocks — no driver collect,
    // size is the selected-fingerprint relation (~2/(w+1) of the grams).
    val fps = graft.ops.Tables.materialize(
      winnowFingerprints(df, textCol, idCol, n, w))
    val dfh = fps.select(col(idCol), col("h")).distinct()
      .groupBy("h").agg(count(lit(1)).as("hdf"))
    val kept = fps.join(dfh.where(col("hdf") <= maxDf).select("h"), Seq("h"))
    kept.as("a")
      .join(kept.as("b"),
        col("a.h") === col("b.h") && col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"),
        col("a.h").as("h"), col("a.pos").as("pos_a"),
        col("b.pos").as("pos_b"))
  }

  /** The cross-split RELEASE-GATE matrix at winnowed density — the
    * winnow counterpart of [[graft.ext.Corpus.splitLeakageMatrix]]'s
    * full n-gram matrix: pairwise leakage across splits computed over
    * SELECTED fingerprints only (expected 2/(w+1) of the grams — ~28%
    * at w = 4), with the SIGMOD'03 guarantee that any shared run of
    * ≥ n + w − 1 words still registers. The trade the operator states:
    * a leak shorter than n + w − 1 words can slip a winnowed matrix
    * that the full-gram matrix would catch; in exchange the self-join
    * input shrinks by the density factor — the right default for a
    * 100 TB release gate, with the full matrix as the escalation.
    * Same surface: (split_a, split_b, n_leak_pairs, n_docs_a,
    * n_docs_b, n_shared_total), zero rows for clean pairs, document
    * frequency > `maxDf` fingerprints dropped first.
    */
  def winnowLeakageMatrix(df: DataFrame, textCol: String, idCol: String,
                          splitCol: String = "split", n: Int = 3,
                          w: Int = 4, minShared: Int = 1,
                          maxDf: Int = 20): DataFrame = {
    // materialized once — stop-list aggregate + both join legs consume
    // it (the winnowAlignments recomputation note)
    val fps = graft.ops.Tables.materialize(
      winnowFingerprints(df, textCol, idCol, n, w)
        .select(col(idCol), col("h")).distinct()
        .join(df.select(col(idCol), col(splitCol).as("split")), Seq(idCol))
        .select(col("split"), col(idCol).as("doc"), col("h")))
    val stop = fps.groupBy("h").agg(count(lit(1)).as("hdf"))
      .where(col("hdf") > maxDf).select("h")
    val kept = fps.join(stop, Seq("h"), "left_anti")
    val lo = kept.select(col("h"), col("split").as("split_a"),
      col("doc").as("doc_a"))
    val hi = kept.select(col("h"), col("split").as("split_b"),
      col("doc").as("doc_b"))
    val pairs = lo.join(hi, Seq("h"))
      .where(col("split_a") < col("split_b"))
      .groupBy("split_a", "doc_a", "split_b", "doc_b")
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
    val matrix = pairs.groupBy("split_a", "split_b")
      .agg(count(lit(1)).as("n_leak_pairs"),
        countDistinct(col("doc_a")).as("n_docs_a"),
        countDistinct(col("doc_b")).as("n_docs_b"),
        sum(col("n_shared")).as("n_shared_total"))
    val splits = df.select(col(splitCol).as("s")).distinct()
    val frame = splits.select(col("s").as("split_a"))
      .crossJoin(splits.select(col("s").as("split_b")))
      .where(col("split_a") < col("split_b"))
    frame.join(matrix, Seq("split_a", "split_b"), "left")
      .select(col("split_a"), col("split_b"),
        coalesce(col("n_leak_pairs"), lit(0L)).as("n_leak_pairs"),
        coalesce(col("n_docs_a"), lit(0L)).as("n_docs_a"),
        coalesce(col("n_docs_b"), lit(0L)).as("n_docs_b"),
        coalesce(col("n_shared_total"), lit(0L)).as("n_shared_total"))
  }

  /** Quotation/plagiarism SPAN reconstruction from alignment anchors —
    * the human-readable form of [[winnowAlignments]]: shared anchors
    * between two documents that sit on one DIAGONAL (pos_a − pos_b
    * constant) and within `maxGap` gram positions of each other are one
    * contiguous shared passage, reported as word-index spans on both
    * sides. A span's end covers its last gram's n words
    * (end = last_pos + n − 1), so `[start_a, end_a]` is the quoted
    * word range in doc_a and `[start_b, end_b]` the matching range in
    * doc_b; `n_anchors` is its evidence weight. The diagonal constraint
    * is what makes this spans and not co-occurrence: a reordered or
    * interleaved match breaks into separate spans, exactly as a
    * plagiarism reviewer would want.
    *
    * Scale shape: [[winnowAlignments]]' bounded self-join, then a
    * window PER (pair, diagonal) — anchor-sized relations throughout,
    * never corpus-sized; the classic sessionize split (lag > maxGap
    * starts a new run) over at most a few anchors per group.
    */
  def winnowSpans(df: DataFrame, textCol: String, idCol: String,
                  n: Int = 3, w: Int = 4, maxDf: Int = 20,
                  maxGap: Int = 8): DataFrame = {
    require(maxGap >= 1, s"maxGap >= 1, got $maxGap")
    import org.apache.spark.sql.expressions.Window
    val al = winnowAlignments(df, textCol, idCol, n, w, maxDf)
      .withColumn("diag", col("pos_a") - col("pos_b"))
    val ord = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    val runBreak = when(lag(col("pos_a"), 1).over(ord).isNull ||
      col("pos_a") - lag(col("pos_a"), 1).over(ord) > maxGap, 1L)
      .otherwise(0L)
    al.withColumn("brk", runBreak)
      .withColumn("run", sum(col("brk")).over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_a", "doc_b", "diag", "run")
      .agg(min(col("pos_a")).as("start_a"),
        (max(col("pos_a")) + (n - 1)).as("end_a"),
        count(lit(1)).as("n_anchors"))
      .select(col("doc_a"), col("doc_b"),
        col("start_a"), col("end_a"),
        (col("start_a") - col("diag")).as("start_b"),
        (col("end_a") - col("diag")).as("end_b"),
        col("n_anchors"))
  }

  // --------------------------------------- persisted winnow manifest (q180)

  /** Build and persist a WINNOWING manifest for a corpus — the
    * partial-overlap analogue of [[saveMinhashManifest]]: MinHash
    * manifests answer "is this batch document a NEAR-DUP of known
    * content?" (whole-document Jaccard); this one answers "does it
    * CONTAIN or QUOTE known content?" — overlap the whole-set measure
    * dilutes away. Layout under `path`:
    *  - `fps/`  (doc, pos, h): the corpus's selected winnowing
    *    fingerprints ([[winnowFingerprints]]), h-sorted within files so
    *    probe-side slices prune row groups. Positions ride along for
    *    alignment-grade probes.
    *  - `meta/` (n, w): the winnowing parameters for APPEND paths (read
    *    under the root lease, so they cannot race a rebuild). Probes
    *    derive (n, w) from the stamp columns on the fps rows they
    *    actually scan — a probe winnowed with different (n, w) shares no
    *    hashes and would silently miss everything, so the parameters
    *    must travel WITH the data (the saveMinhashManifest rule).
    * `minShared`/`maxDf` are probe-time choices, like the MinHash
    * manifest's threshold.
    */
  def saveWinnowManifest(df: DataFrame, textCol: String, idCol: String,
                         path: String, n: Int = 3, w: Int = 4): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    // ONE rebuild lease over meta + fps: a leased append between the
    // two publishes must not pair one generation's parameters with the
    // other's fingerprints
    WinnowManifest.rebuild(spark, path) { lease =>
      graft.ops.Stage.publishRebuild(lease, s"$path/meta",
        Seq((n, w)).toDF("n", "w").repartition(1))
      graft.ops.Stage.publishRebuild(lease, s"$path/fps",
        winnowFps(df, textCol, idCol, n, w))
    }
  }

  /** The ONE fps pipeline shared by build and append, so they stay
    * join-compatible (the [[manifestKeyed]] rule). The (n, w)
    * stamp columns ride on every row (RLE-compressed constants) so
    * probes band with the parameters of the data they read, not with a
    * meta/ read that can race a rebuild. */
  private def winnowFps(df: DataFrame, textCol: String, idCol: String,
                        n: Int, w: Int): DataFrame =
    winnowFingerprints(df, textCol, idCol, n, w)
      .select(col(idCol).as("doc"), col("pos"), col("h"))
      .repartition(col("h")).sortWithinPartitions("h", "doc", "pos")
      .withColumn("n", lit(n)).withColumn("w", lit(w))

  /** Append a batch's fingerprints to a [[saveWinnowManifest]] manifest
    * without rebuilding — batch-sized work against the manifest's own
    * (n, w); new documents' rows are per-doc disjoint, so they land as
    * new files. Staged through [[WinnowManifest]]'s `append`
    * (`batchId = Some(id)` is the exactly-once stream path: a replayed
    * batch does not double its fingerprint rows, which would inflate
    * every later probe's shared counts for that content). Meta (n, w)
    * is read INSIDE the stager, under the root lease — a concurrent
    * saveWinnowManifest rebuild with different (n, w) must not race the
    * read and land join-incompatible fingerprints. */
  def appendToWinnowManifest(newDf: DataFrame, textCol: String,
                             idCol: String, path: String,
                             batchId: Option[Long] = None): Unit = {
    val spark = newDf.sparkSession
    WinnowManifest.append(spark, path, batchId) { (staging, _) =>
      val meta = Tables.parquet(spark,
        graft.ops.Stage.resolve(spark, s"$path/meta")).head()
      winnowFps(newDf, textCol, idCol, meta.getAs[Int]("n"),
        meta.getAs[Int]("w")).write.mode("overwrite").parquet(s"$staging/fps")
    }
  }

  /** Delete documents from a [[saveWinnowManifest]] manifest — the
    * right-to-be-forgotten path, ID-keyed (unlike the MinHash
    * manifest's content-keyed delete: that one stores exact-collapse
    * REPRESENTATIVES, so ids under-delete there; winnow fps are plain
    * per-document rows, so the id IS the right key). The ids land as
    * tombstones (probes mask them at once), then [[WinnowManifest]]'s
    * `compact` folds them out in one atomic publish; probing afterwards
    * equals probing a manifest built without those documents. */
  def deleteFromWinnowManifest(spark: org.apache.spark.sql.SparkSession,
                               path: String, ids: DataFrame,
                               idCol: String = "doc_id"): Unit =
    WinnowManifest.delete(path, ids.select(col(idCol).as("doc")))

  /** TOMBSTONE documents in the winnow manifest — the batched
    * alternative to [[deleteFromWinnowManifest]]'s per-call
    * manifest-sized rewrite: probes mask the pending ids in the fps
    * relation at once, and [[WinnowManifest]]'s `compact` folds them.
    * ID-keyed like the family's delete. */
  def tombstoneFromWinnowManifest(spark: org.apache.spark.sql.SparkSession,
                                  path: String, ids: DataFrame,
                                  idCol: String = "doc_id"): Unit =
    WinnowManifest.tombstone(path, ids.select(col(idCol).as("doc")))

  /** [[WinnowManifest]]'s compaction fold: the per-batch file trail
    * becomes one fresh, h-sorted version ([[graft.ops.Stage.publishRewrite]]
    * — atomic, old version keeps serving through a crash): streaming
    * ingest lands one file set per micro-batch, and probe-side row-group
    * pruning wants the h-sort restored. Pending tombstones fold into the
    * rewrite as a physical delete. Manifest-sized work, no corpus
    * re-winnowing. */
  private def foldFps(lease: graft.ops.Stage.Lease, comps: Seq[String],
                      tomb: Option[DataFrame]): Unit = {
    val (spark, path) = (lease.spark, lease.root)
    val fps = Tables.parquet(spark, graft.ops.Stage.resolve(spark, s"$path/fps"))
    graft.ops.Stage.publishRewrite(lease, s"$path/fps",
      WinnowManifest.mask(fps, tomb)
        .repartition(col("h")).sortWithinPartitions("h", "doc", "pos"))
  }

  /** The winnow manifest's lifecycle descriptor: staged append,
    * compaction ([[foldFps]]), named-snapshot pin, restore, drop, vacuum
    * and health over the fps component — the same
    * campaign-grade undo surface as the other index families; pins
    * serve through `probeWinnowOverlap(…, at = Pinned(name))`. */
  val WinnowManifest: graft.ops.Family =
    graft.ops.Family("winnow_manifest", (_, _) => Seq("fps"), foldFps)

  /** Probe an ingest batch against a persisted [[saveWinnowManifest]]
    * manifest: per batch document, its strongest partial-overlap match
    * in the known corpus — WITHOUT recomputing any corpus fingerprints.
    * Verdict columns per batch doc: `n_fp` (its df-surviving
    * fingerprints), `best_match` (the corpus doc sharing the most, ties
    * to the smallest id; NULL when nothing shares), `shared`,
    * `containment_ppm` (shared·10⁶ div n_fp — "how much of me is
    * already known"), `flagged` (shared ≥ `minShared`).
    *
    * Scale shape: the batch winnows batch-sized; the manifest is sliced
    * to the PROBE'S OWN HASHES first (the posting-list rule), the df cap
    * is computed on that slice (bounded by batch hashes, never a
    * manifest-wide aggregate), and the shared join runs over the
    * ≤ maxDf-per-hash slice, so probe cost is batch-sized at ANY
    * manifest size. No join is hint-forced: AQE broadcasts the batch
    * side when the batch is actually small and shuffles a day-of-crawl
    * batch instead of OOMing it into broadcast memory.
    *
    * `at` picks the fps version ([[graft.ops.Family.read]]): live, the
    * PREVIOUS version the last forget/compaction superseded (the
    * time-travel validation probe run before trusting it), or a
    * [[WinnowManifest]] pin's file list — the frozen-corpus read while
    * the live manifest keeps maintaining.
    */
  def probeWinnowOverlap(batch: DataFrame, path: String,
                         idCol: String = "doc_id",
                         textCol: String = "text", minShared: Int = 2,
                         maxDf: Int = 20,
                         at: graft.ops.Family.At = graft.ops.Family.Live)
      : DataFrame = {
    require(minShared >= 1, s"minShared >= 1, got $minShared")
    require(maxDf >= 1, s"maxDf >= 1, got $maxDf")
    val spark = batch.sparkSession
    // pending tombstones mask every version, pinned and previous reads
    // included (right-to-be-forgotten holds for validation reads — the
    // family rule); the stamp read below needs no mask
    val v = WinnowManifest.view(spark, path, at)
    val fps = v.raw("fps")
    // (n, w) from the stamp on the fps rows this probe ACTUALLY reads
    // (at its version), never from meta/, whose read could race a
    // rebuild that changes the parameters (silently-empty overlap
    // verdicts). Empty manifest → meta fallback: any parameters probe
    // zero fingerprints identically.
    val (n, w) = fps.select(col("n"), col("w"))
      .limit(1).collect().headOption
      .map(r => (r.getInt(0), r.getInt(1)))
      .getOrElse {
        val meta = Tables.parquet(spark,
          graft.ops.Stage.resolve(spark, s"$path/meta")).head()
        (meta.getAs[Int]("n"), meta.getAs[Int]("w"))
      }
    // materialized once — the batch fingerprints feed the manifest
    // slice, the cap anti-join, the n_fp counts, and the best-match
    // join (the winnowAlignments recomputation note)
    val bf = graft.ops.Tables.materialize(
      winnowFingerprints(batch, textCol, idCol, n, w)
        .select(col(idCol).as("bdoc"), col("h")).distinct())
    val mfAll = fps.select(col("doc"), col("h"))
    // No forced broadcast hints anywhere below: the batch-derived
    // relations (bf, cappedHs, bk) are "batch-sized" by contract but a
    // production ingest batch — a day of crawl — makes its winnowed
    // fingerprint set GBs, where a pinned broadcast OOMs and an
    // un-hinted join gracefully shuffles. AQE broadcasts small batches
    // on its own; PlanAuditSpec pins that the probe plans and answers
    // with broadcast disabled outright.
    val mf = v.mask(mfAll).distinct()
    // slice the manifest to the probe's hashes BEFORE any aggregate:
    // everything downstream is bounded by the batch, not the corpus
    val mfp = mf.join(bf.select("h").distinct(), Seq("h"))
    // boilerplate cap by EXCLUSION: drop hashes the manifest holds in
    // more than maxDf documents — but keep batch hashes the manifest
    // has never seen, so n_fp stays "my fingerprints" (the containment
    // denominator), not "my fingerprints the corpus knows"
    val cappedHs = mfp.groupBy("h").agg(count(lit(1)).as("hdf"))
      .where(col("hdf") > maxDf).select("h")
    val bk = bf.join(cappedHs, Seq("h"), "left_anti")
    val mk = mfp.join(cappedHs, Seq("h"), "left_anti")
    val nfp = bk.groupBy("bdoc").agg(count(lit(1)).as("n_fp"))
    val best = mk.join(bk, Seq("h"))
      .groupBy(col("bdoc"), col("doc"))
      .agg(count(lit(1)).as("shared"))
      .groupBy("bdoc")
      // argmin of (-shared, doc): most shared, then the SMALLEST corpus
      // doc id — `shared` is a count so its negation is exact, and the
      // doc tie-break is the struct field's own ordering, so it holds
      // for STRING ids too (a negated string id would cast to null and
      // silently flip ties to the largest id)
      .agg(min(struct((-col("shared")).as("ns"), col("doc"),
        col("shared"))).as("b"))
      .select(col("bdoc"), col("b.shared").as("shared"),
        col("b.doc").as("best_match"))
    batch.select(col(idCol).as("bdoc"))
      .join(nfp, Seq("bdoc"), "left")
      .join(best, Seq("bdoc"), "left")
      .select(col("bdoc").as(idCol),
        coalesce(col("n_fp"), lit(0L)).as("n_fp"),
        col("best_match"),
        coalesce(col("shared"), lit(0L)).as("shared"),
        when(coalesce(col("n_fp"), lit(0L)) > 0L,
          expr("coalesce(shared, 0L) * 1000000L div n_fp"))
          .otherwise(lit(0L)).as("containment_ppm"),
        (coalesce(col("shared"), lit(0L)) >= minShared).as("flagged"))
  }

  /** Maintenance DIFF of the winnow manifest's two serveable states —
    * PREVIOUS (what the last forget/compaction superseded) vs LIVE —
    * as one per-probe-document report: both sides' best match and
    * shared count plus a status — `lost` (overlap verdict vanished:
    * its evidence was forgotten), `appeared`, `rematched` (a different
    * corpus doc now wins), `changed` (same match, shared moved),
    * `held`. The validate-before-trust workflow for a forget batch, as
    * a first-class operator (the minhash family's
    * [[incrementalNearDupsDiff]] shape). Cost: two batch-sized probes
    * plus one batch-row join. */
  def winnowMaintenanceDiff(batch: DataFrame, path: String,
                            idCol: String = "doc_id",
                            textCol: String = "text", minShared: Int = 2,
                            maxDf: Int = 20): DataFrame = {
    val prev = probeWinnowOverlap(batch, path, idCol, textCol,
      minShared, maxDf, graft.ops.Family.Previous)
      .select(col(idCol), col("best_match").as("prev_match"),
        col("shared").as("prev_shared"), col("flagged").as("prev_flagged"))
    val live = probeWinnowOverlap(batch, path, idCol, textCol,
      minShared, maxDf)
      .select(col(idCol), col("best_match").as("live_match"),
        col("shared").as("live_shared"), col("flagged").as("live_flagged"))
    prev.join(live, Seq(idCol))
      .select(col(idCol), col("prev_match"), col("prev_shared"),
        col("live_match"), col("live_shared"),
        when(col("prev_flagged") && !col("live_flagged"), lit("lost"))
          .when(!col("prev_flagged") && col("live_flagged"),
            lit("appeared"))
          .when(col("prev_flagged") && col("live_flagged") &&
            !(col("prev_match") <=> col("live_match")), lit("rematched"))
          .when(col("prev_shared") =!= col("live_shared"), lit("changed"))
          .otherwise(lit("held")).as("status"))
  }

  def winnowNearDupPairs(df: DataFrame, textCol: String, idCol: String,
                         n: Int = 3, w: Int = 4, minShared: Int = 2,
                         maxDf: Int = 20): DataFrame = {
    require(minShared >= 1, s"minShared >= 1, got $minShared")
    require(maxDf >= 2, s"maxDf >= 2, got $maxDf")
    // materialized once — df-cap aggregate, per-doc counts, and both
    // self-join legs consume it (the winnowAlignments recomputation note)
    val fps = graft.ops.Tables.materialize(
      winnowFingerprints(df, textCol, idCol, n, w)
        .select(col(idCol), col("h")).distinct())
    val dfh = fps.groupBy("h").agg(count(lit(1)).as("hdf"))
    val kept = fps
      .join(dfh.where(col("hdf") <= maxDf).select("h"), Seq("h"))
    val cnt = kept.groupBy(col(idCol)).agg(count(lit(1)).as("nfp"))
    val pairs = kept.as("a")
      .join(kept.as("b"),
        col("a.h") === col("b.h") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"))
      .agg(count(lit(1)).as("shared"))
      .where(col("shared") >= minShared)
    pairs
      .join(cnt.select(col(idCol).as("doc_a"), col("nfp").as("fp_a")),
        Seq("doc_a"))
      .join(cnt.select(col(idCol).as("doc_b"), col("nfp").as("fp_b")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("shared"), col("fp_a"),
        col("fp_b"))
  }

}
