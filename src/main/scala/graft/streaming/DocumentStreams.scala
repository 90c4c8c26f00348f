package graft.streaming

import graft.ext.{Corpus, TextAnalysis}
import graft.ops.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming over the documents table: the ingestion-side dual
  * of the batch text/corpus operators. A training-data pipeline ingests
  * continuously; quality gating and split assignment are pure per-row
  * expressions, so the SAME column definitions run batch or streaming with
  * bit-identical results — this module exists to prove that property under
  * a real streaming query (stateless map/filter, append mode, zero state).
  */
object DocumentStreams {

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Streaming quality gate + split assignment: score each arriving doc,
    * drop low-quality rows, label the survivors train/val/test. Stateless →
    * append mode needs no watermark, and at 100 TB/day this plan is a pure
    * map over the ingest stream (the shuffle count is zero).
    */
  def qualityGate(spark: SparkSession, sfDir: String,
                  stopwords: Seq[String], minQuality: Double = 0.8,
                  queryName: String = "graft_stream_quality"): DataFrame = {
    val docs = spark.readStream.schema(docSchema).parquet(s"$sfDir/documents.*")
    val gated = Corpus.splitAssign(
      docs.select(col("doc_id"), col("text"),
        TextAnalysis.qualityScore(col("text"), stopwords).as("quality"))
        .where(col("quality") >= minQuality),
      "text")
      .select(col("doc_id"), col("quality"), col("split"))
    val q = gated.writeStream
      .outputMode("append")
      .format("memory").queryName(queryName)
      .start()
    try q.processAllAvailable() finally q.stop()
    spark.table(queryName)
  }

  /** Streaming exact-dedup with BOUNDED state: each distinct content hash
    * is emitted once; `dropDuplicatesWithinWatermark` keyed on the 32-byte
    * hash lets the state store evict keys once the ingest-time watermark
    * passes them — the property that makes continuous dedup survive an
    * unbounded stream (a plain `dropDuplicates` keeps every key forever).
    * Only the hash is emitted: WHICH physical row carried it first is
    * arrival-order-dependent, the hash set itself is deterministic.
    */
  def streamingDedup(spark: SparkSession, sfDir: String,
                     queryName: String = "graft_stream_dedup"): DataFrame = {
    val docs = spark.readStream.schema(docSchema).parquet(s"$sfDir/documents.*")
    val hashed = docs
      .select(sha2(col("text"), 256).as("content_hash"),
        current_timestamp().as("ingest_ts"))
      .withWatermark("ingest_ts", "1 hour")
      .dropDuplicatesWithinWatermark("content_hash")
      .select(col("content_hash"))
    // dropDuplicatesWithinWatermark emits each first-seen key ON ARRIVAL;
    // the watermark only EVICTS state — the drained-source no-data batch
    // releases no output
    val q = StreamRun.startWithoutNoDataBatches(spark) {
      hashed.writeStream
        .outputMode("append")
        .format("memory").queryName(queryName)
        .start()
    }
    try q.processAllAvailable() finally q.stop()
    spark.table(queryName)
  }

  /** Continuous incremental ingest — the streaming form of the daily-batch
    * incrementalNew (q56/q63): the document stream is anti-joined against
    * a STATIC known-content manifest (yesterday's corpus), then
    * within-stream duplicates collapse via the watermark-bounded
    * dropDuplicates. Emits each genuinely-new content hash exactly once
    * WITHIN THE WATERMARK HORIZON: dedup state is bounded by a 1-hour
    * watermark over ingest (processing) time, so a duplicate arriving
    * more than an hour after its first emission is emitted again. A
    * long-running deployment keeps the guarantee by refreshing the static
    * manifest (e.g. daily) so re-arrivals older than the horizon are
    * caught by the anti-join instead of the in-stream state.
    *
    * Scale shape: a stream-static join is STATELESS on the static side —
    * the manifest relation is re-planned each micro-batch (broadcast when
    * it fits, shuffle otherwise), so at 100 TB it is a materialized
    * hash-manifest table, not a cached DataFrame. The only streaming state
    * is the within-stream hash set, and the ingest-time watermark bounds
    * it — the two properties that let this run forever.
    */
  def streamingIncrementalDedup(spark: SparkSession, sfDir: String,
      existing: org.apache.spark.sql.DataFrame,
      queryName: String = "graft_stream_incr_dedup"): DataFrame = {
    val known = existing
      .select(sha2(col("text"), 256).as("content_hash")).distinct()
    val docs = spark.readStream.schema(docSchema).parquet(s"$sfDir/documents.*")
    val fresh = docs
      .select(sha2(col("text"), 256).as("content_hash"),
        current_timestamp().as("ingest_ts"))
      .join(known, Seq("content_hash"), "left_anti")
      .withWatermark("ingest_ts", "1 hour")
      .dropDuplicatesWithinWatermark("content_hash")
      .select(col("content_hash"))
    // dropDuplicatesWithinWatermark emits each first-seen key ON ARRIVAL;
    // the watermark only EVICTS state — the drained-source no-data batch
    // releases no output
    val q = StreamRun.startWithoutNoDataBatches(spark) {
      fresh.writeStream
        .outputMode("append")
        .format("memory").queryName(queryName)
        .start()
    }
    try q.processAllAvailable() finally q.stop()
    spark.table(queryName)
  }

  /** Streaming NEAR-dup flagging against a persisted MinHash manifest
    * (Dedup.saveMinhashManifest): each arriving document whose token-set
    * Jaccard reaches `threshold` against ANY manifest document is emitted
    * once — the streaming face of the batch incremental probe (q84), for
    * the ingest pipeline that filters near-dups of yesterday's corpus
    * continuously.
    *
    * Stream discipline: signatures and band keys are stateless projections
    * carrying the token set inline (a stream may be referenced once, so
    * verification cannot join back — see manifestMatchRows' carryTokens);
    * the candidate and verification joins are stream-STATIC equi-joins
    * against the loaded manifest (no state); the only state is the
    * emitted-flag dedup, keyed on doc_id and evicted by the ingest-time
    * watermark. A matching doc colliding in several bands emits one flag.
    */
  def streamingNearDupFlags(spark: SparkSession, sfDir: String,
                            manifestPath: String, newFilter: Column,
                            threshold: Double = 0.9,
                            queryName: String = "graft_stream_neardup"): DataFrame = {
    val docs = spark.readStream.schema(docSchema)
      .parquet(s"$sfDir/documents.*").where(newFilter)
    val probe = graft.ext.Dedup.tokenSetRelation(docs, "text", "doc_id")
    val flagged = graft.ext.Dedup
      .manifestMatchRows(probe, manifestPath, threshold, carryTokens = true)
      .select(col("doc_n").as("doc_id"), current_timestamp().as("ingest_ts"))
      .withWatermark("ingest_ts", "1 hour")
      .dropDuplicatesWithinWatermark("doc_id")
      .select(col("doc_id"))
    // dropDuplicatesWithinWatermark emits each first-seen key ON ARRIVAL;
    // the watermark only EVICTS state — the drained-source no-data batch
    // releases no output
    val q = StreamRun.startWithoutNoDataBatches(spark) {
      flagged.writeStream
        .outputMode("append")
        .format("memory").queryName(queryName)
        .start()
    }
    try q.processAllAvailable() finally q.stop()
    spark.table(queryName)
  }

  /** Streaming report card: the token-length histogram (q96's mergeable
    * state) maintained as a COMPLETE-mode aggregation over the ingest
    * stream, finalized into exact quantiles per micro-batch view. The
    * streaming STATE here is the histogram itself — (groups × distinct
    * lengths) rows, corpus-size INVARIANT — so the state store never
    * grows with ingest volume: the property that lets a curation
    * dashboard sit on the raw stream forever. Bit-identical to the batch
    * q74 over the same rows (the histogram sum is order-insensitive
    * integer arithmetic).
    */
  def streamingStats(spark: SparkSession, sfDir: String,
                     groupCols: Seq[String],
                     queryName: String = "graft_stream_stats"): DataFrame = {
    val docs = spark.readStream.schema(docSchema).parquet(s"$sfDir/documents.*")
    val hist = Corpus.tokenHistogram(docs, groupCols, "text")
    // complete mode re-emits the whole histogram on every DATA batch —
    // the drained-source no-data batch is pure state-machinery overhead
    val q = StreamRun.startWithoutNoDataBatches(spark) {
      hist.writeStream
        .outputMode("complete")
        .format("memory").queryName(queryName)
        .start()
    }
    try q.processAllAvailable() finally q.stop()
    Corpus.statsFromHistogram(spark.table(queryName), groupCols)
  }

  /** Streaming DRIFT monitor: the incoming crawl's token-length bucket
    * histogram is maintained as complete-mode aggregation state over the
    * document stream ([[streamingStats]]'s state shape — bucket-count
    * rows, corpus-size INVARIANT), then compared against a static
    * reference corpus with [[graft.ext.Corpus.driftFromHistograms]]'
    * integer-ppm shares — the live version of the q124 pre-admission
    * check, sitting on the raw ingest stream forever at constant state.
    * Histogram counts are order-insensitive integer sums, so the
    * streamed snapshot is bit-identical to the batch histogram over the
    * same rows and the drift report equals batch [[graft.ext.Corpus.histogramDrift]].
    */
  def streamingDriftMonitor(spark: SparkSession, sfDir: String,
                            reference: DataFrame,
                            newFilter: org.apache.spark.sql.Column,
                            bucketWidth: Int = 8,
                            queryName: String = "graft_stream_drift"): DataFrame = {
    val docs = spark.readStream.schema(docSchema).parquet(s"$sfDir/documents.*")
    val hist = Corpus.lengthBucketHistogram(
      docs.where(newFilter), "text", bucketWidth, "n_b")
    // complete mode re-emits the whole histogram on every DATA batch —
    // the drained-source no-data batch is pure state-machinery overhead
    val q = StreamRun.startWithoutNoDataBatches(spark) {
      hist.writeStream
        .outputMode("complete")
        .format("memory").queryName(queryName)
        .start()
    }
    try q.processAllAvailable() finally q.stop()
    Corpus.driftFromHistograms(
      Corpus.lengthBucketHistogram(reference, "text", bucketWidth, "n_a"),
      spark.table(queryName))
  }

  /** [[streamingDriftMonitor]] for the VECTOR modality: the incoming
    * embedding stream's FROZEN-centroid occupancy histogram is
    * maintained as complete-mode aggregation state
    * ([[graft.ext.Similarity.centroidHistogram]] — k rows, corpus-size
    * INVARIANT; assignment is map work against the broadcast k×dim
    * matrix, so the streaming state never grows with ingest volume),
    * compared live against a static reference with the same integer-ppm
    * arithmetic as every other drift report. Counts are
    * order-insensitive integer sums, so the report is bit-identical to
    * batch [[graft.ext.Similarity.embeddingDrift]] over the same rows —
    * which is exactly what q139's oracle (q138's replay verbatim)
    * checks.
    */
  def streamingEmbeddingDrift(spark: SparkSession, sfDir: String,
                              reference: DataFrame,
                              newFilter: org.apache.spark.sql.Column,
                              centroidsIn: Array[Array[Double]],
                              queryName: String = "graft_stream_embdrift")
      : DataFrame = {
    val vecs = spark.readStream
      .schema(Tables.parquetSchema(spark, s"$sfDir/embeddings.parquet"))
      .parquet(s"$sfDir/embeddings.*")
    val hist = graft.ext.Similarity.centroidHistogram(
      vecs.where(newFilter), centroidsIn, "n_b")
    // complete mode re-emits the whole histogram on every DATA batch —
    // the drained-source no-data batch is pure state-machinery overhead
    val q = StreamRun.startWithoutNoDataBatches(spark) {
      hist.writeStream
        .outputMode("complete")
        .format("memory").queryName(queryName)
        .start()
    }
    try q.processAllAvailable() finally q.stop()
    Corpus.driftFromHistograms(
      graft.ext.Similarity.centroidHistogram(reference, centroidsIn, "n_a"),
      spark.table(queryName))
      .withColumnRenamed("bucket", "centroid")
  }

  /** SEMANTIC-DECONTAM GATE under a REAL streaming query: every arriving
    * vector scored against the STATIC broadcast probe set
    * ([[graft.ext.Similarity.semanticDecontamScores]] — the map-only HOF
    * fold), verdicts emitted in append mode. Stateless by construction
    * (per-row max against a frozen probe set — no watermark, no state
    * store, zero state at any stream length), so the streamed report is
    * row-identical to the batch operator over the same rows: the ingest
    * gate a training pipeline runs so eval-contaminated documents never
    * reach the corpus in the first place, rather than decontaminating
    * after the fact.
    */
  def streamingDecontamGate(spark: SparkSession, sfDir: String,
                            probe: DataFrame,
                            newFilter: org.apache.spark.sql.Column,
                            threshold: Double,
                            queryName: String = "graft_stream_decontam")
      : DataFrame = {
    val vecs = spark.readStream
      .schema(Tables.parquetSchema(spark, s"$sfDir/embeddings.parquet"))
      .parquet(s"$sfDir/embeddings.*")
    val scored = graft.ext.Similarity.semanticDecontamScores(
      vecs.where(newFilter), probe, threshold)
    val q = scored.writeStream
      .outputMode("append")
      .format("memory").queryName(queryName)
      .start()
    try q.processAllAvailable() finally q.stop()
    spark.table(queryName)
  }
}
