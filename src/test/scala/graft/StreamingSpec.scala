package graft

import graft.ops.Sinks
import graft.streaming.EventStreams
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming duals must equal their batch counterparts on finite input —
  * the whole point of reusing one oracle for both.
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("stateful streaming sessionize == batch window-function sessionize") {
    val streamed = EventStreams.sessionizeStateful(spark, sf)
      .select("user_id", "session_id", "n_events", "start_us", "end_us")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val batch = graft.queries.EventQueries.queries("q42_sessionize")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("EventTimeTimeout handler: sessions close on timeout, extend on data") {
    import graft.streaming.EventStreams.{OpenSession, RawEvent, SessionOut}
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    import org.apache.spark.api.java.Optional
    val gapUs = 30L * 60 * 1000000
    val handler = EventStreams.sessionTimeoutHandler(gapUs) _
    def ev(id: Long, tsNs: Long) = RawEvent(id, tsNs, 7L, "click", 1.0, null)

    // batch 1: two events 10 min apart -> one open session, no emission,
    // a timeout registered one gap (+1ms) after the last event
    val s1 = TestGroupState.create[OpenSession](Optional.empty(),
      GroupStateTimeout.EventTimeTimeout, 0L, Optional.of(0L), false)
    val out1 = handler(7L, Iterator(ev(1, 1000000000000L),
      ev(2, 1000000000000L + 600L * 1000000000L)), s1).toList
    assert(out1.isEmpty)
    val startUs = 1000000000L // 1e12 ns → µs
    val lastUs = startUs + 600L * 1000000L
    assert(s1.get == OpenSession(1, startUs, lastUs, 2))
    assert(s1.getTimeoutTimestampMs.get ==
      lastUs / 1000 + gapUs / 1000 + 1)

    // batch 2: another event inside the gap extends the same session and
    // pushes the timeout forward
    val s2 = TestGroupState.create[OpenSession](Optional.of(s1.get),
      GroupStateTimeout.EventTimeTimeout, 0L, Optional.of(0L), false)
    val out2 = handler(7L,
      Iterator(ev(3, (lastUs + 60L * 1000000) * 1000)), s2).toList
    assert(out2.isEmpty && s2.get.n == 3)
    assert(s2.getTimeoutTimestampMs.get > s1.getTimeoutTimestampMs.get)

    // timeout callback: the watermark passed lastUs + gap -> the open
    // session is emitted; a closed-session MARKER (n = 0, same idx) stays
    // behind with a retention timeout so numbering continues
    val s3 = TestGroupState.create[OpenSession](Optional.of(s2.get),
      GroupStateTimeout.EventTimeTimeout, 0L,
      Optional.of(s2.getTimeoutTimestampMs.get + 1), true)
    val out3 = handler(7L, Iterator.empty, s3).toList
    assert(out3 == List(SessionOut(7L, 1, 3, startUs, s2.get.lastUs)))
    assert(s3.get.n == 0 && s3.get.idx == 1)
    assert(s3.getTimeoutTimestampMs.isPresent)

    // a later event finds the marker and opens session TWO — without the
    // marker the live path would reuse session_id 1 and diverge from the
    // sentinel path on any user with two timeout-separated sessions
    val s3b = TestGroupState.create[OpenSession](Optional.of(s3.get),
      GroupStateTimeout.EventTimeTimeout, 0L, Optional.of(0L), false)
    val out3b = handler(7L,
      Iterator(ev(9, (s2.get.lastUs + 3 * gapUs) * 1000)), s3b).toList
    assert(out3b.isEmpty && s3b.get == OpenSession(2,
      s2.get.lastUs + 3 * gapUs, s2.get.lastUs + 3 * gapUs, 1))

    // marker retention expiry: the second timeout drops it silently
    val s3c = TestGroupState.create[OpenSession](Optional.of(s3.get),
      GroupStateTimeout.EventTimeTimeout, 0L,
      Optional.of(s3.getTimeoutTimestampMs.get + 1), true)
    assert(handler(7L, Iterator.empty, s3c).toList.isEmpty)
    assert(s3c.isRemoved)

    // a gap-exceeding event in one batch closes the first session inline
    // and opens session 2 (same fold as the sentinel path)
    val s4 = TestGroupState.create[OpenSession](Optional.empty(),
      GroupStateTimeout.EventTimeTimeout, 0L, Optional.of(0L), false)
    val out4 = handler(7L, Iterator(ev(1, 1000000000000L),
      ev(2, 1000000000000L + 2 * gapUs * 1000)), s4).toList
    assert(out4.map(_.session_id) == List(1L))
    assert(s4.get.idx == 2)
  }

  test("live EventTimeTimeout query closes a session once the watermark moves") {
    // staged two-file source: the second file's far-future event advances
    // the watermark past session 1's timeout, and Spark's no-data batch
    // fires the timeout callback — the closed session is emitted with NO
    // sentinel anywhere, end-to-end proof of the live path on finite input
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "graft-live-session-")
    val schema = EventStreams.rawSchema
    def writeEvents(name: String,
                    rows: Seq[(Long, Long, Long, String, Double, String)]): Unit = {
      // the source glob is $dir/events.*: stage to a temp dir, then move
      // the single part file into place as a new matching FILE
      val tmp = s"$dir/stage-$name"
      spark.createDataFrame(rows.toDF("event_id", "ts", "user_id",
          "event_type", "value", "props").rdd, schema)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
        .filter(p => p.getFileName.toString.endsWith(".parquet"))
        .findFirst().get()
      java.nio.file.Files.move(part,
        java.nio.file.Paths.get(s"$dir/events.$name"))
    }
    val t0 = 1700000000000000000L // ns
    val min = 60L * 1000000000L
    writeEvents("a", Seq((1L, t0, 42L, "click", 1.0, null),
      (2L, t0 + 5 * min, 42L, "click", 1.0, null)))
    val q = EventStreams.sessionizeStatefulEventTime(spark, dir.toString,
      gapMinutes = 30, queryName = "graft_live_sessions_test")
    try {
      q.processAllAvailable()
      assert(spark.table("graft_live_sessions_test").count() == 0) // open
      // three days later: advances the watermark far past lastUs + gap
      writeEvents("b", Seq((3L, t0 + 3L * 24 * 60 * min, 42L, "click", 1.0, null)))
      q.processAllAvailable()
      val got = spark.table("graft_live_sessions_test")
        .as[(Long, Long, Long, Long, Long)].collect().toList
      assert(got == List((42L, 1L, 2L,
        t0 / 1000, (t0 + 5 * min) / 1000))) // session 2 still open
    } finally q.stop()
  }

  test("streaming hourly window == batch hourly window") {
    val streamed = EventStreams.hourlyWindowed(spark, sf, "spec_hourly")
      .select(unix_micros(col("hour_start")).as("h"), col("event_type"),
        col("n_events"), col("total_value"))
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    val batch = graft.ops.Tables.t(spark, sf, "events")
      .groupBy(unix_micros(date_trunc("HOUR", col("ts"))).as("h"), col("event_type"))
      .agg(count(lit(1)).as("n"), graft.ops.Num.moneySum(col("value")).as("tv"))
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(streamed == batch)
  }

  test("hourly window re-runs in one session under its query name") {
    // Bench and Verify both run it in one session: the second run must
    // reuse the memory sink's name and return the same non-empty table
    val first = EventStreams.hourlyWindowed(spark, sf).count()
    val second = EventStreams.hourlyWindowed(spark, sf).count()
    assert(first > 0 && second == first)
  }

  test("co-bucketed tables join and aggregate with zero shuffle exchanges") {
    import spark.implicits._
    // the in-memory catalog forgets tables across JVMs but their warehouse
    // dirs persist: drop both layers before re-creating
    Seq("b_facts", "b_dims").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val dir = new java.io.File(s"target/spark-warehouse/$t")
      if (dir.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete()
        }
        rm(dir)
      }
    }
    val facts = (1 to 1000).map(i => (i % 100, i, i * 2.0)).toDF("k", "id", "v")
    val dims = (0 until 100).map(i => (i, s"dim_$i")).toDF("k", "name")
    Sinks.bucketedTable(facts, "b_facts", Seq("k"), nBuckets = 8)
    Sinks.bucketedTable(dims, "b_dims", Seq("k"), nBuckets = 8)
    // disable auto-broadcast so the join must rely on co-bucketing
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("b_facts").join(spark.table("b_dims"), Seq("k"))
        .groupBy("k").agg(sum("v").as("total"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"expected shuffle-free plan, got:\n$plan")
      assert(plan.contains("Bucketed: true"))
      assert(joined.count() == 100)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("streaming near-dup manifest flags == batch incremental probe flags") {
    import spark.implicits._
    val docs = graft.ops.Tables.t(spark, sf, "documents")
    val path = "target/graft-test-stream-manifest"
    graft.ext.Dedup.saveMinhashManifest(
      docs.where(pmod(col("doc_id"), lit(10)) < 5), "text", "doc_id",
      path, k = 32, bands = 16)
    val streamed = graft.streaming.DocumentStreams.streamingNearDupFlags(
      spark, sf, path, newFilter = pmod(col("doc_id"), lit(10)) >= 5,
      threshold = 0.9, queryName = "graft_test_neardup")
      .as[Long].collect().toSet
    val batch = graft.ext.Dedup.incrementalNearDups(
      docs.where(pmod(col("doc_id"), lit(10)) >= 5), path, "text", "doc_id",
      threshold = 0.9)
      .where(col("is_near_dup")).select(col("doc_id")).as[Long].collect().toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty) // fixture plants cross-split duplicates
  }

  test("streaming drift monitor == batch histogramDrift over the same halves") {
    import spark.implicits._
    val docs = graft.ops.Tables.t(spark, sf, "documents")
    val streamed = graft.streaming.DocumentStreams.streamingDriftMonitor(
      spark, sf, reference = docs.where(pmod(col("doc_id"), lit(2)) === 0),
      newFilter = pmod(col("doc_id"), lit(2)) === 1, bucketWidth = 8,
      queryName = "graft_test_drift")
      .orderBy("bucket")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    val batch = graft.ext.Corpus.histogramDrift(
      docs.where(pmod(col("doc_id"), lit(2)) === 0),
      docs.where(pmod(col("doc_id"), lit(2)) === 1), "text", 8)
      .orderBy("bucket")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming decontam gate == batch semanticDecontam, row for row") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val probe = emb.where(pmod(col("vec_id"), lit(20)) === 7)
    val streamed = graft.streaming.DocumentStreams.streamingDecontamGate(
      spark, sf, probe, newFilter = pmod(col("vec_id"), lit(20)) =!= 7,
      threshold = 0.35, queryName = "graft_test_decontam")
      .orderBy("vec_id")
      .as[(Long, Long, Double, Boolean)].collect().toSeq
    val batch = graft.ext.Similarity.semanticDecontam(
      emb.where(pmod(col("vec_id"), lit(20)) =!= 7), probe, 0.35)
      .as[(Long, Long, Double, Boolean)].collect().toSeq
    // stateless gate: bit-identical verdicts AND cosines either way
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("streaming embedding drift == batch embeddingDrift; empty stream safe") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val cents = graft.ext.Similarity.sampleCentroids(emb, 8)
    val streamed = graft.streaming.DocumentStreams.streamingEmbeddingDrift(
      spark, sf, reference = emb.where(pmod(col("vec_id"), lit(2)) === 0),
      newFilter = pmod(col("vec_id"), lit(2)) === 1, centroidsIn = cents,
      queryName = "graft_test_embdrift")
      .orderBy("centroid")
      .as[(Int, Long, Long, Long, Long, Long)].collect().toSeq
    val batch = graft.ext.Similarity.embeddingDrift(
      emb.where(pmod(col("vec_id"), lit(2)) === 0),
      emb.where(pmod(col("vec_id"), lit(2)) === 1), cents)
      .orderBy("centroid")
      .as[(Int, Long, Long, Long, Long, Long)].collect().toSeq
    assert(streamed == batch && streamed.nonEmpty)
    // MONITOR-BEFORE-DATA: a stream whose filter admits nothing yet must
    // report the reference side with zero incoming shares, not error —
    // the state a drift dashboard starts in
    val idle = graft.streaming.DocumentStreams.streamingEmbeddingDrift(
      spark, sf, reference = emb.where(pmod(col("vec_id"), lit(2)) === 0),
      newFilter = lit(false), centroidsIn = cents,
      queryName = "graft_test_embdrift_idle")
      .as[(Int, Long, Long, Long, Long, Long)].collect().toSeq
    assert(idle.nonEmpty)
    assert(idle.forall(r => r._3 == 0L && r._5 == 0L)) // n_b, share_b_ppm
    assert(idle.map(_._4).sum >= 999990L) // reference shares ≈ 1e6
  }

  test("parquet sink round-trips with partition pruning directories") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "graft-sink-").toString
    val df = Seq((1, "a", 10.0), (2, "b", 20.0), (3, "a", 30.0)).toDF("id", "k", "v")
    Sinks.parquet(df, dir, partitionBy = Seq("k"))
    val back = spark.read.parquet(dir)
    assert(back.where(col("k") === "a").select(sum("v")).as[Double].head() == 40.0)
    assert(new java.io.File(dir).listFiles().exists(_.getName == "k=a"))
  }
}
