package graft

import graft.ext.Search
import graft.ops.{Family, Stage}
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The atomic-publish contract of [[graft.ops.Stage]]: a rewrite either
  * fully publishes (pointer flip) or leaves the old contents serving —
  * there is no window where a crash loses the live data. Exercised at the
  * Stage level (crash injection between the version write and the flip)
  * and at the index level (a crashed text-index delete must not change
  * what BM25 serves).
  */
class StageSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fs(p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def values(dir: String): Set[Long] =
    spark.read.parquet(Stage.resolve(spark, dir))
      .collect().map(_.getLong(0)).toSet

  private def children(dir: String): Set[String] =
    fs(dir).listStatus(new Path(dir)).map(_.getPath.getName).toSet

  /** Run `f` under the writer lease of `root`. */
  private def leased[T](root: String)(f: Stage.Lease => T): T =
    Stage.withWriterLease(spark, root)(f)

  /** Replace `root`'s lock with another writer's token: the reclaim a
    * holder whose heartbeat starved past the staleness window suffers. */
  private def imposterLock(root: String, token: String): Unit = {
    val lock = new Path(s"$root/_writer.lock")
    fs(root).delete(lock, false)
    val out = fs(root).create(lock, false)
    try out.write(token.getBytes("UTF-8")) finally out.close()
  }

  test("a crash between the version write and the flip leaves the old data serving") {
    val root = "target/graft-test-stage-crash"
    fs(root).delete(new Path(root), true)
    leased(root)(Stage.publishRebuild(_, root, Seq(1L, 2L).toDF("v"))) // → v1
    val boom = intercept[RuntimeException] {
      leased(root)(Stage.publishRewrite(_, root) { versionDir =>
        Seq(9L).toDF("v").write.parquet(versionDir) // new version fully written
        throw new RuntimeException("crash before flip")
      })
    }
    assert(boom.getMessage == "crash before flip")
    // pointer untouched: still v1, still the old rows
    assert(Stage.resolve(spark, root) == s"$root/v00000001")
    assert(values(root) == Set(1L, 2L))
    assert(children(root).contains("v00000002")) // the crashed version
    // a later successful publish supersedes and GCs the orphan version;
    // the old live version gets its one-cycle grace
    leased(root)(Stage.publishRewrite(_, root, Seq(7L).toDF("v"))) // → v3
    assert(values(root) == Set(7L))
    assert(children(root) == Set("_current", "v00000001", "v00000003"))
  }

  test("the previously-live version survives exactly one publish cycle") {
    val root = "target/graft-test-stage-prev"
    fs(root).delete(new Path(root), true)
    Seq(1L).toDF("v").write.parquet(root)
    leased(root)(Stage.publishRewrite(_, root, Seq(2L).toDF("v"))) // → v1 live
    leased(root)(Stage.publishRewrite(_, root, Seq(3L).toDF("v"))) // → v2 live, v1 spared
    assert(children(root) == Set("_current", "v00000001", "v00000002"))
    // an in-flight scan that resolved v1 before the flip still reads it
    assert(spark.read.parquet(s"$root/v00000001")
      .collect().map(_.getLong(0)).toSet == Set(2L))
    leased(root)(Stage.publishRewrite(_, root, Seq(4L).toDF("v"))) // → v3, v1 swept
    assert(children(root) == Set("_current", "v00000002", "v00000003"))
    assert(values(root) == Set(4L))
  }

  test("resolvePrevious names the superseded version for one cycle") {
    val root = "target/graft-test-stage-resolveprev"
    fs(root).delete(new Path(root), true)
    assert(Stage.resolvePrevious(spark, root).isEmpty) // nothing built
    leased(root)(Stage.publishRebuild(_, root, Seq(1L).toDF("v"))) // → v1
    // a build has no snapshot history at all
    assert(Stage.resolvePrevious(spark, root).isEmpty)
    leased(root)(Stage.publishRewrite(_, root, Seq(2L).toDF("v"))) // → v2, v1 spared
    assert(Stage.resolvePrevious(spark, root).contains(s"$root/v00000001"))
    assert(spark.read.parquet(Stage.resolvePrevious(spark, root).get)
      .collect().map(_.getLong(0)).toSet == Set(1L))
    leased(root)(Stage.publishRewrite(_, root, Seq(3L).toDF("v"))) // → v3, v1 swept
    assert(Stage.resolvePrevious(spark, root).contains(s"$root/v00000002"))
    assert(!children(root).contains("v00000001"))
  }

  test("a crashed rewrite of a versioned directory keeps the prior version") {
    val root = "target/graft-test-stage-crash2"
    fs(root).delete(new Path(root), true)
    Seq(1L).toDF("v").write.parquet(root)
    leased(root)(Stage.publishRewrite(_, root, Seq(2L).toDF("v"))) // → v00000001
    intercept[RuntimeException] {
      leased(root)(Stage.publishRewrite(_, root) { versionDir =>
        Seq(3L).toDF("v").write.parquet(versionDir)
        throw new RuntimeException("crash")
      })
    }
    assert(Stage.resolve(spark, root) == s"$root/v00000001")
    assert(values(root) == Set(2L))
  }

  test("a crashed text-index delete does not change what BM25 serves") {
    val docs = Seq(
      (1L, "spark join spark"),
      (2L, "stream window table"),
      (3L, "spark stream spark")).toDF("doc_id", "text")
    val idx = "target/graft-test-stage-idx-crash"
    fs(idx).delete(new Path(idx), true)
    Search.saveTextIndex(docs, idx)
    def serve() = Search.bm25TopKIndexed(spark, idx, Seq("spark", "stream"), 10)
      .collect().map(_.toSeq).toSeq
    val before = serve()
    // simulate deleteFromTextIndex dying after writing the shrunk postings
    // but before the pointer flip — exactly the old swapRewrite's data-loss
    // window
    intercept[RuntimeException] {
      leased(idx)(Stage.publishRewrite(_, s"$idx/postings") { versionDir =>
        spark.read.parquet(Stage.resolve(spark, s"$idx/postings"))
          .where(col("doc_id") =!= 1L)
          .write.parquet(versionDir)
        throw new RuntimeException("crash mid-delete")
      })
    }
    assert(serve() == before) // the live index is intact
    // and the retried delete still completes and serves the shrunk corpus
    Search.deleteFromTextIndex(spark, idx, Seq(1L).toDF("doc_id"))
    val after = serve()
    assert(after.map(_.head) == Seq(3L, 2L).map(x => x: Any))
  }

  test("healthReport tracks versions, ledger, and pending tombstones") {
    import spark.implicits._
    val idx = "target/graft-test-health"
    fs(idx).delete(new Path(idx), true)
    val docs = Seq((1L, "spark join"), (2L, "stream window"))
      .toDF("doc_id", "text")
    Search.saveTextIndex(docs, idx)
    def report = Stage
      .healthReport(spark, idx, Seq("postings", "doclens", "stats"))
      .collect().map(r => r.getString(0) ->
        ((r.getString(1), r.getInt(2), r.getInt(5), r.getInt(6)))).toMap
    // fresh build: born versioned, empty ledger, nothing pending
    assert(report("postings") == (("v00000001", 1, 0, 0)))
    Search.appendToTextIndexExactlyOnce(
      Seq((3L, "spark stream")).toDF("doc_id", "text"), idx, batchId = 0L)
    assert(report("postings")._3 == 1) // one batch marker
    Search.tombstoneFromTextIndex(spark, idx, Seq(1L).toDF("doc_id"))
    assert(report("doclens")._4 >= 1) // pending tombstone files visible
    Search.compactTextIndex(spark, idx)
    val after = report
    // compaction published v2 (v1 kept one cycle), folded the ledger to
    // one high-water marker, and consumed the tombstones (grace files
    // excluded)
    assert(after("postings")._1 == "v00000002" && after("postings")._2 == 2)
    assert(after("postings")._3 == 1)
    assert(after("doclens")._4 == 0)
  }

  test("text-index tombstones: pending == physically deleted; compaction folds") {
    val docs = Seq(
      (1L, "spark join spark"),
      (2L, "stream window table"),
      (3L, "spark stream spark"),
      (4L, "window join table")).toDF("doc_id", "text")
    val terms = Seq("spark", "stream", "window")
    val tomb = "target/graft-test-text-tomb"
    val cut = "target/graft-test-text-cut"
    Seq(tomb, cut).foreach(p => fs(p).delete(new Path(p), true))
    Search.saveTextIndex(docs, tomb)
    Search.saveTextIndex(docs, cut)
    // drip-feed: two tombstone batches vs one immediate delete
    Search.tombstoneFromTextIndex(spark, tomb, Seq(1L).toDF("doc_id"))
    Search.tombstoneFromTextIndex(spark, tomb, Seq(4L).toDF("doc_id"))
    Search.deleteFromTextIndex(spark, cut, Seq(1L, 4L).toDF("doc_id"))
    def serve(p: String) = (
      Search.bm25TopKIndexed(spark, p, terms, 10).collect().map(_.toSeq).toSeq,
      Search.conjunctiveSearch(spark, p, Seq("spark", "stream"))
        .collect().map(_.toSeq).toSeq)
    // identical BM25 scores require identical idf/avgdl — the stats must
    // reflect the pending deletes, not just the filtered postings
    assert(serve(tomb) == serve(cut))
    // compaction folds: the tombstone table is DROPPED (pendingTombstones
    // back to None — the stats fast path returns), doclens shrinks,
    // serving unchanged
    Search.compactTextIndex(spark, tomb)
    assert(Stage.pendingTombstones(spark, tomb).isEmpty)
    assert(spark.read.parquet(Stage.resolve(spark, s"$tomb/doclens"))
      .count() == 2)
    assert(serve(tomb) == serve(cut))
  }

  test("IVF tombstones: pending == physically deleted; compaction folds") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val deq = emb.select(org.apache.spark.sql.functions.col("vec_id"),
      graft.ext.Similarity.dequantize(
        graft.ext.Similarity.quantize(col("embedding"), 200.0), 200.0)
        .as("embedding"))
    val cents = graft.ext.Similarity.sampleCentroids(deq, 8)
    val tomb = "target/graft-test-ivf-tomb"
    val cut = "target/graft-test-ivf-cut"
    Seq(tomb, cut).foreach(p => fs(p).delete(new Path(p), true))
    for (p <- Seq(tomb, cut))
      graft.ext.Similarity.saveIvfIndex(emb, p, nCentroids = 8, dim = 64,
        quantScale = 200.0, centroidsIn = cents)
    val dead = emb.where(col("vec_id") % 3 === 1).select("vec_id")
    graft.ext.Similarity.tombstoneFromIvfIndex(spark, tomb, dead)
    graft.ext.Similarity.deleteFromIvfIndex(spark, cut, dead)
    val qset = deq.where(col("vec_id") < 5)
    def serve(p: String) =
      graft.ext.Similarity.topKIvfIndexed(spark, qset, p, k = 5)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
        .collect().map(_.toSeq).toSet
    assert(serve(tomb) == serve(cut))
    graft.ext.Similarity.IvfIndex.compact(spark, tomb)
    assert(Stage.pendingTombstones(spark, tomb).isEmpty)
    assert(serve(tomb) == serve(cut))
  }

  test("tombstoning every document serves empty results, not an error") {
    val idx = "target/graft-test-tomb-all"
    fs(idx).delete(new Path(idx), true)
    Search.saveTextIndex(
      Seq((1L, "spark join"), (2L, "spark stream")).toDF("doc_id", "text"), idx)
    Search.tombstoneFromTextIndex(spark, idx, Seq(1L, 2L).toDF("doc_id"))
    // the pending-path stats fold to (0, 0) — no division blows up
    // because no candidate row reaches the scorer
    assert(Search.bm25TopKIndexed(spark, idx, Seq("spark"), 10).count() == 0)
    assert(Search.conjunctiveSearch(spark, idx, Seq("spark")).count() == 0)
    Search.compactTextIndex(spark, idx)
    assert(Search.bm25TopKIndexed(spark, idx, Seq("spark"), 10).count() == 0)
  }

  test("tombstones appended during a fold survive the reset") {
    val idx = "target/graft-test-tomb-midfold"
    fs(idx).delete(new Path(idx), true)
    Search.saveTextIndex(Seq(
      (1L, "spark join"), (2L, "spark stream"), (3L, "spark table"))
      .toDF("doc_id", "text"), idx)
    Search.tombstoneFromTextIndex(spark, idx, Seq(1L).toDF("doc_id"))
    // the fold pins its snapshot...
    val snap = Stage.tombstoneSnapshot(spark, idx).get
    assert(snap._1.collect().map(_.getLong(0)).toSet == Set(1L))
    // ...a delete service lands doc 2 while the fold runs...
    Search.tombstoneFromTextIndex(spark, idx, Seq(2L).toDF("doc_id"))
    // ...and the reset consumes exactly the snapshot: doc 2 stays pending
    leased(idx)(Stage.resetTombstones(_, idx, snap._2))
    assert(Stage.pendingTombstones(spark, idx).get
      .collect().map(_.getLong(0)).toSet == Set(2L))
    // reader grace: the consumed files survive ON DISK one compaction
    // cycle — a serve query that pinned them just before the fold still
    // reads them...
    assert(spark.read.parquet(snap._2.map(_.toString): _*)
      .collect().map(_.getLong(0)).toSet == Set(1L))
    // ...and the NEXT fold's reset physically retires them
    val snap2 = Stage.tombstoneSnapshot(spark, idx).get
    leased(idx)(Stage.resetTombstones(_, idx, snap2._2))
    assert(snap._2.forall(f => !fs(idx).exists(f)))
    assert(Stage.pendingTombstones(spark, idx).isEmpty)
  }

  test("compaction sweeps an uncommitted batch's partial files") {
    val idx = "target/graft-test-sweep-uncommitted"
    fs(idx).delete(new Path(idx), true)
    Search.saveTextIndex(Seq((1L, "alpha beta")).toDF("doc_id", "text"), idx)
    Search.appendToTextIndexExactlyOnce(
      Seq((2L, "alpha gamma")).toDF("doc_id", "text"), idx, batchId = 0L)
    // batch 1 crashed MID-PUBLISH: its postings landed under b1-*, but
    // doclens/stats/marker never did — simulate with a manual staged move
    val tmp = "target/graft-test-sweep-uncommitted-tmp"
    fs(tmp).delete(new Path(tmp), true)
    Seq(("alpha", 9L, 1L)).toDF("token", "doc_id", "tf").write.parquet(tmp)
    Stage.publishStaged(fs(idx), new Path(tmp),
      new Path(Stage.resolve(spark, s"$idx/postings")), "b1")
    // compaction must EXCLUDE the torn batch (folding it would anonymize
    // the b1 files, and the replay below would then double doc 9)
    Search.compactTextIndex(spark, idx)
    assert(Search.conjunctiveSearch(spark, idx, Seq("alpha"))
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    // the stream restarts and replays batch 1 whole — counted ONCE
    Search.appendToTextIndexExactlyOnce(
      Seq((9L, "alpha delta")).toDF("doc_id", "text"), idx, batchId = 1L)
    val got = Search.conjunctiveSearch(spark, idx, Seq("alpha"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 9L -> 1L))
  }

  test("a torn tombstone table reads as no pending deletes, not an error") {
    val idx = "target/graft-test-tomb-torn"
    fs(idx).delete(new Path(idx), true)
    Search.saveTextIndex(Seq((1L, "spark join")).toDF("doc_id", "text"), idx)
    // simulate a crashed appendTombstones: the directory exists but only
    // an uncommitted _temporary entry inside — nothing committed
    fs(idx).mkdirs(new Path(s"$idx/tombstones/_temporary/0"))
    assert(Stage.pendingTombstones(spark, idx).isEmpty)
    assert(Search.bm25TopKIndexed(spark, idx, Seq("spark"), 10).count() == 1)
    // and a later successful tombstone still lands and serves
    Search.tombstoneFromTextIndex(spark, idx, Seq(1L).toDF("doc_id"))
    assert(Search.bm25TopKIndexed(spark, idx, Seq("spark"), 10).count() == 0)
  }

  test("a replayed batch sweeps staging left by a crash after the marker") {
    val idx = "target/graft-test-staging-sweep"
    fs(idx).delete(new Path(idx), true)
    Search.saveTextIndex(Seq((1L, "alpha beta")).toDF("doc_id", "text"), idx)
    Search.appendToTextIndexExactlyOnce(
      Seq((2L, "gamma delta")).toDF("doc_id", "text"), idx, batchId = 0L)
    // crash window: marker created, staging cleanup never ran
    fs(idx).mkdirs(new Path(s"$idx/_staging/batch-0/postings"))
    Search.appendToTextIndexExactlyOnce( // replay → no-op + staging sweep
      Seq((2L, "gamma delta")).toDF("doc_id", "text"), idx, batchId = 0L)
    assert(!fs(idx).exists(new Path(s"$idx/_staging/batch-0")))
    assert(Search.conjunctiveSearch(spark, idx, Seq("gamma"))
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("ledger compaction folds batch markers into one high-water marker") {
    val idx = "target/graft-test-ledger-compact"
    fs(idx).delete(new Path(idx), true)
    Search.saveTextIndex(Seq((1L, "alpha beta")).toDF("doc_id", "text"), idx)
    for (b <- 0L to 3L)
      Search.appendToTextIndexExactlyOnce(
        Seq((10L + b, s"tok$b alpha")).toDF("doc_id", "text"), idx, batchId = b)
    def ledger = children(s"$idx/_ledger")
    assert(ledger == (0L to 3L).map(b => s"batch-$b").toSet)
    leased(idx)(Stage.compactLedger(_, idx))
    assert(ledger == Set("high-3"))
    // a replayed FOLDED batch is still a no-op (id ≤ high-water)
    val before = Search.conjunctiveSearch(spark, idx, Seq("alpha")).count()
    Search.appendToTextIndexExactlyOnce(
      Seq((12L, "tok2 alpha")).toDF("doc_id", "text"), idx, batchId = 2L)
    assert(Search.conjunctiveSearch(spark, idx, Seq("alpha")).count() == before)
    // batches past the high water still publish, then fold on the next pass
    Search.appendToTextIndexExactlyOnce(
      Seq((14L, "tok4 alpha")).toDF("doc_id", "text"), idx, batchId = 4L)
    assert(Search.conjunctiveSearch(spark, idx, Seq("alpha")).count() == before + 1)
    assert(ledger == Set("high-3", "batch-4"))
    leased(idx)(Stage.compactLedger(_, idx))
    assert(ledger == Set("high-4"))
  }

  test("auto-compaction triggers on fragmentation and serves identically") {
    val idx = "target/graft-test-autocompact"
    fs(idx).delete(new Path(idx), true)
    Search.saveTextIndex(Seq((1L, "alpha beta")).toDF("doc_id", "text"), idx)
    for (b <- 0L to 4L)
      Search.appendToTextIndexExactlyOnce(
        Seq((10L + b, s"alpha tok$b")).toDF("doc_id", "text"), idx, batchId = b)
    val frag = Stage.fragmentation(spark, s"$idx/postings")
    assert(frag >= 6) // the builder's files plus one per exactly-once batch
    // threshold not reached: metadata-only listing, nothing rewritten
    assert(!Search.TextIndex.autoCompact(spark, idx, maxFilesPerComponent = 1000))
    assert(Stage.fragmentation(spark, s"$idx/postings") == frag)
    val before = Search.bm25TopKIndexed(spark, idx, Seq("alpha"), 10)
      .collect().map(_.toSeq).toSeq
    // threshold crossed: the compaction runs, file counts drop, the ledger
    // folds alongside the data, and serving is bit-identical
    assert(Search.TextIndex.autoCompact(spark, idx, maxFilesPerComponent = 2))
    assert(Stage.fragmentation(spark, s"$idx/postings") < frag)
    assert(children(s"$idx/_ledger") == Set("high-4"))
    assert(Search.bm25TopKIndexed(spark, idx, Seq("alpha"), 10)
      .collect().map(_.toSeq).toSeq == before)
  }

  test("a rebuilt index starts a fresh exactly-once lineage") {
    val idx = "target/graft-test-stage-relineage"
    fs(idx).delete(new Path(idx), true)
    // lineage 1: stream a batch in under batchId 0
    Search.appendToTextIndexExactlyOnce(
      Seq((1L, "alpha beta")).toDF("doc_id", "text"), idx, batchId = 0L)
    // REBUILD the index — a new stream (new checkpoint) will reuse id 0;
    // the stale lineage-1 marker must not make its first batch a no-op
    Search.saveTextIndex(Seq((2L, "gamma delta")).toDF("doc_id", "text"), idx)
    Search.appendToTextIndexExactlyOnce(
      Seq((3L, "epsilon zeta")).toDF("doc_id", "text"), idx, batchId = 0L)
    val served = Search.conjunctiveSearch(spark, idx, Seq("epsilon"))
      .collect().map(_.getLong(0)).toSeq
    assert(served == Seq(3L), s"lineage-2 batch 0 was dropped: $served")
  }

  test("writer lease: a second concurrent maintenance op fails loudly") {
    val root = "target/graft-test-stage-lease"
    fs(root).delete(new Path(root), true)
    Stage.withWriterLease(spark, root) { _ =>
      // the same thread does not re-enter: nested code takes the lease
      // it was handed instead of acquiring again...
      val nested = intercept[IllegalStateException] {
        Stage.withWriterLease(spark, root) { _ => fail("re-entered a held lease") }
      }
      assert(nested.getMessage.contains("concurrent maintenance"), s"$nested")
      // ...and a SECOND writer on another thread is rejected while the
      // first holds
      var err: Throwable = null
      val t = new Thread(() => {
        try Stage.withWriterLease(spark, root) { _ => fail("acquired held lease") }
        catch { case e: Throwable => err = e }
      })
      t.start(); t.join()
      assert(err != null &&
        err.getMessage.contains("concurrent maintenance"), s"$err")
    }
    // released on exit: the next op acquires freely
    Stage.withWriterLease(spark, root) { _ => assert(true) }
    // and an exception inside the critical section also releases
    intercept[RuntimeException] {
      Stage.withWriterLease(spark, root) { _ => throw new RuntimeException("boom") }
    }
    assert(!fs(root).exists(new Path(s"$root/_writer.lock")))
  }

  test("writer lease: a stale lock from a crashed holder is reclaimed") {
    val root = "target/graft-test-stage-lease-stale"
    fs(root).delete(new Path(root), true)
    // a crashed JVM's leftover: a lock file nobody will ever release
    fs(root).mkdirs(new Path(root))
    fs(root).create(new Path(s"$root/_writer.lock"), false).close()
    // within the staleness window the lock holds...
    intercept[IllegalStateException] {
      Stage.withWriterLease(spark, root, staleAfterMs = 60 * 1000L) { _ => () }
    }
    // ...past it the lock is presumed dead and reclaimed
    var ran = false
    Stage.withWriterLease(spark, root, staleAfterMs = 0L) { _ => ran = true }
    assert(ran)
    assert(!fs(root).exists(new Path(s"$root/_writer.lock")))
    // a lock naming a DEAD same-host pid reclaims immediately — a killed
    // driver must not stall the next run for the staleness window
    val host = java.net.InetAddress.getLocalHost.getHostName
    val out = fs(root).create(new Path(s"$root/_writer.lock"), false)
    out.write(s"pid=999999999 host=$host t=0".getBytes("UTF-8")); out.close()
    var ran2 = false
    Stage.withWriterLease(spark, root) { _ => ran2 = true } // default staleness
    assert(ran2)
  }

  test("a wrongly-reclaimed victim's release leaves the reclaimer's lock intact") {
    // the escalation chain the owner check breaks: A runs past the
    // staleness window, B reclaims with a FRESH lock; A's exit must NOT
    // delete B's lock (an unconditional finally-delete would, silently
    // re-admitting a third writer while B is mid-fold)
    val root = "target/graft-test-stage-lease-owner"
    fs(root).delete(new Path(root), true)
    val lock = new Path(s"$root/_writer.lock")
    val aHolds = new java.util.concurrent.CountDownLatch(1)
    val aMayRelease = new java.util.concurrent.CountDownLatch(1)
    val bHolds = new java.util.concurrent.CountDownLatch(1)
    val bMayRelease = new java.util.concurrent.CountDownLatch(1)
    val a = new Thread(() => Stage.withWriterLease(spark, root) { _ =>
      aHolds.countDown(); aMayRelease.await()
    })
    a.start(); aHolds.await()
    val aToken = {
      val in = fs(root).open(lock)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    }
    // age A's lock past the window (mtime drives the staleness check) —
    // A is ALIVE in this JVM, so only the age path can reclaim it
    fs(root).setTimes(lock, System.currentTimeMillis - 3600 * 1000L, -1)
    val b = new Thread(() => Stage.withWriterLease(spark, root,
        staleAfterMs = 60 * 1000L) { _ =>
      bHolds.countDown(); bMayRelease.await()
    })
    b.start(); bHolds.await() // B reclaimed and holds a fresh lock
    aMayRelease.countDown(); a.join() // A exits; owner check must fire
    // B's lock SURVIVES A's release (and is B's, not A's)
    assert(fs(root).exists(lock), "victim's release deleted the reclaimer's lock")
    val after = {
      val in = fs(root).open(lock)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    }
    assert(after != aToken)
    bMayRelease.countDown(); b.join()
    assert(!fs(root).exists(lock)) // B's own release still works
  }

  test("a live holder's heartbeat keeps the lease past the staleness window") {
    val root = "target/graft-test-stage-lease-heartbeat"
    fs(root).delete(new Path(root), true)
    val holding = new java.util.concurrent.CountDownLatch(1)
    val mayRelease = new java.util.concurrent.CountDownLatch(1)
    // a 4 s window with a ~1.3 s heartbeat: the op below runs well past
    // the window, which WITHOUT the refresher would let a second writer
    // stale-reclaim a live op's lock
    val a = new Thread(() => Stage.withWriterLease(spark, root,
        staleAfterMs = 4000L) { _ =>
      holding.countDown(); mayRelease.await()
    })
    a.start(); holding.await()
    Thread.sleep(4500) // op age > window; heartbeat keeps mtime fresh
    var err: Throwable = null
    val b = new Thread(() => {
      try Stage.withWriterLease(spark, root, staleAfterMs = 4000L) { _ =>
        fail("stale-reclaimed a LIVE holder's heartbeat-refreshed lease")
      } catch { case e: Throwable => err = e }
    })
    b.start(); b.join()
    assert(err != null && err.getMessage.contains("concurrent maintenance"),
      s"$err")
    mayRelease.countDown(); a.join()
    // released cleanly; the next op acquires freely
    Stage.withWriterLease(spark, root) { _ => () }
    assert(!fs(root).exists(new Path(s"$root/_writer.lock")))
  }

  test("fencing: a reclaimed holder's pointer flip is rejected at commit") {
    // the round-12 residual closed: a holder whose heartbeat starved past
    // the staleness window gets RECLAIMED; its late publish must be
    // rejected at the commit point, not interleaved with the reclaimer's
    val root = "target/graft-test-stage-fence-flip"
    fs(root).delete(new Path(root), true)
    leased(root)(Stage.publishRebuild(_, root, Seq(1L, 2L).toDF("v")))
    val lock = new Path(s"$root/_writer.lock")
    val boom = intercept[IllegalStateException] {
      Stage.withWriterLease(spark, root) { lease =>
        // simulate the wrongful reclaim: the lock now carries ANOTHER
        // writer's token (a reclaimer retired ours and created afresh)
        imposterLock(root, "pid=424242 host=elsewhere t=0 nonce=imposter")
        Stage.publishRewrite(lease, root, Seq(9L).toDF("v"))
      }
    }
    assert(boom.getMessage.contains("fencing"), s"$boom")
    // the zombie's flip never happened: the pre-reclaim state keeps serving
    assert(values(root) == Set(1L, 2L))
    fs(root).delete(lock, false) // retire the imposter lock
  }

  test("fencing: a reclaimed ROOT lease rejects a component flip, on the caller's thread and on a Par thread") {
    // the commit point re-reads the index ROOT's lock — the one writer
    // lease — so a zombie whose root lease was reclaimed cannot flip any
    // component, wherever the flip runs (a compaction fold dispatches
    // its publishes to Par pool threads)
    val idx = "target/graft-test-stage-fence-root"
    fs(idx).delete(new Path(idx), true)
    Search.saveTextIndex(Seq((1L, "spark join"), (2L, "stream window"))
      .toDF("doc_id", "text"), idx)
    val live = Stage.resolve(spark, s"$idx/postings")
    val lock = new Path(s"$idx/_writer.lock")
    val flipThreads = new java.util.concurrent.ConcurrentLinkedQueue[Thread]()
    def flip(lease: Stage.Lease): Unit = {
      flipThreads.add(Thread.currentThread)
      Stage.publishRewrite(lease, s"$idx/postings",
        spark.read.parquet(live).where(col("doc_id") =!= 1L))
    }
    def reclaimed(publish: Stage.Lease => Unit): IllegalStateException =
      try intercept[IllegalStateException] {
        leased(idx) { lease =>
          imposterLock(idx, "pid=424242 host=elsewhere t=0 nonce=imposter")
          publish(lease)
        }
      } finally fs(idx).delete(lock, false) // retire the imposter lock
    val direct = reclaimed(flip)
    val pooled = reclaimed(lease => graft.ops.Par.run(() => flip(lease), () => ()))
    for (e <- Seq(direct, pooled))
      assert(e.getMessage.contains(
        "no longer carries this writer's acquire token"), s"$e")
    assert(flipThreads.size == 2 &&
      flipThreads.asScala.last != Thread.currentThread,
      "the second flip did not run on a pool thread")
    // neither zombie flip happened: the pre-reclaim version serves
    assert(Stage.resolve(spark, s"$idx/postings") == live)
    assert(Search.conjunctiveSearch(spark, idx, Seq("spark"))
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("writer lease: not re-entrant — a nested acquire fails, the outer lease still releases") {
    val root = "target/graft-test-stage-lease-nested"
    fs(root).delete(new Path(root), true)
    val lock = new Path(s"$root/_writer.lock")
    val nested = intercept[IllegalStateException] {
      Stage.withWriterLease(spark, root) { _ =>
        Stage.withWriterLease(spark, root) { _ => fail("re-entered a held lease") }
      }
    }
    assert(nested.getMessage.contains("concurrent maintenance"), s"$nested")
    assert(!fs(root).exists(lock))
    // a family op run under its own root's lease is refused the same way:
    // code under a lease takes the lease it was handed
    val family = intercept[IllegalStateException] {
      Stage.withWriterLease(spark, root) { _ => Search.TextIndex.vacuum(spark, root) }
    }
    assert(family.getMessage.contains("concurrent maintenance"), s"$family")
    // the outer lease released cleanly both times: a fresh acquire
    // succeeds and leaves no lock behind
    var ran = false
    Stage.withWriterLease(spark, root) { _ => ran = true }
    assert(ran && !fs(root).exists(lock))
  }

  test("fencing: a reclaimed holder's publishOnce stays markerless and sweeps") {
    val root = "target/graft-test-stage-fence-op"
    fs(root).delete(new Path(root), true)
    val lock = new Path(s"$root/_writer.lock")
    val boom = intercept[IllegalStateException] {
      // publishOnce takes the root lease itself; the reclaim lands while
      // it stages, before its commit point
      Stage.publishOnce(spark, root, "fenced_op", Seq("data")) { staging =>
        Seq(7L).toDF("v").write.parquet(s"$staging/data")
        imposterLock(root, "pid=1 host=elsewhere t=0 nonce=imposter")
      }
    }
    assert(boom.getMessage.contains("fencing"), s"$boom")
    fs(root).delete(lock, false)
    // no marker committed: the renamed files are visible but pending, and
    // the next maintenance sweep reverts exactly them
    assert(Stage.pendingOps(spark, root, Seq("data")) == Seq("fenced_op"))
    leased(root)(Stage.sweepUncommitted(_, root, Seq("data")))
    assert(Stage.pendingOps(spark, root, Seq("data")).isEmpty)
  }

  test("fencing: the strict primitive rejects the zombie INSIDE the re-read gap") {
    // a lock re-read leaves a gap: a zombie whose re-read lands just
    // BEFORE the reclaim passes it and would still commit. The claim
    // closes it — the commit is a create-exclusive file both contenders
    // name: both re-reads pass, exactly one owns the claim, and the
    // loser is rejected even inside the gap.
    val root = "target/graft-test-stage-fence-strict"
    fs(root).delete(new Path(root), true)
    fs(root).mkdirs(new Path(root))
    val lock = new Path(s"$root/_writer.lock")
    val claim = new Path(s"$root/_ledger/batch-7")
    def writeLock(tok: String): Unit = {
      fs(root).delete(lock, false)
      val out = fs(root).create(lock, false)
      out.write(tok.getBytes("UTF-8"))
      out.close()
    }
    // contender A (the reclaimer) commits first: the claim holds its token
    writeLock("tok-reclaimer")
    Stage.claimCommit(fs(root), lock, "tok-reclaimer", claim)
    // the zombie wakes inside its gap: model the read-before-reclaim
    // ordering by restoring ITS token on the lock, so the re-read half
    // PASSES — only the claim can reject it now, and it must
    writeLock("tok-zombie")
    val boom = intercept[IllegalStateException] {
      Stage.claimCommit(fs(root), lock, "tok-zombie", claim)
    }
    assert(boom.getMessage.contains("already claimed"), s"$boom")
    // a same-token re-commit (retry after a partial failure) passes
    writeLock("tok-reclaimer")
    Stage.claimCommit(fs(root), lock, "tok-reclaimer", claim)
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(claim.toUri.getPath)), "UTF-8") == "tok-reclaimer")
    fs(root).delete(lock, false)
  }

  test("fencing: commits claim end to end; a crashed predecessor never wedges a retry") {
    val root = "target/graft-test-stage-fence-strict-e2e"
    fs(root).delete(new Path(root), true)
    // ordinary lifecycle: rebuild, rewrite, exactly-once op — all commit
    // normally, each owning its claim
    leased(root) { lease =>
      Stage.publishRebuild(lease, root, Seq(1L, 2L).toDF("v"))
      Stage.publishRewrite(lease, root, Seq(3L).toDF("v"))
    }
    assert(values(root) == Set(3L))
    Stage.publishOnce(spark, root, "strict_op", Seq("data")) { staging =>
      Seq(7L).toDF("v").write.parquet(s"$staging/data")
    }
    // a predecessor that lost its lease after publishing its files,
    // before its marker: the retry, under a different token, commits
    def retried(lose: Boolean): Unit =
      Stage.publishOnce(spark, root, "retried_op", Seq("data")) { staging =>
        Seq(8L).toDF("v").write.parquet(s"$staging/data")
        if (lose) imposterLock(root, "pid=1 host=elsewhere t=0 nonce=imposter")
      }
    intercept[IllegalStateException](retried(lose = true))
    fs(root).delete(new Path(s"$root/_writer.lock"), false)
    assert(Stage.pendingOps(spark, root, Seq("data")) == Seq("retried_op"))
    retried(lose = false)
    assert(Stage.pendingOps(spark, root, Seq("data")).isEmpty)
    assert(fs(root).exists(new Path(s"$root/_ledger/op-retried_op")))
    assert(Claims.ledgerWithoutToken(root).isEmpty)
    assert(values(s"$root/data") == Set(7L, 8L))
    // a predecessor that died between its flip claim and the pointer
    // write: its orphan version and claim hold the next number, and the
    // retry, under a different token, flips past both
    val data = new Path(s"$root/data")
    val orphan = new Path(data, "v00000002")
    Seq(9L).toDF("v").write.parquet(orphan.toString)
    val dead = Stage.flipFence(root, data, "v00000002")
    val out = fs(root).create(dead, false)
    try out.write("tok-dead-writer".getBytes("UTF-8")) finally out.close()
    leased(root)(Stage.publishRewrite(_, data.toString, Seq(10L).toDF("v")))
    assert(values(data.toString) == Set(10L))
    assert(!fs(root).exists(orphan) && !fs(root).exists(dead))
    assert(Claims.orphanFlipClaims(root).isEmpty)
  }

  test("fencing: a vacuumed orphan version takes its dead claim along") {
    // a flip that fails after its claim (an IO error in the pointer
    // write, a killed JVM) leaves orphan vN and its claim; vacuum sweeps
    // the orphan, the next publish recomputes vN — and must not meet the
    // dead writer's claim
    val root = "target/graft-test-stage-fence-orphan"
    fs(root).delete(new Path(root), true)
    val data = new Path(s"$root/data")
    leased(root) { lease =>
      Stage.publishRebuild(lease, data.toString, Seq(1L).toDF("v"))
      Stage.publishRewrite(lease, data.toString, Seq(2L).toDF("v"))
    }
    val orphan = new Path(data, "v00000003")
    Seq(9L).toDF("v").write.parquet(orphan.toString)
    val dead = Stage.flipFence(root, data, "v00000003")
    val out = fs(root).create(dead, false)
    try out.write("tok-dead-writer".getBytes("UTF-8")) finally out.close()
    leased(root)(Stage.vacuum(_, data.toString))
    assert(!fs(root).exists(orphan))
    leased(root)(Stage.publishRewrite(_, data.toString, Seq(3L).toDF("v")))
    assert(Stage.resolve(spark, data.toString).endsWith("v00000003"))
    assert(values(data.toString) == Set(3L))
    assert(Claims.orphanFlipClaims(root).isEmpty,
      s"${Claims.orphanFlipClaims(root)}")
  }

  test("fencing: the lease's claims reach its Par-thread flips") {
    // the text build and compaction flip every component from Par pool
    // threads; each flip claims its version with the caller's lease
    val idx = "target/graft-test-stage-fence-par"
    fs(idx).delete(new Path(idx), true)
    val docs = Seq((1L, "alpha beta gamma"), (2L, "beta gamma delta"))
      .toDF("doc_id", "text")
    val comps = Seq("postings", "doclens", "stats")
    Search.saveTextIndex(docs, idx)
    assert(Claims.flipClaims(idx) == comps.map(c => s"flip-$c-v00000001").toSet)
    // a contender's claim on each flip the compaction will make: every
    // Par-thread flip meets its claim, so none of them lands
    val contended = comps.map(c =>
      Stage.flipFence(idx, new Path(s"$idx/$c"), "v00000002"))
    contended.foreach { f =>
      val out = fs(idx).create(f, false)
      try out.write("tok-contender".getBytes("UTF-8")) finally out.close()
    }
    val boom = intercept[IllegalStateException] {
      Search.compactTextIndex(spark, idx)
    }
    assert(boom.getMessage.contains("already claimed"), s"$boom")
    comps.foreach(c =>
      assert(Stage.resolve(spark, s"$idx/$c").endsWith("v00000001"), c))
    contended.foreach(fs(idx).delete(_, false))
    Search.compactTextIndex(spark, idx)
    comps.foreach(c =>
      assert(!Stage.resolve(spark, s"$idx/$c").endsWith("v00000001"), c))
    assert(Claims.orphanFlipClaims(idx).isEmpty,
      s"${Claims.orphanFlipClaims(idx)}")
  }

  test("fencing: a flip claim lives as its version does; a same-token retry passes") {
    val idx = "target/graft-test-stage-fence-retire"
    fs(idx).delete(new Path(idx), true)
    def batch(id: Long) = Seq((id, s"word$id shared text")).toDF("doc_id", "text")
    Search.saveTextIndex(batch(0L), idx)
    for (r <- 1L to 3L) {
      Search.appendToTextIndex(batch(10 * r), idx, batchId = Some(r))
      Search.appendToTextIndex(batch(10 * r + 1), idx) // a plain op
      // the two markers are their own claims, each holding its lease's
      // token; `_fence/` holds flip claims only
      val ledger = children(s"$idx/_ledger")
      assert(ledger.contains(s"batch-$r") &&
        ledger.exists(_.startsWith("op-append")), s"$ledger")
      assert(Claims.ledgerWithoutToken(idx).isEmpty)
      assert(Claims.flipClaims(idx).forall(_.startsWith("flip-")))
      Search.compactTextIndex(spark, idx)
      // each compaction GCs the versions two flips back, with their claims
      assert(Claims.orphanFlipClaims(idx).isEmpty,
        s"claims left after compaction $r: ${Claims.orphanFlipClaims(idx)}")
      assert(Claims.ledgerWithoutToken(idx).isEmpty)
    }
    assert(children(s"$idx/_ledger").contains("high-3"))
    // a same-token retry of a committed claim passes, before and after a
    // ledger fold (op markers survive it)
    leased(idx) { lease =>
      val lock = new Path(s"$idx/_writer.lock")
      val tok = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(lock.toUri.getPath)), "UTF-8")
      def commit(): Unit = Stage.claimCommit(fs(idx), lock, tok,
        new Path(s"$idx/_ledger/op-retry"))
      commit()
      commit()
      Stage.compactLedger(lease, idx)
      assert(children(s"$idx/_ledger").contains("op-retry"))
      commit()
    }
  }

  test("healthReport surfaces the writer lock in flight") {
    val idx = "target/graft-test-health-lock"
    fs(idx).delete(new Path(idx), true)
    Seq((1L, 10L)).toDF("k", "c").write.parquet(s"$idx/counts")
    def head = Stage.healthReport(spark, idx, Seq("counts")).head()
    // no lock: empty holder, sentinel age, zero fraction
    val idle = head
    assert(idle.getAs[String]("writer_lock_holder") == "")
    assert(idle.getAs[Long]("writer_lock_age_ms") == -1L)
    assert(idle.getAs[Double]("writer_lock_stale_frac") == 0.0)
    // root lock held (a family-wide op in flight): stamped on the row
    Stage.withWriterLease(spark, idx) { _ =>
      val busy = head
      assert(busy.getAs[String]("writer_lock_holder").startsWith("pid="))
      assert(busy.getAs[Long]("writer_lock_age_ms") >= 0L)
      val frac = busy.getAs[Double]("writer_lock_stale_frac")
      assert(frac >= 0.0 && frac < 1.0)
    }
    // a publish in flight on the component reports the ROOT lease it
    // commits under (components carry no lock of their own)
    leased(idx)(Stage.publishRewrite(_, s"$idx/counts") { versionDir =>
      Seq((2L, 20L)).toDF("k", "c").write.parquet(versionDir)
      assert(head.getAs[String]("writer_lock_holder").startsWith("pid="))
      assert(!fs(idx).exists(new Path(s"$idx/counts/_writer.lock")))
    })
    assert(head.getAs[String]("writer_lock_holder") == "")
  }

  test("a file-less publish refuses the flip; schema-carrying empties pass") {
    val root = "target/graft-test-stage-emptypub"
    fs(root).delete(new Path(root), true)
    leased(root)(Stage.publishRewrite(_, root, Seq(1L, 2L).toDF("v")))
    // a PARTITIONED write of zero rows produces NO files at all —
    // flipping onto it would leave an unreadable live state; the old
    // version must keep serving and the caller must hear about it
    val e = intercept[IllegalStateException] {
      leased(root)(Stage.publishRewrite(_, root) { versionDir =>
        Seq.empty[(Long, Long)].toDF("v", "k")
          .write.partitionBy("k").parquet(versionDir)
      })
    }
    assert(e.getMessage.contains("no data files"))
    assert(values(root) == Set(1L, 2L)) // old state still serving
    // a NON-partitioned empty DataFrame writes one schema-carrying
    // parquet file — a legitimate empty state, publishable and readable
    leased(root)(Stage.publishRewrite(_, root, Seq.empty[Long].toDF("v")))
    assert(values(root) == Set.empty)
  }

  test("snapshot names are validated on the read/drop side too") {
    val root = "target/graft-test-stage-snapname"
    fs(root).delete(new Path(root), true)
    leased(root)(Stage.publishRewrite(_, root, Seq(1L).toDF("v")))
    leased(root)(Stage.snapshot(_, root, "good_pin"))
    // "../_current" would URI-resolve OUT of _snapshots: dropSnapshot
    // would delete the LIVE POINTER, resolveSnapshot would misparse it
    for (bad <- Seq("../_current", "a/b", "..")) {
      intercept[IllegalArgumentException] {
        Stage.dropSnapshot(spark, root, bad)
      }
      intercept[IllegalArgumentException] {
        Stage.resolveSnapshot(spark, root, bad)
      }
    }
    assert(Stage.resolve(spark, root) == s"$root/v00000001") // pointer intact
    assert(Stage.resolveSnapshot(spark, root, "good_pin").isDefined)
  }

  test("publishRebuild severs previous-version grace at the rebuild boundary") {
    val root = "target/graft-test-stage-rebuild"
    fs(root).delete(new Path(root), true)
    leased(root)(Stage.publishRewrite(_, root, Seq(1L).toDF("v"))) // → v1
    leased(root)(Stage.publishRewrite(_, root, Seq(2L).toDF("v"))) // → v2, v1 grace
    assert(Stage.resolvePrevious(spark, root).contains(s"$root/v00000001"))
    // the REBUILD: new corpus, no cross-corpus previous-serving — the
    // pointer names only v3, and the old corpus's versions are swept now
    leased(root)(Stage.publishRebuild(_, root, Seq(9L).toDF("v")))
    assert(Stage.resolve(spark, root) == s"$root/v00000003")
    assert(Stage.resolvePrevious(spark, root).isEmpty)
    assert(children(root).filter(_.startsWith("v")) == Set("v00000003"))
    assert(values(root) == Set(9L))
    // post-rebuild maintenance re-establishes same-corpus grace
    leased(root)(Stage.publishRewrite(_, root, Seq(10L).toDF("v")))
    assert(Stage.resolvePrevious(spark, root).contains(s"$root/v00000003"))
  }

  test("a stream-born index is versioned from its first batch and pinnable") {
    val idx = "target/graft-test-stream-born-pin"
    fs(idx).delete(new Path(idx), true)
    // NO builder, NO compaction: the first exactly-once batch creates
    // the shell — born versioned, so a snapshot pin works immediately
    Search.appendToTextIndexExactlyOnce(
      Seq((1L, "spark join"), (2L, "spark stream")).toDF("doc_id", "text"),
      idx, batchId = 0L)
    assert(Stage.resolve(spark, s"$idx/postings") ==
      s"$idx/postings/v00000001")
    Search.TextIndex.snapshot(spark, idx, "at_birth")
    def pinned() = Search
      .bm25TopKIndexed(spark, idx, Seq("spark"), 10,
        at = Family.Pinned("at_birth"))
      .collect().map(_.toSeq).toSeq
    val atPin = pinned()
    assert(atPin.nonEmpty)
    // later batches land INTO v1; the file-list pin stays frozen
    Search.appendToTextIndexExactlyOnce(
      Seq((3L, "spark spark spark")).toDF("doc_id", "text"), idx,
      batchId = 1L)
    assert(Search.bm25TopKIndexed(spark, idx, Seq("spark"), 10)
      .collect().map(_.getLong(0)).toSeq.contains(3L))
    assert(pinned() == atPin)
    // and the first compaction (v2) spares the pinned v1
    Search.compactTextIndex(spark, idx)
    assert(pinned() == atPin)
  }

  test("a named snapshot pins its version across publish cycles until dropped") {
    val root = "target/graft-test-stage-snap"
    fs(root).delete(new Path(root), true)
    Seq(1L).toDF("v").write.parquet(root)
    // a root with no pointer has no version to pin — loud failure
    intercept[IllegalStateException] {
      leased(root)(Stage.snapshot(_, root, "good"))
    }
    leased(root)(Stage.publishRewrite(_, root, Seq(2L).toDF("v"))) // → v1
    leased(root)(Stage.snapshot(_, root, "good"))
    assert(Stage.resolveSnapshot(spark, root, "good")
      .contains(s"$root/v00000001"))
    // TWO subsequent publishes — the second would GC v1 without the pin
    leased(root)(Stage.publishRewrite(_, root, Seq(3L).toDF("v"))) // → v2
    leased(root)(Stage.publishRewrite(_, root, Seq(4L).toDF("v"))) // → v3, v1 pinned
    assert(children(root).contains("v00000001"))
    assert(spark.read.parquet(Stage.resolveSnapshot(spark, root, "good").get)
      .collect().map(_.getLong(0)).toSet == Set(2L))
    assert(values(root) == Set(4L))
    // unknown names resolve to None, never dangling paths
    assert(Stage.resolveSnapshot(spark, root, "nope").isEmpty)
    // the health report shows the pin (storage held until dropped)
    val parent = new Path(root).getParent.toString
    assert(Stage.healthReport(spark, parent, Seq(new Path(root).getName))
      .head().getAs[Int]("pinned_versions") == 1)
    // dropping the pin makes the version an ordinary GC candidate
    Stage.dropSnapshot(spark, root, "good")
    leased(root)(Stage.publishRewrite(_, root, Seq(5L).toDF("v"))) // → v4 sweeps v1
    assert(!children(root).contains("v00000001"))
    assert(Stage.resolveSnapshot(spark, root, "good").isEmpty)
  }

  test("a snapshot pins FILES: appends into the live version stay invisible") {
    val idx = "target/graft-test-snap-append"
    fs(idx).delete(new Path(idx), true)
    Search.saveTextIndex(Seq(
      (1L, "spark join spark"),
      (2L, "stream window table")).toDF("doc_id", "text"), idx)
    Search.TextIndex.snapshot(spark, idx, "pinned")
    def serveSnap() = Search
      .bm25TopKIndexed(spark, idx, Seq("spark"), 10,
        at = Family.Pinned("pinned"))
      .collect().map(_.toSeq).toSeq
    val atPin = serveSnap()
    // the append publishes INTO v1 — the directory a naive pin would
    // serve — so only file-list pinning keeps the snapshot frozen
    Search.appendToTextIndexExactlyOnce(
      Seq((3L, "spark spark spark")).toDF("doc_id", "text"), idx,
      batchId = 0L)
    assert(Search.bm25TopKIndexed(spark, idx, Seq("spark"), 10)
      .collect().map(_.getLong(0)).toSeq.contains(3L)) // live sees it
    assert(serveSnap() == atPin) // the pin does not
  }

  test("vacuum reclaims dropped pins immediately, sparing live+grace+pins") {
    val root = "target/graft-test-stage-vacuum"
    fs(root).delete(new Path(root), true)
    // vacuum on a root with no pointer is a no-op
    Seq(1L).toDF("v").write.parquet(root)
    leased(root)(Stage.vacuum(_, root))
    assert(spark.read.parquet(root).count() == 1)
    leased(root)(Stage.publishRewrite(_, root, Seq(2L).toDF("v"))) // → v1
    leased(root)(Stage.snapshot(_, root, "keep"))
    leased(root)(Stage.publishRewrite(_, root, Seq(3L).toDF("v"))) // → v2
    leased(root)(Stage.publishRewrite(_, root, Seq(4L).toDF("v"))) // → v3; v1 pinned
    assert(children(root).contains("v00000001"))
    // pinned + live + grace all survive a vacuum
    leased(root)(Stage.vacuum(_, root))
    assert(children(root).filter(_.startsWith("v")) ==
      Set("v00000001", "v00000002", "v00000003"))
    // dropping the pin + vacuum reclaims NOW — no publish needed
    Stage.dropSnapshot(spark, root, "keep")
    leased(root)(Stage.vacuum(_, root))
    assert(children(root).filter(_.startsWith("v")) ==
      Set("v00000002", "v00000003"))
    assert(values(root) == Set(4L))
  }

  test("restoreSnapshot republishes exactly the pinned FILES as a forward version") {
    val root = "target/graft-test-stage-restore"
    fs(root).delete(new Path(root), true)
    leased(root)(Stage.publishRewrite(_, root, Seq(1L, 2L).toDF("v"))) // → v1
    leased(root)(Stage.snapshot(_, root, "pin"))
    // an append lands new files INTO the live v1 — the pin's file list
    // is now a strict subset of v1's directory, so a pointer-flip
    // restore would resurrect the post-pin batch
    Seq(99L).toDF("v").write.mode("append").parquet(s"$root/v00000001")
    assert(values(root) == Set(1L, 2L, 99L))
    leased(root)(Stage.publishRewrite(_, root, Seq(7L).toDF("v"))) // "bad campaign" → v2
    assert(values(root) == Set(7L))
    leased(root)(Stage.restoreSnapshot(_, root, "pin")) // → v3, copied from the pin
    // the restore serves the PINNED files — not v1's directory
    assert(values(root) == Set(1L, 2L))
    assert(Stage.resolve(spark, root) == s"$root/v00000003")
    // a FORWARD publish: the rolled-back-FROM state is the grace
    // version, so a post-restore validation diff can still serve it
    assert(Stage.resolvePrevious(spark, root).contains(s"$root/v00000002"))
    assert(spark.read.parquet(Stage.resolvePrevious(spark, root).get)
      .collect().map(_.getLong(0)).toSet == Set(7L))
    // the pin survives (restore consumes nothing) — restoring again
    // converges to the same state
    leased(root)(Stage.restoreSnapshot(_, root, "pin")) // → v4
    assert(values(root) == Set(1L, 2L))
    // unknown names fail loudly, and the pointer is untouched
    intercept[IllegalArgumentException] {
      leased(root)(Stage.restoreSnapshot(_, root, "nope"))
    }
    assert(values(root) == Set(1L, 2L))
  }

  test("restoreTextIndex is all-or-nothing and keeps pending tombstones masking") {
    val idx = "target/graft-test-restore-text"
    fs(idx).delete(new Path(idx), true)
    Search.saveTextIndex(Seq(
      (1L, "spark join spark"),
      (2L, "stream window table"),
      (3L, "spark stream join")).toDF("doc_id", "text"), idx)
    Search.TextIndex.snapshot(spark, idx, "pin")
    def live() = Search.bm25TopKIndexed(spark, idx, Seq("spark"), 10)
      .collect().map(_.getLong(0)).toSet
    // a typo'd name fails BEFORE any component is restored
    val boom = intercept[IllegalArgumentException] {
      Search.TextIndex.restore(spark, idx, "npie")
    }
    assert(boom.getMessage.contains("postings"))
    assert(live() == Set(1L, 3L))
    // a post-pin forget whose tombstone is still PENDING keeps masking
    // across the restore — right-to-be-forgotten survives the rollback
    // (restore touches versioned components, never the tombstone dir)
    Search.tombstoneFromTextIndex(spark, idx, Seq(1L).toDF("doc_id"))
    assert(live() == Set(3L))
    Search.TextIndex.restore(spark, idx, "pin")
    assert(live() == Set(3L)) // doc 1 stays masked
    // ...but a COMPACTED (consumed) forget is resurrected by the pin
    Search.compactTextIndex(spark, idx) // consume the tombstone
    Search.TextIndex.restore(spark, idx, "pin")
    assert(live() == Set(1L, 3L))
  }

  test("pendingOps surfaces a crashed publishOnce until its retry commits") {
    val idx = "target/graft-test-pending-ops"
    fs(idx).delete(new Path(idx), true)
    leased(idx)(Stage.publishRebuild(_, s"$idx/counts", Seq((1L, 10L)).toDF("k", "c")))
    def stageOp(opId: String, crashBeforeMarker: Boolean): Unit = {
      if (crashBeforeMarker) {
        // simulate publishOnce dying between the component publish and
        // the marker create: files land under the o<opId>- prefix with
        // no ledger marker
        val tmp = s"$idx/_tmp-stage"
        fs(idx).delete(new Path(tmp), true)
        Seq((2L, -10L)).toDF("k", "c").write.parquet(tmp)
        Stage.publishStaged(fs(idx), new Path(tmp),
          new Path(Stage.resolve(spark, s"$idx/counts")), s"o$opId")
      } else Stage.publishOnce(spark, idx, opId, Seq("counts")) { staging =>
        Seq((2L, -10L)).toDF("k", "c").write.parquet(s"$staging/counts")
      }
    }
    assert(Stage.pendingOps(spark, idx, Seq("counts")).isEmpty)
    stageOp("del_7", crashBeforeMarker = true)
    // the crashed op's effect is VISIBLE but not durable — pendingOps
    // names it, and the health report carries the count
    assert(Stage.pendingOps(spark, idx, Seq("counts")) == Seq("del_7"))
    val health = Stage.healthReport(spark, idx, Seq("counts")).head()
    assert(health.getAs[Int]("uncommitted_ops") == 1)
    assert(health.getAs[Int]("pinned_versions") == 0)
    // the mandated retry (same id) commits the marker; pending clears
    stageOp("del_7", crashBeforeMarker = false)
    assert(Stage.pendingOps(spark, idx, Seq("counts")).isEmpty)
    // and the committed op survives a sweep (it has its marker)
    leased(idx)(Stage.sweepUncommitted(_, idx, Seq("counts")))
    assert(spark.read.parquet(Stage.resolve(spark, s"$idx/counts"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 10L), (2L, -10L)))
  }

  private def col(n: String) = org.apache.spark.sql.functions.col(n)

  test("withWriterLease is mutually exclusive across THREADS of one JVM") {
    // Hadoop LocalFileSystem create(f, false) is exists-then-create, not
    // atomic — two same-process threads could both pass the check under
    // load (the CampaignSpec torn-pin race). The JVM owner registry must
    // make in-process acquisition atomic: across 8 hammering threads,
    // at most ONE may ever be inside the lease body.
    val dir = "target/graft-test-lease-mutex"
    fs(dir).delete(new Path(dir), true)
    val inside = new java.util.concurrent.atomic.AtomicInteger(0)
    val maxInside = new java.util.concurrent.atomic.AtomicInteger(0)
    val acquired = new java.util.concurrent.atomic.AtomicInteger(0)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 8).map(_ => new Thread(() =>
      try {
        var done = 0
        while (done < 25) {
          try {
            Stage.withWriterLease(spark, dir) { _ =>
              val now = inside.incrementAndGet()
              maxInside.accumulateAndGet(now, math.max)
              Thread.sleep(0, 200000) // widen the window
              inside.decrementAndGet()
              acquired.incrementAndGet()
            }
            done += 1
          } catch {
            case e: IllegalStateException
              if e.getMessage.contains("concurrent maintenance") =>
              done += 1 // losing cleanly is an allowed outcome
          }
        }
      } catch { case t: Throwable => errs.add(t) }))
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, errs.toString)
    assert(maxInside.get == 1,
      s"${maxInside.get} writers inside the lease simultaneously")
    assert(acquired.get >= 1) // somebody actually got in
    // the lock is released at the end — a fresh acquire succeeds
    Stage.withWriterLease(spark, dir) { _ => () }
  }
}
