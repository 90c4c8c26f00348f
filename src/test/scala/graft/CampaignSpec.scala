package graft

import graft.ext.{Campaign, Corpus, Dedup, Search, Similarity}
import graft.ext.Campaign.Member
import graft.ops.{Family, Stage}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The cross-family campaign-snapshot contract
  * ([[graft.ext.Campaign]]): one name pins several index families at
  * one logical instant; maintenance on every member afterwards is
  * invisible through the pin; a failed pin never leaves a partial
  * campaign; drop + vacuum release the storage.
  */
class CampaignSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fs(p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def wipe(ps: String*): Unit =
    ps.foreach(p => fs(p).delete(new Path(p), true))

  private val docRows = Seq(
    (1L, "spark join spark table"),
    (2L, "stream window table spark"),
    (3L, "spark stream spark join"),
    (4L, "window join table stream"),
    (5L, "spark join spark table"), // near-dup of 1
    (6L, "alpha beta gamma delta"))

  test("one campaign pin survives maintenance on every member family") {
    val text = "target/graft-test-campaign-text"
    val mani = "target/graft-test-campaign-mani"
    val lm = "target/graft-test-campaign-lm"
    wipe(text, mani, lm)
    val docs = docRows.toDF("doc_id", "text")
    Search.saveTextIndex(docs, text)
    Search.compactTextIndex(spark, text) // → v2
    Dedup.saveMinhashManifest(docs.where(col("doc_id") <= 4),
      "text", "doc_id", mani, k = 16, bands = 8)
    Dedup.MinhashManifest.compact(spark, mani) // → v2
    Corpus.saveLm(docs.where(col("doc_id") <= 4), "text", "doc_id", lm)
    val members = Seq(Member(Search.TextIndex, text),
      Member(Dedup.MinhashManifest, mani), Member(Corpus.Lm, lm))
    val probe = docs.where(col("doc_id") >= 5)
    def served() = (
      Search.bm25TopKIndexed(spark, text, Seq("spark"), 10,
        at = Family.Pinned("rel"))
        .collect().map(_.toSeq).toSeq,
      Dedup.incrementalNearDups(probe, mani, "text",
        "doc_id", at = Family.Pinned("rel")).collect().map(_.toSeq).toSeq,
      Corpus.lmPerplexityIndexed(probe, lm, "text",
        "doc_id", at = Family.Pinned("rel")).collect().map(_.toSeq).toSeq)
    Campaign.snapshot(spark, "rel", members)
    val atPin = served()
    assert(atPin._1.nonEmpty && atPin._2.nonEmpty && atPin._3.nonEmpty)
    // doc 5 IS a near-dup of manifest doc 1 at pin time — the verdict
    // the later content-forget will flip on the live manifest
    assert(atPin._2.find(_.head == (5L: Any)).get.last == (true: Any))
    // maintenance on ALL THREE members
    Search.deleteFromTextIndex(spark, text, Seq(1L).toDF("doc_id"))
    Search.compactTextIndex(spark, text)
    Dedup.deleteContentFromMinhashManifest(
      docs.where(col("doc_id") === 1), "text", mani)
    Dedup.MinhashManifest.compact(spark, mani)
    Corpus.appendToLm(docs.where(col("doc_id") === 6), lm, "text",
      "doc_id", opId = "grow6")
    Corpus.Lm.compact(spark, lm)
    // live state diverged...
    assert(!Search.bm25TopKIndexed(spark, text, Seq("spark"), 10)
      .collect().map(_.getLong(0)).contains(1L))
    assert(Dedup.incrementalNearDups(probe, mani, "text", "doc_id")
      .where(col("doc_id") === 5).head().getAs[Boolean]("is_near_dup")
      == false)
    // ...the pin did not
    assert(served() == atPin)
    // drop + vacuum: the name stops resolving and storage reclaims
    Campaign.drop(spark, "rel", members)
    Campaign.vacuum(spark, members)
    intercept[IllegalStateException] {
      Search.bm25TopKIndexed(spark, text, Seq("spark"), 10,
        at = Family.Pinned("rel"))
    }
  }

  test("Campaign.restore rolls every member back to the pin at one instant") {
    val text = "target/graft-test-campaign-rs-text"
    val mani = "target/graft-test-campaign-rs-mani"
    val lm = "target/graft-test-campaign-rs-lm"
    wipe(text, mani, lm)
    val docs = docRows.toDF("doc_id", "text")
    Search.saveTextIndex(docs, text)
    Search.compactTextIndex(spark, text)
    Dedup.saveMinhashManifest(docs.where(col("doc_id") <= 4),
      "text", "doc_id", mani, k = 16, bands = 8)
    Dedup.MinhashManifest.compact(spark, mani)
    Corpus.saveLm(docs.where(col("doc_id") <= 4), "text", "doc_id", lm)
    val members = Seq(Member(Search.TextIndex, text),
      Member(Dedup.MinhashManifest, mani), Member(Corpus.Lm, lm))
    val probe = docs.where(col("doc_id") >= 5)
    // the LIVE serve paths — what production reads between campaigns
    def servedLive() = (
      Search.bm25TopKIndexed(spark, text, Seq("spark"), 10)
        .collect().map(_.toSeq).toSeq,
      Dedup.incrementalNearDups(probe, mani, "text", "doc_id")
        .collect().map(_.toSeq).toSeq,
      Corpus.lmPerplexityIndexed(probe, lm, "text", "doc_id")
        .collect().map(_.toSeq).toSeq)
    Campaign.snapshot(spark, "rel", members)
    val atPin = servedLive()
    // a destructive campaign on ALL THREE members, fully compacted so
    // nothing pending masks and the tombstones are CONSUMED
    Search.deleteFromTextIndex(spark, text, Seq(1L).toDF("doc_id"))
    Search.compactTextIndex(spark, text)
    Dedup.deleteContentFromMinhashManifest(
      docs.where(col("doc_id") === 1), "text", mani)
    Dedup.MinhashManifest.compact(spark, mani)
    Corpus.appendToLm(docs.where(col("doc_id") === 6), lm, "text",
      "doc_id", opId = "grow6")
    Corpus.Lm.compact(spark, lm)
    assert(servedLive() != atPin) // the campaign changed what serves
    // ONE restore call returns all three to the pinned instant
    Campaign.restore(spark, "rel", members)
    assert(servedLive() == atPin)
    // the pins survive a restore — a second rollback still works
    Search.deleteFromTextIndex(spark, text, Seq(3L).toDF("doc_id"))
    Search.compactTextIndex(spark, text)
    Campaign.restore(spark, "rel", members)
    assert(servedLive() == atPin)
    Campaign.drop(spark, "rel", members)
  }

  test("Campaign.restore is all-or-nothing: a member missing the pin restores nothing") {
    val text = "target/graft-test-campaign-rs2-text"
    val text2 = "target/graft-test-campaign-rs2-text2"
    wipe(text, text2)
    val docs = docRows.toDF("doc_id", "text")
    Search.saveTextIndex(docs, text)
    Search.compactTextIndex(spark, text)
    Search.saveTextIndex(docs, text2)
    Search.compactTextIndex(spark, text2)
    // pin only ONE member under the name
    Campaign.snapshot(spark, "rel", Seq(Member(Search.TextIndex, text)))
    Search.deleteFromTextIndex(spark, text, Seq(1L).toDF("doc_id"))
    Search.compactTextIndex(spark, text)
    def live() = Search.bm25TopKIndexed(spark, text, Seq("spark"), 10)
      .collect().map(_.getLong(0)).toSet
    assert(live() == Set(2L, 3L, 5L)) // "spark" docs minus the deleted 1
    // restoring a campaign that CLAIMS both members must fail up front —
    // and the member that DOES carry the pin must not be restored
    val boom = intercept[IllegalArgumentException] {
      Campaign.restore(spark, "rel", Seq(Member(Search.TextIndex, text),
        Member(Search.TextIndex, text2)))
    }
    assert(boom.getMessage.contains(text2))
    assert(live() == Set(2L, 3L, 5L)) // text untouched by the failed restore
    Campaign.drop(spark, "rel", Seq(Member(Search.TextIndex, text)))
  }

  test("a failed member pin rolls back the whole campaign") {
    val text = "target/graft-test-campaign-rb-text"
    val mani = "target/graft-test-campaign-rb-mani"
    wipe(text, mani)
    val docs = docRows.toDF("doc_id", "text")
    // the text index was never built → no version to pin → its pin must
    // fail; the manifest pins fine — and sorts FIRST by path, so its pin
    // lands before the text failure
    Dedup.saveMinhashManifest(docs, "text", "doc_id", mani, 16, 8)
    intercept[IllegalStateException] {
      Campaign.snapshot(spark, "rel", Seq(Member(Search.TextIndex, text),
        Member(Dedup.MinhashManifest, mani)))
    }
    // ...and the manifest pin taken before the failure is rolled back:
    // the name resolves NOWHERE (never a partial campaign)
    assert(Stage.resolveSnapshot(spark, s"$mani/docs", "rel").isEmpty)
    assert(Stage.resolveSnapshot(spark, s"$mani/bands", "rel").isEmpty)
    // no leases left behind either — the next op acquires freely
    Stage.withWriterLease(spark, text) { _ => () }
    Stage.withWriterLease(spark, mani) { _ => () }
  }

  test("a failed RE-pin restores the previous campaign instead of destroying it") {
    val mani = "target/graft-test-campaign-rp-mani"
    val text = "target/graft-test-campaign-rp-text"
    wipe(mani, text)
    val docs = docRows.toDF("doc_id", "text")
    Dedup.saveMinhashManifest(docs.where(col("doc_id") <= 4),
      "text", "doc_id", mani, 16, 8)
    // campaign v1 over the manifest alone, name 'rel'
    Campaign.snapshot(spark, "rel", Seq(Member(Dedup.MinhashManifest, mani)))
    val probe = docs.where(col("doc_id") >= 5)
    val v1 = Dedup.incrementalNearDups(probe, mani,
      "text", "doc_id", at = Family.Pinned("rel")).collect().map(_.toSeq).toSeq
    // maintenance moves the live state past the pin
    Dedup.deleteContentFromMinhashManifest(
      docs.where(col("doc_id") === 1), "text", mani)
    // a REFRESH of 'rel' adds a member whose pin must fail (a text
    // index never built, so it has no version to pin); the manifest's
    // 'rel' pin is OVERWRITTEN before the text failure (manifest sorts
    // first). The old rollback dropped 'rel' everywhere — destroying
    // campaign v1; now the prior pin bytes are restored, so v1 keeps
    // serving bit-identically.
    intercept[IllegalStateException] {
      Campaign.snapshot(spark, "rel", Seq(
        Member(Dedup.MinhashManifest, mani), Member(Search.TextIndex, text)))
    }
    val after = Dedup.incrementalNearDups(probe, mani,
      "text", "doc_id", at = Family.Pinned("rel")).collect().map(_.toSeq).toSeq
    assert(after == v1, "prior campaign pin must survive a failed refresh")
    // the member that never had the pin stays unpinned
    assert(Stage.resolveSnapshot(spark, s"$text/postings", "rel").isEmpty)
    Campaign.drop(spark, "rel", Seq(Member(Dedup.MinhashManifest, mani)))
  }

  test("member order does not matter: acquisition is by sorted path") {
    val a = "target/graft-test-campaign-ord-a"
    val b = "target/graft-test-campaign-ord-b"
    wipe(a, b)
    val docs = docRows.toDF("doc_id", "text")
    Search.saveTextIndex(docs, a)
    Search.compactTextIndex(spark, a)
    Search.saveTextIndex(docs, b)
    Search.compactTextIndex(spark, b)
    // two campaigns over the same members in OPPOSITE declaration order
    // both succeed (same sorted acquisition order — no lock inversion)
    Campaign.snapshot(spark, "x", Seq(
      Member(Search.TextIndex, a), Member(Search.TextIndex, b)))
    Campaign.snapshot(spark, "y", Seq(
      Member(Search.TextIndex, b), Member(Search.TextIndex, a)))
    assert(Search.bm25TopKIndexed(spark, a, Seq("spark"), 10,
      at = Family.Pinned("y"))
      .count() > 0)
    Campaign.drop(spark, "x", Seq(
      Member(Search.TextIndex, a), Member(Search.TextIndex, b)))
    Campaign.drop(spark, "y", Seq(
      Member(Search.TextIndex, a), Member(Search.TextIndex, b)))
  }

  test("a pin racing live exactly-once ingest never records a torn file set") {
    // the attack the root-lease serialization exists for: each ingest
    // batch publishes one b<id>-* file into EACH of postings/doclens/
    // stats; a pin landing mid-publish would freeze a file list where
    // some components carry batch N and others don't — BM25 over that
    // state silently drops or misweights the torn batch. The lease
    // makes pin and publish mutually exclusive, so every pin must see
    // batch-ATOMIC file sets across all three components.
    val idx = "target/graft-test-campaign-race"
    wipe(idx)
    Search.saveTextIndex(docRows.toDF("doc_id", "text"), idx)
    Search.compactTextIndex(spark, idx) // versioned → pinnable
    val stopIngest = new java.util.concurrent.atomic.AtomicBoolean(false)
    val ingestErr = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val committed = new java.util.concurrent.atomic.AtomicLong(0L)
    val ingester = new Thread(() => {
      try while (!stopIngest.get && committed.get < 60) {
        val b = committed.get
        // losing the root lease to a pin is the designed outcome —
        // retry the same batch, exactly as a streaming sink would. Two
        // messages express it: "concurrent maintenance" (lease refused at
        // acquire) and the lease-reclaim fencing rejection (lease
        // acquired, then the heartbeat starved past the staleness window
        // under CPU contention and the pin reclaimed it mid-publish — the
        // rejected batch's markerless files are swept, the ledger never
        // committed, so replaying the same batchId stays exactly-once).
        // The OTHER fencing rejection — a commit fence already claimed by
        // a different writer — would mean a double commit by this single
        // ingester, so it is not tolerated.
        try {
          Search.appendToTextIndexExactlyOnce(
            Seq((100L + b, s"spark batchtok$b")).toDF("doc_id", "text"),
            idx, batchId = b)
          committed.incrementAndGet()
        } catch {
          case e: IllegalStateException
            if e.getMessage.contains("concurrent maintenance") ||
               e.getMessage.contains(
                 "no longer carries this writer's acquire token") => ()
        }
      } catch { case e: Throwable => ingestErr.set(e) }
    })
    def batchIds(comp: String, name: String): Set[String] = {
      val files = graft.ops.Stage
        .resolveSnapshotFiles(spark, s"$idx/$comp", name).get._2
      files.map(_.split('/').last)
        .filter(_.startsWith("b")).map(_.takeWhile(_ != '-')).toSet
    }
    ingester.start()
    var pins = 0
    try {
      for (k <- 0 until 12) {
        val name = s"race_$k"
        // the family pin (root lease inside) racing the ingest thread:
        // IllegalStateException "concurrent maintenance" is an allowed
        // outcome (the lease refusing to interleave) — a torn pin is not
        try {
          Search.TextIndex.snapshot(spark, idx, name)
          val p = batchIds("postings", name)
          val d = batchIds("doclens", name)
          val s = batchIds("stats", name)
          assert(p == d && d == s,
            s"torn pin $name: postings=$p doclens=$d stats=$s")
          Search.TextIndex.dropSnapshot(spark, idx, name)
          pins += 1
        } catch {
          case e: IllegalStateException
            if e.getMessage.contains("concurrent maintenance") => ()
        }
      }
      // twelve metadata-only pins can all finish before the first ingest
      // job does: let the ingester land a batch before it is stopped
      val deadline = System.nanoTime() + 120L * 1000000000L
      while (committed.get < 1 && ingestErr.get == null &&
             System.nanoTime() < deadline) Thread.sleep(50)
    } finally { stopIngest.set(true); ingester.join() }
    assert(ingestErr.get == null, s"ingest died: ${ingestErr.get}")
    // the torn-pin checks above are vacuous unless both sides made
    // progress: some batch committed and some pin landed
    assert(committed.get >= 1, "no ingest batch ever committed")
    assert(pins >= 1, "none of the 12 pins succeeded")
  }

  test("an IVF member pins and serves with the rest of the campaign") {
    val spark2 = spark
    import spark2.implicits._
    val ivf = "target/graft-test-campaign-ivf"
    val text = "target/graft-test-campaign-ivf-text"
    wipe(ivf, text)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val deq = emb.select(col("vec_id"),
      graft.ext.Similarity.dequantize(
        graft.ext.Similarity.quantize(col("embedding"), 200.0), 200.0)
        .as("embedding"))
    graft.ext.Similarity.saveIvfIndex(emb, ivf, nCentroids = 8, dim = 64,
      quantScale = 200.0,
      centroidsIn = graft.ext.Similarity.sampleCentroids(deq, 8))
    Search.saveTextIndex(docRows.toDF("doc_id", "text"), text)
    Search.compactTextIndex(spark, text)
    val members = Seq(Member(Similarity.IvfIndex, ivf),
      Member(Search.TextIndex, text))
    Campaign.snapshot(spark, "rel", members)
    val qset = deq.where(col("vec_id") < 3)
    def pinned() = graft.ext.Similarity
      .topKIvfIndexed(spark, qset, ivf, k = 5, at = Family.Pinned("rel"))
      .collect().map(_.toSeq).toSet
    val atPin = pinned()
    assert(atPin.nonEmpty)
    // maintenance on the IVF member after the pin is invisible through it
    graft.ext.Similarity.deleteFromIvfIndex(spark, ivf,
      emb.where(pmod(col("vec_id"), lit(3)) === 1).select("vec_id"))
    graft.ext.Similarity.IvfIndex.compact(spark, ivf)
    assert(pinned() == atPin)
    Campaign.drop(spark, "rel", members)
    Campaign.vacuum(spark, members)
    intercept[IllegalStateException] { pinned() }
  }

  test("a PQ member pins and serves with the rest of the campaign") {
    val pq = "target/graft-test-campaign-pq"
    val text = "target/graft-test-campaign-pq-text"
    wipe(pq, text)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    graft.ext.Similarity.savePqIndex(emb, pq, m = 8, nCent = 16, dim = 64)
    Search.saveTextIndex(docRows.toDF("doc_id", "text"), text)
    Search.compactTextIndex(spark, text)
    val members = Seq(Member(Similarity.PqIndex, pq),
      Member(Search.TextIndex, text))
    Campaign.snapshot(spark, "rel", members)
    val qset = emb.where(col("vec_id") < 3)
    def pinned() = graft.ext.Similarity
      .pqTopKIndexed(spark, qset, pq, k = 5, at = Family.Pinned("rel"))
      .collect().map(_.toSeq).toSet
    val atPin = pinned()
    assert(atPin.nonEmpty)
    // maintenance on the PQ member after the pin is invisible through it
    graft.ext.Similarity.deleteFromPqIndex(spark, pq,
      emb.where(pmod(col("vec_id"), lit(3)) === 1).select("vec_id"))
    assert(pinned() == atPin)
    // cross-family restore brings the deleted codes back
    Campaign.restore(spark, "rel", members)
    val live = graft.ext.Similarity
      .pqTopKIndexed(spark, qset, pq, k = 5)
      .collect().map(_.toSeq).toSet
    assert(live == atPin)
    Campaign.drop(spark, "rel", members)
    Campaign.vacuum(spark, members)
    intercept[IllegalStateException] { pinned() }
  }

  test("a binary-index member pins and serves with the rest of the campaign") {
    val bi = "target/graft-test-campaign-binary"
    val text = "target/graft-test-campaign-binary-text"
    wipe(bi, text)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    graft.ext.Similarity.saveBinaryIndex(emb, bi, dim = 64)
    Search.saveTextIndex(docRows.toDF("doc_id", "text"), text)
    Search.compactTextIndex(spark, text)
    val members = Seq(Member(Similarity.BinaryIndex, bi),
      Member(Search.TextIndex, text))
    Campaign.snapshot(spark, "rel", members)
    val qset = emb.where(col("vec_id") < 3)
    def pinned() = graft.ext.Similarity
      .binaryTopKIndexed(spark, qset, emb, bi, k = 5, at = Family.Pinned("rel"))
      .collect().map(_.toSeq).toSet
    val atPin = pinned()
    assert(atPin.nonEmpty)
    // maintenance on the binary member after the pin is invisible through it
    graft.ext.Similarity.deleteFromBinaryIndex(spark, bi,
      emb.where(pmod(col("vec_id"), lit(3)) === 1).select("vec_id"))
    assert(pinned() == atPin)
    // cross-family restore brings the deleted signatures back
    Campaign.restore(spark, "rel", members)
    val live = graft.ext.Similarity
      .binaryTopKIndexed(spark, qset, emb, bi, k = 5)
      .collect().map(_.toSeq).toSet
    assert(live == atPin)
    Campaign.drop(spark, "rel", members)
    Campaign.vacuum(spark, members)
    intercept[IllegalStateException] { pinned() }
  }

  test("a winnow-manifest member pins and serves with the rest of the campaign") {
    val wm = "target/graft-test-campaign-winnow"
    val text = "target/graft-test-campaign-winnow-text"
    wipe(wm, text)
    val run = "golden ratio spiral sequence fibonacci lattice prime harmonic"
    val corpus = Seq((1L, s"aa bb cc $run dd"), (2L, "mm nn oo pp qq rr ss"))
      .toDF("doc_id", "text")
    val probe = Seq((3L, s"gg hh $run ii jj")).toDF("doc_id", "text")
    graft.ext.Dedup.saveWinnowManifest(corpus, "text", "doc_id", wm)
    Search.saveTextIndex(docRows.toDF("doc_id", "text"), text)
    Search.compactTextIndex(spark, text)
    val members = Seq(Member(Dedup.WinnowManifest, wm),
      Member(Search.TextIndex, text))
    Campaign.snapshot(spark, "rel", members)
    def pinned() = graft.ext.Dedup
      .probeWinnowOverlap(probe, wm, at = Family.Pinned("rel"))
      .collect().map(_.toSeq).toSet
    val atPin = pinned()
    assert(atPin.nonEmpty)
    // a post-pin forget is invisible through the pin...
    graft.ext.Dedup.deleteFromWinnowManifest(spark, wm, Seq(1L).toDF("doc_id"))
    assert(pinned() == atPin)
    // ...but visible live; cross-family restore undoes it
    val forgotten = graft.ext.Dedup.probeWinnowOverlap(probe, wm)
      .select("flagged").collect().map(_.getBoolean(0)).toSeq
    assert(forgotten == Seq(false))
    Campaign.restore(spark, "rel", members)
    val live = graft.ext.Dedup.probeWinnowOverlap(probe, wm)
      .collect().map(_.toSeq).toSet
    assert(live == atPin)
    Campaign.drop(spark, "rel", members)
    Campaign.vacuum(spark, members)
    intercept[IllegalStateException] { pinned() }
  }

  test("campaign healthReport unions every member's rows under family/root") {
    val text = "target/graft-test-campaign-health-text"
    val lm = "target/graft-test-campaign-health-lm"
    wipe(text, lm)
    val docs = docRows.toDF("doc_id", "text")
    Search.saveTextIndex(docs, text)
    Corpus.saveLm(docs.where(col("doc_id") <= 4), "text", "doc_id", lm)
    val rep = Campaign.healthReport(spark, Seq(
      Member(Search.TextIndex, text), Member(Corpus.Lm, lm)))
    // one row per (member, component): 3 text components + 2 LM
    val rows = rep.collect()
    assert(rows.length == 5)
    assert(rep.columns.take(3).toSeq ==
      Seq("family", "root", "component"))
    val byFam = rows.groupBy(_.getString(0)).view.mapValues(_.length).toMap
    assert(byFam == Map("text_index" -> 3, "lm" -> 2))
    // the per-family columns survive the union (lock introspection incl.)
    assert(rep.columns.contains("writer_lock_stale_frac"))
    assert(rows.forall(r => r.getAs[String]("root").nonEmpty))
  }

  test("campaign members with duplicate roots are rejected loudly") {
    intercept[IllegalArgumentException] {
      Campaign.snapshot(spark, "rel", Seq(
        Member(Search.TextIndex, "target/x"),
        Member(Search.TextIndex, "target/x")))
    }
  }
}
