package graft

import graft.ext.{Search, Similarity}
import graft.ops.Family
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Search-operator semantics: BM25 against hand-computed scores, the
  * prefix-filtered APSS against a literal brute-force replay (the lossless
  * claim, exercised on randomized corpora with planted duplicates), and
  * SemDeDup's within-cluster verdicts on a constructed geometry.
  */
class SearchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // ------------------------------------------------------------------ BM25

  test("bm25TopK matches the hand-computed rational-idf scores") {
    val docs = Seq(
      (1L, "spark join spark"),
      (2L, "stream window table"),
      (3L, "the quick fox")).toDF("doc_id", "text")
    val out = Search.bm25TopK(docs, Seq("spark", "join", "window", "stream"),
      k = 10).collect()
    // d3 has no query term: inner tf join drops it
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    val idf = (3.0 - 1.0 + 0.5) / (1.0 + 0.5) // every term: df = 1, N = 3
    def tfPart(tf: Double, dl: Double): Double = // avgdl = 9/3 = 3
      (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl / 3.0)))
    val d1 = idf * tfPart(2, 3) + idf * tfPart(1, 3)
    val d2 = idf * tfPart(1, 3) + idf * tfPart(1, 3)
    val byId = out.map(r => r.getLong(0) -> r).toMap
    assert(math.abs(byId(1L).getAs[Double]("score") - d1) < 1e-12)
    assert(math.abs(byId(2L).getAs[Double]("score") - d2) < 1e-12)
    assert(byId(1L).getAs[Int]("rank") == 1 && byId(2L).getAs[Int]("rank") == 2)
    // the per-term pivot keeps unmatched contributions at exactly 0.0
    assert(byId(2L).getAs[Double]("c_spark") == 0.0)
    assert(byId(1L).getAs[Double]("c_window") == 0.0)
  }

  test("bm25TopK honors k with deterministic doc_id tie-breaks") {
    val docs = (1L to 30L).map(i => (i, "spark table")).toDF("doc_id", "text")
    val out = Search.bm25TopK(docs, Seq("spark"), k = 5).collect()
    // identical scores everywhere: ties resolve by ascending doc_id
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    assert(out.map(_.getAs[Int]("rank")).toSeq == Seq(1, 2, 3, 4, 5))
  }

  test("bm25TopKIndexed serves bit-identical results to fresh compute") {
    val rnd = new scala.util.Random(5)
    val vocab = Vector("spark", "join", "table", "scan", "window", "stream",
      "agg", "sort")
    val docs = (1L to 60L).map { i =>
      val len = 3 + rnd.nextInt(20)
      (i, Vector.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
    val path = "target/graft-test-text-index"
    Search.saveTextIndex(docs, path)
    val fresh = Search.bm25TopK(docs, Seq("spark", "window"), k = 10).collect()
    val served = Search.bm25TopKIndexed(spark, path,
      Seq("spark", "window"), k = 10).collect()
    assert(fresh.map(_.toSeq).toSeq == served.map(_.toSeq).toSeq)
  }

  test("index append and delete serve exactly like fresh builds over the effective corpus") {
    val rnd = new scala.util.Random(13)
    val vocab = Vector("spark", "join", "table", "scan", "window", "stream")
    def corpus(ids: Range) = ids.map { i =>
      (i.toLong, Vector.fill(4 + rnd.nextInt(15))(
        vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val all = corpus(1 to 80)
    val (dayOne, dayTwo) = all.partition(_._1 % 2 == 0)
    val grown = "target/graft-test-index-grown"
    Search.saveTextIndex(dayOne.toDF("doc_id", "text"), grown)
    Search.appendToTextIndex(dayTwo.toDF("doc_id", "text"), grown)
    val fresh = "target/graft-test-index-fresh"
    Search.saveTextIndex(all.toDF("doc_id", "text"), fresh)
    val terms = Seq("spark", "stream")
    assert(Search.bm25TopKIndexed(spark, grown, terms, 15).collect().map(_.toSeq).toSeq ==
      Search.bm25TopKIndexed(spark, fresh, terms, 15).collect().map(_.toSeq).toSeq)

    // delete a third of the docs from the grown index; compare against a
    // fresh build over the survivors
    val deadIds = all.map(_._1).filter(_ % 3 == 0)
    Search.deleteFromTextIndex(spark, grown,
      deadIds.toDF("doc_id"))
    val survivors = "target/graft-test-index-survivors"
    Search.saveTextIndex(
      all.filterNot(d => deadIds.contains(d._1)).toDF("doc_id", "text"),
      survivors)
    val afterDelete = Search.bm25TopKIndexed(spark, grown, terms, 15).collect()
    assert(afterDelete.map(_.toSeq).toSeq ==
      Search.bm25TopKIndexed(spark, survivors, terms, 15).collect().map(_.toSeq).toSeq)
    // and none of the deleted ids can ever surface again
    assert(afterDelete.forall(r => !deadIds.contains(r.getLong(0))))
  }

  test("multi-batch streaming ingest builds an index identical to a fresh build") {
    val rnd = new scala.util.Random(31)
    val vocab = Vector("spark", "join", "table", "scan", "window", "stream")
    val all = (1L to 45L).map { i =>
      (i, Vector.fill(4 + rnd.nextInt(12))(
        vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val src = "target/graft-test-stream-src"
    // three separate files → with maxFilesPerTrigger=1, three real
    // micro-batches, so the summed stats path is actually exercised
    all.grouped(15).zipWithIndex.foreach { case (part, i) =>
      part.toDF("doc_id", "text").coalesce(1)
        .write.mode(if (i == 0) "overwrite" else "append").parquet(src)
    }
    val grown = "target/graft-test-stream-index"
    val ckpt = "target/graft-test-stream-ckpt"
    Seq(grown, ckpt).foreach { dir =>
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
    }
    var batches = 0
    val q = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", 1)
      .parquet(src)
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch((batch: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], _: Long) => {
        batches += 1
        Search.appendToTextIndex(batch, grown)
      })
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(batches >= 3, s"expected >= 3 micro-batches, got $batches")
    val fresh = "target/graft-test-stream-fresh"
    Search.saveTextIndex(all.toDF("doc_id", "text"), fresh)
    val terms = Seq("spark", "stream")
    assert(Search.bm25TopKIndexed(spark, grown, terms, 15).collect().map(_.toSeq).toSeq ==
      Search.bm25TopKIndexed(spark, fresh, terms, 15).collect().map(_.toSeq).toSeq)
  }

  test("exactly-once index append: every replay window is a no-op or a clean redo") {
    import org.apache.hadoop.fs.Path
    val fs = new Path("target").getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val idx = "target/graft-test-xonce-index"
    fs.delete(new Path(idx), true)
    val b0 = Seq((1L, "spark join spark"), (2L, "stream window table"))
      .toDF("doc_id", "text")
    val b1 = Seq((3L, "spark stream"), (4L, "table scan window"))
      .toDF("doc_id", "text")
    val terms = Seq("spark", "stream")
    def served = Search.bm25TopKIndexed(spark, idx, terms, 10)
      .collect().map(_.toSeq).toSeq

    // first batch CREATES the index via its publish
    Search.appendToTextIndexExactlyOnce(b0, idx, batchId = 0L)
    Search.appendToTextIndexExactlyOnce(b1, idx, batchId = 1L)
    val expected = served
    val fresh = "target/graft-test-xonce-fresh"
    Search.saveTextIndex(b0.unionAll(b1), fresh)
    assert(expected ==
      Search.bm25TopKIndexed(spark, fresh, terms, 10).collect().map(_.toSeq).toSeq)

    // window A: marker present (the normal streaming-restart replay) —
    // the whole call is a no-op
    Search.appendToTextIndexExactlyOnce(b1, idx, batchId = 1L)
    assert(served == expected)

    // window B: crash AFTER publish but BEFORE the marker — the retry
    // must wipe the dead attempt's published files and republish without
    // duplicating postings or stats
    fs.delete(new Path(s"$idx/_ledger/batch-1"), false)
    Search.appendToTextIndexExactlyOnce(b1, idx, batchId = 1L)
    assert(served == expected)

    // window C: crash MID-STAGING (partial staging dir, no marker) —
    // the retry wipes and re-stages
    fs.delete(new Path(s"$idx/_ledger/batch-1"), false)
    fs.mkdirs(new Path(s"$idx/_staging/batch-1/postings"))
    fs.create(new Path(s"$idx/_staging/batch-1/postings/part-junk"), true).close()
    Search.appendToTextIndexExactlyOnce(b1, idx, batchId = 1L)
    assert(served == expected)
    assert(!fs.exists(new Path(s"$idx/_staging/batch-1")))
  }

  test("a plain append that fails during its second component publishes nothing; the retry lands whole") {
    import org.apache.hadoop.fs.Path
    val rnd = new scala.util.Random(29)
    val vocab = Vector("spark", "join", "table", "scan", "window", "stream")
    def corpus(ids: Range) = ids.map { i =>
      (i.toLong, Vector.fill(4 + rnd.nextInt(15))(
        vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val (base, extra) = (corpus(1 to 40), corpus(41 to 60))
    val idx = "target/graft-test-index-torn-append"
    val fs = new Path("target").getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(idx), true)
    Search.saveTextIndex(base.toDF("doc_id", "text"), idx)
    val terms = Seq("spark", "stream")
    def serve() = Search.bm25TopKIndexed(spark, idx, terms, 15)
      .collect().map(_.toSeq).toSeq
    def files(p: Path): Seq[String] =
      if (!fs.exists(p)) Nil
      else fs.listStatus(p).toSeq.flatMap(st =>
        if (st.isDirectory) files(st.getPath) else Seq(st.getPath.toString))
    def liveFiles(): Set[String] = Seq("postings", "doclens", "stats")
      .flatMap(c => files(new Path(graft.ops.Stage.resolve(spark, s"$idx/$c"))))
      .toSet
    // the batch's text passes through a nondeterministic UDF that throws
    // on its (n+1)-th call: the postings write evaluates it once per row,
    // so the append fails while writing its SECOND component (doclens)
    TornText.calls.set(0)
    TornText.limit = extra.size
    val flaky = udf((t: String) => TornText.pass(t)).asNondeterministic()
    val batch = extra.toDF("doc_id", "text")
      .select(col("doc_id"), flaky(col("text")).as("text"))
    val before = serve()
    val filesBefore = liveFiles()
    intercept[Exception](Search.appendToTextIndex(batch, idx))
    assert(TornText.calls.get > extra.size, "the failure must hit doclens")
    assert(serve() == before)
    assert(liveFiles() == filesBefore)
    TornText.limit = Int.MaxValue
    Search.appendToTextIndex(batch, idx)
    Search.TextIndex.compact(spark, idx)
    assert(serve() == Search.bm25TopK((base ++ extra).toDF("doc_id", "text"),
      terms, 15).collect().map(_.toSeq).toSeq)
  }

  test("bm25TopKIndexedPrevious serves the pre-delete snapshot") {
    import org.apache.hadoop.fs.Path
    val fs = new Path("target").getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val idx = "target/graft-test-search-prev"
    fs.delete(new Path(idx), true)
    val docs = Seq(
      (1L, "spark join spark"),
      (2L, "stream window table"),
      (3L, "spark stream spark")).toDF("doc_id", "text")
    val terms = Seq("spark", "stream")
    Search.saveTextIndex(docs, idx)
    // a fresh build has no snapshot history — loud failure
    intercept[IllegalStateException] {
      Search.bm25TopKIndexed(spark, idx, terms, 10, at = Family.Previous)
    }
    Search.compactTextIndex(spark, idx) // v1 → v2
    // the compaction's previous snapshot is the build's v1 — and the
    // compaction preserved content, so both serve the same full corpus
    assert(Search.bm25TopKIndexed(spark, idx, terms, 10, at = Family.Previous)
      .collect().map(_.toSeq).toSeq ==
      Search.bm25TopK(docs, terms, 10).collect().map(_.toSeq).toSeq)
    Search.deleteFromTextIndex(spark, idx, Seq(1L).toDF("doc_id")) // → v3
    // previous-serve == fresh compute over the FULL corpus, bit-identical
    assert(Search.bm25TopKIndexed(spark, idx, terms, 10, at = Family.Previous)
      .collect().map(_.toSeq).toSeq ==
      Search.bm25TopK(docs, terms, 10).collect().map(_.toSeq).toSeq)
    // while the live index serves the survivors
    assert(Search.bm25TopKIndexed(spark, idx, terms, 10)
      .collect().map(_.toSeq).toSeq ==
      Search.bm25TopK(docs.where(col("doc_id") =!= 1L), terms, 10)
        .collect().map(_.toSeq).toSeq)
    // the index's other serve path reads the same snapshot: conjunctive
    // search over the previous postings equals pre-delete results
    assert(Search.conjunctiveSearch(spark, idx, Seq("spark"),
      at = Family.Previous)
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 3L))
    assert(Search.conjunctiveSearch(spark, idx, Seq("spark"))
      .collect().map(_.getLong(0)).toSeq == Seq(3L))
    // PENDING tombstones mask the snapshot too (right-to-be-forgotten
    // holds for validation reads)
    Search.tombstoneFromTextIndex(spark, idx, Seq(2L).toDF("doc_id"))
    assert(!Search.bm25TopKIndexed(spark, idx, terms, 10, at = Family.Previous)
      .collect().map(_.getLong(0)).contains(2L))
  }

  test("conjunctiveSearch keeps only documents containing every term") {
    val docs = Seq(
      (1L, "spark join spark window"), // both terms
      (2L, "spark table scan"),        // missing window
      (3L, "window window sort"),      // missing spark
      (4L, "window spark")             // both, once each
    ).toDF("doc_id", "text")
    val path = "target/graft-test-conj-index"
    Search.saveTextIndex(docs, path)
    val out = Search.conjunctiveSearch(spark, path, Seq("spark", "window"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, 2L, 3L), (4L, 2L, 2L)))
  }

  // ------------------------------------------------------------------ APSS

  /** Literal brute force over distinct trigram sets with the same integer
    * threshold — the contract apssCosinePairs must reproduce exactly.
    */
  private def bruteApss(docs: Seq[(Long, String)], tauNum: Int, tauDen: Int)
      : Set[(Long, Long, Long, Long, Long)] = {
    def grams(s: String): Set[String] = {
      val t = s.split(" ", -1)
      if (t.length < 3) Set.empty
      else t.sliding(3).map(_.mkString(" ")).toSet
    }
    val sets = docs.map { case (id, s) => id -> grams(s) }.filter(_._2.nonEmpty)
    (for {
      (ia, ga) <- sets; (ib, gb) <- sets if ia < ib
      dot = (ga & gb).size.toLong
      na = ga.size.toLong; nb = gb.size.toLong
      if tauDen.toLong * tauDen * dot * dot >= tauNum.toLong * tauNum * na * nb
    } yield (ia, ib, na, nb, dot)).toSet
  }

  test("phraseSearchIndexed: adjacency counts, duplicate-term phrases, tombstones") {
    val idx = "target/graft-test-phrase"
    new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(idx), true)
    Search.savePositionalIndex(Seq(
      (1L, "a b a b a"), // "a b" at 0 and 2 (4 has no following b) → 2
      (2L, "b a b"),     // "a b" at 1 → 1
      (3L, "a a b b")    // "a b" at 1 only (0 fails: next is a) → 1
    ).toDF("doc_id", "text"), idx)
    def serve(phrase: String*) =
      Search.phraseSearchIndexed(spark, idx, phrase, k = 10)
        .select("doc_id", "n_occurrences", "rank")
        .as[(Long, Int, Int)].collect().toSeq
    assert(serve("a", "b") == Seq((1L, 2, 1), (2L, 1, 2), (3L, 1, 3)))
    // duplicate term in the phrase: each SLOT joins its own relation
    assert(serve("a", "b", "a") == Seq((1L, 2, 1)))
    // adjacent same-term pair: doc 3's "b b" is a hit, doc 1's
    // alternating "a b a b a" is not
    assert(serve("b", "b") == Seq((3L, 1, 1)))
    // no match anywhere → empty, not an error
    assert(serve("b", "a", "a").isEmpty)
    // pending tombstones mask phrase serves like every other serve path
    Search.tombstoneFromTextIndex(spark, idx, Seq(1L).toDF("doc_id"))
    assert(serve("a", "b") == Seq((2L, 1, 1), (3L, 1, 2)))
  }

  test("positions are a MAINTAINED component: append, exactly-once, delete, compact, restore") {
    val idx = "target/graft-test-phrase-maint"
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(idx), true)
    def doc(id: Long, t: String) = (id, t)
    val built = Seq(doc(1L, "x y z"), doc(2L, "y x y"))
    val docsDF = built.toDF("doc_id", "text")
    Search.saveTextIndex(docsDF, idx)
    Search.savePositionalIndex(docsDF, idx)
    def phrase(p: String*) =
      Search.phraseSearchIndexed(spark, idx, p, k = 10)
        .select("doc_id", "n_occurrences")
        .as[(Long, Int)].collect().toSeq.sorted
    assert(phrase("x", "y") == Seq((1L, 1), (2L, 1)))

    // a plain batch append maintains the positional lists
    Search.appendToTextIndex(Seq(doc(3L, "x y x y")).toDF("doc_id", "text"), idx)
    assert(phrase("x", "y") == Seq((1L, 1), (2L, 1), (3L, 2)))

    // an exactly-once append maintains them too, and a replayed batch
    // id stays a no-op for the positional component as well
    val b4 = Seq(doc(4L, "z x y")).toDF("doc_id", "text")
    Search.appendToTextIndexExactlyOnce(b4, idx, batchId = 77L)
    Search.appendToTextIndexExactlyOnce(b4, idx, batchId = 77L) // replay
    assert(phrase("x", "y") == Seq((1L, 1), (2L, 1), (3L, 2), (4L, 1)))

    // the anti-join delete physically drops the doc's positional rows
    Search.deleteFromTextIndex(spark, idx, Seq(1L).toDF("doc_id"))
    assert(phrase("x", "y") == Seq((2L, 1), (3L, 2), (4L, 1)))

    // a pin covers positions; compaction folds a pending tombstone out
    // of them; restore rolls the positional lists back with the triple
    Search.TextIndex.snapshot(spark, idx, "pre_forget")
    Search.tombstoneFromTextIndex(spark, idx, Seq(3L).toDF("doc_id"))
    Search.compactTextIndex(spark, idx)
    assert(phrase("x", "y") == Seq((2L, 1), (4L, 1)))
    Search.TextIndex.restore(spark, idx, "pre_forget")
    assert(phrase("x", "y") == Seq((2L, 1), (3L, 2), (4L, 1)))

    // bag-of-words serving stayed consistent with the same history
    val bm = Search.bm25TopKIndexed(spark, idx, Seq("x"), k = 10)
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(bm == Seq(2L, 3L, 4L))
  }

  test("stream-born phrase index: enablePositionalIndex + exactly-once birth, pinnable pre-compaction") {
    val idx = "target/graft-test-phrase-born"
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(idx), true)
    Search.enablePositionalIndex(spark, idx)
    Search.appendToTextIndexExactlyOnce(
      Seq((1L, "p q"), (2L, "q p q")).toDF("doc_id", "text"), idx, 5L)
    def phrase() = Search.phraseSearchIndexed(spark, idx, Seq("p", "q"), 10)
      .select("doc_id", "n_occurrences").as[(Long, Int)].collect().toSeq.sorted
    assert(phrase() == Seq((1L, 1), (2L, 1)))
    // all four components are born versioned → a pin works BEFORE any
    // compaction, and keeps serving the birth state across later growth
    Search.TextIndex.snapshot(spark, idx, "birth")
    Search.appendToTextIndexExactlyOnce(
      Seq((3L, "p q p q")).toDF("doc_id", "text"), idx, 6L)
    assert(phrase() == Seq((1L, 1), (2L, 1), (3L, 2)))
    Search.TextIndex.restore(spark, idx, "birth")
    assert(phrase() == Seq((1L, 1), (2L, 1)))
  }

  test("proximitySearchIndexed: window pair counts, min distance, tombstones") {
    val idx = "target/graft-test-proximity"
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(idx), true)
    val docs = Seq(
      (1L, "x q q y q x"), // x@{0,5}, y@{3}: |0-3|=3 out, |5-3|=2 in → (1, 2)
      (2L, "y x"),         // |1-0|=1 → (1, 1)
      (3L, "x y q x y"),   // x@{0,3}, y@{1,4}: dists 1,4,2,1 → ≤2: 3 pairs, min 1
      (4L, "x q q q q q q q y"), // dist 8 > 2: excluded by n_pairs = 0
      (5L, "x x x")        // no y at all: excluded by the join
    ).toDF("doc_id", "text")
    Search.saveTextIndex(docs, idx)
    Search.savePositionalIndex(docs, idx)
    def got() = Search.proximitySearchIndexed(spark, idx, "x", "y",
        maxDist = 2, k = 10)
      .select("doc_id", "n_pairs", "min_dist", "rank")
      .as[(Long, Long, Long, Int)].collect().toSeq
    assert(got() == Seq((3L, 3L, 1L, 1), (1L, 1L, 2L, 2), (2L, 1L, 1L, 3)))
    // pending tombstones mask proximity serves like every serve path
    Search.tombstoneFromTextIndex(spark, idx, Seq(3L).toDF("doc_id"))
    assert(got() == Seq((1L, 1L, 2L, 1), (2L, 1L, 1L, 2)))
  }

  test("savePositionalIndex is born-versioned: a fresh rebuild preserves pins") {
    val idx = "target/graft-test-phrase-rebuild"
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(idx), true)
    val docsDF = Seq((1L, "x y z"), (2L, "y x y"), (3L, "x y x y"))
      .toDF("doc_id", "text")
    Search.saveTextIndex(docsDF, idx)
    Search.savePositionalIndex(docsDF, idx)
    // fresh-built positional component is BORN versioned: v00000001 +
    // pointer exist before any maintenance op
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$idx/positions/_current")))
    def phrase() = Search.phraseSearchIndexed(spark, idx, Seq("x", "y"), 10)
      .select("doc_id", "n_occurrences").as[(Long, Int)].collect().toSeq.sorted
    assert(phrase() == Seq((1L, 1), (2L, 1), (3L, 2)))
    // a delete (a compacting rewrite), then pin the whole
    // four-component state
    Search.deleteFromTextIndex(spark, idx, Seq(1L).toDF("doc_id"))
    Search.TextIndex.snapshot(spark, idx, "pre_rebuild")
    // REBUILD the positional component in place over a different corpus
    // slice — before the publishRebuild change this mode-overwrite wiped
    // positions/' versioned history and dangled the pin
    Search.savePositionalIndex(docsDF.where($"doc_id" === 2L), idx)
    assert(phrase() == Seq((2L, 1)))
    // the pin survived the rebuild: restore rolls positions back with
    // the triple and serves the pre-rebuild state
    Search.TextIndex.restore(spark, idx, "pre_rebuild")
    assert(phrase() == Seq((2L, 1), (3L, 2)))
  }

  test("apssCosinePairs equals brute force on a randomized corpus with planted dups") {
    val rnd = new scala.util.Random(42)
    val vocab = Vector("key", "agg", "row", "scan", "slow", "fast", "table",
      "value", "part", "hash", "merge", "sort")
    val base = (0L until 50L).map { i =>
      val len = 5 + rnd.nextInt(26)
      (i, Vector.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    // planted: two exact duplicates and a one-token edit of doc 0
    val d0 = base.head._2
    val edited = { val t = d0.split(" "); t(t.length / 2) = "edit"; t.mkString(" ") }
    val docs = base ++ Seq((100L, d0), (101L, base(1)._2), (102L, edited))
    val out = Search.apssCosinePairs(docs.toDF("doc_id", "text"), n = 3,
      tauNum = 4, tauDen = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    val brute = bruteApss(docs, 4, 5)
    assert(out == brute, s"engine=${out.size} brute=${brute.size}")
    // the planted exact duplicates must surface (cos = 1)
    assert(out.exists(p => p._1 == 0L && p._2 == 100L))
    assert(out.exists(p => p._1 == 1L && p._2 == 101L))
  }

  test("apssCosinePairs drops sub-n-token documents and self-pairs") {
    val docs = Seq((1L, "a b"), (2L, "a b c d"), (3L, "a b c d"))
      .toDF("doc_id", "text")
    val out = Search.apssCosinePairs(docs, n = 3, tauNum = 4, tauDen = 5)
      .collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((2L, 3L)))
    assert(out.head.getAs[Double]("cos_sim") == 1.0)
  }

  // -------------------------------------------------------------- SemDeDup

  test("semDedup keeps cluster minima and flags within-cluster near-dups only") {
    val cents = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f)),   // cell 0 anchor
      (2L, Seq(0.999f, 0.01f)),// ~cos 1 with id 1 → dup_of 1
      (3L, Seq(0.0f, 1.0f)),   // cell 1 anchor
      (4L, Seq(0.01f, 0.999f)),// ~cos 1 with id 3 → dup_of 3
      (5L, Seq(0.6f, 0.8f))    // cell 1, cos(5,3) = .8, cos(5,4) ≈ .806 → keep
    ).toDF("vec_id", "embedding")
    val out = Similarity.semDedup(vecs, tau = 0.98, dim = 2, nClusters = 2,
      centroidsIn = cents).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2), r.getInt(3)))).toMap
    assert(out(1L) == ((0, -1L, 1)))
    assert(out(2L) == ((0, 1L, 0)))
    assert(out(3L) == ((1, -1L, 1)))
    assert(out(4L) == ((1, 3L, 0)))
    assert(out(5L) == ((1, -1L, 1)))
  }

  test("semDedup duplicate verdicts point at the SMALLEST earlier cluster member") {
    val cents = Array(Array(1.0, 0.0))
    val same = Seq(1.0f, 0.0f)
    val vecs = Seq((7L, same), (3L, same), (9L, same))
      .toDF("vec_id", "embedding")
    val out = Similarity.semDedup(vecs, tau = 0.98, dim = 2, nClusters = 1,
      centroidsIn = cents).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out == Map(3L -> -1L, 7L -> 3L, 9L -> 3L))
  }

  // --------------------------------------------- spell / MLT / n-way RRF

  test("spellCorrections: self at dist 0, nearest wins, df breaks ties") {
    val docs = Seq(
      (1L, "spark sparks charm"), (2L, "spark charm"), (3L, "sparks"))
      .toDF("doc_id", "text")
    val got = Search.spellCorrections(
      docs, Seq("spark", "sparc", "zzzzzz"), maxDist = 2)
      .select("qterm", "corrected", "dist")
      .as[(String, String, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // in-vocabulary: corrects to itself at distance 0
    assert(got("spark") == (("spark", 0)))
    // "sparc" is distance 1 from "spark" (df 2) AND "sparks" would be
    // distance 2 — nearest wins before df even matters
    assert(got("sparc") == (("spark", 1)))
    // nothing within 2 edits: ABSENT, not passed through
    assert(!got.contains("zzzzzz"))
    // full tie: "spakr" is distance 2 from both "spark" (df 2, docs 1-2)
    // and "sparks" (df 2, docs 1 and 3) — dist ties, df ties, the
    // lexicographic term order decides
    val got2 = Search.spellCorrections(docs, Seq("spakr"), maxDist = 2)
      .select("corrected").as[String].head()
    assert(got2 == "spark")
  }

  test("moreLikeThisTerms ranks by (tf DESC, df ASC, term)") {
    val docs = Seq(
      (1L, "alpha alpha beta gamma"),
      (2L, "beta delta"), (3L, "beta gamma")).toDF("doc_id", "text")
    val got = Search.moreLikeThisTerms(docs, srcId = 1L, m = 3)
      .orderBy("term_rank")
      .select("token", "tf", "df").as[(String, Long, Long)].collect().toSeq
    // alpha: tf 2 (wins). beta tf 1 df 3; gamma tf 1 df 2 → gamma first
    assert(got == Seq(("alpha", 2L, 1L), ("gamma", 1L, 2L),
      ("beta", 1L, 3L)))
  }

  test("rrfFuseAll: 3-way fusion hand-checked; 2-way equals rrfFuse") {
    val l1 = Seq((10L, 1), (20L, 2)).toDF("doc_id", "rank")
    val l2 = Seq((20L, 1), (30L, 2)).toDF("doc_id", "rank")
    val l3 = Seq((10L, 1), (30L, 2), (20L, 3)).toDF("doc_id", "rank")
    val got = Search.rrfFuseAll(Seq(l1, l2, l3), "doc_id", k = 10)
      .select("doc_id", "rank_1", "rank_2", "rank_3", "rrf_score", "rank")
      .as[(Long, Long, Long, Long, Double, Int)].collect()
      .map(r => r._1 -> r).toMap
    // doc 20: ranks (2, 1, 3) → 1/62 + 1/61 + 1/63
    val s20 = 1.0 / 62 + 1.0 / 61 + 1.0 / 63
    assert(got(20L)._5 == s20 && got(20L)._6 == 1)
    // doc 10: (1, absent, 1) → 1/61 + 0 + 1/61; absent rank surfaces as 0
    assert(got(10L)._3 == 0L && got(10L)._5 == 1.0 / 61 + 0.0 + 1.0 / 61)
    // two-list call agrees with rrfFuse up to column names
    val a = Search.rrfFuseAll(Seq(l1, l2), "doc_id", k = 10)
      .select("doc_id", "rrf_score", "rank")
      .as[(Long, Double, Int)].collect().sortBy(_._1).toSeq
    val b = Search.rrfFuse(l1, l2, "doc_id", k = 10)
      .select("doc_id", "rrf_score", "rank")
      .as[(Long, Double, Int)].collect().sortBy(_._1).toSeq
    assert(a == b)
  }
}

/** The text source of SearchSpec's failed-append test: passes text
  * through for `limit` calls, then throws. One counter for every task
  * (local mode runs them in this JVM). */
private object TornText {
  val calls = new java.util.concurrent.atomic.AtomicInteger(0)
  @volatile var limit: Int = Int.MaxValue
  def pass(t: String): String =
    if (calls.incrementAndGet() > limit)
      throw new IllegalStateException("injected failure")
    else t
}
