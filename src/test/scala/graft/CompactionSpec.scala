package graft

import graft.ext.{Dedup, Search, Similarity}
import graft.ops.Stage
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The compaction contract for every persisted index family: after a run
  * of per-batch appends, compaction must (1) strictly reduce the data
  * file count and (2) leave served results bit-identical — compaction is
  * a storage-layout change, never a semantic one.
  */
class CompactionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fs =
    new Path("target").getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Recursive parquet data-file count of a component's LIVE version —
    * the product code's own fragmentation probe, so the spec measures
    * exactly what the auto-compaction trigger measures. */
  private def dataFiles(root: String): Int = Stage.fragmentation(spark, root)

  test("compactTextIndex: fewer files, one stats row, identical serving") {
    val idx = "target/graft-test-compact-text"
    fs.delete(new Path(idx), true)
    val mk = (r: Range, t: String) => r.map(i => (i.toLong, t))
    Search.saveTextIndex(
      mk(1 to 5, "spark join stream").toDF("doc_id", "text"), idx)
    // a streaming ingest's trail: several exactly-once batches
    Search.appendToTextIndexExactlyOnce(
      mk(10 to 14, "window table spark").toDF("doc_id", "text"), idx, 1L)
    Search.appendToTextIndexExactlyOnce(
      mk(20 to 24, "stream stream scan").toDF("doc_id", "text"), idx, 2L)
    Search.appendToTextIndexExactlyOnce(
      mk(30 to 34, "join spark window").toDF("doc_id", "text"), idx, 3L)
    val terms = Seq("spark", "stream", "window")
    def serve() = (
      Search.bm25TopKIndexed(spark, idx, terms, 25).collect().map(_.toSeq).toSeq,
      Search.conjunctiveSearch(spark, idx, Seq("spark", "window"))
        .collect().map(_.toSeq).toSeq)
    val before = serve()
    val filesBefore = Seq("postings", "doclens", "stats")
      .map(c => dataFiles(s"$idx/$c"))
    assert(dataFiles(s"$idx/stats") >= 4) // one additive row set per batch
    Search.compactTextIndex(spark, idx)
    val filesAfter = Seq("postings", "doclens", "stats")
      .map(c => dataFiles(s"$idx/$c"))
    assert(filesAfter.zip(filesBefore).forall { case (a, b) => a < b },
      s"expected fewer files per component, got $filesBefore -> $filesAfter")
    assert(dataFiles(s"$idx/stats") == 1) // additive rows folded into one
    assert(serve() == before)
    // compacted index keeps working for later appends + deletes
    Search.appendToTextIndexExactlyOnce(
      mk(40 to 41, "spark scan").toDF("doc_id", "text"), idx, 4L)
    Search.deleteFromTextIndex(spark, idx, Seq(1L).toDF("doc_id"))
    val fresh = "target/graft-test-compact-text-fresh"
    fs.delete(new Path(fresh), true)
    Search.saveTextIndex(
      (mk(2 to 5, "spark join stream") ++ mk(10 to 14, "window table spark") ++
        mk(20 to 24, "stream stream scan") ++ mk(30 to 34, "join spark window") ++
        mk(40 to 41, "spark scan")).toDF("doc_id", "text"), fresh)
    assert(Search.bm25TopKIndexed(spark, idx, terms, 25)
      .collect().map(_.toSeq).toSeq ==
      Search.bm25TopKIndexed(spark, fresh, terms, 25)
        .collect().map(_.toSeq).toSeq)
  }

  test("compactIvfIndex: fewer files, identical content and serving") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val deq = emb.select(col("vec_id"),
      Similarity.dequantize(
        Similarity.quantize(col("embedding"), 200.0), 200.0).as("embedding"))
    val cents = Similarity.sampleCentroids(deq, 8)
    val idx = "target/graft-test-compact-ivf"
    fs.delete(new Path(idx), true)
    Similarity.saveIvfIndex(emb.where(col("vec_id") % 3 === 0), idx,
      nCentroids = 8, dim = 64, quantScale = 200.0, centroidsIn = cents)
    Similarity.appendToIvfIndex(
      emb.where(col("vec_id") % 3 === 1), idx, batchId = Some(1L))
    Similarity.appendToIvfIndex(
      emb.where(col("vec_id") % 3 === 2), idx, batchId = Some(2L))
    def content() = spark.read.parquet(Stage.resolve(spark, s"$idx/lists"))
      .select(col("vec_id"), col("centroid"), col("code"))
      .as[(Long, Int, Seq[Byte])].collect()
      .map { case (v, c, cd) => (v, c, cd.toList) }
      .sortBy(t => (t._1, t._2)).toList
    val qset = deq.where(col("vec_id") < 5)
    def serve() = Similarity.topKIvfIndexed(spark, qset, idx, k = 5)
      .select("query_id", "neighbor_id", "cos_sim", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    val (contentBefore, serveBefore) = (content(), serve())
    val filesBefore = dataFiles(s"$idx/lists")
    Similarity.IvfIndex.compact(spark, idx)
    assert(dataFiles(s"$idx/lists") < filesBefore,
      s"expected fewer list files, got $filesBefore -> ${dataFiles(s"$idx/lists")}")
    assert(content() == contentBefore)
    assert(serve() == serveBefore)
  }

  test("compactMinhashManifest: fewer files, identical probe verdicts") {
    val path = "target/graft-test-compact-manifest"
    fs.delete(new Path(path), true)
    val texts = Seq(
      "alpha beta gamma delta epsilon zeta",
      "completely different subject matter entirely here",
      "stock markets fluctuate wildly according to indicators",
      "gardening tips for growing tomatoes in temperate climates",
      "astronomy telescopes observe distant galaxies at night",
      "submarine cables carry intercontinental network traffic")
    Dedup.saveMinhashManifest(
      Seq((1L, texts(0)), (2L, texts(1))).toDF("doc_id", "text"),
      "text", "doc_id", path, k = 32, bands = 16)
    Dedup.appendToMinhashManifest(
      Seq((3L, texts(2)), (4L, texts(3))).toDF("doc_id", "text"),
      "text", "doc_id", path, batchId = Some(1L))
    Dedup.appendToMinhashManifest(
      Seq((5L, texts(4)), (6L, texts(5))).toDF("doc_id", "text"),
      "text", "doc_id", path, batchId = Some(2L))
    def probe() = Dedup.incrementalNearDups(
      texts.zipWithIndex.map { case (t, i) => (100L + i, t) }
        .:+((200L, "a wholly novel probe document text"))
        .toDF("doc_id", "text"),
      path, "text", "doc_id", 0.9)
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).sortBy(_._1).toSeq
    val before = probe()
    assert(before.count(_._2) == texts.size) // all known content flags
    val filesBefore = Seq("docs", "bands").map(c => dataFiles(s"$path/$c"))
    Dedup.MinhashManifest.compact(spark, path)
    val filesAfter = Seq("docs", "bands").map(c => dataFiles(s"$path/$c"))
    assert(filesAfter.zip(filesBefore).forall { case (a, b) => a < b },
      s"expected fewer files per table, got $filesBefore -> $filesAfter")
    assert(probe() == before)
  }

  test("autoCompact wrappers (IVF/manifest/LM): threshold gates the rewrite") {
    // the text-index wrapper's trigger/no-op contract is pinned in
    // StageSpec; this covers the other three families' wrappers
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val deq = emb.select(col("vec_id"),
      Similarity.dequantize(
        Similarity.quantize(col("embedding"), 200.0), 200.0).as("embedding"))
    val ivf = "target/graft-test-autocompact-ivf"
    fs.delete(new Path(ivf), true)
    Similarity.saveIvfIndex(emb.where(col("vec_id") % 2 === 0), ivf,
      nCentroids = 8, dim = 64, quantScale = 200.0,
      centroidsIn = Similarity.sampleCentroids(deq, 8))
    Similarity.appendToIvfIndex(
      emb.where(col("vec_id") % 2 === 1), ivf, batchId = Some(1L))
    def serveIvf() = Similarity.topKIvfIndexed(spark,
      deq.where(col("vec_id") < 5), ivf, k = 5)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    val ivfBefore = serveIvf()
    val ivfFrag = Stage.fragmentation(spark, s"$ivf/lists")
    assert(!Similarity.IvfIndex.autoCompact(spark, ivf, 10000)) // below: no-op
    assert(Stage.fragmentation(spark, s"$ivf/lists") == ivfFrag)
    assert(Similarity.IvfIndex.autoCompact(spark, ivf, 1)) // above: rewrite
    assert(Stage.fragmentation(spark, s"$ivf/lists") < ivfFrag)
    assert(serveIvf() == ivfBefore)

    val man = "target/graft-test-autocompact-man"
    fs.delete(new Path(man), true)
    Dedup.saveMinhashManifest(
      Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text"),
      "text", "doc_id", man, k = 32, bands = 16)
    Dedup.appendToMinhashManifest(
      Seq((2L, "totally different content here")).toDF("doc_id", "text"),
      "text", "doc_id", man, batchId = Some(1L))
    def probeMan() = Dedup.incrementalNearDups(
      Seq((10L, "alpha beta gamma delta")).toDF("doc_id", "text"),
      man, "text", "doc_id", 0.9)
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).toSeq
    val manBefore = probeMan()
    assert(!Dedup.MinhashManifest.autoCompact(spark, man, 10000))
    assert(Dedup.MinhashManifest.autoCompact(spark, man, 1))
    assert(probeMan() == manBefore)

    val lm = "target/graft-test-autocompact-lm"
    fs.delete(new Path(lm), true)
    graft.ext.Corpus.saveLm(
      Seq((1L, "a b c"), (2L, "b c d")).toDF("doc_id", "text"),
      "text", "doc_id", lm)
    graft.ext.Corpus.appendToLm(
      Seq((3L, "c d e")).toDF("doc_id", "text"), lm, "text", "doc_id",
      opId = "auto1")
    def scoreLm() = graft.ext.Corpus.lmPerplexityIndexed(
      Seq((9L, "a b c d e")).toDF("doc_id", "text"), lm, "text", "doc_id")
      .collect().map(_.toSeq).toSeq
    val lmBefore = scoreLm()
    assert(!graft.ext.Corpus.Lm.autoCompact(spark, lm, 10000))
    assert(graft.ext.Corpus.Lm.autoCompact(spark, lm, 1))
    assert(scoreLm() == lmBefore)
  }
}
