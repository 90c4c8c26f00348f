package graft.tools

import graft.ext.{Dedup, Similarity}
import graft.ops.Tables.t
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool: compare LSH-candidate operators against their exact
  * brute-force duals on the real testdata — the measurement behind every
  * "this approximate query has an exact oracle" claim. For a FIXED dataset
  * and fixed signature constants the comparison is deterministic: either
  * the candidate stage has recall 1 on this data (emitted set == exact
  * set, so the DuckDB oracle may assert full equality) or it hasn't.
  *
  * `runMain graft.tools.RecallCheck [sfDir]`
  */
object RecallCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val spark = graft.LocalSpark.fromEnv()
    /** Print how the approximate pair set `got` misses or over-reports
      * the `exact` one (both two-column id-pair relations). */
    def pairs(tag: String, exact: DataFrame, got: DataFrame): Unit =
      println(s"[recall] $tag: exact=${exact.count()} emitted=${got.count()} " +
        s"missed=${exact.except(got).count()} extra=${got.except(exact).count()}")
    val emb = t(spark, sfDir, "embeddings")
    val qs = emb.where(col("vec_id") < 50)
    val topk = Similarity.topKBruteForce(qs, emb, k = 10)
      .select("query_id", "neighbor_id")
    /** Print recall@10 of `got` against `exactTopk`. */
    def recall(tag: String, got: DataFrame,
               exactTopk: DataFrame = topk): Unit = {
      val n = exactTopk.count()
      val hit = exactTopk.intersect(got.select("query_id", "neighbor_id")).count()
      println(f"[recall] $tag: recall=${hit.toDouble / n}%.3f ($hit/$n)")
    }

    // ---- minhashPairs vs exact unigram-Jaccard self-join (threshold 0.9)
    val docs = t(spark, sfDir, "documents")
    val toks = docs.select(col("doc_id").as("doc"),
      array_sort(array_distinct(transform(split(col("text"), " "),
        x => xxhash64(x)))).as("toks"))
    val exact = toks.select(col("doc").as("doc_a"), col("toks").as("ta"))
      .crossJoin(toks.select(col("doc").as("doc_b"), col("toks").as("tb")))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        graft.functions.SetExpressions.sortedSetJaccard(col("ta"), col("tb")).as("j"))
      .where(col("j") >= 0.9)
      .select("doc_a", "doc_b")
    for (bands <- Seq(8, 16))
      pairs(s"minhash@0.9 b=$bands", exact,
        Dedup.minhashPairs(docs, "text", "doc_id", threshold = 0.9,
          bands = bands).select("doc_a", "doc_b"))

    // ---- cosineDupPairsLsh on the embeddings table vs exact cross join.
    // The 16x32 default is tuned for the >=0.98 near-dup regime; at these
    // lower thresholds missed>0 is EXPECTED (boundary recall falls as
    // bands narrow — cosineDupPairsLsh scaladoc), and the interesting
    // reading is whether missed stays confined to pairs far below 0.98
    for (th <- Seq(0.8, 0.9))
      pairs(s"cosineLsh@$th(16x32 default)",
        Similarity.cosineDupPairsExact(emb, threshold = th).select("id_a", "id_b"),
        Similarity.cosineDupPairsLsh(emb, threshold = th, dim = 64)
          .select("id_a", "id_b"))

    // ---- topKLsh multi-probe: recall@10 vs brute force, single bucket vs
    // the full Hamming-1 ball (q37's configuration) — same corpus index,
    // query-side fan-out only
    val planes = Similarity.samplePlanes(emb, 8)
    for (np <- Seq(1, 9))
      recall(s"topKLsh@10 nProbe=$np", Similarity.topKLsh(qs, emb, k = 10,
        nBits = 8, dim = 64, planes = planes, nProbe = np))

    // ---- topKIvfIndexed: recall@10 vs brute force over the index's own
    // (dequantized int8) geometry, nProbe ∈ {1, 4, 8} of 16 lists — the
    // served index's quality knob measured where users turn it. The
    // reference set uses the same dequantized vectors, so the number
    // isolates the nProbe list-truncation loss from quantization error.
    {
      val deq = emb.select(col("vec_id"),
        Similarity.dequantize(
          Similarity.quantize(col("embedding"), 200.0), 200.0).as("embedding"))
      val dqs = deq.where(col("vec_id") < 50)
      val exactTopk = Similarity.topKBruteForce(dqs, deq, k = 10)
        .select("query_id", "neighbor_id")
      val path = "target/graft-recall-ivf"
      Similarity.saveIvfIndex(emb, path, nCentroids = 16, dim = 64,
        quantScale = 200.0, centroidsIn = Similarity.sampleCentroids(deq, 16))
      for (np <- Seq(1, 4, 8, 16))
        recall(s"topKIvfIndexed@10 nProbe=$np/16",
          Similarity.topKIvfIndexed(spark, dqs, path, k = 10, nProbe = np),
          exactTopk)
    }

    // ---- q38 vectors: portable hash embedding of documents, LSH vs exact
    val pvecs = docs.select(col("doc_id").as("vec_id"),
      graft.ext.TextAnalysis.portableHashEmbedding(col("text"), 64).as("embedding"))
    pairs("portableEmb@0.98",
      Similarity.cosineDupPairsExact(pvecs, threshold = 0.98).select("id_a", "id_b"),
      Similarity.cosineDupPairsLsh(pvecs, threshold = 0.98, dim = 64)
        .select("id_a", "id_b"))

    // ---- PQ / IVF-PQ: recall@10 vs exact cosine over the SAME
    // normalized geometry — separates the two loss sources: the flat PQ
    // row is pure quantization distortion (all candidates scanned), the
    // nProbe rows add the IVF probe-miss on top; nProbe=16 == flat-PQ
    // is the full-probe anchor (SimilaritySpec pins it bit-exactly)
    val cb = Similarity.pqCodebooks(emb, m = 8, nCent = 16, dim = 64)
    val cents = Similarity.sampleCentroids(emb, 16)
    recall("pqTopK@10 (flat ADC)",
      Similarity.pqTopK(qs, emb, k = 10, dim = 64, cb))
    for (np <- Seq(1, 4, 8, 16))
      recall(s"ivfPqTopK@10 nProbe=$np/16", Similarity.ivfPqTopK(qs, emb,
        k = 10, dim = 64, cb, centroidsIn = cents, nProbe = np))
    // exact re-ranking recovers what the shortlist retains
    for (fetch <- Seq(20, 50, 100))
      recall(s"pqTopKRerank@10 fetch=$fetch", Similarity.pqTopKRerank(qs,
        emb, k = 10, fetch = fetch, dim = 64, codebooks = cb))
    // trained codebooks (q156): does Lloyd refinement move ADC recall
    // on this geometry? (random embeddings cluster poorly — the row
    // calibrates the knob next to the frozen-sample anchor above)
    for (iters <- Seq(1, 3))
      recall(s"pqTopK@10 trained iters=$iters", Similarity.pqTopK(qs, emb,
        k = 10, dim = 64, Similarity.trainPqCodebooks(emb, m = 8, nCent = 16,
          dim = 64, iters = iters)))
    // trained coarse cells (q158) vs the sample cells above: the IVF
    // probe-miss at equal nProbe is the quantity training improves
    val tc = Similarity.trainCentroidsPortable(emb, 16, 64, iters = 3)
    for (np <- Seq(1, 4, 8))
      recall(s"topKIvf@10 trained(3) nProbe=$np/16", Similarity.topKIvf(qs,
        emb, k = 10, dim = 64, nProbe = np, centroidsIn = tc))

    // ---- q52 vectors: chunk-hash media embedding, LSH vs exact
    val mvecs = graft.ext.Multimodal.embedMedia(spark,
      graft.ext.Multimodal.withFakeBlob(docs, "text"))
    pairs("mediaEmb@0.98",
      Similarity.cosineDupPairsExact(mvecs, threshold = 0.98).select("id_a", "id_b"),
      Similarity.cosineDupPairsLsh(mvecs, threshold = 0.98, dim = 64)
        .select("id_a", "id_b"))

    spark.stop()
  }
}
