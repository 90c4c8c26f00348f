package graft.tools

import graft.ext.{Dedup, Similarity}
import graft.ops.Tables.t
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
    val spark = {
      val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
      graft.LocalSpark.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    }
    spark.sparkContext.setLogLevel("WARN")

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
    val nExact = exact.count()
    for (bands <- Seq(8, 16)) {
      val t0 = System.nanoTime()
      val lsh = Dedup.minhashPairs(docs, "text", "doc_id", threshold = 0.9,
        bands = bands).select("doc_a", "doc_b")
      val nLsh = lsh.count()
      val dt = (System.nanoTime() - t0) / 1e9
      val missed = exact.except(lsh).count()
      val extra = lsh.except(exact).count()
      println(f"[recall] minhash@0.9 b=$bands: exact=$nExact lsh=$nLsh " +
        f"missed=$missed extra=$extra t=$dt%.2fs")
    }

    // ---- cosineDupPairsLsh on the embeddings table vs exact cross join
    for (th <- Seq(0.8, 0.9)) {
      val emb = t(spark, sfDir, "embeddings")
      val exactCos = Similarity.cosineDupPairsExact(emb, threshold = th)
        .select("id_a", "id_b")
      val lshCos = Similarity.cosineDupPairsLsh(emb, threshold = th, dim = 64)
        .select("id_a", "id_b")
      val m = exactCos.except(lshCos).count()
      val e = lshCos.except(exactCos).count()
      val n = exactCos.count()
      // NOTE: the 16x32 default is tuned for the >=0.98 near-dup regime;
      // at these lower thresholds missed>0 is EXPECTED (boundary recall
      // falls as bands narrow — cosineDupPairsLsh scaladoc), and the
      // interesting reading is whether missed stays confined to pairs
      // far below 0.98
      println(s"[recall] cosineLsh@$th(16x32 default): exact=$n missed=$m extra=$e")
    }

    // ---- topKLsh multi-probe: recall@10 vs brute force, single bucket vs
    // the full Hamming-1 ball (q37's configuration) — same corpus index,
    // query-side fan-out only
    {
      val emb = t(spark, sfDir, "embeddings")
      val qs = emb.where(col("vec_id") < 50)
      val exactTopk = Similarity.topKBruteForce(qs, emb, k = 10)
        .select("query_id", "neighbor_id")
      val nTopk = exactTopk.count()
      val planes = Similarity.samplePlanes(emb, 8)
      for (np <- Seq(1, 9)) {
        val lshTopk = Similarity.topKLsh(qs, emb, k = 10, nBits = 8, dim = 64,
          planes = planes, nProbe = np).select("query_id", "neighbor_id")
        val hit = exactTopk.intersect(lshTopk).count()
        println(f"[recall] topKLsh@10 nProbe=$np: recall=${hit.toDouble / nTopk}%.3f " +
          s"($hit/$nTopk, emitted=${lshTopk.count()})")
      }
    }

    // ---- topKIvfIndexed: recall@10 vs brute force over the index's own
    // (dequantized int8) geometry, nProbe ∈ {1, 4, 8} of 16 lists — the
    // served index's quality knob measured where users turn it. The
    // reference set uses the same dequantized vectors, so the number
    // isolates the nProbe list-truncation loss from quantization error.
    {
      val emb = t(spark, sfDir, "embeddings")
      val deq = emb.select(col("vec_id"),
        Similarity.dequantize(
          Similarity.quantize(col("embedding"), 200.0), 200.0).as("embedding"))
      val qs = deq.where(col("vec_id") < 50)
      val exactTopk = Similarity.topKBruteForce(qs, deq, k = 10)
        .select("query_id", "neighbor_id")
      val nTopk = exactTopk.count()
      val path = "target/graft-recall-ivf"
      Similarity.saveIvfIndex(emb, path, nCentroids = 16, dim = 64,
        quantScale = 200.0, centroidsIn = Similarity.sampleCentroids(deq, 16))
      for (np <- Seq(1, 4, 8, 16)) {
        val got = Similarity
          .topKIvfIndexed(spark, qs, path, k = 10, nProbe = np)
          .select("query_id", "neighbor_id")
        val hit = exactTopk.intersect(got).count()
        println(f"[recall] topKIvfIndexed@10 nProbe=$np/16: " +
          f"recall=${hit.toDouble / nTopk}%.3f ($hit/$nTopk)")
      }
    }

    // ---- q38 vectors: portable hash embedding of documents, LSH vs exact
    val pvecs = docs.select(col("doc_id").as("vec_id"),
      graft.ext.TextAnalysis.portableHashEmbedding(col("text"), 64).as("embedding"))
    val pexact = Similarity.cosineDupPairsExact(pvecs, threshold = 0.98).select("id_a", "id_b")
    val plsh = Similarity.cosineDupPairsLsh(pvecs, threshold = 0.98, dim = 64)
      .select("id_a", "id_b")
    println(s"[recall] portableEmb@0.98: exact=${pexact.count()} " +
      s"missed=${pexact.except(plsh).count()} extra=${plsh.except(pexact).count()}")

    // ---- PQ / IVF-PQ: recall@10 vs exact cosine over the SAME
    // normalized geometry — separates the two loss sources: the flat PQ
    // row is pure quantization distortion (all candidates scanned), the
    // nProbe rows add the IVF probe-miss on top; nProbe=16 == flat-PQ
    // is the full-probe anchor (SimilaritySpec pins it bit-exactly)
    {
      val emb = t(spark, sfDir, "embeddings")
      val qs = emb.where(col("vec_id") < 50)
      val exactTopk = Similarity.topKBruteForce(qs, emb, k = 10)
        .select("query_id", "neighbor_id")
      val nTopk = exactTopk.count()
      val cb = Similarity.pqCodebooks(emb, m = 8, nCent = 16, dim = 64)
      val cents = Similarity.sampleCentroids(emb, 16)
      val flat = Similarity.pqTopK(qs, emb, k = 10, dim = 64, cb)
        .select("query_id", "neighbor_id")
      val fh = exactTopk.intersect(flat).count()
      println(f"[recall] pqTopK@10 (flat ADC): recall=${fh.toDouble / nTopk}%.3f ($fh/$nTopk)")
      for (np <- Seq(1, 4, 8, 16)) {
        val got = Similarity.ivfPqTopK(qs, emb, k = 10, dim = 64, cb,
          centroidsIn = cents, nProbe = np)
          .select("query_id", "neighbor_id")
        val hit = exactTopk.intersect(got).count()
        println(f"[recall] ivfPqTopK@10 nProbe=$np/16: " +
          f"recall=${hit.toDouble / nTopk}%.3f ($hit/$nTopk)")
      }
      // exact re-ranking recovers what the shortlist retains
      for (fetch <- Seq(20, 50, 100)) {
        val got = Similarity.pqTopKRerank(qs, emb, k = 10, fetch = fetch,
          dim = 64, codebooks = cb).select("query_id", "neighbor_id")
        val hit = exactTopk.intersect(got).count()
        println(f"[recall] pqTopKRerank@10 fetch=$fetch: " +
          f"recall=${hit.toDouble / nTopk}%.3f ($hit/$nTopk)")
      }
      // trained codebooks (q156): does Lloyd refinement move ADC recall
      // on this geometry? (random embeddings cluster poorly — the row
      // calibrates the knob next to the frozen-sample anchor above)
      for (iters <- Seq(1, 3)) {
        val tcb = Similarity.trainPqCodebooks(emb, m = 8, nCent = 16,
          dim = 64, iters = iters)
        val got = Similarity.pqTopK(qs, emb, k = 10, dim = 64, tcb)
          .select("query_id", "neighbor_id")
        val hit = exactTopk.intersect(got).count()
        println(f"[recall] pqTopK@10 trained iters=$iters: " +
          f"recall=${hit.toDouble / nTopk}%.3f ($hit/$nTopk)")
      }
      // trained coarse cells (q158) vs the sample cells above: the IVF
      // probe-miss at equal nProbe is the quantity training improves
      val tc = Similarity.trainCentroidsPortable(emb, 16, 64, iters = 3)
      for (np <- Seq(1, 4, 8)) {
        val got = Similarity.topKIvf(qs, emb, k = 10, dim = 64,
          nProbe = np, centroidsIn = tc)
          .select("query_id", "neighbor_id")
        val hit = exactTopk.intersect(got).count()
        println(f"[recall] topKIvf@10 trained(3) nProbe=$np/16: " +
          f"recall=${hit.toDouble / nTopk}%.3f ($hit/$nTopk)")
      }
    }

    // ---- q52 vectors: chunk-hash media embedding, LSH vs exact
    val blobs = graft.ext.Multimodal.withFakeBlob(docs, "text")
    val mvecs = graft.ext.Multimodal.embedMedia(spark, blobs)
    val mexact = Similarity.cosineDupPairsExact(mvecs, threshold = 0.98).select("id_a", "id_b")
    val mlsh = Similarity.cosineDupPairsLsh(mvecs, threshold = 0.98, dim = 64)
      .select("id_a", "id_b")
    println(s"[recall] mediaEmb@0.98: exact=${mexact.count()} " +
      s"missed=${mexact.except(mlsh).count()} extra=${mlsh.except(mexact).count()}")

    spark.stop()
  }
}
