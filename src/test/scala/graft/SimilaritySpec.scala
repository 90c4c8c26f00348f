package graft

import graft.ext.Similarity
import graft.functions.VectorExpressions
import graft.ops.Family
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** ANN operators: the codegen DotProduct must agree bit-for-bit with the
  * interpreted higher-order-function form (they share the fold order), and
  * the LSH path must find what brute force finds for co-bucketed vectors.
  */
class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("DotProduct equals the known value and the interpreted HOF form") {
    val df = Seq((Seq(1.0f, 2.0f, 3.0f), Seq(4.0f, 5.0f, 6.0f))).toDF("a", "b")
    val got = df.select(
      VectorExpressions.dot(col("a"), col("b")).as("native"),
      aggregate(zip_with(col("a").cast("array<double>"),
        col("b").cast("array<double>"), _ * _), lit(0.0), _ + _).as("hof"))
      .as[(Double, Double)].collect().head
    assert(got._1 == 32.0 && got._2 == 32.0)

    val rnd = new scala.util.Random(3)
    val vecs = Seq.fill(50)((Seq.fill(64)(rnd.nextFloat()), Seq.fill(64)(rnd.nextFloat())))
    val both = vecs.toDF("a", "b").select(
      VectorExpressions.dot(col("a"), col("b")),
      aggregate(zip_with(col("a").cast("array<double>"),
        col("b").cast("array<double>"), _ * _), lit(0.0), _ + _))
      .as[(Double, Double)].collect()
    assert(both.forall { case (n, h) => n == h }) // bit-identical, not approx
  }

  test("binarySignWords packs sign bits across the 63-bit word boundary") {
    // dim 64 → two words: dims 1..63 → word0 bits 0..62, dim 64 → word1
    // bit 0. Plant signs at the boundary positions.
    val v = Array.tabulate(64)(i =>
      if (i == 0 || i == 62 || i == 63) 1.0 else -1.0)
    val got = Seq(Tuple1(v.toSeq)).toDF("v")
      .select(Similarity.binarySignWords(col("v"), 64))
      .collect().head.getSeq[Long](0)
    assert(got == Seq((1L << 0) | (1L << 62), 1L))
    assert(got.forall(_ >= 0L)) // non-negative words, the portable contract
    // zeros and negatives both pack as 0 bits (strict > 0)
    val z = Seq(Tuple1(Seq.fill(64)(0.0)))
      .toDF("v").select(Similarity.binarySignWords(col("v"), 64))
      .collect().head.getSeq[Long](0)
    assert(z == Seq(0L, 0L))
  }

  test("binaryTopK ≡ plain-Scala sign-Hamming + exact-rerank reference") {
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 60L).map(i =>
      i -> Array.fill(16)(rnd.nextDouble() * 2 - 1))
    val df = vecs.map { case (id, v) => (id, v.toSeq) }
      .toDF("vec_id", "embedding")
    val got = Similarity.binaryTopK(df.where(col("vec_id") < 5), df,
        k = 5, overfetch = 3, dim = 16)
      .collect()
      .map(r => (r.getLong(0), r.getInt(4)) ->
        ((r.getLong(1), r.getLong(2)))).toMap
    // independent reference: one word at dim 16
    def word(v: Array[Double]): Long =
      v.zipWithIndex.foldLeft(0L) { case (a, (x, j)) =>
        if (x > 0) a | (1L << j) else a }
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        s += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      s / (math.sqrt(na) * math.sqrt(nb))
    }
    val byId = vecs.toMap
    for (q <- 0L until 5L) {
      val qw = word(byId(q))
      val cand = vecs.filter(_._1 != q)
        .map { case (id, v) =>
          (id, java.lang.Long.bitCount(qw ^ word(v))) }
        .sortBy { case (id, h) => (h, id) }.take(15)
      val want = cand
        .map { case (id, h) => (id, h.toLong, cos(byId(q), byId(id))) }
        .sortBy { case (id, _, c) => (-c, id) }.take(5)
      want.zipWithIndex.foreach { case ((id, h, _), i) =>
        assert(got((q, i + 1)) == ((id, h)),
          s"query $q rank ${i + 1}: got ${got((q, i + 1))}, want ($id, $h)")
      }
    }
  }

  test("binary index lifecycle: grown == fresh union build, delete == survivors, pins hold") {
    val fs = new org.apache.hadoop.fs.Path("target").getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val path = "target/graft-test-binary-idx"
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    val rnd = new scala.util.Random(21)
    val vecs = (0L until 40L).map(i =>
      (i, Seq.fill(16)(rnd.nextDouble() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val queries = vecs.where(col("vec_id") < 3)
    def serve() = Similarity.binaryTopKIndexed(spark, queries, vecs, path,
        k = 5, overfetch = 3)
      .collect().map(r =>
        (r.getLong(0), r.getInt(4)) -> ((r.getLong(1), r.getLong(2)))).toMap
    // build even half + append odd half == fresh inline scan of the union
    Similarity.saveBinaryIndex(
      vecs.where(pmod(col("vec_id"), lit(2)) === 0), path, dim = 16)
    Similarity.appendToBinaryIndex(
      vecs.where(pmod(col("vec_id"), lit(2)) === 1), path)
    val inline = Similarity.binaryTopK(queries, vecs, k = 5,
        overfetch = 3, dim = 16)
      .collect().map(r =>
        (r.getLong(0), r.getInt(4)) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(serve() == inline)
    // pin, delete a slice, compact: the live serve equals a fresh build
    // over the survivors; the pin keeps serving the pre-delete state
    Similarity.BinaryIndex.snapshot(spark, path, "pre_del")
    val atPin = serve()
    Similarity.deleteFromBinaryIndex(spark, path,
      vecs.where(pmod(col("vec_id"), lit(10)) === 7).select("vec_id"))
    // previous-vs-live diff sees the deletion (run BEFORE compaction —
    // compaction would supersede the pre-delete state as "previous")
    val diff = Similarity.binaryMaintenanceDiff(spark, queries, vecs, path,
        k = 5, overfetch = 3)
      .collect().map(_.getString(6))
    assert(diff.toSet.subsetOf(Set("dropped", "entered", "moved", "held")))
    Similarity.BinaryIndex.compact(spark, path)
    val survivors = vecs.where(pmod(col("vec_id"), lit(10)) =!= 7)
    val fresh = Similarity.binaryTopK(queries, survivors, k = 5,
        overfetch = 3, dim = 16)
      .collect().map(r =>
        (r.getLong(0), r.getInt(4)) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(serve() == fresh)
    val pinned = Similarity.binaryTopKIndexed(spark, queries, vecs,
        path, k = 5, overfetch = 3, at = Family.Pinned("pre_del"))
      .collect().map(r =>
        (r.getLong(0), r.getInt(4)) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(pinned == atPin)
    Similarity.BinaryIndex.dropSnapshot(spark, path, "pre_del")
  }

  test("DotProduct is null-safe and handles empty arrays") {
    val df = Seq(
      (Some(Seq(1.0, 2.0)), Some(Seq(3.0, 4.0))),
      (None, Some(Seq(1.0))),
      (Some(Seq.empty[Double]), Some(Seq.empty[Double])))
      .toDF("a", "b")
    val got = df.select(VectorExpressions.dot(col("a"), col("b"))).collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0))).toSeq
    assert(got == Seq(Some(11.0), None, Some(0.0)))
  }

  test("brute-force top-k ranks by cosine with id tie-break") {
    // query 0 = unit x; corpus: aligned, diagonal, orthogonal, opposite
    val vecs = Seq(
      0L -> Seq(1.0f, 0.0f),
      1L -> Seq(2.0f, 0.0f),    // cos 1.0
      2L -> Seq(1.0f, 1.0f),    // cos ~0.707
      3L -> Seq(0.0f, 1.0f),    // cos 0
      4L -> Seq(-1.0f, 0.0f))   // cos -1
      .toDF("vec_id", "embedding")
    val out = Similarity.topKBruteForce(
      vecs.where(col("vec_id") === 0L), vecs, k = 3)
      .orderBy("rank")
      .select("neighbor_id", "cos_sim", "rank").as[(Long, Double, Int)].collect()
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L))
    assert(out(0)._2 == 1.0)
    assert(math.abs(out(1)._2 - math.sqrt(0.5)) < 1e-12)
    assert(out(2)._2 == 0.0)
  }

  test("mmrTopK diversifies: redundancy penalty skips the near-copy") {
    // query = unit x. Candidates 1 and 2 are near-copies of each other
    // at the same relevance to q; 3 has the SAME relevance but a
    // different azimuth (low sim to 1). Plain top-2 takes both copies;
    // MMR at λ = 0.5 takes one copy, then 3 — the copy's redundancy
    // (cos ≈ 1 to pick #1) beats its relevance edge, 3's doesn't
    // (cos(3,1) ≈ 0.81).
    val vecs = Seq(
      0L -> Seq(1.0f, 0.0f, 0.0f),
      1L -> Seq(0.9f, 0.435f, 0.0f),
      2L -> Seq(0.9f, 0.436f, 0.0f), // near-copy of 1
      3L -> Seq(0.9f, 0.0f, 0.436f)) // same relevance, other azimuth
      .toDF("vec_id", "embedding")
    val q = vecs.where($"vec_id" === 0L)
    val plain = Similarity.topKBruteForce(q, vecs, k = 2)
      .orderBy("rank").select("neighbor_id").as[Long].collect().toSeq
    assert(plain == Seq(1L, 2L))
    val mmr = Similarity.mmrTopK(q, vecs, k = 2, fetch = 3)
      .orderBy("rank")
      .select("neighbor_id", "cos_sim", "mmr_score", "rank")
      .as[(Long, Double, Double, Int)].collect().toSeq
    assert(mmr.map(_._1) == Seq(1L, 3L))
    // first pick is plain top-1 with score = λ·cos (empty selection)
    assert(mmr(0)._3 == 0.5 * mmr(0)._2)
    // λ = 1 degenerates to plain top-k order
    val lam1 = Similarity.mmrTopK(q, vecs, k = 3, fetch = 3, lam = 1.0)
      .orderBy("rank").select("neighbor_id").as[Long].collect().toSeq
    assert(lam1 == Seq(1L, 2L, 3L))
    // k beyond the candidate pool returns the whole pool, no more
    assert(Similarity.mmrTopK(q, vecs, k = 3, fetch = 3).count() == 3L)
  }

  test("mmrTopK works with STRING ids: full k rows, same geometry picks") {
    // the greedy previously cast ids to long: string ids became NULL,
    // the selected-set `exists` went NULL, and every query silently
    // returned ONE row instead of k
    val vecs = Seq(
      "q0" -> Seq(1.0f, 0.0f, 0.0f),
      "n1" -> Seq(0.9f, 0.435f, 0.0f),
      "n2" -> Seq(0.9f, 0.436f, 0.0f),
      "n3" -> Seq(0.9f, 0.0f, 0.436f))
      .toDF("vec_id", "embedding")
    val q = vecs.where($"vec_id" === "q0")
    val mmr = Similarity.mmrTopK(q, vecs, k = 2, fetch = 3)
      .orderBy("rank").select("neighbor_id").as[String].collect().toSeq
    assert(mmr == Seq("n1", "n3"), mmr.toString) // same picks as long ids
  }

  test("PQ encode/train exclude zero vectors instead of poisoning the index") {
    // a zero embedding normalizes to all-NaN: the argmin would keep its
    // -1 sentinel, persist it, and every later ADC serve would die on
    // element_at(codes, 0); training would AIOOBE on the driver
    val vecs = (Seq(99L -> Seq.fill(8)(0.0f)) ++
      (0L until 20L).map(i => i -> Seq.tabulate(8)(d =>
        math.sin(i * 1.7 + d).toFloat)))
      .toDF("vec_id", "embedding")
    val cb = Similarity.trainPqCodebooks(vecs, m = 2, nCent = 4, dim = 8,
      iters = 2) // must not throw
    val codes = Similarity.pqCodes(vecs, dim = 8, cb).collect()
    assert(codes.length == 20) // the zero vector is excluded, not encoded
    assert(codes.forall(_.getSeq[Int](1).forall(_ >= 0)))
  }

  test("quantize/dequantize: int8 round trip bounded by half a code, clamped") {
    val vecs = Seq((1L, Seq(0.1f, -0.3f, 0.45f, -0.52f, 5.0f, -5.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val scale = 200.0
    val out = vecs.select(
        Similarity.quantize(col("embedding"), scale).as("q"),
        Similarity.dequantize(
          Similarity.quantize(col("embedding"), scale), scale).as("dq"))
      .as[(Seq[Byte], Seq[Double])].collect().head
    // codes: floor(x·200 + 0.5), clamped to [-128, 127]
    assert(out._1 == Seq[Byte](20, -60, 90, -104, 127, -128, 0))
    // round-trip error ≤ 1/(2·scale) wherever no clamping occurred
    val orig = Seq(0.1f, -0.3f, 0.45f, -0.52f).map(_.toDouble)
    orig.zip(out._2).foreach { case (x, d) =>
      assert(math.abs(x - d) <= 0.5 / scale + 1e-12, s"$x vs $d")
    }
  }

  test("quantized store composes through the IVF index with high recall") {
    // the two scale levers together: 4x-smaller int8 vectors flowing
    // through the same IVF operator unchanged. On the real embeddings
    // fixture, quantized-IVF top-5 must agree with exact-float32
    // brute-force top-5 on >= 80% of neighbor slots.
    val emb = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val deq = emb.select(col("vec_id"),
      Similarity.dequantize(
        Similarity.quantize(col("embedding"), 200.0), 200.0).as("embedding"))
    val qset = deq.where(col("vec_id") < 5)
    val ivf = Similarity.topKIvf(qset, deq, k = 5, dim = 64,
        centroidsIn = Similarity.trainCentroids(deq, 16, 64))
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val exact = Similarity.topKBruteForce(
        emb.where(col("vec_id") < 5), emb, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val overlap = ivf.intersect(exact).size
    assert(overlap >= (exact.size * 0.8).toInt,
      s"quantized-IVF recall $overlap/${exact.size}")
  }

  test("IVF index round-trips: train → save → load → identical top-k") {
    val spark = TestSpark.spark
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = Similarity.trainCentroids(emb, 16, 64)
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "graft-ivf-rt-").toString
    Similarity.saveIvfIndex(emb, dir, nCentroids = 16, dim = 64,
      centroidsIn = cents)
    val qset = emb.where(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "neighbor_id", "cos_sim", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    val direct = rows(Similarity.topKIvf(qset, emb, k = 5, dim = 64,
      centroidsIn = cents))
    val (servedDf, jobs) = JobCount(spark)(
      Similarity.topKIvfIndexed(spark, qset, dir, k = 5))
    // building the serve reads meta and centroids, one job each: sorting
    // the centroids with orderBy before the collect added a range-partition
    // sample job and a shuffle
    assert(jobs == 2, s"$jobs jobs")
    val served = rows(servedDf)
    assert(served == direct, "index-served top-k must equal the direct IVF")
    // loaded centroids survive the round trip bit-exactly
    val loaded = spark.read.parquet(
        graft.ops.Stage.resolve(spark, s"$dir/centroids")).orderBy("centroid")
      .select("vec").as[Seq[Double]].collect().map(_.toArray)
    assert(loaded.length == 16 &&
      loaded.zip(cents).forall { case (a, b) => a.sameElements(b) })
  }

  test("quantized IVF index stores int8 codes and serves the quantized geometry") {
    val spark = TestSpark.spark
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val deq = emb.select(col("vec_id"),
      Similarity.dequantize(
        Similarity.quantize(col("embedding"), 200.0), 200.0).as("embedding"))
    val cents = Similarity.sampleCentroids(deq, 16)
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "graft-ivf-q-").toString
    Similarity.saveIvfIndex(emb, dir, nCentroids = 16, dim = 64,
      quantScale = 200.0, centroidsIn = cents)
    // the lists really hold int8 codes — the 4x storage lever is real
    val codeType = spark.read.parquet(
      graft.ops.Stage.resolve(spark, s"$dir/lists")).schema("code").dataType
    assert(codeType.isInstanceOf[org.apache.spark.sql.types.ArrayType] &&
      codeType.asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType ==
        org.apache.spark.sql.types.ByteType, codeType)
    // serving equals direct IVF over the dequantized vectors
    val qset = deq.where(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "neighbor_id", "cos_sim", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    val direct = rows(Similarity.topKIvf(qset, deq, k = 5, dim = 64,
      centroidsIn = cents))
    val served = rows(Similarity.topKIvfIndexed(spark, qset, dir, k = 5))
    assert(served == direct)
  }

  test("knnClassify votes the majority neighbor label with a stable tiebreak") {
    // query 0 points at +x; labels among its 4 neighbors: 7 twice (ids 1,2),
    // 9 twice (ids 3,4) — a 2-2 tie must break toward the SMALLER label 7.
    // With k=3 the vote is 7:2 vs 9:1 — an outright majority.
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f), 5),
      (1L, Seq(2.0f, 0.0f), 7),    // cos 1.0
      (2L, Seq(1.0f, 0.1f), 7),    // cos ~0.995
      (3L, Seq(1.0f, 0.2f), 9),    // cos ~0.981
      (4L, Seq(1.0f, 0.3f), 9))    // cos ~0.958
      .toDF("vec_id", "embedding", "label")
    val q = vecs.where(col("vec_id") === 0L)
    def vote(k: Int) = Similarity.knnClassify(
        Similarity.topKBruteForce(q, vecs, k), vecs)
      .select("query_id", "predicted_label", "votes")
      .as[(Long, Int, Long)].collect().toList
    assert(vote(3) == List((0L, 7, 2L))) // majority
    assert(vote(4) == List((0L, 7, 2L))) // 2-2 tie → smaller label wins
  }

  test("identical vectors share an LSH bucket and pair at cosine 1") {
    val rnd = new scala.util.Random(11)
    val noise = Seq.fill(30)(Seq.fill(64)(rnd.nextFloat() * 2 - 1))
    val v = Seq.fill(64)(rnd.nextFloat() * 2 - 1)
    val vecs = ((0L -> v) +: (1L -> v) +: noise.zipWithIndex.map {
      case (n, i) => (i + 2L) -> n
    }).toDF("vec_id", "embedding")
    val out = Similarity.topKLsh(
      vecs.where(col("vec_id") === 0L), vecs, k = 1, nBits = 8, dim = 64)
      .select("neighbor_id", "cos_sim").as[(Long, Double)].collect()
    assert(out.length == 1)
    assert(out.head._1 == 1L)
    assert(math.abs(out.head._2 - 1.0) < 1e-12)
  }

  test("multi-probe LSH recovers neighbors one borderline bit away, without duplicates") {
    val rnd = new scala.util.Random(29)
    val corpus = Seq.tabulate(60)(i =>
      i.toLong -> Seq.fill(32)(rnd.nextFloat() * 2 - 1)).toDF("vec_id", "embedding")
    val queries = corpus.where(col("vec_id") < 8)
    def ids(nProbe: Int) = Similarity.topKLsh(queries, corpus, k = 60,
        nBits = 8, dim = 32, nProbe = nProbe)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSeq
    val single = ids(1)
    val multi = ids(9) // full Hamming-1 ball over 8 bits
    // a (query, neighbor) pair matches through exactly one XOR mask, so the
    // probe fan-out must not introduce duplicate candidate pairs
    assert(multi.distinct.size == multi.size, "multi-probe emitted duplicates")
    // probing strictly more buckets: candidate set is a superset, and with
    // random 32-dim vectors the Hamming-1 shell is non-empty in practice
    assert(multi.toSet.size > single.toSet.size,
      s"expected recall uplift: single=${single.size} multi=${multi.size}")
    assert(single.toSet.subsetOf(multi.toSet))
    // recall against brute force can only improve
    val exact = Similarity.topKBruteForce(queries, corpus, k = 60)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(exact.intersect(multi.toSet).size >= exact.intersect(single.toSet).size)
  }

  test("LSH-bucketed dup pairs find planted near-identical vectors exactly") {
    val rnd = new scala.util.Random(17)
    val v = Seq.fill(64)(rnd.nextFloat() * 2 - 1)
    val nearV = v.updated(0, v.head + 0.01f) // tiny perturbation, cos ~1
    val corpus = ((100L -> v) +: (200L -> v) +: (300L -> nearV) +:
      Seq.tabulate(40)(i => (i + 1000L) -> Seq.fill(64)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val pairs = Similarity.cosineDupPairsLsh(corpus, threshold = 0.99, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(math.abs(pairs((100L, 200L)) - 1.0) < 1e-12)
    assert(pairs.contains((100L, 300L)) && pairs.contains((200L, 300L)))
    assert(pairs.keys.flatMap(p => Seq(p._1, p._2)).forall(_ < 1000L))
    // verification is exact: every reported cos_sim really is >= threshold
    assert(pairs.values.forall(_ >= 0.99))
  }

  test("multi-word banded LSH ≡ plain-Scala banding reference, pairs unique, " +
    "single-word configs included") {
    // the first-matching-band uniqueness rule crosses 64-bit word
    // boundaries since the 16x32 default (512 planes = 8 words); pin the
    // whole candidate machinery against a direct reference on explicit
    // planes (offsets are zero for caller-provided planes, so the
    // reference needs no mean-centering)
    val rnd = new scala.util.Random(41)
    val dim = 8
    val corpus = ((900L, Seq.fill(dim)(0.5f)) +: (901L, Seq.fill(dim)(0.5f)) +:
      Seq.tabulate(80)(i => (i + 1L) -> Seq.fill(dim)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val rows = corpus.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    for ((bpb, bands) <- Seq((16, 6), (4, 9), (6, 6))) {
      val planes = Array.fill(bpb * bands)(Array.fill(dim)(rnd.nextGaussian()))
      val bandsPerWord = 64 / bpb
      def bandKey(v: Array[Double], b: Int): Long = {
        val w = b / bandsPerWord
        val from = w * bandsPerWord * bpb
        (0 until bpb).foldLeft(0L) { (acc, i) =>
          // global plane index of bit (b % bandsPerWord)*bpb + i of word w
          val p = from + (b % bandsPerWord) * bpb + i
          val d = v.zip(planes(p)).map { case (x, y) => x * y }.sum
          if (d > 0) acc | (1L << i) else acc
        }
      }
      val expected = (for {
        (ia, va) <- rows; (ib, vb) <- rows
        if ia < ib
        if (0 until bands).exists(b => bandKey(va, b) == bandKey(vb, b))
      } yield (ia, ib)).toSet
      val got = Similarity.cosineDupPairsLsh(corpus, threshold = -2.0,
          dim = dim, bitsPerBand = bpb, bands = bands, planes = planes)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(got.length == got.distinct.length,
        s"$bpb x $bands emitted duplicate pairs")
      assert(got.toSet == expected, s"$bpb x $bands candidate set mismatch")
      assert(expected.contains((900L, 901L))) // planted identical pair found
    }
  }

  test("IVF top-k finds the identical vector as rank-1 via its centroid list") {
    val rnd = new scala.util.Random(23)
    val v = Seq.fill(64)(rnd.nextFloat() * 2 - 1)
    val corpus = ((0L -> v) +: (1L -> v) +:
      Seq.tabulate(60)(i => (i + 2L) -> Seq.fill(64)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val out = Similarity.topKIvf(
      corpus.where(col("vec_id") === 0L), corpus, k = 3, dim = 64)
      .orderBy("rank").select("neighbor_id", "cos_sim").as[(Long, Double)].collect()
    // the identical vector shares the argmax centroid by construction
    assert(out.head._1 == 1L)
    assert(math.abs(out.head._2 - 1.0) < 1e-12)
    assert(out.length == 3) // nProbe=4 of 16 lists still held >= k candidates
  }

  test("trained IVF centroids are deterministic and beat sample seeds on clustered data") {
    // three tight direction-clusters; sample seeding puts all 4 seeds in
    // cluster 0 (the 4 smallest ids), k-means must spread them out
    val rnd = new scala.util.Random(31)
    def around(center: Seq[Double]): Seq[Float] =
      center.map(c => (c + rnd.nextGaussian() * 0.05).toFloat)
    val centers = Seq.fill(3)(Seq.fill(16)(rnd.nextGaussian()))
    val corpus = Seq.tabulate(90)(i => i.toLong -> around(centers(i / 30)))
      .toDF("vec_id", "embedding")

    val trained1 = Similarity.trainCentroids(corpus, n = 4, dim = 16, iters = 3)
    val trained2 = Similarity.trainCentroids(corpus, n = 4, dim = 16, iters = 3)
    assert(trained1.map(_.toSeq).toSeq == trained2.map(_.toSeq).toSeq,
      "training must be deterministic run-to-run")

    // sample seeds all fall in cluster 0 (the 4 smallest ids); Lloyd rounds
    // must spread them: every true cluster direction ends up within ~18°
    // (cos > 0.95) of some trained centroid, where the raw seeds cover only
    // cluster 0's direction
    def unit(v: Seq[Double]) = { val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n) }
    def dot(a: Seq[Double], b: Seq[Double]) = a.zip(b).map { case (x, y) => x * y }.sum
    def coverage(cs: Array[Array[Double]]): Int = centers.count(ctr =>
      cs.exists(c => dot(unit(c.toSeq), unit(ctr)) > 0.95))
    assert(coverage(Similarity.sampleCentroids(corpus, 4)) == 1,
      "fixture: raw sample seeds must cover only one cluster")
    assert(coverage(trained1) == 3,
      s"trained centroids must cover all clusters, got ${coverage(trained1)}")

    def recallAt10(centroids: Array[Array[Double]]): Double = {
      val queries = corpus.where(col("vec_id") % 30 === 7) // one per cluster
      val exact = Similarity.topKBruteForce(queries, corpus, k = 10)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      val approx = Similarity.topKIvf(queries, corpus, k = 10, dim = 16,
          nCentroids = 4, nProbe = 1, centroidsIn = centroids)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      exact.intersect(approx).size.toDouble / exact.size
    }
    // honest spherical k-means may split one cluster across two cells, so
    // nProbe=1 recall can dip slightly below perfect — but it must stay high
    assert(recallAt10(trained1) >= 0.9,
      s"trained recall too low: ${recallAt10(trained1)}")
  }

  test("trainCentroids re-normalizes means: assignment matches exact cosine argmax " +
    "on one coherent and one diffuse cluster") {
    // coherent cluster hugs direction (1,0); diffuse cluster spreads ±40°
    // around (0,1). A mean of unit vectors SHRINKS with its cluster's spread
    // (‖mean‖ ≈ avg cos to center: ~0.84 diffuse vs ~1.0 coherent), so
    // without re-normalization argmax-dot pulls a 47° boundary probe into
    // the coherent cell against the cosine metric. Ids 0/1 are the seeds,
    // one per cluster; magnitudes vary to exercise input normalization.
    def dir(deg: Double, mag: Double) = Seq(
      mag * math.cos(math.toRadians(deg)), mag * math.sin(math.toRadians(deg)))
    val corpus = Seq(
      0L -> dir(1.15, 10.0), 2L -> dir(-1.15, 10.0),          // coherent
      3L -> dir(0.6, 10.0), 4L -> dir(-0.6, 10.0),
      1L -> dir(90, 5.0),                                      // diffuse seed
      5L -> dir(50, 5.0), 6L -> dir(130, 5.0),
      7L -> dir(50, 4.0), 8L -> dir(130, 4.0),
      100L -> dir(47, 3.0))                                    // boundary probe
      .toDF("vec_id", "embedding")
    val cents = Similarity.trainCentroids(corpus, n = 2, dim = 2, iters = 3)
    // spherical k-means contract: every centroid is back on the unit sphere
    cents.foreach(c =>
      assert(math.abs(math.sqrt(c.map(x => x * x).sum) - 1.0) < 1e-12,
        s"centroid not unit: ${c.toSeq}"))
    def unit(v: Seq[Double]) = { val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n) }
    def dot(a: Seq[Double], b: Seq[Double]) = a.zip(b).map { case (x, y) => x * y }.sum
    def assign(cs: Seq[Seq[Double]], v: Seq[Double]): Int =
      cs.zipWithIndex.maxBy { case (c, i) => (dot(c, unit(v)), i) }._2
    val rows = corpus.as[(Long, Seq[Double])].collect().toMap
    val trained = cents.map(_.toSeq).toSeq
    // trained (unit) centroids: argmax-dot == argmax-cosine for every vector,
    // and the probe lands with the diffuse seed (its cosine-nearest cell)
    val cells = rows.map { case (id, v) => id -> assign(trained, v) }
    assert(cells(100L) == cells(1L), s"probe must join the diffuse cell: $cells")
    assert(cells(0L) != cells(1L), "clusters must not collapse")
    assert(Seq(2L, 3L, 4L).forall(cells(_) == cells(0L)))
    assert(Seq(5L, 6L, 7L, 8L).forall(cells(_) == cells(1L)))
    // the failure mode the re-normalization fixes: raw (shrunken) cell means
    // would send the probe to the coherent cell by argmax-dot
    def mean(ids: Seq[Long]) = {
      val us = ids.map(id => unit(rows(id)))
      us.head.indices.map(i => us.map(_(i)).sum / us.length)
    }
    val coherentMean = mean(Seq(0L, 2L, 3L, 4L))
    val diffuseMean = mean(Seq(1L, 5L, 6L, 7L, 8L, 100L))
    val p = unit(rows(100L))
    assert(dot(p, diffuseMean) < dot(p, coherentMean),
      "fixture must make unnormalized means misassign the probe")
    assert(dot(p, unit(diffuseMean)) > dot(p, unit(coherentMean)))
  }

  test("cosineDupPairsExact finds planted duplicate pairs above threshold") {
    val rnd = new scala.util.Random(5)
    val v = Seq.fill(16)(rnd.nextFloat())
    val out = Similarity.cosineDupPairsExact(
      Seq(10L -> v, 20L -> v,
        30L -> Seq.fill(16)(rnd.nextFloat() * 2 - 1),
        40L -> Seq.fill(16)(rnd.nextFloat() * 2 - 1))
        .toDF("vec_id", "embedding"), threshold = 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(out.contains((10L, 20L)))
    assert(out.forall { case (a, b) => a < b })
  }

  test("cosineDupPairsExact refuses a corpus past its quadratic guard") {
    val big = spark.range(0, 50).select(col("id").as("vec_id"),
      array(Seq.fill(4)(rand(42)).map(_.cast("float")): _*).as("embedding"))
    val e = intercept[IllegalArgumentException] {
      Similarity.cosineDupPairsExact(big, threshold = 0.5, maxRows = 10)
    }
    assert(e.getMessage.contains("cosineDupPairsLsh"))
  }

  test("LSH dup pairs with sample planes: every emitted pair is exact-verified " +
    "and candidates come only from band collisions") {
    val rnd = new scala.util.Random(41)
    val v = Seq.fill(64)(rnd.nextFloat() * 2 - 1)
    val corpus = ((100L -> v) +: (200L -> v) +:
      Seq.tabulate(80)(i => (i + 1000L) -> Seq.fill(64)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val planes = Similarity.samplePlanes(corpus, 36)
    val got = Similarity.cosineDupPairsLsh(corpus, threshold = 0.4, dim = 64,
      bitsPerBand = 4, bands = 9, planes = planes)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // identical planted pair always collides (all 9 bands agree)
    assert(math.abs(got((100L, 200L)) - 1.0) < 1e-12)
    // exact verification: nothing below threshold leaks through a collision
    assert(got.values.forall(_ >= 0.4))
    // subset of the exact pair set, with identical scores where present
    val exact = Similarity.cosineDupPairsExact(corpus, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    got.foreach { case (k, s) => assert(exact(k) == s, s"pair $k not in exact set") }
  }

  test("appendToIvfIndex: build-half + append == fresh build over the union") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val deq = emb.select(col("vec_id"),
      Similarity.dequantize(
        Similarity.quantize(col("embedding"), 200.0), 200.0).as("embedding"))
    val cents = Similarity.sampleCentroids(
      deq.where(pmod(col("vec_id"), lit(2)) === 0), 16)
    val even = emb.where(pmod(col("vec_id"), lit(2)) === 0)
    val odd = emb.where(pmod(col("vec_id"), lit(2)) === 1)
    val grown = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "graft-ivf-app-").toString
    Similarity.saveIvfIndex(even, grown, nCentroids = 16, dim = 64,
      quantScale = 200.0, centroidsIn = cents)
    Similarity.appendToIvfIndex(odd, grown)
    val rebuilt = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "graft-ivf-reb-").toString
    Similarity.saveIvfIndex(emb, rebuilt, nCentroids = 16, dim = 64,
      quantScale = 200.0, centroidsIn = cents)
    // identical logical index content: (vec_id, centroid, code)
    def content(p: String) = spark.read.parquet(
        graft.ops.Stage.resolve(spark, s"$p/lists"))
      .select(col("vec_id"), col("centroid"), col("code"))
      .as[(Long, Int, Seq[Byte])].collect()
      .map { case (v, c, cd) => (v, c, cd.toList) }.toSet
    assert(content(grown) == content(rebuilt))
    // and identical serving results
    val qset = deq.where(col("vec_id") < 5)
    def rows(p: String) = Similarity.topKIvfIndexed(spark, qset, p, k = 5)
      .select("query_id", "neighbor_id", "cos_sim", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(rows(grown) == rows(rebuilt))
  }

  test("appendToIvfIndexExactlyOnce: every replay window is a no-op or a clean redo") {
    import org.apache.hadoop.fs.Path
    val fs = new Path("target").getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val deq = emb.select(col("vec_id"),
      Similarity.dequantize(
        Similarity.quantize(col("embedding"), 200.0), 200.0).as("embedding"))
    val cents = Similarity.sampleCentroids(
      deq.where(pmod(col("vec_id"), lit(2)) === 0), 16)
    val even = emb.where(pmod(col("vec_id"), lit(2)) === 0)
    val odd = emb.where(pmod(col("vec_id"), lit(2)) === 1)
    val grown = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "graft-ivf-xonce-").toString
    Similarity.saveIvfIndex(even, grown, nCentroids = 16, dim = 64,
      quantScale = 200.0, centroidsIn = cents)
    Similarity.appendToIvfIndex(odd, grown, batchId = Some(0L))
    def content() = spark.read.parquet(
        graft.ops.Stage.resolve(spark, s"$grown/lists"))
      .select(col("vec_id"), col("centroid"), col("code"))
      .as[(Long, Int, Seq[Byte])].collect()
      .map { case (v, c, cd) => (v, c, cd.toList) }
      .sortBy(t => (t._1, t._2)).toList // a LIST: duplicates must show
    val expected = content()
    // a plain-append replay would DUPLICATE the odd vectors; each replay
    // window below must instead leave the lists content identical
    // window A: marker present (normal streaming-restart replay) → no-op
    Similarity.appendToIvfIndex(odd, grown, batchId = Some(0L))
    assert(content() == expected)
    // window B: crash AFTER publish, BEFORE the marker → sweep + republish
    fs.delete(new Path(s"$grown/_ledger/batch-0"), false)
    Similarity.appendToIvfIndex(odd, grown, batchId = Some(0L))
    assert(content() == expected)
    // window C: crash MID-STAGING (partial staging dir, no marker)
    fs.delete(new Path(s"$grown/_ledger/batch-0"), false)
    fs.mkdirs(new Path(s"$grown/_staging/batch-0/lists/centroid=0"))
    fs.create(
      new Path(s"$grown/_staging/batch-0/lists/centroid=0/part-junk"),
      true).close()
    Similarity.appendToIvfIndex(odd, grown, batchId = Some(0L))
    assert(content() == expected)
    assert(!fs.exists(new Path(s"$grown/_staging/batch-0")))
    // and the grown index serves exactly like a fresh build over the union
    val rebuilt = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "graft-ivf-xreb-").toString
    Similarity.saveIvfIndex(emb, rebuilt, nCentroids = 16, dim = 64,
      quantScale = 200.0, centroidsIn = cents)
    val qset = deq.where(col("vec_id") < 5)
    def rows(p: String) = Similarity.topKIvfIndexed(spark, qset, p, k = 5)
      .select("query_id", "neighbor_id", "cos_sim", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(rows(grown) == rows(rebuilt))
  }

  test("deleteFromIvfIndex: shrunk index == fresh build over the survivors") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val deq = emb.select(col("vec_id"),
      Similarity.dequantize(
        Similarity.quantize(col("embedding"), 200.0), 200.0).as("embedding"))
    val cents = Similarity.sampleCentroids(deq, 16)
    val shrunk = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "graft-ivf-del-").toString
    Similarity.saveIvfIndex(emb, shrunk, nCentroids = 16, dim = 64,
      quantScale = 200.0, centroidsIn = cents)
    val dead = emb.where(pmod(col("vec_id"), lit(3)) === 1).select("vec_id")
    Similarity.deleteFromIvfIndex(spark, shrunk, dead)
    val survivors = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "graft-ivf-sur-").toString
    Similarity.saveIvfIndex(emb.where(pmod(col("vec_id"), lit(3)) =!= 1),
      survivors, nCentroids = 16, dim = 64,
      quantScale = 200.0, centroidsIn = cents)
    // the shrunk lists are versioned post-delete — read via the pointer
    def content(p: String) = spark.read.parquet(
        graft.ops.Stage.resolve(spark, s"$p/lists"))
      .select(col("vec_id"), col("centroid"), col("code"))
      .as[(Long, Int, Seq[Byte])].collect()
      .map { case (v, c, cd) => (v, c, cd.toList) }.toSet
    assert(content(shrunk) == content(survivors))
    val qset = deq.where(col("vec_id") < 5)
    def rows(p: String) = Similarity.topKIvfIndexed(spark, qset, p, k = 5)
      .select("query_id", "neighbor_id", "cos_sim", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(rows(shrunk) == rows(survivors))
    // deleted ids can never be served again
    val deadIds = dead.as[Long].collect().toSet
    assert(rows(shrunk).forall(r => !deadIds.contains(r._2)))
  }

  test("clusterMixture rolls up argmax-dot assignment with exact shares") {
    // 2-D fixture, centroids = the two smallest-id vectors: e1=(1,0),
    // e2=(0,1). Dots decide assignment; the (d, c) struct max breaks the
    // exact tie (0.5, 0.5) toward the LARGER centroid id — pinned here.
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f), "a"),   // centroid 0 (seed itself)
      (2L, Seq(0.0f, 1.0f), "a"),   // centroid 1 (seed itself)
      (3L, Seq(0.9f, 0.1f), "b"),   // → centroid 0
      (4L, Seq(0.1f, 0.9f), "b"),   // → centroid 1
      (5L, Seq(0.5f, 0.5f), "b")    // exact tie → centroid 1 (larger c)
    ).toDF("vec_id", "embedding", "label")
    val cents = Similarity.sampleCentroids(vecs, 2)
    // NULL vectors are excluded like NULL text in corpusStats
    val withNull = vecs.unionByName(
      Seq((9L, null.asInstanceOf[Seq[Float]], "a"))
        .toDF("vec_id", "embedding", "label"))
    val out = Similarity.clusterMixture(withNull, "label", cents)
      .orderBy("centroid", "label")
      .select("centroid", "label", "n_vecs", "n_total", "share")
      .as[(Int, String, Long, Long, Double)].collect().toSeq
    assert(out == Seq(
      (0, "a", 1L, 2L, 0.5),
      (0, "b", 1L, 2L, 0.5),
      (1, "a", 1L, 3L, 1.0 / 3.0),
      (1, "b", 2L, 3L, 2.0 / 3.0)))
  }

  test("topKIvfIndexedPrevious serves the pre-delete lists snapshot") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val deq = emb.select(col("vec_id"),
      Similarity.dequantize(
        Similarity.quantize(col("embedding"), 200.0), 200.0).as("embedding"))
    val cents = Similarity.sampleCentroids(deq, 16)
    val idx = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "graft-ivf-prev-").toString
    Similarity.saveIvfIndex(emb, idx, nCentroids = 16, dim = 64,
      quantScale = 200.0, centroidsIn = cents)
    val qset = deq.where(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "neighbor_id", "cos_sim", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    // born-versioned with a single publish: no history yet — loud failure
    intercept[IllegalStateException] {
      Similarity.topKIvfIndexed(spark, qset, idx, k = 5, at = Family.Previous)
    }
    val full = rows(Similarity.topKIvfIndexed(spark, qset, idx, k = 5))
    Similarity.IvfIndex.compact(spark, idx) // v1 → v2
    Similarity.deleteFromIvfIndex(spark, idx,
      emb.where(pmod(col("vec_id"), lit(3)) === 1).select("vec_id")) // → v3
    // previous-serve == the pre-delete (full corpus) ranking
    assert(rows(Similarity.topKIvfIndexed(spark, qset, idx, k = 5,
      at = Family.Previous))
      == full)
    // while the live index excludes the deleted ids
    assert(rows(Similarity.topKIvfIndexed(spark, qset, idx, k = 5))
      .forall(r => r._2 % 3 != 1))
  }

  test("a named IVF snapshot serves across two maintenance ops") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val deq = emb.select(col("vec_id"),
      Similarity.dequantize(
        Similarity.quantize(col("embedding"), 200.0), 200.0).as("embedding"))
    val cents = Similarity.sampleCentroids(deq, 16)
    val idx = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "graft-ivf-snap-").toString
    Similarity.saveIvfIndex(emb, idx, nCentroids = 16, dim = 64,
      quantScale = 200.0, centroidsIn = cents) // lists born versioned: v1
    val qset = deq.where(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "neighbor_id", "cos_sim", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    val full = rows(Similarity.topKIvfIndexed(spark, qset, idx, k = 5))
    Similarity.IvfIndex.snapshot(spark, idx, "pre_campaign") // pins v1
    // TWO maintenance ops — the second would GC v1 unpinned
    Similarity.deleteFromIvfIndex(spark, idx,
      emb.where(pmod(col("vec_id"), lit(3)) === 1).select("vec_id")) // → v2
    Similarity.IvfIndex.compact(spark, idx) // → v3
    assert(rows(Similarity.topKIvfIndexed(
      spark, qset, idx, k = 5, at = Family.Pinned("pre_campaign"))) == full)
    assert(rows(Similarity.topKIvfIndexed(spark, qset, idx, k = 5))
      .forall(r => r._2 % 3 != 1))
    // dropped pin stops resolving
    Similarity.IvfIndex.dropSnapshot(spark, idx, "pre_campaign")
    intercept[IllegalStateException] {
      Similarity.topKIvfIndexed(
        spark, qset, idx, k = 5, at = Family.Pinned("pre_campaign"))
    }
    // REBUILD clears pins (the Family.rebuild boundary): a
    // stale name must not keep serving the old corpus's lists
    Similarity.IvfIndex.snapshot(spark, idx, "stale_pin")
    Similarity.saveIvfIndex(emb, idx, nCentroids = 16, dim = 64,
      quantScale = 200.0, centroidsIn = cents)
    intercept[IllegalStateException] {
      Similarity.topKIvfIndexed(spark, qset, idx, k = 5,
        at = Family.Pinned("stale_pin"))
    }
  }

  test("pqCodes: codebook seed vectors encode to their own entry; pqTopK ranks by ADC") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cb = Similarity.pqCodebooks(emb, m = 8, nCent = 16, dim = 64)
    assert(cb.length == 8 && cb.forall(_.length == 16)
      && cb.forall(_.forall(_.length == 8)))
    // the 16 smallest-id vectors ARE the codebook seeds: every subspace
    // distance to their own entry is exactly 0 → code == their seed rank
    val seedIds = emb.select("vec_id").orderBy("vec_id").limit(16)
      .as[Long].collect()
    val codes = Similarity.pqCodes(emb, dim = 64, codebooks = cb)
      .where(col("vec_id").isin(seedIds: _*))
      .orderBy("vec_id")
      .select("codes").as[Seq[Int]].collect()
    codes.zipWithIndex.foreach { case (cs, rank) =>
      assert(cs == Seq.fill(8)(rank), s"seed $rank encoded as $cs")
    }
    // the serve path: every query gets exactly k ranked rows, rank
    // follows (approx_sim desc, neighbor_id) — and is deterministic
    val top = Similarity.pqTopK(emb.where(col("vec_id") < 3), emb,
      k = 5, dim = 64, codebooks = cb)
      .select("query_id", "neighbor_id", "approx_sim", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(top.count(_._1 == 0L) == 5)
    val again = Similarity.pqTopK(emb.where(col("vec_id") < 3), emb,
      k = 5, dim = 64, codebooks = cb)
      .select("query_id", "neighbor_id", "approx_sim", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(top.toSet == again.toSet)
  }

  test("trainPqCodebooks: iters=0 == seeds; the Lloyd update is the exact quantized mean; empty clusters keep seeds") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val seeds = Similarity.pqCodebooks(emb, m = 8, nCent = 16, dim = 64)
    // zero iterations IS the frozen-sample convention
    val zero = Similarity.trainPqCodebooks(emb, m = 8, nCent = 16,
      dim = 64, iters = 0)
    assert(zero.map(_.map(_.toSeq).toSeq).toSeq
      == seeds.map(_.map(_.toSeq).toSeq).toSeq)

    // a constructed 2-dim, 1-subspace, 2-centroid geometry where the
    // exact trained means are hand-computable: seeds are the two
    // smallest-id vectors; the four corpus points split two per cell
    val grid = 1048576.0
    def q(x: Double) = math.floor(x * grid + 0.5)
    val pts = Seq(
      (0L, Seq(1.0f, 0.0f)),   // seed A (normalized: (1,0))
      (1L, Seq(0.0f, 1.0f)),   // seed B (normalized: (0,1))
      (2L, Seq(3.0f, 4.0f)),   // → (0.6, 0.8): closer to B
      (3L, Seq(4.0f, 3.0f))    // → (0.8, 0.6): closer to A
    ).toDF("vec_id", "embedding")
    val cb = Similarity.trainPqCodebooks(pts, m = 1, nCent = 2, dim = 2,
      iters = 1)
    // cell A = {(1,0), (0.8,0.6)}, cell B = {(0,1), (0.6,0.8)}; the
    // trained coordinate is (Σ floor(x·G + 0.5)) / n / G exactly
    def mean(xs: Double*) = xs.map(q).sum / xs.length / grid
    assert(cb(0)(0).toSeq == Seq(mean(1.0, 0.8), mean(0.0, 0.6)))
    assert(cb(0)(1).toSeq == Seq(mean(0.0, 0.6), mean(1.0, 0.8)))

    // determinism under physical re-layout: the fixed-point sums are
    // order-independent, so a shuffled corpus trains the SAME books
    val shuffled = Similarity.trainPqCodebooks(pts.repartition(7), m = 1,
      nCent = 2, dim = 2, iters = 1)
    assert(shuffled.map(_.map(_.toSeq).toSeq).toSeq
      == cb.map(_.map(_.toSeq).toSeq).toSeq)

    // a far-away singleton third centroid that captures nothing: give
    // the corpus a vector set where centroid 2's cell is empty after
    // seeding (seed 2 is closest to seed 0's direction for every point)
    val pts3 = Seq(
      (0L, Seq(1.0f, 0.0f)),
      (1L, Seq(0.0f, 1.0f)),
      (2L, Seq(1.0f, 0.001f)) // seed 2 ~ seed 0: every point prefers 0 or 1
    ).toDF("vec_id", "embedding")
    val cb3 = Similarity.trainPqCodebooks(pts3, m = 1, nCent = 3, dim = 2,
      iters = 1)
    // seed 2's own vector assigns to code 2 (distance 0 to itself), so
    // only centroids with NO members keep seeds — verify the contract on
    // a genuinely empty cell: centroid 1 owns exactly (0,1), centroid 0
    // owns (1,0); both singletons train to their quantized selves, and
    // nothing drifted to NaN (the empty-cell division guard)
    assert(cb3.forall(_.forall(_.forall(x => !x.isNaN))))
  }

  test("PQ index: grown == fresh build over the union; delete == survivors; snapshot serves frozen") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val idx = "target/graft-test-pq-index"
    new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(idx), true)
    val even = emb.where(pmod(col("vec_id"), lit(2)) === 0)
    val odd = emb.where(pmod(col("vec_id"), lit(2)) === 1)
    val queries = emb.where(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "neighbor_id", "approx_sim", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    Similarity.savePqIndex(even, idx, m = 8, nCent = 16, dim = 64)
    Similarity.appendToPqIndex(odd, idx)
    // the frozen-codebook invariant: grown index == inline pqTopK over
    // the union with the build half's codebooks, bit for bit
    val cbEven = Similarity.pqCodebooks(even, m = 8, nCent = 16, dim = 64)
    assert(rows(Similarity.pqTopKIndexed(spark, queries, idx, k = 5))
      == rows(Similarity.pqTopK(queries, emb, k = 5, dim = 64, cbEven)))
    // pin, delete, serve: live == survivors, pin == pre-delete state
    Similarity.PqIndex.snapshot(spark, idx, "pre_del")
    Similarity.deleteFromPqIndex(spark, idx,
      emb.where(pmod(col("vec_id"), lit(10)) === 3).select("vec_id"))
    val live = rows(Similarity.pqTopKIndexed(spark, queries, idx, k = 5))
    assert(live == rows(Similarity.pqTopK(queries,
      emb.where(pmod(col("vec_id"), lit(10)) =!= 3), k = 5, dim = 64,
      cbEven)))
    assert(rows(Similarity.pqTopKIndexed(spark, queries, idx, k = 5,
      at = Family.Pinned("pre_del")))
      == rows(Similarity.pqTopK(queries, emb, k = 5, dim = 64, cbEven)))
    // restore rolls the codes back; the pin survives
    Similarity.PqIndex.restore(spark, idx, "pre_del")
    assert(rows(Similarity.pqTopKIndexed(spark, queries, idx, k = 5))
      == rows(Similarity.pqTopK(queries, emb, k = 5, dim = 64, cbEven)))
  }

  test("PQ exactly-once append: a replayed batch never duplicates served candidates") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val idx = "target/graft-test-pq-eo"
    new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(idx), true)
    Similarity.savePqIndex(emb.where(lit(false)), idx, m = 8, nCent = 16,
      dim = 64, codebooksIn = Similarity.pqCodebooks(emb, 8, 16, 64))
    val half = emb.where(pmod(col("vec_id"), lit(2)) === 0)
    Similarity.appendToPqIndex(half, idx, batchId = Some(0L))
    Similarity.appendToPqIndex(half, idx, batchId = Some(0L)) // replay
    val n = spark.read.parquet(
      graft.ops.Stage.resolve(spark, s"$idx/codes")).count()
    assert(n == half.count(), s"replay duplicated codes: $n")
    // compaction folds batch files; replays across the fold stay no-ops
    Similarity.PqIndex.compact(spark, idx)
    Similarity.appendToPqIndex(half, idx, batchId = Some(0L))
    assert(spark.read.parquet(
      graft.ops.Stage.resolve(spark, s"$idx/codes")).count() == n)
  }

  test("trainCentroidsPortable: unit norms, repartition-invariant, empty cells keep seeds") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val tc = Similarity.trainCentroidsPortable(emb, 16, 64, iters = 2)
    assert(tc.length == 16 && tc.forall(_.length == 64))
    // every trained centroid sits on the unit sphere (or is an
    // untouched unit seed)
    tc.foreach { c =>
      val n = math.sqrt(c.map(x => x * x).sum)
      assert(math.abs(n - 1.0) < 1e-9, s"norm $n")
    }
    // fixed-point sums are order-independent: a shuffled corpus trains
    // the SAME centroids bit for bit
    val shuffled = Similarity.trainCentroidsPortable(emb.repartition(13),
      16, 64, iters = 2)
    assert(tc.map(_.toSeq).toSeq == shuffled.map(_.toSeq).toSeq)
    // iters=0 == the normalized smallest-id seeds
    val zero = Similarity.trainCentroidsPortable(emb, 16, 64, iters = 0)
    val seeds = Similarity.sampleCentroids(
      emb.select(col("vec_id"),
        Similarity.normalizeVec(col("embedding")).as("embedding")), 16)
    assert(zero.map(_.toSeq).toSeq == seeds.map(_.toSeq).toSeq)
  }

  test("ivfPqTopK at full probe equals pqTopK's flat scan exactly") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cb = Similarity.pqCodebooks(emb, m = 8, nCent = 16, dim = 64)
    val cents = Similarity.sampleCentroids(emb, 16)
    val queries = emb.where(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "neighbor_id", "approx_sim", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    // probing EVERY cell removes the pruning: the composition must
    // degrade to the flat PQ scan bit for bit — the same sanity anchor
    // as the IVF family's nProbe=16 == brute-force row
    val full = rows(Similarity.ivfPqTopK(queries, emb, k = 5, dim = 64,
      codebooks = cb, centroidsIn = cents, nProbe = 16))
    val flat = rows(Similarity.pqTopK(queries, emb, k = 5, dim = 64,
      codebooks = cb))
    assert(full == flat && full.nonEmpty)
    // a 1-probe serve returns a subset of the flat candidates per query
    val one = rows(Similarity.ivfPqTopK(queries, emb, k = 5, dim = 64,
      codebooks = cb, centroidsIn = cents, nProbe = 1))
    assert(one.nonEmpty && one.size <= full.size)
  }

  test("semanticDecontam: max-cos verdicts with smallest-probe-id argmax ties") {
    val spark = TestSpark.spark
    import spark.implicits._
    val train = Seq(
      (1L, Seq(1.0f, 0.0f)),   // cos 1.0 vs both probes — tie → probe 100
      (2L, Seq(0.0f, 1.0f)),   // orthogonal to both → cos 0.0, clean
      (3L, Seq(0.8f, 0.6f))    // cos 0.8 vs probes — contaminated at 0.5
    ).toDF("vec_id", "embedding")
    val probe = Seq(
      (101L, Seq(2.0f, 0.0f)), // same DIRECTION as 100 (cosine ignores scale)
      (100L, Seq(1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.semanticDecontam(train, probe, threshold = 0.5)
      .as[(Long, Long, Double, Boolean)].collect().toSeq
    assert(out.map(r => (r._1, r._2, r._4)) == Seq(
      (1L, 100L, true),   // exact-equal cosines: ascending-id fold keeps 100
      (2L, 100L, false),
      (3L, 100L, true)))
    assert(math.abs(out(2)._3 - 0.8) < 1e-6) // float32 literals widen inexactly
  }

  test("restoreIvfIndex makes the pinned lists the LIVE serve again") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val deq = emb.select(col("vec_id"),
      Similarity.dequantize(
        Similarity.quantize(col("embedding"), 200.0), 200.0).as("embedding"))
    val cents = Similarity.sampleCentroids(deq, 16)
    val idx = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "graft-ivf-restore-").toString
    Similarity.saveIvfIndex(emb, idx, nCentroids = 16, dim = 64,
      quantScale = 200.0, centroidsIn = cents)
    val qset = deq.where(col("vec_id") < 5)
    def live() = Similarity.topKIvfIndexed(spark, qset, idx, k = 5)
      .select("query_id", "neighbor_id", "cos_sim", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    val atPin = live()
    Similarity.IvfIndex.snapshot(spark, idx, "pre_campaign")
    // destructive campaign, fully compacted — nothing pending masks
    Similarity.deleteFromIvfIndex(spark, idx,
      emb.where(pmod(col("vec_id"), lit(3)) === 1).select("vec_id"))
    Similarity.IvfIndex.compact(spark, idx)
    assert(live() != atPin)
    // centroids/meta are frozen at build, so restoring lists/ restores
    // the whole serveable state — scores bit-match the pre-campaign serve
    Similarity.IvfIndex.restore(spark, idx, "pre_campaign")
    assert(live() == atPin)
    // a typo'd name fails loudly, live state untouched
    intercept[IllegalArgumentException] {
      Similarity.IvfIndex.restore(spark, idx, "nope")
    }
    assert(live() == atPin)
  }

  test("hardNegatives mines cross-label neighbors only, ranked by cosine") {
    val spark = TestSpark.spark
    import spark.implicits._
    // query 0 (label A) points at +x; same-label 1 is CLOSEST but must be
    // excluded; cross-label 2, 3, 4 rank by cosine with the id tiebreak
    val vecs = Seq(
      (0L, "A", Seq(1.0f, 0.0f)),
      (1L, "A", Seq(0.99f, 0.01f)), // nearest overall — same label, OUT
      (2L, "B", Seq(0.9f, 0.1f)),
      (3L, "B", Seq(0.5f, 0.5f)),
      (4L, "C", Seq(0.0f, 1.0f))).toDF("vec_id", "label", "embedding")
    val got = graft.ext.Similarity.hardNegatives(
      vecs.where(col("vec_id") === 0), vecs, k = 2)
      .select("query_id", "neighbor_id", "neighbor_label", "rank")
      .as[(Long, Long, String, Int)].collect().toSeq.sortBy(_._4)
    assert(got.map(_._2) == Seq(2L, 3L), s"$got")
    assert(got.forall(_._3 != "A"))
    // and the exclusion is the ONLY difference vs plain top-k: the
    // same-label nearest neighbor tops the unfiltered ranking
    val plain = graft.ext.Similarity.topKBruteForce(
      vecs.where(col("vec_id") === 0), vecs, k = 1)
      .select("neighbor_id").as[Long].head()
    assert(plain == 1L)
  }

  test("recallAtK counts exact-top-k hits per query, zero-filling misses") {
    val spark = TestSpark.spark
    import spark.implicits._
    val exact = Seq((1L, 10L), (1L, 11L), (1L, 12L), (1L, 13L),
      (2L, 20L), (2L, 21L)).toDF("query_id", "neighbor_id")
    // query 1: approx recovered 2 of 4 (one spurious extra neighbor is
    // ignored — recall is measured against the EXACT set only);
    // query 2: approx returned nothing at all
    val approx = Seq((1L, 11L), (1L, 13L), (1L, 99L))
      .toDF("query_id", "neighbor_id")
    val got = graft.ext.Similarity.recallAtK(exact, approx)
      .as[(Long, Long, Long, Double)].collect()
      .map { case (q, k, h, r) => q -> ((k, h, r)) }.toMap
    assert(got(1L) == ((4L, 2L, 0.5)))
    assert(got(2L) == ((2L, 0L, 0.0)))
  }

  test("embeddingDrift reports integer-ppm occupancy shifts per centroid") {
    val spark = TestSpark.spark
    import spark.implicits._
    val cents = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    // reference: all mass on centroid 0; current: split 50/50 — a clean
    // planted topic shift the length histogram could never see
    val ref = Seq((0L, Seq(1.0f, 0.1f)), (1L, Seq(0.9f, 0.0f)),
      (2L, Seq(0.8f, 0.2f)), (3L, Seq(1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val cur = Seq((10L, Seq(1.0f, 0.0f)), (11L, Seq(0.7f, 0.1f)),
      (12L, Seq(0.1f, 1.0f)), (13L, Seq(0.0f, 0.9f)))
      .toDF("vec_id", "embedding")
    val got = graft.ext.Similarity.embeddingDrift(ref, cur, cents)
      .select("centroid", "n_a", "n_b", "share_a_ppm", "share_b_ppm",
        "delta_ppm")
      .as[(Int, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(0) == ((0, 4L, 2L, 1000000L, 500000L, 500000L)))
    assert(got(1) == ((1, 0L, 2L, 0L, 500000L, 500000L)))
    // TVD = sum(delta)/2 = 0.5: exactly half the mass moved
    assert(got.values.map(_._6).sum == 1000000L)
  }

  test("hardNegativesIndexed matches filtered exact mining; under-k when starved") {
    val spark = TestSpark.spark
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val deq = emb.select(col("vec_id"), col("label"),
      Similarity.dequantize(
        Similarity.quantize(col("embedding"), 200.0), 200.0).as("embedding"))
    val idx = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "graft-ivf-hn-").toString
    Similarity.saveIvfIndex(emb, idx, nCentroids = 8, dim = 64,
      quantScale = 200.0,
      centroidsIn = Similarity.sampleCentroids(deq, 8))
    val qs = deq.where(col("vec_id") < 5)
    // with overFetch covering the whole probed set, the indexed mining
    // equals the label-filtered re-rank of the raw indexed serve
    val got = Similarity.hardNegativesIndexed(spark, qs, idx,
      emb.select("vec_id", "label"), k = 5, overFetch = 8)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(got.nonEmpty)
    // every mined negative really is cross-label
    val labels = emb.select("vec_id", "label")
      .as[(Long, Int)].collect().toMap
    assert(got.forall { case (q, n, _) => labels(n) != labels(q) })
    // STARVED case: an over-fetched prefix that is entirely same-label
    // yields FEWER than k rows, never an error — force it with a labels
    // relation that calls everything the query's own label
    val sameLabel = emb.select(col("vec_id"), lit(labels(0L)).as("label"))
    assert(Similarity.hardNegativesIndexed(spark,
      qs.where(col("vec_id") === 0), idx, sameLabel, k = 5,
      overFetch = 2).count() == 0)
  }

  test("a rebuild severs previous-serving — no cross-corpus grace") {
    val spark = TestSpark.spark
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val deq = emb.select(col("vec_id"),
      Similarity.dequantize(
        Similarity.quantize(col("embedding"), 200.0), 200.0).as("embedding"))
    val cents = Similarity.sampleCentroids(deq, 8)
    val idx = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "graft-ivf-rebuild-").toString
    Similarity.saveIvfIndex(emb, idx, nCentroids = 8, dim = 64,
      quantScale = 200.0, centroidsIn = cents)
    val qset = deq.where(col("vec_id") < 5)
    // same-corpus maintenance establishes previous-serving...
    Similarity.deleteFromIvfIndex(spark, idx,
      emb.where(pmod(col("vec_id"), lit(3)) === 1).select("vec_id"))
    assert(Similarity.topKIvfIndexed(spark, qset, idx, k = 5,
      at = Family.Previous)
      .count() > 0)
    // ...but a REBUILD (new quantScale = new geometry) must NOT leave
    // the old corpus's lists as "the previous version": serving them
    // dequantized with the NEW meta would be silently wrong, so the
    // previous read fails loudly until post-rebuild maintenance runs
    Similarity.saveIvfIndex(emb, idx, nCentroids = 8, dim = 64,
      quantScale = 100.0, centroidsIn = cents)
    intercept[IllegalStateException] {
      Similarity.topKIvfIndexed(spark, qset, idx, k = 5, at = Family.Previous)
    }
    // live serving over the rebuilt index is intact
    assert(Similarity.topKIvfIndexed(spark, qset, idx, k = 5).count() > 0)
  }
}
