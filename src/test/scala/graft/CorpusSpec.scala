package graft

import graft.ext.Corpus
import graft.ops.Family
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Corpus-management semantics: split assignment must be a pure function
  * of content (no RNG, no row-order dependence), decontamination must find
  * planted train→test leaks and respect the stop-gram cap.
  */
class CorpusSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // ---- unigram-LM tokenizer: plain-Scala reference for the property tests

  /** Brute-force reference: enumerate ALL segmentations of `w` into
    * vocab pieces of length ≤ L, pick the minimal (total bits, piece
    * count, '|'-joined path) — the spec's independent implementation of
    * the Viterbi contract. Exponential, so only for short words. */
  private def bruteBestSeg(w: String, bits: Map[String, Long],
                           L: Int): Option[(Long, Int, String)] = {
    def all(pos: Int): Seq[List[String]] =
      if (pos == w.length) Seq(Nil)
      else (1 to math.min(L, w.length - pos)).flatMap { pl =>
        val p = w.substring(pos, pos + pl)
        if (bits.contains(p)) all(pos + pl).map(p :: _) else Nil
      }
    val sep = Corpus.unigramSep.toString
    val cands = all(0).map { seg =>
      (seg.map(bits).sum, seg.length, seg.mkString(sep, sep, ""))
    }
    if (cands.isEmpty) None else Some(cands.min)
  }

  /** Brute-force posterior expected counts: enumerate ALL segmentations,
    * weight each by the product of its piece probabilities, and credit
    * every piece occurrence by weight/Z — the independent implementation
    * of the forward–backward contract. Exponential; short words only. */
  private def bruteExpectedCounts(w: String, prob: Map[String, Double],
                                  L: Int): Map[String, Double] = {
    def all(pos: Int): Seq[List[String]] =
      if (pos == w.length) Seq(Nil)
      else (1 to math.min(L, w.length - pos)).flatMap { pl =>
        val p = w.substring(pos, pos + pl)
        if (prob.contains(p)) all(pos + pl).map(p :: _) else Nil
      }
    val segs = all(0)
    val weights = segs.map(_.map(prob).product)
    val z = weights.sum
    val e = scala.collection.mutable.HashMap.empty[String, Double]
    for ((seg, wt) <- segs.zip(weights); p <- seg)
      e(p) = e.getOrElse(p, 0.0) + wt / z
    e.toMap
  }

  test("unigramExpectedCounts ≡ brute-force posterior enumeration") {
    val rnd = new scala.util.Random(99)
    val alphabet = "abcd"
    for (_ <- 1 to 60) {
      val w = Seq.fill(3 + rnd.nextInt(8))(
        alphabet(rnd.nextInt(alphabet.length))).mkString
      val pieces = (alphabet.map(_.toString) ++
        Seq.fill(6) {
          val st = rnd.nextInt(w.length)
          val len = 1 + rnd.nextInt(math.min(3, w.length - st))
          w.substring(st, st + len)
        }).distinct.filter(_.length <= 3)
      // arbitrary (unnormalized is fine — posteriors are scale-free)
      val prob = pieces.map(p => p -> (0.05 + rnd.nextDouble())).toMap
      val logp = prob.map { case (p, v) => p -> math.log(v) }
      val got = Corpus.unigramExpectedCounts(w, logp, 3)
      val want = bruteExpectedCounts(w, prob, 3)
      assert(got.keySet == want.keySet, s"word=$w")
      for ((p, e) <- want)
        assert(math.abs(got(p) - e) <= 1e-9 * math.max(1.0, e),
          s"word=$w piece=$p got=${got(p)} want=$e")
      // the expected piece-occurrence total equals the posterior mean
      // segmentation length — a global conservation check
      assert(math.abs(got.values.sum - want.values.sum) <= 1e-9)
    }
  }

  test("unigramTrainSoft: deterministic, total, prune contract, soft≈hard on a peaked corpus") {
    val tiny = Seq((1L, "abab abab abab ab ab cd"))
      .toDF("doc_id", "text")
    val m1 = Corpus.unigramTrainSoft(tiny, "text", seedSize = 4,
      maxPieceLen = 3, iters = 2)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    // all chars survive (segmentation totality); multi-char survivors
    // carry expected mass >= the prune floor
    assert(Seq("a", "b", "c", "d").forall(p => m1.exists(_._1 == p)))
    assert(m1.filter(_._1.length > 1).forall(_._2 >= 0.5))
    // byte-identical on a re-run: sorted word iteration fixes every
    // float reduction's operation order
    val m2 = Corpus.unigramTrainSoft(tiny, "text", seedSize = 4,
      maxPieceLen = 3, iters = 2)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    assert(m1.toSeq == m2.toSeq)
    // on this 'ab'-dominated corpus the soft expected counts land near
    // the hard Viterbi counts (the posterior is peaked): same survivor
    // set as the hard model
    val hard = Corpus.unigramTrain(tiny, "text", seedSize = 4,
      maxPieceLen = 3, iters = 2)
      .collect().map(r => r.getString(0)).toSet
    assert(m1.map(_._1).toSet == hard)
  }

  test("unigramTrainSoftFp: integer totality, float-soft agreement, fp primitives exact") {
    import graft.ops.Fp
    // fixed-point primitive contracts (the oracle replays these exactly,
    // so their defined-function properties are load-bearing):
    // log2fp is exact on powers of two and monotone elsewhere
    for (e <- 0 to 50) assert(Fp.log2fp(1L << e) == e.toLong << Fp.FracBits)
    for (x <- Seq(3L, 7L, 100L, 999999L, 123456789012L))
      assert(Fp.log2fp(x) <= Fp.log2fp(x + 1))
    // log2fp(x) approximates log2(x) within a quantum
    for (x <- Seq(3L, 10L, 1000L, 123456789L)) {
      val got = Fp.log2fp(x).toDouble / Fp.B
      assert(math.abs(got - math.log(x.toDouble) / math.log(2)) < 1e-5, s"$x")
    }
    // exp2fp30 inverts within table resolution (~2^-6 relative)
    for (d <- Seq(0L, Fp.B / 2, Fp.B, 5L * Fp.B + 12345L)) {
      val got = Fp.exp2fp30(d).toDouble / (1L << Fp.MantBits)
      assert(math.abs(got - math.pow(2, -d.toDouble / Fp.B)) < 0.02, s"$d")
    }
    // lse2 ≈ float logaddexp, commutative, and ≥ max
    for ((a, b) <- Seq((0L, 0L), (0L, -Fp.B), (-3L * Fp.B, -Fp.B / 3))) {
      assert(Fp.lse2(a, b) == Fp.lse2(b, a))
      assert(Fp.lse2(a, b) >= math.max(a, b))
      val want = math.log(math.pow(2, a.toDouble / Fp.B) +
        math.pow(2, b.toDouble / Fp.B)) / math.log(2)
      assert(math.abs(Fp.lse2(a, b).toDouble / Fp.B - want) < 0.02)
    }
    val tiny = Seq((1L, "abab abab abab ab ab cd"))
      .toDF("doc_id", "text")
    val fp = Corpus.unigramTrainSoftFp(tiny, "text", seedSize = 4,
      maxPieceLen = 3, iters = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // totality + prune floor in micro units
    assert(Seq("a", "b", "c", "d").forall(p => fp.exists(_._1 == p)))
    assert(fp.filter(_._1.length > 1).forall(_._2 >= Fp.B / 2))
    // the quantized trainer lands within ~1% of the float trainer's
    // expected counts on the peaked corpus (same survivor set)
    val fl = Corpus.unigramTrainSoft(tiny, "text", seedSize = 4,
      maxPieceLen = 3, iters = 2)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(fp.map(_._1).toSet == fl.keySet)
    for ((p, cMicro, _) <- fp) {
      val c = cMicro.toDouble / Fp.B
      assert(math.abs(c - fl(p)) <= 0.01 * math.max(1.0, fl(p)),
        s"$p: fp $c vs float ${fl(p)}")
    }
  }

  test("unigramTrainSoftFp: zero non-empty words returns the empty model frame") {
    // the EM loop never runs on an empty vocabulary; the final denom
    // would otherwise feed Fp.log2fp(0) — the guard must return the
    // empty (piece, exp_uses_micro, neg_log2p_fp) frame like the float
    // twin does
    val empty = Seq((1L, ""), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val fp = Corpus.unigramTrainSoftFp(empty, "text", seedSize = 4,
      maxPieceLen = 3, iters = 2)
    assert(fp.columns.toSeq ==
      Seq("piece", "exp_uses_micro", "neg_log2p_fp"))
    assert(fp.count() == 0L)
    assert(Corpus.unigramTrainSoft(empty, "text", seedSize = 4,
      maxPieceLen = 3, iters = 2).count() == 0L)
  }

  test("unigramViterbi ≡ brute-force enumeration on randomized words") {
    val rnd = new scala.util.Random(42)
    val alphabet = "abcd"
    for (_ <- 1 to 60) {
      val w = Seq.fill(3 + rnd.nextInt(8))(
        alphabet(rnd.nextInt(alphabet.length))).mkString
      // random vocab: all chars (always segmentable) + random substrings
      val pieces = (alphabet.map(_.toString) ++
        Seq.fill(6) {
          val st = rnd.nextInt(w.length)
          val len = 1 + rnd.nextInt(math.min(3, w.length - st))
          w.substring(st, st + len)
        }).distinct
      val bits = pieces.map(p => p -> (1L + rnd.nextInt(9))).toMap
      val got = Corpus.unigramViterbi(w, bits, 3)
      val sep = Corpus.unigramSep.toString
      val (gb, gn, gp) =
        (got.map(bits).sum, got.length, got.mkString(sep, sep, ""))
      assert(bruteBestSeg(w, bits.filter(_._1.length <= 3), 3)
        .contains((gb, gn, gp)), s"word=$w vocab=$bits got=$got")
    }
  }

  test("unigramTrain: hand-checked seed, EM prune, integer costs, determinism") {
    // corpus: 'abab' ×3, 'ab' ×2, 'cd' ×1 — the pair 'ab' dominates
    val tiny = Seq((1L, "abab abab abab ab ab cd"))
      .toDF("doc_id", "text")
    val model = Corpus.unigramTrain(tiny, "text", seedSize = 4,
      maxPieceLen = 3, iters = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val byPiece = model.map(m => m._1 -> m).toMap
    // all four single chars survive whatever the EM does
    assert(Seq("a", "b", "c", "d").forall(byPiece.contains))
    // 'ab' (or a longer winner containing it) carries the corpus: the
    // dominant multi-char piece must be used, and every multi-char
    // survivor has n_uses > 0 (the prune contract)
    assert(model.filter(_._1.length > 1).forall(_._2 > 0L))
    assert(model.exists(m => m._1.length > 1 && m._2 > 0L))
    // integer cost sanity: bits = floor(log2((T+V) div (c+1))) exactly
    val t = model.map(_._2).sum
    val v = model.length.toLong
    assert(model.forall { case (_, c, b) =>
      b == Corpus.unigramBits(c, t, v) })
    // byte-identical on a re-run (no RNG, no hash-order dependence)
    val again = Corpus.unigramTrain(tiny, "text", seedSize = 4,
      maxPieceLen = 3, iters = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(model.toSeq == again.toSeq)
  }

  test("unigramTrain + segment handle words past the oracle unroll depth") {
    // the DuckDB replay unrolls its Viterbi to word length 24; the ENGINE
    // loops to the actual length. Pin that a 25-char word trains and
    // segments (deterministically) — the engine has no unroll bound.
    val long = "abababababababababababab" + "c" // 25 chars
    val corpus = Seq((1L, s"ab abab $long"), (2L, "ab cd"))
      .toDF("doc_id", "text")
    val model = Corpus.unigramTrain(corpus, "text", seedSize = 6,
      maxPieceLen = 3, iters = 2)
    val rows = model.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val bits = rows.map(r => r._1 -> r._3).toMap
    val seg = Corpus.unigramViterbi(long, bits, 3)
    assert(seg.mkString == long) // segmentation reassembles the word
    val got = Corpus.unigramSegmentCounts(corpus, "text", "doc_id", model)
      .where(col("doc_id") === 1L)
      .collect().map(r => (r.getLong(2), r.getLong(3))).head
    val words = Seq("ab", "abab", long).map(w => Corpus.unigramViterbi(w, bits, 3))
    assert(got == ((words.map(_.length.toLong).sum,
      words.map(_.map(bits).sum).sum)))
  }

  test("unigramSegmentCounts HOF ≡ driver Viterbi on randomized corpora") {
    // the codegen'd packed-long DP against the plain-Scala reference:
    // same model, word-per-doc corpus, (n_tokens, n_bits) must agree
    val rnd = new scala.util.Random(7)
    val words = Seq.fill(40)(Seq.fill(2 + rnd.nextInt(7))(
      "abcde" (rnd.nextInt(5))).mkString)
    val corpus = words.zipWithIndex
      .map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
    val model = Corpus.unigramTrain(corpus, "text", seedSize = 8,
      maxPieceLen = 3, iters = 2)
    val rowsM = model.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val t = rowsM.map(_._2).sum
    val v = rowsM.length.toLong
    val bits = rowsM.map(r => r._1 -> r._3).toMap
    val got = Corpus.unigramSegmentCounts(corpus, "text", "doc_id", model)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    words.zipWithIndex.foreach { case (w, i) =>
      val seg = Corpus.unigramViterbi(w, bits, 3)
      val want = (seg.length.toLong, seg.map(bits).sum)
      assert(got(i.toLong) == want, s"word=$w got=${got(i.toLong)}")
    }
    // empty/NULL text rows come back all-zero, not absent
    val withNull = Seq((100L, null.asInstanceOf[String]), (101L, "ab"))
      .toDF("doc_id", "text")
    val z = Corpus.unigramSegmentCounts(withNull, "text", "doc_id", model)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(z(100L) == ((0L, 0L, 0L)))
    assert(z(101L)._1 == 1L)
  }

  test("unigram pieces containing '|' survive the M-step; U+0001 rejects loudly") {
    // '|' was the old path separator: a '|' piece must train and count
    // normally now that the DP carries the piece list
    val docs = Seq((1L, "a|b a|b a|b cd")).toDF("doc_id", "text")
    val model = Corpus.unigramTrain(docs, "text", seedSize = 6,
      maxPieceLen = 3, iters = 2)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(model.contains("|"), model.toString)
    assert(model("|") > 0L || model.keys.exists(p =>
      p.contains("|") && p.length > 1 && model(p) > 0L), model.toString)
    // the actual separator in a corpus word fails loudly, never silently
    val bad = Seq((1L, "a" + Corpus.unigramSep + "b ok"))
      .toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Corpus.unigramTrain(bad, "text", seedSize = 4,
        maxPieceLen = 2, iters = 1)
    }
    assert(e.getMessage.contains("U+0001"))
  }

  test("unigramSegmentCounts: unseen characters take the unk floor, total") {
    val train = Seq((1L, "aa bb aa")).toDF("doc_id", "text")
    val model = Corpus.unigramTrain(train, "text", seedSize = 4,
      maxPieceLen = 2, iters = 1)
    val rowsM = model.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val t = rowsM.map(_._2).sum
    val v = rowsM.length.toLong
    val score = Seq((9L, "zz")).toDF("doc_id", "text") // 'z' unseen
    val out = Corpus.unigramSegmentCounts(score, "text", "doc_id", model)
      .collect().head
    // two unk single-char pieces, each at the c = 0 smoothing floor
    val unkBits = 63L - java.lang.Long.numberOfLeadingZeros(t + v)
    assert(out.getLong(2) == 2L && out.getLong(3) == 2L * unkBits)
  }

  private val docs = Seq.tabulate(200) { i =>
    (i.toLong, s"document number $i talks about topic ${i % 7} in depth " +
      s"with unique trailing content piece$i")
  }

  test("splitAssign is deterministic, content-keyed, and partition-invariant") {
    val df = docs.toDF("doc_id", "text")
    val a = Corpus.splitAssign(df, "text")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    // same content, different ids / different partitioning → same split
    val b = Corpus.splitAssign(df.repartition(7), "text")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(a == b)
    val relabeled = docs.map { case (id, tx) => (id + 1000L, tx) }
      .toDF("doc_id", "text")
    val c = Corpus.splitAssign(relabeled, "text")
      .select("doc_id", "split").as[(Long, String)].collect()
      .map { case (id, s) => (id - 1000L, s) }.toMap
    assert(a == c, "split must depend on content, not on the id")
    // all three labels appear and cover every doc
    assert(a.values.toSet == Set("train", "val", "test"))
    assert(a.size == 200)
  }

  test("epochShards: reproducible per epoch, distinct across epochs, balanced") {
    val df = docs.toDF("doc_id", "text")
    def run(epoch: Int, partitions: Int) =
      Corpus.epochShards(df.repartition(partitions), "doc_id", epoch, 16)
        .select("doc_id", "shard", "sort_key")
        .as[(Long, Int, String)].collect().sortBy(_._1).toSeq
    // the same epoch is the same permutation on ANY partitioning/rerun
    assert(run(3, 1) == run(3, 11))
    // different epochs produce different orders over the same docs
    val e0 = run(0, 4); val e1 = run(1, 4)
    assert(e0.map(_._1) == e1.map(_._1)) // same docs...
    assert(e0.map(_._3) != e1.map(_._3)) // ...different keys
    assert(e0.map(r => (r._1, r._2)) != e1.map(r => (r._1, r._2))) // reshuffled shards
    // shards are in range and roughly balanced (200 docs over 16 shards:
    // expected 12.5; a uniform fold should keep every cell under ~3x)
    val sizes = e0.groupBy(_._2).view.mapValues(_.size)
    assert(sizes.keys.forall(s => s >= 0 && s < 16))
    assert(sizes.values.max <= 38, sizes.toMap.toString)
    // shard bound enforced (the two-nibble fold covers 256 cells)
    intercept[IllegalArgumentException] {
      Corpus.epochShards(df, "doc_id", epoch = 0, nShards = 257)
    }
  }

  test("temperatureResample: sqrt-flattened rates anchored at the smallest source") {
    // 160/30/10 split → rates floor(1000·√10/√n): big 250‰, mid 577‰,
    // rare 1000‰ (the smallest source is kept WHOLE — the anchor)
    val df = docs.toDF("doc_id", "text").withColumn("grp",
      when(col("doc_id") < 160, lit("big"))
        .when(col("doc_id") < 190, lit("mid")).otherwise(lit("rare")))
    val out = Corpus.temperatureResample(df, "text", "grp")
      .select("doc_id", "grp", "n_source", "rate_pm")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(out.map(r => (r._2, r._3, r._4)).toSet == Set(
      ("big", 160L, 250L), ("mid", 30L, 577L), ("rare", 10L, 1000L)))
    // the anchor source survives complete; the others thin toward √-mix
    assert(out.count(_._2 == "rare") == 10)
    assert(out.count(_._2 == "big") < 160)
    // deterministic under re-partitioning (fingerprint decision, no RNG)
    val again = Corpus.temperatureResample(df.repartition(13), "text", "grp")
      .select("doc_id").as[Long].collect().toSet
    assert(again == out.map(_._1).toSet)
  }

  test("mixtureSample keeps configured per-source fractions, deterministically") {
    val df = (docs.map { case (id, tx) => (id, tx, "web") } ++
      docs.map { case (id, tx) => (id + 1000L, tx + " curated", "books") })
      .toDF("doc_id", "text", "source")
    val out = Corpus.mixtureSample(df, "text", "source",
      ratesPerMille = Map("web" -> 300), defaultPerMille = 1000)
      .select("doc_id", "source").as[(Long, String)].collect()
    // unconfigured source keeps everything
    assert(out.count(_._2 == "books") == 200)
    // configured source keeps roughly its rate (fingerprint buckets)
    val kept = out.count(_._2 == "web")
    assert(kept > 200 * 0.15 && kept < 200 * 0.45, s"kept=$kept of 200")
    // deterministic: same input → same kept set
    val again = Corpus.mixtureSample(df.repartition(5), "text", "source",
      ratesPerMille = Map("web" -> 300), defaultPerMille = 1000)
      .select("doc_id").as[Long].collect().toSet
    assert(again == out.map(_._1).toSet)
  }

  test("packSequences fills fixed-budget packs in order, per shard") {
    val df = Seq(
      (1L, "a b c d", "s1"),      // 4 tokens, before=0  -> pack 0
      (2L, "e f g", "s1"),        // 3 tokens, before=4  -> pack 0
      (3L, "h i j k l", "s1"),    // 5 tokens, before=7  -> pack 0
      (4L, "m n", "s1"),          // before=12 -> pack 1
      (5L, "o p q r s t u v w x y z a2 b2", "s1"), // 14 toks, before=14 -> pack 1
      (6L, "big doc", "s2"))      // separate shard restarts at pack 0
      .toDF("doc_id", "text", "source")
    val out = Corpus.packSequences(df, "text", "source", "doc_id", budget = 10L)
      .select("doc_id", "pack_id").as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 1L, 5L -> 1L, 6L -> 0L))
  }

  test("packSequences with an idCol tiebreak is stable across partitionings on tied order") {
    // every doc shares priority=1: without a tiebreak the running sum (and
    // so the pack assignment) depends on the physical order of the tied
    // rows, which repartitioning is free to change
    val rows = Seq.tabulate(40)(i =>
      (i.toLong, Seq.fill(3)(s"tok$i w$i x$i").mkString(" "), "s1", 1L))
    def packs(parts: Int) = Corpus.packSequences(
        rows.toDF("doc_id", "text", "source", "priority").repartition(parts),
        "text", "source", orderCol = "priority", budget = 20L,
        idCol = "doc_id")
      .select("doc_id", "pack_id").as[(Long, Long)].collect().toMap
    val p1 = packs(1)
    assert(p1 == packs(7) && p1 == packs(13),
      "tied orderCol must still give one deterministic packing")
    // ties resolved by id: doc order within the shard is 0..39, 9 tokens
    // each, budget 20 → packs of ~2-3 docs in strict id order
    assert(p1(0L) == 0L && p1.values.max == (40 * 9 - 1) / 20)
    assert(rows.indices.forall(i => p1(i.toLong) == i.toLong * 9 / 20))
  }

  test("stratifiedSample keeps exactly k per stratum, deterministically, skew-immune") {
    // heavy skew: 150 web docs vs 8 books docs; k=5 must come back per
    // stratum regardless (books keeps min(k, size) — here all 8 > 5)
    val df = (docs.take(150).map { case (id, tx) => (id, tx, "web") } ++
      docs.take(8).map { case (id, tx) => (id + 1000L, tx + " curated", "books") })
      .toDF("doc_id", "text", "source")
    val out = Corpus.stratifiedSample(df, "text", "source", "doc_id", k = 5)
      .select("doc_id", "source", "sample_rank")
      .as[(Long, String, Int)].collect()
    assert(out.count(_._2 == "web") == 5 && out.count(_._2 == "books") == 5)
    assert(out.groupBy(_._2).values.forall(_.map(_._3).sorted.toSeq == Seq(1, 2, 3, 4, 5)))
    // deterministic + partition-invariant: the selection is content-keyed
    val again = Corpus.stratifiedSample(df.repartition(11), "text", "source",
        "doc_id", k = 5)
      .select("doc_id").as[Long].collect().toSet
    assert(again == out.map(_._1).toSet)
    // a stratum smaller than k yields all its rows
    val tiny = Corpus.stratifiedSample(
      df.where(col("source") === "books"), "text", "source", "doc_id", k = 100)
    assert(tiny.count() == 8)
    // NULL content never enters a sample (its NULL fingerprint would rank
    // FIRST ascending and win every selection)
    val withNull = df.union(Seq((9999L, null.asInstanceOf[String], "web"))
      .toDF("doc_id", "text", "source"))
    val sampled = Corpus.stratifiedSample(withNull, "text", "source",
        "doc_id", k = 5)
      .select("doc_id").as[Long].collect().toSet
    assert(!sampled.contains(9999L) && sampled == out.map(_._1).toSet)
  }

  test("decontaminate finds a planted leak with the exact shared-gram count") {
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "totally different training text about culinary arts and baking"))
      .toDF("doc_id", "text")
    // eval doc 10 copies train doc 1 with one word changed at the end:
    // 10 tokens → 6 5-grams each; the first 5 grams survive the edit
    val eval_ = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (11L, "completely unrelated evaluation text regarding orbital mechanics today"))
      .toDF("doc_id", "text")
    val out = Corpus.decontaminate(train, eval_, "text", "doc_id", n = 5)
      .as[(Long, Long, Long)].collect().toSet
    assert(out == Set((10L, 1L, 5L)))
  }

  test("corpusStats: exact discrete quantiles from the value histogram") {
    // group A: lengths 1..10 (even n) — p50 = element at (9*50)//100+1 =
    // rank 5 → 5; p90 → rank 9 → 9; p99 → rank 9 → 9
    // group B: lengths 1,1,1,1,100 (tie-heavy, odd n) — p50 = rank 3 → 1;
    // p90 = rank 4 → 1; p99 = rank 4 → 1 (the outlier only at rank 5)
    val docs =
      (1 to 10).map(i => ("A", ("x " * i).trim)) ++
        Seq(("B", "x"), ("B", "x"), ("B", "x"), ("B", "x"),
          ("B", ("x " * 100).trim))
    val out = Corpus.corpusStats(docs.toDF("source", "text"),
        Seq("source"), "text")
      .orderBy("source")
      .as[(String, Long, Double, Long, Long, Long)].collect().toList
    assert(out == List(
      ("A", 10L, 5.5, 5L, 9L, 9L),
      ("B", 5L, 20.8, 1L, 1L, 1L)))

    // NULL text never enters the histogram (its rank shift would diverge
    // across engines' NULL ordering); n_docs counts documents WITH text
    val withNull = docs :+ (("A", null.asInstanceOf[String]))
    val guarded = Corpus.corpusStats(withNull.toDF("source", "text"),
        Seq("source"), "text")
      .orderBy("source")
      .as[(String, Long, Double, Long, Long, Long)].collect().toList
    assert(guarded == out)
  }

  test("lmPerplexity: integer log2 surprisal, hand-checked bigram model") {
    // corpus: "a b a b" + "a b c" → cb: (a,b)=3 (b,a)=1 (b,c)=1; cu: a=3
    // b=2; V=3. bits = floor(log2((cu+V) div (cb+1))):
    //   (a,b): 6 div 4 = 1 → 0;  (b,a): 5 div 2 = 2 → 1;  (b,c): 2 → 1
    val docs = Seq((1L, "a b a b"), (2L, "a b c"),
      (3L, null.asInstanceOf[String]), (4L, "single"))
      .toDF("doc_id", "text")
    val out = Corpus.lmPerplexity(docs, docs, "text", "doc_id")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(out == Set(
      (1L, 3L, 1L, 33L),  // 0+1+0 bits over 3 bigrams → 100 div 3
      (2L, 2L, 1L, 50L),
      (3L, 0L, 0L, 0L),   // NULL text: no bigrams
      (4L, 0L, 0L, 0L)))  // one token: no bigrams
  }

  test("lmPerplexity scores unseen bigrams against zero counts") {
    val train = Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text")
    val score = Seq((9L, "z z")).toDF("doc_id", "text")
    // (z,z): cu=0, cb=0 → (0+3) div 1 = 3 → 1 bit
    val out = Corpus.lmPerplexity(train, score, "text", "doc_id")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq((9L, 1L, 1L, 100L)))
  }

  test("decontaminateSentences counts verbatim sentence leaks per eval doc") {
    val leaked = "the quick brown fox jumps over the lazy dog"
    val train = Seq(
      (1L, s"Some unrelated training prose here. $leaked. More filler text follows"),
      (2L, "Entirely different content with nothing shared at all"))
      .toDF("doc_id", "text")
    val eval_ = Seq(
      // one leaked + one clean sentence; "Yes" is under minChars → ignored
      (10L, s"$leaked! A genuinely novel evaluation sentence appears here. Yes"),
      (11L, "No overlap with training data in this document whatsoever"),
      (12L, null.asInstanceOf[String])) // NULL text → 0/0, still present
      .toDF("doc_id", "text")
    val out = Corpus.decontaminateSentences(train, eval_, "text", "doc_id")
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out == Map(10L -> ((2L, 1L)), 11L -> ((1L, 0L)), 12L -> ((0L, 0L))))
  }

  test("decontaminateSentences dedups repeats within a document") {
    val s1 = "a sentence long enough to clear the floor"
    val train = Seq((1L, s"$s1. $s1. $s1")).toDF("doc_id", "text")
    val eval_ = Seq((10L, s"$s1! $s1? trailing novel sentence of real length"))
      .toDF("doc_id", "text")
    val out = Corpus.decontaminateSentences(train, eval_, "text", "doc_id")
      .as[(Long, Long, Long)].collect().toList
    // the repeated sentence counts once: 2 distinct sentences, 1 leaked
    assert(out == List((10L, 2L, 1L)))
  }

  test("decontaminateFilter removes exactly the leaking train docs") {
    val leaked = "one two three four five six seven"
    val train = Seq(
      (1L, s"$leaked plus some extra training material here"),
      (2L, "completely clean training document number two here"),
      (3L, "another clean training document with original words"))
      .toDF("doc_id", "text")
    val eval_ = Seq((100L, leaked)).toDF("doc_id", "text")
    val kept = Corpus.decontaminateFilter(train, eval_, "text", "doc_id",
        n = 5).select("doc_id").as[Long].collect().sorted.toList
    assert(kept == List(2L, 3L)) // doc 1 shares grams with eval → dropped
  }

  test("stop-gram cap drops grams above the train-side document frequency") {
    val boiler = "this content is provided as is without any warranty"
    val train = Seq.tabulate(6)(i => (i.toLong, boiler)).toDF("doc_id", "text")
    val eval_ = Seq((100L, boiler)).toDF("doc_id", "text")
    // every gram's train-side df is 6 > maxDf=5 → all dropped, no pairs
    val capped = Corpus.decontaminate(train, eval_, "text", "doc_id",
      n = 5, maxDf = 5L)
    assert(capped.count() == 0)
    // with the cap above df, all 6 train docs pair with the eval doc
    val uncapped = Corpus.decontaminate(train, eval_, "text", "doc_id",
      n = 5, maxDf = 6L)
    assert(uncapped.count() == 6)
  }

  test("lmPerplexityIndexed: scoring from the persisted LM equals inline training") {
    val train = Seq((1L, "a b c a b"), (2L, "b c d")).toDF("doc_id", "text")
    val batch = Seq((10L, "a b c"), (11L, "x y z"), (12L, "q"))
      .toDF("doc_id", "text")
    val path = "target/graft-test-lm"
    Corpus.saveLm(train, "text", "doc_id", path)
    val indexed = Corpus.lmPerplexityIndexed(batch, path, "text", "doc_id")
      .orderBy("doc_id").as[(Long, Long, Long, Long)].collect().toList
    val inline = Corpus.lmPerplexity(train, batch, "text", "doc_id")
      .orderBy("doc_id").as[(Long, Long, Long, Long)].collect().toList
    assert(indexed == inline)
    assert(indexed.head._2 == 2L)          // "a b c" has two bigrams
    assert(indexed(2) == ((12L, 0L, 0L, 0L))) // one-token doc zero-fills
  }

  test("snapshotLm: the pin scores the frozen model while the live one grows") {
    val train = Seq((1L, "a b c a b"), (2L, "b c d")).toDF("doc_id", "text")
    val grow = Seq((3L, "a b a b a b")).toDF("doc_id", "text")
    val batch = Seq((10L, "a b c")).toDF("doc_id", "text")
    val path = "target/graft-test-lm-frozen"
    Corpus.saveLm(train, "text", "doc_id", path)
    Corpus.Lm.snapshot(spark, path, "pin")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").as[(Long, Long, Long, Long)].collect().toList
    val atPin = rows(Corpus.lmPerplexityIndexed(batch, path, "text", "doc_id"))
    // the append lands delta FILES next to the pinned ones — a directory
    // pin would absorb them and drift every score
    Corpus.appendToLm(grow, path, "text", "doc_id", opId = "spec_grow")
    val live = rows(Corpus.lmPerplexityIndexed(batch, path, "text", "doc_id"))
    assert(live != atPin, "the append must actually change live scores")
    assert(rows(Corpus.lmPerplexityIndexed(
      batch, path, "text", "doc_id", at = Family.Pinned("pin"))) == atPin)
    // compaction REWRITES the components; the pin keeps its state
    Corpus.Lm.compact(spark, path)
    assert(rows(Corpus.lmPerplexityIndexed(
      batch, path, "text", "doc_id", at = Family.Pinned("pin"))) == atPin)
    assert(rows(Corpus.lmPerplexityIndexed(batch, path, "text", "doc_id"))
      == live)
    // dropped pin stops resolving
    Corpus.Lm.dropSnapshot(spark, path, "pin")
    intercept[IllegalStateException] {
      Corpus.lmPerplexityIndexed(batch, path, "text", "doc_id",
        at = Family.Pinned("pin"))
    }
  }

  test("appendToLm: grown model scores exactly like training on the union") {
    val half1 = Seq((1L, "a b c a b"), (2L, "b c d")).toDF("doc_id", "text")
    val half2 = Seq((3L, "c d e"), (4L, "a e b")).toDF("doc_id", "text")
    val batch = Seq((10L, "a b c d e"), (11L, "x y")).toDF("doc_id", "text")
    val grown = "target/graft-test-lm-append"
    Corpus.saveLm(half1, "text", "doc_id", grown)
    Corpus.appendToLm(half2, grown, "text", "doc_id", opId = "grow1")
    def score(p: String) = Corpus.lmPerplexityIndexed(batch, p, "text", "doc_id")
      .orderBy("doc_id").as[(Long, Long, Long, Long)].collect().toList
    val fresh = "target/graft-test-lm-append-fresh"
    Corpus.saveLm(half1.unionAll(half2), "text", "doc_id", fresh)
    assert(score(grown) == score(fresh))
    // compaction folds the two delta generations; scoring is unchanged
    Corpus.Lm.compact(spark, grown)
    assert(score(grown) == score(fresh))
  }

  test("appendToLmExactlyOnce: every replay window is a no-op or a clean redo") {
    import org.apache.hadoop.fs.Path
    val fs = new Path("target").getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val path = "target/graft-test-lm-xonce"
    fs.delete(new Path(path), true)
    val b0 = Seq((1L, "a b c a b"), (2L, "b c d")).toDF("doc_id", "text")
    val b1 = Seq((3L, "c d e"), (4L, "a e b")).toDF("doc_id", "text")
    val batch = Seq((10L, "a b c d e")).toDF("doc_id", "text")
    // first batch CREATES the model via its publish
    Corpus.appendToLm(b0, path, "text", "doc_id", batchId = Some(0L))
    Corpus.appendToLm(b1, path, "text", "doc_id", batchId = Some(1L))
    def score() = Corpus.lmPerplexityIndexed(batch, path, "text", "doc_id")
      .orderBy("doc_id").as[(Long, Long, Long, Long)].collect().toList
    val expected = score()
    val fresh = "target/graft-test-lm-xonce-fresh"
    Corpus.saveLm(b0.unionAll(b1), "text", "doc_id", fresh)
    assert(expected == Corpus.lmPerplexityIndexed(batch, fresh, "text", "doc_id")
      .orderBy("doc_id").as[(Long, Long, Long, Long)].collect().toList)
    // a replayed plain append would double b1's counts and change scores;
    // each replay window below must leave them identical
    Corpus.appendToLm(b1, path, "text", "doc_id", batchId = Some(1L))
    assert(score() == expected) // window A: marker present → no-op
    fs.delete(new Path(s"$path/_ledger/batch-1"), false)
    Corpus.appendToLm(b1, path, "text", "doc_id", batchId = Some(1L))
    assert(score() == expected) // window B: post-publish crash → clean redo
    fs.delete(new Path(s"$path/_ledger/batch-1"), false)
    fs.mkdirs(new Path(s"$path/_staging/batch-1/bigrams"))
    fs.create(new Path(s"$path/_staging/batch-1/bigrams/part-junk"), true).close()
    Corpus.appendToLm(b1, path, "text", "doc_id", batchId = Some(1L))
    assert(score() == expected) // window C: mid-staging crash → re-stage
    assert(!fs.exists(new Path(s"$path/_staging/batch-1")))
  }

  test("contaminationOverlap: per-eval-doc fraction of grams seen in train") {
    val train = Seq(
      (1L, "a b c d e"),          // grams: abc bcd cde
      (2L, "x y z w v")).toDF("doc_id", "text")
    val eval_ = Seq(
      (10L, "a b c d q"),         // abc bcd | cdq → 2/3
      (11L, "a b c d e"),         // all three seen → 3/3
      (12L, "p q r s t"),         // none → 0/3
      (13L, "hi"),                // < n tokens → 0 grams, frac 0
      (14L, "a b c a b c d"))     // distinct grams: abc bca cab bcd → abc,bcd seen → 2/4
      .toDF("doc_id", "text")
    val got = Corpus.contaminationOverlap(train, eval_, "text", "doc_id", n = 3)
      .orderBy("eval_id")
      .as[(Long, Long, Long, Double)].collect().toList
    assert(got == List(
      (10L, 3L, 2L, 2.0 / 3), (11L, 3L, 3L, 1.0), (12L, 3L, 0L, 0.0),
      (13L, 0L, 0L, 0.0), (14L, 4L, 2L, 0.5)))
    // NULL-text eval docs are excluded entirely (no grams — corpusStats
    // convention, and what a SQL oracle's null-propagating filter does)
    val withNull = eval_.union(
      Seq((15L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    val guarded = Corpus.contaminationOverlap(train, withNull, "text",
      "doc_id", n = 3).orderBy("eval_id")
      .as[(Long, Long, Long, Double)].collect().toList
    assert(guarded == got)
  }

  test("contaminationOverlap ≡ brute-force gram-set arithmetic on randomized corpora") {
    val rnd = new scala.util.Random(29)
    val vocab = Vector.tabulate(12)(i => s"w$i")
    def doc(): String =
      Seq.fill(2 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val train = (1L to 25L).map(i => (i, doc()))
    val eval_ = (101L to 130L).map(i => (i, doc()))
    val n = 3
    def grams(t: String): Set[String] =
      t.split(" ").sliding(n).filter(_.length == n).map(_.mkString(" ")).toSet
    val trainSet = train.flatMap { case (_, t) => grams(t) }.toSet
    val want = eval_.map { case (id, t) =>
      val g = grams(t)
      val seen = g.count(trainSet.contains).toLong
      (id, g.size.toLong, seen,
        if (g.nonEmpty) seen.toDouble / g.size else 0.0)
    }.toList
    val got = Corpus.contaminationOverlap(train.toDF("doc_id", "text"),
      eval_.toDF("doc_id", "text"), "text", "doc_id", n)
      .orderBy("eval_id")
      .as[(Long, Long, Long, Double)].collect().toList
    assert(got == want)
  }

  test("budgetSelect: prefix rule resolves the straddling score class by id") {
    // scores: doc 1,2,3 score 3 (4 tokens each), doc 4,5 score 2 (4 each),
    // doc 6 score 1. Total tokens 24; budget 500‰ → 12 tokens.
    // Order (score desc, id): 1,2,3 fill 12 exactly; 4.. excluded.
    val docs = Seq(
      (1L, "a b c a"), (2L, "b c d d"), (3L, "c d e e"),
      (4L, "f f g g"), (5L, "g g h h"), (6L, "i i i i"))
      .toDF("doc_id", "text")
    def run(perMille: Int) = Corpus.budgetSelect(docs, "text", "doc_id",
        size(array_distinct(split(col("text"), " "))).cast("long"),
        budgetPerMille = perMille)
      .orderBy("doc_id")
      .as[(Long, Long, Long)].collect().toList
    assert(run(500) == List((1L, 3L, 4L), (2L, 3L, 4L), (3L, 3L, 4L)))
    // 375‰ → 9 tokens: the score-3 class itself straddles; prefix rule
    // admits docs 1,2 (8 tokens), doc 3 would reach 12 > 9
    assert(run(375) == List((1L, 3L, 4L), (2L, 3L, 4L)))
    // 1000‰ → everything (incl. the score-1 doc); null text excluded
    val withNull = docs.union(Seq((7L, null.asInstanceOf[String]))
      .toDF("doc_id", "text"))
    val all = Corpus.budgetSelect(withNull, "text", "doc_id",
        size(array_distinct(split(col("text"), " "))).cast("long"),
        budgetPerMille = 1000)
      .orderBy("doc_id").as[(Long, Long, Long)].collect().toList
    assert(all.map(_._1) == List(1L, 2L, 3L, 4L, 5L, 6L))
  }

  test("budgetSelect ≡ brute-force sorted prefix on randomized corpora") {
    val rnd = new scala.util.Random(7)
    val docs = (1L to 80L).map { i =>
      val n = 1 + rnd.nextInt(12)
      (i, Seq.fill(n)(("w" + rnd.nextInt(6))).mkString(" "))
    }
    val df = docs.toDF("doc_id", "text")
    val score = size(array_distinct(split(col("text"), " "))).cast("long")
    for (perMille <- Seq(0, 250, 500, 900, 1000)) {
      val got = Corpus.budgetSelect(df, "text", "doc_id", score, perMille)
        .orderBy("doc_id").as[(Long, Long, Long)].collect().toList
      // reference: total sort + running prefix in plain Scala
      val scored = docs.map { case (id, t) =>
        val toks = t.split(" ")
        (id, toks.distinct.length.toLong, toks.length.toLong)
      }
      val budget = scored.map(_._3).sum * perMille / 1000
      var cum = 0L
      val want = scored.sortBy { case (id, s, _) => (-s, id) }
        .takeWhile { case (_, _, n) => { cum += n; cum <= budget } }
        .sortBy(_._1).toList
      assert(got == want, s"perMille=$perMille")
    }
  }

  test("quantizeScore: continuous scores select by bounded quantized classes") {
    val rnd = new scala.util.Random(43)
    // CONTINUOUS score (distinct per doc — the degenerate histogram case):
    // quantization must bound the class count and replay deterministically
    val docs = (1L to 120L).map { i =>
      val n = 1 + rnd.nextInt(12)
      (i, rnd.nextDouble(), Seq.fill(n)("w").mkString(" "))
    }
    val df = docs.toDF("doc_id", "quality", "text")
    val q = Corpus.quantizeScore(col("quality"), resolution = 8)
    // the class count the selector's windows actually see is bounded by
    // the resolution, not the corpus
    assert(df.select(q.as("s")).distinct().count() <= 8)
    val got = Corpus.budgetSelect(df, "text", "doc_id", q, 500)
      .orderBy("doc_id").as[(Long, Long, Long)].collect().toList
    // reference: the same floor(quality*8) classes, prefix rule by
    // (class DESC, id ASC) in plain Scala
    val scored = docs.map { case (id, qual, t) =>
      (id, math.floor(qual * 8).toLong, t.split(" ").length.toLong)
    }
    val budget = scored.map(_._3).sum * 500 / 1000
    var cum = 0L
    val want = scored.sortBy { case (id, s, _) => (-s, id) }
      .takeWhile { case (_, _, n) => { cum += n; cum <= budget } }
      .sortBy(_._1).toList
    assert(got == want)
  }

  test("budgetSelectBy ≡ per-partition brute-force prefix on randomized corpora") {
    val rnd = new scala.util.Random(31)
    val docs = (1L to 80L).map { i =>
      val n = 1 + rnd.nextInt(12)
      (i, "s" + rnd.nextInt(3),
        Seq.fill(n)(("w" + rnd.nextInt(6))).mkString(" "))
    }
    val df = docs.toDF("doc_id", "source", "text")
    val score = size(array_distinct(split(col("text"), " "))).cast("long")
    for (perMille <- Seq(0, 250, 500, 900, 1000)) {
      val got = Corpus.budgetSelectBy(df, "text", "doc_id", score,
          partitionCols = Seq("source"), perMille)
        .orderBy("doc_id").as[(Long, String, Long, Long)].collect().toList
      // reference: per source, total sort + running prefix in plain Scala
      val want = docs.groupBy(_._2).toSeq.flatMap { case (src, grp) =>
        val scored = grp.map { case (id, _, t) =>
          val toks = t.split(" ")
          (id, src, toks.distinct.length.toLong, toks.length.toLong)
        }
        val budget = scored.map(_._4).sum * perMille / 1000
        var cum = 0L
        scored.sortBy { case (id, _, s, _) => (-s, id) }
          .takeWhile { case (_, _, _, n) => { cum += n; cum <= budget } }
      }.sortBy(_._1).toList
      assert(got == want, s"perMille=$perMille")
    }
  }

  test("deleteFromLm: subtracted model scores exactly like training on the survivors") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val vocab = Vector("a", "b", "c", "d", "e", "f", "zonly")
    val train = (1L to 50L).map { i =>
      // doc 50 is the sole carrier of "zonly": deleting it must shrink V
      val words = if (i == 50L) Vector("zonly", "a")
        else Vector.fill(3 + rnd.nextInt(12))(vocab(rnd.nextInt(6)))
      (i, words.mkString(" "))
    }
    val eval_ = (100L to 110L).map(i =>
      (i, Vector.fill(6)(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
    val deadIds = Set(7L, 20L, 50L)
    val shrunk = "target/graft-test-lm-delete"
    graft.ext.Corpus.saveLm(train.toDF("doc_id", "text"), "text", "doc_id",
      shrunk)
    graft.ext.Corpus.deleteFromLm(
      train.filter(d => deadIds.contains(d._1)).toDF("doc_id", "text"),
      shrunk, "text", "doc_id", opId = "forget1")
    val fresh = "target/graft-test-lm-fresh"
    graft.ext.Corpus.saveLm(
      train.filterNot(d => deadIds.contains(d._1)).toDF("doc_id", "text"),
      "text", "doc_id", fresh)
    def scores(p: String) = graft.ext.Corpus.lmPerplexityIndexed(
      eval_.toDF("doc_id", "text"), p, "text", "doc_id")
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(scores(shrunk) == scores(fresh))
    // the sole-carrier token is really gone from the vocabulary: its
    // delta rows sum to zero (invisible to scoring immediately) and
    // compaction removes them physically
    def vocabCount(p: String, tok: String) =
      spark.read.parquet(graft.ops.Stage.resolve(spark, s"$p/vocab"))
        .where($"tok" === tok).agg(coalesce(sum($"c"), lit(0L)))
        .head().getLong(0)
    assert(vocabCount(shrunk, "zonly") == 0)
    graft.ext.Corpus.Lm.compact(spark, shrunk)
    assert(spark.read.parquet(graft.ops.Stage.resolve(spark, s"$shrunk/vocab"))
      .where($"tok" === "zonly").count() == 0)
    // and the compacted model still scores identically to the fresh train
    assert(scores(shrunk) == scores(fresh))
  }

  test("LM delta ops are atomic under retry: same opId applies exactly once") {
    import spark.implicits._
    val docs = Seq((1L, "a b c"), (2L, "b c d")).toDF("doc_id", "text")
    val extra = Seq((3L, "c d e")).toDF("doc_id", "text")
    val path = "target/graft-test-lm-retry"
    graft.ext.Corpus.saveLm(docs, "text", "doc_id", path)
    graft.ext.Corpus.appendToLm(extra, path, "text", "doc_id", opId = "g1")
    def score() = graft.ext.Corpus.lmPerplexityIndexed(
      Seq((9L, "a b c d e")).toDF("doc_id", "text"), path, "text", "doc_id")
      .collect().map(_.toSeq).toSeq
    val once = score()
    // a RETRY of the same op (the crashed-caller recovery path) is a
    // no-op — a plain re-append would double the batch's counts
    graft.ext.Corpus.appendToLm(extra, path, "text", "doc_id", opId = "g1")
    assert(score() == once)
    // the delete path shares the machinery: retried forget, one apply
    graft.ext.Corpus.deleteFromLm(extra, path, "text", "doc_id", opId = "f1")
    val afterDelete = score()
    graft.ext.Corpus.deleteFromLm(extra, path, "text", "doc_id", opId = "f1")
    assert(score() == afterDelete)
    // and the fold keeps both verdicts (op markers survive compaction)
    graft.ext.Corpus.Lm.compact(spark, path)
    assert(score() == afterDelete)
    graft.ext.Corpus.appendToLm(extra, path, "text", "doc_id", opId = "g1")
    assert(score() == afterDelete)
  }

  test("merged per-part histograms reproduce the whole-corpus report card exactly") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val docs = (1L to 300L).map { i =>
      val src = Seq("web", "book", "code")(rnd.nextInt(3))
      val len = 1 + rnd.nextInt(40)
      (i, src, Seq.fill(len)("w").mkString(" "))
    } ++ Seq((301L, "web", null: String)) // NULL text must drop in both paths
    val df = docs.toDF("doc_id", "source", "text")
    // three arbitrary disjoint "days" (uneven split, one day source-empty)
    val parts = Seq(
      df.where($"doc_id" % 7 === 0),
      df.where($"doc_id" % 7 === 1),
      df.where($"doc_id" % 7 >= 2))
    val merged = graft.ext.Corpus.statsFromHistogram(
      graft.ext.Corpus.mergeHistograms(
        parts.map(p => graft.ext.Corpus.tokenHistogram(p, Seq("source"), "text")),
        Seq("source")), Seq("source"))
    val whole = graft.ext.Corpus.corpusStats(df, Seq("source"), "text")
    assert(merged.orderBy("source").collect().toSeq ==
      whole.orderBy("source").collect().toSeq)
  }

  test("pipelineFunnel composes the gates in order with exact attrition") {
    val stop = Seq("the", "a", "of", "and", "to", "in", "is")
    val df = Seq(
      (1L, "the a of and to in is the a of"), // all-stopword: fails quality
      (2L, "THE A OF AND TO IN IS THE A OF"), // same normalized class, passes
      (3L, "alpha bravo charlie delta echo foxtrot"),
      (4L, "ALPHA bravo charlie delta echo foxtrot"), // normalized dup of 3
      (5L, "golf hotel india juliet kilo lima mike november"),
      (6L, "oscar papa quebec romeo sierra tango uniform victor"),
      (7L, null: String) // dropped at ingest
    ).toDF("doc_id", "text")
    val out = Corpus.pipelineFunnel(df, "text", "doc_id", stop,
      qualityMin = 0.68, budgetPerMille = 500)
      .orderBy("stage_idx")
      .select("stage", "docs_kept", "tokens_kept")
      .as[(String, Long, Long)].collect().toSeq
    assert(out == Seq(
      ("ingest", 6L, 48L),
      ("quality", 5L, 38L),
      // keeper of the {1,2} class is 2: min id AMONG QUALITY SURVIVORS —
      // dedup-before-gate would pick 1 and the class would vanish
      ("dedup", 4L, 32L),
      // budget = 32·500‰ = 16 tokens; the quality-1.0 class in id order:
      // 3 (cum 6), 5 (cum 14), 6 (cum 22 > 16 — dropped); 2 never reached
      ("budget", 2L, 14L)))
  }

  test("histogramDrift: integer-ppm shares and per-bucket deltas, exact") {
    def doc(id: Long, nTokens: Int) =
      (id, Seq.fill(nTokens)("w").mkString(" "))
    val a = Seq(doc(1, 4), doc(2, 9), doc(3, 12)).toDF("doc_id", "text")
    val b = Seq(doc(4, 20), doc(5, 9)).toDF("doc_id", "text")
    val rows = Corpus.histogramDrift(a, b, "text", bucketWidth = 8)
      .orderBy("bucket")
      .select("bucket", "n_a", "n_b", "share_a_ppm", "share_b_ppm",
        "delta_ppm")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(rows == Seq(
      (0L, 1L, 0L, 333333L, 0L, 333333L),
      (1L, 2L, 1L, 666666L, 500000L, 166666L),
      (2L, 0L, 1L, 0L, 500000L, 500000L)))
    // an empty side reports 0 shares, never a division error
    val empty = b.where(col("doc_id") < 0)
    val vsEmpty = Corpus.histogramDrift(a, empty, "text", 8)
      .agg(max(col("share_b_ppm")), sum(col("delta_ppm")))
      .as[(Option[Long], Long)].head()
    assert(vsEmpty == ((Some(0L), 999999L)))
  }

  test("docNovelty counts cross-document trigram sharing exactly") {
    val df = Seq(
      (1L, "a b c d"),       // trigrams {a b c, b c d}
      (2L, "a b c x"),       // {a b c, b c x} — shares "a b c" with 1
      (3L, "p q r"),         // {p q r} — unique
      (4L, "u v"),           // too short: no grams
      (5L, null: String)
    ).toDF("doc_id", "text")
    val byId = Corpus.docNovelty(df, "text", "doc_id", n = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(byId(1L) == ((2L, 1L, 0.5)))
    assert(byId(2L) == ((2L, 1L, 0.5)))
    assert(byId(3L) == ((1L, 0L, 0.0)))
    assert(byId(4L) == ((0L, 0L, 0.0)))
    assert(byId(5L) == ((0L, 0L, 0.0)))
  }

  test("dsirWeights: target == raw means zero importance everywhere") {
    // identical distributions → bitsRaw == bitsTgt per bucket → every
    // document's log-ratio is exactly 0 and nothing is selected
    val df = docs.toDF("doc_id", "text")
    val out = Corpus.dsirWeights(df, df, "text", "doc_id")
      .select("dsir_bits", "selected")
      .as[(Long, Boolean)].collect()
    assert(out.forall { case (bits, sel) => bits == 0L && !sel })
  }

  test("dsirWeights separates target-like from corpus-typical documents") {
    // 62 common docs + 2 rare docs; target = the rare pair. The rare
    // gram's bucket is frequent in the target and rare in raw → positive
    // bits; the common gram is absent from the target → negative. Counts
    // sized so the whole-bit floor keeps a nonzero signal:
    //   common: floor(log2((64+64)//63)) − floor(log2((2+64)//1)) = 1−6
    //   rare:   floor(log2((64+64)//3))  − floor(log2((2+64)//3)) = 5−4
    // (grams chosen to hash to DISTINCT buckets — 'aa bb' → 0,
    // 'xx zz' → 32 under the char-fold hash mod 64)
    val raw = (Seq.tabulate(62)(i => (i.toLong, "aa bb")) ++
      Seq((100L, "xx zz"), (101L, "xx zz"))).toDF("doc_id", "text")
    val target = raw.where(col("doc_id") >= 100L)
    val byId = Corpus.dsirWeights(raw, target, "text", "doc_id")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(byId(100L) == ((1L, 1L, true)))
    assert(byId(0L) == ((1L, -5L, false)))
  }

  test("dsirWeights: documents with no bigrams come back (0, 0, false)") {
    val raw = Seq((1L, "single"), (2L, null: String), (3L, "aa bb"))
      .toDF("doc_id", "text")
    val target = raw.where(col("doc_id") === 3L)
    val byId = Corpus.dsirWeights(raw, target, "text", "doc_id")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(byId(1L) == ((0L, 0L, false)))
    assert(byId(2L) == ((0L, 0L, false)))
    // the only bigram is 100% of BOTH distributions → log-ratio exactly 0
    assert(byId(3L) == ((1L, 0L, false)))
  }

  test("bpeMerges: hand-traced merges, left-to-right overlap rule, tie-breaks") {
    // corpus: "aaab" x3, "ab" x2 → words {aaab:3, ab:2}
    //   syms: [a a a b </w>]:3, [a b </w>]:2
    // iter1 pairs: (a,a):6 [two per aaab], (a,b):5, (b,</w>):5
    //   → merge (a,a) n=6; aaab → [aa a b </w>] (LEFT-TO-RIGHT: the
    //     second (a,a) overlaps the first and does NOT merge)
    // iter2 pairs: (aa,a):3, (a,b):5, (b,</w>):5 → tie at 5 →
    //   lexicographic: (a,b) wins; → [aa ab </w>]:3, [ab </w>]:2
    // iter3: (aa,ab):3, (ab,</w>):5 → (ab,</w>) n=5
    val docs = Seq(
      (1L, "aaab aaab ab"),
      (2L, "aaab ab")
    ).toDF("doc_id", "text")
    val got = Corpus.bpeMerges(docs, "text", nMerges = 3)
      .orderBy("rank")
      .select("rank", "left", "right", "pair_count")
      .as[(Int, String, String, Long)].collect().toSeq
    assert(got == Seq(
      (1, "a", "a", 6L),
      (2, "a", "b", 5L),
      (3, "ab", "</w>", 5L)))
    // exhaustion: a corpus whose symbols fully merge stops early
    val tiny = Seq((1L, "ab")).toDF("doc_id", "text")
    val all = Corpus.bpeMerges(tiny, "text", nMerges = 10)
      .select("left", "right").as[(String, String)].collect().toSeq
    // [a b </w>] → (a,b) → [ab </w>] → (ab,</w>) → [ab</w>] → no pairs
    assert(all == Seq(("a", "b"), ("ab", "</w>")))
  }

  test("bpeMergesInMemory ≡ bpeMerges: fixture, real docs, deep-merge prefix") {
    def table(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("rank").select("rank", "left", "right", "pair_count")
        .as[(Int, String, String, Long)].collect().toSeq
    // the hand-traced fixture, including tie-breaks and early exhaustion
    val docs = Seq((1L, "aaab aaab ab"), (2L, "aaab ab")).toDF("doc_id", "text")
    assert(table(Corpus.bpeMergesInMemory(docs, "text", 3)) ==
      table(Corpus.bpeMerges(docs, "text", 3)))
    val tiny = Seq((1L, "ab")).toDF("doc_id", "text")
    assert(table(Corpus.bpeMergesInMemory(tiny, "text", 10)) ==
      table(Corpus.bpeMerges(tiny, "text", 10)))
    // real corpus text at sf0.001: the two loops agree merge-for-merge,
    // and the production loop's deeper run EXTENDS the bootstrap's table
    // (training is a deterministic prefix process)
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val dist8 = table(Corpus.bpeMerges(real, "text", 8))
    val mem32 = table(Corpus.bpeMergesInMemory(real, "text", 32))
    assert(mem32.take(8) == dist8)
    assert(mem32.size == 32)
    // the driver-residency guard fails loudly, never mid-collect
    val e = intercept[IllegalArgumentException] {
      Corpus.bpeMergesInMemory(real, "text", 4, maxVocab = 10)
    }
    assert(e.getMessage.contains("maxVocab"))
  }

  test("stupidBackoffBits: all three chain levels, hand-computed") {
    // train: "a b c a b d" → trigrams abc, bca, cab, abd; bigrams
    // ab(2) bc bd ca; unigrams a(2) b(2) c d → N=6, V=4
    val train = Seq((1L, "a b c a b d")).toDF("doc_id", "text")
    val score = Seq(
      // "a b c": seen trigram, c3p(ab)=2, c3=1 → bits = log2(2//1) = 1
      (10L, "a b c"),
      // "c a b": seen trigram c3p(ca)=1, c3=1 → 0 bits
      (11L, "c a b"),
      // "b c d": trigram bcd unseen, bigram cd unseen → unigram fall:
      //   (N+V) // (c(d)+1) = 10 // 2 = 5 → 2 bits + 2 penalty = 4
      (12L, "b c d"),
      // "d a b": trigram dab unseen, but bigram (p,w) = "ab" IS seen →
      //   level 1: cu(a)=2 // cb(ab)=2 → 0 bits + 1 penalty = 1
      (13L, "d a b"),
      // "c a q": trigram unseen, bigram aq unseen, q OOV:
      //   10 // 1 = 10 → 3 bits + 2 = 5
      (14L, "c a q"),
      // "a b x" where bigram ab IS seen but trigram abx is not →
      //   level-1: cu(a)=2, cb(ab)=2 → log2(1)=0 bits + 1 penalty = 1
      (15L, "a b x x b d"),
      // too short for any trigram
      (16L, "a b")
    ).toDF("doc_id", "text")
    val got = Corpus.stupidBackoffBits(train, score, "text", "doc_id")
      .orderBy("doc_id")
      .select("doc_id", "n_trigrams", "n_backoffs", "n_unigram_backoffs",
        "total_bits")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got(0) == ((10L, 1L, 0L, 0L, 1L)))
    assert(got(1) == ((11L, 1L, 0L, 0L, 0L)))
    assert(got(2) == ((12L, 1L, 1L, 1L, 4L)))
    assert(got(3) == ((13L, 1L, 1L, 0L, 1L)))
    assert(got(4) == ((14L, 1L, 1L, 1L, 5L)))
    // doc 15: trigrams abx, bxx, xxb, xbd — abx's bigram is (b,x),
    // unseen → unigram x OOV: 10//1 → 3+2 = 5 (level 2); bxx → (x,x)
    // unseen → x OOV again: 5; xxb → (x,b) unseen → unigram b: 10//3 →
    // 1+2 = 3; xbd → bigram (b,d) SEEN: cu(b)=2 // cb(bd)=1 → 1 bit
    // +1 = 2 (level 1)
    assert(got(5) == ((15L, 4L, 4L, 3L, 5L + 5L + 3L + 2L)))
    assert(got(6) == ((16L, 0L, 0L, 0L, 0L)))
  }

  test("cmsTokenSketch: merge(parts) == sketch(whole), estimates >= truth") {
    val docs = Seq((1L, "a b a c d"), (2L, "b e f a"), (3L, "g h a b"))
      .toDF("doc_id", "text")
    def cells(df: org.apache.spark.sql.DataFrame) =
      df.select("d", "bucket", "c").as[(Long, Long, Long)].collect()
        .map { case (d, b, c) => (d, b) -> c }.toMap
    val whole = cells(Corpus.cmsTokenSketch(docs, "text", 4, 1024))
    val merged = cells(Corpus.cmsMerge(Seq(
      Corpus.cmsTokenSketch(docs.where($"doc_id" <= 1), "text", 4, 1024),
      Corpus.cmsTokenSketch(docs.where($"doc_id" > 1), "text", 4, 1024))))
    assert(whole == merged)
    // every estimate dominates the true count
    val sketch = Corpus.cmsTokenSketch(docs, "text", 4, 1024)
    val exact = docs.select(explode(split($"text", " ")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("exact"))
    val est = Corpus.cmsEstimates(sketch, exact.select("tok"), 4, 1024)
      .join(exact, Seq("tok"))
      .select("tok", "est", "exact").as[(String, Long, Long)].collect()
    assert(est.nonEmpty && est.forall { case (_, e, x) => e >= x })
    // a was seen 4 times; with 4096 cells over 8 tokens no depth
    // collides, so the min is exact
    assert(est.find(_._1 == "a").get._2 == 4L)
  }

  test("cmsTokenSketch: a forced collision only ever overcounts") {
    // width 2, depth 1: 8 distinct tokens into 2 buckets MUST collide;
    // the estimate equals the bucket total — strictly above truth for
    // any token sharing its bucket, never below
    val docs = Seq((1L, "a b c d e f g h a")).toDF("doc_id", "text")
    val sketch = Corpus.cmsTokenSketch(docs, "text", 1, 2)
    val total = sketch.agg(sum($"c")).as[Long].head()
    assert(total == 9L) // every occurrence lands in exactly one cell
    val exact = docs.select(explode(split($"text", " ")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("exact"))
    val est = Corpus.cmsEstimates(sketch, exact.select("tok"), 1, 2)
      .join(exact, Seq("tok"))
      .select("est", "exact").as[(Long, Long)].collect()
    assert(est.forall { case (e, x) => e >= x })
    assert(est.exists { case (e, x) => e > x }) // the collision is real
  }

  test("hllTokenRegisters: merge == whole, estimate replays, repetition-blind") {
    val docs = Seq((1L, "a b c d e"), (2L, "f g h i j"), (3L, "a b c f g"))
      .toDF("doc_id", "text")
    def regs(df: org.apache.spark.sql.DataFrame) =
      df.select("bucket", "r").as[(Long, Long)].collect().toMap
    val whole = regs(Corpus.hllTokenRegisters(docs, "text"))
    val merged = regs(Corpus.hllMerge(Seq(
      Corpus.hllTokenRegisters(docs.where($"doc_id" <= 1), "text"),
      Corpus.hllTokenRegisters(docs.where($"doc_id" > 1), "text"))))
    assert(whole == merged)
    // doc 3 repeats tokens docs 1-2 already carry: registers are a
    // DISTINCT summary, so dropping it changes nothing
    val dedup = regs(Corpus.hllTokenRegisters(docs.where($"doc_id" <= 2), "text"))
    assert(whole == dedup)
    val est = Corpus.hllEstimate(Corpus.hllTokenRegisters(docs, "text"))
      .select("m", "zero_registers", "s", "est_distinct")
      .as[(Long, Long, Long, Long)].head()
    assert(est._1 == 64L && est._2 == 64L - whole.size)
    // S = filled-register sum + 2^25 per empty register, exactly
    val sExpected = whole.values.map(r => 1L << (25 - r)).sum +
      (64L - whole.size) * (1L << 25)
    assert(est._3 == sExpected)
    assert(est._4 == 709L * 64 * 64 * (1L << 25) / (1000L * sExpected))
  }

  test("hllEstimate: empty input yields the all-zero-registers report") {
    // sum() over zero register rows is NULL — the report must coalesce
    // to the well-defined empty-corpus shape, not NULL-propagate
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val est = Corpus.hllEstimate(Corpus.hllTokenRegisters(empty, "text"))
      .select("m", "zero_registers", "s", "est_distinct")
      .as[(Long, Long, Long, Long)].head()
    assert(est._1 == 64L && est._2 == 64L)
    assert(est._3 == 64L * (1L << 25)) // S = m·2^25, all registers empty
    // raw estimate α·m²·2^25 / S = 709·64/1000 = 45 (div) — the serving
    // correction below is what maps this to ~0
    assert(est._4 == 709L * 64 * 64 * (1L << 25) / (1000L * 64 * (1L << 25)))
  }

  test("hllServedEstimate: linear counting when eligible, hand-computed") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("m", LongType), StructField("zero_registers", LongType),
      StructField("s", LongType), StructField("est_distinct", LongType)))
    def served(m: Long, v: Long, est: Long): Long =
      Corpus.hllServedEstimate(spark.createDataFrame(
        java.util.Arrays.asList(Row(m, v, 0L, est)), schema))
        .select("served_estimate").as[Long].head()
    // eligible (est ≤ 5m/2 = 160, V > 0): linear counting m·ln(m/V)
    // V = 32 → 64·ln(2) = 44.361… → 44 (round-half-even on .36)
    assert(served(64L, 32L, 100L) == 44L)
    // V = 8 → 64·ln(8) = 133.084… → 133
    assert(served(64L, 8L, 150L) == 133L)
    // empty corpus: V = m → 64·ln(1) = 0 — the correction maps the raw
    // div-estimate (45) to the true zero
    assert(served(64L, 64L, 45L) == 0L)
    // ineligible by estimate (> 160): raw estimate passes through
    assert(served(64L, 3L, 161L) == 161L)
    // ineligible by zero_registers (V = 0): linear counting undefined,
    // raw estimate passes through
    assert(served(64L, 0L, 120L) == 120L)
  }

  test("pmiCollocations: hand-computed lifts, floors, total-order top-k") {
    // "a b a b c": N = 5; bigrams (a,b):2 (b,a):1 (b,c):1;
    // unigrams a:2 b:2 c:1
    //   (a,b): lift = 2·5 div (2·2) = 2 → 1 bit
    //   (b,c): lift = 1·5 div (2·1) = 2 → 1 bit
    //   (b,a): lift = 1·5 div (2·2) = 1 → 0 bits
    val docs = Seq((1L, "a b a b c")).toDF("doc_id", "text")
    def run(k: Int, minCount: Long, minLift: Long) =
      Corpus.pmiCollocations(docs, "text", "doc_id", k, minCount, minLift)
        .select("w1", "w2", "n_pair", "n_l", "n_r", "lift", "pmi_bits")
        .as[(String, String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(run(10, 1L, 1L) == Seq(
      ("a", "b", 2L, 2L, 2L, 2L, 1L),  // lift ties break by n_pair DESC
      ("b", "c", 1L, 2L, 1L, 2L, 1L),
      ("b", "a", 1L, 2L, 2L, 1L, 0L)))
    // the positive-PMI default floor drops the independence-level pair
    assert(run(10, 1L, 2L).map(r => (r._1, r._2)) ==
      Seq(("a", "b"), ("b", "c")))
    // the hapax guard drops everything below the count floor
    assert(run(10, 2L, 1L).map(r => (r._1, r._2)) == Seq(("a", "b")))
    // k truncates the total order deterministically
    assert(run(1, 1L, 1L).map(r => (r._1, r._2)) == Seq(("a", "b")))
  }

  test("kneserNeyBits: interpolation, continuation fall, hand-computed") {
    // train: "a b a c" + "a b b" → cb: ab=2 ba=1 ac=1 bb=1;
    // cu(a)=3 n1p_p(a)=2 {b,c}; cu(b)=2 n1p_p(b)=2 {a,b};
    // n1p_w: b←{a,b}=2, a←{b}=1, c←{a}=1; B=4 types, V=3, B+V=7
    val train = Seq((1L, "a b a c"), (2L, "a b b")).toDF("doc_id", "text")
    val score = Seq(
      // (a,b): num = max(4·2−3,0)·7 + 3·2·(2+1) = 35+18 = 53,
      //   den = 4·3·7 = 84 → 84//53 = 1 → 0 bits
      // (b,z): cb=0 → num = 3·2·(0+1) = 6, den = 4·2·7 = 56 →
      //   56//6 = 9 → 3 bits
      (10L, "a b z"),
      // (z,a): prefix z unseen → continuation fall:
      //   7 // (n1p_w(a)+1 = 2) = 3 → 1 bit, 1 prefix miss
      (11L, "z a"),
      // sub-two-token → all zeros
      (12L, "q")
    ).toDF("doc_id", "text")
    val got = Corpus.kneserNeyBits(train, score, "text", "doc_id")
      .orderBy("doc_id")
      .select("doc_id", "n_bigrams", "n_unseen_prefix", "total_bits",
        "bits_x100")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got(0) == ((10L, 2L, 0L, 3L, 150L)))
    assert(got(1) == ((11L, 1L, 1L, 1L, 100L)))
    assert(got(2) == ((12L, 0L, 0L, 0L, 0L)))
  }

  test("kneserNeyBits: per-prefix probabilities sum to exactly 1") {
    // the design claim behind `den div num >= 1`: for each seen prefix,
    // Σ_w∈V num(w) == den. Verify by brute force over the tiny model.
    val train = Seq((1L, "a b a c"), (2L, "a b b")).toDF("doc_id", "text")
    val vocab = Seq("a", "b", "c")
    // model stats (as in the previous test's comment)
    val cb = Map(("a", "b") -> 2L, ("b", "a") -> 1L, ("a", "c") -> 1L,
      ("b", "b") -> 1L)
    val cu = Map("a" -> 3L, "b" -> 2L)
    val n1pP = Map("a" -> 2L, "b" -> 2L)
    val n1pW = Map("a" -> 1L, "b" -> 2L, "c" -> 1L)
    val bv = 4L + 3L
    for (p <- Seq("a", "b")) {
      val den = 4L * cu(p) * bv
      val numSum = vocab.map { w =>
        math.max(4L * cb.getOrElse((p, w), 0L) - 3L, 0L) * bv +
          3L * n1pP(p) * (n1pW.getOrElse(w, 0L) + 1L)
      }.sum
      assert(numSum == den, s"prefix $p: $numSum != $den")
    }
    // and the engine agrees the seen-prefix branch never clamps: score
    // the full vocab cross product, every bits value must be >= 0
    val score = (for (p <- vocab; w <- vocab) yield s"$p $w")
      .zipWithIndex.map { case (t, i) => (100L + i, t) }
      .toDF("doc_id", "text")
    val bits = Corpus.kneserNeyBits(train, score, "text", "doc_id")
      .select("total_bits").as[Long].collect()
    assert(bits.forall(_ >= 0L))
  }

  test("nbClassBits: hand-computed weights, unknown-token fallback, empty docs") {
    // train: positive class says "good", negative says "bad"; "both"
    // appears once in each. Counts: np(good)=2, nn(good)=0; np(bad)=0,
    // nn(bad)=2; np(both)=nn(both)=1. Totals tp=tn=3, V=3.
    val train = Seq(
      (1L, true, "good good both"),
      (2L, false, "bad bad both")
    ).toDF("doc_id", "y", "text")
    // bits_c(t) = floor(log2((T_c + V) div (n_c + 1))), wbits = neg - pos:
    //   good: pos (6 div 3)=2 -> 1 bit;  neg (6 div 1)=6 -> 2 bits; w=+1
    //   bad : pos 6 -> 2;               neg 2 -> 1;                w=-1
    //   both: pos (6 div 2)=3 -> 1;     neg 3 -> 1;                w=0
    //   unknown (n_c = 0 both sides): 6 -> 2 vs 6 -> 2;            w=0
    val score = Seq(
      (10L, "good good bad"),   // +1 +1 -1 = +1, keep
      (11L, "bad both"),        // -1 +0 = -1, drop
      (12L, "novel good"),      // unk 0 + 1 = +1, keep
      (13L, null.asInstanceOf[String]) // empty: (0, 0, keep)
    ).toDF("doc_id", "text")
    val got = Corpus.nbClassBits(train, score, col("y"), "text", "doc_id")
      .orderBy("doc_id")
      .select("doc_id", "n_tokens", "margin_bits", "keep")
      .as[(Long, Long, Long, Boolean)].collect().toSeq
    assert(got == Seq(
      (10L, 3L, 1L, true),
      (11L, 2L, -1L, false),
      (12L, 2L, 1L, true),
      (13L, 0L, 0L, true)))
  }

  test("perplexityBuckets: score-class terciles with integer boundaries") {
    val spark = TestSpark.spark
    import spark.implicits._
    // a tiny LM over a fluent phrase; score docs of graded fluency so
    // bits_x100 classes separate deterministically
    val train = Seq((1L, "the cat sat on the mat the cat sat on the mat"))
      .toDF("doc_id", "text")
    val lm = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "graft-lm-bkt-").toString
    Corpus.saveLm(train, "text", "doc_id", lm)
    val probe = Seq(
      (10L, "the cat sat on the mat"),   // all seen bigrams — most fluent
      (11L, "the cat sat on the mat"),   // same class as 10
      (12L, "the cat sat zz on"),        // one unseen bigram
      (13L, "zz qq ww ee rr tt"),        // all unseen — least fluent
      (14L, "the cat zz qq ww ee"))      // 1 of 5 bigrams seen
      .toDF("doc_id", "text")
    val got = Corpus.perplexityBuckets(probe, lm, "text", "doc_id",
      nBuckets = 3)
      .select("doc_id", "bits_x100", "ppl_bucket")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // same score class ⇒ same bucket, always (10 and 11 are identical)
    assert(got(10L)._2 == got(11L)._2 && got(10L)._3 == got(11L)._3)
    // buckets are monotone in the score and span the range
    val byScore = got.values.toSeq.sortBy(_._2)
    assert(byScore.map(_._3) == byScore.map(_._3).sorted)
    assert(byScore.head._3 == 1L && byScore.last._3 == 3L)
    // the class boundary rule: cum_before * 3 div N + 1 — with N = 5 and
    // the leading class of size 2, that class has cb = 0 → bucket 1
    assert(got(10L)._3 == 1L)
  }

  test("splitLeakageMatrix: planted leaks roll up; clean pairs report zero") {
    val spark = TestSpark.spark
    import spark.implicits._
    val leak = "alpha beta gamma delta epsilon zeta"
    val docs = Seq(
      (1L, "tr", leak),                         // leaks into va 3 AND 4
      (2L, "tr", "one two three four five six"),
      (3L, "va", leak),
      (4L, "va", leak + " extra tail tokens here"),
      (5L, "te", "seven eight nine ten eleven twelve"))
      .toDF("doc_id", "split", "text")
    val got = graft.ext.Corpus.splitLeakageMatrix(docs, "text", "doc_id",
      splitCol = "split", n = 5, minShared = 1)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // all three ordered pairs present (te < tr < va lexicographically)
    assert(got.keySet == Set(("te", "tr"), ("te", "va"), ("tr", "va")))
    // the planted leak: doc 1 pairs with 3 and 4 — two leak pairs, one
    // distinct doc on the tr side, two on the va side
    assert(got(("tr", "va")) == ((2L, 1L, 2L)))
    // clean pairs are EXPLICIT zeros, not missing rows
    assert(got(("te", "tr")) == ((0L, 0L, 0L)))
    assert(got(("te", "va")) == ((0L, 0L, 0L)))
  }

  test("kmvShingleMins: merge == whole, partition-invariant, exact below k") {
    val docs = Seq((1L, "a b c d e"), (2L, "b c d e f"), (3L, "x y z w v"))
      .toDF("doc_id", "text")
    def hs(df: org.apache.spark.sql.DataFrame) =
      df.select("h").as[Long].collect().sorted.toSeq
    val whole = hs(Corpus.kmvShingleMins(docs, "text", 3, 256))
    // merged halves == whole (the k smallest of a union are among each
    // part's k smallest), and any partitioning folds to the same set
    val merged = hs(Corpus.kmvMerge(Seq(
      Corpus.kmvShingleMins(docs.where($"doc_id" <= 1), "text", 3, 256),
      Corpus.kmvShingleMins(docs.where($"doc_id" > 1), "text", 3, 256)),
      256))
    assert(whole == merged)
    assert(whole == hs(Corpus.kmvShingleMins(
      docs.repartition(7), "text", 3, 256)))
    // 3+3+3 trigrams, one shared pair ("b c d", "c d e") → 7 distinct;
    // below saturation the sketch holds every hash and the estimate is
    // the exact distinct count
    assert(whole.size == 7)
    val est = Corpus.kmvEstimate(
      Corpus.kmvShingleMins(docs, "text", 3, 256), 256)
      .select("filled", "est_distinct").as[(Long, Long)].head()
    assert(est == ((7L, 7L)))
  }

  test("kmvEstimate saturates at k and lands in the error band") {
    // 100 docs × 2 unique trigrams each = 200 distinct grams >> k = 16
    val docs = Seq.tabulate(100)(i => (i.toLong, s"w$i x$i y$i z$i"))
      .toDF("doc_id", "text")
    val r = Corpus.kmvEstimate(
      Corpus.kmvShingleMins(docs, "text", 3, 16), 16)
      .select("filled", "est_distinct").as[(Long, Long)].head()
    assert(r._1 == 16L)
    // KMV std error is ~1/sqrt(k−2) ≈ 27% at k = 16; this fixed corpus
    // lands well inside a generous 3σ window around 200
    assert(r._2 > 60L && r._2 < 550L, s"est ${r._2} outside band")
  }

  test("kmvPairOverlap: identical keys read 1000‰, disjoint keys 0") {
    val docs = Seq(
      (1L, "ka", "p q r s t u"), (2L, "kb", "p q r s t u"),
      (3L, "kc", "m n o aa bb cc"))
      .toDF("doc_id", "lang", "text")
    val mins = Corpus.kmvGroupedShingleMins(docs, "lang", "text", 3, 8)
    val got = Corpus.kmvPairOverlap(mins, 8)
      .select("key_a", "key_b", "matched", "k_used", "jacc_est_pm")
      .as[(String, String, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    // ka and kb sketch the SAME gram set → every union member is in both
    assert(got(("ka", "kb"))._3 == 1000L)
    // kc shares nothing with either → matched 0, estimate 0
    assert(got(("ka", "kc"))._1 == 0L && got(("ka", "kc"))._3 == 0L)
    assert(got(("kb", "kc"))._1 == 0L)
  }
}
