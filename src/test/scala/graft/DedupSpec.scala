package graft

import graft.ext.Dedup
import graft.functions.SetExpressions
import graft.ops.Family
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Dedup-family semantics on planted duplicates: planted near-duplicates
  * MUST be found, unrelated docs MUST NOT pair, and reported Jaccard
  * values must equal set arithmetic done in Scala. (The q31/q32 queries
  * additionally carry full DuckDB equality oracles — exact-Jaccard pairs
  * and a portable-hash signature replay respectively; these tests pin the
  * xxhash64 production defaults the oracles can't reach.)
  */
class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog " +
    "while seventeen astronauts debate quantum chromodynamics near berlin"
  // near-dup of `base`: one token changed out of 17 distinct
  private val near = base.replace("berlin", "paris")
  private val unrelated = Seq(
    "completely different subject matter entirely about cooking pasta recipes",
    "stock markets fluctuate wildly according to macroeconomic indicators",
    "gardening tips for growing tomatoes in temperate climates zone five")

  private def corpus = Seq(
    (1L, base), (2L, base), // exact pair
    (3L, near),             // near-dup of 1/2
    (4L, unrelated(0)), (5L, unrelated(1)), (6L, unrelated(2)))
    .toDF("doc_id", "text")

  private def jaccard(a: String, b: String): Double = {
    val (sa, sb) = (a.split(" ").toSet, b.split(" ").toSet)
    sa.intersect(sb).size.toDouble / sa.union(sb).size
  }

  test("exact dedup groups identical texts, keeps min id, counts copies") {
    val out = Dedup.exact(corpus, "text", "doc_id")
      .select("keeper_id", "n_copies").as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 2L, 3L -> 1L, 4L -> 1L, 5L -> 1L, 6L -> 1L))
  }

  test("minhash LSH finds planted duplicates with exact verified Jaccard") {
    val pairs = Dedup.minhashPairs(corpus, "text", "doc_id", threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs.contains((1L, 2L)) && pairs((1L, 2L)) == 1.0)
    // 1-3 and 2-3 are near-dups; verified Jaccard must equal set arithmetic
    val expected13 = jaccard(base, near)
    assert(expected13 > 0.8) // sanity on the fixture itself
    assert(pairs.get((1L, 3L)).contains(expected13))
    assert(pairs.get((2L, 3L)).contains(expected13))
    // no unrelated doc appears in any pair
    assert(pairs.keys.flatMap(p => Seq(p._1, p._2)).forall(_ <= 3L))
    // canonical orientation only
    assert(pairs.keys.forall { case (a, b) => a < b })
  }

  test("minhash signature is deterministic and identical for identical text") {
    val sigs = corpus.select(col("doc_id"),
      Dedup.minhashSignature(col("text")).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(4L))
    assert(sigs(1L).size == 32)
  }

  test("simhash pairs identical and near-identical docs within Hamming budget") {
    val pairs = Dedup.simhashPairs64(corpus, "text", "doc_id",
      maxHamming = 7, chunks = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pairs.get((1L, 2L)).contains(0)) // identical -> distance 0
    assert(pairs.contains((1L, 3L))) // one-token change stays within 7 bits
    assert(pairs.keys.flatMap(p => Seq(p._1, p._2)).forall(_ <= 3L))
  }

  test("simhashPairs128 equals the brute-force 128-bit Hamming join") {
    // identical docs at distance 0; the banded candidates are
    // pigeonhole-lossless, so output must EQUAL the signature
    // cross-check — including the two-word hamming values
    val pairs = Dedup.simhashPairs128(corpus, "text", "doc_id",
      maxHamming = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pairs.get((1L, 2L)).contains(0)) // identical -> distance 0
    val sigs = Dedup.simhashSignatures128(corpus, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val brute = (for {
      (a, ha, la) <- sigs; (b, hb, lb) <- sigs if a < b
      d = java.lang.Long.bitCount(ha ^ hb) + java.lang.Long.bitCount(la ^ lb)
      if d <= 7
    } yield (a, b) -> d).toMap
    assert(pairs == brute)
    // a 64-bit near-dup (q32's (1,3) one-token change) need not survive
    // the doubled signature, but if it does the distance doubled-ish —
    // the stricter bar is the POINT (lower random-collision floor)
    pairs.get((1L, 3L)).foreach(d => assert(d >= 0 && d <= 7))
  }

  test("exactNormalized collapses case and whitespace variants") {
    val docs = Seq(
      (1L, "The Quick Brown Fox"),
      (2L, "the quick brown fox"),      // case variant of 1
      (3L, "the  quick\tbrown   fox "), // whitespace variant of 1
      (4L, "a different document"))
      .toDF("doc_id", "text")
    val out = Dedup.exactNormalized(docs, "text", "doc_id")
      .select("keeper_id", "n_copies")
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 3L, 4L -> 1L))
    // plain exact sees four distinct contents
    assert(Dedup.exact(docs, "text", "doc_id").count() == 4)
  }

  test("incrementalNew drops known contents, collapses the new batch") {
    val existing = Seq((1L, "previously ingested content"),
      (2L, "other old content")).toDF("doc_id", "text")
    val fresh = Seq(
      (10L, "previously ingested content"), // known → dropped
      (11L, "genuinely new content"),
      (12L, "genuinely new content")) // in-batch dup → one keeper
      .toDF("doc_id", "text")
    val out = Dedup.incrementalNew(fresh, existing, "text", "doc_id")
      .as[(Long, Long)].collect().toMap
    assert(out == Map(11L -> 2L))
  }

  test("incrementalNewBloom is exactly incrementalNew (no false negatives)") {
    val existing = Seq((1L, "previously ingested content"),
      (2L, "other old content")).toDF("doc_id", "text")
    val fresh = Seq(
      (10L, "previously ingested content"), // known → dropped
      (11L, "genuinely new content"),
      (12L, "genuinely new content"), // in-batch dup → one keeper
      (13L, "other old content"), // known → dropped
      (14L, "another new document")).toDF("doc_id", "text")
    val bloom = Dedup.incrementalNewBloom(fresh, existing, "text", "doc_id")
      .as[(Long, Long)].collect().toMap
    val exact = Dedup.incrementalNew(fresh, existing, "text", "doc_id")
      .as[(Long, Long)].collect().toMap
    assert(bloom == exact)
    assert(bloom == Map(11L -> 2L, 14L -> 1L))
  }

  test("incrementalNewBloom matches incrementalNew on NULL-text rows") {
    // xxhash64(NULL) makes the Bloom probe NULL; without coalesce(..., false)
    // those rows would vanish from BOTH branches, while incrementalNew's
    // anti-join keeps them (null keys never match) as one NULL-hash group
    val existing = Seq((1L, Some("previously ingested content")),
      (2L, Option.empty[String])).toDF("doc_id", "text")
    val fresh = Seq(
      (10L, Option.empty[String]),                    // NULL → keeper group
      (11L, Option.empty[String]),                    // same NULL group
      (12L, Some("genuinely new content")),
      (13L, Some("previously ingested content")))     // known → dropped
      .toDF("doc_id", "text")
    val bloom = Dedup.incrementalNewBloom(fresh, existing, "text", "doc_id")
      .as[(Long, Long)].collect().toMap
    val exact = Dedup.incrementalNew(fresh, existing, "text", "doc_id")
      .as[(Long, Long)].collect().toMap
    assert(bloom == exact)
    assert(bloom == Map(10L -> 2L, 12L -> 1L))
  }

  test("incrementalNewBloom against an empty corpus keeps the whole batch") {
    val existing = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val fresh = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("doc_id", "text")
    val out = Dedup.incrementalNewBloom(fresh, existing, "text", "doc_id")
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 2L, 3L -> 1L))
  }

  test("chunkDedup keeps first corpus-wide chunk occurrence, rebuilds in order") {
    val docs = Seq(
      (1L, "a b c d e f"),       // both chunks novel
      (2L, "a b c x y z"),       // "a b c" owned by doc 1 → only "x y z"
      (3L, "a b c d e f"),       // fully duplicated → dropped entirely
      (4L, "p q r p q r"),       // within-doc dup → first kept
      (5L, "x y z a b c m n"),   // both leading chunks owned → "m n"
      (6L, "k l m n o p q r s"), // all novel: rebuilt == original
      (7L, null))                // NULL text: zero chunks, never an owner
      .toDF("doc_id", "text")
    val out = Dedup.chunkDedup(docs, "text", "doc_id", chunkTokens = 3)
      .as[(Long, Int, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) == ((2, 2L, "a b c d e f")))
    assert(out(2L) == ((2, 1L, "x y z")))
    assert(out(3L) == ((2, 0L, "")))
    assert(out(4L) == ((2, 1L, "p q r")))
    assert(out(5L) == ((3, 1L, "m n")))
    assert(out(6L) == ((3, 3L, "k l m n o p q r s")))
    assert(out(7L) == ((0, 0L, "")))
  }

  test("minhashClustersKeepBest retains the quality argmax, not the min id") {
    // docs 1,2,3 are one near-dup cluster (identical token sets); doc 2 is
    // the longest → keeper. Singleton doc 9 keeps itself.
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta", 10L),
      (2L, "alpha beta gamma delta epsilon zeta extra", 99L),
      (3L, "alpha beta gamma delta epsilon zeta", 10L),
      (9L, "totally different content here now", 5L))
      .toDF("doc_id", "text", "n_chars")
    val out = Dedup.minhashClustersKeepBest(docs, "text", "doc_id",
      score = col("n_chars"), threshold = 0.5)
      .as[(Long, Long, Long, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) == ((1L, 2L, 0)))
    assert(out(2L) == ((1L, 2L, 1)))  // longest wins despite id 2 > 1
    assert(out(3L) == ((1L, 2L, 0)))
    assert(out(9L) == ((9L, 9L, 1)))
    // score ties break toward the SMALLEST id: equalize the scores
    val tied = Dedup.minhashClustersKeepBest(
      docs.withColumn("n_chars", lit(7L)), "text", "doc_id",
      score = col("n_chars"), threshold = 0.5)
      .as[(Long, Long, Long, Int)].collect()
      .map(r => r._1 -> r._3).toMap
    assert(tied(1L) == 1L && tied(2L) == 1L && tied(3L) == 1L)
  }

  test("minhashClustersKeepBest never elects a null-scored keeper") {
    // doc 1's score is NULL (e.g. length(text) over null text): the
    // negated-score argmin used to elect it (NULL struct field sorts
    // smallest ascending). It must lose to ANY real-scored clustermate;
    // an ALL-null cluster still elects its smallest id instead of
    // vanishing from the keeper join.
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta", Option.empty[Long]),
      (2L, "alpha beta gamma delta epsilon zeta", Some(3L)),
      (3L, "alpha beta gamma delta epsilon zeta extra", Some(1L)),
      (8L, "wholly different body of words here", Option.empty[Long]),
      (9L, "wholly different body of words here", Option.empty[Long]))
      .toDF("doc_id", "text", "quality")
    val out = Dedup.minhashClustersKeepBest(docs, "text", "doc_id",
      score = col("quality"), threshold = 0.5)
      .as[(Long, Long, Long, Int)].collect()
      .map(r => r._1 -> ((r._3, r._4))).toMap
    assert(out(1L) == ((2L, 0)))  // null score never wins
    assert(out(2L) == ((2L, 1)))  // highest real score (3) is keeper
    assert(out(3L) == ((2L, 0)))
    assert(out(8L) == ((8L, 1)))  // all-null cluster: smallest id keeps
    assert(out(9L) == ((8L, 0)))
  }

  test("stripFrequentChunks drops every copy past the doc-frequency threshold") {
    val docs = Seq(
      (1L, "a b c d e f"),       // "a b c" in docs 1,2,3 → boilerplate
      (2L, "a b c x y z"),       // "x y z" only in 2 docs → kept
      (3L, "a b c a b c"),       // within-doc repeat counts ONE doc
      (4L, "x y z m n o"),
      (5L, "p q r s t u"),       // untouched: rebuilt == original
      (6L, null))                // NULL text: zero chunks
      .toDF("doc_id", "text")
    val out = Dedup.stripFrequentChunks(docs, "text", "doc_id",
      chunkTokens = 3, minDocs = 3)
      .as[(Long, Int, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) == ((2, 1L, "d e f")))
    assert(out(2L) == ((2, 1L, "x y z")))
    assert(out(3L) == ((2, 0L, "")))    // both chunks were boilerplate
    assert(out(4L) == ((2, 2L, "x y z m n o")))
    assert(out(5L) == ((2, 2L, "p q r s t u")))
    assert(out(6L) == ((0, 0L, "")))
  }

  test("stripFrequentChunks ≡ doc-frequency reference on randomized docs") {
    val rnd = new scala.util.Random(23)
    val vocab = Array("a", "b", "c", "d")
    for (trial <- 1 to 3) {
      val ct = 1 + rnd.nextInt(3)
      val minDocs = 2 + rnd.nextInt(2)
      val docs = (0 until 30).map { i =>
        (i.toLong, Seq.fill(rnd.nextInt(10))(vocab(rnd.nextInt(4))).mkString(" "))
      }
      def chunksOf(tx: String): Seq[String] = {
        val toks = tx.split(" ", -1)
        (0 until ((toks.length - 1) / ct + 1))
          .map(i => toks.slice(i * ct, i * ct + ct).mkString(" "))
      }
      val docFreq = docs.flatMap { case (_, tx) => chunksOf(tx).distinct }
        .groupBy(identity).map { case (c, o) => c -> o.size }
      val expected = docs.map { case (id, tx) =>
        val kept = chunksOf(tx).filter(c => docFreq(c) < minDocs)
        id -> ((chunksOf(tx).length, kept.length.toLong, kept.mkString(" ")))
      }.toMap
      val got = Dedup.stripFrequentChunks(docs.toDF("doc_id", "text"),
        "text", "doc_id", chunkTokens = ct, minDocs = minDocs)
        .as[(Long, Int, Long, String)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      assert(got == expected, s"trial $trial chunkTokens=$ct minDocs=$minDocs")
    }
  }

  test("chunkDedup ≡ sequential first-occurrence reference on randomized docs") {
    val rnd = new scala.util.Random(19)
    val vocab = Array("a", "b", "c", "d")
    for (trial <- 1 to 3) {
      val ct = 1 + rnd.nextInt(3)
      // small vocab + short docs force heavy cross-doc chunk collisions;
      // include the empty string (split("", -1) == Array(""), one chunk)
      val docs = (0 until 30).map { i =>
        (i.toLong, Seq.fill(rnd.nextInt(10))(vocab(rnd.nextInt(4))).mkString(" "))
      }
      // reference: walk docs in id order, chunks in position order, keep
      // first global occurrence of each chunk text
      val seen = scala.collection.mutable.Set.empty[String]
      val expected = docs.map { case (id, tx) =>
        val toks = tx.split(" ", -1) // Spark split keeps empty tokens
        val chunks = (0 until ((toks.length - 1) / ct + 1))
          .map(i => toks.slice(i * ct, i * ct + ct).mkString(" "))
        val kept = chunks.filter(c => seen.add(c))
        id -> ((chunks.length, kept.length.toLong, kept.mkString(" ")))
      }.toMap
      val got = Dedup.chunkDedup(docs.toDF("doc_id", "text"), "text",
        "doc_id", chunkTokens = ct)
        .as[(Long, Int, Long, String)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      assert(got == expected, s"trial $trial chunkTokens=$ct")
    }
  }

  test("substringDedup removes later occurrences of long runs at arbitrary offsets") {
    val boiler = (1 to 25).map(i => s"b$i").mkString(" ") // 25-token run
    val docs = Seq(
      (1L, s"$boiler unique one two three"),
      // same run pasted MID-document at an unaligned offset
      (2L, s"lead tokens here $boiler tail"),
      (3L, "totally unrelated short text"),
      (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = Dedup.substringDedup(docs, "text", "doc_id", minTokens = 20)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    // doc 1 owns every window of the run — untouched
    assert(out(1L) == ((29, 0, s"$boiler unique one two three")))
    // doc 2 loses exactly the 25 pasted tokens, keeps lead + tail
    assert(out(2L) == ((29, 25, "lead tokens here tail")))
    assert(out(3L) == ((4, 0, "totally unrelated short text")))
    assert(out(4L) == ((0, 0, "")))
  }

  test("substringDedup removes intra-document repetition too") {
    val run = (1 to 20).map(i => s"r$i").mkString(" ")
    val docs = Seq((7L, s"$run middle $run")).toDF("doc_id", "text")
    val out = Dedup.substringDedup(docs, "text", "doc_id", minTokens = 20)
      .as[(Long, Int, Int, String)].collect().head
    assert(out == ((7L, 41, 20, s"$run middle")))
  }

  /** Sequential reference: iterate documents by id, windows left to right;
    * a window seen before (anywhere earlier) covers its span — UNLESS the
    * token also sits under a window this document owns corpus-wide that is
    * duplicated (the periodic-repeat protection: the first corpus
    * occurrence of every duplicated run survives intact).
    */
  private def bruteSubstringDedup(docs: Seq[(Long, String)], l: Int)
      : Map[Long, (Int, Int, String)] = {
    // global pass: per window text, its first (doc, i) occurrence + count
    val owner = scala.collection.mutable.Map.empty[String, (Long, Int)]
    val cnt = scala.collection.mutable.Map.empty[String, Int]
    for ((id, text) <- docs.sortBy(_._1); toksAll = text.split(" ", -1);
         i <- 0 to toksAll.length - l) {
      val win = toksAll.slice(i, i + l).mkString(" ")
      if (!owner.contains(win)) owner(win) = (id, i)
      cnt(win) = cnt.getOrElse(win, 0) + 1
    }
    docs.map { case (id, text) =>
      val toks = text.split(" ", -1)
      val covered = Array.fill(toks.length)(false)
      val prot = Array.fill(toks.length)(false)
      for (i <- 0 to toks.length - l) {
        val win = toks.slice(i, i + l).mkString(" ")
        if (owner(win) != ((id, i)))
          (i until i + l).foreach(covered(_) = true)
        else if (cnt(win) > 1)
          (i until i + l).foreach(prot(_) = true)
      }
      val removed = toks.indices.filter(j => covered(j) && !prot(j))
      val kept = toks.indices.filterNot(j => covered(j) && !prot(j)).map(toks)
      id -> ((toks.length, removed.size, kept.mkString(" ")))
    }.toMap
  }

  test("substringDedup keeps the first minTokens of a periodic repeat") {
    // round-14 known limit: a doc of N identical tokens collapsed to ONE
    // token because every window past 0 is a non-owned duplicate of the
    // owner at 0. The owned-duplicated-span protection keeps the first
    // minTokens-sized occurrence in the OWNER doc; a later doc made of
    // the same run owns nothing and empties entirely.
    val spam = Seq.fill(50)("a").mkString(" ")
    val docs = Seq((1L, spam), (2L, spam)).toDF("doc_id", "text")
    val out = Dedup.substringDedup(docs, "text", "doc_id", minTokens = 20)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    assert(out(1L) == ((50, 30, Seq.fill(20)("a").mkString(" "))))
    assert(out(2L) == ((50, 50, "")))
  }

  test("substringDedup period-2 repeat keeps every owned duplicated window's first span") {
    // period 2 < minTokens: windows at offsets 0 and 1 are DISTINCT texts,
    // each duplicated (offsets 2,4,… resp. 3,5,…) and owned at their first
    // offset — the protected union is [0, minTokens+1), everything later
    // is a non-owned repeat.
    val toks = Seq.tabulate(50)(i => if (i % 2 == 0) "x" else "y")
    val docs = Seq((1L, toks.mkString(" "))).toDF("doc_id", "text")
    val out = Dedup.substringDedup(docs, "text", "doc_id", minTokens = 20)
      .as[(Long, Int, Int, String)].collect().head
    assert(out == ((1L, 50, 29, toks.take(21).mkString(" "))))
  }

  test("substringDedup ≡ sequential first-occurrence reference on randomized docs") {
    val rnd = new scala.util.Random(4242)
    // small alphabet + copied spans force plenty of cross-doc repeats
    val pool = Vector.tabulate(30)(i => s"w$i")
    val base = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    val docs = (1L to 40L).map { id =>
      val fresh = Seq.fill(5 + rnd.nextInt(30))(pool(rnd.nextInt(pool.size)))
      val spans = if (base.nonEmpty && rnd.nextBoolean()) {
        val src = base(rnd.nextInt(base.size))
        val at = rnd.nextInt(math.max(1, src.size - 8))
        Seq(src.slice(at, at + 8 + rnd.nextInt(12)))
      } else Seq.empty
      val toks = rnd.shuffle(spans :+ fresh).flatten
      base += toks
      id -> toks.mkString(" ")
    }
    val want = bruteSubstringDedup(docs, 8)
    val got = Dedup.substringDedup(docs.toDF("doc_id", "text"),
        "text", "doc_id", minTokens = 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    assert(got == want)
  }

  test("joinBackToCorpus restores NULL-text docs the signature stage dropped") {
    val docs = Seq(
      (1L, "alpha beta gamma"),
      (2L, null.asInstanceOf[String]),
      (3L, "delta epsilon zeta"))
      .toDF("doc_id", "text")
    val sigs = Dedup.simhashSignatures(docs, "text", "doc_id")
    assert(sigs.count() == 2) // the documented no-row contract
    val back = Dedup.joinBackToCorpus(docs, sigs)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(back.keySet == Set(1L, 2L, 3L))
    assert(back(2L).isEmpty && back(1L).nonEmpty && back(3L).nonEmpty)
  }

  test("simhash with the portable hasher keeps the planted-dup contract") {
    val pairs = Dedup.simhashPairs64(corpus, "text", "doc_id",
      maxHamming = 7, chunks = 8,
      hasher = graft.ext.TextAnalysis.portableTokenHash64 _)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pairs.get((1L, 2L)).contains(0))
    assert(pairs.contains((1L, 3L)))
    assert(pairs.keys.flatMap(p => Seq(p._1, p._2)).forall(_ <= 3L))
  }

  test("simhash 64↔128 agreement on the shared word; default routes to 128") {
    // the 128-bit signature's FIRST word votes over the identical token
    // hash the 64-bit signature does, so per doc simhash == simhash_hi
    val s64 = Dedup.simhashSignatures(corpus, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val s128 = Dedup.simhashSignatures128(corpus, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(s64.keySet == s128.keySet)
    for ((doc, sig) <- s64) assert(s128(doc)._1 == sig,
      s"doc $doc: 64-bit word != 128-bit hi word")
    // every 128-bit pair at Hamming ≤ 7 PROJECTED TO THE SHARED WORD is a
    // 64-bit pair at Hamming ≤ 7 (hamming_hi ≤ hamming_128), and the
    // 64-bit path must report exactly that projected distance
    val p64 = Dedup.simhashPairs64(corpus, "text", "doc_id", maxHamming = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    val p128 = Dedup.simhashPairs128(corpus, "text", "doc_id", maxHamming = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    for (((a, b), _) <- p128) {
      val hiDist = java.lang.Long.bitCount(s128(a)._1 ^ s128(b)._1)
      assert(p64.get((a, b)).contains(hiDist),
        s"pair ($a,$b): 128-bit survivor missing from the 64-bit set")
    }
    // the family default IS the 128-bit path
    val viaDefault = Dedup.simhashPairs(corpus, "text", "doc_id",
      maxHamming = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(viaDefault == p128)
  }

  test("ngram jaccard within buckets matches brute force and respects buckets") {
    val docs = Seq(
      (1L, base, "web"), (2L, base, "web"), (3L, near, "web"),
      (4L, base, "books"), // same text, different bucket: must NOT pair with 1/2
      (5L, unrelated(0), "web"))
      .toDF("doc_id", "text", "source")
    val out = Dedup.ngramJaccardPairs(docs, "text", "doc_id", "source",
      n = 2, threshold = 0.05)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)) -> r.getDouble(3)).toMap
    def grams(s: String) = s.split(" ").sliding(2).map(_.mkString(" ")).toSet
    def gj(a: String, b: String) =
      grams(a).intersect(grams(b)).size.toDouble / grams(a).union(grams(b)).size
    assert(out(("web", 1L, 2L)) == 1.0)
    assert(out(("web", 1L, 3L)) == gj(base, near))
    assert(out(("web", 2L, 3L)) == gj(base, near))
    assert(!out.keys.exists { case (_, a, b) => a == 4L || b == 4L })
    assert(!out.keys.exists { case (_, a, b) => a == 5L || b == 5L }) // below threshold
  }

  test("adaptive salting fanout scales with bucket size and floors at the shuffle width") {
    // dominant bucket: 40 docs (780 pairs); minor bucket: 4 docs (6 pairs).
    // cap=64 over 2 buckets → parallelism floor ceil(64/2)=32: the dominant
    // bucket takes the floor (demand ceil(780/100)=8 < 32), the minor one is
    // clamped to its row count (4 salts are all pmod(id,f) can populate)
    val docs = (Seq.tabulate(40)(i => (i.toLong, s"$base tail$i", "big")) ++
      Seq.tabulate(4)(i => ((100 + i).toLong, s"$base tail$i", "small")))
      .toDF("doc_id", "text", "source")
    val f = Dedup.bucketFanouts(docs, "source", fixed = 0,
        targetPairsPerTask = 100L, cap = 64)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(f == Map("big" -> 32, "small" -> 4), s"got $f")
    val capped = Dedup.bucketFanouts(docs, "source", fixed = 0,
        targetPairsPerTask = 10L, cap = 16)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(capped("big") == 16, s"cap must clamp, got ${capped("big")}")
    // demand-dominant regime: enough buckets that the floor is 1 — a small
    // bucket pays zero replication, the dominant one splits by demand alone
    val many = (Seq.tabulate(40)(i => (i.toLong, s"$base tail$i", "big")) ++
      Seq.tabulate(63)(i => ((1000 + i).toLong, s"$base tail$i", s"m$i")))
      .toDF("doc_id", "text", "source")
    val fm = Dedup.bucketFanouts(many, "source", fixed = 0,
        targetPairsPerTask = 100L, cap = 64)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(fm("big") == 8, s"demand split, got ${fm("big")}")
    assert(fm("m0") == 1, s"singleton bucket must not replicate, got ${fm("m0")}")
    // floor-dominant regime (the sf0.1 shape that motivated the floor): two
    // equal mid-size buckets, demand 1 each — Σf must still cover the width
    val two = (Seq.tabulate(20)(i => (i.toLong, s"$base tail$i", "a")) ++
      Seq.tabulate(20)(i => ((100 + i).toLong, s"$base tail$i", "b")))
      .toDF("doc_id", "text", "source")
    val ft = Dedup.bucketFanouts(two, "source", fixed = 0,
        targetPairsPerTask = 1000L, cap = 32)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(ft == Map("a" -> 16, "b" -> 16), s"floor must spread, got $ft")

    // salting is invisible in the result: adaptive == forced-constant
    def pairSet(fanout: Int, target: Long) =
      Dedup.ngramJaccardPairs(docs, "text", "doc_id", "source",
        n = 2, threshold = 0.05, fanout = fanout, targetPairsPerTask = target)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSet
    val adaptive = pairSet(0, 100L)
    assert(adaptive == pairSet(3, 100L))
    assert(adaptive.nonEmpty &&
      adaptive.forall { case (_, a, b, _) => (a < 100) == (b < 100) })
  }

  test("connectedComponents: min-label clusters with singletons") {
    val nodes = Seq(1L, 2L, 3L, 5L, 6L, 7L).toDF("id")
    val edges = Seq((2L, 1L), (2L, 3L), (5L, 6L)).toDF("src", "dst")
    val comps = Dedup.connectedComponents(nodes, edges)
      .as[(Long, Long)].collect().toMap
    assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L, 7L -> 7L))
  }

  test("connectedComponents under forced non-convergence still emits one row per node") {
    // a 12-node chain needs several star rounds; maxIter=1 guarantees the
    // certificate never stabilizes, exercising the partial-contraction exit
    val n = 12
    val nodes = (0L until n.toLong).toDF("id")
    val edges = (0L until (n - 1).toLong).map(i => (i, i + 1)).toDF("src", "dst")
    val out = Dedup.connectedComponents(nodes, edges, maxIter = 1)
      .as[(Long, Long)].collect()
    assert(out.length == n, s"expected one row per node, got ${out.length}")
    assert(out.map(_._1).distinct.length == n, "duplicate node ids emitted")
    // labels are a valid partial contraction: strictly decreasing or self
    assert(out.forall { case (id, comp) => comp <= id })
    // ... and the converged run on the same graph is the full collapse
    val full = Dedup.connectedComponents(nodes, edges)
      .as[(Long, Long)].collect().toMap
    assert(full == (0L until n.toLong).map(_ -> 0L).toMap)
  }

  test("connectedComponents uses durable checkpoints when a checkpoint dir is set") {
    // with setCheckpointDir the loop switches from localCheckpoint to
    // reliable checkpoint() — same result, and the dir actually receives
    // checkpoint data (executor loss mid-CC then recovers from storage)
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt-")
    val sc = spark.sparkContext
    try {
      sc.setCheckpointDir(dir.toString)
      val nodes = Seq(1L, 2L, 3L, 5L, 6L, 7L).toDF("id")
      val edges = Seq((2L, 1L), (2L, 3L), (5L, 6L)).toDF("src", "dst")
      val comps = Dedup.connectedComponents(nodes, edges)
        .as[(Long, Long)].collect().toMap
      assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L, 7L -> 7L))
      val written = java.nio.file.Files.walk(dir)
        .filter(p => java.nio.file.Files.isRegularFile(p)).count()
      assert(written > 0, "no checkpoint files written to the durable dir")
    } finally {
      sc.setCheckpointDir(null) // restore the local-mode default for other tests
      graft.streaming.EventStreams.deleteRecursively(dir)
    }
  }

  test("dedupClusters keeps exactly one representative per near-dup cluster") {
    val docs = Seq(
      (10L, base, "web"), (11L, base, "web"), (12L, near, "web"),
      (20L, unrelated(0), "web"), (30L, base, "books"))
      .toDF("doc_id", "text", "source")
    val out = Dedup.dedupClusters(docs, "text", "doc_id", "source",
      n = 2, threshold = 0.5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    assert(out(10L) == ((10L, 1)))
    assert(out(11L) == ((10L, 0)))
    assert(out(12L) == ((10L, 0))) // near-dup joins the cluster
    assert(out(20L) == ((20L, 1))) // unrelated singleton keeps itself
    assert(out(30L) == ((30L, 1))) // same text, other bucket: own cluster
  }

  test("SortedSetJaccard: overlap, disjoint, empty-empty semantics") {
    val df = Seq(
      (Seq(1L, 2L, 3L), Seq(2L, 3L, 4L)), // j = 2/4
      (Seq(1L, 2L), Seq(3L, 4L)),         // disjoint = 0
      (Seq.empty[Long], Seq.empty[Long]), // 0/0 -> null
      (Seq(5L), Seq(5L)))                 // identical = 1
      .toDF("a", "b")
    val got = df.select(SetExpressions.sortedSetJaccard(col("a"), col("b")))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0))).toSeq
    assert(got == Seq(Some(0.5), Some(0.0), None, Some(1.0)))
  }

  test("wordNgrams guards short documents") {
    val df = Seq((1L, "single"), (2L, "two tokens"), (3L, "")).toDF("id", "t")
    val got = df.select(size(Dedup.wordNgrams(col("t"), 2))).as[Int].collect().toSeq
    assert(got == Seq(0, 1, 0))
  }

  test("persisted minhash manifest round-trip: probe flags exact, near, novel, null") {
    val path = "target/graft-test-minhash-manifest"
    val manifest = Seq((1L, base), (2L, base), (3L, unrelated(0)))
      .toDF("doc_id", "text")
    Dedup.saveMinhashManifest(manifest, "text", "doc_id", path,
      k = 32, bands = 16)
    // manifest docs/ holds only exact-class representatives (1 of {1,2});
    // the build is born-versioned (publishRebuild), so read via resolve
    assert(spark.read.parquet(
      graft.ops.Stage.resolve(spark, s"$path/docs")).count() == 2)
    val batch = Seq(
      (10L, base),             // exact copy of manifest content
      (11L, base),             // same class — same verdict as 10
      (12L, near),             // near-dup: jaccard 15/17 ≈ 0.88
      (13L, unrelated(1)),     // novel
      (14L, null.asInstanceOf[String])) // null text never matches
      .toDF("doc_id", "text")
    val out = Dedup.incrementalNearDups(batch, path, "text", "doc_id",
      threshold = 0.8)
      .collect().map(r => r.getLong(0) ->
        ((if (r.isNullAt(1)) None else Some(r.getDouble(1)), r.getBoolean(2))))
      .toMap
    assert(out(10L) == ((Some(1.0), true)))
    assert(out(11L) == ((Some(1.0), true)))
    val expNear = jaccard(base, near)
    assert(expNear < 0.9 && expNear >= 0.8) // the split the thresholds probe
    assert(out(12L) == ((Some(expNear), true)))
    assert(out(13L) == ((None, false)))
    assert(out(14L) == ((None, false)))
    // and at the stricter default threshold the near-dup no longer flags
    val strict = Dedup.incrementalNearDups(batch, path, "text", "doc_id",
      threshold = 0.9)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(strict(12L) == false && strict(10L) == true)
  }

  test("incrementalNearDupsPrevious probes the pre-forget manifest snapshot") {
    val path = "target/graft-test-manifest-prev"
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(path), true)
    val manifest = Seq((1L, base), (2L, unrelated(0)))
      .toDF("doc_id", "text")
    Dedup.saveMinhashManifest(manifest, "text", "doc_id", path,
      k = 32, bands = 16)
    val batch = Seq((10L, base), (11L, unrelated(0)), (12L, unrelated(1)))
      .toDF("doc_id", "text")
    def verdicts(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    // a fresh build has no snapshot history
    intercept[IllegalStateException] {
      Dedup.incrementalNearDups(batch, path, "text", "doc_id",
        at = Family.Previous)
        .collect()
    }
    val full = verdicts(
      Dedup.incrementalNearDups(batch, path, "text", "doc_id"))
    assert(full == Map(10L -> true, 11L -> true, 12L -> false))
    Dedup.deleteContentFromMinhashManifest(
      Seq((99L, base)).toDF("doc_id", "text"), "text", path) // → v2
    // live probe forgot `base`; the previous snapshot still knows it
    assert(verdicts(
      Dedup.incrementalNearDups(batch, path, "text", "doc_id"))
      == Map(10L -> false, 11L -> true, 12L -> false))
    assert(verdicts(
      Dedup.incrementalNearDups(batch, path, "text", "doc_id",
        at = Family.Previous))
      == full)
  }

  test("a named manifest snapshot serves across two maintenance ops") {
    val path = "target/graft-test-manifest-snap"
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(path), true)
    val manifest = Seq((1L, base), (2L, unrelated(0)))
      .toDF("doc_id", "text")
    Dedup.saveMinhashManifest(manifest, "text", "doc_id", path,
      k = 32, bands = 16)
    val batch = Seq((10L, base), (11L, unrelated(0)), (12L, unrelated(1)))
      .toDF("doc_id", "text")
    def verdicts(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    val full = verdicts(
      Dedup.incrementalNearDups(batch, path, "text", "doc_id"))
    Dedup.MinhashManifest.snapshot(spark, path, "pre_campaign")
    // TWO maintenance ops later — the second would GC v1 unpinned
    Dedup.deleteContentFromMinhashManifest(
      Seq((99L, base)).toDF("doc_id", "text"), "text", path) // → v2
    Dedup.MinhashManifest.compact(spark, path) // → v3
    // the previous window has moved past v1, but the pin still serves it
    assert(verdicts(Dedup.incrementalNearDups(
      batch, path, "text", "doc_id",
        at = Family.Pinned("pre_campaign"))) == full)
    assert(verdicts(
      Dedup.incrementalNearDups(batch, path, "text", "doc_id"))
      == Map(10L -> false, 11L -> true, 12L -> false))
    // unknown names fail loudly, and a dropped pin stops resolving
    intercept[IllegalStateException] {
      Dedup.incrementalNearDups(
        batch, path, "text", "doc_id", at = Family.Pinned("nope")).collect()
    }
    Dedup.MinhashManifest.dropSnapshot(spark, path, "pre_campaign")
    intercept[IllegalStateException] {
      Dedup.incrementalNearDups(
        batch, path, "text", "doc_id",
          at = Family.Pinned("pre_campaign")).collect()
    }
  }

  test("first-matching-band kernel ≡ the unrolled element_at OR, interpreted and codegen") {
    // the survivor test pair dedup used before the kernel: no band before
    // the collision's `band` also matched, one element_at pair per band
    def unrolled(bands: Int): org.apache.spark.sql.Column =
      if (bands <= 1) lit(true)
      else !(0 until bands - 1).map(b => (col("band") > b) &&
        (element_at(col("a"), b + 1) === element_at(col("b"), b + 1))).reduce(_ || _)
    val rnd = new scala.util.Random(29)
    // random key arrays of one length per pair (both sides band alike),
    // with equalities forced at chosen positions; length 1 is bands = 1
    val pairs = (1 to 240).map { i =>
      val n = 1 + i % 16
      val a = Seq.fill(n)(rnd.nextLong())
      val b = a.zipWithIndex.map { case (v, j) =>
        if (rnd.nextInt(4) == 0 || (i % 5 == 0 && j == n - 1)) v else v ^ (j + 1L) }
      (a, b)
    }
    val rows = pairs.flatMap { case (a, b) => a.indices.map(band => (a, b, band)) }
    // repartitioned: a Project straight over the local relation would be
    // evaluated by ConvertToLocalRelation on the driver, in neither mode
    val df = rows.toDF("a", "b", "band").repartition(3)
    val kernel = SetExpressions.firstEqualIndex(col("a"), col("b")) >= col("band")
    val modes = Seq(("false", "NO_CODEGEN"), ("true", "CODEGEN_ONLY"))
    for ((wholeStage, factory) <- modes) {
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
      spark.conf.set("spark.sql.codegen.factoryMode", factory)
      try {
        val got = (1 to 16).map { n =>
          df.where(size(col("a")) === n)
            .select(kernel.as("kernel"), unrolled(n).as("unrolled"))
            .as[(Boolean, Boolean)].collect()
        }.reduce(_ ++ _)
        assert(got.length == rows.size, factory)
        assert(got.forall { case (k, u) => k == u }, factory)
        assert(got.exists(_._1) && got.exists(!_._1), factory)
        val nulls = Seq((Seq(1L, 2L), Option.empty[Seq[Long]]))
          .toDF("a", "b").repartition(2)
          .select(SetExpressions.firstEqualIndex(col("a"), col("b")))
          .collect()
        assert(nulls.forall(_.isNullAt(0)), factory)
      } finally {
        spark.conf.unset("spark.sql.codegen.wholeStage")
        spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }
  }

  test("incrementalNearDups ≡ brute-force max-Jaccard on randomized corpora") {
    val rnd = new scala.util.Random(13)
    val vocab = Vector.tabulate(40)(i => s"tok$i")
    def doc(): String =
      Seq.fill(6 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val manifest = (1L to 30L).map(i => (i, doc()))
    // batch: fresh randoms + exact copies + near-misses (one token swapped)
    val batch = (101L to 120L).map(i => (i, doc())) ++
      manifest.take(5).map { case (i, t) => (i + 200L, t) } ++
      manifest.slice(5, 10).map { case (i, t) =>
        (i + 300L, t.split(" ").updated(0, "tok0").mkString(" ")) }
    val path = "target/graft-test-minhash-prop"
    Dedup.saveMinhashManifest(manifest.toDF("doc_id", "text"),
      "text", "doc_id", path, k = 32, bands = 16)
    for (threshold <- Seq(0.7, 0.9)) {
      val got = Dedup.incrementalNearDups(batch.toDF("doc_id", "text"),
        path, "text", "doc_id", threshold)
        .collect().map(r => r.getLong(0) ->
          ((if (r.isNullAt(1)) None else Some(r.getDouble(1)), r.getBoolean(2))))
        .toMap
      val want = batch.map { case (id, t) =>
        val s = t.split(" ").toSet
        val jacs = manifest.map { case (_, mt) =>
          val ms = mt.split(" ").toSet
          s.intersect(ms).size.toDouble / s.union(ms).size
        }.filter(_ >= threshold)
        id -> ((jacs.sorted.lastOption, jacs.nonEmpty))
      }.toMap
      assert(got == want, s"threshold=$threshold")
    }
  }

  test("probing an EMPTY manifest flags nothing and keeps every batch doc") {
    val path = "target/graft-test-minhash-empty"
    Dedup.saveMinhashManifest(
      Seq.empty[(Long, String)].toDF("doc_id", "text"),
      "text", "doc_id", path, k = 32, bands = 16)
    val out = Dedup.incrementalNearDups(
      Seq((1L, base), (2L, unrelated(0))).toDF("doc_id", "text"),
      path, "text", "doc_id", 0.9)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(out == Map(1L -> false, 2L -> false))
  }

  test("ingest loop: probe, filter survivors, append them, re-probe flags them") {
    val path = "target/graft-test-minhash-append"
    Dedup.saveMinhashManifest(Seq((1L, base)).toDF("doc_id", "text"),
      "text", "doc_id", path, k = 32, bands = 16)
    val batch = Seq((10L, base), (11L, unrelated(0)), (12L, unrelated(1)))
      .toDF("doc_id", "text")
    val probed = Dedup.incrementalNearDups(batch, path, "text", "doc_id", 0.9)
    val survivors = batch.join(
      probed.where(!col("is_near_dup")).select(col("doc_id")), Seq("doc_id"))
    assert(survivors.count() == 2) // 10 flagged against the manifest
    Dedup.appendToMinhashManifest(survivors, "text", "doc_id", path)
    // the grown manifest now flags re-arrivals of the appended content
    val again = Dedup.incrementalNearDups(
      Seq((20L, unrelated(0)), (21L, unrelated(2))).toDF("doc_id", "text"),
      path, "text", "doc_id", 0.9)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(again(20L) == true)  // matches appended doc 11
    assert(again(21L) == false) // still novel
  }

  test("appendToMinhashManifestExactlyOnce: replays never double-append") {
    import org.apache.hadoop.fs.Path
    val fs = new Path("target").getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val path = "target/graft-test-minhash-xonce"
    fs.delete(new Path(path), true)
    Dedup.saveMinhashManifest(Seq((1L, base)).toDF("doc_id", "text"),
      "text", "doc_id", path, k = 32, bands = 16)
    val batch = Seq((10L, unrelated(0)), (11L, unrelated(1)))
      .toDF("doc_id", "text")
    Dedup.appendToMinhashManifest(batch, "text", "doc_id", path,
      batchId = Some(0L))
    def counts() = (
      spark.read.parquet(graft.ops.Stage.resolve(spark, s"$path/docs")).count(),
      spark.read.parquet(graft.ops.Stage.resolve(spark, s"$path/bands")).count())
    val expected = counts()
    assert(expected._1 == 3) // base rep + two appended docs, no duplicates
    // window A: marker present → the whole call is a no-op
    Dedup.appendToMinhashManifest(batch, "text", "doc_id", path,
      batchId = Some(0L))
    assert(counts() == expected)
    // window B: crash AFTER publish, BEFORE the marker → sweep + republish
    fs.delete(new Path(s"$path/_ledger/batch-0"), false)
    Dedup.appendToMinhashManifest(batch, "text", "doc_id", path,
      batchId = Some(0L))
    assert(counts() == expected)
    // window C: crash MID-STAGING (partial staging dir, no marker)
    fs.delete(new Path(s"$path/_ledger/batch-0"), false)
    fs.mkdirs(new Path(s"$path/_staging/batch-0/docs"))
    fs.create(new Path(s"$path/_staging/batch-0/docs/part-junk"), true).close()
    Dedup.appendToMinhashManifest(batch, "text", "doc_id", path,
      batchId = Some(0L))
    assert(counts() == expected)
    assert(!fs.exists(new Path(s"$path/_staging/batch-0")))
    // and probe verdicts match the grown manifest's content
    val verdicts = Dedup.incrementalNearDups(
      Seq((20L, unrelated(0)),
        (21L, "astronomy telescopes observe distant galaxies at night"))
        .toDF("doc_id", "text"),
      path, "text", "doc_id", 0.9)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(verdicts == Map(20L -> true, 21L -> false))
  }

  test("tombstoned content probes as fresh; compaction folds and resets") {
    import org.apache.hadoop.fs.Path
    val fs = new Path("target").getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val path = "target/graft-test-manifest-tombstone"
    fs.delete(new Path(path), true)
    // docs 1/2 carry identical text (one collapsed class, rep 1); doc 3 is
    // distinct — the deleteContentFromMinhashManifest fixture, but batched
    val manifest = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"),
      (3L, "totally different content here now")).toDF("doc_id", "text")
    Dedup.saveMinhashManifest(manifest, "text", "doc_id", path,
      k = 32, bands = 16)
    def verdicts() = Dedup.incrementalNearDups(
      Seq((10L, "alpha beta gamma delta epsilon"),
        (11L, "totally different content here now")).toDF("doc_id", "text"),
      path, "text", "doc_id", 0.9)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(verdicts() == Map(10L -> true, 11L -> true))
    // tombstone via doc 2's TEXT: batch-sized append, no manifest rewrite —
    // yet the class is forgotten immediately at probe time
    Dedup.tombstoneContentInMinhashManifest(
      manifest.where($"doc_id" === 2L), "text", path)
    assert(verdicts() == Map(10L -> false, 11L -> true))
    // the docs table still physically holds the rep (no rewrite happened)
    assert(spark.read.parquet(graft.ops.Stage.resolve(spark, s"$path/docs"))
      .where($"doc" === 1L).count() == 1)
    // compaction folds the tombstone into a physical delete and resets it
    Dedup.MinhashManifest.compact(spark, path)
    assert(spark.read.parquet(graft.ops.Stage.resolve(spark, s"$path/docs"))
      .where($"doc" === 1L).count() == 0)
    assert(graft.ops.Stage.pendingTombstones(spark, path).isEmpty)
    assert(verdicts() == Map(10L -> false, 11L -> true))
    // with tombstones folded, the content can be re-admitted
    Dedup.appendToMinhashManifest(
      Seq((20L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text"),
      "text", "doc_id", path)
    assert(verdicts() == Map(10L -> true, 11L -> true))
  }

  test("manifest content delete forgets a whole exact class, by content not id") {
    // docs 1 and 2 carry IDENTICAL text → one collapsed class (rep 1);
    // doc 3 is distinct. Deleting via doc 2's TEXT must forget the class
    // even though the stored representative is doc 1.
    val manifest = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"),
      (3L, "totally different content here now")).toDF("doc_id", "text")
    val path = "target/graft-test-manifest-delete"
    Dedup.saveMinhashManifest(manifest, "text", "doc_id", path,
      k = 32, bands = 16)
    Dedup.deleteContentFromMinhashManifest(
      manifest.where($"doc_id" === 2L), "text", path)
    val verdicts = Dedup.incrementalNearDups(
      Seq((10L, "alpha beta gamma delta epsilon"),
        (11L, "totally different content here now")).toDF("doc_id", "text"),
      path, "text", "doc_id", 0.9)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(verdicts(10L) == false) // forgotten content probes as fresh
    assert(verdicts(11L) == true)  // untouched content still known
    // and the docs table no longer holds the class representative
    // (read through the _current pointer — deletes publish a new version)
    assert(spark.read.parquet(graft.ops.Stage.resolve(spark, s"$path/docs"))
      .where($"doc" === 1L).count() == 0)
  }

  test("chunkDedupWithinDoc trims self-repeats only, shuffle-free") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rep = ("alpha beta " * 2).trim          // chunk repeated WITHIN doc 1
    val docs = Seq(
      (1L, s"$rep"),                            // [alpha beta][alpha beta]
      (2L, "alpha beta"),                       // same chunk, other doc
      (3L, null.asInstanceOf[String]),
      (4L, "")).toDF("doc_id", "text")
    val got = graft.ext.Dedup
      .chunkDedupWithinDoc(docs, "text", "doc_id", chunkTokens = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getLong(2), r.getString(3)))).toMap
    // doc 1 drops its OWN second copy; doc 2's copy is untouched (the
    // cross-corpus variant would have dropped it — that contrast is the
    // operator's whole point)
    assert(got(1L) == ((2, 1L, "alpha beta")))
    assert(got(2L) == ((1, 1L, "alpha beta")))
    assert(got(3L) == ((0, 0L, "")))
    assert(got(4L) == ((1, 1L, "")))
    // shuffle-FREE: a pure per-row expression — no exchange anywhere
    val plan = graft.ext.Dedup
      .chunkDedupWithinDoc(docs, "text", "doc_id", chunkTokens = 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(2000))
  }

  /** Plain-Scala reference of SIGMOD'03 winnowing (sliding window over
    * gram hashes, min per window, RIGHTMOST position on ties) — the
    * independent oracle the distributed version is compared against. */
  private def refWinnow(text: String, n: Int, w: Int): Set[(Int, Long)] = {
    def fold(s: String): Long = {
      // the engine's DUAL-modulus winnow gram hash (~61 bits)
      val h1 = s.codePoints.toArray
        .foldLeft(0L)((a, c) => (a * 31 + c) % 1000000007L)
      val h2 = s.codePoints.toArray
        .foldLeft(0L)((a, c) => (a * 131 + c) % 998244353L)
      h1 * 2147483648L + h2
    }
    val toks = text.split(" ", -1)
    if (toks.length < n) return Set.empty
    val hs = (0 to toks.length - n)
      .map(i => fold(toks.slice(i, i + n).mkString(" ")))
    val m = hs.length
    (0 to math.max(m - w, 0)).flatMap { s =>
      val win = (s until math.min(s + w, m)).map(p => (p, hs(p)))
      val minH = win.map(_._2).min
      val pos = win.filter(_._2 == minH).map(_._1).max // rightmost tie
      Some((pos, hs(pos)))
    }.toSet
  }

  test("winnowFingerprints equals the plain-Scala SIGMOD'03 reference") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog the quick brown fox"),
      (2L, "pack my box with five dozen liquor jugs pack my box"),
      (3L, "a b c d e f g h i j k l m n o p"),
      (4L, "x y x y x y x y x"), // heavy tie territory
      (5L, "one two three"),     // exactly n tokens at n=3: one gram
      (6L, "just two"),          // < n tokens: no fingerprints
      (7L, null.asInstanceOf[String])).toDF("doc_id", "text")
    for ((n, w) <- Seq((3, 4), (2, 3), (2, 8))) {
      val got = graft.ext.Dedup.winnowFingerprints(docs, "text", "doc_id", n, w)
        .collect().map(r => (r.getLong(0), (r.getInt(1), r.getLong(2))))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val want = Seq(1L, 2L, 3L, 4L, 5L, 6L)
        .map(id => id -> refWinnow(docs.where($"doc_id" === id)
          .select("text").as[String].head(), n, w))
        .filter(_._2.nonEmpty).toMap
      assert(got == want, s"n=$n w=$w")
    }
  }

  test("winnowing ties select the RIGHTMOST minimal position") {
    // "x y x y x", n=2: gram hashes [h(xy), h(yx), h(xy), h(yx)];
    // h(xy) < h(yx) (same length, 'x' < 'y' at the first char), so every
    // w=3 window's min is h(xy) — window 0 covers pos {0,1,2} with the
    // min at 0 AND 2 → rightmost rule selects pos 2; window 1 covers
    // {1,2,3} → pos 2. Selected set: {(2, h(xy))} exactly.
    val docs = Seq((1L, "x y x y x")).toDF("doc_id", "text")
    val got = graft.ext.Dedup.winnowFingerprints(docs, "text", "doc_id", 2, 3)
      .select("pos", "h").as[(Int, Long)].collect().toSet
    def fold(s: String): Long = {
      // the engine's DUAL-modulus winnow gram hash (~61 bits)
      val h1 = s.codePoints.toArray
        .foldLeft(0L)((a, c) => (a * 31 + c) % 1000000007L)
      val h2 = s.codePoints.toArray
        .foldLeft(0L)((a, c) => (a * 131 + c) % 998244353L)
      h1 * 2147483648L + h2
    }
    assert(got == Set((2, fold("x y"))))
  }

  test("winnowing guarantee: a shared n+w-1-word run yields a shared fingerprint") {
    // disjoint vocabularies except one shared 6-word run (n=3, w=4 →
    // n+w−1 = 6): the paper's guarantee says at least one selected
    // fingerprint is identical across the two documents
    val shared = "golden ratio spiral sequence fibonacci lattice"
    val docs = Seq(
      (1L, s"aa bb cc dd $shared ee ff gg hh"),
      (2L, s"pp qq rr $shared ss tt uu vv ww zz")).toDF("doc_id", "text")
    val fps = graft.ext.Dedup
      .winnowFingerprints(docs, "text", "doc_id", n = 3, w = 4)
      .select("doc_id", "h").as[(Long, Long)].collect().toSet
    val common = fps.collect { case (1L, h) => h }
      .intersect(fps.collect { case (2L, h) => h })
    assert(common.nonEmpty)
  }

  test("winnowAlignments: anchor positions replay the reference on both sides") {
    val run = "golden ratio spiral sequence fibonacci lattice prime harmonic"
    val a = s"aa bb cc $run dd ee ff"
    val b = s"gg hh $run ii jj kk ll"
    val docs = Seq((1L, a), (2L, b), (3L, "mm nn oo pp qq rr"))
      .toDF("doc_id", "text")
    val got = graft.ext.Dedup
      .winnowAlignments(docs, "text", "doc_id", n = 3, w = 4, maxDf = 20)
      .select("doc_a", "doc_b", "h", "pos_a", "pos_b")
      .as[(Long, Long, Long, Int, Int)].collect().toSet
    // expected: every (posA, posB) combination of a shared hash's
    // selected occurrences, derived from the plain-Scala reference
    val ra = refWinnow(a, 3, 4)
    val rb = refWinnow(b, 3, 4)
    val want = (for {
      (pa, ha) <- ra; (pb, hb) <- rb if ha == hb
    } yield (1L, 2L, ha, pa, pb)).toSet
    assert(want.nonEmpty && got == want)
    // anchors localize: both sides' positions sit inside the shared run
    // (offset 3 in doc a, offset 2 in doc b; 8 words → 6 trigrams)
    assert(got.forall { case (_, _, _, pa, pb) =>
      pa >= 3 && pa <= 8 && pb >= 2 && pb <= 7 })
  }

  test("winnowSpans: diagonal runs become word spans with exact boundaries") {
    val run = "golden ratio spiral sequence fibonacci lattice prime harmonic"
    val a = s"aa bb cc $run dd ee ff" // run at word offset 3
    val b = s"gg hh $run ii jj kk ll" // run at word offset 2
    val docs = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val spans = graft.ext.Dedup
      .winnowSpans(docs, "text", "doc_id", n = 3, w = 4, maxDf = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getInt(3), r.getInt(4), r.getInt(5), r.getLong(6))).toSeq
    // one shared passage on one diagonal: every span sits on the
    // offset-1 diagonal and inside the planted 8-word run
    assert(spans.nonEmpty)
    assert(spans.forall { case (da, db, sa, ea, sb, eb, nA) =>
      da == 1L && db == 2L && sa - sb == 1 && ea - eb == 1 &&
        sa >= 3 && ea <= 3 + 7 && nA >= 1L })
    // the anchors all fall in ONE run (gaps within the run < maxGap)
    assert(spans.size == 1)
    // identical documents collapse to one full-width span per diagonal:
    // the zero diagonal's span covers every selected anchor
    val twin = Seq((1L, run), (2L, run)).toDF("doc_id", "text")
    val ref = refWinnow(run, 3, 4)
    val ts = graft.ext.Dedup
      .winnowSpans(twin, "text", "doc_id", n = 3, w = 4, maxDf = 20)
      .collect().map(r => (r.getInt(2), r.getInt(3), r.getInt(4),
        r.getInt(5), r.getLong(6))).toSeq
    val diag0 = ts.filter(t => t._1 == t._3) // pos_a == pos_b spans
    assert(diag0 == Seq((ref.map(_._1).min, ref.map(_._1).max + 2,
      ref.map(_._1).min, ref.map(_._1).max + 2, ref.size.toLong)))
  }

  test("winnow manifest: build+append ≡ fresh build; probe verdicts; replay no-op") {
    val path = "target/graft-test-winnow-manifest"
    val path2 = "target/graft-test-winnow-manifest-fresh"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(path, path2).foreach(p =>
      fs.delete(new org.apache.hadoop.fs.Path(p), true))
    val run = "golden ratio spiral sequence fibonacci lattice prime harmonic"
    val corpusA = Seq((1L, s"aa bb cc $run dd ee ff"))
    val corpusB = Seq((2L, "mm nn oo pp qq rr ss tt uu vv"))
    val probe = Seq(
      (3L, s"gg hh $run ii jj kk"), // quotes doc 1's run → flagged
      (4L, "w1 w2 w3 w4 w5 w6 w7 w8"), // nothing shared
      (5L, null.asInstanceOf[String])) // no fingerprints at all
      .toDF("doc_id", "text")
    // grow a manifest in two steps, and fresh-build the union beside it
    graft.ext.Dedup.saveWinnowManifest(
      corpusA.toDF("doc_id", "text"), "text", "doc_id", path)
    graft.ext.Dedup.appendToWinnowManifest(
      corpusB.toDF("doc_id", "text"), "text", "doc_id", path)
    graft.ext.Dedup.saveWinnowManifest(
      (corpusA ++ corpusB).toDF("doc_id", "text"), "text", "doc_id", path2)
    def verdicts(p: String) = graft.ext.Dedup
      .probeWinnowOverlap(probe, p)
      .select("doc_id", "n_fp", "best_match", "shared", "containment_ppm",
        "flagged")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5))).toSet
    val got = verdicts(path)
    assert(got == verdicts(path2)) // append ≡ fresh build over the union
    val d3 = got.find(_._1 == 3L).get
    assert(d3._3 == 1L && d3._4 >= 1L && d3._6) // doc 1 matched, flagged
    assert(d3._5 == d3._4 * 1000000L / d3._2)   // ppm = shared/n_fp
    val d4 = got.find(_._1 == 4L).get
    assert(d4._3 == -1L && d4._4 == 0L && !d4._6 && d4._2 > 0L)
    assert(got.find(_._1 == 5L).get ==
      ((5L, 0L, -1L, 0L, 0L, false))) // null text: all-zero row, not absent
    // exactly-once: a replayed batch id is a no-op (verdicts unchanged)
    graft.ext.Dedup.appendToWinnowManifest(
      Seq((6L, "zz yy xx ww vv uu")).toDF("doc_id", "text"),
      "text", "doc_id", path, batchId = Some(9L))
    val after = verdicts(path)
    graft.ext.Dedup.appendToWinnowManifest(
      Seq((6L, "zz yy xx ww vv uu")).toDF("doc_id", "text"),
      "text", "doc_id", path, batchId = Some(9L))
    assert(verdicts(path) == after)
    // forget doc 1: its quote verdict vanishes; the pinned pre-forget
    // state restores it (born-versioned: the pin works off the build)
    graft.ext.Dedup.WinnowManifest.snapshot(spark, path, "pre_forget")
    graft.ext.Dedup.deleteFromWinnowManifest(spark, path,
      Seq(1L).toDF("doc_id"))
    val forgotten = verdicts(path).find(_._1 == 3L).get
    assert(forgotten._3 == -1L && forgotten._4 == 0L && !forgotten._6)
    graft.ext.Dedup.WinnowManifest.restore(spark, path, "pre_forget")
    assert(verdicts(path) == after)
    // the BATCHED forget: a tombstone masks immediately, the fold turns
    // it physical, and verdicts are identical at every point
    graft.ext.Dedup.tombstoneFromWinnowManifest(spark, path,
      Seq(1L).toDF("doc_id"))
    val masked = verdicts(path)
    assert(masked.find(_._1 == 3L).get._4 == 0L) // pending mask holds
    graft.ext.Dedup.WinnowManifest.compact(spark, path)
    assert(verdicts(path) == masked) // the physical fold serves the same
    val fpsDocs = spark.read.parquet(
      graft.ops.Stage.resolve(spark, s"$path/fps"))
      .select("doc").distinct().as[Long].collect().toSet
    assert(!fpsDocs.contains(1L)) // rows physically gone after the fold
  }

  test("winnow probe best-match ties break to the SMALLEST id — string ids too") {
    // two corpus docs with IDENTICAL text carry identical fingerprint
    // sets, so both share the same count with the probe — the argmin tie rule
    // must pick the smaller doc id. The old max(struct(shared, -doc,
    // doc)) encoding silently flipped ties to the LARGEST id for
    // string ids (UnaryMinus on a string casts to null); this pins the
    // type-agnostic rule on BOTH id types.
    val run = "lorem ipsum dolor sit amet consectetur adipiscing elit"
    // string ids: 'zz' and 'aa' carry identical text
    val ps = "target/graft-test-winnow-tie-str"
    val fsP = new org.apache.hadoop.fs.Path(ps)
    fsP.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(fsP, true)
    graft.ext.Dedup.saveWinnowManifest(
      Seq(("zz", s"x1 $run x2"), ("aa", s"x1 $run x2"))
        .toDF("doc_id", "text"), "text", "doc_id", ps)
    val gotS = graft.ext.Dedup.probeWinnowOverlap(
      Seq(("p1", s"q1 $run q2")).toDF("doc_id", "text"), ps)
      .select("best_match").head().getString(0)
    assert(gotS == "aa", s"string-id tie broke to $gotS")
    // long ids: 9 and 2 carry identical text → 2 wins
    val pl = "target/graft-test-winnow-tie-long"
    val flP = new org.apache.hadoop.fs.Path(pl)
    flP.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(flP, true)
    graft.ext.Dedup.saveWinnowManifest(
      Seq((9L, s"x1 $run x2"), (2L, s"x1 $run x2"))
        .toDF("doc_id", "text"), "text", "doc_id", pl)
    val gotL = graft.ext.Dedup.probeWinnowOverlap(
      Seq((7L, s"q1 $run q2")).toDF("doc_id", "text"), pl)
      .select("best_match").head().getLong(0)
    assert(gotL == 2L, s"long-id tie broke to $gotL")
  }

  test("probeWinnowOverlap ≡ plain-Scala reference on randomized corpora") {
    // randomized-but-seeded corpora with planted quotations: the probe
    // against a PERSISTED manifest must equal verdicts computed from
    // the reference winnowing directly (the manifest layer adds
    // storage, never semantics)
    val rnd = new scala.util.Random(20260815L)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa", "lam", "mu", "nu", "xi", "omi")
    def doc(): String =
      Seq.fill(8 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" ")
    val corpus = (1L to 12L).map(i => (i, doc()))
    val probes = (101L to 108L).map { i =>
      // half the probes quote a corpus doc's middle run
      if (i % 2 == 0) {
        val src = corpus((i % corpus.size).toInt)._2.split(" ")
        (i, (doc().split(" ").take(3) ++ src.slice(1, 7) ++
          doc().split(" ").take(2)).mkString(" "))
      } else (i, doc())
    }
    val path = "target/graft-test-winnow-prop"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    graft.ext.Dedup.saveWinnowManifest(
      corpus.toDF("doc_id", "text"), "text", "doc_id", path)
    val got = graft.ext.Dedup
      .probeWinnowOverlap(probes.toDF("doc_id", "text"), path,
        minShared = 2, maxDf = 20)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5)))).toMap
    // reference: winnow both sides in plain Scala, replay the df cap,
    // the (shared DESC, doc ASC) argmax, and the ppm division
    val mFps = corpus.map { case (id, t) =>
      id -> refWinnow(t, 3, 4).map(_._2) }.toMap
    val dfh = mFps.values.flatten.groupBy(identity).view
      .mapValues(_.size).toMap
    val capped = dfh.collect { case (h, c) if c > 20 => h }.toSet
    probes.foreach { case (pid, t) =>
      val pf = refWinnow(t, 3, 4).map(_._2) -- capped
      val shared = corpus.map { case (cid, _) =>
        cid -> pf.intersect(mFps(cid) -- capped).size }
        .filter(_._2 > 0)
      val best = if (shared.isEmpty) (-1L, 0L)
        else { val m = shared.maxBy { case (cid, s) => (s, -cid) }; (m._1, m._2.toLong) }
      val want = (pf.size.toLong, best._1, best._2,
        if (pf.nonEmpty) best._2 * 1000000L / pf.size else 0L, best._2 >= 2L)
      assert(got(pid) == want, s"probe $pid")
    }
  }

  test("winnowNearDupPairs: shared counts, minShared gate, maxDf boilerplate drop") {
    val run = "golden ratio spiral sequence fibonacci lattice prime harmonic"
    val docs = Seq(
      (1L, s"aa bb cc $run dd ee ff"),
      (2L, s"gg hh $run ii jj kk ll"),
      (3L, "mm nn oo pp qq rr ss tt uu")).toDF("doc_id", "text")
    val pairs = graft.ext.Dedup
      .winnowNearDupPairs(docs, "text", "doc_id", n = 3, w = 4,
        minShared = 1, maxDf = 20)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // only the run-sharing pair appears, and its counts replay the
    // reference implementation exactly
    assert(pairs.keySet == Set((1L, 2L)))
    val ref = Map(
      1L -> refWinnow(s"aa bb cc $run dd ee ff", 3, 4),
      2L -> refWinnow(s"gg hh $run ii jj kk ll", 3, 4))
    val sharedHs = ref(1L).map(_._2).intersect(ref(2L).map(_._2))
    assert(pairs((1L, 2L)) == ((sharedHs.size.toLong,
      ref(1L).map(_._2).size.toLong, ref(2L).map(_._2).size.toLong)))
    // minShared above the overlap silences the pair
    assert(graft.ext.Dedup.winnowNearDupPairs(docs, "text", "doc_id", 3, 4,
      minShared = sharedHs.size + 1, maxDf = 20).isEmpty)
    // maxDf = 2 with THREE IDENTICAL docs: every fingerprint has df = 3
    // — boilerplate by the cap — so no pair survives, though without the
    // cap all three pairs would
    val docs3 = Seq((1L, run), (2L, run), (3L, run)).toDF("doc_id", "text")
    assert(graft.ext.Dedup.winnowNearDupPairs(docs3, "text", "doc_id",
      3, 4, minShared = 1, maxDf = 2).isEmpty)
    assert(graft.ext.Dedup.winnowNearDupPairs(docs3, "text", "doc_id",
      3, 4, minShared = 1, maxDf = 3).count() == 3L)
  }

  private def shingleSet(text: String, n: Int): Set[String] = {
    val toks = text.split(" ")
    if (toks.length < n) Set.empty
    else toks.sliding(n).map(_.mkString(" ")).toSet
  }

  test("setSimJoinPairs ≡ brute-force all-pairs Jaccard on randomized docs") {
    val rnd = new scala.util.Random(4242)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa")
    def doc(len: Int): String =
      Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    // random docs + planted near-dups (one-token edits) + a too-short doc
    // (< shingle tokens, must emit nothing) + a NULL-text doc
    val bases = Seq.tabulate(20)(i => (i.toLong, doc(8 + rnd.nextInt(8))))
    val edited = bases.take(6).map { case (id, text) =>
      val toks = text.split(" ")
      val j = rnd.nextInt(toks.length)
      (100L + id, toks.updated(j, vocab(rnd.nextInt(vocab.size)))
        .mkString(" "))
    }
    // exact-duplicate CLASSES (same gram set under several ids) exercise
    // the collapse-expand path: within-class 1.0 pairs + cross-class
    // pairs fanned out to every member
    val copies = Seq((300L, bases(0)._2), (301L, bases(0)._2),
      (302L, bases(1)._2))
    val all = bases ++ edited ++ copies ++
      Seq((200L, "alpha beta"), (201L, null))
    val df = all.toDF("doc_id", "text")
    for (t <- Seq(0.5, 0.7, 0.9)) {
      val got = Dedup.setSimJoinPairs(df, "text", "doc_id", t, shingle = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
        .toMap
      val sets = all.collect { case (id, text) if text != null =>
        id -> shingleSet(text, 3)
      }.filter(_._2.nonEmpty)
      val want = (for {
        (ia, sa) <- sets; (ib, sb) <- sets if ia < ib
        j = sa.intersect(sb).size.toDouble / sa.union(sb).size
        if j >= t
      } yield (ia, ib) -> j).toMap
      assert(got == want, s"threshold $t")
    }
  }

  test("setSimJoinPairs emits a pair sitting EXACTLY at the threshold") {
    // trigram sets {abc,bcd,cde} vs {abc,bcd,cdf}: |A∩B| = 2 of union 4
    // → jaccard exactly 0.5; t·L integral (L = 3, 0.5·3) exercises the
    // floor/epsilon prefix-length edge
    val df = Seq(
      (1L, "a b c d e"),
      (2L, "a b c d f")).toDF("doc_id", "text")
    val out = Dedup.setSimJoinPairs(df, "text", "doc_id", 0.5, shingle = 3)
      .collect()
    assert(out.length == 1 && out(0).getDouble(2) == 0.5)
  }

  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
      if (i == 0) j else if (j == 0) i else 0)
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  test("setSim index lifecycle: append-stability, content delete, exactly-once") {
    val path = "target/graft-test-setsim-index"
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    if (fs.exists(p)) fs.delete(p, true)
    val probe = Seq((100L, near)).toDF("doc_id", "text")
    // built in one shot vs rebuilt-then-appended must probe identically
    Dedup.saveSetSimIndex(corpus, "text", "doc_id", path, shingle = 2)
    val oneShot = Dedup.probeSetSimOverlap(probe, path, 0.5, shingle = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    Dedup.saveSetSimIndex(corpus.where(col("doc_id") <= 3), "text",
      "doc_id", path, shingle = 2)
    Dedup.appendToSetSimIndex(corpus.where(col("doc_id") > 3), "text",
      "doc_id", path, shingle = 2)
    val grown = Dedup.probeSetSimOverlap(probe, path, 0.5, shingle = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(oneShot == grown)
    // the near-dup of docs 1/2/3 (base copies + near) is found exactly
    assert(grown == Set((100L, 1L), (100L, 2L), (100L, 3L)))
    // content delete: forgetting `base` leaves only the near-dup row
    Dedup.deleteContentFromSetSimIndex(Seq(Tuple1(base)).toDF("text"),
      "text", path, shingle = 2)
    val afterDel = Dedup.probeSetSimOverlap(probe, path, 0.5, shingle = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(afterDel == Set((100L, 3L)))
    // exactly-once: a replayed batch id is a no-op (no doubled rows)
    val extra = Seq((50L, base)).toDF("doc_id", "text")
    Dedup.appendToSetSimIndex(extra, "text", "doc_id", path,
      batchId = Some(7L), shingle = 2)
    val before = Dedup.probeSetSimOverlap(probe, path, 0.5, shingle = 2)
      .count()
    Dedup.appendToSetSimIndex(extra, "text", "doc_id", path,
      batchId = Some(7L), shingle = 2)
    assert(Dedup.probeSetSimOverlap(probe, path, 0.5, shingle = 2)
      .count() == before)
    val sets = spark.read.parquet(
      graft.ops.Stage.resolve(spark, s"$path/sets"))
    assert(sets.where(col("doc") === 50L).count() == 1L)
    // the PLAIN append is staged too (op-ledgered): a caller retry with
    // the same opId is a metadata no-op — no doubled rows in either
    // component, and a torn two-component append is impossible by
    // construction (both commit under one marker or the sweep reverts both)
    val more = Seq((60L, near)).toDF("doc_id", "text")
    Dedup.appendToSetSimIndex(more, "text", "doc_id", path, shingle = 2,
      opId = "retry_probe")
    Dedup.appendToSetSimIndex(more, "text", "doc_id", path, shingle = 2,
      opId = "retry_probe")
    val setsAfter = spark.read.parquet(
      graft.ops.Stage.resolve(spark, s"$path/sets"))
    assert(setsAfter.where(col("doc") === 60L).count() == 1L)
    val postingsAfter = spark.read.parquet(
      graft.ops.Stage.resolve(spark, s"$path/postings"))
    assert(postingsAfter.where(col("doc") === 60L).count() ==
      setsAfter.where(col("doc") === 60L).select(explode(col("grams")))
        .count())
  }

  test("fuzzyCanonicalize collapses edit-chains transitively to the lex-min") {
    // color ~ colour (1 edit) ~ colouur (1 more) — endpoints are 2 edits
    // apart but the CHAIN binds them; "colr" reaches color at 1 edit.
    // "shade"/"shady" form their own cluster; "tint" is a singleton.
    val df = Seq("color", "colour", "colouur", "colr", "shade", "shady",
      "tint", "color" /* dup row */, null)
      .map(Tuple1(_)).toDF("name")
    val got = Dedup.fuzzyCanonicalize(df, "name", maxDist = 2)
      .as[(String, String)].collect().toMap
    assert(got == Map(
      "color" -> "color", "colour" -> "color", "colouur" -> "color",
      "colr" -> "color", "shade" -> "shade", "shady" -> "shade",
      "tint" -> "tint"))
  }

  test("editDistanceJoin ≡ brute-force Levenshtein over the value domain") {
    val rnd = new scala.util.Random(77)
    val alpha = "abc"
    def word(len: Int): String =
      Seq.fill(len)(alpha(rnd.nextInt(alpha.length))).mkString
    // short strings (< q·(d+1) = 6 chars) exercise the band branch;
    // longer ones the q-gram count filter; duplicates + NULL must not
    // multiply or crash (value-domain semantics)
    val words = (Seq.fill(30)(word(1 + rnd.nextInt(4))) ++
      Seq.fill(30)(word(6 + rnd.nextInt(6))) ++
      Seq("abcabc", "abcabd", "aabbcc")).distinct
    val rows = words.flatMap(w => Seq(w, w)) :+ null // dup every value
    val df = rows.map(Tuple1(_)).toDF("p_name")
    for (d <- Seq(1, 2)) {
      val got = Dedup.editDistanceJoin(df, "p_name", maxDist = d, q = 2)
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getInt(2))
        .toMap
      val want = (for {
        a <- words; b <- words if a < b
        dist = lev(a, b) if dist <= d
      } yield (a, b) -> dist).toMap
      assert(got == want, s"maxDist $d")
    }
  }
}
