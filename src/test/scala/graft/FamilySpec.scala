package graft

import graft.ext.{Corpus, Dedup, Search, Similarity}
import graft.ops.{Family, Stage}
import graft.ops.Family.{At, Live, Pinned, Previous}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The shared persisted-index lifecycle ([[graft.ops.Family]]),
  * table-driven over all eight family descriptors at sf0.001: build,
  * pin, mutate (append or delete), restore — and the live serve equals
  * the pinned state again. The version selector ([[graft.ops.Family.At]])
  * serves the pin, the pre-delete state as Previous, and fails loudly on
  * an unknown pin. A pin missing from one component restores nothing
  * and names that component and the root; dropSnapshot + vacuum retire
  * the pin so its serve fails.
  *
  * The write half, table-driven the same way: a plain append, an
  * exactly-once append delivered twice, an auto-compaction, a delete
  * (after a pending tombstone) and a compaction each leave the live serve
  * equal to a fresh build over the effective corpus — so does a pending
  * tombstone alone — and the delete leaves no pending tombstone file.
  * [[graft.ops.Family.append]] with a stage that fails after one
  * component publishes nothing, under an op id and under a batch id, and
  * the retry publishes whole; a failed fresh-id append leaves no staging
  * directory behind the next compaction.
  *
  * The build half, over the same eight families: a rebuild is the
  * lineage boundary. It writes every directory born
  * versioned, clears the ledger, staging and tombstones, drops every
  * pin, and is refused while another writer holds the root lease.
  *
  * Lints over `src/main` keep the write and build halves, the tombstone
  * read and write paths, and the one writer lease per index root, from
  * growing back per-family copies.
  */
class FamilySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private lazy val docs =
    spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
  private lazy val base = docs.where(pmod(col("doc_id"), lit(2)) === 0)
  private lazy val probe =
    docs.where(pmod(col("doc_id"), lit(2)) === 1 && col("doc_id") < 60)
  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")
  private lazy val deq = emb.select(col("vec_id"),
    Similarity.dequantize(Similarity.quantize(col("embedding"), 200.0),
      200.0).as("embedding"))
  private lazy val qset = emb.where(col("vec_id") < 3)
  private lazy val deqQset = deq.where(col("vec_id") < 3)

  /** One family's fixture: build a versioned index at a root, change its
    * live state in round `r` (`rewrites`: by a delete's rewrite publish,
    * which leaves the pre-delete state as the previous version), and
    * serve it at a version. */
  private case class Case(family: Family, build: String => Unit,
                          mutate: (String, Int) => Unit, rewrites: Boolean,
                          serve: (String, At) => DataFrame)

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  /** The ids a live serve returns, collected BEFORE the delete rewrites
    * the index the serve reads. */
  private def served(df: DataFrame, from: String, to: String): DataFrame =
    df.select(col(from)).distinct().as[Long].collect().toSeq.toDF(to)

  /** The set-sim probes' Jaccard threshold. */
  private val setSimT = 0.5

  private val cases = Seq(
    Case(Search.TextIndex,
      p => {
        Search.saveTextIndex(docs, p)
        Search.savePositionalIndex(docs, p) // the dynamic 4th component
        Search.compactTextIndex(spark, p)
      },
      (p, _) => Search.deleteFromTextIndex(spark, p,
        served(Search.bm25TopKIndexed(spark, p, Seq("spark"), 10),
          "doc_id", "doc_id")),
      rewrites = true,
      (p, at) => Search.bm25TopKIndexed(spark, p, Seq("spark"), 10, at = at)),
    Case(Dedup.MinhashManifest,
      p => Dedup.saveMinhashManifest(base, "text", "doc_id", p,
        k = 16, bands = 8),
      (p, _) => Dedup.appendToMinhashManifest(probe, "text", "doc_id", p),
      rewrites = false,
      (p, at) => Dedup.incrementalNearDups(probe, p, "text", "doc_id",
        at = at)),
    Case(Corpus.Lm,
      p => Corpus.saveLm(base, "text", "doc_id", p),
      (p, r) => Corpus.appendToLm(probe, p, "text", "doc_id",
        opId = s"grow$r"),
      rewrites = false,
      (p, at) => Corpus.lmPerplexityIndexed(probe, p, "text", "doc_id",
        at = at)),
    Case(Similarity.IvfIndex,
      p => Similarity.saveIvfIndex(emb, p, nCentroids = 8, dim = 64,
        quantScale = 200.0, centroidsIn = Similarity.sampleCentroids(deq, 8)),
      (p, _) => Similarity.deleteFromIvfIndex(spark, p,
        served(Similarity.topKIvfIndexed(spark, deqQset, p, k = 5),
          "neighbor_id", "vec_id")),
      rewrites = true,
      (p, at) => Similarity.topKIvfIndexed(spark, deqQset, p, k = 5,
        at = at)),
    Case(Similarity.PqIndex,
      p => Similarity.savePqIndex(emb, p, m = 8, nCent = 16, dim = 64),
      (p, _) => Similarity.deleteFromPqIndex(spark, p,
        served(Similarity.pqTopKIndexed(spark, qset, p, k = 5),
          "neighbor_id", "vec_id")),
      rewrites = true,
      (p, at) => Similarity.pqTopKIndexed(spark, qset, p, k = 5, at = at)),
    Case(Similarity.BinaryIndex,
      p => Similarity.saveBinaryIndex(emb, p, dim = 64),
      (p, _) => Similarity.deleteFromBinaryIndex(spark, p,
        served(Similarity.binaryTopKIndexed(spark, qset, emb, p, k = 5),
          "neighbor_id", "vec_id")),
      rewrites = true,
      (p, at) => Similarity.binaryTopKIndexed(spark, qset, emb, p, k = 5,
        at = at)),
    Case(Dedup.WinnowManifest,
      p => Dedup.saveWinnowManifest(base, "text", "doc_id", p),
      (p, _) => Dedup.appendToWinnowManifest(probe, "text", "doc_id", p),
      rewrites = false,
      (p, at) => Dedup.probeWinnowOverlap(probe, p, at = at)),
    Case(Dedup.SetSimIndex,
      p => Dedup.saveSetSimIndex(base, "text", "doc_id", p),
      // forget the CONTENT of every corpus document the probe matches
      (p, _) => Dedup.deleteContentFromSetSimIndex(docs.join(
        served(Dedup.probeSetSimOverlap(probe, p, setSimT), "doc_corpus",
          "doc_id"), Seq("doc_id")), "text", p),
      rewrites = true,
      (p, at) => Dedup.probeSetSimOverlap(probe, p, setSimT, at = at)))

  for (c <- cases) test(s"${c.family.name}: restore serves the pinned " +
      "state; a partial pin restores nothing; drop+vacuum retire it") {
    val p = s"target/graft-test-family-${c.family.name}"
    val root = new Path(p)
    root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(root, true)
    c.build(p)
    c.family.snapshot(spark, p, "pin")
    val atPin = rows(c.serve(p, Live))
    assert(atPin.nonEmpty)
    assert(rows(c.serve(p, Pinned("pin"))) == atPin)
    // an unknown pin fails loudly, naming the component path it missed
    val nope = intercept[IllegalStateException] {
      c.serve(p, Pinned("nope")).collect()
    }
    assert(c.family.components(spark, p).exists(comp =>
      nope.getMessage.contains(s"$p/$comp")), nope.getMessage)
    c.mutate(p, 1)
    assert(rows(c.serve(p, Live)) != atPin, "the mutation must show")
    assert(rows(c.serve(p, Pinned("pin"))) == atPin)
    // a delete's rewrite publish keeps the state it superseded one cycle
    if (c.rewrites) assert(rows(c.serve(p, Previous)) == atPin)
    c.family.restore(spark, p, "pin")
    assert(rows(c.serve(p, Live)) == atPin)

    // one component loses the pin: restore refuses up front, naming the
    // component and the root, and the live state stays as it was
    c.mutate(p, 2)
    val mutated = rows(c.serve(p, Live))
    assert(mutated != atPin)
    val comps = c.family.components(spark, p)
    Stage.dropSnapshot(spark, s"$p/${comps.last}", "pin")
    val boom = intercept[IllegalArgumentException] {
      c.family.restore(spark, p, "pin")
    }
    assert(boom.getMessage.contains(comps.last))
    assert(boom.getMessage.contains(p))
    assert(rows(c.serve(p, Live)) == mutated)

    assert(c.family.health(spark, p).count() == comps.size)
    c.family.dropSnapshot(spark, p, "pin")
    c.family.vacuum(spark, p)
    intercept[IllegalStateException] { c.serve(p, Pinned("pin")).collect() }
  }

  /** One family's rebuild fixture: the first `build`, the bare `saveX`
    * builder that rebuilds it and the frozen meta directories the builder
    * writes beside the components. */
  private case class RebuildCase(family: Family, build: String => Unit,
                                 save: String => Unit, meta: Seq[String])

  private val metaDirs = Map[Family, Seq[String]](
    Dedup.MinhashManifest -> Seq("meta"),
    Similarity.IvfIndex -> Seq("meta", "centroids"),
    Similarity.PqIndex -> Seq("meta", "codebooks"),
    Similarity.BinaryIndex -> Seq("meta"),
    Dedup.WinnowManifest -> Seq("meta")).withDefaultValue(Nil)

  private val rebuildCases = cases.map(c => RebuildCase(c.family, c.build,
    // the text fixture also adds positions and compacts
    if (c.family == Search.TextIndex) Search.saveTextIndex(docs, _)
    else c.build,
    metaDirs(c.family)))

  for (r <- rebuildCases) test(s"${r.family.name}: a rebuild is the lineage " +
      "boundary — every directory born versioned; ledger, staging, " +
      "tombstones and pins cleared; refused under a held root lease") {
    val p = s"target/graft-test-family-rebuild-${r.family.name}"
    val fs = new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(p), true)
    def exists(rel: String) = fs.exists(new Path(s"$p/$rel"))
    def entries(rel: String): Seq[String] =
      if (!exists(rel)) Nil
      else fs.listStatus(new Path(s"$p/$rel")).map(_.getPath.getName).toSeq
    // the old lineage: a versioned build pinned `old`, one committed
    // exactly-once batch, a crashed attempt's staging, a pending tombstone
    r.build(p)
    val comps = r.family.components(spark, p)
    r.family.snapshot(spark, p, "old")
    Stage.appendExactlyOnce(spark, p, 0L, Nil)(_ => ())
    fs.mkdirs(new Path(s"$p/_staging/batch-9/${comps.head}"))
    r.family.tombstone(p, Seq(1L).toDF("id"))
    assert(entries("_ledger") == Seq("batch-0"))
    assert(Stage.pendingTombstones(spark, p).isDefined)

    // a rebuild while another writer holds the root lease is refused
    // and changes nothing
    val held = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val holder = new Thread(() => Stage.withWriterLease(spark, p) { _ =>
      held.countDown(); release.await()
    })
    holder.start()
    held.await()
    try {
      val boom = intercept[IllegalStateException](r.save(p))
      assert(boom.getMessage.contains("concurrent maintenance op"),
        boom.getMessage)
    } finally { release.countDown(); holder.join() }
    assert(entries("_ledger") == Seq("batch-0"))
    assert(comps.forall(c =>
      Stage.resolveSnapshot(spark, s"$p/$c", "old").isDefined))

    r.save(p)
    val dirs = r.family.components(spark, p) ++ r.meta
    val unversioned = dirs.filterNot(d => exists(s"$d/_current"))
    assert(unversioned.isEmpty, s"written in place: $unversioned")
    assert(entries("_ledger").isEmpty && entries("_staging").isEmpty)
    assert(Stage.pendingTombstones(spark, p).isEmpty)
    val stillPinned = comps.filter(c =>
      Stage.resolveSnapshot(spark, s"$p/$c", "old").isDefined)
    assert(stillPinned.isEmpty, s"old-corpus pins survived: $stillPinned")
    intercept[IllegalArgumentException](r.family.restore(spark, p, "old"))
  }

  /** One family's write-half fixture over `corpus` (keyed by `key`):
    * build a fresh index over some rows, append (plain or exactly-once),
    * tombstone (None: the family keeps no tombstones), delete, and serve
    * live. `content`, when set, keys the family's deletes instead of
    * `key` (the MinHash manifest forgets CONTENT). */
  private case class WriteCase(family: Family, key: String, corpus: DataFrame,
                               build: (DataFrame, String) => Unit,
                               append: (DataFrame, String, Option[Long]) => Unit,
                               tombstone: Option[(DataFrame, String) => Unit],
                               delete: (DataFrame, String) => Unit,
                               serve: String => DataFrame,
                               content: Option[Column] = None) {
    /** `kept` without the rows a delete of `gone` removes. */
    def minus(kept: DataFrame, gone: DataFrame): DataFrame = content match {
      case Some(k) => kept.withColumn("_k", k)
        .join(gone.select(k.as("_k")), Seq("_k"), "left_anti").drop("_k")
      case None => kept.join(gone.select(key), Seq(key), "left_anti")
    }
  }

  private lazy val centroids = Similarity.sampleCentroids(deq, 8)
  private lazy val codebooks =
    Similarity.pqCodebooks(emb, m = 8, nCent = 16, dim = 64)
  /** Probes ingested, tombstoned, deleted and never-ingested documents
    * alike, so every step can change a verdict. */
  private lazy val probeAll = docs.where(col("doc_id") < 150)
  private def vecIds(df: DataFrame): DataFrame = df.select("vec_id")
  /** A document's set-sim content key: the `seth` of its 3-gram set. */
  private def setSimKey: Column = xxhash64(
    graft.functions.TextExpressions.hashedWordNgrams(col("text"), 3))
  private def docIds(df: DataFrame): DataFrame = df.select("doc_id")

  private val writeCases = Seq(
    WriteCase(Search.TextIndex, "doc_id", docs,
      (df, p) => { Search.saveTextIndex(df, p); Search.savePositionalIndex(df, p) },
      (df, p, id) => Search.appendToTextIndex(df, p, batchId = id),
      Some((df, p) => Search.tombstoneFromTextIndex(spark, p, docIds(df))),
      (df, p) => Search.deleteFromTextIndex(spark, p, docIds(df)),
      p => Search.bm25TopKIndexed(spark, p, Seq("spark"), 10)),
    WriteCase(Dedup.MinhashManifest, "doc_id", docs,
      (df, p) => Dedup.saveMinhashManifest(df, "text", "doc_id", p,
        k = 16, bands = 8),
      (df, p, id) => Dedup.appendToMinhashManifest(df, "text", "doc_id", p,
        batchId = id),
      Some((df, p) => Dedup.tombstoneContentInMinhashManifest(df, "text", p)),
      (df, p) => Dedup.deleteContentFromMinhashManifest(df, "text", p),
      p => Dedup.incrementalNearDups(probeAll, p, "text", "doc_id"),
      content = Some(xxhash64(
        graft.functions.TextExpressions.hashedWordNgrams(col("text"), 1)))),
    WriteCase(Corpus.Lm, "doc_id", docs,
      (df, p) => Corpus.saveLm(df, "text", "doc_id", p),
      (df, p, id) => Corpus.appendToLm(df, p, "text", "doc_id", batchId = id),
      None,
      (df, p) => Corpus.deleteFromLm(df, p, "text", "doc_id", opId = "forget"),
      p => Corpus.lmPerplexityIndexed(probeAll, p, "text", "doc_id")),
    WriteCase(Similarity.IvfIndex, "vec_id", emb,
      (df, p) => Similarity.saveIvfIndex(df, p, nCentroids = 8, dim = 64,
        quantScale = 200.0, centroidsIn = centroids),
      (df, p, id) => Similarity.appendToIvfIndex(df, p, batchId = id),
      Some((df, p) => Similarity.tombstoneFromIvfIndex(spark, p, vecIds(df))),
      (df, p) => Similarity.deleteFromIvfIndex(spark, p, vecIds(df)),
      p => Similarity.topKIvfIndexed(spark, deqQset, p, k = 5)),
    WriteCase(Similarity.PqIndex, "vec_id", emb,
      (df, p) => Similarity.savePqIndex(df, p, m = 8, nCent = 16, dim = 64,
        codebooksIn = codebooks),
      (df, p, id) => Similarity.appendToPqIndex(df, p, batchId = id),
      // PQ has no public tombstone call: a pending tombstone is what a
      // delete that crashed before its fold leaves behind
      Some((df, p) => Similarity.PqIndex.tombstone(p, vecIds(df))),
      (df, p) => Similarity.deleteFromPqIndex(spark, p, vecIds(df)),
      p => Similarity.pqTopKIndexed(spark, qset, p, k = 5)),
    WriteCase(Similarity.BinaryIndex, "vec_id", emb,
      (df, p) => Similarity.saveBinaryIndex(df, p, dim = 64),
      (df, p, id) => Similarity.appendToBinaryIndex(df, p, batchId = id),
      Some((df, p) => Similarity.BinaryIndex.tombstone(p, vecIds(df))),
      (df, p) => Similarity.deleteFromBinaryIndex(spark, p, vecIds(df)),
      p => Similarity.binaryTopKIndexed(spark, qset, emb, p, k = 5)),
    WriteCase(Dedup.WinnowManifest, "doc_id", docs,
      (df, p) => Dedup.saveWinnowManifest(df, "text", "doc_id", p),
      (df, p, id) => Dedup.appendToWinnowManifest(df, "text", "doc_id", p,
        batchId = id),
      Some((df, p) => Dedup.tombstoneFromWinnowManifest(spark, p, docIds(df))),
      (df, p) => Dedup.deleteFromWinnowManifest(spark, p, docIds(df)),
      p => Dedup.probeWinnowOverlap(probeAll, p)),
    WriteCase(Dedup.SetSimIndex, "doc_id", docs,
      (df, p) => Dedup.saveSetSimIndex(df, "text", "doc_id", p),
      (df, p, id) => Dedup.appendToSetSimIndex(df, "text", "doc_id", p,
        batchId = id),
      // no public tombstone call either: the content keys a crashed
      // delete leaves pending
      Some((df, p) => Dedup.SetSimIndex.tombstone(p, df.select(setSimKey))),
      (df, p) => Dedup.deleteContentFromSetSimIndex(df, "text", p),
      p => Dedup.probeSetSimOverlap(probeAll, p, setSimT),
      content = Some(setSimKey)))

  for (c <- writeCases) test(s"${c.family.name}: plain and exactly-once " +
      "appends, auto-compaction, delete and compaction each serve like a " +
      "fresh build over the effective corpus") {
    val p = s"target/graft-test-family-write-${c.family.name}"
    val freshP = s"$p-fresh"
    val fs = new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(p, freshP).foreach(d => fs.delete(new Path(d), true))
    def part(r: Int*) = c.corpus.where(
      pmod(col(c.key), lit(4)).isin(r: _*))
    /** The live serve at `p` equals a fresh build over `effective`. */
    def servesLike(effective: DataFrame, step: String): Unit = {
      c.build(effective, freshP)
      assert(rows(c.serve(p)) == rows(c.serve(freshP)), step)
    }
    c.build(part(0, 1), p)
    c.append(part(2), p, None)
    servesLike(part(0, 1, 2), "plain append")
    c.append(part(3), p, Some(1L))
    c.append(part(3), p, Some(1L)) // the redelivery is a no-op
    val ingested = part(0, 1, 2, 3)
    servesLike(ingested, "exactly-once append delivered twice")
    assert(!c.family.autoCompact(spark, p, maxFilesPerComponent = 100000))
    assert(c.family.autoCompact(spark, p, maxFilesPerComponent = 1))
    servesLike(ingested, "auto-compaction")

    val tomb = ingested.where(pmod(col(c.key), lit(7)) === 0)
    val gone = ingested.where(pmod(col(c.key), lit(7)) === 1)
    c.tombstone.foreach { t =>
      t(tomb, p)
      servesLike(c.minus(ingested, tomb), "pending tombstone")
    }
    c.delete(gone, p)
    val effective = c.minus(
      c.tombstone.fold(ingested)(_ => c.minus(ingested, tomb)), gone)
    servesLike(effective, "delete after a pending tombstone")
    // the delete's fold consumed the earlier tombstone too
    assert(c.family.health(spark, p).select("pending_tombstone_files")
      .as[Int].collect().forall(_ == 0))
    c.family.compact(spark, p)
    servesLike(effective, "compaction")
  }

  test("tombstones are stored under the column their mask joins by") {
    // an id key is named after the index's id column, a content key is
    // `seth`: every writer of a root's pending files uses one name, so
    // they read as one schema
    val ids = Seq(1L, 2L).toDF("doc_id")
    val cases = Seq[(String, String => Unit, String)](
      ("text", p => Search.tombstoneFromTextIndex(spark, p, ids), "doc_id"),
      ("ivf", p => Similarity.tombstoneFromIvfIndex(spark, p, ids, "doc_id"),
        "vec_id"),
      ("winnow", p => Dedup.tombstoneFromWinnowManifest(spark, p, ids), "doc"),
      ("set_sim", p => Dedup.SetSimIndex.tombstone(p, ids), "seth"))
    for ((name, write, column) <- cases) {
      val p = s"target/graft-test-family-tombname-$name"
      val fs = new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new Path(p), true)
      write(p); write(p)
      assert(Stage.pendingTombstones(spark, p).map(_.columns.toSeq) ==
        Some(Seq(column)), name)
    }
  }

  for (batchId <- Seq(None, Some(7L))) test(s"Family.append(batchId = " +
      s"$batchId): a stage that fails after one component publishes " +
      "nothing; the retry publishes whole") {
    val fam = Family("two_part", (_, _) => Seq("a", "b"), (_, _, _) => ())
    val p = s"target/graft-test-family-append-${batchId.isDefined}"
    val fs = new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(p), true)
    def stage(v: Long, failAfterA: Boolean)(staging: String,
                                            comps: Seq[String]): Unit = {
      assert(comps == Seq("a", "b"))
      Seq(v).toDF("v").write.parquet(s"$staging/a")
      if (failAfterA) throw new IllegalStateException("injected failure")
      Seq(v).toDF("v").write.parquet(s"$staging/b")
    }
    def live(c: String): Set[Long] =
      spark.read.parquet(Stage.resolve(spark, s"$p/$c")).as[Long].collect().toSet
    fam.append(spark, p, None)(stage(1L, failAfterA = false))
    assert(live("a") == Set(1L) && live("b") == Set(1L))
    intercept[IllegalStateException] {
      fam.append(spark, p, batchId, opId = "op2")(stage(2L, failAfterA = true))
    }
    assert(live("a") == Set(1L) && live("b") == Set(1L))
    fam.append(spark, p, batchId, opId = "op2")(stage(2L, failAfterA = false))
    assert(live("a") == Set(1L, 2L) && live("b") == Set(1L, 2L))
    // the committed op or batch is now a no-op, whatever its stage writes
    fam.append(spark, p, batchId, opId = "op2")(stage(3L, failAfterA = false))
    assert(live("a") == Set(1L, 2L) && live("b") == Set(1L, 2L))
    val marker = batchId.fold("op-op2")(id => s"batch-$id")
    assert(fs.exists(new Path(s"$p/_ledger/$marker")))
    // a failed fresh-id append is never retried under its id: the next
    // compaction removes what it staged
    intercept[IllegalStateException] {
      fam.append(spark, p, None)(stage(4L, failAfterA = true))
    }
    fam.compact(spark, p)
    val staging = new Path(s"$p/_staging")
    val left = if (fs.exists(staging)) fs.listStatus(staging).toSeq else Nil
    assert(left.isEmpty, left.map(_.getPath.getName).mkString(", "))
    assert(live("a") == Set(1L, 2L) && live("b") == Set(1L, 2L))
  }

  private def sources(dir: String): List[java.nio.file.Path] = {
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  /** (file:line, match) of every match of `re` in `files`. */
  private def hits(files: List[java.nio.file.Path],
                   re: scala.util.matching.Regex): List[(String, String)] =
    files.flatMap { f =>
      val text = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
      re.findAllMatchIn(text).map(m =>
        (s"$f:${text.take(m.start).count(_ == '\n') + 1}", m.matched))
    }

  test("src/main writes index families only through Family's write half") {
    // each family keeps one public appendToX and its fold; the shared
    // staged append, compaction and ingest live on graft.ops.Family. An
    // in-place append or a mode-switching write helper is the torn-append
    // hazard the staged append removed.
    val ext = sources("src/main/scala/graft/ext")
    assert(ext.size > 10)
    val inPlace = hits(ext, """\.write\s*\.\s*mode\s*\(\s*"append"\s*\)""".r)
    assert(inPlace.isEmpty, "in-place appends (stage them through " +
      s"Family.append instead): ${inPlace.map(_._1).mkString(", ")}")
    val modeParam = hits(ext,
      """def\s+\w+\s*\((?:[^()]|\([^()]*\))*\bmode\s*:""".r)
    assert(modeParam.isEmpty, "write helpers with a mode parameter: " +
      modeParam.map(_._1).mkString(", "))
    val perFamily = hits(sources("src/main/scala"),
      """def\s+(appendTo\w+ExactlyOnce|compact\w+(Index|Manifest)|compactLm|autoCompact\w+)\b""".r)
    // the three names perfbench/ compiles against, kept as forwarders
    val kept = Set("appendToTextIndexExactlyOnce", "compactTextIndex",
      "autoCompactTextIndex")
    assert(perFamily.map(_._2.split("\\s+").last).toSet == kept,
      s"per-family write entry points: ${perFamily.mkString(", ")}")
  }

  test("src/main rebuilds index families only through Family.rebuild") {
    // the rebuild boundary's clears live in Stage.rebuild alone, and a
    // builder publishes every directory it writes into a version: a
    // write straight into `$path/<dir>` is the in-place layout the
    // versioned publish replaced
    val clears = hits(sources("src/main/scala")
      .filterNot(_.toString.contains("/graft/ops/")),
      """\b(clearLedger|clearTombstones|clearSnapshots)\b""".r)
    assert(clears.isEmpty, "rebuild clears outside Stage.rebuild: " +
      clears.map(_._1).mkString(", "))
    val inPlace = hits(sources("src/main/scala/graft/ext"),
      """\.parquet\(\s*s"\$\{?path\}?/""".r)
    assert(inPlace.isEmpty, "directories written in place (publish them " +
      "with Stage.publishRebuild inside Family.rebuild): " +
      inPlace.map(_._1).mkString(", "))
  }

  test("src/main takes one writer lease per index root and never re-enters it") {
    // a write under an index root takes the root's Lease as a value: a
    // withWriterLease call anywhere else is a second lock level (a
    // component lease) or a re-entry, and a ThreadLocal in Stage is the
    // thread-bound re-entrancy the value replaced
    val main = sources("src/main/scala")
    val leaseOwners = Set("graft/ops/Stage.scala", "graft/ops/Family.scala",
      "graft/ext/Campaign.scala")
    val rootEntryPoints = Set("Search.scala" -> "savePositionalIndex",
      "Search.scala" -> "enablePositionalIndex")
    val DefRe = """def\s+(\w+)""".r
    val stray = main.filterNot(f =>
      leaseOwners.exists(o => f.toString.endsWith(o))).flatMap { f =>
      val text = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
      """\bwithWriterLease\s*\(""".r.findAllMatchIn(text).map { m =>
        val enclosing = DefRe.findAllMatchIn(text.take(m.start))
          .map(_.group(1)).toSeq.lastOption.getOrElse("")
        (f.getFileName.toString, enclosing,
          s"$f:${text.take(m.start).count(_ == '\n') + 1}")
      }
    }.filterNot { case (file, fn, _) => rootEntryPoints((file, fn)) }
    assert(stray.isEmpty, "writer leases taken outside Stage, Family, " +
      "Campaign and the root-level entry points (take the caller's " +
      s"Stage.Lease instead): ${stray.map(_._3).mkString(", ")}")
    val stage = main.filter(_.toString.endsWith("graft/ops/Stage.scala"))
    assert(stage.size == 1)
    val threadLocals = hits(stage, """.*\bnew\s+ThreadLocal\b.*""".r)
      .filterNot(_._2.contains("fencingOverride"))
    assert(threadLocals.isEmpty, "thread-bound lease state in Stage: " +
      threadLocals.map(_._1).mkString(", "))
  }

  test("src/main ext and queries reach tombstones, ledgers and rebuilds only through Family") {
    // a family's tombstones are written, loaded and masked by Family
    // (tombstone, view, mask), its appends staged by Family.append, its
    // builds bounded by Family.rebuild: a direct Stage call here is a
    // per-family copy of one of them (and without a tombstone load, no
    // per-family mask has anything to mask with)
    val files = sources("src/main/scala/graft/ext") ++
      sources("src/main/scala/graft/queries")
    val names = "pendingTombstones|tombstoneSnapshot|appendTombstones|" +
      "rebuild|appendExactlyOnce|publishOnce|sweepUncommitted|" +
      "resetTombstones|compactLedger"
    val direct = hits(files,
      s"""\\bStage\\s*\\.\\s*($names)\\b|\\bStage\\s*\\.\\s*\\{[^}]*\\b($names)\\b""".r)
    assert(direct.isEmpty, "Stage tombstone, ledger or rebuild calls " +
      s"outside Family: ${direct.map(_._1).mkString(", ")}")
  }

  test("lm: At.Previous is rejected — the LM reverts by negated delta") {
    val boom = intercept[IllegalArgumentException] {
      Corpus.lmPerplexityIndexed(probe, "target/graft-test-family-lm-prev",
        "text", "doc_id", at = Previous)
    }
    assert(boom.getMessage.contains("negated"))
  }
}
