package graft

import graft.ext.{Corpus, Dedup, Search, Similarity}
import graft.ops.{Family, Stage}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The shared persisted-index lifecycle ([[graft.ops.Family]]),
  * table-driven over all seven family descriptors at sf0.001: build,
  * pin, mutate (append or delete), restore — and the live serve equals
  * the pinned state again. A pin missing from one component restores
  * nothing and names that component and the root; dropSnapshot + vacuum
  * retire the pin so its serve fails.
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
    * live state in round `r`, and serve it live (None) or from a pin. */
  private case class Case(family: Family, build: String => Unit,
                          mutate: (String, Int) => Unit,
                          serve: (String, Option[String]) => DataFrame)

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  /** The ids a live serve returns, collected BEFORE the delete rewrites
    * the index the serve reads. */
  private def served(df: DataFrame, from: String, to: String): DataFrame =
    df.select(col(from)).distinct().as[Long].collect().toSeq.toDF(to)

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
      (p, pin) => pin.fold(
        Search.bm25TopKIndexed(spark, p, Seq("spark"), 10))(n =>
        Search.bm25TopKIndexedSnapshot(spark, p, n, Seq("spark"), 10))),
    Case(Dedup.MinhashManifest,
      p => Dedup.saveMinhashManifest(base, "text", "doc_id", p,
        k = 16, bands = 8),
      (p, _) => Dedup.appendToMinhashManifest(probe, "text", "doc_id", p),
      (p, pin) => pin.fold(
        Dedup.incrementalNearDups(probe, p, "text", "doc_id"))(n =>
        Dedup.incrementalNearDupsSnapshot(probe, p, n, "text", "doc_id"))),
    Case(Corpus.Lm,
      p => Corpus.saveLm(base, "text", "doc_id", p),
      (p, r) => Corpus.appendToLm(probe, p, "text", "doc_id",
        opId = s"grow$r"),
      (p, pin) => pin.fold(
        Corpus.lmPerplexityIndexed(probe, p, "text", "doc_id"))(n =>
        Corpus.lmPerplexityIndexedSnapshot(probe, p, n, "text", "doc_id"))),
    Case(Similarity.IvfIndex,
      p => Similarity.saveIvfIndex(emb, p, nCentroids = 8, dim = 64,
        quantScale = 200.0, centroidsIn = Similarity.sampleCentroids(deq, 8)),
      (p, _) => Similarity.deleteFromIvfIndex(spark, p,
        served(Similarity.topKIvfIndexed(spark, deqQset, p, k = 5),
          "neighbor_id", "vec_id")),
      (p, pin) => pin.fold(
        Similarity.topKIvfIndexed(spark, deqQset, p, k = 5))(n =>
        Similarity.topKIvfIndexedSnapshot(spark, deqQset, p, n, k = 5))),
    Case(Similarity.PqIndex,
      p => Similarity.savePqIndex(emb, p, m = 8, nCent = 16, dim = 64),
      (p, _) => Similarity.deleteFromPqIndex(spark, p,
        served(Similarity.pqTopKIndexed(spark, qset, p, k = 5),
          "neighbor_id", "vec_id")),
      (p, pin) => pin.fold(Similarity.pqTopKIndexed(spark, qset, p, k = 5))(
        n => Similarity.pqTopKIndexedSnapshot(spark, qset, p, n, k = 5))),
    Case(Similarity.BinaryIndex,
      p => Similarity.saveBinaryIndex(emb, p, dim = 64),
      (p, _) => Similarity.deleteFromBinaryIndex(spark, p,
        served(Similarity.binaryTopKIndexed(spark, qset, emb, p, k = 5),
          "neighbor_id", "vec_id")),
      (p, pin) => pin.fold(
        Similarity.binaryTopKIndexed(spark, qset, emb, p, k = 5))(n =>
        Similarity.binaryTopKIndexedSnapshot(spark, qset, emb, p, n, k = 5))),
    Case(Dedup.WinnowManifest,
      p => Dedup.saveWinnowManifest(base, "text", "doc_id", p),
      (p, _) => Dedup.appendToWinnowManifest(probe, "text", "doc_id", p),
      (p, pin) => pin.fold(Dedup.probeWinnowOverlap(probe, p))(n =>
        Dedup.probeWinnowOverlapSnapshot(probe, p, n))))

  for (c <- cases) test(s"${c.family.name}: restore serves the pinned " +
      "state; a partial pin restores nothing; drop+vacuum retire it") {
    val p = s"target/graft-test-family-${c.family.name}"
    val root = new Path(p)
    root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(root, true)
    c.build(p)
    c.family.snapshot(spark, p, "pin")
    val atPin = rows(c.serve(p, None))
    assert(atPin.nonEmpty)
    assert(rows(c.serve(p, Some("pin"))) == atPin)
    c.mutate(p, 1)
    assert(rows(c.serve(p, None)) != atPin, "the mutation must show")
    assert(rows(c.serve(p, Some("pin"))) == atPin)
    c.family.restore(spark, p, "pin")
    assert(rows(c.serve(p, None)) == atPin)

    // one component loses the pin: restore refuses up front, naming the
    // component and the root, and the live state stays as it was
    c.mutate(p, 2)
    val mutated = rows(c.serve(p, None))
    assert(mutated != atPin)
    val comps = c.family.components(spark, p)
    Stage.dropSnapshot(spark, s"$p/${comps.last}", "pin")
    val boom = intercept[IllegalArgumentException] {
      c.family.restore(spark, p, "pin")
    }
    assert(boom.getMessage.contains(comps.last))
    assert(boom.getMessage.contains(p))
    assert(rows(c.serve(p, None)) == mutated)

    assert(c.family.health(spark, p).count() == comps.size)
    c.family.dropSnapshot(spark, p, "pin")
    c.family.vacuum(spark, p)
    intercept[IllegalStateException] { c.serve(p, Some("pin")).collect() }
  }
}
