package graft

import graft.ext.{Corpus, Dedup, Search, Similarity}
import graft.ops.{Family, Stage}
import graft.ops.Family.{At, Live, Pinned, Previous}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The shared persisted-index lifecycle ([[graft.ops.Family]]),
  * table-driven over all seven family descriptors at sf0.001: build,
  * pin, mutate (append or delete), restore — and the live serve equals
  * the pinned state again. The version selector ([[graft.ops.Family.At]])
  * serves the pin, the pre-delete state as Previous, and fails loudly on
  * an unknown pin. A pin missing from one component restores nothing
  * and names that component and the root; dropSnapshot + vacuum retire
  * the pin so its serve fails.
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
      (p, at) => Dedup.probeWinnowOverlap(probe, p, at = at)))

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

  test("lm: At.Previous is rejected — the LM reverts by negated delta") {
    val boom = intercept[IllegalArgumentException] {
      Corpus.lmPerplexityIndexed(probe, "target/graft-test-family-lm-prev",
        "text", "doc_id", at = Previous)
    }
    assert(boom.getMessage.contains("negated"))
  }
}
