package graft

import graft.ext.{Dedup, Search, Similarity}
import graft.ops.{Stage, Tables}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** [[Tables.parquet]] reads the schema on the driver from the one footer
  * Spark's inference would read: the schema (names, order, types,
  * nullability, metadata) and the scan must equal `spark.read.parquet`'s,
  * building the DataFrame must start no Spark job, and every case the
  * helper cannot match must fall back to Spark with Spark's own errors.
  */
class ParquetReadSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def fs = new Path("target").getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def fresh(dir: String): String = { fs.delete(new Path(dir), true); dir }

  /** The scan a DataFrame plans, with expression ids dropped. */
  private def scan(df: DataFrame): String =
    df.queryExecution.sparkPlan.toString.replaceAll("#\\d+L?", "")

  private def assertSame(read: => DataFrame, inferred: => DataFrame): DataFrame = {
    val (df, jobs) = JobCount(spark)(read)
    val want = inferred
    assert(jobs == 0, s"the read started $jobs Spark job(s)")
    assert(df.schema == want.schema,
      s"\nhelper:\n${df.schema.treeString}\nspark:\n${want.schema.treeString}")
    assert(df.schema.json == want.schema.json)
    assert(scan(df) == scan(want))
    df
  }

  private def same(paths: String*): DataFrame =
    assertSame(Tables.parquet(spark, paths: _*), spark.read.parquet(paths: _*))

  /** Every component of an index root, read at its live version. */
  private def sameComponents(root: String): Seq[String] = {
    val comps = fs.listStatus(new Path(root)).filter(_.isDirectory)
      .map(_.getPath.getName).filterNot(n => n.startsWith("_") || n.startsWith("."))
      .sorted.toSeq
    comps.foreach(c => same(Stage.resolve(spark, s"$root/$c")))
    comps
  }

  /** Move the single part file of a one-row write to `dst`. */
  private def placeFile(df: DataFrame, dst: String): Unit = {
    val tmp = fresh(s"$dst.tmp")
    df.coalesce(1).write.parquet(tmp)
    val part = fs.listStatus(new Path(tmp)).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).get
    fs.mkdirs(new Path(dst).getParent)
    assert(fs.rename(part, new Path(dst)))
    fs.delete(new Path(tmp), true)
  }

  test("the testdata tables read with Spark's schema and no job") {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    Tables.names.foreach(n => same(s"$sf/$n.parquet"))
    // events.ts: TIMESTAMP(NANOS) reads as LONG under nanosAsLong, µs as NTZ
    val ts = Tables.parquet(spark, s"$sf/events.parquet").schema("ts").dataType
    assert(ts == LongType || ts == TimestampNTZType, ts)
    same(s"$sf/documents.*")
    val (_, jobs) = JobCount(spark)(Tables.names.foreach(Tables.t(spark, sf, _)))
    assert(jobs == 0)
  }

  test("the first data file by path decides; hidden names are skipped") {
    import spark.implicits._
    val dir = fresh("target/graft-test-parquet-read-pick")
    placeFile(Seq(1L).toDF("from_b"), s"$dir/b.parquet")
    placeFile(Seq(2L).toDF("from_a"), s"$dir/a.parquet")
    placeFile(Seq("x").toDF("hidden_underscore"), s"$dir/_0.parquet")
    placeFile(Seq("x").toDF("hidden_dot"), s"$dir/.0.parquet")
    placeFile(Seq("x").toDF("copying"), s"$dir/0.parquet._COPYING_")
    assert(same(dir).columns.toSeq == Seq("from_a"))
    // Hive partitions descend in path-string order: k=10/ before k=2/
    val parts = fresh("target/graft-test-parquet-read-parts")
    placeFile(Seq(1L).toDF("two"), s"$parts/k=2/a.parquet")
    placeFile(Seq(1L).toDF("ten"), s"$parts/k=10/b.parquet")
    assert(same(parts).columns.toSeq == Seq("ten", "k"))
  }

  test("a versioned text index with positions and pending tombstones") {
    import spark.implicits._
    val idx = fresh("target/graft-test-parquet-read-text")
    val docs = (1L to 40L).map(i => (i, s"spark table w${i % 7} join w${i % 3}"))
      .toDF("doc_id", "text")
    Search.saveTextIndex(docs, idx)
    Search.savePositionalIndex(docs, idx)
    Search.compactTextIndex(spark, idx)
    Search.tombstoneFromTextIndex(spark, idx, Seq(3L, 7L).toDF("doc_id"))
    assert(Stage.resolve(spark, s"$idx/postings") != s"$idx/postings")
    assert(sameComponents(idx).toSet ==
      Set("postings", "doclens", "stats", "positions", "tombstones"))
    val (_, files) = Stage.tombstoneSnapshot(spark, idx).get
    same(files.map(_.toString): _*)
    Search.TextIndex.snapshot(spark, idx, "pin")
    val (base, pinned) = Stage.resolveSnapshotFiles(spark, s"$idx/positions", "pin").get
    assertSame(Tables.parquetFiles(spark, base, pinned),
      spark.read.option("basePath", base).parquet(pinned: _*))
  }

  test("a MinHash manifest") {
    import spark.implicits._
    val path = fresh("target/graft-test-parquet-read-minhash")
    val docs = (1L to 20L).map(i => (i, s"the quick brown fox ${i % 4} jumps"))
      .toDF("doc_id", "text")
    Dedup.saveMinhashManifest(docs, "text", "doc_id", path, k = 32, bands = 8)
    assert(Set("docs", "bands").subsetOf(sameComponents(path).toSet))
  }

  test("IVF lists are Hive-partitioned, live and pinned with basePath") {
    val idx = fresh("target/graft-test-parquet-read-ivf")
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val deq = emb.select(col("vec_id"),
      Similarity.dequantize(Similarity.quantize(col("embedding"), 200.0), 200.0)
        .as("embedding"))
    Similarity.saveIvfIndex(emb, idx, nCentroids = 8, dim = 64, quantScale = 200.0,
      centroidsIn = Similarity.sampleCentroids(deq, 8))
    assert(sameComponents(idx).contains("lists"))
    val lists = Stage.resolve(spark, s"$idx/lists")
    assert(same(lists).columns.last == "centroid")
    Similarity.IvfIndex.snapshot(spark, idx, "pin")
    val (base, files) = Stage.resolveSnapshotFiles(spark, s"$idx/lists", "pin").get
    assert(files.size > 1 && files.forall(_.contains("/centroid=")))
    assertSame(Tables.parquetFiles(spark, base, files),
      spark.read.option("basePath", base).parquet(files: _*))
    assertSame(Stage.readSnapshot(spark, s"$idx/lists", "pin").get,
      spark.read.option("basePath", base).parquet(files: _*))
  }

  test("a plain-layout root reads its own files, not the versions beside it") {
    import spark.implicits._
    val root = fresh("target/graft-test-parquet-read-plain")
    // data files with a version directory beside them, written by hand
    Seq(1L, 2L).toDF("v").write.parquet(root)
    Seq(("a", 1.0)).toDF("w", "x").write.parquet(s"$root/v00000001")
    assert(same(root).columns.toSeq == Seq("v"))
    assert(same(s"$root/v00000001").columns.toSeq == Seq("w", "x"))
  }

  test("missing paths, empty directories and empty globs fail as Spark fails") {
    def sameFailure(path: String): Unit = {
      val want = intercept[Exception](spark.read.parquet(path))
      val got = intercept[Exception](Tables.parquet(spark, path))
      assert(got.getClass == want.getClass)
      assert(got.getMessage == want.getMessage)
    }
    sameFailure(fresh("target/graft-test-parquet-read-missing"))
    val empty = fresh("target/graft-test-parquet-read-empty")
    fs.mkdirs(new Path(empty))
    sameFailure(empty)
    sameFailure("target/graft-test-parquet-read-nothing-*")
  }

  test("mergeSchema=true falls back to Spark's inference") {
    import spark.implicits._
    val dir = fresh("target/graft-test-parquet-read-merge")
    placeFile(Seq(1L).toDF("a"), s"$dir/1.parquet")
    placeFile(Seq("x").toDF("b"), s"$dir/2.parquet")
    assert(same(dir).columns.toSeq == Seq("a"))
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try {
      val (df, jobs) = JobCount(spark)(Tables.parquet(spark, dir))
      assert(jobs > 0, "mergeSchema must run Spark's own inference")
      assert(df.schema == spark.read.parquet(dir).schema)
      assert(df.columns.toSeq == Seq("a", "b"))
    } finally spark.conf.unset("spark.sql.parquet.mergeSchema")
  }

  test("src/main reads parquet without a schema only through Tables.parquet") {
    // a schema-less `.read.parquet(` (or `.read.option(...).parquet(`)
    // starts the inference job the helper exists to avoid; readers that
    // pass `.schema(...)` infer nothing and stay allowed
    val schemaLess =
      """\.read\s*(\.\s*options?\s*\([^)]*\)\s*)*\.\s*parquet\s*\(""".r
    val helper = java.nio.file.Paths.get("src/main/scala/graft/ops/Tables.scala")
    val sources = {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    assert(sources.size > 50 && sources.contains(helper))
    val offenders = sources.filterNot(_ == helper).flatMap { f =>
      val text = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
      schemaLess.findAllMatchIn(text).map(m =>
        s"$f:${text.take(m.start).count(_ == '\n') + 1}")
    }
    assert(offenders.isEmpty, "schema-less parquet reads outside Tables.parquet " +
      s"(read through graft.ops.Tables.parquet instead): ${offenders.mkString(", ")}")
  }
}
