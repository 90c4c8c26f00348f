package graft.perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.SparkEntry
import graft.compile.SpecCompiler
import graft.ext.{Dedup, Search, Similarity, TextAnalysis}
import graft.ops.{Par, Sinks, Stage, Tables}
import graft.queries.ParityQueries
import graft.spec.PipelineSpec
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Where a run reads and writes. `work` is emptied before each run. */
final case class Env(data: String, work: String, seed: Long) {
  def path(p: String): String = s"$work/$p"
}

/** A written batch result to be compared with its oracle digest. */
final case class DigestCheck(query: String, path: String)

trait Workload {
  def name: String
  /** How many times setup runs in one process; the median is setup_s. */
  def setupRepeats: Int
  /** Passes every run makes at least; a traced run makes exactly this
    * many, so its counts repeat exactly. */
  def minCycles: Int
  /** Whether an untraced run goes on past `minCycles` until `--seconds`
    * have gone by: only where every pass does the same work, so the
    * measured work does not depend on how fast the engine is. */
  def loopsForSeconds: Boolean
  def setup(spark: SparkSession): Unit
  /** One pass (batch workloads) or one cycle (index workload). */
  def cycle(c: Client, n: Int): Unit
  /** End-of-run output checks; returns the number of failed checks. */
  def verify(spark: SparkSession, c: Client): Int
  def digestChecks: Seq[DigestCheck] = Nil
  /** Untimed work before the measured loop, over the tiny tables. */
  def warmup(c: Client, tiny: String): Unit = ()
  /** Bytes on disk the run produced. */
  def outBytes: Long
  /** Per-layer figures only the workload can take (traced runs). */
  def layerState: Map[String, Double] = Map.empty
  def close(): Unit = ()
}

object Workloads {
  def apply(name: String, env: Env): Workload = name match {
    case "etl_reports" => new EtlReports(env)
    case "corpus_prep" => new CorpusPrep(env)
    case "index_serve_ingest" => new IndexServeIngest(env)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Batch jobs each workload runs, by query-name prefix. */
  val etlParity: Seq[String] = (Seq(1, 2, 3, 4, 5) ++ (8 to 13) ++ (15 to 19))
    .map(i => f"q$i%02d_")
  val etlSpec: Seq[String] = Seq("q06_", "q07_")
  val corpus: Seq[String] =
    Seq("q21_", "q22_", "q61_", "q65_", "q83_", "q81_", "q31_", "q34_")

  def queryName(prefix: String): String =
    SparkEntry.queries.keys.find(_.startsWith(prefix)).getOrElse(
      throw new IllegalArgumentException(s"no query $prefix"))

  def dirBytes(p: String): Long = {
    val root = Paths.get(p)
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }
}

/** The shared shape of the two batch workloads: every pass runs each job
  * once, in an order drawn from the seed, and writes every result
  * through a sink into that pass's own directory. */
abstract class BatchWorkload(env: Env) extends Workload {
  def jobs: Seq[String]
  def setupRepeats = 3
  def minCycles = 1
  def loopsForSeconds = true
  protected var spark: SparkSession = _
  protected val written = scala.collection.mutable.ArrayBuffer.empty[DigestCheck]

  def setup(s: SparkSession): Unit = {
    spark = s
    Tables.registerAll(s, env.data)
  }

  /** Run `query` over the tables in `data` and write its result; `tag`
    * names the pass. Returns what the digest check reads back. */
  protected def write(c: Client, query: String, data: String, tag: String): DigestCheck = {
    val out = env.path(s"out/$tag/$query")
    c.runFrame(SparkEntry.queries(query)(spark, data))(df => Sinks.parquet(df, out))
    DigestCheck(query, out)
  }

  /** Every job once over the tiny tables, untimed: the JIT and the
    * generated-code cache warm up on the same plans, so the timed
    * passes measure the engine rather than the first touch of a JVM. */
  override def warmup(c: Client, tiny: String): Unit = {
    Tables.registerAll(spark, tiny)
    // one lane of jobs per processor
    val lanes = jobs.map(Workloads.queryName).zipWithIndex
      .groupMap(_._2 % Runtime.getRuntime.availableProcessors())(_._1).values.toSeq
    Par.run(lanes.map(qs => () => qs.foreach(q => write(c, q, tiny, "warmup"))): _*)
    Tables.registerAll(spark, env.data)
  }

  def cycle(c: Client, n: Int): Unit = {
    val order = new Random(env.seed * 7919 + n).shuffle(jobs.map(Workloads.queryName))
    order.foreach(q => c.op(q, "job")(written += write(c, q, env.data, s"pass$n")))
  }

  def verify(s: SparkSession, c: Client): Int = 0
  override def digestChecks: Seq[DigestCheck] = written.toSeq
  /** Bytes one pass writes (the passes write the same results). */
  def outBytes: Long = Workloads.dirBytes(env.path("out/pass0"))
}

/** The reference's report ETL: two JSON-spec reports compiled to one plan
  * each and appended into embedded Derby over JDBC, plus the parity
  * reports written as parquet. */
final class EtlReports(env: Env) extends BatchWorkload(env) {
  def name = "etl_reports"
  def jobs: Seq[String] = Workloads.etlParity ++ Workloads.etlSpec
  private val specs = Map(
    "q06_" -> ParityQueries.flagshipSpec, "q07_" -> ParityQueries.multiSpec)
  private val url = s"jdbc:derby:${env.path("derby/reports")};create=true"

  override def setup(s: SparkSession): Unit = {
    super.setup(s)
    java.sql.DriverManager.getConnection(url).close()
  }

  /** Spec reports append into a Derby table of their own per pass; the
    * digest check reads the table back (see [[verify]]). */
  override protected def write(c: Client, query: String, data: String,
                               tag: String): DigestCheck =
    specs.collectFirst { case (p, json) if query.startsWith(p) =>
      val table = s"${tag}_${query.take(3)}".toUpperCase
      val spec = Trace.span("spec.parse")(PipelineSpec.fromJson(json))
      val df = Trace.span("compile")(SpecCompiler.compile(spark, spec))
      c.plan(df)
      Trace.span("sink")(Sinks.jdbcAppend(df, url, table))
      DigestCheck(query, s"jdbc:$table")
    }.getOrElse(super.write(c, query, data, tag))

  /** Derby rows read back into parquet, so the digest check sees what
    * the sink holds. */
  override def verify(s: SparkSession, c: Client): Int = {
    for (i <- written.indices if written(i).path.startsWith("jdbc:")) {
      val table = written(i).path.stripPrefix("jdbc:")
      val out = env.path(s"readback/$table")
      Sinks.parquet(s.read.jdbc(url, table, new java.util.Properties()), out)
      written(i) = written(i).copy(path = out)
    }
    0
  }
  /** Pass 0's parquet results plus its Derby rows, as read back. */
  override def outBytes: Long = super.outBytes +
    specs.keys.toSeq.map(p => Workloads.dirBytes(env.path(s"readback/PASS0_${p.take(3).toUpperCase}"))).sum
  override def close(): Unit =
    try java.sql.DriverManager.getConnection(
      url.replace(";create=true", ";shutdown=true")).close()
    catch { case _: java.sql.SQLException => () } // Derby signals shutdown by throwing
}

/** LLM-data preparation: per-document statistics, LM perplexity, MinHash
  * dedup and n-gram clustering, all written as parquet. */
final class CorpusPrep(env: Env) extends BatchWorkload(env) {
  def name = "corpus_prep"
  def jobs: Seq[String] = Workloads.corpus
}

/** Serving beside ingest on the persisted-index layer: a text index with
  * positions, a MinHash manifest and an IVF index, fed by a long-running
  * file-source stream. */
final class IndexServeIngest(env: Env) extends Workload {
  def name = "index_serve_ingest"
  def setupRepeats = 1
  def minCycles = 2
  // the index grows and compacts from cycle to cycle: every run makes the
  // same two cycles
  def loopsForSeconds = false
  /** gen_data.py's document vocabulary; serve terms are drawn from it. */
  val vocab: IndexedSeq[String] = IndexedSeq("spark", "window", "merge", "table",
    "column", "vector", "stream", "value", "data", "small", "join", "filter",
    "big", "group", "hash", "customer", "sort", "order", "slow", "line",
    "part", "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")
  val compactEvery = 2

  def indexRoot: String = env.path("index")
  private def text = s"$indexRoot/text"
  private def mani = s"$indexRoot/manifest"
  private def ivf = s"$indexRoot/ivf"
  private def landing = env.path("landing")
  private def source = env.path("source")

  private var spark: SparkSession = _
  private var stream: StreamingQuery = _
  private var centroids: Array[Array[Double]] = _
  private var baseIds: IndexedSeq[Long] = _
  private var poolBatches = 0
  private var nEmb = 0
  private var nCentroids = 16
  @volatile private var streamOp: String = _
  private val ingested = scala.collection.mutable.ArrayBuffer.empty[Long]
  private val tombstoned = scala.collection.mutable.ArrayBuffer.empty[Long]
  private val rnd = new Random(env.seed)

  private def docs = Tables.t(spark, env.data, "documents")
  private def emb = Tables.t(spark, env.data, "embeddings")
  private def seeded(idCol: String, salt: Long): Column =
    pmod(xxhash64(col(idCol), lit(env.seed), lit(salt)), lit(100))
  private def deq(e: DataFrame): DataFrame =
    e.select(col("vec_id"), Similarity.dequantize(
      Similarity.quantize(col("embedding"), 200.0), 200.0).as("embedding"))
  private def baseDocs = docs.where(seeded("doc_id", 1) < 60)
  private def baseEmb = emb.where(seeded("vec_id", 2) < 60)

  def setup(s: SparkSession): Unit = {
    spark = s
    nEmb = emb.count().toInt
    baseIds = rnd.shuffle(baseDocs.select("doc_id").collect().map(_.getLong(0)).toIndexedSeq)
    // the other 40% of the documents arrive later, 40 per landed file
    // (fewer on the tiny smoke-test tables, so there are ten batches)
    val poolDf = docs.where(seeded("doc_id", 1) >= 60)
    val batchDocs = math.min(40L, poolDf.count() / 10).max(1L)
    val pool = poolDf
      .withColumn("b", floor((row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(
          xxhash64(col("doc_id"), lit(env.seed)))) - 1) / batchDocs))
    Files.createDirectories(Paths.get(source))
    // the landing files and the three indexes touch disjoint roots, so
    // they build concurrently through the engine's own ops.Par
    Par.run(
      () => pool.repartition(col("b")).write.partitionBy("b").parquet(landing),
      () => {
        Search.saveTextIndex(baseDocs, text)
        Search.savePositionalIndex(baseDocs, text)
      },
      () => Dedup.saveMinhashManifest(baseDocs, "text", "doc_id", mani, k = 32, bands = 16),
      () => {
        // 16 lists at sf0.1; fewer on the tiny smoke-test tables
        nCentroids = math.min(16, (baseEmb.count() / 4).toInt).max(1)
        centroids = Similarity.sampleCentroids(deq(baseEmb), nCentroids)
        Similarity.saveIvfIndex(baseEmb, ivf, nCentroids = nCentroids, dim = 64,
          quantScale = 200.0, centroidsIn = centroids)
      })
    poolBatches = new java.io.File(landing).listFiles().count(_.getName.startsWith("b="))
    val schema = docs.schema
    stream = spark.readStream.schema(schema).parquet(source)
      .writeStream.option("checkpointLocation", env.path("checkpoint"))
      .foreachBatch { (batch: DataFrame, id: Long) =>
        // the batch runs on the stream's thread: tag its jobs with the
        // operation that landed the file
        val op = spark.sparkContext.getLocalProperty(Trace.OpProperty)
        Option(streamOp).foreach { cur =>
          spark.sparkContext.setLocalProperty(Trace.OpProperty, cur)
          Trace.batchOp.put(id, cur)
        }
        Search.appendToTextIndexExactlyOnce(batch, text, id)
        if (Search.autoCompactTextIndex(spark, text))
          Option(streamOp).foreach(Trace.statsOf(_).add("stage.auto_compactions", 1))
        spark.sparkContext.setLocalProperty(Trace.OpProperty, op)
      }.start()
  }

  /** The five serves of one cycle, drawn from the seeded generator. */
  private final case class Serves(terms: Seq[String], conj: Seq[String],
                                  phrase: Seq[String], probeSalt: Long,
                                  queryIds: Seq[Long]) {
    def probe: DataFrame =
      docs.where(pmod(xxhash64(col("doc_id"), lit(probeSalt)), lit(16)) === 0)
    def queries: DataFrame = deq(emb).where(col("vec_id").isin(queryIds: _*))
    def all: Seq[(String, () => DataFrame)] = Seq(
      "bm25" -> (() => Search.bm25TopKIndexed(spark, text, terms, k = 20)),
      "conjunctive" -> (() => Search.conjunctiveSearch(spark, text, conj)),
      "phrase" -> (() => Search.phraseSearchIndexed(spark, text, phrase, k = 20)),
      "neardup" -> (() => Dedup.incrementalNearDups(probe, mani, "text", "doc_id", 0.9)),
      "ivf" -> (() => Similarity.topKIvfIndexed(spark, queries, ivf, k = 10)))
  }
  private var last: Option[Serves] = None

  def cycle(c: Client, n: Int): Unit = {
    val sv = Serves(rnd.shuffle(vocab).take(4), rnd.shuffle(vocab).take(3),
      Seq.fill(3)(vocab(rnd.nextInt(vocab.size))), rnd.nextLong(),
      Seq.fill(10)(rnd.nextInt(nEmb).toLong))
    last = Some(sv)
    require(n < poolBatches, s"ingest pool exhausted after $poolBatches batches")
    val file = new java.io.File(s"$landing/b=$n").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val batch = spark.read.parquet(file.getPath)
    val landed = c.op("stream_append", "ingest")(Trace.span("execute") {
      streamOp = spark.sparkContext.getLocalProperty(Trace.OpProperty)
      Files.copy(file.toPath, Paths.get(s"$source/.b$n.tmp"))
      Files.move(Paths.get(s"$source/.b$n.tmp"), Paths.get(s"$source/batch-$n.parquet"),
        StandardCopyOption.ATOMIC_MOVE)
      stream.processAllAvailable()
      streamOp = null
    })
    if (landed.ok) ingested ++= batch.select("doc_id").collect().map(_.getLong(0))
    c.op("manifest_append", "maint")(Trace.span("execute")(
      Dedup.appendToMinhashManifest(batch, "text", "doc_id", mani)))
    val gone = baseIds.slice(5 * n, 5 * n + 5)
    val tomb = c.op("tombstone", "maint")(Trace.span("execute")(
      Search.tombstoneFromTextIndex(spark,
        text, spark.createDataFrame(gone.map(Tuple1(_))).toDF("doc_id"))))
    if (tomb.ok) tombstoned ++= gone
    if ((n + 1) % compactEvery == 0)
      c.op("compaction", "maint")(Trace.span("execute")(Search.compactTextIndex(spark, text)))
    if (Trace.enabled) FsCounts.uncounted(sampleStage())
    // serves last, so the final cycle's results read the final state
    sv.all.foreach { case (name, build) =>
      c.op(name, "serve")(c.runFrame(build())(df =>
        Sinks.parquet(df, env.path(s"out/$name"))))
    }
  }

  /** The index shape the serves are about to read: live files per text
    * component and pending tombstone ids. */
  private val stageSamples = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
  private def sampleStage(): Unit = {
    val comps = Seq("postings", "doclens", "stats", "positions")
    val files = comps.map(c => Stage.fragmentation(spark, s"$text/$c")).sum.toDouble
    val pending = Stage.pendingTombstones(spark, text).fold(0L)(_.count())
    stageSamples += ((files / comps.size, pending.toDouble))
  }
  override def layerState: Map[String, Double] = {
    val n = math.max(1, stageSamples.size)
    Map("stage.files_per_component" -> stageSamples.map(_._1).sum / n,
      "stage.pending_tombstones" -> stageSamples.map(_._2).sum / n)
  }

  /** Equal as multisets of rows, columns matched by name. Both sides are
    * serve-sized, so they are compared on the driver in one job each. */
  private def same(a: DataFrame, b: DataFrame): Boolean = {
    def rows(df: DataFrame) = df.select(b.columns.sorted.map(col): _*).collect()
      .map(_.toSeq.mkString("\u001f")).sorted.toSeq
    rows(a) == rows(b)
  }

  /** The last cycle's served results must equal fresh compute over the
    * live corpus. */
  def verify(s: SparkSession, c: Client): Int = {
    val sv = last.getOrElse(return 1)
    val liveIds = (baseIds ++ ingested).toSet -- tombstoned
    val live = docs.where(col("doc_id").isin(liveIds.toSeq: _*))
    val toks = TextAnalysis.tokens(col("text"))
    val conjFresh = live.select(col("doc_id"), explode(toks).as("token"))
      .where(col("token").isin(sv.conj: _*)).groupBy("doc_id", "token").count()
      .groupBy("doc_id").agg(count(lit(1)).as("n_terms"), sum("count").as("n_occurrences"))
      .where(col("n_terms") === sv.conj.size)
    val hits = (i: Column) => sv.phrase.zipWithIndex
      .map { case (t, j) => element_at(toks, i + j + 1) === t }.reduce(_ && _)
    val byCount = Seq(col("n_occurrences").desc, col("doc_id"))
    val phraseFresh = live
      .select(col("doc_id"), when(size(toks) >= sv.phrase.size,
        size(filter(sequence(lit(0), size(toks) - sv.phrase.size), hits))).otherwise(0)
        .as("n_occurrences"))
      .where(col("n_occurrences") > 0)
      .orderBy(byCount: _*).limit(20)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(byCount: _*)))
    // the manifest takes appends but no tombstones
    val freshMani = env.path("verify/manifest")
    val fresh = Map(
      "bm25" -> (() => Search.bm25TopK(live, sv.terms, 20)),
      "conjunctive" -> (() => conjFresh),
      "phrase" -> (() => phraseFresh),
      "neardup" -> (() => {
        Dedup.saveMinhashManifest(docs.where(col("doc_id").isin((baseIds ++ ingested): _*)),
          "text", "doc_id", freshMani, k = 32, bands = 16)
        Dedup.incrementalNearDups(sv.probe, freshMani, "text", "doc_id", 0.9)
      }),
      "ivf" -> (() => Similarity.topKIvf(sv.queries, deq(baseEmb), k = 10, dim = 64,
        nCentroids = nCentroids, centroidsIn = centroids)))
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    Par.run(sv.all.map { case (name, _) => () =>
      try {
        if (!same(s.read.parquet(env.path(s"out/$name")), fresh(name)()))
          failures.add(s"verify $name: served result differs from fresh compute")
      } catch { case e: Throwable => failures.add(s"verify $name: ${e.getMessage}") }
      ()
    }: _*)
    c.errors ++= failures.asScala
    failures.size
  }

  def outBytes: Long = Workloads.dirBytes(indexRoot)
  override def close(): Unit = if (stream != null) {
    stream.stop()
    stream.awaitTermination()
  }
}
