package graft.ops

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Source registry.
  *
  * The reference reads every relation over JDBC with full query pushdown
  * (`readFromPostgres`, reference MENT/functions/mentoringFunction.scala:18-26).
  * Our engine keeps the same pluggable-source idea but defaults to parquet
  * (the harness testdata); a JDBC source produces the identical downstream
  * plan, so switching is a config change, not a code change.
  *
  * At 100 TB the parquet reader is the scale path: Spark splits files into
  * `spark.sql.files.maxPartitionBytes` tasks, pushes filters/projection into
  * the scan, and prunes partitions. A JDBC source should always set
  * `partitionColumn`/`numPartitions` (the reference's single-partition JDBC
  * scans are its main scalability bug — SURVEY.md §3).
  *
  * Schema on the driver: every parquet read in `src/main` goes through
  * [[parquet]], which reads the one footer Spark's inference would read
  * on the DRIVER and hands Spark the result as the read schema. A plain
  * `spark.read.parquet` starts a one-task Spark job for that footer —
  * per table, per index component, per report. The schema is Spark's
  * own (same file, same converter, same session flags); anything the
  * helper cannot match exactly falls back to Spark's inference.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Filesystem-safe tag from a dataset directory's name — the suffix the
    * persisted-index fixture paths use so concurrent scale-factor runs
    * don't collide. Sanitized in ONE place: a dataset dir with unusual
    * characters must not yield malformed target paths for some queries
    * and valid ones for others.
    */
  def sfTag(sfDir: String): String =
    new java.io.File(sfDir).getName.replaceAll("[^A-Za-z0-9_]", "_")

  /** Spread an EXPLODE-AMPLIFIED stage across the configured shuffle
    * width when the scan under-partitioned its input. Scan partitioning
    * is BYTES-sized (`spark.sql.files.maxPartitionBytes`), but gram/
    * window/token/encoder builders do work proportional to EXPLODED
    * rows — a compact parquet (one 5 MiB file = one scan partition)
    * funnels an entire corpus's window argmins into ONE task. Measured
    * at sf1 by the round-17 straggler probes: a single 56 s task
    * carried a 66 s winnow-spans wall (30× the task mean), and the
    * campaign build showed the same shape (28 s vs 0.7 s mean) — with
    * ZERO data skew (the largest window group was 42 rows; the probe
    * checked). One input-sized hash shuffle on `key` bounds the stage's
    * max task at corpus/width. It is paid ONLY when the scan's
    * parallelism is under half the configured width, so at real scale —
    * where inputs arrive already split into many files/row groups — the
    * plan is untouched and no shuffle is added. Callers should pass a
    * PROJECTED frame (id + payload) so the shuffle carries only what
    * the amplified stage reads.
    */
  def spreadAmplified(df: DataFrame, key: org.apache.spark.sql.Column): DataFrame = {
    // streaming frames have no scan-partition count to probe (and their
    // micro-batches arrive through foreachBatch as batch frames anyway)
    if (df.isStreaming) return df
    val width = df.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "200").toInt
    if (df.rdd.getNumPartitions * 2 >= width) df
    else df.repartition(width, key)
  }

  /** Materialize a multiply-consumed relation, cutting both recompute and
    * lineage — the ONE checkpoint helper every operator shares (r18: the
    * per-file `ckpt` lambdas and the winnow family's unconditional
    * `localCheckpoint()` calls unified here). Honors a configured
    * checkpoint directory first: `localCheckpoint` blocks live on
    * executors and die with them — on a real cluster a lost executor
    * forces a full lineage recompute mid-query (or fails the job for a
    * truncated lineage), so a deployment that configured reliable
    * checkpoint storage must get it everywhere, not just in the files
    * that happened to write the dir-aware lambda. Both paths are EAGER.
    *
    * WHEN to materialize (the round-17 measured rule): when consumers
    * re-run EXPENSIVE per-row work (shingles, regex quality, encoder
    * forwards) or the relation is slim (scalars); NEVER to save a
    * projection that column-prunes to a scalar inside each consumer's
    * scan — that checkpoint was measured 1.5–2× WORSE (DedupMinhash
    * classPairs note).
    */
  def materialize(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint()
    else df.localCheckpoint()

  /** TRUE when `df` is small enough to ship whole: Catalyst's size
    * estimate — the one a join would broadcast it by — is within the
    * session's `spark.sql.autoBroadcastJoinThreshold`. FALSE with
    * broadcasts off, and for a streaming frame.
    */
  def shipsWhole(df: DataFrame): Boolean = !df.isStreaming && {
    val bound = org.apache.spark.sql.GraftSqlBridge.broadcastThreshold(df.sparkSession)
    bound >= 0 && df.queryExecution.optimizedPlan.stats.sizeInBytes <= bound
  }

  /** Read one testdata table from a scale-factor directory.
    *
    * `events.ts` has shipped in two encodings across testdata
    * generations: parquet TIMESTAMP(NANOS) — which Spark 4 rejects unless
    * `spark.sql.legacy.parquet.nanosAsLong=true` turns it into a LONG —
    * and parquet timestamp[us] (isAdjustedToUTC=false, read as
    * TIMESTAMP_NTZ). Branch on the footer's actual type and normalize both
    * to a session-TZ TimestampType column, keeping the declared schema
    * stable for downstream operators. Entry points set the session TZ to
    * UTC, so the NTZ→LTZ cast is value-preserving. Mutating session conf
    * per read call would surprise concurrent users of a shared session,
    * hence the build-time nanosAsLong requirement documented here.
    */
  def t(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") {
      val raw = parquet(spark, s"$sfDir/$name.parquet")
      val ts = raw.schema("ts").dataType match {
        // integer div: ns → µs (double division loses precision at 1e18)
        case org.apache.spark.sql.types.LongType =>
          timestamp_micros(expr("ts div 1000"))
        case _ =>
          requireUtc(spark)
          col("ts").cast(org.apache.spark.sql.types.TimestampType)
      }
      raw.withColumn("ts", ts)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
    } else {
      parquet(spark, s"$sfDir/$name.parquet")
    }

  /** `spark.read.parquet` of `paths` with the schema read on the driver:
    * the same DataFrame, schema, plan and errors, without the one-task
    * inference job Spark starts to read a footer. The ONE parquet read
    * path of `src/main` (a lint test keeps it so); readers that already
    * pass `.schema(...)` need no inference and stay as they are.
    *
    * The footer read is the one Spark's inference would read — the first
    * data file by full path string among the files the read lists:
    *  - a file path is itself; a directory's own files, skipping the
    *    names Spark's listing skips (`_x`, `.x`, `x._COPYING_`), so
    *    subdirectories beside a directory's own files stay invisible;
    *  - a directory of Hive partitions (`list=3/`) is descended in path
    *    order until the first data file, listing no more directories than
    *    that takes;
    *  - globs expand as Spark expands them.
    * Spark's inference runs instead (the helper returns exactly
    * `spark.read.parquet`) when no data file is found, a path is missing,
    * a listed directory holds a `_metadata`/`_common_metadata` summary,
    * `spark.sql.parquet.mergeSchema` is on, a data column shares a
    * partition column's name, or the layout is one this walk does not
    * cover (files beside partition directories; several paths whose
    * least is not a data file) — so every error and exception type is
    * Spark's own.
    */
  def parquet(spark: SparkSession, paths: String*): DataFrame =
    read(spark, None, paths)

  /** [[parquet]] of a pinned FILE list, Hive-partition columns inferred
    * relative to `basePath` (Spark's `basePath` read option). */
  def parquetFiles(spark: SparkSession, basePath: String,
                   files: Seq[String]): DataFrame =
    read(spark, Some(basePath), files)

  /** The schema of [[parquet]]`(spark, paths: _*)` — the schema-only
    * probe (streaming sources, encoding checks) that starts no job. */
  def parquetSchema(spark: SparkSession, paths: String*): StructType =
    parquet(spark, paths: _*).schema

  private def read(spark: SparkSession, basePath: Option[String],
                   paths: Seq[String]): DataFrame = {
    val reader = basePath.fold(spark.read)(spark.read.option("basePath", _))
    footerSchema(spark, basePath, paths)
      .fold(reader)(reader.schema).parquet(paths: _*)
  }

  /** The data schema Spark's inference would give `paths`, read from one
    * footer on the driver; None where Spark must infer it itself. */
  private def footerSchema(spark: SparkSession, basePath: Option[String],
                           paths: Seq[String]): Option[StructType] =
    if (paths.isEmpty || GraftParquetBridge.mergesSchemas(spark)) None
    else try {
      val conf = GraftParquetBridge.hadoopConf(spark)
      val roots = paths.flatMap { p =>
        val path = new Path(p)
        val fs = path.getFileSystem(conf)
        val q = fs.makeQualified(path)
        if (!GraftParquetBridge.isGlob(q)) Seq(fs -> q)
        else Option(fs.globStatus(q)).toSeq.flatten.map(fs -> _.getPath)
      }.sortBy(_._2.toString)
      roots.headOption.flatMap { case (fs, first) =>
        // several roots (pinned files): the least path is the answer when
        // it is a data file itself — a directory's files sort after it
        val file =
          if (roots.size == 1 && basePath.isEmpty) firstDataFile(fs, first, top = true)
          else Some(fs.getFileStatus(first)).filter(s =>
            s.isFile && !s.getPath.getName.startsWith("_") &&
              !GraftParquetBridge.hiddenName(s.getPath.getName))
        file.flatMap { f =>
          // partition columns are the `k=v` directories below the base
          val base = basePath.map(b => fs.makeQualified(new Path(b))).getOrElse(
            if (f.getPath == first) f.getPath.getParent else first)
          val partCols = Iterator.iterate(f.getPath.getParent)(_.getParent)
            .takeWhile(d => d != null && d != base).map(_.getName)
            .filter(_.contains("=")).map(_.takeWhile(_ != '=')).toSeq
          // Spark keeps a data column that is also a partition column at
          // its data position; a given schema would move it last
          Some(GraftParquetBridge.footerSchema(spark, conf, f)).filterNot(
            _.fieldNames.exists(n => partCols.exists(_.equalsIgnoreCase(n))))
        }
      }
    } catch { case NonFatal(_) => None }

  /** The least data file by full path string that Spark's listing of
    * the root `dir` includes (see [[parquet]]); None when there is none
    * or the layout needs Spark's own inference. Below the `top` root,
    * the walk is inside a partitioned root, where every file is listed. */
  private def firstDataFile(fs: FileSystem, dir: Path, top: Boolean): Option[FileStatus] = {
    val kids = fs.listStatus(dir).toSeq.filterNot(s =>
      GraftParquetBridge.hiddenName(s.getPath.getName))
    def partition(s: FileStatus) = s.isDirectory && s.getPath.getName.contains("=")
    def firstIn(entries: Seq[FileStatus]) = entries
      .sortBy(s => s.getPath.toString + (if (s.isDirectory) "/" else ""))
      .iterator.map(s => if (s.isFile) Some(s) else firstDataFile(fs, s.getPath, top = false))
      .collectFirst { case Some(f) => f }
    val (files, dirs) = kids.partition(_.isFile)
    // `_metadata` / `_common_metadata` summaries take precedence in Spark
    if (files.exists(_.getPath.getName.startsWith("_"))) None
    else if (!top) firstIn(kids)
    // a file root lists as itself; a plain root reads only its own files
    else if (files.nonEmpty) if (dirs.exists(partition)) None else firstIn(files)
    else if (dirs.nonEmpty && dirs.forall(partition)) firstIn(dirs)
    else None
  }

  /** The NTZ→session-TZ timestamp cast is only VALUE-preserving when the
    * session TZ is UTC; on any other setting every event silently shifts.
    * Asserted wherever the cast happens (here and in
    * EventStreams.toNanos) instead of trusting that every caller-built
    * session copied the entry points' UTC pin.
    */
  private[graft] def requireUtc(spark: SparkSession): Unit = {
    val tz = spark.conf.get("spark.sql.session.timeZone")
    // compare the RESOLVED zone, not the literal id: "Etc/UTC", "GMT",
    // "UT", "Z", "+00:00" are all value-preserving for the NTZ cast
    val utc =
      try java.time.ZoneId.of(tz, java.time.ZoneId.SHORT_IDS).normalized() ==
        java.time.ZoneOffset.UTC
      catch { case _: java.time.DateTimeException => false }
    require(utc,
      s"events.ts NTZ normalization requires a UTC-equivalent " +
        s"spark.sql.session.timeZone (got '$tz') — set UTC in the " +
        s"SparkSession builder")
  }

  /** Register every table as a temp view so spec SQL / spark.sql can see them. */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach(n => t(spark, sfDir, n).createOrReplaceTempView(n))

  /** JDBC variant (reference parity, S1/S2): same relation, different source.
    * Unlike the reference's single-partition scans, callers must provide
    * partition bounds for any large table — a lone JDBC connection is the
    * reference's main scalability bug (SURVEY.md §3).
    */
  def jdbc(spark: SparkSession, url: String, query: String,
           partitioning: Option[(String, Long, Long, Int)] = None,
           options: Map[String, String] = Map.empty): DataFrame = {
    val base = spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", s"($query) subq")
      .options(options)
    partitioning match {
      case Some((col, lower, upper, n)) =>
        base.option("partitionColumn", col)
          .option("lowerBound", lower.toString)
          .option("upperBound", upper.toString)
          .option("numPartitions", n.toString)
          .load()
      case None => base.load()
    }
  }

  /** Partitioned JDBC read with bounds derived by the engine: one pushed
    * `MIN/MAX(partitionColumn)` probe (a single-row scan the database
    * aggregates itself), then a [[jdbc]] read split into `numPartitions`
    * bounded scans. Spark's JDBC bounds only steer the STRIDE — the first
    * and last partition predicates are open-ended — so probe-derived
    * bounds never drop rows, even racing concurrent inserts. An empty
    * relation (NULL min) degrades to the unpartitioned single scan.
    */
  def jdbcPartitioned(spark: SparkSession, url: String, query: String,
                      partitionColumn: String, numPartitions: Int,
                      options: Map[String, String] = Map.empty): DataFrame = {
    val probe = jdbc(spark, url,
      s"SELECT MIN($partitionColumn) AS lo, MAX($partitionColumn) AS hi " +
        s"FROM ($query) bounds_probe",
      None, options).collect().head
    if (probe.isNullAt(0)) jdbc(spark, url, query, None, options)
    else {
      val lo = probe.getAs[Number](0).longValue
      val hi = probe.getAs[Number](1).longValue
      // lo == hi gives Spark a zero-width stride → single partition anyway;
      // keep the read unpartitioned rather than warn-and-degrade
      if (lo == hi) jdbc(spark, url, query, None, options)
      else jdbc(spark, url, query,
        Some((partitionColumn, lo, hi, numPartitions)), options)
    }
  }
}
