package graft

import graft.compile.SpecCompiler
import graft.ops.{JdbcRouter, Sinks, SourceRouter, Tables, ViewRouter}
import graft.spec.PipelineSpec
import org.apache.spark.sql.SparkSession

import java.io.FileInputStream
import java.util.Properties

/** The runnable job entry — the reference's user surface, Spark-first.
  *
  * The reference launches as `main(table_name, script_type)`: load
  * `application.properties`, JDBC-read the config row for `script_type`,
  * interpret its three JSON documents in a per-ID driver loop, and append
  * each entry's report to a JDBC sink (reference:
  * MENT/task/mentoringExecution2.scala:72-92 — args + properties + config
  * fetch; MENT/generic_script.scala:75-78 — per-entry foreach → sink;
  * MENT/generic_script.scala:469-474 — the main; MENT/src/main/resources/
  * application.properties — the key spellings).
  *
  * Same surface here, but the spec compiles to ONE decorrelated Catalyst
  * plan per entry (SpecCompiler) instead of O(|ids|) JDBC round-trips, and
  * every identifier that reaches SQL text is validated (the reference
  * splices `table_name`/`script_type` raw into query strings —
  * mentoringExecution2.scala:19 — an injection surface we close; the
  * script-type match itself is a bound Column predicate, never spliced).
  *
  * Usage:
  * {{{
  *   spark-submit --class graft.Main graft.jar <config_table> <script_type> \
  *     [--properties /path/to/application.properties] [--sink <table>] [--union]
  * }}}
  *
  * Properties (reference key spellings, plus engine extensions):
  *  - `url`            JDBC base url (reference composes `url/database`;
  *                     we do too when `input.database` is non-empty,
  *                     otherwise `url` is used verbatim — which is how
  *                     embedded/derby-style urls work)
  *  - `db.user` / `db.password`   credentials (omit for embedded DBs)
  *  - `input.database` database holding config + input tables (optional)
  *  - `input.tables`   comma-separated tables to expose to spec SQL as
  *                     temp views (extension: the reference re-reads every
  *                     relation per ID; we register each ONCE and let the
  *                     spec's decorrelated queries hit the views)
  *  - `sink.database`  sink database (default: `input.database`)
  *  - `sink.table`     sink table (overridable by `--sink`)
  *  - `database.<name>.url`  multi-database routing (extension of the
  *                     reference's per-task `database_name` URL building,
  *                     generic_script.scala:117-118): a task whose spec
  *                     entry names `database_name: <name>` executes its
  *                     query IN that database over JDBC; names without a
  *                     `database.<name>.url` key fall back to the
  *                     registered temp views of the default input database
  *
  * Per-entry sink semantics: the reference appends each
  * `input_data_schema` entry's frame independently
  * (generic_script.scala:75-78 `dataArray.foreach` → write), so entries
  * with heterogeneous schemas are legal. `--union` opts into the
  * single-frame union surface instead (requires union-compatible entries).
  */
object Main {

  final case class JobConfig(
      configTable: String,
      scriptType: String,
      url: String,
      user: Option[String],
      password: Option[String],
      inputDatabase: Option[String],
      inputTables: Seq[String],
      sinkDatabase: Option[String],
      sinkTable: String,
      unionEntries: Boolean,
      databaseUrls: Map[String, String] = Map.empty) {
    def inputUrl: String = compose(url, inputDatabase)
    def sinkUrl: String = compose(url, sinkDatabase.orElse(inputDatabase))
    def jdbcOptions: Map[String, String] =
      user.map("user" -> _).toMap ++ password.map("password" -> _).toMap
    private def compose(base: String, db: Option[String]): String =
      db.filter(_.nonEmpty).map(d => s"$base/$d").getOrElse(base)
  }

  private val ident = """^[A-Za-z_][A-Za-z0-9_.]*$""".r

  private def requireIdent(kind: String, s: String): String = {
    require(ident.matches(s), s"$kind '$s' is not a plain SQL identifier")
    s
  }

  def parseArgs(args: Array[String], props: Properties): JobConfig = {
    val (flags, positional) = {
      var sink: Option[String] = None
      var union = false
      val pos = Seq.newBuilder[String]
      var i = 0
      while (i < args.length) {
        args(i) match {
          case "--sink" => require(i + 1 < args.length, "--sink needs a value"); sink = Some(args(i + 1)); i += 2
          case "--properties" => i += 2 // consumed earlier by loadProperties
          case "--union" => union = true; i += 1
          case p => pos += p; i += 1
        }
      }
      ((sink, union), pos.result())
    }
    require(positional.length == 2,
      s"usage: graft.Main <config_table> <script_type> [--properties path] [--sink table] [--union]; got ${positional.mkString(" ")}")
    val prop = (k: String) => Option(props.getProperty(k)).map(_.trim).filter(_.nonEmpty)
    val sinkTable = flags._1.orElse(prop("sink.table")).getOrElse(
      throw new IllegalArgumentException("no sink table: pass --sink or set sink.table"))
    JobConfig(
      configTable = requireIdent("config table", positional(0)),
      scriptType = positional(1), // matched as a bound predicate, never spliced
      url = prop("url").getOrElse(throw new IllegalArgumentException("properties: missing 'url'")),
      user = prop("db.user"),
      password = prop("db.password"),
      inputDatabase = prop("input.database"),
      inputTables = prop("input.tables").toSeq.flatMap(_.split(',')).map(_.trim)
        .filter(_.nonEmpty).map(requireIdent("input table", _)),
      sinkDatabase = prop("sink.database"),
      sinkTable = requireIdent("sink table", sinkTable),
      unionEntries = flags._2,
      databaseUrls = {
        import scala.jdk.CollectionConverters._
        val pat = """^database\.(.+)\.url$""".r
        props.stringPropertyNames.asScala.toSeq.collect {
          case k @ pat(name) => name -> props.getProperty(k).trim
        }.filter(_._2.nonEmpty).toMap
      })
  }

  /** `--properties <path>` wins; else the classpath resource the reference
    * uses (mentoringExecution2.scala:14).
    */
  def loadProperties(args: Array[String]): Properties = {
    val props = new Properties()
    val idx = args.indexOf("--properties")
    if (idx >= 0 && idx + 1 < args.length) {
      val in = new FileInputStream(args(idx + 1))
      try props.load(in) finally in.close()
    } else {
      val in = getClass.getResourceAsStream("/application.properties")
      require(in != null,
        "no /application.properties on the classpath and no --properties given")
      try props.load(in) finally in.close()
    }
    props
  }

  /** The job body, session-injected for tests: config row → typed spec →
    * one compiled plan per entry → JDBC append. (E1 lifecycle, SURVEY §3.)
    */
  def run(spark: SparkSession, conf: JobConfig): Unit = {
    val opts = conf.jdbcOptions
    // the WHERE script_type filter is applied Spark-side as a bound predicate
    // (pushed into the JDBC scan by Catalyst), not spliced into SQL text
    val configDf = Tables.jdbc(spark, conf.inputUrl,
      s"SELECT script_type, input_data_schema, data_mapping, output_data_schema FROM ${conf.configTable}",
      options = opts)
    val spec = PipelineSpec.fromConfigTable(configDf, conf.scriptType)

    // register each input relation ONCE; the decorrelated plans join instead
    // of re-reading per ID (the reference's O(|ids|) JDBC loop)
    conf.inputTables.foreach { t =>
      Tables.jdbc(spark, conf.inputUrl, s"SELECT * FROM $t", options = opts)
        .createOrReplaceTempView(t)
    }

    // multi-database routing: database_name entries with a configured URL
    // query that database directly; everything else hits the views above
    val router: SourceRouter =
      if (conf.databaseUrls.isEmpty) ViewRouter
      else JdbcRouter(conf.databaseUrls, opts, fallback = Some(ViewRouter))
    val outputs =
      if (conf.unionEntries) Seq(SpecCompiler.compile(spark, spec, router))
      else SpecCompiler.compileEntries(spark, spec, router)
    outputs.foreach(df => Sinks.jdbcAppend(df, conf.sinkUrl, conf.sinkTable, opts))
  }

  def main(args: Array[String]): Unit = {
    val props = loadProperties(args)
    val conf = parseArgs(args, props)
    // reuse a live session (tests, notebooks); own-and-stop otherwise
    val existing = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
    val spark = existing.getOrElse {
      LocalSpark.builder(sys.props.getOrElse("graft.master", "local[*]"), 32)
        .appName("graft-job")
        .getOrCreate()
    }
    try run(spark, conf)
    finally if (existing.isEmpty) spark.stop()
  }
}
