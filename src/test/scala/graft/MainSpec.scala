package graft

import graft.compile.SpecCompiler
import graft.ops.Tables
import graft.spec.PipelineSpec
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end coverage of [[graft.Main]] — the reference-parity job entry
  * (reference: MENT/task/mentoringExecution2.scala:72-92 args+properties+
  * config fetch; MENT/generic_script.scala:75-78 per-entry append). Runs
  * the REAL main(args) against embedded Derby: properties file → config
  * row → registered input views → compiled plans → JDBC append sink.
  */
class MainSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val url = "jdbc:derby:target/derby-main-spec;create=true"

  private def exec(sql: String*): Unit = {
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      sql.foreach { s =>
        if (s.startsWith("DROP"))
          try st.executeUpdate(s) catch { case _: java.sql.SQLException => () }
        else st.executeUpdate(s)
      }
      st.close()
    } finally conn.close()
  }

  private def insertConfig(table: String, scriptType: String,
                           input: String, mapping: String, output: String): Unit = {
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val ps = conn.prepareStatement(s"INSERT INTO $table VALUES (?, ?, ?, ?)")
      ps.setString(1, scriptType); ps.setString(2, input)
      ps.setString(3, mapping); ps.setString(4, output)
      ps.executeUpdate(); ps.close()
    } finally conn.close()
  }

  private val configDdl =
    """CREATE TABLE %s (script_type VARCHAR(64),
         input_data_schema VARCHAR(4000), data_mapping VARCHAR(4000),
         output_data_schema VARCHAR(4000))"""

  test("SparkEntry.entry (the flagship query on sf0.001) returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("Main.main: args + properties file → config row → compiled plan → JDBC sink") {
    exec(
      "DROP TABLE main_report_sink", "DROP TABLE main_config",
      "DROP TABLE m_drivers", "DROP TABLE m_facts",
      "CREATE TABLE m_drivers (id INT)",
      "INSERT INTO m_drivers VALUES (1), (2), (3)",
      "CREATE TABLE m_facts (driver_id INT, amount DOUBLE)",
      "INSERT INTO m_facts VALUES (1, 10.0), (1, 5.0), (2, 7.5)",
      configDdl.format("main_config"),
      "CREATE TABLE main_report_sink (driver INT, total_amount DOUBLE)")
    insertConfig("main_config", "mentor_report",
      """[{"fetchId": {"query": "SELECT id FROM m_drivers", "database_name": "db", "id": "id"},
           "tasks": [
             {"single_process": {"input": "driver_id",
                "query": "SELECT driver_id, amount FROM m_facts WHERE driver_id = ${id}",
                "database_name": "db", "agg": "sum", "agg_on": "amount",
                "groupby": "none", "rename": "total",
                "join_on": "driver_id", "join_type": "none"}}]}]""",
      """{}""",
      """{"driver_id": {"Input_data_type": "IntegerType", "rename": "driver"},
          "total": {"Input_data_type": "DoubleType", "rename": "total_amount"}}""")

    val propsPath = "target/main-spec.properties"
    val w = new java.io.PrintWriter(propsPath)
    try w.write(
      s"""url=$url
         |input.tables=m_drivers, m_facts
         |sink.table=main_report_sink
         |""".stripMargin)
    finally w.close()

    // the real user surface: spark-submit-style args (session reused, kept alive)
    Main.main(Array("main_config", "mentor_report", "--properties", propsPath))
    assert(!spark.sparkContext.isStopped,
      "Main must not stop a session it did not create")

    val got = Tables.jdbc(spark, url,
      "SELECT driver, total_amount FROM main_report_sink")
      .as[(Int, Double)].collect().sorted.toSeq
    assert(got == Seq((1, 15.0), (2, 7.5), (3, 0.0)))

    // K1 is an APPEND sink: a second run accumulates rows
    Main.main(Array("main_config", "mentor_report", "--properties", propsPath))
    val twice = Tables.jdbc(spark, url,
      "SELECT driver FROM main_report_sink").count()
    assert(twice == 6)
  }

  test("per-entry sink: heterogeneous entry schemas compile and append independently") {
    // two entries with DIFFERENT output schemas — legal in the reference's
    // per-entry foreach (generic_script.scala:75-78), impossible as a union
    val specJson =
      """[{"fetchId": {"query": "SELECT id FROM m2_drivers", "database_name": "db", "id": "id"},
           "tasks": [
             {"single_process": {"input": "driver_id",
                "query": "SELECT driver_id, amount FROM m2_facts WHERE driver_id = ${id}",
                "database_name": "db", "agg": "sum", "agg_on": "amount",
                "groupby": "none", "rename": "total",
                "join_on": "driver_id", "join_type": "none"}}]},
          {"fetchId": {"query": "SELECT region_id FROM m2_regions", "database_name": "db", "id": "region_id"},
           "tasks": [
             {"single_process": {"input": "region_id",
                "query": "SELECT region_id, visits, misses FROM m2_visits WHERE region_id = ${id}",
                "database_name": "db", "agg": "none", "agg_on": "none",
                "groupby": "none", "rename": "none",
                "join_on": "region_id", "join_type": "none"}}]}]"""
    // mapping references entry-2 columns only: entry 1 must skip it cleanly
    val mappingJson =
      """{"hit_ratio": {"aggregation": {"agg_type": "ratio", "column_name": ["visits", "misses"]}}}"""

    Seq((1, 100.0), (1, 20.0), (2, 5.0)).toDF("driver_id", "amount")
      .createOrReplaceTempView("m2_facts")
    Seq(1, 2).toDF("id").createOrReplaceTempView("m2_drivers")
    Seq(10, 20).toDF("region_id").createOrReplaceTempView("m2_regions")
    Seq((10, 8.0, 2.0), (20, 3.0, 0.0)).toDF("region_id", "visits", "misses")
      .createOrReplaceTempView("m2_visits")

    val spec = PipelineSpec.fromJson(specJson, mappingJson, """{}""")
    val entries = SpecCompiler.compileEntries(spark, spec)
    assert(entries.length == 2)
    assert(entries(0).columns.toSeq == Seq("driver_id", "total"))
    assert(entries(1).columns.toSeq == Seq("region_id", "visits", "misses", "hit_ratio"))
    assert(entries(0).as[(Int, Double)].collect().sorted.toSeq ==
      Seq((1, 120.0), (2, 5.0)))
    assert(entries(1).select("region_id", "hit_ratio").as[(Int, Double)]
      .collect().sorted.toSeq == Seq((10, 4.0), (20, 0.0)))

    // the union surface must refuse what per-entry handles
    assertThrows[org.apache.spark.sql.AnalysisException] {
      SpecCompiler.compile(spark, spec).collect()
    }
  }

  test("parseArgs validates identifiers and requires a sink") {
    val props = new java.util.Properties()
    props.setProperty("url", url)
    props.setProperty("sink.table", "ok_sink")
    val conf = Main.parseArgs(Array("cfg_table", "mentor_report"), props)
    assert(conf.sinkTable == "ok_sink" && conf.configTable == "cfg_table")
    assert(!conf.unionEntries)

    val flags = Main.parseArgs(
      Array("cfg_table", "mentor_report", "--sink", "other", "--union"), props)
    assert(flags.sinkTable == "other" && flags.unionEntries)

    // injection surface stays closed: non-identifier table names are rejected
    assertThrows[IllegalArgumentException] {
      Main.parseArgs(Array("cfg; DROP TABLE x", "mentor_report"), props)
    }
    props.setProperty("input.tables", "good, bad-name;")
    assertThrows[IllegalArgumentException] {
      Main.parseArgs(Array("cfg_table", "mentor_report"), props)
    }
    props.remove("input.tables")
    props.remove("sink.table")
    assertThrows[IllegalArgumentException] {
      Main.parseArgs(Array("cfg_table", "mentor_report"), props)
    }
  }

  test("parseArgs collects database.<name>.url keys into the routing map") {
    val props = new java.util.Properties()
    props.setProperty("url", url)
    props.setProperty("sink.table", "ok_sink")
    props.setProperty("database.hr.url", "jdbc:derby:target/hr;create=true")
    props.setProperty("database.sales.url", "jdbc:derby:target/sales")
    props.setProperty("database.blank.url", "  ") // blank values are dropped
    props.setProperty("database.urlless.name", "ignored") // wrong suffix
    val conf = Main.parseArgs(Array("cfg_table", "mentor_report"), props)
    assert(conf.databaseUrls == Map(
      "hr" -> "jdbc:derby:target/hr;create=true",
      "sales" -> "jdbc:derby:target/sales"))
    // no routing keys → empty map → ViewRouter path
    props.remove("database.hr.url")
    props.remove("database.sales.url")
    props.remove("database.blank.url")
    props.remove("database.urlless.name")
    assert(Main.parseArgs(Array("cfg_table", "mentor_report"), props)
      .databaseUrls.isEmpty)
  }

  test("the shipped conf/job.properties sample loads and parses into a JobConfig") {
    val args = Array("report_config", "mentor_report",
      "--properties", "conf/job.properties")
    val props = Main.loadProperties(args)
    val conf = Main.parseArgs(args, props)
    assert(conf.url.startsWith("jdbc:derby:"),
      "sample must target embedded Derby so it runs offline")
    assert(conf.inputTables == Seq("drivers", "facts"))
    assert(conf.sinkTable == "report_sink")
    assert(conf.user.isEmpty && conf.inputDatabase.isEmpty,
      "commented-out sample keys must stay unset")
  }
}
