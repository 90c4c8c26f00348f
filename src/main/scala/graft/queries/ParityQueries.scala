package graft.queries

import graft.compile.SpecCompiler
import graft.ops.{Num, Tables}
import graft.spec.PipelineSpec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One named query per operator in SURVEY.md §2's inventory, each with a
  * DuckDB oracle over the same parquet tables.
  *
  * Every query ends in a deterministic total ORDER BY (mirrored in the
  * oracle) and all floating-point aggregation goes through [[Num]]'s exact
  * decimal path, so results are bit-identical across engines and across
  * partition counts — i.e., the same answer at local[32] and on a
  * 1000-executor cluster.
  */
object ParityQueries {
  import Tables.t

  type Q = (SparkSession, String) => DataFrame

  /** Flagship: the mentor-report-shaped pipeline (FIXTURES.md §3) expressed
    * as a PipelineSpec and compiled to one decorrelated plan. Exercises S1,
    * S3→join decorrelation, S4 zero-fill, P1-P8, J1/J2/J4, A1/A2, the
    * data_mapping average and the output contract in a single query.
    */
  val flagshipSpec: String = """
  {
    "input_data_schema": [
      {
        "fetchId": { "query": "SELECT c_custkey FROM customer",
                     "database_name": "testdata", "id": "c_custkey" },
        "tasks": [
          { "single_process": {
              "input": "mentor_id",
              "query": "SELECT o_custkey AS mentor_id, o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS order_value FROM orders WHERE o_custkey = ${id}",
              "database_name": "testdata",
              "agg": "none", "agg_on": "none", "groupby": "none",
              "rename": "none", "join_on": "none", "join_type": "none" } },
          { "single_process": {
              "input": "mentor_id",
              "query": "SELECT o_custkey AS mentor_id, CAST(o_totalprice AS DECIMAL(18,2)) AS session_value FROM orders WHERE o_custkey = ${id}",
              "database_name": "testdata",
              "agg": "sum", "agg_on": "session_value", "groupby": "mentor_id",
              "rename": "total_value",
              "join_on": "mentor_id", "join_type": "inner" } },
          { "single_process": {
              "input": "mentor_id",
              "query": "SELECT o_custkey AS mentor_id, o_orderkey AS session_id FROM orders WHERE o_custkey = ${id}",
              "database_name": "testdata",
              "agg": "count", "agg_on": "session_id", "groupby": "mentor_id",
              "rename": "n_sessions",
              "join_on": "mentor_id", "join_type": "inner" } }
        ]
      }
    ],
    "data_mapping": {
      "avg_value": { "aggregation": { "agg_type": "average",
                     "column_name": ["order_value", "total_value"] } }
    },
    "output_data_schema": {
      "mentor_id":   { "Input_data_type": "LongType",   "rename": "mentor" },
      "o_orderkey":  { "Input_data_type": "LongType",   "rename": "orderkey" },
      "order_value": { "Input_data_type": "DoubleType", "rename": "order_value" },
      "total_value": { "Input_data_type": "DoubleType", "rename": "total_value" },
      "n_sessions":  { "Input_data_type": "LongType",   "rename": "n_sessions" },
      "avg_value":   { "Input_data_type": "DoubleType", "rename": "avg_value" }
    }
  }"""

  def flagship(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    SpecCompiler.compile(spark, PipelineSpec.fromJson(flagshipSpec))
      .orderBy("mentor", "orderkey")
  }

  /** multiple_process subtree through the DSL: per customer (outer ID), the
    * second-level fetch lists their orders (sub-IDs) and children aggregate
    * lineitems per sub-ID, summed back to the customer (SURVEY §2 J3/A2,
    * decorrelated from the reference's O(ids × sub-ids) loop).
    */
  val multiSpec: String = """
  {
    "input_data_schema": [
      {
        "fetchId": { "query": "SELECT c_custkey FROM customer",
                     "database_name": "testdata", "id": "c_custkey" },
        "tasks": [
          { "single_process": {
              "input": "c_custkey",
              "query": "SELECT c_custkey, c_name FROM customer WHERE c_custkey = ${id}",
              "database_name": "testdata",
              "agg": "none", "agg_on": "none", "groupby": "none",
              "rename": "none", "join_on": "none", "join_type": "none" } },
          { "fetchID_with_InputID": {
              "query": "SELECT o_custkey, o_orderkey FROM orders WHERE o_custkey = ${id}",
              "database_name": "testdata", "id": "o_orderkey",
              "join_on": "c_custkey", "join_type": "left" },
            "child": [
              { "multiple_process": {
                  "input": "l_orderkey",
                  "query": "SELECT l_orderkey, CAST(l_quantity AS DECIMAL(18,2)) AS qty FROM lineitem WHERE l_orderkey = ${id}",
                  "database_name": "testdata",
                  "agg": "sum", "agg_on": "qty",
                  "join_on": "l_orderkey", "join_type": "inner",
                  "rename": "total_qty" } } ] }
        ]
      }
    ],
    "data_mapping": {},
    "output_data_schema": {
      "c_custkey": { "Input_data_type": "LongType",   "rename": "custkey" },
      "c_name":    { "Input_data_type": "StringType", "rename": "name" },
      "total_qty": { "Input_data_type": "DoubleType", "rename": "total_qty" }
    }
  }"""

  def specMulti(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    SpecCompiler.compile(spark, PipelineSpec.fromJson(multiSpec))
      .orderBy("custkey")
  }

  val queries: Map[String, Q] = Map(
    "q01_scan_filter_project" -> ((s, d) =>
      // S1 + §2.4 predicates: filter+projection must reach the parquet scan
      // string literal coerces to l_shipdate's timestamp type (NTZ or LTZ)
      t(s, d, "lineitem")
        .filter(col("l_shipdate") < lit("1997-01-01") && col("l_quantity") > 45)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber")),

    "q02_join_config_type" -> ((s, d) => {
      // J1: USING-style single-key equi-join, config-driven type; the small
      // dimension leg is explicitly broadcast
      val cust = t(s, d, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_nationkey").as("nationkey"),
          col("c_acctbal"))
      val nat = t(s, d, "nation")
        .select(col("n_nationkey").as("nationkey"), col("n_name"))
      cust.join(broadcast(nat), Seq("nationkey"), "inner").orderBy("c_custkey")
    }),

    "q03_join_fold_agg" -> ((s, d) => {
      // J2 left-deep fold + A1 grouped agg over 4 tables; dims broadcast
      val o = t(s, d, "orders"); val c = t(s, d, "customer")
      val n = t(s, d, "nation"); val r = t(s, d, "region")
      o.join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_orders"),
          Num.moneySum(col("o_totalprice")).as("total_revenue"))
        .orderBy("r_name")
    }),

    "q04_decorrelated_zero_fill" -> ((s, d) => {
      // J4 decorrelated + S4/A3 zero-fill: every customer yields a row,
      // missing aggregates coalesce to zero — the declarative equivalent of
      // the reference's per-ID loop + fallback-row (generic_script.scala:305-310)
      val perCust = t(s, d, "orders").groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n"), Num.moneySum(col("o_totalprice")).as("total"))
      t(s, d, "customer").select(col("c_custkey"))
        .join(perCust, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"),
          coalesce(col("n"), lit(0L)).as("n_orders"),
          coalesce(col("total"), lit(0.0)).as("total_spent"))
        .orderBy("c_custkey")
    }),

    "q05_two_level_agg" -> ((s, d) => {
      // J3 decorrelated: facts two levels down (lineitem→orders→customer)
      // aggregated per outer ID in one shuffle chain, not nested loops
      val li = t(s, d, "lineitem").select(col("l_orderkey"), col("l_quantity"))
      val ord = t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
      val per = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(sum(Num.dec2(col("l_quantity"))).cast(DoubleType).as("total_qty"),
          count(lit(1)).as("n_items"))
      t(s, d, "customer").select(col("c_custkey"))
        .join(per, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"),
          coalesce(col("total_qty"), lit(0.0)).as("total_qty"),
          coalesce(col("n_items"), lit(0L)).as("n_items"))
        .orderBy("c_custkey")
    }),

    "q06_flagship_pipeline" -> (flagship(_, _)),
    "q07_spec_multiprocess" -> (specMulti(_, _)),

    "q08_union_positional" -> ((s, d) => {
      // §2.7: positional, duplicate-preserving union (the reference's
      // unionAll fold, generic_script.scala:438)
      val a = t(s, d, "orders")
        .select(lit("order").as("src"), col("o_orderkey").as("key"),
          col("o_totalprice").as("amount"))
      val b = t(s, d, "lineitem")
        .select(lit("line").as("src"), col("l_orderkey").as("key"),
          col("l_extendedprice").as("amount"))
      a.union(b).orderBy("src", "key", "amount")
    }),

    "q09_agg_expr_string" -> ((s, d) =>
      // A1: aggregate-function-as-config-string through expr(), validated
      // against SpecCompiler.allowedAggs (the reference splices unvalidated:
      // generic_script.scala:170-174)
      t(s, d, "lineitem").groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          expr("count(l_orderkey)").as("n_rows"),
          expr("min(l_quantity)").as("min_qty"),
          expr("max(l_quantity)").as("max_qty"),
          expr("count(distinct l_suppkey)").as("n_supp"))
        .orderBy("l_returnflag", "l_linestatus")),

    "q10_derived_average" -> ((s, d) =>
      // P6/A5: the data_mapping "average" derived column, exact-decimal path
      SpecCompiler.deriveAverage(
          t(s, d, "lineitem"), "avg_val", "l_extendedprice", "l_quantity")
        .select("l_orderkey", "l_linenumber", "avg_val")
        .orderBy("l_orderkey", "l_linenumber")),

    "q11_array_flatten" -> ((s, d) =>
      // P7: ArrayType(StringType) → concat_ws flatten (plus array ops)
      t(s, d, "documents")
        .select(col("doc_id"),
          concat_ws(", ",
            slice(sort_array(array_distinct(split(col("text"), " "))), 1, 5))
            .as("first_tokens"))
        .orderBy("doc_id")),

    "q12_na_fill_cast" -> ((s, d) =>
      // P8 null normalization + P4 cast (floor+cast, identical both engines)
      t(s, d, "events")
        .withColumn("v", when(col("value") >= 1, col("value")))
        .na.fill(0, Seq("v"))
        .select(col("event_id"), col("v").as("v_filled"),
          floor(col("v")).cast(LongType).as("v_int"))
        .orderBy("event_id")),

    "q13_constant_rename" -> ((s, d) =>
      // P3 constant stamp + P5 rename
      t(s, d, "nation")
        .withColumn("report_type", lit("mentor_report"))
        .withColumnRenamed("n_name", "nation_name")
        .orderBy("n_nationkey")),

    "q15_join_semi_anti" -> ((s, d) => {
      // semi/anti joins (EXISTS / NOT EXISTS): customers partitioned into
      // with-orders / without-orders, tagged and unioned
      val cust = t(s, d, "customer").select(col("c_custkey"), col("c_name"))
      val ord = t(s, d, "orders").select(col("o_custkey"))
      val withO = cust.join(ord, col("c_custkey") === col("o_custkey"), "left_semi")
        .withColumn("has_orders", lit(1))
      val noO = cust.join(ord, col("c_custkey") === col("o_custkey"), "left_anti")
        .withColumn("has_orders", lit(0))
      withO.union(noO).orderBy("c_custkey")
    }),

    "q16_join_full_outer" -> ((s, d) => {
      // full outer: per-nation customer counts vs supplier counts, nations
      // appearing on either side survive
      val cn = t(s, d, "customer").groupBy(col("c_nationkey").as("nk"))
        .agg(count(lit(1)).as("n_cust"))
      val sn = t(s, d, "supplier").groupBy(col("s_nationkey").as("nk"))
        .agg(count(lit(1)).as("n_supp"))
      cn.join(sn, Seq("nk"), "full")
        .select(col("nk"),
          coalesce(col("n_cust"), lit(0L)).as("n_cust"),
          coalesce(col("n_supp"), lit(0L)).as("n_supp"))
        .orderBy("nk")
    }),

    "q17_topk_limit" -> ((s, d) =>
      // ORDER BY + LIMIT → TakeOrderedAndProject (no global sort of the
      // full relation; each partition keeps k, driver merges)
      t(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(20)),

    "q201_zorder_scan" -> ((s, d) => {
      // Z-ORDER layout (Morton curve): rewrite lineitem clustered on
      // the bit-interleave of (l_orderkey, l_partkey), then answer a
      // TWO-dimensional range query off the rewritten files. Row groups
      // cover small rectangles of the key space, so stock parquet
      // min/max statistics prune on EITHER column — LayoutSpec measures
      // the off-axis predicate reading ~15% of rows where a linear sort
      // reads 100%. The oracle checks content equality against the
      // original table (a layout rewrite must never change the rows).
      val li = t(s, d, "lineitem")
        .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")
      val path = s"target/graft-zorder-${graft.ops.Tables.sfTag(d)}"
      graft.ops.Layout.zorderWrite(li, "l_orderkey", "l_partkey", path)
      Tables.parquet(s, path)
        .where(col("l_partkey") >= 100 && col("l_partkey") < 180 &&
          col("l_orderkey") >= 2000 && col("l_orderkey") < 9000)
        .orderBy("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")
    }),

    "q208_zorder3_scan" -> ((s, d) => {
      // THREE-column Morton layout: the same rewrite clustered on
      // (l_orderkey, l_partkey, l_suppkey) answers a range on the THIRD
      // dimension — a 2-column z-order cannot prune this at all
      val li = t(s, d, "lineitem")
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
      val path = s"target/graft-zorder3-${graft.ops.Tables.sfTag(d)}"
      graft.ops.Layout.zorderWriteN(li,
        Seq("l_orderkey", "l_partkey", "l_suppkey"), path)
      Tables.parquet(s, path)
        .where(col("l_suppkey") >= 20 && col("l_suppkey") < 40 &&
          col("l_orderkey") >= 2000 && col("l_orderkey") < 9000)
        .orderBy("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
    }),

    "q209_hilbert_scan" -> ((s, d) => {
      // Hilbert-curve layout: q201's rewrite with the locality-optimal
      // key (consecutive keys are always grid neighbors — no Morton
      // teleports), same stock-parquet pruning machinery
      val li = t(s, d, "lineitem")
        .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")
      val path = s"target/graft-hilbert-${graft.ops.Tables.sfTag(d)}"
      graft.ops.Layout.hilbertWrite(li, "l_orderkey", "l_partkey", path)
      Tables.parquet(s, path)
        .where(col("l_partkey") >= 100 && col("l_partkey") < 180 &&
          col("l_orderkey") >= 2000 && col("l_orderkey") < 9000)
        .orderBy("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")
    }),

    "q210_pagerank_coorder" -> ((s, d) => {
      // integer fixed-point PageRank over the co-order part graph (the
      // co-click graph shape): micro-unit ranks, bit-reproducible in any
      // engine — float PageRank could never hash-match an oracle
      val edges = graft.ext.Graph.coOccurrenceEdges(
        t(s, d, "lineitem"), "l_orderkey", "l_partkey")
      graft.ext.Graph.pageRankInt(edges, iters = 5)
        .select(col("id").as("part"), col("rank_fp"))
        .orderBy("part")
    }),

    "q219_pagerank_weighted" -> ((s, d) => {
      // q210 with co-occurrence COUNTS as edge weights: a pair sharing
      // 40 baskets pulls harder than one sharing 1 — same integer
      // determinism, (r·w) div Σw per round
      val edges = graft.ext.Graph.coOccurrenceEdgesWeighted(
        t(s, d, "lineitem"), "l_orderkey", "l_partkey")
      graft.ext.Graph.pageRankIntWeighted(edges, iters = 5)
        .select(col("id").as("part"), col("rank_fp"))
        .orderBy("part")
    }),

    "q214_triangle_counts" -> ((s, d) => {
      // degree-ordered triangle counting over the HIGH-QUANTITY
      // co-purchase graph (the co-order graph's baskets are dense; the
      // quantity filter is the analyst's graph, quadratically thinner):
      // orientation bounds every out-neighborhood at O(sqrt(m)), so the
      // wedge join is O(m^1.5) — hub-safe where naive wedge counting
      // explodes on the densest basket cliques
      val edges = graft.ext.Graph.coOccurrenceEdges(
        t(s, d, "lineitem").where(col("l_quantity") >= 40),
        "l_orderkey", "l_partkey")
      graft.ext.Graph.triangleCounts(edges)
        .select(col("id").as("part"), col("n_triangles"))
        .orderBy("part")
    }),

    "q215_seed_distances" -> ((s, d) => {
      // multi-source BFS from "trusted" seed parts over the q214 graph —
      // the crawl-curation quality-propagation shape (hops from seed
      // domains as a retention signal); frontier-sized rounds, exact
      // integer distances
      val edges = graft.ext.Graph.coOccurrenceEdges(
        t(s, d, "lineitem").where(col("l_quantity") >= 40),
        "l_orderkey", "l_partkey")
      val seeds = t(s, d, "part")
        .where(pmod(col("p_partkey"), lit(100)) === 0)
        .select(col("p_partkey").as("id"))
      graft.ext.Graph.seedDistances(edges, seeds, maxHops = 3)
        .select(col("id").as("part"), col("dist"))
        .orderBy("part")
    }),

    "q216_kcore_peel" -> ((s, d) => {
      // rounds-bounded k-core peeling on the full co-order graph: the
      // dense-core miner; k = 90 cascades (2000 → 527 nodes at sf0.01)
      // so the peel actually peels
      val edges = graft.ext.Graph.coOccurrenceEdges(
        t(s, d, "lineitem"), "l_orderkey", "l_partkey")
      graft.ext.Graph.kCorePeel(edges, k = 90, rounds = 4)
        .select(col("id").as("part"), col("deg"))
        .orderBy("part")
    }),

    "q222_jdbc_sink_roundtrip" -> ((s, d) => {
      // K1 (the reference's one real sink) under the driver oracle: the
      // per-nation customer rollup is appended into a Derby report table
      // through Sinks.jdbcAppend, then read back through the partitioned
      // JDBC scan (S1) — so the sink→scan round trip itself is inside
      // the hash compare; any value/type mangling (decimal precision,
      // null handling, connection-level truncation) would mismatch the
      // oracle's direct rollup
      val url =
        s"jdbc:derby:target/graft-q222-${graft.ops.Tables.sfTag(d)};create=true"
      val result = t(s, d, "customer")
        .groupBy(col("c_nationkey").cast("int").as("nationkey"))
        .agg(count(lit(1)).as("n_cust"),
          Num.moneySum(col("c_acctbal")).as("total_bal"))
      // fresh target per run — the sink is append-only by contract, so a
      // rerun must not double the report rows
      val conn = java.sql.DriverManager.getConnection(url)
      try {
        val st = conn.createStatement()
        try st.executeUpdate("DROP TABLE q222_report")
        catch { case _: java.sql.SQLException => () }
        finally st.close()
      } finally conn.close()
      graft.ops.Sinks.jdbcAppend(result, url, "q222_report")
      // the partition column must be ANSI-quoted: Spark's JDBC writer
      // creates quoted (case-sensitive lowercase) identifiers in Derby,
      // so an unquoted name in the MIN/MAX probe would fold to uppercase
      // and not resolve
      graft.ops.Tables.jdbcPartitioned(s, url,
        "SELECT * FROM q222_report", "\"nationkey\"", numPartitions = 4)
        .orderBy("nationkey")
    }),

    "q18_rollup" -> ((s, d) => {
      // grouping-sets family (absent from the reference, SURVEY §2.6):
      // region/nation subtotal hierarchy in one pass over the joined dims
      val c = t(s, d, "customer")
      val r = t(s, d, "region").select(col("r_regionkey"), col("r_name"))
      c.join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_cust"), Num.moneySum(col("c_acctbal")).as("total_bal"))
        .orderBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)
    }),

    "q19_median_exact" -> ((s, d) => {
      // exact median per customer WITHOUT percentile_cont: row_number picks
      // the middle one/two orders, their decimal sum is divided by 1 or 2 —
      // a power of two, so even the double division is bit-exact and
      // engine-independent (interpolating percentiles are not)
      val byPrice = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      val cnt = Window.partitionBy(col("o_custkey"))
      t(s, d, "orders")
        .withColumn("rn", row_number().over(byPrice))
        .withColumn("cnt", count(lit(1)).over(cnt))
        .where(col("rn") === expr("(cnt + 1) div 2") ||
          col("rn") === expr("(cnt + 2) div 2"))
        .groupBy(col("o_custkey"))
        .agg((sum(Num.dec2(col("o_totalprice"))).cast(DoubleType) /
          count(lit(1))).as("median_price"))
        .orderBy("o_custkey")
    }),

    "q14_output_contract_mismatch" -> ((s, d) => {
      // §1.3/P5: the skip-rename-on-type-mismatch contract rule — n_name is
      // declared IntegerType (wrong) so it keeps its original name, while
      // n_nationkey matches and is renamed
      val contract = Seq(
        "n_nationkey" -> graft.spec.OutputColumn("IntegerType", "nation_key"),
        "n_name" -> graft.spec.OutputColumn("IntegerType", "renamed_wrong"))
      SpecCompiler.applyOutputContract(t(s, d, "nation"), contract)
        .orderBy("nation_key")
    })
  )

  val oracles: Map[String, String] = Map(
    "q01_scan_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
         FROM lineitem
         WHERE l_shipdate < TIMESTAMP '1997-01-01' AND l_quantity > 45
         ORDER BY l_orderkey, l_linenumber""",

    "q02_join_config_type" ->
      """SELECT c_nationkey AS nationkey, c_custkey, c_name, c_acctbal, n_name
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         ORDER BY c_custkey""",

    "q03_join_fold_agg" ->
      """SELECT r_name, count(*) AS n_orders,
                CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue
         FROM orders
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name ORDER BY r_name""",

    "q04_decorrelated_zero_fill" ->
      """SELECT c_custkey, COALESCE(n, 0) AS n_orders, COALESCE(total, 0) AS total_spent
         FROM customer LEFT JOIN (
           SELECT o_custkey, count(*) AS n,
                  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           FROM orders GROUP BY o_custkey) agg ON c_custkey = o_custkey
         ORDER BY c_custkey""",

    "q05_two_level_agg" ->
      """SELECT c_custkey, COALESCE(total_qty, 0) AS total_qty, COALESCE(n_items, 0) AS n_items
         FROM customer LEFT JOIN (
           SELECT o_custkey,
                  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty,
                  count(*) AS n_items
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           GROUP BY o_custkey) agg ON c_custkey = o_custkey
         ORDER BY c_custkey""",

    "q06_flagship_pipeline" ->
      """WITH t2 AS (
           SELECT o_custkey AS mentor_id,
                  sum(CAST(o_totalprice AS DECIMAL(18,2))) AS total_value,
                  count(*) AS n_sessions
           FROM orders GROUP BY o_custkey)
         SELECT o.o_custkey AS mentor, o.o_orderkey AS orderkey,
                CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS order_value,
                CAST(t2.total_value AS DOUBLE) AS total_value,
                t2.n_sessions AS n_sessions,
                CAST(round((CAST(o.o_totalprice AS DECIMAL(18,2)) + CAST(t2.total_value AS DECIMAL(18,2)))
                     * CAST(0.5 AS DECIMAL(2,1)), 2) AS DOUBLE) AS avg_value
         FROM orders o JOIN t2 ON o.o_custkey = t2.mentor_id
         ORDER BY mentor, orderkey""",

    "q07_spec_multiprocess" ->
      """SELECT c_custkey AS custkey, c_name AS name,
                COALESCE(CAST(lq.total_qty AS DOUBLE), 0) AS total_qty
         FROM customer
         LEFT JOIN (
           SELECT o_custkey, sum(qty) AS total_qty
           FROM orders JOIN (
             SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty
             FROM lineitem GROUP BY l_orderkey) liagg
           ON o_orderkey = l_orderkey
           GROUP BY o_custkey) lq ON c_custkey = lq.o_custkey
         ORDER BY custkey""",

    "q08_union_positional" ->
      """SELECT 'order' AS src, o_orderkey AS key, o_totalprice AS amount FROM orders
         UNION ALL
         SELECT 'line' AS src, l_orderkey AS key, l_extendedprice AS amount FROM lineitem
         ORDER BY src, key, amount""",

    "q09_agg_expr_string" ->
      """SELECT l_returnflag, l_linestatus, count(l_orderkey) AS n_rows,
                min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
                count(DISTINCT l_suppkey) AS n_supp
         FROM lineitem GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",

    "q10_derived_average" ->
      """SELECT l_orderkey, l_linenumber,
                CAST(round((CAST(l_extendedprice AS DECIMAL(18,2)) + CAST(l_quantity AS DECIMAL(18,2)))
                     * CAST(0.5 AS DECIMAL(2,1)), 2) AS DOUBLE) AS avg_val
         FROM lineitem ORDER BY l_orderkey, l_linenumber""",

    "q11_array_flatten" ->
      """SELECT doc_id,
                array_to_string(list_sort(list_distinct(string_split(text, ' ')))[1:5], ', ') AS first_tokens
         FROM documents ORDER BY doc_id""",

    "q12_na_fill_cast" ->
      """SELECT event_id,
                COALESCE(CASE WHEN value >= 1 THEN value END, 0) AS v_filled,
                CAST(floor(COALESCE(CASE WHEN value >= 1 THEN value END, 0)) AS BIGINT) AS v_int
         FROM events ORDER BY event_id""",

    "q13_constant_rename" ->
      """SELECT n_nationkey, n_name AS nation_name, n_regionkey,
                'mentor_report' AS report_type
         FROM nation ORDER BY n_nationkey""",

    "q14_output_contract_mismatch" ->
      """SELECT n_nationkey AS nation_key, n_name FROM nation ORDER BY nation_key""",

    "q15_join_semi_anti" ->
      """SELECT c_custkey, c_name, 1 AS has_orders FROM customer
         WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         UNION ALL
         SELECT c_custkey, c_name, 0 AS has_orders FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         ORDER BY c_custkey""",

    "q16_join_full_outer" ->
      """SELECT COALESCE(cn.nk, sn.nk) AS nk,
                COALESCE(n_cust, 0) AS n_cust, COALESCE(n_supp, 0) AS n_supp
         FROM (SELECT c_nationkey AS nk, count(*) AS n_cust
               FROM customer GROUP BY 1) cn
         FULL JOIN (SELECT s_nationkey AS nk, count(*) AS n_supp
                    FROM supplier GROUP BY 1) sn ON cn.nk = sn.nk
         ORDER BY nk""",

    "q17_topk_limit" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""",

    // q201: a layout rewrite must never change the rows — the range
    // query answers identically off the original table
    "q201_zorder_scan" ->
      """SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice
         FROM lineitem
         WHERE l_partkey >= 100 AND l_partkey < 180
           AND l_orderkey >= 2000 AND l_orderkey < 9000
         ORDER BY l_orderkey, l_partkey, l_quantity, l_extendedprice""",

    // q210: the oracle replays the INTEGER fixed-point update exactly —
    // r' = 150000 + (850·Σ(r div outdeg)) // 1000, all BIGINT, so the
    // value is engine-independent (a float PageRank would hash-differ
    // on summation order alone)
    // MATERIALIZED throughout (the q216 lesson, relearned at sf1): an
    // unhinted `edges` is re-inlined into every round's join — ~12
    // re-evaluations of the basket self-join, which spilled >80 GB of
    // DuckDB temp at sf1 before failing. Materialized, the replay is
    // one edge build + 5 linear rounds.
    "q210_pagerank_coorder" -> {
      val iterBlocks = (1 to 5).map { i =>
        s"""c$i AS MATERIALIZED (SELECT e.dst AS id,
                           CAST(sum(r.r // o.od) AS BIGINT) AS s
                    FROM edges e JOIN r${i - 1} r ON r.id = e.src
                    JOIN outdeg o ON o.src = e.src GROUP BY e.dst),
            r$i AS MATERIALIZED (SELECT n.id,
                           CAST(150000 + (850 * coalesce(c.s, 0)) // 1000
                                AS BIGINT) AS r
                    FROM nodes n LEFT JOIN c$i c USING (id))"""
      }.mkString(",\n")
      s"""WITH li AS MATERIALIZED (
                      SELECT DISTINCT l_orderkey AS grp, l_partkey AS item
                      FROM lineitem),
          edges AS MATERIALIZED (
                    SELECT DISTINCT a.item AS src, b.item AS dst
                    FROM li a JOIN li b
                    ON a.grp = b.grp AND a.item <> b.item),
          nodes AS MATERIALIZED (SELECT src AS id FROM edges
                    UNION SELECT dst FROM edges),
          outdeg AS MATERIALIZED (
                    SELECT src, count(*) AS od FROM edges GROUP BY src),
          r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS r FROM nodes),
          $iterBlocks
          SELECT id AS part, r AS rank_fp FROM r5 ORDER BY part"""
    },

    // q219: the weighted update replayed exactly — (r·w) // Σw, BIGINT;
    // MATERIALIZED for the same reason as q210
    "q219_pagerank_weighted" -> {
      val iterBlocks = (1 to 5).map { i =>
        s"""c$i AS MATERIALIZED (SELECT e.dst AS id,
                           CAST(sum((r.r * e.w) // o.ow) AS BIGINT) AS s
                    FROM edges e JOIN r${i - 1} r ON r.id = e.src
                    JOIN outw o ON o.src = e.src GROUP BY e.dst),
            r$i AS MATERIALIZED (SELECT n.id,
                           CAST(150000 + (850 * coalesce(c.s, 0)) // 1000
                                AS BIGINT) AS r
                    FROM nodes n LEFT JOIN c$i c USING (id))"""
      }.mkString(",\n")
      s"""WITH li AS MATERIALIZED (
                      SELECT DISTINCT l_orderkey AS grp, l_partkey AS item
                      FROM lineitem),
          edges AS MATERIALIZED (
                    SELECT a.item AS src, b.item AS dst,
                           CAST(count(*) AS BIGINT) AS w
                    FROM li a JOIN li b
                    ON a.grp = b.grp AND a.item <> b.item
                    GROUP BY 1, 2),
          nodes AS MATERIALIZED (SELECT src AS id FROM edges
                    UNION SELECT dst FROM edges),
          outw AS MATERIALIZED (
                   SELECT src, CAST(sum(w) AS BIGINT) AS ow
                   FROM edges GROUP BY src),
          r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS r FROM nodes),
          $iterBlocks
          SELECT id AS part, r AS rank_fp FROM r5 ORDER BY part"""
    },

    // q214: the oracle enumerates each triangle once in the canonical
    // a<b<c representation and rolls per-node counts up with zero-fill —
    // orientation is an engine-side WORK optimization, invisible in the
    // result
    "q214_triangle_counts" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS grp, l_partkey AS item
                     FROM lineitem WHERE l_quantity >= 40),
         e0 AS (SELECT DISTINCT a.item AS u, b.item AS v
                FROM li a JOIN li b ON a.grp = b.grp AND a.item < b.item),
         tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
                 FROM e0 e1 JOIN e0 e2 ON e1.u = e2.u AND e1.v < e2.v
                 JOIN e0 e3 ON e3.u = e1.v AND e3.v = e2.v),
         pern AS (SELECT id, count(*) AS n FROM (
                    SELECT a AS id FROM tri
                    UNION ALL SELECT b FROM tri
                    UNION ALL SELECT c FROM tri) GROUP BY id),
         nodes AS (SELECT u AS id FROM e0 UNION SELECT v FROM e0)
         SELECT nodes.id AS part,
                CAST(coalesce(pern.n, 0) AS BIGINT) AS n_triangles
         FROM nodes LEFT JOIN pern USING (id)
         ORDER BY part""",

    // q216: the same fixed recurrence, generated per round (MATERIALIZED
    // — an unhinted chain re-evaluates each e_r exponentially in DuckDB)
    "q216_kcore_peel" -> {
      val roundBlocks = (1 to 4).map { r =>
        s"""d$r AS MATERIALIZED (SELECT id, count(*) AS deg FROM (
              SELECT u AS id FROM e${r - 1}
              UNION ALL SELECT v FROM e${r - 1}) GROUP BY id),
            k$r AS MATERIALIZED (SELECT id FROM d$r WHERE deg >= 90),
            e$r AS MATERIALIZED (
              SELECT e.u, e.v FROM e${r - 1} e
              JOIN k$r a ON e.u = a.id JOIN k$r b ON e.v = b.id)"""
      }.mkString(",\n")
      s"""WITH li AS MATERIALIZED (
            SELECT DISTINCT l_orderkey AS grp, l_partkey AS item
            FROM lineitem),
          e0 AS MATERIALIZED (
            SELECT DISTINCT a.item AS u, b.item AS v
            FROM li a JOIN li b ON a.grp = b.grp AND a.item < b.item),
          $roundBlocks
          SELECT id AS part, CAST(count(*) AS BIGINT) AS deg FROM (
            SELECT u AS id FROM e4 UNION ALL SELECT v FROM e4)
          GROUP BY id ORDER BY part"""
    },

    // q215: reachability with hop counts as a bounded recursive CTE
    // (UNION dedups (id, dist) states per level, so enumeration is
    // node×hops, never path-combinatorial); min(dist) = BFS level
    "q215_seed_distances" ->
      """WITH RECURSIVE li AS (
           SELECT DISTINCT l_orderkey AS grp, l_partkey AS item
           FROM lineitem WHERE l_quantity >= 40),
         e0 AS (SELECT DISTINCT a.item AS src, b.item AS dst
                FROM li a JOIN li b
                ON a.grp = b.grp AND a.item <> b.item),
         seeds AS (SELECT p_partkey AS id FROM part
                   WHERE p_partkey % 100 = 0),
         reach(id, dist) AS (
           SELECT id, 0 FROM seeds
           UNION
           SELECT e0.dst, r.dist + 1
           FROM reach r JOIN e0 ON e0.src = r.id WHERE r.dist < 3)
         SELECT id AS part, CAST(min(dist) AS INTEGER) AS dist
         FROM reach GROUP BY id ORDER BY part""",

    // q208/q209: same contract as q201 — a layout rewrite must never
    // change the rows
    "q208_zorder3_scan" ->
      """SELECT l_orderkey, l_partkey, l_suppkey, l_quantity
         FROM lineitem
         WHERE l_suppkey >= 20 AND l_suppkey < 40
           AND l_orderkey >= 2000 AND l_orderkey < 9000
         ORDER BY l_orderkey, l_partkey, l_suppkey, l_quantity""",

    "q209_hilbert_scan" ->
      """SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice
         FROM lineitem
         WHERE l_partkey >= 100 AND l_partkey < 180
           AND l_orderkey >= 2000 AND l_orderkey < 9000
         ORDER BY l_orderkey, l_partkey, l_quantity, l_extendedprice""",

    // q222: the oracle computes the rollup DIRECTLY — the engine's route
    // through the Derby sink and back must be value-preserving, so any
    // sink-side mangling hash-mismatches here
    "q222_jdbc_sink_roundtrip" ->
      """SELECT CAST(c_nationkey AS INTEGER) AS nationkey,
                count(*) AS n_cust,
                CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                  AS total_bal
         FROM customer
         GROUP BY c_nationkey
         ORDER BY nationkey""",

    "q18_rollup" ->
      """SELECT r_name, n_name, count(*) AS n_cust,
                CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY ROLLUP(r_name, n_name)
         ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""",

    "q19_median_exact" ->
      """WITH ranked AS (
           SELECT o_custkey, o_totalprice,
                  row_number() OVER (PARTITION BY o_custkey
                                     ORDER BY o_totalprice, o_orderkey) AS rn,
                  count(*) OVER (PARTITION BY o_custkey) AS cnt
           FROM orders)
         SELECT o_custkey,
                CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*)
                  AS median_price
         FROM ranked
         WHERE rn = (cnt + 1) // 2 OR rn = (cnt + 2) // 2
         GROUP BY o_custkey ORDER BY o_custkey"""
  )
}
