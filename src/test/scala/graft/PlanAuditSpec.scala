package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audits: the properties that decide 100 TB behavior are
  * asserted here so a refactor can't silently regress them —
  * filter/projection pushdown to the parquet scan, broadcast of dimension
  * legs, top-k as TakeOrderedAndProject (never a global sort), and
  * whole-stage codegen over the expression-only text operators.
  */
class PlanAuditSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def planOf(q: String): String = {
    val df = SparkEntry.queries(q)(spark, sf)
    df.queryExecution.executedPlan.toString
  }

  test("etl_reports queries build their DataFrames without a Spark job") {
    // every schema is read on the driver (graft.ops.Tables.parquet), so
    // building a report starts no job; only its sink may run any
    val names = ((1 to 13) ++ (15 to 19)).map(i => f"q$i%02d_").map(p =>
      SparkEntry.queries.keys.find(_.startsWith(p)).getOrElse(fail(s"no query $p")))
    assert(names.size == 18)
    names.foreach { q =>
      val (_, jobs) = JobCount(spark)(SparkEntry.queries(q)(spark, sf))
      assert(jobs == 0, s"$q started $jobs Spark job(s) while building its DataFrame")
    }
  }

  test("q01: filter and projection are pushed into the parquet scan") {
    val plan = planOf("q01_scan_filter_project")
    assert(plan.contains("PushedFilters: ["), plan.take(2000))
    // at least one real predicate reached the scan (not an empty list)
    assert("PushedFilters: \\[[^\\]]".r.findFirstIn(plan).isDefined, plan.take(2000))
    // column pruning: the wide lineitem scan reads only the 5 used columns
    val readSchema = "ReadSchema: [^\n]*".r.findFirstIn(plan).getOrElse("")
    assert(Seq("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
      "l_shipdate").forall(readSchema.contains), readSchema)
    assert(!readSchema.contains("l_comment"), readSchema)
  }

  test("flagship pipeline broadcasts its dimension legs") {
    val plan = planOf("q06_flagship_pipeline")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      plan.take(3000))
  }

  test("q17 top-k plans as TakeOrderedAndProject, not a global sort+limit") {
    val plan = planOf("q17_topk_limit")
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
  }

  test("q64 vocab top-k: partial-agged groupBy feeding TakeOrderedAndProject") {
    val plan = planOf("q64_vocab_top_ngrams")
    // never a global sort of the gram table...
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
    // ...and the count partial-aggregates map-side before the exchange
    assert(plan.contains("partial_count"), plan.take(2000))
  }

  test("q63 bloom incremental: sketch probe prefilters the anti-join") {
    val plan = planOf("q63_dedup_bloom_incremental")
    // the membership probe is in the plan as a filter predicate, and the
    // confirm join is an anti-join (only over the sketch-positive branch)
    assert(plan.contains("might_contain"), plan.take(3000))
    assert(plan.contains("LeftAnti"), plan.take(3000))
  }

  test("q66 chunk dedup: ownership via groupBy+join, never a window") {
    // a window over partitionBy(chunk hash) would funnel a mega-duplicated
    // chunk into one task; the skew-safe form is groupBy-min + join-back
    val plan = planOf("q66_dedup_chunk")
    assert(!plan.contains("Window"), plan.take(3000))
    assert(plan.contains("HashAggregate"), plan.take(3000))
  }

  test("q110 boilerplate strip: frequency pass and anti-join never shuffle text") {
    val plan = planOf("q110_boilerplate_strip")
    // chunk hashing happens INSIDE the pre-explode transform: every
    // Generate emits (idx, 8-byte hash) slots, never a chunk string, so
    // the countDistinct exchange and the anti-join shuffle ~20-byte rows
    // and clean text is re-derived per row after the single by-id join
    val gens = plan.linesIterator.filter(_.contains("Generate")).toSeq
    assert(gens.nonEmpty, plan.take(4000))
    assert(gens.forall(l => !l.contains("chunk")), gens.mkString("\n"))
    assert(plan.contains("LeftAnti"), plan.take(4000))
    // frequency is a skew-safe two-phase distinct count, not a window
    assert(!plan.contains("Window"), plan.take(4000))
  }

  test("q80 substring dedup: hashes in the scan stage, ownership via groupBy+join") {
    val plan = planOf("q80_dedup_substring")
    // the rolling-hash expression runs pre-explode — window STRINGS never
    // exist in the plan, the explode emits (pos, long) only
    assert(plan.contains("graft_token_window_hash"), plan.take(3000))
    // ownership must be the skew-safe groupBy-min + join-back, not a window
    // over partitionBy(hash) (a mega-duplicated window = one task)
    assert(!plan.contains("Window"), plan.take(3000))
    assert(plan.contains("partial_min"), plan.take(3000)) // map-side combine
  }

  test("q82 indexed ANN: probe list dynamically prunes the index partitions") {
    // the inverted lists are partitioned by centroid; the query batch's
    // probe set must reach the scan as a dynamic partition filter, so a
    // batch probing p of k centroids reads p/k of the index bytes
    val plan = planOf("q82_ann_indexed")
    assert(plan.contains("dynamicpruningexpression"), plan.take(4000))
    assert(!plan.contains("SortMergeJoin"), plan.take(4000)) // probes broadcast
  }

  test("q67 range join: bucketed equi-join, never a nested-loop product") {
    val plan = planOf("q67_range_join")
    assert(plan.contains("_bucket"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("decorrelated agg task scans are runtime-pruned by the ID relation") {
    // the reference's loop pushed `col = ${id}` into the source per query
    // (generic_script.scala:275); the decorrelated plan must recover that
    // pruning with a semi-join BELOW the aggregation, so a selective ID
    // fetch filters the fact scan before the agg exchange, not after it
    import spark.implicits._
    (1 to 2).toDF("id").createOrReplaceTempView("pa_ids")
    (1 to 1000).map(i => (i, i.toDouble)).toDF("driver_id", "amount")
      .createOrReplaceTempView("pa_facts")
    val spec = graft.spec.PipelineSpec.fromJson("""
      {"input_data_schema": [
         {"fetchId": {"query": "SELECT id FROM pa_ids",
                      "database_name": "db", "id": "id"},
          "tasks": [
            {"single_process": {"input": "driver_id",
               "query": "SELECT driver_id, amount FROM pa_facts WHERE driver_id = ${id}",
               "database_name": "db", "agg": "sum", "agg_on": "amount",
               "groupby": "none", "rename": "total",
               "join_on": "driver_id", "join_type": "none"}}]}],
       "data_mapping": {},
       "output_data_schema": {}}""")
    val df = graft.compile.SpecCompiler.compile(spark, spec)
    val plan = df.queryExecution.executedPlan.toString
    val partial = plan.indexOf("partial_sum")
    val semi = plan.indexOf("LeftSemi")
    assert(partial >= 0 && semi >= 0 && partial < semi,
      s"semi-join must sit under the partial aggregate\n${plan.take(4000)}")
    // and the result still zero-fills from the selective ID set only
    assert(df.select("driver_id", "total").as[(Int, Double)].collect().toSet ==
      Set((1, 1.0), (2, 2.0)))
  }

  test("text operators stay inside whole-stage codegen") {
    // AQE finalizes stages lazily — run the query, then audit the final
    // adaptive plan for codegen'd stages
    for (q <- Seq("q20_text_tokens", "q21_text_quality", "q22_text_langid",
                  "q83_gopher_rules")) {
      val df = SparkEntry.queries(q)(spark, sf)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      // codegen'd stages render as a `*(n)` operator prefix
      assert("\\*\\(\\d+\\) Project".r.findFirstIn(plan).isDefined,
        s"$q: ${plan.take(2000)}")
    }
  }

  test("q62 stratified sample gets a map-side WindowGroupLimit before the exchange") {
    // the rank <= k filter must be pushed into a partial group-limit so the
    // shuffle carries O(k · strata) rows per input partition, not the corpus
    val plan = planOf("q62_stratified_sample")
    assert(plan.contains("WindowGroupLimit"), plan.take(3000))
  }

  test("q203 binary-quant Hamming pool gets a map-side WindowGroupLimit") {
    // the h_rank <= overfetch*k candidate filter must plan as a partial
    // group-limit so each partition forwards at most the pool per query
    // into the exchange — the property that keeps the candidate stage's
    // shuffle query-pool-sized, never corpus-sized
    val plan = planOf("q203_ann_binary_quant")
    assert(plan.contains("WindowGroupLimit"), plan.take(3000))
  }

  test("q31 banded self-join spreads candidates across the shuffle width") {
    // the explicit repartition on (band, band_key) must survive planning —
    // without it every bucket's quadratic collision work lands in the
    // scan's task count
    val plan = planOf("q31_dedup_minhash_lsh")
    assert(plan.contains("hashpartitioning(band"), plan.take(3000))
  }

  // the executed-plan string appends the pre-AQE "Initial Plan" section;
  // final-plan assertions must read only the first section
  private def finalPlanOf(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    val full = df.queryExecution.executedPlan.toString
    assert(full.contains("isFinalPlan=true"), full.take(500))
    full.split("== Initial Plan ==")(0)
  }

  test("q74 corpus stats: window sorts the HISTOGRAM, never the corpus") {
    // the cumulative window must consume the aggregated (group, n_toks)
    // histogram: a Window directly over the scan would funnel each giant
    // group into one sort task at 100 TB
    val plan = planOf("q74_corpus_stats")
    assert(plan.contains("partial_count"), plan.take(3000)) // map-side combine
    // plans print top-down (deeper = later): the histogram aggregate must
    // sit BETWEEN the deepest Window and the scan — i.e. the windows
    // consume aggregated rows, and nothing windows the raw corpus
    val deepestWindow = plan.lastIndexOf("Window")
    val histAgg = plan.lastIndexOf("HashAggregate")
    val scan = plan.indexOf("FileScan")
    assert(deepestWindow >= 0 && deepestWindow < histAgg && histAgg < scan,
      plan.take(4000))
  }

  test("q84 manifest probe computes signatures for the BATCH only") {
    // the whole point of the persisted manifest: the corpus side's
    // signatures/bands load from parquet, so the minhash expression may
    // appear in the probe plan exactly once — on the batch side. A second
    // occurrence means the manifest is being recomputed per ingest.
    import spark.implicits._
    val path = "target/graft-audit-manifest"
    graft.ext.Dedup.saveMinhashManifest(
      Seq((1L, "a b c d e f g h")).toDF("doc_id", "text"),
      "text", "doc_id", path, k = 32, bands = 16)
    val probe = graft.ext.Dedup.incrementalNearDups(
      Seq((2L, "a b c d e f g h"), (3L, "p q r s t u v w"))
        .toDF("doc_id", "text"), path, "text", "doc_id", 0.9)
    probe.collect()
    // AQE's toString appends the pre-adaptive "Initial Plan" — audit only
    // the final executed plan or every expression double-counts
    val full = probe.queryExecution.executedPlan.toString
    val plan = full.split("== Initial Plan ==").head
    val hits = "graft_minhash_signature".r.findAllMatchIn(plan).size
    assert(hits == 1, s"minhash computed $hits times\n${plan.take(3000)}")
    // and the manifest bands really are consumed from their parquet files
    assert(plan.contains("graft-audit-manifest/bands"), plan.take(3000))
  }

  /** Executed-plan occurrences of the MinHash signature expression in the
    * final adaptive plan (AQE's toString appends the pre-adaptive "Initial
    * Plan" — counting that too would double every expression). */
  private def signatureCount(df: org.apache.spark.sql.DataFrame): (Int, String) = {
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    ("graft_minhash_signature".r.findAllMatchIn(plan).size, plan)
  }

  /** A manifest (a build plus one append) over half the parquet
    * `documents` table and a ONE-FILE parquet probe of the other half — a
    * served probe's shape. A `Seq.toDF` probe is a LocalRelation already,
    * which ConvertToLocalRelation folds on the driver, so it cannot show
    * what a scanned probe recomputes. The halves share planted
    * duplicates. */
  private def parquetProbe(name: String): (String, () => org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.functions._
    val docs = graft.ops.Tables.t(spark, sf, "documents")
    val mani = s"target/graft-audit-$name-manifest"
    val file = s"target/graft-audit-$name-probe"
    graft.ext.Dedup.saveMinhashManifest(docs.where(pmod(col("doc_id"), lit(10)) < 4),
      "text", "doc_id", mani, k = 32, bands = 16)
    graft.ext.Dedup.appendToMinhashManifest(docs.where(pmod(col("doc_id"), lit(10)) === 4),
      "text", "doc_id", mani)
    docs.where(pmod(col("doc_id"), lit(10)) >= 5).coalesce(1)
      .write.mode("overwrite").parquet(file)
    (file, () => graft.ext.Dedup.incrementalNearDups(
      graft.ops.Tables.parquet(spark, file), mani, "text", "doc_id", 0.9))
  }

  private def verdicts(df: org.apache.spark.sql.DataFrame): Map[Long, (Option[Double], Boolean)] =
    df.collect().map(r => r.getLong(0) ->
      ((if (r.isNullAt(1)) None else Some(r.getDouble(1)), r.getBoolean(2)))).toMap

  test("q31 minhashPairs computes the signature once per side of the banding self-join") {
    // an inner posexplode of the band keys infers a `size(keys) > 0`
    // filter, and pushdown inlines the tokenizer and the signature into
    // it once per band: the plan held the signature 17 times per side
    val (hits, plan) = signatureCount(SparkEntry.queries("q31_dedup_minhash_lsh")(spark, sf))
    assert(hits == 2, s"minhash computed $hits times\n${plan.take(4000)}")
    assert(plan.contains("documents.parquet"), plan.take(3000))
  }

  test("q84 parquet probe above the broadcast bound: unbound, signature once") {
    val (file, probe) = parquetProbe("unbound")
    val below = verdicts(probe())
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
    try {
      val (df, jobs) = JobCount(spark)(probe())
      assert(verdicts(df) == below)
      assert(below.values.exists(_._2), "the fixture plants no near-dup")
      val (hits, plan) = signatureCount(df)
      assert(hits == 1, s"minhash computed $hits times\n${plan.take(4000)}")
      assert(plan.contains(file), plan.take(3000))
      // building the probe starts only the manifest's stamp read: no
      // collect of the probe batch, which the bound probe adds
      val (_, boundJobs) = {
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        try JobCount(spark)(probe())
        finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
      }
      assert(boundJobs == jobs + 1, s"bound $boundJobs vs unbound $jobs jobs")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("q84 parquet probe within the bound: its file is scanned once and the candidate stage spreads") {
    val (file, probe) = parquetProbe("bound")
    val built = graft.tools.Probe.record(spark)(probe())
    val df = built.result
    // building it collects the tokenized batch once…
    assert(built.jobs.count(_.site.contains("localProbe")) == 1, built.jobs.mkString("\n"))
    val rec = graft.tools.Probe.record(spark)(df.collect())
    assert(rec.result.nonEmpty)
    // …and every consumer reads local relations, never the file again
    val (hits, plan) = signatureCount(df)
    assert(!plan.contains(file), plan.take(3000))
    assert(hits == 1, s"minhash computed $hits times\n${plan.take(4000)}")
    // the probe's rows spread over the default parallelism, where the
    // one-file scan was one task
    val locals = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collect(df.queryExecution.executedPlan) {
        case l: org.apache.spark.sql.execution.LocalTableScanExec => l }
    assert(locals.nonEmpty, plan.take(3000))
    assert(locals.forall(_.execute().getNumPartitions > 1), plan.take(3000))
    // the candidate join builds the (small) probe bands and streams the
    // manifest's bands: one stage, as wide as the manifest's files (a
    // build and an append here)
    val candidate = rec.jobs.flatMap(_.stages)
      .filter(st => st.scopes.contains("Scan parquet") && st.scopes.contains("Exchange"))
    assert(candidate.size == 1, rec.jobs.mkString("\n"))
    assert(candidate.head.tasks > 1, rec.jobs.mkString("\n"))
  }

  test("pending tombstones enter the probe as a broadcast anti-join") {
    // the tombstone contract: consulting pending deletes at probe time
    // must cost a BROADCAST of the (small) key set against the docs
    // relation — if the anti-join shuffled the manifest, every delete
    // would tax every later probe with an index-sized exchange
    import spark.implicits._
    val path = "target/graft-audit-tombstone"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    graft.ext.Dedup.saveMinhashManifest(
      Seq((1L, "a b c d e f g h"), (2L, "p q r s t u v w"))
        .toDF("doc_id", "text"),
      "text", "doc_id", path, k = 32, bands = 16)
    graft.ext.Dedup.tombstoneContentInMinhashManifest(
      Seq((1L, "a b c d e f g h")).toDF("doc_id", "text"), "text", path)
    // probe BOTH a tombstoned and a live match — an all-forgotten probe
    // would let AQE empty-relation propagation collapse the whole join
    // subtree out of the final plan, leaving nothing to audit
    val probe = graft.ext.Dedup.incrementalNearDups(
      Seq((10L, "a b c d e f g h"), (11L, "p q r s t u v w"))
        .toDF("doc_id", "text"),
      path, "text", "doc_id", 0.9)
    val got = probe.collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(got == Map(10L -> false, 11L -> true), got.toString)
    val plan = probe.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // the tombstone relation is consumed from its parquet files…
    assert(plan.contains("graft-audit-tombstone/tombstones"), plan.take(3000))
    // …through a broadcast LeftAnti, never a shuffled join
    val anti = plan.linesIterator.filter(_.contains("LeftAnti")).toList
    assert(anti.nonEmpty && anti.forall(_.contains("BroadcastHashJoin")),
      s"tombstone anti-join not broadcast:\n${anti.mkString("\n")}\n${plan.take(3000)}")
  }

  test("q91 indexed LM scoring loads counts; it never retrains") {
    import spark.implicits._
    val path = "target/graft-audit-lm"
    graft.ext.Corpus.saveLm(
      Seq((1L, "a b c a b")).toDF("doc_id", "text"), "text", "doc_id", path)
    val scored = graft.ext.Corpus.lmPerplexityIndexed(
      Seq((2L, "a b x")).toDF("doc_id", "text"), path, "text", "doc_id")
    scored.collect()
    val plan = scored.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // the model relations come from their parquet files (bigram deltas +
    // vocab deltas; prefixes/V fold from them at load)…
    assert(plan.contains("graft-audit-lm/bigrams") &&
      plan.contains("graft-audit-lm/vocab"), plan.take(3000))
    // …and the vocab-size training aggregate (countDistinct over the
    // train corpus's exploded tokens) is absent from serving
    assert(!plan.contains("distinct"), plan.take(3000))
  }

  test("q85 budget select: the single-partition window consumes the histogram") {
    // the running-total window over (score DESC) is the one unpartitioned
    // (single-task) operator in the plan — its input must be the per-score
    // aggregate, never the corpus; per-document resolution happens only in
    // the score-partitioned boundary window
    val plan = planOf("q85_budget_select")
    // every SinglePartition exchange must feed from below an aggregate
    // (the histogram or the 1-row budget), not straight from a corpus scan
    val singleParts = "SinglePartition".r.findAllMatchIn(plan).map(_.start).toList
    assert(singleParts.nonEmpty, plan.take(3000))
    for (sp <- singleParts) {
      val below = plan.substring(sp)
      val agg = below.indexOf("HashAggregate")
      val scan = below.indexOf("FileScan")
      assert(agg >= 0 && (scan < 0 || agg < scan),
        s"SinglePartition not fed by an aggregate\n${below.take(2000)}")
    }
  }

  test("q75 kNN vote: every join broadcasts; no shuffle of the corpus") {
    // the query side, the label relation and the true-label join are all
    // small relative to the corpus — none of them may force a corpus
    // exchange at this scale
    val df = SparkEntry.queries("q75_knn_classify")(spark, sf)
    val plan = finalPlanOf(df)
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"), plan.take(4000))
    assert(!plan.contains("SortMergeJoin"), plan.take(4000))
  }

  test("q54 decontaminate: empty stop-gram list is AQE-eliminated, recompute pruned") {
    // at harness scale no 5-gram exceeds maxDf, so the stop-gram list
    // materializes EMPTY and AQE's empty-relation propagation must erase
    // the anti-join from the final plan — the exclusion costs zero join
    // work exactly when there is nothing to exclude
    val df = SparkEntry.queries("q54_decontaminate")(spark, sf)
    val plan = finalPlanOf(df)
    assert(!plan.contains("LeftAnti"), plan.take(4000))
    assert(plan.linesIterator.count(_.contains("Generate explode")) == 2,
      plan.take(4000))
    // trainGrams is deliberately recomputed, never reused or persisted
    // (see Corpus.decontaminate doc) — the df-aggregate stage ran and was
    // dropped from the final tree, but its scan (visible in the initial
    // plan) must prune to the text column alone
    val initial = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(1)
    assert(initial.contains("ReadSchema: struct<text:string>"), initial.take(4000))
    assert(!initial.contains("InMemoryTableScan"), initial.take(4000))
  }

  test("decontaminate: non-empty stop-gram list anti-joins as a BROADCAST") {
    // when heavy grams DO exist, the exclusion list is tiny (bounded by
    // total_grams/maxDf) and carries no broadcast hint on purpose — AQE
    // must pick broadcast from the built side's actual runtime size; a
    // shuffle here would exchange the whole exploded gram stream
    import spark.implicits._
    // every train doc leads with the same heavy gram (df=40 > maxDf=10)
    // and tails with doc-unique tokens; doc 1's tail is shared with eval —
    // keptTrain stays non-empty so AQE cannot empty-propagate the join away
    val train = (1 to 40).map { i =>
      val tail = if (i == 1) "s1 s2 s3 s4 s5"
                 else s"u${i}a u${i}b u${i}c u${i}d u${i}e"
      (i.toLong, s"h1 h2 h3 h4 h5 $tail")
    }.toDF("doc_id", "text")
    val eval_ = Seq((100L, "s1 s2 s3 s4 s5"),
      (101L, "a rare unique eval sentence x")).toDF("doc_id", "text")
    val df = graft.ext.Corpus.decontaminate(train, eval_,
      "text", "doc_id", n = 5, minShared = 1, maxDf = 10L)
    val plan = finalPlanOf(df)
    val antiLines = plan.linesIterator.filter(_.contains("LeftAnti")).toList
    assert(antiLines.nonEmpty && antiLines.forall(_.contains("BroadcastHashJoin")),
      plan.take(4000))
    // the heavy gram was suppressed (docs 2..40 share it with nobody) and
    // the genuine leak survived: eval 100 ⇄ train 1 via the shared tail
    val got = df.select("eval_id", "train_id", "n_shared")
      .as[(Long, Long, Long)].collect().toList
    assert(got == List((100L, 1L, 1L)), got)
  }

  test("q92 BM25: top-k is TakeOrderedAndProject; df and stats broadcast") {
    val plan = planOf("q92_bm25_topk")
    assert(plan.contains("TakeOrderedAndProject"), plan.take(3000))
    // the ≤|terms|-row df relation and the 1-row stats relation broadcast;
    // nothing nested-loops except the deliberate 1-row stats cross join
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("q120 DSIR: the bucket model broadcasts; no corpus-sized sort-merge") {
    val plan = planOf("q120_dsir_select")
    // the weight table is `buckets` rows — it must enter the per-doc
    // scoring join as a broadcast, never shuffle the exploded gram stream
    // against it; the only corpus-sized exchange is the groupBy(doc)
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("q123 mixture: assignment is map work; totals window the counts") {
    val plan = planOf("q123_cluster_mixture")
    // argmax-dot assignment is an expression array against literal
    // centroids — NO join anywhere: cluster totals come from a window
    // over the k×|labels| counts relation, never a second corpus pass
    assert(!plan.contains("Join"), plan.take(3000))
    assert(plan.contains("Window"), plan.take(3000))
  }

  test("q122 novelty: grams hash pre-explode; df partial-aggs; no window") {
    val plan = planOf("q122_doc_novelty")
    // gram hashing happens INSIDE the pre-explode transform — Generate
    // emits 8-byte xxhash64 slots, never gram strings, so the df groupBy
    // and the join-back shuffle hashes only
    assert(plan.contains("xxhash64"), plan.take(3000))
    // df is a skew-safe two-phase aggregate, never a window; the gram
    // stream joins df by equi-key
    assert(!plan.contains("Window"), plan.take(3000))
    assert(plan.contains("partial_count"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("q93 APSS: equi-joins only — no cartesian pair generation") {
    val plan = planOf("q93_apss_cosine")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(4000))
  }

  test("q97 OOV rate: vocab top-k is TakeOrdered and joins back as a broadcast") {
    val plan = planOf("q97_oov_rate")
    assert(plan.contains("TakeOrderedAndProject"), plan.take(3000))
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
  }

  test("q99 salted join: the exchange partitions on (key, salt), not key alone") {
    // force the shuffle path so the salt actually widens the exchange key
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = SparkEntry.queries("q99_salted_join")(spark, sf)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("_g_salt"), plan.take(4000))
      assert("hashpartitioning\\(l_orderkey[^)]*_g_salt_p".r
        .findFirstIn(plan).isDefined, plan.take(4000))
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("q94 SemDeDup: the pair search is an equi-join on the cluster id") {
    val plan = planOf("q94_semdedup")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(4000))
  }

  test("q102 indexed BM25: the term filter reaches the postings scan") {
    val plan = planOf("q102_bm25_indexed")
    // the serving scan reads the query terms' posting lists, not the index
    assert("PushedFilters: \\[[^\\]]*In\\(token".r.findFirstIn(plan).isDefined ||
      plan.contains("PushedFilters: [IsNotNull(token), In(token"), plan.take(4000))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(3000))
  }

  test("q100 partitioned scan: the lang predicate prunes partitions, not rows") {
    val plan = planOf("q100_partitioned_scan")
    val pf = "PartitionFilters: [^\n]*".r.findFirstIn(plan).getOrElse("")
    assert(pf.contains("lang"), plan.take(3000))
    // the predicate must NOT survive as a post-scan row filter
    assert(!plan.contains("PushedFilters: [IsNotNull(lang"), plan.take(3000))
  }

  test("q98 length outliers: the group-stats leg broadcasts; the gate is map-side") {
    val plan = planOf("q98_length_outliers")
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
  }

  test("q95 bucketed join: neither fact side re-shuffles on the join key") {
    // force the SMJ path (at test SF the whole of orders would broadcast)
    // so the audit actually exercises bucket co-location
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = SparkEntry.queries("q95_bucketed_join")(spark, sf)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(3000))
      // the ONLY exchange sits above the join (the groupBy on priority);
      // neither scan is followed by a hashpartitioning on its join key
      assert(!plan.contains("hashpartitioning(l_orderkey") &&
        !plan.contains("hashpartitioning(o_orderkey"), plan.take(4000))
      assert(plan.contains("SelectedBucketsCount"), plan.take(4000))
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("snapshot IVF serve keeps dynamic partition pruning on pinned files") {
    // the named-snapshot read pins an explicit FILE LIST (basePath-
    // relative) instead of scanning the lists directory — the probe
    // batch's dynamic partition filter must survive that read shape, or
    // snapshot validation reads would pay full-index scans that live
    // serving doesn't
    import org.apache.hadoop.fs.Path
    val fs = new Path("target").getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val idx = "target/graft-test-plan-ivf-snap"
    fs.delete(new Path(idx), true)
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val deq = emb.select(col("vec_id"),
      graft.ext.Similarity.dequantize(
        graft.ext.Similarity.quantize(col("embedding"), 200.0), 200.0)
        .as("embedding"))
    graft.ext.Similarity.saveIvfIndex(emb, idx, nCentroids = 8, dim = 64,
      quantScale = 200.0,
      centroidsIn = graft.ext.Similarity.sampleCentroids(deq, 8))
    graft.ext.Similarity.IvfIndex.snapshot(spark, idx, "audit")
    val df = graft.ext.Similarity.topKIvfIndexed(spark,
      deq.where(col("vec_id") < 3), idx, k = 5,
      at = graft.ops.Family.Pinned("audit"))
    df.collect() // force execution so the adaptive plan finalizes
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruningexpression"), plan.take(4000))
    assert(!plan.contains("SortMergeJoin"), plan.take(4000))
  }

  test("q135 hard negatives: query side broadcasts; per-query heap window") {
    val plan = planOf("q135_hard_negatives")
    // the corpus is never shuffled for scoring: the query set enters as a
    // broadcast (nested-loop against the corpus scan), and ranking is the
    // per-query window — no sort-merge join anywhere
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
    assert(plan.contains("Window"), plan.take(3000))
  }

  test("q146 semantic decontam: probe folds to one broadcast row; train never hash-shuffles") {
    val plan = planOf("q146_semantic_decontam")
    // the |train|·|probe| pairs exist only inside the HOF fold — the one
    // join is the broadcast of the single probes row; no per-pair row
    // explosion, no window, and the train side is never re-keyed (the
    // only exchanges are the probe-side single-partition fold and the
    // final deterministic sort)
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
    assert(!plan.contains("Window"), plan.take(3000))
    assert(!plan.contains("Exchange hashpartitioning"), plan.take(3000))
  }

  test("q148 temperature mixture: rate table broadcasts; corpus rows never sort-merge") {
    val plan = planOf("q148_temperature_mixture")
    // the only corpus-wide exchange is the per-source partial-agg count
    // (|partitions|·|sources| rows); the rate table re-enters as a
    // broadcast hash join and the keep decision is map-side
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
    assert(plan.contains("partial_count"), plan.take(3000))
  }

  test("q151 phrase search: term filters reach the positions scan") {
    val plan = planOf("q151_phrase_search")
    // every phrase slot's scan carries its pushed token-equality filter
    // (row-group pruned on the token-sorted files) — never a full
    // positional-postings read, and never a token re-scan of documents
    assert("PushedFilters: \\[[^\\]]*EqualTo\\(token".r
      .findFirstIn(plan).isDefined, plan.take(3000))
    assert(!plan.contains("SortMergeJoin") ||
      plan.contains("BroadcastHashJoin"), plan.take(3000))
  }

  test("bpeSegmentCounts: dictionary join survives a non-broadcastable dict") {
    // the dictionary is vocabulary-sized — hundreds of millions of words
    // on a web crawl — so it must NOT be broadcast-hinted: with the
    // planner's broadcast path disabled (the stand-in for "dict exceeds
    // driver memory"), the word-stream join must still plan and execute
    // as a shuffled join, and the result must not change
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .where(col("text").isNotNull).limit(50)
    val merges = Seq(("t", "h</w>"), ("a", "n"))
    def run() = graft.ext.Corpus
      .bpeSegmentCounts(docs, "text", "doc_id", merges)
    val unrestricted = run().orderBy("doc_id").collect().toSeq
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val df = run()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"), plan.take(3000))
      assert(plan.contains("SortMergeJoin") ||
        plan.contains("ShuffledHashJoin"), plan.take(3000))
      assert(df.orderBy("doc_id").collect().toSeq == unrestricted)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("q177 PMI: counts partial-agg map-side; top-k is TakeOrderedAndProject") {
    val plan = planOf("q177_pmi_collocations")
    // the two corpus passes pre-collapse before any exchange, and the
    // top-k never globally sorts the pair table
    assert(plan.contains("partial_count"), plan.take(3000))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(3000))
  }

  test("q178 proximity: term filters reach the positions scan") {
    val plan = planOf("q178_proximity_search")
    // both term relations scan with their pushed token-equality filter
    // (row-group pruned on token-sorted files) — never a full
    // positional-postings read or a document token re-scan
    assert("PushedFilters: \\[[^\\]]*EqualTo\\(token".r
      .findFirstIn(plan).isDefined, plan.take(3000))
  }

  test("q187/q188 MMR: query side broadcasts; greedy is one partial-agged groupBy") {
    for (q <- Seq("q187_mmr_diversified", "q188_mmr_indexed")) {
      val plan = planOf(q)
      // the candidate pool joins as broadcasts (query/candidate side is
      // |Q|·fetch-sized by contract); the greedy fold is a per-query
      // aggregate over collected candidates — no join after the pool,
      // no cartesian anywhere
      assert(plan.contains("BroadcastHashJoin"), q + "\n" + plan.take(3000))
      assert(!plan.contains("CartesianProduct"), q + "\n" + plan.take(3000))
      assert(plan.contains("collect_list"), q + "\n" + plan.take(3000))
    }
  }

  test("q180 winnow probe: AQE broadcasts the small batch side on its own") {
    // the probe path carries NO broadcast hints (a day-of-crawl batch is
    // GBs of fingerprints — a pinned broadcast would OOM); for a batch
    // that IS small, AQE must still pick broadcast at runtime, so the
    // assertion runs on the FINALIZED adaptive plan
    val df = SparkEntry.queries("q180_winnow_manifest_probe")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(4000))
    assert(!plan.contains("CartesianProduct"), plan.take(4000))
  }

  test("probeWinnowOverlap: probe survives a non-broadcastable batch") {
    // the batch-derived relations (batch fingerprints, df-cap hash set,
    // tombstone ids) are "batch-sized" by contract but unbounded in
    // production — with every broadcast path disabled (the stand-in for
    // "the ingest batch exceeds broadcast memory"), the probe must still
    // plan as shuffled joins and answer identically
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val path = "target/graft-test-plan-winnow-nobc"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    val run = "alpha beta gamma delta epsilon zeta eta theta"
    graft.ext.Dedup.saveWinnowManifest(
      Seq((1L, s"k1 k2 $run k3 k4"), (2L, "m1 m2 m3 m4 m5 m6 m7 m8"))
        .toDF("doc_id", "text"), "text", "doc_id", path)
    // a pending tombstone makes the anti-join leg part of the audit too
    graft.ext.Dedup.tombstoneFromWinnowManifest(spark, path,
      Seq(2L).toDF("doc_id"))
    val probe = Seq((10L, s"x1 $run x2"), (11L, "y1 y2 y3 y4 y5 y6"))
      .toDF("doc_id", "text")
    def run0() = graft.ext.Dedup.probeWinnowOverlap(probe, path)
      .orderBy("doc_id")
    val unrestricted = run0().collect().toSeq
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val df = run0()
      val got = df.collect().toSeq
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"), plan.take(4000))
      assert(plan.contains("SortMergeJoin") ||
        plan.contains("ShuffledHashJoin"), plan.take(4000))
      assert(got == unrestricted)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("nbClassBits: vocabulary join survives a non-broadcastable seed") {
    // the weight relation is one row per distinct seed-set token —
    // fastText-scale seeds have tens of millions — so the scoring join
    // must NOT be broadcast-hinted: with the planner's broadcast path
    // disabled it must plan as a shuffled join and answer identically
    // (the bpeSegmentCounts rule; the 1-row totals/unk crossjoins keep
    // their hints — those are bounded by construction)
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .where(col("text").isNotNull).limit(60)
    def run0() = graft.ext.Corpus
      .nbClassBits(docs, docs, col("lang") === "en", "text", "doc_id")
      .orderBy("doc_id")
    val unrestricted = run0().collect().toSeq
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val df = run0()
      val got = df.collect().toSeq
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"), plan.take(4000))
      assert(plan.contains("SortMergeJoin") ||
        plan.contains("ShuffledHashJoin"), plan.take(4000))
      assert(got == unrestricted)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("q196/q200 perceptual pairs: banded equi-join, never a cross product") {
    for (q <- Seq("q196_perceptual_neardup", "q200_perceptual_ahash")) {
      val plan = planOf(q)
      // candidates pair ONLY through the (chunk, chunk_val) equi-join of
      // the banded hash relation — no cartesian/nested-loop anywhere,
      // and the join itself is a hash/sort join on the band key
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"), q + "\n" + plan.take(4000))
      assert(plan.contains("SortMergeJoin") ||
        plan.contains("ShuffledHashJoin") ||
        plan.contains("BroadcastHashJoin"), q + "\n" + plan.take(4000))
    }
  }

  test("q201 z-order scan: both range predicates reach the parquet scan") {
    val plan = planOf("q201_zorder_scan")
    // the two-dimensional range must be PUSHED (row-group min/max
    // pruning happens below the filter) — both columns present in the
    // scan's PushedFilters, not just the engine-side Filter node
    val pf = "PushedFilters: [^\n]*".r.findFirstIn(plan).getOrElse("")
    assert(pf.contains("l_partkey") && pf.contains("l_orderkey"), pf)
  }

  test("q138 embedding drift: assignment is map work; k-row drift join") {
    val plan = planOf("q138_embedding_drift")
    // argmax-dot assignment against literal centroids — the ONLY join
    // in the plan is the full-outer compare of the two k-row centroid
    // histograms (full outer cannot broadcast; a sort-merge of k rows is
    // the right plan), never a corpus-keyed join; counts
    // partial-aggregate map-side before the one exchange per side
    assert("SortMergeJoin \\[bucket[^\n]*FullOuter".r.findFirstIn(plan)
      .isDefined, plan.take(3000))
    assert("Join".r.findAllIn(plan).length == 1, plan.take(3000))
    assert(plan.contains("partial_count"), plan.take(3000))
  }

  test("q206 set-sim join: every join is keyed, never a product") {
    val plan = planOf("q206_setsim_join")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    // the candidate stage is an equi-join on the prefix gram
    assert(plan.contains("SortMergeJoin") ||
      plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"), plan.take(3000))
  }

  test("q207 edit-distance join: no cartesian; the one nested loop builds tiny") {
    val plan = planOf("q207_editdist_join")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    // the length-≤-maxDist sliver is the ONLY nested-loop source, and it
    // enters as the broadcast build side (constant alphabet-bounded);
    // the gram branches are equi-joins on (gram, occ)
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).length
    assert(bnlj <= 2, s"$bnlj nested loops:\n${plan.take(3000)}")
    assert(plan.contains("SortMergeJoin") ||
      plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"), plan.take(3000))
  }

  test("q210 pagerank: rounds are keyed joins + partial-agged sums, no product") {
    val plan = planOf("q210_pagerank_coorder")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    // contribution sums partial-aggregate map-side before the exchange
    assert(plan.contains("partial_sum"), plan.take(3000))
  }
}
