package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Derive an sf1-scale dataset from the sf0.1 testdata: every fact
  * table replicated `factor`× with DETERMINISTIC,
  * referential-integrity-preserving key shifts, written as ONE parquet
  * file per table (the layout tools/check.py's DuckDB views read). This
  * is the evidence class the 100×-scale claim was missing — every gate
  * through round 15 ran at sf0.1 or below; the sf1 spot set + bench run
  * on this dataset records the actual scale curve in BASELINE.md.
  *
  * Replication rules (why each table scales the way it does):
  *  - `region`/`nation`: DIMENSIONS — fixed size at every scale factor,
  *    exactly as TPC-H holds them constant.
  *  - `customer`/`supplier`/`part`/`orders`/`lineitem`: `factor` copies
  *    with all int64 surrogate keys shifted by `i * 100_000_000` — FK
  *    edges (orders→customer, lineitem→orders/part/supplier) stay valid
  *    because both sides shift by the same stride. Money/date/flag
  *    columns are copied verbatim, so per-copy distributions equal the
  *    original's.
  *  - `events`: copies shift `event_id`/`user_id` (stream rate grows
  *    10×, per-user session shape unchanged — the regime a 10× traffic
  *    step actually presents).
  *  - `documents`: copy 0 verbatim; copies ≥ 1 get a PER-COPY TOKEN
  *    NAMESPACE (the APSS-probe rule) so cross-copy similarity is 0 and
  *    the near-dup PAIR DENSITY per copy equals the original's. Plain
  *    replication would be the wrong dataset: every copy is a true
  *    near-dup of every other, the true output itself is Θ(factor²)
  *    pairs, and no exact algorithm can beat its own answer size —
  *    duplication RATE, not volume, is what must stay constant across a
  *    scale step. The namespace is a LENGTH-PRESERVING RE-SPELLING per
  *    (token, copy): each token of copy i ≥ 1 is replaced by the same-
  *    length prefix of repeat(hex(xxhash64(token, i))). A namespace
  *    must expand the token space per copy and keep every token length;
  *    BASELINE.md §"ScaleUp namespace: constructions measured and
  *    rejected" records the two alternatives that failed (a constant
  *    `c<i>` suffix, a per-copy vocabulary permutation).
  *    The re-spelling keeps every token length — chunk boundaries, the
  *    whitespace skeleton, and all length statistics are EXACTLY the
  *    original's (so q52's histogram floor does not move: 218 pairs at
  *    sf1 ≈ the per-copy density) — while copies' token spaces are
  *    disjoint by hashing (cross-copy token/gram overlap ≈ 0; q185's
  *    winnow spans measured 3,452,469 at sf1 vs 343,753 at sf0.1 —
  *    10.04×, exactly linear). Within a copy the map is injective for
  *    any realistic vocabulary (same-length collision probability
  *    16^-L per type pair; this corpus's largest length class has 9
  *    types), so per-copy pair structure is isomorphic to the
  *    original's for every set/sequence/gram operator — q31/q32 row
  *    counts are bit-identical across namespace spellings.
  *  - `embeddings`: copies ≥ 1 get a small deterministic per-component
  *    jitter (±5e-3, hash-derived) so copies are near but not exact
  *    duplicates — ANN index balance and recall behave like a larger
  *    corpus, not like 10 stacked copies of one.
  *
  * [[ScaleGate]] runs [[derive]] when its sf1 directory is absent.
  */
object ScaleUp {
  private val Stride = 100000000L

  /** The union of `shift(df, i)` for copies `i` in `0 until k`. */
  def copies(df: DataFrame, k: Int)(shift: (DataFrame, Int) => DataFrame)
      : DataFrame =
    (0 until k).map(i => shift(df, i)).reduce(_ union _)

  /** Write every table of `src`, replicated `factor`×, to `dst`. */
  def derive(spark: SparkSession, src: String, dst: String,
             factor: Int): Unit = {

    def shiftCols(df: DataFrame, i: Int, cols: String*): DataFrame =
      cols.foldLeft(df)((d, c) =>
        d.withColumn(c, col(c) + lit(i * Stride)))

    // ONE parquet FILE per table: write a single-part directory, then
    // move the part file to <dst>/<table>.parquet (parquet is
    // row-group-splittable, so Spark still scans it in parallel)
    def writeOne(name: String, df: DataFrame): Unit = {
      val tmp = s"$dst/_build_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val conf = spark.sparkContext.hadoopConfiguration
      val tmpPath = new org.apache.hadoop.fs.Path(tmp)
      val fs = tmpPath.getFileSystem(conf)
      val part = fs.listStatus(tmpPath)
        .map(_.getPath).filter(_.getName.startsWith("part-")).head
      val target = new org.apache.hadoop.fs.Path(s"$dst/$name.parquet")
      fs.delete(target, false)
      fs.rename(part, target)
      fs.delete(tmpPath, true)
      println(s"[scaleup] $name: ${fs.getFileStatus(target).getLen / 1048576} MiB")
    }

    def t(name: String) = graft.ops.Tables.t(spark, src, name)

    writeOne("region", t("region"))
    writeOne("nation", t("nation"))
    writeOne("customer", copies(t("customer"), factor)(shiftCols(_, _, "c_custkey")))
    writeOne("supplier", copies(t("supplier"), factor)(shiftCols(_, _, "s_suppkey")))
    writeOne("part", copies(t("part"), factor)(shiftCols(_, _, "p_partkey")))
    writeOne("orders", copies(t("orders"), factor)(
      shiftCols(_, _, "o_orderkey", "o_custkey")))
    writeOne("lineitem", copies(t("lineitem"), factor)(
      shiftCols(_, _, "l_orderkey", "l_partkey", "l_suppkey")))
    writeOne("events", copies(t("events"), factor)(
      shiftCols(_, _, "event_id", "user_id")))

    writeOne("documents", copies(t("documents"), factor) { (df, i) =>
      val shifted = df.withColumn("doc_id", col("doc_id") + lit(i * Stride))
      if (i == 0) shifted
      else shifted.withColumn("text",
        // length-preserving re-spelling per (token, copy) — see the
        // documents rule in the scaladoc. repeat(…, 8) covers tokens to
        // 128 chars; a longer token would re-spell truncated (length no
        // longer preserved) but this corpus's longest word is 8 chars
        // (the Verify depth probe), so the margin is 16×.
        when(col("text").isNotNull,
          concat_ws(" ", transform(split(col("text"), " "), tok =>
            when(length(tok) > 0,
              repeat(lower(hex(xxhash64(tok, lit(i)))), 8)
                .substr(lit(1), length(tok)))
              .otherwise(tok)))))
        .withColumn("n_chars", length(coalesce(col("text"), lit(""))))
    })

    writeOne("embeddings", copies(t("embeddings"), factor) { (df, i) =>
      val shifted = df.withColumn("vec_id", col("vec_id") + lit(i * Stride))
      if (i == 0) shifted
      else shifted.withColumn("embedding",
        // ±5e-3 deterministic jitter per component: near-dup of the
        // original, never an exact copy
        zip_with(col("embedding"),
          transform(sequence(lit(0), size(col("embedding")) - 1),
            j => ((pmod(xxhash64(col("vec_id"), j, lit(i)), lit(1000L))
              - lit(500L)).cast("float") / lit(100000.0f))),
          (x, d) => (x + d).cast("float")))
    })

    println(s"[scaleup] done: $dst at ${factor}x of $src")
  }
}
