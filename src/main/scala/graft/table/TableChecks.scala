package graft.table

import graft.spec._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Table-level constraint execution — the engine's counterpart to the
  * reference's custom-vocabulary checks (uniqueness modeled on the
  * `uniqueKeys` vocabulary example,
  * /root/reference/example_vocab_uniquekeys_test.go:14-43). These are the
  * only operators in the engine that shuffle; every one is written for the
  * 100 TB case:
  *
  *  - uniqueness: hash aggregation — Spark's partial (map-side) aggregation
  *    IS the salting for a count: each executor pre-counts its local keys, so
  *    a hot key contributes one partial row per task, not 10^9 shuffled rows.
  *    The duplicate-key join-back is broadcast (duplicate sets are small) and
  *    AQE skew-join covers the pathological case.
  *  - referential: broadcast LEFT ANTI against small reference sets (the
  *    common dimension case); sort-merge anti with AQE for large refs.
  *  - drift: fixed-bucket histogram (PSI) and quantile-sketch ECDF (KS) —
  *    both partial+final aggregations, one shuffle of O(buckets) rows.
  *  - stats: one single-pass aggregation (count/nulls/min/max/HLL
  *    distinct/approx quantiles) per table.
  */
object TableChecks {

  /** Violation rows share the row-level shape (keyword, instance_path,
    * detail) so row + table violations union into one output table.
    */
  private val vioCols = Seq("keyword", "instance_path", "detail")

  /** Keys of `cols` appearing more than once, with their counts.
    * Output: cols..., dup_count.
    */
  def duplicateKeys(df: DataFrame, cols: Seq[String]): DataFrame =
    df.groupBy(cols.map(col): _*)
      .agg(count(lit(1)).as("dup_count"))
      .filter(col("dup_count") > 1)

  /** Explicit two-phase salted duplicate counting — the skew valve for hot
    * keys (north rule: "salted repartitioning ... to defuse codec/sr_hz
    * skew"). Phase 1 shuffles by (key, salt) so a hot key spreads over
    * `saltBuckets` reducers; phase 2 shuffles only the per-(key,salt)
    * partials. Hash aggregation's map-side combine already gives this
    * behavior for pure counts — this explicit form exists for aggregations
    * whose partial state is large (e.g. collect-based) and as the audited
    * equivalence target (PropertySpec: salted ≡ naive).
    */
  def saltedDuplicateKeys(df: DataFrame, cols: Seq[String], saltBuckets: Int): DataFrame = {
    val salted = df.withColumn("__salt", pmod(spark_partition_id(), lit(saltBuckets)))
    salted
      .groupBy((cols.map(col) :+ col("__salt")): _*)
      .agg(count(lit(1)).as("partial"))
      .groupBy(cols.map(col): _*)
      .agg(sum("partial").as("dup_count"))
      .filter(col("dup_count") > 1)
  }

  /** Uniqueness violations as standard violation rows. */
  def uniqueViolations(df: DataFrame, u: Unique): DataFrame = {
    val keyStr = concat_ws("|", u.columns.map(c => col(c).cast("string")): _*)
    duplicateKeys(df, u.columns).select(
      lit(u.keywordPath).as("keyword"),
      keyStr.as("instance_path"),
      concat(lit("unique: key appears "), col("dup_count").cast("string"), lit(" times")).as("detail"))
  }

  /** Rows of `df` whose non-null key tuple has no match in the reference
    * table (LEFT ANTI). Null keys are skipped (a null FK is "absent", policed
    * by `required` if needed).
    */
  def fkViolations(df: DataFrame, fk: ForeignKey, refDf: DataFrame): DataFrame = {
    val ref = refDf.select(fk.refColumns.map(col): _*).dropDuplicates(fk.refColumns)
    val refSide = if (fk.broadcastRef) broadcast(ref) else ref
    val joinCond = fk.columns.zip(fk.refColumns)
      .map { case (c, r) => df(c) === refSide(r) }
      .reduce(_ && _)
    val nonNull = fk.columns.map(c => df(c).isNotNull).reduce(_ && _)
    val keyStr = concat_ws("|", fk.columns.map(c => col(c).cast("string")): _*)
    df.filter(nonNull)
      .join(refSide, joinCond, "left_anti")
      .groupBy(fk.columns.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .select(
        lit(fk.keywordPath).as("keyword"),
        keyStr.as("instance_path"),
        concat(lit("foreignKey: "), col("n").cast("string"),
          lit(s" row(s) reference missing key in ${fk.refTable}")).as("detail"))
  }

  /** Lazy PSI: one row (psi: double). Histogram = partial+final hash agg of
    * O(buckets) rows; the PSI formula itself runs IN the plan (tiny
    * single-partition window over ≤ buckets+1 rows), so drift composes into
    * the same action as every other check — no eager driver collect, no
    * extra serial job (north star: fused single pass).
    */
  def psiDf(df: DataFrame, column: String, edges: Seq[Double], refProps: Seq[Double]): DataFrame = {
    val eps = 1e-6
    val c = col(column).cast("double")
    val bucket = bucketOf(c, edges)
    val refArr = array(refProps.map(lit): _*)
    val hist = df.filter(c.isNotNull)
      .groupBy(bucket.as("b")).agg(count(lit(1)).as("n"))
    // empty buckets MUST contribute their (eps - q)·ln(eps/q) term — a bucket
    // the reference expects but the data lacks is the classic drift signal —
    // so join the observed histogram onto the full bucket spine
    val spine = df.sparkSession.range(edges.size + 1)
      .select(col("id").cast("int").as("b"))
    val full = spine.join(hist, Seq("b"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
    // grand total as a broadcast 1-row frame (not a partition-less window,
    // which would log a single-partition warning and serialize the stage)
    val total = full.agg(greatest(sum("n"), lit(1L)).as("__total"))
    full.crossJoin(broadcast(total))
      .withColumn("p", greatest(col("n") / col("__total"), lit(eps)))
      .withColumn("q", greatest(element_at(refArr, col("b") + 1), lit(eps)))
      .agg(coalesce(sum((col("p") - col("q")) * log(col("p") / col("q"))), lit(0.0)).as("psi"))
  }

  /** Eager PSI (driver double) — test/report convenience over [[psiDf]]. */
  def psi(df: DataFrame, column: String, edges: Seq[Double], refProps: Seq[Double]): Double =
    psiDf(df, column, edges, refProps).collect()(0).getDouble(0)

  private def bucketOf(c: Column, edges: Seq[Double]): Column =
    edges.zipWithIndex.reverse.foldLeft(lit(edges.size): Column) {
      case (acc, (e, i)) => when(c < e, i).otherwise(acc)
    }

  /** Bucket counts for fixed edges: bucket 0 = (-inf, e0), i = [e(i-1), e(i)),
    * last = [eN, +inf). NULLs excluded. Returns edges.size+1 counts.
    * (CASE chain is codegen'd; one pass, partial agg → O(buckets) shuffle.)
    */
  def histogram(df: DataFrame, column: String, edges: Seq[Double]): Array[Long] = {
    val c = col(column).cast("double")
    val counts = df.filter(c.isNotNull)
      .groupBy(bucketOf(c, edges).as("b")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    Array.tabulate(edges.size + 1)(i => counts.getOrElse(i, 0L))
  }

  /** Lazy KS vs a pinned reference quantile vector: the data-side ECDF at
    * every fixed point is ONE aggregation row (sum(v <= q)/count per point —
    * no sort, no global window), sup-distance computed in-plan via
    * greatest(). Returns one row (ks: double).
    */
  def ksDf(df: DataFrame, column: String, refQuantiles: Seq[Double]): DataFrame = {
    val c = col(column).cast("double")
    val aggs = refQuantiles.zipWithIndex.map { case (q, i) =>
      sum(when(c <= q, 1L).otherwise(0L)).as(s"le_$i")
    } :+ count(c).as("n")
    val m = refQuantiles.size
    val agg = df.filter(c.isNotNull).agg(aggs.head, aggs.tail: _*)
    val dists = refQuantiles.indices.map { i =>
      val refCdf = if (m == 1) 1.0 else i.toDouble / (m - 1)
      abs(col(s"le_$i") / greatest(col("n").cast("double"), lit(1.0)) - lit(refCdf))
    }
    agg.select((if (dists.size == 1) dists.head else greatest(dists: _*)).as("ks"))
  }

  /** Exact two-sample KS between two columns. Fully distributed: ECDFs are
    * computed per distinct value, then the cumulative counts use the classic
    * distributed prefix-sum — RANGE-partition the distinct values (so value
    * order aligns with partition order), run the sorted running sum PER
    * PARTITION in parallel, and add broadcast per-partition prefix offsets.
    * No partition-less window anywhere: with l_extendedprice-like near-unique
    * columns the old global `Window.orderBy(v)` moved every distinct value to
    * ONE task — at 100× scale, one executor sorting 10^8+ rows.
    *
    * Cache contract (as for the `graft.pipeline` operators): the ranged
    * per-value frame behind the lazy result is a plain
    * `persist(MEMORY_AND_DISK)` SQL cache entry, and no handle to it is
    * returned. The caller frees it with `spark.catalog.clearCache()`;
    * long-lived drivers issuing many KS checks should prefer the eager
    * [[ksTwoSample]], which releases it after its action.
    */
  def ksTwoSampleDf(a: DataFrame, aCol: String, b: DataFrame, bCol: String): DataFrame =
    ksTwoSampleInternal(a, aCol, b, bCol)._1

  /** (lazy 1-row result, the correctness-required persisted intermediate). */
  private def ksTwoSampleInternal(a: DataFrame, aCol: String, b: DataFrame, bCol: String)
      : (DataFrame, DataFrame) = {
    val av = a.select(col(aCol).cast("double").as("v")).filter(col("v").isNotNull)
    val bv = b.select(col(bCol).cast("double").as("v")).filter(col("v").isNotNull)
    val union = av.withColumn("src", lit("a")).union(bv.withColumn("src", lit("b")))
    // per distinct value (usually ≪ row count)
    val perValue = union.groupBy("v").agg(
      sum(when(col("src") === "a", 1L).otherwise(0L)).as("ca"),
      sum(when(col("src") === "b", 1L).otherwise(0L)).as("cb"))
    // pid is monotone in v after the range exchange (AQE may merge ADJACENT
    // partitions, which preserves monotonicity). The pid column MUST be
    // materialized (persist) before fanning out to the window and the
    // offsets consumers: spark_partition_id() is nondeterministic, and two
    // independently executed range exchanges can number partitions
    // differently under AQE — which would misalign the prefix offsets
    // (observed as a wrong KS sup at sf0.1). The persist also keeps the
    // range exchange's boundary-sampling pass from re-running the full
    // aggregation. NOTE: unlike the Dedup caches this persist is
    // CORRECTNESS-REQUIRED, not an optimization — do not make it optional.
    // the range exchange SAMPLES its child in a separate pass before
    // shuffling it, so an unpersisted perValue would run the full
    // union+aggregation twice (sampling job + exchange job); persist it for
    // the materialization below and release it right after — the ranged
    // cache carries everything downstream needs
    val perValueP = perValue
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ranged = perValueP.repartitionByRange(col("v"))
      .withColumn("pid", spark_partition_id())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    ranged.count()
    perValueP.unpersist()
    // per-partition totals (O(#partitions) rows) → prefix offsets + grand
    // totals, all tiny and broadcast — the driver never collects anything
    val partials = ranged.groupBy("pid")
      .agg(sum("ca").as("pa"), sum("cb").as("pb"))
    val totals = partials.agg(
      sum("pa").cast("double").as("ta"), sum("pb").cast("double").as("tb"))
    val offsets = partials.as("x")
      .join(partials.as("y"), col("y.pid") < col("x.pid"), "left")
      .groupBy(col("x.pid").as("pid"))
      .agg(coalesce(sum(col("y.pa")), lit(0L)).as("offa"),
        coalesce(sum(col("y.pb")), lit(0L)).as("offb"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("pid").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, 0)
    val result = ranged
      .withColumn("cuma", sum("ca").over(w))
      .withColumn("cumb", sum("cb").over(w))
      .join(broadcast(offsets), Seq("pid"))
      .crossJoin(broadcast(totals))
      .withColumn("fa", (col("cuma") + col("offa")) / col("ta"))
      .withColumn("fb", (col("cumb") + col("offb")) / col("tb"))
      .agg(max(abs(col("fa") - col("fb"))).as("ks"))
    (result, ranged)
  }

  /** Eager two-sample KS: runs the action and releases the intermediate
    * cache — the right call in long-lived drivers issuing many KS checks.
    */
  def ksTwoSample(a: DataFrame, aCol: String, b: DataFrame, bCol: String): Double = {
    val (res, cache) = ksTwoSampleInternal(a, aCol, b, bCol)
    try res.collect()(0).getDouble(0)
    finally cache.unpersist()
  }

  /** Drift violations — LAZY: empty when within threshold, one violation row
    * otherwise. The metric is computed in-plan ([[psiDf]]/[[ksDf]]) so drift
    * unions into the same single action as every other constraint.
    */
  def driftViolations(df: DataFrame, d: Drift): DataFrame = {
    val metric = d.method match {
      case "psi" => psiDf(df, d.column, d.edges, d.refProportions).withColumnRenamed("psi", "m")
      case "ks"  => ksDf(df, d.column, d.refQuantiles).withColumnRenamed("ks", "m")
    }
    metric
      .filter(col("m") > d.threshold)
      .select(
        lit(d.keywordPath).as("keyword"),
        lit(d.column).as("instance_path"),
        format_string(s"drift: ${d.method} = %.6f exceeds threshold ${d.threshold}",
          col("m")).as("detail"))
  }

  /** Per-column stat aggregate expressions: count, nulls, min, max, HLL
    * distinct, approximate quartiles (SURVEY.md §2.9). Shared by the lazy
    * [[stats]] plan and the observe-fused path in
    * [[graft.exec.Engine.runFused]].
    */
  def statAggs(df: DataFrame, columns: Seq[String],
               quantiles: String = "approx"): Seq[Column] = {
    val numericSet = df.schema.fields
      .filter(_.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
      .map(_.name).toSet
    def quartiles(c: String): Column = quantiles match {
      case "tdigest" =>
        // mergeable sketch arm (ledger-checkpointable, SURVEY §4.2)
        graft.functions.TDigestAgg.tdigestQuantiles(
          col(c).cast("double"), Seq(0.25, 0.5, 0.75))
      case _ =>
        percentile_approx(col(c).cast("double"),
          array(lit(0.25), lit(0.5), lit(0.75)), lit(1000))
    }
    columns.flatMap { c =>
      Seq(
        count(col(c)).as(s"${c}__count"),
        sum(col(c).isNull.cast("long")).as(s"${c}__nulls"),
        min(col(c)).cast("string").as(s"${c}__min"),
        max(col(c)).cast("string").as(s"${c}__max"),
        approx_count_distinct(col(c)).as(s"${c}__distinct"),
        (if (numericSet.contains(c))
          array_join(transform(quartiles(c), q => q.cast("string")), ",")
        else lit("")).as(s"${c}__q"))
    }
  }

  /** Column statistics in ONE pass, fully LAZY: a single wide aggregation
    * unpivoted in-plan via stack() to one row per column.
    */
  def stats(df: DataFrame, columns: Seq[String]): DataFrame = {
    val aggs = statAggs(df, columns)
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val tuples = columns.map { c =>
      s"'$c', `${c}__count`, `${c}__nulls`, `${c}__min`, `${c}__max`, `${c}__distinct`, `${c}__q`"
    }
    wide.select(expr(
      s"stack(${columns.size}, ${tuples.mkString(", ")}) AS " +
        "(column, count, nulls, min, max, approx_distinct, quartiles)"))
  }
}
