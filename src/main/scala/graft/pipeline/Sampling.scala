package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

/** Deterministic sampling operators for training-data pipelines.
  *
  * Both arms avoid RNG state entirely — the "randomness" is a cryptographic
  * hash of the row key, so samples are reproducible across engines (the
  * DuckDB oracle reproduces them bit-for-bit), across partitionings, and
  * across reruns — the property a data pipeline actually needs from a
  * sampler (resume ≡ fresh, audit-replayable).
  *
  * Scale:
  *  - [[stratifiedExact]] ranks within each stratum — parallel ACROSS
  *    strata, single-task within one (fine for small corpora and tests).
  *  - [[stratifiedExactScaled]] is the exact-n scale arm: per-stratum hash
  *    threshold → map-side filter → trim of the ~n-row survivor set, so no
  *    stratum ever single-tasks its full size (equivalent output,
  *    property-tested).
  *  - [[stratifiedHash]] is a pure map-side filter (keep rows whose hash
  *    falls under the per-stratum rate) — no shuffle at all, approximate
  *    counts (binomial around rate·N).
  */
object Sampling {

  private def hashKey(key: Column): Column = md5(key.cast("string"))

  /** Exactly `n` rows per stratum (fewer if the stratum is smaller),
    * deterministically chosen by md5-of-key order.
    */
  def stratifiedExact(df: DataFrame, strataCol: String, keyCol: String,
                      n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(strataCol)
      .orderBy(hashKey(col(keyCol)).asc, col(keyCol).asc)
    df.withColumn("__rank", row_number().over(w))
      .filter(col("__rank") <= n)
      .drop("__rank")
  }

  /** Uniform [0,1) bucket from the key hash. 60 hash bits squeezed into a
    * double's 53-bit mantissa — values within ~2^-53 of 1.0 can round UP to
    * exactly 1.0, so rate comparisons use `< rate` with an explicit
    * rate-≥-1 bypass (otherwise a "keep everything" sample could drop a
    * one-in-2^53 row).
    */
  private def hashBucket(key: Column): Column =
    conv(substring(hashKey(key), 1, 15), 16, 10)
      .cast("double") / math.pow(16.0, 15)

  private def requireRate(r: Double): Unit =
    require(r >= 0 && r <= 1, s"rate must be in [0,1], got $r")

  /** Rate-based deterministic sample: keep rows whose key hash falls below
    * `rate` of the hash space — zero shuffle, stable under appends (a row's
    * membership never changes when other rows arrive).
    */
  def hashSample(df: DataFrame, keyCol: String, rate: Double): DataFrame = {
    requireRate(rate)
    if (rate >= 1.0) df else df.filter(hashBucket(col(keyCol)) < rate)
  }

  /** Exactly `n` rows per stratum WITHOUT ever sorting a whole stratum —
    * the scale arm of [[stratifiedExact]] (same md5-of-key selection order,
    * equivalence property-tested). Where the window arm single-tasks a
    * 10^11-row mega-stratum, this one:
    *
    *  1. counts each stratum (one O(strata) shuffle);
    *  2. derives a per-stratum hash threshold `(n + margin·√n + 10) / N_s` —
    *     hashBucket is uniform in [0,1), so at least n rows land under it
    *     with overwhelming probability, and only ~n + margin·√n do;
    *  3. broadcast-joins the thresholds and filters MAP-SIDE (the 10^11-row
    *     scan never shuffles);
    *  4. exact-trims the ~n-row survivor set per stratum with the same
    *     row_number window — now over ≤ n + margin·√n + 10 rows, not N_s.
    *
    * Non-silent valve: if any stratum under-fills (adversarial keys defeating
    * hash uniformity — astronomically unlikely with md5), this THROWS rather
    * than returning a silently short sample; raise `margin` to retry.
    *
    * Cache contract (as for every pipeline operator): the returned frame is
    * a plain `persist(MEMORY_AND_DISK)` SQL cache entry, so the under-fill
    * verification does not recompute the full scan. The operator keeps no
    * handle to it; the caller frees it with `unpersist()` or
    * `spark.catalog.clearCache()`.
    */
  def stratifiedExactScaled(df: DataFrame, strataCol: String, keyCol: String,
                            n: Int, margin: Double = 6.0): DataFrame = {
    require(n > 0, s"sample size must be positive, got $n")
    import org.apache.spark.sql.expressions.Window
    val counts = df.groupBy(strataCol).agg(count(lit(1)).as("__graft_n"))
    // small strata (N_s <= n) keep everything: threshold 2.0 beats any
    // hashBucket value including the ~2^-53 round-up-to-1.0 edge.
    // thr is O(strata) rows — persisted so the under-fill verification
    // touches it instead of re-scanning the input for a second count
    val thr = counts.select(col(strataCol).as("__graft_stratum"),
      col("__graft_n"),
      when(col("__graft_n") <= n, lit(2.0))
        .otherwise((lit(n.toDouble) + lit(margin) * lit(math.sqrt(n.toDouble))
          + lit(10.0)) / col("__graft_n")).as("__graft_thr"))
      .persist(MEMORY_AND_DISK)
    // NULL-SAFE join: a null stratum is a stratum too (Window.partitionBy
    // treats null as a partition — the window arm samples it, so must we)
    val filtered = df.join(broadcast(thr),
        col(strataCol) <=> col("__graft_stratum"))
      .filter(hashBucket(col(keyCol)) < col("__graft_thr"))
    val w = Window.partitionBy(strataCol)
      .orderBy(hashKey(col(keyCol)).asc, col(keyCol).asc)
    val trimmed = filtered
      .withColumn("__graft_rank", row_number().over(w))
      .filter(col("__graft_rank") <= n)
    val sample = trimmed.drop("__graft_rank", "__graft_thr", "__graft_n",
      "__graft_stratum")
    val persisted = sample.persist(MEMORY_AND_DISK) // returned frame — caller unpersists
    val bad = thr.join(
        persisted.groupBy(strataCol).agg(count(lit(1)).as("__graft_got")),
        col(strataCol) <=> col("__graft_stratum"), "left")
      .filter(coalesce(col("__graft_got"), lit(0L)) <
        least(lit(n.toLong), col("__graft_n")))
      .limit(1).collect()
    thr.unpersist() // sample + verification materialized; thr no longer needed
    if (bad.nonEmpty) {
      persisted.unpersist()
      throw new IllegalStateException(
        s"stratifiedExactScaled: stratum '${bad.head.get(0)}' under-filled " +
          s"(hash threshold margin $margin too tight for this key set) — " +
          "raise the margin parameter")
    }
    persisted
  }

  /** Per-stratum rate sampling (map-side only). `rates` maps stratum value →
    * keep-rate; absent strata keep `defaultRate`.
    */
  def stratifiedHash(df: DataFrame, strataCol: String, keyCol: String,
                     rates: Map[String, Double],
                     defaultRate: Double = 0.0): DataFrame = {
    (rates.values.toSeq :+ defaultRate).foreach(requireRate)
    val rate = rates.foldLeft(lit(defaultRate)) { case (acc, (s, r)) =>
      when(col(strataCol) === s, lit(r)).otherwise(acc)
    }
    // rate >= 1.0 bypasses the bucket compare entirely (see hashBucket)
    df.filter(rate >= 1.0 || hashBucket(col(keyCol)) < rate)
  }
}
