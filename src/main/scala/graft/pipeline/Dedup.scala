package graft.pipeline

import scala.collection.mutable

import org.apache.spark.{HashPartitioner, Partitioner}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType, StructField, StructType}
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

/** Deduplication operators for large-scale training-data pipelines:
  * exact (hash groupBy), MinHash+LSH banding, SimHash, and n-gram Jaccard.
  *
  * Scale design (100 TB / 10^12 rows):
  *  - All signatures (shingles, minhash bands, simhash) are computed in the
  *    scan pass (codegen'd expressions or one explode+partial-agg), so the
  *    only shuffles are the bucket joins, which move O(#docs × #bands) small
  *    rows — never the documents themselves.
  *  - Candidate joins go through LSH buckets, not all-pairs: cost is
  *    Σ bucket_size², kept bounded by `maxBucket` (mega-buckets = stop
  *    signatures carrying no dedup information; dropping them is standard
  *    and logged, not silent).
  *  - Exact-dup groupBy benefits from map-side partial aggregation; hot
  *    fingerprints (boilerplate docs) pre-aggregate per task.
  *
  * Cache contract: an operator's intermediate frames (shingles, bands,
  * signatures) and two results, the pair frame of [[jaccardPairsLsh]] and
  * the labels of [[connectedComponents]], are plain
  * `persist(MEMORY_AND_DISK)` SQL cache entries, so the expensive scan pass
  * runs once per call instead of once per consumer. The operator holds no
  * handle to them and takes no storage option: the caller frees them with
  * `unpersist` on the returned frame or `spark.catalog.clearCache()`, and
  * long-lived drivers that loop over corpora clear between iterations.
  */
object Dedup {

  def tokens(text: Column): Column = split(text, " ")

  /** Distinct word n-gram shingles; a document shorter than n words is its
    * own single shingle.
    */
  def shingles(text: Column, n: Int): Column = {
    val toks = tokens(text)
    when(size(toks) >= n,
      array_distinct(transform(
        sequence(lit(0), size(toks) - n),
        i => array_join(slice(toks, i + 1, lit(n)), " "))))
      .otherwise(array(array_join(toks, " ")))
  }

  /** (n_docs, n_distinct, n_dup_groups) for exact dedup by md5(text). */
  def exactStats(df: DataFrame, textCol: String): DataFrame =
    df.agg(
      count(lit(1)).as("n_docs"),
      countDistinct(md5(col(textCol))).as("n_distinct"))
      .withColumn("n_dups", col("n_docs") - col("n_distinct"))

  /** One MinHash band value: the min over shingles of hash(band, shingle).
    *
    * Hash engines:
    *  - "md5" (default): lexicographic min of the hex digest — deterministic
    *    and engine-agnostic (the DuckDB oracle reproduces it exactly);
    *  - "xxhash64": numeric min of the 64-bit hash — several× cheaper per
    *    shingle (non-crypto), the knob to flip at 100 TB where the oracle
    *    isn't in the loop. Same min-wise-permutation semantics, so all
    *    banding guarantees carry over (property-tested in PipelineSpec).
    */
  def bandHash(sh: Column, band: Int, hashEngine: String = "md5"): Column =
    hashEngine match {
      case "md5" =>
        array_min(transform(sh, s => md5(concat(lit(s"$band:"), s)))).cast("string")
      case "xxhash64" =>
        array_min(transform(sh, s => xxhash64(lit(band), s))).cast("string")
      case other => throw new IllegalArgumentException(
        s"unknown minhash hash engine '$other' (md5 | xxhash64)")
    }

  /** (key, shingle-array) — the shared upstream of the LSH band index and
    * the exact-verify exploded shingle frame. Factored out so
    * [[jaccardPairsLsh]] computes tokenize+shingle ONCE per document and
    * derives both consumers from the persisted frame (it used to run the
    * full shingle pass twice: once inside candidate generation, once for
    * the verification sets).
    */
  private def shingledFrame(df: DataFrame, keyCol: String, textCol: String,
                            shingleN: Int): DataFrame =
    fanOut(df.select(col(keyCol), col(textCol)))
      .select(col(keyCol), graft.functions.ShinglesExpr(
        col(textCol), shingleN).as("__graft_sh"))

  private def bandsFromShingled(shingled: DataFrame, keyCol: String,
                                numBands: Int, hashEngine: String): DataFrame =
    // native one-pass band minima ([[graft.functions.BandMinsExpr]] —
    // byte-identical to numBands × [[bandHash]]): the per-band
    // array_min(transform(…)) form ran numBands interpreted lambda sweeps
    // per document (higher-order functions don't codegen) and dominated
    // the whole candidate pass; bandHash stays as the readable semantic
    // spec of what each element is
    shingled.select(col(keyCol),
      posexplode(graft.functions.BandMinsExpr(
        col("__graft_sh"), numBands, hashEngine)).as(Seq("band", "h")))

  private def fanOut(df: DataFrame): DataFrame = PipelineUtil.fanOut(df)

  /** (key, band, h) — one row per document per band; the LSH index.
    * Shingling is materialized in its own Project and referenced numBands
    * times from the band array — multi-referenced non-cheap aliases are not
    * re-inlined by CollapseProject, so tokenize+shingle runs once per doc,
    * not once per band.
    */
  def minhashBands(df: DataFrame, keyCol: String, textCol: String,
                   numBands: Int, shingleN: Int = 3,
                   hashEngine: String = "md5"): DataFrame =
    bandsFromShingled(shingledFrame(df, keyCol, textCol, shingleN), keyCol,
      numBands, hashEngine)

  /** Candidate near-dup pairs: documents sharing ≥1 MinHash band bucket.
    * `maxBucket` drops degenerate mega-buckets so the bucket self-join stays
    * bounded at scale. Dropping reduces recall on skewed corpora — it is NOT
    * silent: call [[minhashMegaBuckets]] with the same arguments to get the
    * dropped buckets (band, h, n) as a first-class frame.
    *
    * The signature frame (shingling + numBands md5 folds — the dominant
    * cost) feeds the bucket-size agg AND both sides of the self-join; it is
    * persisted so the scan pass runs once, not ~4×. The frame is
    * O(docs × bands) small rows — MEMORY_AND_DISK spills harmlessly at scale.
    */
  def minhashCandidates(df: DataFrame, keyCol: String, textCol: String,
                        numBands: Int = 8, shingleN: Int = 3,
                        maxBucket: Long = 1000L,
                        hashEngine: String = "md5"): DataFrame = {
    val bands = minhashBands(df, keyCol, textCol, numBands, shingleN, hashEngine)
      .persist(MEMORY_AND_DISK)
    candidatesFromBands(bands, keyCol, maxBucket)
  }

  /** Candidate pairs from a (persisted) band index — see
    * [[minhashCandidates]]. Drop empty/mega buckets BEFORE pairing (skew
    * valve), then generate pairs with a bucket-equality self-join.
    * (A collect_list + explode-pairs shape would save two exchanges, but
    * it materializes a bucket's FULL membership in one aggregation buffer
    * before the size filter can drop it — a degenerate mega-bucket would
    * OOM an executor where the count-first shape drops it having only
    * ever counted. The valve's memory guarantee is worth the exchanges.)
    *
    * The valve is one left-semi join on the `x` side: `y` shares `x`'s
    * (band, h), so its bucket has already passed and `y` reads the band
    * index directly. A semi join always builds its right side, so AQE has
    * no build side to pick by stage finishing order.
    */
  private def candidatesFromBands(bands: DataFrame, keyCol: String,
                                  maxBucket: Long): DataFrame = {
    val bucketSizes = bands.groupBy("band", "h").agg(count(lit(1)).as("n"))
      .filter(col("n") > 1 && col("n") <= maxBucket)
      .select("band", "h")
    val inBuckets = bands.join(bucketSizes, Seq("band", "h"), "left_semi")
    inBuckets.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.h") === col("y.h") &&
          col(s"x.$keyCol") < col(s"y.$keyCol"))
      .select(col(s"x.$keyCol").as("a"), col(s"y.$keyCol").as("b"))
      .distinct()
  }

  /** The mega-buckets [[minhashCandidates]] drops under the same parameters:
    * (band, h, n) with n > maxBucket. Count/inspect these to quantify the
    * recall cost of the skew valve (no-silent-caps companion).
    */
  def minhashMegaBuckets(df: DataFrame, keyCol: String, textCol: String,
                         numBands: Int = 8, shingleN: Int = 3,
                         maxBucket: Long = 1000L,
                         hashEngine: String = "md5"): DataFrame =
    minhashBands(df, keyCol, textCol, numBands, shingleN, hashEngine)
      .groupBy("band", "h").agg(count(lit(1)).as("n"))
      .filter(col("n") > maxBucket)

  /** Exact n-gram Jaccard over candidate pairs found by shingle co-occurrence.
    * `maxDf` removes stop-shingles (appearing in more than maxDf docs) before
    * the self-join — the skew valve at scale, ON by default (a stop-shingle
    * in 10^8 documents makes the self-join quadratic in that shingle's
    * document frequency; the default bounds any one shingle's join
    * contribution to maxDf² rows). With the valve active, denominators stay
    * EXACT set sizes (computed pre-filter): emitted scores are exact or
    * conservative lower bounds (the intersection undercounts only by
    * dropped stop-shingles), and pairs supported ONLY by stop-shingles are
    * missed — the same recall shape as the LSH arm. The valve is non-silent: call
    * [[jaccardStopShingles]] with the same arguments to enumerate what was
    * dropped (mirrors the minhash mega-bucket companion). Pass
    * `maxDf = Long.MaxValue` for exact small-corpus runs.
    *
    * PRECONDITION (this and [[jaccardPairsLsh]]): `keyCol` uniquely keys
    * the documents. Sizes attach by key equi-join off the per-doc shingle
    * arrays, so a duplicated key would multiply the pair rows it appears
    * in (the pre-r6 exploded-count shape silently SUMMED duplicate keys'
    * sizes instead — garbage either way; dedup operators key documents
    * uniquely by contract).
    */
  def jaccardPairs(df: DataFrame, keyCol: String, textCol: String,
                   shingleN: Int = 3, threshold: Double = 0.5,
                   maxDf: Long = 100000L): DataFrame = {
    // the per-doc shingle ARRAYS are the persisted root: the exploded frame
    // (both self-join sides + the valve's document-frequency agg) derives
    // from the cache, and the per-doc sizes read size(array) straight off
    // it — the former sizes groupBy over every exploded row (one full
    // exchange) is gone
    val shingled = shingledFrame(df, keyCol, textCol, shingleN)
      .persist(MEMORY_AND_DISK)
    val sh = shingled.select(col(keyCol).as("k"),
      explode(col("__graft_sh")).as("s"))
    val filtered =
      if (maxDf == Long.MaxValue) sh
      else {
        val hot = sh.groupBy("s").agg(count(lit(1)).as("df"))
          .filter(col("df") > maxDf).select("s")
        sh.join(broadcast(hot), Seq("s"), "left_anti")
      }
    // sizes come from the UNFILTERED arrays: the Jaccard denominator stays
    // the exact shingle-set size even when the valve drops stop-shingles,
    // so every emitted score is exact-or-lower-bound (the intersection can
    // only undercount by dropped shingles) — never inflated
    val sizes = shingled.select(col(keyCol).as("k"),
      size(col("__graft_sh")).cast("long").as("n"))
    val inter = filtered.as("x").join(filtered.as("y"),
        col("x.s") === col("y.s") && col("x.k") < col("y.k"))
      .groupBy(col("x.k").as("a"), col("y.k").as("b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("k", "a").withColumnRenamed("n", "na"), "a")
      .join(sizes.withColumnRenamed("k", "b").withColumnRenamed("n", "nb"), "b")
      .withColumn("jaccard",
        round(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double"), 6))
      .filter(col("jaccard") >= threshold)
      .select("a", "b", "jaccard")
  }

  /** Exact n-gram Jaccard VERIFICATION over MinHash-LSH candidate pairs —
    * the SCALE path for near-dup-heavy corpora. [[jaccardPairs]]'s
    * shingle-co-occurrence candidate generation is quadratic in the size of
    * each near-dup cluster (a 10-way duplicated page contributes ~45
    * candidate pairs per shared shingle — measured 1.2 s → >560 s going
    * sf0.1 → 10×-replicated sf1); banded LSH bounds candidates to
    * same-bucket pairs (maxBucket valve, non-silent via
    * [[minhashMegaBuckets]]), and each candidate's EXACT Jaccard is then
    * computed from the per-doc shingle sets. Pairs missed by every band are
    * the LSH recall tradeoff (recall rises with numBands); every emitted
    * score is exact.
    *
    * The verified pairs come back as a `persist(MEMORY_AND_DISK)` SQL cache
    * entry (see the cache contract above), so collecting them and passing
    * them to [[dedupGroups]] reads one materialization instead of running
    * the candidate and verify plan twice.
    */
  def jaccardPairsLsh(df: DataFrame, keyCol: String, textCol: String,
                      shingleN: Int = 3, threshold: Double = 0.5,
                      numBands: Int = 8, maxBucket: Long = 1000L,
                      hashEngine: String = "md5"): DataFrame = {
    // ONE tokenize+shingle pass: the persisted shingled frame feeds both
    // the band index (candidate generation) and the exact verification —
    // previously each side ran its own full pass
    val shingled = shingledFrame(df, keyCol, textCol, shingleN)
      .persist(MEMORY_AND_DISK)
    val bands = bandsFromShingled(shingled, keyCol, numBands, hashEngine)
      .persist(MEMORY_AND_DISK)
    val cand = candidatesFromBands(bands, keyCol, maxBucket)
    // exact verification by ARRAY INTERSECTION on the per-doc shingle sets
    // (two equi-joins attaching each side's array) instead of exploding
    // shingles and re-aggregating: on a near-dup-heavy corpus the exploded
    // form shuffles |candidates| × |shingles| rows (measured ~800M at the
    // bench's synthetic sf1) through a join + hash aggregation, while this
    // form moves each candidate row once per side. Equivalence: shingle
    // arrays are element-distinct by construction, so
    // size(array_intersect(A, B)) is exactly the old per-shingle match
    // count, with null elements excluded the way a null-rejecting equi-join
    // excluded them; denominators are the array sizes — exactly the old
    // exploded-count groupBy.
    val withSets = shingled.select(col(keyCol).as("k"),
      col("__graft_sh").as("sh"), size(col("__graft_sh")).as("n"))
    cand
      .join(withSets.select(col("k").as("a"), col("sh").as("sha"),
        col("n").as("na")), Seq("a"))
      .join(withSets.select(col("k").as("b"), col("sh").as("shb"),
        col("n").as("nb")), Seq("b"))
      .withColumn("inter",
        graft.functions.IntersectCountExpr(col("sha"), col("shb")))
      .withColumn("jaccard",
        round(col("inter").cast("double") /
          (col("na").cast("long") + col("nb").cast("long") - col("inter"))
            .cast("double"), 6))
      // inter > 0 mirrors the old aggregation exactly: a candidate pair
      // with NO common shingle never produced an aggregation row, so it was
      // never emitted even under threshold ≤ 0
      .filter(col("inter") > 0 && col("jaccard") >= threshold)
      .select("a", "b", "jaccard")
      .persist(MEMORY_AND_DISK)
  }

  /** Companion to [[jaccardPairs]]'s skew valve: the stop-shingles it drops
    * — (shingle, df) rows with df > maxDf. Count/inspect these to quantify
    * what the valve excluded; empty means the valve changed nothing.
    */
  def jaccardStopShingles(df: DataFrame, keyCol: String, textCol: String,
                          shingleN: Int = 3,
                          maxDf: Long = 100000L): DataFrame =
    fanOut(df.select(col(keyCol), col(textCol)))
      .select(col(keyCol).as("k"),
        explode(graft.functions.ShinglesExpr(
          col(textCol), shingleN)).as("s"))
      .groupBy("s").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf)

  /** 16-bit SimHash over whitespace tokens (with multiplicity): bit i is the
    * sign of the token-count-weighted sum of hex digit i of md5(token)
    * (digit ≥ 8 → +1, else −1). One explode + one partial-aggregated groupBy.
    */
  def simhash16(df: DataFrame, keyCol: String, textCol: String): DataFrame = {
    val hexHi = Seq("8", "9", "a", "b", "c", "d", "e", "f")
    // no fanOut here: the 16-bit arm's per-token work (one md5 + 16 sums)
    // is light enough that the fan-out shuffle costs more than it buys on
    // small corpora, and this arm is documented as NOT the scale path
    val tok = df.select(col(keyCol).as("k"),
      explode(tokens(col(textCol))).as("t"))
      .withColumn("h", md5(col("t")))
    val sums = (1 to 16).map { i =>
      sum(when(substring(col("h"), i, 1).isin(hexHi: _*), 1).otherwise(-1))
        .as(s"s_$i")
    }
    tok.groupBy("k").agg(sums.head, sums.tail: _*)
      .select(col("k"),
        (1 to 16).map { i =>
          when(col(s"s_$i") >= 0, lit(1L << (i - 1))).otherwise(lit(0L))
        }.reduce(_ + _).as("simhash"))
  }

  /** 64-bit SimHash: bit b (0-based) is the sign of the token-weighted sum
    * of bit (b%4) of hex digit (b/4 + 1) of md5(token) — i.e. the md5 hash
    * is consumed 4 bits per hex digit, giving a full 64-bit fingerprint that
    * is exactly reproducible in any engine with md5 (the DuckDB oracle
    * mirrors it digit-for-digit). One explode + one partial-aggregated
    * groupBy, same shuffle shape as [[simhash16]].
    *
    * Output: (k, simhash, band0..band3) where bandK packs sign bits
    * 16K..16K+15 as a non-negative int: `(simhash >>> 16K) & 0xFFFF`, since
    * band K's bit j is code bit 16K+j (the unsigned shift and the mask keep
    * the sign bit out of band3's value).
    */
  def simhash64(df: DataFrame, keyCol: String, textCol: String): DataFrame = {
    val tok = fanOut(df.select(col(keyCol), col(textCol)))
      .select(col(keyCol).as("k"), explode(tokens(col(textCol))).as("t"))
      .withColumn("h", md5(col("t")))
    // hex digits 1..16 consumed as two 32-bit words — 2 convs per token
    // instead of 16 substring+conv digit extractions. Digit (b/4 + 1) of
    // the hash holds simhash bit b at word-bit (7 − b/4)·4 + b%4, and by
    // construction bits b and b+32 sit at the SAME shift in w0 / w1.
    val withWords = tok.select(col("k"),
      conv(substring(col("h"), 1, 8), 16, 10).cast("long").as("w0"),
      conv(substring(col("h"), 9, 8), 16, 10).cast("long").as("w1"))
    // PACKED set-bit counts with lane arithmetic: count_b accumulates in
    // the low 32 bits and count_{b+32} in the high 32 bits of one long
    // (tokens per doc < 2^30 — a string column cannot hold more — so lanes
    // cannot carry into each other). 32 aggregate columns + one count
    // instead of 64 ±1 sums, and the per-token update is pure bit math.
    // Equivalence to the old per-bit sign sum: s_b = Σ±1 = 2·count_b − n,
    // so s_b ≥ 0 ⟺ 2·count_b ≥ n — bit-identical codes and bands.
    val packed = (0 until 32).map { b =>
      val sh = (7 - b / 4) * 4 + b % 4
      sum(shiftright(col("w0"), sh).bitwiseAND(lit(1L)) +
        shiftleft(shiftright(col("w1"), sh).bitwiseAND(lit(1L)), 32))
    }
    def cnt(b: Int): Column =
      if (b < 32) packed(b).bitwiseAND(lit(0xFFFFFFFFL))
      else shiftright(packed(b - 32), 32)
    def bitSet(b: Int): Column = cnt(b) * 2 >= count(lit(1))
    // the bits are disjoint, so OR packs them with no overflow-checked adds
    val code = (0 until 64).map { b =>
      // 1L << 63 wraps to Long.MinValue — intentional: bit 63 is the sign
      // bit of the packed two's-complement code
      when(bitSet(b), lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)
    // The code stays the aggregate's own result expression (Spark computes
    // each repeated sum and the count once), and the bands read it: in a
    // projection above the aggregate, a consumer's filter on the code or a
    // band is rewritten to repeat all 64 sign tests per reference, and
    // that stage outgrows the JVM's 64 KB method limit in codegen.
    val bands = (0 until 4).map { k =>
      shiftrightunsigned(col("simhash"), 16 * k).bitwiseAND(lit(0xFFFFL))
        .cast("int").as(s"band$k")
    }
    withWords.groupBy("k").agg(code.as("simhash"))
      .select(col("k") +: col("simhash") +: bands: _*)
  }

  /** Near-dup pairs at Hamming distance ≤ maxHamming over 64-bit SimHash,
    * via a banded bucket join: the code splits into 4×16-bit bands, and by
    * pigeonhole any pair within distance 3 agrees on ≥1 band — so a
    * band-equality equi-join finds all such pairs without an all-pairs scan.
    * (maxHamming ≤ 3 is exact; 4..7 is a recall-losing heuristic, rejected
    * here to keep the operator honest.)
    *
    * Scale: the signature frame is O(docs) rows of ~40 bytes (persisted —
    * tokenize+md5 runs once); the join moves (key, code) pairs through
    * 4×2^16 well-spread buckets; `maxBucket` is the skew valve for
    * degenerate corpora (e.g. millions of empty docs sharing one code) —
    * dropped buckets are exposed by [[simhash64MegaBuckets]], never silent.
    */
  def simhashNearDup64(df: DataFrame, keyCol: String, textCol: String,
                       maxHamming: Int = 3,
                       maxBucket: Long = 100000L): DataFrame = {
    require(maxHamming <= 3, "4 bands guarantee recall only up to distance 3")
    val sig = simhash64(df, keyCol, textCol).persist(MEMORY_AND_DISK)
    val exploded = sig.select(col("k"), col("simhash"),
      posexplode(array(col("band0"), col("band1"), col("band2"), col("band3")))
        .as(Seq("band", "bv")))
    val okBuckets = exploded.groupBy("band", "bv").agg(count(lit(1)).as("n"))
      .filter(col("n") > 1 && col("n") <= maxBucket)
      .select("band", "bv")
    // one semi-join valve, as in candidatesFromBands: `y` shares `x`'s bucket
    val inB = exploded.join(okBuckets, Seq("band", "bv"), "left_semi")
    inB.as("x").join(exploded.as("y"),
        col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
          col("x.k") < col("y.k"))
      .select(col("x.k").as("a"), col("y.k").as("b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Benchmark-contamination check: rows of `bench` whose normalized text
    * fingerprint (lowercase, alphanumerics only — [[TextStats]]'s
    * fingerprint) also appears in `corpus`. The train/test-overlap sweep
    * every training pipeline needs before evaluation.
    *
    * Scale shape: the benchmark is small — its fingerprint set broadcasts,
    * so the corpus scan is filtered MAP-SIDE (BroadcastHashJoin LeftSemi, no
    * shuffle of the corpus); only the matched fingerprints (≤ |bench|)
    * move. Output: (bench key, fingerprint) per contaminated benchmark row.
    */
  def contamination(corpus: DataFrame, bench: DataFrame,
                    keyCol: String, textCol: String): DataFrame = {
    def fp(c: Column): Column =
      md5(regexp_replace(lower(c), "[^a-z0-9]", ""))
    val bfp = bench.select(col(keyCol).as("bench_id"), fp(col(textCol)).as("fp"))
    // no fanOut here (measured): the map-side fingerprint+semi-join is
    // light enough that a fan-out shuffle costs more than it buys
    val hits = corpus.select(fp(col(textCol)).as("fp"))
      .join(broadcast(bfp.select("fp").distinct()), Seq("fp"), "left_semi")
      .distinct()
    bfp.join(hits, Seq("fp")).select(col("bench_id"), col("fp"))
  }

  /** Connected components over an undirected near-dup pair graph
    * ((a, b) rows → (id, comp) with comp = min id in the component) — the
    * standard last step of a dedup pipeline: candidate pairs → duplicate
    * CLUSTERS → one canonical document per cluster.
    *
    * Algorithm: distributed Shiloach–Vishkin over RDDs. The label state
    * (id → comp) is hash-partitioned into `spark.sql.shuffle.partitions`
    * partitions, co-partitioned with the symmetric edge RDD (u → v) that is
    * built and persisted once per call. Each round:
    *  (1) PROPAGATE: every vertex takes the min label among itself and its
    *     neighbours — a narrow `zipPartitions` of edges and labels sends
    *     each label along its edges, then `reduceByKey` (map-side combine)
    *     keeps the min; the vertex's old label rides in the same record.
    *  (2) HOOK: every label-tree root (an old label) receives the min new
    *     label seen anywhere in its tree, and each vertex takes its root's.
    *     Propagation + shortcut alone is NOT O(log n): once a region
    *     collapses to a star, its root only learns a smaller label one hop
    *     per round from the region's border (measured on the 10^4 path:
    *     >40 rounds).
    *  (3) SHORTCUT: comp ← min(comp, comp(comp)) (pointer jumping).
    * Hook + shortcut make the tree count at least halve per round, so rounds
    * are O(log n) on ANY graph shape — a 10^4-node path (diameter 9999)
    * converges in ≲14 rounds where plain propagation needs the diameter
    * (PipelineSpec pins ≤ 2·log2(n) against a union-find). Near-dup LSH
    * graphs (unions of near-cliques) converge in 1-4 rounds. A round is one
    * Spark job whose count is the exact convergence test; hitting `maxIter`
    * without convergence THROWS rather than silently returning partial
    * components (no-silent-caps).
    *
    * Skew valve: hook and shortcut are lookups keyed by a LABEL, and once a
    * giant component forms most vertices share one. Each vertex partition
    * asks the label's owner once per distinct label it holds and applies
    * the answer locally, so a hot label costs at most numPartitions request
    * rows (hook's min is combined per partition before it moves) instead of
    * funnelling the component's rows through one task.
    *
    * Lineage: each round's state is cut with `RDD.checkpoint()` when the
    * SparkContext has a checkpoint directory, so the loop survives executor
    * loss, else with `RDD.localCheckpoint()` (blocks spill to disk; losing
    * an executor fails the call). An RDD carries no SQL statistics, so no
    * size estimate compounds across rounds (a `Dataset.localCheckpoint`
    * leaf copies its origin's, and a self-join plan squared it per round).
    *
    * Do not reintroduce a bare `queryExecution.toRdd` over a persisted
    * frame that is not yet materialized (the old loop's lineage cut did):
    * `Dataset.persist` builds its cache under a cloned session, the bare
    * `toRdd` materializes it under that clone's session id, and executors
    * create one class loader per session id — every generated class then
    * compiled again on every call. Measured on four calls over a persisted
    * groupBy's self-join: four new loaders through the bare `toRdd`, none
    * through `Dataset.rdd` (which the edge pass uses) or `count()`.
    *
    * The edge pass computes `pairs` once. Keys must be integral (tinyint
    * to bigint — anything else throws at call time); id and comp take the
    * wider of the two key types and their nullability, and a pair with a
    * null end joins nothing. Every RDD the call persists (at
    * MEMORY_AND_DISK: a round's lineage ends at its checkpoint and the
    * result's at the last round's, so an evicted block could not
    * recompute) is unpersisted before it returns or throws; the result
    * comes back as a MEMORY_AND_DISK SQL cache entry, so `unpersist` or
    * `clearCache()` frees it.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25): DataFrame =
    connectedComponentsWithRounds(pairs, maxIter)._1

  /** [[connectedComponents]] plus the number of rounds it took — exposed so
    * tests can pin the O(log n) convergence bound.
    */
  private[graft] def connectedComponentsWithRounds(
      pairs: DataFrame, maxIter: Int = 25): (DataFrame, Int) = {
    val keyType = ccKeyType(pairs)
    val nullable = pairs.schema("a").nullable || pairs.schema("b").nullable
    val spark = pairs.sparkSession
    val part = new HashPartitioner(spark.conf.get("spark.sql.shuffle.partitions").toInt)
    val held = mutable.ArrayBuffer.empty[RDD[_]]
    def hold[T](r: RDD[T]): RDD[T] = { held += r; r.persist(MEMORY_AND_DISK) }
    def release(rs: RDD[_]*): Unit =
      rs.foreach { r => held -= r; r.unpersist(blocking = false) }
    try {
      val edges = hold(pairs.select(col("a"), col("b")).rdd.flatMap { r =>
        if (r.isNullAt(0) || r.isNullAt(1)) Iterator.empty
        else {
          val (a, b) = (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue)
          Iterator((a, b), (b, a))
        }
      }.partitionBy(part))
      // seed with comp₀ = min(self, direct neighbours), which saves a round;
      // edges are already partitioned, so this reduce shuffles nothing
      var labels: RDD[(Long, Long)] = edges
        .mapPartitions(_.map { case (u, v) => (u, math.min(u, v)) }, preservesPartitioning = true)
        .reduceByKey(part, math.min(_: Long, _: Long))
      var state: RDD[(Long, (Long, Long))] = null // (id, (comp, old comp))
      var iter = 0
      var converged = false
      while (!converged && iter < maxIter) {
        val prop = hold(propagate(edges, labels, part))
        val hooked = hold(hook(prop, part))
        val next = hold(shortcut(hooked, part))
        if (spark.sparkContext.getCheckpointDir.isDefined) next.checkpoint()
        else next.localCheckpoint()
        val changed = next.filter { case (_, (c, old)) => c != old }.count()
        release(Seq(prop, hooked) ++ Option(state): _*)
        state = next
        labels = next.mapValues(_._1)
        converged = changed == 0
        iter += 1
      }
      if (!converged)
        throw new IllegalStateException(
          s"connectedComponents did not converge in $maxIter rounds — " +
            "raise maxIter (Shiloach–Vishkin rounds are O(log n): the tree " +
            "count at least halves per round, so 25 rounds cover ~2^25 trees)")
      val toKey: Long => Any = keyType match {
        case ByteType => _.toByte
        case ShortType => _.toShort
        case IntegerType => _.toInt
        case _ => identity
      }
      val out = spark.createDataFrame(
        state.map { case (id, (c, _)) => Row(toKey(id), toKey(c)) },
        StructType(Seq(StructField("id", keyType, nullable),
          StructField("comp", keyType, nullable))))
      // one job with no exchange; count() would run three
      val cached = out.persist(MEMORY_AND_DISK)
      cached.foreachPartition((_: Iterator[Row]) => ())
      (cached, iter)
    } finally release(held.toSeq: _*)
  }

  /** The wider of the two key types; throws, naming the type, unless both
    * are integral.
    */
  private def ccKeyType(pairs: DataFrame): DataType = {
    val widening = Seq(ByteType, ShortType, IntegerType, LongType)
    Seq("a", "b").map { c =>
      val t = pairs.schema(c).dataType
      if (!widening.contains(t))
        throw new IllegalArgumentException(
          s"connectedComponents: key column '$c' has type ${t.simpleString}; " +
            "expected an integral type (tinyint, smallint, int or bigint)")
      t
    }.maxBy(widening.indexOf(_))
  }

  /** PROPAGATE: (id, (min label over id and its neighbours, id's label)). */
  private def propagate(edges: RDD[(Long, Long)], labels: RDD[(Long, Long)],
                        part: Partitioner): RDD[(Long, (Long, Long))] =
    edges.zipPartitions(labels) { (es, ls) =>
      val own = mutable.LongMap.empty[Long] ++= ls
      own.iterator.map { case (id, c) => (id, (c, c)) } ++
        es.map { case (u, v) => (v, (own(u), Long.MaxValue)) }
    }.reduceByKey(part, (x, y) => (math.min(x._1, y._1), math.min(x._2, y._2)))

  /** Per vertex partition, one request per distinct `label(v)`, carrying the
    * partition's index and the min `payload(v)` over its vertices with that
    * label, routed to the label's owner partition. Answers go back keyed by
    * that index: a HashPartitioner sends an Int key k in [0, numPartitions)
    * to partition k, so they zip with the partition that asked.
    */
  private def ask(state: RDD[(Long, (Long, Long))], part: Partitioner)(
      label: ((Long, Long)) => Long,
      payload: ((Long, Long)) => Long): RDD[(Long, (Int, Long))] =
    state.mapPartitionsWithIndex { (pid, vs) =>
      val m = mutable.LongMap.empty[Long]
      vs.foreach { case (_, v) =>
        val k = label(v)
        m(k) = math.min(m.getOrElse(k, Long.MaxValue), payload(v))
      }
      m.iterator.map { case (k, p) => (k, (pid, p)) }
    }.partitionBy(part)

  /** HOOK: each vertex takes the min new label over its old label's tree. */
  private def hook(prop: RDD[(Long, (Long, Long))],
                   part: Partitioner): RDD[(Long, (Long, Long))] = {
    val answers = ask(prop, part)(_._2, _._1).mapPartitions { reqs =>
      val asked = reqs.toArray
      val best = mutable.LongMap.empty[Long]
      asked.foreach { case (m, (_, c)) => best(m) = math.min(best.getOrElse(m, c), c) }
      asked.iterator.map { case (m, (pid, _)) => (pid, (m, best(m))) }
    }.partitionBy(part)
    prop.zipPartitions(answers, preservesPartitioning = true) { (vs, as) =>
      val root = mutable.LongMap.empty[Long] ++= as.map(_._2)
      vs.map { case (id, (_, old)) => (id, (root(old), old)) }
    }
  }

  /** SHORTCUT: comp ← min(comp, comp(comp)); labels are vertex ids, so the
    * owner of a label always holds it.
    */
  private def shortcut(hooked: RDD[(Long, (Long, Long))],
                       part: Partitioner): RDD[(Long, (Long, Long))] = {
    val answers = hooked.zipPartitions(ask(hooked, part)(_._1, _ => 0L)) { (vs, reqs) =>
      val own = mutable.LongMap.empty[Long] ++= vs.map { case (id, (c, _)) => (id, c) }
      reqs.map { case (h, (pid, _)) => (pid, (h, own(h))) }
    }.partitionBy(part)
    hooked.zipPartitions(answers, preservesPartitioning = true) { (vs, as) =>
      val jump = mutable.LongMap.empty[Long] ++= as.map(_._2)
      vs.map { case (id, (c, old)) => (id, (math.min(c, jump(c)), old)) }
    }
  }

  /** Duplicate clusters from near-dup pairs: one row per component with the
    * canonical (min) id and the member count. Documents not in any pair are
    * singletons by definition and are not emitted.
    */
  def dedupGroups(pairs: DataFrame, maxIter: Int = 25): DataFrame =
    connectedComponents(pairs, maxIter)
      .groupBy(col("comp").as("canonical"))
      .agg(count(lit(1)).as("n_members"))

  /** Dropped mega-buckets of [[simhashNearDup64]] under the same parameters
    * (band, bv, n) with n > maxBucket — the no-silent-caps companion.
    */
  def simhash64MegaBuckets(df: DataFrame, keyCol: String, textCol: String,
                           maxBucket: Long = 100000L): DataFrame =
    simhash64(df, keyCol, textCol)
      .select(col("k"),
        posexplode(array(col("band0"), col("band1"), col("band2"), col("band3")))
          .as(Seq("band", "bv")))
      .groupBy("band", "bv").agg(count(lit(1)).as("n"))
      .filter(col("n") > maxBucket)
}
