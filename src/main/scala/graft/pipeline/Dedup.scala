package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

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
  */
object Dedup {

  /** Cache lifecycle: the LSH/signature frames below are persisted so the
    * expensive scan pass runs once per call instead of per consumer. The
    * cache entries live until `spark.catalog.clearCache()` / session end —
    * long-lived drivers that loop over corpora should either clear between
    * iterations or pass `storage = StorageLevel.NONE` to trade recompute
    * for zero pinned blocks.
    */
  private def maybePersist(df: DataFrame, storage: StorageLevel): DataFrame =
    if (storage == StorageLevel.NONE) df else df.persist(storage)

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
                        hashEngine: String = "md5",
                        storage: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    val bands = maybePersist(
      minhashBands(df, keyCol, textCol, numBands, shingleN, hashEngine), storage)
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
    */
  private def candidatesFromBands(bands: DataFrame, keyCol: String,
                                  maxBucket: Long): DataFrame = {
    val bucketSizes = bands.groupBy("band", "h").agg(count(lit(1)).as("n"))
      .filter(col("n") > 1 && col("n") <= maxBucket)
      .select("band", "h")
    val inBuckets = bands.join(bucketSizes, Seq("band", "h"))
    inBuckets.as("x").join(inBuckets.as("y"),
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
                   maxDf: Long = 100000L,
                   storage: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    // the per-doc shingle ARRAYS are the persisted root: the exploded frame
    // (both self-join sides + the valve's document-frequency agg) derives
    // from the cache, and the per-doc sizes read size(array) straight off
    // it — the former sizes groupBy over every exploded row (one full
    // exchange) is gone
    val shingled = maybePersist(
      shingledFrame(df, keyCol, textCol, shingleN), storage)
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
    */
  def jaccardPairsLsh(df: DataFrame, keyCol: String, textCol: String,
                      shingleN: Int = 3, threshold: Double = 0.5,
                      numBands: Int = 8, maxBucket: Long = 1000L,
                      hashEngine: String = "md5",
                      storage: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    // ONE tokenize+shingle pass: the persisted shingled frame feeds both
    // the band index (candidate generation) and the exact verification —
    // previously each side ran its own full pass
    val shingled = maybePersist(
      shingledFrame(df, keyCol, textCol, shingleN), storage)
    val bands = maybePersist(
      bandsFromShingled(shingled, keyCol, numBands, hashEngine), storage)
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
    * 16K..16K+15 as a non-negative int — computed from the sign sums, not by
    * shifting the packed code, so no engine-specific negative-shift
    * semantics are involved.
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
    val sums = (0 until 32).map { b =>
      val sh = (7 - b / 4) * 4 + b % 4
      sum(shiftright(col("w0"), sh).bitwiseAND(lit(1L)) +
        shiftleft(shiftright(col("w1"), sh).bitwiseAND(lit(1L)), 32))
        .as(s"p_$b")
    } :+ count(lit(1)).as("__n")
    val agg = withWords.groupBy("k").agg(sums.head, sums.tail: _*)
    def cnt(b: Int): Column =
      if (b < 32) col(s"p_$b").bitwiseAND(lit(0xFFFFFFFFL))
      else shiftright(col(s"p_${b - 32}"), 32)
    def bitSet(b: Int): Column = cnt(b) * 2 >= col("__n")
    val code = (0 until 64).map { b =>
      // 1L << 63 wraps to Long.MinValue — intentional: bit 63 is the sign
      // bit of the packed two's-complement code
      when(bitSet(b), lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    val bands = (0 until 4).map { k =>
      (0 until 16).map { j =>
        when(bitSet(16 * k + j), lit(1 << j)).otherwise(lit(0))
      }.reduce(_ + _).as(s"band$k")
    }
    agg.select(col("k") +: code.as("simhash") +: bands: _*)
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
                       maxBucket: Long = 100000L,
                       storage: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    require(maxHamming <= 3, "4 bands guarantee recall only up to distance 3")
    val sig = maybePersist(simhash64(df, keyCol, textCol), storage)
    val exploded = sig.select(col("k"), col("simhash"),
      posexplode(array(col("band0"), col("band1"), col("band2"), col("band3")))
        .as(Seq("band", "bv")))
    val okBuckets = exploded.groupBy("band", "bv").agg(count(lit(1)).as("n"))
      .filter(col("n") > 1 && col("n") <= maxBucket)
      .select("band", "bv")
    val inB = exploded.join(okBuckets, Seq("band", "bv"))
    inB.as("x").join(inB.as("y"),
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
    * Algorithm: distributed Shiloach–Vishkin — per round (1) PROPAGATE:
    * every vertex takes the min label among itself and its neighbors (one
    * equi-join + one partial-agg groupBy, both shuffling O(edges) small
    * rows; the convergence test is folded into the same aggregation — old
    * and new labels come out of one groupBy); (2) HOOK: every label-tree
    * root receives the best candidate seen anywhere in its tree (one
    * O(vertices) groupBy on the old label + one join back); (3) SHORTCUT:
    * each label is replaced by its label's label (`comp ← comp(comp)`, one
    * labels-sized self-join). Hook + shortcut make the number of label
    * trees at least halve per round, so rounds are O(log n) on ANY graph
    * shape — a 10^4-node path (diameter 9999) converges in ≲14 rounds
    * where plain propagation needs the full diameter (PipelineSpec pins
    * the ≤2·log2(n) bound against a union-find oracle). Near-dup LSH
    * graphs (unions of near-cliques) still converge in 2-4 rounds. Each
    * round is lineage-CUT through a persisted RDD round-trip (see the
    * in-loop comment: the self-join would otherwise double the plan tree —
    * and, under localCheckpoint, square the propagated size estimate —
    * every round). The loop is driver-bounded with an exact convergence
    * check per round; hitting `maxIter` without convergence THROWS rather
    * than silently returning partial components (no-silent-caps).
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25,
                          storage: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame =
    connectedComponentsWithRounds(pairs, maxIter, storage)._1

  /** [[connectedComponents]] plus the number of rounds it took — exposed so
    * tests can pin the O(log n) convergence bound.
    */
  private[graft] def connectedComponentsWithRounds(
      pairs: DataFrame, maxIter: Int = 25,
      storage: StorageLevel = StorageLevel.MEMORY_AND_DISK): (DataFrame, Int) = {
    // persist the INPUT pairs before the symmetric union: its two branches
    // are distinct plan subtrees over the same upstream, so an unpersisted
    // `pairs` (typically the whole LSH-candidate + exact-verify pipeline)
    // would execute end-to-end TWICE while edges materializes. Materialize
    // EAGERLY: a lazy persist lets the union's two branches race per cache
    // block and both recompute the upstream pipeline before one wins the
    // store (measured ~2× the pipeline's wall at bench sf1)
    val pairsP = maybePersist(pairs.select(col("a"), col("b")), storage)
    if (storage != StorageLevel.NONE) pairsP.count()
    // edges stays UNpersisted: it is a projection+union straight over the
    // materialized pairs cache, so each consumer's re-read costs one cache
    // scan — cheaper than maintaining (and materializing) a second cache
    // layer of the same rows
    val edges = pairsP.select(col("a").as("u"), col("b").as("v"))
      .union(pairsP.select(col("b").as("u"), col("a").as("v")))
    // seed with round 1 directly: comp₀ = min(self, direct neighbors) — one
    // groupBy instead of a full join+agg+convergence round
    var labels = maybePersist(
      edges.groupBy("u").agg(min("v").as("mn"))
        .select(col("u").as("id"), least(col("u"), col("mn")).as("comp")),
      storage)
    // `cached` tracks the frame actually persisted each round: unpersist on
    // a DERIVED frame (labels = next.drop("__old")) is a silent no-op —
    // CacheManager only uncaches plans sameResult with the argument.
    // From round 1 on, rounds live as persisted RDDs (`prevRdd`), freed one
    // round later; the FINAL round's RDD is freed before returning (the
    // result is re-cached through maybePersist so its lifecycle is the
    // ordinary SQL CacheManager one — clearCache()-able; under
    // storage = NONE the one final RDD stays pinned until the caller drops
    // the returned frame, the price of a recompute-free result with zero
    // SQL-cache footprint).
    var cached = labels
    var prevRdd: Option[org.apache.spark.rdd.RDD[_]] = None
    // best-effort cleanup on ANY failure path (mid-round job failure,
    // non-convergence): without it the per-round prop/hooked SQL caches
    // and the round RDDs (including a partially materialized CURRENT
    // round's) stay pinned in CacheManager/BlockManager for the rest of
    // the session
    var propCur: DataFrame = null
    var hookedCur: DataFrame = null
    var curRdd: Option[org.apache.spark.rdd.RDD[_]] = None
    def cleanupAll(): Unit = {
      def quiet(f: => Unit): Unit = try f catch { case _: Throwable => }
      if (storage != StorageLevel.NONE) {
        quiet(pairsP.unpersist())
        quiet(cached.unpersist())
        if (propCur != null) quiet(propCur.unpersist())
        if (hookedCur != null) quiet(hookedCur.unpersist())
      }
      curRdd.foreach(r => quiet(r.unpersist()))
      prevRdd.foreach(r => quiet(r.unpersist()))
    }
    var iter = 0
    var converged = false
    try {
    while (!converged && iter < maxIter) {
      // neighbor labels flow along edges; keep own label in the pool,
      // TAGGED, so the same aggregation that computes the new label also
      // carries the old one — the convergence test then reads the aggregated
      // frame directly instead of paying a second join per round
      val msgs = edges.join(labels.withColumnRenamed("id", "v"), Seq("v"))
        .select(col("u").as("id"), col("comp"), lit(false).as("self"))
      val prop = labels.select(col("id"), col("comp"), lit(true).as("self"))
        .unionByName(msgs)
        .groupBy("id")
        .agg(min("comp").as("comp"),
          min(when(col("self"), col("comp"))).as("__old"))
      val propP = maybePersist(prop, storage)
      propCur = propP
      // HOOK (Shiloach–Vishkin): every tree root m receives the best
      // candidate seen ANYWHERE in its tree this round — one map-side
      // partial-min groupBy on the old label + a join back. Propagation +
      // shortcut alone is NOT O(log n): once a region collapses to a star,
      // its root only learns a smaller label by 1-hop propagation from the
      // region boundary, and the shortcut composes through the stalled
      // root (measured on the 10^4 path: plateaus of doubling length,
      // >40 rounds). Hooking moves boundary information to the root in one
      // round, so trees merge every round and the tree count at least
      // halves — the classic O(log n) bound.
      // Deliberately a groupBy+join, NOT min().over(partitionBy(__old)):
      // once a giant component dominates, most rows share one __old and a
      // window would funnel that component's ENTIRE row set through a
      // single sort task with no skew mitigation — the aggregation is
      // skew-free (map-side partials) and the hot-key join back is
      // AQE-skew-splittable. prop is persisted for its two consumers.
      val hooks = propP.groupBy(col("__old").as("__hid"))
        .agg(min("comp").as("__hooked"))
      // inner join: every __old is a group key of hooks (grouped from prop
      // itself, and every id carries a self row so __old is never null),
      // and __hooked = min(comp) over a group containing this row, so it
      // IS the hooked label — no left/coalesce/least defence needed
      val hooked = maybePersist(
        propP.join(hooks, col("__old") === col("__hid"))
          .select(col("id"), col("__hooked").as("comp"), col("__old")),
        storage)
      hookedCur = hooked
      // SHORTCUT: comp ← comp(comp) (pointer jumping). Labels are always
      // vertex ids (mins over vertex sets), so the lookup hits; labels
      // only ever decrease (comp(x) ≤ x), so least() is monotone-safe.
      val jumped = hooked.as("a").join(
          hooked.select(col("id").as("__jid"), col("comp").as("__jcomp"))
            .as("b"),
          col("a.comp") === col("b.__jid"), "left")
        .select(col("a.id").as("id"),
          least(col("a.comp"),
            coalesce(col("b.__jcomp"), col("a.comp"))).as("comp"),
          col("a.__old").as("__old"))
      // LINEAGE CUT, not a plain persist: the self-join references the
      // previous round TWICE, so without a cut the logical plan tree (and
      // every derived cost) DOUBLES per round — 2^rounds nodes by round 14,
      // and Catalyst plan work dominates the job (measured: the 10^4-node
      // path test ran 20 min pre-cut). localCheckpoint is NOT the right
      // cut here: Spark copies the origin plan's Statistics onto the new
      // LogicalRDD leaf, and join size estimation MULTIPLIES child
      // sizeInBytes — the stat value then SQUARES every round (a BigInt
      // doubling in bit-length per round; by round ~14 Catalyst multiplies
      // million-bit integers — jstack showed BigInteger.multiplyToomCook3).
      // The RDD round-trip below creates a fresh leaf with default stats:
      // constant plan, constant stats, explicit block lifecycle. The round
      // RDD is persisted even under storage = NONE — an unpersisted
      // self-join chain recomputes 2^rounds times, so there is no
      // persistence-free variant of this loop (round frames are O(vertices)
      // slim rows; freed two rounds later below).
      // disk-backed ALWAYS (MEMORY_ONLY included): predecessor rounds are
      // already unpersisted, so a memory-evicted round block would recompute
      // through the doubled lineage — the 2^rounds blowup this cut exists
      // to prevent. MEMORY_AND_DISK spills instead of dropping. (Residual:
      // executor LOSS still drops its disk blocks — a multi-hour cluster
      // run that must survive that needs reliable checkpointing, out of
      // scope for the round loop.)
      val roundLevel =
        if (storage == StorageLevel.NONE || storage == StorageLevel.MEMORY_ONLY)
          StorageLevel.MEMORY_AND_DISK
        else storage
      // InternalRow-layer round-trip (GraftInternalRows): same fresh-leaf /
      // default-stats cut as the old `jumped.rdd` + createDataFrame route,
      // WITHOUT the per-row UnsafeRow→Row→UnsafeRow conversion that route
      // pays every round (boxing every field of every vertex row twice)
      val (next, nextRdd) =
        org.apache.spark.sql.GraftInternalRows.cutLineage(jumped, roundLevel)
      curRdd = Some(nextRdd) // tracked for failure-path cleanup of the count
      val changed = next.filter(col("comp") =!= col("__old")).count()
      if (storage != StorageLevel.NONE) cached.unpersist()
      prevRdd.foreach(_.unpersist())
      if (storage != StorageLevel.NONE) { propP.unpersist(); hooked.unpersist() }
      propCur = null; hookedCur = null
      cached = next
      prevRdd = Some(nextRdd)
      curRdd = None
      labels = next.drop("__old")
      converged = changed == 0
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds — " +
          "raise maxIter (Shiloach–Vishkin rounds are O(log n): the tree " +
          "count at least halves per round, so 25 rounds cover ~2^25 trees)")
    // hand the result back through the ordinary SQL-cache lifecycle: cache
    // the final labels, materialize them, then free the last round's RDD —
    // the caller's frame is clearCache()-able like every other cached frame
    // in this module. Under storage = NONE the RDD stays (see above).
    if (storage != StorageLevel.NONE) {
      val out = labels.persist(storage)
      out.count()
      prevRdd.foreach(_.unpersist()); prevRdd = None
      labels = out
    }
    if (storage != StorageLevel.NONE) pairsP.unpersist()
    (labels, iter)
    } catch { case t: Throwable => cleanupAll(); throw t }
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
