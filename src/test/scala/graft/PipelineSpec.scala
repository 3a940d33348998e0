package graft

import graft.audio.AudioGen
import graft.pipeline.{Dedup, Multimodal, SimSearch}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** Pipeline operators with no SQL oracle: multimodal feature extraction,
  * LSH recall vs brute force, dedup invariants.
  */
class PipelineSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val clips = AudioGen.clips(spark, 500, seed = 42L).cache()
  private lazy val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
  private lazy val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").cache()

  test("audio features: real decode over binary column, sane physics") {
    val feats = Multimodal.audioFeatureTable(clips, "clip_id", "bytes").cache()
    val decodable = feats.filter($"n_samples".isNotNull)
    assert(decodable.count() == 500 - (0 until 500).count(_ % 677 == 29))
    // rms <= peak <= 1, zcr in [0,1], duration consistent with samples/sr
    assert(decodable.filter($"rms" > $"peak" || $"peak" > 1.0).count() == 0)
    assert(decodable.filter($"zero_cross_rate" < 0 || $"zero_cross_rate" > 1).count() == 0)
    assert(decodable.filter(
      abs($"duration_s" - $"n_samples" / $"sr_hz") > 1e-9).count() == 0)
  }

  test("frame sampling produces expected frame counts") {
    val fe = Multimodal.frameEnergies(frameLen = 160, stride = 2)
    val r = clips.limit(50).select($"clip_id", fe($"bytes").as("frames"),
      Multimodal.audioFeatures($"bytes").getField("n_samples").as("n"))
      .filter($"frames".isNotNull)
    assert(r.filter(size($"frames") =!= ceil(floor($"n" / 160) / 2).cast("int")).count() == 0)
  }

  test("REAL image decode via JDK ImageIO: dims/channels/format/luma + bilinear resize") {
    import javax.imageio.ImageIO
    import java.awt.image.BufferedImage
    // deterministic synthetic images across three containers + one corrupt
    def genImage(i: Int, fmt: String): Array[Byte] = {
      val w = 16 + (i % 5) * 8
      val h = 12 + (i % 3) * 10
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w)
        img.setRGB(x, y, ((x * 37 + y * 91 + i * 13) % 256) * 0x010101)
      val bos = new java.io.ByteArrayOutputStream()
      ImageIO.write(img, fmt, bos)
      bos.toByteArray
    }
    val rows = (0 until 12).map { i =>
      val fmt = Seq("png", "bmp", "jpeg")(i % 3)
      (i.toLong, fmt, if (i == 11) Array[Byte](1, 2, 3) else genImage(i, fmt))
    }
    val df = rows.toDF("id", "fmt", "bytes")
    val feats = Multimodal.imageFeatureTable(df, "id", "bytes")
      .collect().map(r => r.getLong(0) -> r).toMap
    rows.foreach { case (i, fmt, bytes) =>
      if (i == 11) assert(feats(i).isNullAt(1), "corrupt bytes must decode to NULL")
      else {
        val r = feats(i)
        assert(r.getInt(1) == 16 + (i % 5) * 8 && r.getInt(2) == 12 + (i % 3) * 10)
        assert(r.getInt(3) == 3)
        assert(r.getString(4) == fmt)
        val luma = r.getDouble(5)
        assert(luma > 0.0 && luma < 1.0, s"luma $luma")
        // grayscale pixels (r=g=b): luma == mean intensity; exact for
        // lossless containers on a full (stride-1) grid
        if (fmt != "jpeg") {
          val img = ImageIO.read(new java.io.ByteArrayInputStream(bytes))
          val exp = (for (y <- 0 until img.getHeight; x <- 0 until img.getWidth)
            yield (img.getRGB(x, y) & 0xFF) / 255.0).sum / (img.getWidth * img.getHeight)
          assert(math.abs(luma - exp) < 1e-9, s"$luma vs $exp")
        }
      }
    }
    // resize: bounded side, aspect preserved, output is decodable PNG
    val big = new BufferedImage(200, 100, BufferedImage.TYPE_INT_RGB)
    val bigBytes = { val bos = new java.io.ByteArrayOutputStream(); ImageIO.write(big, "png", bos); bos.toByteArray }
    val resized = Seq((1L, bigBytes)).toDF("id", "bytes")
      .select(Multimodal.resizeImage(64)($"bytes").as("rb"))
      .collect()(0).getAs[Array[Byte]](0)
    val back = ImageIO.read(new java.io.ByteArrayInputStream(resized))
    assert(back.getWidth == 64 && back.getHeight == 32)
    // small images pass through untouched
    val small = genImage(0, "png")
    val passThrough = Seq((1L, small)).toDF("id", "bytes")
      .select(Multimodal.resizeImage(64)($"bytes").as("rb"))
      .collect()(0).getAs[Array[Byte]](0)
    assert(passThrough.sameElements(small))
    // decompression bomb: a valid PNG HEADER declaring 100000×100000 must
    // yield NULL from the dimension peek, never a full decode attempt
    def bombPng(w0: Int, h0: Int): Array[Byte] = {
      val ihdrData = java.nio.ByteBuffer.allocate(13)
        .putInt(w0).putInt(h0).put(8.toByte).put(2.toByte)
        .put(0.toByte).put(0.toByte).put(0.toByte).array()
      val crc = new java.util.zip.CRC32()
      crc.update("IHDR".getBytes); crc.update(ihdrData)
      java.nio.ByteBuffer.allocate(8 + 4 + 4 + 13 + 4)
        .put(Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A))
        .putInt(13).put("IHDR".getBytes).put(ihdrData)
        .putInt(crc.getValue.toInt).array()
    }
    val bombed = Seq((1L, bombPng(100000, 100000))).toDF("id", "bytes")
      .select(Multimodal.imageFeatures($"bytes").as("f")).collect()(0)
    assert(bombed.isNullAt(0), "oversized canvas must be rejected at the header peek")
  }

  test("image decode stub: deterministic metadata + resize contract") {
    val meta = clips.limit(20)
      .select($"clip_id", Multimodal.decodeImageStub($"bytes").as("m"))
      .withColumn("r", Multimodal.resizeMeta($"m", 256))
    val rows = meta.select($"m.width", $"m.height", $"r.width", $"r.height").collect()
    rows.foreach { r =>
      assert(r.getInt(2) <= 256 && r.getInt(3) <= 256)
      assert(math.max(r.getInt(2), r.getInt(3)) <= math.max(r.getInt(0), r.getInt(1)))
    }
    // deterministic: same bytes → same meta
    val a = meta.select("m").collect().map(_.toString)
    val b = clips.limit(20).select(Multimodal.decodeImageStub($"bytes").as("m"))
      .select("m").collect().map(_.toString)
    assert(a.sameElements(b))
  }

  test("LSH near-dup finds every brute-force pair at its threshold (recall)") {
    val brute = SimSearch.bruteNearDup(emb, "vec_id", "embedding", 0.4)
      .select("a", "b").collect().map(_.toString).toSet
    val lsh = SimSearch.lshNearDup(emb, "vec_id", "embedding", 0.4, numPlanes = 4)
      .select("a", "b").collect().map(_.toString).toSet
    // 4 planes = coarse buckets → high recall on this corpus
    assert(lsh.subsetOf(brute))
    assert(brute.isEmpty || lsh.nonEmpty)
  }

  test("IVF top-k: good recall vs brute force at a fraction of the distance work") {
    val model = SimSearch.trainIvf(emb, "vec_id", "embedding", k = 8, iters = 5)
    assert(model.centroids.size == 8)
    val probes = emb.filter($"vec_id" < 20)
    val brute = SimSearch.bruteTopK(emb, probes, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = SimSearch.ivfTopK(emb, probes, "vec_id", "embedding", 5, model, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = ivf.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.5, s"IVF recall $recall too low") // 4/8 cells probed
    // determinism: retraining yields identical centroids
    val model2 = SimSearch.trainIvf(emb, "vec_id", "embedding", k = 8, iters = 5)
    assert(model.centroids.map(_.toSeq) == model2.centroids.map(_.toSeq))
  }

  test("minhash candidates superset high-jaccard pairs (banding guarantee)") {
    val jac = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.8)
      .select("a", "b").collect().map(_.toString).toSet
    val cand = Dedup.minhashCandidates(docs, "doc_id", "text", numBands = 8)
      .collect().map(_.toString).toSet
    assert(jac.subsetOf(cand), s"missing: ${jac.diff(cand).take(3)}")
    // the cheap-hash engine (xxhash64, the 100 TB knob) keeps the guarantee
    val candFast = Dedup.minhashCandidates(docs, "doc_id", "text",
      numBands = 8, hashEngine = "xxhash64").collect().map(_.toString).toSet
    assert(jac.subsetOf(candFast), s"missing: ${jac.diff(candFast).take(3)}")
  }

  test("minhash maxBucket valve: candidates = count-first reference, mega-buckets = the dropped ones") {
    // six copies of one text fill every band's bucket past maxBucket = 4;
    // four copies of another fill theirs exactly to it (kept)
    val planted = (0 until 6).map(i => (100000L + i, "one planted text six times over")) ++
      (0 until 4).map(i => (200000L + i, "another planted text four times"))
    val corpus = docs.select("doc_id", "text").union(planted.toDF("doc_id", "text"))
    val maxBucket = 4L
    val buckets = Dedup.minhashBands(corpus, "doc_id", "text", numBands = 8).collect()
      .groupBy(r => (r.getInt(1), r.getString(2))).view
      .mapValues(_.map(_.getLong(0)).toSeq).toMap
    // a null band value joins nothing (equi-join), but it is still a bucket
    val kept = buckets.collect {
      case ((_, h), ks) if h != null && ks.size > 1 && ks.size <= maxBucket => ks
    }
    val expected = kept.flatMap(ks => for (a <- ks; b <- ks if a < b) yield (a, b)).toSet
    val dropped = buckets.collect {
      case ((band, h), ks) if ks.size > maxBucket => (band, h, ks.size.toLong)
    }.toSet
    val cand = Dedup.minhashCandidates(corpus, "doc_id", "text", maxBucket = maxBucket)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val (extra, missed) = (cand.diff(expected), expected.diff(cand))
    assert(extra.isEmpty && missed.isEmpty, s"extra: ${extra.take(3)}; missed: ${missed.take(3)}")
    assert(!cand.contains((100000L, 100001L)), "a pair only a mega-bucket holds was kept")
    assert(cand.contains((200000L, 200001L)), "a bucket of exactly maxBucket was dropped")
    val mega = Dedup.minhashMegaBuckets(corpus, "doc_id", "text", maxBucket = maxBucket)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
    assert(mega == dropped)
    assert(dropped.size >= 8, s"the six copies must overflow all 8 bands: $dropped")
    spark.catalog.clearCache()
  }

  test("simhash64 banded join = exact all-pairs Hamming<=3 (recall + precision)") {
    val sig = Dedup.simhash64(docs, "doc_id", "text")
    // band packing is consistent with the packed code (shift+mask — ANSI
    // overflow-safe even for the sign bit in band3)
    val repack = sig.filter((0 until 4).map { k =>
      shiftright($"simhash", 16 * k).bitwiseAND(lit(0xFFFFL)) =!=
        col(s"band$k").cast("long")
    }.reduce(_ || _))
    assert(repack.count() == 0)
    // brute-force ground truth on the driver (500 docs)
    val codes = sig.select("k", "simhash").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (a, ca) <- codes; (b, cb) <- codes if a < b
      if java.lang.Long.bitCount(ca ^ cb) <= 3
    } yield (a, b, java.lang.Long.bitCount(ca ^ cb))).toSet
    val banded = Dedup.simhashNearDup64(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(banded == brute,
      s"banded-only: ${banded.diff(brute).take(3)}; missed: ${brute.diff(banded).take(3)}")
  }

  test("simhash64 and a filter over its code and bands compile in whole-stage codegen") {
    val key = "spark.sql.codegen.fallback"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      // with fallback off, a generated method over the JVM's 64 KB limit
      // fails the query instead of running the interpreted path
      val sig = Dedup.simhash64(docs, "doc_id", "text")
      // simhashNearDup64 leaves this frame cached; the filter must run over
      // the aggregate itself, not over a cache scan
      sig.unpersist()
      assert(sig.count() == docs.filter($"text".isNotNull).count())
      // band k is bits 16k..16k+15 of the code
      val unsliced = sig.filter((0 until 4).map { k =>
        shiftright($"simhash", 16 * k).bitwiseAND(lit(0xFFFFL)) =!=
          col(s"band$k").cast("long")
      }.reduce(_ || _))
      assert(unsliced.count() == 0)
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("deterministic sampling: exact per-stratum counts, append-stable hash membership") {
    import graft.pipeline.Sampling
    val s = Sampling.stratifiedExact(docs, "lang", "doc_id", 3)
      .groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val strata = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    strata.foreach { case (lang, n) =>
      assert(s(lang) == math.min(3L, n), s"stratum $lang: ${s(lang)} vs min(3,$n)")
    }
    // hash sample: membership is append-stable (a row's fate never changes
    // when the corpus grows) and the rate is roughly honored
    val full = Sampling.hashSample(docs, "doc_id", 0.2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val subset = Sampling.hashSample(docs.filter($"doc_id" < 250), "doc_id", 0.2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(subset == full.filter(_ < 250))
    val n = docs.count().toDouble
    assert(full.size > 0.1 * n && full.size < 0.3 * n, s"${full.size} of $n")
  }

  test("stratifiedExactScaled ≡ stratifiedExact (same rows, no full-stratum sort)") {
    import graft.pipeline.Sampling
    // plan shape FIRST (before any other persisted run seeds the cache
    // manager): the window's input must be the threshold-FILTERED frame, not
    // the raw stratum — the full scan must never feed a per-stratum sort.
    // The result is persisted, so its InMemoryRelation prints the cached plan
    val probe = Sampling.stratifiedExactScaled(docs, "lang", "doc_id", 3)
    val plan = probe.queryExecution.executedPlan.toString
    probe.unpersist()
    val winIdx = plan.indexOf("Window")
    val filterIdx = plan.indexOf("< __graft_thr")
    assert(winIdx >= 0 && filterIdx > winIdx,
      s"expected the threshold filter BELOW the window:\n$plan")
    def keySet(df: org.apache.spark.sql.DataFrame) =
      df.select("lang", "doc_id").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
    Seq(1, 3, 50, 5000).foreach { n => // n > every stratum exercises keep-all
      val window = keySet(Sampling.stratifiedExact(docs, "lang", "doc_id", n))
      val scaled = Sampling.stratifiedExactScaled(docs, "lang", "doc_id", n)
      assert(keySet(scaled) == window, s"n=$n")
      scaled.unpersist()
    }
    // a NULL stratum is a stratum (the window arm samples it via
    // partitionBy-null; the scale arm must too — null-safe joins)
    val withNull = docs.withColumn("lang",
      org.apache.spark.sql.functions.when($"doc_id" % 7 === 0, null)
        .otherwise($"lang"))
    val wN = keySet(Sampling.stratifiedExact(withNull, "lang", "doc_id", 3))
    val sN = Sampling.stratifiedExactScaled(withNull, "lang", "doc_id", 3)
    assert(keySet(sN) == wN, "null-stratum rows diverge")
    assert(wN.exists(_._1 == null), "test corpus must actually have a null stratum")
    sN.unpersist()
  }

  test("contamination finds exactly the benchmark rows whose fingerprint is in the corpus") {
    val corpus = docs.filter($"doc_id" >= 100)
    val bench = docs.filter($"doc_id" < 100)
    val got = Dedup.contamination(corpus, bench, "doc_id", "text")
      .select("bench_id").collect().map(_.getLong(0)).toSet
    // driver truth: normalized-text equality across the split
    def norm(s: String) = s.toLowerCase.replaceAll("[^a-z0-9]", "")
    val corpusFps = corpus.select("text").collect().map(r => norm(r.getString(0))).toSet
    val exp = bench.select("doc_id", "text").collect()
      .filter(r => corpusFps.contains(norm(r.getString(1)))).map(_.getLong(0)).toSet
    assert(got == exp)
  }

  test("connected components over near-dup pairs match driver union-find") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5).select("a", "b")
    val got = components(Dedup.connectedComponents(pairs))
    val exp = unionFind(pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
    assert(got == exp, s"diff: ${got.toSet.diff(exp.toSet).take(3)}")
    assert(got.nonEmpty)
  }

  /** Driver union-find with the min-root convention: vertex -> min id of
    * its component.
    */
  private def unionFind(es: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    (es.map(_._1) ++ es.map(_._2)).distinct.map(k => k -> find(k)).toMap
  }

  private def components(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap

  /** `n` disjoint 4-cliques with ids offset + 4c + m: the `neardup` shape. */
  private def cliques(n: Int, offset: Long = 0L): Seq[(Long, Long)] =
    (0 until n).flatMap { c =>
      val ids = (0 until 4).map(m => offset + c * 4L + m)
      for (i <- 0 until 4; j <- i + 1 until 4) yield (ids(i), ids(j))
    }

  private val ccGraphs: Seq[(String, () => Seq[(Long, Long)])] = Seq(
    // the hub is not the min, so every leaf's label arrives through the hub
    "a giant star (one hub, 10^4 leaves)" -> (() => (1L to 10000L).map(l => (77777L, l))),
    "1000 disjoint 4-cliques" -> (() => cliques(1000)),
    "a seeded random graph (3000 vertices, 3000 edges, random long ids)" -> { () =>
      val rnd = new scala.util.Random(7)
      val ids = Array.fill(3000)(rnd.nextLong())
      Seq.fill(3000)((ids(rnd.nextInt(ids.length)), ids(rnd.nextInt(ids.length))))
    })

  ccGraphs.foreach { case (name, graph) =>
    test(s"connected components equal driver union-find: $name") {
      val es = graph()
      val got = components(Dedup.connectedComponents(es.toDF("a", "b")))
      val exp = unionFind(es)
      assert(got == exp, s"diff: ${got.toSet.diff(exp.toSet).take(3)}")
    }
  }

  test("connected components keep integral key types and nullability; other key types fail at call time") {
    val ints = Dedup.connectedComponents(Seq((3, 1), (1, 2), (7, 9)).toDF("a", "b"))
    assert(ints.schema == StructType(Seq(StructField("id", IntegerType, nullable = false),
      StructField("comp", IntegerType, nullable = false))))
    assert(ints.collect().map(r => (r.getInt(0), r.getInt(1))).toMap ==
      Map(1 -> 1, 2 -> 1, 3 -> 1, 7 -> 7, 9 -> 7))
    // nullable int ids stay nullable; a pair with a null end joins nothing
    val opt = Dedup.connectedComponents(
      Seq((Option(3), Option(1)), (Option(7), Option.empty[Int])).toDF("a", "b"))
    assert(opt.schema == StructType(Seq(StructField("id", IntegerType, nullable = true),
      StructField("comp", IntegerType, nullable = true))))
    assert(opt.collect().map(r => (r.getInt(0), r.getInt(1))).toMap == Map(1 -> 1, 3 -> 1))
    // mixed widths widen to the wider type
    assert(Dedup.connectedComponents(Seq((1, 2L)).toDF("a", "b")).schema.map(_.dataType) ==
      Seq(LongType, LongType))
    Seq("double" -> Seq((1.0, 2.0)).toDF("a", "b"),
        "string" -> Seq(("x", "y")).toDF("a", "b")).foreach { case (typeName, df) =>
      var err: IllegalArgumentException = null
      val jobs = jobsStarted {
        err = intercept[IllegalArgumentException](Dedup.connectedComponents(df))
      }
      assert(jobs == 0, s"$typeName keys ran $jobs jobs before failing")
      assert(err.getMessage.contains(s"type $typeName"), err.getMessage)
    }
  }

  test("connected components with a checkpoint dir: each round is reliably checkpointed, same labels") {
    val es = ccGraphs.last._2()
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-checkpoint")
    val sc = spark.sparkContext
    def lineage(r: RDD[_]): Seq[RDD[_]] = r +: r.dependencies.flatMap(d => lineage(d.rdd))
    sc.setCheckpointDir(dir.toString)
    try {
      val labels = Dedup.connectedComponents(es.toDF("a", "b"))
      assert(components(labels) == unionFind(es))
      assert(lineage(labels.rdd).exists(r => r.isCheckpointed && r.getCheckpointFile.nonEmpty),
        "the final round's RDD is not reliably checkpointed")
      labels.unpersist()
    } finally {
      sc.setCheckpointDir(null) // back to local checkpoints for the other tests
      scala.reflect.io.Directory(dir.toFile).deleteRecursively()
    }
    assert(sc.getCheckpointDir.isEmpty)
  }

  test("connected components release every RDD they persist, on success and on failure") {
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    val before = sc.getPersistentRDDs.keySet
    def left = sc.getPersistentRDDs.keySet -- before
    val path = (1L until 200L).map(i => (i, i + 1)).toDF("a", "b")
    Dedup.connectedComponents(path).collect()
    spark.catalog.clearCache()
    assert(left.isEmpty, s"still persisted after clearCache(): $left")
    // the pair step's cached pairs and intermediates go with clearCache() too
    val pairs = Dedup.jaccardPairsLsh(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet"), "doc_id", "text")
    pairs.collect()
    Dedup.dedupGroups(pairs).collect()
    spark.catalog.clearCache()
    assert(left.isEmpty, s"still persisted after the pair step and clearCache(): $left")
    // one round cannot label a 200-node path: the call throws
    intercept[IllegalStateException](Dedup.connectedComponents(path, maxIter = 1))
    assert(left.isEmpty, s"still persisted after a failed call: $left")
  }

  test("dedupGroups over collected jaccardPairsLsh pairs reads their cache, not the candidate join") {
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val pairs = Dedup.jaccardPairsLsh(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet"), "doc_id", "text")
    val rows = pairs.collect()
    assert(rows.nonEmpty)
    val cached = pairs.queryExecution.withCachedData.collect { case r: InMemoryRelation => r }
    assert(cached.nonEmpty && cached.forall(_.cacheBuilder.isCachedColumnBuffersLoaded),
      "the collected pairs are not a loaded cache entry")
    // the same pairs as a local relation: any job beyond its count is a
    // recomputation of the candidate and verify plan
    val local = spark.createDataFrame(java.util.Arrays.asList(rows: _*), pairs.schema)
    var viaLocal: Map[Long, Long] = null
    var viaCache: Map[Long, Long] = null
    val localJobs = jobsStarted { viaLocal = components(Dedup.dedupGroups(local)) }
    val cacheJobs = jobsStarted { viaCache = components(Dedup.dedupGroups(pairs)) }
    assert(cacheJobs == localJobs, s"$cacheJobs jobs over the cached pairs, $localJobs over local ones")
    assert(viaCache == viaLocal)
    spark.catalog.clearCache()
  }

  test("connected components: a repeat call over fresh pairs compiles no generated code") {
    import org.apache.spark.metrics.source.CodegenMetrics
    def run(offset: Long): Map[Long, Long] = {
      val got = components(Dedup.connectedComponents(cliques(200, offset).toDF("a", "b")))
      spark.catalog.clearCache()
      got
    }
    run(0L) // warm-up
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val got = run(1000000L)
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiles,
      "the second call compiled generated code")
    assert(got == unionFind(cliques(200, 1000000L)))
  }

  test("connected components: 10^4-node path graph converges in O(log n) rounds, equals union-find") {
    // adversarial chain (graph diameter = n-1): plain min-label propagation
    // needs ~n rounds; the pointer-jumping variant must stay ≤ 2·log2(n).
    // Ids are BIT-REVERSED so the min label sits mid-chain and labels
    // cannot ride a convenient monotone ordering.
    val n = 10000
    def rev(x: Int): Long = java.lang.Integer.reverse(x).toLong & 0xffffffffL
    val ids = (0 until n).map(rev)
    val pairs = spark.createDataFrame(
      (0 until n - 1).map(i => (ids(i), ids(i + 1)))).toDF("a", "b")
    val (labels, rounds) =
      Dedup.connectedComponentsWithRounds(pairs, maxIter = 40)
    val bound = 2 * (math.log(n) / math.log(2)).ceil.toInt
    assert(rounds <= bound, s"$rounds rounds > 2·log2($n) = $bound")
    val got = components(labels)
    val mn = ids.min
    assert(got.size == n)
    assert(got.values.forall(_ == mn),
      s"all labels must be the chain min $mn; got ${got.values.toSet.take(3)}")
  }

  test("simhash: identical docs share codes; codes in 16-bit range") {
    val sh = Dedup.simhash16(docs, "doc_id", "text")
    assert(sh.filter($"simhash" < 0 || $"simhash" > 0xFFFFL).count() == 0)
    val dupDf = docs.select($"doc_id", $"text")
      .union(docs.select($"doc_id" + 100000, $"text"))
    val codes = Dedup.simhash16(dupDf, "doc_id", "text")
    val joined = codes.as("x").join(codes.as("y"),
      col("x.k") + 100000 === col("y.k"))
    assert(joined.filter(col("x.simhash") =!= col("y.simhash")).count() == 0)
  }
  test("jaccard maxDf valve: non-silent companion + equivalence with manual stop-shingle removal") {
    import spark.implicits._
    // every doc shares the same 3-token prefix -> its shingle is a stop
    // shingle at maxDf=3; distinctive tails drive the real similarity
    val docs = Seq(
      ("d1", "the quick brown alpha beta gamma delta"),
      ("d2", "the quick brown alpha beta gamma epsilon"),
      ("d3", "the quick brown zeta eta theta iota"),
      ("d4", "the quick brown zeta eta theta kappa")).toDF("doc_id", "text")
    val stop = graft.pipeline.Dedup.jaccardStopShingles(docs, "doc_id", "text", 3, maxDf = 3)
      .collect()
    assert(stop.map(_.getString(0)).toSet == Set("the quick brown"),
      stop.mkString(","))
    assert(stop.head.getLong(1) == 4L)
    val valved = graft.pipeline.Dedup
      .jaccardPairs(docs, "doc_id", "text", 3, 0.1, maxDf = 3)
      .orderBy("a", "b").collect().map(_.toString)
    // equivalence: intersections exclude the stop shingle, but denominators
    // are the EXACT (unfiltered) set sizes — so every valved score is a
    // conservative lower bound of the exact Jaccard, never inflated
    def fullSet(t: String): Set[String] =
      t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val texts = Map("d1" -> "the quick brown alpha beta gamma delta",
      "d2" -> "the quick brown alpha beta gamma epsilon",
      "d3" -> "the quick brown zeta eta theta iota",
      "d4" -> "the quick brown zeta eta theta kappa")
    val full = texts.view.mapValues(fullSet).toMap
    val filt = full.view.mapValues(_ - "the quick brown").toMap
    val expected = (for {
      a <- full.keys; b <- full.keys if a < b
      inter = (filt(a) & filt(b)).size
      j = inter.toDouble / (full(a).size + full(b).size - inter) if j >= 0.1 && inter > 0
    } yield s"[$a,$b,${BigDecimal(j).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble}]")
      .toSeq.sorted
    assert(valved.toSeq == expected, s"valved=${valved.toSeq} expected=$expected")
    // conservative bound vs the fully-exact arm on every emitted pair
    val exactAll = graft.pipeline.Dedup
      .jaccardPairs(docs, "doc_id", "text", 3, 0.0, maxDf = Long.MaxValue)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    valved.foreach { s =>
      val Array(a, b, j) = s.stripPrefix("[").stripSuffix("]").split(",")
      assert(j.toDouble <= exactAll((a, b)) + 1e-9,
        s"valved score $s exceeds exact ${exactAll((a, b))}")
    }
  }
  test("jaccardPairsLsh: subset of the exact arm with identical scores (verification is exact)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val exact = graft.pipeline.Dedup
      .jaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = graft.pipeline.Dedup
      .jaccardPairsLsh(docs, "doc_id", "text", 3, 0.5, numBands = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
    assert(lsh.nonEmpty)
    lsh.foreach { case (pair, score) =>
      assert(exact.get(pair).contains(score),
        s"pair $pair: lsh=$score exact=${exact.get(pair)}")
    }
  }
}
