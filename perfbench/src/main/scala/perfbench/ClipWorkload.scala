package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.exec.{Engine, Validator}
import graft.spec.{Drift, ForeignKey, Stats, Unique}
import graft.table.TableChecks

/** The clip table, generated by the benchmark itself from a seed with the
  * layout and id-modulus fault rates that FIXTURES.md §1 documents:
  *
  *   id % 211 == 7  → clip_id of row id-1 (duplicate key)
  *   id % 499 == 13 → malformed clip_id
  *   id % 293 == 3  → sr_hz 96000 / 0 / -1
  *   id % 397 == 11 → dur_ms ≤ 0
  *   id % 443 == 17 → unknown codec
  *   id % 587 == 19 → empty transcript
  *   id % 997 == 23 → null transcript
  *   id % 677 == 29 → RIFF header mangled (bytes only)
  *
  * Everything but `bytes` is built from Spark SQL expressions; `bytes` is a
  * 16-bit mono WAV of a seeded sine, at most 1600 samples. The generator
  * keeps `id` so that the checks can count injected rows.
  */
object ClipGen {
  val words: Seq[String] = Seq(
    "the", "quick", "brown", "fox", "jumps", "over", "lazy", "dog", "audio",
    "clip", "speech", "noise", "signal", "sample", "voice", "sound", "test",
    "zürich", "naïve", "こんにちは")
  val codecs: Seq[String] = Seq("wav", "flac", "opus", "mp3", "pcm_s16le")

  private def mix(seed: Long, id: Long, salt: Long): Long = {
    var z = seed ^ (id * 0x9E3779B97F4A7C15L) ^ (salt * 0xBF58476D1CE4E5B9L)
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def unit(seed: Long, id: Long, salt: Long): Double =
    (mix(seed, id, salt) >>> 11).toDouble / (1L << 53).toDouble

  /** A canonical 44-byte-header PCM WAV of a seeded sine plus noise. */
  def wav(seed: Long, id: Long, srHz: Int, durMs: Int): Array[Byte] = {
    val sr = if (srHz > 0) srHz else 16000
    val n = math.min(math.max(sr.toLong * math.max(durMs, 1) / 1000L, 16L), 1600L).toInt
    val freq = 100.0 + unit(seed, id, 201) * 1000.0
    val phase = unit(seed, id, 202) * 2 * math.Pi
    val amp = 8000.0 + unit(seed, id, 203) * 16000.0
    val buf = java.nio.ByteBuffer.allocate(44 + 2 * n).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("ASCII")).putInt(36 + 2 * n).put("WAVE".getBytes("ASCII"))
    buf.put("fmt ".getBytes("ASCII")).putInt(16).putShort(1.toShort).putShort(1.toShort)
    buf.putInt(sr).putInt(sr * 2).putShort(2.toShort).putShort(16.toShort)
    buf.put("data".getBytes("ASCII")).putInt(2 * n)
    var i = 0
    while (i < n) {
      val noise = (unit(seed, id + i, 204) - 0.5) * 500.0
      buf.putShort((amp * math.sin(2 * math.Pi * freq * i / sr + phase) + noise).toShort)
      i += 1
    }
    val b = buf.array()
    if (id % 677 == 29) { b(0) = 'X'.toByte; b(1) = 'X'.toByte }
    b
  }

  def table(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val id = col("id")
    def h(salt: Column, on: Column = id): Column = xxhash64(lit(seed), on, salt)
    def u(salt: Int): Column =
      shiftrightunsigned(h(lit(salt)), 11).cast("double") / lit(9007199254740992.0)
    def pick(choices: Seq[Any], cum: Seq[Double], x: Column): Column =
      cum.zip(choices).init.foldRight(lit(choices.last)) { case ((c, v), acc) =>
        when(x < c, lit(v)).otherwise(acc)
      }
    def hex16(salt: Int, on: Column) = lpad(lower(hex(h(lit(salt), on))), 16, "0")

    val baseId = when(id % 211 === 7 && id > 0, id - 1).otherwise(id)
    val a = hex16(101, baseId)
    val b = hex16(102, baseId)
    val uuid = concat_ws("-", substring(a, 1, 8), substring(a, 9, 4),
      substring(a, 13, 4), substring(b, 1, 4), substring(b, 5, 12))
    val srOk = pick(Seq(44100, 16000, 8000, 22050, 48000), Seq(0.70, 0.80, 0.88, 0.95, 1.0), u(1))
    val nWords = (pmod(h(lit(4)), lit(10L)) + 3).cast("int")
    val wordArr = array(words.map(lit): _*)
    val transcript = array_join(slice(array((0 until 12).map(i =>
      element_at(wordArr, (pmod(h(lit(i + 5)), lit(words.size.toLong)) + 1).cast("int"))): _*),
      lit(1), nWords), " ")

    val cpus = spark.sparkContext.defaultParallelism
    val wavOf = udf((i: Long, sr: Int, dur: Int) => wav(seed, i, sr, dur))
    spark.range(0, n, 1, 2 * cpus).select(
      id,
      when(id % 499 === 13, concat(lit("not-a-uuid-"), id.cast("string")))
        .otherwise(uuid).as("clip_id"),
      when(id % 293 === 3, element_at(array(lit(96000), lit(0), lit(-1)), (id % 3 + 1).cast("int")))
        .otherwise(srOk).as("sr_hz"),
      when(id % 397 === 11, -(id % 2)).otherwise(exp(u(2) * 3.4) * 120 + 200)
        .cast("int").as("dur_ms"),
      when(id % 443 === 17, concat(lit("codec_"), id.cast("string")))
        .otherwise(pick(codecs, Seq(0.80, 0.86, 0.91, 0.96, 1.0), u(3))).as("codec"),
      when(id % 997 === 23, lit(null).cast("string"))
        .when(id % 587 === 19, lit("")).otherwise(transcript).as("transcript"))
      .withColumn("bytes", wavOf(id, col("sr_hz"), col("dur_ms")))
  }
}

/** `clip_signal`: the full constraint suite plus the audio checks
  * (`ClipSuite.signalSpecJson`) over a memory-resident clip table that keeps
  * `bytes`. One operation builds the fused plan with `Engine.fusedPlan`,
  * writes every violation row to a `noop` sink and reads the observed stats.
  * Per-keyword violation counts ride the same action as an observation over
  * the violation rows.
  */
final class ClipWorkload(spark: SparkSession, seed: Long, n: Int) extends Workload {
  import ClipWorkload.ClipOut

  private val specJson = graft.ClipSuite.signalSpecJson
  private val refs = Map("ref_codecs" -> graft.ClipSuite.refCodecs(spark))

  private val table: DataFrame = {
    val t = ClipGen.table(spark, seed, n).persist(StorageLevel.MEMORY_AND_DISK)
    t.count()
    t
  }
  /** What the program sees: the clip table without the generator's id. */
  private val input = table.drop("id")

  /** Rows with id % m == r among ids 0 until n. */
  private def modCount(m: Int, r: Int): Long = if (n <= r) 0 else (n - 1 - r) / m + 1

  private val codecList = ClipGen.codecs.map(c => s"'$c'").mkString(",")

  /** Row-level keyword path → a plain Spark SQL predicate over the generated
    * table (no Spec, no SuiteCompiler) that holds on exactly the rows the
    * keyword must report.
    */
  private val rowPreds: Seq[(String, String)] = {
    val uuid = "^[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}$"
    val riff = "(hex(substring(bytes, 1, 4)) = '52494646' AND hex(substring(bytes, 9, 4)) = '57415645')"
    // the sample rate inside the container: little-endian int at byte 24
    val containerSr = "cast(conv(concat(hex(substring(bytes, 28, 1)), hex(substring(bytes, 27, 1)), " +
      "hex(substring(bytes, 26, 1)), hex(substring(bytes, 25, 1))), 16, 10) AS int)"
    Seq(
      "$defs/validSr/minimum" -> "sr_hz < 8000",
      "$defs/validSr/maximum" -> "sr_hz > 48000",
      "columns/clip_id/format" -> s"NOT clip_id RLIKE '$uuid'",
      "columns/clip_id/pattern" -> "NOT clip_id RLIKE '^[0-9a-f]{8}-'",
      "columns/dur_ms/exclusiveMinimum" -> "dur_ms <= 0",
      "columns/dur_ms/maximum" -> "dur_ms > 36000000",
      "columns/codec/enum" -> s"codec NOT IN ($codecList)",
      "columns/transcript/minLength" -> "char_length(transcript) < 1",
      "columns/transcript/maxLength" -> "char_length(transcript) > 100000",
      "row/0/then/properties/sr_hz/enum" ->
        "codec = 'opus' AND sr_hz NOT IN (8000, 16000, 24000, 48000)") ++
      Seq("clip_id", "sr_hz", "dur_ms", "codec", "transcript").map(c => s"required/$c" -> s"$c IS NULL") ++
      Seq(
        "columns/bytes/format" -> s"NOT $riff",
        "table/containerMagic/wav" -> s"codec = 'wav' AND NOT $riff",
        "table/containerMagic/pcm_s16le" -> s"codec = 'pcm_s16le' AND NOT $riff",
        "table/audioSignal/srConsistent" -> s"$riff AND $containerSr <> sr_hz")
  }
  private val uniqueKey = "table/unique/clip_id"
  private val fkKey = "table/foreignKey/codec->ref_codecs"
  private val driftKey = "table/drift/psi/sr_hz"
  private val keys = (rowPreds.map(_._1) ++ Seq(uniqueKey, fkKey, driftKey)).sorted

  /** The drift spec's sr_hz bucket edges and reference proportions. */
  private val (edges, refProps) = {
    val d = new ObjectMapper().readTree(specJson).at("/table/drift/0")
    def nums(f: String) = (0 until d.get(f).size).map(d.get(f).get(_).asDouble)
    (nums("edges"), nums("refProportions"))
  }

  /** Expected violation rows per keyword path, computed after the timed
    * region: the row predicates and an sr_hz histogram in one aggregate,
    * then duplicate keys and unknown codecs.
    */
  private lazy val expected: Map[String, Long] = {
    val buckets = edges.indices.map(i => s"sr_hz < ${edges(i)}" +
      (if (i == 0) "" else s" AND sr_hz >= ${edges(i - 1)}")) :+ s"sr_hz >= ${edges.last}"
    val sums = rowPreds ++ buckets.zipWithIndex.map { case (p, b) => s"bucket$b" -> p }
    val row = table.selectExpr(sums.map { case (k, p) =>
      s"CAST(coalesce(sum(CASE WHEN $p THEN 1 ELSE 0 END), 0) AS long) AS `$k`" }: _*).head()
    // PSI recomputed from the plain histogram, with the usual 1e-6 floor
    val hist = buckets.indices.map(b => row.getAs[Long](s"bucket$b"))
    val total = math.max(hist.sum, 1L).toDouble
    val psi = refProps.indices.map { b =>
      val p = math.max(hist(b) / total, 1e-6)
      val q = math.max(refProps(b), 1e-6)
      (p - q) * math.log(p / q)
    }.sum
    val dupKeys = table.groupBy("clip_id").count().filter(col("count") > 1).count()
    val missingCodecs = table.filter(s"codec IS NOT NULL AND codec NOT IN ($codecList)")
      .select("codec").distinct().count()
    rowPreds.map(_._1).map(k => k -> row.getAs[Long](k)).toMap ++ Map(
      uniqueKey -> dupKeys, fkKey -> missingCodecs, driftKey -> (if (psi > 0.25) 1L else 0L))
  }

  def op(k: Int, tr: Tracer): (Outcome, Long) = {
    val (plan, stats) = tr.span("compile.suite") {
      Engine.fusedPlan(input, specJson, Seq("clip_id"), refs)
    }
    val byKeyword = new Observation()
    val observed = plan.observe(byKeyword, count(lit(1)).as("total"),
      keys.map(kw => coalesce(sum(when(col("keyword") === kw, 1L)), lit(0L)).as(kw)): _*)
    tr.span("exec.action") {
      observed.write.format("noop").mode("overwrite").save()
    }
    val m = byKeyword.get
    val s = stats.get
    (ClipOut(keys.map(kw => kw -> m(kw).asInstanceOf[Long]).toMap,
      m("total").asInstanceOf[Long], s("rows").asInstanceOf[Long],
      s("row_violations").asInstanceOf[Long]), n.toLong)
  }

  // suites for the traced run's isolated layer calls
  private lazy val suite = Engine.compile(specJson, input)
  private lazy val decodeSuite = Engine.compile("""{"columns": {"bytes": {"format": "wav"}}}""", input)
  private lazy val signalSuite = {
    val om = new ObjectMapper()
    val t = om.readTree(specJson).get("table")
    val only = om.createObjectNode()
    val tbl = only.putObject("table")
    Seq("audioSignal", "containerMagic").foreach(f => tbl.replace(f, t.get(f)))
    Engine.compile(om.writeValueAsString(only), input)
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  override def probes(k: Int, tr: Tracer): Unit = {
    tr.span("exec.row_checks", probe = true) {
      noop(Validator.violations(input, suite, Seq("clip_id")))
    }
    suite.tableConstraints.foreach {
      case u: Unique => tr.span("table.unique", probe = true)(noop(TableChecks.uniqueViolations(input, u)))
      case f: ForeignKey =>
        tr.span("table.fk", probe = true)(noop(TableChecks.fkViolations(input, f, refs(f.refTable))))
      case d: Drift => tr.span("table.drift", probe = true)(noop(TableChecks.driftViolations(input, d)))
      case s: Stats => tr.span("table.stats", probe = true)(noop(TableChecks.stats(input, s.columns)))
      case _ =>
    }
    tr.span("audio.decode", probe = true) {
      noop(Validator.violations(input, decodeSuite, Seq("clip_id")))
    }
    tr.span("audio.signal", probe = true)(noop(Engine.tableViolations(input, signalSuite)))
  }

  def check(k: Int, out: Outcome): Seq[String] = {
    val o = out.asInstanceOf[ClipOut]
    val kw = keys.flatMap { key =>
      val got = o.counts.getOrElse(key, -1L)
      if (got == expected(key)) None else Some(s"op $k: $key: $got violation rows, expected ${expected(key)}")
    }
    val decodeFailures = o.counts.getOrElse("columns/bytes/format", -1L)
    val decode = if (decodeFailures == modCount(677, 29)) Nil
      else Seq(s"op $k: $decodeFailures decode failures, ${modCount(677, 29)} RIFF-mangled rows")
    val malformed = o.counts.getOrElse("columns/clip_id/format", -1L)
    val ids = if (malformed == modCount(499, 13)) Nil
      else Seq(s"op $k: $malformed malformed clip_ids, ${modCount(499, 13)} injected")
    val rowKeys = keys.filterNot(_.startsWith("table/"))
    val totals = Seq(
      (o.rows == n) -> s"op $k: observed rows ${o.rows}, table has $n",
      (o.total == o.counts.values.sum) ->
        s"op $k: ${o.total} violation rows, per-keyword counts sum to ${o.counts.values.sum}",
      (o.rowViolations == rowKeys.map(o.counts.getOrElse(_, 0L)).sum) ->
        s"op $k: observed row_violations ${o.rowViolations} differ from the row keywords' counts")
    kw ++ decode ++ ids ++ totals.collect { case (false, msg) => msg }
  }

  /** The self-test's alteration: one violation row dropped. */
  def dropViolationRow(out: Outcome): Outcome = {
    val o = out.asInstanceOf[ClipOut]
    val key = keys.find(o.counts(_) > 0).get
    o.copy(counts = o.counts.updated(key, o.counts(key) - 1), total = o.total - 1)
  }
}

object ClipWorkload {
  final case class ClipOut(counts: Map[String, Long], total: Long, rows: Long,
                           rowViolations: Long) extends Outcome
}
