package perfbench

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.compile.SuiteCompiler
import graft.exec.Validator
import graft.spec.{SchemaLint, Spec}

/** `schema_catalog`: a seeded stream of distinct 2020-12 schemas, each used
  * once. One operation meta-gates a schema with `SchemaLint.violations`;
  * when the gate accepts it, the operation parses it with `Spec.fromJson`,
  * compiles it with `SuiteCompiler.compile` and validates a cached column of
  * JSON instances through the dynamic (variant) path into a `noop` sink,
  * with per-keyword violation counts observed on the same action.
  *
  * A round is three schemas; one of them, at a seeded place, is made
  * meta-invalid in one of four seeded ways, and the gate must reject it.
  *
  * Every schema validates the same instances. They are generated with
  * planted faults (wrong types, pattern breaks, a missing required
  * property, duplicate tags, an extra property on an otherwise clean
  * instance), and each schema draws its own bounds, pattern, allowed kinds
  * and closure keyword, so the expected violations differ per schema. The
  * benchmark computes them in plain Scala from the instance values.
  */
final class CatalogWorkload(spark: SparkSession, seed: Long, nInst: Int) extends Workload {
  import CatalogWorkload._

  override def roundSize: Int = 3

  private val meta = "https://json-schema.org/draft/2020-12/schema"

  private def mix(a: Long, b: Long): Long = {
    var z = seed ^ (a * 0x9E3779B97F4A7C15L) ^ (b * 0xBF58476D1CE4E5B9L)
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def pick(bound: Int, a: Long, b: Long): Int =
    java.lang.Math.floorMod(mix(a, b), bound.toLong).toInt

  private val tagPool = (0 until 12).map(i => s"t$i")

  private val instances: IndexedSeq[Inst] = (0 until nInst).map { i =>
    def r(salt: Int, bound: Int) = pick(bound, 1000000L + i, salt)
    val name = (0 until 3 + r(2, 8)).map(j => ('a' + r(10 + j, 26)).toChar).mkString
    val tags = scala.util.Random.javaRandomToRandom(new java.util.Random(mix(i, 3)))
      .shuffle(tagPool).take(r(4, 7))
    val normal = Inst(r(1, 1000000), idAsString = false, Some(name), nameAsNumber = false,
      tags, r(5, 100000) / 100.0, priceAsString = false, "abcde".charAt(r(6, 5)).toString,
      1 + r(7, 500), 1 + r(8, 500), note = false)
    r(0, 100) match {
      case f if f < 3  => normal.copy(idAsString = true)
      case f if f < 7  => normal.copy(name = Some(name.take(2) + "X" + name.drop(2)))
      case f if f < 10 => normal.copy(name = Some(name + "42"))
      case f if f < 12 => normal.copy(name = None)
      case f if f < 14 => normal.copy(nameAsNumber = true)
      case f if f < 18 =>
        val t = if (tags.isEmpty) Seq("t0") else tags
        normal.copy(tags = t :+ t.head)
      case f if f < 20 => normal.copy(priceAsString = true)
      // an extra property on an instance that every schema otherwise accepts
      case f if f < 23 => Inst(1, idAsString = false, Some("abcdef"), nameAsNumber = false,
        Seq("t0"), 500.0, priceAsString = false, "a", 10, 10, note = true)
      case _ => normal
    }
  }

  private val input: DataFrame = {
    import spark.implicits._
    val df = instances.zipWithIndex.map { case (x, i) => (i.toLong, x.json) }.toDF("i", "j")
      .persist(StorageLevel.MEMORY_AND_DISK)
    df.count()
    df
  }

  private def params(k: Int): Params = {
    def r(salt: Int, bound: Int) = pick(bound, k, salt)
    val kinds = "a" +: scala.util.Random.javaRandomToRandom(new java.util.Random(mix(k, 6)))
      .shuffle(Seq("b", "c", "d", "e")).take(1 + r(7, 3))
    Params(k, 3 + r(1, 4), 3 + r(2, 4), r(3, 100), 800 + r(4, 200), kinds,
      kindsAsEnum = r(5, 2) == 1, unevaluated = r(8, 2) == 1, maxDim = 300 + r(9, 201),
      invalid = if (k % roundSize == pick(roundSize, k / roundSize, 11)) Some(r(12, 4)) else None)
  }

  private def schemaJson(p: Params): String = {
    val bad = p.invalid.getOrElse(-1)
    val kind =
      if (p.kindsAsEnum) s"""{"enum": ${p.kinds.map(Json.str).mkString("[", ", ", "]")}}"""
      else p.kinds.map(c => s"""{"const": ${Json.str(c)}}""").mkString("""{"anyOf": [""", ", ", "]}")
    s"""{
      "$$schema": "$meta",
      "title": "catalog schema ${p.k}, seed $seed",
      "type": "object",
      "$$defs": {
        "${p.name}": {"type": "string", "pattern": "^[a-z]{${p.minName},}$$"},
        "${p.tagsDef}": {"type": "array", "items": {"type": "string"}, "uniqueItems": true,
                   "maxItems": ${if (bad == 2) -1 else p.maxItems}},
        "${p.dim}": {"type": "${if (bad == 1) "int" else "integer"}", "minimum": 1, "maximum": ${p.maxDim}}
      },
      "properties": {
        "id": {"type": "integer", "minimum": ${if (bad == 0) "\"zero\"" else "0"}},
        "name": {"$$ref": "#/$$defs/${p.name}"},
        "tags": {"$$ref": "#/$$defs/${p.tagsDef}"},
        "price": {"allOf": [{"type": "number"}, {"minimum": ${p.lo}}, {"maximum": ${p.hi}}]},
        "kind": $kind,
        "dims": {"type": "object", "required": ["w", "h"], "properties": {
          "w": {"$$ref": "#/$$defs/${p.dim}"}, "h": {"$$ref": "#/$$defs/${p.dim}"}}}
      },
      "required": ${if (bad == 3) "\"id\"" else """["id", "name", "kind"]"""},
      "${p.closure}": false
    }"""
  }

  /** The violations schema `p` must report for one instance. */
  private def expectedFor(p: Params, x: Inst): Seq[String] = {
    val pattern = java.util.regex.Pattern.compile(s"^[a-z]{${p.minName},}$$")
    Seq(
      x.idAsString -> "/properties/id/type",
      x.name.isEmpty -> "/required",
      (x.name.nonEmpty && x.nameAsNumber) -> s"/$$defs/${p.name}/type",
      x.name.exists(n => !x.nameAsNumber && !pattern.matcher(n).find()) -> s"/$$defs/${p.name}/pattern",
      (x.tags.distinct.size < x.tags.size) -> s"/$$defs/${p.tagsDef}/uniqueItems",
      (x.tags.size > p.maxItems) -> s"/$$defs/${p.tagsDef}/maxItems",
      x.priceAsString -> "/properties/price/allOf/0/type",
      (!x.priceAsString && x.price < p.lo) -> "/properties/price/allOf/1/minimum",
      (!x.priceAsString && x.price > p.hi) -> "/properties/price/allOf/2/maximum",
      !p.kinds.contains(x.kind) -> p.kindPath,
      (x.w > p.maxDim) -> s"/$$defs/${p.dim}/maximum",
      (x.h > p.maxDim) -> s"/$$defs/${p.dim}/maximum",
      x.note -> s"/${p.closure}").collect { case (true, path) => path }
  }

  def op(k: Int, tr: Tracer): (Outcome, Long) = {
    val p = params(k)
    val doc = schemaJson(p)
    val lint = tr.span("spec.lint")(SchemaLint.violations(spark, doc, meta))
    if (lint.nonEmpty) return (CatOut(rejected = true, Map.empty, 0L), 0L)
    val url = graft.Queries5.inlineUrl(doc)
    val spec = tr.span("spec.parse") {
      Spec.fromJson(s"""{"columns": {"j": {"json": {"$$ref": ${Json.str(url)}}}}}""")
    }
    val suite = tr.span("compile.suite")(SuiteCompiler.compile(spec, input.schema))
    val obs = new Observation()
    val path = substring_index(col("keyword"), "#", -1)
    val observed = Validator.violations(input, suite, Seq("i"))
      .observe(obs, count(lit(1)).as("total"),
        p.paths.map(q => coalesce(sum(when(path === q, 1L)), lit(0L)).as(q)): _*)
    tr.span("exec.action")(observed.write.format("noop").mode("overwrite").save())
    val m = obs.get
    (CatOut(rejected = false, p.paths.map(q => q -> m(q).asInstanceOf[Long]).toMap,
      m("total").asInstanceOf[Long]), nInst.toLong)
  }

  def check(k: Int, out: Outcome): Seq[String] = {
    val o = out.asInstanceOf[CatOut]
    val p = params(k)
    if (p.invalid.nonEmpty != o.rejected)
      Seq(s"op $k: the gate ${if (o.rejected) "rejected" else "accepted"} schema $k, " +
        s"which was generated ${if (p.invalid.nonEmpty) "meta-invalid" else "valid"}")
    else if (o.rejected) Nil
    else {
      val want = instances.flatMap(expectedFor(p, _)).groupBy(identity).view
        .mapValues(_.size.toLong).toMap
      val perPath = p.paths.flatMap { q =>
        val (got, exp) = (o.counts.getOrElse(q, -1L), want.getOrElse(q, 0L))
        if (got == exp) None else Some(s"op $k: schema $k: $q: $got violation rows, planted $exp")
      }
      val total = if (o.total == o.counts.values.sum) Nil
        else Seq(s"op $k: ${o.total} violation rows, per-keyword counts sum to ${o.counts.values.sum}")
      perPath ++ total
    }
  }

  /** The self-test's alteration: the gate's verdict on one schema flipped. */
  def flipVerdict(out: Outcome): Outcome = {
    val o = out.asInstanceOf[CatOut]
    o.copy(rejected = !o.rejected)
  }
}

object CatalogWorkload {
  final case class Inst(id: Int, idAsString: Boolean, name: Option[String],
                        nameAsNumber: Boolean, tags: Seq[String], price: Double,
                        priceAsString: Boolean, kind: String, w: Int, h: Int,
                        note: Boolean) {
    def json: String = {
      val f = Seq(
        Some(s""""id":${if (idAsString) Json.str(s"ID-$id") else id.toString}"""),
        name.map(n => s""""name":${if (nameAsNumber) "12345" else Json.str(n)}"""),
        Some(s""""tags":${tags.map(Json.str).mkString("[", ",", "]")}"""),
        Some(s""""price":${if (priceAsString) Json.str(price.toString) else price.toString}"""),
        Some(s""""kind":${Json.str(kind)}"""),
        Some(s""""dims":{"w":$w,"h":$h}"""),
        if (note) Some(""""note":"extra"""") else None)
      f.flatten.mkString("{", ",", "}")
    }
  }

  /** Schema `k`'s drawn parameters. */
  final case class Params(k: Int, minName: Int, maxItems: Int, lo: Int, hi: Int,
                          kinds: Seq[String], kindsAsEnum: Boolean,
                          unevaluated: Boolean, maxDim: Int, invalid: Option[Int]) {
    def name = s"name_$k"
    def tagsDef = s"tags_$k"
    def dim = s"dim_$k"
    def closure = if (unevaluated) "unevaluatedProperties" else "additionalProperties"
    def kindPath = if (kindsAsEnum) "/properties/kind/enum" else "/properties/kind/anyOf"
    /** Every keyword path at which a violation can be reported. */
    def paths: Seq[String] = Seq("/properties/id/type", "/required",
      s"/$$defs/$name/type", s"/$$defs/$name/pattern", s"/$$defs/$tagsDef/uniqueItems",
      s"/$$defs/$tagsDef/maxItems", "/properties/price/allOf/0/type",
      "/properties/price/allOf/1/minimum", "/properties/price/allOf/2/maximum",
      kindPath, s"/$$defs/$dim/maximum", s"/$closure")
  }

  final case class CatOut(rejected: Boolean, counts: Map[String, Long], total: Long)
      extends Outcome
}
