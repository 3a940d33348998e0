package graft

import graft.spec.{SchemaLint, SpecError}

/** Flat official-metaschema linting of bare JSON Schema documents — the
  * position-walk + cut-meta architecture (see [[graft.spec.SchemaLint]]),
  * mirroring the reference's bundled-metaschema validation
  * (/root/reference/draft.go:127-135, roots.go:240-248).
  */
class SchemaLintSpec extends SparkTestBase {

  private val m2020 = "https://json-schema.org/draft/2020-12/schema"
  private val m2019 = "https://json-schema.org/draft/2019-09/schema"
  private val m7 = "http://json-schema.org/draft-07/schema#"
  private val m4 = "http://json-schema.org/draft-04/schema#"

  private def lint(schema: String, meta: String = m2020) =
    SchemaLint.violations(spark, schema, meta)

  test("valid schemas lint clean under 2020-12") {
    assert(lint("""{"type": "object", "properties": {"a": {"type": "string",
      "minLength": 1}}, "required": ["a"]}""").isEmpty)
    assert(lint("true").isEmpty)
    assert(lint("""{"$id": "https://example.com/s", "$defs": {"n": {"type":
      "integer"}}, "allOf": [{"$ref": "#/$defs/n"}]}""").isEmpty)
    assert(lint("""{"prefixItems": [{"type": "null"}], "items": false,
      "contains": {"const": 3}, "if": {"minimum": 0}, "then": {"multipleOf":
      2}}""").isEmpty)
  }

  test("shape errors are flagged at the offending node's pointer") {
    // type must be a simpleType name or array thereof
    val v1 = lint("""{"type": 123}""")
    assert(v1.nonEmpty && v1.forall(_.path == "#"))
    // nested: minLength must be a non-negative integer
    val v2 = lint("""{"properties": {"a": {"minLength": -1}}}""")
    assert(v2.nonEmpty && v2.forall(_.path == "#/properties/a"))
    // required must be an array of strings
    assert(lint("""{"required": "name"}""").nonEmpty)
    // enum must be an array
    assert(lint("""{"enum": 5}""").nonEmpty)
    // a subschema position holding a number is flagged by the PARENT's cut
    val v3 = lint("""{"properties": {"a": {"not": 3}}}""")
    assert(v3.nonEmpty && v3.forall(_.path == "#/properties/a"))
  }

  test("format assertions are on: a non-URI $id fails like the reference") {
    val v = lint("""{"$id": "not a uri", "type": "object"}""")
    assert(v.exists(x => x.keyword.contains("$id") || x.detail.contains("uri")))
    // $anchor grammar via pattern
    assert(lint("""{"$anchor": "0bad"}""").nonEmpty)
    assert(lint("""{"$anchor": "good_one"}""").isEmpty)
  }

  test("draft-dependent shapes: exclusiveMinimum boolean vs number") {
    // draft-4: boolean modifier (requires minimum present) — valid
    assert(lint("""{"minimum": 3, "exclusiveMinimum": true}""", m4).isEmpty)
    // 2020-12: must be a number
    assert(lint("""{"exclusiveMinimum": true}""", m2020).nonEmpty)
    assert(lint("""{"exclusiveMinimum": 3}""", m2020).isEmpty)
  }

  test("2019-09: $recursiveAnchor boolean; 2020-12 deprecated form still typed") {
    assert(lint("""{"$recursiveAnchor": true, "type": "object"}""", m2019).isEmpty)
    // in 2020-12 the meta keeps $recursiveAnchor as an anchor STRING
    assert(lint("""{"$recursiveAnchor": true}""", m2020).nonEmpty)
  }

  test("malformed JSON is a violation row, not an exception") {
    assert(lint("""{"type": """).nonEmpty)
  }

  test("deep nesting: every node is walked (depth beyond any unroll limit)") {
    // 12 levels of properties nesting — recursion-free by construction
    val deep = (1 to 12).foldLeft("""{"type": "integer", "minLength": -1}""") {
      (acc, i) => s"""{"properties": {"p$i": $acc}}"""
    }
    val v = lint(deep)
    assert(v.nonEmpty && v.forall(_.path.count(_ == '/') >= 24 - 2))
  }

  test("catalog arm: one DataFrame pass over many stored schemas") {
    import spark.implicits._
    val df = Seq(
      ("s1", """{"type": "object"}"""),
      ("s2", """{"type": 123}"""),
      ("s3", """{"properties": {"x": {"pattern": "["}}}"""), // bad regex: format
      ("s4", """{"minimum": "low"}""")
    ).toDF("id", "schema_json")
    val vios = SchemaLint.violationsForCatalog(df, "id", "schema_json", m2020)
      .select("id").distinct().as[String].collect().toSet
    assert(vios("s2") && vios("s4") && !vios("s1"))
    // s3: pattern's format "regex" IS asserted (reference AssertFormat)
    assert(vios("s3"))
  }

  test("verdicts arm: per-doc AND-fold; non-object root invalid; custom-meta root valid") {
    import spark.implicits._
    val df = Seq(
      ("ok", """{"type": "object"}"""),
      ("badroot", """[1, 2]"""), // schema document must be object|boolean
      ("custom", """{"$schema": "https://example.com/own-meta", "whatever": 1}"""),
      ("nested_bad", """{"properties": {"a": {"minLength": -2}}}""")
    ).toDF("id", "schema_json")
    val got = SchemaLint.verdictsForCatalog(df, "id", "schema_json", m2020)
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(got == Map("ok" -> true, "badroot" -> false,
      "custom" -> true, "nested_bad" -> false))
  }

  test("additionalItems is unconstrained under 2020-12 but walked for draft<=2019") {
    // the 2020-12 meta defines no additionalItems keyword — an ill-typed
    // value there is an unknown-keyword annotation the reference accepts
    assert(lint("""{"additionalItems": {"type": 123}}""", m2020).isEmpty)
    assert(lint("""{"additionalItems": {"type": 123}}""", m7).nonEmpty)
  }

  test("nested $schema honored iff the DECLARED draft's id spelling is present") {
    // declared draft-4 wants `id` (reference roots.go:107-113): with it the
    // node switches and boolean exclusiveMinimum is legal inside
    val sch = """{"properties": {"a": {"id": "urn:graft:d4id",
      "$schema": "http://json-schema.org/draft-04/schema#",
      "minimum": 1, "exclusiveMinimum": true}}}"""
    assert(lint(sch, m2020).isEmpty)
    // spelled `$id`, declared draft-4 finds no `id` → $schema IGNORED, the
    // node stays 2020-12 and the boolean modifier flags
    assert(lint(sch.replace("\"id\"", "\"$id\""), m2020).nonEmpty)
  }

  test("pinned catalog (perResourceDialects=false): nothing silently dropped") {
    import spark.implicits._
    // doc embeds a draft-4 resource; under the PINNED 2020-12 contract its
    // boolean exclusiveMinimum must FLAG (validated under the forced
    // draft), not vanish into a filtered-out version branch
    val df = Seq(("d1",
      """{"$defs": {"old": {"id": "urn:graft:pin4",
        "$schema": "http://json-schema.org/draft-04/schema#",
        "properties": {"n": {"minimum": 3, "exclusiveMinimum": true}}}}}"""
    )).toDF("id", "schema_json")
    def verdict(pin: Boolean) =
      SchemaLint.verdictsForCatalog(df, "id", "schema_json", m2020,
        perResourceDialects = !pin).collect().head.getBoolean(1)
    assert(verdict(pin = true) == false)  // forced 2020-12: flags
    assert(verdict(pin = false) == true)  // routed: draft-4 meta accepts
  }

  test("unknown meta URL is a typed error") {
    intercept[SpecError] {
      SchemaLint.violations(spark, "{}", "https://example.com/my-meta")
    }
  }

  test("mixed dialects: a draft-4 embedded resource lints under ITS meta") {
    // boolean exclusiveMinimum is legal draft-4, illegal 2020-12 — the
    // embedded resource's own $schema governs its subtree (draft-4 spells
    // the identifier `id`)
    val sch =
      s"""{"$$defs": {"old": {"id": "urn:graft:d4res",
         |  "$$schema": "http://json-schema.org/draft-04/schema#",
         |  "properties": {"n": {"minimum": 3, "exclusiveMinimum": true}}}}}"""
        .stripMargin
    assert(lint(sch, m2020).isEmpty)
    // without the resource wrapper the same form fails under 2020-12
    assert(lint("""{"properties": {"n": {"minimum": 3,
      "exclusiveMinimum": true}}}""", m2020).nonEmpty)
  }

  test("the reference's own suite corpus lints clean under each file's draft") {
    // batched through the CATALOG arm: one verdict job per draft directory,
    // per-resource dialect routing + custom-meta skips handled by the
    // walker itself (no manual skip-list)
    assumePath(s"${Queries5.suiteRoot}/tests")
    import spark.implicits._
    val byDir = Queries5.suiteGroups.groupBy(_._1.takeWhile(_ != '/'))
    assert(byDir.keySet == Set("draft2020-12", "draft7", "draft4"))
    var checked = 0
    byDir.foreach { case (dirName, groups) =>
      val meta = dirName match {
        case "draft2020-12" => m2020
        case "draft7"       => m7
        case _              => m4
      }
      val df = groups.map { case (rel, gi, _, schemaJson, _) =>
        (s"$rel[$gi]", schemaJson)
      }.toDF("id", "schema_json")
      val bad = SchemaLint.verdictsForCatalog(df, "id", "schema_json", meta)
        .filter(!org.apache.spark.sql.functions.col("valid"))
        .select("id").as[String].collect()
      assert(bad.isEmpty, s"$dirName schemas flagged: ${bad.mkString(", ")}")
      checked += groups.size
    }
    assert(checked >= 23) // the whole corpus (custom-meta resources vacuous)
  }

  test("fuzz: 200 mutated schema documents lint in one batch without crashing") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260817L)
    val seeds = Vector(
      """{"type": "object", "properties": {"a": {"type": "string"}}}""",
      """{"allOf": [{"minimum": 0}, {"maximum": 9}], "$defs": {"x": true}}""",
      """{"prefixItems": [{"enum": [1, 2]}], "contains": {"const": "k"}}""",
      """{"patternProperties": {"^a": {"pattern": "x+"}}, "required": ["a"]}""")
    val mutants = (0 until 200).map { i =>
      val s = seeds(i % seeds.length)
      val m = rnd.nextInt(6) match {
        case 0 => s.replaceFirst("\\{", s"""{"minLength": ${rnd.nextInt(9) - 4},""")
        case 1 => s.replaceFirst("\"type\"", "\"type\": 9, \"x\"")
        case 2 => s.dropRight(rnd.nextInt(3) + 1) // truncated JSON
        case 3 => s.replaceFirst("\\{", java.util.regex.Matcher.quoteReplacement(
          s"""{"$$anchor": "${if (rnd.nextBoolean()) "ok" else "0bad"}","""))
        case 4 => s"""{"properties": {"deep": {"properties": {"er": $s}}}}""" // valid nesting
        case _ => s
      }
      (s"m$i", m)
    }
    val df = mutants.toDF("id", "schema_json")
    val verdicts = SchemaLint.verdictsForCatalog(df, "id", "schema_json", m2020)
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(verdicts.size == 200) // every document produced a verdict
    // unmutated seeds (case 5) must stay valid; negative-minLength (case 0
    // with a negative draw) must flag — spot-check the determinism
    assert(verdicts.values.exists(identity) && verdicts.values.exists(!_))
  }

  test("draft-7: if/then/else walked; draft-4: dependencies array form ok") {
    val v7 = lint("""{"if": {"pattern": "["}}""", m7)
    assert(v7.nonEmpty && v7.forall(_.path == "#/if"))
    assert(lint("""{"dependencies": {"a": ["b"], "c": {"type": "object"}}}""",
      m4).isEmpty)
    // draft-4 has no boolean schemas: a boolean subschema is flagged
    assert(lint("""{"properties": {"a": true}}""", m4).nonEmpty)
    assert(lint("""{"properties": {"a": true}}""", m7).isEmpty)
  }

  // ------------------------------------------------------- custom metas

  // custom metas must live at real URLs ($schema is format: uri under the
  // official meta) — served through the test remote loader
  private def q(s: String): String =
    new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(s)
  private var served = Map.empty[String, String]
  private def serveMeta(name: String, json: String): String = {
    Queries5.registerRemotes()
    val url = s"http://example.com/lint-metas/$name"
    served += url -> json
    Queries5.setDynamicRemotes(served)
    url
  }

  test("custom meta without $vocabulary lints under its base draft's official meta") {
    // the reference validates against the base draft's own meta then
    // (dialect.getSchema with vocabs == nil, draft.go:266-270) — these
    // documents were previously skipped as vacuously valid
    val u = serveMeta("novocab",
      """{"$schema": "https://json-schema.org/draft/2020-12/schema",
      "title": "house style, no extra vocab"}""")
    assert(lint(s"""{"$$schema": ${q(u)}, "type": "object"}""").isEmpty)
    val bad = lint(s"""{"$$schema": ${q(u)}, "minLength": -3}""")
    assert(bad.nonEmpty && bad.exists(_.detail.contains("minimum")),
      bad.toString)
  }

  test("custom meta $vocabulary gating: dropped applicator legalizes allOf, active validation still flags") {
    val u = serveMeta("gated",
      """{"$schema": "https://json-schema.org/draft/2020-12/schema",
      "$vocabulary": {
        "https://json-schema.org/draft/2020-12/vocab/core": true,
        "https://json-schema.org/draft/2020-12/vocab/validation": true}}""")
    // applicator NOT active: allOf is an unconstrained unknown keyword —
    // `allOf: [1]` is legal here where the official meta flags it
    assert(lint(s"""{"$$schema": ${q(u)}, "allOf": [1], "minLength": 3}""")
      .isEmpty)
    assert(lint("""{"allOf": [1]}""").nonEmpty) // control: official flags it
    // validation IS active: its shapes still bind
    val v = lint(s"""{"$$schema": ${q(u)}, "allOf": [1], "minLength": "no"}""")
    assert(v.nonEmpty && v.forall(_.path == "#"), v.toString)
    // and applicator positions are not walked: a number under properties
    // is legal (unknown keyword), where the official meta flags the parent
    assert(lint(s"""{"$$schema": ${q(u)}, "properties": {"a": 1}}""").isEmpty)
  }

  test("unknown must-understand vocabulary: typed error single-doc, false verdict in catalog") {
    val u = serveMeta("madeup",
      """{"$schema": "https://json-schema.org/draft/2020-12/schema",
      "$vocabulary": {"https://example.com/vocab/made-up-lint": true}}""")
    val doc = s"""{"$$schema": ${q(u)}, "type": "object"}"""
    val e = intercept[SpecError](lint(doc))
    assert(e.message.contains("unsupported vocabulary"), e.message)
    // catalog arm: the document fails LOUDLY, the rest of the catalog lints
    import spark.implicits._
    val df = Seq(("bad", doc), ("good", """{"type": "object"}"""))
      .toDF("id", "schema_json")
    val got = SchemaLint.verdictsForCatalog(df, "id", "schema_json", m2020)
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(got == Map("bad" -> false, "good" -> true), got.toString)
    val vios = SchemaLint.violationsForCatalog(df, "id", "schema_json", m2020)
      .collect()
    assert(vios.exists(r => r.getString(0) == "bad" &&
      r.getString(2) == "#/$schema" &&
      r.getString(4).contains("unsupported vocabulary")), vios.mkString("\n"))
  }

  test("registered custom vocabulary schema becomes an arm of the composed meta") {
    graft.spec.Dialect.registerVocabularySchema(
      "https://example.com/vocab/titled-lint",
      """{"required": ["title"],
         "properties": {"title": {"$ref": "#/$defs/longStr"}},
         "$defs": {"longStr": {"type": "string", "minLength": 5}}}""")
    val u = serveMeta("titled",
      """{"$schema": "https://json-schema.org/draft/2020-12/schema",
      "$vocabulary": {
        "https://json-schema.org/draft/2020-12/vocab/validation": true,
        "https://example.com/vocab/titled-lint": true}}""")
    assert(lint(s"""{"$$schema": ${q(u)}, "title": "long enough"}""").isEmpty)
    val short = lint(s"""{"$$schema": ${q(u)}, "title": "ab"}""")
    assert(short.nonEmpty && short.exists(_.detail.contains("minLength")),
      short.toString)
    val missing = lint(s"""{"$$schema": ${q(u)}, "minimum": 3}""")
    assert(missing.nonEmpty && missing.exists(_.keyword.contains("required")),
      missing.toString)
  }

  test("catalog with a custom-meta shard: per-document routing in one pass") {
    import spark.implicits._
    val gated = serveMeta("shard-gated",
      """{"$schema": "https://json-schema.org/draft/2020-12/schema",
      "$vocabulary": {
        "https://json-schema.org/draft/2020-12/vocab/core": true,
        "https://json-schema.org/draft/2020-12/vocab/validation": true}}""")
    val plain = serveMeta("shard-plain",
      """{"$schema": "https://json-schema.org/draft/2020-12/schema",
      "title": "no vocab - base official governs"}""")
    val df = Seq(
      ("official_ok", """{"type": "object"}"""),
      ("official_bad", """{"allOf": [1]}"""),
      ("gated_ok", s"""{"$$schema": ${q(gated)}, "allOf": [1]}"""),
      ("gated_bad", s"""{"$$schema": ${q(gated)}, "minLength": "x"}"""),
      ("plain_ok", s"""{"$$schema": ${q(plain)}, "type": "object"}"""),
      ("plain_bad", s"""{"$$schema": ${q(plain)}, "minLength": -1}""")
    ).toDF("id", "schema_json")
    val got = SchemaLint.verdictsForCatalog(df, "id", "schema_json", m2020)
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(got == Map("official_ok" -> true, "official_bad" -> false,
      "gated_ok" -> true, "gated_bad" -> false,
      "plain_ok" -> true, "plain_bad" -> false), got.toString)
  }
}
