package graft

import com.fasterxml.jackson.databind.ObjectMapper
import graft.compile.SuiteCompiler
import graft.spec.{MetaSpec, Spec, SpecError}

import scala.jdk.CollectionConverters._

/** Self-hosted meta-spec validation (mirrors the reference validating every
  * schema against its dialect metaschema before compile,
  * /root/reference/roots.go:53-56, 240-248): every fixture spec in the repo
  * must pass the meta gate, every shape-invalid spec must fail it, and every
  * semantically-invalid spec must still be rejected by the combined
  * meta→typed pipeline.
  */
class MetaSpecSpec extends SparkTestBase {

  private val mapper = new ObjectMapper()

  test("meta-spec document parses and compiles as an ordinary spec") {
    assert(MetaSpec.spec.columns.map(_._1) == Vector("root", "node"))
    // compiling against the input schema must not throw
    SuiteCompiler.compile(MetaSpec.spec, MetaSpec.inputSchema)
  }

  test("meta-spec validates ITSELF (self-application)") {
    val vs = MetaSpec.violations(spark, MetaSpec.document)
    assert(vs.isEmpty, s"meta-spec self-validation found: $vs")
  }

  test("all conformance fixture specs pass the meta gate") {
    val files = Seq("bounds.json", "strings.json", "composition.json",
      "arrays_content.json", "dynamic.json", "dependent_unevaluated.json",
      "scalars_extra.json", "dynamic_objects.json", "refs.json")
    files.foreach { f =>
      val groups = mapper.readTree(getClass.getResourceAsStream(s"/conformance/$f"))
      groups.asScala.zipWithIndex.foreach { case (g, i) =>
        val vs = MetaSpec.violations(spark, g.get("spec"))
        assert(vs.isEmpty, s"$f[$i] '${g.get("description").asText()}': $vs")
      }
    }
  }

  test("clip-suite specs pass the meta gate") {
    assert(MetaSpec.violations(spark, ClipSuite.specJson).isEmpty)
    assert(MetaSpec.violations(spark, ClipSuite.deepSpecJson).isEmpty)
  }

  test("every invalid spec is rejected by the self-hosted meta→typed pipeline") {
    val cases = mapper.readTree(
      getClass.getResourceAsStream("/conformance/invalid_specs.json"))
    cases.asScala.foreach { c =>
      val doc = c.get("spec")
      val metaRed = MetaSpec.violations(spark, doc).nonEmpty
      val typedRed =
        try {
          // compile against the case's declared column schema (enough for
          // ref/column/registry semantics); any SpecError = typed rejection
          val schemaNode = c.get("schema")
          val fields = schemaNode.fieldNames().asScala.toSeq.map { f =>
            org.apache.spark.sql.types.StructField(f,
              schemaNode.get(f).asText() match {
                case "int" => org.apache.spark.sql.types.IntegerType
                case "long" => org.apache.spark.sql.types.LongType
                case "double" => org.apache.spark.sql.types.DoubleType
                case "boolean" => org.apache.spark.sql.types.BooleanType
                case _ => org.apache.spark.sql.types.StringType
              })
          }
          SuiteCompiler.compile(Spec.parse(doc),
            org.apache.spark.sql.types.StructType(fields))
          false
        } catch { case _: SpecError => true }
      assert(metaRed || typedRed,
        s"'${c.get("description").asText()}' passed BOTH meta and typed gates")
    }
  }

  test("shape errors are caught by the META layer itself") {
    def metaKws(specJson: String): Set[String] =
      MetaSpec.violations(spark, specJson).map(_.keyword).toSet
    // unknown keyword → node meta additionalProperties
    assert(metaKws("""{"columns":{"v":{"frobnicate":1}}}""")
      .exists(_.contains("additionalProperties")))
    // negative minLength
    assert(metaKws("""{"columns":{"v":{"minLength":-1}}}""")
      .exists(_.contains("minimum")))
    // zero multipleOf
    assert(metaKws("""{"columns":{"v":{"multipleOf":0}}}""")
      .exists(_.contains("exclusiveMinimum")))
    // empty enum
    assert(metaKws("""{"columns":{"v":{"enum":[]}}}""")
      .exists(_.contains("minItems")))
    // unknown type name
    assert(metaKws("""{"columns":{"v":{"type":"frob"}}}""")
      .exists(_.contains("anyOf")))
    // malformed $anchor
    assert(metaKws("""{"$defs":{"a":{"$anchor":"9lives"}},"columns":{}}""")
      .exists(_.contains("pattern")))
    // unknown drift method (root meta, nested table shape)
    assert(metaKws(
      """{"table":{"drift":[{"column":"v","method":"chi2","threshold":0.2}]}}""")
      .nonEmpty)
    // unknown top-level keyword
    assert(metaKws("""{"wibble":1}""").exists(_.contains("additionalProperties")))
    // deep nesting: the walker reaches a malformed node 4 levels down
    assert(metaKws(
      """{"columns":{"v":{"items":{"not":{"allOf":[{"properties":{"x":{"minLength":-3}}}]}}}}}""")
      .exists(_.contains("minimum")))
  }

  test("meta gate is never STRICTER than the typed parser (accepted no-op empties)") {
    Seq(
      """{"columns":{},"row":[]}""",
      """{"columns":{},"table":{"unique":[],"foreignKey":[],"drift":[],"stats":[]}}"""
    ).foreach { s =>
      Spec.fromJson(s) // the language accepts these as harmless no-ops...
      assert(MetaSpec.violations(spark, s).isEmpty,
        s"meta gate rejected a parser-accepted document: $s")
    }
  }

  test("catalog arm: a table of stored specs meta-validates in one DataFrame pass") {
    import spark.implicits._
    val catalog = Seq(
      ("ok1", """{"columns":{"v":{"minimum":1}}}"""),
      ("ok2", """{"$defs":{"a":{"type":"string"}},"columns":{"v":{"$ref":"#/$defs/a"}}}"""),
      ("badkw", """{"columns":{"v":{"frobnicate":1}}}"""),
      ("badnested", """{"columns":{"v":{"items":{"minLength":-1}}}}"""),
      ("malformed", """{not json"""),
      ("nullspec", null)
    ).toDF("spec_id", "spec_json")
    val vios = graft.spec.MetaSpec
      .violationsForCatalog(catalog, "spec_id", "spec_json")
      .select("spec_id", "path", "keyword").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    val byId = vios.groupBy(_._1)
    assert(!byId.contains("ok1") && !byId.contains("ok2") && !byId.contains("nullspec"))
    assert(byId("badkw").exists(v => v._2 == "#/columns/v" &&
      v._3.contains("additionalProperties")))
    assert(byId("badnested").exists(v => v._2 == "#/columns/v/items" &&
      v._3.contains("minimum")))
    assert(byId("malformed").exists(_._3.contains("!parse")))
  }

  test("meta-violation paths point at the offending node") {
    val vs = MetaSpec.violations(spark,
      """{"columns":{"v":{"items":{"minLength":-1}}}}""")
    assert(vs.exists(_.path == "#/columns/v/items"), vs.toString)
  }

  test("driver path equals the catalog arm over the invalid_specs corpus") {
    import spark.implicits._
    val cases = mapper.readTree(
      getClass.getResourceAsStream("/conformance/invalid_specs.json"))
    val docs = (cases.asScala.map(_.get("spec").toString).toSeq :+
      MetaSpec.document).zipWithIndex.map { case (d, i) => (s"c$i", d) }
    def multiset(vs: Seq[(String, String, String, String)]) =
      vs.groupBy(identity).map { case (k, v) => k -> v.size }
    val catalog = MetaSpec.violationsForCatalog(docs.toDF("id", "spec_json"),
        "id", "spec_json")
      .collect().toSeq.groupBy(_.getString(0)).map { case (id, rs) =>
        id -> multiset(rs.map(r =>
          (r.getString(1), r.getString(2), r.getString(3), r.getString(4))))
      }
    assert(catalog.nonEmpty)
    docs.foreach { case (id, doc) =>
      val local = multiset(MetaSpec.violationsFrame(spark, doc).collect().toSeq
        .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))))
      assert(local == catalog.getOrElse(id, Map.empty), doc)
    }
  }
}
