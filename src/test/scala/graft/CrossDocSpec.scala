package graft

import com.fasterxml.jackson.databind.ObjectMapper
import graft.compile.SuiteCompiler
import graft.exec.Validator
import graft.spec.{Spec, SpecError}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** Cross-document `$ref` through the FILE loader: a spec split across
  * multiple documents (json + yaml), per-compile document memoization,
  * cross-document cycle rejection, and recursion across files — the
  * engine's analogue of the reference's remote-ref suite
  * (/root/reference/suite_test.go:153-165, roots.go:103-150).
  */
class CrossDocSpec extends SparkTestBase {

  private def tmpFile(name: String, content: String): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_crossdoc")
    val p = dir.resolve(name)
    java.nio.file.Files.writeString(p, content)
    p.toString
  }

  private def validate(specJson: String, schema: StructType, rows: Seq[Row]) = {
    val df = spark.createDataFrame(rows.asJava, schema)
    val suite = SuiteCompiler.compile(Spec.fromJson(specJson), df.schema)
    Validator.annotate(df, suite).orderBy("__row")
      .select("valid", "violations.keyword").collect()
      .map(r => (r.getBoolean(0), r.getSeq[String](1).toVector))
  }

  private val intRowSchema = StructType(Seq(
    StructField("__row", IntegerType), StructField("sr_hz", IntegerType)))

  test("spec split across a JSON file and a YAML file (file:// refs + anchors)") {
    // common.json: shared $defs library with an internal relative ref
    val commonPath = tmpFile("common.json",
      """{"$defs": {
        |  "rate": {"minimum": 8000, "maximum": 48000},
        |  "rateByRef": {"$ref": "#/$defs/rate"},
        |  "anchored": {"$anchor": "loud", "exclusiveMinimum": 0}
        |}}""".stripMargin)
    // extra.yaml: a YAML document whose node chains BACK into common.json
    val yamlPath = tmpFile("extra.yaml",
      s"""strict:
         |  allOf:
         |    - $$ref: "file://$commonPath#/$$defs/rateByRef"
         |    - multipleOf: 100
         |""".stripMargin)
    val spec =
      s"""{"columns": {"sr_hz": {"$$ref": "file://$yamlPath#/strict"}}}"""
    val out = validate(spec, intRowSchema, Seq(
      Row(0, 16000), // valid
      Row(1, 16050), // fails multipleOf (yaml side)
      Row(2, 4000))) // fails minimum (json side, two hops away)
    assert(out(0)._1)
    assert(!out(1)._1 && out(1)._2.exists(_.endsWith("/strict/allOf/1/multipleOf")))
    assert(!out(2)._1 && out(2)._2.exists(_.endsWith("/rate/minimum")))

    // anchor form across a file boundary
    val spec2 =
      s"""{"columns": {"sr_hz": {"$$ref": "file://$commonPath#loud"}}}"""
    val out2 = validate(spec2, intRowSchema, Seq(Row(0, 1), Row(1, -5)))
    assert(out2(0)._1 && !out2(1)._1)
  }

  test("file paths with spaces, literal and percent-encoded (filepaths_test.go parity)") {
    // the reference compiles absolute and relative paths containing spaces
    // (filepaths_test.go:11-46); its toFileURL percent-encodes and its
    // FileLoader decodes, so BOTH spellings of a ref must reach the file
    val dir = java.nio.file.Files.createTempDirectory("graft path sp")
    java.nio.file.Files.writeString(dir.resolve("common schema.json"),
      """{"$defs": {"rate": {"minimum": 8000, "maximum": 48000}}}""")
    java.nio.file.Files.writeString(dir.resolve("sample schema.json"),
      """{"strict": {"$ref": "common%20schema.json#/$defs/rate"}}""")
    // literal space in the spec-level absolute ref; percent-encoded space in
    // the nested relative ref (resolved against the space-carrying base)
    val spec =
      s"""{"columns": {"sr_hz":
            {"$$ref": "file://$dir/sample schema.json#/strict"}}}"""
    val out = validate(spec, intRowSchema, Seq(Row(0, 16000), Row(1, 4000)))
    assert(out(0)._1)
    assert(!out(1)._1 && out(1)._2.exists(_.endsWith("/rate/minimum")))

    // the reference's OWN space-named example compiles and validates its
    // example instance (jv-parity path: bare schema by file URL)
    assumePath("/root/reference/testdata/examples/sample schema.json")
    val spec3 = Queries5.wrapSchemaUrl(
      "file:///root/reference/testdata/examples/sample schema.json")
    val df = spark.createDataFrame(Seq(
      Row(0, """{"firstName": "Santhosh Kumar", "lastName": "Tekuri"}"""),
      Row(1, """{"firstName": "only"}""")).asJava,
      StructType(Seq(StructField("__row", IntegerType),
        StructField("j", StringType))))
    val suite = SuiteCompiler.compile(spec3, df.schema)
    val got = Validator.annotate(df, suite).orderBy("__row")
      .select("valid").collect().map(_.getBoolean(0)).toSeq
    assert(got == Seq(true, false))
  }

  test("malformed percent escapes in $ref pointers stay literal (strict hex digits only)") {
    // RFC 3986 escapes are exactly two [0-9A-Fa-f] digits; '%+4' is not an
    // escape and must survive as the literal property name (the reference's
    // url.PathUnescape leaves it untouched), while '%25' still decodes to '%'
    val spec =
      """{"$defs": {"a%+4": {"minimum": 8000}},
          "columns": {"sr_hz": {"allOf": [
            {"$ref": "#/$defs/a%+4"},
            {"$ref": "#/$defs/a%25+4"}]}}}"""
    val out = validate(spec, intRowSchema, Seq(Row(0, 16000), Row(1, 4000)))
    assert(out(0)._1)
    assert(!out(1)._1 && out(1)._2.exists(_.endsWith("/minimum")))
  }

  test("cross-document cycle with no data descent is a typed compile error") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cycle")
    val a = dir.resolve("a.json"); val b = dir.resolve("b.json")
    java.nio.file.Files.writeString(a,
      s"""{"$$defs": {"x": {"$$ref": "file://$b#/$$defs/y"}}}""")
    java.nio.file.Files.writeString(b,
      s"""{"$$defs": {"y": {"$$ref": "file://$a#/$$defs/x"}}}""")
    val err = intercept[SpecError] {
      SuiteCompiler.compile(
        Spec.fromJson(s"""{"columns": {"sr_hz": {"$$ref": "file://$a#/$$defs/x"}}}"""),
        StructType(Seq(StructField("sr_hz", IntegerType))))
    }
    assert(err.getMessage.contains("cyclic"))
  }

  test("recursive descent ACROSS files unrolls with a typed depth cut") {
    // a.json's node descends into b.json's node and vice versa (mutual
    // recursion with data descent) — compiles via bounded unroll
    val dir = java.nio.file.Files.createTempDirectory("graft_mutual")
    val a = dir.resolve("a.json"); val b = dir.resolve("b.json")
    java.nio.file.Files.writeString(a,
      s"""{"type": "object", "properties": {
         |  "v": {"type": "integer"},
         |  "next": {"$$ref": "file://$b"}}}""".stripMargin)
    java.nio.file.Files.writeString(b,
      s"""{"type": "object", "properties": {
         |  "v": {"type": "string"},
         |  "next": {"$$ref": "file://$a"}}}""".stripMargin)
    val schema = StructType(Seq(
      StructField("__row", IntegerType), StructField("j", StringType)))
    val spec = s"""{"columns": {"j": {"json": {"$$ref": "file://$a"}}}}"""
    val out = validate(spec, schema, Seq(
      Row(0, """{"v": 1, "next": {"v": "s", "next": {"v": 2}}}"""), // alternating types ok
      Row(1, """{"v": 1, "next": {"v": 2}}""")))                    // wrong type at level 2
    assert(out(0)._1, out(0).toString)
    assert(!out(1)._1 && out(1)._2.exists(_.endsWith("/properties/v/type")))
  }

  test("external documents are loaded once per compile (memoized)") {
    var loads = 0
    Spec.registerLoader("counting", { url =>
      loads += 1
      Spec.documentFromJson("""{"$defs": {"r": {"minimum": 5}}}""")
    })
    val spec = Spec.fromJson(
      """{"columns": {
        |  "sr_hz": {"allOf": [
        |    {"$ref": "counting://doc#/$defs/r"},
        |    {"$ref": "counting://doc#/$defs/r"},
        |    {"$ref": "counting://doc#/$defs/r"}]}}}""".stripMargin)
    SuiteCompiler.compile(spec, StructType(Seq(StructField("sr_hz", IntegerType))))
    assert(loads == 1, s"expected 1 memoized load, got $loads")
  }

  test("$recursiveRef without $recursiveAnchor degrades to plain $ref to the resource root (2019-09 \u00a78.2.4.2)") {
    // legal and common: a 2019-09 document using $recursiveRef: "#" with NO
    // $recursiveAnchor declared — equivalent to $ref: "#"
    val doc = tmpFile("recur.json",
      """{"$schema": "https://json-schema.org/draft/2019-09/schema",
        |  "type": "object", "required": ["data"],
        |  "properties": {
        |    "data": {"type": "integer"},
        |    "next": {"$recursiveRef": "#"}}}""".stripMargin)
    val schema = StructType(Seq(
      StructField("__row", IntegerType), StructField("j", StringType)))
    val spec = s"""{"columns": {"j": {"json": {"$$ref": "file://$doc"}}}}"""
    val out = validate(spec, schema, Seq(
      Row(0, """{"data": 1, "next": {"data": 2}}"""),  // valid one level down
      Row(1, """{"data": 1, "next": {"oops": 2}}""")))  // required fails in recursion
    assert(out(0)._1, out(0).toString)
    assert(!out(1)._1 && out(1)._2.exists(_.contains("required")), out(1).toString)
  }

  test("anchor fragment into an embedded $id resource resolves within that resource") {
    val spec =
      """{"$defs": {"res": {"$id": "urn:graft:anch",
           "$defs": {"inner": {"$anchor": "deep", "minimum": 42}}},
           "other": {"$anchor": "outside", "maximum": 1}},
         "columns": {"sr_hz": {"$ref": "urn:graft:anch#deep"}}}"""
    val out = validate(spec, intRowSchema, Seq(Row(0, 50), Row(1, 10)))
    assert(out(0)._1 && !out(1)._1)
    // an anchor OUTSIDE the resource subtree is not visible through it
    val e = intercept[SpecError] {
      val s = Spec.fromJson(
        """{"$defs": {"res": {"$id": "urn:graft:anch2", "minimum": 0},
             "other": {"$anchor": "elsewhere", "maximum": 1}},
           "columns": {"sr_hz": {"$ref": "urn:graft:anch2#elsewhere"}}}""")
      SuiteCompiler.compile(s, intRowSchema)
    }
    assert(e.getMessage.contains("no $anchor"), e.getMessage)
  }

  test("RELATIVE refs between files resolve against the host document (RFC 3986)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_rel")
    val sub = java.nio.file.Files.createDirectory(dir.resolve("lib"))
    java.nio.file.Files.writeString(dir.resolve("common.json"),
      """{"$defs": {"rate": {"minimum": 8000}}}""")
    // lib/mid.json chains UP a directory with ../ and sideways with ./
    java.nio.file.Files.writeString(sub.resolve("mid.json"),
      """{"$defs": {
        |  "viaUp": {"$ref": "../common.json#/$defs/rate"},
        |  "viaSide": {"$ref": "./leaf.json#/$defs/cap"}}}""".stripMargin)
    java.nio.file.Files.writeString(sub.resolve("leaf.json"),
      """{"$defs": {"cap": {"maximum": 48000}}}""")
    val spec =
      s"""{"columns": {"sr_hz": {"allOf": [
            {"$$ref": "file://$dir/lib/mid.json#/$$defs/viaUp"},
            {"$$ref": "file://$dir/lib/mid.json#/$$defs/viaSide"}]}}}"""
    val out = validate(spec, intRowSchema, Seq(
      Row(0, 16000), Row(1, 4000), Row(2, 96000)))
    assert(out(0)._1)
    assert(!out(1)._1 && out(1)._2.exists(_.contains("minimum")), out(1).toString)
    assert(!out(2)._1 && out(2)._2.exists(_.contains("maximum")), out(2).toString)
  }

  test("ROOT document loaded fromFile resolves its own relative refs") {
    val dir = java.nio.file.Files.createTempDirectory("graft_relroot")
    java.nio.file.Files.writeString(dir.resolve("common.json"),
      """{"$defs": {"rate": {"minimum": 8000, "maximum": 48000}}}""")
    java.nio.file.Files.writeString(dir.resolve("spec.json"),
      """{"columns": {"sr_hz": {"$ref": "common.json#/$defs/rate"}}}""")
    val spec = Spec.fromFile(s"$dir/spec.json")
    val df = spark.createDataFrame(
      Seq(Row(0, 16000), Row(1, 4000)).asJava, intRowSchema)
    val out = Validator.annotate(df, SuiteCompiler.compile(spec, df.schema))
      .orderBy("__row").select("valid").collect().map(_.getBoolean(0)).toSeq
    assert(out == Seq(true, false))
  }

  test("relative ref without a document base is a typed error naming the fix") {
    val e = intercept[SpecError] {
      val spec = Spec.fromJson(
        """{"columns": {"sr_hz": {"$ref": "common.json#/$defs/rate"}}}""")
      SuiteCompiler.compile(spec, intRowSchema)
    }
    assert(e.getMessage.contains("fromFile"), e.getMessage)
  }

  test("../ escaping past the base root resolves at the root and fails in the loader") {
    // RFC 3986 §5.2.4: excess '..' segments are DROPPED — Go's
    // url.ResolveReference yields file:///x.json here, and the failure is
    // the loader's (file does not exist), not a resolution error
    val dir = java.nio.file.Files.createTempDirectory("graft_relesc")
    java.nio.file.Files.writeString(dir.resolve("spec.json"),
      """{"columns": {"sr_hz":
           {"$ref": "../../../../../../../../../x.json#/a"}}}""")
    val spec = Spec.fromFile(s"$dir/spec.json")
    val e = intercept[SpecError](SuiteCompiler.compile(spec, intRowSchema))
    assert(e.getMessage.contains("file:///x.json"), e.getMessage)
  }

  test("relative nested $id resolves against the document base and is addressable") {
    val dir = java.nio.file.Files.createTempDirectory("graft_relid")
    // common.json is declared ONLY as an embedded resource \u2014 no such file
    // exists on disk, so resolution must hit the resource index, not the
    // file loader
    java.nio.file.Files.writeString(dir.resolve("spec.json"),
      """{"$defs": {"lib": {"$id": "common.json", "minimum": 8000}},
        |  "columns": {"sr_hz": {"allOf": [
        |    {"$ref": "common.json"},
        |    {"$ref": "file://DIR/common.json"}]}}}"""
        .stripMargin.replace("DIR", dir.toString))
    val spec = Spec.fromFile(s"$dir/spec.json")
    val df = spark.createDataFrame(
      Seq(Row(0, 16000), Row(1, 4000)).asJava, intRowSchema)
    val out = Validator.annotate(df, SuiteCompiler.compile(spec, df.schema))
      .orderBy("__row").select("valid", "violations.keyword").collect()
    assert(out(0).getBoolean(0))
    // BOTH ref forms resolved to the same embedded resource \u2192 two violations
    assert(!out(1).getBoolean(0) && out(1).getSeq[String](1).size == 2,
      out(1).toString)
  }

  test("nested relative $ids resolve hierarchically (resource inside resource)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_relid2")
    // lib/common.json is the enclosing RESOURCE base: extra.json inside it
    // resolves to lib/extra.json, not <docdir>/extra.json
    java.nio.file.Files.writeString(dir.resolve("spec.json"),
      """{"$defs": {"lib": {"$id": "lib/common.json",
        |    "allOf": [{"$id": "extra.json", "minimum": 8000}]}},
        |  "columns": {"sr_hz": {"$ref": "lib/extra.json"}}}""".stripMargin)
    val spec = Spec.fromFile(s"$dir/spec.json")
    val df = spark.createDataFrame(
      Seq(Row(0, 16000), Row(1, 4000)).asJava, intRowSchema)
    val out = Validator.annotate(df, SuiteCompiler.compile(spec, df.schema))
      .orderBy("__row").select("valid").collect().map(_.getBoolean(0)).toSeq
    assert(out == Seq(true, false))
  }

  test("absolute root $id of an IN-MEMORY document is the base for nested relative $ids") {
    val spec = Spec.fromJson(
      """{"$id": "file:///virtual/specs/root.json",
        |  "$defs": {"lib": {"$id": "defs/rates.json", "maximum": 48000}},
        |  "columns": {"sr_hz": {"$ref": "file:///virtual/specs/defs/rates.json"}}}"""
        .stripMargin)
    val df = spark.createDataFrame(
      Seq(Row(0, 16000), Row(1, 96000)).asJava, intRowSchema)
    val out = Validator.annotate(df, SuiteCompiler.compile(spec, df.schema))
      .orderBy("__row").select("valid").collect().map(_.getBoolean(0)).toSeq
    assert(out == Seq(true, false))
  }

  test("relative $id under an OPAQUE enclosing base is a typed error naming the base") {
    val e = intercept[SpecError] {
      val spec = Spec.fromJson(
        """{"$defs": {"res": {"$id": "urn:graft:lib",
          |    "allOf": [{"$id": "sub.json", "minimum": 0}]}},
          |  "columns": {"sr_hz": {"$ref": "urn:graft:lib"}}}""".stripMargin)
      SuiteCompiler.compile(spec, intRowSchema)
    }
    assert(e.getMessage.contains("urn:graft:lib"), e.getMessage)
  }

  test("refs INSIDE an embedded resource are resource-scoped (2020-12 bundling)") {
    // host document and embedded resource both define $defs/limit with
    // CONFLICTING bounds \u2014 '#/$defs/limit' inside the resource must pick
    // the RESOURCE's definition, not the host document's
    val spec = Spec.fromJson(
      """{"$defs": {
        |    "limit": {"maximum": 10},
        |    "bundle": {"$id": "urn:graft:bundle",
        |      "$defs": {"limit": {"minimum": 1000}},
        |      "allOf": [{"$ref": "#/$defs/limit"}]}},
        |  "columns": {"sr_hz": {"$ref": "urn:graft:bundle"}}}""".stripMargin)
    val df = spark.createDataFrame(
      Seq(Row(0, 8000), Row(1, 5)).asJava, intRowSchema)
    val out = Validator.annotate(df, SuiteCompiler.compile(spec, df.schema))
      .orderBy("__row").select("valid").collect().map(_.getBoolean(0)).toSeq
    // 8000: valid resource-scoped (>= 1000), would be INVALID host-scoped
    // (<= 10); 5: invalid resource-scoped, valid host-scoped
    assert(out == Seq(true, false))
  }

  test("external document whose root $id differs from its load URL rebases inner refs onto the $id") {
    val dir = java.nio.file.Files.createTempDirectory("graft_rootid")
    java.nio.file.Files.writeString(dir.resolve("aliased.json"),
      """{"$id": "urn:graft:aliased",
        |  "$defs": {"rate": {"minimum": 8000}},
        |  "allOf": [{"$ref": "#/$defs/rate"}]}""".stripMargin)
    // ref the document ROOT via its load URL; its inner '#/$defs/rate'
    // rebases onto the root $id (urn:graft:aliased#/...), which must
    // resolve through the resource index, NOT the loader
    val spec =
      s"""{"columns": {"sr_hz": {"allOf": [
            {"$$ref": "file://$dir/aliased.json"},
            {"$$ref": "urn:graft:aliased#/$$defs/rate"}]}}}"""
    val out = validate(spec, intRowSchema, Seq(Row(0, 16000), Row(1, 4000)))
    assert(out(0)._1)
    // both arms resolved to the same minimum check \u2192 two violations
    assert(!out(1)._1 && out(1)._2.size == 2, out(1).toString)
  }

  test("tryResolveUrl: the complete RFC 3986 \u00a75.4 reference-resolution table") {
    // The normative examples, base "http://a/b/c/d;p?q" \u2014 the exact set
    // Go's url.ResolveReference (the reference's resolver, util.go:41)
    // implements. "g:h" and "http:g" carry a scheme, so the engine returns
    // None and the caller treats them as already-absolute (the same final
    // URL Go's strict parser produces).
    val base = "http://a/b/c/d;p?q"
    val normal = Seq(
      "g" -> "http://a/b/c/g", "./g" -> "http://a/b/c/g",
      "g/" -> "http://a/b/c/g/", "/g" -> "http://a/g",
      "//g" -> "http://g", "?y" -> "http://a/b/c/d;p?y",
      "g?y" -> "http://a/b/c/g?y", "#s" -> "http://a/b/c/d;p?q#s",
      "g#s" -> "http://a/b/c/g#s", "g?y#s" -> "http://a/b/c/g?y#s",
      ";x" -> "http://a/b/c/;x", "g;x" -> "http://a/b/c/g;x",
      "g;x?y#s" -> "http://a/b/c/g;x?y#s", "" -> "http://a/b/c/d;p?q",
      "." -> "http://a/b/c/", "./" -> "http://a/b/c/",
      ".." -> "http://a/b/", "../" -> "http://a/b/",
      "../g" -> "http://a/b/g", "../.." -> "http://a/",
      "../../" -> "http://a/", "../../g" -> "http://a/g")
    val abnormal = Seq(
      "../../../g" -> "http://a/g", "../../../../g" -> "http://a/g",
      "/./g" -> "http://a/g", "/../g" -> "http://a/g",
      "g." -> "http://a/b/c/g.", ".g" -> "http://a/b/c/.g",
      "g.." -> "http://a/b/c/g..", "..g" -> "http://a/b/c/..g",
      "./../g" -> "http://a/b/g", "./g/." -> "http://a/b/c/g/",
      "g/./h" -> "http://a/b/c/g/h", "g/../h" -> "http://a/b/c/h",
      "g;x=1/./y" -> "http://a/b/c/g;x=1/y",
      "g;x=1/../y" -> "http://a/b/c/y",
      "g?y/./x" -> "http://a/b/c/g?y/./x",
      "g?y/../x" -> "http://a/b/c/g?y/../x",
      "g#s/./x" -> "http://a/b/c/g#s/./x",
      "g#s/../x" -> "http://a/b/c/g#s/../x")
    (normal ++ abnormal).foreach { case (rel, want) =>
      assert(Spec.tryResolveUrl(base, rel).contains(want),
        s"base=$base rel='$rel' got=${Spec.tryResolveUrl(base, rel)} want=$want")
    }
    assert(Spec.tryResolveUrl(base, "g:h").isEmpty)     // already absolute
    assert(Spec.tryResolveUrl(base, "http:g").isEmpty)  // strict-parser form
  }

  test("tryResolveUrl never pops the authority and drops excess '..' (RFC 3986 \u00a75.2.4)") {
    // the depth-1 case that used to yield 'https://other.json'
    assert(Spec.tryResolveUrl("https://example.com/schema.json", "../other.json")
      .contains("https://example.com/other.json"))
    // excess leading '..' segments are dropped, not errors
    assert(Spec.tryResolveUrl("https://example.com/a/schema.json", "../../../x.json")
      .contains("https://example.com/x.json"))
    // normal sibling / parent navigation
    assert(Spec.tryResolveUrl("https://example.com/a/b/s.json", "../c/x.json")
      .contains("https://example.com/a/c/x.json"))
    assert(Spec.tryResolveUrl("https://example.com/a/s.json", "./x.json#/foo")
      .contains("https://example.com/a/x.json#/foo"))
    // path-absolute replaces the whole path, authority intact
    assert(Spec.tryResolveUrl("https://example.com/a/b/s.json", "/x.json")
      .contains("https://example.com/x.json"))
    // authority with empty path merges at '/'
    assert(Spec.tryResolveUrl("https://example.com", "x.json")
      .contains("https://example.com/x.json"))
    // file:// bases resolve the same way
    assert(Spec.tryResolveUrl("file:///tmp/a/s.json", "../x.json")
      .contains("file:///tmp/x.json"))
    // opaque bases stay unresolvable
    assert(Spec.tryResolveUrl("urn:graft:x", "y.json").isEmpty)
    // absolute references pass through untouched (None = caller keeps rel)
    assert(Spec.tryResolveUrl("https://example.com/s.json", "https://a.com/x").isEmpty)
    // an inline+json base stays OPAQUE even when the embedded document
    // contains a "://" (e.g. a $schema URL) — '://' only marks an authority
    // when it immediately follows the scheme
    assert(Spec.tryResolveUrl(
      """inline+json:{"$schema": "https://json-schema.org/draft/2020-12/schema", "x": 1}""",
      "other.json").isEmpty)
  }

  test("relative $ref at a depth-1 base resolves host-preserving across documents") {
    val dir = java.nio.file.Files.createTempDirectory("graft_depth1")
    java.nio.file.Files.writeString(dir.resolve("up.json"),
      """{"minimum": 100}""")
    val sub = java.nio.file.Files.createDirectory(dir.resolve("sub"))
    java.nio.file.Files.writeString(sub.resolve("mid.json"),
      """{"$ref": "../up.json"}""")
    val spec = s"""{"columns": {"sr_hz": {"$$ref": "file://$dir/sub/mid.json"}}}"""
    val out = validate(spec, intRowSchema, Seq(Row(0, 150), Row(1, 50)))
    assert(out(0)._1 && !out(1)._1)
  }

  test("id spelling is draft-dependent: a 2020-12 'id' member is not addressable, a draft-4 one is") {
    // 2020-12 document: 'id' is a plain annotation member, NOT a resource
    // id (the reference's getID, draft.go:165-179) \u2014 a $ref to it must fail
    val d2020 = java.nio.file.Files.createTempDirectory("graft_idkw")
    java.nio.file.Files.writeString(d2020.resolve("lib.json"),
      """{"$schema": "https://json-schema.org/draft/2020-12/schema",
        |  "$defs": {"a": {"id": "urn:graft:notaresource", "minimum": 1}}}""".stripMargin)
    val badSpec = s"""{"columns": {"sr_hz": {"allOf": [
          {"$$ref": "file://$d2020/lib.json#/$$defs/a"},
          {"$$ref": "urn:graft:notaresource"}]}}}"""
    // compat parse (reference open-keyword semantics): the 'id' member is an
    // ignored annotation, so the $ref to it must be UNRESOLVED — under
    // strict parse the same document is rejected even earlier ('id' is
    // out-of-dialect for 2020-12)
    val e = intercept[SpecError] {
      val spec = Spec.parse(new ObjectMapper().readTree(badSpec), compat = true)
      SuiteCompiler.compile(spec, intRowSchema)
    }
    assert(e.getMessage.contains("urn:graft:notaresource"), e.getMessage)
    val eStrict = intercept[SpecError] {
      validate(badSpec, intRowSchema, Seq(Row(0, 5)))
    }
    assert(eStrict.getMessage.contains("'id' is not defined"), eStrict.getMessage)
    // draft-4 document: 'id' IS the resource id and addressable
    val d4 = java.nio.file.Files.createTempDirectory("graft_idkw4")
    java.nio.file.Files.writeString(d4.resolve("lib.json"),
      """{"$schema": "http://json-schema.org/draft-04/schema",
        |  "definitions": {"a": {"id": "urn:graft:draft4res", "minimum": 1}}}""".stripMargin)
    val okSpec = s"""{"columns": {"sr_hz": {"allOf": [
          {"$$ref": "file://$d4/lib.json#/definitions/a"},
          {"$$ref": "urn:graft:draft4res"}]}}}"""
    val out = validate(okSpec, intRowSchema, Seq(Row(0, 5), Row(1, 0)))
    assert(out(0)._1 && !out(1)._1)
  }

  test("jv --draft threads through the dialect: file base kept, relative $ref resolves") {
    // a no-$schema file schema with a RELATIVE ref \u2014 under the old CLI
    // behavior --draft rewrote the JSON and dropped the file:// base, so
    // this ref became a typed error
    val dir = java.nio.file.Files.createTempDirectory("graft_jvdraft")
    java.nio.file.Files.writeString(dir.resolve("leaf.json"),
      """{"minimum": 10}""")
    java.nio.file.Files.writeString(dir.resolve("main.json"),
      """{"allOf": [{"$ref": "leaf.json"}], "format": "uuid"}""")
    // defaultDraftUrl = draft-7: format ASSERTS (jv draft<2019 default) and
    // the relative ref resolves against the file location
    val spec7 = Queries5.wrapSchemaUrl(s"file://$dir/main.json",
      jvAssert = Some((false, false)),
      defaultDraftUrl = Some("http://json-schema.org/draft-07/schema"))
    val schema = StructType(Seq(
      StructField("idx", IntegerType, nullable = false),
      StructField("j", StringType)))
    val df = spark.createDataFrame(Seq(
      Row(0, "15"), Row(1, "5"), Row(2, "\"not-a-uuid\"")).asJava, schema)
    val suite = SuiteCompiler.compile(spec7, df.schema)
    val out = Validator.annotate(df, suite).orderBy("idx")
      .select("valid").collect().map(_.getBoolean(0)).toSeq
    // 15 \u2265 10 ok; 5 < 10 fails; non-uuid string fails (format asserted)
    assert(out == Seq(true, false, false), out.toString)
    // same schema under --draft 2020: format is annotation-only \u2192 valid
    val spec2020 = Queries5.wrapSchemaUrl(s"file://$dir/main.json",
      jvAssert = Some((false, false)),
      defaultDraftUrl = Some("https://json-schema.org/draft/2020-12/schema"))
    val suite2020 = SuiteCompiler.compile(spec2020, df.schema)
    val out2020 = Validator.annotate(df, suite2020).orderBy("idx")
      .select("valid").collect().map(_.getBoolean(0)).toSeq
    assert(out2020 == Seq(true, false, true), out2020.toString)
  }

  test("$dynamicRef with a JSON-pointer fragment behaves exactly like $ref (2020-12 \u00a78.2.3.2)") {
    val spec = Spec.fromJson(
      """{"$defs": {"item": {"minimum": 5}},
        |  "columns": {"sr_hz": {"$dynamicRef": "#/$defs/item"}}}""".stripMargin)
    val df = spark.createDataFrame(
      Seq(Row(0, 10), Row(1, 3)).asJava, intRowSchema)
    val suite = SuiteCompiler.compile(spec, df.schema)
    val out = Validator.annotate(df, suite).orderBy("__row")
      .select("valid").collect().map(_.getBoolean(0)).toSeq
    assert(out == Seq(true, false))
  }
}
