package graft

import graft.compile.{CompileLimits, ErrorKind, SuiteCompiler}
import graft.exec.Validator
import graft.spec.{Spec, SpecError}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

/** Refs, composition and the keywords that do not depend on the value's
  * representation are compiled by one keyword walker for both the typed
  * compiler and the dynamic `json` mode. Each case below runs one
  * schema through both modes and must give the same outcome: the same
  * SpecError message, or the same checks (keyword path and instance path
  * relative to the schema root, ErrorKind) and the same violation rows on
  * one instance document.
  */
class DualModeSpec extends SparkTestBase {

  import DualModeSpec.Mode
  import spark.implicits._

  private val typed = Mode("columns/v", "v",
    (defs, schema) => s"""{"$$defs": $defs, "columns": {"v": $schema}}""",
    (doc, dt) => spark.read.schema(StructType(Seq(StructField("v", dt))))
      .json(Seq(s"""{"v": $doc}""").toDS()))

  private val dynamic = Mode("columns/j/json", "j!json",
    (defs, schema) => s"""{"$$defs": $defs, "columns": {"j": {"json": $schema}}}""",
    (doc, _) => Seq(doc).toDF("j"))

  private type Outcome = Either[String, (Seq[(String, String, ErrorKind)], Seq[(String, String)])]

  private def relative(path: String, root: String): String =
    if (path == root) "" else path.stripPrefix(root + "/")

  private def run(m: Mode, defs: String, schema: String, dt: DataType,
      doc: String): Outcome = {
    val df = m.frame(doc, dt)
    try {
      val suite = SuiteCompiler.compile(Spec.fromJson(m.spec(defs, schema)), df.schema)
      val checks = suite.rowChecks.filterNot(_.kind == ErrorKind.ParseError).map(c =>
        (relative(c.keywordPath, m.kwRoot), relative(c.instancePath, m.instRoot), c.kind))
      val rows = Validator.violations(df, suite, Nil).collect().toSeq.map(r =>
        (relative(r.getAs[String]("keyword"), m.kwRoot),
          relative(r.getAs[String]("instance_path"), m.instRoot)))
      Right((checks, rows.sorted))
    } catch { case e: SpecError => Left(e.getMessage.replace(m.kwRoot, "<root>")) }
  }

  private def nested(depth: Int, leaf: String): String =
    (1 to depth).foldLeft(leaf)((in, _) => s"""{"next": $in}""")
  private def nestedType(depth: Int): DataType =
    (1 to depth).foldLeft(IntegerType: DataType)((in, _) =>
      StructType(Seq(StructField("next", in))))

  private val unroll = CompileLimits.maxRefUnroll
  private val cutAt = Seq.fill(unroll)("next").mkString("/")
  private val cutKw = "$defs/node/properties/next/$ref"

  /** (name, $defs, schema, typed-mode column type, instance, expected). */
  private val cases: Seq[(String, String, String, DataType, String, Outcome => Unit)] = Seq(
    ("cyclic $ref chain is rejected",
      """{"a": {"$ref": "#/$defs/b"}, "b": {"$ref": "#/$defs/a"}}""",
      """{"$ref": "#/$defs/a"}""", IntegerType, "1",
      o => assert(o.left.exists(_.contains(
        "cyclic $ref chain: #/$defs/a -> #/$defs/b -> #/$defs/a")), o)),
    ("a $ref re-entered through allOf at the same position is a cycle",
      """{"a": {"allOf": [{"$ref": "#/$defs/a"}]}}""",
      """{"$ref": "#/$defs/a"}""", IntegerType, "1",
      o => assert(o.left.exists(_.contains("cyclic $ref chain")), o)),
    ("recursive descent is cut at the unroll depth with DepthExceeded",
      """{"node": {"properties": {"next": {"$ref": "#/$defs/node"}}}}""",
      """{"$ref": "#/$defs/node"}""", nestedType(unroll + 2),
      nested(unroll + 2, "1"),
      o => {
        val (checks, rows) = o.getOrElse(fail(s"unexpected $o"))
        assert(checks.filter(_._3.isInstanceOf[ErrorKind.DepthExceeded]) ==
          Seq((cutKw, cutAt, ErrorKind.DepthExceeded(unroll))))
        assert(rows == Seq((cutKw, cutAt)))
      }),
    ("literal true if prunes an else branch with an unresolvable $ref",
      "{}", """{"if": true, "then": {"maximum": 5}, "else": {"$ref": "#/$defs/missing"}}""",
      IntegerType, "7",
      o => assert(o == Right((Seq(("then/maximum", "", ErrorKind.Maximum(5))),
        Seq(("then/maximum", "")))))),
    ("literal false if prunes a then branch with an unresolvable $ref",
      "{}", """{"if": false, "then": {"$ref": "#/$defs/missing"}, "else": {"minimum": 10}}""",
      IntegerType, "7",
      o => assert(o == Right((Seq(("else/minimum", "", ErrorKind.Minimum(10))),
        Seq(("else/minimum", "")))))),
    ("a non-literal if still resolves both branches",
      "{}", """{"if": {"minimum": 0}, "then": {"$ref": "#/$defs/missing"}}""",
      IntegerType, "7",
      o => assert(o.left.exists(_.contains("#/$defs/missing")), o))
  )

  cases.foreach { case (name, defs, schema, dt, doc, expect) =>
    test(s"typed and json modes agree: $name") {
      val t = run(typed, defs, schema, dt, doc)
      val d = run(dynamic, defs, schema, dt, doc)
      expect(t)
      assert(t == d, s"typed: $t\njson:  $d")
    }
  }

  /** The keywords each compiler builds through one walker step. Each mode
    * emits them in its own keyword order, so checks compare sorted.
    */
  private def sorted(o: Outcome): Outcome =
    o.map { case (checks, rows) => (checks.sortBy(c => (c._1, c._2, c._3.toString)), rows) }

  /** The keyword paths of the checks built, and of the violation rows. */
  private def flags(checked: Seq[String], failed: Seq[String]): Outcome => Unit = o => {
    val (checks, rows) = o.getOrElse(fail(s"unexpected $o"))
    assert(checks.map(_._1) == checked.sorted && checks.forall(_._2 == ""), o)
    assert(rows == failed.sorted.map((_, "")), o)
  }

  private def specError(message: String): Outcome => Unit =
    o => assert(o.left.exists(_.startsWith(s"spec error at <root>/$message")), o)

  /** (name, schema, typed-mode column type, instance, expected). */
  private val keywordCases: Seq[(String, String, DataType, String, Outcome => Unit)] = Seq(
    ("array keywords",
      """{"minItems": 2, "maxItems": 3, "uniqueItems": true,
        "prefixItems": [{"minimum": 10}], "items": {"maximum": 5},
        "contains": {"const": 3}, "maxContains": 1}""",
      ArrayType(LongType), "[1, 7, 7, 3, 3]",
      flags(Seq("contains", "items", "maxItems", "minItems", "prefixItems/0", "uniqueItems"),
        Seq("contains", "items", "maxItems", "prefixItems/0", "uniqueItems"))),
    ("map-shaped object keywords",
      """{"propertyNames": {"maxLength": 2}, "patternProperties": {"^x": {"minimum": 3}},
        "additionalProperties": {"maximum": 9}, "minProperties": 1, "maxProperties": 2}""",
      MapType(StringType, LongType), """{"x1": 1, "abc": 10, "b": 4}""",
      flags(Seq("additionalProperties", "maxProperties", "minProperties",
          "patternProperties/^x", "propertyNames"),
        Seq("additionalProperties", "maxProperties", "patternProperties/^x", "propertyNames"))),
    ("additionalProperties false over a map",
      """{"patternProperties": {"^a": true}, "additionalProperties": false}""",
      MapType(StringType, LongType), """{"a": 1, "z": 2}""",
      flags(Seq("additionalProperties", "patternProperties/^a"), Seq("additionalProperties"))),
    ("const and enum over numbers",
      """{"const": 2.0, "enum": [1, 3, "x"]}""", LongType, "2",
      flags(Seq("const", "enum"), Seq("enum"))),
    ("const and enum over arrays",
      """{"const": [1, 2.0], "enum": [[1], [1, 3]]}""", ArrayType(LongType), "[1, 2]",
      flags(Seq("const", "enum"), Seq("enum"))),
    ("bounds and multipleOf",
      """{"minimum": 1, "maximum": 10.5, "exclusiveMinimum": 0,
        "exclusiveMaximum": 10, "multipleOf": 0.5}""", DoubleType, "10.25",
      flags(Seq("exclusiveMaximum", "exclusiveMinimum", "maximum", "minimum", "multipleOf"),
        Seq("exclusiveMaximum", "multipleOf"))),
    ("pattern and format",
      """{"pattern": "^a", "format": "email"}""", StringType, "\"bob\"",
      flags(Seq("format", "pattern"), Seq("format", "pattern"))),
    ("an unknown format is a spec error",
      """{"format": "no-such-format"}""", StringType, "\"x\"",
      specError("format: unknown format 'no-such-format'")),
    ("an unknown content encoding is a spec error",
      """{"contentEncoding": "rot13"}""", StringType, "\"x\"",
      specError("contentEncoding: unknown encoding 'rot13'")),
    ("an unknown media type is a spec error",
      """{"contentMediaType": "x/y"}""", StringType, "\"x\"",
      specError("contentMediaType: unknown media type 'x/y'"))
  )

  keywordCases.foreach { case (name, schema, dt, doc, expect) =>
    test(s"typed and json modes agree: $name") {
      val t = sorted(run(typed, "{}", schema, dt, doc))
      val d = sorted(run(dynamic, "{}", schema, dt, doc))
      expect(t)
      assert(t == d, s"typed: $t\njson:  $d")
    }
  }
}

object DualModeSpec {

  /** One mode: where the schema sits in the spec, and how the instance
    * document reaches it.
    */
  private final case class Mode(kwRoot: String, instRoot: String,
      spec: (String, String) => String, frame: (String, DataType) => DataFrame)
}
