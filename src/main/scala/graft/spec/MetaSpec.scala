package graft.spec

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.compile.SuiteCompiler
import graft.exec.Validator
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import scala.jdk.CollectionConverters._

/** Self-hosted meta-spec validation: the spec language described in a spec
  * document and enforced by the engine itself, before the typed parser runs
  * — the analogue of the reference validating every schema against its
  * dialect's metaschema before compiling (/root/reference/roots.go:53-56,
  * 240-248).
  *
  * Because the engine inlines `$ref`s at compile time (cycles rejected), a
  * recursive metaschema cannot be expressed directly. Instead we mirror the
  * reference's resource-walker architecture (/root/reference/root.go:78-135):
  * a keyword-position map flattens the document into its constituent schema
  * nodes, and EVERY node is validated — by the engine's own dynamic JSON
  * compiler — against a depth-1 node meta-spec whose nested schema positions
  * only assert "object or boolean" (each nested node appears as its own row,
  * so nothing is left unchecked). One spec document is validated on the
  * driver ([[Validator.localViolations]]: the suite bound once, no Spark
  * job per document); a catalog of a million stored specs is one DataFrame
  * pass over the same compiled expressions.
  *
  * Division of labour: this gate catches SHAPE errors (unknown keywords,
  * ill-typed keyword values, negative lengths, empty enums, malformed anchor
  * names). Semantic errors (regex validity, format/encoding registries,
  * `$ref` resolution, column existence) stay with the typed parser that runs
  * after it — same split as the reference, whose metaschema also cannot see
  * registries.
  */
object MetaSpec {

  private val mapper = new ObjectMapper()

  /** The meta-spec source document (a spec in the engine's own language). */
  lazy val document: String = {
    val in = getClass.getResourceAsStream("/graft/metaspec.json")
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  /** The meta-spec, parsed like any other spec. */
  lazy val spec: Spec = Spec.fromJson(document)

  /** Input shape for meta-validation: one 'root' row for the whole document,
    * one 'node' row per enumerated schema node (exactly one of root/node is
    * non-null per row — the engine's NULL-vacuous convention skips the other
    * column's checks).
    */
  val inputSchema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("root", StringType, nullable = true),
    StructField("node", StringType, nullable = true)))

  private lazy val compiledSuite = SuiteCompiler.compile(spec, inputSchema)

  /** Enumerate every schema node in a spec document with its location, via
    * the shared keyword-position map ([[Spec.walkSchemaNodes]]). Non-object,
    * non-boolean children are not descended into — the parent's meta-check
    * already flags them (nested positions must be object or boolean).
    */
  def schemaNodes(doc: JsonNode): Vector[(String, JsonNode)] = {
    val out = Vector.newBuilder[(String, JsonNode)]
    Spec.walkSchemaNodes(doc) { (n, path) =>
      out += (("#/" + path.mkString("/"), n))
    }
    out.result()
  }

  /** One meta-violation: (spec location, meta keyword, detail). */
  final case class MetaViolation(path: String, keyword: String, detail: String)

  /** Meta-validate a spec document with the engine itself. Returns all
    * violations (empty = shape-valid).
    */
  def violations(spark: SparkSession, doc: JsonNode): Vector[MetaViolation] =
    localViolations(spark, doc)
      .map(r => MetaViolation(r.getString(0), r.getString(1), r.getString(3)))
      .toVector
      .sortBy(v => (v.path, v.keyword))

  def violations(spark: SparkSession, json: String): Vector[MetaViolation] =
    violations(spark, Spec.readJsonDoc(json))

  /** (path, keyword, instance_path, detail) rows for one document, on the
    * driver — the single definition of the meta input row shape.
    */
  private def localViolations(spark: SparkSession, doc: JsonNode): Seq[Row] = {
    val rows: Seq[Row] = Row("#", doc.toString, null) +:
      schemaNodes(doc).map { case (p, n) => Row(p, null, n.toString) }
    Validator.localViolations(spark, compiledSuite, inputSchema, rows, Seq("path"))
  }

  /** The raw violations frame for one document (local, over the rows). */
  def violationsFrame(spark: SparkSession, doc: JsonNode): org.apache.spark.sql.DataFrame =
    spark.createDataFrame(localViolations(spark, doc).asJava,
      Validator.violationsSchema(inputSchema, Seq("path")))

  def violationsFrame(spark: SparkSession, json: String): org.apache.spark.sql.DataFrame =
    violationsFrame(spark, Spec.readJsonDoc(json))

  /** Gate: throw a typed [[SpecError]] on the first meta-violation (CLI exit
    * 2), mirroring the reference's compile-time metaschema rejection.
    */
  def check(spark: SparkSession, doc: JsonNode): Unit = {
    val vs = violations(spark, doc)
    vs.headOption.foreach { v =>
      val more = if (vs.size > 1) s" (+${vs.size - 1} more)" else ""
      throw SpecError(v.path, s"meta-spec: ${v.detail}$more")
    }
  }

  /** Per-document enumeration for the catalog arm: (path, root, node) rows.
    * Malformed JSON yields just the root row — the engine's `!parse` check
    * then flags it like any other violation (no exceptions in the plan).
    * Called on executors: the object (and its mapper) loads per-JVM.
    */
  def enumerateRows(json: String): Seq[(String, String, String)] =
    try {
      // surrogate canon ahead of the node walk: emitted node texts carry
      // U+FFFD for lone surrogate escapes, like every other schema decode
      // (the raw root row is canon'd by the engine's own instance path)
      val doc = mapper.readTree(graft.functions.SurrogateCanon.canonText(json))
      ("#", json, null) +: schemaNodes(doc).map { case (p, n) => (p, null, n.toString) }
    } catch {
      case _: java.io.IOException | _: RuntimeException =>
        Seq(("#", json, null))
    }

  /** Meta-validate a CATALOG of stored specs — one DataFrame pass, so a
    * million spec documents validate like any other table (the point of
    * hosting the metaschema in the engine). Input: (idCol, specCol:string);
    * output: (idCol, path, keyword, instance_path, detail) violation rows.
    * The per-document node enumeration is a UDF over the position map —
    * genuine per-document imperative logic on small documents, while the
    * validation itself stays in compiled expressions.
    */
  def violationsForCatalog(specs: org.apache.spark.sql.DataFrame,
                           idCol: String, specCol: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val enum0 = udf((json: String) =>
      if (json == null) Seq.empty[(String, String, String)] else enumerateRows(json))
    val exploded = specs
      .select(col(idCol), explode(enum0(col(specCol))).as("__r"))
      .select(col(idCol), col("__r._1").as("path"),
        col("__r._2").as("root"), col("__r._3").as("node"))
    Validator.violations(exploded, compiledSuite, Seq(idCol, "path"))
  }
}
