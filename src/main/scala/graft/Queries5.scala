package graft

import com.fasterxml.jackson.databind.ObjectMapper
import graft.compile.SuiteCompiler
import graft.exec.Validator
import graft.spec.{Spec, SpecError}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Batch 5: the REFERENCE'S OWN supplementary test suite
  * (/root/reference/testdata/Extra-Test-Suite, the cases the reference runs
  * at /root/reference/suite_test.go:105-152) replayed as ONE oracle-checked
  * query. The Spark side computes a per-test verdict row through the
  * engine's dynamic (variant) validation path; the oracle side is the
  * suite's own expected `valid` flags as literal rows. A hash match means
  * the engine agrees with the reference on every one of the reference's own
  * test instances — schema compilation, embedded `$id` resources, per-
  * resource dialects, `$vocabulary` gating, content*, formats, refs and all.
  *
  * The reference serves the suite's `remotes/` directory at
  * http://localhost:1234 (suite_test.go:153-165); here that mapping is a
  * registered scheme loader — no server needed.
  */
object Queries5 {

  val suiteRoot: String = "/root/reference/testdata/Extra-Test-Suite"

  private val mapper = new ObjectMapper()

  @volatile private var remotesRegistered = false

  /** Extra per-case remotes (url → document JSON), settable by tests that
    * replay suites carrying their own remote maps (the reference's
    * invalid_schemas.json cases each ship one,
    * /root/reference/invalid_schemas_test.go:36-43). Meta-schema dialects
    * memoize by URL, so swapping remotes clears that cache.
    */
  def setDynamicRemotes(remotes: Map[String, String]): Unit = {
    dynamicRemotes = remotes.map { case (k, v) =>
      k -> mapper.readTree(graft.functions.SurrogateCanon.canonText(v)) }
    graft.spec.Dialect.clearMetaCache()
  }
  @volatile private var dynamicRemotes: Map[String, com.fasterxml.jackson.databind.JsonNode] = Map.empty

  /** Map http://localhost:1234/<p> → Extra-Test-Suite/remotes/<p> (the
    * loader-registry analogue of the reference's test HTTP server), plus
    * whatever [[setDynamicRemotes]] currently holds. Idempotent.
    */
  // suite tree whose remotes/ dir backs http://localhost:1234/ — the
  // Extra-Test-Suite by default; [[SuiteRunner]] repoints it per run
  @volatile private[graft] var remotesRoot: String = suiteRoot

  def registerRemotes(): Unit = synchronized {
    if (!remotesRegistered) {
      Spec.registerLoader("http", { url =>
        val prefix = "http://localhost:1234/"
        // per-case remotes SHADOW the served suite dir, like the reference's
        // per-test loaders (debug_test.go:64-72 serves only its own map)
        dynamicRemotes.get(url).getOrElse {
          if (url.startsWith(prefix))
            mapper.readTree(
              Paths.get(remotesRoot, "remotes", url.stripPrefix(prefix)).toFile)
          else if (url.stripSuffix("#")
              .stripPrefix("http://json-schema.org/") != url.stripSuffix("#"))
            Spec.loadOfficialMeta(url) // bundled official metas stay served
          else
            throw SpecError(url, s"remote '$url' not found")
        }
      })
      remotesRegistered = true
    }
  }

  /** Wrap a STANDALONE JSON Schema document as a one-json-column spec whose
    * `$ref` routes through the `inline+json:` document loader, so the schema
    * keeps its own document namespace (own `$defs` / embedded `$id`
    * resources / anchors / `$schema` dialect) — exactly like a file the
    * reference compiles. Parsed in reference-compat mode (unknown /
    * out-of-dialect keywords are ignored annotations, the reference's
    * open-keyword semantics).
    */
  /** The inline-document URL [[wrapSchema]] routes a schema through —
    * exposed so callers (the jv-parity CLI) can strip it back out of
    * reported keyword paths.
    */
  def inlineUrl(schemaJson: String): String =
    "inline+json:" + schemaJson.replace("%", "%25").replace("#", "%23")

  def wrapSchema(schemaJson: String): Spec = wrapSchemaUrl(inlineUrl(schemaJson))

  def wrapSchema(schemaJson: String, jvAssert: Option[(Boolean, Boolean)]): Spec =
    wrapSchemaUrl(inlineUrl(schemaJson), jvAssert)

  def wrapSchema(schemaJson: String, jvAssert: Option[(Boolean, Boolean)],
                 defaultDraftUrl: Option[String]): Spec =
    wrapSchemaUrl(inlineUrl(schemaJson), jvAssert, defaultDraftUrl)

  /** Same wrapping for a schema addressed by URL (file://, http://, …):
    * the document keeps its base, so RELATIVE refs inside it resolve
    * against its location.
    */
  def wrapSchemaUrl(url: String): Spec = wrapSchemaUrl(url, jvAssert = None)

  /** `jvAssert = Some((assertFormat, assertContent))` compiles with the
    * reference CLI's draft-dependent assertion defaults (format annotation-
    * only for draft≥2019 unless the meta-schema requires the vocabulary,
    * content* never asserted) with the two flags as overrides — the jv
    * `--assert-format`/`--assert-content` switches. `None` = engine-native
    * (both always asserted, like the reference suite harness).
    */
  def wrapSchemaUrl(url: String, jvAssert: Option[(Boolean, Boolean)]): Spec =
    wrapSchemaUrl(url, jvAssert, defaultDraftUrl = None)

  /** `defaultDraftUrl`: dialect applied to documents lacking `$schema` —
    * the jv `--draft` flag threaded through the dialect layer (the
    * reference compiler's DefaultDraft, /root/reference/compiler.go:30-36)
    * instead of rewriting the document, so a file-based schema KEEPS its
    * file:// base and relative `$ref`s inside it still resolve.
    */
  def wrapSchemaUrl(url: String, jvAssert: Option[(Boolean, Boolean)],
                    defaultDraftUrl: Option[String]): Spec =
    Spec.parse(mapper.readTree(
      s"""{"columns":{"j":{"json":{"$$ref":${mapper.writeValueAsString(url)}}}}}"""),
      compat = true, None, jvAssert, defaultDraftUrl)

  /** Engine verdicts for JSON texts against a standalone JSON Schema
    * document (dynamic variant path), as a DataFrame (idx, valid). A
    * no-progress cyclic schema — which the reference fails at RUNTIME with
    * its infinite-loop guard (/root/reference/validator.go:84-90) and this
    * engine rejects at COMPILE time — maps to all-false verdicts: both
    * engines refuse to validate anything against the schema.
    */
  private def verdictFrame(spark: SparkSession, schemaJson: String,
                           docs: Seq[String]): DataFrame =
    verdictFrameWith(spark, schemaJson, docs, jvAssert = None,
      defaultDraftUrl = None)

  /** [[verdictFrame]] with the runner-level knobs exposed: `jvAssert` =
    * the reference CLI / suite-harness assertion switches
    * (AssertFormat/AssertContent), `defaultDraftUrl` = the dialect for
    * documents lacking `$schema` (the per-directory DefaultDraft of
    * suite_test.go:139-149). Used by [[SuiteRunner]] for arbitrary
    * JSON-Schema-Test-Suite-format trees.
    */
  private[graft] def verdictFrameWith(spark: SparkSession, schemaJson: String,
                                      docs: Seq[String],
                                      jvAssert: Option[(Boolean, Boolean)],
                                      defaultDraftUrl: Option[String])
      : DataFrame = {
    val docSchema = StructType(Seq(
      StructField("idx", IntegerType, nullable = false),
      StructField("j", StringType)))
    val df = spark.createDataFrame(
      docs.zipWithIndex.map { case (d, i) => Row(i, d) }.asJava, docSchema)
    try {
      // depth-adaptive: recursive suite schemas (tree/strict-tree etc.)
      // unroll to the docs' real depth instead of the fixed default
      val suite = SuiteCompiler.compileAdaptive(
        wrapSchema(schemaJson, jvAssert, defaultDraftUrl), df)
      Validator.annotate(df, suite).select(col("idx"), col("valid"))
    } catch {
      case e: SpecError if e.message.contains("cyclic") =>
        spark.createDataFrame(
          docs.indices.map(i => Row(i, false)).asJava,
          StructType(Seq(StructField("idx", IntegerType, nullable = false),
            StructField("valid", BooleanType, nullable = false))))
    }
  }

  /** `<root>/tests`, or a typed error naming it when the suite checkout is
    * absent (the same failure [[SuiteRunner.run]] reports for an empty tree).
    */
  private def testsDir(root: String): Path = {
    val tests = Paths.get(root, "tests")
    if (!Files.isDirectory(tests))
      throw SpecError(root, s"no suite tests directory at $tests — is the " +
        "reference checkout present?")
    tests
  }

  private def testFiles(root: String): Seq[Path] = {
    val s = Files.walk(testsDir(root))
    try s.iterator().asScala.filter(_.toString.endsWith(".json"))
      .toVector.sortBy(_.toString)
    finally s.close()
  }

  /** (relative file, group index, group description, schema JSON,
    * per-test (data JSON, expected valid)).
    */
  def suiteGroups: Seq[(String, Int, String, String, Vector[(String, Boolean)])] =
    suiteGroups(suiteRoot)

  /** [[suiteGroups]] of the suite tree at `root`. */
  private[graft] def suiteGroups(root: String)
      : Seq[(String, Int, String, String, Vector[(String, Boolean)])] = {
    val tests = testsDir(root)
    testFiles(root).flatMap { f =>
      val rel = tests.relativize(f).toString
      mapper.readTree(f.toFile).asScala.zipWithIndex.map { case (g, gi) =>
        (rel, gi, g.get("description").asText(), g.get("schema").toString,
          g.get("tests").asScala.toVector.map(t =>
            (t.get("data").toString, t.get("valid").asBoolean())))
      }
    }
  }

  /** Convenience for tests: verdicts for one group's docs as plain booleans. */
  def verdicts(spark: SparkSession, schemaJson: String,
               docs: Seq[String]): Seq[Boolean] = {
    registerRemotes()
    verdictFrame(spark, schemaJson, docs)
      .orderBy("idx").select("valid")
      .collect().toVector.map(_.getBoolean(0))
  }

  /** The whole suite as one DataFrame: (file, grp, idx, valid) — computed
    * verdicts, to be hash-compared against [[sqlRefSuite]]'s expected rows.
    */
  def qRefSuite(spark: SparkSession, dir: String): DataFrame =
    suiteVerdicts(spark, suiteRoot)

  /** [[qRefSuite]] over the suite tree at `root`; a missing or empty tree is
    * a typed [[SpecError]], never a vacuous zero-row result.
    */
  private[graft] def suiteVerdicts(spark: SparkSession, root: String): DataFrame = {
    registerRemotes()
    val parts = suiteGroups(root).map { case (rel, gi, _, schemaJson, tests) =>
      verdictFrame(spark, schemaJson, tests.map(_._1))
        .select(lit(rel).as("file"), lit(gi).as("grp"), col("idx"), col("valid"))
    }
    if (parts.isEmpty)
      throw SpecError(root, s"no suite test files found under $root/tests")
    parts.reduce(_ unionAll _).orderBy("file", "grp", "idx")
  }

  /** Oracle: the suite's own expected verdicts as literal rows. Read
    * eagerly (the driver's registry holds oracle strings), so it must not
    * throw when the suite checkout is absent: the oracle is then a zero-row
    * query with the same columns, and [[qRefSuite]] fails on its own.
    */
  def sqlRefSuite: String = sqlRefSuite(suiteRoot)

  /** [[sqlRefSuite]] of the suite tree at `root`. */
  private[graft] def sqlRefSuite(root: String): String = {
    val groups =
      if (Files.isDirectory(Paths.get(root, "tests"))) suiteGroups(root) else Nil
    val rows = groups.flatMap { case (rel, gi, _, _, tests) =>
      tests.zipWithIndex.map { case ((_, want), i) =>
        s"('$rel', $gi, $i, ${if (want) "TRUE" else "FALSE"})"
      }
    }
    if (rows.isEmpty) """SELECT file, grp, idx, valid
        FROM (VALUES ('', 0, 0, FALSE)) AS t(file, grp, idx, valid)
        WHERE FALSE"""
    else s"""SELECT file, grp, idx, valid
        FROM (VALUES ${rows.mkString(",\n  ")}) AS t(file, grp, idx, valid)
        ORDER BY file, grp, idx"""
  }

  /** (query, oracle) registry for this batch. */
  def registry: Map[String, ((SparkSession, String) => DataFrame, String)] = Map(
    "q_refsuite" -> ((qRefSuite _, sqlRefSuite))
  )
}
