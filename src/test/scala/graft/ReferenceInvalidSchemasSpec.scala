package graft

import com.fasterxml.jackson.databind.ObjectMapper
import graft.spec.SpecError

import scala.jdk.CollectionConverters._

/** Replays the reference's NEGATIVE-COMPILE corpus
  * (/root/reference/testdata/invalid_schemas.json, run by
  * /root/reference/invalid_schemas_test.go): every schema the reference
  * rejects at compile time, this engine rejects with a typed [[SpecError]]
  * — through the same dynamic-variant wrapping the positive suite uses, in
  * reference-compat parse mode (so the rejections are semantic, not
  * strict-mode keyword lint). Each case's `remotes` map is served through
  * the test loader ([[Queries5.setDynamicRemotes]]), exactly like the
  * reference's in-memory remote loader.
  *
  * The expected-error mapping below pins OUR error kind per reference error
  * kind; one documented divergence, still a typed compile rejection:
  *  - AnchorNotFound-local: the ref is RELATIVE (`sample.json#abcd`); this
  *    engine rejects relative refs as such (no base-URI rebasing), so the
  *    error names the ref shape rather than the missing anchor. (Relative
  *    nested `$id`s themselves are tolerated while unreferenced and
  *    duplicate-checked by raw text — DuplicateId still rejects, the
  *    MetaSchemaMismatch cases still compile clean.)
  */
class ReferenceInvalidSchemasSpec extends SparkTestBase {

  private val mapper = new ObjectMapper()

  Queries5.registerRemotes()

  /** reference error kind → substring of OUR typed error. */
  private val expect: Map[String, String] = Map(
    "InvalidJsonPointer" -> "unresolved $ref",
    "UnsupportedUrlScheme" -> "no loader registered",
    "ValidationError" -> "invalid regex",
    "ValidationError-nonsubschema" -> "expected string or array",
    "JsonPointerNotFound-obj" -> "unresolved $ref",
    "JsonPointerNotFound-arr-pos" -> "unresolved $ref",
    "JsonPointerNotFound-arr-neg" -> "unresolved $ref",
    "JsonPointerNotFound-primitive" -> "unresolved $ref",
    "InvalidRegex" -> "invalid regex",
    "DuplicateId" -> "duplicate resource id",
    "DuplicateAnchor" -> "duplicate anchor",
    "UnsupportedDraft" -> "unsupported draft",
    "MetaSchemaCycle" -> "meta-schema cycle",
    "AnchorNotFound-local" -> "expected '#/<json-pointer>'",
    "AnchorNotFound-remote" -> "no $anchor",
    "UnsupportedVocabulary-required" -> "unsupported vocabulary"
  )

  private val casesFile = "/root/reference/testdata/invalid_schemas.json"

  // one test per case, registered only where the corpus file is present
  private val cases =
    if (!new java.io.File(casesFile).isFile) Vector.empty
    else mapper.readTree(new java.io.File(casesFile)).asScala.toVector

  test("inventory: every reference case is replayed") {
    assumePath(casesFile)
    assert(cases.size == 19)
    val withErrors = cases.filter(c =>
      c.has("errors") && c.get("errors").size() > 0)
    assert(withErrors.map(_.get("description").asText()).toSet == expect.keySet)
  }

  cases.foreach { c =>
    val desc = c.get("description").asText()
    val mustFail = c.has("errors") && c.get("errors").size() > 0
    test(s"$desc ${if (mustFail) "is a typed compile rejection" else "compiles clean"}") {
      val remotes = Option(c.get("remotes")).map { r =>
        r.fieldNames().asScala.map(k => k -> r.get(k).toString).toMap
      }.getOrElse(Map.empty[String, String])
      Queries5.setDynamicRemotes(remotes)
      try {
        if (mustFail) {
          val e = intercept[SpecError] {
            // force full compile + one action (resolution is lazy)
            Queries5.verdicts(spark, c.get("schema").toString, Seq("{}"))
          }
          assert(e.message.contains(expect(desc)),
            s"got '${e.message}', want substring '${expect(desc)}'")
        } else {
          // the one positive case: optional unsupported vocabulary → ignored
          val got = Queries5.verdicts(spark, c.get("schema").toString, Seq("{}"))
          assert(got == Seq(true))
        }
      } finally Queries5.setDynamicRemotes(Map.empty)
    }
  }
}
