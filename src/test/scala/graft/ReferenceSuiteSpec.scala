package graft

/** Executes the REFERENCE'S OWN supplementary test suite
  * (/root/reference/testdata/Extra-Test-Suite, run by the reference at
  * /root/reference/suite_test.go:105-152) end-to-end through the engine's
  * dynamic (variant) validation path: each group's schema becomes a
  * one-column spec over a JSON string column, each test instance one
  * DataFrame row, and the engine's per-row verdicts must equal the suite's
  * `valid` flags. This is the strongest external conformance signal
  * available offline — the reference's own cases, not our re-derivations.
  * The same machinery ships as the oracle-checked `q_refsuite` driver-gate
  * query ([[Queries5]]); this spec is its per-group, named-failure view.
  *
  * Suite semantics covered: percent-encoded JSON pointers, embedded `$id`
  * resources, `$anchor` refs, per-resource `$schema` dialects (draft-4
  * resource inside a 2020-12 document and vice versa), `$vocabulary`
  * keyword gating via a remote meta-schema, literal-`if` dead-branch
  * pruning (unresolvable `$ref` in the skipped branch), numeric-canonical
  * `uniqueItems`/`const` (2 == 2.0), content* chains, and the
  * format corpus (email/date/time/duration/semver/period).
  *
  * One documented semantic mapping: the reference detects the suite's
  * mutually-recursive no-progress schema (infinite-loop-detection.json) at
  * RUNTIME and fails the validation; this engine rejects the same
  * no-progress cycle at COMPILE time. [[Queries5.verdicts]] maps that typed
  * cycle error to all-false verdicts — both engines refuse to validate
  * anything against the schema.
  */
class ReferenceSuiteSpec extends SparkTestBase {

  Queries5.registerRemotes()

  private val suiteTests = s"${Queries5.suiteRoot}/tests"

  // one test per suite group, registered only where the suite is present
  if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get(suiteTests)))
    Queries5.suiteGroups.foreach { case (rel, gi, desc, schemaJson, tests) =>
      test(s"$rel [$gi] $desc") {
        val want = tests.map(_._2)
        val got = Queries5.verdicts(spark, schemaJson, tests.map(_._1))
        assert(got == want, s"verdict mismatch: got=$got want=$want")
      }
    }

  test("suite inventory is complete: every file, every group, 100+ cases") {
    assumePath(suiteTests)
    val gs = Queries5.suiteGroups
    assert(gs.map(_._1).distinct.size == 17, s"files: ${gs.map(_._1).distinct}")
    assert(gs.size == 23, s"groups: ${gs.size}")
    assert(gs.map(_._5.size).sum >= 100, s"cases: ${gs.map(_._5.size).sum}")
  }

  test("without a suite checkout the oracle builds zero-row and q_refsuite fails typed") {
    val root = java.nio.file.Files.createTempDirectory("graft_no_suite")
    // the registry reads the oracle eagerly: it must build, with the
    // suite's columns and no rows, so the query side cannot match vacuously
    val oracle = spark.sql(Queries5.sqlRefSuite(root.toString))
    assert(oracle.columns.toSeq == Seq("file", "grp", "idx", "valid"))
    assert(oracle.count() == 0)
    val missing = intercept[graft.spec.SpecError](
      Queries5.suiteVerdicts(spark, root.toString))
    assert(missing.message.contains(root.resolve("tests").toString))
    // a present but empty tests/ directory is the same typed failure
    java.nio.file.Files.createDirectory(root.resolve("tests"))
    assert(Queries5.sqlRefSuite(root.toString).contains("WHERE FALSE"))
    val empty = intercept[graft.spec.SpecError](
      Queries5.suiteVerdicts(spark, root.toString))
    assert(empty.message.contains("no suite test files"))
  }

  test("both suite readers keep schema digits beyond double precision") {
    val root = java.nio.file.Files.createTempDirectory("graft_suite_digits")
    val dir = java.nio.file.Files.createDirectories(root.resolve("tests/draft2020-12"))
    java.nio.file.Files.write(dir.resolve("const.json"),
      """[{"description": "wide const", "schema": {"const": 1.00000000000000000001},
        "tests": [{"description": "one", "data": 1, "valid": false}]}]"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val groups = Queries5.suiteGroups(root.toString)
    assert(groups.map(_._4) == Seq("""{"const":1.00000000000000000001}"""))
    assert(SuiteRunner.groups(root.toString).map(_._4) == groups.map(_._4))
  }

  test("unknown must-understand $vocabulary is a typed error") {
    val meta =
      """{"$schema":"https://json-schema.org/draft/2020-12/schema",
         "$vocabulary":{"https://example.com/vocab/made-up":true}}"""
    val metaUrl = "inline+json:" + meta.replace("%", "%25").replace("#", "%23")
    val schema = s"""{"$$schema":${new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValueAsString(metaUrl)},"type":"number"}"""
    val e = intercept[graft.spec.SpecError](
      Queries5.verdicts(spark, schema, Seq("1")))
    assert(e.message.contains("unsupported vocabulary"))
  }

  test("compat mode is opt-in: default strict parse still rejects out-of-dialect keywords") {
    val doc =
      """{"$schema":"https://json-schema.org/draft-04/schema",
         "columns":{"v":{"prefixItems":[{"type":"integer"}]}}}"""
    val e = intercept[graft.spec.SpecError](graft.spec.Spec.fromJson(doc))
    assert(e.message.contains("not defined in dialect"))
    // same document parses under reference-compat: the keyword is ignored
    val spec = graft.spec.Spec.parse(
      graft.spec.Spec.documentFromJson(doc), compat = true)
    assert(spec.columns.head._2.prefixItems.isEmpty)
  }

  test("the reference's debug.json scratch case replays verdict-for-verdict") {
    // /root/reference/testdata/debug.json, run by debug_test.go:13-61:
    // one (remotes, schema, data, valid) tuple through the same machinery
    assumePath("/root/reference/testdata/debug.json")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val doc = mapper.readTree(
      java.nio.file.Paths.get("/root/reference/testdata/debug.json").toFile)
    val remotes = {
      val it = doc.get("remotes").fields()
      val b = Map.newBuilder[String, String]
      while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.toString }
      b.result()
    }
    Queries5.setDynamicRemotes(remotes)
    try {
      val got = Queries5.verdicts(spark, doc.get("schema").toString,
        Seq(doc.get("data").toString))
      assert(got == Seq(doc.get("valid").asBoolean()), s"got=$got")
    } finally Queries5.setDynamicRemotes(Map.empty)
  }

  test("oracle SQL literals agree with the suite files row-for-row") {
    assumePath(suiteTests)
    val sql = Queries5.sqlRefSuite
    val expectedRows = Queries5.suiteGroups.map(_._5.size).sum
    assert(sql.split("\\),\\s*\\(").length == expectedRows)
    assert(sql.contains("('draft2020-12/const.json', 0, 0, TRUE)"))
  }
}
