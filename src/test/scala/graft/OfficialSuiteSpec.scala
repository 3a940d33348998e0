package graft

/** Conformance gate through [[SuiteRunner]] — the directory-knob analogue
  * of the reference's TestSuites (/root/reference/suite_test.go:139-152).
  *
  * With `SPARK_GRAFT_SUITE_DIR` set (a JSON-Schema-Test-Suite-format
  * checkout: tests/draft*, remotes/), the whole tree must replay
  * verdict-for-verdict. Without it, the runner replays the reference's own
  * Extra-Test-Suite under the SAME harness semantics (per-directory
  * DefaultDraft, optional-dir assertion gating, skip list) — a stronger
  * check than q_refsuite's engine-native pass, because assertion defaults
  * and default drafts must match the reference's harness exactly.
  */
class OfficialSuiteSpec extends SparkTestBase {

  private val explicitRoot = sys.env.get("SPARK_GRAFT_SUITE_DIR")
  private val root = explicitRoot.getOrElse(Queries5.suiteRoot)

  test(s"suite tree replays verdict-for-verdict: $root") {
    // an explicitly configured suite dir that is missing still fails
    if (explicitRoot.isEmpty) assumePath(s"${Queries5.suiteRoot}/tests")
    val (passed, total, bad) = SuiteRunner.report(spark, root)
    assert(total >= 100, s"suspiciously small suite: $total cases")
    assert(bad.isEmpty, s"$passed/$total — mismatches: ${bad.mkString(", ")}")
  }

  test("runner inventory matches the direct reader on the Extra suite") {
    assumePath(s"${Queries5.suiteRoot}/tests")
    val gs = SuiteRunner.groups(Queries5.suiteRoot)
    // the direct reader walks every file; the runner additionally applies
    // the reference's skip list (no Extra-suite file is on it)
    assert(gs.size == Queries5.suiteGroups.size)
    assert(gs.map(_._7.size).sum == Queries5.suiteGroups.map(_._5.size).sum)
  }

  test("empty/missing suite root is a clear typed error, remotes root restored") {
    val empty = java.nio.file.Files.createTempDirectory("graft_empty_suite")
    java.nio.file.Files.createDirectory(empty.resolve("tests"))
    val before = Queries5.remotesRoot
    val e = intercept[graft.spec.SpecError] {
      SuiteRunner.run(spark, empty.toString)
    }
    assert(e.getMessage.contains("no suite test files"))
    // the localhost:1234 remotes mapping must NOT stay pointed at this
    // suite after the run (success or failure) — later compiles in the
    // same JVM (q_refsuite, conformance remotes) use the default root
    assert(Queries5.remotesRoot == before)
  }
}
