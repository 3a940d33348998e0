package graft.exec

import com.google.common.collect.MapMaker
import graft.compile.{Check, CompiledSuite}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Project}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Row-level execution of a compiled suite — one fused, WholeStageCodegen'd
  * pass over the table, in one of two modes mirroring the reference's
  * boolResult switch (/root/reference/validator.go:66, 171-195):
  *
  *  - '''flag mode''' ([[flag]]): a single AND-fused boolean per row — the
  *    cheap pass/fail path ("FlagOutput", /root/reference/output.go:114-122).
  *    No violation structs are materialized; Catalyst short-circuits.
  *  - '''violation mode''' ([[annotate]]/[[violations]]): every failed
  *    keyword produces a struct(keyword, instance_path, detail) — full error
  *    accumulation (/root/reference/validator.go:171-195, "BasicOutput"
  *    output.go:126-152).
  *
  * Both are pure column transforms: filters/column-pruning still push down to
  * the scan, and no shuffle is introduced. At 100 TB this pass is
  * scan-bound — the plan must never read columns the spec doesn't mention
  * (verified in tests via the scan's ReadSchema).
  *
  * [[localViolations]] is violation mode for a handful of rows on the
  * driver: the same optimized projection, bound once per suite and session,
  * evaluated without a Dataset or a job (single-document meta-gates).
  */
object Validator {

  private def violationStruct(c: Check): Column =
    when(!c.pred,
      struct(
        lit(c.keywordPath).as("keyword"),
        lit(c.instancePath).as("instance_path"),
        c.detail.as("detail")))

  /** Materialize the suite's shared subexpressions (JSON parses) as named
    * columns in a child Project, so each is computed once per row no matter
    * how many checks reference it (see [[graft.compile.Binder]]).
    *
    * Binding names (`__graft_bind_N`) are RESERVED: withColumn would
    * silently replace a same-named input column (corrupting any check that
    * reads it) and dropBindings would then remove it from the output — so a
    * collision fails fast, mirroring the `__graft_vio` reserved-alias note
    * in [[violations]].
    */
  private def withBindings(df: DataFrame, suite: CompiledSuite): DataFrame = {
    val clash = suite.bindings.map(_._1).toSet.intersect(df.columns.toSet)
    if (clash.nonEmpty)
      throw graft.spec.SpecError("#",
        s"input columns collide with reserved binding aliases: ${clash.mkString(", ")}")
    if (suite.bindings.isEmpty) return df
    // ONE Project per dependency layer, not one per binding: a foldLeft of
    // withColumn builds a Project PER BINDING — a 250-binding suite then
    // stacks 250 Projects, which costs ~250 incremental analyses at plan
    // build and defeats the optimizer's fixed-point batches (ConvertToLocal-
    // Relation folds one layer per iteration → "Max iterations (100)"
    // warnings and multi-second optimizes on LOCAL relations). Bindings may
    // reference earlier bindings, so group them into topological layers
    // (depth = longest bind chain, measured ≤3) and select each layer at
    // once.
    val bindNames = suite.bindings.map(_._1).toSet
    val levelOf = scala.collection.mutable.Map.empty[String, Int]
    val layers = scala.collection.mutable.ArrayBuffer
      .empty[scala.collection.mutable.ArrayBuffer[(String, Column)]]
    suite.bindings.foreach { case (name, c) =>
      val expr = org.apache.spark.sql.GraftColumnBridge.expression(c)
      val deps = expr.collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
            if a.nameParts.size == 1 && bindNames.contains(a.nameParts.head) =>
          a.nameParts.head
      }
      // insertion order guarantees every referenced binding is already placed
      val lvl = if (deps.isEmpty) 0 else deps.map(levelOf).max + 1
      levelOf(name) = lvl
      while (layers.size <= lvl)
        layers += scala.collection.mutable.ArrayBuffer.empty[(String, Column)]
      layers(lvl) += (name -> c)
    }
    layers.foldLeft(df) { (d, layer) =>
      d.select(col("*") +: layer.map { case (n, c) => c.as(n) }.toSeq: _*)
    }
  }

  private def dropBindings(df: DataFrame, suite: CompiledSuite): DataFrame =
    if (suite.bindings.isEmpty) df else df.drop(suite.bindings.map(_._1): _*)

  /** Adds `violations: array<struct<keyword,instance_path,detail>>` and
    * `valid: boolean` to every row.
    */
  def annotate(df: DataFrame, suite: CompiledSuite): DataFrame = {
    if (suite.rowChecks.isEmpty)
      return df.withColumn("violations",
          array().cast("array<struct<keyword:string,instance_path:string,detail:string>>"))
        .withColumn("valid", lit(true))
    val arr = filter(
      array(suite.rowChecks.map(violationStruct): _*),
      x => x.isNotNull)
    dropBindings(
      withBindings(df, suite)
        .withColumn("violations", arr)
        .withColumn("valid", size(col("violations")) === 0),
      suite)
  }

  /** Flag mode: adds only `valid: boolean` (no violation structs built). */
  def flag(df: DataFrame, suite: CompiledSuite): DataFrame = {
    val pred = suite.rowChecks.map(_.pred).reduceOption(_ && _).getOrElse(lit(true))
    dropBindings(withBindings(df, suite).withColumn("valid", pred), suite)
  }

  /** Basic output: one flat row per violation, keyed by `keyCols` —
    * the reference's BasicOutput unit list
    * (/root/reference/output.go:126-152).
    */
  def violations(df: DataFrame, suite: CompiledSuite, keyCols: Seq[String]): DataFrame = {
    // explode_outer + isNotNull on the generator OUTPUT, not filter(!valid)
    // before the explode: both filter(!valid) and plain explode (via
    // InferFiltersFromGenerate) end up as a pushed-down Filter whose
    // predicate INLINES the entire violations-array expression below the
    // defining Project — every check then evaluates twice per row (measured
    // ~2× wall on the JSON suites). A filter on the generator output cannot
    // be pushed below the Generate, so the array is built exactly once.
    // Reserved alias — a data column named "v" must not collide.
    annotate(df, suite)
      .select(keyCols.map(col) :+ explode_outer(col("violations")).as("__graft_vio"): _*)
      .filter(col("__graft_vio").isNotNull)
      .select(keyCols.map(col) ++ Seq(
        col("__graft_vio.keyword").as("keyword"),
        col("__graft_vio.instance_path").as("instance_path"),
        col("__graft_vio.detail").as("detail")): _*)
  }

  /** Table-level verdict + counts in ONE aggregation over the annotated
    * frame (no second scan).
    */
  def verdict(df: DataFrame, suite: CompiledSuite): DataFrame = {
    annotate(df, suite).agg(
      count(lit(1)).as("rows"),
      sum(when(col("valid"), 0L).otherwise(1L)).as("invalid_rows"),
      sum(size(col("violations")).cast("long")).as("violations"),
      (sum(when(col("valid"), 0L).otherwise(1L)) === 0).as("valid"))
  }

  /** Output schema of [[violations]] (and of [[localViolations]]' rows):
    * the key columns as declared in `inputSchema`, then nullable
    * `keyword`, `instance_path`, `detail` strings.
    */
  def violationsSchema(inputSchema: StructType, keyCols: Seq[String]): StructType =
    StructType(keyCols.map(inputSchema(_)) ++
      Seq("keyword", "instance_path", "detail").map(StructField(_, StringType)))

  /** [[violations]] for a few rows, evaluated on the driver: no Dataset,
    * no analysis and no Spark job per call. `rows` follow `inputSchema`;
    * the result rows follow [[violationsSchema]], in input-row then
    * check order. The violations projection is the optimized plan of
    * [[annotate]] over an empty leaf (so `RuntimeReplaceable` expressions
    * are already replaced), bound once per suite and session and evaluated
    * under that session's conf — the very expressions the distributed path
    * runs.
    */
  def localViolations(spark: SparkSession, suite: CompiledSuite,
                      inputSchema: StructType, rows: Seq[Row],
                      keyCols: Seq[String]): Seq[Row] = {
    val conf = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf
    SQLConf.withExistingConf(conf) {
      val bound = boundSuites
        .computeIfAbsent(suite, _ => new MapMaker().weakKeys().makeMap())
        .computeIfAbsent(spark, _ => new BoundViolations(spark, suite, inputSchema))
      require(bound.inputSchema == inputSchema,
        s"suite was bound over ${bound.inputSchema.simpleString}, " +
          s"not ${inputSchema.simpleString}")
      val keyIdx = keyCols.map(inputSchema.fieldIndex)
      bound(rows, keyIdx)
    }
  }

  // suite → session → bound projection; weak identity keys on both levels,
  // so the cache never outlives (or frees anything of) a suite or session
  private val boundSuites = new MapMaker().weakKeys()
    .makeMap[CompiledSuite, java.util.concurrent.ConcurrentMap[SparkSession, BoundViolations]]()

  /** The violations projection of one suite, bound to `inputSchema`: the
    * optimized plan's `Project` chain, each bound to its child's output.
    * Holds no reference to the suite or the session. `apply` is
    * synchronized: the projections reuse their output buffers, and lambda
    * variables hold per-evaluation state.
    */
  private final class BoundViolations(spark: SparkSession, suite: CompiledSuite,
                                      val inputSchema: StructType) {
    private val projections: Seq[UnsafeProjection] = {
      val leaf = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], inputSchema)
      def chain(p: LogicalPlan): List[Project] = p match {
        case pr: Project => pr :: chain(pr.child)
        case _: LeafNode => Nil
        case other => throw new IllegalStateException(
          s"violations projection is not a Project chain: ${other.nodeName}")
      }
      chain(annotate(leaf, suite).select("violations").queryExecution.optimizedPlan)
        .reverse.map { pr =>
          val u = UnsafeProjection.create(pr.projectList, pr.child.output)
          u.initialize(0)
          u
        }
    }
    private val toCatalyst = CatalystTypeConverters.createToCatalystConverter(inputSchema)

    def apply(rows: Seq[Row], keyIdx: Seq[Int]): Seq[Row] = synchronized {
      val out = Seq.newBuilder[Row]
      rows.foreach { row =>
        val res = projections.foldLeft(
          toCatalyst(row).asInstanceOf[org.apache.spark.sql.catalyst.InternalRow])(
          (r, p) => p(r))
        if (!res.isNullAt(0)) {
          val arr = res.getArray(0)
          val keys = keyIdx.map(row.get)
          (0 until arr.numElements()).filterNot(arr.isNullAt).foreach { i =>
            val v = arr.getStruct(i, 3)
            def str(f: Int) = if (v.isNullAt(f)) null else v.getUTF8String(f).toString
            out += Row.fromSeq(keys ++ Seq(str(0), str(1), str(2)))
          }
        }
      }
      out.result()
    }
  }
}
