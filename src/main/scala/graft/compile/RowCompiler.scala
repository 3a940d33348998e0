package graft.compile

import com.fasterxml.jackson.databind.JsonNode
import graft.functions.{ExactRatPredExpr, Formats}
import graft.spec.{SchemaNode, Spec, SpecError}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

import KeywordWalker.vac

/** One compiled row-level check: a boolean predicate (TRUE = pass) plus the
  * three coordinates every violation row carries, mirroring the reference's
  * `ValidationError{SchemaURL, InstanceLocation, ErrorKind}`
  * (/root/reference/validator.go:958-976):
  *   - keywordPath  — where in the spec the failed keyword lives
  *     (scope-chain keyword location, /root/reference/validator.go:896-909)
  *   - instancePath — where in the row the offending value lives
  *     (vloc, /root/reference/validator.go:54-55)
  *   - detail       — rendered failure message (kind/kind.go analogue)
  *
  * `pred`/`detail` are pure Catalyst `Column` trees over the input row — the
  * whole check set fuses into a single WholeStageCodegen pass.
  */
final case class Check(
    keywordPath: String,
    instancePath: String,
    pred: Column,
    detail: Column,
    // typed, statically-known keyword parameters — the reference's
    // ErrorKind (/root/reference/kind/kind.go); see [[ErrorKind]]
    kind: ErrorKind
)

/** Collects expensive subexpressions (JSON parses) that many checks share,
  * so the executor computes them ONCE per row instead of once per check.
  *
  * Catalyst's codegen-level subexpression elimination does not reach inside
  * conditional branches / higher-order-function lambdas, so without this a
  * 6-check dynamic-JSON suite parses the same string 6× per row (measured
  * 5.4× wall-time blowup at sf0.1). The binder turns each parse into a named
  * projection that [[graft.exec.Validator]] materializes in a child Project
  * before the check pass and drops afterwards; CollapseProject will not
  * re-inline it because the alias is non-cheap and multiply-referenced.
  *
  * Bindings may reference earlier bindings (applied in insertion order).
  * NEVER call [[bind]] from inside a lambda (forall/filter/transform) — the
  * bound column cannot see lambda variables; lambda-scoped probes go through
  * `predicate`, which never binds.
  */
final class Binder {
  private val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Column)]
  // memoized by expression tree: recursive compiles over the SAME value
  // ($ref/allOf/dependentSchemas re-entry) bind the type dispatch and typed
  // extractions once, not once per visiting node
  private val memo = scala.collection.mutable.HashMap
    .empty[org.apache.spark.sql.catalyst.expressions.Expression, Column]
  def bind(c: Column): Column =
    memo.getOrElseUpdate(org.apache.spark.sql.GraftColumnBridge.expression(c), {
      val name = s"__graft_bind_${buf.size}"
      buf += name -> c
      col(name)
    })
  def bindings: Seq[(String, Column)] = buf.toSeq
}

/** Engine-wide compile limits. */
object CompileLimits {
  /** Max times one `$ref`/`$dynamicRef` may inline along a single compile
    * path WITH data descent in between (recursive schemas). Beyond it the
    * compiler emits a typed cut check: any value present deeper than the
    * unrolled depth fails with [[ErrorKind.DepthExceeded]] — the
    * compile-time-inlining analogue of the reference's runtime
    * infinite-loop guard (/root/reference/validator.go:84-90), made sound
    * for bounded data instead of rejected outright. Refs that repeat with
    * NO data descent (a→a, a→b→a at the same instance position) stay
    * compile-time cycles and are rejected.
    */
  final val maxRefUnroll: Int = 4

  /** Ceiling on the CORPUS-DERIVED unroll chosen by
    * [[SuiteCompiler.compileAdaptive]]: a depth-10^4 adversarial document
    * must produce a typed error (the [[maxCompileNodes]] budget or the
    * DepthExceeded cut), not a hung linear-growth compile. Real training
    * corpora sit far below this.
    */
  @volatile var maxAdaptiveUnroll: Int = 256

  // per-thread unroll override for depth-adaptive compiles — scoped with
  // [[withUnroll]], never a global mutation (concurrent compiles with
  // different corpora must not race)
  private val unrollOverride = new ThreadLocal[Int] {
    override def initialValue(): Int = 0
  }
  private[compile] def effectiveUnroll: Int = {
    val o = unrollOverride.get()
    if (o > 0) o else maxRefUnroll
  }
  private[graft] def withUnroll[T](n: Int)(f: => T): T = {
    unrollOverride.set(n)
    try f finally unrollOverride.set(0)
  }

  /** Ceiling on schema-node expansions per suite compile. Recursion unroll
    * multiplies: a schema where every one of K subschema positions re-enters
    * the root (the official 2020-12 meta-schema: K≈40) expands K^maxRefUnroll
    * nodes — millions, and the compile would effectively hang. The budget
    * turns that into a fast TYPED error (the compile-time analogue of the
    * reference's runtime infinite-loop guard, /root/reference/validator.go:
    * 84-90). Generous for real specs: the whole conformance corpus plus the
    * clip suites compile under a few thousand expansions each.
    */
  final val maxCompileNodes: Int = 20000

  private val visits = new ThreadLocal[Array[Int]] {
    override def initialValue(): Array[Int] = Array(0)
  }
  private[compile] def resetVisits(): Unit = visits.get()(0) = 0
  private[compile] def tickVisit(at: => String): Unit = {
    val c = visits.get(); c(0) += 1
    if (c(0) > maxCompileNodes)
      throw graft.spec.SpecError(at,
        s"compile exceeds $maxCompileNodes schema-node expansions — " +
          s"recursive unroll (maxRefUnroll=$maxRefUnroll) over a highly " +
          "self-referential schema explodes combinatorially; restructure " +
          "the schema, or use the flat meta-validation path for " +
          "schema-document linting")
  }
}

/** Compiles a [[SchemaNode]] applied to a typed column into [[Check]]s.
  *
  * This is the engine's analogue of the reference's validator dispatch
  * (/root/reference/validator.go:70-196) — except the dispatch happens ONCE
  * at compile time on the static Spark `DataType`, and the emitted artifact
  * is a vectorized expression tree instead of a tree-walking interpreter.
  * Keywords that can never apply to the column's static type are pruned at
  * compile time (the lazy-conversion optimization of
  * /root/reference/validator.go:516-521, taken to its static conclusion).
  * Every keyword that does not depend on the representation is
  * [[KeywordWalker]]'s, shared with [[DynamicJson]]; this object supplies
  * the typed view and calls each walker step only where `dt` can hold it.
  *
  * NULL semantics: SQL NULL = absent value; every keyword is vacuous on NULL
  * (see [[graft.spec.SchemaNode]] scaladoc). Only `required` rejects NULL.
  */
object RowCompiler {

  private[compile] val Dec = DecimalType(38, 12)

  /** True when `bd` is EXACTLY representable in Decimal(38,12) — the
    * precondition for the decimal-exact arms below. Out-of-range literals
    * (scale > 12, e.g. 1e-13, or > 26 integer digits) would be silently
    * ROUNDED by the cast (try_cast nulls only on overflow, not scale loss):
    * a divisor under 5e-13 rounds to zero (DIVIDE_BY_ZERO under ANSI) and a
    * bound/const compares against the wrong value — those take the
    * approximate double arm instead.
    */
  private[compile] def fitsDec(bd: BigDecimal): Boolean =
    bd.scale <= 12 && bd.precision - bd.scale <= 26

  private def jsonTypeName(dt: DataType): String = dt match {
    case ByteType | ShortType | IntegerType | LongType => "integer"
    case FloatType | DoubleType | _: DecimalType       => "number"
    case StringType | BinaryType                       => "string"
    case BooleanType                                   => "boolean"
    case _: ArrayType                                  => "array"
    case _: StructType | _: MapType                    => "object"
    case DateType | TimestampType | TimestampNTZType   => "string"
    case _                                             => "unknown"
  }

  private def isNumeric(dt: DataType): Boolean = dt match {
    case _: NumericType => true
    case _              => false
  }

  /** Literal for a JSON constant, coerced for comparison against a column of
    * type `dt`. Numeric cross-type equality (2 == 2.0) follows the
    * reference's big.Rat comparison (/root/reference/util.go:322-325) via a
    * common DecimalType.
    */
  private def constEq(v: Column, dt: DataType, node: JsonNode): Column = {
    if (node.isNull) return v.isNull
    dt match {
      case _ if node.isNumber && isNumeric(dt) =>
        // exact rational equality (util.go:322-325) with provably-exact
        // native fast arms, mirroring boundCmp: an integral column only
        // ever equals a long-valued constant; a float/double column
        // compares natively when the constant ROUND-TRIPS through that
        // width's shortest decimal repr (r is injective, so r(x) == B ==
        // r(double(B)) ⟺ x == double(B)); everything else — full-expansion
        // constants, values a Decimal(38,12) cast would round onto the
        // constant, wide decimals — takes the exact arm
        val bd = BigDecimal(node.decimalValue())
        dt match {
          case ByteType | ShortType | IntegerType | LongType =>
            if (bd.isValidLong) v === lit(bd.toLong)
            else lit(false) // fractional or out-of-long-range: never equal
          case DoubleType if roundTripsDouble(bd) => v === lit(bd.toDouble)
          case FloatType if roundTripsFloat(bd) => v === lit(bd.toFloat)
          case d: DecimalType if decExact(bd, d) =>
            v === lit(bd.bigDecimal).cast(d)
          case _ =>
            coalesce(
              ExactRatPredExpr.pred(v, ExactRatPredExpr.Eq, bd.bigDecimal),
              lit(false))
        }
      case StringType if node.isTextual  => v === lit(node.asText())
      case BooleanType if node.isBoolean => v === lit(node.asBoolean())
      case at2: ArrayType if node.isArray =>
        // element-wise recursion (NOT a literal-array cast, whose
        // lit(decimalValue).cast(double) would ROUND a full-expansion
        // constant onto the instance value): each element gets the same
        // exact-rational fast/exact arms as a scalar const
        val elems = node.asScala.toSeq
        val eqs = elems.zipWithIndex.map { case (e, i) =>
          constEq(element_at(v, i + 1), at2.elementType, e)
        }
        (Seq(size(v) === elems.size: Column) ++ eqs).reduce(_ && _)
      case DateType | TimestampType | TimestampNTZType if node.isTextual =>
        v.cast(StringType) === lit(node.asText())
      case st: StructType if node.isObject =>
        // object const over a struct: structural deep equality with numeric
        // cross-type fidelity (/root/reference/util.go:286-329) — every
        // const key must be a (statically present) field with an equal
        // value, and every other field must be absent (NULL)
        val constKeys = node.fieldNames().asScala.toVector
        if (!constKeys.forall(st.fieldNames.contains)) lit(false)
        else {
          val eqs = constKeys.map(k =>
            constEq(v.getField(k), st(k).dataType, node.get(k)))
          val absent = st.fields.filterNot(f => constKeys.contains(f.name))
            .map(f => v.getField(f.name).isNull).toSeq
          (eqs ++ absent).reduceOption(_ && _).getOrElse(lit(true))
        }
      case MapType(StringType, vt, _) if node.isObject =>
        val constKeys = node.fieldNames().asScala.toVector
        val eqs = constKeys.map(k =>
          array_contains(map_keys(v), k) &&
            constEq(element_at(v, k), vt, node.get(k)))
        (Seq(size(map_keys(v)) === constKeys.size) ++ eqs).reduce(_ && _)
      case _ => lit(false) // type can never match the constant
    }
  }

  /** Core of a number keyword over a numeric column: `op` is an
    * [[ExactRatPredExpr]] op code.
    */
  private def numberCore(v: Column, dt: DataType, op: Int, bd: BigDecimal): Column = op match {
    case ExactRatPredExpr.Ge => boundCmp(v, dt, bd, op)(_ >= _)
    case ExactRatPredExpr.Le => boundCmp(v, dt, bd, op)(_ <= _)
    case ExactRatPredExpr.Gt => boundCmp(v, dt, bd, op)(_ > _)
    case ExactRatPredExpr.Lt => boundCmp(v, dt, bd, op)(_ < _)
    case ExactRatPredExpr.MultipleOf => multipleOfCore(v, dt, bd)
  }

  /** Pushdown-friendly numeric literal: native type when exact, decimal
    * compare otherwise (keeps parquet predicate pushdown for the common
    * integer-bound case — verified via explain/PushedFilters).
    */
  private def boundCmp(v: Column, dt: DataType, bd: BigDecimal, op: Int)(
      native: (Column, Column) => Column): Column = dt match {
    case ByteType | ShortType | IntegerType | LongType if bd.isValidLong =>
      native(v, lit(bd.toLong))
    case DoubleType if roundTripsDouble(bd) =>
      // round-tripping bound: the IEEE compare agrees with big.Rat. Both
      // engine (ExactRatPredExpr.ofDouble) and reference (fmt.Sprint,
      // validator.go:519) convert instances via the SHORTEST decimal repr
      // r(·), which is strictly monotone over doubles (each repr lies
      // uniquely inside its double's rounding interval), so when the bound
      // B satisfies r(double(B)) == B, double(B) is the exact pivot:
      // r(x) op B  ⟺  x op double(B) for op ∈ {<,≤,=,≥,>}. Strictly wider
      // than isExactDouble (dyadic only) — covers 0.08, 1e-3, every bound a
      // schema author writes — keeping the hot path native/codegen'd.
      native(v, lit(bd.toDouble))
    case FloatType if roundTripsFloat(bd) =>
      // same argument at float precision (ofFloat = float shortest repr):
      // bounds that round-trip through DOUBLE but not float — e.g. the full
      // printed expansion of a double near 0.1 — must NOT take this arm
      // (the float shortest repr can sit on the other side of such a bound
      // than the promoted IEEE value), so the gate is the float round trip
      native(v, lit(bd.toFloat))
    case d: DecimalType if decExact(bd, d) =>
      native(v, lit(bd.bigDecimal).cast(d))
    case ByteType | ShortType | IntegerType | LongType if fitsDec(bd) =>
      // fractional bound over an integral column: both Dec casts are exact
      // (≤19 integer digits always fit Decimal(38,12))
      native(v.cast(Dec), lit(bd.bigDecimal).cast(Dec))
    case _ =>
      // float/double against a non-exact-double bound (a Dec cast of the
      // VALUE would round >12-dp shortest reprs before comparing), a
      // decimal column whose type can't hold the bound, or a bound outside
      // Decimal(38,12): big.Rat-exact compare (validator.go:522-543)
      ExactRatPredExpr.pred(v, op, bd.bigDecimal)
  }

  /** Exact rational divisibility: native pmod fast arms where provably
    * exact, big.Rat-equivalent BigDecimal remainder everywhere else
    * (reference validator.go:545-549; ExactRatPredExpr has the
    * fidelity argument).
    */
  private def multipleOfCore(v: Column, dt: DataType, m: BigDecimal): Column = {
    val decZero = lit(java.math.BigDecimal.ZERO).cast(Dec)
    dt match {
      case ByteType | ShortType | IntegerType | LongType if m.isValidLong =>
        pmod(v, lit(m.toLong)) === lit(0L)
      case ByteType | ShortType | IntegerType | LongType if fitsDec(m) =>
        // fractional divisor over an integral column: both Dec casts
        // exact (≤19 integer digits always fit)
        pmod(v.cast(Dec), lit(m.bigDecimal).cast(Dec)) === decZero
      case FloatType | DoubleType if m.isValidLong =>
        // integer divisor over a float column: the common case (integral
        // value within 2^53) needs no decimal at all — IEEE fmod is
        // EXACT. Cuts the per-row cost ~3x on TPC-H-style quantity
        // columns. Non-integral or huge values take the exact-rational
        // arm: a Decimal(38,12) cast would ROUND shortest reprs with
        // >12 fractional digits (1.0000000000001 would silently PASS
        // multipleOf 1e-12 where validator.go:546 fails it).
        val dv = v.cast(DoubleType)
        when(pmod(dv, lit(1.0)) === lit(0.0) &&
            abs(dv) < lit(9.007199254740992e15),
          pmod(dv, lit(m.toDouble)) === lit(0.0))
          .otherwise(
            ExactRatPredExpr.pred(v, ExactRatPredExpr.MultipleOf, m.bigDecimal))
      case d: DecimalType
          if d.scale <= 12 && d.precision - d.scale <= 26 && fitsDec(m) =>
        // narrow-enough decimal column: the widening casts are exact
        pmod(v.cast(Dec), lit(m.bigDecimal).cast(Dec)) === decZero
      case _ =>
        // float/double with a fractional divisor, wide decimal columns,
        // divisors outside Decimal(38,12) (a cast would round — a
        // sub-5e-13 divisor rounds to ZERO, ANSI DIVIDE_BY_ZERO on
        // every row), or huge integral columns: exact rational remainder
        ExactRatPredExpr.pred(v, ExactRatPredExpr.MultipleOf, m.bigDecimal)
    }
  }

  /** Does `bd`'s exact rational value survive a value→nearest-double→
    * shortest-repr round trip? When true, native IEEE comparison against
    * `bd.toDouble` is exactly big.Rat-equivalent (see boundCmp). The repr
    * MUST be the same function the exact arm applies to instances
    * (ExactRatPredExpr.shortestDouble — true correctly-rounded shortest,
    * not Java 17's legacy toString, which emits an excess digit for ~0.3%
    * of doubles and is a different rational): gate and conversion using
    * one r(·) is what makes the monotonicity argument close. NaN never
    * reaches here (schema bounds parse from JSON numbers); ±Inf overflow of
    * huge bounds fails the value compare and falls to the exact arm.
    */
  private def roundTripsDouble(bd: BigDecimal): Boolean = {
    val d = bd.toDouble
    !java.lang.Double.isInfinite(d) &&
      graft.functions.ExactRatPredExpr.shortestDouble(d)
        .compareTo(bd.bigDecimal) == 0
  }

  private def roundTripsFloat(bd: BigDecimal): Boolean = {
    val f = bd.toFloat
    !java.lang.Float.isInfinite(f) &&
      graft.functions.ExactRatPredExpr.shortestFloat(f)
        .compareTo(bd.bigDecimal) == 0
  }

  /** Is `bd` exactly representable in DecimalType `d` (no rounding, no
    * overflow)? Trailing zeros stripped first so 2.50 fits scale 1.
    */
  private def decExact(bd: BigDecimal, d: DecimalType): Boolean = {
    val n = bd.bigDecimal.stripTrailingZeros
    n.scale <= d.scale &&
      (n.precision - n.scale) <= (d.precision - d.scale)
  }

  /** Spark type inferred from a schema node's `type` keyword — used to give
    * `contentSchema` (JSON-in-string) a from_json read schema.
    */
  def sparkTypeOf(node: SchemaNode, at: String): DataType = {
    val t = node.types.getOrElse(
      // no explicit type: infer from which keyword family is present
      if (node.properties.nonEmpty) Set("object")
      else if (node.items.nonEmpty || node.prefixItems.nonEmpty) Set("array")
      else if (node.minimum.nonEmpty || node.maximum.nonEmpty ||
        node.exclusiveMinimum.nonEmpty || node.exclusiveMaximum.nonEmpty ||
        node.multipleOf.nonEmpty) Set("number")
      else if (node.minLength.nonEmpty || node.maxLength.nonEmpty ||
        node.pattern.nonEmpty || node.format.nonEmpty) Set("string")
      else if (node.const.exists(_.isNumber) ||
        node.enumVals.exists(e => e.nonEmpty && e.forall(_.isNumber))) Set("number")
      else if (node.const.exists(_.isTextual) ||
        node.enumVals.exists(e => e.nonEmpty && e.forall(_.isTextual))) Set("string")
      else throw SpecError(at, "contentSchema subschemas need an explicit 'type'"))
    t.toSeq match {
      case Seq("integer") => LongType
      case Seq("number")  => DoubleType
      case Seq("string")  => StringType
      case Seq("boolean") => BooleanType
      case Seq("array") =>
        ArrayType(node.items.map(i => sparkTypeOf(i, at + "/items")).getOrElse(StringType))
      case Seq("object") =>
        StructType(node.properties.map { case (k, s) =>
          StructField(k, sparkTypeOf(s, s"$at/properties/$k"))
        })
      case _ => throw SpecError(at, s"cannot map type set $t to a Spark type")
    }
  }

  /** boolResult mode (/root/reference/validator.go:66): the conjunction of a
    * node's checks, used by not/anyOf/oneOf/if probes — no violation structs
    * are built, so codegen short-circuits exactly like the reference's
    * error-suppressed probes.
    */
  def predicate(spec: Spec, node: SchemaNode, v: Column, dt: DataType,
                stack: List[(String, Int)] = Nil, depth: Int = 0): Column =
    compile(spec, node, v, dt, "", stack, None, depth)
      .map(_.pred).reduceOption(_ && _).getOrElse(lit(true))

  /** The typed view: every question answered from the static `dt`. */
  private final class TypedView(val v: Column, dt: DataType) extends ValueView {
    def compile(spec: Spec, node: SchemaNode, instPath: String,
        stack: List[(String, Int)], binder: Option[Binder], depth: Int): Seq[Check] =
      RowCompiler.compile(spec, node, v, dt, instPath, stack, binder, depth)
    // the walker asks only where `dt` already has the type
    def gate(jsonType: String, core: Column): Column = vac(v, core)
    def items: Column = v
    def uniqueKey: Column = v
    def entries: Column = v
    // compiles the member directly, not through `predicate`: one frame
    // less on every descent (see KeywordWalker)
    def memberPredicate(spec: Spec, node: SchemaNode, x: Column,
        stack: List[(String, Int)], depth: Int): Column = {
      val mt = dt match {
        case ArrayType(et, _)  => et
        case MapType(_, vt, _) => vt
        case _ => throw new IllegalStateException(s"no members in ${dt.simpleString}")
      }
      RowCompiler.compile(spec, node, x, mt, "", stack, None, depth)
        .map(_.pred).reduceOption(_ && _).getOrElse(lit(true))
    }
    def keyPresent(k: String): Column = dt match {
      case st: StructType =>
        if (st.fieldNames.contains(k)) v.getField(k).isNotNull else lit(false)
      case _ => array_contains(map_keys(v), k)
    }
    // a struct field's presence is never NULL; a statically absent key
    // can never trigger
    override def dependentGate(k: String): Option[Column] = dt match {
      case st: StructType =>
        if (st.fieldNames.contains(k)) Some(!v.getField(k).isNotNull) else None
      case _ => super.dependentGate(k)
    }
    def constEq(c: JsonNode): Column = RowCompiler.constEq(v, dt, c)
    def rendered: Column = v.cast(StringType)
    def numberCore(op: Int, bd: BigDecimal): Column = RowCompiler.numberCore(v, dt, op, bd)
    def numberText: Column = rendered
    def str: Column = v
    def oneOfDetail: String = " subschemas matched, want exactly 1"
    def countsItemFailures: Boolean = true
    def containsDetail(minC: Int, maxC: Option[Int]): String =
      s" matching element(s), want >= $minC" + maxC.map(m => s" and <= $m").getOrElse("")
    def bindsIf: Boolean = false
  }

  /** Compile a schema node applied to value `v` of static type `dt` at
    * instance path `instPath`. Keyword order mirrors the reference's fixed
    * evaluation order (/root/reference/validator.go:70-196). `stack` tracks
    * traversed refs as (refKey, dataDepth); `depth` counts data descents
    * (property/element navigation) — together they distinguish true ref
    * cycles from recursive descent (see [[Refs]]).
    */
  def compile(spec: Spec, node: SchemaNode, v: Column, dt: DataType,
              instPath: String, stack: List[(String, Int)] = Nil,
              binder: Option[Binder] = None, depth: Int = 0): Seq[Check] = {
    val w = new KeywordWalker(spec, node, new TypedView(v, dt), instPath, stack,
      binder, depth)
    import w.{add, kw, out}
    if (!w.enter()) return w.result

    // type (/root/reference/validator.go:98-103)
    node.types.foreach { ts =>
      val s = jsonTypeName(dt)
      val ok: Option[Column] =
        if (ts.contains(s)) None
        else if (ts.contains("number") && s == "integer") None
        else if (ts.contains("integer") && s == "number")
          // zero-fraction rule, util.go:272-275. Decimal columns compare
          // against floor IN THEIR OWN type (exact, no (38,12) recast that
          // would round >12-fractional-digit values onto integers — the
          // old arm read 1.0000000000001 as an integer). Float/double use
          // pmod-1, which is EXACTLY the shortest-repr rule: IEEE fmod is
          // exact, every double >= 2^52 is integral, and an integer
          // shortest repr round-trips only to an integral double. (pmod,
          // not floor, whose LONG result overflows past 2^63.)
          Some(dt match {
            case _: DecimalType => v === floor(v)
            case _ => pmod(v.cast(DoubleType), lit(1.0)) === lit(0.0)
          })
        else Some(lit(false))
      ok.foreach { core =>
        add(kw("type"), vac(v, core),
          concat(lit(s"type: got $s value "), v.cast(StringType),
            lit(s", want ${ts.mkString("|")}")),
          ErrorKind.TypeMismatch(ts))
      }
    }

    w.constEnum()
    // format: strings only, vacuous on other types (reference format.go:43-45)
    if (dt == StringType || dt == BinaryType) w.format()
    if (isNumeric(dt)) w.numbers()

    // string keywords (/root/reference/validator.go:432-511)
    if (dt == StringType) {
      // Spark `length` counts characters — same rune semantics as
      // /root/reference/validator.go:435-445
      node.minLength.foreach { n =>
        add(kw("minLength"), vac(v, length(v) >= n),
          concat(lit("minLength: got "), length(v).cast(StringType), lit(s" chars, want >= $n")),
          ErrorKind.MinLength(n))
      }
      node.maxLength.foreach { n =>
        add(kw("maxLength"), vac(v, length(v) <= n),
          concat(lit("maxLength: got "), length(v).cast(StringType), lit(s" chars, want <= $n")),
          ErrorKind.MaxLength(n))
      }
      w.pattern()
      // contentEncoding: decodability of the encoded payload
      // (reference validator.go:468-475); downstream media-type/schema
      // checks run over the DECODED value, mirroring the reference's
      // decode-then-parse pipeline
      val contentValue = node.contentEncoding.fold(v)(w.decoder(_)(v))
      node.contentEncoding.foreach { enc =>
        add(kw("contentEncoding"), vac(v, contentValue.isNotNull),
          lit(s"contentEncoding: value is not valid $enc"),
          ErrorKind.ContentEncodingK(enc))
      }
      // contentMediaType: a decode failure is already reported by
      // contentEncoding, downstream checks are vacuous on the null decoded
      // value
      node.contentMediaType.foreach { mt =>
        val parseOk = w.mediaType(mt)
        add(kw("contentMediaType"),
          vac(v, when(contentValue.isNull, lit(true))
            .otherwise(coalesce(parseOk(contentValue), lit(false)))),
          lit(s"contentMediaType: value is not valid $mt"),
          ErrorKind.ContentMediaTypeK(mt))
      }
      // contentSchema: recursive compile over from_json
      // (/root/reference/validator.go:497-510). Per 2020-12 (and the
      // reference) it is IGNORED when contentMediaType is absent
      node.contentSchema.filter(_ => node.contentMediaType.nonEmpty).foreach { cs =>
        val st = sparkTypeOf(cs, kw("contentSchema"))
        st match {
          case _: StructType | _: ArrayType | _: MapType =>
            // surrogate canon ahead of from_json: a lone \uD800 escape
            // decodes to U+FFFD like Go, not a '?'-encoding unpaired char
            val parsed0 = from_json(
              graft.functions.SurrogateCanon.col(contentValue), st)
            // parse once per row, not once per emitted check
            val parsed = binder.map(_.bind(parsed0)).getOrElse(parsed0)
            out ++= compile(spec, cs, parsed, st, instPath + "!json", stack, binder, depth + 1)
          case _ =>
            // Spark 4's from_json refuses scalar schemas — a scalar
            // contentSchema goes through the dynamic (variant) compiler,
            // which is also the reference-faithful shape: content is
            // decoded as an arbitrary JSON value and type-dispatched at
            // runtime (validator.go:497-510), surrogate canon included
            out ++= DynamicJson.checksForJsonColumn(spec, cs, contentValue,
              instPath + "!json", binder, depth + 1)
        }
      }
      // json: DYNAMIC validation over variant (runtime type dispatch — the
      // reference's dynamically-typed instance model; see DynamicJson)
      node.jsonSchema.foreach { js =>
        out ++= DynamicJson.checksForJsonColumn(spec, js, contentValue,
          instPath + "!json", binder, depth + 1)
      }
    }
    // 'json' on a native VariantType column: dispatch straight to the
    // dynamic compiler (no parse step needed)
    if (dt == VariantType) {
      node.jsonSchema.foreach { js =>
        out ++= DynamicJson.compile(spec, js, v, instPath + "!json", stack, None, depth)
      }
    } else if (dt != StringType) {
      node.jsonSchema.foreach { _ =>
        throw SpecError(kw("json"),
          s"'json' applies to string or variant columns, got ${dt.simpleString}")
      }
    }

    // array keywords (/root/reference/validator.go:324-430)
    if (dt.isInstanceOf[ArrayType]) {
      w.arrays()
      w.unevaluatedItems()
    }

    // object keywords (/root/reference/validator.go:198-322)
    dt match {
      case st: StructType =>
        val fields = st.fieldNames.toSet
        node.requiredProps.foreach { k =>
          val core = if (fields.contains(k)) v.getField(k).isNotNull else lit(false)
          add(kw("required"), vac(v, core), lit(s"required: missing property '$k'"),
            ErrorKind.RequiredK(k))
        }
        node.properties.foreach { case (k, ps) =>
          if (fields.contains(k)) {
            val ft = st(k).dataType
            out ++= compile(spec, ps, v.getField(k), ft,
              if (instPath.isEmpty) k else s"$instPath/$k", stack, binder, depth + 1)
          } // absent field: subschema vacuous
        }
        // patternProperties over a STRUCT: field names are static, so each
        // regex is matched against them at compile time — through the
        // engine-paired hook (Formats.staticPatternMatch), like the uneval
        // static lowering, so a custom engine keeps struct and map columns
        // agreeing — and the paired subschema applies to matching fields
        // (absent field: vacuous, same as properties)
        node.patternProperties.foreach { case (re, ps) =>
          st.fields.filter(f => Formats.staticPatternMatch(f.name, re)).foreach { f =>
            out ++= compile(spec, ps, v.getField(f.name), f.dataType,
              if (instPath.isEmpty) f.name else s"$instPath/${f.name}", stack, binder, depth + 1)
          }
        }
        node.dependentRequired.foreach { case (k, reqs) =>
          if (fields.contains(k)) {
            val core = reqs.map(r => if (fields.contains(r)) v.getField(r).isNotNull else lit(false))
              .reduceOption(_ && _).getOrElse(lit(true))
            add(kw("dependentRequired", k), vac(v, !v.getField(k).isNotNull || core),
              lit(s"dependentRequired: '$k' present but ${reqs.mkString(",")} missing"),
              ErrorKind.DependentRequiredK(k, reqs))
          }
        }
        // propertyNames over a STRUCT: keys are static, so each field name
        // is checked against the subschema as a literal (Catalyst constant-
        // folds it); the check fires only when the field is present
        // (/root/reference/validator.go:286-301)
        node.propertyNames.foreach { ps =>
          st.fields.foreach { f =>
            val nameOk = coalesce(
              predicate(spec, ps, lit(f.name), StringType, stack, depth + 1), lit(false))
            add(kw("propertyNames"),
              vac(v, !v.getField(f.name).isNotNull || nameOk),
              lit(s"propertyNames: property name '${f.name}' does not match"),
              ErrorKind.PropertyNamesK(f.name))
          }
        }
        w.dependentSchemas()
        val nProps = st.fields.map(f => v.getField(f.name).isNotNull.cast(IntegerType))
          .reduceOption(_ + _).getOrElse(lit(0))
        node.minProperties.foreach { n =>
          add(kw("minProperties"), vac(v, nProps >= n),
            concat(lit("minProperties: got "), nProps.cast(StringType), lit(s", want >= $n")),
            ErrorKind.MinProperties(n))
        }
        node.maxProperties.foreach { n =>
          add(kw("maxProperties"), vac(v, nProps <= n),
            concat(lit("maxProperties: got "), nProps.cast(StringType), lit(s", want <= $n")),
            ErrorKind.MaxProperties(n))
        }
        // additionalProperties over a STRUCT: the field SET is closed, but a
        // PRESENT (non-null) field not covered by `properties` or a
        // `patternProperties` regex is still an additional property
        // (/root/reference/validator.go:252-266 under the NULL=absent
        // convention) — `false` requires it absent, the subschema form
        // applies to its value
        node.additionalProperties.foreach { ap =>
          val extra = st.fields.filterNot(f =>
            node.properties.exists(_._1 == f.name) ||
              node.patternProperties.exists(p =>
                Formats.staticPatternMatch(f.name, p._1)))
          ap match {
            case Left(true) =>
            case Left(false) =>
              extra.foreach { f =>
                add(kw("additionalProperties"), vac(v, v.getField(f.name).isNull),
                  lit(s"additionalProperties: unexpected property '${f.name}'"),
                  ErrorKind.AdditionalPropertiesK)
              }
            case Right(as) =>
              extra.foreach { f =>
                out ++= compile(spec, as, v.getField(f.name), f.dataType,
                  if (instPath.isEmpty) f.name else s"$instPath/${f.name}", stack, binder, depth + 1)
              }
          }
        }
        // unevaluatedProperties over the struct's known field set: a field
        // the evaluated set leaves (statically, or on this row) must be
        // absent (NULL) under `false`, or match the subschema otherwise.
        // Field names are tested through the engine-paired hook
        // (Formats.staticPatternMatch), NOT raw java.util.regex — with a
        // custom engine registered, struct and map columns must agree on
        // which fields count as evaluated
        node.unevaluatedProperties.filter(_ != Left(true)).foreach { up =>
          def lower(f: StructField, evald: Option[Column]): Unit = up match {
            case Left(_) =>
              val absent = v.getField(f.name).isNull
              add(kw("unevaluatedProperties"), vac(v, evald.fold(absent)(absent || _)),
                lit(s"unevaluatedProperties: unexpected property '${f.name}'"),
                ErrorKind.UnevaluatedPropertiesK)
            case Right(us) =>
              val cs = compile(spec, us, v.getField(f.name), f.dataType,
                if (instPath.isEmpty) f.name else s"$instPath/${f.name}", stack, binder, depth + 1)
              out ++= evald.fold(cs)(e => cs.map(c => c.copy(pred = e || c.pred)))
          }
          w.evaluatedProps.foreach {
            case Left((evalKeys, evalPats)) =>
              st.fields.filterNot(f => evalKeys.contains(f.name) ||
                evalPats.exists(Formats.staticPatternMatch(f.name, _))).foreach(lower(_, None))
            case Right(contribs) =>
              st.fields.foreach { f =>
                val covering = contribs.filter(c => c.all ||
                  c.keys.contains(f.name) ||
                  c.patterns.exists(Formats.staticPatternMatch(f.name, _)))
                if (!covering.exists(_.unconditional))
                  lower(f, Some(coalesce(
                    covering.map(_.cond).reduceOption(_ || _).getOrElse(lit(false)),
                    lit(false))))
              }
          }
        }
      case MapType(StringType, vt, _) =>
        val keys = map_keys(v)
        node.requiredProps.foreach { k =>
          add(kw("required"), vac(v, array_contains(keys, k)),
            lit(s"required: missing property '$k'"),
            ErrorKind.RequiredK(k))
        }
        node.properties.foreach { case (k, ps) =>
          val p = predicate(spec, ps, element_at(v, k), vt, stack, depth + 1)
          add(kw("properties", k), vac(v, !array_contains(keys, k) || coalesce(p, lit(false))),
            lit(s"properties/$k: value does not match"),
            ErrorKind.PropertiesK(k))
        }
        w.patternProperties()
        w.propertyNames()
        w.dependentSchemas()
        node.dependentRequired.foreach { case (k, reqs) =>
          val present = array_contains(keys, k)
          val core = reqs.map(r => array_contains(keys, r))
            .reduceOption(_ && _).getOrElse(lit(true))
          add(kw("dependentRequired", k),
            vac(v, !coalesce(present, lit(false)) || coalesce(core, lit(false))),
            lit(s"dependentRequired: '$k' present but ${reqs.mkString(",")} missing"),
            ErrorKind.DependentRequiredK(k, reqs))
        }
        w.unevaluatedProperties()
        w.additionalProperties()
        w.propertyCounts()
      case _ =>
    }
    w.composition()
    w.result
  }
}
