package graft.compile

import com.fasterxml.jackson.databind.JsonNode
import graft.functions.{Content, ExactRatPredExpr, Formats}
import graft.spec.{SchemaNode, Spec, SpecError}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** How one compiler sees the value a schema node applies to — the half of
  * keyword compilation that depends on the value's representation. The
  * typed view ([[RowCompiler]]) dispatches once on the static Spark
  * `DataType`; the variant view ([[DynamicJson]]) dispatches per row on the
  * runtime JSON type. Everything type-independent lives in
  * [[KeywordWalker]], so the two compilers cannot drift apart there.
  */
private[compile] trait ValueView {

  /** The value; SQL NULL = absent, and every keyword is vacuous on it. */
  def v: Column

  /** Compile another subschema against this same value, in this view's
    * compiler (`$ref` targets, `allOf` members, branch probes).
    */
  def compile(spec: Spec, node: SchemaNode, instPath: String,
      stack: List[(String, Int)], binder: Option[Binder], depth: Int): Seq[Check]

  /** Type gate: a keyword's `core` predicate for values of `jsonType`
    * ("array" | "object" | "number" | "string"), vacuous on absent values
    * and, when the type is only known at runtime, on values of another type.
    */
  def gate(jsonType: String, core: Column): Column

  /** Array-like access: the value as an array. */
  def items: Column

  /** The `uniqueItems` dedup key: the array with each element in the form
    * whose equality is JSON equality.
    */
  def uniqueKey: Column

  /** Map-like access: the value as a map from key to member. */
  def entries: Column

  /** Predicate of `node` over one member `x` (array element or map value). */
  def memberPredicate(spec: Spec, node: SchemaNode, x: Column,
      stack: List[(String, Int)], depth: Int): Column

  /** Whether key `k` is present; `lit(false)` when it never can be. */
  def keyPresent(k: String): Column

  /** The condition under which the `dependentSchemas/k` checks are
    * vacuous; None when `k` can never be present.
    */
  def dependentGate(k: String): Option[Column] =
    Some(!coalesce(keyPresent(k), lit(false)))

  /** Whether the value equals the JSON constant `c` (const, enum). */
  def constEq(c: JsonNode): Column

  /** The value as rendered in const, enum, multipleOf and string details. */
  def rendered: Column

  /** Core of a number keyword: the value against `bd` under `op`, an
    * [[ExactRatPredExpr]] op code (Ge, Le, Gt, Lt, MultipleOf).
    */
  def numberCore(op: Int, bd: BigDecimal): Column

  /** The value as rendered in the bound keywords' details. */
  def numberText: Column

  /** The value as a string (pattern, format, content*). */
  def str: Column

  /** Tail of the `oneOf` violation detail, after the match count. */
  def oneOfDetail: String

  /** Whether the `items` detail counts the elements that fail. */
  def countsItemFailures: Boolean

  /** Tail of the `contains` violation detail, after the match count. */
  def containsDetail(minC: Int, maxC: Option[Int]): String

  /** Whether the `if` predicate is bound once per row before it gates the
    * then/else checks.
    */
  def bindsIf: Boolean
}

/** One compile call of one schema node: the reference's keyword walk
  * (reference validator.go:70-196) over a [[ValueView]] — keyword paths and
  * [[Check]] bookkeeping, boolean schemas, `$ref` / `$dynamicRef` inlining,
  * const/enum, the number, pattern/format, array and map-shaped object
  * keywords, the content* registry lookups, composition, `dependentSchemas`
  * gating and the `unevaluated*` lowerings. A compiler runs [[enter]], then
  * its keywords in its own order — the ones that depend on its
  * representation (`type`, `required`, `properties`, `dependentRequired`,
  * string lengths, struct-shaped objects, content checks) written out, the
  * others as the walker's steps, called only where its type can hold the
  * keyword — then [[composition]], and returns [[result]]. The steps are
  * called from the compiler's own `compile`, not through a callback: Spark
  * records a stack trace in every `Column` it builds, so each frame a
  * recursion level adds is paid on every column below it (30 extra frames
  * cost about half again the compile time). For the same reason member
  * descent goes straight from a lambda to [[ValueView.memberPredicate]].
  */
private[compile] final class KeywordWalker(val spec: Spec, val node: SchemaNode,
    view: ValueView, val instPath: String, val stack: List[(String, Int)],
    val binder: Option[Binder], val depth: Int) {
  import KeywordWalker._

  private val kwBase: String = if (node.path.isEmpty) "" else node.path.mkString("/")
  CompileLimits.tickVisit(if (kwBase.isEmpty) "#" else kwBase)

  def kw(parts: String*): String =
    (if (kwBase.isEmpty) parts else Vector(kwBase) ++ parts).mkString("/")
  val out = Vector.newBuilder[Check]
  def add(kwPath: String, pred: Column, detail: Column, kind: ErrorKind): Unit =
    out += Check(kwPath, instPath, pred, detail, kind)
  private def bind(c: Column): Column = binder.map(_.bind(c)).getOrElse(c)

  private def v: Column = view.v
  /** boolResult probe (reference validator.go:66) of `n` over this value. */
  private def probe(n: SchemaNode): Column =
    view.compile(spec, n, "", stack, None, depth)
      .map(_.pred).reduceOption(_ && _).getOrElse(lit(true))
  /** The predicate of `n` over one member, NULL read as failure. */
  private def member(n: SchemaNode): Column => Column =
    x => coalesce(view.memberPredicate(spec, n, x, stack, depth + 1), lit(false))

  def result: Seq[Check] = out.result()

  /** Boolean schema, then `$ref`/`$dynamicRef`. False when the node is a
    * boolean schema: its checks are then complete.
    */
  def enter(): Boolean = {
    // boolean schema (reference validator.go:75-81)
    node.boolSchema match {
      case Some(false) =>
        add(kwBase, vac(v, lit(false)), lit("false schema: always fails"),
          ErrorKind.FalseSchema)
        return false
      case Some(true) => return false
      case None       =>
    }
    node.ref.foreach { r => inlineRef(r, r, "$ref", spec.resolve(r, Nil)) }
    node.dynRef.foreach { r =>
      val (target, key) = Refs.resolveDynamic(spec, r, stack, kw("$dynamicRef"))
      inlineRef(r, key, "$dynamicRef", target)
    }
    true
  }

  // $ref — compile-time inlining (reference objcompiler.go:353-380).
  // Same-position repeats are cycles (rejected); recursive DESCENT unrolls
  // to CompileLimits.maxRefUnroll with a typed cut check beyond it.
  private def inlineRef(r: String, key: String, kwName: String,
                        target: => SchemaNode): Unit = {
    if (stack.contains((key, depth)))
      throw SpecError(kw(kwName), s"cyclic $$ref chain: " +
        (key :: stack.map(_._1)).reverse.mkString(" -> "))
    val unroll = CompileLimits.effectiveUnroll
    if (stack.count(_._1 == key) >= unroll)
      add(kw(kwName), v.isNull,
        lit(s"$kwName: recursive schema '$r' unrolled $unroll deep; " +
          "value present beyond the compiled depth"),
        ErrorKind.DepthExceeded(unroll))
    else
      out ++= view.compile(spec, target, instPath, (key, depth) :: stack, binder, depth)
  }

  // composition (reference validator.go:552-631)
  def composition(): Unit = {
    node.allOf.foreach(ch => out ++= view.compile(spec, ch, instPath, stack, binder, depth))
    if (node.anyOf.nonEmpty) {
      val ps = node.anyOf.map(probe)
      add(kw("anyOf"), vac(v, ps.reduce(_ || _)), lit("anyOf: no subschema matched"),
        ErrorKind.AnyOfK)
    }
    if (node.oneOf.nonEmpty) {
      val cnt = node.oneOf
        .map(ch => when(coalesce(probe(ch), lit(false)), 1).otherwise(0))
        .reduce(_ + _)
      add(kw("oneOf"), vac(v, cnt === 1),
        concat(lit("oneOf: "), cnt.cast(StringType), lit(view.oneOfDetail)),
        ErrorKind.OneOfK(node.oneOf.size))
    }
    node.not.foreach { ch =>
      add(kw("not"), vac(v, !coalesce(probe(ch), lit(false))),
        lit("not: subschema matched"),
        ErrorKind.NotK)
    }
    // if/then/else — conditional gating of the branch checks
    // (reference validator.go:622-630); a LITERAL boolean `if` prunes
    // the dead branch before compilation, so an unresolvable $ref inside it
    // is never resolved (the reference skips the dead branch the same way —
    // Extra-Test-Suite draft7/if-then-else.json refs 'blah/blah.json' there)
    node.ifS.foreach { ifn =>
      ifn.boolSchema match {
        case Some(true) => node.thenS.foreach { tn =>
          out ++= view.compile(spec, tn, instPath, stack, binder, depth)
        }
        case Some(false) => node.elseS.foreach { en =>
          out ++= view.compile(spec, en, instPath, stack, binder, depth)
        }
        case None =>
          val ifPred0 = coalesce(probe(ifn), lit(false))
          val ifPred = if (view.bindsIf) bind(ifPred0) else ifPred0
          node.thenS.foreach { tn =>
            view.compile(spec, tn, instPath, stack, binder, depth)
              .foreach(c => out += c.copy(pred = !ifPred || c.pred))
          }
          node.elseS.foreach { en =>
            view.compile(spec, en, instPath, stack, binder, depth)
              .foreach(c => out += c.copy(pred = ifPred || c.pred))
          }
      }
    }
  }

  /** const and enum (reference validator.go:106-113): deep equality with
    * numeric cross-type fidelity, as the view defines it. An empty enum
    * matches nothing (legal under 2020-12).
    */
  def constEnum(): Unit = {
    node.const.foreach { c =>
      add(kw("const"), vac(v, view.constEq(c)),
        concat(lit("const: got "), view.rendered, lit(s", want $c")),
        ErrorKind.ConstK(c.toString))
    }
    node.enumVals.foreach { vals =>
      add(kw("enum"), vac(v, vals.map(view.constEq).reduceOption(_ || _).getOrElse(lit(false))),
        concat(lit("enum: got "), view.rendered, lit(s", want one of ${vals.mkString(", ")}")),
        ErrorKind.EnumK(vals.map(_.toString)))
    }
  }

  /** Number keywords (reference validator.go:513-550) over the view's
    * number core: big.Rat-exact comparison and divisibility.
    */
  def numbers(): Unit = {
    // `text` by name: built after the core, so a view that binds both
    // binds them in that order
    def check(name: String, op: Int, bd: BigDecimal, want: String, text: => Column,
        kind: ErrorKind): Unit =
      add(kw(name), view.gate("number", view.numberCore(op, bd)),
        concat(lit(s"$name: got "), text, lit(s", want $want")), kind)
    import ExactRatPredExpr.{Ge, Gt, Le, Lt, MultipleOf}
    node.minimum.foreach(b =>
      check("minimum", Ge, b, s">= $b", view.numberText, ErrorKind.Minimum(b)))
    node.maximum.foreach(b =>
      check("maximum", Le, b, s"<= $b", view.numberText, ErrorKind.Maximum(b)))
    node.exclusiveMinimum.foreach(b =>
      check("exclusiveMinimum", Gt, b, s"> $b", view.numberText, ErrorKind.ExclusiveMinimum(b)))
    node.exclusiveMaximum.foreach(b =>
      check("exclusiveMaximum", Lt, b, s"< $b", view.numberText, ErrorKind.ExclusiveMaximum(b)))
    node.multipleOf.foreach(m =>
      check("multipleOf", MultipleOf, m, s"multiple of $m", view.rendered, ErrorKind.MultipleOf(m)))
  }

  /** pattern: regex *search* through the pluggable engine (reference
    * validator.go:455-459 and its UseRegexpEngine hook).
    */
  def pattern(): Unit = node.pattern.foreach { p =>
    add(kw("pattern"), view.gate("string", Formats.patternMatch(view.str, p)),
      concat(lit("pattern: "), view.rendered, lit(s" does not match '$p'")),
      ErrorKind.PatternK(p))
  }

  /** format (reference validator.go:136-146) through the format registry.
    * An unregistered format is a spec error, or an ignored annotation under
    * the compat dialects (the reference's nil-Format skip).
    */
  def format(): Unit = node.format.foreach { f =>
    Formats.get(f) match {
      case Some(fn) =>
        add(kw("format"), view.gate("string", fn(view.str)),
          concat(lit("format: "), view.rendered, lit(s" is not a valid $f")),
          ErrorKind.FormatK(f))
      case None if node.formatLenient =>
      case None => throw SpecError(kw("format"), s"unknown format '$f'")
    }
  }

  /** The contentEncoding decoder from the pluggable registry (reference
    * content.go:17-24, RegisterContentEncoding compiler.go:85-90).
    */
  def decoder(enc: String): Column => Column = Content.encoding(enc).getOrElse(
    throw SpecError(kw("contentEncoding"),
      s"unknown encoding '$enc' (registered: ${Content.knownEncodings.mkString(", ")})"))

  /** The contentMediaType parse check from the pluggable registry
    * (RegisterContentMediaType, reference compiler.go:91-95).
    */
  def mediaType(mt: String): Column => Column = Content.mediaType(mt).getOrElse(
    throw SpecError(kw("contentMediaType"),
      s"unknown media type '$mt' (registered: ${Content.knownMediaTypes.mkString(", ")})"))

  /** Array keywords (reference validator.go:324-430) over the view's array.
    * `items` applies after the `prefixItems` prefix (2020-12).
    */
  def arrays(): Unit = {
    def arr = view.items
    def check(name: String, core: Column, detail: Column, kind: ErrorKind): Unit =
      add(kw(name), view.gate("array", core), detail, kind)
    node.minItems.foreach(n => check("minItems", size(arr) >= n,
      concat(lit("minItems: got "), size(arr).cast(StringType), lit(s", want >= $n")),
      ErrorKind.MinItems(n)))
    node.maxItems.foreach(n => check("maxItems", size(arr) <= n,
      concat(lit("maxItems: got "), size(arr).cast(StringType), lit(s", want <= $n")),
      ErrorKind.MaxItems(n)))
    // hash-based dedup — the scalable arm of reference util.go:331-361
    if (node.uniqueItems)
      check("uniqueItems", size(array_distinct(view.uniqueKey)) === size(arr),
        lit("uniqueItems: duplicate items found"), ErrorKind.UniqueItemsK)
    node.prefixItems.zipWithIndex.foreach { case (ps, i) =>
      val p = view.memberPredicate(spec, ps, element_at(arr, i + 1), stack, depth + 1)
      check(s"prefixItems/$i", size(arr) <= i || coalesce(p, lit(false)),
        lit(s"prefixItems/$i: element does not match"), ErrorKind.PrefixItemsK(i))
    }
    val prefixN = node.prefixItems.size
    node.items.foreach { is =>
      val rest = if (prefixN == 0) arr
        else slice(arr, lit(prefixN + 1), greatest(size(arr) - prefixN, lit(0)))
      val p = forall(rest, member(is))
      val detail = if (!view.countsItemFailures) lit("items: element(s) do not match")
        else concat(lit("items: "), size(filter(rest, x =>
            !coalesce(view.memberPredicate(spec, is, x, stack, depth + 1), lit(false))))
          .cast(StringType), lit(" element(s) do not match"))
      check("items", p, detail, ErrorKind.ItemsK)
    }
    node.contains.foreach { cs =>
      val cnt = size(filter(arr, member(cs)))
      val minC = node.minContains.getOrElse(1)
      val core = node.maxContains match {
        case Some(mx) => cnt >= minC && cnt <= mx
        case None     => cnt >= minC
      }
      check("contains", core, concat(lit("contains: "), cnt.cast(StringType),
          lit(view.containsDetail(minC, node.maxContains))),
        ErrorKind.ContainsK(minC, node.maxContains))
    }
  }

  /** propertyNames over the view's map keys (reference
    * validator.go:286-301): key names are strings, so the typed string
    * compiler applies.
    */
  def propertyNames(): Unit = node.propertyNames.foreach { ps =>
    val p = forall(map_keys(view.entries), k =>
      coalesce(RowCompiler.predicate(spec, ps, k, StringType, stack, depth + 1), lit(false)))
    add(kw("propertyNames"), view.gate("object", p), lit("propertyNames: key does not match"),
      ErrorKind.PropertyNamesK("*"))
  }

  /** patternProperties over the view's map. Key matching goes through the
    * pluggable regex engine, like `pattern` (the reference's
    * UseRegexpEngine governs both, reference compiler.go:141-151).
    */
  def patternProperties(): Unit = node.patternProperties.foreach { case (re, ps) =>
    val sub = map_filter(view.entries, (k, _) => Formats.patternMatch(k, re))
    add(kw("patternProperties", re), view.gate("object", forall(map_values(sub), member(ps))),
      lit(s"patternProperties: value(s) for keys matching '$re' do not match"),
      ErrorKind.PatternPropertiesK(re))
  }

  /** additionalProperties over the view's map: the keys that no
    * `properties` name or `patternProperties` regex covers.
    */
  def additionalProperties(): Unit = node.additionalProperties.foreach { ap =>
    def isKnown(k: Column): Column =
      nameCovered(k, node.properties.map(_._1), node.patternProperties.map(_._1))
    def check(core: Column, detail: String): Unit =
      add(kw("additionalProperties"), view.gate("object", core), lit(detail),
        ErrorKind.AdditionalPropertiesK)
    ap match {
      case Left(true) =>
      case Left(false) =>
        check(forall(map_keys(view.entries), isKnown), "additionalProperties: unexpected key(s)")
      case Right(as) =>
        val rem = map_filter(view.entries, (k, _) => !isKnown(k))
        check(forall(map_values(rem), member(as)), "additionalProperties: value(s) do not match")
    }
  }

  /** minProperties and maxProperties over the view's map. */
  def propertyCounts(): Unit = {
    def n = size(map_keys(view.entries))
    node.minProperties.foreach { m =>
      add(kw("minProperties"), view.gate("object", n >= m),
        concat(lit("minProperties: got "), n.cast(StringType), lit(s", want >= $m")),
        ErrorKind.MinProperties(m))
    }
    node.maxProperties.foreach { m =>
      add(kw("maxProperties"), view.gate("object", n <= m),
        concat(lit("maxProperties: got "), n.cast(StringType), lit(s", want <= $m")),
        ErrorKind.MaxProperties(m))
    }
  }

  /** dependentSchemas (reference validator.go:307-312): while key k is
    * present, the whole value must match the paired schema.
    */
  def dependentSchemas(): Unit = node.dependentSchemas.foreach { case (k, ds) =>
    view.dependentGate(k).foreach { absent =>
      view.compile(spec, ds, instPath, stack, binder, depth)
        .foreach(c => out += c.copy(pred = absent || c.pred))
    }
  }

  /** The evaluated set of `unevaluatedItems` (`items`) or
    * `unevaluatedProperties`: Left = the compile-time closure (this node,
    * allOf, $ref), Right = runtime contributions with their branch
    * conditions bound once per row (the folds below reference every one).
    */
  private def evaluatedSet(items: Boolean,
      keyPresent: String => Column): Either[Vector[Evaluated], Vector[Evaluated]] = {
    val at = kw(if (items) "unevaluatedItems" else "unevaluatedProperties")
    try Left(evaluated(spec, node, at, stack, items, None, keyPresent))
    catch { case _: RuntimeEvalSet =>
      Right(evaluated(spec, node, at, stack, items,
        Some(ch => coalesce(probe(ch), lit(false))), keyPresent)
        .map(c => if (c.unconditional) c else c.copy(cond = bind(c.cond))))
    }
  }

  /** The properties `unevaluatedProperties` lowers against: Left(keys,
    * patterns) when compile-time known, Right(runtime contributions)
    * otherwise; None when every property counts evaluated. Shared by the
    * map-like lowering below and the typed struct lowering.
    */
  def evaluatedProps: Option[Either[(Set[String], Vector[String]), Vector[Evaluated]]] =
    evaluatedSet(items = false, view.keyPresent) match {
      case Left(closure) =>
        if (closure.exists(_.all)) None
        else Some(Left((closure.flatMap(_.keys).toSet, closure.flatMap(_.patterns))))
      case Right(contribs) =>
        if (contribs.exists(c => c.unconditional && c.all)) None
        else Some(Right(contribs))
    }

  /** unevaluatedItems over the view's array: with a statically-known
    * evaluated prefix this is items-after-prefix
    * (reference validator.go:633-641); branch-dependent prefixes
    * become the per-row greatest of the validating branches' prefixes.
    * Elements a `contains` of the closure matches count evaluated. (When
    * that `contains` fails min/maxContains the row is already invalid;
    * counting its matches evaluated only suppresses a second violation.)
    * `true` never fails: it skips the evaluated-set walk, whose branch
    * probes would be compiled for nothing.
    */
  def unevaluatedItems(): Unit = node.unevaluatedItems.filter(_ != Left(true)).foreach { ui =>
    def arr = view.items
    def check(core: Column, detail: Column): Unit =
      add(kw("unevaluatedItems"), view.gate("array", core), detail,
        ErrorKind.UnevaluatedItemsK)
    evaluatedSet(items = true, _ => lit(false)) match {
      case Left(closure) => if (!closure.exists(_.all)) {
        val maxPrefix = closure.map(_.prefix).max
        val containsNodes = closure.flatMap(_.contains)
        def contained(x: Column): Column = containsNodes.map(member(_)(x))
          .reduceOption(_ || _).getOrElse(lit(false))
        lazy val rest = if (maxPrefix == 0) arr
          else slice(arr, lit(maxPrefix + 1), greatest(size(arr) - maxPrefix, lit(0)))
        ui match {
          case Left(_) if containsNodes.isEmpty =>
            check(size(arr) <= maxPrefix,
              concat(lit("unevaluatedItems: got "), size(arr).cast(StringType),
                lit(s" item(s), want <= $maxPrefix evaluated")))
          case Left(_) =>
            check(forall(rest, x => contained(x)),
              lit("unevaluatedItems: item(s) beyond the evaluated prefix " +
                "match no contains schema"))
          case Right(us) =>
            check(forall(rest, x => contained(x) || member(us)(x)),
              lit("unevaluatedItems: element(s) do not match"))
        }
      }
      case Right(contribs) => if (!contribs.exists(c => c.unconditional && c.all)) {
        val containsC = contribs.flatMap(c => c.contains.map((c.cond, c.unconditional, _)))
        def containedRt(x: Column): Column = containsC.map { case (cond, uncond, cn) =>
          val m = member(cn)(x)
          if (uncond) m else cond && m
        }.reduceOption(_ || _).getOrElse(lit(false))
        val allEvalCond = coalesce(contribs.filter(_.all).map(_.cond)
          .reduceOption(_ || _).getOrElse(lit(false)), lit(false))
        val prefixCol = greatest(
          (lit(0) +: contribs.filter(_.prefix > 0).map { c =>
            if (c.unconditional) lit(c.prefix)
            else when(c.cond, lit(c.prefix)).otherwise(lit(0))
          }): _*)
        lazy val rest = slice(arr, prefixCol + 1, greatest(size(arr) - prefixCol, lit(0)))
        ui match {
          case Left(_) if containsC.isEmpty =>
            check(allEvalCond || size(arr) <= prefixCol,
              concat(lit("unevaluatedItems: got "), size(arr).cast(StringType),
                lit(" item(s), more than the evaluated prefix")))
          case Left(_) =>
            check(allEvalCond || coalesce(forall(rest, x => containedRt(x)), lit(false)),
              lit("unevaluatedItems: item(s) beyond the evaluated prefix " +
                "match no applicable contains schema"))
          case Right(us) =>
            check(allEvalCond ||
              coalesce(forall(rest, x => containedRt(x) || member(us)(x)), lit(false)),
              lit("unevaluatedItems: element(s) do not match"))
        }
      }
    }
  }

  /** unevaluatedProperties over the view's map: residual key algebra
    * against the evaluated set — static keys ∪ patterns, or per key the OR
    * of the validating branches that evaluate it. `true` is a no-op and
    * skips the precompute.
    */
  def unevaluatedProperties(): Unit =
    node.unevaluatedProperties.filter(_ != Left(true)).foreach { up =>
      evaluatedProps.foreach { ev =>
        val isEval: Column => Column = ev match {
          case Left((keys, pats)) => k => nameCovered(k, keys, pats)
          case Right(contribs) => k => contribs.map { c =>
            if (c.all) c.cond
            else if (c.unconditional) nameCovered(k, c.keys, c.patterns)
            else c.cond && nameCovered(k, c.keys, c.patterns)
          }.reduceOption(_ || _).getOrElse(lit(false))
        }
        def check(core: Column, detail: String): Unit =
          add(kw("unevaluatedProperties"), view.gate("object", core), lit(detail),
            ErrorKind.UnevaluatedPropertiesK)
        up match {
          case Left(_) =>
            check(forall(map_keys(view.entries), k => coalesce(isEval(k), lit(false))),
              "unevaluatedProperties: unexpected key(s)")
          case Right(us) =>
            val rem = map_filter(view.entries, (k, _) => !coalesce(isEval(k), lit(false)))
            check(forall(map_values(rem), member(us)),
              "unevaluatedProperties: unevaluated value(s) do not match")
        }
      }
    }
}

private[compile] object KeywordWalker {

  /** Wrap a core predicate so NULL input passes and a NULL-valued core
    * (three-valued logic leak) fails closed.
    */
  def vac(v: Column, core: Column): Column =
    when(v.isNull, lit(true)).otherwise(coalesce(core, lit(false)))

  /** The object-keyword name algebra shared by additionalProperties /
    * unevaluatedProperties in BOTH compilers: a key is "covered" when it is
    * a listed property name or matches a patternProperties regex (via the
    * pluggable engine).
    */
  def nameCovered(k: Column, names: Iterable[String],
      patterns: Iterable[String]): Column = {
    val inNames = names.map(k === _).reduceOption(_ || _).getOrElse(lit(false))
    val inPats = patterns.map(Formats.patternMatch(k, _))
      .reduceOption(_ || _).getOrElse(lit(false))
    inNames || inPats
  }

  /** What one node of an unevaluated* closure evaluates, under the
    * condition `cond` that it both APPLIES and VALIDATES — annotations from
    * failed subschemas are dropped (reference validator.go:913-954).
    * `unconditional` marks the always-applied closure (the node itself,
    * allOf, $ref), whose cond is literally true. Properties: `keys`,
    * `patterns`; items: the `prefix` length and a `contains` whose matches
    * count evaluated; `all` = everything evaluated.
    */
  final case class Evaluated(cond: Column, unconditional: Boolean,
      keys: Set[String], patterns: Vector[String], prefix: Int,
      contains: Option[SchemaNode], all: Boolean)

  /** The closure depends on a runtime branch: lower per row instead. */
  private final case class RuntimeEvalSet(detail: String)
      extends RuntimeException(detail)

  /** Does this schema closure evaluate items (`items`) or properties? A
    * `$dynamicRef` target MAY, so the walk must see such a branch and
    * resolve it through the compile-time scope chain.
    */
  private def evaluates(spec: Spec, n: SchemaNode, st: List[String],
      items: Boolean): Boolean =
    (if (items) n.items.nonEmpty || n.prefixItems.nonEmpty || n.contains.nonEmpty ||
       n.unevaluatedItems.nonEmpty
     else n.properties.nonEmpty || n.patternProperties.nonEmpty ||
       n.additionalProperties.nonEmpty || n.unevaluatedProperties.nonEmpty) ||
      n.dynRef.nonEmpty ||
      (n.allOf ++ n.anyOf ++ n.oneOf ++ n.ifS ++ n.thenS ++ n.elseS ++
        n.dependentSchemas.map(_._2)).exists(evaluates(spec, _, st, items)) ||
      // repeated ref on this walk path = fixpoint (its contribution was
      // already accounted at first visit); cycles are NOT an error here
      n.ref.exists(r => !st.contains(r) &&
        evaluates(spec, spec.resolve(r, Nil), r :: st, items))

  /** The evaluated-set walk of `unevaluated*`, in preorder: this node, its
    * `$ref`/`$dynamicRef`/`allOf` closure and, given `branchPred`, every
    * runtime branch (anyOf/oneOf/if-then-else/dependentSchemas) that
    * evaluates, gated by its branch predicate — pure column algebra over
    * the predicates the caller's compiler emits, no runtime recursion.
    * Without `branchPred` (the compile-time precompute, the reference's
    * allPropsEvaluated, reference compiler.go:247-259) such a branch
    * throws [[RuntimeEvalSet]]. `not` never contributes: its subschema must
    * FAIL, so its annotations are always dropped.
    *
    * `seen` is this walk's own visited-ref path: a repeat is a fixpoint (the
    * ref's keys arrived at its first visit, under a wider condition). The
    * compiler's unroll stack stays out of it — an ancestor unroll entry is
    * not a cycle of this walk — and serves only as the dynamic-scope chain
    * `dynStack` for a `$dynamicRef` in the closure, resolved by the same
    * rule the main compile path applies ([[Refs.resolveDynamic]]).
    */
  private def evaluated(spec: Spec, node: SchemaNode, at: String,
      dynStack: List[(String, Int)], items: Boolean,
      branchPred: Option[SchemaNode => Column],
      keyPresent: String => Column): Vector[Evaluated] = {
    def walk(n: SchemaNode, seen: List[String], cond: Column,
             uncond: Boolean, isRoot: Boolean): Vector[Evaluated] = {
      def ev(ch: SchemaNode): Boolean = evaluates(spec, ch, seen, items)
      if (branchPred.isEmpty)
        (n.anyOf ++ n.oneOf ++ n.ifS ++ n.thenS ++ n.elseS ++
          n.dependentSchemas.map(_._2)).find(ev).foreach { d =>
          throw RuntimeEvalSet("evaluated set depends on the runtime " +
            s"applicator at '${d.path.mkString("/")}'")
        }
      def p(ch: SchemaNode): Column = branchPred.get(ch)
      def branch(ch: SchemaNode, c: Column) =
        walk(ch, seen, c, uncond = false, isRoot = false)
      val own =
        if (items) Evaluated(cond, uncond, Set.empty, Vector.empty,
          n.prefixItems.size, n.contains,
          n.items.nonEmpty || (!isRoot && n.unevaluatedItems.nonEmpty))
        // a NESTED unevaluated* (in allOf/$ref children) evaluates whatever
        // its closure leaves, but the root must not count ITSELF
        else Evaluated(cond, uncond, n.properties.map(_._1).toSet,
          n.patternProperties.map(_._1), 0, None,
          n.additionalProperties.nonEmpty ||
            (!isRoot && n.unevaluatedProperties.nonEmpty))
      val fromRef = n.ref.toVector.filterNot(seen.contains).flatMap { r =>
        walk(spec.resolve(r, Nil), r :: seen, cond, uncond, isRoot = false)
      } ++ n.dynRef.toVector.flatMap { r =>
        val (tgt, key) = Refs.resolveDynamic(spec, r,
          seen.map((_, 0)) ::: dynStack, at)
        if (seen.contains(key)) Vector.empty
        else walk(tgt, key :: seen, cond, uncond, isRoot = false)
      }
      val fromIf = n.ifS.toVector.flatMap { ifn =>
        if (!(ev(ifn) || n.thenS.exists(ev) || n.elseS.exists(ev))) Vector.empty
        else {
          val ifPred = p(ifn)
          (if (ev(ifn)) branch(ifn, cond && ifPred) else Vector.empty) ++
            n.thenS.toVector.filter(ev).flatMap(t => branch(t, cond && ifPred && p(t))) ++
            n.elseS.toVector.filter(ev).flatMap(e => branch(e, cond && !ifPred && p(e)))
        }
      }
      own +: (fromRef ++
        n.allOf.flatMap(walk(_, seen, cond, uncond, isRoot = false)) ++
        (n.anyOf ++ n.oneOf).filter(ev).flatMap(ch => branch(ch, cond && p(ch))) ++
        fromIf ++
        n.dependentSchemas.filter(kv => ev(kv._2)).flatMap { case (k, ds) =>
          branch(ds, cond && keyPresent(k) && p(ds))
        })
    }
    walk(node, Nil, lit(true), uncond = true, isRoot = true)
  }
}

/** `$ref`/`$dynamicRef` stack bookkeeping for [[KeywordWalker]]. The compile
  * stack holds (refKey, dataDepth) pairs: the depth distinguishes a true
  * cycle (same ref, same instance position) from recursive DESCENT (same
  * ref, deeper data), which is unrolled up to
  * [[CompileLimits.maxRefUnroll]].
  */
private[compile] object Refs {

  /** The document a stack entry entered (None = same-document ref). */
  private def docOf(key: String): Option[String] = {
    val r = if (key.startsWith("$dynamic:")) key.stripPrefix("$dynamic:") else key
    val i = r.indexOf('#')
    if (i > 0) Some(r.take(i))
    else if (i < 0 && r.indexOf(':') > 0) Some(r) // bare-URL ref: document root
    else None
  }

  /** Resolve a `$dynamicRef` against the compile-time scope chain — the
    * outermost `$dynamicAnchor` with the fragment's name among the documents
    * entered on this compile path (root document first, then cross-document
    * refs in traversal order), per 2020-12 dynamic-scope semantics
    * (reference validator.go:779-811). If the initial target is not a
    * dynamic anchor, plain `$ref` semantics apply. Returns (target node,
    * stack key). Unresolvable names raise a typed [[SpecError]] naming the
    * anchor.
    */
  def resolveDynamic(spec: Spec, r: String, stack: List[(String, Int)],
                     at: String): (SchemaNode, String) = {
    val h = r.indexOf('#')
    if (h < 0)
      throw SpecError(at, s"$$dynamicRef must carry a '#name' fragment, got '$r'")
    val home = r.substring(0, h)
    val name = r.substring(h + 1)
    if (name.isEmpty || name.startsWith("/")) {
      // a JSON-pointer (or empty) fragment can never match a $dynamicAnchor,
      // so the $dynamicRef behaves exactly like $ref (2020-12 §8.2.3.2)
      val staticRef =
        if (home.isEmpty) { if (name.isEmpty) "#" else "#" + name } else r
      return (spec.resolve(staticRef, Nil), staticRef)
    }
    if (spec.dynAnchorsOf(home).contains(name)) {
      // stack keys may carry EMBEDDED-RESOURCE URIs (resource-scoped refs);
      // the dynamic-scope chain is document-granular, so map each to its
      // home document instead of routing it through the loader
      val docs = stack.reverse.iterator.map(_._1).flatMap(docOf)
        .map(spec.homeDocOf).toList
      val chain = ("" :: docs) :+ home
      val chosen = chain.find(d => spec.dynAnchorsOf(d).contains(name)).get
      (spec.dynAnchorTarget(chosen, name), s"$$dynamic:$chosen#$name")
    } else if (name == SchemaNode.RecursiveAnchorName) {
      // $recursiveRef: "#" with NO $recursiveAnchor declared in its resource:
      // 2019-09 §8.2.4.2 degrades it to a plain $ref to the resource root
      val staticRef = if (home.isEmpty) "#" else home
      (spec.resolve(staticRef, Nil), staticRef)
    } else {
      // initially-resolved target is a plain $anchor (or absent): $dynamicRef
      // behaves exactly like $ref (2020-12 §8.2.3.2)
      val staticRef = if (home.isEmpty) "#" + name else r
      (spec.resolve(staticRef, Nil), staticRef)
    }
  }
}
