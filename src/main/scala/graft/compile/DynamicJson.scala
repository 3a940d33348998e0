package graft.compile

import com.fasterxml.jackson.databind.JsonNode
import graft.functions.ExactRatPredExpr
import graft.spec.{SchemaNode, Spec, SpecError}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import KeywordWalker.vac

/** DYNAMIC JSON validation over Spark 4 VariantType — the faithful mapping
  * of the reference's dynamically-typed instance model
  * (/root/reference/schema.go:112-129): where [[RowCompiler]] dispatches on
  * the STATIC Spark column type, this compiler emits runtime type dispatch
  * per value via `schema_of_variant`, so union types
  * (`"type": ["integer","string"]`), heterogeneous arrays, and
  * schema-unknown payloads validate exactly like the reference.
  *
  * Notable fidelity points:
  *  - JSON null is a first-class type here (VOID variant), distinct from an
  *    absent key (SQL NULL) — matching the reference, unlike the relational
  *    NULL=absent convention of the static compiler;
  *  - `uniqueItems`/`const` deep equality uses `to_json(variant)`, which
  *    canonicalizes object key order — the same trick as the reference's
  *    canonical hash (/root/reference/util.go:363-402);
  *  - `integer` is the zero-fraction predicate on numbers
  *    (/root/reference/util.go:272-275).
  *
  * Everything is built from codegen'd variant expressions — no UDFs.
  * Key-enumerating object keywords (patternProperties, propertyNames,
  * additionalProperties, min/maxProperties) re-serialize the object once
  * (bound) into a map<string,variant>, so their subschemas keep full
  * dynamic semantics. content* keywords apply to any runtime-string
  * instance via the same pluggable registries as the static compiler
  * (decode → mediaType → contentSchema over the decoded value,
  * reference validator.go:468-510). Every keyword that does not depend on
  * the representation is [[KeywordWalker]]'s, shared with the typed
  * compiler; this object supplies the variant view.
  * Unsupported here (out-of-scope territory): nested `json`.
  */
object DynamicJson {

  /** Runtime JSON type name of a variant value — missing | null | object |
    * array | string | boolean | number — over its pre-computed (ideally
    * bound) storage-kind column `sch`
    * ([[graft.functions.VariantTopKindExpr]] — O(1) header read; the
    * former `schema_of_variant` source walked the whole subtree at EVERY
    * nesting level, O(depth²) per row on recursive documents). The CASE
    * chain tests `sch` up to 5 times, so binding it first still avoids
    * repeated reads.
    */
  private def jsonTypeFrom(v: Column, sch: Column): Column =
    when(v.isNull, lit("missing"))
      .when(sch === "VOID", lit("null"))
      .when(sch.startsWith("OBJECT"), lit("object"))
      .when(sch.startsWith("ARRAY"), lit("array"))
      // non-JSON storage classes (native variant columns fed from typed
      // sources — parse_json never produces them) read as strings, which
      // is how both to_json and the variant-binary canon render them;
      // without these arms a timestamp would classify as "number"
      .when(sch === "STRING" || sch === "DATE" || sch.startsWith("TIMESTAMP") ||
        sch === "BINARY" || sch === "UUID", lit("string"))
      .when(sch === "BOOLEAN", lit("boolean"))
      .otherwise(lit("number"))

  private def asNum(v: Column): Column = try_variant_get(v, "$", "double")
  private def asDec(v: Column): Column = try_variant_get(v, "$", "decimal(38,12)")
  private def asStr(v: Column): Column = try_variant_get(v, "$", "string")
  private def asArr(v: Column): Column = try_variant_get(v, "$", "array<variant>")
  private def asBool(v: Column): Column = try_variant_get(v, "$", "boolean")

  /** Canonical NUMBER text of a variant value, exact-rational-faithful:
    * variant-decimal numbers keep their digit-exact `to_json` text, but a
    * variant that stores the number as DOUBLE (negative-scale scientific
    * notation ≥ ~1e16, or >38 digits — decimal storage impossible) renders
    * through the shortest correctly-rounded repr instead of `to_json`'s
    * legacy Jackson form, which is a DIFFERENT rational on the excess-digit
    * class (JDK-4511638) and flipped bound/const/multipleOf verdicts vs
    * both the typed compiler and the reference (found by the differential
    * fuzz). Non-number values fall through to the plain canonical JSON.
    * Numbers NESTED inside containers get the same storage-class rule via
    * [[graft.functions.VariantCanonExpr]] (deep const/enum/uniqueItems
    * walk the variant binary, not `to_json` text), so deep and shallow
    * canon agree at every level.
    */
  private def numCanon(v: Column, sv: Column): Column =
    when(sv === "DOUBLE",
      graft.functions.ShortestReprExpr.col(asNum(v)))
      // FLOAT storage (native variant columns only): the float's OWN
      // shortest repr, matching VariantCanonExpr's deep FLOAT arm — the
      // to_json fallback would print the legacy excess-digit float text
      .when(sv === "FLOAT",
        graft.functions.ShortestFloatReprExpr.col(
          try_variant_get(v, "$", "float")))
      .otherwise(to_json(v))

  /** The variant view: runtime type dispatch per row. Every keyword of a
    * node re-reads the runtime type and the typed extractions, so they are
    * bound once — without binding, a 3-keyword node reads the variant 6+
    * times per row.
    */
  private final class VariantView(val v: Column, binder: Option[Binder])
      extends ValueView {
    def b(c: Column): Column = binder.map(_.bind(c)).getOrElse(c)
    val sv: Column = b(graft.functions.VariantTopKindExpr(v))
    val t: Column = b(jsonTypeFrom(v, sv))
    lazy val vNum: Column = b(asNum(v))
    lazy val vStr: Column = b(asStr(v))
    // exact-rational number text (shortest-repr for variant-double storage)
    lazy val vCanon: Column = b(numCanon(v, sv))
    lazy val arr: Column = b(asArr(v))
    // key-enumerating object keywords: variant exposes no native key list,
    // so the object is re-serialized ONCE (bound) and re-parsed as
    // map<string,variant> — values stay variant, so subschemas keep full
    // dynamic semantics. Non-objects parse to NULL → type-gated vacuous.
    lazy val asMap: Column = b(from_json(to_json(v),
      org.apache.spark.sql.types.DataType.fromDDL("map<string, variant>")))

    // bracket-quoted variant paths: a key containing '.' must not navigate
    // nested objects ($['a.b'], not $.a.b). Spark's variant path grammar
    // has NO escape inside quoted segments ([^']* / [^"]*), so pick the
    // quote the key does not contain; a key containing BOTH quote kinds is
    // unaddressable by any path and routes through the map view instead.
    // CAVEAT (both-quotes keys only): the map view round-trips through
    // to_json → from_json, which can change a number's variant STORAGE
    // class (e.g. FLOAT → DECIMAL/DOUBLE) — const/uniqueItems canon on
    // such a child can diverge from direct path extraction for native
    // variant columns; parse_json-produced variants are unaffected.
    def propGet(k: String): Column =
      if (!k.contains("'"))
        try_variant_get(v, "$['" + k + "']", "variant")
      else if (!k.contains("\""))
        try_variant_get(v, "$[\"" + k + "\"]", "variant")
      else
        when(t === "object", try_element_at(
          from_json(to_json(v),
            org.apache.spark.sql.types.DataType.fromDDL("map<string, variant>")),
          lit(k)))

    def compile(spec: Spec, node: SchemaNode, instPath: String,
        stack: List[(String, Int)], binder: Option[Binder], depth: Int): Seq[Check] =
      DynamicJson.compile(spec, node, v, instPath, stack, binder, depth)
    def gate(jsonType: String, core: Column): Column =
      vac(v, (t =!= jsonType) || coalesce(core, lit(false)))
    def items: Column = arr
    // canonical-JSON dedup = deep equality incl. sorted object keys;
    // NUMBERS canonicalize through the exact-rational rendering so 2 and
    // 2.0 are the same element (the reference's numeric equality,
    // Extra-Test-Suite uniqueItems.json "zero fraction") while
    // digit-distinct numbers at ANY scale stay distinct — no Decimal or
    // double rounding at any magnitude (util.go:322-325 semantics).
    // EVERY element takes the storage-faithful deep canonicalizer
    // (VariantCanonExpr: one variant-binary walk per element — numbers
    // normalized at ANY nesting level by their actual storage class,
    // decimal → digit-exact / double → shortest repr, keys sorted,
    // strings re-escaped through one writer: {"a":1.0} duplicates
    // {"a":1}, 2.0 duplicates 2, "2" stays distinct from 2). No
    // schema_of_variant dispatch, no to_json + Jackson reparse — and
    // nested variant-DOUBLE numbers group by the same shortest-repr
    // rule the scalar path applies (deep = shallow at every level).
    def uniqueKey: Column = transform(arr, e => graft.functions.VariantCanonExpr.col(e))
    def entries: Column = asMap
    // the member's checks as one predicate, compiled here rather than
    // through a helper: one frame less on every descent (see KeywordWalker)
    def memberPredicate(spec: Spec, node: SchemaNode, x: Column,
        stack: List[(String, Int)], depth: Int): Column =
      DynamicJson.compile(spec, node, x, "", stack, None, depth)
        .map(_.pred).reduceOption(_ && _).getOrElse(lit(true))
    def keyPresent(k: String): Column = (t === "object") && propGet(k).isNotNull

    // const / enum — deep equality over canonical JSON with numeric
    // cross-type handling (2 == 2.0 compares as decimal)
    def constEq(jn: JsonNode): Column =
      if (jn.isNumber)
        // exact rational equality over the canonical number text
        // (compareTo, so 2 == 2.0 across renderings) — no Decimal(38,12)
        // rounding, no double approximation at any magnitude or scale
        (t === "number") && coalesce(
          ExactRatPredExpr.pred(vCanon, ExactRatPredExpr.Eq,
            jn.decimalValue()),
          lit(false))
      else if (jn.isTextual) (t === "string") && (vStr === lit(jn.asText()))
      else if (jn.isBoolean) (t === "boolean") && (asBool(v) === lit(jn.asBoolean()))
      else if (jn.isNull) t === "null"
      else {
        // arrays/objects: deep canonical JSON on BOTH sides — nested
        // numbers rewritten to their exact-rational rendering and object
        // keys sorted through the SAME Jackson writer, so {"a":1.0} equals
        // const {"a":1} (the reference's deep numeric equality,
        // util.go:286-329) while digit-distinct nested numbers stay
        // distinct. The constant side canonicalizes once at COMPILE time;
        // the instance side walks the variant BINARY (VariantCanonExpr) so
        // nested variant-DOUBLE-stored numbers render by shortest repr —
        // the same storage rule numCanon applies at top level — instead of
        // to_json's legacy double text (which also destroyed the
        // decimal-vs-double distinction for any post-hoc rewrite).
        val constCanon = graft.functions.JsonNumCanonExpr.canonJson(
          org.apache.spark.unsafe.types.UTF8String.fromString(jn.toString)
        ).toString
        graft.functions.VariantCanonExpr.col(v) === lit(constCanon)
      }
    // canonical JSON text (sorted object keys)
    def rendered: Column = to_json(v)
    // number keywords: exact rational compare over the canonical number
    // text — digit-exact for variant-decimal numbers, shortest-repr for
    // variant-double ones, the reference's json.Number / float64 decode
    // modes respectively (validator.go:519 feeds fmt.Sprint to big.Rat);
    // a Decimal(38,12) extract would ROUND >12-dp values before comparing
    def numberCore(op: Int, bd: BigDecimal): Column =
      ExactRatPredExpr.pred(vCanon, op, bd.bigDecimal)
    def numberText: Column = vNum.cast(StringType)
    def str: Column = vStr
    def oneOfDetail: String = " matched, want exactly 1"
    def countsItemFailures: Boolean = false
    def containsDetail(minC: Int, maxC: Option[Int]): String = s" matching, want >= $minC"
    // the if-predicate feeds EVERY then/else check — without binding, the
    // whole if-subschema tree re-evaluates once per emitted check
    def bindsIf: Boolean = true
  }

  def compile(spec: Spec, node: SchemaNode, v: Column,
              instPath: String, stack: List[(String, Int)] = Nil,
              binder: Option[Binder] = None, depth: Int = 0): Seq[Check] = {
    val x = new VariantView(v, binder)
    val w = new KeywordWalker(spec, node, x, instPath, stack, binder, depth)
    import w.{add, kw, out}
    import x.{b, propGet, t, vCanon, vStr}
    if (!w.enter()) return w.result

    // type — runtime dispatch; integer = number with zero fraction
    node.types.foreach { ts =>
      val base = ts.map(name => t === lit(name))
        .reduceOption(_ || _).getOrElse(lit(false))
      val intOk =
        if (ts.contains("integer") && !ts.contains("number"))
          // exact zero-fraction rule: multipleOf-1 over the canonical
          // number text (util.go:272-275 / big.Rat IsInt). NOT pmod-1 on
          // the double extract, whose decimal→double cast rounds
          // >16-fractional-digit texts (1.00000000000000001) onto an
          // integer the reference rejects; 1e30-class values stay integral
          // (their shortest repr has no fraction)
          (t === "number") && coalesce(
            ExactRatPredExpr.pred(vCanon, ExactRatPredExpr.MultipleOf,
              java.math.BigDecimal.ONE),
            lit(false))
        else lit(false)
      add(kw("type"), vac(v, base || intOk),
        concat(lit("type: got "), t, lit(s", want ${ts.mkString("|")}")),
        ErrorKind.TypeMismatch(ts))
    }

    w.constEnum()
    w.numbers()

    // string lengths — gated on runtime string type
    def lengthCheck(name: String, core: Column, msg: String, kind: ErrorKind): Unit =
      add(kw(name), x.gate("string", core), concat(lit(s"$name: "), x.rendered, lit(s" $msg")),
        kind)
    node.minLength.foreach(n => lengthCheck("minLength", length(vStr) >= n,
      s"shorter than $n chars", ErrorKind.MinLength(n)))
    node.maxLength.foreach(n => lengthCheck("maxLength", length(vStr) <= n,
      s"longer than $n chars", ErrorKind.MaxLength(n)))
    w.pattern()
    w.format()
    w.arrays()

    node.requiredProps.foreach { k =>
      add(kw("required"),
        vac(v, (t =!= "object") || propGet(k).isNotNull),
        lit(s"required: missing property '$k'"),
        ErrorKind.RequiredK(k))
    }
    node.properties.foreach { case (k, ps) =>
      val child0 = propGet(k)
      // a property value feeds every check of its subschema — extract once
      val child = binder.map(_.bind(child0)).getOrElse(child0)
      out ++= compile(spec, ps, child,
        if (instPath.isEmpty) k else s"$instPath/$k", stack, binder, depth + 1)
    }
    w.dependentSchemas()
    node.dependentRequired.foreach { case (k, reqs) =>
      val present = propGet(k).isNotNull
      val core = reqs.map(r => propGet(r).isNotNull)
        .reduceOption(_ && _).getOrElse(lit(true))
      add(kw("dependentRequired", k),
        vac(v, (t =!= "object") || !present || coalesce(core, lit(false))),
        lit(s"dependentRequired: '$k' present but ${reqs.mkString(",")} missing"),
        ErrorKind.DependentRequiredK(k, reqs))
    }

    // key-enumerating object keywords over the bound map view
    w.propertyCounts()
    w.propertyNames()
    w.patternProperties()
    w.additionalProperties()
    // content* keywords over runtime strings (/root/reference/
    // validator.go:468-510): wherever a string instance appears in the
    // dynamic tree, decode via the pluggable registry, then media-type and
    // contentSchema run over the DECODED value; non-string instances are
    // vacuous (the reference only applies content* to strings).
    if (node.contentEncoding.nonEmpty || node.contentMediaType.nonEmpty ||
        node.contentSchema.nonEmpty) {
      val contentValue = b(node.contentEncoding.fold(vStr)(w.decoder(_)(vStr)))
      node.contentEncoding.foreach { enc =>
        add(kw("contentEncoding"),
          vac(v, (t =!= "string") || contentValue.isNotNull),
          lit(s"contentEncoding: value is not valid $enc"),
          ErrorKind.ContentEncodingK(enc))
      }
      // decode failure is already contentEncoding's violation — downstream
      // checks are vacuous on the null decoded value, like the static arm.
      // mediaOk is shared between the contentMediaType check and the
      // contentSchema !parse gate — ONE bound evaluation per row
      lazy val mediaOk: Column =
        b(coalesce(w.mediaType(node.contentMediaType.get)(contentValue), lit(false)))
      node.contentMediaType.foreach { mt =>
        add(kw("contentMediaType"),
          vac(v, (t =!= "string") ||
            when(contentValue.isNull, lit(true)).otherwise(mediaOk)),
          lit(s"contentMediaType: value is not valid $mt"),
          ErrorKind.ContentMediaTypeK(mt))
      }
      // contentSchema recurses DYNAMICALLY: the decoded payload is itself
      // schema-unknown JSON, so it parses to variant and re-enters this
      // compiler (static mode instead derives a struct type — both mirror
      // validator.go:497-510's decode-then-validate). Per 2020-12 (and the
      // reference, Extra-Test-Suite contentSchema.json group 2) it MUST be
      // ignored when contentMediaType is absent.
      node.contentSchema.filter(_ => node.contentMediaType.nonEmpty).foreach { cs =>
        // same Go-decoder dup-key fallback + one-value guard as the
        // top-level parse (the reference decodes content via the same
        // UnmarshalJSON, content.go:47-48)
        val cc = graft.functions.SurrogateCanon.col(contentValue)
        val parsed = b(when(
          (t === "string") && graft.functions.JsonGoLexExpr.col(contentValue),
          coalesce(
            try_parse_json(cc),
            try_parse_json(graft.functions.JsonNormExpr.col(cc)))))
        // content the media type ACCEPTS but that is not JSON must FAIL
        // contentSchema, not validate vacuously (a registered media type
        // need not imply JSON parseability — the reference's
        // decode-then-validate errors there, validator.go:497-510).
        // Content the media type already REJECTED stays that keyword's
        // single violation, and decode failure stays contentEncoding's
        // (null contentValue is vacuous, like every downstream check).
        out += Check(
          (cs.path :+ "!parse").mkString("/"), instPath + "!json",
          vac(v, (t =!= "string") || contentValue.isNull || !mediaOk ||
            parsed.isNotNull),
          lit("!parse: content is not valid JSON"),
          ErrorKind.ParseError)
        out ++= compile(spec, cs, parsed, instPath + "!json", stack, binder, depth + 1)
      }
    }

    node.jsonSchema.foreach { _ =>
      throw SpecError(kw("json"), "'json' is not supported in dynamic (variant) mode")
    }

    w.unevaluatedItems()
    w.unevaluatedProperties()
    w.composition()
    w.result
  }

  /** Validate a STRING column holding arbitrary JSON against a schema node,
    * dynamically. Returns the checks to feed [[graft.exec.Validator]]-style
    * plans; malformed JSON fails a synthetic `!parse` check.
    */
  def checksForJsonColumn(spec: Spec, node: SchemaNode, jsonCol: Column,
                          instPath: String,
                          binder: Option[Binder] = None,
                          depth: Int = 0): Seq[Check] = {
    // Go-decoder parity, two halves (loader.go:255-266):
    //  - duplicate object keys: Spark's variant parser rejects them, Go
    //    keeps the LAST value — the Jackson-normalize fallback arm only
    //    evaluates when the native parse returned null (Coalesce
    //    short-circuits), so well-formed JSON never pays it, and anything
    //    Jackson rejects stays a loud !parse failure;
    //  - trailing content: Spark ACCEPTS '{"a":2} x' (parses the prefix),
    //    Go errors "invalid character after top-level value" — the
    //    codegen'd one-pass lexical guard nulls the parse so such rows
    //    fail !parse like any malformed document.
    //  - lone surrogate escapes: Go decodes `"\ud800"` to U+FFFD, Spark's
    //    variant to '?' — the length-preserving textual canon rewrites the
    //    escape to � ahead of BOTH parse arms (the lex guard stays on
    //    the raw text: the rewrite never changes lexical acceptance).
    val jc = graft.functions.SurrogateCanon.col(jsonCol)
    val parsed = when(graft.functions.JsonGoLexExpr.col(jsonCol),
      coalesce(try_parse_json(jc),
        try_parse_json(graft.functions.JsonNormExpr.col(jc))))
    // the parse feeds EVERY check below — bind it so it runs once per row
    val v = binder.map(_.bind(parsed)).getOrElse(parsed)
    val parseCheck = Check(
      (node.path :+ "!parse").mkString("/"), instPath,
      when(jsonCol.isNull, lit(true)).otherwise(v.isNotNull),
      lit("!parse: value is not valid JSON"),
      ErrorKind.ParseError)
    parseCheck +: compile(spec, node, v, instPath, Nil, binder, depth)
  }
}
