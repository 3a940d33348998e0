package graft.spec

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import scala.jdk.CollectionConverters._

/** Table-level constraints — the reference exposes these only through its
  * custom-vocabulary extension surface (/root/reference/vocab.go:19-44; the
  * `uniqueKeys` example at
  * /root/reference/example_vocab_uniquekeys_test.go:14-43 is the model for
  * [[Unique]]). They compile to DataFrame aggregation/join plans rather than
  * row predicates.
  */
trait TableConstraint { def name: String }

/** Open extension point for custom table-level constraint families — the
  * analogue of the reference's `Vocabulary{URL, Schema, Compile}` +
  * `SchemaExt.Validate` surface (/root/reference/vocab.go:19-44). A family
  * registers a compile hook (spec JSON node → constraint); the constraint
  * produces violation rows shaped like every other check.
  */
trait CustomConstraint extends TableConstraint {
  /** Violation rows (keyword, instance_path, detail). */
  def violations(df: org.apache.spark.sql.DataFrame,
                 refTables: Map[String, org.apache.spark.sql.DataFrame])
      : org.apache.spark.sql.DataFrame
}

/** Registry of custom constraint families, keyed by the `#/table/<name>`
  * keyword (mirrors Compiler.RegisterVocabulary,
  * /root/reference/compiler.go:102-114). A family may declare the SHAPE of
  * its own spec fragment — a schema in the engine's spec language, checked
  * before the parse callback runs (the `Vocabulary.Schema` contract,
  * /root/reference/vocab.go:19-35): malformed family specs then fail as
  * typed [[SpecError]]s naming the family instead of opaque callback
  * exceptions.
  */
object ConstraintFamilies {
  final case class Family(
      compile: com.fasterxml.jackson.databind.JsonNode => CustomConstraint,
      shape: Option[SchemaNode])

  @volatile private var registry: Map[String, Family] = Map.empty

  def register(keyword: String,
               compile: com.fasterxml.jackson.databind.JsonNode => CustomConstraint): Unit =
    synchronized { registry = registry + (keyword -> Family(compile, None)) }

  /** Register with a declared spec-shape schema (JSON, spec language). */
  def register(keyword: String, shapeJson: String,
               compile: com.fasterxml.jackson.databind.JsonNode => CustomConstraint): Unit = {
    val shape = SpecShape.parseShape(
      new com.fasterxml.jackson.databind.ObjectMapper().readTree(shapeJson),
      s"family '$keyword' shape")
    synchronized { registry = registry + (keyword -> Family(compile, Some(shape))) }
  }

  def get(keyword: String): Option[Family] = registry.get(keyword)
}

/** No two rows share the same value tuple for `columns`. */
final case class Unique(columns: Vector[String]) extends TableConstraint {
  def name = s"unique(${columns.mkString(",")})"
  /** The keyword path stamped on this constraint's violation rows —
    * ONE definition shared by the violation emitter and the localization
    * index so they can never drift apart.
    */
  def keywordPath = s"table/unique/${columns.mkString(",")}"
}

/** Every non-null key tuple in `columns` must exist in `refColumns` of the
  * reference table (resolved by name through a table registry at run time).
  */
final case class ForeignKey(
    columns: Vector[String],
    refTable: String,
    refColumns: Vector[String],
    broadcastRef: Boolean = true
) extends TableConstraint {
  def name = s"foreignKey(${columns.mkString(",")}->$refTable)"
  def keywordPath = s"table/foreignKey/${columns.mkString(",")}->$refTable"
}

/** Distribution-drift gate on one numeric column vs a pinned reference
  * distribution. `method` is "psi" (fixed-bucket histogram, population
  * stability index) or "ks" (Kolmogorov–Smirnov sup-distance on the ECDF).
  */
final case class Drift(
    column: String,
    method: String, // "psi" | "ks"
    threshold: Double,
    // psi: bucket edges + reference proportions (len(props) == len(edges)+1)
    edges: Vector[Double] = Vector.empty,
    refProportions: Vector[Double] = Vector.empty,
    // ks: reference quantiles at ranks i/(n-1)
    refQuantiles: Vector[Double] = Vector.empty
) extends TableConstraint {
  def name = s"drift($method:$column)"
  def keywordPath = s"table/drift/$method/$column"
}

/** Column-stats collection request (count/nulls/min/max/distinct/quantiles)
  * — not a pass/fail check by itself, but feeds ledger + drift baselines.
  */
final case class Stats(columns: Vector[String]) extends TableConstraint {
  def name = s"stats(${columns.mkString(",")})"
}

/** A parsed constraint spec over one table:
  * per-column row-level schemas, required (non-null) columns, cross-column
  * row rules, and table-level constraints.
  *
  * This is the engine's top-level "query": the analogue of a compiled root
  * schema in the reference (/root/reference/schema.go:11-95), specialised to
  * a relational instance model.
  */
final case class Spec(
    columns: Vector[(String, SchemaNode)],
    required: Vector[String],
    rowRules: Vector[SchemaNode], // schemas over the whole row-as-object
    table: Vector[TableConstraint],
    defs: Map[String, SchemaNode],
    // raw parsed document — kept so $ref can address ANY node by JSON
    // pointer, not just $defs entries (the reference resolves any urlPtr,
    // /root/reference/util.go:221-244)
    raw: Option[JsonNode] = None,
    // $anchor name -> (raw node, spec path) index, built once per document
    // (mirrors the reference's per-resource anchor map,
    // /root/reference/root.go:78-135); $dynamicAnchor names are included
    // here too (2020-12: a dynamic anchor is also a plain anchor)
    anchors: Map[String, (JsonNode, Vector[String])] = Map.empty,
    // $dynamicAnchor name -> (raw node, spec path) — the subset of `anchors`
    // that participates in dynamic-scope resolution
    // (/root/reference/objcompiler.go:318-336)
    dynAnchors: Map[String, (JsonNode, Vector[String])] = Map.empty,
    // EMBEDDED-RESOURCE index: RESOLVED absolute URI (from a nested — or
    // root — `$id` / draft-4 `id`) -> (raw node, spec path, ENCLOSING base
    // the id resolved against) — `$ref: "<uri>"` resolves here before
    // the loader registry (the reference's per-root resource map,
    // /root/reference/root.go:33-76)
    resources: Map[String, (JsonNode, Vector[String], Option[String])] = Map.empty,
    // dialect selected by the root document's $schema (per-resource:
    // external documents carry their own, read at load)
    dialect: Dialect = Dialect.Default,
    // base URL of the ROOT document: its own absolute root $id, else the
    // load URL (fromFile / fromUrl) — RELATIVE $refs in the root document
    // resolve against it (RFC 3986 reference resolution, the reference's
    // base-URI behavior, /root/reference/roots.go:103-150). Documents built
    // from in-memory JSON with no root $id have no base: a relative ref
    // there is a typed error.
    baseUrl: Option[String] = None
) {

  /** Memoized external-document cache: url -> (document, anchors,
    * dynAnchors). Per-Spec (so one compile re-reads each referenced document
    * exactly once — the reference's per-compiler resource cache,
    * /root/reference/roots.go:62-68); loaded through the scheme loader
    * registry. Transient mutable state outside the case-class equality.
    */
  @transient private lazy val extDocs =
    scala.collection.concurrent.TrieMap
      .empty[String, (JsonNode, Map[String, (JsonNode, Vector[String])],
        Map[String, (JsonNode, Vector[String])], Dialect,
        Map[String, (JsonNode, Vector[String], Option[String])])]

  private[graft] def externalDoc(url: String)
      : (JsonNode, Map[String, (JsonNode, Vector[String])],
         Map[String, (JsonNode, Vector[String])], Dialect,
         Map[String, (JsonNode, Vector[String], Option[String])]) =
    extDocs.getOrElseUpdate(url, {
      val d = Spec.documentFromUrl(url)
      val (a, da) = Spec.collectAnchorsDoc(d)
      // per-document dialect from the external document's own $schema —
      // falling back to the compiler-wide default draft (jv -d) when it
      // carries none; STRICTNESS inherits from the root spec, so
      // reference-compat parses stay compat across document boundaries
      val fallback = dialect.defaultDraftUrl.flatMap(Dialect.resolve)
        .getOrElse(Dialect.Default)
      val dx0 = (if (d.isObject) Dialect.ofDocument(d, fallback) else fallback)
      // the external document's base: its own absolute root $id (read under
      // ITS dialect's id spelling — getID, draft.go:165-179), else its load
      // URL — relative nested $ids inside it resolve against this
      val extBase = (if (d.isObject && !(dx0.refVoidsId && d.hasNonNull("$ref")))
        dx0.idKeywords.iterator.flatMap(k => Option(d.get(k)))
          .filter(_.isTextual).map(_.asText().stripSuffix("#"))
          .find(_.matches("^[A-Za-z][A-Za-z0-9+.-]*:.*"))
      else None).getOrElse(url)
      val dx = dx0
        .copy(strict = dialect.strict, baseUri = Some(extBase),
          jvAssertFormat = dialect.jvAssertFormat,
          jvAssertContent = dialect.jvAssertContent,
          defaultDraftUrl = dialect.defaultDraftUrl)
      // the resource index gets the LOAD URL as the document base: the
      // root's own absolute $id is re-derived inside (rootBase) and — when
      // it differs from the URL — indexed as an addressable alias
      (d, a, da, dx, Spec.collectResourcesDoc(d, Some(url), dx))
    })

  /** Dynamic anchors of a document on the compile-time scope chain
    * ("" = the root spec document itself).
    */
  private[graft] def dynAnchorsOf(url: String): Map[String, (JsonNode, Vector[String])] =
    if (url.isEmpty) dynAnchors else externalDoc(url)._3

  private[graft] def dialectOf(url: String): Dialect =
    if (url.isEmpty) dialect else externalDoc(url)._4

  /** Parse the `$dynamicAnchor` target named `name` in document `url`
    * ("" = root). Nodes from external documents are ref-rebased so their
    * relative refs stay addressed to their home document.
    */
  private[graft] def dynAnchorTarget(url: String, name: String): SchemaNode = {
    val (node, path) = dynAnchorsOf(url)(name)
    if (url.isEmpty) SchemaNode.parse(node, path, dialect)
    else SchemaNode.rebase(
      SchemaNode.parse(node, (url + "#") +: path, dialectOf(url)), url)
  }

  private def navigate(doc: JsonNode, ptr: String, ref: String): (JsonNode, Vector[String]) = {
    val segs = Spec.pointerSegments(ptr)
    var cur = doc
    segs.zipWithIndex.foreach { case (seg, i) =>
      val next =
        if (cur.isArray && seg.nonEmpty && seg.forall(_.isDigit))
          // toIntOption: an overflowing digit string is an unresolved
          // element (typed error below), not a raw NumberFormatException
          seg.toIntOption.map(cur.get).orNull
        else if (cur.isObject) cur.get(seg)
        else null
      if (next == null)
        throw SpecError(ref,
          s"unresolved $$ref: no element at '/${segs.take(i + 1).mkString("/")}'")
      cur = next
    }
    (cur, segs)
  }

  /** Resolve a `$ref`: a same-document JSON pointer (`#/<path>`, any node —
    * `#/$defs/<name>`, `#/columns/x/properties/y`, …), a named anchor
    * (`#myAnchor`), or a CROSS-DOCUMENT reference through the scheme loader
    * registry (`<scheme>:<doc>#/<ptr>`, `<scheme>:<doc>#anchor`, or bare
    * `<scheme>:<doc>` for the document root) — the analogue of the
    * reference's remote-ref resolution (/root/reference/roots.go:62-68,
    * 103-150). External documents are loaded once per compile (memoized) and
    * their nodes are ref-REBASED on parse, so a `#/...` ref inside
    * `file://common.json` resolves against common.json, not the root spec.
    *
    * Cycle detection mirrors the reference's compile-time memoization +
    * runtime cycle guard (/root/reference/compiler.go:153-164,
    * validator.go:84-90): the caller pushes each traversed ref string onto
    * `stack`, and any repeat is a cycle. (The row compilers manage their own
    * stack with bounded unrolling for recursive-descent refs and pass Nil
    * here.)
    */
  def resolve(ref: String, stack: List[String]): SchemaNode = {
    if (stack.contains(ref))
      throw SpecError(ref, s"cyclic $$ref chain: ${(ref :: stack).reverse.mkString(" -> ")}")
    if (ref.startsWith("#/")) {
      // fast path: a plain $defs name is already parsed — but only when the
      // raw segment needs no RFC 6901 / percent unescaping ('~0' must look
      // up the def named 'a~b', not 'a~0b')
      val nm = ref.stripPrefix("#/$defs/")
      if (ref.startsWith("#/$defs/") && !nm.contains('/') && !nm.contains('~') &&
          !nm.contains('%') && defs.contains(nm))
        return defs(nm)
      val doc = raw.getOrElse(throw SpecError(ref,
        "only '#/$defs/<name>' references are resolvable on a spec built " +
          "without its raw document"))
      val (cur, segs) = navigate(doc, ref.drop(2), ref)
      SchemaNode.parse(cur, segs, dialect)
    } else if (ref.length > 1 && ref.startsWith("#")) {
      val name = ref.drop(1)
      anchors.get(name) match {
        case Some((node, path)) => SchemaNode.parse(node, path, dialect)
        case None => throw SpecError(ref, s"unresolved $$ref: no $$anchor '$name'")
      }
    } else if (ref.indexOf(':') > 0) {
      // cross-document: split URL / fragment; EMBEDDED resources (nested
      // $id in this or any already-loaded document) resolve before the
      // loader registry, like the reference's resource map
      // (/root/reference/roots.go:62-68 checks loaded roots first)
      val h = ref.indexOf('#')
      val (url, frag) = if (h >= 0) (ref.substring(0, h), ref.substring(h + 1)) else (ref, "")
      embeddedResource(url) match {
        case Some((resNode, resPath, encBase, homeUrl)) =>
          val (tgt, tpath) =
            if (frag.isEmpty) (resNode, resPath)
            else if (frag.startsWith("/")) {
              val (nn, segs) = navigate(resNode, frag.drop(1), ref)
              (nn, resPath ++ segs)
            } else {
              // anchor fragment: anchors live in the HOST document's index;
              // scope to the resource subtree (2020-12: an anchor belongs
              // to its enclosing resource)
              val hostAnchors =
                if (homeUrl.isEmpty) anchors else externalDoc(homeUrl)._2
              hostAnchors.get(frag)
                .filter { case (_, p) => p.startsWith(resPath) }
                .getOrElse(throw SpecError(ref,
                  s"unresolved $$ref: no $$anchor '$frag' in embedded " +
                    s"resource '$url'"))
            }
          // the resource node carries $id, so SchemaNode.parse switches to
          // its own $schema dialect if it declares one. The parse base: the
          // resource's ENCLOSING base when entering at the resource root
          // (so its own relative $id re-resolves to the same URI), the
          // resource URI itself for interior nodes. Refs of the parsed
          // subtree then scope to the RESOURCE (2020-12 bundling
          // semantics); $dynamicRef stays document-scoped.
          val parseBase = if (tgt eq resNode) encBase else Some(url)
          val dial0 = if (homeUrl.isEmpty) dialect else dialectOf(homeUrl)
          val dial = dial0.copy(baseUri = parseBase.orElse(dial0.baseUri))
          val parsed =
            if (homeUrl.isEmpty) SchemaNode.parse(tgt, tpath, dial)
            else SchemaNode.parse(tgt, (homeUrl + "#") +: tpath, dial)
          SchemaNode.rebaseEmbedded(parsed, homeUrl, url)
        case None => resolveLoaded(url, frag, ref)
      }
    } else baseUrl.flatMap(b => Spec.tryResolveUrl(b, ref)) match {
      // RELATIVE reference in the root document: join against the document
      // base (fromFile / fromUrl) and resolve the absolute result — RFC
      // 3986 reference resolution, matching the reference's base-URI
      // behavior (roots.go:103-150)
      case Some(abs) if abs != ref => resolve(abs, stack)
      case _ =>
        throw SpecError(ref,
          "expected '#/<json-pointer>', '#<anchor>', or a cross-document " +
            "'<scheme>:<doc>#<fragment>' reference (a RELATIVE reference " +
            "resolves only when the document has a base — load the spec " +
            "via fromFile/fromUrl)")
    }
  }

  /** Embedded resource named `url`: this document's index first, then any
    * already-loaded external document (deterministic URL order). Returns
    * (node, path, enclosing base the id resolved against, home document
    * URL — "" for the root spec document).
    */
  private def embeddedResource(url: String)
      : Option[(JsonNode, Vector[String], Option[String], String)] =
    resources.get(url).map { case (n, p, b) => (n, p, b, "") }.orElse(
      extDocs.toVector.sortBy(_._1).iterator.flatMap {
        case (docUrl, (_, _, _, _, res)) =>
          res.get(url).map { case (n, p, b) => (n, p, b, docUrl) }
      }.nextOption())

  /** The DOCUMENT a URL belongs to: an embedded-resource URI maps to its
    * home document ("" = the root spec document); anything else is itself a
    * document URL. Keeps the document-granular dynamic-scope chain from
    * routing embedded-resource URIs through the loader.
    */
  private[graft] def homeDocOf(url: String): String =
    embeddedResource(url).map(_._4).getOrElse(url)

  private def resolveLoaded(url: String, frag: String, ref: String): SchemaNode = {
      val (doc, extAnchors, _, extDialect, _) = externalDoc(url)
      val prefix = url + "#"
      val (node, path) =
        if (frag.isEmpty) (doc, Vector(prefix))
        else if (frag.startsWith("/")) {
          val (n, segs) = navigate(doc, frag.drop(1), ref)
          (n, prefix +: segs)
        } else extAnchors.get(frag) match {
          case Some((n, p)) => (n, prefix +: p)
          case None =>
            throw SpecError(ref, s"unresolved $$ref: no $$anchor '$frag' in $url")
        }
      SchemaNode.rebase(SchemaNode.parse(node, path, extDialect), url)
  }
}

object Spec {
  /** Schema-side JSON mapper: fractional numbers parse DIGIT-EXACT
    * (DecimalNode), the analogue of the reference decoding schema documents
    * through json.Number (/root/reference/loader.go:255-266). Without it a
    * >17-significant-digit bound/const/divisor would round to its nearest
    * double at PARSE time — before the exact-rational predicate arms ever
    * see the digits. Integer literals still parse as Int/LongNode, so
    * integral-keyword checks are unaffected.
    */
  private[graft] val jsonMapper = {
    val m = new ObjectMapper()
    m.configure(
      com.fasterxml.jackson.databind.DeserializationFeature.USE_BIG_DECIMAL_FOR_FLOATS,
      true)
    m
  }
  private val mapper = jsonMapper

  private val yamlMapper = {
    val m = new ObjectMapper(
      new com.fasterxml.jackson.dataformat.yaml.YAMLFactory())
    m.configure(
      com.fasterxml.jackson.databind.DeserializationFeature.USE_BIG_DECIMAL_FOR_FLOATS,
      true)
    m
  }

  /** JSON-document read with Go-decoder surrogate parity: lone `\uXXXX`
    * surrogate escapes canonicalize to `�` BEFORE Jackson, so schema
    * string constants carry U+FFFD exactly like the reference's
    * encoding/json decode (a Jackson-kept U+D800 would re-encode as '?' on
    * the way into a Catalyst literal). Instance text gets the same rule via
    * [[graft.functions.SurrogateCanonExpr]] — both sides agree with Go.
    */
  private[graft] def readJsonDoc(json: String): JsonNode =
    mapper.readTree(graft.functions.SurrogateCanon.canonText(json))

  private[graft] def readJsonDocFile(path: String): JsonNode =
    readJsonDoc(new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8))

  def fromJson(json: String): Spec = parse(readJsonDoc(json))

  /** YAML specs — mirrors the reference CLI's YAML loader
    * (/root/reference/cmd/jv/loader.go:50-114).
    */
  def fromYaml(yaml: String): Spec = parse(yamlMapper.readTree(yaml))

  /** Raw-document loaders (no typed parse) — callers that want to run
    * meta-spec validation first ([[MetaSpec.check]]) load the document, gate
    * it, then [[parse]] it.
    */
  def documentFromJson(json: String): JsonNode = readJsonDoc(json)

  def documentFromFile(path: String): JsonNode =
    try {
      if (path.endsWith(".yaml") || path.endsWith(".yml"))
        yamlMapper.readTree(new java.io.File(path))
      else readJsonDocFile(path)
    } catch {
      // unreadable/malformed files keep the typed SpecError contract
      // (CLI exit 2), like the loader registry
      case e: java.io.IOException =>
        throw SpecError(path, s"cannot read spec file: $e")
    }

  def fromFile(path: String): Spec =
    parse(documentFromFile(path), compat = false,
      Some("file://" + new java.io.File(path).getAbsolutePath))

  /** RFC 3986-lite reference resolution: join a relative reference against
    * a hierarchical base URL ("./" and "../" normalized; the fragment rides
    * along). None when the reference is already absolute or the base is
    * opaque (e.g. `inline+json:`) — callers keep the original string and
    * the resolver's lazy typed error then applies (a ref in a pruned dead
    * branch must never fail eagerly). The scheme://authority prefix is
    * split off BEFORE dot-segment normalization so "../" can never pop
    * into (or past) the host; excess leading ".." segments are dropped per
    * RFC 3986 §5.2.4 remove_dot_segments — the behavior of Go's
    * url.ResolveReference, which the reference relies on
    * (/root/reference/util.go:41).
    */
  private[graft] def tryResolveUrl(base: String, rel: String): Option[String] = {
    if (rel.matches("^[A-Za-z][A-Za-z0-9+.-]*:.*")) return None // absolute
    val h = rel.indexOf('#')
    val (relNoFrag, frag) =
      if (h >= 0) (rel.substring(0, h), rel.substring(h)) else (rel, "")
    val baseNoFrag = { val i = base.indexOf('#'); if (i >= 0) base.substring(0, i) else base }
    // same-document reference: keep the base's path AND query (RFC 3986
    // §5.4 "" / "#s" rows)
    if (relNoFrag.isEmpty) return Some(baseNoFrag + frag)
    // Split the base into root (scheme + authority, untouchable) and path.
    // The authority form is recognized only when "://" immediately follows
    // the scheme — an "://" deeper in the string (e.g. a URL embedded in an
    // inline+json: document payload) must not make an opaque base look
    // hierarchical.
    val schemeEnd = baseNoFrag.indexOf(':')
    if (schemeEnd < 0) return None
    val schemeSep =
      if (baseNoFrag.startsWith("://", schemeEnd)) schemeEnd else -1
    // network-path reference "//host/p": new authority under the base's
    // scheme (RFC 3986 §5.4.1 "//g"); only meaningful on a hierarchical base
    if (relNoFrag.startsWith("//")) {
      if (schemeSep < 0) return None
      val pe = relNoFrag.indexWhere(c => c == '/' || c == '?', 2)
      return Some(
        if (pe < 0) baseNoFrag.substring(0, schemeEnd + 1) + relNoFrag + frag
        else {
          val auth = relNoFrag.substring(0, pe)
          val qi = relNoFrag.indexOf('?', pe)
          val (p, q) = if (qi >= 0) (relNoFrag.substring(pe, qi), relNoFrag.substring(qi))
                       else (relNoFrag.substring(pe), "")
          baseNoFrag.substring(0, schemeEnd + 1) + auth +
            (if (p.isEmpty) "" else normalizeDotSegments(p)) + q + frag
        })
    }
    // the reference's query is NOT part of its path: dot-segment
    // normalization must never see it (§5.4.2 "g?y/./x")
    val qi = relNoFrag.indexOf('?')
    val (relPath, relQuery) =
      if (qi >= 0) (relNoFrag.substring(0, qi), relNoFrag.substring(qi))
      else (relNoFrag, "")
    val rootEnd =
      if (schemeSep >= 0) {
        val j = baseNoFrag.indexOf('/', schemeSep + 3)
        if (j < 0) baseNoFrag.length else j
      } else schemeEnd + 1
    val root = baseNoFrag.substring(0, rootEnd)
    // the base's own query is never carried into a path-changing resolution
    val afterRoot = baseNoFrag.substring(rootEnd)
    val bq = afterRoot.indexOf('?')
    val basePath = if (bq >= 0) afterRoot.substring(0, bq) else afterRoot
    if (relPath.isEmpty) // query-only reference: keep the base path (§5.4.1 "?y")
      return Some(root + basePath + relQuery + frag)
    if (relPath.startsWith("/")) // path-absolute: replace the whole path
      return Some(root + normalizeDotSegments(relPath) + relQuery + frag)
    if (basePath.isEmpty && schemeSep >= 0) // authority, empty path: merge at "/"
      return Some(root + normalizeDotSegments("/" + relPath) + relQuery + frag)
    if (!basePath.startsWith("/")) return None // opaque base (no hierarchy)
    val dirEnd = basePath.lastIndexOf('/')
    val joined = basePath.substring(0, dirEnd) + "/" + relPath
    Some(root + normalizeDotSegments(joined) + relQuery + frag)
  }

  /** RFC 3986 §5.2.4 remove_dot_segments over a path that starts with '/':
    * "." and ".." segments resolved in place, excess leading ".." dropped,
    * a trailing "."/".." leaves the directory (trailing slash) semantics.
    */
  private def normalizeDotSegments(path: String): String = {
    val segs = path.split("/", -1)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < segs.length) {
      segs(i) match {
        case "." =>
          if (i == segs.length - 1) out += ""
        case ".." =>
          if (out.size > 1) out.remove(out.size - 1) // out(0) is the "" before the leading '/'
          if (i == segs.length - 1) out += ""
        case s => out += s
      }
      i += 1
    }
    if (out.size < 2) "/" else out.mkString("/")
  }

  /** Scheme → loader registry — the reference's SchemeURLLoader
    * (/root/reference/loader.go:62-100): each loader receives the full URL
    * and returns the parsed document. Built-ins: `file` (json/yaml by
    * extension, like FileLoader loader.go:25-58) and `inline+json` /
    * `inline+yaml` (document embedded in the URL itself). Register e.g. an
    * object-store or config-service loader at startup via [[registerLoader]].
    */
  @volatile private var loaders: Map[String, String => JsonNode] = Map(
    "file" -> { url =>
      val raw = url.stripPrefix("file://").stripPrefix("file:")
      // literal path first (spaces etc. may arrive unencoded); fall back to
      // percent-decoding — the reference's toFileURL percent-encodes file
      // paths and its FileLoader decodes them (loader.go:25-58), so a
      // relative $ref like "sample%20schema.json" must reach the real file.
      // DELIBERATE divergence: the reference ALWAYS percent-decodes, so
      // when both 'a%20b.json' and 'a b.json' exist it loads the decoded
      // one while this loader prefers the literal; the literal-first order
      // is kept because unencoded paths arrive from CLI/driver callers
      // that never percent-encode
      val path =
        if (raw.contains("%") && !new java.io.File(raw).exists()) pctDecodeAll(raw)
        else raw
      if (path.endsWith(".yaml") || path.endsWith(".yml"))
        yamlMapper.readTree(new java.io.File(path))
      else readJsonDocFile(path)
    },
    // inline payloads must percent-encode '#' as %23 (and '%' as %25) per
    // RFC 3986 — a raw '#' would start the URL's fragment. Decoded here.
    "inline+json" -> (s => readJsonDoc(pctDecodeHash(s.stripPrefix("inline+json:")))),
    "inline+yaml" -> (s => yamlMapper.readTree(pctDecodeHash(s.stripPrefix("inline+yaml:")))),
    // OFFICIAL META-SCHEMAS served offline: http(s)://json-schema.org/...
    // resolves from documents bundled on the classpath — the reference's
    // embedded metaschema FS (/root/reference/loader.go:79-100), which is
    // what lets `jv https://json-schema.org/draft/2020-12/schema my.json`
    // lint a schema document with zero egress. Any OTHER http(s) URL stays
    // a typed error (no network in this engine); re-register the scheme via
    // [[registerLoader]] to plug in a real remote loader (the reference's
    // pluggable URLLoader, loader.go:102-115).
    "http" -> (u => loadOfficialMeta(u)),
    "https" -> (u => loadOfficialMeta(u))
  )

  private[graft] def loadOfficialMeta(url: String): JsonNode = {
    val norm = url.stripSuffix("#")
    val rel = norm.stripPrefix("http://json-schema.org/")
      .stripPrefix("https://json-schema.org/")
    if (rel == norm) // prefix didn't match
      throw SpecError(url,
        "remote http(s) loading is disabled (zero-egress engine); only " +
          "official json-schema.org meta-schemas are bundled — " +
          "registerLoader(\"https\", ...) to plug in a remote loader")
    // bare "/schema" is an alias for the latest draft (loader.go:86-88)
    val path = if (rel == "schema") "draft/2020-12/schema" else rel
    val in = getClass.getResourceAsStream(s"/graft/metaschemas/$path")
    if (in == null)
      throw SpecError(url, s"no bundled meta-schema at json-schema.org/$path")
    try mapper.readTree(in) finally in.close()
  }

  /** Single-pass %23/%25 decode for inline document payloads (only the two
    * escapes that MUST be encoded to keep URL fragment syntax unambiguous —
    * full percent-decoding would corrupt literal '%' sequences in JSON).
    */
  private def pctDecodeHash(s: String): String = {
    if (!s.contains('%')) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      if (s.startsWith("%23", i)) { sb.append('#'); i += 3 }
      else if (s.startsWith("%25", i)) { sb.append('%'); i += 3 }
      else { sb.append(s.charAt(i)); i += 1 }
    }
    sb.toString
  }

  def registerLoader(scheme: String, load: String => JsonNode): Unit =
    synchronized { loaders = loaders + (scheme -> load) }

  /** TLS client options for http(s) loaders — the reference jv's
    * `--insecure` / `--cacert` pair threaded into its HTTPLoader transport
    * (/root/reference/cmd/jv/loader.go:17-35). The BUILT-IN http(s)
    * loaders serve only bundled official metaschemas (zero egress) and
    * never open a TLS connection, so these are inert for them; a custom
    * loader registered via [[registerLoader]] should consult
    * [[tlsOptions]] to configure its client, exactly as the reference's
    * loader does. `caCertPem` holds the already-read PEM text (may contain
    * multiple CA certificates); when set it takes precedence over
    * `insecureSkipVerify`, mirroring the reference's if/else-if.
    */
  final case class TlsOptions(insecureSkipVerify: Boolean = false,
                              caCertPem: Option[String] = None)
  @volatile private var tls: TlsOptions = TlsOptions()
  def setTlsOptions(o: TlsOptions): Unit = tls = o
  def tlsOptions: TlsOptions = tls

  def knownSchemes: Set[String] = loaders.keySet

  /** Load a spec document from a scheme URL via the loader registry. */
  def documentFromUrl(url: String): JsonNode = {
    val i = url.indexOf(':')
    if (i <= 0) throw SpecError(url, "spec URL needs a scheme (e.g. file://...)")
    val scheme = url.substring(0, i)
    val loader = loaders.getOrElse(scheme,
      throw SpecError(url,
        s"no loader registered for scheme '$scheme' (registered: ${loaders.keySet.mkString(", ")})"))
    // loader failures (unreadable file, malformed document) keep the typed
    // SpecError contract — the CLI exits 2, not with a raw stack trace
    try loader(url) catch {
      case e: SpecError => throw e
      case scala.util.control.NonFatal(e) =>
        // e.toString keeps the exception class when the message is null (NPE)
        throw SpecError(url, s"loader failed: $e")
    }
  }

  def fromUrl(url: String): Spec =
    parse(documentFromUrl(url), compat = false, Some(url))

  // $schema selects the root dialect; an absolute root $id doubles as the
  // document base (RFC 3986 §5.1). NESTED $id declares an embedded resource:
  // absolute ids index directly, relative ids resolve against the enclosing
  // base (r4c) — an UNRESOLVABLE relative id is a typed error at
  // SchemaNode.parse (accept-and-ignore would silently rebase $refs for
  // schemas written against resolvers that honor it).
  private val topKeywords =
    Set("$defs", "columns", "required", "row", "table", "title", "description",
      "$comment", "$schema", "$id")

  def parse(root: JsonNode): Spec = parse(root, compat = false)

  /** Parse with `compat = true` for REFERENCE-COMPAT keyword semantics:
    * unknown / out-of-dialect keywords inside schema nodes are ignored
    * annotations (JSON Schema's open-keyword model, what the reference does
    * on its own test suite) instead of typed errors. Default stays strict.
    */
  def parse(root: JsonNode, compat: Boolean): Spec = parse(root, compat, None)

  /** The full parse behind the public overloads.
    *  - `loadUrl`: the known retrieval URL, the document base for RELATIVE
    *    `$ref` / relative nested `$id` resolution. The root's own absolute
    *    `$id` takes precedence over it (RFC 3986 §5.1, the reference's
    *    base-URI behavior, /root/reference/roots.go:103-150).
    *  - `jvAssert = Some((assertFormat, assertContent))`: JV-PARITY
    *    ASSERTION mode, the reference CLI's draft-dependent assertion
    *    defaults with the two flags as explicit overrides
    *    (/root/reference/cmd/jv/main.go:28-29, compiler.go:47-66); `None`
    *    keeps engine-native semantics (format/content* always asserted).
    *  - `defaultDraftUrl`: the compiler-wide default draft for documents
    *    lacking `$schema` (the reference's DefaultDraft / jv -d,
    *    /root/reference/compiler.go:30-36), applied per external document
    *    in [[Spec.externalDoc]] and to this root when it carries no
    *    `$schema`.
    */
  private[graft] def parse(root: JsonNode, compat: Boolean,
                           loadUrl: Option[String],
                           jvAssert: Option[(Boolean, Boolean)] = None,
                           defaultDraftUrl: Option[String] = None): Spec = {
    if (!root.isObject) throw SpecError("#", "spec root must be an object")
    root.fieldNames().asScala.foreach { k =>
      if (!topKeywords.contains(k)) throw SpecError("#", s"unknown top-level keyword '$k'")
    }
    val rootFallback = defaultDraftUrl.flatMap(Dialect.resolve)
      .getOrElse(Dialect.Default)
    val dialect0 = Dialect.ofDocument(root, rootFallback).copy(
      jvAssertFormat = jvAssert.map(_._1),
      jvAssertContent = jvAssert.map(_._2),
      defaultDraftUrl = defaultDraftUrl)
    val base: Option[String] =
      Option(root.get("$id")).filter(_.isTextual).map(_.asText().stripSuffix("#"))
        .filter(_.matches("^[A-Za-z][A-Za-z0-9+.-]*:\\S*$"))
        .orElse(loadUrl)
    val dialect =
      (if (compat) dialect0.compat else dialect0).copy(baseUri = base)

    val defs = Option(root.get("$defs")).map { d =>
      if (!d.isObject) throw SpecError("#/$defs", "expected object")
      d.fieldNames().asScala.map { k =>
        k -> SchemaNode.parse(d.get(k), Vector("$defs", k), dialect)
      }.toMap
    }.getOrElse(Map.empty[String, SchemaNode])

    val columns = Option(root.get("columns")).map { c =>
      if (!c.isObject) throw SpecError("#/columns", "expected object")
      c.fieldNames().asScala.toVector.map { k =>
        k -> SchemaNode.parse(c.get(k), Vector("columns", k), dialect)
      }
    }.getOrElse(Vector.empty)

    val required = Option(root.get("required")).map { r =>
      if (!r.isArray) throw SpecError("#/required", "expected array of column names")
      r.asScala.map { e =>
        if (!e.isTextual) throw SpecError("#/required", s"expected string, got $e")
        e.asText()
      }.toVector
    }.getOrElse(Vector.empty)

    val rowRules = Option(root.get("row")).map { r =>
      if (!r.isArray) throw SpecError("#/row", "expected array of schemas")
      r.asScala.zipWithIndex.map { case (s, i) =>
        SchemaNode.parse(s, Vector("row", i.toString), dialect)
      }.toVector
    }.getOrElse(Vector.empty)

    val table = Option(root.get("table")).map(parseTable).getOrElse(Vector.empty)

    val (anchors, dynAnchors) = collectAnchorsDoc(root)
    Spec(columns, required, rowRules, table, defs,
      raw = Some(root), anchors = anchors, dynAnchors = dynAnchors,
      resources = collectResourcesDoc(root, base, dialect), dialect = dialect,
      baseUrl = base)
  }

  /** Full UTF-8 `%XX` percent-decode (multi-byte sequences re-assembled;
    * malformed escapes stay literal). Shared by JSON-pointer segment
    * unescaping and the file loader's encoded-path fallback — the
    * reference's url.PathUnescape analogues (util.go:221-244,
    * loader.go:25-58).
    */
  private[spec] def pctDecodeAll(s: String): String = {
    if (!s.contains('%')) return s
    val sb = new StringBuilder
    val bytes = new java.io.ByteArrayOutputStream
    var i = 0
    def flush(): Unit = if (bytes.size() > 0) {
      sb.append(new String(bytes.toByteArray, java.nio.charset.StandardCharsets.UTF_8))
      bytes.reset()
    }
    // strict [0-9A-Fa-f] only: Integer.parseInt would also accept '+x'/'-x'
    // and Unicode digits, which RFC 3986 (and the reference's
    // url.PathUnescape) reject — those escapes must stay literal
    def hexVal(c: Char): Int =
      if (c >= '0' && c <= '9') c - '0'
      else if (c >= 'a' && c <= 'f') c - 'a' + 10
      else if (c >= 'A' && c <= 'F') c - 'A' + 10
      else -1
    while (i < s.length) {
      val c = s.charAt(i)
      val hi = if (c == '%' && i + 2 < s.length) hexVal(s.charAt(i + 1)) else -1
      val lo = if (hi >= 0) hexVal(s.charAt(i + 2)) else -1
      if (lo >= 0) { bytes.write(hi * 16 + lo); i += 3 }
      else { flush(); sb.append(c); i += 1 }
    }
    flush()
    sb.toString
  }

  /** Split an RFC 6901 JSON pointer into unescaped segments: `~1` → `/`,
    * `~0` → `~`, plus `%XX` percent-decoding since a `$ref` fragment is URI
    * syntax (the reference decodes both, /root/reference/util.go:221-244).
    */
  private[spec] def pointerSegments(ptr: String): Vector[String] =
    ptr.split("/", -1).toVector.map { seg =>
      pctDecodeAll(seg).replace("~1", "/").replace("~0", "~")
    }

  /** Keyword-position map: which keywords hold schemas, and in what shape —
    * the analogue of the reference's subschema position registry
    * (/root/reference/root.go:78-135). Shared by the anchor collector and
    * the meta-spec node walker: keys of `properties`/`patternProperties`/
    * `dependentSchemas`/`$defs` maps and values of `const`/`enum`/`default`
    * are DATA, never schema positions.
    */
  private[spec] val singleSchemaKw = Seq("items", "contains", "propertyNames",
    "not", "if", "then", "else", "contentSchema", "json",
    "additionalProperties", "unevaluatedProperties", "unevaluatedItems",
    "additionalItems")
  // "items" appears in BOTH lists: 2020-12 single-schema form and the
  // draft≤2019 tuple (array) form — each walker guard is type-checked
  private[spec] val arraySchemaKw = Seq("prefixItems", "allOf", "anyOf", "oneOf",
    "items")
  // "dependencies" values: schemas walk, draft-7 string arrays are data.
  // "$defs" / draft≤7 "definitions" are navigation-only containers (2020-12
  // allows them in any schema; refs address entries by raw pointer) — their
  // entries are schema positions for anchor collection and meta-validation.
  private[spec] val mapSchemaKw = Seq("properties", "patternProperties",
    "dependentSchemas", "dependencies", "$defs", "definitions")

  /** Schema-node walk from an arbitrary starting node. */
  private[spec] def walkFrom(start: JsonNode, startPath: Vector[String])
      (f: (JsonNode, Vector[String]) => Unit): Unit = {
    def walk(n: JsonNode, path: Vector[String]): Unit = {
      f(n, path)
      if (!n.isObject) return // boolean schemas have no children
      singleSchemaKw.foreach { k =>
        val c = n.get(k)
        if (c != null && (c.isObject || c.isBoolean)) walk(c, path :+ k)
      }
      arraySchemaKw.foreach { k =>
        val c = n.get(k)
        if (c != null && c.isArray) c.asScala.zipWithIndex.foreach { case (e, i) =>
          if (e.isObject || e.isBoolean) walk(e, path :+ k :+ i.toString)
        }
      }
      mapSchemaKw.foreach { k =>
        val c = n.get(k)
        if (c != null && c.isObject) c.fieldNames().asScala.foreach { fn =>
          val e = c.get(fn)
          if (e.isObject || e.isBoolean) walk(e, path :+ k :+ fn)
        }
      }
    }
    walk(start, startPath)
  }

  /** Visit every schema node of a TABLE-SPEC document with its location
    * path: entries of `$defs`/`columns` and elements of `row`.
    */
  private[spec] def walkSchemaNodes(root: JsonNode)
      (f: (JsonNode, Vector[String]) => Unit): Unit = {
    if (root.isObject) {
      Seq("$defs", "columns").foreach { k =>
        Option(root.get(k)).filter(_.isObject).foreach { m =>
          m.fieldNames().asScala.foreach { fn =>
            val e = m.get(fn)
            if (e.isObject || e.isBoolean) walkFrom(e, Vector(k, fn))(f)
          }
        }
      }
      Option(root.get("row")).filter(_.isArray).foreach(_.asScala.zipWithIndex
        .foreach { case (e, i) =>
          if (e.isObject || e.isBoolean) walkFrom(e, Vector("row", i.toString))(f)
        })
    }
  }

  /** Walk a DOCUMENT that may be either a table spec (has `columns`/`row`)
    * or a bare schema-library document (root is itself a schema, possibly
    * with `$defs`) — the two shapes a cross-document `$ref` can target.
    */
  private[spec] def walkDoc(root: JsonNode)
      (f: (JsonNode, Vector[String]) => Unit): Unit =
    if (root.isObject && (root.has("columns") || root.has("row")))
      walkSchemaNodes(root)(f)
    else if (root.isObject || root.isBoolean)
      walkFrom(root, Vector.empty)(f)

  private val anchorName = "^[A-Za-z_][A-Za-z0-9._-]*$".r

  /** Index every `$anchor` and `$dynamicAnchor` at a SCHEMA position of a
    * document (name → node + path); duplicate or malformed anchor names are
    * typed spec errors, as in the reference's resource loader
    * (/root/reference/root.go:96-120). Anchors appearing as data (a property
    * name, an enum value) are never collected. Returns (all anchors,
    * dynamic-only anchors): per 2020-12 a `$dynamicAnchor` is also a plain
    * anchor, so it lands in both maps.
    */
  private[spec] def collectAnchorsDoc(root: JsonNode)
      : (Map[String, (JsonNode, Vector[String])],
         Map[String, (JsonNode, Vector[String])]) = {
    val out = scala.collection.mutable.Map.empty[String, (JsonNode, Vector[String])]
    val dyn = scala.collection.mutable.Map.empty[String, (JsonNode, Vector[String])]
    walkDoc(root) { (n, path) =>
      if (n.isObject) {
        Seq("$anchor", "$dynamicAnchor").foreach { kw =>
          Option(n.get(kw)).foreach { a =>
            val at = if (path.isEmpty) "#" else "#/" + path.mkString("/")
            if (!a.isTextual || anchorName.findFirstIn(a.asText()).isEmpty)
              throw SpecError(s"$at/$kw", s"invalid anchor name $a")
            val name = a.asText()
            if (out.contains(name))
              throw SpecError(s"$at/$kw", s"duplicate anchor '$name'")
            out(name) = (n, path)
            if (kw == "$dynamicAnchor") dyn(name) = (n, path)
          }
        }
        // 2019-09 `$recursiveAnchor: true` at the DOCUMENT ROOT indexes as
        // the reserved dynamic anchor (resource-root recursion); elsewhere
        // it is an accepted no-op (resolution only considers resource roots)
        if (path.isEmpty &&
            Option(n.get("$recursiveAnchor")).exists(a => a.isBoolean && a.asBoolean())) {
          out(SchemaNode.RecursiveAnchorName) = (n, path)
          dyn(SchemaNode.RecursiveAnchorName) = (n, path)
        }
      }
    }
    (out.toMap, dyn.toMap)
  }

  /** Index every EMBEDDED RESOURCE of a document: a schema-position node
    * whose `$id` (or draft-4 `id`) is an absolute URI, keyed by that URI
    * (trailing '#' stripped) — the reference's per-root resource map
    * (/root/reference/root.go:33-76). Duplicate resource URIs are typed
    * errors. Anchors inside embedded resources stay in the DOCUMENT-wide
    * anchor map (documented approximation: per 2020-12 they are scoped to
    * their resource; a duplicate name across resources in one document is
    * rejected rather than shadowed).
    */
  private[spec] def collectResourcesDoc(root: JsonNode,
                                        docBase: Option[String] = None,
                                        rootDialect: Dialect = Dialect.Default)
      : Map[String, (JsonNode, Vector[String], Option[String])] = {
    val absUri = "^[A-Za-z][A-Za-z0-9+.-]*:".r
    // pass 0: nested official-$schema DIALECT SWITCH points — honored iff
    // the node carries the DECLARED draft's id spelling (the reference's
    // rule, /root/reference/roots.go:107-113); the governing dialect of any
    // node is then its nearest switching ancestor (itself included), else
    // the root dialect. Only the governing draft's id spelling indexes a
    // resource (getID, draft.go:165-179) — a 2020-12 document carrying an
    // `id` annotation member must NOT become addressable.
    val switchAt = scala.collection.mutable.Map.empty[Vector[String], Dialect]
    walkDoc(root) { (n, path) =>
      if (n.isObject && path.nonEmpty)
        Option(n.get("$schema")).filter(_.isTextual)
          .flatMap(u => Dialect.resolve(u.asText()))
          .filter(_.hasIdOn(n))
          .foreach(d => switchAt(path) = d)
    }
    def governingAt(path: Vector[String]): Dialect =
      if (switchAt.isEmpty) rootDialect
      else switchAt.keysIterator
        .filter(p => p.length <= path.length && path.startsWith(p))
        .maxByOption(_.length).map(switchAt).getOrElse(rootDialect)
    // pass 1: every schema-position node carrying a GOVERNING-draft id, in
    // document order. The DOCUMENT ROOT is included too (when it declares
    // an id): its resolved URI must be $ref-addressable without a loader
    // round-trip — external documents whose root $id differs from their
    // load URL rebase their inner refs onto that $id.
    val found = Vector.newBuilder[(JsonNode, Vector[String], String, String)]
    walkDoc(root) { (n, path) =>
      if (n.isObject) {
        val d = governingAt(path)
        if (!(d.refVoidsId && n.hasNonNull("$ref")))
          d.idKeywords.foreach { kw =>
            Option(n.get(kw)).filter(_.isTextual).map(_.asText()).foreach { u =>
              found += ((n, path, kw, u))
            }
          }
      }
    }
    // base of the whole document: its own absolute root $id, else the load
    // URL (RFC 3986 §5.1)
    val rootBase: Option[String] =
      (if (root.isObject)
        rootDialect.idKeywords.iterator.flatMap(k => Option(root.get(k)))
          .filter(_.isTextual).map(_.asText().stripSuffix("#"))
          .find(absUri.findFirstIn(_).isDefined)
      else None).orElse(docBase)
    // pass 2 (shallowest first): RELATIVE ids resolve against the nearest
    // enclosing resource's resolved URI, else the document base — the
    // reference's hierarchical base-URI resolution
    // (/root/reference/roots.go:103-150). An id that resolves to an absolute
    // URI is addressable by $ref; an UNRESOLVABLE relative id (no base /
    // opaque base) keeps a non-addressable raw-text key so duplicate
    // detection still fires (the typed rejection for such ids lives in
    // SchemaNode.parse). Stored alongside: the ENCLOSING base the id
    // resolved against, so a later parse entering at the resource root
    // re-resolves its own id to the same URI.
    val out = scala.collection.mutable.Map
      .empty[String, (JsonNode, Vector[String], Option[String])]
    val resolvedAt = scala.collection.mutable.Map.empty[Vector[String], String]
    found.result().sortBy(_._2.length).foreach { case (n, path, kw, u) =>
      val at = if (path.isEmpty) "#" else "#/" + path.mkString("/")
      val enclosing: Option[String] =
        if (path.isEmpty) docBase
        else resolvedAt.keysIterator
          .filter(p => p.length < path.length && path.startsWith(p))
          .maxByOption(_.length).map(resolvedAt)
          .orElse(rootBase)
      val abs: Option[String] =
        if (absUri.findFirstIn(u).isDefined) Some(u.stripSuffix("#"))
        else if (u.isEmpty || u.startsWith("#") || u.exists(_.isWhitespace)) None
        else enclosing.flatMap(b => tryResolveUrl(b, u)).map(_.stripSuffix("#"))
      // the document root under its LOAD URL needs no index entry (it is
      // already addressed by that URL through the loader)
      if (!(path.isEmpty && abs == docBase)) {
        val key = abs.getOrElse("~relative~" + u.stripSuffix("#"))
        if (out.contains(key))
          throw SpecError(s"$at/$kw",
            s"duplicate resource id '${abs.getOrElse(u.stripSuffix("#"))}'")
        out(key) = (n, path, enclosing)
      }
      abs.foreach(a => resolvedAt(path) = a)
    }
    out.toMap
  }

  private def parseTable(t: JsonNode): Vector[TableConstraint] = {
    if (!t.isObject) throw SpecError("#/table", "expected object")
    val known = Set("unique", "foreignKey", "drift", "stats")
    val out = Vector.newBuilder[TableConstraint]
    t.fieldNames().asScala.foreach { k =>
      if (!known.contains(k)) ConstraintFamilies.get(k) match {
        case Some(fam) =>
          // shape gate before the parse callback (vocab.go:19-35 analogue)
          fam.shape.foreach { sh =>
            val vs = SpecShape.violations(t.get(k), sh, s"#/table/$k")
            if (vs.nonEmpty)
              throw SpecError(s"#/table/$k",
                s"constraint family '$k': spec shape invalid — ${vs.head}" +
                  (if (vs.size > 1) s" (+${vs.size - 1} more)" else ""))
          }
          out += fam.compile(t.get(k))
        case None => throw SpecError("#/table", s"unknown table constraint '$k'")
      }
    }
    Option(t.get("unique")).foreach { u =>
      if (!u.isArray) throw SpecError("#/table/unique", "expected array")
      u.asScala.foreach { e =>
        val cols =
          if (e.isTextual) Vector(e.asText())
          else if (e.isArray) e.asScala.map(_.asText()).toVector
          else throw SpecError("#/table/unique", "expected column name or array of names")
        out += Unique(cols)
      }
    }
    Option(t.get("foreignKey")).foreach { fks =>
      if (!fks.isArray) throw SpecError("#/table/foreignKey", "expected array")
      fks.asScala.zipWithIndex.foreach { case (fk, i) =>
        val at = s"#/table/foreignKey/$i"
        def strs(k: String): Vector[String] = Option(fk.get(k)) match {
          case Some(v) if v.isTextual => Vector(v.asText())
          case Some(v) if v.isArray   => v.asScala.map(_.asText()).toVector
          case _ => throw SpecError(s"$at/$k", "expected column name(s)")
        }
        val refT = Option(fk.get("refTable")).filter(_.isTextual)
          .getOrElse(throw SpecError(s"$at/refTable", "expected string")).asText()
        out += ForeignKey(
          strs("columns"), refT, strs("refColumns"),
          broadcastRef = Option(fk.get("broadcast")).forall(_.asBoolean(true)))
      }
    }
    Option(t.get("drift")).foreach { ds =>
      if (!ds.isArray) throw SpecError("#/table/drift", "expected array")
      ds.asScala.zipWithIndex.foreach { case (d, i) =>
        val at = s"#/table/drift/$i"
        def dbls(k: String): Vector[Double] = Option(d.get(k)).map { v =>
          if (!v.isArray) throw SpecError(s"$at/$k", "expected array of numbers")
          v.asScala.map(_.asDouble()).toVector
        }.getOrElse(Vector.empty)
        val method = Option(d.get("method")).map(_.asText())
          .getOrElse(throw SpecError(at, "missing 'method'"))
        if (method != "psi" && method != "ks")
          throw SpecError(s"$at/method", s"unknown drift method '$method'")
        val col = Option(d.get("column")).map(_.asText())
          .getOrElse(throw SpecError(at, "missing 'column'"))
        val thr = Option(d.get("threshold")).map(_.asDouble())
          .getOrElse(throw SpecError(at, "missing 'threshold'"))
        val dr = Drift(col, method, thr,
          edges = dbls("edges"), refProportions = dbls("refProportions"),
          refQuantiles = dbls("refQuantiles"))
        if (method == "psi" && (dr.edges.isEmpty || dr.refProportions.size != dr.edges.size + 1))
          throw SpecError(at, "psi drift needs edges[n] and refProportions[n+1]")
        if (method == "ks" && dr.refQuantiles.size < 2)
          throw SpecError(at, "ks drift needs refQuantiles (>=2 points)")
        out += dr
      }
    }
    Option(t.get("stats")).foreach { s =>
      if (!s.isArray) throw SpecError("#/table/stats", "expected array of column names")
      out += Stats(s.asScala.map(_.asText()).toVector)
    }
    out.result()
  }
}
