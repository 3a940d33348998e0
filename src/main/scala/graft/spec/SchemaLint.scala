package graft.spec

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import graft.compile.{CompiledSuite, SuiteCompiler}
import graft.exec.Validator
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

import scala.jdk.CollectionConverters._

/** OFFICIAL-METASCHEMA validation of bare JSON Schema documents — the
  * engine's analogue of the reference compiling the bundled metaschemas and
  * validating every schema against its dialect's meta before use
  * (/root/reference/draft.go:127-135, roots.go:240-248), and of
  * `jv https://json-schema.org/draft/2020-12/schema my-schema.json`.
  *
  * The official metas are RECURSIVE (every subschema position re-enters the
  * meta root via `$dynamicRef`/`$recursiveRef`/`$ref: "#"`), which a
  * compile-time-inlining engine cannot unroll — K≈40 re-entrant positions
  * explode to K^depth expansions (caught by [[graft.compile.CompileLimits
  * .maxCompileNodes]]). Instead this module reuses the [[MetaSpec]]
  * resource-walker architecture (the reference's root.go:78-135): the meta
  * is FLATTENED into a single self-contained depth-1 node schema whose
  * recursive positions are CUT to `{"type": ["object","boolean"]}`, and a
  * walker enumerates every subschema node of the validated document (the
  * reference's per-draft `subschemas` position lists, draft.go:26-110) as
  * its own row. Every node is then validated by the engine's dynamic JSON
  * compiler against the flat meta, and nothing recurses. One document is
  * evaluated on the driver ([[graft.exec.Validator.localViolations]]: the
  * meta-suite bound once, no Spark job per document); a catalog of a
  * million stored schemas is one DataFrame pass over the same compiled
  * expressions.
  *
  * Format assertions are ON here (the reference compiles its built-in metas
  * with AssertFormat, draft.go:127-130), so `$id: "not a uri"` fails
  * `format: uri-reference` exactly like the reference; content* stays off.
  */
object SchemaLint {

  private val mapper = new ObjectMapper()

  /** Official ROOT meta-schema URL → draft version (http/https, optional
    * trailing '#'; bare `/schema` = latest, loader.go:86-88). Single source
    * of truth: [[Dialect.fromUrl]]'s recognition table.
    */
  def draftVersion(url: String): Option[Int] =
    if (url.replaceFirst("^http://", "https://").stripSuffix("#") ==
        "https://json-schema.org/schema") Some(2020)
    else Dialect.fromUrl(url).map(_.name match {
      case "2020-12"  => 2020
      case "2019-09"  => 2019
      case "draft-07" => 7
      case "draft-06" => 6
      case "draft-04" => 4
      case other => // a new official dialect must be wired here explicitly,
        // never silently misrouted to another draft's meta
        throw SpecError(url, s"no lint meta wired for dialect '$other'")
    })

  // ---------------------------------------------------------------- walker

  /** Subschema positions per draft — the reference's draft.subschemas
    * (/root/reference/draft.go:26-110). maps: object-valued keywords whose
    * VALUES are schemas; singles: keywords whose value IS a schema; arrays:
    * keywords whose value is an ARRAY of schemas.
    */
  private[graft] final case class Walk(maps: Vector[String],
                                       singles: Vector[String],
                                       arrays: Vector[String])

  private def walkOf(version: Int): Walk = {
    var m = Vector("definitions", "properties", "patternProperties",
      "dependencies")
    var s = Vector("not", "additionalProperties", "items")
    var a = Vector("allOf", "anyOf", "oneOf", "items")
    // additionalItems left 2020-12: the 2020 meta does not constrain it (no
    // vocabulary defines it — it is an unconstrained unknown keyword there,
    // which the reference's meta-validation accepts), so walking it would
    // flag documents the reference passes
    if (version < 2020) s :+= "additionalItems"
    if (version >= 6) s ++= Vector("propertyNames", "contains")
    if (version >= 7) s ++= Vector("if", "then", "else")
    if (version >= 2019) {
      m ++= Vector("$defs", "dependentSchemas")
      s ++= Vector("unevaluatedProperties", "unevaluatedItems",
        "contentSchema")
    }
    if (version >= 2020) a :+= "prefixItems"
    Walk(m, s, a)
  }

  private def esc(seg: String): String =
    seg.replace("~", "~0").replace("/", "~1")

  /** Whether a node carries a usable identifier under draft `dv` — the
    * reference's getID (/root/reference/draft.go:165-179): the declared
    * draft's spelling, a STRING value, non-empty after stripping any
    * fragment; for draft<2019 a `$ref` sibling voids the id entirely.
    */
  private def hasDraftId(n: JsonNode, dv: Int): Boolean = {
    if (dv < 2019 && n.has("$ref")) return false
    val id = n.get(if (dv == 4) "id" else "$id")
    id != null && id.isTextual && id.asText().takeWhile(_ != '#').nonEmpty
  }

  /** Enumerate every schema node of a document (root included) with its
    * JSON-pointer location and GOVERNING DRAFT. Children that are neither
    * object nor boolean are NOT emitted — the parent's meta-check flags
    * them (the cut asserts nested positions are object|boolean), same
    * convention as [[MetaSpec]]. An embedded resource (a node carrying
    * `$id`/draft-4 `id`) with its own OFFICIAL `$schema` switches the draft
    * for itself and its subtree — the reference's per-resource dialect
    * selection in meta-validation (/root/reference/roots.go:103-150), so a
    * draft-4 resource inside a 2020-12 document lints against the draft-4
    * meta (boolean `exclusiveMinimum` legal inside, not outside).
    */
  def nodes(doc: JsonNode, version: Int,
            pinned: Boolean = false,
            customs: Map[String, Int] = Map.empty,
            customWalks: Map[Int, Walk] = Map.empty)
      : Vector[(String, Int, JsonNode)] = {
    val out = Vector.newBuilder[(String, Int, JsonNode)]
    // the only custom meta a document can route through is its root's: an
    // embedded resource declaring another one is skipped, whatever other
    // documents `customs` was resolved for, so a document lints the same
    // alone and in any catalog
    val ownCustoms = Option(doc.get("$schema")).filter(_.isTextual)
      .map(_.asText().stripSuffix("#")).flatMap(u => customs.get(u).map(u -> _)).toMap
    def emit(path: String, v0: Int, n: JsonNode): Unit = {
      // nested `$schema` is honored IFF the node carries the DECLARED
      // draft's identifier keyword (`id` for declared draft-4, `$id`
      // otherwise) — otherwise the $schema is IGNORED and the node stays in
      // the enclosing dialect (the reference's exact rule, roots.go:107-113;
      // Extra-Test-Suite mixed-dialects.json[0] is a draft-4 `id` resource
      // inside a 2020-12 document). The document ROOT always honors its
      // $schema. A node whose honored $schema is a CUSTOM (non-official)
      // meta is outside this gate's scope — its own meta governs its shape
      // (a no-applicator meta legalizes `allOf: [1]`) — so it and its
      // subtree are skipped, like the CLI gate skipping custom-meta
      // documents. `pinned` (the asserted-homogeneous catalog path)
      // disables both the switch and the skip.
      val declared = if (n.isObject && !pinned)
        Option(n.get("$schema")).filter(_.isTextual).map(_.asText()) else None
      val v = declared match {
        case Some(u) => draftVersion(u) match {
          case Some(dv) =>
            if (path == "#" || hasDraftId(n, dv)) dv
            else v0 // $schema ignored: no declared-draft identifier
          case None =>
            // custom meta: honored only on resource-shaped nodes (the
            // declared draft's id spelling is unknowable without loading
            // the meta — accept either, with getID's string/fragment rules)
            if (path == "#" || hasDraftId(n, 4) || hasDraftId(n, 2020))
              ownCustoms.get(u.stripSuffix("#")) match {
                case Some(code) if code == badMetaCode =>
                  // loadable meta with an unsupported must-understand
                  // vocabulary: a synthetic row the catalog arms turn into
                  // a violation / false verdict — never silently valid
                  out += ((path, badMetaCode,
                    mapper.getNodeFactory.textNode(u)))
                  return
                case Some(code) =>
                  // RESOLVED custom meta: the subtree lints against the
                  // composed vocabulary meta (a no-$vocabulary custom meta
                  // resolves to its base draft's official version —
                  // the reference's dialect.getSchema with vocabs == nil,
                  // /root/reference/draft.go:266-270)
                  code
                case None =>
                  return // unresolvable meta: out of the gate's scope
              }
            else v0 // ignored annotation
        }
        case None => v0
      }
      out += ((path, v, n))
      if (n.isObject) descend(path, v, n)
    }
    def child(path: String, v: Int, n: JsonNode): Unit =
      if (n.isObject || n.isBoolean) emit(path, v, n)
    def descend(path: String, version: Int, n: JsonNode): Unit = {
      // custom codes carry their own vocabulary-gated position list
      val w = customWalks.getOrElse(version, walkOf(version))
      w.maps.foreach { k =>
        val v = n.get(k)
        if (v != null && v.isObject)
          v.fieldNames().asScala.foreach(f =>
            child(s"$path/${esc(k)}/${esc(f)}", version, v.get(f)))
      }
      w.singles.foreach { k =>
        val v = n.get(k)
        // array-form items is handled by the arrays arm
        if (v != null && !v.isArray) child(s"$path/${esc(k)}", version, v)
      }
      w.arrays.foreach { k =>
        val v = n.get(k)
        if (v != null && v.isArray)
          (0 until v.size()).foreach(i =>
            child(s"$path/${esc(k)}/$i", version, v.get(i)))
      }
    }
    if (doc.isObject || doc.isBoolean) emit("#", version, doc)
    out.result()
  }

  // ------------------------------------------------- meta flatten + cut

  /** Replace the meta's self-recursion markers with the node-level cut:
    * `{"$dynamicRef": "#meta"}`, `{"$recursiveRef": "#"}` and
    * `{"$ref": "#"}` (each an exact single-field object in the official
    * documents) become `{"type": ["object","boolean"]}` — nested nodes
    * appear as their own rows, so nothing is left unchecked. Draft-4 has no
    * boolean schemas, so its cut is `{"type": "object"}`. Cross-vocabulary
    * pointer refs (`meta/validation#/$defs/stringArray`) rebase onto the
    * merged `#/$defs/` namespace (names are disjoint across the official
    * vocabulary documents).
    */
  private def cutRewrite(n: JsonNode, version: Int): JsonNode = n match {
    case o: ObjectNode =>
      val isCut = o.size() == 1 && {
        val r = Option(o.get("$dynamicRef")).orElse(Option(o.get("$recursiveRef")))
          .orElse(Option(o.get("$ref"))).filter(_.isTextual).map(_.asText())
        r.contains("#meta") || r.contains("#")
      }
      if (isCut) {
        val cut = mapper.createObjectNode()
        if (version >= 6) {
          val ts = mapper.createArrayNode(); ts.add("object"); ts.add("boolean")
          cut.set[JsonNode]("type", ts)
        } else cut.put("type", "object")
        cut
      } else {
        val c = mapper.createObjectNode()
        o.fieldNames().asScala.foreach { f =>
          val v = o.get(f)
          if (f == "$ref" && v.isTextual && v.asText().contains("#/$defs/") &&
              !v.asText().startsWith("#"))
            c.put("$ref", "#" + v.asText().dropWhile(_ != '#').drop(1))
          else c.set[JsonNode](f, cutRewrite(v, version))
        }
        c
      }
    case a: ArrayNode =>
      val c = mapper.createArrayNode()
      (0 until a.size()).foreach(i => c.add(cutRewrite(a.get(i), version)))
      c
    case other => other
  }

  private val stripTop = Set("$schema", "$id", "id", "$vocabulary",
    "$dynamicAnchor", "$recursiveAnchor", "title", "description", "$comment",
    "default")

  /** The flattened, recursion-cut, SELF-CONTAINED node meta for a draft:
    * for 2019-09/2020-12 the root document's `allOf` vocabulary refs are
    * resolved and their `properties`/`$defs` merged into one document (the
    * official vocabulary metas keep both namespaces disjoint); draft≤7 is a
    * single document already. The result references only its own
    * `#/$defs/...` / `#/definitions/...`.
    */
  private[graft] def combinedNodeMeta(version: Int): JsonNode = {
    def load(path: String): JsonNode =
      Spec.loadOfficialMeta("https://json-schema.org/" + path)
    if (version <= 7) {
      val doc = cutRewrite(load(s"draft-0$version/schema"), version)
        .asInstanceOf[ObjectNode]
      stripTop.foreach(doc.remove)
      doc
    } else {
      val base = s"draft/${if (version == 2019) "2019-09" else "2020-12"}"
      val root = load(s"$base/schema").asInstanceOf[ObjectNode]
      val combined = mapper.createObjectNode()
      val ts = mapper.createArrayNode(); ts.add("object"); ts.add("boolean")
      combined.set[JsonNode]("type", ts)
      val props = mapper.createObjectNode()
      val defs = mapper.createObjectNode()
      def mergeDoc(doc: JsonNode): Unit = {
        val cut = cutRewrite(doc, version)
        Option(cut.get("properties")).filter(_.isObject).foreach { p =>
          p.fieldNames().asScala.foreach(f => props.set[JsonNode](f, p.get(f)))
        }
        Option(cut.get("$defs")).filter(_.isObject).foreach { d =>
          d.fieldNames().asScala.foreach(f => defs.set[JsonNode](f, d.get(f)))
        }
      }
      Option(root.get("allOf")).filter(_.isArray).foreach { entries =>
        (0 until entries.size()).foreach { i =>
          val r = Option(entries.get(i).get("$ref")).filter(_.isTextual)
            .map(_.asText())
            .getOrElse(throw SpecError("#/allOf", "official meta root allOf entry without $ref"))
          mergeDoc(load(s"$base/$r")) // relative "meta/<vocab>"
        }
      }
      mergeDoc(root) // root's own deprecated-keyword properties
      combined.set[JsonNode]("properties", props)
      combined.set[JsonNode]("$defs", defs)
      combined
    }
  }

  // ---------------------------------------------------- custom meta-schemas

  /** Synthetic row tag for documents whose meta-schema loaded but requires
    * an unsupported must-understand vocabulary — the catalog arms turn it
    * into a violation / false verdict instead of a job-killing error (and
    * instead of silent validity).
    */
  private[graft] val badMetaCode = -1

  private val CUSTOM_BASE = 10000
  private val customCodes =
    new java.util.concurrent.atomic.AtomicInteger(CUSTOM_BASE)
  // normalized meta URL → routing code: an official draft version (custom
  // meta WITHOUT $vocabulary — the reference validates against the base
  // draft's own meta then, draft.go:266-270) or a CUSTOM_BASE+ code whose
  // composed vocabulary suite/walk live in the two maps below
  private val customMetaCache =
    scala.collection.concurrent.TrieMap.empty[String, Option[Int]]
  private val customWalks =
    scala.collection.concurrent.TrieMap.empty[Int, Walk]
  private val customSuites =
    scala.collection.concurrent.TrieMap.empty[Int, (CompiledSuite, String)]

  /** Loaders are swappable in tests; cleared with [[Dialect.clearMetaCache]]. */
  private[graft] def clearCustomMetas(): Unit = {
    customMetaCache.clear(); customWalks.clear(); customSuites.clear()
  }

  private def baseVersionOf(dialectName: String): Int =
    if (dialectName.startsWith("2020-12")) 2020
    else if (dialectName.startsWith("2019-09")) 2019
    else if (dialectName.startsWith("draft-07")) 7
    else if (dialectName.startsWith("draft-06")) 6
    else if (dialectName.startsWith("draft-04")) 4
    else 2020 // no official ancestor on the meta chain → latest draft (the
              // reference compiler's DefaultDraft)

  private def officialVocabNames(version: Int): Set[String] =
    if (version >= 2020)
      Set("core", "applicator", "unevaluated", "validation", "meta-data",
        "format-annotation", "format-assertion", "content")
    else Set("core", "applicator", "validation", "meta-data", "format",
      "content")

  /** Subschema positions defined by the ACTIVE vocabularies — a custom
    * meta that drops the applicator vocabulary stops `allOf`/`properties`
    * values from being schemas, so the walker must not descend into them
    * (they are unconstrained unknown-keyword values there). Keywords of no
    * 2019+ vocabulary (`definitions`, draft≤7 `dependencies`) are dropped
    * under vocabulary gating.
    */
  private def gatedWalk(version: Int, active: Set[String]): Walk = {
    val byKw: Map[String, String] = {
      val applicator = Vector("properties", "patternProperties",
        "dependentSchemas", "not", "additionalProperties", "items",
        "propertyNames", "contains", "if", "then", "else",
        "allOf", "anyOf", "oneOf") ++
        (if (version >= 2020) Vector("prefixItems")
         else Vector("additionalItems", "unevaluatedProperties",
           "unevaluatedItems"))
      val uneval =
        if (version >= 2020) Vector("unevaluatedProperties", "unevaluatedItems")
        else Vector.empty
      (applicator.map(_ -> "applicator") ++ uneval.map(_ -> "unevaluated") ++
        Vector("$defs" -> "core", "contentSchema" -> "content")).toMap
    }
    val w = walkOf(version)
    def keep(k: String) = byKw.get(k).exists(active)
    Walk(w.maps.filter(keep), w.singles.filter(keep), w.arrays.filter(keep))
  }

  /** Rewrite a custom vocabulary arm's local `#/$defs/K` refs to the
    * prefixed names its hoisted defs were merged under.
    */
  private def prefixLocalDefs(n: JsonNode, prefix: String): JsonNode = n match {
    case o: ObjectNode =>
      val c = mapper.createObjectNode()
      o.fieldNames().asScala.foreach { f =>
        val v = o.get(f)
        if (f == "$ref" && v.isTextual && v.asText().startsWith("#/$defs/"))
          c.put("$ref", "#/$defs/" + prefix + v.asText().stripPrefix("#/$defs/"))
        else c.set[JsonNode](f, prefixLocalDefs(v, prefix))
      }
      c
    case a: ArrayNode =>
      val c = mapper.createArrayNode()
      (0 until a.size()).foreach(i => c.add(prefixLocalDefs(a.get(i), prefix)))
      c
    case other => other
  }

  /** The composed flat node meta for a `$vocabulary`-bearing custom meta:
    * the reference's dialect.getSchema (/root/reference/draft.go:266-305) —
    * an allOf of the ACTIVE vocabularies' schemas (required-`true` entries
    * plus core; `false` entries do NOT constrain), flattened and
    * recursion-cut like the official path. Official vocab documents merge
    * into one properties/$defs namespace (names disjoint); registered
    * custom vocabulary schemas become self-contained allOf arms with their
    * defs hoisted under a collision-proof prefix.
    */
  private def composeVocabMeta(version: Int, names: Vector[String],
                               customArms: Vector[JsonNode],
                               atUrl: String): JsonNode = {
    val base = s"draft/${if (version == 2019) "2019-09" else "2020-12"}"
    val combined = mapper.createObjectNode()
    val ts = mapper.createArrayNode(); ts.add("object"); ts.add("boolean")
    combined.set[JsonNode]("type", ts)
    val props = mapper.createObjectNode()
    val defs = mapper.createObjectNode()
    names.foreach { nm =>
      if (!officialVocabNames(version).contains(nm))
        throw SpecError(atUrl,
          s"meta-schema requires unsupported vocabulary " +
            s"'https://json-schema.org/$base/vocab/$nm'")
      val cut = cutRewrite(
        Spec.loadOfficialMeta(s"https://json-schema.org/$base/meta/$nm"),
        version)
      Option(cut.get("properties")).filter(_.isObject).foreach { p =>
        p.fieldNames().asScala.foreach(f => props.set[JsonNode](f, p.get(f)))
      }
      Option(cut.get("$defs")).filter(_.isObject).foreach { d =>
        d.fieldNames().asScala.foreach(f => defs.set[JsonNode](f, d.get(f)))
      }
    }
    val arms = mapper.createArrayNode()
    customArms.zipWithIndex.foreach { case (arm0, i) =>
      val prefix = s"v${i}_"
      val cut = prefixLocalDefs(cutRewrite(arm0, version), prefix)
        .asInstanceOf[ObjectNode]
      Option(cut.get("$defs")).filter(_.isObject).foreach { d =>
        d.fieldNames().asScala.foreach(f =>
          defs.set[JsonNode](prefix + f, d.get(f)))
      }
      stripTop.foreach(cut.remove); cut.remove("$defs")
      arms.add(cut)
    }
    combined.set[JsonNode]("properties", props)
    combined.set[JsonNode]("$defs", defs)
    if (arms.size() > 0) combined.set[JsonNode]("allOf", arms)
    combined
  }

  /** Resolve a CUSTOM (non-official) meta-schema URL to a routing code:
    * Some(official version) when the meta has no `$vocabulary` (its base
    * draft's official meta governs — draft.go:266-270), Some(custom code)
    * when vocabulary-composed, None when the meta is unreachable through
    * the loader registry (the document stays out of the gate's scope).
    * THROWS [[SpecError]] for a must-understand vocabulary that is neither
    * official nor registered ([[Dialect.registerVocabularySchema]]), and
    * for meta-chain cycles — the reference's UnsupportedVocabularyError /
    * MetaSchemaCycleError.
    */
  private[graft] def resolveCustomMeta(url0: String): Option[Int] = {
    val url = url0.stripSuffix("#")
    customMetaCache.getOrElseUpdate(url, {
      Dialect.resolve(url).flatMap { d =>
        val version = baseVersionOf(d.name)
        val doc =
          try Some(Spec.documentFromUrl(url)) catch { case _: SpecError => None }
        doc.filter(_.isObject).flatMap { o =>
          val vocab = Option(o.get("$vocabulary")).filter(_.isObject)
          if (vocab.isEmpty || version < 2019) Some(version)
          else {
            val fields = vocab.get.fieldNames().asScala.toVector
              .map(k => k -> vocab.get.get(k))
            val reqd = fields.collect {
              case (uri, r) if r.isBoolean && r.asBoolean() =>
                uri.stripSuffix("#")
            }
            val pre = s"https://json-schema.org/draft/${
              if (version == 2019) "2019-09" else "2020-12"}/vocab/"
            val names = (reqd.collect {
              case u if u.startsWith(pre) => u.stripPrefix(pre)
            } :+ "core").distinct
            val customArms = reqd.filterNot(_.startsWith(pre)).map { u =>
              Dialect.registeredVocabSchema(u).getOrElse(throw SpecError(url,
                s"meta-schema requires unsupported vocabulary '$u'"))
            }
            val flat = composeVocabMeta(version, names, customArms, url)
            val code = customCodes.getAndIncrement()
            customWalks.put(code, gatedWalk(version, names.toSet))
            customSuites.put(code, compileNodeMeta(flat))
            Some(code)
          }
        }
      }
    })
  }

  private def walksFor(customs: Map[String, Int]): Map[Int, Walk] =
    customs.values.filter(_ >= CUSTOM_BASE).toVector.distinct
      .map(c => c -> customWalks(c)).toMap

  // ------------------------------------------------------- compiled suites

  /** Input shape: one row per (document, node pointer); `v` = the node's
    * governing draft version (per-resource `$schema` switches honored).
    */
  val inputSchema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("v", org.apache.spark.sql.types.IntegerType, nullable = false),
    StructField("node", StringType, nullable = true)))

  private val suiteCache =
    scala.collection.concurrent.TrieMap.empty[Int, (CompiledSuite, String)]

  private def inlineUrl(json: String): String =
    "inline+json:" + json.replace("%", "%25").replace("#", "%23")

  /** Flat node-meta suite (+ its inline document URL, for stripping
    * reported keyword paths), compiled once per JVM. Parsed in
    * reference-compat mode with format assertions ON and content* OFF —
    * exactly how the reference compiles its built-in metas
    * (draft.go:127-130; content has no assertion there either).
    */
  private def compileNodeMeta(flatDoc: JsonNode): (CompiledSuite, String) = {
    val url = inlineUrl(flatDoc.toString)
    val wrapper = mapper.readTree(
      s"""{"columns":{"node":{"json":{"$$ref":${
        mapper.writeValueAsString(url)}}}}}""")
    (SuiteCompiler.compile(
      Spec.parse(wrapper, compat = true, None, jvAssert = Some((true, false))),
      inputSchema), url)
  }

  /** Suite for a routing code: an official draft version (compiled on
    * first use) or a composed custom-meta code registered by
    * [[resolveCustomMeta]].
    */
  private def suiteForCode(code: Int): (CompiledSuite, String) =
    if (code >= CUSTOM_BASE)
      customSuites.getOrElse(code, throw SpecError(s"code $code",
        "custom-meta suite not registered — resolveCustomMeta must run first"))
    else suiteCache.getOrElseUpdate(code, compileNodeMeta(combinedNodeMeta(code)))

  /** Report coordinates relative to the META document and the LINTED
    * document: keyword paths lose the internal inline-document URL and the
    * wrapper column ('#/properties/type/anyOf'), instance paths lose the
    * wrapper column root (remaining suffix = location INSIDE the node; the
    * node's own pointer is the `path` column). The catalog arm's columns
    * and the driver path's rows ([[normalizedRow]]) take the same regexes.
    */
  private def normalized(vios: DataFrame, metaUrl: String): DataFrame = {
    import org.apache.spark.sql.functions._
    vios.withColumn("keyword", regexp_replace(regexp_replace(col("keyword"),
        urlPattern(metaUrl), "#"), wrapperKeyword, "#"))
      .withColumn("instance_path",
        regexp_replace(col("instance_path"), wrapperInstance, ""))
  }

  private def normalizedRow(r: Row, metaUrl: String): LintViolation =
    LintViolation(r.getString(0), r.getString(1)
        .replaceAll(urlPattern(metaUrl), "#").replaceAll(wrapperKeyword, "#"),
      r.getString(2).replaceAll(wrapperInstance, ""), r.getString(3))

  private def urlPattern(metaUrl: String) = java.util.regex.Pattern.quote(metaUrl + "#")
  private val (wrapperKeyword, wrapperInstance) = ("^columns/node/json", "^node!json")

  // --------------------------------------------------------------- running

  /** Walk invocations (per document), so PlanShapeSpec can pin the
    * one-walk-per-document catalog contract (local mode shares the JVM).
    */
  private[graft] val enumCalls = new java.util.concurrent.atomic.AtomicLong

  /** Per-document node enumeration: (path, governing draft, node text) rows,
    * on the driver for one document and on executors for the catalog arms
    * (small-document imperative logic, validation stays compiled).
    * Malformed JSON yields one root row whose node text fails the engine's
    * parse check like any other violation.
    */
  def enumerateRows(json: String, version: Int,
                    pinned: Boolean = false,
                    customs: Map[String, Int] = Map.empty,
                    customWalks: Map[Int, Walk] = Map.empty)
      : Seq[(String, Int, String)] = {
    enumCalls.incrementAndGet()
    // only the PARSE is caught (malformed JSON → raw root row → the
    // engine's parse check flags it); a walker exception on a well-formed
    // document is a BUG and must surface, not read as "invalid document".
    // Jackson's default depth limit bounds the walker's recursion.
    val doc =
      // surrogate canon ahead of the walk — emitted node texts must carry
      // U+FFFD for lone surrogate escapes like every other schema decode
      try mapper.readTree(graft.functions.SurrogateCanon.canonText(json))
      catch {
        case _: java.io.IOException => return Seq(("#", version, json))
      }
    val ns = nodes(doc, version, pinned, customs, customWalks)
      .map { case (p, v, n) => (p, v, n.toString) }
    // a non-object/boolean ROOT yields no walked nodes — emit the raw
    // document as the root row so the meta's `type: object|boolean`
    // check flags it (absence must never read as validity). A custom-meta
    // root legitimately has nothing to check (out of the gate's scope):
    // a vacuous `true` node keeps the document present in per-document
    // aggregations.
    if (ns.nonEmpty) ns
    else if (doc.isObject || doc.isBoolean) Seq(("#", version, "true"))
    else Seq(("#", version, json))
  }

  /** All draft versions a node row can carry. */
  private val allVersions = Vector(4, 6, 7, 2019, 2020)

  /** Driver-side discovery of custom (non-official) root `$schema` URLs in
    * a catalog: one cheap distinct projection, bounded loudly at 200
    * distinct URLs. Each URL resolves through the loader registry once —
    * unreachable metas stay out of the gate's scope (their documents keep
    * the vacuous-valid root row, as before); a loadable meta with an
    * unsupported must-understand vocabulary (or a meta-chain cycle) maps
    * to [[badMetaCode]], so ITS documents fail loudly without killing the
    * catalog job. Only ROOT-level `$schema` is discovered, and [[nodes]]
    * routes a document through its own root's meta alone; an embedded
    * resource declaring another custom meta keeps the skip semantics.
    */
  private def discoverCustomMetas(schemas: DataFrame,
                                  schemaCol: String): Map[String, Int] = {
    import org.apache.spark.sql.functions._
    val rows = schemas
      .select(get_json_object(col(schemaCol), "$['$schema']").as("u"))
      .filter(col("u").isNotNull).distinct().limit(201).collect()
    if (rows.length > 200)
      throw SpecError("catalog",
        "more than 200 distinct $schema URLs — refusing unbounded " +
          "custom-meta resolution")
    rows.iterator.map(_.getString(0))
      .filter(u => u != null && draftVersion(u).isEmpty)
      .flatMap { u =>
        val key = u.stripSuffix("#")
        try resolveCustomMeta(u).map(key -> _)
        catch { case _: SpecError => Some(key -> badMetaCode) }
      }.toMap
  }

  /** Violation rows for [[badMetaCode]]-tagged documents (node column
    * carries the offending meta URL as a JSON string literal).
    */
  private def badMetaViolations(exploded: DataFrame,
                                keyCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    exploded.filter(col("v") === badMetaCode)
      .select(keyCols.map(col) ++ Seq(
        lit("#/$schema").as("keyword"),
        lit("").as("instance_path"),
        concat(lit("meta-schema "), col("node"),
          lit(" requires an unsupported vocabulary or has a cyclic " +
            "meta-chain")).as("detail")): _*)
  }

  /** The catalog arms' shared front: every document's node rows (idCol,
    * `path` when `withPath`, governing draft code `v`, node text), the draft
    * codes present among them, and whether some document names a meta with
    * an unsupported vocabulary. Runs two driver actions: custom-meta
    * discovery and the [[pruneToPresent]] distinct.
    */
  private def catalogNodes(schemas: DataFrame, idCol: String, schemaCol: String,
                           metaUrl: String, perResourceDialects: Boolean,
                           withPath: Boolean): (DataFrame, Vector[Int], Boolean) = {
    val version = draftVersion(metaUrl).getOrElse(throw SpecError(metaUrl,
      "not an official json-schema.org meta-schema URL"))
    import org.apache.spark.sql.functions._
    // custom metas declared at document roots resolve ONCE driver-side
    // (composed vocabulary suites, walk gating); the walker routes their
    // subtrees by code
    val customs =
      if (perResourceDialects) discoverCustomMetas(schemas, schemaCol)
      else Map.empty[String, Int]
    val cWalks = walksFor(customs)
    val enum0 = udf((json: String) =>
      if (json == null) Seq.empty[(String, Int, String)]
      else enumerateRows(json, version, pinned = !perResourceDialects,
        customs, cWalks))
    val exploded0 = schemas
      .select(col(idCol), explode(enum0(col(schemaCol))).as("__n"))
      .select(Seq(col(idCol)) ++ (if (withPath) Seq(col("__n._1").as("path")) else Nil) ++
        Seq(col("__n._2").as("v"), col("__n._3").as("node")): _*)
    // rows route to their GOVERNING draft's suite (per-resource $schema
    // switches): a homogeneous catalog leaves the other branches empty —
    // the filters keep each branch shuffle-free and AQE collapses empty
    // ones. perResourceDialects = false asserts a homogeneous catalog: one
    // branch, one suite compile — the scale path when the dialect is known.
    val versions = (if (perResourceDialects) allVersions
                    else Vector(version)) ++
      customs.values.filter(_ >= CUSTOM_BASE).toVector.distinct
    // ONE walk per document: with multiple draft branches the exploded
    // node frame is persisted, so every branch scans the same in-memory
    // blocks instead of re-running the parse+walk UDF once per draft
    // (PlanShapeSpec pins the invocation count). The returned frame is
    // lazy, so the blocks outlive this call: a plain MEMORY_AND_DISK cache
    // entry that the caller frees with spark.catalog.clearCache()
    val exploded =
      if (versions.size > 1) exploded0.persist(MEMORY_AND_DISK) else exploded0
    (exploded, pruneToPresent(exploded, versions, version),
      customs.valuesIterator.contains(badMetaCode))
  }

  /** Lint a CATALOG of schema documents — one DataFrame pass:
    * (idCol, schemaCol:string) in, (idCol, path, keyword, instance_path,
    * detail) violation rows out. `metaUrl` is the DEFAULT draft for
    * documents without their own official `$schema`; per-resource dialect
    * switches inside documents are honored automatically. Runs driver
    * actions at call time: custom-meta discovery and the distinct of the
    * draft codes present (see [[pruneToPresent]]).
    *
    * Cache contract: when more than one draft branch is planned, the node
    * frame is a plain `persist(MEMORY_AND_DISK)` SQL cache entry that backs
    * the returned lazy frame. No lint frees another's: the caller frees it
    * with `spark.catalog.clearCache()` once done with the result.
    */
  def violationsForCatalog(schemas: DataFrame, idCol: String,
                           schemaCol: String, metaUrl: String,
                           perResourceDialects: Boolean = true): DataFrame = {
    import org.apache.spark.sql.functions.col
    val (exploded, kept, badMeta) = catalogNodes(schemas, idCol, schemaCol,
      metaUrl, perResourceDialects, withPath = true)
    // per-draft branches, unioned, coordinates normalized
    val main = kept.map { ver =>
      val (suite, metaDocUrl) = suiteForCode(ver)
      normalized(Validator.violations(exploded.filter(col("v") === ver), suite,
        Seq(idCol, "path")), metaDocUrl)
    }.reduce(_ unionByName _)
    if (badMeta) main.unionByName(badMetaViolations(exploded, Seq(idCol, "path")))
    else main
  }

  /** Prune the per-draft branch list to the versions PRESENT in the node
    * frame: one cheap distinct over the (persisted, slim) node rows replaces
    * building a full meta-suite branch — a large compiled expression tree to
    * plan and codegen — for EVERY known draft when the catalog only spans
    * one or two. Row-set equivalence is trivial: a pruned branch's
    * `filter(v === ver)` selects zero rows, so it contributed nothing to the
    * union. `fallback` keeps the reduce non-empty (and the output schema
    * well-defined) for an empty catalog. With more than one branch the node
    * frame is persisted, so the probe never re-runs the parse+walk UDF.
    *
    * EAGERNESS: the probe materializes the (persisted) node frame at call
    * time — acceptable for catalog linting, whose caller always executes
    * the full result.
    */
  private def pruneToPresent(exploded: DataFrame, versions: Vector[Int],
                             fallback: Int): Vector[Int] = {
    import org.apache.spark.sql.functions.col
    if (versions.size <= 1) versions
    else {
      val present = exploded.select(col("v")).distinct()
        .collect().map(_.getInt(0)).toSet
      val kept = versions.filter(present)
      if (kept.isEmpty) Vector(fallback) else kept
    }
  }

  /** Per-DOCUMENT verdicts for a catalog — (idCol, valid:boolean), one row
    * per input document. The scale shape: node rows annotate in place and
    * fold with a map-side-partial boolean-AND aggregation (one hash-agg
    * shuffle on idCol); no join, no distinct. Custom-meta documents read
    * valid (out of the gate's scope). Runs driver actions at call time:
    * custom-meta discovery and the distinct of the draft codes present
    * (see [[pruneToPresent]]). Caches as [[violationsForCatalog]] does: the
    * caller frees the node frame with `spark.catalog.clearCache()`.
    */
  def verdictsForCatalog(schemas: DataFrame, idCol: String,
                         schemaCol: String, metaUrl: String,
                         perResourceDialects: Boolean = true): DataFrame = {
    import org.apache.spark.sql.functions._
    val (exploded, kept, badMeta) = catalogNodes(schemas, idCol, schemaCol,
      metaUrl, perResourceDialects, withPath = false)
    val branches = kept.map { ver =>
      Validator.annotate(exploded.filter(col("v") === ver),
          suiteForCode(ver)._1)
        .select(col(idCol), col("valid"))
    } ++ (if (badMeta)
            Seq(exploded.filter(col("v") === badMetaCode)
              .select(col(idCol), lit(false).as("valid")))
          else Nil)
    branches.reduce(_ unionByName _)
      .groupBy(col(idCol)).agg(min(col("valid")).as("valid"))
  }

  /** One meta-violation: node pointer in the schema document, meta keyword
    * path, instance path INSIDE the node (usually empty — most meta checks
    * anchor at the node itself), human detail.
    */
  final case class LintViolation(path: String, keyword: String,
                                 instancePath: String, detail: String)

  /** Lint one document on the driver: each governing draft's meta-suite
    * evaluated over that draft's node rows, coordinates normalized.
    */
  private def lintDocument(spark: SparkSession, schemaJson: String,
                           metaUrl: String): Seq[LintViolation] = {
    val version = draftVersion(metaUrl).getOrElse(throw SpecError(metaUrl,
      "not an official json-schema.org meta-schema URL"))
    // a CUSTOM root $schema resolves driver-side: composed vocabulary
    // suite, or the base draft's official meta when the custom meta has no
    // $vocabulary; an unsupported must-understand vocabulary THROWS the
    // typed SpecError here (the reference jv exits 2). Unreachable metas
    // keep the document out of the gate's scope, as before.
    val customs = (try Option(Spec.readJsonDoc(schemaJson))
                   catch { case _: java.io.IOException => None })
      .filter(_.isObject)
      .flatMap(o => Option(o.get("$schema")).filter(_.isTextual)
        .map(_.asText()))
      .filter(u => draftVersion(u).isEmpty)
      .flatMap(u => resolveCustomMeta(u).map(u.stripSuffix("#") -> _))
      .toMap
    val enumerated =
      enumerateRows(schemaJson, version, customs = customs,
        customWalks = walksFor(customs))
    // versions present are known driver-side: only those suites run
    enumerated.map(_._2).distinct.flatMap { ver =>
      val (suite, metaDocUrl) = suiteForCode(ver)
      val rows = enumerated.collect { case (p, v, n) if v == ver => Row(p, v, n) }
      Validator.localViolations(spark, suite, inputSchema, rows, Seq("path"))
        .map(normalizedRow(_, metaDocUrl))
    }
  }

  /** Raw violation frame (local) for one document: (path, keyword,
    * instance_path, detail) — instance_path is the location INSIDE the node.
    */
  def violationsRaw(spark: SparkSession, schemaJson: String,
                    metaUrl: String): DataFrame =
    spark.createDataFrame(lintDocument(spark, schemaJson, metaUrl).map(Row.fromTuple).asJava,
      Validator.violationsSchema(inputSchema, Seq("path")))

  /** Same, shaped for the standard output renderers: the node pointer and
    * the within-node suffix fused into one instance path
    * (`#/properties/a` + `/x` → `#/properties/a/x`).
    */
  def violationsFrame(spark: SparkSession, schemaJson: String,
                      metaUrl: String): DataFrame = {
    import org.apache.spark.sql.functions._
    violationsRaw(spark, schemaJson, metaUrl)
      .select(col("keyword"),
        // strip the '#' pointer root so locations read '/properties/a'
        // ('' = document root), the reference's instanceLocation shape
        concat(regexp_replace(col("path"), "^#", ""), col("instance_path"))
          .as("instance_path"),
        col("detail"))
  }

  /** Lint one schema document. Empty = valid under the draft's meta. */
  def violations(spark: SparkSession, schemaJson: String,
                 metaUrl: String): Vector[LintViolation] =
    lintDocument(spark, schemaJson, metaUrl).toVector.sortBy(v => (v.path, v.keyword))
}
