package jsonld.core

import Json._
import JsonLdUtils._
import scala.collection.mutable

/** A term definition in the active context (JSON-LD 1.1 API §4.2).
  * Instances are immutable once installed — context copies share them.
  */
final class TermDefinition extends Serializable {
  var id: String = ""                 // IRI mapping ("" = unset, mirrors lexical null)
  var reverse: Boolean = false
  var typeMapping: String = ""        // "" = unset
  var language: String = null         // valid iff hasLanguage
  var hasLanguage: Boolean = false
  var direction: String = null        // valid iff hasDirection
  var hasDirection: Boolean = false
  var container: List[String] = Nil
  var scopedContext: Any = null
  var hasContext: Boolean = false
  var nest: String = ""
  var prefix: java.lang.Boolean = null // tri-state like the spec's "prefix flag"
  var index: String = ""
  var prot: Boolean = false
  var termHasColon: Boolean = false

  def prefixFlag: Boolean = prefix != null && prefix.booleanValue()
  def hasContainer(c: String): Boolean = container.contains(c)

  def sameAs(o: TermDefinition): Boolean =
    id == o.id && reverse == o.reverse && typeMapping == o.typeMapping &&
      hasContext == o.hasContext && nest == o.nest && index == o.index &&
      prot == o.prot && container == o.container &&
      hasDirection == o.hasDirection && direction == o.direction &&
      hasLanguage == o.hasLanguage && language == o.language &&
      Json.deepCompare(scopedContext, o.scopedContext, unordered = true)
}

/** Active context: term definitions + base/vocab/language/direction state.
  * Behavior-parity target: JSON-LD 1.1 API §4.1 Context Processing (quirks
  * verified against /root/reference/ld/context.go:202-1105).
  */
final class Context(val options: JsonLdOptions) extends Serializable {
  var base: String = if (options != null) options.base else ""
  var vocab: String = null
  var language: String = ""
  var hasLanguage: Boolean = false
  var direction: String = ""
  var processingMode: String = if (options != null) options.processingMode else ""
  var version: Any = null // set when a context declares @version
  var terms: mutable.HashMap[String, TermDefinition] = mutable.HashMap.empty
  var protectedTerms: mutable.HashSet[String] = mutable.HashSet.empty
  var previousContext: Context = null
  // createTermDefinition validation depth guard (spec: "validate scoped
  // context" — a validation parse does not validate nested scoped
  // contexts, which terminates circular scoped-context chains)
  var noValidateScoped: Boolean = false
  // built lazily by Compaction.getInverse; never copied (regenerated)
  @transient var inverseCtx: mutable.HashMap[String, Any] = null
  @transient var fastCurie: mutable.HashMap[String, Any] = null
  // set while a remote context is processed for the memo in parseWith, and
  // carried by every context derived from it there: records whether the
  // processing read the active base, which makes its result specific to
  // the document that loaded it
  @transient private var baseReads: Context.BaseReads = null

  /** The active base, noted as read when processing is being watched. */
  private def activeBase: String = {
    if (baseReads != null) baseReads.seen = true
    base
  }

  def isMode11: Boolean = processingMode >= JsonLdOptions.JsonLd11
  def isMode10: Boolean = !isMode11

  def copyContext(): Context = {
    val c = new Context(options)
    c.base = base; c.vocab = vocab; c.language = language
    c.hasLanguage = hasLanguage; c.direction = direction
    c.processingMode = processingMode
    c.version = version
    c.noValidateScoped = noValidateScoped
    c.baseReads = baseReads
    c.terms = terms.clone()
    c.protectedTerms = protectedTerms.clone()
    if (previousContext != null) c.previousContext = previousContext.copyContext()
    c
  }

  def revertToPreviousContext(): Context =
    if (previousContext == null) this else previousContext.copyContext()

  def getTermDefinition(term: String): TermDefinition = terms.getOrElse(term, null)

  /** No definitions or defaults of its own: what processing a remote
    * context against this context yields depends only on its base, its
    * processing mode and its options.
    */
  private def isInitial: Boolean =
    terms.isEmpty && protectedTerms.isEmpty && vocab == null && !hasLanguage &&
      language == "" && direction == "" && version == null && previousContext == null &&
      !noValidateScoped && baseReads == null

  /** A fresh context with this context's options and base and the
    * definitions and defaults of `processed`, a memoized remote context.
    */
  private def withTermsOf(processed: Context): Context = {
    val c = new Context(options)
    c.base = base
    c.vocab = processed.vocab; c.language = processed.language
    c.hasLanguage = processed.hasLanguage; c.direction = processed.direction
    c.processingMode = processed.processingMode
    c.version = processed.version
    c.terms = processed.terms.clone()
    c.protectedTerms = processed.protectedTerms.clone()
    c
  }

  /** Processes `remoteCtx`, the `@context` of `rd`, against this initial
    * context, reusing the result memoized on `rd`. The processed context
    * depends only on the document and the key when it never read the base;
    * this context's base and options are laid over it.
    */
  private def parseRemoteMemoized(rd: RemoteDocument, remoteCtx: Any, remoteContexts: List[String],
                                  overrideProtected: Boolean): Context = {
    val key = (processingMode, overrideProtected)
    val memo = rd.processedContexts
    val cached = memo.get(key)
    if (cached != null) return withTermsOf(cached)
    val reads = new Context.BaseReads
    val watched = copyContext()
    watched.baseReads = reads
    val processed = watched.parseWith(remoteCtx, remoteContexts, parsingRemote = true,
      propagate0 = true, protectedFlag = false, overrideProtected = overrideProtected)
    var c = processed
    while (c != null) { c.baseReads = null; c = c.previousContext }
    if (reads.seen || processed.previousContext != null) processed
    else {
      memo.putIfAbsent(key, processed)
      withTermsOf(processed)
    }
  }

  // ---------------------------------------------------------------- parse

  def parse(localContext: Any): Context =
    parseWith(localContext, List.empty, parsingRemote = false, propagate0 = true,
      protectedFlag = false, overrideProtected = false)

  def parseWith(localContext: Any, remoteContexts0: List[String], parsingRemote: Boolean,
            propagate0: Boolean, protectedFlag: Boolean, overrideProtected: Boolean): Context = {
    // a literal null local context must be processed as one null element
    // (context nullification), not as an empty list
    val contexts = if (localContext == null) Json.arr(null: Any) else arrayify(localContext)
    if (contexts.isEmpty) return this
    var remoteContexts = remoteContexts0
    var propagate = propagate0

    contexts.head match {
      case m: JObj @unchecked =>
        m.get("@propagate") match {
          case Some(b: java.lang.Boolean) => propagate = b.booleanValue()
          case _ =>
        }
      case _ =>
    }

    var result = this.copyContext()
    if (!propagate && result.previousContext == null) result.previousContext = this

    contexts.foreach { rawCtx =>
      var contextMap: JObj = null
      rawCtx match {
        case null =>
          if (!overrideProtected && result.protectedTerms.nonEmpty)
            throw JsonLdError(JsonLdError.InvalidContextNullification,
              "tried to nullify a context with protected terms")
          // the base resets to the option's, not the active one
          if (result.baseReads != null) result.baseReads.seen = true
          val nullCtx = new Context(options)
          nullCtx.baseReads = result.baseReads
          if (!propagate) nullCtx.previousContext = result
          result = nullCtx

        case s: String =>
          val uri = Uri.resolve(result.activeBase, s)
          val memoizable = remoteContexts.isEmpty && result.isInitial
          if (remoteContexts.contains(uri))
            throw JsonLdError(JsonLdError.RecursiveContextInclusion, uri)
          remoteContexts = remoteContexts :+ uri
          val rd =
            try options.documentLoader.loadDocument(uri)
            catch {
              case e: JsonLdError if e.code == JsonLdError.RecursiveContextInclusion => throw e
              case e: Exception =>
                throw JsonLdError(JsonLdError.LoadingRemoteContextFailed, s"$uri: ${e.getMessage}")
            }
          val remoteCtx = rd.document match {
            case m: JObj @unchecked if m.contains("@context") => m("@context")
            case _ => throw JsonLdError(JsonLdError.InvalidRemoteContext, uri)
          }
          result =
            if (memoizable) result.parseRemoteMemoized(rd, remoteCtx, remoteContexts, overrideProtected)
            else result.parseWith(remoteCtx, remoteContexts, parsingRemote = true,
              propagate0 = true, protectedFlag = false, overrideProtected = overrideProtected)

        case m: JObj @unchecked =>
          contextMap = m
          // dereference nested @context key if present
          m.get("@context") match {
            case Some(nested: JObj @unchecked) => contextMap = nested
            case Some(null) | None => // keep
            case Some(other) => throw JsonLdError(JsonLdError.InvalidLocalContext, String.valueOf(other))
          }

        case other =>
          throw JsonLdError(JsonLdError.InvalidLocalContext, String.valueOf(other))
      }

      if (contextMap != null) {
        val pm = this.processingMode
        contextMap.get("@version") match {
          case Some(v) =>
            if (!Json.isNumber(v) || Json.numberValue(v) != 1.1)
              throw JsonLdError(JsonLdError.InvalidVersionValue, s"unsupported JSON-LD version: $v")
            if (pm == JsonLdOptions.JsonLd10)
              throw JsonLdError(JsonLdError.ProcessingModeConflict, s"@version 1.1 vs $pm")
            result.processingMode = JsonLdOptions.JsonLd11
            result.version = v
          case None =>
            result.processingMode = if (pm == "") JsonLdOptions.JsonLd10 else pm
        }

        contextMap.get("@import") match {
          case Some(importVal) =>
            if (result.isMode10)
              throw JsonLdError(JsonLdError.InvalidContextEntry, "@import requires 1.1 mode")
            val importStr = importVal match {
              case s: String => s
              case _ => throw JsonLdError(JsonLdError.InvalidImportValue, "@import must be a string")
            }
            val uri = Uri.resolve(result.activeBase, importStr)
            val rd =
              try options.documentLoader.loadDocument(uri)
              catch {
                case e: Exception =>
                  throw JsonLdError(JsonLdError.LoadingRemoteContextFailed, s"$uri: ${e.getMessage}")
              }
            val importCtx = rd.document match {
              case m: JObj @unchecked if m.contains("@context") => m("@context")
              case _ => throw JsonLdError(JsonLdError.InvalidRemoteContext, uri)
            }
            importCtx match {
              case icm: JObj @unchecked =>
                if (icm.contains("@import"))
                  throw JsonLdError(JsonLdError.InvalidContextEntry, s"$importStr must not include @import")
                val merged = icm.clone().asInstanceOf[JObj]
                contextMap.foreach { case (k, v) => merged(k) = v }
                contextMap = merged
              case _ => throw JsonLdError(JsonLdError.InvalidRemoteContext, s"$importStr must be an object")
            }
          case None =>
        }

        if (!parsingRemote && contextMap.contains("@base")) {
          contextMap("@base") match {
            case null => result.base = ""
            case s: String =>
              if (isAbsoluteIri(s)) result.base = s
              else {
                if (!isAbsoluteIri(result.activeBase))
                  throw JsonLdError(JsonLdError.InvalidBaseIri, result.base)
                result.base = Uri.resolve(result.base, s)
              }
            case other => throw JsonLdError(JsonLdError.InvalidBaseIri, "@base must be a string or null")
          }
        }

        if (contextMap.contains("@language")) {
          contextMap("@language") match {
            case null => result.hasLanguage = false; result.language = ""
            case s: String => result.hasLanguage = true; result.language = s.toLowerCase
            case other => throw JsonLdError(JsonLdError.InvalidDefaultLanguage, String.valueOf(other))
          }
        }

        if (contextMap.contains("@direction")) {
          contextMap("@direction") match {
            case null => result.direction = ""
            case s: String if s == "rtl" || s == "ltr" => result.direction = s
            case other => throw JsonLdError(JsonLdError.InvalidBaseDirection, String.valueOf(other))
          }
        }

        val defined = mutable.HashMap.empty[String, Boolean]

        if (contextMap.contains("@propagate")) {
          if (this.isMode10)
            throw JsonLdError(JsonLdError.InvalidContextEntry, s"@propagate not compatible with $pm")
          contextMap("@propagate") match {
            case _: java.lang.Boolean => defined("@propagate") = true
            case _ => throw JsonLdError(JsonLdError.InvalidPropagateValue, "@propagate must be boolean")
          }
        }

        if (contextMap.contains("@vocab")) {
          contextMap("@vocab") match {
            case null => result.vocab = null
            case s: String =>
              if (!isAbsoluteIri(s) && this.isMode10)
                throw JsonLdError(JsonLdError.InvalidVocabMapping, "@vocab must be absolute IRI in 1.0 mode")
              result.vocab = result.expandIri(s, relative = true, vocabFlag = true, null, null)
            case _ => throw JsonLdError(JsonLdError.InvalidVocabMapping, "@vocab must be a string or null")
          }
        }

        contextMap.get("@protected") match {
          case Some(b: java.lang.Boolean) => defined("@protected") = b.booleanValue()
          case Some(other) => throw JsonLdError(JsonLdError.InvalidProtectedValue, String.valueOf(other))
          case None => if (protectedFlag) defined("@protected") = true
        }

        contextMap.keys.toSeq.foreach { key =>
          if (!Context.NonTermDefKeys.contains(key))
            result.createTermDefinition(contextMap, key, defined, overrideProtected)
        }
      }
    }
    result
  }

  // ------------------------------------------------- createTermDefinition

  private val invalidPrefixChars = Set(':', '/')
  private def iriLikeTerm(term: String): Boolean = {
    // contains '/' anywhere, or ':' followed by a non-':' (i.e., compact-IRI shaped)
    if (term.contains('/')) return true
    var i = term.indexOf(':')
    while (i >= 0) {
      if (i + 1 < term.length && term.charAt(i + 1) != ':') return true
      i = term.indexOf(':', i + 1)
    }
    false
  }

  def createTermDefinition(context: JObj, term: String,
                           defined: mutable.HashMap[String, Boolean],
                           overrideProtected: Boolean): Unit = {
    defined.get(term) match {
      case Some(true) => return
      case Some(false) => throw JsonLdError(JsonLdError.CyclicIriMapping, term)
      case None =>
    }
    if (term.isEmpty)
      throw JsonLdError(JsonLdError.InvalidTermDefinition, "the empty string is not a valid term")

    defined(term) = false

    val value = context.getOrElse(term, null)
    val nullId = value match {
      case m: JObj @unchecked => m.contains("@id") && m("@id") == null
      case _ => false
    }
    if (value == null || nullId) {
      // a null mapping still occupies the term slot and can be protected
      val prevDef = terms.getOrElse(term, null)
      val nullDef = new TermDefinition // id stays "" (drops the term)
      val protectedHere = value match {
        case m: JObj @unchecked => m.get("@protected") match {
          case Some(b: java.lang.Boolean) => Some(b.booleanValue())
          case _ => None
        }
        case _ => None
      }
      if (protectedHere.contains(true) ||
          (defined.getOrElse("@protected", false) && !protectedHere.contains(false))) {
        protectedTerms += term
        nullDef.prot = true
      }
      if (prevDef != null && prevDef.prot && !overrideProtected && !prevDef.sameAs(nullDef))
        throw JsonLdError(JsonLdError.ProtectedTermRedefinition, term)
      terms(term) = nullDef
      defined(term) = true
      return
    }

    var simpleTerm = false
    var valMap: JObj = value match {
      case s: String => simpleTerm = true; val m = Json.obj(); m("@id") = s; m
      case m: JObj @unchecked => m
      case _ => throw JsonLdError(JsonLdError.InvalidTermDefinition, String.valueOf(value))
    }

    if (isKeyword(term)) {
      // the only permitted keyword redefinition: @type gaining
      // @container: @set and/or @protected (an empty definition is not it)
      val allowedKeysOnly = valMap.keys.forall(k => k == "@container" || k == "@protected")
      val containerOk = valMap.get("@container") match {
        case Some("@set") => true
        case None => valMap.contains("@protected")
        case _ => false
      }
      if (!(isMode11 && term == "@type" && allowedKeysOnly && containerOk))
        throw JsonLdError(JsonLdError.KeywordRedefinition, term)
    } else if (hasKeywordForm(term)) {
      return // reserved for future use; ignored
    }

    val prevDefinition = terms.getOrElse(term, null)
    terms.remove(term)

    val definition = new TermDefinition

    val validKeys = if (isMode11)
      Set("@container", "@id", "@language", "@reverse", "@type",
        "@context", "@direction", "@index", "@nest", "@prefix", "@protected")
    else Set("@container", "@id", "@language", "@reverse", "@type")
    valMap.keys.foreach { k =>
      if (!validKeys.contains(k))
        throw JsonLdError(JsonLdError.InvalidTermDefinition, s"a term definition must not contain $k")
    }

    val colIndex = term.indexOf(':')
    val termHasColon = colIndex > 0
    definition.termHasColon = termHasColon

    if (valMap.contains("@reverse")) {
      if (valMap.contains("@id"))
        throw JsonLdError(JsonLdError.InvalidReverseProperty, "@reverse term must not contain @id")
      if (valMap.contains("@nest"))
        throw JsonLdError(JsonLdError.InvalidReverseProperty, "@reverse term must not contain @nest")
      val reverseStr = valMap("@reverse") match {
        case s: String => s
        case other => throw JsonLdError(JsonLdError.InvalidIriMapping, s"expected string for @reverse, got $other")
      }
      // values with keyword form are reserved: ignore the whole term
      if (hasKeywordForm(reverseStr) && !isKeyword(reverseStr)) return
      val id = expandIri(reverseStr, relative = false, vocabFlag = true, context, defined)
      if (id == null || id.isEmpty || !isAbsoluteIri(id))
        throw JsonLdError(JsonLdError.InvalidIriMapping,
          s"@reverse value must be an absolute IRI or blank node id, got $id")
      definition.id = id
      definition.reverse = true
    } else if (valMap.contains("@id")) {
      val idStr = valMap("@id") match {
        case s: String => s
        case _ => throw JsonLdError(JsonLdError.InvalidIriMapping, "expected @id to be a string")
      }
      if (term != idStr) {
        if (!isKeyword(idStr) && hasKeywordForm(idStr)) return
        val res = expandIri(idStr, relative = false, vocabFlag = true, context, defined)
        if (res != null && (isKeyword(res) || isAbsoluteIri(res))) {
          if (res == "@context")
            throw JsonLdError(JsonLdError.InvalidKeywordAlias, "cannot alias @context")
          definition.id = res
          if (iriLikeTerm(term)) {
            defined(term) = true
            val termIri = expandIri(term, relative = false, vocabFlag = true, context, defined)
            if (termIri != res)
              throw JsonLdError(JsonLdError.InvalidIriMapping, s"term $term expands to $res, not $termIri")
            defined.remove(term)
          }
          val termHasSuffix = res.nonEmpty && ":/?#[]@".contains(res.last)
          // only SIMPLE terms (plain string definitions) become prefixes —
          // expanded term definitions are never CURIE-usable
          definition.prefix = java.lang.Boolean.valueOf(
            !termHasColon && termHasSuffix && simpleTerm)
        } else {
          throw JsonLdError(JsonLdError.InvalidIriMapping,
            "resulting IRI mapping should be a keyword, absolute IRI or blank node")
        }
      }
    }

    if (definition.id == "") {
      if (termHasColon) {
        val prefix = term.substring(0, colIndex)
        if (context.contains(prefix))
          createTermDefinition(context, prefix, defined, overrideProtected)
        terms.get(prefix).flatMap(Option(_)) match {
          case Some(td) => definition.id = td.id + term.substring(colIndex + 1)
          case None => definition.id = term
        }
      } else if (vocab != null) {
        definition.id = vocab + term
      } else if (term != "@type") {
        throw JsonLdError(JsonLdError.InvalidIriMapping, "relative term definition without vocab mapping")
      }
    }

    // term protection
    val protectedVal = valMap.get("@protected") match {
      case Some(b: java.lang.Boolean) => Some(b.booleanValue())
      case Some(_) => throw JsonLdError(JsonLdError.InvalidProtectedValue, term)
      case None => None
    }
    if (protectedVal.contains(true) ||
        (defined.getOrElse("@protected", false) && !protectedVal.contains(false))) {
      protectedTerms += term
      definition.prot = true
    }

    defined(term) = true

    if (valMap.contains("@type")) {
      var typeStr = valMap("@type") match {
        case s: String => s
        case other => throw JsonLdError(JsonLdError.InvalidTypeMapping, String.valueOf(other))
      }
      if ((typeStr == "@json" || typeStr == "@none") && isMode10)
        throw JsonLdError(JsonLdError.InvalidTypeMapping, s"unknown mapping for @type: $typeStr on term $term")
      if (typeStr != "@id" && typeStr != "@vocab" && typeStr != "@json" && typeStr != "@none") {
        typeStr =
          try expandIri(typeStr, relative = false, vocabFlag = true, context, defined)
          catch {
            case e: JsonLdError if e.code == JsonLdError.InvalidIriMapping =>
              throw JsonLdError(JsonLdError.InvalidTypeMapping, typeStr)
          }
        if (typeStr == null || !isAbsoluteIri(typeStr))
          throw JsonLdError(JsonLdError.InvalidTypeMapping, "@type value must be an absolute IRI")
        if (typeStr.startsWith("_:"))
          throw JsonLdError(JsonLdError.InvalidTypeMapping, "@type value must not be a blank node")
      }
      definition.typeMapping = typeStr
    }

    if (valMap.contains("@container")) {
      val containerVal = valMap("@container")
      val container: List[String] = containerVal match {
        case a: JArr @unchecked => a.toList.map {
          case s: String => s
          case other => throw JsonLdError(JsonLdError.InvalidContainerMapping, String.valueOf(other))
        }
        case s: String => List(s)
        case other => throw JsonLdError(JsonLdError.InvalidContainerMapping, String.valueOf(other))
      }
      val containerSet = container.toSet
      val validContainers: Set[String] =
        if (isMode11) Set("@list", "@set", "@index", "@language", "@graph", "@id", "@type")
        else Set("@list", "@set", "@index", "@language")

      if (isMode11) {
        if (containerSet.contains("@list") && container.size != 1)
          throw JsonLdError(JsonLdError.InvalidContainerMapping, "@list must have no other values")
        if (containerSet.contains("@graph")) {
          val allowed = Set("@graph", "@id", "@index", "@set")
          if (!containerSet.subsetOf(allowed))
            throw JsonLdError(JsonLdError.InvalidContainerMapping,
              "@graph may only combine with @id, @index and @set")
        } else {
          val maxLen = if (containerSet.contains("@set")) 2 else 1
          if (container.size > maxLen)
            throw JsonLdError(JsonLdError.InvalidContainerMapping, "@set can only be combined with one more type")
        }
        if (containerSet.contains("@type")) {
          if (definition.typeMapping == "") definition.typeMapping = "@id"
          if (definition.typeMapping != "@id" && definition.typeMapping != "@vocab")
            throw JsonLdError(JsonLdError.InvalidTypeMapping, "container @type requires @type @id or @vocab")
        }
      } else {
        if (!containerVal.isInstanceOf[String])
          throw JsonLdError(JsonLdError.InvalidContainerMapping, "@container must be a string")
      }

      container.foreach { v =>
        if (!validContainers.contains(v))
          throw JsonLdError(JsonLdError.InvalidContainerMapping, s"invalid @container value $v")
      }
      if (containerSet.contains("@set") && containerSet.contains("@list"))
        throw JsonLdError(JsonLdError.InvalidContainerMapping, "@set not allowed with @list")
      if (definition.reverse && !containerSet.subsetOf(Set("@index", "@set")))
        throw JsonLdError(JsonLdError.InvalidReverseProperty,
          "reverse property @container must be @index or @set")

      definition.container = container
      if (term == "@type") definition.id = "@type"
    }

    if (valMap.contains("@index")) {
      if (!valMap.contains("@container") || definition.container.isEmpty)
        throw JsonLdError(JsonLdError.InvalidTermDefinition, s"@index without @container on $term")
      valMap("@index") match {
        case s: String if !s.startsWith("@") => definition.index = s
        case other =>
          throw JsonLdError(JsonLdError.InvalidTermDefinition, s"@index must expand to an IRI: $other")
      }
    }

    if (valMap.contains("@context")) {
      // validate eagerly (JSON-LD 1.1 createTermDefinition step 21): any
      // error parsing the scoped context surfaces as invalid scoped
      // context at DEFINITION time; application stays lazy (raw storage).
      // The validation parse itself skips nested validations (flag), so
      // circular scoped-context chains terminate.
      if (!noValidateScoped) {
        noValidateScoped = true
        try parseWith(valMap("@context"), List.empty, parsingRemote = false,
          propagate0 = true, protectedFlag = false, overrideProtected = true)
        catch {
          case e: JsonLdError =>
            noValidateScoped = false
            throw JsonLdError(JsonLdError.InvalidScopedContext, s"$term: ${e.getMessage}")
        } finally noValidateScoped = false
      }
      definition.scopedContext = valMap("@context")
      definition.hasContext = true
    }

    if (valMap.contains("@language") && !valMap.contains("@type")) {
      valMap("@language") match {
        case s: String => definition.language = s.toLowerCase; definition.hasLanguage = true
        case null => definition.language = null; definition.hasLanguage = true
        case _ => throw JsonLdError(JsonLdError.InvalidLanguageMapping, "@language must be string or null")
      }
    }

    if (valMap.contains("@prefix")) {
      if (term.exists(invalidPrefixChars.contains))
        throw JsonLdError(JsonLdError.InvalidTermDefinition, "@prefix used on compact or relative IRI term")
      val p = valMap("@prefix") match {
        case b: java.lang.Boolean => b
        case _ => throw JsonLdError(JsonLdError.InvalidPrefixValue, "@prefix must be boolean")
      }
      if (isKeyword(definition.id))
        throw JsonLdError(JsonLdError.InvalidTermDefinition, "keywords may not be used as prefixes")
      definition.prefix = p
    }

    if (valMap.contains("@direction")) {
      valMap("@direction") match {
        case s: String => definition.direction = s.toLowerCase; definition.hasDirection = true
        case null => definition.direction = null; definition.hasDirection = true
        case other => throw JsonLdError(JsonLdError.InvalidBaseDirection,
          s"direction must be null, 'ltr' or 'rtl', was $other on $term")
      }
    }

    if (valMap.contains("@nest")) {
      valMap("@nest") match {
        case s: String if s == "@nest" || !s.startsWith("@") => definition.nest = s
        case _ => throw JsonLdError(JsonLdError.InvalidNestValue,
          "@nest must be a string which is not a keyword other than @nest")
      }
    }

    if (definition.id == "@context" || definition.id == "@preserve")
      throw JsonLdError(JsonLdError.InvalidKeywordAlias, "@context and @preserve cannot be aliased")

    if (prevDefinition != null && prevDefinition.prot && !overrideProtected) {
      protectedTerms += term
      definition.prot = true
      if (!prevDefinition.sameAs(definition))
        throw JsonLdError(JsonLdError.ProtectedTermRedefinition, term)
    }

    terms(term) = definition
  }

  // ------------------------------------------------------------ expandIri

  /** IRI Expansion (JSON-LD 1.1 API §5.2). Returns null for values that must
    * be dropped (nulled terms, reserved "@"-forms).
    */
  def expandIri(value: String, relative: Boolean, vocabFlag: Boolean,
                context: JObj, defined: mutable.HashMap[String, Boolean]): String = {
    if (value == null) return null
    if (isKeyword(value)) return value
    // IRIs having the form of a keyword are ignored: expand to "" which
    // callers treat as a dropped property / relative IRI
    if (hasKeywordForm(value)) return ""

    if (context != null && context.contains(value) && !defined.getOrElse(value, false))
      createTermDefinition(context, value, defined, overrideProtected = false)

    if (vocabFlag && terms.contains(value)) {
      val td = terms(value)
      return if (td != null) td.id else ""
    }

    val colIndex = value.indexOf(':')
    if (colIndex > 0) {
      val prefix = value.substring(0, colIndex)
      val suffix = value.substring(colIndex + 1)
      if (prefix == "_" || suffix.startsWith("//")) return value
      if (context != null && context.contains(prefix) && !defined.getOrElse(prefix, false))
        createTermDefinition(context, prefix, defined, overrideProtected = false)
      terms.get(prefix).flatMap(Option(_)) match {
        case Some(td) if td.id != "" && td.prefixFlag => return td.id + suffix
        case _ =>
      }
      if (isAbsoluteIri(value)) return value
    }

    if (vocabFlag && vocab != null) return vocab + value
    if (relative) return Uri.resolve(activeBase, value)
    if (context != null && isRelativeIri(value))
      throw JsonLdError(JsonLdError.InvalidIriMapping, s"not an absolute IRI: $value")
    value
  }

  // ---------------------------------------------------------- expandValue

  /** Value Expansion (JSON-LD 1.1 API §5.3). */
  def expandValue(activeProperty: String, value: Any): Any = {
    val rval = Json.obj()
    val td = getTermDefinition(activeProperty)

    if (td != null && td.typeMapping == "@id") {
      value match {
        case s: String =>
          rval("@id") = expandIri(s, relative = true, vocabFlag = false, null, null)
        case _ => rval("@value") = value
      }
      return rval
    }
    if (td != null && td.typeMapping == "@vocab") {
      value match {
        case s: String =>
          rval("@id") = expandIri(s, relative = true, vocabFlag = true, null, null)
        case _ => rval("@value") = value
      }
      return rval
    }

    rval("@value") = value
    if (td != null && td.typeMapping != "" && td.typeMapping != "@id" &&
        td.typeMapping != "@vocab" && td.typeMapping != "@none") {
      rval("@type") = td.typeMapping
    } else if (value.isInstanceOf[String]) {
      if (td != null && td.hasLanguage) {
        if (td.language != null) rval("@language") = td.language
      } else if (hasLanguage) {
        rval("@language") = language
      }
      if (td != null && td.hasDirection) {
        if (td.direction != null) rval("@direction") = td.direction
      } else if (direction != "") {
        rval("@direction") = direction
      }
    }
    rval
  }

  // ------------------------------------------------------------ accessors

  def getContainer(property: String): List[String] = {
    val td = getTermDefinition(property)
    if (td == null) Nil else td.container
  }

  def hasContainerMapping(property: String, container: String): Boolean =
    getContainer(property).contains(container)

  def isReverseProperty(property: String): Boolean = {
    val td = getTermDefinition(property)
    td != null && td.reverse
  }

  def getTypeMapping(property: String): String = {
    val td = getTermDefinition(property)
    if (td != null && td.typeMapping != "") td.typeMapping else null
  }

  def getLanguageMapping(property: String): String = {
    val td = getTermDefinition(property)
    if (td != null && td.hasLanguage) td.language
    else if (hasLanguage) language
    else null
  }

  /** Language mapping normalized to "" for absent/null (compaction compares
    * against the value's "@language" or "").
    */
  def getLanguageMappingStr(property: String): String = {
    val td = getTermDefinition(property)
    if (td != null && td.hasLanguage) { if (td.language != null) td.language else "" }
    else if (hasLanguage) language
    else ""
  }

  def getDirectionMapping(property: String): String = {
    val td = getTermDefinition(property)
    if (td != null && td.hasDirection) { if (td.direction != null) td.direction else "" }
    else if (direction != "") direction
    else ""
  }

  def getPrefixes(onlyCommonPrefixes: Boolean): Map[String, String] =
    terms.iterator.collect {
      case (term, td) if td != null && !term.contains(':') && td.prefixFlag &&
          td.id != null && td.id.nonEmpty &&
          !term.startsWith("@") && !td.id.startsWith("@") &&
          (!onlyCommonPrefixes || td.id.endsWith("/") || td.id.endsWith("#")) =>
        term -> td.id
    }.toMap
}

object Context {
  /** Whether a watched context processing read the active base. */
  private final class BaseReads { var seen = false }

  val NonTermDefKeys: Set[String] = Set(
    "@base", "@direction", "@import", "@language", "@propagate",
    "@protected", "@version", "@vocab")
}
