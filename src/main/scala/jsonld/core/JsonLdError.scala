package jsonld.core

/** Spec error codes (JSON-LD 1.1 API §error handling). String values must
  * match the spec exactly — the W3C negative-evaluation tests compare them.
  * Cf. reference inventory at /root/reference/ld/errors.go:31-89.
  */
final case class JsonLdError(code: String, details: String = "")
    extends RuntimeException(if (details.isEmpty) code else s"$code: $details")

object JsonLdError {
  val LoadingDocumentFailed = "loading document failed"
  val ListOfLists = "list of lists"
  val InvalidIndexValue = "invalid @index value"
  val ConflictingIndexes = "conflicting indexes"
  val InvalidIdValue = "invalid @id value"
  val InvalidLocalContext = "invalid local context"
  val MultipleContextLinkHeaders = "multiple context link headers"
  val LoadingRemoteContextFailed = "loading remote context failed"
  val InvalidRemoteContext = "invalid remote context"
  val RecursiveContextInclusion = "recursive context inclusion"
  val InvalidBaseIri = "invalid base IRI"
  val InvalidVocabMapping = "invalid vocab mapping"
  val InvalidDefaultLanguage = "invalid default language"
  val KeywordRedefinition = "keyword redefinition"
  val InvalidTermDefinition = "invalid term definition"
  val InvalidReverseProperty = "invalid reverse property"
  val InvalidIriMapping = "invalid IRI mapping"
  val CyclicIriMapping = "cyclic IRI mapping"
  val InvalidKeywordAlias = "invalid keyword alias"
  val InvalidTypeMapping = "invalid type mapping"
  val InvalidLanguageMapping = "invalid language mapping"
  val CollidingKeywords = "colliding keywords"
  val InvalidContainerMapping = "invalid container mapping"
  val InvalidTypeValue = "invalid type value"
  val InvalidValueObject = "invalid value object"
  val InvalidValueObjectValue = "invalid value object value"
  val InvalidLanguageTaggedString = "invalid language-tagged string"
  val InvalidLanguageTaggedValue = "invalid language-tagged value"
  val InvalidTypedValue = "invalid typed value"
  val InvalidSetOrListObject = "invalid set or list object"
  val InvalidLanguageMapValue = "invalid language map value"
  val CompactionToListOfLists = "compaction to list of lists"
  val InvalidReversePropertyMap = "invalid reverse property map"
  val InvalidReverseValue = "invalid @reverse value"
  val InvalidReversePropertyValue = "invalid reverse property value"
  val InvalidNestValue = "invalid @nest value"
  val InvalidPrefixValue = "invalid @prefix value"
  val InvalidPropagateValue = "invalid @propagate value"
  val InvalidImportValue = "invalid @import value"
  val InvalidVersionValue = "invalid @version value"
  val ProcessingModeConflict = "processing mode conflict"
  val InvalidProtectedValue = "invalid @protected value"
  val ProtectedTermRedefinition = "protected term redefinition"
  val InvalidContextNullification = "invalid context nullification"
  val InvalidContextEntry = "invalid context entry"
  val InvalidBaseDirection = "invalid base direction"
  val InvalidScopedContext = "invalid scoped context"
  val InvalidStreamingKeyOrder = "invalid streaming key order"
  val InvalidFrame = "invalid frame"
  val InvalidEmbedValue = "invalid @embed value"
  val SyntaxError = "syntax error"
  val NotImplemented = "not implemented"
  val UnknownFormat = "unknown format"
  val UnknownError = "unknown error"
  // ours (not a spec code): the per-document URDNA2015 permutation budget
  // tripped — the document is adversarial/pathological and gets quarantined
  // instead of stalling an executor (Canonicalize.scala)
  val CanonicalizationBudgetExceeded = "canonicalization budget exceeded"
  // ours (not a spec code): the document nests deeper than
  // Json.MaxNestingDepth, or its recursion still exhausted the thread's stack
  val NestingTooDeep = "nesting too deep"
  val InvalidProperty = "invalid property"
  val InvalidInput = "invalid input"
  val InvalidIncludedValue = "invalid @included value"
  val IriConfusedWithPrefix = "IRI confused with prefix"
  val InvalidJsonLiteral = "invalid JSON literal"
  val InvalidScriptElement = "invalid script element"
}
