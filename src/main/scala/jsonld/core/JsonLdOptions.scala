package jsonld.core

/** Processor options (JSON-LD 1.1 API §6.1 JsonLdOptions, plus the extras
  * the W3C test manifests exercise). Cf. /root/reference/ld/options.go.
  */
final case class JsonLdOptions(
    base: String = "",
    compactArrays: Boolean = true,
    documentLoader: DocumentLoader = EmptyDocumentLoader,
    expandContext: Any = null,
    frameExpansion: Boolean = false,
    ordered: Boolean = false,
    processingMode: String = JsonLdOptions.JsonLd11,
    produceGeneralizedRdf: Boolean = false,
    useNativeTypes: Boolean = false,
    useRdfType: Boolean = false,
    // framing
    embed: String = "@once",
    explicit: Boolean = false,
    requireAll: Boolean = false,
    omitDefault: Boolean = false,
    omitGraph: java.lang.Boolean = null, // null → default by processing mode
    frameDefault: Boolean = false,
    // normalization
    algorithm: String = "URDNA2015",
    format: String = "",
    // RDF direction handling ("", "i18n-datatype", "compound-literal")
    rdfDirection: String = "",
    // ------- non-spec extras (reference options.go:63-68 parity) -------
    // normalize/fromRdf input given as serialized RDF (application/n-quads)
    inputFormat: String = "",
    // fromRdf post-processing: "" | "expanded" | "compacted" | "flattened"
    outputForm: String = "",
    // collect @context prefix candidates into RdfDataset.namespaces
    // (consumed by prefix-printing serializers; Turtle is a stub in the
    // reference too, so the map is simply exposed)
    useNamespaces: Boolean = false,
    // expansion raises InvalidProperty instead of silently dropping
    // non-IRI keys — at corpus scale data loss must be observable
    safeMode: Boolean = false
) {
  def isMode11: Boolean = processingMode >= JsonLdOptions.JsonLd11
  /** omitGraph defaults to true in JSON-LD 1.1 processing mode. */
  def effectiveOmitGraph: Boolean =
    if (omitGraph != null) omitGraph.booleanValue() else isMode11
}

object JsonLdOptions {
  val JsonLd10 = "json-ld-1.0"
  val JsonLd11 = "json-ld-1.1"
  val JsonLd11ExpandFrame = "json-ld-1.1-expand-frame"
}

/** Remote document abstraction. On a cluster the only implementation that
  * executors ever see is [[MapDocumentLoader]] over a broadcast map — there
  * is deliberately no HTTP loader (zero-egress: a cache miss is an error,
  * never a network call).
  */
final case class RemoteDocument(documentUrl: String, document: Any, contextUrl: String = null,
                                baseHref: String = null) {
  /** This document's `@context`, already processed against an initial
    * active context, keyed by (processing mode, override-protected); filled
    * and read by [[Context.parseWith]]. It lives as long as the document:
    * a loader that returns the same document for every load (as
    * [[MapDocumentLoader]] does) shares it across all documents it serves.
    * Transient: a serialized loader or document carries no processed
    * contexts.
    */
  @transient private[core] lazy val processedContexts =
    new java.util.concurrent.ConcurrentHashMap[(String, Boolean), Context]()
}

trait DocumentLoader extends Serializable {
  def loadDocument(url: String): RemoteDocument
}

object EmptyDocumentLoader extends DocumentLoader {
  def loadDocument(url: String): RemoteDocument =
    throw JsonLdError(JsonLdError.LoadingDocumentFailed, s"no loader for $url")
}

/** Preloaded url → raw JSON string map; broadcastable, so the broadcast
  * payload stays compact strings. Each body is parsed on its first load
  * and every later load returns the same [[RemoteDocument]], so a remote
  * context is also processed only once per loader (see
  * [[RemoteDocument.processedContexts]]). Both caches are transient: they
  * are scoped to one deserialized loader instance — one per partition in
  * `Pipeline.transformStage` — and never travel with the broadcast.
  * A body that fails to parse is not cached; every load of it fails.
  */
final class MapDocumentLoader(docs: Map[String, String]) extends DocumentLoader {
  @transient private lazy val parsed =
    new java.util.concurrent.ConcurrentHashMap[String, RemoteDocument]()

  def loadDocument(url: String): RemoteDocument =
    parsed.computeIfAbsent(url, _ => docs.get(url) match {
      case Some(body) =>
        try RemoteDocument(url, Json.parse(body))
        catch {
          case e: Exception =>
            throw JsonLdError(JsonLdError.LoadingDocumentFailed, s"$url: ${e.getMessage}")
        }
      case None =>
        throw JsonLdError(JsonLdError.LoadingDocumentFailed, s"not preloaded: $url")
    })
}
