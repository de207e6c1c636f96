package jsonld.core

import org.scalatest.funsuite.AnyFunSuite
import java.io.{ByteArrayInputStream, ByteArrayOutputStream, ObjectInputStream, ObjectOutputStream}

/** The remote-context memo: [[MapDocumentLoader]] returns one parsed
  * document per URL, and [[Context.parseWith]] keeps the processed context
  * on it. A hit must give exactly what processing the context again gives.
  */
class ContextCacheSpec extends AnyFunSuite {

  private val Shared = "http://ctx.example/shared.jsonld"
  private val RelativeVocab = "http://ctx.example/relative-vocab.jsonld"
  private val SelfIncluding = "http://ctx.example/self.jsonld"
  private val Missing = "http://ctx.example/missing.jsonld"
  private val Empty = "http://ctx.example/empty.jsonld"

  private val contexts = Map(
    Shared ->
      """{"@context": {
        |  "@vocab": "http://schema.example/",
        |  "name": "http://schema.example/name",
        |  "link": {"@id": "http://schema.example/link", "@type": "@id"},
        |  "tags": {"@id": "http://schema.example/tag", "@container": "@set"}}}""".stripMargin,
    RelativeVocab -> """{"@context": {"@vocab": "terms/"}}""",
    SelfIncluding -> s"""{"@context": ["$SelfIncluding", {"name": "http://schema.example/name"}]}""",
    Empty -> """{"@context": []}""")

  /** Parses on every load, so its documents never share a memo. */
  private final class FreshLoader(docs: Map[String, String]) extends DocumentLoader {
    def loadDocument(url: String): RemoteDocument = docs.get(url) match {
      case Some(body) => RemoteDocument(url, Json.parse(body))
      case None => throw JsonLdError(JsonLdError.LoadingDocumentFailed, s"not preloaded: $url")
    }
  }

  private final class Forwarding(inner: DocumentLoader) extends DocumentLoader {
    def loadDocument(url: String): RemoteDocument = inner.loadDocument(url)
  }

  private def expand(doc: String, base: String, loader: DocumentLoader): String =
    Json.serialize(Processor.expand(Json.parse(doc),
      JsonLdOptions(base = base, documentLoader = loader)))

  private def activeContext(url: String, base: String, loader: DocumentLoader): Context =
    new Context(JsonLdOptions(base = base, documentLoader = loader)).parse(url)

  private def memo(loader: DocumentLoader, url: String) =
    loader.loadDocument(url).processedContexts

  private val baseA = "http://a.example/dir/doc.jsonld"
  private val baseB = "http://b.example/other/doc.jsonld"

  test("documents with different bases expand as without the cache") {
    val doc = s"""{"@context": "$Shared", "@id": "item", "name": "n", "link": "../up", "tags": "t"}"""
    val cached = new MapDocumentLoader(contexts)
    val fresh = new FreshLoader(contexts)
    val a = expand(doc, baseA, cached)
    val b = expand(doc, baseB, cached)
    assert(a == expand(doc, baseA, fresh))
    assert(b == expand(doc, baseB, fresh))
    assert(a.contains("http://a.example/dir/item") && a.contains("http://a.example/up"), a)
    assert(b.contains("http://b.example/other/item") && b.contains("http://b.example/up"), b)
    assert(memo(cached, Shared).size == 1)

    // the second document reuses the first one's term definitions; the
    // base is the caller's
    val ctxA = activeContext(Shared, baseA, cached)
    val ctxB = activeContext(Shared, baseB, cached)
    assert(ctxA.getTermDefinition("link") eq ctxB.getTermDefinition("link"))
    assert(ctxA.base == baseA && ctxB.base == baseB)
    assert(ctxA.vocab == "http://schema.example/")
    val uncachedA = activeContext(Shared, baseA, fresh)
    val uncachedB = activeContext(Shared, baseA, fresh)
    assert(!(uncachedA.getTermDefinition("link") eq uncachedB.getTermDefinition("link")))
  }

  test("a hit copies the terms: extending one document's context leaves the memo intact") {
    val cached = new MapDocumentLoader(contexts)
    val extended = new Context(JsonLdOptions(base = baseA, documentLoader = cached))
      .parse(Json.parse(s"""["$Shared", {"name": "http://other.example/name"}]"""))
    assert(extended.getTermDefinition("name").id == "http://other.example/name")
    assert(activeContext(Shared, baseB, cached).getTermDefinition("name").id ==
      "http://schema.example/name")
  }

  test("an empty remote context is memoized and changes nothing") {
    val doc = s"""{"@context": ["$Empty", {"@vocab": "http://schema.example/"}], "name": "n"}"""
    val cached = new MapDocumentLoader(contexts)
    val first = expand(doc, baseA, cached)
    assert(first == expand(doc, baseB, cached))
    assert(first == expand(doc, baseA, new FreshLoader(contexts)))
    assert(memo(cached, Empty).size == 1)
  }

  test("a relative @vocab resolves against each document's base and is not shared") {
    val doc = s"""{"@context": "$RelativeVocab", "name": "n"}"""
    val cached = new MapDocumentLoader(contexts)
    val a = expand(doc, baseA, cached)
    val b = expand(doc, baseB, cached)
    assert(a.contains("http://a.example/dir/terms/name"), a)
    assert(b.contains("http://b.example/other/terms/name"), b)
    assert(memo(cached, RelativeVocab).isEmpty)
  }

  test("a missing context is not cached: every document naming it fails") {
    val doc = s"""{"@context": "$Missing", "name": "n"}"""
    val cached = new MapDocumentLoader(contexts)
    (1 to 2).foreach { _ =>
      val e = intercept[JsonLdError](expand(doc, baseA, cached))
      assert(e.code == JsonLdError.LoadingRemoteContextFailed)
    }
  }

  test("recursive inclusion still raises on every document") {
    val doc = s"""{"@context": "$SelfIncluding", "name": "n"}"""
    val cached = new MapDocumentLoader(contexts)
    (1 to 2).foreach { _ =>
      val e = intercept[JsonLdError](expand(doc, baseA, cached))
      assert(e.code == JsonLdError.RecursiveContextInclusion)
    }
    assert(memo(cached, SelfIncluding).isEmpty)
  }

  test("a forwarding loader wrapper still hits the cache") {
    val inner = new MapDocumentLoader(contexts)
    val first = activeContext(Shared, baseA, new Forwarding(inner))
    val second = activeContext(Shared, baseB, new Forwarding(inner))
    assert(first.getTermDefinition("name") eq second.getTermDefinition("name"))
    assert(memo(inner, Shared).size == 1)
  }

  test("the memo is transient: a serialized loader carries no processed contexts") {
    def roundTrip[T](x: T): (T, Int) = {
      val bytes = new ByteArrayOutputStream()
      val out = new ObjectOutputStream(bytes)
      out.writeObject(x); out.close()
      val in = new ObjectInputStream(new ByteArrayInputStream(bytes.toByteArray))
      (in.readObject().asInstanceOf[T], bytes.size)
    }
    val unused = roundTrip(new MapDocumentLoader(contexts))._2
    val loader = new MapDocumentLoader(contexts)
    activeContext(Shared, baseA, loader)
    val doc = loader.loadDocument(Shared)
    assert(doc.processedContexts.size == 1)

    val (copy, used) = roundTrip(loader)
    assert(used == unused)
    val reloaded = copy.loadDocument(Shared)
    assert(!(reloaded eq doc))
    assert(reloaded.processedContexts.isEmpty)
    assert(roundTrip(doc)._1.processedContexts.isEmpty)
  }
}
