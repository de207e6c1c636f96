package jsonld.core

import org.scalatest.funsuite.AnyFunSuite

/** [[Json.parse]]'s nesting limit: a document nested exactly
  * [[Json.MaxNestingDepth]] levels deep parses, one level deeper is
  * refused as `nesting too deep`, and other malformed input keeps the
  * parser's own exception.
  */
class JsonSpec extends AnyFunSuite {

  private val Max = Json.MaxNestingDepth

  /** `depth` levels of alternating objects and arrays around one string. */
  private def nested(depth: Int): String =
    (1 to depth).map(i => if (i % 2 == 1) """{"a": """ else "[").mkString + "\"leaf\"" +
      (depth to 1 by -1).map(i => if (i % 2 == 1) "}" else "]").mkString

  test("a document at the nesting limit parses; one a level deeper fails") {
    var v: Any = Json.parse(nested(Max))
    var levels = 0
    while (v != "leaf") {
      v = v match {
        case m: Json.JObj @unchecked => m("a")
        case a: Json.JArr @unchecked => a.head
      }
      levels += 1
    }
    assert(levels == Max)

    val e = intercept[JsonLdError](Json.parse(nested(Max + 1)))
    assert(e.code == JsonLdError.NestingTooDeep)
  }

  test("other malformed input is not reported as nesting") {
    val e = intercept[Exception](Json.parse("""{"a": broken"""))
    assert(!e.isInstanceOf[JsonLdError], e)
  }

  test("a document at the limit expands, converts to RDF and canonicalizes") {
    // the limit must sit below the depth at which the recursive algorithms
    // exhaust a thread stack. The body runs on its own thread with a 1 MB
    // stack (the JVM default), so the stack size is fixed; the suite JVM's
    // JIT state is not, and a cold JVM overflows at fewer levels (~420)
    // than a warm one, so this case does not measure the cold margin
    val inner = Max - 1
    val doc = """{"@context": {"@vocab": "http://ex.org/"}, "@id": "http://ex.org/n0", "p": """ +
      (1 to inner).map(i => s"""{"@id": "http://ex.org/n$i", "p": """).mkString +
      "\"leaf\"" + "}" * (inner + 1)
    var quads = -1
    var failure: Throwable = null
    val worker = new Thread(null, () => {
      try {
        val opts = JsonLdOptions(base = "graft://r/deep")
        val rdf = ToRdf.toRdf(Processor.expand(Json.parse(doc), opts), opts)
        quads = new Canonicalizer("URDNA2015").canonicalQuads(rdf).size
      } catch { case e: Throwable => failure = e }
    }, "deep-document", 1L << 20)
    worker.start()
    worker.join()
    if (failure != null) throw failure
    assert(quads == Max)
  }
}
