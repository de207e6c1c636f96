package jsonld.core

import org.scalatest.funsuite.AnyFunSuite
import Rdf._

/** N-Quads escaping: [[Rdf.escape]] and the escaping fused into
  * [[Rdf.toNQuad]] must agree on every escapable character, wherever it
  * sits in the string.
  */
class RdfEscapeSpec extends AnyFunSuite {

  private val escapes = Seq('\\' -> "\\\\", '"' -> "\\\"", '\n' -> "\\n", '\r' -> "\\r", '\t' -> "\\t")

  test("escape and toNQuad agree for all five characters at start, middle and end") {
    for ((c, escaped) <- escapes; (raw, want) <- Seq(
        (s"${c}ab", s"${escaped}ab"), (s"a${c}b", s"a${escaped}b"), (s"ab$c", s"ab$escaped"))) {
      assert(escape(raw) == want, s"escape of ${raw.map(_.toInt)}")
      val literal = toNQuad(Quad(RIri("http://ex.org/s"), RIri("http://ex.org/p"),
        RLiteral(raw, XsdString, ""), null), "")
      assert(literal == s"""<http://ex.org/s> <http://ex.org/p> "$want" .\n""")
      val iri = toNQuad(Quad(RIri("http://ex.org/s"), RIri("http://ex.org/p"),
        RIri(raw), null), "http://ex.org/g")
      assert(iri == s"<http://ex.org/s> <http://ex.org/p> <$want> <http://ex.org/g> .\n")
    }
  }

  test("a string with nothing to escape comes back unchanged") {
    val clean = "http://ex.org/plain?q=1#frag"
    assert(escape(clean) == clean)
    assert(escape("") == "")
  }
}
