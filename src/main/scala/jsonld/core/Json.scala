package jsonld.core

import com.fasterxml.jackson.core.{JsonFactoryBuilder, JsonGenerator, JsonParser, JsonToken, StreamReadConstraints}
import com.fasterxml.jackson.core.exc.StreamConstraintsException
import java.io.{StringWriter, Writer}
import scala.collection.mutable

/** Dynamic JSON tree model for the JSON-LD algorithm suite.
  *
  * JSON-LD documents are schema-free (keys are IRIs), so we deliberately use
  * an untyped tree — `mutable.LinkedHashMap[String, Any]` for objects (keeps
  * insertion order; algorithms sort keys explicitly where the spec demands
  * determinism), `mutable.ArrayBuffer[Any]` for arrays, `String`, `Boolean`,
  * `java.lang.Long` / `java.lang.Double` for numbers, and `null`.
  *
  * This mirrors the dynamic model of the reference implementation
  * (piprate/json-gold `ld/document_loader.go:70-81`) without copying it:
  * the same shape falls out of any JSON-LD processor because the spec's
  * algorithms are defined over untyped JSON trees.
  */
object Json {
  type JObj = mutable.LinkedHashMap[String, Any]
  type JArr = mutable.ArrayBuffer[Any]

  def obj(): JObj = mutable.LinkedHashMap.empty[String, Any]
  def arr(): JArr = mutable.ArrayBuffer.empty[Any]
  def arr(xs: Any*): JArr = { val a = arr(); a ++= xs; a }

  /** Deepest nesting of objects and arrays [[parse]] accepts. The JSON-LD
    * algorithms recurse once or more per level, and on a cold JVM with the
    * default 1 MB thread stack expand + toRdf overflow at ~420 levels (once
    * JIT-compiled, past 990), so a deeper document is refused while parsing,
    * deterministically, instead of by a `StackOverflowError` that depends
    * on what the JIT has compiled so far.
    */
  val MaxNestingDepth = 256

  private val factory = new JsonFactoryBuilder()
    .streamReadConstraints(StreamReadConstraints.builder().maxNestingDepth(MaxNestingDepth).build())
    .build()

  /** Parses one JSON value. Nesting deeper than [[MaxNestingDepth]] throws
    * `JsonLdError(NestingTooDeep)`; any other malformed input throws the
    * parser's exception.
    */
  def parse(s: String): Any = {
    val p = factory.createParser(s)
    try {
      val t = p.nextToken()
      if (t == null) throw new IllegalArgumentException("empty JSON input")
      val v = readValue(p, t)
      // trailing garbage check
      if (p.nextToken() != null) throw new IllegalArgumentException("trailing content after JSON value")
      v
    } catch {
      // the parser enters the offending level before it checks the limit
      case e: StreamConstraintsException if p.getParsingContext.getNestingDepth > MaxNestingDepth =>
        throw JsonLdError(JsonLdError.NestingTooDeep, e.getOriginalMessage)
    } finally p.close()
  }

  private def readValue(p: JsonParser, t: JsonToken): Any = t match {
    case JsonToken.START_OBJECT =>
      val m = obj()
      var tok = p.nextToken()
      while (tok != JsonToken.END_OBJECT) {
        val key = p.currentName()
        val v = readValue(p, p.nextToken())
        m(key) = v
        tok = p.nextToken()
      }
      m
    case JsonToken.START_ARRAY =>
      val a = arr()
      var tok = p.nextToken()
      while (tok != JsonToken.END_ARRAY) {
        a += readValue(p, tok)
        tok = p.nextToken()
      }
      a
    case JsonToken.VALUE_STRING => p.getText
    case JsonToken.VALUE_NUMBER_INT =>
      // Keep integers exact when they fit a Long; huge ints degrade to Double
      // (matches double-based JSON processors on which the fixtures rely).
      try java.lang.Long.valueOf(p.getLongValue)
      catch { case _: Exception => java.lang.Double.valueOf(p.getDoubleValue) }
    case JsonToken.VALUE_NUMBER_FLOAT => java.lang.Double.valueOf(p.getDoubleValue)
    case JsonToken.VALUE_TRUE => java.lang.Boolean.TRUE
    case JsonToken.VALUE_FALSE => java.lang.Boolean.FALSE
    case JsonToken.VALUE_NULL => null
    case other => throw new IllegalArgumentException(s"unexpected JSON token $other")
  }

  def serialize(v: Any): String = {
    val sw = new StringWriter()
    val g = factory.createGenerator(sw)
    writeValue(g, v)
    g.close()
    sw.toString
  }

  private def writeValue(g: JsonGenerator, v: Any): Unit = v match {
    case null => g.writeNull()
    case m: JObj @unchecked =>
      g.writeStartObject()
      m.foreach { case (k, x) => g.writeFieldName(k); writeValue(g, x) }
      g.writeEndObject()
    case a: JArr @unchecked =>
      g.writeStartArray()
      a.foreach(writeValue(g, _))
      g.writeEndArray()
    case s: String => g.writeString(s)
    case b: java.lang.Boolean => g.writeBoolean(b)
    case l: java.lang.Long => g.writeNumber(l.longValue())
    case i: java.lang.Integer => g.writeNumber(i.intValue())
    case d: java.lang.Double => g.writeNumber(d.doubleValue())
    case bd: java.math.BigDecimal => g.writeNumber(bd)
    case other => throw new IllegalArgumentException(s"cannot serialize ${other.getClass}")
  }

  def deepClone(v: Any): Any = v match {
    case m: JObj @unchecked =>
      val c = obj()
      m.foreach { case (k, x) => c(k) = deepClone(x) }
      c
    case a: JArr @unchecked =>
      val c = arr()
      a.foreach(x => c += deepClone(x))
      c
    case other => other // immutable scalars
  }

  def isNumber(v: Any): Boolean = v.isInstanceOf[java.lang.Long] || v.isInstanceOf[java.lang.Double] || v.isInstanceOf[java.lang.Integer]

  def numberValue(v: Any): Double = v match {
    case l: java.lang.Long => l.doubleValue()
    case i: java.lang.Integer => i.doubleValue()
    case d: java.lang.Double => d.doubleValue()
    case _ => throw new IllegalArgumentException("not a number")
  }

  /** Order-sensitive deep equality with numeric normalization (Long 1 == Double 1.0).
    * Arrays compare element-wise in order; objects compare key sets and values
    * (key insertion order irrelevant). `unordered=true` compares arrays as bags.
    */
  def deepCompare(a: Any, b: Any, unordered: Boolean = false): Boolean = (a, b) match {
    case (null, null) => true
    case (x: JObj @unchecked, y: JObj @unchecked) =>
      x.size == y.size && x.forall { case (k, v) => y.contains(k) && deepCompare(v, y(k), unordered) }
    case (x: JArr @unchecked, y: JArr @unchecked) =>
      if (x.size != y.size) false
      else if (!unordered) x.indices.forall(i => deepCompare(x(i), y(i), unordered))
      else {
        val used = new Array[Boolean](y.size)
        x.forall { xv =>
          val idx = y.indices.find(j => !used(j) && deepCompare(xv, y(j), unordered))
          idx match { case Some(j) => used(j) = true; true; case None => false }
        }
      }
    case (x, y) if isNumber(x) && isNumber(y) => numberValue(x) == numberValue(y)
    case (x: String, y: String) => x == y
    case (x: java.lang.Boolean, y: java.lang.Boolean) => x == y
    case _ => false
  }

  /** UTF-8 byte-order string comparator (Go sort.Strings semantics). Differs
    * from Java's UTF-16 order only for supplementary-plane characters, but the
    * spec's deterministic iteration is defined over code points.
    */
  val utf8Ordering: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int = {
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n) {
        val ca = a.codePointAt(i)
        val cb = b.codePointAt(i)
        if (ca != cb) return Integer.compare(ca, cb)
        i += Character.charCount(ca)
      }
      Integer.compare(a.length, b.length)
    }
  }

  def sortedKeys(m: JObj): Seq[String] = m.keys.toSeq.sorted(utf8Ordering)
}
