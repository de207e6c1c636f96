package jsonld.core

/** Extraction of JSON-LD from HTML documents (JSON-LD 1.1 §B "embedding
  * JSON-LD in HTML documents"): `<script type="application/ld+json">`
  * islands, URL-fragment targeting by element id, the extractAllScripts
  * option, and `<base href>` discovery.
  *
  * Fixture-grade HTML needs no full parser: script elements carry raw
  * text content, so attribute-aware regex scanning is exact for this
  * grammar. The same scan ([[scripts]]) backs corpus detection
  * (jsonld.spark.Detect) and the HtmlTest suites.
  */
object HtmlExtract {

  final case class Extracted(json: Any, baseHref: Option[String])

  private val scriptRe = "(?is)<script([^>]*)>(.*?)</script>".r
  // an attribute named exactly `type` / `id`: preceded by whitespace or
  // the start of the attribute text, so `data-type=` is not `type=` (`\b`
  // would match there: `-` is a word boundary)
  private val typeAttrRe = "(?is)(?:^|\\s)type\\s*=\\s*[\"']([^\"']*)[\"']".r
  private val idAttrRe = "(?is)(?:^|\\s)id\\s*=\\s*[\"']([^\"']*)[\"']".r
  private val baseRe = "(?is)<base[^>]*href\\s*=\\s*[\"']([^\"']*)[\"']".r

  private def parseScript(content: String): Any =
    try Json.parse(content.trim)
    catch {
      case e: Exception =>
        throw JsonLdError(JsonLdError.InvalidScriptElement, String.valueOf(e.getMessage))
    }

  /** The `(id, body)` of every `application/ld+json` script element of
    * `html`, in document order: the type matched case-insensitively and
    * with or without parameters (`application/ld+json; charset=utf-8`),
    * attribute names in any case but whole (`data-type` is not `type`);
    * `id` is "" when the element has none.
    * Bodies are raw text, unparsed.
    */
  def scripts(html: String): Seq[(String, String)] =
    scriptRe.findAllMatchIn(html).flatMap { m =>
      val attrs = m.group(1)
      val tpe = typeAttrRe.findFirstMatchIn(attrs).map(_.group(1).trim.toLowerCase).getOrElse("")
      if (tpe == "application/ld+json" || tpe.startsWith("application/ld+json;")) {
        val id = idAttrRe.findFirstMatchIn(attrs).map(_.group(1)).getOrElse("")
        Some(id -> m.group(2))
      } else None
    }.toSeq

  /** @param fragment URL fragment targeting a script by element id ("" = none)
    * @param extractAllScripts merge every ld+json script into one array
    */
  def extract(html: String, fragment: String, extractAllScripts: Boolean): Extracted = {
    val baseHref = baseRe.findFirstMatchIn(html).map(_.group(1))

    val found = scripts(html)

    if (fragment != null && fragment.nonEmpty) {
      found.find(_._1 == fragment) match {
        case Some((_, body)) => Extracted(parseScript(body), baseHref)
        case None => throw JsonLdError(JsonLdError.LoadingDocumentFailed,
          s"no application/ld+json script with id $fragment")
      }
    } else if (extractAllScripts) {
      if (found.isEmpty)
        throw JsonLdError(JsonLdError.LoadingDocumentFailed, "no application/ld+json script elements")
      val out = Json.arr()
      found.foreach { case (_, body) =>
        parseScript(body) match {
          case a: Json.JArr @unchecked => out ++= a
          case other => out += other
        }
      }
      Extracted(out, baseHref)
    } else {
      found.headOption match {
        case Some((_, body)) => Extracted(parseScript(body), baseHref)
        case None => throw JsonLdError(JsonLdError.LoadingDocumentFailed,
          "no application/ld+json script elements")
      }
    }
  }
}
