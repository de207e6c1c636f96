package jsonld.spark

import jsonld.core.HtmlExtract

/** Embedded JSON-LD detection — the pipeline's generator stage.
  *
  * The reference processes whole documents; a source-repo corpus instead
  * holds files that *embed* JSON-LD: .jsonld/.json bodies, HTML
  * `<script type="application/ld+json">` islands, and manifest-style JSON
  * with @context/@graph markers. Detection is deliberately a separate,
  * cheap, narrow stage placed before the expensive expansion stage —
  * Catalyst cannot see inside closures, so stage ordering is our
  * responsibility (SURVEY.md §4.2).
  */
object Detect extends Serializable {

  /** Cheap pre-filter predicate, usable as a Column expression upstream:
    * content must mention a JSON-LD keyword or the file must look like JSON.
    */
  def cheapSignal(lang: String, path: String, content: String): Boolean = {
    if (content == null || content.isEmpty) return false
    val l = if (lang == null) "" else lang.toLowerCase
    if (l == "jsonld" || path.endsWith(".jsonld")) return true
    content.contains("@context") || content.contains("@graph") ||
      (content.contains("@id") && content.contains("@type")) ||
      content.contains(IslandType) ||
      // HtmlExtract.scripts matches the type in any case: so does the signal
      (isHtml(l, path) && containsIgnoreCase(content, IslandType))
  }

  private val IslandType = "application/ld+json"

  /** An html file; `lang` is lower-cased. */
  private def isHtml(lang: String, path: String): Boolean =
    lang == "html" || path.endsWith(".html") || path.endsWith(".htm")

  /** `needle` occurs in `s` in any case: a region match per start, `s`
    * is not copied.
    */
  private def containsIgnoreCase(s: String, needle: String): Boolean =
    (0 to s.length - needle.length).exists(s.regionMatches(true, _, needle, 0, needle.length))

  /** Extract 0..n candidate JSON-LD documents from one file. Pure; returns
    * raw JSON strings — parsing/validation happens in the transform stage so
    * detection stays cheap.
    */
  def detect(f: RepoFile): Iterator[DetectedDoc] = {
    if (!cheapSignal(f.lang, f.path, f.content)) return Iterator.empty
    val base = s"graft://${f.repo}/${f.path}"
    val lower = if (f.lang == null) "" else f.lang.toLowerCase

    val candidates: Seq[String] =
      if (isHtml(lower, f.path)) {
        HtmlExtract.scripts(f.content).map(_._2)
      } else if (lower == "jsonld" || lower == "json" ||
                 f.path.endsWith(".jsonld") || f.path.endsWith(".json")) {
        Seq(f.content)
      } else {
        // source files: only extract when the whole body parses as JSON
        // with JSON-LD markers (manifest-style); skip everything else
        val t = f.content.trim
        if ((t.startsWith("{") || t.startsWith("[")) &&
            (t.contains("@context") || t.contains("@graph"))) Seq(t)
        else Seq.empty
      }

    candidates.iterator.zipWithIndex.flatMap { case (json, idx) =>
      val t = json.trim
      if (t.isEmpty || !(t.startsWith("{") || t.startsWith("["))) Iterator.empty
      else Iterator.single(DetectedDoc(
        // short commit keeps the id unique per snapshot while saving ~50
        // bytes on every downstream quad row (docId rides the shuffle)
        docId = s"${f.repo}/${f.path}@${f.commit.take(12)}#$idx",
        repo = f.repo, path = f.path, baseIri = base, json = t))
    }
  }
}
