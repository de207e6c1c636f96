package jsonld.spark

/** Typed Dataset spine of the KG-construction pipeline (SURVEY.md §1.2).
  * Input shape is fixed by the corpus contract:
  * (repo, path, commit, lang, content).
  */
final case class RepoFile(
    repo: String,
    path: String,
    commit: String,
    lang: String,
    content: String)

/** One embedded JSON-LD document detected inside a repo file.
  * docId = s"$repo/$path@$commit12#$i" (the commit's first 12 characters,
  * the document's index within its file) — globally unique, deterministic.
  * baseIri is the document's base for relative IRI resolution.
  */
final case class DetectedDoc(
    docId: String,
    repo: String,
    path: String,
    baseIri: String,
    json: String)

/** One RDF quad, canonical blank-node labels (_:c14nN) already applied.
  * objKind: 0 = IRI, 1 = blank node, 2 = literal.
  * graph "" = default graph. Literal values are lexical strings; datatype
  * IRIs stay strings (never coerced to Spark native types — canonical XSD
  * forms are load-bearing).
  */
final case class QuadRow(
    docId: String,
    subj: String,
    pred: String,
    obj: String,
    objKind: Byte,
    objDatatype: String,
    objLang: String,
    graph: String)

object QuadRow {
  val KindIri: Byte = 0
  val KindBlank: Byte = 1
  val KindLiteral: Byte = 2
}

/** Per-document error row (quarantine channel). The reference fails the
  * whole document on a spec error; at corpus scale we fail the row and keep
  * the spec error code (jsonld.core.JsonLdError).
  */
final case class ErrorRow(
    docId: String,
    repo: String,
    path: String,
    stage: String,
    errorCode: String,
    message: String)
