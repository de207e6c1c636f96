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
  * docId = s"$repo/$path@$commit#$docIdx" — globally unique, deterministic.
  * baseIri is the document's base for relative IRI resolution.
  */
final case class DetectedDoc(
    docId: String,
    repo: String,
    path: String,
    commit: String,
    docIdx: Int,
    baseIri: String,
    json: String,
    contentSha256: String)

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

object Schemas {
  import org.apache.spark.sql.types._

  /** Row schema of the materialized graph (QuadRow minus docId), with the
    * trailing predBucket partition column when `withBucket`.
    */
  def graphQuadSchema(withBucket: Boolean): StructType = {
    val base = StructType(Seq(
      StructField("subj", StringType, nullable = true),
      StructField("pred", StringType, nullable = true),
      StructField("obj", StringType, nullable = true),
      StructField("objKind", ByteType, nullable = true),
      StructField("objDatatype", StringType, nullable = true),
      StructField("objLang", StringType, nullable = true),
      StructField("graph", StringType, nullable = true)))
    if (withBucket) base.add(StructField("predBucket", IntegerType, nullable = true)) else base
  }
}
