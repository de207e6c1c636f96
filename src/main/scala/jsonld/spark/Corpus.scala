package jsonld.spark

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic corpus synthesis over the driver-provided `documents`
  * table — the pipeline's `(repo, path, commit, lang, content)` input is
  * built entirely with codegen'd column expressions (`to_json` over
  * `named_struct`), no UDFs, so corpus construction itself scales like a
  * projection.
  *
  * The JSON-LD shape is chosen so the emitted quads are predictable row
  * functions of the source table — that makes the whole
  * detect→expand→toRDF→c14n pipeline verifiable against a SQL oracle.
  */
object Corpus {

  val Vocab = "http://graft.example/vocab#"
  val DocNs = "http://graft.example/doc/"

  def documents(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/documents.parquet")

  /** Flat documents → one JSON-LD doc per row, no blank nodes.
    * Quads per doc: rdf:type Document, vocab#text, vocab#lang,
    * vocab#source, vocab#chars (xsd:integer).
    */
  def corpusFlat(spark: SparkSession, sfDir: String): Dataset[RepoFile] = {
    import spark.implicits._
    documents(spark, sfDir).select(
      concat(lit("org"), (col("doc_id") % 100).cast("string")).as("repo"),
      concat(lit("docs/doc"), col("doc_id"), lit(".jsonld")).as("path"),
      sha2(concat(lit("commit:"), col("doc_id")), 256).as("commit"),
      lit("jsonld").as("lang"),
      to_json(struct(
        struct(lit(Vocab).as("@vocab")).as("@context"),
        concat(lit(DocNs), col("doc_id")).as("@id"),
        lit("Document").as("@type"),
        col("text").as("text"),
        col("lang").as("lang"),
        col("source").as("source"),
        col("n_chars").as("chars")
      )).as("content")
    ).as[RepoFile]
  }

  /** Documents with a nested, @id-less author node — exercises blank-node
    * issuance + URDNA2015 relabeling (every doc's single author bnode
    * canonicalizes to _:c14n0, which keeps the output SQL-predictable).
    */
  def corpusWithAuthors(spark: SparkSession, sfDir: String): Dataset[RepoFile] = {
    import spark.implicits._
    documents(spark, sfDir).select(
      concat(lit("org"), (col("doc_id") % 100).cast("string")).as("repo"),
      concat(lit("authored/doc"), col("doc_id"), lit(".jsonld")).as("path"),
      sha2(concat(lit("commit:"), col("doc_id")), 256).as("commit"),
      lit("jsonld").as("lang"),
      to_json(struct(
        struct(lit(Vocab).as("@vocab")).as("@context"),
        concat(lit(DocNs), col("doc_id")).as("@id"),
        struct(
          concat(lit("Author "), (col("doc_id") % 7).cast("string")).as("name")
        ).as("author")
      )).as("content")
    ).as[RepoFile]
  }

  /** corpusFlat with deterministically injected malformed rows
    * (doc_id % 17 == 3 → truncated JSON) — exercises the quarantine
    * channel: the pipeline must fail the row, not the job.
    */
  def corpusWithNoise(spark: SparkSession, sfDir: String): Dataset[RepoFile] = {
    import spark.implicits._
    val flat = corpusFlat(spark, sfDir).toDF()
    val docId = regexp_extract(col("path"), "doc(\\d+)\\.jsonld", 1).cast("long")
    flat.withColumn("content",
      when(docId % 17 === 3, lit("{\"@context\": {broken"))
        .otherwise(col("content")))
      .as[RepoFile]
  }

  /** Bench-shaped corpus: richer documents (~50 quads each) with a tag
    * list and 8 nested @id-less section nodes — realistic per-document
    * work including multi-blank-node URDNA2015 (distinct first-degree
    * hashes, so no factorial paths).
    *
    * Built over an arbitrary documents frame, which lets the bench
    * replicate the documents table (with renumbered doc_ids) BEFORE corpus
    * synthesis, so every replica is a fully distinct document and corpus
    * dedup keeps all quads (a real 10^12-file corpus is not 20 copies of
    * one file). Every emitted quad embeds doc_id in its subject or its
    * object, so the global quad set size equals the per-doc sum.
    */
  def corpusHeavyFrom(spark: SparkSession, docs: DataFrame): Dataset[RepoFile] = {
    import spark.implicits._
    docs.select(
      concat(lit("org"), (col("doc_id") % 100).cast("string")).as("repo"),
      concat(lit("heavy/doc"), col("doc_id"), lit(".jsonld")).as("path"),
      sha2(concat(lit("commit:"), col("doc_id")), 256).as("commit"),
      lit("jsonld").as("lang"),
      to_json(struct(
        struct(lit(Vocab).as("@vocab")).as("@context"),
        concat(lit(DocNs), col("doc_id")).as("@id"),
        lit("Document").as("@type"),
        col("text").as("text"),
        col("lang").as("lang"),
        col("source").as("source"),
        col("n_chars").as("chars"),
        transform(sequence(lit(0), lit(9)),
          i => concat(lit("tag"), pmod(col("doc_id") + i, lit(50)))).as("tags"),
        transform(sequence(lit(0), lit(7)), i => struct(
          concat(lit("section-"), col("doc_id"), lit("-"), i).as("name"),
          // globally unique value/body: blank-node subjects carry per-doc
          // canonical labels (_:c14nX) that repeat across documents, so any
          // (label, pred, obj) collision would conflate under corpus-level
          // quad dedup and skew the bench's written-quad count
          (col("doc_id") * 8 + i).as("value"),
          concat(lit("body "), col("doc_id"), lit(" "),
            substring(col("text"), (i * 16 + 1).cast("int"), lit(64))).as("body")
        )).as("sections")
      )).as("content")
    ).as[RepoFile]
  }

  /** Inline vocabulary dictionary for entity linking (broadcast side). */
  def vocabDictionary(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      (Vocab + "text", "Text", "graft"),
      (Vocab + "lang", "Language", "graft"),
      (Vocab + "source", "Source", "graft"),
      (Vocab + "chars", "CharacterCount", "graft"),
      (Vocab + "author", "Author", "graft"),
      (Vocab + "name", "Name", "graft"),
      ("http://www.w3.org/1999/02/22-rdf-syntax-ns#type", "Type", "rdf")
    ).toDF("iri", "label", "prefix")
  }
}
