package graft.ops

import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{Metadata, StructType}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import jsonld.spark.{CorpusIO, Pipeline, QuadRow}

/** Read-side bucket pruning over a written, predicate-bucketed graph:
  * every query class returns the same rows whether the graph's schema
  * carries its bucket count (constant predicates pruned to their
  * buckets) or not (every bucket scanned), and `Pipeline.bucketOf` names
  * the directory each predicate was written to.
  */
class BucketPruningSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var dir: Path = _
  private var q: Dataset[QuadRow] = _
  private val Buckets = 8

  private val V = "urn:v:"
  private val Xsd = "http://www.w3.org/2001/XMLSchema#integer"
  // non-ASCII predicates: the bucket hash runs over UTF-8 bytes
  private val Naive = "http://example.org/vocab#naïve"
  private val Name = "urn:日本語:名前"
  private val Emoji = "http://example.org/😀/likes"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def iri(s: String, p: String, o: String, g: String = "") =
      QuadRow("d", s, p, o, 0.toByte, "", "", g)
    def literal(s: String, p: String, o: String, dt: String, g: String = "") =
      QuadRow("d", s, p, o, 1.toByte, dt, "", g)
    val items = (0 until 60).flatMap { i =>
      val s = s"urn:item:$i"
      val g = Seq("", "urn:g:a", "urn:g:b")(i % 3)
      Seq(
        iri(s, V + "kind", s"urn:kind:${i % 4}"),
        iri(s, V + "group", s"urn:group:${i % 5}"),
        literal(s, V + "score", (i * 7 % 50).toString, Xsd, g),
        iri(s, V + "parent", s"urn:item:${i / 2}")) ++
        (if (i % 2 == 0) Seq(literal(s, V + "label", s"item $i", "")) else Nil) ++
        (if (i % 3 == 0) Seq(literal(s, Naive, s"naïve $i", "", g)) else Nil) ++
        (if (i % 4 == 0) Seq(literal(s, Name, s"名前 $i", "", g)) else Nil) ++
        (if (i % 5 == 0) Seq(iri(s, Emoji, s"urn:item:${(i + 1) % 60}")) else Nil)
    }
    q = spark.createDataset(items ++ items.take(10))(Encoders.product[QuadRow])
    dir = Files.createTempDirectory("bucket-pruning").resolve("graph")
    CorpusIO.writeTriples(Pipeline.dedupForWrite(q, Buckets), dir.toString, Buckets)
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** The bucket count the schema of the graph at `d` carries on `pred`. */
  private def countAt(d: Path): Option[Int] = {
    val m = spark.read.parquet(d.toString).schema("pred").metadata
    if (m.contains(Pipeline.BucketsKey)) Some(m.getLong(Pipeline.BucketsKey).toInt) else None
  }

  /** The graph read with its footer schema (`counted`), or with that
    * schema stripped of all metadata, so it carries no bucket count.
    */
  private def read(d: Path, counted: Boolean): DataFrame =
    if (counted) spark.read.parquet(d.toString)
    else {
      val schema = spark.read.parquet(d.toString).schema
      spark.read.schema(StructType(schema.map(_.copy(metadata = Metadata.empty)))).parquet(d.toString)
    }

  /** The graph as a query client reads it (no `predBucket` column). */
  private def triples: DataFrame = triplesAt(dir)
  private def triplesAt(d: Path, counted: Boolean = true): DataFrame = read(d, counted)
    .select(col("subj"), col("pred"), col("obj"), col("objDatatype").as("dt"))
  private def quadsG(counted: Boolean): DataFrame = read(dir, counted)
    .select(col("subj"), col("pred"), col("obj"), col("objDatatype").as("dt"), col("graph"))

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case s: QueryStageExec => scans(s.plan)
    case f: FileSourceScanExec => Seq(f)
    case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
  }

  /** Sorted rows and whether any file scan carried a partition filter. */
  private def run(graph: => DataFrame, text: String): (Seq[String], Boolean) = {
    val df = GraphOps.query(graph, text)
    val rows = df.collect().map(_.toSeq.mkString("|")).toSeq.sorted
    (rows, scans(df.queryExecution.executedPlan).exists(_.partitionFilters.nonEmpty))
  }

  // (name, graph read with or without its count, query, pruned with the count)
  private lazy val cases: Seq[(String, Boolean => DataFrame, String, Boolean)] = Seq(
    ("star", triplesAt(dir, _),
      s"""SELECT ?g (COUNT(?s) AS ?n) (SUM(?x) AS ?t) WHERE {
         |  ?s <${V}kind> <urn:kind:1> . ?s <${V}group> ?g . ?s <${V}score> ?x
         |} GROUP BY ?g""".stripMargin, true),
    ("topk", triplesAt(dir, _),
      s"SELECT ?s ?x WHERE { ?s <${V}group> <urn:group:2> . ?s <${V}score> ?x } " +
        "ORDER BY DESC(?x) ?s LIMIT 5", true),
    ("range", triplesAt(dir, _),
      s"SELECT ?s WHERE { ?s <${V}score> ?x . FILTER(?x >= 10 && ?x < 30) }", true),
    ("ask true", triplesAt(dir, _), s"ASK { <urn:item:7> <${V}group> <urn:group:2> }", true),
    ("ask false", triplesAt(dir, _), s"ASK { <urn:item:7> <${V}group> <urn:group:3> }", true),
    ("alternation", triplesAt(dir, _), s"SELECT ?s ?o WHERE { ?s <${V}label>|<$Naive> ?o }", true),
    ("non-ASCII predicate", triplesAt(dir, _), s"SELECT ?s ?o WHERE { ?s <$Name> ?o . ?s <$Emoji> ?t }", true),
    ("negated set", triplesAt(dir, _), s"SELECT ?s ?o WHERE { ?s !<${V}score> ?o }", false),
    ("variable predicate", triplesAt(dir, _), "SELECT ?p ?o WHERE { <urn:item:4> ?p ?o }", false),
    // `pred` here is the stored object column: its values are not bucketed
    ("swapped pred column", c => triplesAt(dir, c).select(col("subj"), col("obj").as("pred"),
      col("pred").as("obj"), col("dt")), s"SELECT ?s ?p WHERE { ?s <urn:kind:1> ?p }", false),
    ("one-or-more path", triplesAt(dir, _), s"SELECT ?a ?b WHERE { ?a <${V}parent>+ ?b }", false),
    ("optional", triplesAt(dir, _),
      s"SELECT ?s ?l WHERE { ?s <${V}kind> <urn:kind:2> OPTIONAL { ?s <${V}label> ?l } }", true),
    ("minus", triplesAt(dir, _),
      s"SELECT ?s WHERE { ?s <${V}kind> <urn:kind:0> MINUS { ?s <${V}group> <urn:group:0> } }", true),
    ("graph", quadsG, s"SELECT ?g ?s ?o WHERE { GRAPH ?g { ?s <$Name> ?o } }", true),
    ("from", quadsG, s"SELECT ?s ?o FROM <urn:g:a> WHERE { ?s <${V}score> ?o }", true))

  test("every query class returns the same rows with the bucket count and without it") {
    assert(countAt(dir).contains(Buckets), "writeTriples must record the bucket count in the schema")
    val counted = cases.map { case (n, g, q, _) => n -> run(g(true), q) }
    val uncounted = cases.map { case (n, g, q, _) => n -> run(g(false), q) }
    cases.zip(counted.zip(uncounted)).foreach { case ((name, _, _, prunes), ((_, m), (_, u))) =>
      assert(m._1 == u._1, s"$name: rows differ with the count")
      assert(m._1.nonEmpty, s"$name: no rows, the comparison shows nothing")
      assert(m._2 == prunes, s"$name: partition filter with the count = ${m._2}, expected $prunes")
      assert(!u._2, s"$name: pruned without a count")
    }
  }

  test("Pipeline.bucketOf names the predBucket directory of every written predicate") {
    val written = spark.read.parquet(dir.toString).select("pred", "predBucket").distinct()
      .collect().map(r => r.getString(0) -> r.getInt(1)).toSeq
    assert(written.map(_._1).toSet.contains(Name) && written.map(_._1).toSet.contains(Emoji))
    written.foreach { case (p, k) =>
      assert(Pipeline.bucketOf(p, Buckets) == k, s"$p written to bucket $k")
      assert(Files.isDirectory(dir.resolve(s"predBucket=$k")))
    }
    assert(countAt(dir).contains(Buckets))
  }

  test("a cached graph is read from the cache, not pruned to its files") {
    val cached = triples.cache()
    try {
      val text = s"SELECT ?s ?x WHERE { ?s <${V}score> ?x }"
      val df = GraphOps.query(cached, text)
      assert(df.collect().length == 60)
      assert(scans(df.queryExecution.executedPlan).isEmpty,
        s"a pattern bypassed the cache:\n${df.queryExecution.executedPlan}")
    } finally cached.unpersist()
  }

  test("the schema holds the bucket count predBucket was computed with, not writeTriples' argument") {
    val root = Files.createTempDirectory("bucket-count")
    // predBucket computed with 4 buckets, written with the default argument (64)
    val four = root.resolve("four")
    CorpusIO.writeTriples(Pipeline.dedupForWrite(q, 4), four.toString)
    assert(countAt(four).contains(4))
    Seq(s"SELECT ?s ?x WHERE { ?s <${V}score> ?x }",
        s"SELECT ?s ?o WHERE { ?s <${V}label>|<$Naive> ?o }",
        s"SELECT ?s ?o WHERE { ?s <$Name> ?o . ?s <$Emoji> ?t }").foreach { text =>
      val (rows, pruned) = run(triplesAt(four), text)
      assert(pruned, s"not pruned over the 4-bucket graph: $text")
      assert(rows.nonEmpty && rows == run(triples, text)._1, s"rows differ over the 4-bucket graph: $text")
    }
    // a predBucket of unknown origin leaves the graph without a count
    val own = root.resolve("own")
    CorpusIO.writeTriples(q.toDF().drop("docId")
      .withColumn("predBucket", pmod(hash(col("pred")), lit(4))), own.toString, 4)
    assert(countAt(own).isEmpty)
    assert(!run(triplesAt(own), s"SELECT ?s ?x WHERE { ?s <${V}score> ?x }")._2)
  }

  test("a graph read back and re-bucketed by hand keeps no stale count") {
    val rebucketed = Files.createTempDirectory("bucket-stale").resolve("graph")
    // `pred` read back carries the count 8; the new predBucket is not 8-way
    CorpusIO.writeTriples(spark.read.parquet(dir.toString)
      .withColumn("predBucket", pmod(hash(col("pred")), lit(4))), rebucketed.toString, 4)
    assert(countAt(rebucketed).isEmpty)
    Seq(s"SELECT ?s ?x WHERE { ?s <${V}score> ?x }",
        s"SELECT ?s ?o WHERE { ?s <$Name> ?o . ?s <$Emoji> ?t }").foreach { text =>
      val (rows, pruned) = run(triplesAt(rebucketed), text)
      assert(!pruned, s"pruned with a stale count: $text")
      assert(rows.nonEmpty && rows == run(triples, text)._1, s"rows differ over the re-bucketed graph: $text")
    }
  }

  test("a read of two graph roots is scanned whole and returns the rows of both") {
    val four = Files.createTempDirectory("bucket-two-roots").resolve("four")
    val other = q.map(r => r.copy(subj = r.subj.replace("urn:item:", "urn:other:")))(Encoders.product[QuadRow])
    CorpusIO.writeTriples(Pipeline.dedupForWrite(other, 4), four.toString, 4)
    assert(countAt(four).contains(4))
    // Spark reads two partitioned roots as one frame only with this set;
    // otherwise it refuses their "conflicting directory structures"
    val ignore = "spark.sql.files.ignoreInvalidPartitionPaths"
    spark.conf.set(ignore, "true")
    try {
      val both = spark.read.parquet(dir.toString, four.toString)
        .select(col("subj"), col("pred"), col("obj"), col("objDatatype").as("dt"))
      Seq(s"SELECT ?s ?x WHERE { ?s <${V}score> ?x }",
          s"SELECT ?s ?o WHERE { ?s <${V}label>|<$Naive> ?o }").foreach { text =>
        val (rows, pruned) = run(both, text)
        assert(!pruned, s"pruned over two roots: $text")
        val expected = (run(triples, text)._1 ++ run(triplesAt(four), text)._1).sorted
        assert(rows == expected, s"rows differ over two roots: $text")
        assert(rows.exists(_.contains("urn:other:")) && rows.exists(_.contains("urn:item:")))
      }
    } finally spark.conf.unset(ignore)
  }
}
