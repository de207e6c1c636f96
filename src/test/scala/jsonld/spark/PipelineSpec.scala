package jsonld.spark

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.SparkSession
import jsonld.core._
import jsonld.core.Json._
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Pipeline E2E (north rule): embed the W3C toRdf fixture inputs as corpus
  * rows, run detect→expand→toRDF→URDNA2015 through the full Spark DAG on
  * local[*], and compare emitted quads per document against the expected
  * .nq files (canonicalized on both sides). Asserts triple P/R ≥ 0.95 and
  * per-row content-sha256 equality with the fixture source.
  */
class PipelineSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val testDir = Paths.get("src/test/resources/testsuite")
  private val baseIri = "https://w3c.github.io/json-ld-api/tests/"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("pipeline-spec")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def read(p: java.nio.file.Path) = new String(Files.readAllBytes(p), "UTF-8")

  /** toRdf suite tests usable as plain pipeline rows (positive, no special
    * options, not skipped by the reference).
    */
  private def pipelineFixtures(): Seq[(String, String, String)] = {
    val manifest = Json.parse(read(testDir.resolve("toRdf-manifest.jsonld"))).asInstanceOf[JObj]
    val skips = Seq("#tc032", "#tc033", "#tdi", "#te075", "#te111", "#te112", "#tjs",
      "#tec02", "#ter52", "#te123", "#tpr28", "#tpr38", "#tpr39", "#ttn02", "#tli12", "#tli14")
    manifest("sequence").asInstanceOf[JArr].flatMap { t =>
      val tm = t.asInstanceOf[JObj]
      val id = tm("@id").asInstanceOf[String]
      val types = tm("@type").asInstanceOf[JArr].map(String.valueOf(_))
      val opt = tm.getOrElse("option", null) match {
        case m: JObj @unchecked => m
        case _ => Json.obj()
      }
      val purpose = tm.getOrElse("purpose", "").asInstanceOf[String]
      if (types.contains("jld:PositiveEvaluationTest") &&
          !skips.exists(id.startsWith) && !purpose.contains("RFC3986") &&
          opt.getOrElse("specVersion", null) != "json-ld-1.0" &&
          !opt.contains("produceGeneralizedRdf") && !opt.contains("rdfDirection") &&
          !opt.contains("base") && !opt.contains("expandContext") &&
          !opt.contains("processingMode") && tm.contains("expect")) {
        Some((id, tm("input").asInstanceOf[String], tm("expect").asInstanceOf[String]))
      } else None
    }.toSeq
  }

  test("W3C toRdf fixtures through the Spark pipeline: P/R >= 0.95 + sha256 invariant") {
        val fixtures = pipelineFixtures()
    assert(fixtures.size > 250, s"expected a substantial fixture set, got ${fixtures.size}")

    // corpus rows: one file per fixture; content must be byte-identical to
    // the fixture source (sha256 invariant)
    val rows = fixtures.map { case (id, input, _) =>
      val content = read(testDir.resolve(input))
      (id, input, content, Detect.sha256Hex(content))
    }

    // broadcast remote-context cache: every suite file by its canonical URL
    val docs = mutable.HashMap.empty[String, String]
    Files.walk(testDir).iterator().asScala.foreach { p =>
      if (Files.isRegularFile(p))
        docs(baseIri + testDir.relativize(p).toString.replace('\\', '/')) = read(p)
    }
    val ctxCache = spark.sparkContext.broadcast(docs.toMap)

    val detected = rows.map { case (id, input, content, sha) =>
      DetectedDoc(docId = id, repo = "w3c", path = input, commit = "t",
        docIdx = 0, baseIri = baseIri + input, json = content, contentSha256 = sha)
    }

    // per-row invariant: content sha256 equality with the fixture source
    detected.foreach { d =>
      assert(d.contentSha256 == Detect.sha256Hex(docs(d.baseIri)), s"sha mismatch for ${d.docId}")
    }

    val counters = Pipeline.newCounters(spark)
    val ds = spark.createDataset(detected)(org.apache.spark.sql.Encoders.product[DetectedDoc])
      .repartition(8)
    val pipe = Pipeline.transformStage(ds, ctxCache, counters)
    val emitted = Pipeline.quads(pipe).collect()
    val quarantined = Pipeline.quarantine(pipe).collect()

    // expected quads: canonicalize the .nq fixture with the same algorithm
    val expected = mutable.HashMap.empty[String, Set[String]]
    fixtures.foreach { case (id, _, expect) =>
      val nq = read(testDir.resolve(expect))
      val canon =
        try new Canonicalizer("URDNA2015").canonicalLines(Rdf.parseNQuads(nq)).toSet
        catch { case _: Exception => Set.empty[String] }
      expected(id) = canon
    }

    // emitted quads back to canonical N-Quads lines per doc
    val emittedByDoc = emitted.groupBy(_.docId).map { case (id, qs) =>
      val lines = qs.map { q =>
        val obj: Rdf.RdfNode = q.objKind match {
          case QuadRow.KindIri => Rdf.RIri(q.obj)
          case QuadRow.KindBlank => Rdf.RBlank(q.obj)
          case _ => Rdf.RLiteral(q.obj, q.objDatatype, q.objLang)
        }
        val subj: Rdf.RdfNode = if (q.subj.startsWith("_:")) Rdf.RBlank(q.subj) else Rdf.RIri(q.subj)
        Rdf.toNQuad(Rdf.Quad(subj, Rdf.RIri(q.pred), obj, null), q.graph)
      }.toSet
      id -> lines
    }

    var tp = 0L; var emittedN = 0L; var expectedN = 0L
    var mismatches = List.empty[String]
    expected.foreach { case (id, exp) =>
      val got = emittedByDoc.getOrElse(id, Set.empty)
      val inter = exp.intersect(got).size
      tp += inter; emittedN += got.size; expectedN += exp.size
      if (inter != exp.size || inter != got.size) mismatches ::= id
    }
    val precision = if (emittedN == 0) 0.0 else tp.toDouble / emittedN
    val recall = if (expectedN == 0) 0.0 else tp.toDouble / expectedN
    info(f"pipeline P=$precision%.4f R=$recall%.4f over ${expected.size} docs, " +
      s"$emittedN emitted / $expectedN expected quads; quarantined=${quarantined.length}; " +
      s"mismatched docs: ${mismatches.take(8)}")
    assert(precision >= 0.95, s"precision $precision; mismatches: ${mismatches.take(10)}")
    assert(recall >= 0.95, s"recall $recall; mismatches: ${mismatches.take(10)}")
    assert(counters.docsOk.value > 250)
  }

  test("quarantine channel: malformed rows fail the row, not the job") {
        val counters = Pipeline.newCounters(spark)
    val ctxCache = spark.sparkContext.broadcast(Map.empty[String, String])
    val rows = Seq(
      DetectedDoc("good", "r", "a.jsonld", "c", 0, "graft://r/a",
        """{"@id": "http://ex.org/s", "http://ex.org/p": "v"}""", "x"),
      DetectedDoc("bad-json", "r", "b.jsonld", "c", 0, "graft://r/b", """{"@id": broken""", "x"),
      DetectedDoc("bad-keyword", "r", "c.jsonld", "c", 0, "graft://r/c",
        """{"@id": "http://ex.org/s", "@value": "v", "http://ex.org/p": "x"}""", "x"))
    val pipe = Pipeline.transformStage(spark.createDataset(rows)(org.apache.spark.sql.Encoders.product[DetectedDoc]), ctxCache, counters)
    val quads = Pipeline.quads(pipe).collect()
    val errs = Pipeline.quarantine(pipe).collect()
    assert(quads.map(_.docId).toSet == Set("good"))
    assert(errs.map(e => (e.docId, e.errorCode)).toSet ==
      Set(("bad-json", "invalid input"), ("bad-keyword", "invalid value object")))
  }

  test("canonicalization budget quarantines an adversarial bnode clique in bounded time") {
    // a fully-connected blank-node clique: every node's first-degree hash is
    // identical, so URDNA2015's hash-n-degree step faces factorial
    // permutations — without a budget this stalls an executor for hours; the
    // budget must route the DOCUMENT to quarantine and keep the job alive
    val n = 10
    val nodes = (0 until n).map { i =>
      val others = (0 until n).filter(_ != i).map(j => s"""{"@id": "_:b$j"}""").mkString(",")
      s"""{"@id": "_:b$i", "http://ex.org/p": [$others]}"""
    }.mkString(",")
    val clique = s"""{"@graph": [$nodes]}"""

    val counters = Pipeline.newCounters(spark)
    val ctxCache = spark.sparkContext.broadcast(Map.empty[String, String])
    val rows = Seq(
      DetectedDoc("adversarial", "r", "evil.jsonld", "c", 0, "graft://r/evil", clique, "x"),
      DetectedDoc("good", "r", "ok.jsonld", "c", 0, "graft://r/ok",
        """{"@id": "http://ex.org/s", "http://ex.org/p": "v"}""", "x"))
    val t0 = System.nanoTime()
    val pipe = Pipeline.transformStage(
      spark.createDataset(rows)(org.apache.spark.sql.Encoders.product[DetectedDoc]),
      ctxCache, counters, maxPermutations = 500L)
    val quads = Pipeline.quads(pipe).collect()
    val errs = Pipeline.quarantine(pipe).collect()
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs < 60.0, f"budget did not bound the clique: $secs%.1f s")
    assert(quads.map(_.docId).toSet == Set("good"), "healthy doc must still emit")
    assert(errs.map(e => (e.docId, e.errorCode)).toSeq ==
      Seq(("adversarial", JsonLdError.CanonicalizationBudgetExceeded)), errs.toSeq)
    // >=1, not ==1: the two collects above each re-run the transform, and
    // accumulators in transformations re-count per action (same reason the
    // bench counts the written table, not the accumulator)
    assert(counters.docsFailed.value >= 1L)
  }

  test("a 500-deep document is quarantined for its nesting; the job survives") {
    val depth = 500
    val deep = """{"@context": {"@vocab": "http://ex.org/"}, "@id": "http://ex.org/root", "p": """ +
      """{"p": """ * depth + "\"leaf\"" + "}" * depth + "}"
    val counters = Pipeline.newCounters(spark)
    val ctxCache = spark.sparkContext.broadcast(Map.empty[String, String])
    val rows = Seq(
      DetectedDoc("deep", "r", "deep.jsonld", "c", 0, "graft://r/deep", deep, "x"),
      DetectedDoc("good", "r", "ok.jsonld", "c", 0, "graft://r/ok",
        """{"@id": "http://ex.org/s", "http://ex.org/p": "v"}""", "x"))
    val pipe = Pipeline.transformStage(
      spark.createDataset(rows)(org.apache.spark.sql.Encoders.product[DetectedDoc]),
      ctxCache, counters)
    val quads = Pipeline.quads(pipe).collect()
    val errs = Pipeline.quarantine(pipe).collect()
    assert(quads.map(_.docId).toSet == Set("good"))
    assert(errs.map(e => (e.docId, e.errorCode)).toSeq ==
      Seq(("deep", JsonLdError.NestingTooDeep)), errs.toSeq)
    assert(!spark.sparkContext.isStopped)
  }

  test("lineage rows aggregate per partition") {
        val counters = Pipeline.newCounters(spark)
    val ctxCache = spark.sparkContext.broadcast(Map.empty[String, String])
    val rows = (0 until 50).map { i =>
      DetectedDoc(s"d$i", "r", s"f$i.jsonld", "c", 0, s"graft://r/f$i",
        s"""{"@id": "http://ex.org/s$i", "http://ex.org/p": "v$i"}""", "x")
    }
    val pipe = Pipeline.transformStage(spark.createDataset(rows)(org.apache.spark.sql.Encoders.product[DetectedDoc]).repartition(4), ctxCache, counters)
    val lin = Pipeline.lineage(pipe).collect()
    assert(lin.map(_.getAs[Long]("quadsOut")).sum == 50L)
    assert(lin.length >= 1)
  }

  /** 60 documents, 20 distinct quads over 3 predicates: duplicates across
    * docs AND within the same write bucket.
    */
  private def duplicatedQuads(): org.apache.spark.sql.Dataset[QuadRow] = {
    val counters = Pipeline.newCounters(spark)
    val ctxCache = spark.sparkContext.broadcast(Map.empty[String, String])
    val rows = (0 until 60).map { i =>
      DetectedDoc(s"d$i", "r", s"f$i.jsonld", "c", 0, s"graft://r/f$i",
        s"""{"@id": "http://ex.org/s${i % 20}", "http://ex.org/p${(i % 20) % 3}": "v${i % 20}"}""", "x")
    }
    val pipe = Pipeline.transformStage(
      spark.createDataset(rows)(org.apache.spark.sql.Encoders.product[DetectedDoc]).repartition(4),
      ctxCache, counters)
    Pipeline.quads(pipe)
  }

  private def sortedQuads(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select("subj", "pred", "obj", "objKind", "objDatatype", "objLang", "graph")
      .collect().map(_.toSeq.mkString("|")).sorted.toSeq

  /** Parquet data files per `predBucket=` directory of a written graph. */
  private def filesPerBucket(out: String): Map[String, Int] =
    Files.list(Paths.get(out)).iterator().asScala
      .filter(d => Files.isDirectory(d) && d.getFileName.toString.startsWith("predBucket="))
      .map { d =>
        d.getFileName.toString -> Files.list(d).iterator().asScala
          .count(_.getFileName.toString.endsWith(".parquet"))
      }.toMap

  /** Runs `body` with AQE's partition coalescing off, so each reduce task
    * of the exchange writes its own files.
    */
  private def withoutCoalescing[T](body: => T): T = {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("fused dedupAndWritePartitioned equals dropDuplicates-then-write, with one shuffle") {
    val quads = duplicatedQuads()
    val expected = sortedQuads(Pipeline.dedupQuads(quads))
    assert(expected.size == 20, s"fixture should dedup 60 → 20, got ${expected.size}")

    val out = Files.createTempDirectory("fused").toString
    Pipeline.dedupAndWritePartitioned(quads, out, buckets = 8)
    assert(sortedQuads(spark.read.parquet(out)) == expected,
      "fused path must produce the exact dedup set")
  }

  test("buckets >= shuffle partitions: each non-empty predicate bucket is written as one parquet file") {
    val quads = duplicatedQuads()
    val expected = sortedQuads(Pipeline.dedupQuads(quads))
    val out = Files.createTempDirectory("onefile").toString
    // 8 buckets and 8 shuffle partitions: no subject salt, so a bucket
    // cannot be split over reduce tasks even when none of them is coalesced
    withoutCoalescing(Pipeline.dedupAndWritePartitioned(quads, out, buckets = 8))
    val files = filesPerBucket(out)
    assert(files.nonEmpty && files.values.forall(_ == 1), files)
    assert(sortedQuads(spark.read.parquet(out)) == expected)
  }

  test("shuffle partitions > buckets: the subject salt spreads buckets and keeps the exact dedup set") {
    val quads = duplicatedQuads()
    val expected = sortedQuads(Pipeline.dedupQuads(quads))
    val out = Files.createTempDirectory("salted").toString
    // 2 buckets and 8 shuffle partitions: 16 salt values per bucket
    withoutCoalescing(Pipeline.dedupAndWritePartitioned(quads, out, buckets = 2))
    val files = filesPerBucket(out)
    assert(files.values.sum > files.size, s"no bucket was split over reduce tasks: $files")
    assert(sortedQuads(spark.read.parquet(out)) == expected)
  }

  test("the subject salt follows spark.sql.shuffle.partitions, not the cores") {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    def salts(partitions: Int, buckets: Int): Int = {
      spark.conf.set(key, partitions.toString)
      Pipeline.subjectSalts(spark, buckets)
    }
    try {
      assert(salts(12, 32) == 1)
      assert(salts(32, 32) == 1)
      assert(salts(33, 32) == 16)
      assert(salts(64, 32) == 16)
      // local[4] has 4 cores; one shuffle partition still means no salt
      assert(salts(1, 2) == 1)
      assert(salts(8, 2) == 16)
    } finally spark.conf.set(key, prev)
  }

  test("incrementalCorpus keeps only new files and content changes") {
    val sp = spark; import sp.implicits._
    import org.apache.spark.sql.functions._
    val corpus = spark.createDataset(Seq(
      RepoFile("r", "a.jsonld", "c2", "jsonld", "unchanged"),
      RepoFile("r", "b.jsonld", "c2", "jsonld", "edited-v2"),
      RepoFile("r", "c.jsonld", "c2", "jsonld", "brand-new")))(
      org.apache.spark.sql.Encoders.product[RepoFile])
    // prior manifest: a with its CURRENT hash (skip), b with a STALE hash
    // (reprocess), c absent (reprocess)
    val prev = corpus.toDF().filter(col("path") === "a.jsonld")
      .select(col("path"), sha2(col("content"), 256).as("content_sha256"))
      .union(Seq(("b.jsonld", "stale-hash")).toDF("path", "content_sha256"))
    val got = Pipeline.incrementalCorpus(corpus, prev).collect().map(_.path).toSet
    assert(got == Set("b.jsonld", "c.jsonld"))
  }
}
