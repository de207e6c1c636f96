package jsonld.spark

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.execution.FileSourceScanExec
import java.nio.file.{Files, Paths}

/** Checkpoint/resume: a second driver run over the same work dir must skip
  * all completed stages and still return the same graph.
  */
class ResumableSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("runResumable checkpoints every stage and resumes without recompute") {
    val work = Files.createTempDirectory("graft-resume").toString
    val rows = (0 until 30).map { i =>
      RepoFile(s"org$i", s"doc$i.jsonld", "c0", "jsonld",
        s"""{"@id": "http://ex.org/doc/$i", "http://ex.org/p": "v$i", "http://ex.org/q": $i}""")
    }
    // five fork copies repeat their originals' quads: the graph dedups them
    val forks = rows.take(5).map(_.copy(repo = "fork"))
    val corpus = spark.createDataset(rows ++ forks)(Encoders.product[RepoFile])
    val ctx = spark.sparkContext.broadcast(Map.empty[String, String])

    val first = Pipeline.runResumable(spark, corpus, work, ctx, buckets = 8)
    val n1 = first.count()
    assert(n1 == 60) // two quads per doc
    Seq("stage1_detected", "stage2_transformed", "quarantine", "lineage", "graph")
      .foreach { s => assert(CorpusIO.stageDone(spark, s"$work/$s"), s"missing marker for $s") }
    // the graph is written once, by the fused dedup/write: no stage copies
    // the deduped quads before it
    assert(!Files.exists(Paths.get(s"$work/stage3_quads")))

    // the returned graph has the 7 quad columns and exactly the quad set
    // a plain dropDuplicates of the transform output gives
    val quadCols = Seq("subj", "pred", "obj", "objKind", "objDatatype", "objLang", "graph")
    assert(first.columns.toSeq == quadCols)
    def quadSet(df: DataFrame): Seq[String] =
      df.select(quadCols.map(col): _*)
        .collect().map(_.toSeq.mkString("|")).sorted.toSeq
    val transformed = spark.read.parquet(s"$work/stage2_transformed")
      .filter("ok").select(quadCols.map(col): _*)
    assert(transformed.count() == 70)
    assert(quadSet(first) == quadSet(transformed.dropDuplicates()))

    // resume with an EMPTY corpus: if stages were recomputed the result
    // would be empty; the checkpointed outputs must win
    val emptyCorpus = spark.createDataset(Seq.empty[RepoFile])(Encoders.product[RepoFile])
    val second = Pipeline.runResumable(spark, emptyCorpus, work, ctx, buckets = 8)
    assert(second.count() == n1)

    // the materialized graph is partitioned by predicate bucket, and the
    // graph the DAG returns carries its bucket count: a constant-predicate
    // query over it prunes to that predicate's bucket
    val graph = spark.read.parquet(s"$work/graph")
    assert(graph.count() == n1)
    assert(graph.columns.contains("predBucket"))
    val query = graft.ops.GraphOps.query(
      second.select(col("subj"), col("pred"), col("obj"), col("objDatatype").as("dt")),
      "SELECT ?s ?o WHERE { ?s <http://ex.org/p> ?o }")
    assert(query.count() == 30)
    val scans = query.queryExecution.sparkPlan.collect { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty && scans.forall(_.partitionFilters.nonEmpty),
      s"the returned graph is not pruned:\n${query.queryExecution.sparkPlan}")
  }

  test("writeTriples dispatches on target: parquet branch runs, iceberg branch refuses cleanly here") {
    val rows = (0 until 12).map(i =>
      QuadRow(s"d$i", s"http://ex.org/s$i", s"http://ex.org/p${i % 3}", s"o$i",
        QuadRow.KindIri, "", "", ""))
    val q = spark.createDataset(rows)(Encoders.product[QuadRow])

    // parquet branch (path target): partitioned by predBucket, readable back
    val dir = Files.createTempDirectory("graft-triples").toString
    Pipeline.dedupAndWritePartitioned(q, s"$dir/graph", buckets = 8)
    val back = spark.read.parquet(s"$dir/graph")
    assert(back.count() == 12)
    assert(back.columns.contains("predBucket"))

    // iceberg branch: no runtime jar in this sandbox — the dispatcher must
    // refuse the table target with a clear error, not write a bogus
    // relative path or NPE inside DataFrameWriterV2
    assert(!CorpusIO.icebergAvailable, "sandbox unexpectedly has iceberg — update this test")
    val err = intercept[IllegalStateException] {
      Pipeline.dedupAndWritePartitioned(q, "graft_catalog.kg.triples", buckets = 8)
    }
    assert(err.getMessage.contains("Iceberg runtime"), err.getMessage)
  }
}
