package jsonld.spark

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.SparkEntry

/** Physical-plan assertions: the declarative plans must keep the shapes
  * that make them viable at 100 TB — filters and projections reaching the
  * parquet scan, dimension joins broadcast, aggregations partial before
  * the shuffle, and whole-stage codegen on the relational stages.
  */
class PlanSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sfDir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Finalized (post-AQE) formatted plan: execute, then explain. */
  private def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  test("detection pre-filter is pushed to the parquet scan") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("lang") === "en" && col("n_chars") > 100)
      .select("doc_id", "text")
    val p = plan(docs)
    assert(p.contains("PushedFilters") &&
      (p.contains("IsNotNull(lang)") || p.contains("EqualTo(lang,en)")),
      s"filters not pushed:\n$p")
    // column pruning: the scan must not read all 5 columns
    assert(p.contains("ReadSchema") && !p.contains("source"), s"columns not pruned:\n$p")
  }

  test("entity linking uses a broadcast hash join") {
    // pred must be non-constant or Catalyst folds the equi-key away
    val quads = spark.range(100).select(
      concat(lit("s"), col("id")).as("subj"),
      concat(lit(Corpus.Vocab), element_at(
        array(lit("text"), lit("lang"), lit("chars")), (pmod(col("id"), lit(3)) + 1).cast("int")))
        .as("pred"))
    val joined = EntityLink.linkPredicates(quads, Corpus.vocabDictionary(spark))
    val p = finalPlan(joined)
    assert(p.contains("BroadcastHashJoin"), s"dimension join not broadcast:\n$p")
  }

  test("q1 aggregation is partial (map-side combine) before the shuffle") {
    val df = SparkEntry.q1Pricing(spark, sfDir)
    assert(plan(df).contains("partial"), s"no partial aggregation:\n${plan(df)}")
    val p = finalPlan(df)
    assert(p.contains("codegen id") || p.contains("WholeStageCodegen"), s"no codegen spans:\n$p")
  }

  test("q3 broadcasts the filtered customer dimension") {
    val p = plan(SparkEntry.q3Revenue(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), s"customer dim not broadcast:\n$p")
  }

  test("corpus-wide quad dedup is a hash aggregate, not a sort") {
    import org.apache.spark.sql.Encoders
    val rows = (0 until 10).map(i =>
      QuadRow(s"d$i", s"s$i", "p", s"o$i", 0.toByte, "", "", ""))
    val q = spark.createDataset(rows)(Encoders.product[QuadRow])
    val p = plan(Pipeline.dedupQuads(q))
    assert(p.contains("HashAggregate") || p.contains("partial"),
      s"dedup not hash-aggregated:\n$p")
  }

  test("ann_cosine_topk is a scan + TakeOrdered — top-k without a global sort shuffle") {
    val p = plan(SparkEntry.queries("ann_cosine_topk")(spark, sfDir))
    assert(p.contains("TakeOrderedAndProject"),
      s"brute-force top-k not planned as TakeOrdered:\n$p")
    assert(!p.contains("Exchange rangepartitioning"), s"global sort crept in:\n$p")
  }

  test("dedup_exact aggregates partially (map-side combine) before its shuffle") {
    val p = plan(SparkEntry.queries("dedup_exact")(spark, sfDir))
    assert(p.contains("HashAggregate") && p.contains("partial"),
      s"exact dedup missing partial hash-aggregate:\n$p")
  }

  test("minhash collapse runs once: both band rows and shingle sets reuse the cached reps") {
    // reps (the sha256-keyed exact-dup collapse) is cached and read by TWO
    // consumers; without the cache the groupBy shuffle would run twice
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val df = graft.ops.DedupOps.minhashNearDuplicates(docs, col("text"), col("doc_id"))
    val p = plan(df)
    val imr = "InMemoryTableScan".r.findAllIn(p).size
    assert(imr >= 3, s"expected cached reps + banded reuse (>=3 InMemoryTableScans), got $imr:\n$p")
    df.unpersist // no-op on a derived frame; caches are dropped in afterAll via spark.stop
  }

  test("fused dedup+materialize plans exactly ONE exchange") {
    import org.apache.spark.sql.Encoders
    val rows = (0 until 10).map(i =>
      QuadRow(s"d$i", s"s$i", "p", s"o$i", 0.toByte, "", "", ""))
    val q = spark.createDataset(rows)(Encoders.product[QuadRow])
    val p = plan(Pipeline.bucketSorted(q, buckets = 8))
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges == 1, s"expected 1 shuffle, found $exchanges:\n$p")
    // and the dedup stage on top adds none (its plan is the RDD scan)
    val p2 = plan(Pipeline.dedupForWrite(q, buckets = 8))
    assert(!p2.contains("Exchange"), s"dedup added a shuffle:\n$p2")
  }

  test("the fused dedup+write sorts each reduce task once: no Sort between WriteFiles and the scan") {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.execution.{QueryExecution, RDDScanExec, SortExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.datasources.WriteFilesExec
    import org.apache.spark.sql.util.QueryExecutionListener
    val rows = (0 until 40).map(i =>
      QuadRow(s"d$i", s"urn:s:${i % 10}", s"urn:p:${i % 5}", s"o$i", 1.toByte, "", "", ""))
    val q = spark.createDataset(rows)(Encoders.product[QuadRow])
    // the write is a command: its executed plan reaches only a listener
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val dir = java.nio.file.Files.createTempDirectory("one-sort").resolve("g")
    try {
      CorpusIO.writeTriples(Pipeline.dedupForWrite(q, buckets = 8), dir.toString, buckets = 8)
      org.apache.spark.sql.GraftInternal.waitListenerBus(spark)
    } finally spark.listenerManager.unregister(listener)
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => nodes(s.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    val writes = plans.toArray(Array.empty[SparkPlan]).toSeq.flatMap(nodes).collect { case w: WriteFilesExec => w }
    assert(writes.size == 1, s"expected one WriteFiles, got ${plans.toArray.mkString("\n")}")
    val below = nodes(writes.head)
    assert(below.count(_.isInstanceOf[RDDScanExec]) == 1, s"write not over the dedup scan:\n${writes.head}")
    assert(!below.exists(_.isInstanceOf[SortExec]), s"the writer re-sorts the dedup output:\n${writes.head}")
    assert(spark.read.parquet(dir.toString).count() == 40)
  }

  test("BGP over the bucketed triple table prunes partitions and pushes the pred filter") {
    import graft.ops.GraphOps
    // materialize a triple table the way the pipeline does: partitioned
    // by predBucket — a constant-predicate BGP pattern must then read
    // only that predicate's bucket (PartitionFilters) and push the pred
    // equality into the scan (PushedFilters), not scan the whole graph
    val quads = spark.range(200).select(
      concat(lit("s"), col("id")).as("subj"),
      concat(lit("urn:p"), pmod(col("id"), lit(4))).as("pred"),
      concat(lit("o"), col("id")).as("obj"),
      lit("").as("dt"))
      .withColumn("predBucket", pmod(xxhash64(col("pred")), lit(8)))
    val dir = java.nio.file.Files.createTempDirectory("bgp-bucketed").toString
    quads.write.mode("overwrite").partitionBy("predBucket").parquet(dir)
    val table = spark.read.parquet(dir)
      .withColumn("wantBucket", pmod(xxhash64(lit("urn:p1")), lit(8)))
      .filter(col("predBucket") === col("wantBucket"))
      .drop("wantBucket", "predBucket")
    val df = GraphOps.select(table, "?s <urn:p1> ?o")
    val p = plan(df)
    assert(p.contains("PartitionFilters") && !p.contains("PartitionFilters: []"),
      s"no partition pruning on the bucketed triple table:\n$p")
    assert(p.contains("EqualTo(pred,urn:p1)"), s"pred equality not pushed to the scan:\n$p")
    assert(df.collect().length == 50, "pruned scan must still return every match")
  }

  test("a constant-predicate query over a marked bucketed graph scans only that predicate's bucket") {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import graft.ops.GraphOps
    val preds = (0 until 6).map(i => s"urn:p:$i")
    val rows = (0 until 120).map(i =>
      QuadRow(s"d$i", s"urn:s:${i % 30}", preds(i % 6), s"o$i", 1.toByte, "", "", ""))
    val q = spark.createDataset(rows)(Encoders.product[QuadRow])
    val dir = java.nio.file.Files.createTempDirectory("pruned-graph").resolve("g")
    CorpusIO.writeTriples(Pipeline.dedupForWrite(q, buckets = 8), dir.toString, buckets = 8)
    // read back as a query client does: the bucket column is not selected
    val graph = spark.read.parquet(dir.toString)
      .select(col("subj"), col("pred"), col("obj"), col("objDatatype").as("dt"))
    def partFiles(d: java.nio.file.Path): Long = {
      val s = java.nio.file.Files.walk(d)
      try s.filter(_.getFileName.toString.startsWith("part-")).count() finally s.close()
    }
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case s: QueryStageExec => scans(s.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val constQ = GraphOps.query(graph, "SELECT ?s ?o WHERE { ?s <urn:p:1> ?o }")
    assert(constQ.collect().length == 20)
    val cs = scans(constQ.queryExecution.executedPlan)
    assert(cs.size == 1 && cs.head.partitionFilters.nonEmpty,
      s"constant predicate not pruned to its bucket:\n${constQ.queryExecution.executedPlan}")
    val bucketDir = dir.resolve(s"predBucket=${Pipeline.bucketOf("urn:p:1", 8)}")
    assert(cs.head.metrics("numFiles").value == partFiles(bucketDir),
      s"scan opened files outside $bucketDir")
    // a variable predicate can match any bucket: it still reads them all
    val varQ = GraphOps.query(graph, "SELECT ?p ?o WHERE { <urn:s:1> ?p ?o }")
    assert(varQ.collect().length == 4)
    val vs = scans(varQ.queryExecution.executedPlan)
    assert(vs.size == 1 && vs.head.partitionFilters.isEmpty &&
      vs.head.metrics("numFiles").value == partFiles(dir),
      s"variable predicate must scan every bucket:\n${varQ.queryExecution.executedPlan}")
  }

  test("gated graph queries read the cached triple table, not the dimension parquet per leg") {
    // kgTriples is memoized + cached: every BGP leg of kg_bgp_chain must
    // scan the InMemoryRelation — zero parquet scans of nation/customer
    // in the query's PHYSICAL TREE (the cache materialization scans each
    // once, matching the stored-triple-table shape of a 100× deployment).
    // Note: the plan STRING prints the cached relation's defining FileScan
    // under each InMemoryTableScan, so this walks the executed tree —
    // InMemoryTableScanExec is a leaf; a FileSourceScanExec reachable as a
    // tree node means a leg bypassed the cache. AQE is disabled for the
    // walk so query stages don't wrap the joins.
    SparkEntry.kgBgpChain(spark, sfDir).collect() // materializes the cache
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      import org.apache.spark.sql.execution.{SparkPlan, FileSourceScanExec}
      import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
      def count(p: SparkPlan, pred: SparkPlan => Boolean): Int =
        (if (pred(p)) 1 else 0) + p.children.map(count(_, pred)).sum
      val exec = SparkEntry.kgBgpChain(spark, sfDir).queryExecution.executedPlan
      assert(count(exec, _.isInstanceOf[InMemoryTableScanExec]) >= 4,
        s"BGP legs must read the cached triple table:\n$exec")
      assert(count(exec, _.isInstanceOf[FileSourceScanExec]) == 0,
        s"a BGP leg re-scanned dimension parquet instead of the cache:\n$exec")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("curation URL dedup is an aggregation with map-side partials, not a window") {
    // r6: the row_number window over partitionBy(canon) was this
    // pipeline's skew hazard (one hot canonical URL = one straggler task
    // sorting the whole group); the min(struct(...)) aggregation gets
    // partial aggregation instead. The plan must carry NO Window operator
    // and must aggregate min over the doc struct.
    val p = plan(SparkEntry.curationPipeline(spark, sfDir))
    assert(!p.contains("Window"), s"window survived in curation plan:\n$p")
    assert(p.contains("Aggregate") && p.contains("min("),
      s"min-aggregate dedup missing from curation plan:\n$p")
  }

  test("transitiveClosure raises instead of returning a partial closure") {
    import graft.ops.GraphOps
    val sp = spark; import sp.implicits._
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    assertThrows[IllegalStateException] {
      GraphOps.transitiveClosure(chain, maxIterations = 1)
    }
  }
}
