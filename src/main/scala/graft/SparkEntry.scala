package graft

import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._
import jsonld.spark._
import graft.ops._

/** Driver contract — one `queries` entry per implemented operator family
  * (SURVEY.md §2 + training-data ops), with DuckDB oracle SQL for every
  * SQL-expressible query. Column names/ordering match the oracles exactly
  * (the driver sorts columns by name and hashes values).
  */
object SparkEntry {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Flagship: the KG-construction spine (detect → expand → toRDF →
    * URDNA2015 → dedup) over the synthetic corpus at sf0.001.
    */
  def entry(spark: SparkSession): DataFrame =
    jsonldPipelineQuads(spark, "/root/testdata/sf0.001")

  // ------------------------------------------------------ JSON-LD spine

  private def runPipeline(spark: SparkSession, corpus: org.apache.spark.sql.Dataset[RepoFile])
      : (org.apache.spark.sql.Dataset[Pipeline.PipeRow], Pipeline.Counters) = {
    val counters = Pipeline.newCounters(spark)
    val ctxCache = spark.sparkContext.broadcast(Map.empty[String, String])
    val docs = Pipeline.detectStage(corpus, counters)
    (Pipeline.transformStage(docs, ctxCache, counters), counters)
  }

  def jsonldPipelineQuads(spark: SparkSession, sfDir: String): DataFrame = {
    val (pipe, _) = runPipeline(spark, Corpus.corpusFlat(spark, sfDir))
    Pipeline.dedupQuads(Pipeline.quads(pipe))
      .select(col("subj"), col("pred"), col("obj"), col("objDatatype").as("dt"))
      .orderBy("subj", "pred", "obj", "dt")
  }

  def jsonldC14nBnodes(spark: SparkSession, sfDir: String): DataFrame = {
    val (pipe, _) = runPipeline(spark, Corpus.corpusWithAuthors(spark, sfDir))
    Pipeline.dedupQuads(Pipeline.quads(pipe))
      .select(col("subj"), col("pred"), col("obj"), col("objDatatype").as("dt"))
      .orderBy("subj", "pred", "obj", "dt")
  }

  def jsonldEntityLink(spark: SparkSession, sfDir: String): DataFrame = {
    val (pipe, _) = runPipeline(spark, Corpus.corpusFlat(spark, sfDir))
    val quads = Pipeline.dedupQuads(Pipeline.quads(pipe))
    EntityLink.linkPredicates(quads, Corpus.vocabDictionary(spark))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_quads"))
      .orderBy("label")
  }

  def jsonldEntityLinkSalted(spark: SparkSession, sfDir: String): DataFrame = {
    val (pipe, _) = runPipeline(spark, Corpus.corpusFlat(spark, sfDir))
    val quads = Pipeline.dedupQuads(Pipeline.quads(pipe))
    EntityLink.saltedJoin(quads, Corpus.vocabDictionary(spark), bigKey = "pred", smallKey = "iri")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_quads"))
      .orderBy("label")
  }

  def jsonldQuarantine(spark: SparkSession, sfDir: String): DataFrame = {
    val (pipe, _) = runPipeline(spark, Corpus.corpusWithNoise(spark, sfDir))
    Pipeline.quarantine(pipe).toDF()
      .groupBy(col("errorCode"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("errorCode")
  }

  // --------------------------------------------------------- relational

  def q1Pricing(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  def q3Revenue(spark: SparkSession, dir: String): DataFrame = {
    val customer = t(spark, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val orders = t(spark, dir, "orders")
    val lineitem = t(spark, dir, "lineitem")
    lineitem
      .join(orders, lineitem("l_orderkey") === orders("o_orderkey"))
      .join(broadcast(customer), orders("o_custkey") === customer("c_custkey"))
      .groupBy(col("l_orderkey"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  def q5Region(spark: SparkSession, dir: String): DataFrame = {
    val region = t(spark, dir, "region")
    val nation = t(spark, dir, "nation")
    val customer = t(spark, dir, "customer")
    val orders = t(spark, dir, "orders")
    val lineitem = t(spark, dir, "lineitem")
    lineitem
      .join(orders, lineitem("l_orderkey") === orders("o_orderkey"))
      .join(customer, orders("o_custkey") === customer("c_custkey"))
      .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"))
      .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy("n_name")
  }

  def qWindowTopOrders(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(spark, dir, "orders")
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("rnk"),
        round(col("o_totalprice"), 2).as("totalprice"))
      .orderBy("o_custkey", "rnk", "o_orderkey")
  }

  /** Multi-level aggregation: ROLLUP over (returnflag, linestatus) —
    * exercises grouping sets (null-extended subtotal rows).
    */
  def qRollup(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"), count(lit(1)).as("n"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  def qSessionize(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    t(spark, dir, "events")
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800, 1).otherwise(0))
      .groupBy(col("user_id"))
      .agg(sum(col("new_session")).as("n_sessions"), count(lit(1)).as("n_events"))
      .orderBy("user_id")
  }

  // ------------------------------------------------- training-data ops

  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    DedupOps.exactGroups(t(spark, dir, "documents"), col("text"), col("doc_id"))
      .orderBy("text_sha256")

  def dedupMinhash(spark: SparkSession, dir: String): DataFrame =
    DedupOps.minhashNearDuplicates(t(spark, dir, "documents"), col("text"), col("doc_id"),
        n = 3, k = 32, bands = 8, threshold = 0.2)
      .orderBy("doc_a", "doc_b")

  /** Duplicate clusters ([[DedupOps.duplicateClusters]]). Registered
    * under both `dedup_clusters` and `dedup_clusters_star`: the two keys
    * and their identical recursive-CTE oracles are kept for callers that
    * name either one, and both run the one CC routine.
    */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    DedupOps.duplicateClusters(t(spark, dir, "documents"), col("text"), col("doc_id"),
        n = 3, k = 32, bands = 8, threshold = 0.2)
      .orderBy("doc_id")

  def dedupSimhash(spark: SparkSession, dir: String): DataFrame =
    DedupOps.simhashBuckets(t(spark, dir, "documents"), col("text"), col("doc_id"))
      .orderBy("doc_id")

  def neighborJaccard(spark: SparkSession, dir: String): DataFrame =
    DedupOps.neighborJaccard(t(spark, dir, "documents"), col("text"), col("doc_id"))
      .orderBy("doc_id")

  def langId(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val scored = docs.select(col("doc_id") +: TextOps.langIdColumns(col("text")): _*)
    scored.select(col("doc_id"), col("s_en"), col("s_de"), col("s_fr"), col("s_es"),
        TextOps.langIdLabel(col("s_en"), col("s_de"), col("s_fr"), col("s_es")).as("predicted"))
      .orderBy("doc_id")
  }

  def tokenCount(spark: SparkSession, dir: String): DataFrame =
    TextOps.tokenCounts(t(spark, dir, "documents"), col("text"), col("doc_id"))
      .orderBy("doc_id")

  def textQuality(spark: SparkSession, dir: String): DataFrame =
    TextOps.qualityScores(t(spark, dir, "documents"), col("text"), col("doc_id"))
      .orderBy("doc_id")

  def docFingerprint(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fingerprint"))
      .orderBy("doc_id")

  private def queryVector(spark: SparkSession, dir: String): Seq[Double] = {
    val row = t(spark, dir, "embeddings").filter(col("vec_id") === 0)
      .select(col("embedding")).head()
    row.getSeq[Float](0).map(_.toDouble)
  }

  def annBruteForce(spark: SparkSession, dir: String): DataFrame =
    SimilarityOps.bruteForceTopK(
      t(spark, dir, "embeddings").filter(col("vec_id") =!= 0),
      col("embedding"), col("vec_id"), queryVector(spark, dir), k = 10)

  def annLsh(spark: SparkSession, dir: String): DataFrame =
    SimilarityOps.lshTopK(
      t(spark, dir, "embeddings").filter(col("vec_id") =!= 0),
      col("embedding"), col("vec_id"), queryVector(spark, dir), k = 10, planes = 6)

  def dedupEmbedCosine(spark: SparkSession, dir: String): DataFrame =
    SimilarityOps.embeddingNearDuplicates(
      t(spark, dir, "embeddings"), col("embedding"), col("vec_id"),
      threshold = 0.35, planes = 4,
      // fixed-dims corpus → precomputed hyperplanes (bit-identical buckets,
      // no per-row md5); dims from the known query vector
      dims = Some(queryVector(spark, dir).size))
      .orderBy("vec_a", "vec_b")

  def multimodalFeatures(spark: SparkSession, dir: String): DataFrame =
    MultimodalOps.featureSummary(
      MultimodalOps.extractFeatures(MultimodalOps.mediaTable(spark, dir)))
      .orderBy("kind")

  /** REAL image decode end-to-end: synthesize genuine PNGs executor-side,
    * decode them back through `javax.imageio`, report header truth. The
    * oracle asserts the decoded dimensions against the generator formula —
    * the values round-trip through actual PNG encode/decode, so any
    * plumbing error (dropped rows, flipped dims, wrong band count) fails
    * the hash.
    */
  def multimodalDecode(spark: SparkSession, dir: String): DataFrame =
    MultimodalOps.decodeImages(MultimodalOps.imageTable(spark, dir)).toDF()
      .select(col("mediaId").as("media_id"), col("width"), col("height"), col("channels"))
      .orderBy("media_id")

  /** REAL audio decode end-to-end: synthesize genuine RIFF/WAVE clips
    * executor-side, decode the actual headers back through
    * `javax.sound.sampled` — rate/channels/bits/frames/duration must
    * match the generator formulas after the real encode→decode trip.
    */
  def multimodalAudio(spark: SparkSession, dir: String): DataFrame =
    MultimodalOps.decodeAudios(MultimodalOps.audioTable(spark, dir)).toDF()
      .select(col("mediaId").as("media_id"),
        col("sampleRateHz").as("sample_rate_hz"), col("channels"),
        col("bitsPerSample").as("bits_per_sample"), col("frames"),
        col("durationMicros").as("duration_micros"))
      .orderBy("media_id")

  def annIvf(spark: SparkSession, dir: String): DataFrame = {
    // coarse quantizer: 16 deterministic centroids (vec_id 1..16 — stands
    // in for an offline-trained codebook); driver-collects 16 rows, the
    // IVF analog of broadcasting the codebook
    val cents = t(spark, dir, "embeddings")
      .filter(col("vec_id") >= 1 && col("vec_id") <= 16)
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).map(_.toDouble).toSeq))
      .sortBy(_._1).toSeq
    SimilarityOps.ivfTopK(
      t(spark, dir, "embeddings").filter(col("vec_id") =!= 0),
      col("embedding"), col("vec_id"), cents, queryVector(spark, dir),
      k = 10, nprobe = 4)
  }

  /** IVF with a TRAINED codebook: deterministic distributed k-means
    * (quantized-sum Lloyd, no RNG) over the corpus, then the standard
    * nprobe cell search. The training was BUILT replayable — smallest-id
    * seeding, bit-portable cosine argmax, order-independent quantized
    * integer sums — so the DuckDB oracle replays both Lloyd iterations
    * as chained CTEs ([[trainedIvfOracleSql]]) and the gate is
    * value-level, not rows-only. Bit-reproducibility across
    * partitionings is additionally gated in GraphOpsSpec
    * (repartition(1) ≡ repartition(7)).
    */
  def annIvfTrained(spark: SparkSession, dir: String): DataFrame = {
    val vecs = t(spark, dir, "embeddings").filter(col("vec_id") =!= 0)
    val cents = SimilarityOps.trainIvfCentroids(vecs, col("embedding"), col("vec_id"),
      k = 8, iterations = 2)
    SimilarityOps.ivfTopK(vecs, col("embedding"), col("vec_id"), cents,
      queryVector(spark, dir), k = 10, nprobe = 3)
  }

  // ------------------------------------------------- KG graph queries

  /** Deterministic KG over the relational tables via Direct Mapping:
    * nation/region fully mapped (literal + FK-reference triples), the
    * bigger customer/supplier tables contribute edge-only reference
    * triples (their measure columns don't belong in the graph).
    */
  /** Fully Direct-Mapped dimension tables (nation + region: literal +
    * FK-reference triples) — the small half of [[kgTriples]].
    */
  private def kgDimensionTriples(spark: SparkSession, dir: String): DataFrame =
    GraphOps.directMapping(t(spark, dir, "nation"), "nation", "n_nationkey",
        refs = Map("n_regionkey" -> "region"))
      .unionByName(GraphOps.directMapping(t(spark, dir, "region"), "region", "r_regionkey"))

  /** Memoized + Spark-cached per (session, dir): every gated graph query
    * joins several BGP legs against this table, and without the cache
    * each leg re-scans the union-of-explodes plan (each dimension table
    * read once PER PATTERN). At 100× scale the constructed KG is a
    * stored table that queries scan once — caching here makes the gated
    * plans match that shape exactly.
    */
  private val kgTriplesCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  def kgTriples(spark: SparkSession, dir: String): DataFrame = {
    // evict entries pinned to stopped sessions: a long-lived JVM that
    // cycles sessions (test suites, Scale-style drivers) must not
    // accumulate dead DataFrames/plan trees forever
    kgTriplesCache.keySet.removeIf { case (s, _) => s.sparkContext.isStopped }
    kgTriplesCache.computeIfAbsent((spark, dir), { case (s, d) =>
      val df = kgDimensionTriples(s, d)
        .unionByName(GraphOps.referenceTriples(t(s, d, "customer"), "customer",
          "c_custkey", Map("c_nationkey" -> "nation")))
        .unionByName(GraphOps.referenceTriples(t(s, d, "supplier"), "supplier",
          "s_suppkey", Map("s_nationkey" -> "nation")))
      df.cache()
      df
    })
  }

  def kgDirectMapping(spark: SparkSession, dir: String): DataFrame =
    kgDimensionTriples(spark, dir).orderBy("subj", "pred", "obj")

  def kgPredicateStats(spark: SparkSession, dir: String): DataFrame =
    GraphOps.predicateStats(kgTriples(spark, dir)).orderBy("pred")

  def kgDegrees(spark: SparkSession, dir: String): DataFrame =
    GraphOps.degrees(kgTriples(spark, dir))
      .orderBy(col("in_degree").desc, col("node"))
      .limit(10)

  /** 4-pattern BGP chain: customers → nation → region named "ASIA", plus
    * the nation's literal name — grouped to customer counts per nation.
    */
  def kgBgpChain(spark: SparkSession, dir: String): DataFrame =
    GraphOps.select(kgTriples(spark, dir),
      """?cust <urn:dm:customer#ref-c_nationkey> ?nation .
        |?nation <urn:dm:nation#ref-n_regionkey> ?region .
        |?region <urn:dm:region#r_name> "ASIA" .
        |?nation <urn:dm:nation#n_name> ?nation_name""".stripMargin)
      .groupBy(col("nation"), col("nation_name"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy("nation")

  /** Transitive closure (iterative doubling) over the deterministic
    * binary-tree parent edges doc_id → doc_id div 2: per-document ancestor
    * count and top (minimum-id) ancestor.
    */
  def kgReachability(spark: SparkSession, dir: String): DataFrame = {
    val edges = t(spark, dir, "documents").filter(col("doc_id") > 0)
      .select(col("doc_id").as("src"), expr("doc_id div 2").as("dst"))
    GraphOps.transitiveClosure(edges)
      .groupBy(col("src").as("doc_id"))
      .agg(count(lit(1)).as("n_ancestors"), min(col("dst")).as("top_ancestor"))
      .orderBy("doc_id")
  }

  /** [[GraphOps.predicateStats]] over the KG the JSON-LD pipeline itself
    * constructs — graph profiling plugged onto the engine's own output.
    */
  /** Deduped pipeline output projected to the (subj, pred, obj, dt)
    * shape the graph-query layer consumes.
    */
  private def pipelineQuadsDf(pipe: org.apache.spark.sql.Dataset[Pipeline.PipeRow]): DataFrame =
    Pipeline.dedupQuads(Pipeline.quads(pipe))
      .select(col("subj"), col("pred"), col("obj"), col("objDatatype").as("dt"))

  def jsonldGraphStats(spark: SparkSession, dir: String): DataFrame = {
    val (pipe, _) = runPipeline(spark, Corpus.corpusFlat(spark, dir))
    GraphOps.predicateStats(pipelineQuadsDf(pipe)).orderBy("pred")
  }

  /** BGP over the pipeline-constructed KG: English-language documents
    * counted per source — two patterns sharing the document variable.
    */
  def jsonldBgpSources(spark: SparkSession, dir: String): DataFrame = {
    val (pipe, _) = runPipeline(spark, Corpus.corpusFlat(spark, dir))
    GraphOps.select(pipelineQuadsDf(pipe),
      s"""?doc <${V}lang> "en" . ?doc <${V}source> ?src""")
      .groupBy(col("src"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("src")
  }

  /** CONSTRUCT through the text grammar (round 5 — previously assembled
    * from parsed patterns + construct by hand): derive `?cust
    * <urn:dm:locatedIn> ?region` triples for customers in ASIA from ONE
    * query string, same oracle.
    */
  def kgConstruct(spark: SparkSession, dir: String): DataFrame =
    GraphOps.constructQuery(kgTriples(spark, dir),
      """CONSTRUCT { ?cust <urn:dm:locatedIn> ?region }
        |WHERE { ?cust <urn:dm:customer#ref-c_nationkey> ?nation .
        |        ?nation <urn:dm:nation#ref-n_regionkey> ?region .
        |        ?region <urn:dm:region#r_name> "ASIA" }""".stripMargin)
      .orderBy("subj")

  /** ASK through the text grammar: is any customer in nation 1? */
  def kgAsk(spark: SparkSession, dir: String): DataFrame =
    GraphOps.askQuery(kgTriples(spark, dir),
      "ASK { ?c <urn:dm:customer#ref-c_nationkey> <urn:dm:nation/1> }")

  /** ASK with a composed body (join + FILTER) through the grammar:
    * does any customer sit in a region-keyed-≥2 nation?
    */
  def kgAskFiltered(spark: SparkSession, dir: String): DataFrame =
    GraphOps.askQuery(kgTriples(spark, dir),
      """ASK { ?c <urn:dm:customer#ref-c_nationkey> ?n .
        |      ?n <urn:dm:nation#n_regionkey> ?rk . FILTER(?rk >= 2) }""".stripMargin)

  /** DESCRIBE through the text grammar: nation 1's triples plus every
    * edge pointing at it.
    */
  def kgDescribe(spark: SparkSession, dir: String): DataFrame =
    GraphOps.describeQuery(kgTriples(spark, dir), "DESCRIBE <urn:dm:nation/1>")
      .orderBy("subj", "pred", "obj")

  /** HAVING through the grammar: nations with ≥ 5 customers. */
  def kgHaving(spark: SparkSession, dir: String): DataFrame =
    GraphOps.select(kgTriples(spark, dir),
      """SELECT ?n (COUNT(*) AS ?n_customers) WHERE {
        |  ?c <urn:dm:customer#ref-c_nationkey> ?n
        |} GROUP BY ?n HAVING(?n_customers >= 5) ORDER BY ?n""".stripMargin)

  /** COUNT(DISTINCT ?v) + OFFSET through the grammar: distinct nations
    * customers reference, and a LIMIT/OFFSET page of them — two gated
    * facts in one frame via a cross join of single-row/row-sliced parts
    * would be contrived, so this query gates COUNT DISTINCT alone.
    */
  def kgCountDistinct(spark: SparkSession, dir: String): DataFrame =
    GraphOps.select(kgTriples(spark, dir),
      """SELECT (COUNT(DISTINCT ?n) AS ?n_nations) WHERE {
        |  ?c <urn:dm:customer#ref-c_nationkey> ?n
        |}""".stripMargin)

  /** LIMIT + OFFSET paging through the grammar. */
  def kgSelectPage(spark: SparkSession, dir: String): DataFrame =
    GraphOps.select(kgTriples(spark, dir),
      """SELECT DISTINCT ?n WHERE { ?m <urn:dm:customer#ref-c_nationkey> ?n }
        |ORDER BY ?n LIMIT 5 OFFSET 10""".stripMargin)

  /** SPARQL UPDATE `INSERT DATA` through the text grammar: a new region
    * node (plain + typed literal + a reference edge) PLUS one triple the
    * graph already holds — set semantics must make that one a no-op.
    * Gated on the per-predicate profile of the updated graph, so both
    * the inserts and the dedup are value-visible.
    */
  def kgUpdateInsert(spark: SparkSession, dir: String): DataFrame =
    GraphOps.updateQuery(kgTriples(spark, dir),
      """INSERT DATA {
        |  <urn:dm:region/9> <urn:dm:region#r_name> "NOWHERE" .
        |  <urn:dm:region/0> <urn:dm:region#r_name> "AFRICA" .
        |  <urn:dm:region/9> <urn:dm:region#population> "0"^^<http://www.w3.org/2001/XMLSchema#integer> .
        |  <urn:dm:nation/1> <urn:dm:nation#ref-n_regionkey> <urn:dm:region/9> }""".stripMargin)
      .groupBy(col("pred")).agg(count(lit(1)).as("n_triples"))
      .orderBy("pred")

  /** `DELETE WHERE` (pattern block doubling as the delete template):
    * un-link every customer of nation 1, gate on the remaining
    * per-nation customer counts.
    */
  def kgUpdateDeleteWhere(spark: SparkSession, dir: String): DataFrame =
    GraphOps.updateQuery(kgTriples(spark, dir),
      "DELETE WHERE { ?c <urn:dm:customer#ref-c_nationkey> <urn:dm:nation/1> }")
      .filter(col("pred") === "urn:dm:customer#ref-c_nationkey")
      .groupBy(col("obj").as("nation")).agg(count(lit(1)).as("n_customers"))
      .orderBy("nation")

  /** The full `DELETE { } INSERT { } WHERE { }` form: move nation 1's
    * customers to nation 2 — both templates instantiate against the
    * same pre-update solutions, deletes land before inserts.
    */
  def kgUpdateModify(spark: SparkSession, dir: String): DataFrame =
    GraphOps.updateQuery(kgTriples(spark, dir),
      """DELETE { ?c <urn:dm:customer#ref-c_nationkey> <urn:dm:nation/1> }
        |INSERT { ?c <urn:dm:customer#ref-c_nationkey> <urn:dm:nation/2> }
        |WHERE  { ?c <urn:dm:customer#ref-c_nationkey> <urn:dm:nation/1> }""".stripMargin)
      .filter(col("pred") === "urn:dm:customer#ref-c_nationkey")
      .groupBy(col("obj").as("nation")).agg(count(lit(1)).as("n_customers"))
      .orderBy("nation")

  /** PageRank over the KG's IRI-edge graph (customer→nation,
    * supplier→nation, nation→region): which entities does the link
    * structure rank as central? Fixed 3 iterations, quantized-sum
    * deterministic ([[GraphOps.pageRank]]) — the oracle replays every
    * iteration as chained CTEs with the identical expression tree, so
    * the top-10 micro-ranks are value-gated, not rows-only.
    */
  def kgPageRank(spark: SparkSession, dir: String): DataFrame = {
    val kg = kgTriples(spark, dir)
    GraphOps.pageRank(
        kg.filter(col("dt") === "")
          .select(col("subj").as("src"), col("obj").as("dst")),
        iterations = 3)
      .select(col("node"), round(col("rank") * 1e6, 4).as("rank_ppm"))
      .orderBy(col("rank_ppm").desc, col("node"))
      .limit(10)
  }

  /** MD5 / SHA256 digests in SELECT-head expressions — content
    * fingerprints usable anywhere the value grammar runs; both engines
    * emit identical lowercase hex.
    */
  def kgHashFuncs(spark: SparkSession, dir: String): DataFrame =
    GraphOps.select(kgTriples(spark, dir),
      """SELECT ?name (MD5(?name) AS ?m) (SHA256(?name) AS ?s)
        |WHERE { ?n <urn:dm:nation#n_name> ?name } ORDER BY ?name""".stripMargin)

  /** ABS / ROUND / CEIL / FLOOR in SELECT-head expressions (ROUND is
    * SPARQL's half-up, mirrored as floor(x+0.5) in the oracle).
    */
  def kgNumericFns(spark: SparkSession, dir: String): DataFrame =
    GraphOps.select(kgTriples(spark, dir),
      """SELECT ?n (ABS(?rk - 2) AS ?dist) (FLOOR(?rk / 2) AS ?half)
        |       (CEIL(?rk / 2) AS ?chalf) (ROUND(?rk / 3) AS ?third)
        |WHERE { ?n <urn:dm:nation#n_regionkey> ?rk } ORDER BY ?n""".stripMargin)

  /** owl:sameAs entity resolution ([[GraphOps.resolveSameAs]]): each
    * nation gets a 2-hop alias chain `urn:x:… sameAs urn:y:… sameAs
    * urn:dm:…` (multi-round propagation), an alias-held name triple that
    * must COLLAPSE into the canonical node's existing one (set
    * semantics), a fresh alias-held label that must LAND on the
    * canonical node (subject rewrite), and per-supplier reference edges
    * pointing AT aliases (object rewrite). Gated on the per-predicate
    * profile with min/max subj+obj — wrong canon choice, missed rewrite,
    * missed dedup, or surviving sameAs rows all shift a value.
    */
  def kgSameAsResolution(spark: SparkSession, dir: String): DataFrame = {
    import GraphOps._
    val nation = t(spark, dir, "nation")
    val supplier = t(spark, dir, "supplier")
    def nIri(prefix: String) = concat(lit(prefix), col("n_nationkey"))
    val alias = nation.select(nIri("urn:x:nation/").as("subj"),
        lit(OwlSameAs).as("pred"), nIri("urn:y:nation/").as("obj"), lit("").as("dt"))
      .unionByName(nation.select(nIri("urn:y:nation/").as("subj"),
        lit(OwlSameAs).as("pred"), nIri("urn:dm:nation/").as("obj"), lit("").as("dt")))
      .unionByName(nation.select(nIri("urn:x:nation/").as("subj"),
        lit("urn:dm:nation#n_name").as("pred"), col("n_name").as("obj"),
        lit(GraphOps.XsdString).as("dt")))
      .unionByName(nation.select(nIri("urn:x:nation/").as("subj"),
        lit("urn:voc:label").as("pred"), concat(lit("alias-"), col("n_name")).as("obj"),
        lit(GraphOps.XsdString).as("dt")))
      .unionByName(supplier.select(
        concat(lit("urn:dm:supplier/"), col("s_suppkey")).as("subj"),
        lit("urn:voc:altNation").as("pred"),
        concat(lit("urn:x:nation/"), col("s_nationkey")).as("obj"), lit("").as("dt")))
    GraphOps.resolveSameAs(kgTriples(spark, dir).unionByName(alias))
      .groupBy(col("pred"))
      .agg(count(lit(1)).as("n_triples"), countDistinct(col("subj")).as("n_subj"),
        min(col("subj")).as("min_subj"), max(col("obj")).as("max_obj"))
      .orderBy("pred")
  }

  /** RDFS materialization ([[GraphOps.rdfsMaterialize]]) over the KG plus
    * a small ontology: customers/suppliers get asserted types with a
    * 2-hop subClassOf chain above them, the two FK reference predicates
    * are sub-properties of `locatedIn ⊑ relatedTo` (2-hop property
    * chain), and `locatedIn` carries a domain AND a range whose range
    * class has its own superclass — so rdfs7 fires through the closure,
    * rdfs2/3 fire on DERIVED triples, and rdfs9 fires on rdfs3's output.
    * Gated on the per-key census (`type:<class>` / predicate → triple +
    * subject counts): every rule's output is a distinct key row.
    */
  def kgRdfsInference(spark: SparkSession, dir: String): DataFrame = {
    import GraphOps.{RdfTypeIri, RdfsSubClassOf, RdfsSubPropertyOf, RdfsDomain, RdfsRange}
    import spark.implicits._
    val types = t(spark, dir, "customer").select(
        concat(lit("urn:dm:customer/"), col("c_custkey")).as("subj"),
        lit(RdfTypeIri).as("pred"), lit("urn:voc:Customer").as("obj"), lit("").as("dt"))
      .unionByName(t(spark, dir, "supplier").select(
        concat(lit("urn:dm:supplier/"), col("s_suppkey")).as("subj"),
        lit(RdfTypeIri).as("pred"), lit("urn:voc:Supplier").as("obj"), lit("").as("dt")))
    val schema = Seq(
      ("urn:voc:Customer", RdfsSubClassOf, "urn:voc:BusinessEntity", ""),
      ("urn:voc:Supplier", RdfsSubClassOf, "urn:voc:BusinessEntity", ""),
      ("urn:voc:BusinessEntity", RdfsSubClassOf, "urn:voc:Entity", ""),
      ("urn:dm:customer#ref-c_nationkey", RdfsSubPropertyOf, "urn:voc:locatedIn", ""),
      ("urn:dm:supplier#ref-s_nationkey", RdfsSubPropertyOf, "urn:voc:locatedIn", ""),
      ("urn:voc:locatedIn", RdfsSubPropertyOf, "urn:voc:relatedTo", ""),
      ("urn:voc:locatedIn", RdfsDomain, "urn:voc:Locatable", ""),
      ("urn:voc:locatedIn", RdfsRange, "urn:voc:Place", ""),
      ("urn:voc:Place", RdfsSubClassOf, "urn:voc:Location", ""))
      .toDF("subj", "pred", "obj", "dt")
    GraphOps.rdfsMaterialize(
        kgTriples(spark, dir).unionByName(types).unionByName(schema))
      .groupBy(when(col("pred") === RdfTypeIri, concat(lit("type:"), col("obj")))
        .otherwise(col("pred")).as("key"))
      .agg(count(lit(1)).as("n_triples"), countDistinct(col("subj")).as("n_subj"))
      .orderBy("key")
  }

  /** Level-synchronous BFS ([[GraphOps.shortestPaths]]) from the document
    * tree's root over parent→child edges — the per-depth census of the
    * corpus tree, value-gated on node counts plus min/max ids per level.
    */
  def kgShortestPath(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val edges = t(spark, dir, "documents").filter(col("doc_id") > 0)
      .select(expr("doc_id div 2").as("src"), col("doc_id").as("dst"))
    GraphOps.shortestPaths(edges, Seq(0L).toDF("node"))
      .groupBy(col("distance"))
      .agg(count(lit(1)).as("n_nodes"), min(col("node")).as("min_node"),
        max(col("node")).as("max_node"))
      .orderBy("distance")
  }

  /** IRI minting — `BIND(IRI(CONCAT(…)) AS ?node)` forges new node
    * identities from literal values and a CONSTRUCT template emits
    * triples under them: the grammar-level re-keying primitive of KG
    * construction (every minted subject is a new IRI derived from data).
    */
  def kgIriMint(spark: SparkSession, dir: String): DataFrame =
    GraphOps.constructQuery(kgTriples(spark, dir),
      """CONSTRUCT { ?node <urn:voc:officialName> ?name .
        |            ?node <urn:voc:dmNode> ?n }
        |WHERE { ?n <urn:dm:nation#n_name> ?name .
        |  BIND(IRI(CONCAT("urn:mint:nation/", ?name)) AS ?node) }""".stripMargin)
      .orderBy("subj", "pred", "obj")

  /** `WITH <g>`-scoped SPARQL Update over the named-graph KG
    * ([[GraphOps.updateQuadsQuery]]): rename every nation in region 1's
    * graph to an "R1/"-prefixed form via DELETE/INSERT WHERE — only that
    * graph's slice may change, visible per (graph, pred) in the profile.
    */
  def kgUpdateWith(spark: SparkSession, dir: String): DataFrame =
    GraphOps.updateQuadsQuery(kgNamedGraphQuads(spark, dir),
      """WITH <urn:g:region/1>
        |DELETE { ?n <urn:dm:nation#n_name> ?name }
        |INSERT { ?n <urn:dm:nation#n_name> ?prefixed }
        |WHERE { ?n <urn:dm:nation#n_name> ?name .
        |  BIND(CONCAT("R1/", ?name) AS ?prefixed) }""".stripMargin)
      .groupBy(col("graph"), col("pred"))
      .agg(count(lit(1)).as("n_triples"), min(col("obj")).as("min_obj"))
      .orderBy("graph", "pred")

  /** Graph management chained over the named-graph KG: COPY the meta
    * graph to a backup, ADD region 1's graph into the default graph,
    * MOVE region 2's graph to an archive name, CLEAR the meta graph —
    * gated on the final per-graph census (every op shifts a row).
    */
  def kgGraphMgmt(spark: SparkSession, dir: String): DataFrame = {
    val steps = Seq(
      "COPY <urn:g:meta> TO <urn:g:backup>",
      "ADD <urn:g:region/1> TO DEFAULT",
      "MOVE <urn:g:region/2> TO <urn:g:archive>",
      "CLEAR GRAPH <urn:g:meta>")
    // each management op COMMITS before the next reads (real graph stores
    // apply updates sequentially against stored state) — materializing
    // between steps also stops the lazy fold from re-evaluating the base
    // quad build once per untouched-slice branch (2^steps blow-up)
    steps.foldLeft(kgNamedGraphQuads(spark, dir)) { (acc, q) =>
      GraphOps.updateQuadsQuery(acc, q).localCheckpoint()
    }
      .groupBy(col("graph"))
      .agg(count(lit(1)).as("n_quads"), countDistinct(col("pred")).as("n_preds"))
      .orderBy("graph")
  }

  /** Per-node triangle counts ([[GraphOps.triangleCount]]) over a
    * deterministic cyclic graph on the document ids (ring ±1, ±2 chords
    * plus a 7i+3 modular chord — triangle-rich and irregular), gated on
    * the triangle-count histogram with min/max node per bucket. The
    * engine enumerates via degree-ordered orientation; the oracle via
    * id-ordered 3-way join — same triangle set, independently derived.
    */
  def kgTriangles(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents").select(col("doc_id"))
    val n = docs.count()
    def chord(off: org.apache.spark.sql.Column) =
      docs.select(col("doc_id").as("src"), (off % n).as("dst"))
    val edges = chord(col("doc_id") + 1)
      .union(chord(col("doc_id") + 2))
      .union(chord(col("doc_id") * 7 + 3))
    GraphOps.triangleCount(edges)
      .groupBy(col("n_triangles"))
      .agg(count(lit(1)).as("n_nodes"), min(col("node")).as("min_node"),
        max(col("node")).as("max_node"))
      .orderBy("n_triangles")
  }

  /** Local clustering coefficients ([[GraphOps.clusteringCoefficient]])
    * over the same chord graph as [[kgTriangles]], gated on the
    * (degree, coeff_micro) histogram. The coefficient is integer
    * micro-units from pure BIGINT arithmetic, so the engine's
    * degree-ordered triangle enumeration and the oracle's id-ordered
    * 3-way join must agree bit-for-bit.
    */
  def kgClustering(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents").select(col("doc_id"))
    val n = docs.count()
    def chord(off: org.apache.spark.sql.Column) =
      docs.select(col("doc_id").as("src"), (off % n).as("dst"))
    val edges = chord(col("doc_id") + 1)
      .union(chord(col("doc_id") + 2))
      .union(chord(col("doc_id") * 7 + 3))
    GraphOps.clusteringCoefficient(edges)
      .groupBy(col("degree"), col("coeff_micro"))
      .agg(count(lit(1)).as("n_nodes"), min(col("node")).as("min_node"),
        max(col("node")).as("max_node"))
      .orderBy("degree", "coeff_micro")
  }

  /** 8-core membership ([[GraphOps.kCore]]) of the chord graph overlaid
    * with a dense circulant ring on the multiples of 10 (offsets
    * 10..50 → internal degree 10) and a sparse ring on multiples of 25
    * (peels away): the periphery erodes over three peel rounds, the
    * dense ring survives. Gated on the full member list with in-core
    * degrees; the oracle replays the peel as unrolled rounds (6 — past
    * the measured fixpoint at both SFs; extra rounds are no-ops).
    */
  def kgKcore(spark: SparkSession, dir: String): DataFrame = {
    GraphOps.kCore(kcoreEdges(spark, dir), k = 8)
      .orderBy("node")
  }

  private def kcoreEdges(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents").select(col("doc_id"))
    val n = docs.count()
    def chord(off: org.apache.spark.sql.Column) =
      docs.select(col("doc_id").as("src"), (off % n).as("dst"))
    def ring(m: Int, offs: Seq[Int]) = offs.map { j =>
      docs.filter(col("doc_id") % m === 0)
        .select(col("doc_id").as("src"), ((col("doc_id") + j) % n).as("dst"))
    }.reduce(_.union(_))
    chord(col("doc_id") + 1)
      .union(chord(col("doc_id") + 2))
      .union(chord(col("doc_id") * 7 + 3))
      .union(ring(10, Seq(10, 20, 30, 40, 50)))
      .union(ring(25, Seq(25, 50)))
  }

  /** HITS hubs/authorities ([[GraphOps.hits]], 2 quantized rounds) over
    * the KG's IRI-edge graph — the link-analysis complement of
    * [[kgPageRank]]: nations are the authorities customers/suppliers
    * point at, regions sit downstream. The oracle replays both rounds'
    * exact expression tree (BIGINT twelfth-unit sums, L1 totals), so the
    * top-10 micro-scores are value-gated.
    */
  def kgHits(spark: SparkSession, dir: String): DataFrame = {
    val kg = kgTriples(spark, dir)
    GraphOps.hits(
        kg.filter(col("dt") === "")
          .select(col("subj").as("src"), col("obj").as("dst")),
        iterations = 2)
      .select(col("node"), round(col("hub") * 1e6, 4).as("hub_ppm"),
        round(col("auth") * 1e6, 4).as("auth_ppm"))
      .orderBy(col("auth_ppm").desc, col("hub_ppm").desc, col("node"))
      .limit(10)
  }

  /** Language-tagged literals end-to-end: `"lex"@tag` INSERT DATA syntax
    * (tag rides the dt slot as `"@tag"`), then LANG / LANGMATCHES /
    * DATATYPE over the tagged graph — RFC 4647 basic filtering ("en"
    * matches "en-GB"), rdf:langString surfaced by DATATYPE, and the
    * untagged "Middle East" label excluded by both branches.
    */
  def kgLangFuncs(spark: SparkSession, dir: String): DataFrame = {
    val tagged = GraphOps.updateQuery(kgTriples(spark, dir),
      """INSERT DATA {
        |  <urn:dm:region/0> <urn:voc:label> "Afrika"@de .
        |  <urn:dm:region/0> <urn:voc:label> "Afrique"@fr .
        |  <urn:dm:region/1> <urn:voc:label> "Amerika"@de .
        |  <urn:dm:region/2> <urn:voc:label> "Asie"@fr .
        |  <urn:dm:region/3> <urn:voc:label> "Europe"@en-GB .
        |  <urn:dm:region/3> <urn:voc:label> "Europa"@de .
        |  <urn:dm:region/4> <urn:voc:label> "Middle East" }""".stripMargin)
    GraphOps.select(tagged,
      """SELECT ?r ?l (LANG(?l) AS ?tag) (DATATYPE(?l) AS ?dt) WHERE {
        |  { ?r <urn:voc:label> ?l . FILTER(LANGMATCHES(LANG(?l), "de")) }
        |  UNION { ?r <urn:voc:label> ?l . FILTER(LANGMATCHES(LANG(?l), "en")) }
        |} ORDER BY ?r ?l""".stripMargin)
  }

  /** SPARQL dateTime accessors — YEAR/MONTH/DAY/HOURS/MINUTES/SECONDS/TZ
    * over xsd:dateTime literals covering all three timezone shapes (Z,
    * ±hh:mm, absent) and a fractional second.
    */
  def kgDatetimeFns(spark: SparkSession, dir: String): DataFrame = {
    val xsdDt = "http://www.w3.org/2001/XMLSchema#dateTime"
    val tsd = GraphOps.updateQuery(kgTriples(spark, dir),
      s"""INSERT DATA {
         |  <urn:e:1> <urn:voc:ts> "2024-03-05T10:30:02Z"^^<$xsdDt> .
         |  <urn:e:2> <urn:voc:ts> "1999-12-31T23:59:59.25+05:30"^^<$xsdDt> .
         |  <urn:e:3> <urn:voc:ts> "2001-07-04T00:08:01"^^<$xsdDt> }""".stripMargin)
    GraphOps.select(tsd,
      """SELECT ?e (YEAR(?t) AS ?y) (MONTH(?t) AS ?mo) (DAY(?t) AS ?d)
        |  (HOURS(?t) AS ?h) (MINUTES(?t) AS ?mi) (SECONDS(?t) AS ?s) (TZ(?t) AS ?tz)
        |WHERE { ?e <urn:voc:ts> ?t } ORDER BY ?e""".stripMargin)
  }

  /** Term constructors + RFC 3986 escaping: `ENCODE_FOR_URI` (space,
    * `&`, `/` percent-encoded; `~` kept unreserved), `STRDT` minting a
    * typed literal whose datatype `DATATYPE` then reads back, `STRLANG`
    * minting a tagged literal `LANG` reads back — the constructed-term
    * channel flowing through BIND companions end-to-end.
    */
  def kgTermConstructors(spark: SparkSession, dir: String): DataFrame =
    GraphOps.select(kgTriples(spark, dir),
      """SELECT ?name (ENCODE_FOR_URI(CONCAT(?name, " & co/~x")) AS ?enc)
        |  ?code (DATATYPE(?code) AS ?cdt) ?lbl (LANG(?lbl) AS ?ltag)
        |WHERE { ?r <urn:dm:region#r_name> ?name .
        |  BIND(STRDT(?name, <http://www.w3.org/2001/XMLSchema#token>) AS ?code) .
        |  BIND(STRLANG(LCASE(?name), "en-US") AS ?lbl) }
        |ORDER BY ?name""".stripMargin)

  /** `DESCRIBE ?v WHERE { … }` through the dispatching `query()` entry:
    * the region-0 nations' full neighborhoods — own triples plus
    * incoming IRI edges (customer/supplier refs), literal lookalikes
    * excluded — profiled per predicate.
    */
  def kgDescribeWhere(spark: SparkSession, dir: String): DataFrame =
    GraphOps.query(kgTriples(spark, dir),
      "DESCRIBE ?n WHERE { ?n <urn:dm:nation#ref-n_regionkey> <urn:dm:region/0> }")
      .groupBy(col("pred"))
      .agg(count(lit(1)).as("n_triples"), min(col("subj")).as("min_subj"),
        max(col("obj")).as("max_obj"))
      .orderBy("pred")

  /** Multi-variable `VALUES (?n ?r) { (…) … }` — an inline solution
    * RELATION joined row-wise (the (nation/1, region/0) row matches no
    * solution: pair semantics, not per-column restriction).
    */
  def kgValuesMulti(spark: SparkSession, dir: String): DataFrame =
    GraphOps.select(kgTriples(spark, dir),
      """SELECT ?r (COUNT(*) AS ?n_cust) WHERE {
        |  ?c <urn:dm:customer#ref-c_nationkey> ?n .
        |  ?n <urn:dm:nation#ref-n_regionkey> ?r .
        |  VALUES (?n ?r) { (<urn:dm:nation/1> <urn:dm:region/1>)
        |    (<urn:dm:nation/2> <urn:dm:region/1>)
        |    (<urn:dm:nation/3> <urn:dm:region/1>)
        |    (<urn:dm:nation/1> <urn:dm:region/0>) }
        |} GROUP BY ?r ORDER BY ?r""".stripMargin)

  /** TF-IDF top-3 terms per document ([[TextOps.tfIdf]]) — tokenize →
    * per-(doc, token) counts → document frequencies → rational
    * micro-unit scores → per-doc top-k window, all value-gated.
    */
  def textTfidf(spark: SparkSession, dir: String): DataFrame =
    TextOps.tfIdf(t(spark, dir, "documents"), col("doc_id"), col("text"), topK = 3)
      .orderBy("doc_id", "rank")

  /** Okapi BM25 ([[TextOps.bm25]]) against a fixed 3-term query over
    * the document corpus — per-doc micro-unit scores and hit counts,
    * value-gated against the identical expression tree in SQL.
    */
  def textBm25(spark: SparkSession, dir: String): DataFrame =
    TextOps.bm25(t(spark, dir, "documents"), col("doc_id"), col("text"),
        Seq("spark", "join", "vector"))
      .orderBy("doc_id")

  /** Symmetric int8 embedding quantization
    * ([[SimilarityOps.quantizeInt8]]): per-vector scale + the quantized
    * vector profiled as (sum, min, max, saturation count) — any rounding
    * or clamping divergence shifts a value.
    */
  def annQuantizeInt8(spark: SparkSession, dir: String): DataFrame =
    SimilarityOps.quantizeInt8(t(spark, dir, "embeddings"),
        col("vec_id"), col("embedding"))
      .select(col("vec_id"),
        floor(col("scale") * lit(1e6)).cast("long").as("scale_micro"),
        aggregate(col("q"), lit(0L), (a, x) => a + x).as("q_sum"),
        array_min(col("q")).as("q_min"),
        array_max(col("q")).as("q_max"),
        size(filter(col("q"), x => abs(x) === 127)).cast("long").as("n_sat"))
      .orderBy("vec_id")

  /** URL canonicalization ([[TextOps.canonicalizeUrl]]) over URLs minted
    * deterministically from doc ids with case noise (HTTPS/WWW variants),
    * tracking params, unsorted param order, and fragments — the oracle
    * DERIVES the expected canonical form independently (straight string
    * construction, no regex mirror), so a canonicalization bug can't
    * cancel out.
    */
  def urlCanonicalize(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents").select(col("doc_id"))
    val s = (c: org.apache.spark.sql.Column) => c.cast("string")
    val url = concat(
      when(col("doc_id") % 2 === 0, lit("HTTPS")).otherwise(lit("https")),
      lit("://"),
      when(col("doc_id") % 3 === 0, lit("WWW.Example.COM"))
        .otherwise(lit("www.example.com")),
      lit("/Page/"), s(col("doc_id") % 100),
      lit("?utm_source=feed&b="), s(col("doc_id") % 5),
      lit("&a="), s(col("doc_id") % 7),
      lit("#sec"), s(col("doc_id")))
    docs.select(col("doc_id"), TextOps.canonicalizeUrl(url).as("canon"))
      .groupBy(col("canon"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
      .orderBy("canon")
  }

  /** Gopher-rule quality gate ([[TextOps.gopherQuality]]): word-count /
    * mean-word-length / symbol-ratio / top-word-repetition heuristics in
    * integer micro-units, plus the boolean verdict.
    */
  def textGopherQuality(spark: SparkSession, dir: String): DataFrame =
    TextOps.gopherQuality(t(spark, dir, "documents"), col("doc_id"), col("text"))
      .orderBy("doc_id")

  /** Benchmark decontamination ([[TextOps.contamination]]): the docs
    * with `doc_id % 97 == 0` act as the held-out benchmark; every other
    * doc is probed for shared 3-gram shingles (171 contaminated probes
    * at sf0.01, hits 1–4 — and at 5-grams the one hit left is a planted
    * near-duplicate, exactly the real-world signal).
    */
  def textContamination(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    TextOps.contamination(
        docs.filter(col("doc_id") % 97 =!= 0), col("doc_id"), col("text"),
        docs.filter(col("doc_id") % 97 === 0), col("text"), n = 3)
      .orderBy("doc_id")
  }

  /** PII detection + redaction ([[TextOps.piiStats]]) over documents
    * with deterministically minted PII (one of email / phone / IPv4 per
    * doc by `doc_id % 3`): counts per type plus the h60 fingerprint of
    * the redacted text — a single mis-redacted byte shifts the hash.
    */
  def textPii(spark: SparkSession, dir: String): DataFrame = {
    val s = (c: org.apache.spark.sql.Column) => c.cast("string")
    val extra = when(col("doc_id") % 3 === 0,
        concat(lit(" contact user"), s(col("doc_id")), lit("@example.com now")))
      .when(col("doc_id") % 3 === 1,
        concat(lit(" call +1 555 010 "), lpad(s(col("doc_id") % 10000), 4, "0")))
      .otherwise(concat(lit(" host 10.0."), s(col("doc_id") % 256),
        lit("."), s(col("doc_id") % 100), lit(" up")))
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"), concat(col("text"), extra).as("text"))
    TextOps.piiStats(docs, col("doc_id"), col("text")).orderBy("doc_id")
  }

  /** Seeded label propagation ([[GraphOps.labelPropagation]]) over the
    * KG edge graph: the five region nodes seed their names, three
    * synchronous majority rounds type every nation, customer, and
    * supplier — KG entity classification from link structure alone.
    */
  def kgLabelProp(spark: SparkSession, dir: String): DataFrame = {
    val kg = kgTriples(spark, dir)
    val seeds = t(spark, dir, "region").select(
      concat(lit("urn:dm:region/"), col("r_regionkey")).as("node"),
      col("r_name").as("label"))
    GraphOps.labelPropagation(
        kg.filter(col("dt") === "")
          .select(col("subj").as("src"), col("obj").as("dst")),
        seeds, iterations = 3)
      .orderBy("node")
  }

  /** DISTINCT inside SUM/AVG aggregates — `SUM(DISTINCT ?rk)` sums each
    * distinct value once (25 nations share 5 region keys), `AVG
    * (DISTINCT)` divides by the distinct count, `MIN(DISTINCT)` is
    * spec-identical to plain MIN, all alongside grouped COUNT.
    */
  def kgAggDistinct(spark: SparkSession, dir: String): DataFrame =
    GraphOps.select(kgTriples(spark, dir),
      """SELECT (SUM(DISTINCT ?rk) AS ?sd) (AVG(DISTINCT ?rk) AS ?ad)
        |       (MIN(DISTINCT ?rk) AS ?md) (COUNT(*) AS ?n)
        |WHERE { ?x <urn:dm:nation#n_regionkey> ?rk }""".stripMargin)

  /** Deterministic random walks ([[GraphOps.randomWalks]]) over the
    * SYMMETRIZED KG graph from the supplier nodes — hash-seeded neighbor
    * choice makes the full walk corpus (every visit of every walk)
    * value-comparable across engines; the symmetrization gives nations
    * high degree so the picks genuinely exercise the hash.
    */
  def kgRandomWalks(spark: SparkSession, dir: String): DataFrame = {
    val kg = kgTriples(spark, dir)
    val dirEdges = kg.filter(col("dt") === "")
      .select(col("subj").as("src"), col("obj").as("dst"))
    val edges = dirEdges.union(
      dirEdges.select(col("dst").as("src"), col("src").as("dst")))
    val starts = kg.filter(col("pred") === "urn:dm:supplier#ref-s_nationkey")
      .select(col("subj").as("node"))
    GraphOps.randomWalks(edges, starts, walkLen = 3, walksPerNode = 2)
      .orderBy("start", "wid", "step")
  }

  /** Skip-gram (center, context) pair counts
    * ([[GraphOps.skipGramPairs]], window 2) over the deterministic walk
    * corpus of [[kgRandomWalks]] — the co-occurrence multiset embedding
    * training consumes, value-gated end-to-end (walks AND pairing).
    */
  def kgSkipgramPairs(spark: SparkSession, dir: String): DataFrame = {
    val kg = kgTriples(spark, dir)
    val dirEdges = kg.filter(col("dt") === "")
      .select(col("subj").as("src"), col("obj").as("dst"))
    val edges = dirEdges.union(
      dirEdges.select(col("dst").as("src"), col("src").as("dst")))
    val starts = kg.filter(col("pred") === "urn:dm:supplier#ref-s_nationkey")
      .select(col("subj").as("node"))
    GraphOps.skipGramPairs(
        GraphOps.randomWalks(edges, starts, walkLen = 3, walksPerNode = 2),
        window = 2)
      .orderBy("center", "context")
  }

  /** k-hop feature propagation ([[GraphOps.featurePropagation]]) over
    * the KG edge graph with all-ones init: after 2 hops each node's
    * feature counts its ≤2-step in-paths — exact BIGINT message
    * passing, profiled as a (f, count, min/max node) histogram.
    */
  def kgFeatureProp(spark: SparkSession, dir: String): DataFrame = {
    val kg = kgTriples(spark, dir)
    val edges = kg.filter(col("dt") === "")
      .select(col("subj").as("src"), col("obj").as("dst"))
    val ones = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()
      .select(col("node"), lit(1L).as("f"))
    GraphOps.featurePropagation(edges, ones, hops = 2)
      .groupBy(col("f"))
      .agg(count(lit(1)).as("n_nodes"), min(col("node")).as("min_node"),
        max(col("node")).as("max_node"))
      .orderBy("f")
  }

  /** The composed curation pipeline — the flow a training-data team
    * actually runs, chained from the individually-gated operators:
    * URL canonicalization → exact-URL dedup (min doc per canonical) →
    * Gopher quality gate → 3-gram benchmark decontamination →
    * per-source survivor report. Each stage is a stage-local
    * shuffle-or-less plan; the one materialization is the post-gate
    * survivor set (see below), which bounds the branch fan-out.
    */
  def curationPipeline(spark: SparkSession, dir: String): DataFrame = {
    val s = (c: org.apache.spark.sql.Column) => c.cast("string")
    val docs0 = t(spark, dir, "documents")
    val url = concat(
      when(col("doc_id") % 2 === 0, lit("HTTPS")).otherwise(lit("https")),
      lit("://"),
      when(col("doc_id") % 3 === 0, lit("WWW.Example.COM"))
        .otherwise(lit("www.example.com")),
      lit("/Page/"), s(col("doc_id") % 100),
      lit("?utm_source=feed&b="), s(col("doc_id") % 5),
      lit("&a="), s(col("doc_id") % 7), lit("#sec"), s(col("doc_id")))
    val canon = docs0.select(col("doc_id"), col("text"), col("source"),
      TextOps.canonicalizeUrl(url).as("canon"))
    // keep the min doc per canonical URL via ONE hash aggregation —
    // min(struct(doc_id, …)) is the whole row of the smallest doc_id
    // (doc_id is unique and leads the struct) — instead of a row_number
    // window: partial aggregation absorbs a hot canonical URL map-side
    // (boilerplate dup'd millions of times no longer lands one straggler
    // window task sorting the whole group — guide §2.5; r5 review
    // flagged the window as this pipeline's skew hazard), and the
    // canonicalizeUrl projection is evaluated once (a semi-join variant
    // re-derived it on both sides — measured 3× slower). Same survivor
    // set as the window's rn = 1 row.
    val deduped = canon.groupBy(col("canon"))
      .agg(min(struct(col("doc_id"), col("text"), col("source"))).as("r"))
      .select(col("r.doc_id").as("doc_id"), col("r.text").as("text"),
        col("r.source").as("source"), col("canon"))
    val passing = TextOps.gopherQuality(deduped, col("doc_id"), col("text"))
      .filter(col("passes")).select(col("doc_id"))
    // materialize the dedup+quality survivors ONCE: downstream the set is
    // consumed four times (the contamination probe shingles it twice and
    // the final report joins it again), and a fully lazy DAG re-ran the
    // URL-canonicalize + dedup-aggregate chain per consumer (guide §5:
    // cut the plan where reuse is real). At 100 TB this boundary is
    // precisely the intermediate a production curation run stores — the
    // post-gate corpus is the artifact later stages (and training) read.
    val kept = deduped.join(passing, Seq("doc_id"), "left_semi").localCheckpoint()
    val probe = kept.filter(col("doc_id") % 97 =!= 0)
    val clean = TextOps.contamination(probe, col("doc_id"), col("text"),
        docs0.filter(col("doc_id") % 97 === 0), col("text"), n = 3)
      .filter(!col("contaminated")).select(col("doc_id"))
    probe.join(clean, Seq("doc_id"), "left_semi")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_survivors"), min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
      .orderBy("source")
  }

  /** Aggregates over full value expressions — `(SUM(?rk * ?rk) AS ?ss)`
    * etc., the analytic tail SPARQL 1.1 allows and simple-variable-only
    * grammars reject.
    */
  def kgAggExpr(spark: SparkSession, dir: String): DataFrame =
    GraphOps.select(kgTriples(spark, dir),
      """SELECT (SUM(?rk * ?rk) AS ?ss) (AVG(?rk + 1) AS ?ar)
        |       (MAX(?rk * 3 - 1) AS ?mx)
        |WHERE { ?n <urn:dm:nation#n_regionkey> ?rk }""".stripMargin)

  /** N-Quads corpus round trip ([[NQuadsIO]]): the KG plus
    * escape-stressing literals (a language tag, a backslash+tab lexical,
    * a typed integer) serialized to canonical N-Quads lines and parsed
    * back line-parallel — `serialize → parseLines` must be the identity,
    * gated on the per-predicate profile including the escaped lexical
    * form byte-for-byte (min_obj) and the dt channel (max_dt).
    */
  def kgNquadsRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val spicy = GraphOps.updateQuery(kgTriples(spark, dir),
      "INSERT DATA { <urn:dm:region/0> <urn:voc:label> \"Afrika\"@de . " +
        "<urn:dm:region/1> <urn:voc:note> \"back\\slash\ttab\" . " +
        "<urn:dm:region/2> <urn:voc:pop> \"7\"^^<http://www.w3.org/2001/XMLSchema#integer> }")
    NQuadsIO.parseLines(NQuadsIO.serialize(spicy)).drop("graph")
      .groupBy(col("pred"))
      .agg(count(lit(1)).as("n_triples"), min(col("obj")).as("min_obj"),
        max(col("dt")).as("max_dt"))
      .orderBy("pred")
  }

  /** `sameTerm` as the join condition between two otherwise-unlinked
    * patterns (customer-nation × supplier-nation term identity) — the
    * equality Catalyst folds into an equi-join, counted per region.
    */
  def kgSameTerm(spark: SparkSession, dir: String): DataFrame =
    GraphOps.select(kgTriples(spark, dir),
      """SELECT ?r (COUNT(*) AS ?n_pairs) WHERE {
        |  ?c <urn:dm:customer#ref-c_nationkey> ?n1 .
        |  ?s <urn:dm:supplier#ref-s_nationkey> ?n2 .
        |  FILTER(SAMETERM(?n1, ?n2)) .
        |  ?n1 <urn:dm:nation#ref-n_regionkey> ?r
        |} GROUP BY ?r ORDER BY ?r""".stripMargin)

  /** Incremental ingest: the prior run's manifest covers all docs except
    * doc_id % 10 == 3; only the 10% delta flows through the pipeline.
    */
  def jsonldIncremental(spark: SparkSession, dir: String): DataFrame = {
    val corpus = Corpus.corpusFlat(spark, dir)
    val docId = regexp_extract(col("path"), "doc(\\d+)\\.jsonld", 1).cast("long")
    val prev = corpus.toDF().filter(docId % 10 =!= 3)
      .select(col("path"), sha2(col("content"), 256).as("content_sha256"))
    val (pipe, _) = runPipeline(spark, Pipeline.incrementalCorpus(corpus, prev))
    GraphOps.predicateStats(pipelineQuadsDf(pipe)).orderBy("pred")
  }

  /** OPTIONAL BGP: every nation (required pattern) with its supplier
    * count — nations without suppliers survive the left join with 0.
    */
  def kgBgpOptional(spark: SparkSession, dir: String): DataFrame =
    GraphOps.select(kgTriples(spark, dir),
      """?nation <urn:dm:nation#ref-n_regionkey> ?region .
        |OPTIONAL { ?supp <urn:dm:supplier#ref-s_nationkey> ?nation }""".stripMargin)
      .groupBy(col("nation"))
      .agg(count(col("supp")).as("n_suppliers"))
      .orderBy("nation")

  def sampleStratified(spark: SparkSession, dir: String): DataFrame =
    SampleOps.stratifiedSample(t(spark, dir, "documents"), col("lang"), col("doc_id"),
        rates = Map("en" -> 0.5, "de" -> 0.25, "zh" -> 0.1))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_sampled"))
      .orderBy("lang")

  /** Star BGP: suppliers and customers sharing a nation — pair counts per
    * nation node.
    */
  def kgBgpStar(spark: SparkSession, dir: String): DataFrame =
    GraphOps.select(kgTriples(spark, dir),
      """?supp <urn:dm:supplier#ref-s_nationkey> ?nation .
        |?cust <urn:dm:customer#ref-c_nationkey> ?nation""".stripMargin)
      .groupBy(col("nation"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("nation")

  /** Named-graph KG: the Direct-Mapped triples with a `graph` column —
    * nation triples land in a per-region graph (`urn:g:region/<rk>`),
    * region triples in `urn:g:meta`, customer references in the default
    * graph (`""`). The per-region placement makes the graph-VARIABLE
    * join discriminating: two patterns on different subjects co-occur
    * only when their quads share a graph.
    */
  private def kgNamedGraphQuads(spark: SparkSession, dir: String): DataFrame = {
    val nation = t(spark, dir, "nation")
    val nationG = GraphOps.directMapping(nation, "nation", "n_nationkey",
        refs = Map("n_regionkey" -> "region"))
      .join(nation.select(GraphOps.rowIri("nation", col("n_nationkey")).as("subj"),
        concat(lit("urn:g:region/"), col("n_regionkey")).as("graph")), "subj")
    val regionG = GraphOps.directMapping(t(spark, dir, "region"), "region", "r_regionkey")
      .withColumn("graph", lit("urn:g:meta"))
    val custG = GraphOps.referenceTriples(t(spark, dir, "customer"), "customer",
        "c_custkey", Map("c_nationkey" -> "nation"))
      .withColumn("graph", lit(""))
    nationG.unionByName(regionG).unionByName(custG)
  }

  /** GRAPH patterns over the named-graph KG — three labeled parts, one
    * per quad-pattern feature: constant graph, the default graph (`""`),
    * and a graph-variable join (nations pair up only within their shared
    * per-region graph, so the count is Σ_regions |nations_r|² — a plan
    * that ignored the graph term would return |nations|²).
    */
  def kgGraphPatterns(spark: SparkSession, dir: String): DataFrame = {
    val quads = kgNamedGraphQuads(spark, dir)
    def part(name: String, text: String): DataFrame =
      GraphOps.select(quads, text)
        .agg(count(lit(1)).as("n")).select(lit(name).as("part"), col("n"))
    val constG = part("const_graph",
      "GRAPH <urn:g:meta> { ?r <urn:dm:region#r_name> ?name }")
    val defaultG = part("default_graph",
      """GRAPH "" { ?c <urn:dm:customer#ref-c_nationkey> ?n }""")
    val varJoin = part("graph_var_join",
      """GRAPH ?g { ?a <urn:dm:nation#n_name> ?an .
        |  ?b <urn:dm:nation#ref-n_regionkey> ?rg }""".stripMargin)
    constG.unionByName(defaultG).unionByName(varJoin).orderBy("part")
  }

  /** Incremental closure maintenance (round 5): the stored-closure-
    * table story made executable — close the parent tree WITHOUT the
    * `doc_id % 7 == 3` edges, then fold that held-out delta in via
    * [[GraphOps.updateClosure]] (semi-naive delta iteration, work
    * scales with the delta). Gated against the SAME full-recompute
    * recursive-CTE oracle as `kg_reachability` — the maintained table
    * must be indistinguishable from a re-close.
    */
  def kgClosureDelta(spark: SparkSession, dir: String): DataFrame = {
    val edges = t(spark, dir, "documents").filter(col("doc_id") > 0)
      .select(col("doc_id").as("src"), expr("doc_id div 2").as("dst"),
        (col("doc_id") % 7 === 3).as("isNew"))
    val base = edges.filter(!col("isNew")).select(col("src"), col("dst"))
    val delta = edges.filter(col("isNew")).select(col("src"), col("dst"))
    GraphOps.updateClosure(GraphOps.transitiveClosure(base), delta)
      .groupBy(col("src").as("doc_id"))
      .agg(count(lit(1)).as("n_ancestors"), min(col("dst")).as("top_ancestor"))
      .orderBy("doc_id")
  }

  /** SELECT-head expression projections (round 5): `(expr AS ?alias)`
    * without a BIND — arithmetic and CONCAT straight in the head.
    */
  def kgSelectExpr(spark: SparkSession, dir: String): DataFrame =
    GraphOps.select(kgTriples(spark, dir),
      """SELECT ?n (?rk * 10 + ?rk AS ?score) (CONCAT(?name, "/", ?rk) AS ?label) WHERE {
        |  ?n <urn:dm:nation#n_name> ?name . ?n <urn:dm:nation#n_regionkey> ?rk
        |} ORDER BY ?n""".stripMargin)

  /** FROM / FROM NAMED (round 5): the dataset clause over the
    * named-graph KG — the plain pattern sees only region-1's graph (5 of
    * 25 nation names), the GRAPH block may select only the FROM NAMED
    * graph. Either restriction ignored → 25 rows or extra graphs, so
    * both clauses are load-bearing.
    */
  def kgFromNamed(spark: SparkSession, dir: String): DataFrame =
    GraphOps.select(kgNamedGraphQuads(spark, dir),
      """SELECT ?nm ?g2 FROM <urn:g:region/1> FROM NAMED <urn:g:region/1> WHERE {
        |  ?n <urn:dm:nation#n_name> ?nm .
        |  GRAPH ?g2 { ?n <urn:dm:nation#n_regionkey> ?rk }
        |} ORDER BY ?nm""".stripMargin)

  /** FILTER in the BGP compiler, through the parser: nations with
    * region key ≥ 2 (numeric — lexical compare would misplace "10"),
    * minus one by name (string).
    */
  def kgBgpFilter(spark: SparkSession, dir: String): DataFrame =
    GraphOps.select(kgTriples(spark, dir),
      """?n <urn:dm:nation#n_regionkey> ?rk . ?n <urn:dm:nation#n_name> ?name .
        |FILTER(?rk >= 2) . FILTER(?name != "CHINA")""".stripMargin)
      .select(col("n").as("nation"), col("name"), col("rk"))
      .orderBy("nation")

  /** UNION of pattern groups: suppliers ∪ customers per nation — members
    * counted per nation node across both branches.
    */
  def kgBgpUnion(spark: SparkSession, dir: String): DataFrame =
    GraphOps.select(kgTriples(spark, dir),
      """{ ?m <urn:dm:supplier#ref-s_nationkey> ?n }
        |UNION
        |{ ?m <urn:dm:customer#ref-c_nationkey> ?n }""".stripMargin)
      .groupBy(col("n").as("nation"))
      .agg(count(lit(1)).as("n_members"))
      .orderBy("nation")

  /** The composed text-query surface end-to-end: one `select()` string
    * with UNION branches and a FILTER, compiled onto the cached KG —
    * suppliers (all) ∪ customers in nations with region key ≥ 2, member
    * counts per nation plus the count of rows that came through the
    * filtered branch (non-null `rk`).
    */
  def kgSelect(spark: SparkSession, dir: String): DataFrame =
    GraphOps.select(kgTriples(spark, dir),
      """{ ?m <urn:dm:supplier#ref-s_nationkey> ?n }
        |UNION
        |{ ?m <urn:dm:customer#ref-c_nationkey> ?n .
        |  ?n <urn:dm:nation#n_regionkey> ?rk . FILTER(?rk >= 2) }""".stripMargin)
      .groupBy(col("n").as("nation"))
      .agg(count(lit(1)).as("n_members"), count(col("rk")).as("n_filtered"))
      .orderBy("nation")

  /** SPARQL VALUES through the composed grammar: customers restricted to
    * an inline nation list (broadcast inner join), counted per nation.
    */
  def kgValues(spark: SparkSession, dir: String): DataFrame =
    GraphOps.select(kgTriples(spark, dir),
      """?c <urn:dm:customer#ref-c_nationkey> ?n .
        |VALUES ?n { <urn:dm:nation/1> <urn:dm:nation/3> <urn:dm:nation/7> }""".stripMargin)
      .groupBy(col("n").as("nation"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy("nation")

  /** SPARQL MINUS through the composed grammar: customers whose nation
    * is NOT in ASIA (left-anti on the shared nation variable), counted
    * per nation.
    */
  def kgMinus(spark: SparkSession, dir: String): DataFrame =
    GraphOps.select(kgTriples(spark, dir),
      """?c <urn:dm:customer#ref-c_nationkey> ?n .
        |MINUS { ?n <urn:dm:nation#ref-n_regionkey> ?r .
        |        ?r <urn:dm:region#r_name> "ASIA" }""".stripMargin)
      .groupBy(col("n").as("nation"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy("nation")

  /** Property path `p+` through the BGP bridge: the document parent tree
    * as `urn:p:parent` triples plus literal `urn:p:lang` triples;
    * `?d <urn:p:parent>+ ?a . ?a <urn:p:lang> "en"` counts each
    * document's English-language proper ancestors.
    */
  private def docIri(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(lit("urn:doc:"), c)

  /** The deterministic doc_id → doc_id div 2 parent tree as quads — the
    * ONE definition behind kg_path_plus, kg_path_star, and the shared
    * `WITH RECURSIVE e` oracle CTE (duplicating it invites silent
    * divergence between the gated queries).
    */
  private def docParentQuads(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents").filter(col("doc_id") > 0)
      .select(docIri(col("doc_id")).as("subj"), lit("urn:p:parent").as("pred"),
        docIri(expr("doc_id div 2")).as("obj"), lit("").as("dt"))

  def kgPathPlus(spark: SparkSession, dir: String): DataFrame = {
    // the WHOLE query — terse `<p>+` path (auto-bridged closure), BGP
    // join, aggregation, ordering — is one text string (round 5;
    // previously the closure was pre-bridged by hand)
    val docs = t(spark, dir, "documents")
    val langTriples = docs.select(docIri(col("doc_id")).as("subj"),
      lit("urn:p:lang").as("pred"), col("lang").as("obj"),
      lit(GraphOps.XsdString).as("dt"))
    GraphOps.select(docParentQuads(spark, dir).unionByName(langTriples),
      """SELECT ?doc (COUNT(*) AS ?n_en_ancestors) WHERE {
        |  ?doc <urn:p:parent>+ ?a . ?a <urn:p:lang> "en"
        |} GROUP BY ?doc ORDER BY ?doc""".stripMargin)
  }

  /** Property path `p*` (zero-or-more) through the text grammar:
    * reachable-in-≥0-steps counts per document over the parent tree —
    * the `<p>*` virtual triples include the identity pairs.
    */
  def kgPathStar(spark: SparkSession, dir: String): DataFrame =
    GraphOps.select(docParentQuads(spark, dir),
      """SELECT ?doc (COUNT(*) AS ?n_reachable) WHERE {
        |  ?doc <urn:p:parent>* ?x
        |} GROUP BY ?doc ORDER BY ?doc""".stripMargin)

  /** Sequence property path through the grammar: customer →(nationkey)
    * nation →(regionkey) region in ONE predicate `<a>/<b>`, customers
    * counted per region. The chain joins through an internal hop
    * variable the compiler generates and drops.
    */
  def kgPathSeq(spark: SparkSession, dir: String): DataFrame =
    GraphOps.select(kgTriples(spark, dir),
      """SELECT ?r (COUNT(*) AS ?n_customers) WHERE {
        |  ?c <urn:dm:customer#ref-c_nationkey>/<urn:dm:nation#ref-n_regionkey> ?r
        |} GROUP BY ?r ORDER BY ?r""".stripMargin)

  /** Inverse path `^<p>` through the grammar: nations to their customers
    * by traversing the reference edge BACKWARD — `?n ^<ref> ?c` ≡
    * `?c <ref> ?n`.
    */
  def kgPathInverse(spark: SparkSession, dir: String): DataFrame =
    GraphOps.select(kgTriples(spark, dir),
      """SELECT ?n (COUNT(*) AS ?n_customers) WHERE {
        |  ?n ^<urn:dm:customer#ref-c_nationkey> ?c
        |} GROUP BY ?n ORDER BY ?n""".stripMargin)

  /** Predicate alternation `<a>|<b>` through the grammar: suppliers ∪
    * customers per nation via ONE pattern whose predicate is a pushable
    * IN filter — same solution set as the two-branch `kg_bgp_union`.
    */
  def kgPathAlt(spark: SparkSession, dir: String): DataFrame =
    GraphOps.select(kgTriples(spark, dir),
      """SELECT ?n (COUNT(*) AS ?n_members) WHERE {
        |  ?m <urn:dm:supplier#ref-s_nationkey>|<urn:dm:customer#ref-c_nationkey> ?n
        |} GROUP BY ?n ORDER BY ?n""".stripMargin)

  /** Zero-or-one path `<p>?` through the grammar: each node of the
    * parent tree reaches itself plus (at most) its parent — the lazy,
    * non-iterative member of the path family.
    */
  def kgPathOpt(spark: SparkSession, dir: String): DataFrame =
    GraphOps.select(docParentQuads(spark, dir),
      """SELECT ?doc (COUNT(*) AS ?n_within_one) WHERE {
        |  ?doc <urn:p:parent>? ?x
        |} GROUP BY ?doc ORDER BY ?doc""".stripMargin)

  /** Variable-to-variable FILTER comparison: nation pairs where one's
    * region key is strictly below the other's — `FILTER(?ra < ?rb)`
    * compares two bound variables numerically. Also exercises the
    * global-aggregate head (COUNT with no GROUP BY).
    */
  def kgFilterVarVar(spark: SparkSession, dir: String): DataFrame =
    GraphOps.select(kgTriples(spark, dir),
      """SELECT (COUNT(*) AS ?n_pairs) WHERE {
        |  ?a <urn:dm:nation#n_regionkey> ?ra .
        |  ?b <urn:dm:nation#n_regionkey> ?rb .
        |  FILTER(?ra < ?rb)
        |}""".stripMargin)

  /** The round-4 `<`-operator lexer defect, now oracle-gated: FILTER
    * with `<` / `<=` inside UNION branches — the bare `<` must lex as a
    * comparison operator, not an IRI opener that swallows the UNION.
    */
  def kgUnionFilterLt(spark: SparkSession, dir: String): DataFrame =
    GraphOps.select(kgTriples(spark, dir),
      """SELECT ?n (COUNT(*) AS ?n_members) WHERE {
        |  { ?m <urn:dm:supplier#ref-s_nationkey> ?n .
        |    ?n <urn:dm:nation#n_regionkey> ?rk . FILTER(?rk < 2) }
        |  UNION
        |  { ?m <urn:dm:customer#ref-c_nationkey> ?n .
        |    ?n <urn:dm:nation#n_regionkey> ?rk2 . FILTER(?rk2 <= 1) }
        |} GROUP BY ?n ORDER BY ?n""".stripMargin)

  /** Solution modifiers end-to-end: the aggregation tail of the round-4
    * `kg_select` query now runs THROUGH the grammar (SELECT head, GROUP
    * BY, ORDER BY) instead of finishing in DataFrame code.
    */
  def kgSelectAgg(spark: SparkSession, dir: String): DataFrame =
    GraphOps.select(kgTriples(spark, dir),
      """SELECT ?n (COUNT(*) AS ?n_members) (COUNT(?rk) AS ?n_filtered) WHERE {
        |  { ?m <urn:dm:supplier#ref-s_nationkey> ?n }
        |  UNION
        |  { ?m <urn:dm:customer#ref-c_nationkey> ?n .
        |    ?n <urn:dm:nation#n_regionkey> ?rk . FILTER(?rk >= 2) }
        |} GROUP BY ?n ORDER BY ?n""".stripMargin)

  /** DISTINCT + ORDER BY DESC + LIMIT through the grammar. */
  def kgSelectModifiers(spark: SparkSession, dir: String): DataFrame =
    GraphOps.select(kgTriples(spark, dir),
      """SELECT DISTINCT ?n WHERE { ?m <urn:dm:customer#ref-c_nationkey> ?n }
        |ORDER BY DESC(?n) LIMIT 5""".stripMargin)

  /** Boolean FILTER composition (round 5): `&& || !` with parens in one
    * expression — high regions, or region 0 minus one named nation.
    */
  def kgFilterBool(spark: SparkSession, dir: String): DataFrame =
    GraphOps.select(kgTriples(spark, dir),
      """SELECT ?n ?name WHERE {
        |  ?n <urn:dm:nation#n_name> ?name . ?n <urn:dm:nation#n_regionkey> ?rk .
        |  FILTER(?rk >= 3 || (?rk < 1 && !(?name = "NATION_10")))
        |} ORDER BY ?n""".stripMargin)

  /** String FILTER functions (round 5): REGEX (find semantics, anchored
    * here), CONTAINS + STRLEN arithmetic-free composition, STRSTARTS —
    * all in one disjunction.
    */
  def kgFilterStr(spark: SparkSession, dir: String): DataFrame =
    GraphOps.select(kgTriples(spark, dir),
      """SELECT ?n ?name WHERE {
        |  ?n <urn:dm:nation#n_name> ?name .
        |  FILTER(REGEX(?name, "^NATION_1[0-9]$")
        |         || (CONTAINS(?name, "_2") && STRLEN(?name) <= 8)
        |         || STRSTARTS(?name, "NATION_0"))
        |} ORDER BY ?n""".stripMargin)

  /** FILTER EXISTS (round 5): nations that have at least one supplier —
    * a left-semi join on the shared nation variable, no row duplication
    * however many suppliers match.
    */
  def kgExists(spark: SparkSession, dir: String): DataFrame =
    GraphOps.select(kgTriples(spark, dir),
      """SELECT ?n ?name WHERE {
        |  ?n <urn:dm:nation#n_name> ?name .
        |  FILTER EXISTS { ?s <urn:dm:supplier#ref-s_nationkey> ?n }
        |} ORDER BY ?n""".stripMargin)

  /** FILTER NOT EXISTS (round 5): nations with no edge into region 0 —
    * the anti-join twin of [[kgExists]].
    */
  def kgNotExists(spark: SparkSession, dir: String): DataFrame =
    GraphOps.select(kgTriples(spark, dir),
      """SELECT ?n ?name WHERE {
        |  ?n <urn:dm:nation#n_name> ?name .
        |  FILTER NOT EXISTS { ?n <urn:dm:nation#ref-n_regionkey> <urn:dm:region/0> }
        |} ORDER BY ?n""".stripMargin)

  /** BIND (round 5): a CONCAT string alias and an arithmetic alias, the
    * latter consumed by a FILTER — projection of derived values, SPARQL's
    * `BIND(expr AS ?v)`.
    */
  def kgBind(spark: SparkSession, dir: String): DataFrame =
    GraphOps.select(kgTriples(spark, dir),
      """SELECT ?label ?score WHERE {
        |  ?n <urn:dm:nation#n_name> ?nm . ?n <urn:dm:nation#n_regionkey> ?rk .
        |  BIND(CONCAT(?nm, "/", ?rk) AS ?label) .
        |  BIND(?rk * 10 + ?rk AS ?score) .
        |  FILTER(?score >= 22)
        |} ORDER BY ?label""".stripMargin)

  /** GROUP_CONCAT + SAMPLE aggregates (round 5): nation names per
    * region, sorted-concatenated (deterministic where SPARQL leaves the
    * order open) plus the deterministic SAMPLE (minimum).
    */
  def kgGroupConcat(spark: SparkSession, dir: String): DataFrame =
    GraphOps.select(kgTriples(spark, dir),
      """SELECT ?r (GROUP_CONCAT(?nm; SEPARATOR="|") AS ?names)
        |       (SAMPLE(?nm) AS ?first_name) WHERE {
        |  ?n <urn:dm:nation#ref-n_regionkey> ?r . ?n <urn:dm:nation#n_name> ?nm
        |} GROUP BY ?r ORDER BY ?r""".stripMargin)

  /** PREFIX declarations + the `a` (rdf:type) keyword (round 5), over
    * the KG the JSON-LD pipeline itself constructs: every CURIE in the
    * query expands against the declared vocabulary namespace, and the
    * dispatching [[GraphOps.query]] entry point sees the PREFIX header.
    */
  def kgPrefixType(spark: SparkSession, dir: String): DataFrame = {
    val (pipe, _) = runPipeline(spark, Corpus.corpusFlat(spark, dir))
    GraphOps.query(pipelineQuadsDf(pipe),
      s"""PREFIX v: <$V>
         |SELECT ?lang (COUNT(*) AS ?n_docs) WHERE {
         |  ?d a v:Document . ?d v:lang ?lang
         |} GROUP BY ?lang ORDER BY ?lang""".stripMargin)
  }

  /** FILTER IN / NOT IN (round 5): both clauses load-bearing — region
    * keys restricted to an inline list, two nations excluded by name.
    */
  def kgFilterIn(spark: SparkSession, dir: String): DataFrame =
    GraphOps.select(kgTriples(spark, dir),
      """SELECT ?n ?name WHERE {
        |  ?n <urn:dm:nation#n_name> ?name . ?n <urn:dm:nation#n_regionkey> ?rk .
        |  FILTER(?rk IN (1, 3)) . FILTER(?name NOT IN ("NATION_1", "NATION_13"))
        |} ORDER BY ?n""".stripMargin)

  /** Negated property set (round 5): `!(<a>|<b>)` matches every
    * predicate EXCEPT the listed ones — nation 1's triples that are
    * neither its name nor its region reference, via one pushable
    * NOT-IN predicate filter (the predicate itself stays unbound, per
    * the spec).
    */
  def kgPredNegation(spark: SparkSession, dir: String): DataFrame =
    GraphOps.select(kgTriples(spark, dir),
      """SELECT (COUNT(*) AS ?n_other) WHERE {
        |  <urn:dm:nation/1> !(<urn:dm:nation#n_name>|<urn:dm:nation#ref-n_regionkey>) ?o
        |}""".stripMargin)

  /** Term introspection (round 5): DATATYPE / isIRI / isLiteral /
    * isNumeric over the tracked per-binding datatype — three UNION
    * branches over nation 1's triples, each keeping a different term
    * kind (each filter EXCLUDES rows, so a vacuously-true test would
    * hash-mismatch).
    */
  def kgTermTests(spark: SparkSession, dir: String): DataFrame =
    GraphOps.select(kgTriples(spark, dir),
      s"""SELECT ?kind (COUNT(*) AS ?n) WHERE {
         |  { <urn:dm:nation/1> !<urn:x:none> ?o . FILTER(isIRI(?o)) .
         |    BIND("iri" AS ?kind) }
         |  UNION
         |  { <urn:dm:nation/1> !<urn:x:none> ?o . FILTER(isLiteral(?o)) .
         |    BIND("lit" AS ?kind) }
         |  UNION
         |  { <urn:dm:nation/1> !<urn:x:none> ?o .
         |    FILTER(isNumeric(?o) && DATATYPE(?o) = <$XsdInteger>) .
         |    BIND("num" AS ?kind) }
         |} GROUP BY ?kind ORDER BY ?kind""".stripMargin)

  /** String value functions (round 5): UCASE/LCASE round trip, SUBSTR,
    * regex REPLACE (all-matches), STRBEFORE/STRAFTER with the empty-on-
    * no-match rule — all as BIND projections, with a STRLEN-of-STRAFTER
    * FILTER keeping only single-digit nation suffixes (the filter
    * excludes rows, so every function is value-gated, not just typed).
    */
  def kgStrFuncs(spark: SparkSession, dir: String): DataFrame =
    GraphOps.select(kgTriples(spark, dir),
      """SELECT ?n ?l ?u ?sub ?rep ?s_before ?s_after WHERE {
        |  ?n <urn:dm:nation#n_name> ?name .
        |  BIND(LCASE(?name) AS ?l) . BIND(UCASE(?l) AS ?u) .
        |  BIND(SUBSTR(?name, 1, 6) AS ?sub) .
        |  BIND(REPLACE(?name, "_", "-") AS ?rep) .
        |  BIND(STRBEFORE(?name, "_") AS ?s_before) .
        |  BIND(STRAFTER(?name, "_") AS ?s_after) .
        |  FILTER(STRLEN(?s_after) = 1)
        |} ORDER BY ?n""".stripMargin)

  /** IF + COALESCE (round 5): a FILTER-gated OPTIONAL binds the region
    * key only when ≥ 2; COALESCE defaults the unbound rows, IF remaps
    * the default — both branches of each conditional are exercised
    * (bands "2"/"3"/"4" from the bound path, "L" from the fallback).
    */
  def kgIfCoalesce(spark: SparkSession, dir: String): DataFrame =
    GraphOps.select(kgTriples(spark, dir),
      """SELECT ?band (COUNT(*) AS ?n) WHERE {
        |  ?n <urn:dm:nation#n_name> ?nm .
        |  OPTIONAL { ?n <urn:dm:nation#n_regionkey> ?rk . FILTER(?rk >= 2) } .
        |  BIND(COALESCE(?rk, "low") AS ?coal) .
        |  BIND(IF(?coal = "low", "L", ?coal) AS ?band)
        |} GROUP BY ?band ORDER BY ?band""".stripMargin)

  /** Subquery (round 5): SPARQL 1.1 `{ SELECT … }` — per-nation customer
    * counts aggregated in a sub-select, joined to the outer name pattern
    * on the shared nation variable.
    */
  def kgSubquery(spark: SparkSession, dir: String): DataFrame =
    GraphOps.select(kgTriples(spark, dir),
      """SELECT ?name ?n_customers WHERE {
        |  ?n <urn:dm:nation#n_name> ?name .
        |  { SELECT ?n (COUNT(*) AS ?n_customers) WHERE {
        |      ?c <urn:dm:customer#ref-c_nationkey> ?n } GROUP BY ?n }
        |} ORDER BY ?name""".stripMargin)

  // --------------------------------------------------------------- map

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // JSON-LD KG-construction spine
    "jsonld_pipeline_quads" -> (jsonldPipelineQuads(_, _)),
    "jsonld_c14n_bnodes" -> (jsonldC14nBnodes(_, _)),
    "jsonld_entity_link" -> (jsonldEntityLink(_, _)),
    "jsonld_entity_link_salted" -> (jsonldEntityLinkSalted(_, _)),
    "jsonld_quarantine" -> (jsonldQuarantine(_, _)),
    // relational operators
    "q1_pricing" -> (q1Pricing(_, _)),
    "q3_revenue" -> (q3Revenue(_, _)),
    "q5_region" -> (q5Region(_, _)),
    "q_window_top_orders" -> (qWindowTopOrders(_, _)),
    "q_rollup" -> (qRollup(_, _)),
    "q_sessionize" -> (qSessionize(_, _)),
    // dedup family
    "dedup_exact" -> (dedupExact(_, _)),
    "dedup_minhash_lsh" -> (dedupMinhash(_, _)),
    "dedup_clusters" -> (dedupClusters(_, _)),
    "dedup_clusters_star" -> (dedupClusters(_, _)),
    "dedup_simhash" -> (dedupSimhash(_, _)),
    "dedup_embed_cosine" -> (dedupEmbedCosine(_, _)),
    "neighbor_jaccard" -> (neighborJaccard(_, _)),
    // text analysis
    "lang_id" -> (langId(_, _)),
    "token_count" -> (tokenCount(_, _)),
    "text_quality" -> (textQuality(_, _)),
    "doc_fingerprint" -> (docFingerprint(_, _)),
    // similarity search
    "ann_cosine_topk" -> (annBruteForce(_, _)),
    "ann_lsh_topk" -> (annLsh(_, _)),
    "ann_ivf_topk" -> (annIvf(_, _)),
    "ann_ivf_trained" -> (annIvfTrained(_, _)),
    // KG graph queries (Direct Mapping + BGP + graph stats)
    "kg_direct_mapping" -> (kgDirectMapping(_, _)),
    "kg_predicate_stats" -> (kgPredicateStats(_, _)),
    "kg_degrees" -> (kgDegrees(_, _)),
    "kg_bgp_chain" -> (kgBgpChain(_, _)),
    "kg_bgp_star" -> (kgBgpStar(_, _)),
    "kg_bgp_optional" -> (kgBgpOptional(_, _)),
    "kg_bgp_filter" -> (kgBgpFilter(_, _)),
    "kg_bgp_union" -> (kgBgpUnion(_, _)),
    "kg_graph_patterns" -> (kgGraphPatterns(_, _)),
    "kg_path_plus" -> (kgPathPlus(_, _)),
    "kg_path_star" -> (kgPathStar(_, _)),
    "kg_path_seq" -> (kgPathSeq(_, _)),
    "kg_path_inverse" -> (kgPathInverse(_, _)),
    "kg_path_alt" -> (kgPathAlt(_, _)),
    "kg_path_opt" -> (kgPathOpt(_, _)),
    "kg_filter_varvar" -> (kgFilterVarVar(_, _)),
    "kg_select" -> (kgSelect(_, _)),
    "kg_select_agg" -> (kgSelectAgg(_, _)),
    "kg_select_modifiers" -> (kgSelectModifiers(_, _)),
    "kg_filter_bool" -> (kgFilterBool(_, _)),
    "kg_filter_str" -> (kgFilterStr(_, _)),
    "kg_exists" -> (kgExists(_, _)),
    "kg_not_exists" -> (kgNotExists(_, _)),
    "kg_bind" -> (kgBind(_, _)),
    "kg_group_concat" -> (kgGroupConcat(_, _)),
    "kg_subquery" -> (kgSubquery(_, _)),
    "kg_prefix_type" -> (kgPrefixType(_, _)),
    "kg_filter_in" -> (kgFilterIn(_, _)),
    "kg_pred_negation" -> (kgPredNegation(_, _)),
    "kg_term_tests" -> (kgTermTests(_, _)),
    "kg_str_funcs" -> (kgStrFuncs(_, _)),
    "kg_if_coalesce" -> (kgIfCoalesce(_, _)),
    "kg_from_named" -> (kgFromNamed(_, _)),
    "kg_closure_delta" -> (kgClosureDelta(_, _)),
    "kg_select_expr" -> (kgSelectExpr(_, _)),
    "kg_union_filter_lt" -> (kgUnionFilterLt(_, _)),
    "kg_minus" -> (kgMinus(_, _)),
    "kg_values" -> (kgValues(_, _)),
    "kg_construct" -> (kgConstruct(_, _)),
    "kg_ask" -> (kgAsk(_, _)),
    "kg_ask_filtered" -> (kgAskFiltered(_, _)),
    "kg_describe" -> (kgDescribe(_, _)),
    "kg_having" -> (kgHaving(_, _)),
    "kg_count_distinct" -> (kgCountDistinct(_, _)),
    "kg_select_page" -> (kgSelectPage(_, _)),
    "kg_update_insert" -> (kgUpdateInsert(_, _)),
    "kg_update_delete_where" -> (kgUpdateDeleteWhere(_, _)),
    "kg_update_modify" -> (kgUpdateModify(_, _)),
    "kg_numeric_fns" -> (kgNumericFns(_, _)),
    "kg_sameas_resolution" -> (kgSameAsResolution(_, _)),
    "kg_rdfs_inference" -> (kgRdfsInference(_, _)),
    "kg_shortest_path" -> (kgShortestPath(_, _)),
    "kg_iri_mint" -> (kgIriMint(_, _)),
    "kg_sameterm" -> (kgSameTerm(_, _)),
    "kg_update_with" -> (kgUpdateWith(_, _)),
    "kg_graph_mgmt" -> (kgGraphMgmt(_, _)),
    "kg_lang_funcs" -> (kgLangFuncs(_, _)),
    "kg_triangles" -> (kgTriangles(_, _)),
    "kg_clustering" -> (kgClustering(_, _)),
    "kg_kcore" -> (kgKcore(_, _)),
    "kg_hits" -> (kgHits(_, _)),
    "kg_datetime_fns" -> (kgDatetimeFns(_, _)),
    "kg_term_constructors" -> (kgTermConstructors(_, _)),
    "kg_describe_where" -> (kgDescribeWhere(_, _)),
    "kg_values_multi" -> (kgValuesMulti(_, _)),
    "text_tfidf" -> (textTfidf(_, _)),
    "text_bm25" -> (textBm25(_, _)),
    "ann_quantize_int8" -> (annQuantizeInt8(_, _)),
    "url_canonicalize" -> (urlCanonicalize(_, _)),
    "text_gopher_quality" -> (textGopherQuality(_, _)),
    "text_contamination" -> (textContamination(_, _)),
    "text_pii" -> (textPii(_, _)),
    "kg_label_prop" -> (kgLabelProp(_, _)),
    "kg_feature_prop" -> (kgFeatureProp(_, _)),
    "kg_agg_distinct" -> (kgAggDistinct(_, _)),
    "kg_random_walks" -> (kgRandomWalks(_, _)),
    "kg_skipgram_pairs" -> (kgSkipgramPairs(_, _)),
    "curation_pipeline" -> (curationPipeline(_, _)),
    "kg_nquads_roundtrip" -> (kgNquadsRoundtrip(_, _)),
    "kg_agg_expr" -> (kgAggExpr(_, _)),
    "kg_pagerank" -> (kgPageRank(_, _)),
    "kg_hash_funcs" -> (kgHashFuncs(_, _)),
    "kg_reachability" -> (kgReachability(_, _)),
    "jsonld_incremental" -> (jsonldIncremental(_, _)),
    "jsonld_graph_stats" -> (jsonldGraphStats(_, _)),
    "jsonld_bgp_sources" -> (jsonldBgpSources(_, _)),
    // curation sampling
    "sample_stratified" -> (sampleStratified(_, _)),
    // multimodal plumbing + real image decode
    "multimodal_features" -> (multimodalFeatures(_, _)),
    "multimodal_decode" -> (multimodalDecode(_, _)),
    "multimodal_audio" -> (multimodalAudio(_, _))
  )

  // ------------------------------------------------------------ oracles

  private val V = Corpus.Vocab
  private val D = Corpus.DocNs
  private val RdfType = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
  private val XsdString = "http://www.w3.org/2001/XMLSchema#string"
  private val XsdInteger = "http://www.w3.org/2001/XMLSchema#integer"

  private val wordsSql =
    "list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')"
  private val dwordsSql = s"list_distinct($wordsSql)"

  private def stopList(s: Seq[String]): String =
    s.map(w => s"'$w'").mkString("[", ", ", "]")

  // --- portable-hash oracle fragments (mirror graft.ops.PortableHash) ---

  /** h60 of a VARCHAR expression: first 15 hex digits of md5 as BIGINT. */
  private def h60Sql(expr: String): String = ops.PortableHash.sqlH60(expr)

  /** Word 3-gram shingles of a word-list expression `ws` (1-based DuckDB
    * slices; mirrors TextOps.shingles for n = 3).
    */
  private def shingles3Sql(ws: String): String =
    s"CASE WHEN len($ws) >= 3 THEN list_transform(range(1, len($ws) - 1), " +
      s"i -> array_to_string($ws[i:i+2], ' ')) ELSE CAST([] AS VARCHAR[]) END"

  /** The 32-entry MinHash signature literal over a base-hash-list column
    * `bh` — same affine rehash family (constants inlined from DedupOps).
    */
  private def minhashSigSql(bh: String, k: Int): String =
    (0 until k).map { i =>
      s"CASE WHEN len($bh) > 0 THEN list_min(list_transform($bh, " +
        s"h -> (h * ${ops.DedupOps.affineA(i)} + ${ops.DedupOps.affineB(i)}) % ${ops.DedupOps.MersenneP})) " +
        s"ELSE ${Long.MaxValue} END"
    }.mkString("[", ", ", "]")

  /** Shared CTE chain ending in `v(doc_a, doc_b, j)` — the verified MinHash
    * near-dup pairs. Used verbatim by the `dedup_minhash_lsh` oracle and
    * composed under the recursive-reachability oracle of `dedup_clusters`,
    * so both gates replay the identical signature family.
    */
  private lazy val minhashPairCtes: String =
    s"""reps AS (SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text),
       |w AS (SELECT doc_id, $wordsSql AS ws FROM reps),
       |sg AS (SELECT doc_id, list_distinct(${shingles3Sql("ws")}) AS sh FROM w),
       |bh AS (SELECT doc_id, sh,
       |    list_transform(sh, s -> ${h60Sql("s")} % ${ops.DedupOps.MersenneP}) AS bh FROM sg),
       |sig AS (SELECT doc_id, sh, ${minhashSigSql("bh", 32)} AS sig FROM bh),
       |bands AS (SELECT doc_id, band,
       |    array_to_string(sig[band * 4 + 1 : band * 4 + 4], ',') AS key
       |  FROM sig CROSS JOIN range(8) t(band)),
       |capped AS (SELECT doc_id, band, key,
       |    row_number() OVER (PARTITION BY band, key ORDER BY doc_id) AS rn FROM bands),
       |cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
       |  FROM capped l JOIN capped r
       |    ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
       |  WHERE l.rn <= 1000 AND r.rn <= 1000),
       |v AS (SELECT doc_a, doc_b,
       |    len(list_intersect(a.sh, b.sh)) * 1.0 /
       |      greatest(len(list_distinct(list_concat(a.sh, b.sh))), 1) AS j
       |  FROM cand JOIN sg a ON a.doc_id = doc_a JOIN sg b ON b.doc_id = doc_b)""".stripMargin

  /** DuckDB replay of [[SimilarityOps.trainIvfCentroids]] +
    * [[SimilarityOps.ivfTopK]] over the embeddings table — the full
    * trained-IVF query as chained CTEs. Exactness rests on three design
    * choices the trainer made FOR replayability:
    *
    *  - seeding = the k smallest vec_ids (c0), no RNG;
    *  - assignment = argmax of the bit-portable cosine fold
    *    ([[SimilarityOps.cosineFoldSql]] — left-to-right double sums,
    *    ties to the smaller cell id via `row_number`);
    *  - update = per-(cell, dim) sums of TRUNCATED integer micro-units
    *    (`trunc` ≡ Spark's double→long cast, toward zero; `sum(BIGINT)`
    *    is order-independent), then `qsum / n / 1e6` in the same
    *    left-to-right double division order.
    *
    * Each iteration i: `a_i` assigns every vector to its nearest
    * c_{i-1} centroid; `x_i`/`s_i` quantize and sum per (cell, dim);
    * `g_i` explodes the previous centroids as the keep-on-empty
    * fallback; `c_i` rebuilds the codebook arrays (1-based DuckDB list
    * indexes — consistent on both sides of the join, so the 0-based
    * Spark dims align). The tail replays ivfTopK: nprobe cells nearest
    * the query, exact cosine top-k inside them.
    */
  private def trainedIvfOracleSql(k: Int, iterations: Int, nprobe: Int,
                                  topK: Int): String = {
    def cos(a: String, b: String) = SimilarityOps.cosineFoldSql(a, b)
    def iterCtes(i: Int): String = {
      val prev = s"c${i - 1}"
      s"""a$i AS (SELECT embedding, cell FROM (
         |    SELECT v.embedding, c.cid AS cell,
         |      row_number() OVER (PARTITION BY v.vec_id ORDER BY ${cos("v.embedding", "c.ce")} DESC, c.cid) AS rn
         |    FROM vecs v CROSS JOIN $prev c) WHERE rn = 1),
         |x$i AS (SELECT cell, u.i AS dim, CAST(trunc(CAST(u.x AS DOUBLE) * 1000000.0) AS BIGINT) AS q
         |  FROM (SELECT cell, unnest(list_transform(embedding, (x, j) -> {'x': x, 'i': j})) AS u FROM a$i)),
         |s$i AS (SELECT cell, dim, sum(q) AS qsum, count(*) AS n FROM x$i GROUP BY cell, dim),
         |g$i AS (SELECT cid, u.i AS dim, u.x AS prevx
         |  FROM (SELECT cid, unnest(list_transform(ce, (x, j) -> {'x': x, 'i': j})) AS u FROM $prev)),
         |c$i AS (SELECT cid, list(val ORDER BY dim) AS ce FROM (
         |    SELECT g.cid, g.dim,
         |      COALESCE(CAST(s.qsum AS DOUBLE) / s.n / 1000000.0, CAST(g.prevx AS DOUBLE)) AS val
         |    FROM g$i g LEFT JOIN s$i s ON s.cell = g.cid AND s.dim = g.dim) GROUP BY cid)""".stripMargin
    }
    s"""WITH vecs AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id <> 0),
       |c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) AS cid,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ce
       |  FROM (SELECT vec_id, embedding FROM vecs ORDER BY vec_id LIMIT $k)),
       |${(1 to iterations).map(iterCtes).mkString(",\n")},
       |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |probes AS (SELECT cid FROM (
       |    SELECT cid, row_number() OVER (ORDER BY ${cos("qe", "ce")} DESC, cid) AS rn
       |    FROM c$iterations, q) WHERE rn <= $nprobe),
       |assigned AS (SELECT vec_id, embedding, cell FROM (
       |    SELECT v.vec_id, v.embedding, c.cid AS cell,
       |      row_number() OVER (PARTITION BY v.vec_id ORDER BY ${cos("v.embedding", "c.ce")} DESC, c.cid) AS rn
       |    FROM vecs v CROSS JOIN c$iterations c) WHERE rn = 1)
       |SELECT vec_id, round(${cos("assigned.embedding", "qe")}, 4) AS cosine
       |FROM assigned, q, probes WHERE assigned.cell = probes.cid
       |ORDER BY cosine DESC, vec_id LIMIT $topK""".stripMargin
  }

  /** [[GraphOps.pageRank]] over the KG's IRI edges replayed in SQL:
    * iteration i = dangling-mass scalar (`d$i`), per-edge quantized
    * contributions (`pe$i`), per-target BIGINT sums (`c$i`), new ranks
    * (`r$i`) — the same ops in the same order as the Spark loop, so the
    * doubles agree bitwise before the final display rounding.
    */
  /** BM25 replayed with the engine's exact expression tree — the double
    * literals are interpolated from the SAME Scala constants the engine
    * uses, so `k1 + 1` etc. can't drift by a formatting round-trip.
    */
  private def bm25OracleSql(terms: Seq[String], k1: Double, b: Double): String = {
    val termList = terms.map(t => s"'${t.toLowerCase}'").mkString(", ")
    s"""WITH docs AS MATERIALIZED (SELECT doc_id, lower(text) AS t FROM documents),
       |base AS (SELECT doc_id,
       |  list_filter(regexp_split_to_array(t, '[^a-z]+'), x -> x <> '') AS w FROM docs),
       |dls AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl, w FROM base),
       |stats AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dls),
       |toks AS (SELECT doc_id, dl, unnest(w) AS token FROM dls),
       |tf AS (SELECT doc_id, dl, token, CAST(count(*) AS BIGINT) AS tf
       |  FROM toks WHERE token IN ($termList) GROUP BY doc_id, dl, token),
       |dfq AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY token),
       |sc AS (SELECT tf.doc_id,
       |    CAST(floor(1e6 * (CAST((SELECT n FROM stats) AS DOUBLE) / dfq.df) *
       |      (tf.tf * ${k1 + 1}) /
       |      (CAST(tf.tf AS DOUBLE) + $k1 * (${1 - b} +
       |        $b * CAST(tf.dl AS DOUBLE) / (SELECT avgdl FROM stats)))) AS BIGINT)
       |      AS term_score
       |  FROM tf JOIN dfq USING (token))
       |SELECT doc_id, CAST(sum(term_score) AS BIGINT) AS score_micro,
       |  count(*) AS n_hits
       |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** Label-propagation rounds replayed with the same majority-argmax
    * ordering (count DESC, label ASC) and clamped seeds; every round
    * MATERIALIZED (each references the previous twice).
    */
  private def labelPropOracleSql(iterations: Int): String = {
    def round(i: Int): String =
      s"""nb$i AS (SELECT und.dst AS node, l.label FROM und
         |  JOIN l${i - 1} l ON und.src = l.node WHERE l.label IS NOT NULL),
         |cnt$i AS (SELECT node, label, count(*) AS c FROM nb$i GROUP BY node, label),
         |pick$i AS (SELECT node, label AS new_label FROM (
         |  SELECT node, label, row_number() OVER (
         |    PARTITION BY node ORDER BY c DESC, label ASC) AS rn FROM cnt$i)
         |  WHERE rn = 1),
         |l$i AS MATERIALIZED (SELECT l.node,
         |    COALESCE(s.seed_label, p.new_label, l.label) AS label
         |  FROM l${i - 1} l LEFT JOIN pick$i p ON l.node = p.node
         |  LEFT JOIN seeds s ON l.node = s.node)""".stripMargin
    s"""WITH $kgQuadsCte,
       |e AS (SELECT DISTINCT subj AS src, obj AS dst FROM kg
       |  WHERE dt = '' AND subj <> obj),
       |und AS MATERIALIZED (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
       |nodes AS (SELECT DISTINCT src AS node FROM und),
       |seeds AS MATERIALIZED (SELECT 'urn:dm:region/'||r_regionkey AS node,
       |  r_name AS seed_label FROM region),
       |l0 AS MATERIALIZED (SELECT nodes.node, seed_label AS label
       |  FROM nodes LEFT JOIN seeds ON nodes.node = seeds.node),
       |${(1 to iterations).map(round).mkString(",\n")}
       |SELECT node, label FROM l$iterations ORDER BY node""".stripMargin
  }

  /** Random-walk steps replayed with the identical h60 pick and the
    * identical row_number neighbor ordering.
    */
  private def randomWalksCtes(walkLen: Int, walksPerNode: Int): String = {
    def step(i: Int): String =
      s"""p$i AS (SELECT s.start, s.wid, s.node,
         |    (${h60Sql(s"concat_ws('|', s.start, s.wid, $i, s.node)")} % d.deg + 1) AS pick
         |  FROM s${i - 1} s JOIN deg d ON s.node = d.src),
         |s$i AS MATERIALIZED (SELECT p.start, p.wid, a.dst AS node
         |  FROM p$i p JOIN adj a ON p.node = a.src AND p.pick = a.idx)""".stripMargin
    val widList = (1 to walksPerNode).mkString(", ")
    val unions = (0 to walkLen).map(i =>
      s"SELECT start, wid, $i AS step, node FROM s$i").mkString("\n  UNION ALL ")
    s"""WITH $kgQuadsCte,
       |e0 AS (SELECT DISTINCT subj AS src, obj AS dst FROM kg
       |  WHERE dt = '' AND subj <> obj),
       |e AS MATERIALIZED (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
       |adj AS MATERIALIZED (SELECT src, dst,
       |  row_number() OVER (PARTITION BY src ORDER BY dst) AS idx FROM e),
       |deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM e GROUP BY src),
       |starts AS (SELECT DISTINCT subj AS start FROM kg
       |  WHERE pred = 'urn:dm:supplier#ref-s_nationkey'),
       |s0 AS MATERIALIZED (SELECT start, wid, start AS node
       |  FROM starts CROSS JOIN unnest([$widList]) AS t(wid)),
       |${(1 to walkLen).map(step).mkString(",\n")},
       |visits AS MATERIALIZED (
       |  $unions)""".stripMargin
  }

  private def randomWalksOracleSql(walkLen: Int, walksPerNode: Int): String =
    s"""${randomWalksCtes(walkLen, walksPerNode)}
       |SELECT start, wid, step, node FROM visits
       |ORDER BY start, wid, step""".stripMargin

  private def skipGramOracleSql(walkLen: Int, walksPerNode: Int,
                                window: Int): String =
    s"""${randomWalksCtes(walkLen, walksPerNode)}
       |SELECT a.node AS center, b.node AS context, count(*) AS n_pairs
       |FROM visits a JOIN visits b
       |  ON a.start = b.start AND a.wid = b.wid AND a.step <> b.step
       |  AND abs(a.step - b.step) <= $window
       |GROUP BY a.node, b.node ORDER BY center, context""".stripMargin

  /** k-core peel replayed as unrolled rounds (the fixpoint is unique, so
    * rounds past convergence are no-ops — `rounds` must exceed the
    * measured peel depth, 3 at both test SFs).
    */
  private def kcoreOracleSql(k: Int, rounds: Int): String = {
    // every round's CTEs are MATERIALIZED: round i references round i-1
    // three times, so an inlining planner would otherwise expand the
    // 6-round chain into ~4^6 copies of the edge-generation subtree
    def round(i: Int): String =
      s"""d$i AS MATERIALIZED (SELECT node, count(*) AS c FROM (
         |  SELECT a AS node FROM u${i - 1} UNION ALL SELECT b FROM u${i - 1}) GROUP BY node),
         |k$i AS MATERIALIZED (SELECT node FROM d$i WHERE c >= $k),
         |u$i AS MATERIALIZED (SELECT a, b FROM u${i - 1} JOIN k$i x ON a = x.node JOIN k$i y ON b = y.node)""".stripMargin
    // `docs` is MATERIALIZED so the ten edge-generator branches share ONE
    // parquet scan instead of re-opening the file per branch
    val ring10 = Seq(10, 20, 30, 40, 50).map(j =>
      s"  UNION ALL SELECT doc_id, (doc_id + $j) % (SELECT n FROM p) FROM docs WHERE doc_id % 10 = 0").mkString("\n")
    val ring25 = Seq(25, 50).map(j =>
      s"  UNION ALL SELECT doc_id, (doc_id + $j) % (SELECT n FROM p) FROM docs WHERE doc_id % 25 = 0").mkString("\n")
    s"""WITH docs AS MATERIALIZED (SELECT doc_id FROM documents),
       |p AS (SELECT CAST(count(*) AS BIGINT) AS n FROM docs),
       |e0 AS (
       |  SELECT doc_id AS src, (doc_id + 1) % (SELECT n FROM p) AS dst FROM docs
       |  UNION ALL SELECT doc_id, (doc_id + 2) % (SELECT n FROM p) FROM docs
       |  UNION ALL SELECT doc_id, (doc_id * 7 + 3) % (SELECT n FROM p) FROM docs
       |$ring10
       |$ring25),
       |u0 AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM e0 WHERE src <> dst),
       |${(1 to rounds).map(round).mkString(",\n")}
       |SELECT node, count(*) AS core_degree FROM (
       |  SELECT a AS node FROM u$rounds UNION ALL SELECT b FROM u$rounds)
       |GROUP BY node ORDER BY node""".stripMargin
  }

  /** HITS rounds replayed with the identical quantized expression tree
    * ([[graft.ops.GraphOps.hits]]): BIGINT twelfth-unit per-node scores,
    * BIGINT L1 totals, double division — bit-equal across engines.
    */
  private def hitsOracleSql(iterations: Int): String = {
    def round(i: Int): String =
      s"""hq$i AS (SELECT node, CAST(floor(hub * 1e12) AS BIGINT) AS q FROM h${i - 1}),
         |as$i AS (SELECT edges.dst AS node, sum(q) AS qs
         |  FROM edges JOIN hq$i ON edges.src = hq$i.node GROUP BY edges.dst),
         |at$i AS (SELECT sum(qs) AS tot FROM as$i),
         |a$i AS (SELECT nodes.node,
         |    CAST(COALESCE(qs, 0) AS DOUBLE) / (SELECT tot FROM at$i) AS auth
         |  FROM nodes LEFT JOIN as$i ON nodes.node = as$i.node),
         |aq$i AS (SELECT node, CAST(floor(auth * 1e12) AS BIGINT) AS q FROM a$i),
         |hs$i AS (SELECT edges.src AS node, sum(q) AS qs
         |  FROM edges JOIN aq$i ON edges.dst = aq$i.node GROUP BY edges.src),
         |ht$i AS (SELECT sum(qs) AS tot FROM hs$i),
         |h$i AS (SELECT nodes.node,
         |    CAST(COALESCE(qs, 0) AS DOUBLE) / (SELECT tot FROM ht$i) AS hub
         |  FROM nodes LEFT JOIN hs$i ON nodes.node = hs$i.node)""".stripMargin
    s"""WITH $kgQuadsCte,
       |edges AS (SELECT DISTINCT subj AS src, obj AS dst FROM kg WHERE dt = ''),
       |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
       |h0 AS (SELECT node, 1.0 AS hub FROM nodes),
       |${(1 to iterations).map(round).mkString(",\n")}
       |SELECT h$iterations.node, round(hub * 1e6, 4) AS hub_ppm,
       |  round(auth * 1e6, 4) AS auth_ppm
       |FROM h$iterations JOIN a$iterations ON h$iterations.node = a$iterations.node
       |ORDER BY auth_ppm DESC, hub_ppm DESC, h$iterations.node LIMIT 10""".stripMargin
  }

  private def pageRankOracleSql(iterations: Int): String = {
    def iterCtes(i: Int): String = {
      val p = s"r${i - 1}"
      s"""d$i AS (SELECT COALESCE(sum(CAST(floor(rank * 1e12) AS BIGINT)), 0) / 1e12 AS dm
         |  FROM $p LEFT JOIN deg ON $p.node = deg.src WHERE deg.src IS NULL),
         |pe$i AS (SELECT deg.src, CAST(floor(rank / deg * 1e12) AS BIGINT) AS q
         |  FROM $p JOIN deg ON $p.node = deg.src),
         |c$i AS (SELECT edges.dst AS node, sum(q) AS qs
         |  FROM edges JOIN pe$i ON edges.src = pe$i.src GROUP BY edges.dst),
         |r$i AS (SELECT nodes.node,
         |    (1 - 0.85) / (SELECT n FROM params) +
         |    0.85 * (COALESCE(qs, 0) / 1e12 + (SELECT dm FROM d$i) / (SELECT n FROM params)) AS rank
         |  FROM nodes LEFT JOIN c$i ON nodes.node = c$i.node)""".stripMargin
    }
    s"""WITH $kgQuadsCte,
       |edges AS (SELECT DISTINCT subj AS src, obj AS dst FROM kg WHERE dt = ''),
       |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
       |params AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
       |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
       |r0 AS (SELECT node, 1.0 / (SELECT n FROM params) AS rank FROM nodes),
       |${(1 to iterations).map(iterCtes).mkString(",\n")}
       |SELECT node, round(rank * 1e6, 4) AS rank_ppm FROM r$iterations
       |ORDER BY rank_ppm DESC, node LIMIT 10""".stripMargin
  }

  /** The Direct-Mapped TPC-H KG replayed in SQL — the same triples
    * [[kgTriples]] emits, as a CTE the graph-query oracles share.
    */
  private lazy val kgQuadsCte: String =
    s"""kg AS (
       |  SELECT 'urn:dm:nation/'||n_nationkey AS subj, 'urn:dm:nation#n_name' AS pred,
       |    n_name AS obj, '$XsdString' AS dt FROM nation
       |  UNION ALL SELECT 'urn:dm:nation/'||n_nationkey, 'urn:dm:nation#n_regionkey',
       |    CAST(n_regionkey AS VARCHAR), '$XsdInteger' FROM nation
       |  UNION ALL SELECT 'urn:dm:nation/'||n_nationkey, 'urn:dm:nation#ref-n_regionkey',
       |    'urn:dm:region/'||n_regionkey, '' FROM nation
       |  UNION ALL SELECT 'urn:dm:region/'||r_regionkey, 'urn:dm:region#r_name',
       |    r_name, '$XsdString' FROM region
       |  UNION ALL SELECT 'urn:dm:customer/'||c_custkey, 'urn:dm:customer#ref-c_nationkey',
       |    'urn:dm:nation/'||c_nationkey, '' FROM customer
       |  UNION ALL SELECT 'urn:dm:supplier/'||s_suppkey, 'urn:dm:supplier#ref-s_nationkey',
       |    'urn:dm:nation/'||s_nationkey, '' FROM supplier)""".stripMargin

  /** The named-graph KG ([[kgNamedGraphQuads]]) replayed in SQL. */
  private lazy val kgNamedCte: String =
    s"""nkg(subj, pred, obj, dt, graph) AS (
       |  SELECT 'urn:dm:nation/'||n_nationkey, 'urn:dm:nation#n_name', n_name,
       |    '$XsdString', 'urn:g:region/'||n_regionkey FROM nation
       |  UNION ALL SELECT 'urn:dm:nation/'||n_nationkey, 'urn:dm:nation#n_regionkey',
       |    CAST(n_regionkey AS VARCHAR), '$XsdInteger', 'urn:g:region/'||n_regionkey FROM nation
       |  UNION ALL SELECT 'urn:dm:nation/'||n_nationkey, 'urn:dm:nation#ref-n_regionkey',
       |    'urn:dm:region/'||n_regionkey, '', 'urn:g:region/'||n_regionkey FROM nation
       |  UNION ALL SELECT 'urn:dm:region/'||r_regionkey, 'urn:dm:region#r_name',
       |    r_name, '$XsdString', 'urn:g:meta' FROM region
       |  UNION ALL SELECT 'urn:dm:customer/'||c_custkey, 'urn:dm:customer#ref-c_nationkey',
       |    'urn:dm:nation/'||c_nationkey, '', '' FROM customer)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    // IVF with the TRAINED codebook: full replay of the deterministic
    // quantized-sum Lloyd iterations + the nprobe cell search — the
    // parameters mirror annIvfTrained exactly
    "ann_ivf_trained" -> trainedIvfOracleSql(k = 8, iterations = 2,
      nprobe = 3, topK = 10),
    // IVF ANN: 16 deterministic centroids (vec_id 1..16), nearest-cell
    // assignment with the bit-portable cosine fold (same left-to-right
    // double arithmetic as Spark's aggregate), probe the 4 cells nearest
    // the query, exact cosine top-10 inside them
    "ann_ivf_topk" ->
      s"""WITH cents AS (SELECT CAST(vec_id AS INT) AS cid, embedding AS ce
         |    FROM embeddings WHERE vec_id BETWEEN 1 AND 16),
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |probes AS (SELECT cid FROM (
         |    SELECT cid, row_number() OVER (
         |      ORDER BY ${SimilarityOps.cosineFoldSql("qe", "ce")} DESC, cid) AS rn
         |    FROM cents, q) WHERE rn <= 4),
         |assigned AS (SELECT vec_id, embedding, cell FROM (
         |    SELECT v.vec_id, v.embedding, c.cid AS cell,
         |      row_number() OVER (PARTITION BY v.vec_id
         |        ORDER BY ${SimilarityOps.cosineFoldSql("v.embedding", "c.ce")} DESC, c.cid) AS rn
         |    FROM embeddings v CROSS JOIN cents c WHERE v.vec_id <> 0) WHERE rn = 1)
         |SELECT vec_id,
         |  round(${SimilarityOps.cosineFoldSql("assigned.embedding", "qe")}, 4) AS cosine
         |FROM assigned, q, probes WHERE assigned.cell = probes.cid
         |ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin,
    // Direct Mapping (nation + region): literal triple per non-pk column,
    // reference triple per FK — the W3C direct-mapping row/column rules
    "kg_direct_mapping" ->
      s"""WITH dm AS (
         |  SELECT 'urn:dm:nation/'||n_nationkey AS subj, 'urn:dm:nation#n_name' AS pred,
         |    n_name AS obj, '$XsdString' AS dt FROM nation
         |  UNION ALL SELECT 'urn:dm:nation/'||n_nationkey, 'urn:dm:nation#n_regionkey',
         |    CAST(n_regionkey AS VARCHAR), '$XsdInteger' FROM nation
         |  UNION ALL SELECT 'urn:dm:nation/'||n_nationkey, 'urn:dm:nation#ref-n_regionkey',
         |    'urn:dm:region/'||n_regionkey, '' FROM nation
         |  UNION ALL SELECT 'urn:dm:region/'||r_regionkey, 'urn:dm:region#r_name',
         |    r_name, '$XsdString' FROM region)
         |SELECT subj, pred, obj, dt FROM dm ORDER BY subj, pred, obj""".stripMargin,
    "kg_predicate_stats" ->
      s"""WITH $kgQuadsCte
         |SELECT pred, count(*) AS n_triples FROM kg GROUP BY pred ORDER BY pred""".stripMargin,
    "kg_degrees" ->
      s"""WITH $kgQuadsCte,
         |o AS (SELECT subj AS node, count(*) AS out_degree FROM kg GROUP BY subj),
         |i AS (SELECT obj AS node, count(*) AS in_degree FROM kg WHERE dt = '' GROUP BY obj)
         |SELECT COALESCE(o.node, i.node) AS node,
         |  COALESCE(out_degree, CAST(0 AS BIGINT)) AS out_degree,
         |  COALESCE(in_degree, CAST(0 AS BIGINT)) AS in_degree
         |FROM o FULL OUTER JOIN i ON o.node = i.node
         |ORDER BY in_degree DESC, node LIMIT 10""".stripMargin,
    "kg_bgp_chain" ->
      s"""WITH $kgQuadsCte
         |SELECT n.subj AS nation, nm.obj AS nation_name, count(*) AS n_customers
         |FROM kg c
         |JOIN kg n ON n.subj = c.obj AND n.pred = 'urn:dm:nation#ref-n_regionkey'
         |JOIN kg r ON r.subj = n.obj AND r.pred = 'urn:dm:region#r_name' AND r.obj = 'ASIA'
         |JOIN kg nm ON nm.subj = n.subj AND nm.pred = 'urn:dm:nation#n_name'
         |WHERE c.pred = 'urn:dm:customer#ref-c_nationkey'
         |GROUP BY n.subj, nm.obj ORDER BY nation""".stripMargin,
    "kg_bgp_star" ->
      s"""WITH $kgQuadsCte
         |SELECT s.obj AS nation, count(*) AS n_pairs
         |FROM kg s JOIN kg c ON c.obj = s.obj
         |WHERE s.pred = 'urn:dm:supplier#ref-s_nationkey'
         |  AND c.pred = 'urn:dm:customer#ref-c_nationkey'
         |GROUP BY s.obj ORDER BY nation""".stripMargin,
    "kg_construct" ->
      """SELECT DISTINCT 'urn:dm:customer/'||c_custkey AS subj,
        |  'urn:dm:locatedIn' AS pred,
        |  'urn:dm:region/'||r_regionkey AS obj
        |FROM customer
        |JOIN nation ON n_nationkey = c_nationkey
        |JOIN region ON r_regionkey = n_regionkey
        |WHERE r_name = 'ASIA' ORDER BY subj""".stripMargin,
    "kg_ask" ->
      "SELECT EXISTS(SELECT 1 FROM customer WHERE c_nationkey = 1) AS matched",
    "kg_ask_filtered" ->
      """SELECT EXISTS(SELECT 1 FROM customer
        |  JOIN nation ON n_nationkey = c_nationkey
        |  WHERE n_regionkey >= 2) AS matched""".stripMargin,
    "kg_having" ->
      """SELECT 'urn:dm:nation/'||c_nationkey AS n, count(*) AS n_customers
        |FROM customer GROUP BY 1 HAVING count(*) >= 5 ORDER BY 1""".stripMargin,
    "kg_count_distinct" ->
      "SELECT count(DISTINCT c_nationkey) AS n_nations FROM customer",
    "kg_select_page" ->
      """SELECT DISTINCT 'urn:dm:nation/'||c_nationkey AS n FROM customer
        |ORDER BY n LIMIT 5 OFFSET 10""".stripMargin,
    // INSERT DATA replay: the four constant quads appended through the
    // same NOT EXISTS (subj,pred,obj) set-identity the engine uses —
    // the pre-existing AFRICA triple must NOT bump its count
    "kg_update_insert" ->
      s"""WITH $kgQuadsCte,
         |ins(subj, pred, obj, dt) AS (VALUES
         |  ('urn:dm:region/9', 'urn:dm:region#r_name', 'NOWHERE', '$XsdString'),
         |  ('urn:dm:region/0', 'urn:dm:region#r_name', 'AFRICA', '$XsdString'),
         |  ('urn:dm:region/9', 'urn:dm:region#population', '0', '$XsdInteger'),
         |  ('urn:dm:nation/1', 'urn:dm:nation#ref-n_regionkey', 'urn:dm:region/9', '')),
         |updated AS (SELECT subj, pred, obj, dt FROM kg UNION ALL
         |  SELECT i.subj, i.pred, i.obj, i.dt FROM (SELECT DISTINCT * FROM ins) i
         |  WHERE NOT EXISTS (SELECT 1 FROM kg
         |    WHERE kg.subj = i.subj AND kg.pred = i.pred AND kg.obj = i.obj))
         |SELECT pred, count(*) AS n_triples FROM updated
         |GROUP BY pred ORDER BY pred""".stripMargin,
    "kg_update_delete_where" ->
      """SELECT 'urn:dm:nation/'||c_nationkey AS nation, count(*) AS n_customers
        |FROM customer WHERE c_nationkey <> 1 GROUP BY 1 ORDER BY 1""".stripMargin,
    // the moved customers' ref triples are all fresh (their old ref was
    // nation/1), so the per-nation counts just remap 1 → 2
    "kg_update_modify" ->
      """SELECT CASE WHEN c_nationkey = 1 THEN 'urn:dm:nation/2'
        |            ELSE 'urn:dm:nation/'||c_nationkey END AS nation,
        |  count(*) AS n_customers FROM customer GROUP BY 1 ORDER BY 1""".stripMargin,
    // full PageRank replay: every iteration as chained CTEs with the
    // IDENTICAL expression tree (quantized micro-unit contribution sums,
    // dangling-mass scalar, same left-to-right double arithmetic) — the
    // micro-ranks match to the rounded digit because both engines run
    // the same deterministic function of the edge set
    "kg_pagerank" -> pageRankOracleSql(iterations = 3),
    "kg_hash_funcs" ->
      """SELECT n_name AS name, md5(n_name) AS m, sha256(n_name) AS s
        |FROM nation ORDER BY name""".stripMargin,
    // SPARQL ROUND is half-up (toward +∞) — floor(x + 0.5) in BOTH engines
    "kg_numeric_fns" ->
      """SELECT 'urn:dm:nation/'||n_nationkey AS n,
        |  CAST(abs(n_regionkey - 2) AS DOUBLE) AS dist,
        |  CAST(floor(n_regionkey / 2) AS DOUBLE) AS half,
        |  CAST(ceil(n_regionkey / 2) AS DOUBLE) AS chalf,
        |  CAST(floor(n_regionkey / 3 + 0.5) AS DOUBLE) AS third
        |FROM nation ORDER BY n""".stripMargin,
    // sameAs resolution replayed declaratively: recursive-CTE reachability
    // over the symmetrized sameAs subgraph, canon = min reachable IRI
    // (incl. self), rewrite subj + IRI obj through the mapping, drop the
    // sameAs rows, SELECT DISTINCT for set semantics — an independent
    // fixpoint formulation of the engine's label-propagation + broadcast
    // rewrite + targeted anti-join plan
    "kg_sameas_resolution" ->
      s"""WITH RECURSIVE $kgQuadsCte,
         |alias(subj, pred, obj, dt) AS (
         |  SELECT 'urn:x:nation/'||n_nationkey, '${GraphOps.OwlSameAs}',
         |    'urn:y:nation/'||n_nationkey, '' FROM nation
         |  UNION ALL SELECT 'urn:y:nation/'||n_nationkey, '${GraphOps.OwlSameAs}',
         |    'urn:dm:nation/'||n_nationkey, '' FROM nation
         |  UNION ALL SELECT 'urn:x:nation/'||n_nationkey, 'urn:dm:nation#n_name',
         |    n_name, '$XsdString' FROM nation
         |  UNION ALL SELECT 'urn:x:nation/'||n_nationkey, 'urn:voc:label',
         |    'alias-'||n_name, '$XsdString' FROM nation
         |  UNION ALL SELECT 'urn:dm:supplier/'||s_suppkey, 'urn:voc:altNation',
         |    'urn:x:nation/'||s_nationkey, '' FROM supplier),
         |g AS (SELECT * FROM kg UNION ALL SELECT * FROM alias),
         |sa(a, b) AS (
         |  SELECT subj, obj FROM g WHERE pred = '${GraphOps.OwlSameAs}' AND dt = ''
         |  UNION SELECT obj, subj FROM g WHERE pred = '${GraphOps.OwlSameAs}' AND dt = ''),
         |reach(a, b) AS (SELECT a, b FROM sa
         |  UNION SELECT reach.a, sa.b FROM reach JOIN sa ON sa.a = reach.b),
         |canon AS (SELECT a AS iri, min(b) AS c FROM (
         |  SELECT a, b FROM reach UNION ALL SELECT DISTINCT a, a FROM sa) GROUP BY a),
         |resolved AS (SELECT DISTINCT
         |    COALESCE(cs.c, g.subj) AS subj, g.pred,
         |    CASE WHEN g.dt = '' THEN COALESCE(co.c, g.obj) ELSE g.obj END AS obj, g.dt
         |  FROM g LEFT JOIN canon cs ON g.subj = cs.iri
         |         LEFT JOIN canon co ON g.dt = '' AND g.obj = co.iri
         |  WHERE g.pred <> '${GraphOps.OwlSameAs}')
         |SELECT pred, count(*) AS n_triples, count(DISTINCT subj) AS n_subj,
         |  min(subj) AS min_subj, max(obj) AS max_obj
         |FROM resolved GROUP BY pred ORDER BY pred""".stripMargin,
    // RDFS ρdf materialization replayed declaratively: recursive-CTE
    // closures of the schema graphs, then each rule (rdfs7 on the
    // closure, rdfs2/3 on the extended set, rdfs9 on all type triples)
    // as a join, DISTINCT for set semantics — the engine's stratified
    // broadcast plan against an independent fixpoint formulation
    "kg_rdfs_inference" -> {
      val T = GraphOps.RdfTypeIri
      val SPO = GraphOps.RdfsSubPropertyOf; val SCO = GraphOps.RdfsSubClassOf
      val DOM = GraphOps.RdfsDomain; val RNG = GraphOps.RdfsRange
      s"""WITH RECURSIVE $kgQuadsCte,
         |extra(subj, pred, obj, dt) AS (
         |  SELECT 'urn:dm:customer/'||c_custkey, '$T', 'urn:voc:Customer', '' FROM customer
         |  UNION ALL SELECT 'urn:dm:supplier/'||s_suppkey, '$T', 'urn:voc:Supplier', '' FROM supplier
         |  UNION ALL SELECT * FROM (VALUES
         |    ('urn:voc:Customer', '$SCO', 'urn:voc:BusinessEntity', ''),
         |    ('urn:voc:Supplier', '$SCO', 'urn:voc:BusinessEntity', ''),
         |    ('urn:voc:BusinessEntity', '$SCO', 'urn:voc:Entity', ''),
         |    ('urn:dm:customer#ref-c_nationkey', '$SPO', 'urn:voc:locatedIn', ''),
         |    ('urn:dm:supplier#ref-s_nationkey', '$SPO', 'urn:voc:locatedIn', ''),
         |    ('urn:voc:locatedIn', '$SPO', 'urn:voc:relatedTo', ''),
         |    ('urn:voc:locatedIn', '${DOM}', 'urn:voc:Locatable', ''),
         |    ('urn:voc:locatedIn', '${RNG}', 'urn:voc:Place', ''),
         |    ('urn:voc:Place', '$SCO', 'urn:voc:Location', ''))),
         |g AS (SELECT * FROM kg UNION ALL SELECT * FROM extra),
         |spo(p, q) AS (SELECT subj, obj FROM g WHERE pred = '$SPO' AND dt = ''
         |  UNION SELECT spo.p, g.obj FROM spo
         |    JOIN g ON g.pred = '$SPO' AND g.dt = '' AND g.subj = spo.q),
         |sco(c, d) AS (SELECT subj, obj FROM g WHERE pred = '$SCO' AND dt = ''
         |  UNION SELECT sco.c, g.obj FROM sco
         |    JOIN g ON g.pred = '$SCO' AND g.dt = '' AND g.subj = sco.d),
         |ext AS (SELECT subj, pred, obj, dt FROM g
         |  UNION ALL SELECT g.subj, spo.q, g.obj, g.dt FROM g JOIN spo ON g.pred = spo.p),
         |t2 AS (SELECT ext.subj AS subj, '$T' AS pred, d.c AS obj, '' AS dt FROM ext
         |  JOIN (SELECT subj AS p, obj AS c FROM g WHERE pred = '${DOM}' AND dt = '') d
         |  ON ext.pred = d.p),
         |t3 AS (SELECT ext.obj AS subj, '$T' AS pred, r.c AS obj, '' AS dt FROM ext
         |  JOIN (SELECT subj AS p, obj AS c FROM g WHERE pred = '${RNG}' AND dt = '') r
         |  ON ext.pred = r.p AND ext.dt = ''),
         |ta(subj, cls) AS (SELECT subj, obj FROM ext WHERE pred = '$T'
         |  UNION ALL SELECT subj, obj FROM t2 UNION ALL SELECT subj, obj FROM t3),
         |t9 AS (SELECT ta.subj AS subj, '$T' AS pred, sco.d AS obj, '' AS dt
         |  FROM ta JOIN sco ON ta.cls = sco.c),
         |clo AS (SELECT p AS subj, '$SPO' AS pred, q AS obj, '' AS dt FROM spo
         |  UNION ALL SELECT c, '$SCO', d, '' FROM sco),
         |allq AS (SELECT DISTINCT subj, pred, obj, dt FROM (
         |  SELECT * FROM ext UNION ALL SELECT * FROM t2 UNION ALL SELECT * FROM t3
         |  UNION ALL SELECT * FROM t9 UNION ALL SELECT * FROM clo))
         |SELECT CASE WHEN pred = '$T' THEN 'type:'||obj ELSE pred END AS key,
         |  count(*) AS n_triples, count(DISTINCT subj) AS n_subj
         |FROM allq GROUP BY 1 ORDER BY 1""".stripMargin
    },
    // BFS distances replayed as recursive path enumeration — the doc
    // parent relation is a tree, so each node is reached exactly once
    // and the recursive CTE's depth IS the BFS distance
    "kg_iri_mint" ->
      """SELECT subj, pred, obj FROM (
        |  SELECT 'urn:mint:nation/'||n_name AS subj,
        |    'urn:voc:officialName' AS pred, n_name AS obj FROM nation
        |  UNION ALL SELECT 'urn:mint:nation/'||n_name,
        |    'urn:voc:dmNode', 'urn:dm:nation/'||n_nationkey FROM nation)
        |ORDER BY subj, pred, obj""".stripMargin,
    "kg_sameterm" ->
      """SELECT 'urn:dm:region/'||n_regionkey AS r, count(*) AS n_pairs
        |FROM customer JOIN supplier ON s_nationkey = c_nationkey
        |JOIN nation ON n_nationkey = c_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // id-oriented triangle enumeration (a<b<c corners via 3-way join) —
    // the same triangle set the engine's degree-ordered orientation
    // enumerates, aggregated to the per-count histogram
    "kg_triangles" ->
      """WITH p AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        |e0 AS (
        |  SELECT doc_id AS src, (doc_id + 1) % (SELECT n FROM p) AS dst FROM documents
        |  UNION ALL SELECT doc_id, (doc_id + 2) % (SELECT n FROM p) FROM documents
        |  UNION ALL SELECT doc_id, (doc_id * 7 + 3) % (SELECT n FROM p) FROM documents),
        |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |  FROM e0 WHERE src <> dst),
        |tri AS (SELECT e1.a AS t1, e1.b AS t2, e2.b AS t3
        |  FROM und e1 JOIN und e2 ON e1.a = e2.a AND e1.b < e2.b
        |  JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b),
        |corners AS (SELECT t1 AS node FROM tri UNION ALL SELECT t2 FROM tri
        |  UNION ALL SELECT t3 FROM tri),
        |nodes AS (SELECT DISTINCT a AS node FROM und UNION SELECT b FROM und),
        |pernode AS (SELECT nodes.node, CAST(COALESCE(c.n_tri, 0) AS BIGINT) AS n_triangles
        |  FROM nodes LEFT JOIN (SELECT node, count(*) AS n_tri FROM corners GROUP BY node) c
        |  ON nodes.node = c.node)
        |SELECT n_triangles, count(*) AS n_nodes, min(node) AS min_node,
        |  max(node) AS max_node
        |FROM pernode GROUP BY n_triangles ORDER BY n_triangles""".stripMargin,
    // clustering coefficient: id-ordered triangle join + degree counts +
    // the SAME integer micro-unit arithmetic as the engine
    "kg_clustering" ->
      """WITH p AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        |e0 AS (
        |  SELECT doc_id AS src, (doc_id + 1) % (SELECT n FROM p) AS dst FROM documents
        |  UNION ALL SELECT doc_id, (doc_id + 2) % (SELECT n FROM p) FROM documents
        |  UNION ALL SELECT doc_id, (doc_id * 7 + 3) % (SELECT n FROM p) FROM documents),
        |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |  FROM e0 WHERE src <> dst),
        |tri AS (SELECT e1.a AS t1, e1.b AS t2, e2.b AS t3
        |  FROM und e1 JOIN und e2 ON e1.a = e2.a AND e1.b < e2.b
        |  JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b),
        |corners AS (SELECT t1 AS node FROM tri UNION ALL SELECT t2 FROM tri
        |  UNION ALL SELECT t3 FROM tri),
        |deg AS (SELECT node, count(*) AS degree FROM (
        |  SELECT a AS node FROM und UNION ALL SELECT b FROM und) GROUP BY node),
        |pernode AS (SELECT deg.node, deg.degree,
        |    CAST(COALESCE(c.n_tri, 0) AS BIGINT) AS n_triangles
        |  FROM deg LEFT JOIN (SELECT node, count(*) AS n_tri FROM corners GROUP BY node) c
        |  ON deg.node = c.node),
        |cc AS (SELECT node, degree, n_triangles,
        |    CASE WHEN degree >= 2 THEN CAST(floor(
        |      CAST(2000000 * n_triangles AS DOUBLE) / (degree * (degree - 1))) AS BIGINT)
        |    ELSE 0 END AS coeff_micro
        |  FROM pernode)
        |SELECT degree, coeff_micro, count(*) AS n_nodes, min(node) AS min_node,
        |  max(node) AS max_node
        |FROM cc GROUP BY degree, coeff_micro ORDER BY degree, coeff_micro""".stripMargin,
    "kg_kcore" -> kcoreOracleSql(k = 8, rounds = 6),
    "kg_hits" -> hitsOracleSql(iterations = 2),
    "kg_label_prop" -> labelPropOracleSql(iterations = 3),
    "kg_random_walks" -> randomWalksOracleSql(walkLen = 3, walksPerNode = 2),
    "kg_skipgram_pairs" -> skipGramOracleSql(walkLen = 3, walksPerNode = 2, window = 2),
    "kg_agg_distinct" ->
      """SELECT CAST(sum(DISTINCT CAST(n_regionkey AS DOUBLE)) AS DOUBLE) AS sd,
        |  sum(DISTINCT CAST(n_regionkey AS DOUBLE)) /
        |    count(DISTINCT CAST(n_regionkey AS DOUBLE)) AS ad,
        |  min(CAST(n_regionkey AS VARCHAR)) AS md,
        |  count(*) AS n
        |FROM nation""".stripMargin,
    // exact BIGINT message passing: two unrolled SpMV rounds
    "kg_feature_prop" ->
      s"""WITH $kgQuadsCte,
         |e AS MATERIALIZED (SELECT DISTINCT subj AS src, obj AS dst FROM kg
         |  WHERE dt = '' AND subj <> obj),
         |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |f0 AS MATERIALIZED (SELECT node, CAST(1 AS BIGINT) AS f FROM nodes),
         |m1 AS (SELECT e.dst AS node, CAST(sum(f0.f) AS BIGINT) AS sf
         |  FROM e JOIN f0 ON e.src = f0.node GROUP BY e.dst),
         |f1 AS MATERIALIZED (SELECT f0.node, f0.f + COALESCE(m1.sf, 0) AS f
         |  FROM f0 LEFT JOIN m1 ON f0.node = m1.node),
         |m2 AS (SELECT e.dst AS node, CAST(sum(f1.f) AS BIGINT) AS sf
         |  FROM e JOIN f1 ON e.src = f1.node GROUP BY e.dst),
         |f2 AS (SELECT f1.node, f1.f + COALESCE(m2.sf, 0) AS f
         |  FROM f1 LEFT JOIN m2 ON f1.node = m2.node)
         |SELECT f, count(*) AS n_nodes, min(node) AS min_node,
         |  max(node) AS max_node
         |FROM f2 GROUP BY f ORDER BY f""".stripMargin,
    // dateTime accessors over fixed literals → expected values verbatim
    "kg_datetime_fns" ->
      """SELECT e, y, mo, d, h, mi, s, tz FROM (VALUES
        |  ('urn:e:1', CAST(2024 AS DOUBLE), CAST(3 AS DOUBLE), CAST(5 AS DOUBLE),
        |   CAST(10 AS DOUBLE), CAST(30 AS DOUBLE), CAST(2 AS DOUBLE), 'Z'),
        |  ('urn:e:2', 1999, 12, 31, 23, 59, 59.25, '+05:30'),
        |  ('urn:e:3', 2001, 7, 4, 0, 8, 1, '')
        |) AS t(e, y, mo, d, h, mi, s, tz) ORDER BY e""".stripMargin,
    // DESCRIBE ?v WHERE — the described set replayed declaratively
    "kg_describe_where" ->
      s"""WITH $kgQuadsCte,
         |nodes AS (SELECT subj AS node FROM kg
         |  WHERE pred = 'urn:dm:nation#ref-n_regionkey' AND obj = 'urn:dm:region/0'),
         |d AS (SELECT DISTINCT * FROM (
         |  SELECT * FROM kg WHERE subj IN (SELECT node FROM nodes)
         |  UNION ALL
         |  SELECT * FROM kg WHERE dt = '' AND obj IN (SELECT node FROM nodes)))
         |SELECT pred, count(*) AS n_triples, min(subj) AS min_subj,
         |  max(obj) AS max_obj
         |FROM d GROUP BY pred ORDER BY pred""".stripMargin,
    // multi-variable VALUES: row-value IN list, pair semantics
    "kg_values_multi" ->
      """SELECT 'urn:dm:region/'||n_regionkey AS r, count(*) AS n_cust
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE ('urn:dm:nation/'||n_nationkey, 'urn:dm:region/'||n_regionkey) IN (
        |  ('urn:dm:nation/1', 'urn:dm:region/1'),
        |  ('urn:dm:nation/2', 'urn:dm:region/1'),
        |  ('urn:dm:nation/3', 'urn:dm:region/1'),
        |  ('urn:dm:nation/1', 'urn:dm:region/0'))
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // TF-IDF: identical tokenize→tf→df→score→top-k pipeline in SQL
    "text_tfidf" ->
      """WITH docs AS MATERIALIZED (SELECT doc_id, lower(text) AS t FROM documents),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM docs),
        |toks AS (SELECT doc_id, unnest(regexp_split_to_array(t, '[^a-z]+')) AS token
        |  FROM docs),
        |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
        |  FROM toks WHERE token <> '' GROUP BY doc_id, token),
        |dfq AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY token),
        |sc AS (SELECT tf.doc_id, tf.token, tf.tf, dfq.df,
        |    CAST(floor(CAST(tf.tf * 1000000 * (SELECT n FROM nn) AS DOUBLE) / dfq.df)
        |      AS BIGINT) AS score_micro
        |  FROM tf JOIN dfq USING (token)),
        |rk AS (SELECT sc.*, CAST(row_number() OVER (
        |    PARTITION BY doc_id ORDER BY score_micro DESC, token) AS BIGINT) AS rank
        |  FROM sc)
        |SELECT doc_id, token, tf, df, score_micro, rank FROM rk
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    "text_bm25" -> bm25OracleSql(Seq("spark", "join", "vector"), k1 = 1.2, b = 0.75),
    // URL canonicalization: the oracle CONSTRUCTS the expected canonical
    // form directly from doc_id — independent derivation, not a regex echo
    "url_canonicalize" ->
      """WITH c AS (SELECT doc_id,
        |  'https://www.example.com/Page/' || (doc_id % 100) ||
        |  '?a=' || (doc_id % 7) || '&b=' || (doc_id % 5) AS canon
        |  FROM documents)
        |SELECT canon, count(*) AS n_docs, min(doc_id) AS min_doc,
        |  max(doc_id) AS max_doc
        |FROM c GROUP BY canon ORDER BY canon""".stripMargin,
    // decontamination: same shingle + h60 machinery, independent SQL
    "text_contamination" ->
      s"""WITH docs AS MATERIALIZED (SELECT doc_id,
         |  list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
         |    x -> x <> '') AS w FROM documents),
         |sh AS (SELECT doc_id, list_transform(range(1, len(w) - 1),
         |  i -> array_to_string(w[i:i+2], ' ')) AS sgs FROM docs),
         |e0 AS (SELECT doc_id, unnest(sgs) AS s FROM sh),
         |e AS (SELECT doc_id, ${h60Sql("s")} AS h FROM e0),
         |bench AS (SELECT DISTINCT h FROM e WHERE doc_id % 97 = 0),
         |hits AS (SELECT e.doc_id, count(*) AS n_hits FROM e
         |  JOIN bench USING (h) WHERE e.doc_id % 97 <> 0 GROUP BY e.doc_id)
         |SELECT sh.doc_id, CAST(COALESCE(n_hits, 0) AS BIGINT) AS n_hits,
         |  CAST(len(sgs) AS BIGINT) AS n_shingles,
         |  COALESCE(n_hits, 0) > 0 AS contaminated
         |FROM sh LEFT JOIN hits ON sh.doc_id = hits.doc_id
         |WHERE sh.doc_id % 97 <> 0 ORDER BY sh.doc_id""".stripMargin,
    // PII: identical regex constants + redaction order + h60 fingerprint
    "text_pii" ->
      s"""WITH docs AS MATERIALIZED (SELECT doc_id, text ||
         |  CASE WHEN doc_id % 3 = 0
         |    THEN ' contact user' || doc_id || '@example.com now'
         |  WHEN doc_id % 3 = 1
         |    THEN ' call +1 555 010 ' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         |  ELSE ' host 10.0.' || (doc_id % 256) || '.' || (doc_id % 100) || ' up'
         |  END AS t FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(t, '${TextOps.EmailRe}')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(t, '${TextOps.Ipv4Re}')) AS BIGINT) AS n_ipv4,
         |  CAST(len(regexp_extract_all(t, '${TextOps.PhoneRe}')) AS BIGINT) AS n_phones,
         |  ${h60Sql(s"regexp_replace(regexp_replace(regexp_replace(t, " +
             s"'${TextOps.EmailRe}', '[EMAIL]', 'g'), " +
             s"'${TextOps.PhoneRe}', '[PHONE]', 'g'), " +
             s"'${TextOps.Ipv4Re}', '[IP]', 'g')")} AS redacted_fp
         |FROM docs ORDER BY doc_id""".stripMargin,
    // the composed curation pipeline: each stage is the (already gated)
    // oracle fragment of its operator, chained
    "curation_pipeline" ->
      s"""WITH docs0 AS MATERIALIZED (SELECT doc_id, text, source FROM documents),
         |c AS (SELECT doc_id, text, source,
         |  'https://www.example.com/Page/' || (doc_id % 100) ||
         |  '?a=' || (doc_id % 7) || '&b=' || (doc_id % 5) AS canon FROM docs0),
         |dd AS MATERIALIZED (SELECT doc_id, text, source FROM (
         |  SELECT c.*, row_number() OVER (PARTITION BY canon ORDER BY doc_id) AS rn
         |  FROM c) WHERE rn = 1),
         |gw AS (SELECT doc_id, text AS t,
         |  list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
         |    x -> x <> '') AS w FROM dd),
         |gbase AS (SELECT doc_id, w, CAST(len(w) AS BIGINT) AS n_words,
         |  CAST(COALESCE(list_aggregate(
         |    list_transform(w, x -> CAST(length(x) AS BIGINT)), 'sum'), 0)
         |    AS BIGINT) AS n_letters,
         |  CAST(length(t) - length(regexp_replace(t, '[#<>{}\\[\\]|\\\\^~]', '', 'g'))
         |    AS BIGINT) AS n_symbols FROM gw),
         |g1 AS (SELECT doc_id, unnest(w) AS word FROM gbase),
         |g2 AS (SELECT doc_id, word, count(*) AS c2 FROM g1 GROUP BY doc_id, word),
         |gtw AS (SELECT doc_id, max(c2) AS top_c FROM g2 GROUP BY doc_id),
         |gm AS (SELECT gbase.doc_id, n_words,
         |  CASE WHEN n_words > 0 THEN CAST(floor(
         |    CAST(n_letters AS DOUBLE) * 1e6 / n_words) AS BIGINT) ELSE 0 END AS mwl,
         |  CASE WHEN n_words > 0 THEN CAST(floor(
         |    CAST(n_symbols AS DOUBLE) * 1e6 / n_words) AS BIGINT) ELSE 0 END AS sym,
         |  CASE WHEN n_words > 0 THEN CAST(floor(
         |    CAST(COALESCE(top_c, 0) AS DOUBLE) * 1e6 / n_words) AS BIGINT)
         |    ELSE 0 END AS twf
         |  FROM gbase LEFT JOIN gtw ON gbase.doc_id = gtw.doc_id),
         |kept AS MATERIALIZED (SELECT dd.doc_id, dd.text, dd.source
         |  FROM dd JOIN gm ON dd.doc_id = gm.doc_id
         |  WHERE n_words >= 5 AND n_words <= 100000 AND mwl >= 2000000
         |    AND mwl <= 12000000 AND sym <= 300000 AND twf <= 200000),
         |bw AS (SELECT doc_id,
         |  list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
         |    x -> x <> '') AS w FROM docs0 WHERE doc_id % 97 = 0),
         |bsh AS (SELECT doc_id, list_transform(range(1, len(w) - 1),
         |  i -> array_to_string(w[i:i+2], ' ')) AS sgs FROM bw),
         |be AS (SELECT unnest(sgs) AS sg FROM bsh),
         |bench AS MATERIALIZED (SELECT DISTINCT ${h60Sql("sg")} AS h FROM be),
         |pw AS (SELECT doc_id,
         |  list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
         |    x -> x <> '') AS w FROM kept WHERE doc_id % 97 <> 0),
         |psh AS (SELECT doc_id, list_transform(range(1, len(w) - 1),
         |  i -> array_to_string(w[i:i+2], ' ')) AS sgs FROM pw),
         |pe0 AS (SELECT doc_id, unnest(sgs) AS sg FROM psh),
         |pe AS (SELECT doc_id, ${h60Sql("sg")} AS h FROM pe0),
         |conta AS (SELECT DISTINCT pe.doc_id FROM pe JOIN bench USING (h)),
         |survivors AS (SELECT k.doc_id, k.source FROM kept k
         |  WHERE k.doc_id % 97 <> 0
         |    AND k.doc_id NOT IN (SELECT doc_id FROM conta))
         |SELECT source, count(*) AS n_survivors, min(doc_id) AS min_doc,
         |  max(doc_id) AS max_doc
         |FROM survivors GROUP BY source ORDER BY source""".stripMargin,
    // Gopher quality rules: identical micro-unit expression tree
    "text_gopher_quality" ->
      """WITH docs AS MATERIALIZED (SELECT doc_id, text AS t,
        |  list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
        |    x -> x <> '') AS w FROM documents),
        |base AS (SELECT doc_id, w, CAST(len(w) AS BIGINT) AS n_words,
        |  CAST(COALESCE(list_aggregate(
        |    list_transform(w, x -> CAST(length(x) AS BIGINT)), 'sum'), 0)
        |    AS BIGINT) AS n_letters,
        |  CAST(length(t) - length(regexp_replace(t, '[#<>{}\[\]|\\^~]', '', 'g'))
        |    AS BIGINT) AS n_symbols FROM docs),
        |t1 AS (SELECT doc_id, unnest(w) AS word FROM base),
        |t2 AS (SELECT doc_id, word, count(*) AS c FROM t1 GROUP BY doc_id, word),
        |tw AS (SELECT doc_id, max(c) AS top_c FROM t2 GROUP BY doc_id),
        |m AS (SELECT base.doc_id, n_words,
        |  CASE WHEN n_words > 0 THEN CAST(floor(
        |    CAST(n_letters AS DOUBLE) * 1e6 / n_words) AS BIGINT)
        |    ELSE 0 END AS mean_word_len_micro,
        |  CASE WHEN n_words > 0 THEN CAST(floor(
        |    CAST(n_symbols AS DOUBLE) * 1e6 / n_words) AS BIGINT)
        |    ELSE 0 END AS symbol_ratio_micro,
        |  CASE WHEN n_words > 0 THEN CAST(floor(
        |    CAST(COALESCE(top_c, 0) AS DOUBLE) * 1e6 / n_words) AS BIGINT)
        |    ELSE 0 END AS top_word_frac_micro
        |  FROM base LEFT JOIN tw ON base.doc_id = tw.doc_id)
        |SELECT doc_id, n_words, mean_word_len_micro, symbol_ratio_micro,
        |  top_word_frac_micro,
        |  (n_words >= 5 AND n_words <= 100000 AND
        |   mean_word_len_micro >= 2000000 AND mean_word_len_micro <= 12000000 AND
        |   symbol_ratio_micro <= 300000 AND top_word_frac_micro <= 200000) AS passes
        |FROM m ORDER BY doc_id""".stripMargin,
    // int8 quantization: identical scale/round/clamp expression tree
    "ann_quantize_int8" ->
      """WITH e AS MATERIALIZED (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |m AS (SELECT vec_id, v,
        |  list_max(list_transform(v, x -> abs(x))) AS maxabs FROM e),
        |s AS (SELECT vec_id, v,
        |  CASE WHEN maxabs > 0 THEN 127.0 / maxabs ELSE 0.0 END AS scale FROM m),
        |qt AS (SELECT vec_id, scale, list_transform(v, x ->
        |  greatest(-127, least(127, CAST(floor(x * scale + 0.5) AS BIGINT)))) AS q
        |  FROM s)
        |SELECT vec_id, CAST(floor(scale * 1e6) AS BIGINT) AS scale_micro,
        |  CAST(list_aggregate(q, 'sum') AS BIGINT) AS q_sum,
        |  CAST(list_aggregate(q, 'min') AS BIGINT) AS q_min,
        |  CAST(list_aggregate(q, 'max') AS BIGINT) AS q_max,
        |  CAST(len(list_filter(q, x -> abs(x) = 127)) AS BIGINT) AS n_sat
        |FROM qt ORDER BY vec_id""".stripMargin,
    // ENCODE_FOR_URI / STRDT / STRLANG over the five region names →
    // expected constructed terms verbatim (space/&//-escaping, ~ kept,
    // minted datatype and language tag read back by DATATYPE/LANG)
    "kg_term_constructors" ->
      """SELECT name, enc, code, cdt, lbl, ltag FROM (VALUES
        |  ('AFRICA', 'AFRICA%20%26%20co%2F~x', 'AFRICA',
        |   'http://www.w3.org/2001/XMLSchema#token', 'africa', 'en-US'),
        |  ('AMERICA', 'AMERICA%20%26%20co%2F~x', 'AMERICA',
        |   'http://www.w3.org/2001/XMLSchema#token', 'america', 'en-US'),
        |  ('ASIA', 'ASIA%20%26%20co%2F~x', 'ASIA',
        |   'http://www.w3.org/2001/XMLSchema#token', 'asia', 'en-US'),
        |  ('EUROPE', 'EUROPE%20%26%20co%2F~x', 'EUROPE',
        |   'http://www.w3.org/2001/XMLSchema#token', 'europe', 'en-US'),
        |  ('MIDDLE EAST', 'MIDDLE%20EAST%20%26%20co%2F~x', 'MIDDLE EAST',
        |   'http://www.w3.org/2001/XMLSchema#token', 'middle east', 'en-US')
        |) AS t(name, enc, code, cdt, lbl, ltag) ORDER BY name""".stripMargin,
    "kg_agg_expr" ->
      """SELECT CAST(sum(n_regionkey * n_regionkey) AS DOUBLE) AS ss,
        |  CAST(avg(n_regionkey + 1) AS DOUBLE) AS ar,
        |  CAST(max(n_regionkey * 3 - 1) AS DOUBLE) AS mx
        |FROM nation""".stripMargin,
    // round-trip identity: the oracle is simply the INPUT profile — any
    // escape/unescape asymmetry or dt-channel loss in serialize→parse
    // would shift min_obj or max_dt
    "kg_nquads_roundtrip" ->
      s"""WITH $kgQuadsCte,
         |extra(subj, pred, obj, dt) AS (VALUES
         |  ('urn:dm:region/0', 'urn:voc:label', 'Afrika', '@de'),
         |  ('urn:dm:region/1', 'urn:voc:note', 'back\\slash'||chr(9)||'tab', '$XsdString'),
         |  ('urn:dm:region/2', 'urn:voc:pop', '7', '$XsdInteger')),
         |g AS (SELECT * FROM kg UNION ALL SELECT * FROM extra)
         |SELECT pred, count(*) AS n_triples, min(obj) AS min_obj, max(dt) AS max_dt
         |FROM g GROUP BY pred ORDER BY pred""".stripMargin,
    // the de/en-filtered tagged labels (RFC 4647 basic filtering: the
    // "en" range admits "en-GB"; fr rows and the untagged label are
    // excluded) with their tags and the rdf:langString datatype
    "kg_lang_funcs" ->
      """SELECT r, l, tag, dt FROM (VALUES
        |  ('urn:dm:region/0', 'Afrika', 'de',
        |   'http://www.w3.org/1999/02/22-rdf-syntax-ns#langString'),
        |  ('urn:dm:region/1', 'Amerika', 'de',
        |   'http://www.w3.org/1999/02/22-rdf-syntax-ns#langString'),
        |  ('urn:dm:region/3', 'Europa', 'de',
        |   'http://www.w3.org/1999/02/22-rdf-syntax-ns#langString'),
        |  ('urn:dm:region/3', 'Europe', 'en-GB',
        |   'http://www.w3.org/1999/02/22-rdf-syntax-ns#langString')
        |) AS t(r, l, tag, dt) ORDER BY r, l""".stripMargin,
    // WITH-scoped update: only region 1's graph slice renames its
    // nation-name objects — every other (graph, pred) cell unchanged
    "kg_update_with" ->
      s"""WITH $kgNamedCte,
         |upd AS (SELECT subj, pred,
         |  CASE WHEN graph = 'urn:g:region/1' AND pred = 'urn:dm:nation#n_name'
         |       THEN 'R1/'||obj ELSE obj END AS obj, dt, graph FROM nkg)
         |SELECT graph, pred, count(*) AS n_triples, min(obj) AS min_obj
         |FROM upd GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // the four management steps replayed: COPY meta→backup, ADD
    // region/1→default (no overlapping triples, so plain append), MOVE
    // region/2→archive, CLEAR meta
    "kg_graph_mgmt" ->
      s"""WITH $kgNamedCte,
         |s1 AS (SELECT * FROM nkg UNION ALL
         |  SELECT subj, pred, obj, dt, 'urn:g:backup' FROM nkg WHERE graph = 'urn:g:meta'),
         |s2 AS (SELECT * FROM s1 UNION ALL
         |  SELECT subj, pred, obj, dt, '' FROM s1 WHERE graph = 'urn:g:region/1'),
         |s3 AS (SELECT subj, pred, obj, dt,
         |  CASE WHEN graph = 'urn:g:region/2' THEN 'urn:g:archive' ELSE graph END AS graph
         |  FROM s2),
         |s4 AS (SELECT * FROM s3 WHERE graph <> 'urn:g:meta')
         |SELECT graph, count(*) AS n_quads, count(DISTINCT pred) AS n_preds
         |FROM s4 GROUP BY 1 ORDER BY 1""".stripMargin,
    "kg_shortest_path" ->
      """WITH RECURSIVE e AS (
        |  SELECT doc_id // 2 AS src, doc_id AS dst FROM documents WHERE doc_id > 0),
        |d(node, distance) AS (
        |  SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        |  UNION ALL SELECT e.dst, d.distance + 1 FROM d JOIN e ON e.src = d.node)
        |SELECT distance, count(*) AS n_nodes, min(node) AS min_node,
        |  max(node) AS max_node
        |FROM d GROUP BY distance ORDER BY distance""".stripMargin,
    "kg_describe" ->
      s"""WITH $kgQuadsCte
         |SELECT subj, pred, obj, dt FROM kg
         |WHERE subj = 'urn:dm:nation/1'
         |   OR (obj = 'urn:dm:nation/1' AND dt = '')
         |ORDER BY subj, pred, obj""".stripMargin,
    // incremental delta: only doc_id % 10 == 3 is new/changed vs the
    // prior manifest, so each of the five predicates counts that subset
    "jsonld_incremental" ->
      s"""WITH c AS (SELECT count(*) AS n FROM documents WHERE doc_id % 10 = 3)
         |SELECT pred, n AS n_triples FROM (
         |  SELECT '$RdfType' AS pred, n FROM c
         |  UNION ALL SELECT '${V}chars', n FROM c
         |  UNION ALL SELECT '${V}lang', n FROM c
         |  UNION ALL SELECT '${V}source', n FROM c
         |  UNION ALL SELECT '${V}text', n FROM c
         |) ORDER BY pred""".stripMargin,
    // FILTER: numeric operand compares as double (lexical would misplace
    // "10"), string operand lexically — mirrored in the WHERE clause
    "kg_bgp_filter" ->
      """SELECT 'urn:dm:nation/'||n_nationkey AS nation, n_name AS name,
        |  CAST(n_regionkey AS VARCHAR) AS rk
        |FROM nation WHERE n_regionkey >= 2 AND n_name <> 'CHINA'
        |ORDER BY nation""".stripMargin,
    "kg_bgp_union" ->
      """SELECT nation, count(*) AS n_members FROM (
        |  SELECT 'urn:dm:nation/'||s_nationkey AS nation FROM supplier
        |  UNION ALL SELECT 'urn:dm:nation/'||c_nationkey FROM customer)
        |GROUP BY nation ORDER BY nation""".stripMargin,
    // GRAPH patterns: constant graph = region count; default graph =
    // customer count; graph-variable join = Σ_regions |nations_r|²
    // (nations pair only within their shared per-region graph — a plan
    // that dropped the graph term would square the whole nation count)
    "kg_graph_patterns" ->
      """SELECT part, n FROM (
        |  SELECT 'const_graph' AS part, count(*) AS n FROM region
        |  UNION ALL SELECT 'default_graph', count(*) FROM customer
        |  UNION ALL SELECT 'graph_var_join', (
        |    SELECT CAST(sum(c * c) AS BIGINT) FROM (
        |      SELECT count(*) AS c FROM nation GROUP BY n_regionkey))
        |) ORDER BY part""".stripMargin,
    // property path p*: ancestors-or-self counts (identity pairs over
    // every node incident to a parent edge)
    // NOTE: UNION-as-set-op inside this WITH RECURSIVE chain did NOT
    // dedup in DuckDB (identity pairs came out triplicated) — dedup is
    // explicit via DISTINCT-over-UNION-ALL
    "kg_path_star" ->
      """WITH RECURSIVE e AS (
        |  SELECT doc_id AS src, doc_id // 2 AS dst FROM documents WHERE doc_id > 0),
        |tc(src, dst) AS (
        |  SELECT src, dst FROM e
        |  UNION
        |  SELECT tc.src, e.dst FROM tc JOIN e ON e.src = tc.dst),
        |nodes AS (SELECT DISTINCT n FROM (
        |  SELECT src AS n FROM e UNION ALL SELECT dst FROM e)),
        |star AS (SELECT DISTINCT src, dst FROM (
        |  SELECT src, dst FROM tc UNION ALL SELECT n, n FROM nodes))
        |SELECT 'urn:doc:'||src AS doc, count(*) AS n_reachable
        |FROM star GROUP BY src ORDER BY doc""".stripMargin,
    // composed select(): UNION of an unfiltered supplier branch and a
    // FILTER(rk >= 2)-gated customer branch; n_filtered counts the rows
    // whose rk is bound (i.e. came through the customer branch)
    "kg_select" ->
      """SELECT nation, count(*) AS n_members,
        |  CAST(count(rk) AS BIGINT) AS n_filtered FROM (
        |  SELECT 'urn:dm:nation/'||s_nationkey AS nation, NULL AS rk FROM supplier
        |  UNION ALL
        |  SELECT 'urn:dm:nation/'||c_nationkey, n_regionkey FROM customer
        |  JOIN nation ON n_nationkey = c_nationkey WHERE n_regionkey >= 2)
        |GROUP BY nation ORDER BY nation""".stripMargin,
    // sequence property path <a>/<b>: customer→nation→region chained
    // through the compiler's internal hop variable
    "kg_path_seq" ->
      """SELECT 'urn:dm:region/'||n_regionkey AS r, count(*) AS n_customers
        |FROM customer JOIN nation ON n_nationkey = c_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // inverse path: ?n ^<ref> ?c ≡ ?c <ref> ?n
    "kg_path_inverse" ->
      """SELECT 'urn:dm:nation/'||c_nationkey AS n, count(*) AS n_customers
        |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin,
    // predicate alternation <a>|<b> — one pattern, IN-filtered
    "kg_path_alt" ->
      """SELECT n, count(*) AS n_members FROM (
        |  SELECT 'urn:dm:nation/'||s_nationkey AS n FROM supplier
        |  UNION ALL SELECT 'urn:dm:nation/'||c_nationkey FROM customer)
        |GROUP BY n ORDER BY n""".stripMargin,
    // zero-or-one path over the parent tree: identity over domain∪range
    // plus the single hop
    "kg_path_opt" ->
      """WITH e AS (
        |  SELECT doc_id AS src, doc_id // 2 AS dst FROM documents WHERE doc_id > 0),
        |nodes AS (SELECT DISTINCT n FROM (
        |  SELECT src AS n FROM e UNION ALL SELECT dst FROM e)),
        |p AS (SELECT DISTINCT src, dst FROM (
        |  SELECT src, dst FROM e UNION ALL SELECT n, n FROM nodes))
        |SELECT 'urn:doc:'||src AS doc, count(*) AS n_within_one
        |FROM p GROUP BY src ORDER BY doc""".stripMargin,
    // var-var FILTER: numeric comparison of two bound variables
    "kg_filter_varvar" ->
      """SELECT count(*) AS n_pairs FROM nation a, nation b
        |WHERE a.n_regionkey < b.n_regionkey""".stripMargin,
    // FILTER '<'/'<=' inside UNION branches (the round-4 lexer trap):
    // suppliers in regions < 2 plus customers in regions <= 1
    "kg_union_filter_lt" ->
      """SELECT n, count(*) AS n_members FROM (
        |  SELECT 'urn:dm:nation/'||s_nationkey AS n FROM supplier
        |  JOIN nation ON n_nationkey = s_nationkey WHERE n_regionkey < 2
        |  UNION ALL
        |  SELECT 'urn:dm:nation/'||c_nationkey FROM customer
        |  JOIN nation ON n_nationkey = c_nationkey WHERE n_regionkey <= 1)
        |GROUP BY n ORDER BY n""".stripMargin,
    // kg_select's aggregation tail, now entirely through the grammar
    "kg_select_agg" ->
      """SELECT n, count(*) AS n_members,
        |  CAST(count(rk) AS BIGINT) AS n_filtered FROM (
        |  SELECT 'urn:dm:nation/'||s_nationkey AS n, NULL AS rk FROM supplier
        |  UNION ALL
        |  SELECT 'urn:dm:nation/'||c_nationkey, n_regionkey FROM customer
        |  JOIN nation ON n_nationkey = c_nationkey WHERE n_regionkey >= 2)
        |GROUP BY n ORDER BY n""".stripMargin,
    // boolean FILTER composition: && / || / ! with parens
    "kg_filter_bool" ->
      """SELECT 'urn:dm:nation/'||n_nationkey AS n, n_name AS name
        |FROM nation
        |WHERE n_regionkey >= 3 OR (n_regionkey < 1 AND NOT (n_name = 'NATION_10'))
        |ORDER BY n""".stripMargin,
    // string FILTER functions: REGEX / CONTAINS+STRLEN / STRSTARTS
    "kg_filter_str" ->
      """SELECT 'urn:dm:nation/'||n_nationkey AS n, n_name AS name
        |FROM nation
        |WHERE regexp_matches(n_name, '^NATION_1[0-9]$')
        |   OR (contains(n_name, '_2') AND length(n_name) <= 8)
        |   OR starts_with(n_name, 'NATION_0')
        |ORDER BY n""".stripMargin,
    // FILTER EXISTS: semi-join — no duplication however many suppliers
    "kg_exists" ->
      """SELECT 'urn:dm:nation/'||n_nationkey AS n, n_name AS name
        |FROM nation
        |WHERE EXISTS(SELECT 1 FROM supplier WHERE s_nationkey = n_nationkey)
        |ORDER BY n""".stripMargin,
    // FILTER NOT EXISTS: anti-join on the region-0 edge
    "kg_not_exists" ->
      """SELECT 'urn:dm:nation/'||n_nationkey AS n, n_name AS name
        |FROM nation WHERE NOT (n_regionkey = 0)
        |ORDER BY n""".stripMargin,
    // BIND: CONCAT over the lexical forms; arithmetic over double casts
    "kg_bind" ->
      """SELECT n_name || '/' || CAST(n_regionkey AS VARCHAR) AS label,
        |  CAST(n_regionkey * 10 + n_regionkey AS DOUBLE) AS score
        |FROM nation WHERE n_regionkey * 10 + n_regionkey >= 22
        |ORDER BY label""".stripMargin,
    // GROUP_CONCAT sorts its values (the engine's deterministic choice);
    // SAMPLE is the minimum — both replicated exactly
    "kg_group_concat" ->
      """SELECT 'urn:dm:region/'||n_regionkey AS r,
        |  string_agg(n_name, '|' ORDER BY n_name) AS names,
        |  min(n_name) AS first_name
        |FROM nation GROUP BY n_regionkey ORDER BY r""".stripMargin,
    // PREFIX + `a`: every doc carries exactly one rdf:type and one lang
    // triple, so the type-gated per-lang counts are the lang histogram
    "kg_prefix_type" ->
      "SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang ORDER BY lang",
    // IN / NOT IN — both clauses discriminate
    "kg_filter_in" ->
      """SELECT 'urn:dm:nation/'||n_nationkey AS n, n_name AS name FROM nation
        |WHERE n_regionkey IN (1, 3) AND n_name NOT IN ('NATION_1', 'NATION_13')
        |ORDER BY n""".stripMargin,
    // negated property set: NOT-IN over the predicate column
    "kg_pred_negation" ->
      s"""WITH $kgQuadsCte
         |SELECT count(*) AS n_other FROM kg
         |WHERE subj = 'urn:dm:nation/1'
         |  AND pred NOT IN ('urn:dm:nation#n_name', 'urn:dm:nation#ref-n_regionkey')""".stripMargin,
    // term introspection: per-kind counts over nation 1's three triples
    "kg_term_tests" ->
      s"""WITH $kgQuadsCte,
         |n1 AS (SELECT * FROM kg WHERE subj = 'urn:dm:nation/1')
         |SELECT kind, n FROM (
         |  SELECT 'iri' AS kind, count(*) AS n FROM n1 WHERE dt = ''
         |  UNION ALL SELECT 'lit', count(*) FROM n1 WHERE dt <> ''
         |  UNION ALL SELECT 'num', count(*) FROM n1 WHERE dt = '$XsdInteger'
         |) ORDER BY kind""".stripMargin,
    // string value functions; the 'g' flag matches Spark's global
    // regexp_replace, and both before/after follow empty-on-no-match
    "kg_str_funcs" ->
      """SELECT 'urn:dm:nation/'||n_nationkey AS n,
        |  lower(n_name) AS l, upper(lower(n_name)) AS u,
        |  substring(n_name, 1, 6) AS sub,
        |  regexp_replace(n_name, '_', '-', 'g') AS rep,
        |  CASE WHEN position('_' IN n_name) > 0
        |       THEN substring(n_name, 1, position('_' IN n_name) - 1)
        |       ELSE '' END AS s_before,
        |  CASE WHEN position('_' IN n_name) > 0
        |       THEN substring(n_name, position('_' IN n_name) + 1)
        |       ELSE '' END AS s_after
        |FROM nation
        |WHERE length(CASE WHEN position('_' IN n_name) > 0
        |       THEN substring(n_name, position('_' IN n_name) + 1)
        |       ELSE '' END) = 1
        |ORDER BY n""".stripMargin,
    // IF + COALESCE over the FILTER-gated OPTIONAL: bound rows keep
    // their lexical region key, unbound rows fall through to "L"
    "kg_if_coalesce" ->
      """SELECT band, count(*) AS n FROM (
        |  SELECT CASE WHEN n_regionkey >= 2 THEN CAST(n_regionkey AS VARCHAR)
        |              ELSE 'L' END AS band FROM nation
        |) GROUP BY band ORDER BY band""".stripMargin,
    // SELECT-head expression projections
    "kg_select_expr" ->
      """SELECT 'urn:dm:nation/'||n_nationkey AS n,
        |  CAST(n_regionkey * 10 + n_regionkey AS DOUBLE) AS score,
        |  n_name || '/' || CAST(n_regionkey AS VARCHAR) AS label
        |FROM nation ORDER BY n""".stripMargin,
    // FROM/FROM NAMED: region-1 nations only, GRAPH var pinned to the
    // one admitted named graph
    "kg_from_named" ->
      """SELECT n_name AS nm, 'urn:g:region/1' AS g2 FROM nation
        |WHERE n_regionkey = 1 ORDER BY nm""".stripMargin,
    // subquery: aggregate inside, join outside on the shared variable
    "kg_subquery" ->
      """SELECT n_name AS name, cnt AS n_customers FROM nation
        |JOIN (SELECT c_nationkey, count(*) AS cnt FROM customer GROUP BY 1)
        |  ON c_nationkey = n_nationkey
        |ORDER BY name""".stripMargin,
    // DISTINCT + ORDER BY DESC + LIMIT through the grammar
    "kg_select_modifiers" ->
      """SELECT DISTINCT 'urn:dm:nation/'||c_nationkey AS n FROM customer
        |ORDER BY n DESC LIMIT 5""".stripMargin,
    // VALUES: inline nation list, broadcast-joined
    "kg_values" ->
      """SELECT 'urn:dm:nation/'||c_nationkey AS nation, count(*) AS n_customers
        |FROM customer WHERE c_nationkey IN (1, 3, 7)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // MINUS (NOT EXISTS): customers outside ASIA, anti-joined on the
    // nation variable
    "kg_minus" ->
      """SELECT 'urn:dm:nation/'||c_nationkey AS nation, count(*) AS n_customers
        |FROM customer
        |JOIN nation ON n_nationkey = c_nationkey
        |JOIN region ON r_regionkey = n_regionkey
        |WHERE r_name <> 'ASIA'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // property path p+ through the BGP bridge: English proper ancestors
    // per document over the deterministic doc_id → doc_id div 2 tree
    "kg_path_plus" ->
      """WITH RECURSIVE e AS (
        |  SELECT doc_id AS src, doc_id // 2 AS dst FROM documents WHERE doc_id > 0),
        |tc(src, dst) AS (
        |  SELECT src, dst FROM e
        |  UNION
        |  SELECT tc.src, e.dst FROM tc JOIN e ON e.src = tc.dst)
        |SELECT 'urn:doc:'||tc.src AS doc, count(*) AS n_en_ancestors
        |FROM tc JOIN documents d ON d.doc_id = tc.dst
        |WHERE d.lang = 'en'
        |GROUP BY tc.src ORDER BY doc""".stripMargin,
    "kg_bgp_optional" ->
      s"""WITH $kgQuadsCte
         |SELECT n.subj AS nation, count(s.subj) AS n_suppliers
         |FROM kg n LEFT JOIN kg s
         |  ON s.pred = 'urn:dm:supplier#ref-s_nationkey' AND s.obj = n.subj
         |WHERE n.pred = 'urn:dm:nation#ref-n_regionkey'
         |GROUP BY n.subj ORDER BY nation""".stripMargin,
    // transitive closure over the deterministic doc_id → doc_id div 2
    // tree: the recursive CTE is the declarative fixpoint the Spark side
    // reaches by iterative doubling
    "kg_reachability" ->
      """WITH RECURSIVE e AS (
        |  SELECT doc_id AS src, doc_id // 2 AS dst FROM documents WHERE doc_id > 0),
        |tc(src, dst) AS (
        |  SELECT src, dst FROM e
        |  UNION
        |  SELECT tc.src, e.dst FROM tc JOIN e ON e.src = tc.dst)
        |SELECT src AS doc_id, count(*) AS n_ancestors,
        |  CAST(min(dst) AS BIGINT) AS top_ancestor
        |FROM tc GROUP BY src ORDER BY doc_id""".stripMargin,
    // incremental closure maintenance: the oracle is the FULL recompute
    // over all edges — base-closure + delta-fold must be identical
    "kg_closure_delta" ->
      """WITH RECURSIVE e AS (
        |  SELECT doc_id AS src, doc_id // 2 AS dst FROM documents WHERE doc_id > 0),
        |tc(src, dst) AS (
        |  SELECT src, dst FROM e
        |  UNION
        |  SELECT tc.src, e.dst FROM tc JOIN e ON e.src = tc.dst)
        |SELECT src AS doc_id, count(*) AS n_ancestors,
        |  CAST(min(dst) AS BIGINT) AS top_ancestor
        |FROM tc GROUP BY src ORDER BY doc_id""".stripMargin,
    "jsonld_graph_stats" ->
      s"""WITH c AS (SELECT count(*) AS n FROM documents)
         |SELECT pred, n AS n_triples FROM (
         |  SELECT '$RdfType' AS pred, n FROM c
         |  UNION ALL SELECT '${V}chars', n FROM c
         |  UNION ALL SELECT '${V}lang', n FROM c
         |  UNION ALL SELECT '${V}source', n FROM c
         |  UNION ALL SELECT '${V}text', n FROM c
         |) ORDER BY pred""".stripMargin,
    "jsonld_bgp_sources" ->
      """SELECT source AS src, count(*) AS n_docs FROM documents
        |WHERE lang = 'en' GROUP BY source ORDER BY src""".stripMargin,
    // deterministic hash-gate sample: identical bucket arithmetic
    "sample_stratified" ->
      s"""SELECT lang, count(*) AS n_sampled FROM documents
         |WHERE ${ops.SampleOps.gateSql("doc_id", "sample")} <
         |  CAST((CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.25
         |        WHEN 'zh' THEN 0.1 ELSE 0.0 END) * 10000 AS BIGINT)
         |GROUP BY lang ORDER BY lang""".stripMargin,
    "jsonld_pipeline_quads" ->
      s"""WITH q AS (
         |  SELECT '$D'||doc_id AS subj, '$RdfType' AS pred, '${V}Document' AS obj, '' AS dt FROM documents
         |  UNION ALL SELECT '$D'||doc_id, '${V}chars', CAST(n_chars AS VARCHAR), '$XsdInteger' FROM documents
         |  UNION ALL SELECT '$D'||doc_id, '${V}lang', lang, '$XsdString' FROM documents
         |  UNION ALL SELECT '$D'||doc_id, '${V}source', source, '$XsdString' FROM documents
         |  UNION ALL SELECT '$D'||doc_id, '${V}text', text, '$XsdString' FROM documents
         |) SELECT subj, pred, obj, dt FROM q ORDER BY subj, pred, obj, dt""".stripMargin,
    "jsonld_c14n_bnodes" ->
      s"""WITH q AS (
         |  SELECT '$D'||doc_id AS subj, '${V}author' AS pred, '_:c14n0' AS obj, '' AS dt FROM documents
         |  UNION ALL SELECT DISTINCT '_:c14n0', '${V}name', 'Author '||(doc_id % 7), '$XsdString' FROM documents
         |) SELECT subj, pred, obj, dt FROM q ORDER BY subj, pred, obj, dt""".stripMargin,
    "jsonld_entity_link" ->
      s"""WITH c AS (SELECT count(*) AS n FROM documents)
         |SELECT label, n_quads FROM (
         |  SELECT 'CharacterCount' AS label, n AS n_quads FROM c
         |  UNION ALL SELECT 'Language', n FROM c
         |  UNION ALL SELECT 'Source', n FROM c
         |  UNION ALL SELECT 'Text', n FROM c
         |  UNION ALL SELECT 'Type', n FROM c
         |) ORDER BY label""".stripMargin,
    "jsonld_entity_link_salted" ->
      s"""WITH c AS (SELECT count(*) AS n FROM documents)
         |SELECT label, n_quads FROM (
         |  SELECT 'CharacterCount' AS label, n AS n_quads FROM c
         |  UNION ALL SELECT 'Language', n FROM c
         |  UNION ALL SELECT 'Source', n FROM c
         |  UNION ALL SELECT 'Text', n FROM c
         |  UNION ALL SELECT 'Type', n FROM c
         |) ORDER BY label""".stripMargin,
    "jsonld_quarantine" ->
      """SELECT 'invalid input' AS errorCode, count(*) AS n_docs
        |FROM documents WHERE doc_id % 17 = 3""".stripMargin,
    "q1_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q3_revenue" ->
      """SELECT l_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY 1 ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q5_region" ->
      """SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_window_top_orders" ->
      """SELECT o_custkey, o_orderkey, rnk, round(o_totalprice, 2) AS totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |  FROM orders)
        |WHERE rnk <= 3 ORDER BY o_custkey, rnk, o_orderkey""".stripMargin,
    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,
    // CAST: DuckDB sum(INTEGER) is HUGEINT; Spark sum(int) is BIGINT — the
    // driver hashes typed values, so the oracle must cast down explicitly.
    "q_sessionize" ->
      """SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions, count(*) AS n_events FROM (
        |  SELECT user_id,
        |    CASE WHEN prev_ts IS NULL OR epoch(ts) - epoch(prev_ts) > 1800 THEN 1 ELSE 0 END AS new_session
        |  FROM (
        |    SELECT user_id, ts, event_id,
        |      lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |    FROM events))
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "dedup_exact" ->
      """SELECT sha256(text) AS text_sha256, count(*) AS n_docs, min(doc_id) AS keep_doc_id
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "neighbor_jaccard" -> {
      val wa = "list_distinct(list_filter(string_split_regex(lower(a.text), '[^a-z]+'), x -> x <> ''))"
      val wb = "list_distinct(list_filter(string_split_regex(lower(b.text), '[^a-z]+'), x -> x <> ''))"
      s"""SELECT a.doc_id AS doc_id,
         |  round(len(list_intersect($wa, $wb)) * 1.0 /
         |    greatest(len(list_distinct(list_concat($wa, $wb))), 1), 4) AS jaccard_next
         |FROM documents a JOIN documents b ON a.doc_id + 1 = b.doc_id
         |ORDER BY a.doc_id""".stripMargin
    },
    "lang_id" ->
      s"""SELECT doc_id,
         |  len(list_intersect($dwordsSql, ${stopList(TextOps.StopEn)})) AS s_en,
         |  len(list_intersect($dwordsSql, ${stopList(TextOps.StopDe)})) AS s_de,
         |  len(list_intersect($dwordsSql, ${stopList(TextOps.StopFr)})) AS s_fr,
         |  len(list_intersect($dwordsSql, ${stopList(TextOps.StopEs)})) AS s_es,
         |  CASE
         |    WHEN len(list_intersect($dwordsSql, ${stopList(TextOps.StopEn)})) >= len(list_intersect($dwordsSql, ${stopList(TextOps.StopDe)}))
         |     AND len(list_intersect($dwordsSql, ${stopList(TextOps.StopEn)})) >= len(list_intersect($dwordsSql, ${stopList(TextOps.StopFr)}))
         |     AND len(list_intersect($dwordsSql, ${stopList(TextOps.StopEn)})) >= len(list_intersect($dwordsSql, ${stopList(TextOps.StopEs)})) THEN 'en'
         |    WHEN len(list_intersect($dwordsSql, ${stopList(TextOps.StopDe)})) >= len(list_intersect($dwordsSql, ${stopList(TextOps.StopFr)}))
         |     AND len(list_intersect($dwordsSql, ${stopList(TextOps.StopDe)})) >= len(list_intersect($dwordsSql, ${stopList(TextOps.StopEs)})) THEN 'de'
         |    WHEN len(list_intersect($dwordsSql, ${stopList(TextOps.StopFr)})) >= len(list_intersect($dwordsSql, ${stopList(TextOps.StopEs)})) THEN 'fr'
         |    ELSE 'es' END AS predicted
         |FROM documents ORDER BY doc_id""".stripMargin,
    "token_count" ->
      s"""SELECT doc_id, len($wordsSql) AS n_words, length(text) AS n_chars,
         |  CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_subword_est
         |FROM documents ORDER BY doc_id""".stripMargin,
    "text_quality" ->
      s"""SELECT doc_id,
         |  len($wordsSql) AS n_words,
         |  round(length(text) * 1.0 / greatest(len($wordsSql), 1), 4) AS chars_per_word,
         |  round((length(text) - length(regexp_replace(text, '[\\.,;:!\\?]', '', 'g'))) * 1.0 / greatest(length(text), 1), 4) AS punct_ratio,
         |  round((length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g'))) * 1.0 / greatest(length(text), 1), 4) AS alpha_ratio,
         |  round(len(list_intersect($dwordsSql, ${stopList(TextOps.StopEn ++ TextOps.StopDe ++ TextOps.StopFr ++ TextOps.StopEs)})) * 1.0 / greatest(len($dwordsSql), 1), 4) AS stopword_ratio
         |FROM documents ORDER BY doc_id""".stripMargin,
    "ann_cosine_topk" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id, round(list_cosine_similarity(
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)),
        |    list_transform(qv, x -> CAST(x AS DOUBLE))), 4) AS cosine
        |FROM embeddings, q WHERE vec_id <> 0
        |ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin,
    // SRP-bucketed ANN: the oracle reproduces the exact bucket codes (the
    // hyperplane components are portable md5-derived hashes; the dot
    // product folds left-to-right in double, matching Spark's aggregate)
    "ann_lsh_topk" ->
      s"""WITH qb AS (SELECT ${SimilarityOps.srpCodeSql("embedding", 6)} AS qbucket,
         |    embedding AS qe FROM embeddings WHERE vec_id = 0)
         |SELECT vec_id, round(list_cosine_similarity(
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)),
         |    list_transform(qe, x -> CAST(x AS DOUBLE))), 4) AS cosine
         |FROM embeddings, qb
         |WHERE vec_id <> 0 AND ${SimilarityOps.srpCodeSql("embedding", 6)} = qbucket
         |ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin,
    // embedding near-dup: same-SRP-bucket candidate pairs, exact cosine
    // verify. The Spark side's maxBucket cap (10000) can never bind at
    // oracle scale (500 vectors), so the SQL omits the window.
    "dedup_embed_cosine" ->
      s"""WITH d AS (
         |  SELECT vec_id, embedding, ${SimilarityOps.srpCodeSql("embedding", 4)} AS bucket
         |  FROM embeddings
         |  WHERE sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |    list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)) > 1e-9)
         |SELECT vec_a, vec_b, cosine FROM (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |    round(list_cosine_similarity(
         |      list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
         |      list_transform(b.embedding, x -> CAST(x AS DOUBLE))), 4) AS cosine
         |  FROM d a JOIN d b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
         |WHERE cosine >= 0.35 ORDER BY vec_a, vec_b""".stripMargin,
    // portable 60-bit SimHash: per-word md5-prefix hash, sign-summed per
    // bit; docs with no words get simhash 0 via the left join
    "dedup_simhash" ->
      s"""WITH w AS (SELECT doc_id, unnest($wordsSql) AS word FROM documents),
         |h AS (SELECT doc_id, ${h60Sql("word")} AS hv FROM w),
         |bits AS (SELECT doc_id, b,
         |    CASE WHEN sum(CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END) > 0
         |         THEN (CAST(1 AS BIGINT) << b) ELSE 0 END AS bit
         |  FROM h CROSS JOIN range(60) t(b) GROUP BY doc_id, b),
         |s AS (SELECT doc_id, CAST(sum(bit) AS BIGINT) AS simhash FROM bits GROUP BY doc_id)
         |SELECT d.doc_id, COALESCE(s.simhash, 0) AS simhash,
         |  COALESCE(s.simhash, 0) >> 16 AS bucket
         |FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    // MinHash+LSH near-dup: identical signature family (portable base
    // hash + inlined affine constants); band collision = slice equality
    // (the Spark side's xxhash64 band key only compresses the same slice);
    // identical exact-dup collapse, per-bucket cap, and Jaccard verify
    "dedup_minhash_lsh" ->
      s"""WITH $minhashPairCtes
         |SELECT doc_a, doc_b, round(j, 4) AS jaccard FROM v
         |WHERE j >= 0.2 ORDER BY doc_a, doc_b""".stripMargin,
    // duplicate clusters: min-reachable-id over the undirected graph of
    // (verified minhash pairs ∪ exact-dup pairs) — the recursive CTE is the
    // declarative fixpoint the Spark side reaches by min-label propagation
    "dedup_clusters" ->
      s"""WITH RECURSIVE $minhashPairCtes,
         |mhp AS (SELECT doc_a, doc_b FROM v WHERE j >= 0.2),
         |exd AS (SELECT min(doc_id) OVER (PARTITION BY text) AS doc_a, doc_id AS doc_b
         |  FROM documents),
         |exp AS (SELECT doc_a, doc_b FROM exd WHERE doc_a <> doc_b),
         |edges AS (
         |  SELECT doc_a AS a, doc_b AS b FROM mhp UNION SELECT doc_b, doc_a FROM mhp
         |  UNION SELECT doc_a, doc_b FROM exp UNION SELECT doc_b, doc_a FROM exp),
         |reach(id, r) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id)
         |SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS cluster_rep
         |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,
    // star-CC variant: identical contract, identical oracle — both CC
    // algorithms must reach the same declarative fixpoint
    "dedup_clusters_star" ->
      s"""WITH RECURSIVE $minhashPairCtes,
         |mhp AS (SELECT doc_a, doc_b FROM v WHERE j >= 0.2),
         |exd AS (SELECT min(doc_id) OVER (PARTITION BY text) AS doc_a, doc_id AS doc_b
         |  FROM documents),
         |exp AS (SELECT doc_a, doc_b FROM exd WHERE doc_a <> doc_b),
         |edges AS (
         |  SELECT doc_a AS a, doc_b AS b FROM mhp UNION SELECT doc_b, doc_a FROM mhp
         |  UNION SELECT doc_a, doc_b FROM exp UNION SELECT doc_b, doc_a FROM exp),
         |reach(id, r) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id)
         |SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS cluster_rep
         |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,
    // order-sensitive rolling fingerprint: same h60 chain, folded over a
    // VARCHAR accumulator ('0' start = Spark's lit(0L) cast to string)
    "doc_fingerprint" ->
      s"""SELECT doc_id, CAST(list_reduce(list_prepend('0', $wordsSql),
         |    (a, w) -> CAST(${h60Sql("a || '|' || w")} AS VARCHAR)) AS BIGINT) AS fingerprint
         |FROM documents ORDER BY doc_id""".stripMargin,
    // real PNG decode: width/height/channels must equal the generator
    // formula AFTER round-tripping through actual javax.imageio
    // encode→decode (TYPE_3BYTE_BGR → 3 raster bands)
    "multimodal_decode" ->
      """SELECT doc_id AS media_id,
        |  CAST(doc_id % 64 + 8 AS INT) AS width,
        |  CAST(doc_id % 48 + 8 AS INT) AS height,
        |  CAST(3 AS INT) AS channels
        |FROM documents WHERE doc_id % 3 = 0 ORDER BY media_id""".stripMargin,
    // real WAV decode: header truth after an actual RIFF/WAVE
    // encode→decode round trip; duration in integer micros (bit-portable)
    "multimodal_audio" ->
      """SELECT doc_id AS media_id,
        |  CAST(8000 + (doc_id % 8) * 1000 AS INT) AS sample_rate_hz,
        |  CAST(1 AS INT) AS channels,
        |  CAST(16 AS INT) AS bits_per_sample,
        |  CAST(doc_id % 500 + 100 AS BIGINT) AS frames,
        |  (doc_id % 500 + 100) * 1000000 // (8000 + (doc_id % 8) * 1000) AS duration_micros
        |FROM documents WHERE doc_id % 3 = 1 ORDER BY media_id""".stripMargin,
    // multimodal plumbing: kind/bytes from metadata; the stub feature is
    // h60(payload || ':f0') scaled to [0,1) as FLOAT, quantized to integer
    // micro-units BEFORE summing (order-independent aggregate)
    "multimodal_features" ->
      s"""WITH m AS (SELECT
         |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         |    CAST(octet_length(encode(text)) AS BIGINT) AS nb,
         |    CAST(floor(CAST(CAST((${h60Sql("text || ':f0'")} % 1000003) / 1000003.0 AS FLOAT) AS DOUBLE) * 1000000.0) AS BIGINT) AS f0q
         |  FROM documents)
         |SELECT kind, count(*) AS n, CAST(sum(nb) AS BIGINT) AS total_bytes,
         |  CAST(sum(f0q) AS BIGINT) AS f0_micro_sum
         |FROM m GROUP BY kind ORDER BY kind""".stripMargin
  )
}
