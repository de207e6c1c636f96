package jsonld.spark

import org.apache.spark.sql.{Column, Dataset, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.functions._
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.util.LongAccumulator
import org.apache.spark.TaskContext
import jsonld.core._
import jsonld.core.Rdf._

/** The KG-construction DAG: detect → expand → toRDF → URDNA2015 → dedup →
  * link → partitioned write.
  *
  * Parallelism model (SURVEY.md "key architectural fact"): every JSON-LD
  * algorithm is per-document and sequential, so each stage runs the pure
  * core inside `mapPartitions` — one task processes many documents, no
  * per-document state ever crosses a task boundary (blank-node scopes are
  * per document). Corpus-level relational work (dedup, joins, bucketing,
  * lineage aggregation) is left to Catalyst: the written graph shuffles
  * once, at the predicate-bucket repartition that both dedups and writes
  * ([[dedupForWrite]]), one parquet file per bucket whenever
  * `buckets >= spark.sql.shuffle.partitions` ([[bucketSorted]]). The
  * written graph records its bucket count in its own parquet schema
  * ([[BucketsKey]] on `pred`), and `GraphOps` prunes each
  * constant-predicate triple pattern over it to that predicate's bucket
  * ([[bucketOf]]): the scan opens one `predBucket=` directory, not all.
  *
  * Scale notes (100 TB / 1000 executors):
  * - detection is a narrow map over the scan — predicate + column pruning
  *   reach parquet because the cheap filter is a Column expression;
  * - the remote-context cache is a Broadcast[Map[url,String]] (contexts are
  *   a closed, small set; executors NEVER do I/O per document);
  * - one fused mapPartitions does parse→expand→toRDF→c14n per doc: no
  *   intermediate shuffle, no JSON re-serialization between stages;
  * - canonicalization worst case is factorial: a per-doc permutation budget
  *   routes adversarial docs to quarantine instead of stalling an executor.
  */
object Pipeline extends Serializable {

  /** Wire row emitted by the fused transform stage (ok and error rows share
    * one pass; split downstream with a cheap filter).
    */
  final case class PipeRow(
      ok: Boolean,
      docId: String,
      repo: String,
      path: String,
      subj: String,
      pred: String,
      obj: String,
      objKind: Byte,
      objDatatype: String,
      objLang: String,
      graph: String,
      errorCode: String,
      errorMessage: String)

  final case class Counters(
      filesIn: LongAccumulator,
      docsDetected: LongAccumulator,
      docsOk: LongAccumulator,
      docsFailed: LongAccumulator,
      quadsOut: LongAccumulator,
      quadsDropped: LongAccumulator)

  def newCounters(spark: SparkSession): Counters = Counters(
    spark.sparkContext.longAccumulator("graft.filesIn"),
    spark.sparkContext.longAccumulator("graft.docsDetected"),
    spark.sparkContext.longAccumulator("graft.docsOk"),
    spark.sparkContext.longAccumulator("graft.docsFailed"),
    spark.sparkContext.longAccumulator("graft.quadsOut"),
    spark.sparkContext.longAccumulator("graft.quadsDropped"))

  /** Incremental ingest: keep only files that are NEW or whose content
    * CHANGED since a prior run. `prevManifest` is the previous run's
    * (path, content_sha256) table, content_sha256 being
    * `sha2(content, 256)` of that run's corpus, computed as here rather
    * than recorded by a stage; the filter is one left-anti join on those
    * two columns (broadcast when the manifest is small, shuffle
    * otherwise; AQE decides). At 10^12 files reprocessing the unchanged
    * 99% is the difference between a nightly delta and a week-long full
    * rebuild; content-hash (not mtime/commit) comparison makes the delta
    * exact.
    */
  def incrementalCorpus(corpus: Dataset[RepoFile],
                        prevManifest: DataFrame): Dataset[RepoFile] = {
    import corpus.sparkSession.implicits._
    corpus.toDF()
      .withColumn("content_sha256", sha2(col("content"), 256))
      .join(prevManifest.select(col("path"), col("content_sha256")),
        Seq("path", "content_sha256"), "left_anti")
      .drop("content_sha256")
      .as[RepoFile]
  }

  /** Stage 1: detection. Cheap column-level pre-filter first (pushable /
    * codegen'd), then the per-file extractor.
    *
    * `filesIn` counts files entering the JVM-side extractor, i.e. AFTER
    * the pushed-down pre-filter — counting raw scanned rows would require
    * piercing predicate pushdown with a per-row accumulator map, defeating
    * the pruning the stage exists for. Scanned-row totals belong to the
    * storage layer (parquet footer counts), not this metric.
    */
  def detectStage(corpus: Dataset[RepoFile], counters: Counters): Dataset[DetectedDoc] = {
    import corpus.sparkSession.implicits._
    val prefiltered = corpus.filter(
      col("content").isNotNull && (
        lower(col("lang")).isin("jsonld", "json", "html") ||
        col("path").endsWith(".jsonld") || col("path").endsWith(".json") ||
        col("path").endsWith(".html") || col("path").endsWith(".htm") ||
        col("content").contains("@context") || col("content").contains("@graph") ||
        col("content").contains("application/ld+json")))
    prefiltered.mapPartitions { files =>
      files.flatMap { f => counters.filesIn.add(1); Detect.detect(f) }
    }
  }

  /** Stage 2+3+4 fused: parse → expand (broadcast context cache) → toRDF →
    * per-doc URDNA2015 → QuadRow/ErrorRow wire format.
    */
  def transformStage(docs: Dataset[DetectedDoc],
                     contextCache: Broadcast[Map[String, String]],
                     counters: Counters,
                     maxPermutations: Long = 100000L): Dataset[PipeRow] = {
    import docs.sparkSession.implicits._
    docs.mapPartitions { iter =>
      // one loader per partition: it parses each remote context once, and
      // each parsed context is processed once and reused by every document
      // of the partition that names it (MapDocumentLoader)
      val loader = new MapDocumentLoader(contextCache.value)
      iter.flatMap { d =>
        def failed(code: String, message: String): Iterator[PipeRow] = {
          counters.docsFailed.add(1)
          Iterator.single(PipeRow(ok = false, d.docId, d.repo, d.path,
            "", "", "", QuadRow.KindIri, "", "", "", code, String.valueOf(message).take(200)))
        }
        counters.docsDetected.add(1)
        try {
          val opts = JsonLdOptions(base = d.baseIri, documentLoader = loader)
          val parsed =
            try Json.parse(d.json)
            catch {
              case e: JsonLdError => throw e // too deeply nested
              case e: Exception =>
                throw JsonLdError(JsonLdError.InvalidInput, String.valueOf(e.getMessage))
            }
          val expanded = Processor.expand(parsed, opts)
          val dataset = ToRdf.toRdf(expanded, opts)
          // observable data loss: validity-filtered quads AND spec-mandated
          // relative-IRI skips (both silent in the reference)
          counters.quadsDropped.add(
            dataset.droppedQuads + dataset.skippedRelative + dataset.skippedGeneralized)
          val quads = new Canonicalizer("URDNA2015", maxPermutations).canonicalQuads(dataset)
            .map { case (g, q) => (if (g.isEmpty) "@default" else g, q) }
          counters.docsOk.add(1)
          counters.quadsOut.add(quads.size)
          quads.iterator.map { case (graphName, q) =>
            val (obj, kind, dt, lang) = q.obj match {
              case RIri(v) => (v, QuadRow.KindIri, "", "")
              case RBlank(v) => (v, QuadRow.KindBlank, "", "")
              case RLiteral(v, d2, l2) => (v, QuadRow.KindLiteral, d2, l2)
            }
            // ok rows travel without repo/path (derivable from docId):
            // at 10^12-file scale those two strings dominate shuffle bytes
            PipeRow(ok = true, d.docId, "", "",
              q.subject.value, q.predicate.value, obj, kind, dt, lang,
              if (graphName == "@default") "" else graphName, "", "")
          }
        } catch {
          case e: JsonLdError => failed(e.code, e.details)
          // Json.parse refuses the nesting depth that overflows the recursive
          // algorithms; should another input still exhaust the stack, it is
          // unwound by now, so this fails the document, not the task
          case _: StackOverflowError =>
            failed(JsonLdError.NestingTooDeep, "the document's nesting exhausted the stack")
          case e: Exception => failed("crash", e.getMessage)
        }
      }
    }
  }

  /** ok/quarantine splits are UNTYPED (column filter + projection): a
    * typed `filter(_.ok).map(...)` would deserialize all 13 PipeRow fields
    * and re-encode per quad — measured as a large share of the transform
    * stage's wall time. These stay entirely inside Tungsten/codegen.
    */
  def quads(pipe: Dataset[PipeRow]): Dataset[QuadRow] = {
    import pipe.sparkSession.implicits._
    pipe.toDF().filter(col("ok"))
      .select(col("docId"), col("subj"), col("pred"), col("obj"),
        col("objKind"), col("objDatatype"), col("objLang"), col("graph"))
      .as[QuadRow]
  }

  def quarantine(pipe: Dataset[PipeRow]): Dataset[ErrorRow] = {
    import pipe.sparkSession.implicits._
    pipe.toDF().filter(!col("ok"))
      .select(col("docId"), col("repo"), col("path"),
        lit("transform").as("stage"), col("errorCode"), col("errorMessage").as("message"))
      .as[ErrorRow]
  }

  /** Corpus-level triple dedup — set semantics across documents — for a
    * graph that stays in memory (a written graph dedups in its write,
    * [[dedupForWrite]]). Hash aggregate, map-side partial combine. docId
    * is dropped BEFORE the shuffle: dedup keeps an arbitrary witness
    * anyway, and at corpus scale the column is pure shuffle weight (the
    * graph is the quad set, provenance lives in the lineage/quarantine
    * tables).
    */
  def dedupQuads(q: Dataset[QuadRow]): DataFrame =
    q.toDF().drop("docId")
      .dropDuplicates(Seq("subj", "pred", "obj", "objKind", "objDatatype", "objLang", "graph"))

  /** Lineage: per-partition counts derived from the wire rows — a plain
    * aggregation Catalyst can fuse, no second pass over the data.
    */
  def lineage(pipe: Dataset[PipeRow]): DataFrame = {
    pipe.toDF()
      .withColumn("pid", spark_partition_id())
      .groupBy(col("pid"))
      .agg(
        countDistinct(when(col("ok"), col("docId"))).as("docsOk"),
        countDistinct(when(!col("ok"), col("docId"))).as("docsFailed"),
        sum(when(col("ok"), 1L).otherwise(0L)).as("quadsOut"))
  }

  /** Full resumable DAG: every stage writes its output table + a done
    * marker under `workDir`; a re-entered driver skips completed stages
    * (north rule: resumable from checkpointed stage outputs). Stage names
    * are deterministic, so resume is a pure function of the work dir.
    *
    * The graph stage is [[dedupAndWritePartitioned]], the one shuffle and
    * one write of the timed spine, so `workDir/graph` carries the bucket
    * marker. Returns the deduped quads read back from that graph without
    * `predBucket` (lineage is cut at each checkpoint).
    */
  def runResumable(spark: SparkSession, corpus: Dataset[RepoFile], workDir: String,
                   contextCache: Broadcast[Map[String, String]],
                   buckets: Int = 64): DataFrame = {
    import spark.implicits._
    val counters = newCounters(spark)

    val detectedDf = CorpusIO.stage(spark, s"$workDir/stage1_detected") {
      detectStage(corpus, counters).toDF()
    }

    val pipeDf = CorpusIO.stage(spark, s"$workDir/stage2_transformed") {
      transformStage(detectedDf.as[DetectedDoc], contextCache, counters).toDF()
    }
    val pipe = pipeDf.as[PipeRow]

    CorpusIO.stage(spark, s"$workDir/quarantine") { quarantine(pipe).toDF() }
    CorpusIO.stage(spark, s"$workDir/lineage") { lineage(pipe) }

    val graph = s"$workDir/graph"
    if (!CorpusIO.stageDone(spark, graph)) {
      dedupAndWritePartitioned(quads(pipe), graph, buckets)
      CorpusIO.markDone(spark, graph)
    }
    spark.read.parquet(graph).drop("predBucket")
  }

  /** The bucket of a predicate column: `pmod(hash(pred), buckets)`. */
  private def bucketCol(pred: Column, buckets: Int): Column = pmod(hash(pred), lit(buckets))

  /** The bucket every writer here stores predicate `pred` under:
    * [[bucketCol]] itself, evaluated on the driver, so a reader pruning a
    * constant-predicate scan to this bucket cannot drift from the write.
    */
  def bucketOf(pred: String, buckets: Int): Int =
    org.apache.spark.sql.GraftInternal.evalConstant(bucketCol(lit(pred), buckets))
      .asInstanceOf[Int]

  /** Metadata key holding a graph's bucket count: on the `predBucket`
    * column [[withBucketKey]] adds, and on the `pred` column of a graph
    * `CorpusIO.writeTriples` wrote, whose parquet footers keep it (the
    * metadata of a partition column does not survive the write).
    */
  val BucketsKey = "graft.predBuckets"

  /** The bucket count `df`'s `predBucket` column was computed with
    * ([[withBucketKey]] records it in the column's metadata); `None` for a
    * column of unknown origin, e.g. one read back from a written graph.
    */
  private[spark] def predBuckets(df: DataFrame): Option[Int] =
    df.schema.find(_.name == "predBucket").map(_.metadata)
      .filter(_.contains(BucketsKey)).map(_.getLong(BucketsKey).toInt)

  /** Adds `predBucket` ([[bucketCol]]) to `df`, its bucket count in the
    * column's metadata ([[predBuckets]]), and returns it with the
    * dedup/write exchange key; [[bucketSorted]] states the salt rule.
    */
  private def withBucketKey(df: DataFrame, buckets: Int): (DataFrame, Seq[Column]) = {
    val salts = subjectSalts(df.sparkSession, buckets)
    val key =
      if (salts == 1) Seq(col("predBucket"))
      else Seq(col("predBucket"), pmod(hash(col("subj")), lit(salts)))
    val meta = new org.apache.spark.sql.types.MetadataBuilder().putLong(BucketsKey, buckets).build()
    (df.withColumn("predBucket", bucketCol(col("pred"), buckets))
      .withMetadata("predBucket", meta), key)
  }

  /** Subject salts of the dedup/write exchange key: 1 when
    * `spark.sql.shuffle.partitions <= buckets`, else 16.
    */
  private[spark] def subjectSalts(spark: SparkSession, buckets: Int): Int =
    if (spark.conf.get("spark.sql.shuffle.partitions").toInt <= buckets) 1 else 16

  private val graphCols =
    Seq("subj", "pred", "obj", "objKind", "objDatatype", "objLang", "graph")

  /** The single-Exchange stage feeding the fused dedup + bucketed
    * materialize (exposed so PlanSpec can pin the one-shuffle shape — the
    * InternalRow map of [[dedupForWrite]] hides it behind an RDD scan).
    *
    * Exchange key: `predBucket` alone when `buckets >= P`, where P is
    * `spark.sql.shuffle.partitions` (the exchange's partition count),
    * else `(predBucket, pmod(hash(subj), 16))`. With `buckets >= P` the
    * buckets alone offer at least as many keys as the exchange has
    * partitions, so each bucket lands whole in one reduce task and is
    * written as ONE parquet file: a triple-pattern scan of a bucket opens
    * one file, and the build opens one parquet writer per bucket. With
    * fewer buckets than partitions the buckets alone would leave
    * partitions idle, so a subject salt splits each bucket over up to 16
    * reduce tasks and files. 16, not `ceil(P / buckets)`: a corpus with
    * few, skewed predicates (graft.Bench's fills 8 of 32 buckets, at
    * P = 64) needs the finer split to keep its largest bucket off the
    * write stage's critical path. The rule reads a session setting, not
    * the executor cores registered so far, so one configuration always
    * yields one layout. Its limit: with `buckets >= P`, a corpus whose
    * predicates fill fewer buckets than there are cores sorts and writes
    * on fewer tasks than cores, its largest bucket on one task; set P
    * above `buckets` for such a corpus.
    *
    * ONE shuffle for dedup and write: `dropDuplicates` followed by a
    * bucketed write shuffles every quad twice (hash-agg exchange, then
    * the write repartition). But two equal quads share pred and
    * subj, hence the same exchange key whatever `salts` is, so the
    * write's own repartition already co-locates duplicates, and dedup
    * degenerates to dropping adjacent rows after the per-partition sort.
    * This halves shuffle bytes AND skips the hash-aggregate build over
    * what is, on a real corpus, an almost-entirely-distinct key set.
    *
    * Dedup mechanics: sorting by the quad columns directly is
    * pathologically slow here — subject IRIs share long prefixes, so the
    * sorter's 8-byte prefix disambiguates nothing and every comparison
    * walks multiple strings. Instead rows sort by ONE non-negative long,
    * `sortKey` (radix-friendly): `predBucket` in its top
    * `ceil(log2(buckets))` bits below the sign bit, the low bits of one
    * xxhash64 over all quad columns beneath. Equal quads get equal keys,
    * so duplicates are adjacent; each equal-key run (almost always a
    * single row) is then deduplicated by EXACT row comparison
    * ([[dropAdjacentDuplicates]]), so a collision can never drop a
    * distinct quad.
    *
    * One sort per reduce task: a partition sorted by `sortKey` is also
    * sorted by `predBucket`, the order the dynamic-partition writer
    * needs. [[dedupForWrite]] declares that order, so the writer plans no
    * second sort and keeps no second copy of the task's quads.
    */
  def bucketSorted(q: Dataset[QuadRow], buckets: Int): DataFrame = {
    val (bucketed, key) = withBucketKey(q.toDF().drop("docId"), buckets)
    val hashBits = 63 - (32 - Integer.numberOfLeadingZeros(buckets - 1))
    bucketed
      .withColumn("sortKey", shiftleft(col("predBucket").cast("long"), hashBits)
        .bitwiseOR(xxhash64(graphCols.map(col): _*).bitwiseAND(lit((1L << hashBits) - 1))))
      .repartition(key: _*)
      .sortWithinPartitions(col("sortKey"))
  }

  def dedupForWrite(q: Dataset[QuadRow], buckets: Int = 64): DataFrame = {
    val sorted = bucketSorted(q, buckets)
    val keyIdx = sorted.schema.fieldIndex("sortKey")
    // adjacent-dedup over raw UnsafeRows (GraftInternal): the Row-encoder
    // version allocated one boxed row per quad and inverted thread scaling
    org.apache.spark.sql.GraftInternal.mapPartitionsUnsafe(sorted,
      dropAdjacentDuplicates(_, keyIdx), ordering = Seq("predBucket")).drop("sortKey")
  }

  /** `rows` without repeats, for rows where equal rows are adjacent: rows
    * sorted by a long key at `keyIdx` that equal rows share. Within a run
    * of equal keys, rows are compared whole, byte for byte, so distinct
    * rows that share a key all survive. Order is kept.
    */
  private[spark] def dropAdjacentDuplicates(rows: Iterator[InternalRow],
                                            keyIdx: Int): Iterator[InternalRow] =
    new Iterator[InternalRow] {
      // rows share a mutable buffer → copy anything retained (one flat
      // byte-array copy per row; no boxing, no string decode)
      private var pending: InternalRow = if (rows.hasNext) {
        val first = rows.next()
        // the run-dedup below relies on == being BYTE equality, which only
        // UnsafeRow provides (GenericInternalRow == is reference equality —
        // duplicates would silently pass). Fail fast if a plan change ever
        // stops toRdd yielding UnsafeRows.
        require(first.isInstanceOf[UnsafeRow],
          s"dropAdjacentDuplicates requires UnsafeRows, got ${first.getClass.getName}")
        first.copy()
      } else null
      private val out = scala.collection.mutable.Queue.empty[InternalRow]
      private def refill(): Unit = if (out.isEmpty && pending != null) {
        // collect the full run of key-equal rows starting at `pending`,
        // dropping exact duplicates within it (key-equal ≠ row-equal)
        val k = pending.getLong(keyIdx)
        val run = scala.collection.mutable.ArrayBuffer[InternalRow](pending)
        pending = null
        var done = false
        while (!done && rows.hasNext) {
          val r = rows.next()
          if (r.getLong(keyIdx) == k) {
            val c = r.copy()
            if (!run.exists(_ == c)) run += c
          } else { pending = r.copy(); done = true }
        }
        out ++= run
      }
      def hasNext: Boolean = { refill(); out.nonEmpty }
      def next(): InternalRow = { refill(); out.dequeue() }
    }

  /** Fused dedup + materialize. `target` dispatches the sink format
    * (path → partitioned parquet; catalog table → Iceberg with native
    * bucket(pred) partitioning) — see [[CorpusIO.writeTriples]].
    */
  def dedupAndWritePartitioned(q: Dataset[QuadRow], target: String, buckets: Int = 64): Unit =
    CorpusIO.writeTriples(dedupForWrite(q, buckets), target, buckets)
}
