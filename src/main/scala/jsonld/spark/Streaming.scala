package jsonld.spark

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.broadcast.Broadcast

/** Structured Streaming face of the KG pipeline.
  *
  * The per-document transform is stateless (pure function of content +
  * broadcast context cache), so the same detect/transform stages lift to
  * `readStream` unchanged — no watermarks or state stores needed for the
  * spine. Corpus-wide dedup in a stream is deliberately NOT part of it:
  * set semantics across an unbounded stream needs either a TTL'd state
  * store ([[streamingDedupQuads]]) or downstream compaction; batch dedup
  * at materialization time is the scale-correct choice (same decision
  * Iceberg-based pipelines make).
  */
object Streaming {

  /** Streaming exact quad dedup with TTL'd state — the set-semantics
    * option the spine's batch dedup deliberately leaves to a state store:
    * the first occurrence of a quad passes through, repeats within `ttl`
    * are suppressed, and the per-quad state entry expires on processing-
    * time timeout so state is bounded by the distinct-quad rate × TTL
    * rather than the stream's full history. Keyed by the full quad (exact;
    * at extreme key cardinality swap the key for a 128-bit hash pair and
    * accept ~2^-128 collision odds).
    */
  def streamingDedupQuads(quads: Dataset[QuadRow], ttl: String = "1 hour"): Dataset[QuadRow] = {
    import quads.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    quads
      .groupByKey(q => (q.subj, q.pred, q.obj, q.objKind, q.objDatatype, q.objLang, q.graph))
      .flatMapGroupsWithState[Boolean, QuadRow](
        OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout) {
        case (_, rows, state: GroupState[Boolean]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else if (state.exists) Iterator.empty // seen within TTL → suppress
          else {
            state.update(true)
            state.setTimeoutDuration(ttl)
            rows.take(1)
          }
      }
  }

  /** File-source streaming entry: watch a directory of corpus parquet and
    * continuously emit quads to a parquet sink with checkpointing. Returns
    * the started query (caller stops it).
    */
  def fileStreamPipeline(spark: SparkSession, inDir: String, outDir: String,
                         checkpointDir: String,
                         contextCache: Broadcast[Map[String, String]])
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import org.apache.spark.sql.Encoders
    val schema = Encoders.product[RepoFile].schema
    val corpus = spark.readStream.schema(schema).parquet(inDir).as[RepoFile](Encoders.product[RepoFile])
    val counters = Pipeline.newCounters(spark)
    val quads = Pipeline.quads(
      Pipeline.transformStage(Pipeline.detectStage(corpus, counters), contextCache, counters))
    quads.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .start()
  }
}
