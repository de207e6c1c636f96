package jsonld.spark

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.MetadataBuilder
import org.apache.hadoop.fs.{FileSystem, Path}

/** Stage checkpointing + resume.
  *
  * Each stage writes its output table and a `_GRAFT_STAGE_DONE` marker; a
  * re-entered driver skips completed stages by reading the table back.
  * Cheaper and more inspectable than rdd.checkpoint, and the unit of retry
  * is a whole stage — deterministic stage naming makes the DAG resumable
  * after driver loss (north rule: "resumable from checkpointed stage
  * outputs").
  *
  * Markers go through the Hadoop FileSystem API resolved from the stage
  * path itself, so resume works identically on local disk, HDFS, and
  * object stores (s3a://, gs://) — `java.nio.file` would silently treat
  * every remote path as absent and re-run the whole DAG.
  *
  * Table format: Parquet with the same partition layout Iceberg would use.
  * No Iceberg runtime jar exists in this sandbox (verified: /opt/spark/jars
  * has none, offline resolver) — `format` switches to "iceberg" when the
  * jar is present; the stage contract is format-agnostic.
  */
object CorpusIO {

  val DoneMarker = "_GRAFT_STAGE_DONE"

  def icebergAvailable: Boolean =
    try { Class.forName("org.apache.iceberg.spark.source.IcebergSource"); true }
    catch { case _: Throwable => false }

  private def fs(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  def stageDone(spark: SparkSession, dir: String): Boolean = {
    val (f, p) = fs(spark, dir)
    f.exists(new Path(p, DoneMarker))
  }

  def markDone(spark: SparkSession, dir: String): Unit = {
    val (f, p) = fs(spark, dir)
    f.mkdirs(p)
    val out = f.create(new Path(p, DoneMarker), true)
    out.close()
  }

  /** Run `compute` unless `dir` already holds this stage's output; either
    * way return the stage output as a DataFrame read from storage, so
    * downstream stages cut lineage at the checkpoint.
    */
  def stage(spark: SparkSession, dir: String)(compute: => DataFrame): DataFrame = {
    if (!stageDone(spark, dir)) {
      compute.write.mode("overwrite").parquet(dir)
      markDone(spark, dir)
    }
    spark.read.parquet(dir)
  }

  /** Materialize the final triple table, format-dispatched on the target:
    *
    *  - a PATH (contains `/`) → partitioned parquet on the `predBucket`
    *    column the dedup stage computed (the layout Iceberg's
    *    `bucket(pred)` produces, emulated on plain files);
    *  - a catalog TABLE NAME → Iceberg DataFrameWriterV2 with native
    *    `bucket(buckets, pred)` partitioning — the real 100 TB sink
    *    (snapshot isolation, compaction, hidden partitioning). Requires
    *    the Iceberg runtime jar + catalog conf; absent (this sandbox is
    *    offline, /opt/spark/jars carries no Iceberg), the branch refuses
    *    with a clear error instead of mis-writing a relative parquet dir.
    *
    * `df` must carry `predBucket` (see Pipeline.dedupForWrite); the
    * iceberg branch drops it — the bucket transform supersedes it. The
    * parquet branch records the bucket count `predBucket` was computed
    * with in the metadata of the written `pred` column
    * (`Pipeline.BucketsKey`), so every file footer carries it and a
    * reader of the graph gets it with the schema. That count comes from
    * the column itself (`Pipeline.predBuckets`), not from `buckets`, so
    * the two cannot disagree; a `predBucket` of unknown origin strips
    * any count `pred` carries, so a graph read back and re-bucketed by
    * hand keeps no stale one. GraphOps prunes a constant-predicate
    * pattern to its bucket only on a graph with a count.
    */
  def writeTriples(df: DataFrame, target: String, buckets: Int = 64): Unit =
    if (!target.contains("/")) {
      if (!icebergAvailable)
        throw new IllegalStateException(
          s"table target '$target' needs the Iceberg runtime jar on the classpath " +
            "(org.apache.iceberg.spark.source.IcebergSource not found); " +
            "pass a path for the parquet branch")
      df.drop("predBucket")
        .writeTo(target)
        .partitionedBy(org.apache.spark.sql.functions.bucket(buckets, df("pred")))
        .using("iceberg")
        .createOrReplace()
    } else {
      val meta = new MetadataBuilder().withMetadata(df.schema("pred").metadata)
        .remove(Pipeline.BucketsKey)
      Pipeline.predBuckets(df).foreach(meta.putLong(Pipeline.BucketsKey, _))
      df.withMetadata("pred", meta.build())
        .write.mode("overwrite").partitionBy("predBucket").parquet(target)
    }
}
