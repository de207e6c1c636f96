package jsonld.spark

import org.apache.spark.sql.{DataFrame, SparkSession}
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
    * iceberg branch drops it — the bucket transform supersedes it. After
    * the parquet write commits, [[markBuckets]] records the bucket count
    * `predBucket` was computed with in the hidden [[BucketsMarker]] file.
    * That count comes from the column itself (`Pipeline.predBuckets`),
    * not from `buckets`, so the two cannot disagree; a `predBucket` of
    * unknown origin leaves the graph unmarked. GraphOps prunes a
    * constant-predicate pattern to its bucket only on a marked graph.
    * Spark's listing skips `_` files, so readers of the graph see the
    * same rows.
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
      df.write.mode("overwrite").partitionBy("predBucket").parquet(target)
      Pipeline.predBuckets(df).foreach(markBuckets(df.sparkSession, target, _))
    }

  /** Hidden file in the root of a `predBucket`-partitioned parquet graph
    * holding its bucket count: every quad of predicate `p` lies under
    * `predBucket=Pipeline.bucketOf(p, count)`. The overwrite of a graph
    * deletes it with the rest of the directory.
    */
  val BucketsMarker = "_GRAFT_BUCKETS"

  private[spark] def markBuckets(spark: SparkSession, dir: String, buckets: Int): Unit = {
    val (f, p) = fs(spark, dir)
    val out = f.create(new Path(p, BucketsMarker), true)
    try out.write(buckets.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** The bucket count [[markBuckets]] recorded in `dir`; `None` without a
    * readable marker, whatever the I/O error, so a query falls back to
    * the full scan.
    */
  def bucketCount(spark: SparkSession, dir: String): Option[Int] = {
    val (f, p) = fs(spark, dir)
    try {
      val in = f.open(new Path(p, BucketsMarker))
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8).trim
        .toIntOption.filter(_ > 0)
      finally in.close()
    } catch { case _: java.io.IOException => None }
  }
}
