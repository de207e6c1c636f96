package org.apache.spark.sql

import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, UnresolvedFunction}
import org.apache.spark.sql.catalyst.expressions.{Ascending, AttributeReference, In, Literal, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, DataFrame => ClassicDataFrame,
  Dataset => ClassicDataset, SparkSession => ClassicSparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Zero-copy escape hatch: run an Iterator[InternalRow] transform over a
  * DataFrame's Tungsten rows WITHOUT the Row-encoder boundary.
  *
  * Why it exists: `df.mapPartitions` deserializes every UnsafeRow into a
  * boxed GenericRow (one object + one box per field + decoded strings).
  * For a row-identity transform like adjacent-duplicate dropping that
  * allocation is the entire cost — at 32 threads the garbage rate inverts
  * scaling (measured: the fused dedup+write stage got SLOWER from 8→32
  * threads). Operating on UnsafeRows directly keeps the hot loop at two
  * pointer reads (getLong) and an occasional byte-compare.
  *
  * Contract for `f`: input rows may share a mutable buffer — `.copy()`
  * anything retained across `next()` calls; emitted rows may be reused
  * immediately by the consumer, which is fine for every Spark sink (they
  * copy on retention).
  *
  * `ordering` names columns, each ascending, that every output partition
  * of `f` is sorted by. It is a promise about `f`'s output, not a sort:
  * the frame declares it to the planner, which then plans no `Sort` for
  * an operator that needs that order. A wrong promise breaks those
  * operators: a partitioned write then opens a file per run of rows of
  * one partition value, a merge join misses matches.
  */
object GraftInternal {
  def mapPartitionsUnsafe(df: DataFrame,
                          f: Iterator[InternalRow] => Iterator[InternalRow],
                          ordering: Seq[String]): DataFrame = {
    val classic = df.asInstanceOf[ClassicDataFrame]
    val spark = classic.sparkSession.asInstanceOf[ClassicSparkSession]
    val output = DataTypeUtils.toAttributes(classic.schema)
    val order = ordering.map(c => SortOrder(output(classic.schema.fieldIndex(c)), Ascending))
    ClassicDataset.ofRows(spark, LogicalRDD(output, classic.queryExecution.toRdd.mapPartitions(f),
      UnknownPartitioning(0), order, isStreaming = false)(spark))
  }

  /** Eager local checkpoint that ALSO returns the row count from the
    * same materialization job. Iterative fixpoint loops (transitive
    * closure, delta iteration) previously paid two jobs per round —
    * `localCheckpoint()` (which internally materializes every partition)
    * followed by a separate `count()` for the convergence test. This
    * mirrors `Dataset.localCheckpoint`'s own implementation
    * (`queryExecution.toRdd.map(_.copy()).localCheckpoint()`) but keeps
    * the count the materialization already produces, halving the
    * per-round driver actions (optimization guide §1.2: fix the
    * algorithm's job structure before per-task work).
    */
  def localCheckpointWithCount(df: DataFrame): (DataFrame, Long) = {
    val classic = df.asInstanceOf[ClassicDataFrame]
    val spark = classic.sparkSession.asInstanceOf[ClassicSparkSession]
    val rdd = classic.queryExecution.toRdd.map(_.copy())
    rdd.localCheckpoint()
    val n = rdd.count()
    (spark.internalCreateDataFrame(rdd, classic.schema), n)
  }

  /** [[localCheckpointWithCount]] variant that also sums the LongType
    * column `longCol` in the same materialization job: returns the frame,
    * its row count and the sum. The sum wraps on overflow and counts a
    * null as 0. Fixpoint loops ride their convergence test on it instead
    * of a separate action per round: a count of rows meeting a predicate
    * (sum the predicate cast to long), or a checksum of the round's rows
    * (sum a row hash — wrapping addition is as good a checksum as an
    * exact one).
    */
  def localCheckpointWithSum(df: DataFrame, longCol: String): (DataFrame, Long, Long) = {
    val classic = df.asInstanceOf[ClassicDataFrame]
    val spark = classic.sparkSession.asInstanceOf[ClassicSparkSession]
    require(classic.schema(longCol).dataType == LongType, s"$longCol must be a long column")
    val ord = classic.schema.fieldIndex(longCol)
    val rdd = classic.queryExecution.toRdd.map(_.copy())
    rdd.localCheckpoint()
    val (n, sum) = rdd.mapPartitions { it =>
      var total = 0L
      var acc = 0L
      while (it.hasNext) {
        val r = it.next()
        total += 1
        if (!r.isNullAt(ord)) acc += r.getLong(ord)
      }
      Iterator.single((total, acc))
    }.fold((0L, 0L)) { case ((n1, s1), (n2, s2)) => (n1 + n2, s1 + s2) }
    (spark.internalCreateDataFrame(rdd, classic.schema), n, sum)
  }

  /** True when `df` is ALREADY a materialized RDD (a local/reliable
    * checkpoint or an internally-created frame over concrete rows), or a
    * column selection of one, whose columns are exactly `cols` — i.e.
    * re-checkpointing it would be a pure copy. Lets operators that
    * defensively materialize an input (e.g. updateClosure's stored-closure
    * checkpoint) skip the redundant O(rows) copy job when the caller hands
    * them a frame that a sibling operator just materialized.
    */
  def isMaterializedWithColumns(df: DataFrame, cols: Seq[String]): Boolean = {
    val lp = df.asInstanceOf[ClassicDataFrame].queryExecution.analyzed
    val rows = lp match {
      case Project(list, child) if list.forall(_.isInstanceOf[AttributeReference]) => child
      case p => p
    }
    rows.isInstanceOf[LogicalRDD] && lp.output.map(_.name) == cols
  }

  /** Drain the async listener bus (accessor is `private[spark]`):
    * metric listeners (e.g. per-run shuffle-byte accounting in
    * graft.Bench) must see every completed stage before a snapshot is
    * read — without the drain a snapshot races in-flight events.
    */
  def waitListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Evaluate a constant column — literals under built-in functions — on
    * the driver, without a session or a job. No type coercion runs: the
    * arguments must already have the types their functions take.
    */
  def evalConstant(c: Column): Any =
    ColumnNodeToExpressionConverter(c.node).transformUp {
      case f: UnresolvedFunction =>
        FunctionRegistry.builtin.lookupFunction(FunctionIdentifier(f.nameParts.last), f.arguments)
    }.eval()

  /** Pruning of constant-predicate scans of `df` to their `predBucket`
    * partitions, when `df` reads a predicate-bucketed file graph: `df` is
    * a chain of deterministic Projects and Filters over ONE file relation
    * with a single root path (two roots could hold graphs of different
    * counts) and an integer `predBucket` partition column, the `pred`
    * column of `df` is that relation's own attribute (not a rename or a
    * computed value) and carries a positive bucket count under
    * `countKey` in its metadata, and no node of the chain is cached
    * (pruning below a cached node would bypass the cache). Schema
    * inference read that metadata from a file footer when the relation
    * was opened, so no I/O happens here.
    *
    * Returns the bucket count and a function giving `df` read from only
    * the partitions `predBucket IN (buckets)`: the filter goes directly
    * above the file relation, so the scan lists it as a partition filter
    * and opens only those directories. `None` for any other `df`. The
    * plan is walked once, however many patterns prune.
    */
  def predBucketPruner(df: DataFrame, countKey: String): Option[(Int, Seq[Int] => DataFrame)] = {
    val classic = df.asInstanceOf[ClassicDataFrame]
    val spark = classic.sparkSession.asInstanceOf[ClassicSparkSession]
    val plan = classic.queryExecution.analyzed
    def leaf(p: LogicalPlan, chain: List[LogicalPlan]): Option[(LogicalRelation, List[LogicalPlan])] =
      p match {
        case Project(_, child) if p.expressions.forall(_.deterministic) => leaf(child, p :: chain)
        case Filter(_, child) if p.expressions.forall(_.deterministic) => leaf(child, p :: chain)
        case r: LogicalRelation => Some((r, r :: chain))
        case _ => None
      }
    val resolver = spark.sessionState.conf.resolver
    def named(attrs: Seq[AttributeReference], name: String) = attrs.filter(a => resolver(a.name, name))
    leaf(plan, Nil).flatMap { case (rel, chain) =>
      rel.relation match {
        case fs: HadoopFsRelation if fs.location.rootPaths.size == 1 =>
          val pred = named(rel.output, "pred")
          val bucket = named(rel.output, "predBucket")
          val dfPred = plan.output.filter(a => resolver(a.name, "pred"))
          val cached = !spark.sharedState.cacheManager.isEmpty &&
            chain.exists(n => spark.sharedState.cacheManager.lookupCachedData(spark, n).isDefined)
          val count = pred.headOption.map(_.metadata).filter(_.contains(countKey))
            .map(_.getLong(countKey).toInt).filter(_ > 0)
          if (pred.size == 1 && bucket.size == 1 && dfPred.size == 1 &&
              dfPred.head.exprId == pred.head.exprId && count.isDefined &&
              fs.partitionSchema.fieldNames.exists(resolver(_, "predBucket")) &&
              bucket.head.dataType == IntegerType && !cached) {
            val prune = (buckets: Seq[Int]) => {
              val pruned = plan.transformUp {
                case r: LogicalRelation if r eq rel => Filter(In(bucket.head, buckets.map(Literal(_))), r)
              }
              // an analyzed plan with one resolved, well-typed filter added:
              // the analyzer has nothing to do, so it is told to skip the plan
              pruned.setAnalyzed()
              ClassicDataset.ofRows(spark, pruned): DataFrame
            }
            Some((count.get, prune))
          } else None
        case _ => None
      }
    }
  }
}
