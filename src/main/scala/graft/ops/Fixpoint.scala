package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.xxhash64

/** The round loop of the convergence graph operators: connected
  * components, k-core, transitive closure, closure delta and BFS distances.
  * The round policy, stated once for all of them:
  *
  *  - every round is materialized with `localCheckpoint`, which cuts the
  *    lineage so plans don't grow with the round count; its checksum (row
  *    count, wrapping xxhash64 sum over all columns) is taken during that
  *    same materialization, so a round costs one driver action;
  *  - the fixpoint is a round whose checksum equals the previous round's
  *    (an empty start is a fixpoint before round 1);
  *  - a loop that has not converged within `maxIterations` rounds RAISES
  *    rather than returning a partial result;
  *  - on a real cluster swap `localCheckpoint` for reliable checkpointing
  *    (executor loss would otherwise lose a round); the join/aggregate
  *    shape of every step is unchanged.
  */
private[ops] object Fixpoint {

  /** Iterate `step` from `start` until a round leaves the frame unchanged
    * and return that frame. `step` must return `start`'s columns in
    * `start`'s order (the checksum hashes them in order).
    */
  def run(op: String, maxIterations: Int, start: DataFrame)(
      step: DataFrame => DataFrame): DataFrame = {
    var (cur, prev) = checksummed(start)
    if (prev._1 > 0) rounds(op, maxIterations) { _ =>
      val (next, sum) = checksummed(step(cur))
      val done = sum == prev
      cur = next
      prev = sum
      done
    }
    cur
  }

  /** The round budget on its own, for a loop whose state is more than one
    * frame: calls `round(i)` for i = 0, 1, … until it returns true
    * (converged), and raises once `maxIterations` rounds have not.
    */
  def rounds(op: String, maxIterations: Int)(round: Int => Boolean): Unit = {
    var i = 0
    while (i < maxIterations) {
      if (round(i)) return
      i += 1
    }
    throw new IllegalStateException(
      s"$op did not converge in $maxIterations rounds — raise maxIterations")
  }

  private def checksummed(df: DataFrame): (DataFrame, (Long, Long)) = {
    val (d, n, s) = org.apache.spark.sql.GraftInternal.localCheckpointWithSum(
      df.withColumn("__h", xxhash64(df.columns.map(df.col): _*)), "__h")
    (d.drop("__h"), (n, s))
  }
}
