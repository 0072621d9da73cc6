package graft.core

import org.apache.spark.sql.DataFrame

/** Plan-hygiene helpers for iterative algorithms. */
object Plans {

  /** localCheckpoint + STATS RESET — required in iterative loops, instead
    * of a plain `localCheckpoint`.
    *
    * Spark's (local)checkpoint propagates the origin plan's estimated
    * `Statistics` into the new `LogicalRDD` leaf (to aid AQE). In a loop
    * whose round-k plan joins the round-(k−1) checkpoint with itself, the
    * size-only estimator then compounds: joins MULTIPLY child sizeInBytes
    * and aggregates only rescale it, so the inherited estimate grows like
    * S^(p^k) — its digit count is exponential in the round number. By
    * round ~6 of the batch split/merge at 720×1440×730 the driver ground
    * single-core for 20+ minutes multiplying million-digit BigIntegers
    * (jstack: BigInteger.multiplyToomCook3 under
    * SizeInBytesOnlyStatsPlanVisitor.visitJoin, inside AQE reOptimize).
    *
    * Re-wrapping the checkpointed RDD as a fresh DataFrame drops the
    * inherited estimate (the fresh leaf reports the session default), so
    * every round's estimation is O(plan size). Join strategy is unaffected
    * where it matters: the small sides we broadcast (geometry, per-object
    * tables) carry their own real stats. The Row round-trip is
    * executor-side and linear in the data. */
  def iterCheckpoint(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint()
    ck.sparkSession.createDataFrame(capWidth(ck.rdd, ck.sparkSession), ck.schema)
  }

  /** localCheckpoint with the same partition-growth cap as
    * [[iterCheckpoint]] but WITHOUT the stats reset (for single-shot
    * checkpoints outside estimate-compounding loops). Use on frames built
    * by per-round/per-batch UNIONS: a union's partition count is the sum of
    * its children's, and when one child is the previous round's checkpoint
    * the count grows linearly with the round/batch number — after tens of
    * batches a bounded little frame schedules hundreds of near-empty tasks
    * per downstream stage (observed: a 752-partition stage late in the test
    * suite). The cap is a Dataset-level `coalesce` on the checkpoint, so
    * the capped frame keeps the checkpoint's size estimate (a small frame
    * stays broadcastable) and its rows stay internal rows. */
  def boundedCheckpoint(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint()
    val spark = ck.sparkSession
    if (ck.rdd.getNumPartitions <= 2 * width(spark)) ck
    else ck.coalesce(width(spark))
  }

  /** Session width: the configured parallelism at any scale (cluster cores
    * or the user-sized shuffle width, whichever is larger). */
  private def width(spark: org.apache.spark.sql.SparkSession): Int =
    math.max(spark.sparkContext.defaultParallelism,
      spark.sessionState.conf.numShufflePartitions)

  /** Coalesce (narrow, no shuffle) back to the session width when a
    * checkpointed frame has accumulated more than 2× width partitions —
    * a no-op for every normally-shaped frame; see [[boundedCheckpoint]]. */
  private def capWidth(rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.Row],
      spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
    if (rdd.getNumPartitions > 2 * width(spark)) rdd.coalesce(width(spark))
    else rdd
}
