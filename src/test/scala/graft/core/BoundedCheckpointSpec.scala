package graft.core

import graft.SparkSpec

/** Pins the r12 partition-growth cap: a checkpointed frame that accumulated
  * far more partitions than the session width (the per-batch union pattern
  * in the incremental tracker) is coalesced back, and the data is
  * untouched. */
class BoundedCheckpointSpec extends SparkSpec {

  private def width: Int =
    math.max(spark.sparkContext.defaultParallelism,
      spark.sessionState.conf.numShufflePartitions)

  test("boundedCheckpoint: wide union coalesces to the session width") {
    import spark.implicits._
    val w = width
    // RDD-backed so the one-row children cannot fold into one LocalRelation
    val grown = spark.createDataFrame(
      spark.sparkContext.parallelize((1 to (3 * w)).map(Tuple1(_)), 3 * w))
      .toDF("v")
    assert(grown.rdd.getNumPartitions >= 3 * w)
    val capped = Plans.boundedCheckpoint(grown)
    assert(capped.rdd.getNumPartitions <= w)
    assert(capped.select("v").collect().map(_.getInt(0)).sorted.toSeq ==
      (1 to (3 * w)).toSeq)
    // an input with real stats keeps them through the cap, so a small
    // capped frame stays broadcastable (against the threshold's default:
    // other suites may switch broadcasting off in the shared session)
    val ranged = Plans.boundedCheckpoint(spark.range(0, 3 * w, 1, 3 * w).toDF())
    assert(ranged.rdd.getNumPartitions <= w)
    val size = ranged.queryExecution.optimizedPlan.stats.sizeInBytes
    val threshold = org.apache.spark.sql.internal.SQLConf
      .AUTO_BROADCASTJOIN_THRESHOLD.defaultValue.get
    assert(size < threshold, s"capped frame lost its size estimate: $size bytes")
    assert(ranged.collect().map(_.getLong(0)).sorted.toSeq == (0L until 3L * w).toSeq)
  }

  test("boundedCheckpoint: normal-width frame is untouched") {
    import spark.implicits._
    val df = (1 to 100).toDF("v").repartition(width)
    val ck = Plans.boundedCheckpoint(df)
    assert(ck.rdd.getNumPartitions == width)
    assert(ck.count() == 100)
  }

  test("iterCheckpoint: caps accumulated partitions too") {
    import spark.implicits._
    val w = width
    val grown = spark.createDataFrame(
      spark.sparkContext.parallelize((1 to (3 * w)).map(Tuple1(_)), 3 * w))
      .toDF("v")
    val capped = Plans.iterCheckpoint(grown)
    assert(capped.rdd.getNumPartitions <= w)
    assert(capped.count() == 3 * w)
  }
}
