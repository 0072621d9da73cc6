package graft.core

import org.apache.spark.sql.SparkSession

/** The local SparkSession every command-line main runs on. */
object LocalSession {

  /** Worker threads: `SPARK_GRAFT_CPUS`, else the machine's core count. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** local[cpus], UTC, adaptive execution, no UI, and events.parquet's
    * TIMESTAMP(NANOS) read as longs (see [[Tables]]); one shuffle partition
    * per core unless the caller sizes them. */
  def builder(shufflePartitions: Int = cpus): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  def apply(): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
