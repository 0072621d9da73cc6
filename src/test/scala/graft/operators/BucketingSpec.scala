package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Proves the exchange elimination: a join of two tables co-bucketed on the
  * join key must plan without any shuffle Exchange; the same join on plain
  * parquet must have one. */
class BucketingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_wh").toString)
    .config("spark.sql.ui.enabled", "false")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Remove a managed table and its on-disk location. `getOrCreate` may hand
    * back a session another suite built, ignoring our temp warehouse.dir — so
    * a stale `spark-warehouse/<name>` from a previous run can shadow the
    * catalog and fail `saveAsTable` with LOCATION_ALREADY_EXISTS. Dropping the
    * table AND deleting the directory makes the suite idempotent from any
    * starting state. */
  private def purgeTable(name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val wh = spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:")
    val loc = java.nio.file.Paths.get(wh, name.toLowerCase)
    if (java.nio.file.Files.exists(loc)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(loc).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("co-bucketed join plans with zero exchanges; plain join shuffles") {
    import spark.implicits._
    val field = (0 until 2000).map(i => (i % 50, i / 50, i.toDouble)).toDF("y", "x", "value")
    val clim = (0 until 50 * 40).map(i => (i % 50, i / 50, 0.5)).toDF("y", "x", "clim")

    // unique-per-run names so concurrent/aborted runs can never collide
    val run = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val fieldTbl = s"field_b_$run"
    val climTbl = s"clim_b_$run"
    Seq(fieldTbl, climTbl).foreach(purgeTable)

    // disable broadcast so the join strategy is sort-merge and the exchange
    // question is meaningful — for this test only: `getOrCreate` may hand
    // back the session other suites share, so the previous value comes back
    val threshold = "spark.sql.autoBroadcastJoinThreshold"
    val before = spark.conf.get(threshold)
    spark.conf.set(threshold, "-1")
    try {
      Bucketing.writeBucketed(field, fieldTbl, 8, Seq("y", "x"))
      Bucketing.writeBucketed(clim, climTbl, 8, Seq("y", "x"))

      val bucketed = Bucketing.bucketedJoin(spark, fieldTbl, climTbl, Seq("y", "x"))
        .withColumn("anomaly", col("value") - col("clim"))
      assert(!Bucketing.hasExchange(bucketed),
        s"bucketed join must not shuffle:\n${bucketed.queryExecution.executedPlan.toString.take(800)}")
      assert(bucketed.count() == 2000)

      val plain = field.join(clim, Seq("y", "x"))
      assert(Bucketing.hasExchange(plain), "plain join should shuffle (sanity)")
    } finally {
      spark.conf.set(threshold, before)
      Seq(fieldTbl, climTbl).foreach(purgeTable)
    }
    assert(spark.conf.get(threshold) == before)
  }
}
