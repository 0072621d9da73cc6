package graft.plans

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Tables
import graft.operators.HistogramQuantile

class HistogramQuantileAggSpec extends SparkSpec {
  import spark.implicits._

  test("single-pass aggregate equals the relational operator exactly") {
    val part = Tables.load(spark, "/root/testdata/sf0.01", "part")
    val viaAgg = part.groupBy("p_brand")
      .agg(HistogramQuantileAgg.histogramQuantile(
        col("p_retailprice"), 0.95, 0.0, 25.0, 200).as("s"))
    val viaRel = HistogramQuantile.quantile(
      part, Seq("p_brand"), "p_retailprice", 0.95, 0.0, 25.0, 200, out = "r")
    val bad = viaAgg.join(viaRel, "p_brand")
      .filter(col("s") =!= col("r")).count()
    assert(bad == 0, "sketch aggregate diverges from relational histogram quantile")
  }

  test("partial aggregation across many partitions merges buffers correctly") {
    val df = spark.range(0, 10000).repartition(16)
      .select(lit("g").as("g"), (col("id") % 1000).cast("double").as("v"))
    val r = df.groupBy("g")
      .agg(HistogramQuantileAgg.histogramQuantile(col("v"), 0.5, 0.0, 10.0, 100).as("med"))
      .head().getDouble(1)
    assert(r > 400 && r < 600, s"median of 0..999 ≈ 500, got $r")
  }

  test("buffers of different lengths from many partitions merge like one buffer") {
    // 16 contiguous id ranges: each partition's buffer grows only to its own
    // largest bin, so partial buffers differ in length and are sparse per group
    val df = spark.range(0, 16000, 1, 16)
      .select((col("id") % 7).as("g"), (col("id") / 10.0).as("v"))
    def quantiles(in: org.apache.spark.sql.DataFrame): Map[Long, Double] =
      in.groupBy("g")
        .agg(HistogramQuantileAgg.histogramQuantile(col("v"), 0.5, 0.0, 1.0, 2000).as("q"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val merged = quantiles(df)
    val single = quantiles(df.coalesce(1))
    assert(merged.keySet == (0L until 7L).toSet)
    merged.foreach { case (g, v) =>
      assert(java.lang.Double.doubleToLongBits(v) == java.lang.Double.doubleToLongBits(single(g)),
        s"group $g: merged=$v single=${single(g)}")
      assert(math.abs(v - 800.0) <= 1.0, s"median of 0..1599.9 ≈ 800, got $v")
    }
  }

  test("serialisation keeps present bins only and round-trips") {
    val agg = HistogramQuantileAgg(Literal(0), Literal(1L), 0.5, 0.0, 1.0)
    val sparse = Array[Long](0, 3, 0, 0, 0, 0, 0, 0, 0, 7, 0, 0)
    val bytes = agg.serialize(sparse)
    assert(bytes.length == 2 * 12)
    assert(agg.deserialize(bytes).toSeq == sparse.take(10).toSeq)
    assert(agg.deserialize(agg.serialize(Array.emptyLongArray)).isEmpty)
    assert(agg.merge(Array[Long](1, 1), Array[Long](0, 2, 0, 5)).toSeq == Seq(1L, 3L, 0L, 5L))
  }

  test("empty group below range clamps; no rows yields null") {
    val below = Seq(("g", -3.0), ("g", -1.0)).toDF("g", "v")
    val r = below.groupBy("g")
      .agg(HistogramQuantileAgg.histogramQuantile(col("v"), 0.9, 0.0, 1.0, 10).as("q"))
      .head().getDouble(1)
    assert(r == 0.0)
    val empty = Seq[(String, Option[Double])](("nan", Some(Double.NaN)), ("null", None))
      .toDF("g", "v")
    val rn = empty.groupBy("g")
      .agg(HistogramQuantileAgg.histogramQuantile(col("v"), 0.9, 0.0, 1.0, 10).as("q"))
      .collect()
    assert(rn.length == 2 && rn.forall(_.isNullAt(1)))
  }
}
