package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Tables

/** Mirrors the reference's exact-vs-approx agreement test
  * (tests/test_detect_helpers.py:524–600): the histogram quantile must land
  * within one bin width of the exact quantile. */
class HistogramQuantileSpec extends SparkSpec {

  test("histogram quantile tracks exact quantile within bin resolution") {
    // sf0.01 gives ~80 samples/brand; with sparse groups the interpolation
    // anchor is the previous *present* bin, so the bound is a few widths,
    // mirroring the reference's precision-tied tolerance.
    val part = Tables.load(spark, "/root/testdata/sf0.01", "part")
    val width = 25.0
    val approx = HistogramQuantile.quantile(
      part, Seq("p_brand"), "p_retailprice", 0.95, 0.0, width, 200, out = "approx")
    val exact = part.groupBy("p_brand")
      .agg(expr("percentile(p_retailprice, 0.95)").as("exact"))
    val errs = approx.join(exact, "p_brand")
      .select(abs(col("approx") - col("exact")).as("err"))
      .collect().map(_.getDouble(0))
    assert(errs.nonEmpty)
    errs.foreach(e => assert(e <= 3 * width, s"approx quantile off by $e > ${3 * width}"))
  }

  test("quantile of uniform bin content interpolates inside the range") {
    import spark.implicits._
    val df = (1 to 1000).map(i => ("g", i.toDouble)).toDF("g", "v")
    val r = HistogramQuantile.quantile(df, Seq("g"), "v", 0.5, 0.0, 100.0, 20, out = "q")
      .collect().head.getAs[Double]("q")
    assert(r > 400 && r < 600, s"median of 1..1000 ≈ 500, got $r")
  }

  test("all mass below range clamps to lo") {
    import spark.implicits._
    val df = Seq(("g", -5.0), ("g", -3.0)).toDF("g", "v")
    val r = HistogramQuantile.quantile(df, Seq("g"), "v", 0.9, 0.0, 1.0, 10, out = "q")
      .collect().head.getAs[Double]("q")
    assert(r == 0.0)
  }

  test("aggregate CDF scan is bit-identical to the window-walk formulation") {
    // Pins the shared CDF walk bit-for-bit to the Exchange+Sort+Window CDF
    // walk it replaced on randomized per-(group, bin) counts (seeded), and
    // the aggregate on the value-form path over a real table.
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(11)
    val rows = for {
      g <- 0 until 40
      bin <- 0 to 60
      if rnd.nextDouble() < 0.4 // sparse: exercise absent bins / prev-present
    } yield (s"g$g", bin, (rnd.nextInt(50) + 1).toLong)
    import spark.implicits._
    val binned = rows.toDF("g", "bin", "cnt")
    def asMap(df: DataFrame): Map[String, Double] =
      df.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // reference: the pre-r11 window formulation, verbatim
    def windowWalk(binned: DataFrame, q: Double, lo: Double, width: Double): Map[String, Double] = {
      val wOrd = Window.partitionBy(col("g")).orderBy(col("bin"))
      val wAll = Window.partitionBy(col("g"))
      def center(b: org.apache.spark.sql.Column) =
        when(b >= 1, lit(lo) + (b.cast("double") - lit(0.5)) * lit(width)).otherwise(lit(lo))
      asMap(binned
        .withColumn("cum", sum("cnt").over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("tot", sum("cnt").over(wAll))
        .withColumn("cdf", col("cum").cast("double") / col("tot").cast("double"))
        .withColumn("prev_cdf", lag(col("cdf"), 1).over(wOrd))
        .withColumn("prev_bin", lag(col("bin"), 1).over(wOrd))
        .filter(col("cdf") >= q && (col("prev_cdf").isNull || col("prev_cdf") < q))
        .withColumn("cdf_prev", coalesce(col("prev_cdf"), lit(0.0)))
        .withColumn("c_prev", when(col("prev_bin").isNull, lit(lo)).otherwise(center(col("prev_bin"))))
        .withColumn("v", when(col("bin") === 0, lit(lo)).otherwise(
          col("c_prev") + (lit(q) - col("cdf_prev")) / (col("cdf") - col("cdf_prev")) *
            (center(col("bin")) - col("c_prev"))))
        .select("g", "v"))
    }
    def assertBitIdentical(fast: Map[String, Double], slow: Map[String, Double]): Unit = {
      assert(fast.keySet == slow.keySet, s"group sets differ")
      fast.foreach { case (g, v) =>
        assert(java.lang.Double.doubleToLongBits(v) ==
          java.lang.Double.doubleToLongBits(slow(g)),
          s"group $g: scan=$v window=${slow(g)} not bit-identical")
      }
    }

    // the shared CDF walk over each group's count histogram
    def cdfWalk(binned: DataFrame, q: Double, lo: Double, width: Double): Map[String, Double] =
      binned.collect().groupBy(_.getString(0)).map { case (g, rs) =>
        val counts = new Array[Long](rs.map(_.getInt(1)).max + 1)
        rs.foreach(r => counts(r.getInt(1)) += r.getLong(2))
        g -> graft.plans.HistogramQuantileAgg.cdfWalk(counts, counts.sum, q, lo, width)
      }

    val q = 0.9; val lo = 0.0; val width = 0.25
    assertBitIdentical(cdfWalk(binned, q, lo, width), windowWalk(binned, q, lo, width))

    // value form over `part`: raw prices binned inside the aggregate
    val part = Tables.load(spark, sfDir, "part")
      .select(col("p_brand").as("g"), col("p_retailprice"))
    val partBinned = part
      .groupBy(col("g"), HistogramQuantile.binCol(col("p_retailprice"), 0.0, 25.0, 200).as("bin"))
      .agg(count(lit(1)).as("cnt"))
    assertBitIdentical(
      asMap(HistogramQuantile.quantile(part, Seq("g"), "p_retailprice", 0.95, 0.0, 25.0, 200, "v")),
      windowWalk(partBinned, 0.95, 0.0, 25.0))
  }

  test("null and NaN samples count toward no bin, in every entry point") {
    import spark.implicits._
    // reference NaN mask (detect.py:2704–2732): {0.5, 0.5, null×3} is the
    // sample {0.5, 0.5}; an all-NaN group has no sample at all
    val df = Seq[(String, Option[Double])](
      ("mixed", Some(0.5)), ("mixed", Some(0.5)), ("mixed", None), ("mixed", None), ("mixed", None),
      ("nan", Some(Double.NaN)), ("nan", Some(Double.NaN)),
      ("nulls", None)).toDF("g", "v")
    val (q, lo, width, nBins) = (0.9, 0.0, 1.0, 10)
    def asMap(df: DataFrame): Map[String, Option[Double]] =
      df.collect().map(r => r.getString(0) -> Option(r.get(1)).map(_.asInstanceOf[Double])).toMap
    val expected = Map("mixed" -> Some(0.45))
    val empty = Map("nan" -> None, "nulls" -> None)

    assert(asMap(HistogramQuantile.quantile(df, Seq("g"), "v", q, lo, width, nBins)) == expected)
    val viaCol = df.groupBy("g").agg(
      graft.plans.HistogramQuantileAgg.histogramQuantile(col("v"), q, lo, width, nBins))
    assert(asMap(viaCol) == expected ++ empty)
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "hist_quantile", graft.plans.GraftExtensions.histQuantileBuilder, "scala_udf")
    df.createOrReplaceTempView("hq_nan")
    val viaSql = spark.sql(s"SELECT g, hist_quantile(v, $q, $lo, $width, $nBins) FROM hq_nan GROUP BY g")
    assert(asMap(viaSql) == expected ++ empty)
  }
}
