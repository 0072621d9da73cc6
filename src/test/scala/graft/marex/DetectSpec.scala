package graft.marex

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.HistogramQuantile

/** Statistical end-to-end assertions in the style of the reference conftest
  * (assert_percentile_frequency ≈5 % flagged at the 95th percentile with
  * binomial tolerance, conftest.py:168–232; ±10 % reasonable bounds). */
class DetectSpec extends SparkSpec {

  private lazy val sst = SyntheticData.sstGridded(spark, nDays = 365 * 4, ny = 8, nx = 16).cache()

  test("DetectConfig rejects a bad methodPercentile eagerly") {
    val e = intercept[ConfigurationError](
      DetectConfig(methodPercentile = "Exact"))
    assert(e.getMessage.contains("method_percentile"))
    DetectConfig(methodPercentile = "approximate") // valid spellings pass
  }

  test("fixed-baseline anomaly has near-zero per-pixel mean") {
    val anom = Detect.fixedBaselineAnomaly(sst)
    val worst = anom.groupBy("y", "x").agg(abs(avg("anomaly")).as("m"))
      .agg(max("m")).head().getDouble(0)
    assert(worst < 0.2, s"per-pixel anomaly mean too large: $worst")
  }

  test("global extreme flags ~5% at the 95th percentile") {
    val anom = Detect.fixedBaselineAnomaly(sst)
    val thr = Detect.globalThreshold(anom, 0.95)
    val ext = Detect.applyThreshold(anom, thr)
    val frac = ext.agg(avg(col("extreme").cast("double"))).head().getDouble(0)
    assert(frac > 0.03 && frac < 0.07, s"flagged fraction $frac outside [3%,7%]")
  }

  test("histogram threshold agrees with exact within precision-scaled tolerance") {
    val anom = Detect.fixedBaselineAnomaly(sst)
    val exact = Detect.globalThreshold(anom, 0.95, exact = true)
      .withColumnRenamed("threshold", "t_exact")
    val approx = Detect.globalThreshold(anom, 0.95, exact = false,
      precision = 0.05, maxAnomaly = 5.0)
      .withColumnRenamed("threshold", "t_approx")
    val worst = exact.join(approx, Seq("y", "x"))
      .agg(max(abs(col("t_exact") - col("t_approx")))).head().getDouble(0)
    assert(worst <= 0.15, s"histogram vs exact threshold differ by $worst")
  }

  test("hobday thresholds cover every observed doy and flag ~5%") {
    val anom = Detect.fixedBaselineAnomaly(sst)
    val thr = Detect.hobdayThreshold(anom, 0.95, windowDays = 11).localCheckpoint()
    val nDoys = thr.select("doy").distinct().count()
    assert(nDoys >= 365, s"expected ≥365 doys, got $nDoys")
    val ext = Detect.applyThreshold(anom, thr)
    val frac = ext.agg(avg(col("extreme").cast("double"))).head().getDouble(0)
    assert(frac > 0.03 && frac < 0.08, s"hobday flagged fraction $frac")
  }

  /** Test reference for [[Detect.hobdayThreshold]]: every anomaly row fanned
    * out to each (pixel, doy) whose pooled window it feeds — ±h circular
    * days, then the (2w+1)² spatial neighbourhood, x periodic over `nx`. */
  private def fanOut(anom: DataFrame, h: Int, w: Int, nx: Int): DataFrame =
    anom
      .withColumn("doy", explode(transform(sequence(lit(-h), lit(h)),
        d => Detect.circDoy(dayofyear(col("time")), d))))
      .withColumn("dy", explode(sequence(lit(-w), lit(w))))
      .withColumn("dx", explode(sequence(lit(-w), lit(w))))
      .select((col("y") + col("dy")).as("y"), pmod(col("x") + col("dx"), lit(nx)).as("x"),
        col("doy"), col("anomaly"))

  test("hobday kernel path equals the fan-out formulation") {
    val anom = Detect.fixedBaselineAnomaly(sst).localCheckpoint()
    // pooled on two rows of the grid: the wrap and both out-of-grid rows
    // (y = −1, 2) are exercised, at a fraction of the fan-out's cost
    for ((w, in) <- Seq((0, anom), (1, anom.filter(col("y") < 2)))) {
      val fan = fanOut(in, 5, w, 16).groupBy("y", "x", "doy")
        .agg(expr("percentile(anomaly, 0.95)").as("t_fan"))
      val ker = Detect.hobdayThreshold(in, 0.95, windowDays = 11,
        spatialWindow = w, nxWrap = Some(16)).withColumnRenamed("threshold", "t_ker")
      val j = fan.join(ker, Seq("y", "x", "doy"), "full").localCheckpoint()
      assert(j.filter(col("t_fan").isNull || col("t_ker").isNull).count() == 0,
        s"w=$w: key sets must be identical")
      val worst = j.agg(max(abs(col("t_fan") - col("t_ker")))).head().getDouble(0)
      assert(worst < 1e-9, s"w=$w: kernel vs fan-out differ by $worst")
    }
  }

  test("histogram hobday kernel is bit-identical to per-window histogram quantiles") {
    import spark.implicits._
    val (precision, maxAnomaly) = (0.05, 5.0)
    val nBins = math.ceil(maxAnomaly / precision).toInt
    val anom = Detect.fixedBaselineAnomaly(sst)
      // null and NaN samples count toward no bin
      .withColumn("anomaly", when(dayofyear(col("time")) === 60, lit(null).cast("double"))
        .when(dayofyear(col("time")) === 61, lit(Double.NaN)).otherwise(col("anomaly")))
      .localCheckpoint()
    // a pixel whose only samples are NaN: none of its windows has a sample
    val nanPixel = Seq((java.sql.Timestamp.valueOf("2001-06-01 00:00:00"), 100, 0, Double.NaN))
      .toDF("time", "y", "x", "anomaly")
    for ((w, in) <- Seq((0, anom), (1, anom.filter(col("y") < 2)))) {
      val withNan = in.select("time", "y", "x", "anomaly").unionByName(nanPixel)
      def bits(df: DataFrame): Map[(Int, Int, Int), Long] = df.collect().map(r =>
        (r.getAs[Number]("y").intValue, r.getAs[Number]("x").intValue, r.getAs[Number]("doy").intValue) ->
          java.lang.Double.doubleToLongBits(r.getAs[Double]("threshold"))).toMap
      val ref = bits(HistogramQuantile.quantile(fanOut(withNan, 5, w, 16), Seq("y", "x", "doy"),
        "anomaly", 0.95, 0.0, precision, nBins, out = "threshold"))
      val ker = bits(Detect.hobdayThreshold(withNan, 0.95, windowDays = 11, exact = false,
        precision = precision, maxAnomaly = maxAnomaly, spatialWindow = w, nxWrap = Some(16)))
      assert(ker.keySet == ref.keySet, s"w=$w: key sets differ")
      assert(!ker.keys.exists(_._1 >= 99), s"w=$w: the NaN-only pixel emitted rows")
      val diff = ker.filter { case (k, v) => ref(k) != v }
      assert(diff.isEmpty, s"w=$w: ${diff.size} thresholds not bit-identical")
    }
  }

  test("hobday spatial pooling smooths thresholds toward neighbors") {
    val anom = Detect.fixedBaselineAnomaly(sst).localCheckpoint()
    val plain = Detect.hobdayThreshold(anom, 0.95, windowDays = 11)
      .withColumnRenamed("threshold", "t0").localCheckpoint()
    val pooled = Detect.hobdayThreshold(anom, 0.95, windowDays = 11,
      spatialWindow = 2, nxWrap = Some(16))
      .withColumnRenamed("threshold", "t1")
    // pooled thresholds exist for the same keys and have smaller spatial
    // variance (they mix 25 pixels' samples)
    val j = plain.join(pooled, Seq("y", "x", "doy")).localCheckpoint()
    assert(j.count() == plain.count())
    val Seq(v0, v1) = j.agg(variance("t0"), variance("t1")).head().toSeq.map(_.asInstanceOf[Double])
    assert(v1 < v0, s"pooled variance $v1 should be < unpooled $v0")
  }

  test("sample sufficiency formula matches the reference rule") {
    assert(math.abs(Detect.sampleSufficiency(40, 11, 2, 0.95) - 40.0 * 11 * 25 * 0.05) < 1e-9)
    assert(Detect.sampleSufficiency(2, 11, 0, 0.95) < 50) // would warn
  }

  test("detrend_harmonic removes an injected linear trend") {
    val trended = SyntheticData.sstGridded(spark, nDays = 365 * 4, ny = 4, nx = 8,
      trendPerYear = 2.0) // strong trend
    val anom = Detect.detrendHarmonicAnomaly(trended)
    // regression slope of anomaly vs decimal year should be ~0
    val withT = anom.withColumn("t", Detect.decimalYear(col("time")))
    val slope = withT.groupBy("y", "x")
      .agg((covar_pop("t", "anomaly") / var_pop("t")).as("slope"))
      .agg(max(abs(col("slope")))).head().getDouble(0)
    assert(slope < 0.05, s"residual trend $slope °/yr after detrending")
  }

  test("shifting baseline trims the first window years") {
    val anom = Detect.shiftingBaselineAnomaly(sst, window = 2, smoothDays = 21)
    val minYear = anom.agg(min(year(col("time")))).head().getInt(0)
    assert(minYear == 2002, s"expected first kept year 2002, got $minYear")
    val n = anom.count()
    assert(n > 0)
  }

  test("std normalisation yields unit-scale anomalies") {
    val anom = Detect.fixedBaselineAnomaly(sst)
    val stn = Detect.stdNormalise(anom)
    val sd = stn.agg(stddev_pop("anomaly_stn")).head().getDouble(0)
    assert(sd > 0.5 && sd < 2.0, s"normalised std $sd not ~1")
  }

  test("validation rejects NaN inside mask, passes clean data") {
    import spark.implicits._
    val mask = SyntheticData.geometry(spark, 8, 16).select("y", "x", "valid")
    Detect.validate(sst, mask) // clean: must not throw
    val dirty = sst.limit(10)
      .withColumn("value", when(col("x") === 1, lit(Double.NaN)).otherwise(col("value")))
    intercept[DataValidationError] {
      Detect.validate(dirty, mask)
    }
  }

  test("detect run metadata JSON carries method, params and steps (detect.py:730-783)") {
    val p = java.nio.file.Files.createTempFile("graft_detect_meta", ".json").toString
    Detect.writeRunMetadata(DetectConfig(methodAnomaly = "shifting_baseline",
      methodExtreme = "hobday_extreme", thresholdPercentile = 90,
      windowYearBaseline = 10, smoothDaysBaseline = 31, windowDaysHobday = 11), p)
    val s = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)))
    assert(s.contains("\"method_anomaly\": \"shifting_baseline\""))
    assert(s.contains("\"window_year_baseline\": 10"))
    assert(s.contains("\"window_days_hobday\": 11"))
    assert(s.contains("Rolling climatology using 10 years"))
    assert(s.contains("Day-of-year thresholds with 11 day window"))
    // method-specific block switches with the method (detect.py:752-779)
    val p2 = java.nio.file.Files.createTempFile("graft_detect_meta2", ".json").toString
    Detect.writeRunMetadata(DetectConfig(methodAnomaly = "detrend_harmonic",
      detrendOrders = Seq(1, 2)), p2)
    val s2 = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p2)))
    assert(s2.contains("\"detrend_orders\": [1, 2]"))
    assert(!s2.contains("window_year_baseline"))
    // both parse as JSON (driver-side readers use json.load)
    assert(s.trim.startsWith("{") && s.trim.endsWith("}"))
  }

  test("decimal year handles leap years (reference test_detect_helpers.py:46-72)") {
    import spark.implicits._
    val df = Seq(
      java.sql.Timestamp.valueOf("2000-01-01 00:00:00"), // leap year start
      java.sql.Timestamp.valueOf("2000-12-31 00:00:00"),
      java.sql.Timestamp.valueOf("2001-01-01 00:00:00")
    ).toDF("time")
    val dy = df.select(Detect.decimalYear(col("time"))).collect().map(_.getDouble(0))
    assert(dy(0) == 2000.0)
    assert(math.abs(dy(1) - (2000.0 + 365.0 / 366.0)) < 1e-9)
    assert(dy(2) == 2001.0)
  }
}
