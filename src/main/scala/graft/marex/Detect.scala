package graft.marex

import breeze.linalg.{pinv, DenseMatrix}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.HistogramQuantile
import graft.plans.HistogramQuantileAgg

/** Detection stage: standardized anomalies → percentile thresholds → boolean
  * extreme-event field. Re-expresses marEx `detect.py` (D2–D17 in SURVEY.md
  * §2.1) over a long-format field `(time, y, x, value)`.
  *
  * Every operator is a declarative DataFrame program:
  *  - climatologies are `groupBy(y, x, doy)` aggregations — partial
  *    aggregation collapses the time dimension map-side, so the shuffle
  *    carries |pixels|·366 rows regardless of how many years of data;
  *  - anomaly subtraction is an equi-join of the field against a climatology
  *    table that is smaller by a factor of n_years — AQE broadcasts it when
  *    it fits;
  *  - the detrend fit computes the pseudo-inverse of the (tiny, T×k) design
  *    matrix on the driver with Breeze, exactly like the reference does with
  *    numpy (detect.py:2169), then reduces per-pixel coefficients with one
  *    grouped sum — the 100 TB path is one shuffle on (y, x).
  *
  * Day-of-year is 1–366 with circular arithmetic throughout (reference
  * detect.py:1930–1933).
  */
object Detect {

  /** D4: decimal year = year + (dayofyear−1)/days_in_year
    * (detect.py:2031–2058). */
  def decimalYear(time: Column): Column = {
    val y = year(time)
    val leap = (y % 4 === 0 && y % 100 =!= 0) || (y % 400 === 0)
    val days = when(leap, 366.0).otherwise(365.0)
    y.cast("double") + (dayofyear(time).cast("double") - 1.0) / days
  }

  /** Circular day-of-year shift: ((doy − 1 + d) mod 366) + 1. */
  def circDoy(doy: Column, d: Column): Column =
    pmod(doy - 1 + d, lit(366)) + 1

  /** D3: validation — non-finite values inside the valid mask are an error
    * (detect.py:205–279). `mask`: (y, x, valid). */
  def validate(field: DataFrame, mask: DataFrame): Unit = {
    val bad = field.join(mask.filter(col("valid")), Seq("y", "x"))
      .filter(isnan(col("value")) || col("value").isNull)
      .limit(1).count()
    if (bad > 0)
      throw new DataValidationError(
        "non-finite values inside ocean mask",
        "fill or mask NaN/Inf cells before detection",
        Map("first_bad_rows" -> bad.toString))
  }

  // ─── anomaly methods ──────────────────────────────────────────────────────

  /** D10: fixed-baseline anomaly — day-of-year climatology over all years
    * (optionally a reference period), subtracted (detect.py:2299–2397). */
  def fixedBaselineAnomaly(field: DataFrame,
      referencePeriod: Option[(Int, Int)] = None): DataFrame = {
    val base = referencePeriod match {
      case Some((y0, y1)) => field.filter(year(col("time")).between(y0, y1))
      case None => field
    }
    val clim = base
      .groupBy(col("y"), col("x"), dayofyear(col("time")).as("doy"))
      .agg(avg("value").as("clim"))
    field
      .withColumn("doy", dayofyear(col("time")))
      .join(clim, Seq("y", "x", "doy"))
      .withColumn("anomaly", col("value") - col("clim"))
      .drop("doy", "clim")
  }

  /** D7: shifting-baseline rolling climatology — for each (pixel, target
    * year Y, doy), the mean over the same doy across the previous `window`
    * years; each observation fans out to every target year it feeds
    * (detect.py:1511–1688). Returns the climatology table
    * (y, x, target_year, doy, clim). */
  def rollingClimatology(field: DataFrame, window: Int): DataFrame = {
    val minYear = field.agg(min(year(col("time")))).head().getInt(0)
    field
      .select(col("y"), col("x"), year(col("time")).as("yr"),
        dayofyear(col("time")).as("doy"), col("value"))
      .withColumn("target_year",
        explode(sequence(col("yr") + 1, col("yr") + window)))
      .filter(col("target_year") >= minYear + window)
      .groupBy("y", "x", "target_year", "doy")
      .agg(avg("value").as("clim"))
  }

  /** D8+D9: shifting-baseline anomaly — optional 21-day centered smoothing of
    * the raw data first (chunk-friendly order, detect.py:1809–1811), rolling
    * climatology, subtract, and trim the first `window` years. */
  def shiftingBaselineAnomaly(field: DataFrame, window: Int = 15,
      smoothDays: Int = 21): DataFrame = {
    val half = smoothDays / 2
    val w = Window.partitionBy("y", "x").orderBy("time").rowsBetween(-half, half)
    val smoothed = field.withColumn("sval", avg("value").over(w))
      .select(col("time"), col("y"), col("x"), col("sval").as("value"))
    val clim = rollingClimatology(smoothed, window)
      .select(col("y"), col("x"), col("target_year").as("yr"), col("doy"), col("clim"))
    val minYear = field.agg(min(year(col("time")))).head().getInt(0)
    field
      .withColumn("yr", year(col("time")))
      .withColumn("doy", dayofyear(col("time")))
      .filter(col("yr") >= minYear + window)
      .join(clim, Seq("y", "x", "yr", "doy"))
      .select(col("time"), col("y"), col("x"), col("value"),
        (col("value") - col("clim")).as("anomaly"))
  }

  /** D5: detrend-harmonic anomaly — per-pixel OLS removal of polynomial trend
    * + annual/semi-annual harmonics. The T×k design matrix and its
    * pseudo-inverse are built once on the driver (k ≤ 7); per-pixel
    * coefficients are a single grouped sum; the fitted value joins back by
    * time (detect.py:2061–2296). */
  def detrendHarmonicAnomaly(field: DataFrame, orders: Seq[Int] = Seq(1),
      harmonics: Int = 2, zeroMean: Boolean = true): DataFrame = {
    val spark = field.sparkSession
    import spark.implicits._

    val times = field.select(col("time")).distinct().orderBy("time")
      .collect().map(_.getTimestamp(0))
    require(times.nonEmpty, "empty field")
    val dy = times.map { t =>
      val c = java.util.Calendar.getInstance(java.util.TimeZone.getTimeZone("UTC"))
      c.setTime(t)
      val yr = c.get(java.util.Calendar.YEAR)
      val doy = c.get(java.util.Calendar.DAY_OF_YEAR)
      val leap = (yr % 4 == 0 && yr % 100 != 0) || yr % 400 == 0
      yr + (doy - 1.0) / (if (leap) 366.0 else 365.0)
    }
    val t0 = dy.head
    // columns: 1, (t-t0)^p ..., sin/cos(2π f (t-t0)) for f = 1..harmonics
    val k = 1 + orders.size + 2 * harmonics
    val x = DenseMatrix.zeros[Double](times.length, k)
    for (i <- times.indices) {
      val t = dy(i) - t0
      x(i, 0) = 1.0
      orders.zipWithIndex.foreach { case (p, j) => x(i, 1 + j) = math.pow(t, p) }
      (1 to harmonics).foreach { f =>
        x(i, 1 + orders.size + 2 * (f - 1)) = math.sin(2 * math.Pi * f * t)
        x(i, 1 + orders.size + 2 * (f - 1) + 1) = math.cos(2 * math.Pi * f * t)
      }
    }
    val pinvX = pinv(x) // k × T

    // (time, pinv_0..pinv_{k-1}, x_0..x_{k-1}) lookup — T rows, broadcastable.
    val lookup = times.indices.map { i =>
      (times(i), (0 until k).map(j => pinvX(j, i)).toArray,
        (0 until k).map(j => x(i, j)).toArray)
    }.toDF("time", "pv", "xv")

    val joined = field.join(broadcast(lookup), Seq("time"))
    val coefAggs = (0 until k).map(j =>
      sum(col("value") * element_at(col("pv"), j + 1)).as(s"c$j"))
    val coefs = joined.groupBy("y", "x").agg(coefAggs.head, coefAggs.tail: _*)

    val fitted = (0 until k).map(j =>
      element_at(col("xv"), j + 1) * col(s"c$j")).reduce(_ + _)
    val withAnom = joined.join(coefs, Seq("y", "x"))
      .withColumn("anomaly_raw", col("value") - fitted)
      .select(col("time"), col("y"), col("x"), col("value"), col("anomaly_raw"))
    if (!zeroMean) withAnom.withColumnRenamed("anomaly_raw", "anomaly")
    else {
      val m = Window.partitionBy("y", "x")
      withAnom
        .withColumn("anomaly", col("anomaly_raw") - avg("anomaly_raw").over(m))
        .drop("anomaly_raw")
    }
  }

  /** D11: detrend (polynomial only) then fixed-baseline on the residual
    * (detect.py:2400–2462). */
  def detrendFixedBaselineAnomaly(field: DataFrame, orders: Seq[Int] = Seq(1)): DataFrame = {
    val detrended = detrendHarmonicAnomaly(field, orders, harmonics = 0, zeroMean = true)
      .select(col("time"), col("y"), col("x"), col("anomaly").as("value"))
    fixedBaselineAnomaly(detrended)
      .select(col("time"), col("y"), col("x"), col("value"), col("anomaly"))
  }

  /** D6: STD normalisation — per-(pixel, doy) std, 30-day circular rolling
    * RMS, divide (detect.py:2257–2293). */
  def stdNormalise(anom: DataFrame, rollDays: Int = 30): DataFrame = {
    val stdDoy = anom
      .groupBy(col("y"), col("x"), dayofyear(col("time")).as("doy"))
      .agg(stddev_pop("anomaly").as("sd"))
    // circular rolling RMS via offset fan-out (union of shifted copies ≙
    // wrap-padded rolling, detect.py:2271): offsets −15..14 for a 30-day
    // window, matching the reference's even-window alignment.
    val half = rollDays / 2
    val offsets = sequence(lit(-half), lit(half - 1))
    val pooled = stdDoy
      .withColumn("d", explode(offsets))
      .withColumn("target_doy", circDoy(col("doy"), col("d")))
      .groupBy(col("y"), col("x"), col("target_doy").as("doy"))
      .agg(sqrt(avg(col("sd") * col("sd"))).as("rms"))
    anom
      .withColumn("doy", dayofyear(col("time")))
      .join(pooled, Seq("y", "x", "doy"))
      .withColumn("anomaly_stn", col("anomaly") / col("rms"))
      .drop("doy", "rms")
  }

  // ─── extreme-event thresholds ─────────────────────────────────────────────

  /** D12: one threshold per pixel over all time — exact percentile or the
    * histogram approximation (detect.py:2873–2923).
    * @return (y, x, threshold) */
  def globalThreshold(anom: DataFrame, q: Double, exact: Boolean = true,
      precision: Double = 0.01, maxAnomaly: Double = 5.0): DataFrame =
    if (exact)
      anom.groupBy("y", "x")
        .agg(expr(s"percentile(anomaly, $q)").as("threshold"))
    else {
      val nBins = math.ceil(maxAnomaly / precision).toInt
      HistogramQuantile.quantile(anom, Seq("y", "x"), "anomaly", q,
        lo = 0.0, width = precision, nBins = nBins, out = "threshold")
    }

  /** D16: sample-sufficiency check — the reference warns when
    * n_years·w_days·w_spatial²·(1−q) < 50 (detect.py:1904–1915).
    * @return estimated tail-sample count (caller decides how to surface). */
  def sampleSufficiency(nYears: Long, windowDays: Int, spatialWindow: Int, q: Double): Double =
    nYears.toDouble * windowDays * math.pow(2 * spatialWindow + 1, 2) * (1 - q)

  /** D14: Hobday thresholds per (pixel, doy): percentile of the values within
    * ±(w−1)/2 days of that doy across all years (detect.py:1858–2023).
    *
    * One shuffle on (y, x); each task then holds one pixel's per-doy samples
    * and evaluates all 366 circular windows locally — the reference's
    * per-chunk execution shape (detect.py:1921–1956 runs nanpercentile per
    * doy-mask inside a chunk kernel). Exact mode sorts each window and
    * interpolates at q·(n−1), as Spark `percentile` does. Approximate mode
    * (D13) keeps the window as a count histogram of
    * [[HistogramQuantile.binCol]] bins and slides it round the year, adding
    * the day that enters and subtracting the day that leaves — integer
    * counts make the subtraction exact, so every window equals its own
    * histogram — then evaluates it with [[HistogramQuantileAgg.cdfWalk]].
    * A (pixel, doy) row is emitted when its window holds at least one
    * sample: a non-null value, and in approximate mode a non-NaN one.
    *
    * @param spatialWindow D15's spatial pooling half-width: each pixel's
    *        sample additionally includes its (2w+1)² spatial neighbors'
    *        values (5×5 in the reference, detect.py:2652–2668), with
    *        periodic longitude when `nxWrap` is given. Each sample is
    *        fanned out to the pixels it feeds before the shuffle, so pooled
    *        windows are exactly the reference's pooled histograms
    *        (detect.py:2494–2500); pixels beyond the grid edge keep their rows.
    * @return (y, x, doy, threshold) */
  def hobdayThreshold(anom: DataFrame, q: Double, windowDays: Int = 11,
      exact: Boolean = true, precision: Double = 0.01, maxAnomaly: Double = 5.0,
      spatialWindow: Int = 0, nxWrap: Option[Int] = None): DataFrame = {
    val spark = anom.sparkSession
    import spark.implicits._
    val h = (windowDays - 1) / 2
    val nBins = math.ceil(maxAnomaly / precision).toInt
    def spatialFan(df: DataFrame): DataFrame = {
      val w = spatialWindow
      // ONE Generate over the precomputed (dy, dx) offset pairs: two chained
      // explodes would materialize the intermediate (2w+1)× rows just to
      // explode them again — the fused fan emits the (2w+1)² rows directly.
      val offsets = typedlit((-w to w).flatMap(dy => (-w to w).map(dx => (dy, dx))))
      df.withColumn("o", explode(offsets))
        .withColumn("ty", col("y") + col("o._1"))
        .withColumn("tx", nxWrap match {
          case Some(nx) => pmod(col("x") + col("o._2"), lit(nx))
          case None => col("x") + col("o._2")
        })
        .drop("y", "x", "o")
        .withColumnRenamed("ty", "y")
        .withColumnRenamed("tx", "x")
    }
    // the kernel's sample: the anomaly itself, or (approximate) its bin
    val sample = if (exact) col("anomaly")
      else HistogramQuantile.binCol(col("anomaly"), 0.0, precision, nBins)
    val samples = anom
      .select(col("y"), col("x"), dayofyear(col("time")).as("doy"), sample.cast("double").as("s"))
      .filter(col("s").isNotNull)
    (if (spatialWindow <= 0) samples else spatialFan(samples))
      .select(col("y").cast("int"), col("x").cast("int"), col("doy"), col("s"))
      .as[(Int, Int, Int, Double)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroups { (px: (Int, Int), it: Iterator[(Int, Int, Int, Double)]) =>
        val byDoy = Array.fill(367)(scala.collection.mutable.ArrayBuilder.make[Double])
        it.foreach(r => byDoy(r._3) += r._4)
        val days = byDoy.map(_.result())
        def day(d: Int): Array[Double] = days(((d - 1) % 366 + 366) % 366 + 1)
        val out = scala.collection.mutable.ArrayBuffer[(Int, Int, Int, Double)]()
        if (exact) {
          var d = 1
          while (d <= 366) {
            val n = (-h to h).map(o => day(d + o).length).sum
            if (n > 0) {
              val vals = new Array[Double](n)
              var k = 0
              (-h to h).foreach { o =>
                val a = day(d + o)
                System.arraycopy(a, 0, vals, k, a.length)
                k += a.length
              }
              java.util.Arrays.sort(vals)
              val pos = q * (n - 1)
              val lo = pos.toInt
              val hi = math.min(lo + 1, n - 1)
              out += ((px._1, px._2, d, vals(lo) + (pos - lo) * (vals(hi) - vals(lo))))
            }
            d += 1
          }
        } else {
          val counts = new Array[Long](nBins + 1)
          var total = 0L
          def add(bins: Array[Double], c: Long): Unit = {
            bins.foreach(b => counts(b.toInt) += c)
            total += c * bins.length
          }
          (-h to h).foreach(o => add(day(1 + o), 1L))
          var d = 1
          while (d <= 366) {
            if (total > 0)
              out += ((px._1, px._2, d,
                HistogramQuantileAgg.cdfWalk(counts, total, q, 0.0, precision)))
            add(day(d - h), -1L)
            add(day(d + 1 + h), 1L)
            d += 1
          }
        }
        out.iterator
      }
      .toDF("y", "x", "doy", "threshold")
  }

  /** Threshold comparison: extremes = anomaly ≥ threshold. `thr` is keyed
    * (y, x) or (y, x, doy) (detect.py:2001–2004, 2915). */
  def applyThreshold(anom: DataFrame, thr: DataFrame): DataFrame = {
    val keys = thr.columns.filter(_ != "threshold").toSeq
    val a = if (keys.contains("doy")) anom.withColumn("doy", dayofyear(col("time"))) else anom
    a.join(thr, keys)
      .withColumn("extreme", col("anomaly") >= col("threshold"))
      .drop("doy")
  }

  /** D1: full preprocessing pipeline — anomaly method → threshold method →
    * boolean extremes (+ mask). Returns (anomaly, thresholds, extremes). */
  def preprocess(field: DataFrame, cfg: DetectConfig): (DataFrame, DataFrame, DataFrame) = {
    val anom = cfg.methodAnomaly match {
      case "fixed_baseline" => fixedBaselineAnomaly(field)
      case "shifting_baseline" =>
        shiftingBaselineAnomaly(field, cfg.windowYearBaseline, cfg.smoothDaysBaseline)
      case "detrend_harmonic" =>
        detrendHarmonicAnomaly(field, cfg.detrendOrders, cfg.harmonics)
      case "detrend_fixed_baseline" =>
        detrendFixedBaselineAnomaly(field, cfg.detrendOrders)
    }
    // Persist the anomaly: it feeds both the threshold aggregation and the
    // comparison join — without this the whole anomaly plan executes twice
    // (the reference persists at exactly this point, detect.py:2220).
    val anom2 = (if (cfg.stdNormalise)
      stdNormalise(anom).drop("anomaly").withColumnRenamed("anomaly_stn", "anomaly")
    else anom).localCheckpoint()
    val q = cfg.thresholdPercentile / 100.0
    val exact = cfg.methodPercentile == "exact"
    val thr = (cfg.methodExtreme match {
      case "global_extreme" =>
        globalThreshold(anom2, q, exact, cfg.precision, cfg.maxAnomaly)
      case "hobday_extreme" =>
        hobdayThreshold(anom2, q, cfg.windowDaysHobday, exact, cfg.precision, cfg.maxAnomaly)
      // Persist the threshold table too (bounded: |pixels|×366 rows): it is
      // consumed by the comparison join AND returned to the caller — the
      // reference persists both at the same point (detect.py:679
      // persist(extremes, thresholds)); without this the threshold
      // plan re-executes per consumer.
    }).localCheckpoint()
    (anom2, thr, applyThreshold(anom2, thr))
  }

  /** Human-readable preprocessing-step descriptions — the reference's
    * `_get_preprocessing_steps` (detect.py:844–890), stamped into the run
    * metadata so a downstream reader can tell how a field was produced. */
  def preprocessingSteps(cfg: DetectConfig): Seq[String] = {
    val anomaly = cfg.methodAnomaly match {
      case "detrend_harmonic" =>
        Seq(s"Removed polynomial trend orders=${cfg.detrendOrders.mkString("[", ", ", "]")} & seasonal cycle") ++
          (if (cfg.stdNormalise) Seq("Normalised by 30-day rolling STD") else Nil)
      case "shifting_baseline" =>
        Seq(s"Rolling climatology using ${cfg.windowYearBaseline} years",
          s"Smoothed with ${cfg.smoothDaysBaseline}-day window")
      case "fixed_baseline" =>
        Seq("Daily climatology computed from full time series")
      case "detrend_fixed_baseline" =>
        Seq(s"Removed polynomial trend orders=${cfg.detrendOrders.mkString("[", ", ", "]")}",
          "Daily climatology computed from detrended data")
    }
    val extreme = cfg.methodExtreme match {
      case "global_extreme" => Seq("Global percentile threshold applied to all days")
      case "hobday_extreme" =>
        Seq(s"Day-of-year thresholds with ${cfg.windowDaysHobday} day window")
    }
    anomaly ++ extreme
  }

  /** D1 attrs: persist the preprocessing run's method/parameter metadata as
    * JSON next to the outputs — the detect-side twin of
    * [[Track.writeRunMetadata]], mirroring the reference's dataset attrs
    * (detect.py:730–783: method/threshold keys, method-specific parameter
    * block, percentile/precision trailer, preprocessing_steps). */
  def writeRunMetadata(cfg: DetectConfig, path: String): Unit = {
    def js(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val methodSpecific: Seq[(String, String)] = cfg.methodAnomaly match {
      case "detrend_harmonic" | "detrend_fixed_baseline" =>
        Seq("detrend_orders" -> cfg.detrendOrders.mkString("[", ", ", "]"),
          "std_normalise" -> cfg.stdNormalise.toString)
      case "shifting_baseline" =>
        Seq("window_year_baseline" -> cfg.windowYearBaseline.toString,
          "smooth_days_baseline" -> cfg.smoothDaysBaseline.toString)
      case _ => Nil
    }
    val hobday =
      if (cfg.methodExtreme == "hobday_extreme")
        Seq("window_days_hobday" -> cfg.windowDaysHobday.toString)
      else Nil
    val fields: Seq[(String, String)] =
      Seq("method_anomaly" -> js(cfg.methodAnomaly),
        "method_extreme" -> js(cfg.methodExtreme),
        "threshold_percentile" -> cfg.thresholdPercentile.toString) ++
      methodSpecific ++ hobday ++
      Seq("method_percentile" -> js(cfg.methodPercentile),
        "precision" -> cfg.precision.toString,
        "max_anomaly" -> cfg.maxAnomaly.toString,
        "preprocessing_steps" -> preprocessingSteps(cfg).map(js).mkString("[", ", ", "]"))
    val json = fields.map { case (k, v) => s"${js(k)}: $v" }.mkString("{", ", ", "}")
    java.nio.file.Files.write(java.nio.file.Paths.get(path), json.getBytes)
  }
}
