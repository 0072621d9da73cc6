package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.plans.HistogramQuantileAgg

/** Histogram-approximate grouped quantile, the marEx thresholding primitive.
  *
  * Re-expresses the reference's fixed-bin histogram quantile
  * (`marEx/detect.py:2737–2865`: asymmetric bins — one catch-all bin below
  * `lo`, then `nBins` uniform bins of `width` — per-group counts, CDF, and
  * linear interpolation between bin centers) as one grouped aggregate,
  * [[graft.plans.HistogramQuantileAgg]]: partial aggregation collapses each
  * group's input to a count buffer before the shuffle, so the per-group
  * state is at most `nBins + 1` counts, independent of input size.
  *
  * Algorithm (deterministic, pure arithmetic — bit-identical across engines,
  * which the DuckDB-oracle gate relies on):
  *   bin(v)    = 0 if v < lo else min(floor((v-lo)/width)+1, nBins);
  *               none for a null or NaN v (detect.py:2704–2732 masks NaN)
  *   center(b) = lo + (b-0.5)*width for b >= 1; center(0) = lo
  *   b*        = first bin (ascending) whose cdf >= q, cdf = cum_count/total
  *   result    = c_prev + (q - cdf_prev)/(cdf* - cdf_prev) * (center(b*) - c_prev)
  * where (cdf_prev, c_prev) come from the previous *present* bin, or (0, lo)
  * when b* is the first present bin. If b* = 0 the result is `lo` (all mass
  * below range), mirroring the reference's clamp (detect.py:2839–2864).
  * A group with no counted sample emits no row.
  */
object HistogramQuantile {

  /** The histogram bin of `value`; null for a null or NaN value. */
  def binCol(value: Column, lo: Double, width: Double, nBins: Int): Column =
    when(value.isNull || isnan(value), lit(null).cast("int"))
      .when(value < lo, lit(0))
      .otherwise(least(floor((value - lo) / width) + 1, lit(nBins.toLong)).cast("int"))

  /** Per-group approximate quantile.
    *
    * @param df        input
    * @param groupCols grouping key columns
    * @param valueCol  numeric column to take the quantile of
    * @param q         quantile in (0,1)
    * @param lo        lower edge of the uniform bin range
    * @param width     bin width
    * @param nBins     number of uniform bins (values above lo+nBins*width clamp
    *                  into the last bin)
    * @param out       name of the output quantile column
    */
  def quantile(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      q: Double,
      lo: Double,
      width: Double,
      nBins: Int,
      out: String = "approx_quantile"): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(HistogramQuantileAgg.histogramQuantile(col(valueCol), q, lo, width, nBins).as(out))
      .filter(col(out).isNotNull)
}
