package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.marex.{GridSpec, SyntheticData, Track, TrackConfig}

/** The marEx pipeline operators run against driver testdata: the `events`
  * table becomes a long-format field (time, y=user_id, x=0, value), so the
  * *actual* Detect/Track operators are exercised by the DuckDB oracle gate —
  * the oracle re-implements the declared algorithm in SQL. The full tracker
  * (raster kernels + driver union-find) is not SQL-expressible and gets the
  * rows-only check.
  */
object MarexQueries extends QueryRegistry {

  val all: Seq[QueryDef] = Seq(

    // ── D10: fixed-baseline anomaly ────────────────────────────────────────
    // Oracle parity requires bit-identical doubles on both engines: the
    // climatology uses the scaled-integer mean (exact) and the anomaly is
    // emitted as a ×10⁶ scaled integer. The library operator
    // (Detect.fixedBaselineAnomaly, plain avg) is covered by DetectSpec;
    // this query runs the same D10 algorithm in its oracle-exact form.
    QueryDef("q50_marex_anomaly",
      (s, d) => {
        val f = Tables.load(s, d, "events").select(
          col("user_id").cast("long").as("y"),
          dayofyear(col("ts")).as("doy0"),
          unix_millis(col("ts")).as("t_ms"), col("value"))
        val clim = f.groupBy("y", "doy0")
          .agg(((sum(round(col("value") * 100.0, 0).cast("long")).cast("double") / 100.0)
            / count(lit(1))).as("clim"))
        f.join(clim, Seq("y", "doy0"))
          .select(col("y"), col("t_ms"),
            round((col("value") - col("clim")) * 1000000.0, 0).cast("long").as("anom_e6"))
      },
      Some("""WITH f AS (SELECT user_id AS y, dayofyear(ts) AS doy0,
                                CAST(epoch_ms(ts) AS BIGINT) AS t_ms, value FROM events),
                   clim AS (SELECT y, doy0,
                                   (CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS DOUBLE) / 100.0)
                                     / count(*) AS clim
                            FROM f GROUP BY 1, 2)
              SELECT CAST(f.y AS BIGINT) AS y, f.t_ms,
                     CAST(round((f.value - clim.clim) * 1000000.0) AS BIGINT) AS anom_e6
              FROM f JOIN clim ON clim.y = f.y AND clim.doy0 = f.doy0"""),
      "Fixed-baseline doy anomaly (marEx D10), oracle-exact form"),

    // ── D12: global extreme threshold + flags ──────────────────────────────
    QueryDef("q51_marex_global_extreme",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val f = Tables.load(s, d, "events").select(
          col("user_id").cast("long").as("y"),
          dayofyear(col("ts")).as("doy0"), col("value"))
        val clim = f.groupBy("y", "doy0")
          .agg(((sum(round(col("value") * 100.0, 0).cast("long")).cast("double") / 100.0)
            / count(lit(1))).as("clim"))
        val anom = f.join(clim, Seq("y", "doy0"))
          .withColumn("anomaly", col("value") - col("clim"))
        val wOrd = Window.partitionBy("y").orderBy("anomaly")
        val wAll = Window.partitionBy("y")
        val ranked = anom
          .withColumn("rn", row_number().over(wOrd))
          .withColumn("n", count(lit(1)).over(wAll))
          .withColumn("pos", lit(0.9) * (col("n") - 1).cast("double") + 1)
        val thr = ranked.groupBy("y")
          .agg(
            max(col("pos") - floor(col("pos"))).as("fr"),
            min(when(col("rn") === floor(col("pos")), col("anomaly"))).as("ak"),
            min(when(col("rn") === floor(col("pos")) + 1, col("anomaly"))).as("ak1"))
          .withColumn("threshold",
            col("ak") + col("fr") * (coalesce(col("ak1"), col("ak")) - col("ak")))
          .select("y", "threshold")
        anom.join(thr, Seq("y"))
          .groupBy("y")
          .agg(
            round(max(col("threshold")) * 10000.0, 0).cast("long").as("thr_e4"),
            count(when(col("anomaly") >= col("threshold"), 1)).as("n_extreme"),
            count(lit(1)).as("n_total"))
      },
      Some("""WITH f AS (SELECT user_id AS y, dayofyear(ts) AS doy0, value FROM events),
                   clim AS (SELECT y, doy0,
                                   (CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS DOUBLE) / 100.0)
                                     / count(*) AS clim
                            FROM f GROUP BY 1, 2),
                   anom AS (SELECT f.y, f.value - clim.clim AS anomaly
                            FROM f JOIN clim ON clim.y = f.y AND clim.doy0 = f.doy0),
                   rk AS (SELECT y, anomaly,
                                 row_number() OVER (PARTITION BY y ORDER BY anomaly) AS rn,
                                 count(*) OVER (PARTITION BY y) AS n
                          FROM anom),
                   p AS (SELECT *, 0.9 * CAST(n - 1 AS DOUBLE) + 1 AS pos FROM rk),
                   g AS (SELECT y,
                                max(pos - floor(pos)) AS fr,
                                min(CASE WHEN rn = CAST(floor(pos) AS BIGINT) THEN anomaly END) AS ak,
                                min(CASE WHEN rn = CAST(floor(pos) AS BIGINT) + 1 THEN anomaly END) AS ak1
                         FROM p GROUP BY 1),
                   thr AS (SELECT y, ak + fr * (coalesce(ak1, ak) - ak) AS threshold FROM g)
              SELECT CAST(anom.y AS BIGINT) AS y,
                     CAST(round(max(thr.threshold) * 10000.0) AS BIGINT) AS thr_e4,
                     count(*) FILTER (WHERE anomaly >= thr.threshold) AS n_extreme,
                     count(*) AS n_total
              FROM anom JOIN thr ON thr.y = anom.y
              GROUP BY anom.y"""),
      "Global extreme threshold + flag counts (marEx D12), bit-identical percentile"),

    // ── D14: Hobday day-of-year thresholds ─────────────────────────────────
    // Bit-identical percentile: tiny (y, doy) groups make the interpolated
    // quantile land on exact decimal boundaries (e.g. x.45625), where
    // Spark's and DuckDB's different interpolation associativity rounds
    // opposite ways. So both sides compute the same explicit formula:
    // deterministic scaled-integer climatology, then a_k + f·(a_{k+1}−a_k)
    // at 1-based pos = 0.9·(n−1)+1 over the ±5-day circular fan-out.
    QueryDef("q52_marex_hobday",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val f = Tables.load(s, d, "events").select(
          col("user_id").cast("long").as("y"),
          dayofyear(col("ts")).as("doy0"), col("value"))
        val clim = f.groupBy("y", "doy0")
          .agg(((sum(round(col("value") * 100.0, 0).cast("long")).cast("double") / 100.0)
            / count(lit(1))).as("clim"))
        val anom = f.join(clim, Seq("y", "doy0"))
          .withColumn("anomaly", col("value") - col("clim"))
        val fan = anom
          .withColumn("dd", explode(sequence(lit(-5), lit(5))))
          .withColumn("doy", pmod(col("doy0") - 1 + col("dd"), lit(366)) + 1)
        val wOrd = Window.partitionBy("y", "doy").orderBy("anomaly")
        val wAll = Window.partitionBy("y", "doy")
        val ranked = fan
          .withColumn("rn", row_number().over(wOrd))
          .withColumn("n", count(lit(1)).over(wAll))
          .withColumn("pos", lit(0.9) * (col("n") - 1).cast("double") + 1)
        ranked.groupBy("y", "doy")
          .agg(
            max(col("pos") - floor(col("pos"))).as("fr"),
            min(when(col("rn") === floor(col("pos")), col("anomaly"))).as("ak"),
            min(when(col("rn") === floor(col("pos")) + 1, col("anomaly"))).as("ak1"))
          .select(col("y"), col("doy").cast("long").as("doy"),
            // scaled-integer output: round(x·10⁴) to *integer* is
            // engine-consistent even on exact .XXXX5 values, where
            // round(x, 4) is not (DuckDB scales by 1e4 in double first,
            // Spark rounds the exact binary expansion)
            round((col("ak") + col("fr") * (coalesce(col("ak1"), col("ak")) - col("ak")))
              * 10000.0, 0).cast("long").as("thr_e4"))
      },
      Some("""WITH f AS (SELECT user_id AS y, dayofyear(ts) AS doy0, value FROM events),
                   clim AS (SELECT y, doy0,
                                   (CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS DOUBLE) / 100.0)
                                     / count(*) AS clim
                            FROM f GROUP BY 1, 2),
                   anom AS (SELECT f.y, f.doy0, f.value - clim.clim AS anomaly
                            FROM f JOIN clim ON clim.y = f.y AND clim.doy0 = f.doy0),
                   fan AS (SELECT y, ((doy0 - 1 + d.dd) % 366 + 366) % 366 + 1 AS doy, anomaly
                           FROM anom CROSS JOIN (SELECT unnest(generate_series(-5, 5)) AS dd) d),
                   rk AS (SELECT y, doy, anomaly,
                                 row_number() OVER (PARTITION BY y, doy ORDER BY anomaly) AS rn,
                                 count(*) OVER (PARTITION BY y, doy) AS n
                          FROM fan),
                   p AS (SELECT *, 0.9 * CAST(n - 1 AS DOUBLE) + 1 AS pos FROM rk),
                   g AS (SELECT y, doy,
                                max(pos - floor(pos)) AS fr,
                                min(CASE WHEN rn = CAST(floor(pos) AS BIGINT) THEN anomaly END) AS ak,
                                min(CASE WHEN rn = CAST(floor(pos) AS BIGINT) + 1 THEN anomaly END) AS ak1
                         FROM p GROUP BY 1, 2)
              SELECT CAST(y AS BIGINT) AS y, CAST(doy AS BIGINT) AS doy,
                     CAST(round((ak + fr * (coalesce(ak1, ak) - ak)) * 10000.0) AS BIGINT) AS thr_e4
              FROM g"""),
      "Hobday thresholds (marEx D14): ±5-day circular fan-out, bit-identical interpolation"),

    // ── D15: hobday HISTOGRAM path + 5-point spatial pooling ───────────────
    // Runs the real operator (Detect.hobdayThreshold exact=false,
    // spatialWindow=1, a per-pixel sliding histogram); the oracle spells the
    // same windows out as a ±5-day circular doy fan-out × 3×3 spatial offset
    // fan-out → per-(y,x,doy) histogram (bin 0 below lo, 500 bins of 0.05)
    // → count-interpolated quantile, the binned-CDF interpolation of q13's
    // gated D13 algorithm with two more keys.
    QueryDef("q61_marex_hobday_hist",
      (s, d) => {
        val f = Tables.load(s, d, "events").select(
          col("user_id").cast("long").as("y"),
          col("ts"), dayofyear(col("ts")).as("doy0"), col("value"))
        val clim = f.groupBy("y", "doy0")
          .agg(((sum(round(col("value") * 100.0, 0).cast("long")).cast("double") / 100.0)
            / count(lit(1))).as("clim"))
        val anom = f.join(clim, Seq("y", "doy0"))
          .select(col("ts").as("time"), col("y"), lit(0L).as("x"),
            (col("value") - col("clim")).as("anomaly"))
        graft.marex.Detect.hobdayThreshold(anom, q = 0.9, windowDays = 11,
          exact = false, precision = 0.05, maxAnomaly = 25.0,
          spatialWindow = 1, nxWrap = None)
          .select(col("y").cast("long"), col("x").cast("long"),
            col("doy").cast("long"),
            round(col("threshold") * 10000.0, 0).cast("long").as("thr_e4"))
      },
      Some("""WITH f AS (SELECT user_id AS y, dayofyear(ts) AS doy0, value FROM events),
                   clim AS (SELECT y, doy0,
                                   (CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS DOUBLE) / 100.0)
                                     / count(*) AS clim
                            FROM f GROUP BY 1, 2),
                   anom AS (SELECT f.y, f.doy0, f.value - clim.clim AS anomaly
                            FROM f JOIN clim ON clim.y = f.y AND clim.doy0 = f.doy0),
                   fan AS (SELECT y + dy.d AS y, CAST(dx.d AS BIGINT) AS x,
                                  ((doy0 - 1 + dd.d) % 366 + 366) % 366 + 1 AS doy,
                                  anomaly
                           FROM anom
                           CROSS JOIN (SELECT unnest(generate_series(-5, 5)) AS d) dd
                           CROSS JOIN (SELECT unnest(generate_series(-1, 1)) AS d) dy
                           CROSS JOIN (SELECT unnest(generate_series(-1, 1)) AS d) dx),
                   binned AS (SELECT y, x, doy,
                                CASE WHEN anomaly < 0.0 THEN 0
                                     ELSE least(CAST(floor(anomaly / 0.05) AS INT) + 1, 500)
                                END AS bin,
                                count(*) AS cnt
                              FROM fan GROUP BY 1, 2, 3, 4),
                   cdf AS (SELECT y, x, doy, bin, cnt,
                                  CAST(sum(cnt) OVER (PARTITION BY y, x, doy ORDER BY bin
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                                    / CAST(sum(cnt) OVER (PARTITION BY y, x, doy) AS DOUBLE) AS cdf,
                                  lag(bin) OVER (PARTITION BY y, x, doy ORDER BY bin) AS prev_bin,
                                  CAST(sum(cnt) OVER (PARTITION BY y, x, doy ORDER BY bin
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS DOUBLE)
                                    / CAST(sum(cnt) OVER (PARTITION BY y, x, doy) AS DOUBLE) AS prev_cdf
                           FROM binned),
                   hit AS (SELECT *,
                                  coalesce(prev_cdf, 0.0) AS cdf_prev,
                                  CASE WHEN prev_bin IS NULL OR prev_bin < 1 THEN 0.0
                                       ELSE (CAST(prev_bin AS DOUBLE) - 0.5) * 0.05 END AS c_prev,
                                  CASE WHEN bin >= 1 THEN (CAST(bin AS DOUBLE) - 0.5) * 0.05
                                       ELSE 0.0 END AS c_cur
                           FROM cdf
                           WHERE cdf >= 0.9 AND (prev_cdf IS NULL OR prev_cdf < 0.9))
              SELECT CAST(y AS BIGINT) AS y, CAST(x AS BIGINT) AS x, CAST(doy AS BIGINT) AS doy,
                     CAST(round(CASE WHEN bin = 0 THEN 0.0
                           ELSE c_prev + (0.9 - cdf_prev) / (cdf - cdf_prev) * (c_cur - c_prev)
                           END * 10000.0) AS BIGINT) AS thr_e4
              FROM hit"""),
      "Hobday histogram-quantile path + 3×3 spatial pooling (marEx D15)"),

    // ── D7/D9: shifting-baseline rolling climatology + trim ────────────────
    // Oracle-exact form (like q50): the synthetic multi-year field maps
    // user_id → (pixel y, year) so one table yields 8 years per pixel; cell
    // values are re-rounded to integer centi-units, so the climatology and
    // anomaly are emitted as EXACT integers (numerator + window count) with
    // zero float-ordering risk. The library operator
    // (Detect.rollingClimatology / shiftingBaselineAnomaly) is covered by
    // DetectSpec; anomaly = anom_num / (100 · n_base).
    QueryDef("q56_marex_shifting",
      (s, d) => {
        val cells = Tables.load(s, d, "events").select(
          (col("user_id") % 25).cast("long").as("y"),
          (expr("user_id DIV 25") % 8 + 2000).cast("long").as("yr"),
          dayofyear(col("ts")).cast("long").as("doy"),
          col("value"))
          .groupBy("y", "yr", "doy")
          .agg(floor(sum(round(col("value") * 100.0, 0).cast("long")).cast("double")
            / count(lit(1)) + 0.5).cast("long").as("v100"))
        val src = cells
          .withColumn("yr_t", explode(sequence(col("yr") + 1, col("yr") + 3)))
        val clim = src.groupBy(col("y"), col("yr_t").as("yr"), col("doy"))
          .agg(sum("v100").as("s"), count(lit(1)).as("n_base"))
        cells.join(clim, Seq("y", "yr", "doy"))
          .filter(col("yr") >= 2003) // D9 trim: first `window` years dropped
          .select(col("y"), col("yr"), col("doy"),
            (col("v100") * col("n_base") - col("s")).as("anom_num"),
            col("n_base"))
      },
      Some("""WITH f AS (SELECT CAST(user_id % 25 AS BIGINT) AS y,
                                CAST((user_id // 25) % 8 + 2000 AS BIGINT) AS yr,
                                CAST(dayofyear(ts) AS BIGINT) AS doy, value
                         FROM events),
                   cells AS (SELECT y, yr, doy,
                               CAST(floor(CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS DOUBLE)
                                 / count(*) + 0.5) AS BIGINT) AS v100
                             FROM f GROUP BY 1, 2, 3),
                   src AS (SELECT y, yr + s.dd AS yr, doy, v100 FROM cells
                           CROSS JOIN (SELECT unnest(generate_series(1, 3)) AS dd) s),
                   clim AS (SELECT y, yr, doy, sum(v100) AS s, count(*) AS n_base
                            FROM src GROUP BY 1, 2, 3)
              SELECT c.y, c.yr, c.doy,
                     CAST(c.v100 * cl.n_base - cl.s AS BIGINT) AS anom_num,
                     CAST(cl.n_base AS BIGINT) AS n_base
              FROM cells c JOIN clim cl USING (y, yr, doy)
              WHERE c.yr >= 2003"""),
      "Shifting-baseline rolling climatology + trim (marEx D7/D9), integer-exact"),

    // ── D5/D11: per-pixel OLS detrend + fixed baseline on residuals ────────
    // Linear fit per pixel in EXACT integer arithmetic: with τ the per-pixel
    // dense time rank and v the centi-scaled cell value,
    //   D = n·Στ² − (Στ)², Sxy = n·Στv − Στ·Σv,
    //   resid·(n·D) = v·n·D − Σv·D − Sxy·(τ·n − Στ)
    // — all BIGINT, so Spark and DuckDB agree bit-for-bit. D11 then removes
    // the per-(pixel, doy) mean of the residuals across years:
    //   d11_num = resid_num·m − Σ_years resid_num, anomaly =
    //   d11_num / (100 · n·D · m). (OLS with intercept ⇒ the zero-mean
    //   re-centering of D5 is an exact no-op.)
    QueryDef("q57_marex_detrend",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val cells = Tables.load(s, d, "events").select(
          (col("user_id") % 25).cast("long").as("y"),
          (expr("user_id DIV 25") % 8 + 2000).cast("long").as("yr"),
          dayofyear(col("ts")).cast("long").as("doy"),
          col("value"))
          .groupBy("y", "yr", "doy")
          .agg(floor(sum(round(col("value") * 100.0, 0).cast("long")).cast("double")
            / count(lit(1)) + 0.5).cast("long").as("v100"))
        val wTau = Window.partitionBy("y").orderBy("yr", "doy")
        val wPx = Window.partitionBy("y")
        val wDoy = Window.partitionBy("y", "doy")
        cells
          .withColumn("tau", row_number().over(wTau).cast("long"))
          .withColumn("n", count(lit(1)).over(wPx))
          .withColumn("st", sum("tau").over(wPx))
          .withColumn("st2", sum(col("tau") * col("tau")).over(wPx))
          .withColumn("sv", sum("v100").over(wPx))
          .withColumn("stv", sum(col("tau") * col("v100")).over(wPx))
          .withColumn("dd", col("n") * col("st2") - col("st") * col("st"))
          .withColumn("sxy", col("n") * col("stv") - col("st") * col("sv"))
          .withColumn("resid_num",
            col("v100") * col("n") * col("dd") - col("sv") * col("dd")
              - col("sxy") * (col("tau") * col("n") - col("st")))
          .withColumn("m", count(lit(1)).over(wDoy))
          .withColumn("sr", sum("resid_num").over(wDoy))
          .select(col("y"), col("yr"), col("doy"),
            (col("resid_num") * col("m") - col("sr")).as("d11_num"),
            col("m"), (col("n") * col("dd")).as("denom"))
      },
      Some("""WITH f AS (SELECT CAST(user_id % 25 AS BIGINT) AS y,
                                CAST((user_id // 25) % 8 + 2000 AS BIGINT) AS yr,
                                CAST(dayofyear(ts) AS BIGINT) AS doy, value
                         FROM events),
                   cells AS (SELECT y, yr, doy,
                               CAST(floor(CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS DOUBLE)
                                 / count(*) + 0.5) AS BIGINT) AS v100
                             FROM f GROUP BY 1, 2, 3),
                   t AS (SELECT y, yr, doy, v100,
                                CAST(row_number() OVER (PARTITION BY y ORDER BY yr, doy) AS BIGINT) AS tau
                         FROM cells),
                   px AS (SELECT *,
                                 count(*) OVER w AS n,
                                 sum(tau) OVER w AS st,
                                 sum(tau * tau) OVER w AS st2,
                                 sum(v100) OVER w AS sv,
                                 sum(tau * v100) OVER w AS stv
                          FROM t WINDOW w AS (PARTITION BY y)),
                   r AS (SELECT y, yr, doy,
                                v100 * n * (n * st2 - st * st)
                                  - sv * (n * st2 - st * st)
                                  - (n * stv - st * sv) * (tau * n - st) AS resid_num,
                                n * (n * st2 - st * st) AS denom
                         FROM px)
              SELECT y, yr, doy,
                     CAST(resid_num * (count(*) OVER wd) - (sum(resid_num) OVER wd) AS BIGINT) AS d11_num,
                     CAST(count(*) OVER wd AS BIGINT) AS m,
                     CAST(denom AS BIGINT) AS denom
              FROM r WINDOW wd AS (PARTITION BY y, doy)"""),
      "Per-pixel OLS detrend + fixed baseline on residuals (marEx D5/D11), integer-exact"),

    // ── D6: per-(pixel, doy) STD of the field across years ─────────────────
    // σ² = sd2_num / (m² · 10⁴) with sd2_num = m·Σv² − (Σv)² — exact
    // integers. The 30-day circular RMS pooling on top of this reuses the
    // same circular-doy fan-out primitive that q52 hash-gates; the division
    // by the pooled RMS is a scalar map.
    QueryDef("q58_marex_stdnorm",
      (s, d) => {
        val cells = Tables.load(s, d, "events").select(
          (col("user_id") % 25).cast("long").as("y"),
          (expr("user_id DIV 25") % 8 + 2000).cast("long").as("yr"),
          dayofyear(col("ts")).cast("long").as("doy"),
          col("value"))
          .groupBy("y", "yr", "doy")
          .agg(floor(sum(round(col("value") * 100.0, 0).cast("long")).cast("double")
            / count(lit(1)) + 0.5).cast("long").as("v100"))
        cells.groupBy("y", "doy")
          .agg(count(lit(1)).as("m"), sum("v100").as("sv"),
            sum(col("v100") * col("v100")).as("sv2"))
          .select(col("y"), col("doy"),
            (col("m") * col("sv2") - col("sv") * col("sv")).as("sd2_num"),
            col("m"))
      },
      Some("""WITH f AS (SELECT CAST(user_id % 25 AS BIGINT) AS y,
                                CAST((user_id // 25) % 8 + 2000 AS BIGINT) AS yr,
                                CAST(dayofyear(ts) AS BIGINT) AS doy, value
                         FROM events),
                   cells AS (SELECT y, yr, doy,
                               CAST(floor(CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS DOUBLE)
                                 / count(*) + 0.5) AS BIGINT) AS v100
                             FROM f GROUP BY 1, 2, 3)
              SELECT y, doy,
                     CAST(count(*) * sum(v100 * v100) - sum(v100) * sum(v100) AS BIGINT) AS sd2_num,
                     CAST(count(*) AS BIGINT) AS m
              FROM cells GROUP BY y, doy"""),
      "Per-(pixel, doy) STD across years (marEx D6), integer-exact"),

    // ── T23: 3-D space-time CCL tracker, recursive-CTE oracle ──────────────
    // Event numbering parity: Spark orders events by (first time, min gid);
    // per-slice labels are assigned in ascending min-flat-cell order and gid
    // offsets are cumulative in time, so min gid over a component is reached
    // at its first timestep and equals the component's min (y·nx+x) anchor
    // there — which is exactly what the oracle ranks by.
    QueryDef("q53_marex_track",
      (s, d) => {
        val s2 = s
        // events → daily 10×15 raster: cell derived from user_id mod 150 so
        // the mapping is stable across scale factors; flagged when the
        // cell's daily max value exceeds 150 (≈10% fill at sf0.01)
        val flags = Tables.load(s2, d, "events")
          .groupBy(to_date(col("ts")).as("day"),
            (pmod(col("user_id"), lit(150)) / 15).cast("int").as("y"),
            pmod(col("user_id"), lit(15)).cast("int").as("x"))
          .agg(max("value").as("mx"))
          .filter(col("mx") > 150)
          .select(col("day").cast("timestamp").as("time"), col("y"), col("x"))
        val spec = GridSpec(ny = 10, nx = 15, periodicX = false)
        val geom = SyntheticData.geometry(s2, 10, 15)
        val res = Track.track(flags, geom, spec,
          TrackConfig(rFill = 0, tFill = 0, areaFilterQuartile = 0.0,
            allowMerging = false, dropSmallestObject = false))
        res.idField.groupBy("event_id")
          .agg(count(lit(1)).as("n_cells"),
            unix_millis(min(col("time"))).as("first_ms"),
            unix_millis(max(col("time"))).as("last_ms"))
          .select(col("event_id").cast("long"), col("n_cells").cast("long"),
            col("first_ms"), col("last_ms"))
      },
      Some("""WITH RECURSIVE
                flags AS (SELECT CAST(ts AS DATE) AS day,
                                 CAST(user_id % 150 // 15 AS BIGINT) AS y,
                                 CAST(user_id % 15 AS BIGINT) AS x
                          FROM events
                          GROUP BY 1, 2, 3 HAVING max(value) > 150),
                cells AS (SELECT day, y, x,
                                 CAST(dense_rank() OVER (ORDER BY day) AS BIGINT) AS t
                          FROM flags),
                keyed AS (SELECT day, y, x, t, t * 150 + y * 15 + x AS k FROM cells),
                ud AS (SELECT a.k AS src, b.k AS dst
                       FROM keyed a JOIN keyed b
                         ON abs(a.t - b.t) <= 1
                        AND abs(a.y - b.y) <= 1 AND abs(a.x - b.x) <= 1
                        AND a.k != b.k),
                reach(a, b) AS (
                  SELECT k, k FROM keyed
                  UNION
                  SELECT r.a, ud.dst FROM reach r JOIN ud ON ud.src = r.b),
                comp AS (SELECT a AS k, min(b) AS c FROM reach GROUP BY a),
                cc AS (SELECT comp.c, keyed.t, keyed.y, keyed.x, keyed.day
                       FROM keyed JOIN comp ON comp.k = keyed.k),
                ev AS (SELECT c, count(*) AS n_cells, min(t) AS t0,
                              min(day) AS first_day, max(day) AS last_day
                       FROM cc GROUP BY c),
                anchor AS (SELECT cc.c, min(cc.y * 15 + cc.x) AS a0
                           FROM cc JOIN ev ON ev.c = cc.c AND cc.t = ev.t0
                           GROUP BY cc.c)
              SELECT CAST(row_number() OVER (ORDER BY ev.t0, anchor.a0) AS BIGINT) AS event_id,
                     CAST(ev.n_cells AS BIGINT) AS n_cells,
                     CAST(epoch_ms(CAST(ev.first_day AS TIMESTAMP)) AS BIGINT) AS first_ms,
                     CAST(epoch_ms(CAST(ev.last_day AS TIMESTAMP)) AS BIGINT) AS last_ms
              FROM ev JOIN anchor ON anchor.c = ev.c"""),
      "3-D space-time CCL tracker (marEx T23) vs recursive-CTE 26-connectivity oracle"),

    // ── Golden-count regression lock vs the reference's own fixture ────────
    // Runs the full merging tracker (morphology → gap fill → filter →
    // sequential split/merge → stitch) on the reference repo's
    // extremes_gridded.zarr and emits its run statistics. The oracle pins
    // the deterministic outputs, which GoldenTrackingSpec asserts lie inside
    // the reference's published tolerance bands
    // (tests/test_gridded_tracking.py:142–145: 516±2 / 258±2 / 20±1 / 13±2).
    QueryDef("q55_marex_golden",
      (s, _) => {
        import s.implicits._
        val dir = "/root/reference/tests/data/extremes_gridded.zarr"
        val (flags, geom, spec) = graft.marex.ReferenceFixtures.loadExtremesGridded(s, dir)
        val res = Track.track(flags, geom, spec,
          TrackConfig(rFill = 4, tFill = 2, areaFilterQuartile = 0.5,
            overlapThreshold = 0.5, allowMerging = true, nnPartitioning = true,
            sequentialSplitMerge = true))
        val st = res.stats
        Seq(
          ("n_objects_prefiltered", st("n_objects_prefiltered")),
          ("n_objects_filtered", st("n_objects_filtered")),
          ("n_events_final", st("n_events_final")),
          ("total_merges", st("total_merges")))
          .toDF("metric", "value")
      },
      Some("""SELECT 'n_objects_prefiltered' AS metric, CAST(516 AS BIGINT) AS value
              UNION ALL SELECT 'n_objects_filtered', CAST(258 AS BIGINT)
              UNION ALL SELECT 'n_events_final', CAST(21 AS BIGINT)
              UNION ALL SELECT 'total_merges', CAST(13 AS BIGINT)"""),
      "Full merging tracker on the reference fixture; golden counts pinned"),

    // ── Golden merge-genealogy lock (extends q55 beyond the count 13) ──────
    // Same sequential merging run as q55; emits the FULL merges genealogy
    // (parent/child ids, parent-aligned overlap areas, track.py:3776–3793)
    // and the per-(time, ID, sibling) merge ledger with final event ids
    // (track.py:3026–3106). The oracle pins every row — the counts bands are
    // covered by q55/GoldenTrackingSpec; this locks the CONTENTS.
    QueryDef("q72_merge_genealogy",
      (s, _) => {
        val dir = "/root/reference/tests/data/extremes_gridded.zarr"
        val (flags, geom, spec) = graft.marex.ReferenceFixtures.loadExtremesGridded(s, dir)
        val res = Track.track(flags, geom, spec,
          TrackConfig(rFill = 4, tFill = 2, areaFilterQuartile = 0.5,
            overlapThreshold = 0.5, allowMerging = true, nnPartitioning = true,
            sequentialSplitMerge = true))
        val mergeRows = res.merges.select(
          lit("merge").as("kind"),
          unix_millis(col("time")).as("t_ms"), col("child_id").as("id"),
          concat_ws("|", col("parent_ids")).as("ids_a"),
          concat_ws("|", col("child_ids")).as("ids_b"),
          concat_ws("|", expr("transform(overlap_areas, a -> cast(a as bigint))")).as("areas"),
          col("n_parents").as("n_a"), col("n_children").as("n_b"))
        val ledgerRows = res.mergeLedger.select(
          lit("ledger").as("kind"),
          unix_millis(col("time")).as("t_ms"), col("event_id").as("id"),
          concat_ws("|", col("sibling_event_ids")).as("ids_a"),
          lit("").as("ids_b"), lit("").as("areas"),
          size(col("sibling_event_ids")).cast("long").as("n_a"),
          lit(0L).as("n_b"))
        mergeRows.unionByName(ledgerRows)
      },
      Some("""SELECT * FROM (VALUES
                ('merge', CAST(1264507200000 AS BIGINT), CAST(397 AS BIGINT), '377|382', '397|517', '971|351', CAST(2 AS BIGINT), CAST(2 AS BIGINT)),
                ('merge', 1264507200000, 399, '379|380', '399|518', '249|524', 2, 2),
                ('merge', 1264593600000, 414, '397|517', '414|519', '886|371', 2, 2),
                ('merge', 1264593600000, 416, '399|518', '416|520', '241|543', 2, 2),
                ('merge', 1264680000000, 432, '414|519', '432|521', '806|485', 2, 2),
                ('merge', 1264680000000, 434, '416|520', '434|522', '280|498', 2, 2),
                ('merge', 1264766400000, 449, '432|521', '449|523', '763|431', 2, 2),
                ('merge', 1264766400000, 450, '434|522', '450|524', '271|491', 2, 2),
                ('merge', 1264852800000, 467, '449|523', '467|525', '759|649', 2, 2),
                ('merge', 1264852800000, 468, '450|524', '468|526', '263|483', 2, 2),
                ('merge', 1264939200000, 485, '467|525', '485|527', '727|696', 2, 2),
                ('merge', 1264939200000, 491, '475|476', '491|528', '422|356', 2, 2),
                ('merge', 1265025600000, 507, '491|528', '507|529', '466|507', 2, 2),
                ('ledger', 1264507200000, 2, '2|15', '', '', 2, 0),
                ('ledger', 1264507200000, 9, '9|11', '', '', 2, 0),
                ('ledger', 1264507200000, 11, '9|11', '', '', 2, 0),
                ('ledger', 1264507200000, 15, '2|15', '', '', 2, 0),
                ('ledger', 1264593600000, 2, '2|15', '', '', 2, 0),
                ('ledger', 1264593600000, 9, '9|11', '', '', 2, 0),
                ('ledger', 1264593600000, 11, '9|11', '', '', 2, 0),
                ('ledger', 1264593600000, 15, '2|15', '', '', 2, 0),
                ('ledger', 1264680000000, 2, '2|15', '', '', 2, 0),
                ('ledger', 1264680000000, 9, '9|11', '', '', 2, 0),
                ('ledger', 1264680000000, 11, '9|11', '', '', 2, 0),
                ('ledger', 1264680000000, 15, '2|15', '', '', 2, 0),
                ('ledger', 1264766400000, 2, '2|15', '', '', 2, 0),
                ('ledger', 1264766400000, 9, '9|11', '', '', 2, 0),
                ('ledger', 1264766400000, 11, '9|11', '', '', 2, 0),
                ('ledger', 1264766400000, 15, '2|15', '', '', 2, 0),
                ('ledger', 1264852800000, 2, '2|15', '', '', 2, 0),
                ('ledger', 1264852800000, 9, '9|11', '', '', 2, 0),
                ('ledger', 1264852800000, 11, '9|11', '', '', 2, 0),
                ('ledger', 1264852800000, 15, '2|15', '', '', 2, 0),
                ('ledger', 1264939200000, 9, '9|11', '', '', 2, 0),
                ('ledger', 1264939200000, 11, '9|11', '', '', 2, 0),
                ('ledger', 1264939200000, 12, '12|20', '', '', 2, 0),
                ('ledger', 1264939200000, 20, '12|20', '', '', 2, 0),
                ('ledger', 1265025600000, 12, '12|20', '', '', 2, 0),
                ('ledger', 1265025600000, 20, '12|20', '', '', 2, 0)
              ) AS t(kind, t_ms, id, ids_a, ids_b, areas, n_a, n_b)"""),
      "Full merge genealogy + sibling ledger on the golden fixture, every row pinned"),

    // ── Unstructured-mesh golden-count lock ────────────────────────────────
    // Runs the unstructured tracker (mesh morphology → gap fill → graph CCL
    // → queue-driven split/merge) on the reference's
    // extremes_unstructured_merging.zarr. Oracle pins the deterministic
    // outputs, which GoldenTrackingSpec asserts lie inside the reference's
    // bands (test_unstructured_tracking.py:257–260: 98±2 / 97±2 / 12±2 /
    // 9±1).
    QueryDef("q60_marex_unstructured",
      (s, _) => {
        import s.implicits._
        val dir = "/root/reference/tests/data/extremes_unstructured_merging.zarr"
        val (flags, mesh) = graft.marex.ReferenceFixtures.loadExtremesUnstructured(s, dir)
        val res = graft.marex.UnstructuredTracker.track(flags, mesh,
          TrackConfig(rFill = 1, tFill = 2, areaFilterAbsolute = Some(5.0),
            overlapThreshold = 0.8, allowMerging = true, nnPartitioning = true))
        val st = res.stats
        Seq(
          ("n_objects_prefiltered", st("n_objects_prefiltered")),
          ("n_objects_filtered", st("n_objects_filtered")),
          ("n_events_final", st("n_events_final")),
          ("total_merges", st("total_merges")))
          .toDF("metric", "value")
      },
      Some("""SELECT 'n_objects_prefiltered' AS metric, CAST(99 AS BIGINT) AS value
              UNION ALL SELECT 'n_objects_filtered', CAST(99 AS BIGINT)
              UNION ALL SELECT 'n_events_final', CAST(10 AS BIGINT)
              UNION ALL SELECT 'total_merges', CAST(9 AS BIGINT)"""),
      "Unstructured tracker on the reference mesh fixture; golden counts pinned"),

    // ── I3/Q01-dual: Zarr write → read round-trip, oracle-checked ──────────
    QueryDef("q54_zarr_roundtrip",
      (s, d) => {
        import graft.sources.ZarrSource
        // events → daily mean per 10×15 cell → zarr sink → zarr scan → agg.
        // The oracle computes the same aggregate straight from events, so a
        // byte-level defect in either the writer or the reader mismatches.
        val cells = Tables.load(s, d, "events")
          .groupBy(
            datediff(to_date(col("ts")), lit("2024-01-01")).cast("int").as("t_idx"),
            (pmod(col("user_id"), lit(150)) / 15).cast("int").as("y"),
            pmod(col("user_id"), lit(15)).cast("int").as("x"))
          .agg((sum(round(col("value") * 100.0, 0).cast("long")).cast("double") / 100.0
            / count(lit(1))).as("value"))
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft_q54_zarr"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
        ZarrSource.write3D(cells, dir, shape = (31, 10, 15), chunks = (8, 10, 15))
        s.read.format("zarr").load(dir)
          .filter(col("t_idx").between(0, 30) && !isnan(col("value")))
          .groupBy(col("y").cast("long").as("y"))
          .agg(count(lit(1)).as("n_cells"),
            round(sum(round(col("value") * 100.0, 0).cast("long")
              .cast("double")) / 100.0, 2).as("sum_val"))
      },
      Some("""WITH cells AS (
                SELECT CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS INT) AS t_idx,
                       CAST(user_id % 150 // 15 AS INT) AS y,
                       CAST(user_id % 15 AS INT) AS x,
                       (CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS DOUBLE) / 100.0)
                         / count(*) AS value
                FROM events GROUP BY 1, 2, 3)
              SELECT CAST(y AS BIGINT) AS y,
                     count(*) AS n_cells,
                     round(CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS sum_val
              FROM cells GROUP BY y"""),
      "Zarr v2 sink + source round-trip (marEx to_zarr/open_zarr, I3)"),

    // ── NetCDF-3 ingest: sink + source round-trip, oracle-checked ──────────
    QueryDef("q59_netcdf_roundtrip",
      (s, d) => {
        import graft.sources.NetCDF3Source
        // same cell construction as q54 but through the classic-NetCDF path:
        // the oracle recomputes the aggregate straight from events, so any
        // byte-level defect in the CDF-1 writer or reader mismatches.
        val cells = Tables.load(s, d, "events")
          .groupBy(
            datediff(to_date(col("ts")), lit("2024-01-01")).cast("int").as("t_idx"),
            (pmod(col("user_id"), lit(150)) / 15).cast("int").as("y"),
            pmod(col("user_id"), lit(15)).cast("int").as("x"))
          .agg((sum(round(col("value") * 100.0, 0).cast("long")).cast("double") / 100.0
            / count(lit(1))).as("value"))
        val path = s"${System.getProperty("java.io.tmpdir")}/graft_q59.nc"
        new java.io.File(path).delete()
        NetCDF3Source.write3D(cells, path, "sst", shape = (31, 10, 15))
        s.read.format("netcdf").option("var", "sst").load(path)
          .filter(col("t_idx").between(0, 30) && !isnan(col("value")))
          .groupBy(col("y").cast("long").as("y"))
          .agg(count(lit(1)).as("n_cells"),
            round(sum(round(col("value") * 100.0, 0).cast("long")
              .cast("double")) / 100.0, 2).as("sum_val"))
      },
      Some("""WITH cells AS (
                SELECT CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS INT) AS t_idx,
                       CAST(user_id % 150 // 15 AS INT) AS y,
                       CAST(user_id % 15 AS INT) AS x,
                       (CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS DOUBLE) / 100.0)
                         / count(*) AS value
                FROM events GROUP BY 1, 2, 3)
              SELECT CAST(y AS BIGINT) AS y,
                     count(*) AS n_cells,
                     round(CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS sum_val
              FROM cells GROUP BY y"""),
      "Classic NetCDF-3 sink + source round-trip (marEx open_dataset/to_netcdf ingest)"),

    // ── NetCDF-4/HDF5 ingest: chunked+shuffle+deflate round-trip ───────────
    QueryDef("q73_netcdf4_roundtrip",
      (s, d) => {
        import graft.sources.NetCDF4Source
        // same cell construction as q54/q59 but through the HDF5 path —
        // chunked + shuffle + deflate, read back via the "netcdf"
        // DataSourceV2 (t_idx pushdown prunes chunks at planning time), so
        // a byte-level defect anywhere in the HDF5 writer, the superblock/
        // object-header/B-tree parsers, the filter pipeline, or the DSv2
        // reader mismatches the oracle, which recomputes from events.
        val cells = Tables.load(s, d, "events")
          .groupBy(
            datediff(to_date(col("ts")), lit("2024-01-01")).cast("int").as("t_idx"),
            (pmod(col("user_id"), lit(150)) / 15).cast("int").as("y"),
            pmod(col("user_id"), lit(15)).cast("int").as("x"))
          .agg((sum(round(col("value") * 100.0, 0).cast("long")).cast("double") / 100.0
            / count(lit(1))).as("value"))
        val path = s"${System.getProperty("java.io.tmpdir")}/graft_q73.nc"
        new java.io.File(path).delete()
        NetCDF4Source.write3D(cells, path, "sst", shape = (31, 10, 15), timeChunk = 8)
        s.read.format("netcdf").option("var", "sst").load(path)
          .filter(col("t_idx").between(0, 30) && !isnan(col("value")))
          .groupBy(col("y").cast("long").as("y"))
          .agg(count(lit(1)).as("n_cells"),
            round(sum(round(col("value") * 100.0, 0).cast("long")
              .cast("double")) / 100.0, 2).as("sum_val"))
      },
      Some("""WITH cells AS (
                SELECT CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS INT) AS t_idx,
                       CAST(user_id % 150 // 15 AS INT) AS y,
                       CAST(user_id % 15 AS INT) AS x,
                       (CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS DOUBLE) / 100.0)
                         / count(*) AS value
                FROM events GROUP BY 1, 2, 3)
              SELECT CAST(y AS BIGINT) AS y,
                     count(*) AS n_cells,
                     round(CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS sum_val
              FROM cells GROUP BY y"""),
      "NetCDF-4/HDF5 sink + source round-trip (chunked+shuffle+deflate, format-dispatch facade)"),

    // ── Zarr v3 ingest: zstd+crc32c codec-chain round-trip ─────────────────
    QueryDef("q74_zarr3_roundtrip",
      (s, d) => {
        import graft.sources.ZarrSource
        // same cell construction as q54, but through the v3 layout that
        // zarr-python ≥3 / current xarray write by default: nested `c/`
        // chunk keys and a bytes→zstd→crc32c codec chain. The oracle
        // recomputes from events, so a defect in the v3 writer, the
        // zarr.json parser, the codec chain, or the checksum mismatches.
        val cells = Tables.load(s, d, "events")
          .groupBy(
            datediff(to_date(col("ts")), lit("2024-01-01")).cast("int").as("t_idx"),
            (pmod(col("user_id"), lit(150)) / 15).cast("int").as("y"),
            pmod(col("user_id"), lit(15)).cast("int").as("x"))
          .agg((sum(round(col("value") * 100.0, 0).cast("long")).cast("double") / 100.0
            / count(lit(1))).as("value"))
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft_q74_zarr3"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
        ZarrSource.write3DV3(cells, dir, shape = (31, 10, 15), chunks = (8, 10, 15),
          codecs = Seq(ZarrSource.ZstdC, ZarrSource.Crc32cC))
        s.read.format("zarr").load(dir)
          .filter(col("t_idx").between(0, 30) && !isnan(col("value")))
          .groupBy(col("y").cast("long").as("y"))
          .agg(count(lit(1)).as("n_cells"),
            round(sum(round(col("value") * 100.0, 0).cast("long")
              .cast("double")) / 100.0, 2).as("sum_val"))
      },
      Some("""WITH cells AS (
                SELECT CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS INT) AS t_idx,
                       CAST(user_id % 150 // 15 AS INT) AS y,
                       CAST(user_id % 15 AS INT) AS x,
                       (CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS DOUBLE) / 100.0)
                         / count(*) AS value
                FROM events GROUP BY 1, 2, 3)
              SELECT CAST(y AS BIGINT) AS y,
                     count(*) AS n_cells,
                     round(CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS sum_val
              FROM cells GROUP BY y"""),
      "Zarr v3 sink + source round-trip (zarr-python 3 default layout: nested keys, zstd, crc32c)"),

    // ── Zarr v3 sharding: inner chunks + verified end-index per object ─────
    QueryDef("q75_zarr3_sharded",
      (s, d) => {
        import graft.sources.ZarrSource
        // q74's construction through `sharding_indexed` — the v3 feature
        // that keeps object counts bounded at 100 TB (inner-chunk
        // parallelism without billions of small store objects). The oracle
        // recomputes from events, so a defect in shard assembly, the
        // (offset, nbytes) index, inner-chunk elision, or the index crc32c
        // mismatches.
        val cells = Tables.load(s, d, "events")
          .groupBy(
            datediff(to_date(col("ts")), lit("2024-01-01")).cast("int").as("t_idx"),
            (pmod(col("user_id"), lit(150)) / 15).cast("int").as("y"),
            pmod(col("user_id"), lit(15)).cast("int").as("x"))
          .agg((sum(round(col("value") * 100.0, 0).cast("long")).cast("double") / 100.0
            / count(lit(1))).as("value"))
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft_q75_zarr3sh"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
        ZarrSource.write3DV3(cells, dir, shape = (31, 10, 15), chunks = (16, 10, 15),
          codecs = Seq(ZarrSource.ZstdC), innerChunks = Some((4, 5, 15)))
        s.read.format("zarr").load(dir)
          .filter(col("t_idx").between(0, 30) && !isnan(col("value")))
          .groupBy(col("y").cast("long").as("y"))
          .agg(count(lit(1)).as("n_cells"),
            round(sum(round(col("value") * 100.0, 0).cast("long")
              .cast("double")) / 100.0, 2).as("sum_val"))
      },
      Some("""WITH cells AS (
                SELECT CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS INT) AS t_idx,
                       CAST(user_id % 150 // 15 AS INT) AS y,
                       CAST(user_id % 15 AS INT) AS x,
                       (CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS DOUBLE) / 100.0)
                         / count(*) AS value
                FROM events GROUP BY 1, 2, 3)
              SELECT CAST(y AS BIGINT) AS y,
                     count(*) AS n_cells,
                     round(CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS sum_val
              FROM cells GROUP BY y"""),
      "Zarr v3 sharded round-trip (inner chunks + verified end-index, bounded object count)"),

    // ── Zarr GROUP (xarray Dataset) round-trip: two vars + coords ──────────
    QueryDef("q76_zarr_group",
      (s, d) => {
        import graft.sources.ZarrGroup
        // the group-level layer the reference actually uses (xr.open_zarr /
        // ds.to_zarr): TWO data variables written as one consolidated v2
        // group with dimension names + coordinate axes, read back whole
        // through the group scan (`format("zarr")` on the group dir). The
        // oracle recomputes both variables from events, so a defect in the
        // group writer, the consolidated-metadata parse, the wide
        // chunk-manifest read, or the coordinate attach mismatches.
        val cells = Tables.load(s, d, "events")
          .groupBy(
            datediff(to_date(col("ts")), lit("2024-01-01")).cast("int").as("time_idx"),
            (pmod(col("user_id"), lit(150)) / 15).cast("int").as("y_idx"),
            pmod(col("user_id"), lit(15)).cast("int").as("x_idx"))
          .agg((sum(round(col("value") * 100.0, 0).cast("long")).cast("double") / 100.0
            / count(lit(1))).as("sst"),
            count(lit(1)).cast("double").as("n_obs"))
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft_q76_zgroup"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
        ZarrGroup.writeDataset(cells, dir,
          dims = Seq("time" -> 31, "y" -> 10, "x" -> 15), chunks = Seq(8, 10, 15),
          valueCols = Seq("sst", "n_obs"),
          coords = Map("y" -> Array.tabulate(10)(_ * 2.0),
            "x" -> Array.tabulate(15)(_ * 3.0)),
          attrs = Map("source" -> "graft"))
        s.read.format("zarr").load(dir)
          .filter(!isnan(col("sst")))
          .groupBy(col("y_idx").cast("long").as("y"))
          .agg(count(lit(1)).as("n_cells"),
            round(sum(round(col("sst") * 100.0, 0).cast("long")
              .cast("double")) / 100.0, 2).as("sum_val"),
            sum(col("n_obs").cast("long")).as("n_obs"),
            round(sum(col("y") + col("x")), 2).as("sum_coord"))
      },
      Some("""WITH cells AS (
                SELECT CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS INT) AS t_idx,
                       CAST(user_id % 150 // 15 AS INT) AS y,
                       CAST(user_id % 15 AS INT) AS x,
                       (CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS DOUBLE) / 100.0)
                         / count(*) AS value,
                       count(*) AS n_obs
                FROM events GROUP BY 1, 2, 3)
              SELECT CAST(y AS BIGINT) AS y,
                     count(*) AS n_cells,
                     round(CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS sum_val,
                     CAST(sum(n_obs) AS BIGINT) AS n_obs,
                     CAST(round(sum(y * 2.0 + x * 3.0), 2) AS DOUBLE) AS sum_coord
              FROM cells GROUP BY y"""),
      "Zarr group (xarray Dataset) round-trip: 2 vars + coords via consolidated metadata, wide no-join read"),

    // ── Zarr GROUP through SQL: format("zarr") + per-dim pushdown ──────────
    QueryDef("q78_zarr_sql_group",
      (s, d) => {
        import graft.sources.ZarrGroup
        // q76's store read back through the same group scan as q76, here
        // with pushdown: `spark.read.format("zarr").load(groupDir)` is the
        // SQL-facing xr.open_zarr. The filter exercises the per-DIMENSION
        // range pushdown (time_idx AND y_idx ranges prune whole chunk
        // files at planning time) and the projection exercises member-array
        // column pruning (n_obs is never opened). The oracle recomputes
        // from events with the same predicates, so a defect in group
        // schema inference, pushdown bounds, coordinate attach, or the
        // partition reader mismatches.
        val cells = Tables.load(s, d, "events")
          .groupBy(
            datediff(to_date(col("ts")), lit("2024-01-01")).cast("int").as("time_idx"),
            (pmod(col("user_id"), lit(150)) / 15).cast("int").as("y_idx"),
            pmod(col("user_id"), lit(15)).cast("int").as("x_idx"))
          .agg((sum(round(col("value") * 100.0, 0).cast("long")).cast("double") / 100.0
            / count(lit(1))).as("sst"),
            count(lit(1)).cast("double").as("n_obs"))
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft_q78_zsql"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
        ZarrGroup.writeDataset(cells, dir,
          dims = Seq("time" -> 31, "y" -> 10, "x" -> 15), chunks = Seq(8, 5, 15),
          valueCols = Seq("sst", "n_obs"),
          coords = Map("y" -> Array.tabulate(10)(_ * 2.0),
            "x" -> Array.tabulate(15)(_ * 3.0)))
        s.read.format("zarr").load(dir)
          .filter(col("time_idx").between(5, 20) && col("y_idx") < 5)
          .select("time_idx", "y_idx", "sst", "y", "x")
          .filter(!isnan(col("sst")))
          .groupBy(col("time_idx").cast("long").as("t"))
          .agg(count(lit(1)).as("n_cells"),
            round(sum(round(col("sst") * 100.0, 0).cast("long")
              .cast("double")) / 100.0, 2).as("sum_val"),
            round(sum(col("y") + col("x")), 2).cast("double").as("sum_coord"))
      },
      Some("""WITH cells AS (
                SELECT CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS INT) AS t_idx,
                       CAST(user_id % 150 // 15 AS INT) AS y,
                       CAST(user_id % 15 AS INT) AS x,
                       (CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS DOUBLE) / 100.0)
                         / count(*) AS value
                FROM events GROUP BY 1, 2, 3)
              SELECT CAST(t_idx AS BIGINT) AS t,
                     count(*) AS n_cells,
                     round(CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS sum_val,
                     CAST(round(sum(y * 2.0 + x * 3.0), 2) AS DOUBLE) AS sum_coord
              FROM cells WHERE t_idx BETWEEN 5 AND 20 AND y < 5 GROUP BY t_idx"""),
      "Zarr group through SQL: format(\"zarr\") wide scan, per-dimension chunk pushdown + member column pruning"),

    // ── HDF5 compound-table ingest (PyTables / pandas.to_hdf shape) ───────
    QueryDef("q79_hdf5_table",
      (s, d) => {
        import graft.sources.NetCDF4Source
        // per-(lang, source) aggregate of documents written as an HDF5
        // COMPOUND dataset — string + f64 members, the record shape
        // PyTables and pandas `to_hdf` store — read back distributed via
        // readCompoundTable and re-aggregated per lang. A defect in the
        // compound datatype writer/parser, the fixed-string member decode,
        // or the row fan-out mismatches the oracle, which recomputes from
        // the parquet directly. All measures are integer-valued, so the
        // f64 round-trip is exact (< 2^53).
        val table = Tables.load(s, d, "documents")
          .groupBy(col("lang"), col("source"))
          .agg(count(lit(1)).cast("double").as("n_docs"),
            sum(col("n_chars")).cast("double").as("sum_chars"))
        val path = s"${System.getProperty("java.io.tmpdir")}/graft_q79.h5"
        new java.io.File(path).delete()
        NetCDF4Source.writeCompoundTable(table, path, "doc_stats")
        NetCDF4Source.readCompoundTable(s, path, "doc_stats")
          .groupBy(col("lang"))
          .agg(sum(col("n_docs")).cast("long").as("n_docs"),
            sum(col("sum_chars")).cast("long").as("sum_chars"),
            count(lit(1)).cast("long").as("n_sources"))
      },
      Some("""WITH t AS (
                SELECT lang, source, count(*) AS n_docs, sum(n_chars) AS sum_chars
                FROM documents GROUP BY 1, 2)
              SELECT lang,
                     CAST(sum(n_docs) AS BIGINT) AS n_docs,
                     CAST(sum(sum_chars) AS BIGINT) AS sum_chars,
                     CAST(count(*) AS BIGINT) AS n_sources
              FROM t GROUP BY lang"""),
      "HDF5 compound-table sink + distributed source (string + f64 members, PyTables shape)"),

    // ── multi-file NetCDF archive (xr.open_mfdataset, user_guide.rst:82) ──
    QueryDef("q80_netcdf_mfdataset",
      (s, d) => {
        import graft.sources.NetCDF4Source
        // the reference's documented archive entry is
        // xr.open_mfdataset('sst_*.nc'): one file per period, concatenated
        // along time. Three "monthly" NC4 files are written from events
        // (global t 0..30 split 0–9 / 10–19 / 20–30, each file's t_idx
        // local), the DIRECTORY is read back through format("netcdf"), and
        // a global t-range crossing two file boundaries is aggregated —
        // misaligned concatenation order, a wrong global offset, or broken
        // file-level pruning all mismatch the oracle, which recomputes
        // from events on the global axis.
        val cells = Tables.load(s, d, "events")
          .groupBy(
            datediff(to_date(col("ts")), lit("2024-01-01")).cast("int").as("t_idx"),
            (pmod(col("user_id"), lit(150)) / 15).cast("int").as("y"),
            pmod(col("user_id"), lit(15)).cast("int").as("x"))
          .agg((sum(round(col("value") * 100.0, 0).cast("long")).cast("double") / 100.0
            / count(lit(1))).as("value"))
          .filter(col("t_idx").between(0, 30))
          .localCheckpoint()
        val dir = new java.io.File(
          s"${System.getProperty("java.io.tmpdir")}/graft_q80_mf")
        org.apache.commons.io.FileUtils.deleteQuietly(dir)
        dir.mkdirs()
        Seq((0, 9), (10, 19), (20, 30)).zipWithIndex.foreach { case ((a, b), i) =>
          NetCDF4Source.write3D(
            cells.filter(col("t_idx").between(a, b))
              .withColumn("t_idx", col("t_idx") - a),
            f"${dir.getAbsolutePath}/sst_$i%03d.nc", "sst",
            shape = (b - a + 1, 10, 15), timeChunk = 4)
        }
        s.read.format("netcdf").option("var", "sst").load(dir.getAbsolutePath)
          .filter(col("t_idx").between(5, 25) && !isnan(col("value")))
          .groupBy(col("t_idx").cast("long").as("t"))
          .agg(count(lit(1)).as("n_cells"),
            round(sum(round(col("value") * 100.0, 0).cast("long")
              .cast("double")) / 100.0, 2).as("sum_val"))
      },
      Some("""WITH cells AS (
                SELECT CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS INT) AS t_idx,
                       CAST(user_id % 150 // 15 AS INT) AS y,
                       CAST(user_id % 15 AS INT) AS x,
                       (CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS DOUBLE) / 100.0)
                         / count(*) AS value
                FROM events GROUP BY 1, 2, 3)
              SELECT CAST(t_idx AS BIGINT) AS t,
                     count(*) AS n_cells,
                     round(CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS sum_val
              FROM cells WHERE t_idx BETWEEN 5 AND 25 GROUP BY t_idx"""),
      "Multi-file NetCDF archive through format(\"netcdf\"): name-ordered time concat + file-level pruning"),

    // ── HDF5 compound table through SQL (member pruning under the gate) ───
    QueryDef("q81_hdf5_sql_table",
      (s, d) => {
        import graft.sources.NetCDF4Source
        // q79's sink read back through the DataSourceV2 instead of the
        // utility API: format("hdf5table") infers the member schema and
        // the projection exercises MEMBER-LEVEL pruning (only lang and
        // n_chars bytes are decoded from each record; source and n_docs
        // are never touched). The oracle recomputes from parquet, so a
        // defect in schema inference, the pruned compound decode, or the
        // chunk/range partitioning mismatches.
        val table = Tables.load(s, d, "documents")
          .groupBy(col("lang"), col("source"))
          .agg(count(lit(1)).cast("double").as("n_docs"),
            sum(col("n_chars")).cast("double").as("sum_chars"))
        val path = s"${System.getProperty("java.io.tmpdir")}/graft_q81.h5"
        new java.io.File(path).delete()
        NetCDF4Source.writeCompoundTable(table, path, "doc_stats")
        s.read.format("hdf5table").option("var", "doc_stats").load(path)
          .select("lang", "sum_chars")
          .groupBy("lang")
          .agg(sum(col("sum_chars")).cast("long").as("sum_chars"),
            count(lit(1)).cast("long").as("n_rows"))
      },
      Some("""WITH t AS (
                SELECT lang, source, sum(n_chars) AS sum_chars
                FROM documents GROUP BY 1, 2)
              SELECT lang,
                     CAST(sum(sum_chars) AS BIGINT) AS sum_chars,
                     CAST(count(*) AS BIGINT) AS n_rows
              FROM t GROUP BY lang"""),
      "HDF5 compound table through SQL: format(\"hdf5table\") schema inference + member-level pruning"),

    // ── regional window over a spatially-chunked archive (track.py:5471) ──
    QueryDef("q82_netcdf_regional",
      (s, d) => {
        import graft.sources.NetCDF4Source
        // the reference's regional mode tracks a lat/lon window of a
        // global grid; the SQL dual is a y/x range over format("netcdf").
        // The file is written with 5×5 SPATIAL chunks, so the window
        // [y 2..6]×[x 5..14] must prune the off-window spatial chunks at
        // planning time (per-dimension pushdown) — a prune or reader-bound
        // defect mismatches the oracle, which recomputes from events with
        // the same predicates.
        val cells = Tables.load(s, d, "events")
          .groupBy(
            datediff(to_date(col("ts")), lit("2024-01-01")).cast("int").as("t_idx"),
            (pmod(col("user_id"), lit(150)) / 15).cast("int").as("y"),
            pmod(col("user_id"), lit(15)).cast("int").as("x"))
          .agg((sum(round(col("value") * 100.0, 0).cast("long")).cast("double") / 100.0
            / count(lit(1))).as("value"))
          .filter(col("t_idx").between(0, 30))
        val path = s"${System.getProperty("java.io.tmpdir")}/graft_q82.nc"
        new java.io.File(path).delete()
        NetCDF4Source.write3D(cells, path, "sst", shape = (31, 10, 15),
          timeChunk = 8, spatialChunks = Some((5, 5)))
        s.read.format("netcdf").option("var", "sst").load(path)
          .filter(col("t_idx").between(3, 27) && col("y").between(2, 6) &&
            col("x") >= 5 && !isnan(col("value")))
          .groupBy(col("y").cast("long").as("y"))
          .agg(count(lit(1)).as("n_cells"),
            round(sum(round(col("value") * 100.0, 0).cast("long")
              .cast("double")) / 100.0, 2).as("sum_val"))
      },
      Some("""WITH cells AS (
                SELECT CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS INT) AS t_idx,
                       CAST(user_id % 150 // 15 AS INT) AS y,
                       CAST(user_id % 15 AS INT) AS x,
                       (CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS DOUBLE) / 100.0)
                         / count(*) AS value
                FROM events GROUP BY 1, 2, 3)
              SELECT CAST(y AS BIGINT) AS y,
                     count(*) AS n_cells,
                     round(CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS sum_val
              FROM cells
              WHERE t_idx BETWEEN 3 AND 27 AND y BETWEEN 2 AND 6 AND x >= 5
              GROUP BY y"""),
      "Regional window over format(\"netcdf\"): per-dimension y/x chunk pushdown on a spatially-chunked file"),

    QueryDef("q83_zarr_regional",
      (s, d) => {
        import graft.sources.ZarrSource
        // the same regional window through the single-array zarr scan:
        // (2,5,5)-chunked store, window [t 3..27]×[y 2..6]×[x 5..14] —
        // spatial chunks outside the window never plan, and absent chunks
        // (cells with no events) read as NaN fill and are dropped
        val cells = Tables.load(s, d, "events")
          .groupBy(
            datediff(to_date(col("ts")), lit("2024-01-01")).cast("int").as("t_idx"),
            (pmod(col("user_id"), lit(150)) / 15).cast("int").as("y"),
            pmod(col("user_id"), lit(15)).cast("int").as("x"))
          .agg((sum(round(col("value") * 100.0, 0).cast("long")).cast("double") / 100.0
            / count(lit(1))).as("value"))
          .filter(col("t_idx").between(0, 30))
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft_q83_zarr"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
        ZarrSource.write3D(cells, dir, shape = (31, 10, 15), chunks = (2, 5, 5))
        s.read.format("zarr").load(dir)
          .filter(col("t_idx").between(3, 27) && col("y").between(2, 6) &&
            col("x") >= 5 && !isnan(col("value")))
          .groupBy(col("x").cast("long").as("x"))
          .agg(count(lit(1)).as("n_cells"),
            round(sum(round(col("value") * 100.0, 0).cast("long")
              .cast("double")) / 100.0, 2).as("sum_val"))
      },
      Some("""WITH cells AS (
                SELECT CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS INT) AS t_idx,
                       CAST(user_id % 150 // 15 AS INT) AS y,
                       CAST(user_id % 15 AS INT) AS x,
                       (CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS DOUBLE) / 100.0)
                         / count(*) AS value
                FROM events GROUP BY 1, 2, 3)
              SELECT CAST(x AS BIGINT) AS x,
                     count(*) AS n_cells,
                     round(CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS sum_val
              FROM cells
              WHERE t_idx BETWEEN 3 AND 27 AND y BETWEEN 2 AND 6 AND x >= 5
              GROUP BY x"""),
      "Regional window over the single-array zarr scan: y/x chunk pushdown + NaN-fill absent chunks"),

    // ── to_zarr through SQL: df.write.format("zarr") (track.py:1748) ──────
    QueryDef("q84_zarr_sql_write",
      (s, d) => {
        // the write dual of q78: the SAME store shape, but written through
        // `df.write.format("zarr")` (dims/chunks/cols as write options →
        // the distributed chunk writer) instead of the utility API, then
        // read back wide through format("zarr"). A defect in the write
        // spec parse, the V1Write insert, the chunk assembly, or the fill
        // handling of absent cells mismatches the oracle, which recomputes
        // from events.
        val cells = Tables.load(s, d, "events")
          .groupBy(
            datediff(to_date(col("ts")), lit("2024-01-01")).cast("int").as("time_idx"),
            (pmod(col("user_id"), lit(150)) / 15).cast("int").as("y_idx"),
            pmod(col("user_id"), lit(15)).cast("int").as("x_idx"))
          .agg((sum(round(col("value") * 100.0, 0).cast("long")).cast("double") / 100.0
            / count(lit(1))).as("sst"))
          .filter(col("time_idx").between(0, 30))
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft_q84_zw"
        cells.write.format("zarr")
          .option("dims", "time:31,y:10,x:15").option("chunks", "8,5,15")
          .option("cols", "sst")
          .mode("overwrite").save(dir)
        s.read.format("zarr").load(dir)
          .filter(!isnan(col("sst")) && col("time_idx") >= 10)
          .groupBy(col("time_idx").cast("long").as("t"))
          .agg(count(lit(1)).as("n_cells"),
            round(sum(round(col("sst") * 100.0, 0).cast("long")
              .cast("double")) / 100.0, 2).as("sum_val"))
      },
      Some("""WITH cells AS (
                SELECT CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS INT) AS t_idx,
                       CAST(user_id % 150 // 15 AS INT) AS y,
                       CAST(user_id % 15 AS INT) AS x,
                       (CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS DOUBLE) / 100.0)
                         / count(*) AS value
                FROM events GROUP BY 1, 2, 3)
              SELECT CAST(t_idx AS BIGINT) AS t,
                     count(*) AS n_cells,
                     round(CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS sum_val
              FROM cells WHERE t_idx BETWEEN 10 AND 30 GROUP BY t_idx"""),
      "to_zarr through SQL: df.write.format(\"zarr\") distributed chunk write + wide read-back"),

    // ── to_netcdf archives through SQL: df.write.format("netcdf") ─────────
    QueryDef("q85_netcdf_sql_write",
      (s, d) => {
        // the write dual of q80: the SAME 3-file monthly layout, but
        // produced by `df.write.format("netcdf")` (shape/blockNt write
        // options → the distributed per-block archive sink) instead of a
        // serial write3D loop, then read back through the multi-file
        // scan. A defect in the write-spec parse, the Tungsten block
        // exchange, the per-task NC4 assembly, or the name-ordered global
        // axis mismatches the oracle, which recomputes from events.
        val cells = Tables.load(s, d, "events")
          .groupBy(
            datediff(to_date(col("ts")), lit("2024-01-01")).cast("int").as("t_idx"),
            (pmod(col("user_id"), lit(150)) / 15).cast("int").as("y"),
            pmod(col("user_id"), lit(15)).cast("int").as("x"))
          .agg((sum(round(col("value") * 100.0, 0).cast("long")).cast("double") / 100.0
            / count(lit(1))).as("value"))
          .filter(col("t_idx").between(0, 29))
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft_q85_ncw"
        cells.write.format("netcdf").option("var", "sst")
          .option("shape", "30:10:15").option("blockNt", "10")
          .option("timeChunk", "4")
          .mode("overwrite").save(dir)
        s.read.format("netcdf").option("var", "sst").load(dir)
          .filter(col("t_idx").between(5, 25) && !isnan(col("value")))
          .groupBy(col("t_idx").cast("long").as("t"))
          .agg(count(lit(1)).as("n_cells"),
            round(sum(round(col("value") * 100.0, 0).cast("long")
              .cast("double")) / 100.0, 2).as("sum_val"))
      },
      Some("""WITH cells AS (
                SELECT CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS INT) AS t_idx,
                       CAST(user_id % 150 // 15 AS INT) AS y,
                       CAST(user_id % 15 AS INT) AS x,
                       (CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS DOUBLE) / 100.0)
                         / count(*) AS value
                FROM events GROUP BY 1, 2, 3)
              SELECT CAST(t_idx AS BIGINT) AS t,
                     count(*) AS n_cells,
                     round(CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS sum_val
              FROM cells WHERE t_idx BETWEEN 5 AND 25 GROUP BY t_idx"""),
      "to_netcdf through SQL: df.write.format(\"netcdf\") distributed per-block archive sink + multi-file read-back"),

    // ── UNSTRUCTURED (time, ncells) ingest: the 2-D DSv2 path ──────────────
    // The reference's second first-class grid (ICON meshes, detect.py:18
    // `extreme_events(time, ncells)`): a 2-D variable reads through
    // format("netcdf") as (t_idx, cell, value) with cell-range pushdown.
    // The oracle recomputes the aggregate straight from events, so any
    // defect in the rank-2 header parse, the nx=1 normalization, the cell
    // emission, or the pushed window mismatches.
    QueryDef("q87_unstructured_ingest",
      (s, d) => {
        import graft.sources.NetCDF4Source
        val cells = Tables.load(s, d, "events")
          .groupBy(
            datediff(to_date(col("ts")), lit("2024-01-01")).cast("int").as("t_idx"),
            pmod(col("user_id"), lit(150)).cast("int").as("cell"))
          .agg((sum(round(col("value") * 100.0, 0).cast("long")).cast("double") / 100.0
            / count(lit(1))).as("value"))
        val nt = 31; val nc = 150
        val arr = Array.fill(nt * nc)(Double.NaN)
        cells.collect().foreach { r =>
          val t = r.getInt(0); val c = r.getInt(1)
          if (t >= 0 && t < nt && c >= 0 && c < nc) arr(t * nc + c) = r.getDouble(2)
        }
        val path = s"${System.getProperty("java.io.tmpdir")}/graft_q87.nc"
        NetCDF4Source.writeVars(s, path, Seq(NetCDF4Source.VarSpec(
          "ev", Seq(nt, nc), arr, chunkDims = Some(Seq(8, nc)))))
        s.read.format("netcdf").option("var", "ev").load(path)
          .filter(col("cell").between(10, 139) && !isnan(col("value")))
          .groupBy(pmod(col("cell"), lit(15)).cast("long").as("grp"))
          .agg(count(lit(1)).as("n_cells"),
            round(sum(round(col("value") * 100.0, 0).cast("long")
              .cast("double")) / 100.0, 2).as("sum_val"))
      },
      Some("""WITH cells AS (
                SELECT CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS INT) AS t_idx,
                       CAST(user_id % 150 AS INT) AS cell,
                       (CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS DOUBLE) / 100.0)
                         / count(*) AS value
                FROM events GROUP BY 1, 2)
              SELECT CAST(cell % 15 AS BIGINT) AS grp,
                     count(*) AS n_cells,
                     round(CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS sum_val
              FROM cells WHERE cell BETWEEN 10 AND 139 GROUP BY 1"""),
      "Unstructured (time, ncells) netcdf ingest: 2-D DSv2 read with cell-window pushdown"),

    // ── connectivity ingest: neighbours(nv, ncells) → edge table ──────────
    // track.py:1060–1089: the ICON triangular connectivity (1-based,
    // nonpositive = no neighbor) becomes the tracker's pull-oriented
    // (cell, nbr) edge list. Deterministic ring-mesh formula, reproduced
    // verbatim by the oracle from range(); one zero-shuffle projection.
    QueryDef("q88_connectivity_edges",
      (s, d) => {
        import graft.sources.NetCDF4Source
        val nc = 200
        val nbr = Array.tabulate(3 * nc) { j =>
          val k = j / nc; val i = j % nc
          k match {
            case 0 => ((i + 1) % nc + 1).toDouble
            case 1 => ((i + nc - 1) % nc + 1).toDouble
            case _ => if (i + 10 < nc) (i + 10 + 1).toDouble else 0.0
          }
        }
        val path = s"${System.getProperty("java.io.tmpdir")}/graft_q88.nc"
        NetCDF4Source.writeVars(s, path,
          Seq(NetCDF4Source.VarSpec("neighbours", Seq(3, nc), nbr)))
        graft.marex.UnstructuredIngest.connectivityEdges(
          s.read.format("netcdf").option("var", "neighbours").load(path))
      },
      Some("""WITH c AS (SELECT CAST(range AS INT) AS i FROM range(200)),
                   e AS (
                SELECT CAST((i + 1) % 200 AS INT) AS cell, i AS nbr FROM c
                UNION ALL SELECT CAST((i + 199) % 200 AS INT), i FROM c
                UNION ALL SELECT CAST(i + 10 AS INT), i FROM c WHERE i + 10 < 200)
              SELECT cell, CAST(nbr AS INT) AS nbr FROM e"""),
      "Connectivity ingest: neighbours(nv, ncells) through the 2-D netcdf read → (cell, nbr) edges"),

    // ── zarr append_dim=time through SQL: store-resize appends ────────────
    // The write dual of the zarr STREAM source (to_zarr(append_dim="time"),
    // helper.py:505): the q84 cube lands in TWO appends split at t=13 —
    // deliberately NON-chunk-aligned (time chunk 8, so the second block
    // merges into the straddling chunk holding t=8..12 in place) — and the
    // oracle recomputes straight from events, so a defect in the resize,
    // the block-local index shift, the edge-chunk merge, or the
    // metadata-last ordering mismatches cell-for-cell.
    QueryDef("q89_zarr_sql_append",
      (s, d) => {
        val cells = Tables.load(s, d, "events")
          .groupBy(
            datediff(to_date(col("ts")), lit("2024-01-01")).cast("int").as("time_idx"),
            (pmod(col("user_id"), lit(150)) / 15).cast("int").as("y_idx"),
            pmod(col("user_id"), lit(15)).cast("int").as("x_idx"))
          .agg((sum(round(col("value") * 100.0, 0).cast("long")).cast("double") / 100.0
            / count(lit(1))).as("sst"))
          .filter(col("time_idx").between(0, 30))
          // feeds two separate write actions (create + append): materialize
          // the tiny aggregate once instead of re-scanning + re-aggregating
          // events per action
          .localCheckpoint()
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft_q89_za"
        cells.filter(col("time_idx") <= 12).write.format("zarr")
          .option("dims", "time:13,y:10,x:15").option("chunks", "8,5,15")
          .option("cols", "sst")
          .mode("overwrite").save(dir)
        cells.filter(col("time_idx") >= 13)
          .withColumn("time_idx", col("time_idx") - 13)
          .write.format("zarr")
          .option("dims", "time:18,y:10,x:15").option("chunks", "8,5,15")
          .option("cols", "sst")
          .mode("append").save(dir)
        s.read.format("zarr").load(dir)
          .filter(!isnan(col("sst")))
          .groupBy(col("time_idx").cast("long").as("t"))
          .agg(count(lit(1)).as("n_cells"),
            round(sum(round(col("sst") * 100.0, 0).cast("long")
              .cast("double")) / 100.0, 2).as("sum_val"))
      },
      Some("""WITH cells AS (
                SELECT CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS INT) AS t_idx,
                       CAST(user_id % 150 // 15 AS INT) AS y,
                       CAST(user_id % 15 AS INT) AS x,
                       (CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS DOUBLE) / 100.0)
                         / count(*) AS value
                FROM events GROUP BY 1, 2, 3)
              SELECT CAST(t_idx AS BIGINT) AS t,
                     count(*) AS n_cells,
                     round(CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS sum_val
              FROM cells WHERE t_idx BETWEEN 0 AND 30 GROUP BY t_idx"""),
      "zarr append_dim=time through SQL: two store-resize appends ≡ one batch write"),

    // ── df.write.format("hdf5table"): SQL symmetry for the tabular format ─
    // The write dual of q81: the same doc_stats table lands through the
    // DSv2 WRITE (wrapping writeCompoundTable) with the per-group stats as
    // a NESTED STRUCT column — which must round-trip as a nested compound
    // member — then reads back through the same format("hdf5table") scan.
    // The oracle recomputes from parquet, so a defect in the write
    // assembly, the nested member layout, or the read-back decode
    // mismatches.
    QueryDef("q90_hdf5table_sql_write",
      (s, d) => {
        val table = Tables.load(s, d, "documents")
          .groupBy(col("lang"), col("source"))
          .agg(struct(
            count(lit(1)).cast("double").as("n_docs"),
            sum(col("n_chars")).cast("double").as("sum_chars")).as("stats"))
        val path = s"${System.getProperty("java.io.tmpdir")}/graft_q90.h5"
        table.write.format("hdf5table").option("var", "doc_stats")
          .option("chunkRows", "8")
          .mode("overwrite").save(path)
        s.read.format("hdf5table").option("var", "doc_stats").load(path)
          .select(col("lang"), col("stats.sum_chars").as("sc"),
            col("stats.n_docs").as("nd"))
          .groupBy("lang")
          .agg(sum(col("sc")).cast("long").as("sum_chars"),
            sum(col("nd")).cast("long").as("n_docs"))
      },
      Some("""WITH t AS (
                SELECT lang, source, count(*) AS n_docs, sum(n_chars) AS sum_chars
                FROM documents GROUP BY 1, 2)
              SELECT lang,
                     CAST(sum(sum_chars) AS BIGINT) AS sum_chars,
                     CAST(sum(n_docs) AS BIGINT) AS n_docs
              FROM t GROUP BY lang"""),
      "df.write.format(\"hdf5table\"): SQL compound-table write with nested STRUCT + read-back"),

    // ── grouped metadata aggregates: per-day counts with zero data reads ──
    // groupBy(t_idx).count() over a dense archive is a header fact per
    // file (GroupedMetadataAggSpec plan-asserts the MetadataAggScan /
    // "data reads=0"); here the VALUES are the gate: a 2-file archive
    // with a y/x window and a t window straddling the file boundary must
    // produce exactly the clamped-range products the oracle derives from
    // range() — any defect in the per-file global-axis offsets, the
    // window clamps, or the cross-file group merge mismatches.
    QueryDef("q91_grouped_meta_count",
      (s, d) => {
        import graft.sources.NetCDF4Source
        val dir = new java.io.File(
          s"${System.getProperty("java.io.tmpdir")}/graft_q91_arch")
        org.apache.commons.io.FileUtils.deleteQuietly(dir)
        dir.mkdirs()
        def file(path: String, nt: Int): Unit = NetCDF4Source.writeVars(s, path,
          Seq(NetCDF4Source.VarSpec("sst", Seq(nt, 10, 15),
            Array.fill(nt * 150)(1.0), chunkDims = Some(Seq(8, 10, 15)))))
        file(s"$dir/sst_000.nc", 16)
        file(s"$dir/sst_001.nc", 15)
        s.read.format("netcdf").option("var", "sst").load(dir.getAbsolutePath)
          .filter(col("t_idx").between(10, 25) &&
            col("y").between(2, 6) && col("x") >= 5)
          .groupBy("t_idx")
          .agg(count(lit(1)).as("n_cells"),
            min(col("y")).as("min_y"), max(col("x")).as("max_x"))
          .select(col("t_idx").cast("long").as("t"), col("n_cells"),
            col("min_y").cast("long").as("min_y"),
            col("max_x").cast("long").as("max_x"))
      },
      Some("""SELECT CAST(range AS BIGINT) AS t,
                     CAST(50 AS BIGINT) AS n_cells,
                     CAST(2 AS BIGINT) AS min_y,
                     CAST(14 AS BIGINT) AS max_x
              FROM range(10, 26)"""),
      "Grouped metadata aggregates: per-day counts over a multi-file archive, zero chunk reads"),

    // ── CF-packed i16 + szip: the layout real archives ship ───────────────
    // The cube lands as raw shorts (scale_factor 0.01) szip-compressed
    // (extended-Rice, filter 4) and reads back through format("netcdf"),
    // whose CF decode restores physical values; cell means are snapped to
    // the 0.01 grid BEFORE packing (HALF_UP, mirrored in the oracle), so
    // the i16 quantization is exact and any defect in the packed-grid
    // chunk gather, the szip encode/decode, the filter-4 pipeline message,
    // or the CF decode mismatches the from-events recomputation.
    QueryDef("q92_netcdf_packed_szip",
      (s, d) => {
        import graft.sources.NetCDF4Source
        val cells = Tables.load(s, d, "events")
          .groupBy(
            datediff(to_date(col("ts")), lit("2024-01-01")).cast("int").as("t_idx"),
            (pmod(col("user_id"), lit(150)) / 15).cast("int").as("y"),
            pmod(col("user_id"), lit(15)).cast("int").as("x"))
          .agg((sum(round(col("value") * 100.0, 0).cast("long")).cast("double") / 100.0
            / count(lit(1))).as("mean"))
          .filter(col("t_idx").between(0, 30))
          .select(col("t_idx"), col("y"), col("x"),
            (round(col("mean") * 100.0, 0) / 100.0).as("value"))
        val path = s"${System.getProperty("java.io.tmpdir")}/graft_q92.nc"
        new java.io.File(path).delete()
        NetCDF4Source.write3D(cells, path, "sst", shape = (31, 10, 15),
          timeChunk = 8, spatialChunks = Some((5, 5)),
          pack = Some(NetCDF4Source.Pack(scale = 0.01)), compressor = "szip")
        s.read.format("netcdf").option("var", "sst").load(path)
          .filter(!isnan(col("value")) && col("t_idx").between(5, 25))
          .groupBy(col("t_idx").cast("long").as("t"))
          .agg(count(lit(1)).as("n_cells"),
            sum(round(col("value") * 100.0, 0).cast("long")).as("sum_scaled"))
      },
      Some("""WITH cells AS (
                SELECT CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS INT) AS t_idx,
                       CAST(round(((CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS DOUBLE) / 100.0)
                         / count(*)) * 100.0) AS BIGINT) AS q
                FROM events GROUP BY 1, CAST(user_id % 150 // 15 AS INT), CAST(user_id % 15 AS INT))
              SELECT CAST(t_idx AS BIGINT) AS t,
                     count(*) AS n_cells,
                     CAST(sum(q) AS BIGINT) AS sum_scaled
              FROM cells WHERE t_idx BETWEEN 5 AND 25 GROUP BY t_idx"""),
      "CF-packed i16 + szip netcdf write: quantized round-trip through the extended-Rice codec"),

    // ── sharded v3 zarr through SQL: the object-count lever at 100 TB ─────
    QueryDef("q93_zarr_sharded_write",
      (s, d) => {
        // q84's write with `sharding_indexed`: each OUTER chunk stores as
        // ONE object of zstd inner chunks + a crc32c end-index (all-fill
        // inner chunks elided). At archive scale this is the object-count
        // control — a 100 TB store keeps task granularity at the outer
        // chunk while holding 64–1000× fewer objects. The query verifies
        // the store IS sharded (object count = outer-chunk count, not
        // inner) before handing the read-back to the oracle.
        val cells = Tables.load(s, d, "events")
          .groupBy(
            datediff(to_date(col("ts")), lit("2024-01-01")).cast("int").as("time_idx"),
            (pmod(col("user_id"), lit(150)) / 15).cast("int").as("y_idx"),
            pmod(col("user_id"), lit(15)).cast("int").as("x_idx"))
          .agg((sum(round(col("value") * 100.0, 0).cast("long")).cast("double") / 100.0
            / count(lit(1))).as("sst"))
          .filter(col("time_idx").between(0, 30))
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft_q93_zsw"
        cells.write.format("zarr")
          .option("dims", "time:31,y:10,x:15").option("chunks", "8,10,15")
          .option("shard", "2,5,15").option("v3", "true")
          .option("cols", "sst")
          .mode("overwrite").save(dir)
        // count stored shard objects through the STORE's FileSystem (the
        // gate must behave identically on hdfs/s3a, not just file:)
        val shardFs = new org.apache.hadoop.fs.Path(dir)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        val objIt = shardFs.listFiles(
          new org.apache.hadoop.fs.Path(dir, "sst/c"), true)
        var objs = 0
        while (objIt.hasNext) { if (objIt.next().isFile) objs += 1 }
        require(objs == 4, s"sharded store must hold 4 outer-chunk objects, found $objs")
        s.read.format("zarr").load(dir)
          .filter(!isnan(col("sst")) && col("time_idx") >= 10)
          .groupBy(col("time_idx").cast("long").as("t"))
          .agg(count(lit(1)).as("n_cells"),
            round(sum(round(col("sst") * 100.0, 0).cast("long")
              .cast("double")) / 100.0, 2).as("sum_val"))
      },
      Some("""WITH cells AS (
                SELECT CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS INT) AS t_idx,
                       CAST(user_id % 150 // 15 AS INT) AS y,
                       CAST(user_id % 15 AS INT) AS x,
                       (CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS DOUBLE) / 100.0)
                         / count(*) AS value
                FROM events GROUP BY 1, 2, 3)
              SELECT CAST(t_idx AS BIGINT) AS t,
                     count(*) AS n_cells,
                     round(CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS sum_val
              FROM cells WHERE t_idx BETWEEN 10 AND 30 GROUP BY t_idx"""),
      "sharded v3 zarr SQL write: one object per outer chunk, elided fill, read back exactly"),

    // ── region writes: to_zarr(region=…)-style in-place backfill ──────────
    QueryDef("q94_zarr_region_write",
      (s, d) => {
        // create q84's store, then REGION-correct days 10..19 in place
        // (doubled values; rows carry region-local indices): a chunk-merge
        // upsert that must leave every cell outside the window — including
        // the straddled chunks' other slices — byte-stable, and never
        // resize. The oracle recomputes the final state from events.
        val cells0 = Tables.load(s, d, "events")
          .groupBy(
            datediff(to_date(col("ts")), lit("2024-01-01")).cast("int").as("time_idx"),
            (pmod(col("user_id"), lit(150)) / 15).cast("int").as("y_idx"),
            pmod(col("user_id"), lit(15)).cast("int").as("x_idx"))
          .agg((sum(round(col("value") * 100.0, 0).cast("long")).cast("double") / 100.0
            / count(lit(1))).as("sst"))
          .filter(col("time_idx").between(0, 30))
          // feeds two separate write actions (create + region-correct):
          // materialize the tiny aggregate once instead of re-scanning +
          // re-aggregating events per action (was a `def` — recompute by
          // construction)
          .localCheckpoint()
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft_q94_zrw"
        cells0.write.format("zarr")
          .option("dims", "time:31,y:10,x:15").option("chunks", "8,5,15")
          .option("cols", "sst")
          .mode("overwrite").save(dir)
        cells0.filter(col("time_idx").between(10, 19))
          .select((col("time_idx") - 10).as("time_idx"), col("y_idx"),
            col("x_idx"), (col("sst") * 2.0).as("sst"))
          .write.format("zarr")
          .option("dims", "time:10,y:10,x:15").option("chunks", "8,5,15")
          .option("cols", "sst").option("region", "10")
          .mode("append").save(dir)
        s.read.format("zarr").load(dir)
          .filter(!isnan(col("sst")))
          .groupBy(col("time_idx").cast("long").as("t"))
          .agg(count(lit(1)).as("n_cells"),
            round(sum(round(col("sst") * 100.0, 0).cast("long")
              .cast("double")) / 100.0, 2).as("sum_val"))
      },
      Some("""WITH cells AS (
                SELECT CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS INT) AS t_idx,
                       CAST(user_id % 150 // 15 AS INT) AS y,
                       CAST(user_id % 15 AS INT) AS x,
                       (CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS DOUBLE) / 100.0)
                         / count(*) AS value
                FROM events GROUP BY 1, 2, 3),
              corrected AS (
                SELECT t_idx,
                       CASE WHEN t_idx BETWEEN 10 AND 19 THEN value * 2.0
                            ELSE value END AS value
                FROM cells WHERE t_idx BETWEEN 0 AND 30)
              SELECT CAST(t_idx AS BIGINT) AS t,
                     count(*) AS n_cells,
                     round(CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS sum_val
              FROM corrected GROUP BY t_idx"""),
      "to_zarr(region=…) in-place backfill: windowed chunk-merge upsert, no resize, oracle-exact"),

    // ── netcdf archive APPEND: landing new block files through SQL ────────
    QueryDef("q95_netcdf_archive_append",
      (s, d) => {
        // q85's archive built in TWO SQL writes: days 0..19 at create,
        // days 20..29 landed by mode("append") as a new block file whose
        // name continues the prefix numbering (rows carry block-set-local
        // t_idx). The read-back must equal q85's one-shot build — any
        // defect in the numbering continuation, the name-ordered global
        // axis, or the appended block's assembly mismatches the oracle.
        val cells0 = Tables.load(s, d, "events")
          .groupBy(
            datediff(to_date(col("ts")), lit("2024-01-01")).cast("int").as("t_idx"),
            (pmod(col("user_id"), lit(150)) / 15).cast("int").as("y"),
            pmod(col("user_id"), lit(15)).cast("int").as("x"))
          .agg((sum(round(col("value") * 100.0, 0).cast("long")).cast("double") / 100.0
            / count(lit(1))).as("value"))
          // feeds two separate write actions (create + append): materialize
          // the tiny aggregate once instead of re-scanning + re-aggregating
          // events per action (was a `def` — recompute by construction)
          .localCheckpoint()
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft_q95_nca"
        cells0.filter(col("t_idx").between(0, 19))
          .write.format("netcdf").option("var", "sst")
          .option("shape", "20:10:15").option("blockNt", "10")
          .option("timeChunk", "4")
          .mode("overwrite").save(dir)
        cells0.filter(col("t_idx").between(20, 29))
          .select((col("t_idx") - 20).as("t_idx"), col("y"), col("x"), col("value"))
          .write.format("netcdf").option("var", "sst")
          .option("shape", "10:10:15").option("blockNt", "10")
          .option("timeChunk", "4")
          .mode("append").save(dir)
        s.read.format("netcdf").option("var", "sst").load(dir)
          .filter(col("t_idx").between(5, 25) && !isnan(col("value")))
          .groupBy(col("t_idx").cast("long").as("t"))
          .agg(count(lit(1)).as("n_cells"),
            round(sum(round(col("value") * 100.0, 0).cast("long")
              .cast("double")) / 100.0, 2).as("sum_val"))
      },
      Some("""WITH cells AS (
                SELECT CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS INT) AS t_idx,
                       CAST(user_id % 150 // 15 AS INT) AS y,
                       CAST(user_id % 15 AS INT) AS x,
                       (CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS DOUBLE) / 100.0)
                         / count(*) AS value
                FROM events GROUP BY 1, 2, 3)
              SELECT CAST(t_idx AS BIGINT) AS t,
                     count(*) AS n_cells,
                     round(CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS sum_val
              FROM cells WHERE t_idx BETWEEN 5 AND 25 GROUP BY t_idx"""),
      "netcdf archive append through SQL: landed block files continue the name-ordered axis"),

    // ── CF-packed i2 ZARR: the dual of q92 for the reference's native
    // format. The cube lands as raw little-endian shorts (scale 0.01,
    // _FillValue for NaN) via .option("pack", …) and reads back through
    // format("zarr"), whose CF decode (scale_factor/add_offset/_FillValue
    // from .zattrs — xr.open_zarr's default mask_and_scale) restores
    // physical values. Cell means are snapped to the 0.01 grid BEFORE
    // packing (mirrored in the oracle) so the i16 quantization is exact;
    // any defect in the pack encode, the i2 chunk decode, the raw-space
    // fill masking, or the attrs round-trip mismatches the recompute. ──────
    QueryDef("q96_zarr_packed_cf",
      (s, d) => {
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft_q96_zcf"
        Tables.load(s, d, "events")
          .groupBy(
            datediff(to_date(col("ts")), lit("2024-01-01")).cast("int").as("time_idx"),
            (pmod(col("user_id"), lit(150)) / 15).cast("int").as("y_idx"),
            pmod(col("user_id"), lit(15)).cast("int").as("x_idx"))
          .agg((sum(round(col("value") * 100.0, 0).cast("long")).cast("double") / 100.0
            / count(lit(1))).as("mean"))
          .filter(col("time_idx").between(0, 30))
          .select(col("time_idx"), col("y_idx"), col("x_idx"),
            (round(col("mean") * 100.0, 0) / 100.0).as("sst"))
          .write.format("zarr")
          .option("dims", "time:31,y:10,x:15").option("chunks", "8,5,15")
          .option("cols", "sst").option("pack", "0.01")
          .mode("overwrite").save(dir)
        s.read.format("zarr").load(dir)
          .filter(!isnan(col("sst")) && col("time_idx").between(5, 25))
          .groupBy(col("time_idx").cast("long").as("t"))
          .agg(count(lit(1)).as("n_cells"),
            sum(round(col("sst") * 100.0, 0).cast("long")).as("sum_scaled"))
      },
      Some("""WITH cells AS (
                SELECT CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS INT) AS t_idx,
                       CAST(round(((CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS DOUBLE) / 100.0)
                         / count(*)) * 100.0) AS BIGINT) AS q
                FROM events GROUP BY 1, CAST(user_id % 150 // 15 AS INT), CAST(user_id % 15 AS INT))
              SELECT CAST(t_idx AS BIGINT) AS t,
                     count(*) AS n_cells,
                     CAST(sum(q) AS BIGINT) AS sum_scaled
              FROM cells WHERE t_idx BETWEEN 5 AND 25 GROUP BY t_idx"""),
      "CF-packed i2 zarr write + mask_and_scale read-back: the packed layout real zarr archives keep"),

    // ── SQL appends onto COORDINATE-carrying stores: the reference's own
    // to_zarr layout always writes a time axis; `.option("coords",
    // "time:start:step")` lets the SQL append extend it alongside the data
    // (delegating to appendDataset's newCoords). The gate groups by the
    // COORDINATE VALUE read back from the store, so a defect in the coord
    // extension, the crash-window slicing, the re-chunked axis patch, or
    // the block-local index shift mismatches the from-events recompute. ───
    QueryDef("q97_zarr_append_coords",
      (s, d) => {
        val cells = Tables.load(s, d, "events")
          .groupBy(
            datediff(to_date(col("ts")), lit("2024-01-01")).cast("int").as("time_idx"),
            (pmod(col("user_id"), lit(150)) / 15).cast("int").as("y_idx"),
            pmod(col("user_id"), lit(15)).cast("int").as("x_idx"))
          .agg((sum(round(col("value") * 100.0, 0).cast("long")).cast("double") / 100.0
            / count(lit(1))).as("sst"))
          .filter(col("time_idx").between(0, 30))
          // feeds two separate write actions (create + append): materialize
          // the tiny aggregate once instead of re-scanning + re-aggregating
          // events per action
          .localCheckpoint()
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft_q97_zac"
        cells.filter(col("time_idx") <= 12).write.format("zarr")
          .option("dims", "time:13,y:10,x:15").option("chunks", "8,5,15")
          .option("cols", "sst").option("coords", "time:20000:1")
          .mode("overwrite").save(dir)
        cells.filter(col("time_idx") >= 13)
          .withColumn("time_idx", col("time_idx") - 13)
          .write.format("zarr")
          .option("dims", "time:18,y:10,x:15").option("chunks", "8,5,15")
          .option("cols", "sst").option("coords", "time:20013:1")
          .mode("append").save(dir)
        s.read.format("zarr").load(dir)
          .filter(!isnan(col("sst")))
          .groupBy(col("time").cast("long").as("t_coord"))
          .agg(count(lit(1)).as("n_cells"),
            round(sum(round(col("sst") * 100.0, 0).cast("long")
              .cast("double")) / 100.0, 2).as("sum_val"))
      },
      Some("""WITH cells AS (
                SELECT CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS INT) AS t_idx,
                       CAST(user_id % 150 // 15 AS INT) AS y,
                       CAST(user_id % 15 AS INT) AS x,
                       (CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS DOUBLE) / 100.0)
                         / count(*) AS value
                FROM events GROUP BY 1, 2, 3)
              SELECT CAST(20000 + t_idx AS BIGINT) AS t_coord,
                     count(*) AS n_cells,
                     round(CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS sum_val
              FROM cells WHERE t_idx BETWEEN 0 AND 30 GROUP BY t_idx"""),
      "SQL append extends the time COORDINATE: group-by-coordinate read-back ≡ from-events recompute"),

    // ── appends onto SHARDED stores: the recommended 100 TB layout can
    // grow. q93's cube lands in TWO SQL writes — a chunk-aligned sharded
    // create (t 0..15) and an append (t 16..30) whose new slices become
    // NEW shard objects (count asserted: 4 outer chunks of time-chunk 8
    // cover 31 days) — and the byte-range shard read-back must equal the
    // from-events recompute. ──────────────────────────────────────────────
    QueryDef("q98_zarr_sharded_append",
      (s, d) => {
        val cells = Tables.load(s, d, "events")
          .groupBy(
            datediff(to_date(col("ts")), lit("2024-01-01")).cast("int").as("time_idx"),
            (pmod(col("user_id"), lit(150)) / 15).cast("int").as("y_idx"),
            pmod(col("user_id"), lit(15)).cast("int").as("x_idx"))
          .agg((sum(round(col("value") * 100.0, 0).cast("long")).cast("double") / 100.0
            / count(lit(1))).as("sst"))
          .filter(col("time_idx").between(0, 30))
          // feeds two separate write actions (create + append): materialize
          // the tiny aggregate once instead of re-scanning + re-aggregating
          // events per action
          .localCheckpoint()
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft_q98_zsa"
        cells.filter(col("time_idx") <= 15).write.format("zarr")
          .option("dims", "time:16,y:10,x:15").option("chunks", "8,10,15")
          .option("shard", "2,5,15").option("v3", "true")
          .option("cols", "sst")
          .mode("overwrite").save(dir)
        cells.filter(col("time_idx") >= 16)
          .withColumn("time_idx", col("time_idx") - 16)
          .write.format("zarr")
          .option("dims", "time:15,y:10,x:15").option("chunks", "8,10,15")
          .option("cols", "sst")
          .mode("append").save(dir)
        // count stored shard objects through the STORE's FileSystem (the
        // gate must behave identically on hdfs/s3a, not just file:)
        val shardFs = new org.apache.hadoop.fs.Path(dir)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        val objIt = shardFs.listFiles(
          new org.apache.hadoop.fs.Path(dir, "sst/c"), true)
        var objs = 0
        while (objIt.hasNext) { if (objIt.next().isFile) objs += 1 }
        require(objs == 4, s"grown sharded store must hold 4 outer-chunk objects, found $objs")
        s.read.format("zarr").load(dir)
          .filter(!isnan(col("sst")))
          .groupBy(col("time_idx").cast("long").as("t"))
          .agg(count(lit(1)).as("n_cells"),
            round(sum(round(col("sst") * 100.0, 0).cast("long")
              .cast("double")) / 100.0, 2).as("sum_val"))
      },
      Some("""WITH cells AS (
                SELECT CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS INT) AS t_idx,
                       CAST(user_id % 150 // 15 AS INT) AS y,
                       CAST(user_id % 15 AS INT) AS x,
                       (CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS DOUBLE) / 100.0)
                         / count(*) AS value
                FROM events GROUP BY 1, 2, 3)
              SELECT CAST(t_idx AS BIGINT) AS t,
                     count(*) AS n_cells,
                     round(CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS sum_val
              FROM cells WHERE t_idx BETWEEN 0 AND 30 GROUP BY t_idx"""),
      "sharded store append through SQL: new shard objects only, object count asserted, oracle-exact"),

    // ── hdf5table mode("append"): PyTables append=True through SQL. q90's
    // doc_stats table lands in TWO writes — a chunked create (chunkRows 8,
    // deliberately NOT a multiple of the first batch's row count, so the
    // append must merge the straddled edge chunk) and an append of the
    // remaining groups — and reads back through the same format scan. Any
    // defect in the record encoding against the stored member layout, the
    // edge-chunk merge, the regrown B-tree, or the dims/EOF patches
    // mismatches the from-parquet recompute. ──────────────────────────────
    QueryDef("q99_hdf5table_append",
      (s, d) => {
        val table = Tables.load(s, d, "documents")
          .groupBy(col("lang"), col("source"))
          .agg(struct(
            count(lit(1)).cast("double").as("n_docs"),
            sum(col("n_chars")).cast("double").as("sum_chars")).as("stats"))
        val path = s"${System.getProperty("java.io.tmpdir")}/graft_q99.h5"
        new java.io.File(path).delete()
        val langs = table.select("lang").distinct()
          .orderBy("lang").collect().map(_.getString(0))
        val (first, rest) = langs.splitAt(math.max(1, langs.length / 2))
        table.filter(col("lang").isin(first.toSeq: _*))
          .write.format("hdf5table").option("var", "doc_stats")
          .option("chunkRows", "8").option("stringSizes", "lang:16,source:32")
          .mode("overwrite").save(path)
        table.filter(col("lang").isin(rest.toSeq: _*))
          .write.format("hdf5table").option("var", "doc_stats")
          .mode("append").save(path)
        s.read.format("hdf5table").option("var", "doc_stats").load(path)
          .select(col("lang"), col("stats.sum_chars").as("sc"),
            col("stats.n_docs").as("nd"))
          .groupBy("lang")
          .agg(sum(col("sc")).cast("long").as("sum_chars"),
            sum(col("nd")).cast("long").as("n_docs"))
      },
      Some("""WITH t AS (
                SELECT lang, source, count(*) AS n_docs, sum(n_chars) AS sum_chars
                FROM documents GROUP BY 1, 2)
              SELECT lang,
                     CAST(sum(sum_chars) AS BIGINT) AS sum_chars,
                     CAST(sum(n_docs) AS BIGINT) AS n_docs
              FROM t GROUP BY lang"""),
      "hdf5table mode(append): PyTables append=True — edge-chunk merge + regrown B-tree, oracle-exact"),

    // ── multi-tuple group append: the writeTrackResult shape through the
    // oracle. A store holding BOTH a (time,y,x) cube and a (time,ID) table
    // plus a time coordinate is built in a create + one appendGroupDataset
    // call growing every tuple together; the gate groups by the COORDINATE
    // value and mixes members, so a defect in either tuple's block-local
    // shift, the single metadata patch, or the coord extension mismatches
    // the from-events recompute. ──────────────────────────────────────────
    QueryDef("q100_zarr_group_append",
      (s, d) => {
        import graft.sources.{ZarrGroup, ZarrSource}
        val cells = Tables.load(s, d, "events")
          .groupBy(
            datediff(to_date(col("ts")), lit("2024-01-01")).cast("int").as("time_idx"),
            (pmod(col("user_id"), lit(150)) / 15).cast("int").as("y_idx"),
            pmod(col("user_id"), lit(15)).cast("int").as("x_idx"))
          .agg((sum(round(col("value") * 100.0, 0).cast("long")).cast("double") / 100.0
            / count(lit(1))).as("sst"))
          .filter(col("time_idx").between(0, 30))
          // reused by the create (≤12) AND the append (≥13) chunk-write jobs,
          // each a separate Spark action — materialize the (tiny) aggregate
          // once instead of re-scanning + re-aggregating events per phase
          .localCheckpoint()
        val acc = Tables.load(s, d, "events")
          .groupBy(
            datediff(to_date(col("ts")), lit("2024-01-01")).cast("int").as("time_idx"),
            pmod(col("user_id"), lit(5)).cast("int").as("ID_idx"))
          .agg(sum(round(col("value") * 100.0, 0).cast("long")).cast("double").as("acc"))
          .filter(col("time_idx").between(0, 30))
          .localCheckpoint() // same create/append double-use as `cells`
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft_q100_zga"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
        val w = new ZarrGroup.GroupWriter(dir)
        w.arrays(cells.filter(col("time_idx") <= 12),
          Seq("time" -> 13, "y" -> 10, "x" -> 15), Seq(8, 5, 15), Seq("sst"))
        w.arrays(acc.filter(col("time_idx") <= 12),
          Seq("time" -> 13, "ID" -> 5), Seq(8, 5), Seq("acc"))
        w.coord("time", Array.tabulate(13)(20000.0 + _))
        w.finish()
        ZarrGroup.appendGroupDataset(dir, "time", 18, Seq(
          ZarrGroup.AppendBlock(
            cells.filter(col("time_idx") >= 13)
              .withColumn("time_idx", col("time_idx") - 13),
            Seq("time", "y", "x"), Seq(8, 5, 15), Seq("sst")),
          ZarrGroup.AppendBlock(
            acc.filter(col("time_idx") >= 13)
              .withColumn("time_idx", col("time_idx") - 13),
            Seq("time", "ID"), Seq(8, 5), Seq("acc"))),
          newCoords = Map("time" -> Array.tabulate(18)(20013.0 + _)))
        // the two tuples share no primary grid, so each member reads through
        // its own array scan; the grown time axis is metadata-sized and
        // joins as a local relation
        def member(v: String) = s.read.format("zarr").option("var", v).load(dir)
          .filter(!isnan(col("value"))).groupBy(col("t_idx").as("time_idx"))
        val sstT = member("sst")
          .agg(count(lit(1)).as("n_cells"),
            sum(round(col("value") * 100.0, 0).cast("long")).as("sum_sst_e2"))
        val accT = member("acc").agg(sum(col("value").cast("long")).as("sum_acc"))
        val times = s.createDataFrame(
          ZarrSource.readLocalND(s"$dir/time")._2.toSeq.zipWithIndex
            .map { case (t, i) => (i, t) }).toDF("time_idx", "time")
        sstT.join(accT, Seq("time_idx"))
          .join(times, Seq("time_idx"))
          .select(col("time").cast("long").as("t_coord"), col("n_cells"),
            col("sum_sst_e2"), col("sum_acc"))
      },
      Some("""WITH cells AS (
                SELECT CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS INT) AS t_idx,
                       CAST(user_id % 150 // 15 AS INT) AS y,
                       CAST(user_id % 15 AS INT) AS x,
                       (CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS DOUBLE) / 100.0)
                         / count(*) AS value
                FROM events GROUP BY 1, 2, 3),
              c AS (SELECT t_idx, count(*) AS n_cells,
                           CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS BIGINT) AS sum_sst_e2
                    FROM cells WHERE t_idx BETWEEN 0 AND 30 GROUP BY t_idx),
              a AS (SELECT CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS INT) AS t_idx,
                           CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS BIGINT) AS sum_acc
                    FROM events
                    WHERE CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS INT) BETWEEN 0 AND 30
                    GROUP BY 1)
              SELECT CAST(20000 + c.t_idx AS BIGINT) AS t_coord,
                     c.n_cells, c.sum_sst_e2, a.sum_acc
              FROM c JOIN a ON a.t_idx = c.t_idx"""),
      "multi-tuple group append (writeTrackResult shape): both tuples + coord grow together, oracle-exact"),

    // ── pack-aware appends: the CF-packed i2 layout (q96's — the repo's
    // own measured recommendation, 6.7× smaller than f8) GROWS via SQL
    // mode("append"). The cube lands in two writes — a packed create
    // (t 0..12, so the time-chunk-8 grid leaves a PARTIAL edge chunk) and
    // an append carrying NO pack option (the STORE's scale/offset/fill
    // attrs drive the quantization) whose first slices merge into the
    // straddled edge IN RAW SPACE (committed codes copy bit-for-bit, never
    // re-quantize) — and the mask_and_scale read-back must equal the
    // one-shot from-events recompute. ─────────────────────────────────────
    QueryDef("q101_zarr_packed_append",
      (s, d) => {
        val cells = Tables.load(s, d, "events")
          .groupBy(
            datediff(to_date(col("ts")), lit("2024-01-01")).cast("int").as("time_idx"),
            (pmod(col("user_id"), lit(150)) / 15).cast("int").as("y_idx"),
            pmod(col("user_id"), lit(15)).cast("int").as("x_idx"))
          .agg((sum(round(col("value") * 100.0, 0).cast("long")).cast("double") / 100.0
            / count(lit(1))).as("mean"))
          .filter(col("time_idx").between(0, 30))
          // feeds two separate write actions (create + append): materialize
          // the tiny aggregate once instead of re-scanning + re-aggregating
          // events per action
          .localCheckpoint()
          .select(col("time_idx"), col("y_idx"), col("x_idx"),
            (round(col("mean") * 100.0, 0) / 100.0).as("sst"))
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft_q101_zpa"
        cells.filter(col("time_idx") <= 12).write.format("zarr")
          .option("dims", "time:13,y:10,x:15").option("chunks", "8,5,15")
          .option("cols", "sst").option("pack", "0.01")
          .mode("overwrite").save(dir)
        cells.filter(col("time_idx") >= 13)
          .withColumn("time_idx", col("time_idx") - 13)
          .write.format("zarr")
          .option("dims", "time:18,y:10,x:15").option("chunks", "8,5,15")
          .option("cols", "sst")
          .mode("append").save(dir)
        s.read.format("zarr").load(dir)
          .filter(!isnan(col("sst")) && col("time_idx").between(5, 25))
          .groupBy(col("time_idx").cast("long").as("t"))
          .agg(count(lit(1)).as("n_cells"),
            sum(round(col("sst") * 100.0, 0).cast("long")).as("sum_scaled"))
      },
      Some("""WITH cells AS (
                SELECT CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS INT) AS t_idx,
                       CAST(round(((CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS DOUBLE) / 100.0)
                         / count(*)) * 100.0) AS BIGINT) AS q
                FROM events GROUP BY 1, CAST(user_id % 150 // 15 AS INT), CAST(user_id % 15 AS INT))
              SELECT CAST(t_idx AS BIGINT) AS t,
                     count(*) AS n_cells,
                     CAST(sum(q) AS BIGINT) AS sum_scaled
              FROM cells WHERE t_idx BETWEEN 5 AND 25 GROUP BY t_idx"""),
      "CF-packed store GROWS: packed create + attr-driven packed append ≡ one-shot recompute"),

    // ── int64 time-coordinate appends: real `to_zarr` stores carry i8
    // time axes (xarray's default "hours since …" datetime64 encoding).
    // The store is created through SQL, its time axis hand-rewritten as a
    // raw '<i8' member (the foreign-store fixture — consolidated metadata
    // dropped so the listing discovery sees it), and an SQL append with
    // `.option("coords", …)` must extend the axis AS int64 (the chunk is
    // re-read raw and sign-checked) while the group read-back grouped by
    // the coordinate VALUE equals the from-events recompute. ──────────────
    QueryDef("q102_zarr_i8_coord_append",
      (s, d) => {
        val cells = Tables.load(s, d, "events")
          .groupBy(
            datediff(to_date(col("ts")), lit("2024-01-01")).cast("int").as("time_idx"),
            (pmod(col("user_id"), lit(150)) / 15).cast("int").as("y_idx"),
            pmod(col("user_id"), lit(15)).cast("int").as("x_idx"))
          .agg((sum(round(col("value") * 100.0, 0).cast("long")).cast("double") / 100.0
            / count(lit(1))).as("sst"))
          .filter(col("time_idx").between(0, 30))
          // feeds two separate write actions (create + append): materialize
          // the tiny aggregate once instead of re-scanning + re-aggregating
          // events per action
          .localCheckpoint()
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft_q102_zi8"
        cells.filter(col("time_idx") <= 12).write.format("zarr")
          .option("dims", "time:13,y:10,x:15").option("chunks", "8,5,15")
          .option("cols", "sst").option("coords", "time:438000:24")
          .mode("overwrite").save(dir)
        // hand-written i8 fixture: rewrite the time axis as raw int64
        // "hours since 1900" values, through the store's FileSystem
        val fsQ = new org.apache.hadoop.fs.Path(dir)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        graft.sources.ZarrSource.putBytes(fsQ,
          new org.apache.hadoop.fs.Path(dir, "time/.zarray"),
          """{"zarr_format": 2, "shape": [13], "chunks": [13],
            | "dtype": "<i8", "compressor": null, "fill_value": -1,
            | "order": "C", "filters": null}""".stripMargin.getBytes)
        val tb = java.nio.ByteBuffer.allocate(13 * 8)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        (0 until 13).foreach(i => tb.putLong(438000L + 24L * i))
        graft.sources.ZarrSource.putBytes(fsQ,
          new org.apache.hadoop.fs.Path(dir, "time/0"), tb.array())
        fsQ.delete(new org.apache.hadoop.fs.Path(dir, ".zmetadata"), false)
        cells.filter(col("time_idx") >= 13)
          .withColumn("time_idx", col("time_idx") - 13)
          .write.format("zarr")
          .option("dims", "time:18,y:10,x:15").option("chunks", "8,5,15")
          .option("cols", "sst").option("coords", s"time:${438000 + 24 * 13}:24")
          .mode("append").save(dir)
        // the extended axis must STILL be raw little-endian int64
        val cin = fsQ.open(new org.apache.hadoop.fs.Path(dir, "time/0"))
        val cBytes = try org.apache.commons.io.IOUtils.toByteArray(cin) finally cin.close()
        require(cBytes.length == 31 * 8,
          s"i8 coord chunk must hold 31 longs, got ${cBytes.length} bytes")
        val cb = java.nio.ByteBuffer.wrap(cBytes)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        (0 until 31).foreach { i =>
          require(cb.getLong(i * 8) == 438000L + 24L * i,
            s"i8 coord value drift at $i: ${cb.getLong(i * 8)}")
        }
        s.read.format("zarr").load(dir)
          .filter(!isnan(col("sst")))
          .groupBy(col("time").cast("long").as("t_coord"))
          .agg(count(lit(1)).as("n_cells"),
            round(sum(round(col("sst") * 100.0, 0).cast("long")
              .cast("double")) / 100.0, 2).as("sum_val"))
      },
      Some("""WITH cells AS (
                SELECT CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS INT) AS t_idx,
                       CAST(user_id % 150 // 15 AS INT) AS y,
                       CAST(user_id % 15 AS INT) AS x,
                       (CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS DOUBLE) / 100.0)
                         / count(*) AS value
                FROM events GROUP BY 1, 2, 3)
              SELECT CAST(438000 + 24 * t_idx AS BIGINT) AS t_coord,
                     count(*) AS n_cells,
                     round(CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS sum_val
              FROM cells WHERE t_idx BETWEEN 0 AND 30 GROUP BY t_idx"""),
      "int64 time-coordinate append: hand-written '<i8' axis fixture grows through SQL, values sign-checked raw"),

    // ── PyTables vector columns (HDF5 class-10 array members): a compound
    // table whose `stats` member is a FIXED-SHAPE f64 vector per record —
    // the `Float64Col(shape=(k,))` layout — built as a foreign fixture via
    // the writer dual and ingested through `format("hdf5table")` as an
    // ArrayType column. The gate compares per-element reads against the
    // from-parquet recompute, so a defect in the class-10 parse, the
    // member-offset stride, or the ArrayData conversion mismatches. ───────
    QueryDef("q103_hdf5table_vector",
      (s, d) => {
        val agg = Tables.load(s, d, "documents")
          .groupBy("lang")
          .agg(count(lit(1)).cast("double").as("n_docs"),
            sum(col("n_chars")).cast("double").as("sum_chars"))
          .orderBy("lang")
          .collect() // driver-side: one record per language (bounded)
        val langs = agg.map(_.getString(0)).toSeq
        val vecs = agg.map(r => Array(r.getDouble(1), r.getDouble(2))).toSeq
        val path = s"${System.getProperty("java.io.tmpdir")}/graft_q103.h5"
        val img = graft.sources.Hdf5.assemble(Seq(graft.sources.Hdf5.WriteVar(
          "doc_stats", Seq(langs.length), Array.empty,
          typed = Some(graft.sources.Hdf5.CompoundData(Seq(
            "lang" -> graft.sources.Hdf5.StrCol(langs, 16),
            "stats" -> graft.sources.Hdf5.ArrayCol(vecs, Seq(2))))))))
        val fsQ = new org.apache.hadoop.fs.Path(path)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        graft.sources.ZarrSource.putBytes(fsQ,
          new org.apache.hadoop.fs.Path(path), img)
        s.read.format("hdf5table").option("var", "doc_stats").load(path)
          .select(col("lang"),
            col("stats").getItem(0).cast("long").as("n_docs"),
            col("stats").getItem(1).cast("long").as("sum_chars"))
      },
      Some("""SELECT lang,
                     CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(n_chars) AS BIGINT) AS sum_chars
              FROM documents GROUP BY lang"""),
      "PyTables vector columns: class-10 array members ingest as ArrayType, element reads oracle-exact"),

    // ── netCDF-4 CF flag variables (HDF5 class-8 enums): a flag grid
    // derived from events lands as an ENUM dataset (codes over an i4 base
    // with a name map IN THE TYPE), and `format("netcdf")` ingests it with
    // the map surfaced as value-column metadata. The gate resolves codes
    // to flag NAMES through that metadata and groups by name, so a defect
    // in the class-8 parse (base walk, name padding, code decode) or the
    // metadata plumbing mismatches the recompute. ─────────────────────────
    QueryDef("q104_netcdf_enum_flags",
      (s, d) => {
        val cells = Tables.load(s, d, "events")
          .groupBy(
            datediff(to_date(col("ts")), lit("2024-01-01")).cast("int").as("time_idx"),
            (pmod(col("user_id"), lit(150)) / 15).cast("int").as("y_idx"),
            pmod(col("user_id"), lit(15)).cast("int").as("x_idx"))
          .agg(sum(round(col("value") * 100.0, 0).cast("long")).as("q"))
          .filter(col("time_idx").between(0, 30))
          .collect() // driver-side: the 31×10×15 flag grid is metadata-sized
        val codes = Array.fill(31 * 10 * 15)(0) // absent cells stay "clear"
        cells.foreach { r =>
          val flat = (r.getInt(0) * 10 + r.getInt(1)) * 15 + r.getInt(2)
          codes(flat) = if (r.getLong(3) <= 0L) 1 else 4
        }
        val path = s"${System.getProperty("java.io.tmpdir")}/graft_q104.h5"
        val img = graft.sources.Hdf5.assemble(Seq(graft.sources.Hdf5.WriteVar(
          "flags", Seq(31, 10, 15), Array.empty,
          typed = Some(graft.sources.Hdf5.EnumGridData(codes,
            Seq("clear", "cloudy", "ice"), Seq(0L, 1L, 4L))))))
        val fsQ = new org.apache.hadoop.fs.Path(path)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        graft.sources.ZarrSource.putBytes(fsQ,
          new org.apache.hadoop.fs.Path(path), img)
        val df = s.read.format("netcdf").option("var", "flags").load(path)
        val meta = df.schema("value").metadata
        val names = meta.getStringArray("enum_names")
          .zip(meta.getLongArray("enum_values"))
        require(names.toSeq == Seq(("clear", 0L), ("cloudy", 1L), ("ice", 4L)),
          s"enum map must ride the value column metadata, got ${names.toSeq}")
        val flagCol = names.foldLeft(lit("unknown")) { case (acc, (nm, cd)) =>
          when(col("value") === cd.toDouble, lit(nm)).otherwise(acc)
        }
        df.groupBy(flagCol.as("flag")).agg(count(lit(1)).as("n"))
      },
      Some("""WITH cells AS (
                SELECT CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS INT) AS t_idx,
                       CASE WHEN sum(CAST(round(value * 100.0) AS BIGINT)) <= 0
                            THEN 'cloudy' ELSE 'ice' END AS flag
                FROM events GROUP BY 1, CAST(user_id % 150 // 15 AS INT), CAST(user_id % 15 AS INT)),
              coded AS (SELECT flag FROM cells WHERE t_idx BETWEEN 0 AND 30)
              SELECT flag, n FROM (
                SELECT flag, count(*) AS n FROM coded GROUP BY flag
                UNION ALL
                SELECT 'clear' AS flag, 31 * 10 * 15 - count(*) AS n FROM coded
              ) WHERE n > 0"""),
      "netCDF-4 CF flag variables: class-8 enum decode + name-map metadata, grouped-by-flag-name oracle-exact"),

    // ── the COMPOSED 100 TB layout: CF-packed int16 inner chunks INSIDE
    // sharding_indexed objects — the byte lever (6.7× smaller) and the
    // object-count lever (1/∏(chunks/inner) objects) together — created
    // and GROWN through SQL. The cube lands as a packed sharded create
    // plus an attr-driven append (new slices = new shard objects, the
    // straddled edge shard read-merges in raw space), and the byte-range
    // shard read-back must equal the from-events recompute. ───────────────
    QueryDef("q105_zarr_packed_sharded_append",
      (s, d) => {
        val cells = Tables.load(s, d, "events")
          .groupBy(
            datediff(to_date(col("ts")), lit("2024-01-01")).cast("int").as("time_idx"),
            (pmod(col("user_id"), lit(150)) / 15).cast("int").as("y_idx"),
            pmod(col("user_id"), lit(15)).cast("int").as("x_idx"))
          .agg((sum(round(col("value") * 100.0, 0).cast("long")).cast("double") / 100.0
            / count(lit(1))).as("mean"))
          .filter(col("time_idx").between(0, 30))
          // feeds two separate write actions (create + append): materialize
          // the tiny aggregate once instead of re-scanning + re-aggregating
          // events per action
          .localCheckpoint()
          .select(col("time_idx"), col("y_idx"), col("x_idx"),
            (round(col("mean") * 100.0, 0) / 100.0).as("sst"))
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft_q105_zps"
        cells.filter(col("time_idx") <= 12).write.format("zarr")
          .option("dims", "time:13,y:10,x:15").option("chunks", "8,10,15")
          .option("shard", "2,5,15").option("v3", "true")
          .option("cols", "sst").option("pack", "0.01")
          .mode("overwrite").save(dir)
        cells.filter(col("time_idx") >= 13)
          .withColumn("time_idx", col("time_idx") - 13)
          .write.format("zarr")
          .option("dims", "time:18,y:10,x:15").option("chunks", "8,10,15")
          .option("cols", "sst")
          .mode("append").save(dir)
        s.read.format("zarr").load(dir)
          .filter(!isnan(col("sst")) && col("time_idx").between(5, 25))
          .groupBy(col("time_idx").cast("long").as("t"))
          .agg(count(lit(1)).as("n_cells"),
            sum(round(col("sst") * 100.0, 0).cast("long")).as("sum_scaled"))
      },
      Some("""WITH cells AS (
                SELECT CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS INT) AS t_idx,
                       CAST(round(((CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS DOUBLE) / 100.0)
                         / count(*)) * 100.0) AS BIGINT) AS q
                FROM events GROUP BY 1, CAST(user_id % 150 // 15 AS INT), CAST(user_id % 15 AS INT))
              SELECT CAST(t_idx AS BIGINT) AS t,
                     count(*) AS n_cells,
                     CAST(sum(q) AS BIGINT) AS sum_scaled
              FROM cells WHERE t_idx BETWEEN 5 AND 25 GROUP BY t_idx"""),
      "the composed 100 TB layout: packed int16 INSIDE sharded objects, created + grown through SQL, oracle-exact"),

    // ── EMBEDDING tables as PyTables vector columns: the `embeddings`
    // table (id, Array[Float], label) lands in hdf5table with the
    // embedding as a class-10 f64 VECTOR member — the layout PyTables
    // keeps for `Float64Col(shape=(64,))` — in TWO writes (create +
    // mode("append"), so the vector encode runs through BOTH the assembler
    // and the append's stored-member encoder), and reads back as an
    // ArrayType column whose per-element scaled sums must equal the
    // from-parquet recompute. ─────────────────────────────────────────────
    QueryDef("q106_hdf5table_embeddings",
      (s, d) => {
        val emb = Tables.load(s, d, "embeddings")
          .select(col("vec_id").cast("long").as("vec_id"),
            col("embedding").cast("array<double>").as("embedding"),
            col("label").cast("double").as("label"))
        val path = s"${System.getProperty("java.io.tmpdir")}/graft_q106.h5"
        new java.io.File(path).delete()
        emb.filter(pmod(col("vec_id"), lit(2)) === 0)
          .write.format("hdf5table").option("var", "vectors")
          .option("chunkRows", "64")
          .mode("overwrite").save(path)
        emb.filter(pmod(col("vec_id"), lit(2)) === 1)
          .write.format("hdf5table").option("var", "vectors")
          .mode("append").save(path)
        val q = (x: org.apache.spark.sql.Column) =>
          round(x * 1000.0, 0).cast("long")
        s.read.format("hdf5table").option("var", "vectors").load(path)
          .select(col("label"),
            aggregate(col("embedding"), lit(0L), (a, x) => a + q(x) * q(x)).as("ssq"))
          .groupBy(col("label").cast("long").as("label"))
          .agg(count(lit(1)).as("n_vecs"), sum(col("ssq")).as("sum_q"))
      },
      Some("""SELECT CAST(label AS BIGINT) AS label,
                     count(*) AS n_vecs,
                     CAST(sum(list_sum(list_transform(embedding,
                       x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)
                          * CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)))) AS BIGINT) AS sum_q
              FROM embeddings GROUP BY 1"""),
      "embedding tables as PyTables vector columns: class-10 write + append + ArrayType read, oracle-exact"),

    // ── CF-packed CLASSIC (NetCDF-3) files: the ERA5-download shape —
    // int16 records + scale_factor/add_offset/_FillValue in a CDF-1
    // header. The cube lands via the packed classic write dual and reads
    // back through the SAME `format("netcdf")` scan as q92's NC4 file,
    // whose classic branch now drives mask_and_scale from the per-variable
    // attributes (round-10 fix: it used to read raw codes silently). ──────
    QueryDef("q107_netcdf3_packed",
      (s, d) => {
        import graft.sources.{NetCDF3Source, NetCDF4Source}
        val cells = Tables.load(s, d, "events")
          .groupBy(
            datediff(to_date(col("ts")), lit("2024-01-01")).cast("int").as("t_idx"),
            (pmod(col("user_id"), lit(150)) / 15).cast("int").as("y"),
            pmod(col("user_id"), lit(15)).cast("int").as("x"))
          .agg((sum(round(col("value") * 100.0, 0).cast("long")).cast("double") / 100.0
            / count(lit(1))).as("mean"))
          .filter(col("t_idx").between(0, 30))
          .select(col("t_idx"), col("y"), col("x"),
            (round(col("mean") * 100.0, 0) / 100.0).as("value"))
        val path = s"${System.getProperty("java.io.tmpdir")}/graft_q107.nc"
        new java.io.File(path).delete()
        NetCDF3Source.write3D(cells, path, "sst", shape = (31, 10, 15),
          pack = Some(NetCDF4Source.Pack(scale = 0.01)))
        s.read.format("netcdf").option("var", "sst").load(path)
          .filter(!isnan(col("value")) && col("t_idx").between(5, 25))
          .groupBy(col("t_idx").cast("long").as("t"))
          .agg(count(lit(1)).as("n_cells"),
            sum(round(col("value") * 100.0, 0).cast("long")).as("sum_scaled"))
      },
      Some("""WITH cells AS (
                SELECT CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS INT) AS t_idx,
                       CAST(round(((CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS DOUBLE) / 100.0)
                         / count(*)) * 100.0) AS BIGINT) AS q
                FROM events GROUP BY 1, CAST(user_id % 150 // 15 AS INT), CAST(user_id % 15 AS INT))
              SELECT CAST(t_idx AS BIGINT) AS t,
                     count(*) AS n_cells,
                     CAST(sum(q) AS BIGINT) AS sum_scaled
              FROM cells WHERE t_idx BETWEEN 5 AND 25 GROUP BY t_idx"""),
      "CF-packed CLASSIC netcdf (ERA5-download shape): attr-driven mask_and_scale on the NC3 branch, oracle-exact"),

    // ── mesh DETECT through the cell path (test_unstructured_preprocessing
    // .py:23–40): a (time, ncells) cube ingests through the 2-D netcdf DSv2
    // exactly like q87, then runs the REAL cell-keyed detect entry
    // (UnstructuredIngest.preprocessCells → Detect.preprocess with
    // y=cell/x=0): fixed-baseline doy climatology + per-cell global-extreme
    // threshold + flags. Determinism contract: cube values are EXACT scaled
    // integers (so the climatology is exact-sum/n and anomalies are
    // bit-identical on both engines) and the threshold runs the HISTOGRAM
    // quantile (the q13/q61-gated bin-interpolation arithmetic, pure
    // closed-form on integer counts) rather than a sort-based percentile,
    // so threshold doubles are bit-identical too. The 30 t_idx re-time to 3
    // synthetic years × 10 doys so the doy climatology pools across years.
    QueryDef("q108_mesh_detect",
      (s, d) => {
        import graft.sources.NetCDF4Source
        val nt = 30; val nc = 100
        val cube = Tables.load(s, d, "events")
          .groupBy(
            datediff(to_date(col("ts")), lit("2024-01-01")).cast("int").as("t_idx"),
            pmod(col("user_id"), lit(nc)).cast("int").as("cell"))
          .agg(floor(sum(round(col("value") * 100.0, 0).cast("long")).cast("double")
            / count(lit(1)) + 0.5).cast("double").as("v"))
        val arr = Array.fill(nt * nc)(Double.NaN)
        cube.collect().foreach { r =>
          val t = r.getInt(0); val c = r.getInt(1)
          if (t >= 0 && t < nt && c >= 0 && c < nc) arr(t * nc + c) = r.getDouble(2)
        }
        val path = s"${System.getProperty("java.io.tmpdir")}/graft_q108.nc"
        NetCDF4Source.writeVars(s, path, Seq(NetCDF4Source.VarSpec(
          "sst", Seq(nt, nc), arr, chunkDims = Some(Seq(8, nc)))))
        val field = s.read.format("netcdf").option("var", "sst").load(path)
          .filter(!isnan(col("value")))
          .select(
            to_timestamp(date_add(
              make_date(lit(2001) + pmod(col("t_idx"), lit(3)), lit(1), lit(1)),
              expr("CAST(t_idx div 3 AS INT)"))).as("time"),
            col("cell"), col("value"))
        val (_, _, ext) = graft.marex.UnstructuredIngest.preprocessCells(field,
          graft.marex.DetectConfig(methodAnomaly = "fixed_baseline",
            methodExtreme = "global_extreme", thresholdPercentile = 95,
            methodPercentile = "approximate", precision = 1.0, maxAnomaly = 500.0))
        ext.groupBy(col("cell").cast("long").as("cell"))
          .agg(round(max(col("threshold")) * 10000.0, 0).cast("long").as("thr_e4"),
            count(when(col("extreme"), 1)).as("n_extreme"),
            count(lit(1)).as("n_total"))
      },
      Some("""WITH cube AS (
                SELECT CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS INT) AS t_idx,
                       CAST(user_id % 100 AS INT) AS cell,
                       floor(CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS DOUBLE)
                         / count(*) + 0.5) AS v
                FROM events GROUP BY 1, 2),
              f AS (SELECT cell, t_idx // 3 + 1 AS doy, v
                    FROM cube WHERE t_idx BETWEEN 0 AND 29),
              clim AS (SELECT cell, doy, CAST(sum(v) AS DOUBLE) / count(*) AS clim
                       FROM f GROUP BY 1, 2),
              anom AS (SELECT f.cell, f.v - clim.clim AS a
                       FROM f JOIN clim ON clim.cell = f.cell AND clim.doy = f.doy),
              binned AS (SELECT cell,
                           CASE WHEN a < 0.0 THEN 0
                                ELSE least(CAST(floor(a / 1.0) AS INT) + 1, 500)
                           END AS bin,
                           count(*) AS cnt
                         FROM anom GROUP BY 1, 2),
              cdf AS (SELECT cell, bin, cnt,
                             CAST(sum(cnt) OVER (PARTITION BY cell ORDER BY bin
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                               / CAST(sum(cnt) OVER (PARTITION BY cell) AS DOUBLE) AS cdf,
                             lag(bin) OVER (PARTITION BY cell ORDER BY bin) AS prev_bin,
                             CAST(sum(cnt) OVER (PARTITION BY cell ORDER BY bin
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS DOUBLE)
                               / CAST(sum(cnt) OVER (PARTITION BY cell) AS DOUBLE) AS prev_cdf
                      FROM binned),
              hit AS (SELECT cell, bin, cdf,
                             coalesce(prev_cdf, 0.0) AS cdf_prev,
                             CASE WHEN prev_bin IS NULL OR prev_bin < 1 THEN 0.0
                                  ELSE CAST(prev_bin AS DOUBLE) - 0.5 END AS c_prev,
                             CASE WHEN bin >= 1 THEN CAST(bin AS DOUBLE) - 0.5
                                  ELSE 0.0 END AS c_cur
                      FROM cdf
                      WHERE cdf >= 0.95 AND (prev_cdf IS NULL OR prev_cdf < 0.95)),
              thr AS (SELECT cell,
                             CASE WHEN bin = 0 THEN 0.0
                                  ELSE c_prev + (0.95 - cdf_prev) / (cdf - cdf_prev)
                                         * (c_cur - c_prev)
                             END AS threshold
                      FROM hit)
              SELECT CAST(anom.cell AS BIGINT) AS cell,
                     CAST(round(max(thr.threshold) * 10000.0) AS BIGINT) AS thr_e4,
                     count(*) FILTER (WHERE a >= thr.threshold) AS n_extreme,
                     count(*) AS n_total
              FROM anom JOIN thr ON thr.cell = anom.cell
              GROUP BY anom.cell"""),
      "Mesh DETECT through the cell path (marEx unstructured preprocessing): 2-D ingest + preprocessCells, oracle-exact")
  )
}
