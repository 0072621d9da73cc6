package graft.marex

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.json4s._

import graft.sources.ZarrGroup

/** Export a [[Track.TrackResult]] as the reference's OUTPUT dataset — the
  * zarr group `tracker.run().to_zarr(path)` produces (track.py:210–221,
  * helper.py:505), so a marEx user's downstream xarray tooling opens this
  * engine's results unchanged:
  *
  * {{{
  *   ID_field      (time, lat, lon)          event id per cell, 0 background
  *   global_ID     (time, ID)                id present at t (0 absent)
  *   area          (time, ID)                NaN absent
  *   centroid      (component, time, ID)     0=lat, 1=lon; NaN absent
  *   presence      (time, ID)                1.0 / 0.0
  *   time_start    (ID)   epoch seconds
  *   time_end      (ID)   epoch seconds
  *   merge_ledger  (time, ID, sibling_ID)    sibling event ids, −1 padding
  * }}}
  *
  * plus `time` (epoch seconds), `lat`, `lon`, `ID` coordinate arrays and
  * consolidated metadata. All arrays are `<f8` (xarray promotes int-semantic
  * vars to float on NaN-capable load anyway); background fills mirror the
  * reference exactly: 0 for ID/presence fields (track.py:1398), −1 for
  * ledger padding, NaN for float properties.
  *
  * Scale shape: the dense cube (`ID_field`) is written by
  * [[ZarrGroup.GroupWriter.arrays]] — one shuffle, one task per chunk — and
  * the background is NEVER materialized as rows: absent cells become the
  * member's fill on the task side and absent chunk files read back as fill.
  * The (time, ID) tables are event-bounded (not field-bounded); the only
  * driver-side collects are the time axis and the lat/lon axes — bounded by
  * #timesteps and grid height/width, the same bounds the tracker itself
  * already holds.
  */
object ZarrOutput {

  /** @param res       tracking result (gridded)
    * @param geom      (y, x, lat, lon, …) cell geometry — the lat/lon axes
    *                  are recovered from it (first value per row/column)
    * @param spec      grid dims
    * @param timeChunk time-axis chunking for the dense cube (the reference
    *                  fixture writes 2–25-step time chunks); spatial chunks
    *                  cap at 720×1440 so a 0.25° global grid stays one
    *                  spatial tile per time slab
    * @param attrs     extra group attributes (merged over the defaults)
    * @param timeAxis  the SOURCE FIELD's full time axis. Pass it whenever
    *                  preprocessing can erase whole timesteps: a slice with
    *                  no surviving events still occupies its index in the
    *                  written time coordinate (the reference's to_zarr
    *                  carries the full input axis), or downstream alignment
    *                  against the source archive shifts by one from that
    *                  day on. Default: derived from the result (complete
    *                  only when every timestep kept at least one event). */
  def writeTrackResult(res: Track.TrackResult, geom: DataFrame, spec: GridSpec,
      dir: String, timeChunk: Int = 16, v3: Boolean = false,
      attrs: Map[String, String] = Map.empty,
      timeAxis: Option[Seq[java.sql.Timestamp]] = None): Unit = {
    val spark = res.idField.sparkSession
    import spark.implicits._

    // ── bounded driver-side axes ──
    val times = timeAxis.map(_.toArray).getOrElse(
      res.idField.select("time").union(res.eventProps.select("time"))
        .distinct().orderBy("time").as[java.sql.Timestamp].collect())
    require(times.nonEmpty, "writeTrackResult: empty result (no timesteps)")
    val nt = times.length
    val timeIdxDf = broadcast(
      times.zipWithIndex.toSeq.toDF("time", "time_idx"))
    val nIds = math.max(1L, res.events.agg(coalesce(max(col("event_id")), lit(0L)))
      .head().getLong(0)).toInt
    val maxSib = math.max(1L, res.mergeLedger
      .agg(coalesce(max(size(col("sibling_event_ids"))), lit(0)))
      .head().getInt(0).toLong).toInt

    val latAxis = geom.groupBy("y").agg(first("lat").as("lat")).orderBy("y")
      .select(col("lat").cast("double")).as[Double].collect()
    val lonAxis = geom.groupBy("x").agg(first("lon").as("lon")).orderBy("x")
      .select(col("lon").cast("double")).as[Double].collect()
    require(latAxis.length == spec.ny && lonAxis.length == spec.nx,
      s"geom axes (${latAxis.length}×${lonAxis.length}) disagree with spec " +
        s"(${spec.ny}×${spec.nx})")

    val w = new ZarrGroup.GroupWriter(dir, v3)
    val tDim = "time" -> nt
    val idDim = "ID" -> nIds
    val tCh = math.min(timeChunk, nt)
    val idCh = math.min(nIds, 65536)

    // dense id cube — 0 background like the reference (track.py:1398)
    w.arrays(
      res.idField.join(timeIdxDf, "time").select(
        col("time_idx"), col("y").cast("int").as("lat_idx"),
        col("x").cast("int").as("lon_idx"),
        col("event_id").cast("double").as("ID_field")),
      dims = Seq(tDim, "lat" -> spec.ny, "lon" -> spec.nx),
      chunks = Seq(tCh, math.min(spec.ny, 720), math.min(spec.nx, 1440)),
      valueCols = Seq("ID_field"), fill = 0.0)

    writeEventTables(w, res.eventProps, res.events, res.mergeLedger,
      timeIdxDf, tDim, idDim, tCh, idCh, maxSib)

    // coordinate axes
    w.coord("time", times.map(_.getTime / 1000.0))
    w.coord("lat", latAxis)
    w.coord("lon", lonAxis)
    w.coord("ID", Array.tabulate(nIds)(i => (i + 1).toDouble))

    w.finish(Map(
      "title" -> "graft tracked events",
      "n_events" -> nIds.toString,
      "periodic_x" -> spec.periodicX.toString) ++ attrs)
  }

  /** The per-(time, ID) event tables + lifetime bounds + sibling ledger
    * every tracked export writes — ONE definition shared by the gridded
    * and unstructured exporters, so a fill/dtype/padding fix cannot
    * silently miss one layout. `props` needs (time, event_id, area,
    * cen_lat, cen_lon); `events` needs (event_id, time_start, time_end);
    * the ledger is −1-padded along sibling_ID like the reference. */
  private def writeEventTables(w: ZarrGroup.GroupWriter, props: DataFrame,
      events: DataFrame, mergeLedger: DataFrame, timeIdxDf: DataFrame,
      tDim: (String, Int), idDim: (String, Int), tCh: Int, idCh: Int,
      maxSib: Int): Unit = {
    val perT = props.join(timeIdxDf, "time").select(
      col("time_idx"), (col("event_id") - 1).cast("int").as("ID_idx"),
      col("event_id").cast("double").as("global_ID"),
      lit(1.0).as("presence"),
      col("area").cast("double").as("area"),
      col("cen_lat").cast("double"), col("cen_lon").cast("double"))
    w.arrays(perT, Seq(tDim, idDim), Seq(tCh, idCh),
      valueCols = Seq("global_ID", "presence"), fill = 0.0)
    w.arrays(perT, Seq(tDim, idDim), Seq(tCh, idCh),
      valueCols = Seq("area"), fill = Double.NaN)
    w.arrays(
      perT.select(col("time_idx"), col("ID_idx"),
          array(struct(lit(0).as("c"), col("cen_lat").as("v")),
            struct(lit(1).as("c"), col("cen_lon").as("v"))).as("cs"))
        .select(col("time_idx"), col("ID_idx"), explode(col("cs")).as("e"))
        .select(col("e.c").as("component_idx"), col("time_idx"), col("ID_idx"),
          col("e.v").as("centroid")),
      dims = Seq("component" -> 2, tDim, idDim), chunks = Seq(2, tCh, idCh),
      valueCols = Seq("centroid"), fill = Double.NaN)
    // per-ID lifetime bounds (epoch seconds, the fixture's own time unit)
    w.arrays(
      events.select((col("event_id") - 1).cast("int").as("ID_idx"),
        col("time_start").cast("double").as("time_start"),
        col("time_end").cast("double").as("time_end")),
      dims = Seq(idDim), chunks = Seq(idCh),
      valueCols = Seq("time_start", "time_end"), fill = Double.NaN)
    // sibling ledger, −1-padded along sibling_ID like the reference
    w.arrays(
      mergeLedger.join(timeIdxDf, "time").select(
          col("time_idx"), (col("event_id") - 1).cast("int").as("ID_idx"),
          posexplode(col("sibling_event_ids")).as(Seq("sibling_ID_idx", "sib")))
        .select(col("time_idx"), col("ID_idx"), col("sibling_ID_idx"),
          col("sib").cast("double").as("merge_ledger")),
      dims = Seq(tDim, idDim, "sibling_ID" -> maxSib),
      chunks = Seq(tCh, idCh, maxSib),
      valueCols = Seq("merge_ledger"), fill = -1.0)
  }

  /** Export an unstructured (mesh) tracking result as the reference's
    * output dataset on `(time, ncells)` — same variable set as
    * [[writeTrackResult]] with the cell dimension in place of (lat, lon),
    * plus the mesh's own per-cell arrays (`lat`, `lon`, `cell_areas`,
    * `mask(ncells)`) so the store is self-describing the way the
    * reference's unstructured fixtures are. Event properties (area,
    * centroid, lifetime) are derived here with the SAME area-weighted
    * spherical centroid the gridded tracker uses ([[Track.objectProps]],
    * mesh cells mapped to degenerate (y=cell, x=0) coordinates) — the
    * unstructured result carries only the id field and genealogy.
    *
    * Scale shape: identical to [[writeTrackResult]] — the (time, ncells)
    * cube is one shuffle with fill-0 background; per-cell arrays are
    * mesh-sized driver writes, the same bound the Mesh itself already
    * holds in memory. */
  def writeUnstructuredResult(res: UnstructuredTracker.Result,
      mesh: UnstructuredTracker.Mesh, dir: String, timeChunk: Int = 16,
      v3: Boolean = false, attrs: Map[String, String] = Map.empty): Unit = {
    val spark = res.idField.sparkSession
    import spark.implicits._

    val times = res.idField.select("time").distinct().orderBy("time")
      .as[java.sql.Timestamp].collect()
    require(times.nonEmpty, "writeUnstructuredResult: empty result (no timesteps)")
    val nt = times.length
    val timeIdxDf = broadcast(times.zipWithIndex.toSeq.toDF("time", "time_idx"))
    val nCells = mesh.lat.length

    // degenerate-grid geometry so the gridded props kernel applies as-is
    val geom = spark.sparkContext.parallelize(0 until nCells, 8)
      .map(c => (c, 0, mesh.lat(c), mesh.lon(c), mesh.area(c)))
      .toDF("y", "x", "lat", "lon", "area")
    val ids = res.idField.select(col("time"), col("cell").as("y"),
      lit(0).as("x"), col("event_id"))
    val props = Track.objectProps(ids, geom, idCol = "event_id")
      .localCheckpoint()
    val events = props.groupBy("event_id").agg(
      min("time").as("time_start"), max("time").as("time_end"))
    val nIds = math.max(1L, events.agg(coalesce(max(col("event_id")), lit(0L)))
      .head().getLong(0)).toInt
    val maxSib = math.max(1L, res.mergeLedger
      .agg(coalesce(max(size(col("sibling_event_ids"))), lit(0)))
      .head().getInt(0).toLong).toInt

    val w = new ZarrGroup.GroupWriter(dir, v3)
    val tDim = "time" -> nt
    val idDim = "ID" -> nIds
    val tCh = math.min(timeChunk, nt)
    val idCh = math.min(nIds, 65536)

    w.arrays(
      res.idField.join(timeIdxDf, "time").select(
        col("time_idx"), col("cell").cast("int").as("ncells_idx"),
        col("event_id").cast("double").as("ID_field")),
      dims = Seq(tDim, "ncells" -> nCells),
      chunks = Seq(tCh, math.min(nCells, 1 << 20)),
      valueCols = Seq("ID_field"), fill = 0.0)

    writeEventTables(w, props, events, res.mergeLedger,
      timeIdxDf, tDim, idDim, tCh, idCh, maxSib)

    // mesh per-cell arrays, fixture-style (extreme_unstructured.zarr layout)
    val cellsDf = spark.sparkContext.parallelize(0 until nCells, 8)
      .map(c => (c, mesh.lat(c), mesh.lon(c), mesh.area(c),
        if (mesh.valid(c)) 1.0 else 0.0))
      .toDF("ncells_idx", "lat", "lon", "cell_areas", "mask")
    w.arrays(cellsDf, Seq("ncells" -> nCells), Seq(math.min(nCells, 1 << 20)),
      valueCols = Seq("lat", "lon", "cell_areas", "mask"), fill = Double.NaN)

    w.coord("time", times.map(_.getTime / 1000.0))
    w.coord("ID", Array.tabulate(nIds)(i => (i + 1).toDouble))

    w.finish(Map(
      "title" -> "graft tracked events (unstructured)",
      "n_events" -> nIds.toString,
      "grid" -> "unstructured") ++ attrs)
  }

  /** Export a detect/preprocess result as the reference's PREPROCESSED
    * dataset — the exact layout of its own shipped fixture
    * (`extremes_gridded.zarr`: `extreme_events(time, lat, lon)`,
    * `mask(lat, lon)`, 1-D `lat`/`lon`/`time`, method/parameter attrs with
    * their real JSON types, detect.py:730–783). A store written here is
    * re-openable by [[ReferenceFixtures.loadExtremesGridded]] and by
    * xarray, and feeds [[Track.track]] the same way the fixture does —
    * detect and track runs can hand off through durable zarr exactly like
    * the reference's checkpoint_to_zarr flow (helper.py:642).
    *
    * Scale shape: identical to [[writeTrackResult]]'s cube path — one
    * shuffle, one task per chunk, background never materialized as rows
    * (flags fill 0); the mask is its own tiny (lat, lon) write.
    *
    * @param extremes (time, y, x, …, extreme BOOLEAN) — [[Detect.preprocess]]'s
    *                 third output (rows may cover the full field; only
    *                 `extreme = true` cells are stored, the rest is fill)
    * @param anomaly  optional (time, y, x, anomaly) — stored as
    *                 `dat_anomaly(time, lat, lon)` like the reference's full
    *                 output (detect.py:417)
    * @param thresholds optional threshold table — `(y, x, threshold)` stores
    *                 as `thresholds(lat, lon)` (global_extreme),
    *                 `(y, x, doy, threshold)` as
    *                 `thresholds(dayofyear, lat, lon)` (hobday_extreme,
    *                 detect.py:445), dayofyear coordinate 1-based
    */
  def writeDetectResult(extremes: DataFrame, geom: DataFrame, spec: GridSpec,
      cfg: DetectConfig, dir: String, timeChunk: Int = 16,
      v3: Boolean = false, anomaly: Option[DataFrame] = None,
      thresholds: Option[DataFrame] = None): Unit = {
    val spark = extremes.sparkSession
    import spark.implicits._

    val times = extremes.select("time").distinct().orderBy("time")
      .as[java.sql.Timestamp].collect()
    require(times.nonEmpty, "writeDetectResult: empty field (no timesteps)")
    val nt = times.length
    val timeIdxDf = broadcast(times.zipWithIndex.toSeq.toDF("time", "time_idx"))

    val latAxis = geom.groupBy("y").agg(first("lat").as("lat")).orderBy("y")
      .select(col("lat").cast("double")).as[Double].collect()
    val lonAxis = geom.groupBy("x").agg(first("lon").as("lon")).orderBy("x")
      .select(col("lon").cast("double")).as[Double].collect()
    require(latAxis.length == spec.ny && lonAxis.length == spec.nx,
      s"geom axes (${latAxis.length}×${lonAxis.length}) disagree with spec " +
        s"(${spec.ny}×${spec.nx})")

    val w = new ZarrGroup.GroupWriter(dir, v3)
    w.arrays(
      extremes.filter(col("extreme")).join(timeIdxDf, "time").select(
        col("time_idx"), col("y").cast("int").as("lat_idx"),
        col("x").cast("int").as("lon_idx"), lit(1.0).as("extreme_events")),
      dims = Seq("time" -> nt, "lat" -> spec.ny, "lon" -> spec.nx),
      chunks = Seq(math.min(timeChunk, nt),
        math.min(spec.ny, 720), math.min(spec.nx, 1440)),
      valueCols = Seq("extreme_events"), fill = 0.0)
    w.arrays(
      geom.select(col("y").cast("int").as("lat_idx"),
        col("x").cast("int").as("lon_idx"),
        when(col("valid"), 1.0).otherwise(0.0).as("mask")),
      dims = Seq("lat" -> spec.ny, "lon" -> spec.nx),
      chunks = Seq(spec.ny, spec.nx), valueCols = Seq("mask"), fill = 0.0)
    anomaly.foreach { a =>
      w.arrays(
        a.join(timeIdxDf, "time").select(col("time_idx"),
          col("y").cast("int").as("lat_idx"), col("x").cast("int").as("lon_idx"),
          col("anomaly").cast("double").as("dat_anomaly")),
        dims = Seq("time" -> nt, "lat" -> spec.ny, "lon" -> spec.nx),
        chunks = Seq(math.min(timeChunk, nt),
          math.min(spec.ny, 720), math.min(spec.nx, 1440)),
        valueCols = Seq("dat_anomaly"), fill = Double.NaN)
    }
    thresholds.foreach { t =>
      if (t.columns.contains("doy")) {
        w.arrays(
          t.select((col("doy") - 1).cast("int").as("dayofyear_idx"),
            col("y").cast("int").as("lat_idx"), col("x").cast("int").as("lon_idx"),
            col("threshold").cast("double").as("thresholds")),
          dims = Seq("dayofyear" -> 366, "lat" -> spec.ny, "lon" -> spec.nx),
          chunks = Seq(61, math.min(spec.ny, 720), math.min(spec.nx, 1440)),
          valueCols = Seq("thresholds"), fill = Double.NaN)
        w.coord("dayofyear", Array.tabulate(366)(i => (i + 1).toDouble))
      } else
        w.arrays(
          t.select(col("y").cast("int").as("lat_idx"),
            col("x").cast("int").as("lon_idx"),
            col("threshold").cast("double").as("thresholds")),
          dims = Seq("lat" -> spec.ny, "lon" -> spec.nx),
          chunks = Seq(spec.ny, spec.nx),
          valueCols = Seq("thresholds"), fill = Double.NaN)
    }
    w.coord("time", times.map(_.getTime / 1000.0))
    w.coord("lat", latAxis)
    w.coord("lon", lonAxis)

    // the fixture's own attr schema, real JSON types (detect.py:730–783)
    val methodSpecific: List[(String, JValue)] = cfg.methodAnomaly match {
      case "shifting_baseline" => List(
        "window_year_baseline" -> JInt(cfg.windowYearBaseline),
        "smooth_days_baseline" -> JInt(cfg.smoothDaysBaseline))
      case "detrend_harmonic" | "detrend_fixed_baseline" => List(
        "detrend_orders" -> JArray(cfg.detrendOrders.map(o => JInt(o): JValue).toList),
        "std_normalise" -> JBool(cfg.stdNormalise))
      case _ => Nil
    }
    val hobday: List[(String, JValue)] =
      if (cfg.methodExtreme == "hobday_extreme")
        List("window_days_hobday" -> JInt(cfg.windowDaysHobday))
      else Nil
    w.finish(jsonAttrs = JObject(List[(String, JValue)](
      "method_anomaly" -> JString(cfg.methodAnomaly),
      "method_extreme" -> JString(cfg.methodExtreme),
      "threshold_percentile" -> JDouble(cfg.thresholdPercentile),
      "exact_percentile" -> JBool(cfg.methodPercentile == "exact"),
      "preprocessing_steps" -> JArray(
        Detect.preprocessingSteps(cfg).map(s => JString(s): JValue).toList),
      "time_units" -> JString("seconds since 1970-01-01 00:00:00")) ++
      methodSpecific ++ hobday))
  }
}
