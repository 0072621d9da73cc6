package graft.marex

import org.apache.spark.sql.functions._
import org.json4s._

import graft.SparkSpec
import graft.sources.ZarrGroup

/** Tracker output → zarr group: the layout `tracker.run().to_zarr(path)`
  * produces in the reference (track.py:210–221). Re-opens the written group
  * through the group reader and checks every variable against the
  * TrackResult frames it came from, plus the xarray-facing metadata
  * (member set, dims, fills, coordinate axes). */
class ZarrOutputSpec extends SparkSpec {
  import spark.implicits._

  private val ny = 16
  private val nx = 32
  private lazy val spec0 = GridSpec(ny = ny, nx = nx, periodicX = true)
  private lazy val geom = SyntheticData.geometry(spark, ny, nx).cache()
  private lazy val collide = SyntheticData.movingBlobs(spark, nDays = 12,
    ny = ny, nx = nx, r0 = 3, speed = 2, staticCx = 20, staticCy = 4)
    .filter(col("flag")).select("time", "y", "x").cache()

  private lazy val res = Track.track(collide, geom, spec0,
    TrackConfig(rFill = 0, tFill = 0, areaFilterQuartile = 0.0,
      dropSmallestObject = false, overlapThreshold = 0.2, allowMerging = true))

  /** One member of a written group through its `var` read: rank 3 reads
    * as (t_idx, y, x, value), rank 2 as (t_idx, cell, value) — the axes in
    * storage order, whatever the member's dimension names. */
  private def member(dir: String, v: String) =
    spark.read.format("zarr").option("var", v).load(dir)

  private lazy val outDir = {
    val d = java.nio.file.Files.createTempDirectory("zarr_track_out").toFile
    org.apache.commons.io.FileUtils.deleteQuietly(d)
    ZarrOutput.writeTrackResult(res, geom, spec0, d.getAbsolutePath,
      attrs = Map("method" -> "spec-test"))
    d.getAbsolutePath
  }

  test("written group carries the reference's member set, dims, and fills") {
    val g = ZarrGroup.open(outDir, spark.sparkContext.hadoopConfiguration)
    assert(g.format == 2 && g.consolidated)
    assert(g.members.keySet == Set("ID_field", "global_ID", "area", "centroid",
      "presence", "time_start", "time_end", "merge_ledger",
      "time", "lat", "lon", "ID"))
    assert(g.members("ID_field").dims == Seq("time", "lat", "lon"))
    assert(g.members("centroid").dims == Seq("component", "time", "ID"))
    assert(g.members("merge_ledger").dims == Seq("time", "ID", "sibling_ID"))
    assert(g.members("time_start").dims == Seq("ID"))
    assert(g.members("ID_field").meta.fillValue == 0.0)
    assert(g.members("presence").meta.fillValue == 0.0)
    assert(g.members("merge_ledger").meta.fillValue == -1.0)
    assert(g.members("area").meta.fillValue.isNaN)
    assert((g.attrs \ "method") == JString("spec-test"))
    assert(g.coordNames == Set("time", "lat", "lon", "ID"))
  }

  test("ID_field round-trips: labeled cells exact, background zero") {
    val g = ZarrGroup.open(outDir, spark.sparkContext.hadoopConfiguration)
    val cube = member(outDir, "ID_field") // (t_idx, y, x, value)
    val nt = g.members("time").meta.shape.head
    assert(cube.count() == nt.toLong * ny * nx)
    val labeled = cube.filter(col("value") > 0)
    // rebuild (time_idx, y, x, id) from the result for comparison
    val times = res.idField.select("time").distinct().orderBy("time")
      .as[java.sql.Timestamp].collect().zipWithIndex.toSeq
      .toDF("time", "time_idx")
    val want = res.idField.join(times, "time")
      .select(col("time_idx"), col("y"), col("x"), col("event_id").cast("double"))
    val mismatch = labeled
      .join(want, labeled("t_idx") === want("time_idx") &&
        labeled("y") === want("y") && labeled("x") === want("x"),
        "full")
      .filter(want("event_id").isNull || labeled("value").isNull ||
        want("event_id") =!= labeled("value"))
      .count()
    assert(mismatch == 0L, s"$mismatch ID_field cells disagree with idField")
  }

  test("per-(time,ID) tables and centroid components round-trip") {
    // (time, ID) members read as (t_idx, cell = ID index, value)
    val area = member(outDir, "area").filter(!isnan(col("value")))
    assert(area.count() == res.eventProps.count())
    val presence = member(outDir, "presence")
    assert(presence.filter(col("value") === 1.0).count() == res.eventProps.count())
    // centroid(component, time, ID): component 0 = lat, 1 = lon, NaN
    // padding elsewhere; a `var` read names its leading axis t_idx
    val cen = member(outDir, "centroid").filter(!isnan(col("value")))
    assert(cen.count() == 2 * res.eventProps.count())
    val clat = cen.filter(col("t_idx") === 0)
      .agg(round(sum("value"), 6)).head().getDouble(0)
    val wantLat = res.eventProps.agg(round(sum("cen_lat"), 6)).head().getDouble(0)
    assert(math.abs(clat - wantLat) < 1e-6)
  }

  test("time bounds and merge ledger round-trip with -1 padding") {
    val (_, ts) = graft.sources.ZarrSource.readLocalND(s"$outDir/time_start")
    assert(ts.count(!_.isNaN) == res.events.count())
    // every real sibling id appears; everything else is the -1 pad
    val led = member(outDir, "merge_ledger")
    val real = led.filter(col("value") >= 0).count()
    val wantSibs = res.mergeLedger
      .select(explode(col("sibling_event_ids"))).count()
    assert(real == wantSibs, s"ledger has $real entries, result has $wantSibs")
    assert(led.filter(col("value") < -1).count() == 0)
  }

  test("writeDetectResult emits the fixture layout; loadExtremesGridded re-opens it") {
    val d = java.nio.file.Files.createTempDirectory("zarr_detect_out").toFile
    org.apache.commons.io.FileUtils.deleteQuietly(d)
    // flags -> a fixture-shaped extremes frame (full field, boolean extreme)
    val flagged = collide.withColumn("extreme", lit(true))
    val cfg = DetectConfig(methodAnomaly = "shifting_baseline",
      methodExtreme = "hobday_extreme")
    ZarrOutput.writeDetectResult(flagged, geom, spec0, cfg, d.getAbsolutePath)

    val g = ZarrGroup.open(d.getAbsolutePath, spark.sparkContext.hadoopConfiguration)
    assert(g.members.keySet == Set("extreme_events", "mask", "time", "lat", "lon"))
    assert(g.members("extreme_events").dims == Seq("time", "lat", "lon"))
    assert(g.members("mask").dims == Seq("lat", "lon"))
    // typed attrs, like the reference fixture writes them
    assert((g.attrs \ "method_anomaly") == JString("shifting_baseline"))
    assert((g.attrs \ "window_year_baseline") == JInt(15))
    assert((g.attrs \ "exact_percentile") == JBool(true))
    assert((g.attrs \ "preprocessing_steps").isInstanceOf[JArray])

    // full circle: the engine's own fixture loader opens the written store
    val (flags2, geom2, spec2) = ReferenceFixtures.loadExtremesGridded(
      spark, d.getAbsolutePath, maxLat = 1000, minLat = -1000)
    assert(spec2.ny == ny && spec2.nx == nx)
    assert(flags2.count() == collide.count())
    assert(geom2.filter("valid").count() == geom.filter("valid").count())
    org.apache.commons.io.FileUtils.deleteQuietly(d)
  }

  test("loadSstGridded returns the first maxDays days of a to(time, lat, lon) group") {
    // value(t, y, x) = 100t + 10y + x; cell (1, 2) is land (NaN) on every day
    val (nt, nLat, nLon, maxDays) = (10, 3, 4, 6)
    def sst(t: Int, y: Int, x: Int): Double =
      if (y == 1 && x == 2) Double.NaN else t * 100.0 + y * 10.0 + x
    val cells = (for (t <- 0 until nt; y <- 0 until nLat; x <- 0 until nLon)
      yield (t, y, x, sst(t, y, x))).toDF("time_idx", "lat_idx", "lon_idx", "to")
    val d = java.nio.file.Files.createTempDirectory("zarr_sst_gridded").toFile
    org.apache.commons.io.FileUtils.deleteQuietly(d)
    // time chunks of 4: the maxDays bound cuts the second chunk in half
    new ZarrGroup.GroupWriter(d.getAbsolutePath, compressor = Some("blosc"))
      .arrays(cells, Seq("time" -> nt, "lat" -> nLat, "lon" -> nLon),
        Seq(4, nLat, nLon), Seq("to"))
      .coord("time", Array.tabulate(nt)(t => t * 86400.0)) // s since 1981-01-01
      .finish()
    val epoch = java.sql.Timestamp.valueOf("1981-01-01 00:00:00").getTime
    val got = ReferenceFixtures.loadSstGridded(spark, d.getAbsolutePath, maxDays)
      .collect().map(r => (r.getTimestamp(0).getTime, r.getInt(1), r.getInt(2), r.getDouble(3)))
    val want = for (t <- 0 until maxDays; y <- 0 until nLat; x <- 0 until nLon
        if !sst(t, y, x).isNaN)
      yield (epoch + t * 86400000L, y, x, sst(t, y, x))
    assert(got.length == want.length)
    assert(got.toSet == want.toSet)
    org.apache.commons.io.FileUtils.deleteQuietly(d)
  }

  test("writeDetectResult full output: dat_anomaly + thresholds (global and hobday dims)") {
    val sst = SyntheticData.sstGridded(spark, nDays = 365 * 2, ny = 4, nx = 6)
    val gspec = GridSpec(ny = 4, nx = 6, periodicX = true)
    val dgeom = SyntheticData.geometry(spark, 4, 6)

    // global_extreme: thresholds(lat, lon)
    val cfgG = DetectConfig(methodAnomaly = "fixed_baseline",
      methodExtreme = "global_extreme")
    val (anomG, thrG, extG) = Detect.preprocess(sst, cfgG)
    val dG = java.nio.file.Files.createTempDirectory("zarr_detect_full_g").toFile
    org.apache.commons.io.FileUtils.deleteQuietly(dG)
    ZarrOutput.writeDetectResult(extG, dgeom, gspec, cfgG, dG.getAbsolutePath,
      anomaly = Some(anomG), thresholds = Some(thrG))
    val gG = ZarrGroup.open(dG.getAbsolutePath, spark.sparkContext.hadoopConfiguration)
    assert(gG.members.keySet == Set("extreme_events", "mask", "dat_anomaly",
      "thresholds", "time", "lat", "lon"))
    assert(gG.members("thresholds").dims == Seq("lat", "lon"))
    assert(gG.members("dat_anomaly").dims == Seq("time", "lat", "lon"))
    // threshold values round-trip through the group scan (one time slice)
    val thrBack = spark.read.format("zarr").load(dG.getAbsolutePath)
      .filter(col("time_idx") === 0).select("lat_idx", "lon_idx", "thresholds")
    assert(thrBack.count() == 4 * 6)
    val diff = thrBack.join(thrG.withColumnRenamed("threshold", "want"),
        thrBack("lat_idx") === thrG("y") && thrBack("lon_idx") === thrG("x"))
      .filter(abs(col("thresholds") - col("want")) > 1e-12).count()
    assert(diff == 0L)
    org.apache.commons.io.FileUtils.deleteQuietly(dG)

    // hobday_extreme: thresholds(dayofyear, lat, lon) + dayofyear coord
    val cfgH = DetectConfig(methodAnomaly = "fixed_baseline",
      methodExtreme = "hobday_extreme")
    val (anomH, thrH, extH) = Detect.preprocess(sst, cfgH)
    val dH = java.nio.file.Files.createTempDirectory("zarr_detect_full_h").toFile
    org.apache.commons.io.FileUtils.deleteQuietly(dH)
    ZarrOutput.writeDetectResult(extH, dgeom, gspec, cfgH, dH.getAbsolutePath,
      anomaly = Some(anomH), thresholds = Some(thrH))
    val gH = ZarrGroup.open(dH.getAbsolutePath, spark.sparkContext.hadoopConfiguration)
    assert(gH.members("thresholds").dims == Seq("dayofyear", "lat", "lon"))
    assert(gH.members.contains("dayofyear"))
    val (sh, doyAxis) = graft.sources.ZarrSource.readLocalND(s"${dH.getAbsolutePath}/dayofyear")
    assert(sh == Seq(366) && doyAxis.head == 1.0 && doyAxis.last == 366.0)
    org.apache.commons.io.FileUtils.deleteQuietly(dH)
  }

  test("writeUnstructuredResult: mesh output group round-trips") {
    // a tiny 1-D chain mesh with a two-blob collision over 3 days
    val n = 60
    val nbr = Array.ofDim[Int](3, n)
    for (i <- 0 until n) {
      nbr(0)(i) = if (i > 0) i - 1 else -1
      nbr(1)(i) = if (i < n - 1) i + 1 else -1
      nbr(2)(i) = -1
    }
    val mesh = UnstructuredTracker.Mesh(nbr,
      Array.tabulate(n)(i => -30.0 + i), Array.tabulate(n)(i => i * 2.0),
      Array.fill(n)(1.0), Array.fill(n)(true))
    def ts(d: Int) = java.sql.Timestamp.valueOf(f"2020-01-${d + 1}%02d 00:00:00")
    val flags = (for {
      d <- 0 until 3
      c <- (10 + 5 * d until 16 + 5 * d) ++ (30 until 36)
    } yield (ts(d), c)).toDF("time", "cell")
    val res = UnstructuredTracker.track(flags, mesh,
      TrackConfig(rFill = 0, tFill = 0, areaFilterQuartile = 0.0,
        dropSmallestObject = false, overlapThreshold = 0.2, allowMerging = true))

    val d = java.nio.file.Files.createTempDirectory("zarr_unstr_out").toFile
    org.apache.commons.io.FileUtils.deleteQuietly(d)
    ZarrOutput.writeUnstructuredResult(res, mesh, d.getAbsolutePath)

    val g = ZarrGroup.open(d.getAbsolutePath, spark.sparkContext.hadoopConfiguration)
    assert(g.members.keySet == Set("ID_field", "global_ID", "area", "centroid",
      "presence", "time_start", "time_end", "merge_ledger",
      "lat", "lon", "cell_areas", "mask", "time", "ID"))
    assert(g.members("ID_field").dims == Seq("time", "ncells"))
    assert(g.members("lat").dims == Seq("ncells"))
    // id cube round-trips cell-exactly
    val cube = member(d.getAbsolutePath, "ID_field")
    assert(cube.filter(col("value") > 0).count() == res.idField.count())
    assert(cube.count() == 3L * n)
    // derived area matches the flagged-cell count per (t, id) (unit areas)
    val area = member(d.getAbsolutePath, "area").filter(!isnan(col("value")))
    assert(area.agg(sum("value")).head().getDouble(0) == res.idField.count().toDouble)
    // mesh arrays written faithfully
    val (_, latArr) = graft.sources.ZarrSource.readLocalND(s"${d.getAbsolutePath}/lat")
    assert(latArr.toSeq == mesh.lat.toSeq)
    org.apache.commons.io.FileUtils.deleteQuietly(d)
  }

  test("an erased timestep stays on the written time axis when the source axis is passed") {
    // drop every event at one interior day from the result frames (what
    // preprocessing does when a slice's objects are all filtered away)
    val cut = res.idField.select("time").distinct().orderBy("time")
      .collect().map(_.getTimestamp(0)).apply(5)
    val holed = res.copy(
      idField = res.idField.filter(col("time") =!= lit(cut)).localCheckpoint(),
      eventProps = res.eventProps.filter(col("time") =!= lit(cut)).localCheckpoint())
    val fullAxis = collide.select("time").distinct().orderBy("time")
      .collect().map(_.getTimestamp(0)).toSeq
    val d = java.nio.file.Files.createTempDirectory("zarr_track_axis").toFile
    org.apache.commons.io.FileUtils.deleteQuietly(d)
    ZarrOutput.writeTrackResult(holed, geom, spec0, d.getAbsolutePath,
      timeAxis = Some(fullAxis))
    val (_, t) = graft.sources.ZarrSource.readLocalND(s"${d.getAbsolutePath}/time")
    assert(t.length == fullAxis.length,
      "the written time coordinate carries the FULL source axis")
    // the erased day exists as an all-background slab of the id cube
    val idf = spark.read.format("zarr").load(s"${d.getAbsolutePath}/ID_field")
    assert(idf.filter(col("t_idx") === 5).filter(col("value") =!= 0.0).count() == 0)
    assert(idf.select("t_idx").distinct().count() == fullAxis.length)
  }

  test("coordinate axes: lat/lon from geom, ID = 1..N, time epoch seconds") {
    val g = ZarrGroup.open(outDir, spark.sparkContext.hadoopConfiguration)
    val (_, lat) = graft.sources.ZarrSource.readLocalND(s"$outDir/lat")
    val wantLat = geom.groupBy("y").agg(first("lat").as("lat")).orderBy("y")
      .select(col("lat").cast("double")).as[Double].collect()
    assert(lat.toSeq == wantLat.toSeq)
    val (_, ids) = graft.sources.ZarrSource.readLocalND(s"$outDir/ID")
    assert(ids.toSeq == (1 to ids.length).map(_.toDouble))
    val (_, t) = graft.sources.ZarrSource.readLocalND(s"$outDir/time")
    assert(t.length == g.members("time").meta.shape.head)
    assert(t.toSeq == t.toSeq.sorted)
  }
}
