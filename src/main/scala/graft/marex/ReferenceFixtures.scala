package graft.marex

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.ZarrSource

/** Loaders for the reference's own zarr test fixtures
  * (tests/data/extremes_gridded.zarr et al.) — the ground truth for tracker
  * golden-count parity (tests/test_gridded_tracking.py:75–77, 142–145).
  *
  * The fixtures are plain Zarr v2 with the zarr-python default compressor
  * (blosc/lz4, byte-shuffle) — [[ZarrSource]]/[[graft.sources.Blosc]] read
  * them directly; nothing is approximated.
  */
object ReferenceFixtures {

  /** Load a gridded extremes fixture: boolean `extreme_events(time,lat,lon)`,
    * `mask(lat,lon)`, 1-D `lat`/`lon`, `time` (seconds since 1981-01-01).
    *
    * @param maxLat,minLat polar exclusion applied to the mask, mirroring the
    *   reference tests' `mask.where((lat < 85) & (lat > -90), False)`.
    * @return (flags (time,y,x), geom (y,x,lat,lon,area=1,valid), spec) —
    *   unit cell areas because the reference tests pass no cell_areas
    *   (track.py:466–470: "using unit areas (cell counts)"). */
  def loadExtremesGridded(spark: SparkSession, dir: String,
      maxLat: Double = 85.0, minLat: Double = -90.0): (DataFrame, DataFrame, GridSpec) = {
    import spark.implicits._
    val (latShape, lat) = ZarrSource.readLocalND(s"$dir/lat")
    val (lonShape, lon) = ZarrSource.readLocalND(s"$dir/lon")
    val (_, maskArr) = ZarrSource.readLocalND(s"$dir/mask")
    val (_, timeArr) = ZarrSource.readLocalND(s"$dir/time")
    val ny = latShape.head
    val nx = lonShape.head

    // time units: "seconds since 1981-01-01" (fixture .zattrs)
    val epoch = Timestamp.valueOf("1981-01-01 00:00:00").getTime
    val timeDf = timeArr.toSeq.zipWithIndex
      .map { case (s, i) => (i, new Timestamp(epoch + s.toLong * 1000L)) }
      .toDF("t_idx", "time")

    val flags = spark.read.format("zarr").load(s"$dir/extreme_events")
      .filter(col("value") =!= 0.0)
      .join(broadcast(timeDf), "t_idx")
      .select("time", "y", "x")

    val geom = (for (y <- 0 until ny; x <- 0 until nx) yield {
      val valid = maskArr(y * nx + x) != 0.0 && lat(y) < maxLat && lat(y) > minLat
      (y, x, lat(y).toFloat, lon(x).toFloat, 1.0f, valid)
    }).toDF("y", "x", "lat", "lon", "area", "valid")

    (flags, geom, GridSpec(ny = ny, nx = nx, periodicX = true))
  }

  /** Load an unstructured extremes fixture (extremes_unstructured*.zarr):
    * boolean `extreme_events(time, ncells)`, `mask(ncells)`, 1-D `lat`/
    * `lon`/`cell_areas`, triangular `neighbours(nv=3, ncells)` (1-based in
    * the file, converted to 0-based with −1 invalid, track.py:1061).
    * Timestamps are synthesized daily (only ordering matters to the
    * tracker). */
  def loadExtremesUnstructured(spark: SparkSession, dir: String):
      (DataFrame, UnstructuredTracker.Mesh) = {
    import spark.implicits._
    val (Seq(nt, nCells), ev) = ZarrSource.readLocalND(s"$dir/extreme_events")
    val (_, nbrFlat) = ZarrSource.readLocalND(s"$dir/neighbours")
    val (_, maskArr) = ZarrSource.readLocalND(s"$dir/mask")
    val (_, lat) = ZarrSource.readLocalND(s"$dir/lat")
    val (_, lon) = ZarrSource.readLocalND(s"$dir/lon")
    val (_, areas) = ZarrSource.readLocalND(s"$dir/cell_areas")

    val nbr = Array.tabulate(3, nCells)((k, i) => nbrFlat(k * nCells + i).toInt - 1)
    val mesh = UnstructuredTracker.Mesh(nbr, lat, lon, areas,
      maskArr.map(_ != 0.0))

    val epoch = Timestamp.valueOf("2000-01-01 00:00:00").getTime
    val flags = (for {
      t <- 0 until nt
      c <- 0 until nCells if ev(t * nCells + c) != 0.0
    } yield (new Timestamp(epoch + t * 86400000L), c)).toDF("time", "cell")
    (flags, mesh)
  }

  /** Load the raw UNSTRUCTURED SST fixture (sst_unstructured.zarr:
    * `to(time, ncells)` in °C, NaN-filled gaps, time = minutes since
    * 1950-01-01) as a cell-keyed detect field `(time, cell, value)` for
    * [[UnstructuredIngest.preprocessCells]] — the input of the reference's
    * mesh preprocessing suite (test_unstructured_preprocessing.py:23–40,
    * which also NaN-masks one cell; pass it via `maskedCells` — NaN rows
    * drop here exactly as the reference's `.where` + nan-skipping kernels
    * exclude them).
    *
    * The 2-D `(time, ncells)` array reads through the zarr DSv2's native
    * cell schema (`t_idx, cell, value`) with the t_idx bound pushed to
    * chunk pruning — distributed, not a driver materialization. */
  def loadSstUnstructured(spark: SparkSession, dir: String, maxDays: Int,
      maskedCells: Seq[Int] = Nil): DataFrame = {
    import spark.implicits._
    val (_, timeArr) = ZarrSource.readLocalND(s"$dir/time")
    val epoch = Timestamp.valueOf("1950-01-01 00:00:00").getTime
    val timeDf = timeArr.toSeq.take(maxDays).zipWithIndex
      .map { case (m, i) => (i, new Timestamp(epoch + m.toLong * 60000L)) }
      .toDF("t_idx", "time")
    val masked =
      if (maskedCells.isEmpty) lit(false) else col("cell").isInCollection(maskedCells)
    spark.read.format("zarr").load(s"$dir/to")
      .filter(col("t_idx") < maxDays && !isnan(col("value")) && !masked)
      .join(broadcast(timeDf), "t_idx")
      .select(col("time"), col("cell"), col("value"))
  }

  /** Load the raw SST fixture (sst_gridded.zarr: `to(time, lat, lon)`,
    * NaN-filled land, time = seconds since 1981-01-01) as a detect-input
    * field `(time, y, x, value)`. `maxDays` bounds the time axis (the full
    * fixture is 40 years; the reference integration tests subset the same
    * way, test_integration.py:103). The `t_idx` bound is pushed into the
    * zarr scan, which prunes whole chunk files past the requested prefix. */
  def loadSstGridded(spark: SparkSession, dir: String, maxDays: Int): DataFrame = {
    import spark.implicits._
    val (_, timeArr) = ZarrSource.readLocalND(s"$dir/time")
    val epoch = Timestamp.valueOf("1981-01-01 00:00:00").getTime
    val timeDf = timeArr.toSeq.take(maxDays).zipWithIndex
      .map { case (s, i) => (i, new Timestamp(epoch + s.toLong * 1000L)) }
      .toDF("t_idx", "time")
    spark.read.format("zarr").load(s"$dir/to")
      .filter(col("t_idx") < maxDays && !isnan(col("value")))
      .join(broadcast(timeDf), "t_idx")
      .select(col("time"), col("y"), col("x"), col("value"))
  }
}
