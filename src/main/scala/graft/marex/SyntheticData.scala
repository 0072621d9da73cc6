package graft.marex

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded synthetic SST fixtures mirroring the reference's test data shapes
  * (tests/make_test_data.ipynb; FIXTURES.md §1.1): seasonal cycle + warming
  * trend + deterministic pseudo-noise on a (time, y, x) raster. Generated
  * distributed (one task per time chunk) so fixtures scale with the cluster.
  */
object SyntheticData {

  /** xorshift-style mix for deterministic per-(t,y,x) noise in [−0.5, 0.5). */
  private def noise(t: Long, y: Int, x: Int, seed: Long): Double = {
    var h = seed ^ (t * 0x9e3779b97f4a7c15L) ^ (y * 0xbf58476d1ce4e5b9L) ^ (x * 0x94d049bb133111ebL)
    h ^= h >>> 30; h *= 0xbf58476d1ce4e5b9L
    h ^= h >>> 27; h *= 0x94d049bb133111ebL
    h ^= h >>> 31
    (h >>> 11).toDouble / (1L << 53).toDouble - 0.5
  }

  /** Long-format gridded SST field: (time TIMESTAMP, y INT, x INT, value DOUBLE).
    * Daily steps from 2000-01-01. */
  def sstGridded(spark: SparkSession, nDays: Int, ny: Int, nx: Int,
      seed: Long = 42L, trendPerYear: Double = 0.02, noiseAmp: Double = 1.0): DataFrame = {
    import spark.implicits._
    val epoch0 = Timestamp.valueOf("2000-01-01 00:00:00").getTime
    // about one partition per million rows (a 0.25°-global day, so such a
    // field keeps one partition per day), never fewer than the session's
    // parallelism nor more than one per day (at most 1,024)
    val rows = nDays.toLong * ny * nx
    val parts = math.min(math.min(nDays, 1024).toLong, math.max(
      spark.sparkContext.defaultParallelism.toLong, (rows + 999999L) / 1000000L)).toInt
    spark.range(0, nDays.toLong, 1, parts).flatMap { t =>
      val ts = new Timestamp(epoch0 + t * 86400000L)
      val seasonal = math.sin(2 * math.Pi * (t % 365).toDouble / 365.0)
      for (y <- 0 until ny; x <- 0 until nx) yield {
        val latAmp = 1.0 + 0.5 * math.cos(2 * math.Pi * y.toDouble / ny)
        val v = 15.0 + 3.0 * seasonal * latAmp +
          trendPerYear * t / 365.0 +
          noiseAmp * noise(t, y, x, seed)
        (ts, y, x, v)
      }
    }.toDF("time", "y", "x", "value")
  }

  /** Geometry table for a regular grid: (y, x, lat, lon, area, valid).
    * Spherical cell areas R²·|sin(φ+dφ/2)−sin(φ−dφ/2)|·dλ
    * (reference track.py:452–458). */
  def geometry(spark: SparkSession, ny: Int, nx: Int,
      latMin: Double = -60, latMax: Double = 60): DataFrame = {
    import spark.implicits._
    val r = 6371.0
    val dPhi = math.toRadians((latMax - latMin) / ny)
    val dLam = math.toRadians(360.0 / nx)
    spark.sparkContext.parallelize(
      for (y <- 0 until ny; x <- 0 until nx) yield {
      val lat = latMin + (y + 0.5) * (latMax - latMin) / ny
      val lon = -180.0 + (x + 0.5) * 360.0 / nx
      val phi = math.toRadians(lat)
      val area = r * r * math.abs(math.sin(phi + dPhi / 2) - math.sin(phi - dPhi / 2)) * dLam
      (y, x, lat, lon, area, true)
    }).toDF("y", "x", "lat", "lon", "area", "valid")
  }

  /** SPARSE flag field of many drifting storm blobs — the production-shape
    * tracking workload: each storm is born at a deterministic place/day,
    * drifts (eastward + slight meridional, x-wrapping), grows then shrinks
    * over its lifetime, and storms overlap → real merge/split events.
    * Emits only flagged (time, y, x) cells, like detect's flag output; the
    * defaults cover ≈4–5 % of a 720×1440 grid per day. */
  def stormFlags(spark: SparkSession, nDays: Int, ny: Int, nx: Int,
      nStorms: Int = 240, seed: Long = 7L): DataFrame = {
    import spark.implicits._
    val epoch0 = Timestamp.valueOf("2000-01-01 00:00:00").getTime
    // (birth, life, y0, x0, vx, vy, rMax) per storm — tiny, captured by value
    val storms: Seq[(Int, Int, Double, Double, Double, Double, Double)] =
      (0 until nStorms).map { k =>
        def u(j: Int): Double = noise(j.toLong, k, 0, seed) + 0.5
        ((u(1) * nDays).toInt, 20 + (u(2) * 40).toInt,
          0.1 * ny + u(3) * 0.8 * ny, u(4) * nx,
          0.5 + u(5) * 1.5, (u(6) - 0.5) * 0.4,
          math.max(8.0, (0.03 + 0.02 * u(7)) * ny))
      }
    spark.range(0, nDays.toLong, 1, math.min(nDays, 1024)).flatMap { t =>
      val ts = new Timestamp(epoch0 + t * 86400000L)
      val seen = new scala.collection.mutable.HashSet[Int]
      storms.iterator
        .filter { case (b, l, _, _, _, _, _) => t >= b && t < b + l }
        .flatMap { case (b, l, y0, x0, vx, vy, rMax) =>
          val age = (t - b).toDouble / l
          val r = rMax * math.sin(math.Pi * age)
          val ri = r.toInt
          val cy = y0 + vy * (t - b)
          val cx = x0 + vx * (t - b)
          for {
            dy <- -ri to ri
            dx <- -ri to ri
            if dy * dy + dx * dx <= r * r
            y = (cy + dy).toInt if y >= 0 && y < ny
            x = (((cx + dx).toInt % nx) + nx) % nx
            if seen.add(y * nx + x) // overlapping storms: emit each cell once
          } yield (ts, y, x)
        }
    }.toDF("time", "y", "x")
  }

  /** Boolean blob field for tracking tests: a disk of radius `r0` moving
    * east (wrapping in x) at `speed` cells/day, plus a stationary disk —
    * the structured analogue of the reference's `extremes_gridded_blob`
    * fixture. */
  def movingBlobs(spark: SparkSession, nDays: Int, ny: Int, nx: Int,
      r0: Int = 3, speed: Int = 2, staticCx: Int = -1, staticCy: Int = -1): DataFrame = {
    import spark.implicits._
    val epoch0 = Timestamp.valueOf("2000-01-01 00:00:00").getTime
    // one partition per day — a 0.25°-global day is ~1 M rows; the default
    // 32-partition range would funnel ~23 days through each task
    spark.range(0, nDays.toLong, 1, math.min(nDays, 1024)).flatMap { t =>
      val ts = new Timestamp(epoch0 + t * 86400000L)
      val cx = (5 + speed * t).toInt % nx
      val cy = ny / 2
      val cx2 = if (staticCx >= 0) staticCx else nx / 4
      val cy2 = if (staticCy >= 0) staticCy else ny / 4
      for (y <- 0 until ny; x <- 0 until nx) yield {
        val dx1 = math.min(math.abs(x - cx), nx - math.abs(x - cx))
        val in1 = dx1 * dx1 + (y - cy) * (y - cy) <= r0 * r0
        val dx2 = math.min(math.abs(x - cx2), nx - math.abs(x - cx2))
        val in2 = dx2 * dx2 + (y - cy2) * (y - cy2) <= (r0 - 1) * (r0 - 1)
        (ts, y, x, in1 || in2)
      }
    }.toDF("time", "y", "x", "flag")
  }
}
