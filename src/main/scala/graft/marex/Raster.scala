package graft.marex

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Per-timestep raster kernels: morphological closing/opening with a disk
  * structuring element and per-slice connected-component labeling, with
  * periodic longitude.
  *
  * The reference forces single spatial chunks and runs numpy kernels per
  * timestep (track.py:750–786); we adopt the same execution shape: repartition
  * by time, `flatMapGroups` per timestep with the (y, x) raster assembled
  * into a flat boolean array. A 720×1440 global 0.25° slice is ~1 MB — far
  * below executor memory — and timesteps parallelize across the cluster
  * perfectly (one slice never spans tasks, so there is no halo exchange).
  * All purely-relational stages (gap fill, counts, joins) stay long-format.
  *
  * Boundary semantics mirror the reference's gridded branch exactly
  * (track.py:1612–1671): morphology runs on the raw field padded with mode
  * 'wrap' in BOTH dims when global (`periodicX`) or 'edge' when regional —
  * implemented as modulo/clamp index resolution, equivalent to scipy's
  * 2·R_fill pad — land cells participate as ordinary False values, and the
  * ocean mask is applied to the OUTPUT only (track.py:1668), even when
  * rFill = 0.
  */
object Raster {

  /** Disk structuring-element offsets for radius r (dy² + dx² ≤ r²). */
  def diskOffsets(r: Int): Array[(Int, Int)] =
    (for (dy <- -r to r; dx <- -r to r if dy * dy + dx * dx <= r * r) yield (dy, dx)).toArray

  private type Cell = (Long, Int, Int) // (epoch ms, y, x)

  private def toCells(flags: DataFrame): Dataset[Cell] = {
    val spark = flags.sparkSession
    import spark.implicits._
    flags.select(col("time").cast("timestamp"), col("y").cast("int"), col("x").cast("int"))
      .as[(Timestamp, Int, Int)]
      .map(r => (r._1.getTime, r._2, r._3))
  }

  /** Resolve a (possibly out-of-range) index: modulo when wrapping (scipy
    * pad mode 'wrap'), clamp when regional (pad mode 'edge'). */
  @inline private def resolve(v: Int, n: Int, wrap: Boolean): Int =
    if (wrap) ((v % n) + n) % n
    else if (v < 0) 0 else if (v >= n) n - 1 else v

  private def dilate(in: Array[Boolean], ny: Int, nx: Int, offs: Array[(Int, Int)],
      wrap: Boolean): Array[Boolean] = {
    val out = new Array[Boolean](ny * nx)
    var i = 0
    while (i < in.length) {
      if (in(i)) {
        val y = i / nx; val x = i % nx
        var k = 0
        while (k < offs.length) {
          val (dy, dx) = offs(k)
          val yy = resolve(y + dy, ny, wrap)
          val xx = resolve(x + dx, nx, wrap)
          out(yy * nx + xx) = true
          k += 1
        }
      }
      i += 1
    }
    out
  }

  private def erode(in: Array[Boolean], ny: Int, nx: Int, offs: Array[(Int, Int)],
      wrap: Boolean): Array[Boolean] = {
    val out = new Array[Boolean](ny * nx)
    var i = 0
    while (i < in.length) {
      if (in(i)) {
        val y = i / nx; val x = i % nx
        var keep = true
        var k = 0
        while (keep && k < offs.length) {
          val (dy, dx) = offs(k)
          val yy = resolve(y + dy, ny, wrap)
          val xx = resolve(x + dx, nx, wrap)
          if (!in(yy * nx + xx)) keep = false
          k += 1
        }
        if (keep) out(i) = true
      }
      i += 1
    }
    out
  }

  /** One slice of [[fillHoles]]: closing (dilate, erode) then opening
    * (erode, dilate) with the disk `offs` on the raw raster — land takes
    * part as False, like the reference's gridded morphology — then the land
    * mask (`land`, null for none) on the output only. `diskOffsets(0)` is
    * the identity morphology, so the mask still applies at rFill = 0
    * (track.py:1668 runs after the R_fill==0 short-circuit). Spark tasks
    * and the incremental tracker's driver path both run this function. */
  private[marex] def fillHolesSlice(grid: Array[Boolean], ny: Int, nx: Int,
      offs: Array[(Int, Int)], wrap: Boolean, land: Array[Boolean]): Array[Boolean] = {
    val closed = erode(dilate(grid, ny, nx, offs, wrap), ny, nx, offs, wrap)
    val opened = dilate(erode(closed, ny, nx, offs, wrap), ny, nx, offs, wrap)
    if (land != null) {
      var i = 0
      while (i < opened.length) { if (land(i)) opened(i) = false; i += 1 }
    }
    opened
  }

  /** The land cells of `geom` (`valid` false) as a local relation, None
    * when there are none — the `landMask` argument of [[fillHoles]] for the
    * batch and incremental trackers: ONE collect serves the emptiness test
    * and every fillHoles pass's land raster (a local relation collects
    * without a job). */
  private[marex] def landMask(geom: DataFrame): Option[DataFrame] = {
    val spark = geom.sparkSession
    import spark.implicits._
    val land = geom.filter(!col("valid"))
      .select(col("y").cast("int"), col("x").cast("int")).collect()
      .map(r => (r.getInt(0), r.getInt(1)))
    if (land.isEmpty) None else Some(land.toSeq.toDF("y", "x"))
  }

  /** T5: `fill_holes` — morphological closing then opening with a disk of
    * radius `rFill`, masked back to ocean (track.py:1520–1673).
    * @param landMask optional (y, x) rows of *invalid* (land) cells. */
  def fillHoles(flags: DataFrame, rFill: Int, spec: GridSpec,
      landMask: Option[DataFrame] = None): DataFrame = {
    spec.requireRaster()
    val spark = flags.sparkSession
    import spark.implicits._
    val ny = spec.ny; val nx = spec.nx; val wrap = spec.periodicX
    if (rFill <= 0) {
      // no morphology, but the mask IS still applied (track.py:1668 runs
      // after the R_fill==0 short-circuit)
      return landMask match {
        case None => flags.select("time", "y", "x")
        case Some(m) => flags.select("time", "y", "x")
          .join(m.select(col("y").cast("int").as("y"), col("x").cast("int").as("x")),
            Seq("y", "x"), "left_anti")
          .select("time", "y", "x")
      }
    }
    val offs = diskOffsets(rFill)
    val land: Array[Boolean] = landMask match {
      case None => null
      case Some(m) =>
        val arr = new Array[Boolean](ny * nx)
        m.select(col("y").cast("int"), col("x").cast("int")).collect()
          .foreach(r => arr(r.getInt(0) * nx + r.getInt(1)) = true)
        arr
    }
    val landB = spark.sparkContext.broadcast(land)

    toCells(flags)
      .groupByKey(_._1)
      .flatMapGroups { (t, it) =>
        val grid = new Array[Boolean](ny * nx)
        it.foreach { case (_, y, x) => grid(y * nx + x) = true }
        val filled = fillHolesSlice(grid, ny, nx, offs, wrap, landB.value)
        val out = scala.collection.mutable.ArrayBuffer[(Long, Int, Int)]()
        var i = 0
        while (i < filled.length) {
          if (filled(i)) out += ((t, i / nx, i % nx))
          i += 1
        }
        out.iterator
      }
      .map(c => (new Timestamp(c._1), c._2, c._3))
      .toDF("time", "y", "x")
  }

  /** One slice of [[labelPerSlice]]: union-find over the flagged cells of
    * `grid`, 8-connectivity, x wraps when `periodicX`, y never does.
    * Returns each cell's label, 0 for an unflagged cell; labels are dense
    * 1..k ordered by each component's smallest cell index (deterministic).
    * Spark tasks and the incremental tracker's driver path both run this
    * function. */
  private[marex] def labelSlice(grid: Array[Boolean], ny: Int, nx: Int,
      periodicX: Boolean): Array[Int] = {
    val parent = new Array[Int](ny * nx)
    java.util.Arrays.fill(parent, -1)
    def find(a: Int): Int = {
      var r = a
      while (parent(r) != r) r = parent(r)
      var c = a
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    // the smaller root wins, so a component's root is its smallest cell
    def union(a: Int, b: Int): Unit = {
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    var i = 0
    while (i < grid.length) { if (grid(i)) parent(i) = i; i += 1 }
    i = 0
    while (i < grid.length) {
      if (grid(i)) {
        val y = i / nx; val x = i % nx
        var dy = -1
        while (dy <= 1) {
          var dx = -1
          while (dx <= 1) {
            if (dy != 0 || dx != 0) {
              val yy = y + dy
              var xx = x + dx
              if (yy >= 0 && yy < ny) {
                if (periodicX) xx = ((xx % nx) + nx) % nx
                if (xx >= 0 && xx < nx) {
                  val j = yy * nx + xx
                  if (grid(j)) union(i, j)
                }
              }
            }
            dx += 1
          }
          dy += 1
        }
      }
      i += 1
    }
    // a scan in cell order meets every root before the rest of its
    // component, so labels come out dense in root order
    val label = new Array[Int](ny * nx)
    var k = 0
    i = 0
    while (i < grid.length) {
      if (grid(i)) {
        val r = find(i)
        if (r == i) { k += 1; label(i) = k } else label(i) = label(r)
      }
      i += 1
    }
    label
  }

  /** T8/T9 (per-slice): connected-component labeling, 8-connectivity,
    * periodic x; labels restart at 1 per timestep (track.py:1912–2048).
    * @return (time, y, x, label INT) */
  def labelPerSlice(flags: DataFrame, spec: GridSpec): DataFrame = {
    spec.requireRaster()
    val spark = flags.sparkSession
    import spark.implicits._
    val ny = spec.ny; val nx = spec.nx; val per = spec.periodicX

    toCells(flags)
      .groupByKey(_._1)
      .flatMapGroups { (t, it) =>
        val grid = new Array[Boolean](ny * nx)
        it.foreach { case (_, y, x) => grid(y * nx + x) = true }
        val label = labelSlice(grid, ny, nx, per)
        val out = scala.collection.mutable.ArrayBuffer[(Long, Int, Int, Int)]()
        var i = 0
        while (i < label.length) {
          if (label(i) > 0) out += ((t, i / nx, i % nx, label(i)))
          i += 1
        }
        out.iterator
      }
      .map(c => (new Timestamp(c._1), c._2, c._3, c._4))
      .toDF("time", "y", "x", "label")
  }
}
