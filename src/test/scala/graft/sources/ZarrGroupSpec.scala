package graft.sources

import org.apache.spark.sql.functions._
import org.json4s._

import graft.SparkSpec

/** Group-level zarr: consolidated/listed discovery on the reference's OWN
  * xarray-written fixture, dimension-name propagation, the wide no-join
  * group scan (`format("zarr")` on a group dir), and v2/v3 group write →
  * read round-trips (including that
  * the written layout is exactly what xarray's conventions require:
  * `.zmetadata`, `_ARRAY_DIMENSIONS`, `dimension_names`). */
class ZarrGroupSpec extends SparkSpec {

  private val fixture = "/root/reference/tests/data/extremes_gridded.zarr"
  private def haveFixture = new java.io.File(s"$fixture/.zmetadata").exists()
  private def hconf = spark.sparkContext.hadoopConfiguration
  private def group(dir: String) = spark.read.format("zarr").load(dir)

  /** Case-class == is primitive on Double, so NaN fills never compare equal;
    * normalize the fill before comparing metadata. */
  private def metaEq(a: ZarrSource.ZarrMeta, b: ZarrSource.ZarrMeta): Boolean =
    a.copy(fillValue = 0) == b.copy(fillValue = 0) &&
      (a.fillValue == b.fillValue || (a.fillValue.isNaN && b.fillValue.isNaN))

  test("open: consolidated v2 fixture — members, dims, attrs") {
    assume(haveFixture)
    val g = ZarrGroup.open(fixture, hconf)
    assert(g.format == 2 && g.consolidated)
    assert(g.members.keySet == Set("extreme_events", "lat", "lon", "mask", "time"))
    assert(g.members("extreme_events").dims == Seq("time", "lat", "lon"))
    assert(g.members("mask").dims == Seq("lat", "lon"))
    assert(g.coordNames == Set("lat", "lon", "time"))
    assert(g.dataVarNames == Seq("extreme_events", "mask"))
    // group attrs survive (detect run metadata the reference stamps)
    assert((g.attrs \ "method_extreme") == JString("hobday_extreme"))
    // member attrs survive, minus the structural _ARRAY_DIMENSIONS
    assert((g.members("lat").attrs \ "units") == JString("degrees_north"))
    assert((g.members("lat").attrs \ "_ARRAY_DIMENSIONS") == JNothing)
  }

  test("open: listed fallback matches consolidated (fixture copy sans .zmetadata)") {
    assume(haveFixture)
    val tmp = java.nio.file.Files.createTempDirectory("zgroup_listed").toFile
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(fixture), tmp)
    new java.io.File(tmp, ".zmetadata").delete()
    val g = ZarrGroup.open(tmp.getAbsolutePath, hconf)
    val gc = ZarrGroup.open(fixture, hconf)
    assert(!g.consolidated)
    assert(g.members.keySet == gc.members.keySet)
    assert(g.members.forall { case (n, v) =>
      v.dims == gc.members(n).dims && metaEq(v.meta, gc.members(n).meta) })
    org.apache.commons.io.FileUtils.deleteQuietly(tmp)
  }

  test("the group scan's coordinate column matches readLocalND on the fixture") {
    assume(haveFixture)
    val (shape, local) = ZarrSource.readLocalND(s"$fixture/lat")
    val dist = group(fixture)
      .filter(col("time_idx") === 0 && col("lon_idx") === 0)
      .select("lat_idx", "lat").orderBy("lat_idx").collect()
    assert(dist.length == shape.head)
    dist.foreach(r => assert(r.getDouble(1) == local(r.getInt(0))))
  }

  test("group scan: wide no-join read reproduces the per-array loaders") {
    assume(haveFixture)
    val ds = group(fixture).cache()
    try {
      // flag count == what the driver-side array decoder sees
      val nFlags = ds.filter(col("extreme_events") =!= 0.0).count()
      val expected = ZarrSource.readLocalND(s"$fixture/extreme_events")._2
        .count(_ != 0.0).toLong
      assert(nFlags == expected, s"wide read flags $nFlags != array read $expected")
      // mask attached by (lat, lon): constant over time for any fixed cell
      val perCell = ds.groupBy("lat_idx", "lon_idx")
        .agg(countDistinct("mask").as("n")).agg(max("n")).head().getLong(0)
      assert(perCell == 1L)
      // coords attached: lat values match the local axis read
      val (_, lat) = ZarrSource.readLocalND(s"$fixture/lat")
      val got = ds.select("lat_idx", "lat").distinct().collect()
      assert(got.length == lat.length)
      got.foreach(r => assert(r.getDouble(1) == lat(r.getInt(0))))
      // schema: idx cols + coords + both data vars
      assert(ds.columns.toSeq == Seq("time_idx", "lat_idx", "lon_idx",
        "time", "lat", "lon", "extreme_events", "mask"))
    } finally ds.unpersist()
  }

  private def roundTrip(v3: Boolean, compressor: Option[String] = None): Unit = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory(s"zgroup_rt_$v3").toFile
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
    val cells = (for (t <- 0 until 5; y <- 0 until 6; x <- 0 until 8)
      yield (t, y, x, t * 100.0 + y * 10.0 + x, (t + y + x) % 2 == 0))
      .toDF("time_idx", "y_idx", "x_idx", "sst", "flag")
      .withColumn("flag", col("flag").cast("double"))
    ZarrGroup.writeDataset(cells, dir.getAbsolutePath,
      dims = Seq("time" -> 5, "y" -> 6, "x" -> 8), chunks = Seq(2, 6, 8),
      valueCols = Seq("sst", "flag"),
      coords = Map("time" -> Array.tabulate(5)(_.toDouble),
        "y" -> Array.tabulate(6)(10.0 + _), "x" -> Array.tabulate(8)(_ * 0.5)),
      attrs = Map("source" -> "graft-test"), v3 = v3, compressor = compressor)

    val g = ZarrGroup.open(dir.getAbsolutePath, hconf)
    assert(g.format == (if (v3) 3 else 2) && g.consolidated)
    assert(g.dataVarNames == Seq("flag", "sst"))
    assert(g.members("sst").dims == Seq("time", "y", "x"))
    assert((g.attrs \ "source") == JString("graft-test"))

    val back = group(dir.getAbsolutePath)
    assert(back.count() == 5 * 6 * 8)
    val errs = back.filter(
      abs(col("sst") - (col("time_idx") * 100 + col("y_idx") * 10 + col("x_idx"))) > 1e-12 ||
      abs(col("flag") - ((col("time_idx") + col("y_idx") + col("x_idx")) % 2 === 0)
        .cast("double")) > 1e-12 ||
      abs(col("y") - (col("y_idx") + 10.0)) > 1e-12 ||
      abs(col("x") - col("x_idx") * 0.5) > 1e-12).count()
    assert(errs == 0L)
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  test("v2 group write → read round-trip (values, coords, attrs)") { roundTrip(v3 = false) }
  test("v3 group write → read round-trip (values, coords, attrs)") { roundTrip(v3 = true) }

  test("v2 blosc-lz4 write round-trips and matches the fixture chunk layout") {
    roundTrip(v3 = false, compressor = Some("blosc"))
    // layout check against the reference fixture convention: chunk files are
    // blosc frames (magic: version=2, lz4 codec id in flags bits 5-7)
    val dir = java.nio.file.Files.createTempDirectory("zgroup_blosc").toFile
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
    import spark.implicits._
    val cells = (for (y <- 0 until 20; x <- 0 until 30)
      yield (y, x, y * 1.5 + x)).toDF("y_idx", "x_idx", "v")
    ZarrGroup.writeDataset(cells, dir.getAbsolutePath,
      dims = Seq("y" -> 20, "x" -> 30), chunks = Seq(10, 30),
      valueCols = Seq("v"), compressor = Some("blosc"))
    val meta = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(dir, "v/.zarray").toPath))
    assert(meta.contains("\"id\": \"blosc\"") && meta.contains("\"cname\": \"lz4\""))
    val chunk = java.nio.file.Files.readAllBytes(new java.io.File(dir, "v/0.0").toPath)
    assert(chunk.length < 10 * 30 * 8, "chunk must actually be compressed")
    assert(((chunk(2) & 0xff) >>> 5) == 1, "codec id must be lz4")
    val back = group(dir.getAbsolutePath)
    assert(back.filter(abs(col("v") - (col("y_idx") * 1.5 + col("x_idx"))) > 1e-12)
      .count() == 0L && back.count() == 600)
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  test("v2 written layout is xarray's: .zmetadata + _ARRAY_DIMENSIONS per member") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("zgroup_xr").toFile
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
    val cells = Seq((0, 0, 1.0)).toDF("time_idx", "y_idx", "v")
    ZarrGroup.writeDataset(cells, dir.getAbsolutePath,
      dims = Seq("time" -> 1, "y" -> 1), chunks = Seq(1, 1), valueCols = Seq("v"))
    assert(new java.io.File(dir, ".zmetadata").exists())
    assert(new java.io.File(dir, ".zgroup").exists())
    val zattrs = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(dir, "v/.zattrs").toPath))
    assert(zattrs.contains("_ARRAY_DIMENSIONS"))
    assert(zattrs.contains("\"time\"") && zattrs.contains("\"y\""))
    // the consolidated and per-member metadata agree
    val g1 = ZarrGroup.open(dir.getAbsolutePath, hconf)
    new java.io.File(dir, ".zmetadata").delete()
    val g2 = ZarrGroup.open(dir.getAbsolutePath, hconf)
    assert(metaEq(g1.members("v").meta, g2.members("v").meta) &&
      g1.members("v").dims == g2.members("v").dims)
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  test("dim-range prune: out-of-range chunk files are never opened") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("zgroup_prune").toFile
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
    val cells = (for (t <- 0 until 8; x <- 0 until 4)
      yield (t, x, t * 10.0 + x)).toDF("time_idx", "x_idx", "v")
    ZarrGroup.writeDataset(cells, dir.getAbsolutePath,
      dims = Seq("time" -> 8, "x" -> 4), chunks = Seq(2, 4), valueCols = Seq("v"),
      coords = Map("time" -> Array.tabulate(8)(_ * 1.0)))
    // corrupt the chunks OUTSIDE the requested range: if the prune works
    // they are never read; if it doesn't, decode throws
    for (c <- Seq("2.0", "3.0"))
      java.nio.file.Files.write(new java.io.File(dir, s"v/$c").toPath,
        Array[Byte](1, 2, 3))
    val got = group(dir.getAbsolutePath).filter(col("time_idx").between(1, 3))
    assert(got.queryExecution.executedPlan.toString.contains("time_idx in [1, 3]"))
    assert(got.count() == 3 * 4)
    assert(got.agg(min("time_idx"), max("time_idx")).head() ==
      org.apache.spark.sql.Row(1, 3))
    // values exact within the range (chunk [0,1] partially in range)
    assert(got.filter(col("v") =!= col("time_idx") * 10 - col("x_idx") + col("x_idx") * 2)
      .filter(col("v") =!= col("time_idx") * 10 + col("x_idx")).count() == 0)
    // coord joined only for in-range indices
    assert(got.select("time").distinct().count() == 3)
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  test("group scan ranges over a SHARDED member stay cell-exact") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("zgroup_shardrange").toFile
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
    val cells = (for (t <- 0 until 8; x <- 0 until 4)
      yield (t, x, t * 10.0 + x)).toDF("time_idx", "x_idx", "v")
    ZarrGroup.writeDataset(cells, dir.getAbsolutePath,
      dims = Seq("time" -> 8, "x" -> 4), chunks = Seq(4, 4), valueCols = Seq("v"),
      v3 = true, shard = Some(Seq(1, 2)))
    // a range interior to one outer chunk: the windowed shard read decodes
    // only the intersecting 1×2 inner tiles, never the rest of the object
    val got = group(dir.getAbsolutePath)
      .filter(col("time_idx").between(5, 6) && col("x_idx").between(2, 3))
    assert(got.count() == 2 * 2)
    assert(got.filter(col("v") =!= col("time_idx") * 10 + col("x_idx")).count() == 0)
    // and an unbounded read of the same store is complete
    assert(group(dir.getAbsolutePath).count() == 8 * 4)
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  test("missing chunk files read as fill (write_empty_chunks=False semantics)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("zgroup_fill").toFile
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
    val cells = (for (t <- 0 until 4; x <- 0 until 4)
      yield (t, x, t * 4.0 + x)).toDF("time_idx", "x_idx", "v")
    ZarrGroup.writeDataset(cells, dir.getAbsolutePath,
      dims = Seq("time" -> 4, "x" -> 4), chunks = Seq(2, 4), valueCols = Seq("v"))
    // drop the second time-chunk file → those 8 cells must read as NaN fill
    assert(new java.io.File(dir, "v/1.0").delete())
    val back = group(dir.getAbsolutePath)
    assert(back.count() == 16)
    assert(back.filter(isnan(col("v"))).count() == 8)
    assert(back.filter(col("time_idx") < 2 && isnan(col("v"))).count() == 0)
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  test("array dir is rejected with a clear error") {
    val err = intercept[IllegalArgumentException] {
      ZarrGroup.open(s"$fixture/extreme_events", hconf)
    }
    // an array dir has neither group metadata nor (v2) a zarr.json group
    assert(err.getMessage.contains("not a zarr group") || err.getMessage.contains("ARRAY"))
  }

  test("nested sub-groups read with slash-qualified names, both discovery modes") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("zgroup_nested").toFile
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
    val root = dir.getAbsolutePath
    val cells = (for (t <- 0 until 4; x <- 0 until 3)
      yield (t, x, t * 10.0 + x)).toDF("time_idx", "x_idx", "v")
    val axes = Map("time" -> Array(0.0, 1, 2, 3), "x" -> Array(10.0, 11, 12))
    ZarrGroup.writeDataset(cells, root,
      dims = Seq("time" -> 4, "x" -> 3), chunks = Seq(2, 3), valueCols = Seq("v"),
      coords = axes)
    ZarrGroup.writeDataset(cells.withColumn("w", col("v") * 2).drop("v"),
      s"$root/sub", dims = Seq("time" -> 4, "x" -> 3), chunks = Seq(2, 3),
      valueCols = Seq("w"), coords = axes)

    // consolidated mode: merge the sub-group's .zmetadata under 'sub/' keys,
    // the layout zarr-python's consolidate_metadata produces for hierarchies
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    def metaOf(p: String): Seq[(String, JValue)] =
      (JsonMethods.parse(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(p, ".zmetadata"))), useBigDecimalForDouble = false)
        \ "metadata").asInstanceOf[JObject].obj
    val merged = JObject(
      "metadata" -> JObject((metaOf(root) ++
        metaOf(s"$root/sub").map { case (k, v) => s"sub/$k" -> v }).toList),
      "zarr_format" -> JInt(2))
    java.nio.file.Files.write(java.nio.file.Paths.get(root, ".zmetadata"),
      JsonMethods.compact(JsonMethods.render(merged)).getBytes)

    val gCons = ZarrGroup.open(root, hconf)
    assert(gCons.consolidated)
    assert(gCons.members.contains("sub/w") && gCons.members.contains("v"))
    assert(gCons.coordNames == Set("time", "x"),
      "only ROOT rank-1 members named after their dim are coordinates")

    // listed mode: drop the consolidated file; the walk follows sub/.zgroup
    java.nio.file.Files.delete(java.nio.file.Paths.get(root, ".zmetadata"))
    val gList = ZarrGroup.open(root, hconf)
    assert(!gList.consolidated)
    assert(gList.members.keySet.filter(_.startsWith("sub/")) ==
      gCons.members.keySet.filter(_.startsWith("sub/")))

    // and the qualified member reads like any other variable
    val got = group(root).select("v", "sub/w")
    assert(got.count() == 12)
    assert(got.filter(col("`sub/w`") =!= col("v") * 2).count() == 0)
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }
}
