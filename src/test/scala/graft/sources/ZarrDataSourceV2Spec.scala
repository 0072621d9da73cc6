package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

class ZarrDataSourceV2Spec extends SparkSpec {

  private val fixture = "/root/reference/tests/data/extremes_gridded.zarr/extreme_events"
  private def haveFixture = new java.io.File(s"$fixture/.zarray").exists()

  /** The driver-side decode of a 3-D array as `(t_idx, y, x, value)` —
    * the reference the scan is checked against. */
  private def localCells(dir: String) = {
    import spark.implicits._
    val (Seq(_, ny, nx), vals) = ZarrSource.readLocalND(dir)
    vals.toSeq.zipWithIndex.map { case (v, i) =>
      (i / (ny * nx), i / nx % ny, i % nx, v)
    }.toDF("t_idx", "y", "x", "value")
  }

  test("format(\"zarr\") reads the same cells as the utility reader") {
    assume(haveFixture)
    val v2 = spark.read.format("zarr").load(fixture)
    val util = localCells(fixture)
    assert(v2.count() == util.count())
    val diff = v2.join(util.withColumnRenamed("value", "expected"),
      Seq("t_idx", "y", "x"))
      .filter(col("value") =!= col("expected")).count()
    assert(diff == 0)
  }

  test("t_idx range predicates prune chunks and appear in the plan") {
    assume(haveFixture)
    val df = spark.read.format("zarr").load(fixture)
      .filter(col("t_idx").between(2, 3))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("t_idx in [2, 3]"), s"pushed range missing from plan:\n$plan")
    assert(df.select("t_idx").distinct().collect().map(_.getInt(0)).sorted.toSeq == Seq(2, 3))
    // fixture chunks are 2 timesteps: [2,3] = exactly one time-chunk of 16
    val all = spark.read.format("zarr").load(fixture)
    assert(df.count() * 16 == all.count())
  }

  test("y/x range predicates prune spatial chunks on the array scan") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_zyx").toFile.getAbsolutePath
    val in = (for (t <- 0 until 4; y <- 0 until 12; x <- 0 until 12)
      yield (t, y, x, t * 100.0 + y + x * 0.01)).toDF("t_idx", "y", "x", "value")
    ZarrSource.write3D(in, dir, shape = (4, 12, 12), chunks = (2, 4, 4))
    val all = spark.read.format("zarr").load(dir)
    // r12: small chunks bundle into ~core-count tasks; the CHUNK count —
    // unwrapped through the bundles — still tracks the grid exactly
    assert(ChunkBundleSpec.plannedChunks(all) == 2 * 3 * 3)
    assert(all.rdd.getNumPartitions <= spark.sparkContext.defaultParallelism)
    val win = spark.read.format("zarr").load(dir)
      .filter(col("y").between(4, 7) && col("x") >= 8)
    val plan = win.queryExecution.executedPlan.toString
    assert(plan.contains("y in [4, 7]") && plan.contains("x in ["),
      s"pushed spatial ranges missing from plan:\n$plan")
    assert(win.rdd.getNumPartitions == 2,
      "only the window's spatial chunk plans (one per time-chunk)")
    assert(win.count() == 4 * 4 * 4)
    assert(win.join(in.withColumnRenamed("value", "expected"), Seq("t_idx", "y", "x"))
      .filter(col("value") =!= col("expected")).count() == 0)
  }

  test("count(*) collapses to a metadata-only scan (zero chunk reads)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_zcount").toFile.getAbsolutePath
    val in = (for (t <- 0 until 6; y <- 0 until 4; x <- 0 until 4)
      yield (t, y, x, t + y + x * 1.0)).toDF("t_idx", "y", "x", "value")
    ZarrSource.write3D(in, dir, shape = (6, 4, 4), chunks = (2, 4, 4))
    val table = spark.read.format("zarr").load(dir)
    val full = table.groupBy().count()
    val plan = full.queryExecution.executedPlan.toString
    assert(plan.contains("MetadataAggScan"), s"metadata count scan missing:\n$plan")
    assert(full.head.getLong(0) == 6L * 4 * 4)
    val win = table.filter(col("t_idx") >= 3 && col("x") < 2).groupBy().count()
    assert(win.queryExecution.executedPlan.toString.contains("MetadataAggScan"))
    assert(win.head.getLong(0) == 3L * 4 * 2)
    val v = table.filter(!isnan(col("value"))).groupBy().count()
    assert(!v.queryExecution.executedPlan.toString.contains("MetadataAggScan"))
    // min/max of dims ride the same metadata answer
    val mm = table.filter(col("y") >= 1).agg(min("t_idx"), max("y"), max("x"))
    assert(mm.queryExecution.executedPlan.toString.contains("MetadataAggScan"))
    assert((mm.head.getInt(0), mm.head.getInt(1), mm.head.getInt(2)) == (0, 3, 3))
    // boundary literals whose v±1 would overflow are NOT claimed as pushed
    // (they stay post-scan filters) — the result must be empty, not "all"
    assert(table.filter(col("t_idx") > Int.MaxValue).count() == 0)
    assert(table.filter(col("x") < Int.MinValue).count() == 0)
  }

  test("column pruning reaches the reader") {
    assume(haveFixture)
    val df = spark.read.format("zarr").load(fixture).select("t_idx")
    assert(df.schema.fieldNames.toSeq == Seq("t_idx"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("columns=t_idx"), s"pruned column set missing:\n$plan")
    assert(df.distinct().count() == 32)
  }

  test("flag count matches the boolean fixture semantics") {
    assume(haveFixture)
    val v2 = spark.read.format("zarr").load(fixture).filter(col("value") =!= 0.0)
    val util = localCells(fixture).filter(col("value") =!= 0.0)
    assert(v2.count() == util.count())
  }

  private val groupDir = "/root/reference/tests/data/extremes_gridded.zarr"

  test("group dir + option(\"var\") selects the member array") {
    assume(haveFixture)
    val viaGroup = spark.read.format("zarr").option("var", "extreme_events")
      .load(groupDir)
    val direct = spark.read.format("zarr").load(fixture)
    assert(viaGroup.count() == direct.count())
    assert(viaGroup.filter(col("value") =!= 0.0).count() ==
      direct.filter(col("value") =!= 0.0).count())
  }

  test("unknown var fails with a clear error listing the members") {
    assume(haveFixture)
    val badVar = intercept[IllegalArgumentException] {
      spark.read.format("zarr").option("var", "nope").load(groupDir).count()
    }
    assert(badVar.getMessage.contains("extreme_events"), badVar.getMessage)
  }

  test("group dir without var reads the whole dataset wide (xr.open_zarr)") {
    assume(haveFixture)
    val df = spark.read.format("zarr").load(groupDir)
    assert(df.schema.fieldNames.toSeq == Seq("time_idx", "lat_idx", "lon_idx",
      "time", "lat", "lon", "extreme_events", "mask"))
    assert(df.count() == 32L * 180 * 360)
    // cell values match a driver-side decode of both members on a slice
    import spark.implicits._
    val (Seq(_, nLat, nLon), ev) = ZarrSource.readLocalND(s"$groupDir/extreme_events")
    val (_, mask) = ZarrSource.readLocalND(s"$groupDir/mask")
    val util = (0 until nLat * nLon).map(i => (0, i / nLon, i % nLon, ev(i), mask(i)))
      .toDF("time_idx", "lat_idx", "lon_idx", "e2", "m2")
    val joined = df.filter(col("time_idx") === 0)
      .join(util, Seq("time_idx", "lat_idx", "lon_idx"))
    assert(joined.count() == 180L * 360)
    assert(joined.filter(col("extreme_events") =!= col("e2") ||
      col("mask") =!= col("m2")).count() == 0)
  }

  test("group scan: per-dimension range pushdown prunes and shows in the plan") {
    assume(haveFixture)
    val df = spark.read.format("zarr").load(groupDir)
      .filter(col("time_idx").between(2, 3) && col("lat_idx") < 90)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("time_idx in [2, 3]"), s"pushed time range missing:\n$plan")
    assert(plan.contains("lat_idx in [0, 89]"), s"pushed lat range missing:\n$plan")
    assert(df.count() == 2L * 90 * 360)
    assert(df.select("time_idx").distinct().collect()
      .map(_.getInt(0)).sorted.toSeq == Seq(2, 3))
  }

  test("group scan: count(*) collapses to a metadata-only scan") {
    assume(haveFixture)
    val table = spark.read.format("zarr").load(groupDir)
    val full = table.groupBy().count()
    val plan = full.queryExecution.executedPlan.toString
    assert(plan.contains("MetadataAggScan"), s"metadata count scan missing:\n$plan")
    val expected = table.rdd.count() // via the real scan
    assert(full.head.getLong(0) == expected)
    val win = table.filter(col("time_idx") < 4).groupBy().count()
    assert(win.queryExecution.executedPlan.toString.contains("MetadataAggScan"))
    assert(win.head.getLong(0) == expected / 8)
  }

  test("group scan: column pruning drops unprojected member arrays") {
    assume(haveFixture)
    val df = spark.read.format("zarr").load(groupDir)
      .select("time_idx", "extreme_events")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("columns=time_idx,extreme_events"),
      s"pruned column set missing:\n$plan")
    // flagged-cell count must match the member-array read
    val member = spark.read.format("zarr").option("var", "extreme_events")
      .load(groupDir).filter(col("value") =!= 0.0)
    assert(df.filter(col("extreme_events") =!= 0.0).count() == member.count())
  }

  test("a zero-chunk store holds metadata only and reads back as all fill") {
    import spark.implicits._
    val empty = Seq.empty[(Int, Int, Int, Double)].toDF("t_idx", "y", "x", "value")
    val (shape, chunks) = ((5, 3, 4), (2, 3, 4))
    // each layout writes the empty frame into a directory and names the
    // group member to read, if any
    val layouts: Seq[(String, String => Option[String])] = Seq(
      "write3D raw" -> { d => ZarrSource.write3D(empty, d, shape, chunks); None },
      "write3D blosc" -> { d =>
        ZarrSource.write3D(empty, d, shape, chunks, Some("blosc")); None },
      "write3DV3 zstd" -> { d => ZarrSource.write3DV3(empty, d, shape, chunks); None },
      "write3DV3 sharded" -> { d =>
        ZarrSource.write3DV3(empty, d, shape, chunks, innerChunks = Some((1, 3, 2))); None },
      "GroupWriter.arrays" -> { d =>
        new ZarrGroup.GroupWriter(d)
          .arrays(empty.toDF("time_idx", "lat_idx", "lon_idx", "sst"),
            Seq("time" -> 5, "lat" -> 3, "lon" -> 4), Seq(2, 3, 4), Seq("sst"))
          .finish()
        Some("sst")
      })
    val metaNames = Set(".zarray", ".zattrs", ".zgroup", ".zmetadata", "zarr.json")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files) else Seq(f)
    for ((layout, write) <- layouts) {
      val dir = java.nio.file.Files.createTempDirectory("graft_zempty").toString + "/store"
      val member = write(dir)
      val stored = files(new java.io.File(dir))
      assert(stored.nonEmpty && stored.forall(f => metaNames(f.getName)),
        s"$layout: metadata only, got ${stored.map(_.getName)}")
      val reader = member.fold(spark.read.format("zarr"))(
        spark.read.format("zarr").option("var", _))
      val values = reader.load(dir).collect().map(_.getAs[Double]("value"))
      assert(values.length == 5 * 3 * 4, layout)
      assert(values.forall(_.isNaN), s"$layout: absent chunks read as NaN fill")
    }
  }
}
