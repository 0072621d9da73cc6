package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

class NetCdfDataSourceV2Spec extends SparkSpec {
  import spark.implicits._

  private def tmpNc(): String = {
    val f = java.io.File.createTempFile("graft_ncv2", ".nc")
    f.delete()
    f.getAbsolutePath
  }

  private def grid(nt: Int, ny: Int, nx: Int) =
    (for (t <- 0 until nt; y <- 0 until ny; x <- 0 until nx)
      yield (t, y, x, t * 2.0 + y * 0.5 + x * 0.25)).toDF("t_idx", "y", "x", "value")

  test("format(\"netcdf\") reads an NC4 file like the utility reader") {
    val path = tmpNc()
    val in = grid(6, 3, 4)
    NetCDF4Source.write3D(in, path, "sst", shape = (6, 3, 4), timeChunk = 2)
    val v2 = spark.read.format("netcdf").option("var", "sst").load(path)
    assert(v2.count() == 6 * 3 * 4)
    val diff = v2.join(in.withColumnRenamed("value", "expected"), Seq("t_idx", "y", "x"))
      .filter(col("value") =!= col("expected")).count()
    assert(diff == 0)
  }

  test("format(\"netcdf\") reads an NC3 classic file through the same format") {
    val path = tmpNc()
    val in = grid(5, 2, 3)
    NetCDF3Source.write3D(in, path, "v", shape = (5, 2, 3))
    val v2 = spark.read.format("netcdf").option("var", "v").load(path)
    assert(v2.count() == 5 * 2 * 3)
    val diff = v2.join(in.withColumnRenamed("value", "expected"), Seq("t_idx", "y", "x"))
      .filter(col("value") =!= col("expected")).count()
    assert(diff == 0)
  }

  test("t_idx range predicates prune chunks and appear in the plan") {
    val path = tmpNc()
    NetCDF4Source.write3D(grid(8, 2, 2), path, "v", shape = (8, 2, 2), timeChunk = 2)
    val df = spark.read.format("netcdf").option("var", "v").load(path)
      .filter(col("t_idx").between(4, 5))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("t_idx in [4, 5]"), s"pushed range missing from plan:\n$plan")
    assert(df.select("t_idx").distinct().collect().map(_.getInt(0)).sorted.toSeq == Seq(4, 5))
    // [4,5] covers exactly one 2-timestep chunk of four
    val scan = df.queryExecution.executedPlan.collectLeaves().head
    assert(scan.toString.contains("NetCdfScan"))
  }

  test("y/x range predicates prune spatial chunks (regional window)") {
    val path = tmpNc()
    // 12×12 grid in 4×4 spatial chunks → 3×3 spatial grid per time-chunk
    NetCDF4Source.write3D(grid(4, 12, 12), path, "v", shape = (4, 12, 12),
      timeChunk = 2, spatialChunks = Some((4, 4)))
    val all = spark.read.format("netcdf").option("var", "v").load(path)
    // r12: small chunks bundle into ~core-count tasks; the CHUNK count —
    // unwrapped through the bundles — still tracks the grid exactly
    assert(ChunkBundleSpec.plannedChunks(all) == 2 * 3 * 3)
    assert(all.rdd.getNumPartitions <= spark.sparkContext.defaultParallelism)
    // the window [y 0..3] × [x 4..7] covers exactly ONE spatial chunk
    val win = spark.read.format("netcdf").option("var", "v").load(path)
      .filter(col("y") < 4 && col("x").between(4, 7))
    val plan = win.queryExecution.executedPlan.toString
    assert(plan.contains("y in [") && plan.contains("x in [4, 7]"),
      s"pushed spatial ranges missing from plan:\n$plan")
    assert(win.rdd.getNumPartitions == 2,
      "only the window's spatial chunk plans (one per time-chunk)")
    assert(win.count() == 4 * 4 * 4)
    val expected = grid(4, 12, 12).filter(col("y") < 4 && col("x").between(4, 7))
    assert(win.join(expected.withColumnRenamed("value", "expected"),
      Seq("t_idx", "y", "x"))
      .filter(col("value") =!= col("expected")).count() == 0)
  }

  test("count(*) collapses to a metadata-only scan (zero data reads)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_nccount").toFile.getAbsolutePath
    NetCDF4Source.write3D(grid(6, 3, 4), s"$dir/sst_000.nc", "sst",
      shape = (6, 3, 4), timeChunk = 2)
    NetCDF4Source.write3D(grid(4, 3, 4), s"$dir/sst_001.nc", "sst",
      shape = (4, 3, 4), timeChunk = 2)
    val table = spark.read.format("netcdf").option("var", "sst").load(dir)
    val full = table.groupBy().count()
    val plan = full.queryExecution.executedPlan.toString
    assert(plan.contains("MetadataAggScan"), s"metadata count scan missing:\n$plan")
    assert(full.head.getLong(0) == 10L * 3 * 4)
    assert(full.rdd.getNumPartitions <= 2, "one metadata partition, no chunk tasks")
    // a dim window still counts from metadata (ranges are dense + exact)
    val win = table.filter(col("t_idx").between(4, 7) && col("y") < 2).groupBy().count()
    assert(win.queryExecution.executedPlan.toString.contains("MetadataAggScan"))
    assert(win.head.getLong(0) == 4L * 2 * 4)
    // a VALUE predicate cannot be metadata-answered — falls back to a real scan
    val v = table.filter(col("value") > 3.0).groupBy().count()
    assert(!v.queryExecution.executedPlan.toString.contains("MetadataAggScan"))
  }

  test("min/max of dim columns are answered from metadata too") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ncmm").toFile.getAbsolutePath
    NetCDF4Source.write3D(grid(6, 3, 4), s"$dir/sst_000.nc", "sst",
      shape = (6, 3, 4), timeChunk = 2)
    NetCDF4Source.write3D(grid(4, 3, 4), s"$dir/sst_001.nc", "sst",
      shape = (4, 3, 4), timeChunk = 2)
    val table = spark.read.format("netcdf").option("var", "sst").load(dir)
    val agg = table.agg(min("t_idx"), max("t_idx"), max("y"), count(lit(1)))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("MetadataAggScan"), s"metadata agg scan missing:\n$plan")
    val r = agg.head
    assert((r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3)) == (0, 9, 2, 120L))
    // windowed extremes clamp to the window
    val w = table.filter(col("t_idx").between(3, 7)).agg(min("t_idx"), max("t_idx"))
    assert(w.queryExecution.executedPlan.toString.contains("MetadataAggScan"))
    assert((w.head.getInt(0), w.head.getInt(1)) == (3, 7))
    // min/max of the VALUE column needs data — real scan
    val v = table.agg(max("value"))
    assert(!v.queryExecution.executedPlan.toString.contains("MetadataAggScan"))
    assert(v.head.getDouble(0) == grid(6, 3, 4).agg(max("value")).head.getDouble(0))
  }

  test("dim filters are exact without a residual post-scan filter") {
    val path = tmpNc()
    val in = grid(6, 4, 4)
    NetCDF4Source.write3D(in, path, "v", shape = (6, 4, 4), timeChunk = 3)
    val df = spark.read.format("netcdf").option("var", "v").load(path)
      .filter(col("t_idx") === 2 && col("y").between(1, 2) && col("x") >= 3)
    val rows = df.collect()
    assert(rows.length == 1 * 2 * 1)
    assert(rows.forall(r => r.getInt(0) == 2 && (1 to 2).contains(r.getInt(1))
      && r.getInt(2) == 3))
    val expected = in.filter(col("t_idx") === 2 && col("y").between(1, 2) && col("x") >= 3)
    assert(df.join(expected.withColumnRenamed("value", "e"), Seq("t_idx", "y", "x"))
      .filter(col("value") =!= col("e")).count() == 0)
  }

  test("column pruning reaches the reader") {
    val path = tmpNc()
    NetCDF4Source.write3D(grid(4, 2, 2), path, "v", shape = (4, 2, 2), timeChunk = 2)
    val df = spark.read.format("netcdf").option("var", "v").load(path).select("t_idx")
    assert(df.schema.fieldNames.toSeq == Seq("t_idx"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("columns=t_idx"), s"pruned column set missing:\n$plan")
    assert(df.distinct().count() == 4)
  }

  test("CF packing decodes through the DataSourceV2 path too") {
    val path = tmpNc()
    val raw = Seq((0, 0, 0, 100.0), (1, 0, 0, -999.0)).toDF("t_idx", "y", "x", "value")
    NetCDF4Source.write3D(raw, path, "v", shape = (2, 1, 1),
      attrs = Seq("scale_factor" -> 0.1, "add_offset" -> 5.0, "_FillValue" -> -999.0))
    val out = spark.read.format("netcdf").option("var", "v").load(path)
      .filter(!isnan(col("value")))
    assert(out.collect().map(r => (r.getInt(0), r.getDouble(3))).toSet == Set((0, 15.0)))
  }

  test("missing var option fails with a clear error") {
    val path = tmpNc()
    NetCDF4Source.write3D(grid(2, 2, 2), path, "v", shape = (2, 2, 2))
    val e = intercept[Exception](
      spark.read.format("netcdf").load(path).count())
    assert(e.getMessage.contains("var"))
  }

  // ── multi-file archives (xr.open_mfdataset, user_guide.rst:82) ──────────

  /** Write one file per 4-day "month": global t in [4m, 4m+3] maps to
    * local t_idx 0..3, with a value encoding the GLOBAL t. */
  private def writeArchive(dir: java.io.File, months: Int, mixNc3: Boolean = false): Unit = {
    dir.mkdirs()
    (0 until months).foreach { mth =>
      val local = (for (t <- 0 until 4; y <- 0 until 2; x <- 0 until 3)
        yield (t, y, x, (mth * 4 + t) * 10.0 + y + x * 0.5)).toDF("t_idx", "y", "x", "value")
      val p = f"${dir.getAbsolutePath}/sst_$mth%03d.nc"
      if (mixNc3 && mth % 2 == 1) NetCDF3Source.write3D(local, p, "sst", shape = (4, 2, 3))
      else NetCDF4Source.write3D(local, p, "sst", shape = (4, 2, 3), timeChunk = 2)
    }
  }

  test("a directory of files concatenates along time in name order") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mf").toFile
    writeArchive(dir, months = 3)
    val df = spark.read.format("netcdf").option("var", "sst").load(dir.getAbsolutePath)
    assert(df.count() == 3 * 4 * 2 * 3)
    // global t_idx must match the value encoding (value DIV 10 = global t)
    val bad = df.filter(col("t_idx") =!= (col("value") / 10.0).cast("int")).count()
    assert(bad == 0, "global time axis misaligned across files")
    assert(df.agg(max("t_idx")).head.getInt(0) == 11)
  }

  test("a glob selects and orders the matching files") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mfg").toFile
    writeArchive(dir, months = 3)
    val df = spark.read.format("netcdf").option("var", "sst")
      .load(s"${dir.getAbsolutePath}/sst_*.nc")
    assert(df.count() == 3 * 4 * 2 * 3)
    assert(df.agg(max("t_idx")).head.getInt(0) == 11)
  }

  test("NC3 and NC4 files mix in one archive, each dispatched on its magic") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mfmix").toFile
    writeArchive(dir, months = 4, mixNc3 = true)
    val df = spark.read.format("netcdf").option("var", "sst").load(dir.getAbsolutePath)
    assert(df.count() == 4 * 4 * 2 * 3)
    assert(df.filter(col("t_idx") =!= (col("value") / 10.0).cast("int")).count() == 0)
  }

  test("t_idx range prunes whole files before chunks, visible in the plan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mfp").toFile
    writeArchive(dir, months = 6) // global t 0..23
    val df = spark.read.format("netcdf").option("var", "sst")
      .load(dir.getAbsolutePath)
      .filter(col("t_idx").between(9, 10)) // inside file 2 only
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("files_kept=1"), s"file-level prune missing from plan:\n$plan")
    assert(plan.contains("t_idx in [9, 10]"), s"pushed range missing:\n$plan")
    val got = df.select("t_idx").distinct().collect().map(_.getInt(0)).sorted
    assert(got.toSeq == Seq(9, 10))
  }

  test("multiple explicit paths load as one table") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mfe").toFile
    writeArchive(dir, months = 2)
    val df = spark.read.format("netcdf").option("var", "sst")
      .load(f"${dir.getAbsolutePath}/sst_000.nc", f"${dir.getAbsolutePath}/sst_001.nc")
    assert(df.count() == 48)
    assert(df.agg(max("t_idx")).head.getInt(0) == 7)
  }

  test("scan statistics reflect the pruned range (Catalyst sees true sizes)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mfs").toFile
    writeArchive(dir, months = 6) // 24 global t, 2×3 cells per slice
    val df = spark.read.format("netcdf").option("var", "sst")
      .load(dir.getAbsolutePath)
      .filter(col("t_idx").between(9, 10))
    val rel = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
    }.head
    assert(rel.computeStats().rowCount.contains(BigInt(2 * 2 * 3)),
      s"stats: ${rel.computeStats()}")
  }

  test("the NetCDFSource facade opens directories and globs like open_mfdataset") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mff").toFile
    writeArchive(dir, months = 3)
    val viaDir = spark.read.format("netcdf").option("var", "sst").load(dir.getAbsolutePath)
    assert(viaDir.collect().length == 3 * 4 * 2 * 3)
    val ranged = spark.read.format("netcdf").option("var", "sst")
      .load(s"${dir.getAbsolutePath}/sst_*.nc").filter(col("t_idx").between(9, 10))
    assert(ranged.select("t_idx").distinct().collect().map(_.getInt(0)).sorted.toSeq
      == Seq(9, 10))
  }

  test("a compact-layout NC4 variable reads from its header bytes") {
    import java.nio.{ByteBuffer, ByteOrder}
    val raw = Array.tabulate[Short](10)(i => (i * 3 - 7).toShort)
    val img = Hdf5.assemble(Seq(Hdf5.WriteVar("v", Seq(5, 1, 2), Array.empty,
      typed = Some(Hdf5.PackedGridData(raw)), attrs = Seq("scale_factor" -> 0.5))))
    // the writer emits no compact layout: rewrite the contiguous layout
    // message (v3 class 1: address + 20-byte size, padded to 24 bytes) in
    // place as a compact one (v3 class 0: size + the 20 data bytes)
    def le(off: Int) = ByteBuffer.wrap(img, off, 8).order(ByteOrder.LITTLE_ENDIAN)
    val at = (0 until img.length - 24).filter(i =>
      img(i) == 3 && img(i + 1) == 1 && le(i + 10).getLong == 20L)
    assert(at.size == 1, s"contiguous layout message matches at $at")
    val addr = le(at.head + 2).getLong.toInt
    val compact = ByteBuffer.allocate(24).order(ByteOrder.LITTLE_ENDIAN)
      .put(3.toByte).put(0.toByte).putShort(20.toShort).put(img, addr, 20).array()
    System.arraycopy(compact, 0, img, at.head, 24)
    val path = tmpNc()
    java.nio.file.Files.write(java.nio.file.Paths.get(path), img)
    val src = new NetCDF4Source.HadoopSource(spark.sparkContext.hadoopConfiguration, path)
    val (rootOh, _) = Hdf5.readSuperblock(src)
    val (nm, oh) = Hdf5.listDatasets(src, rootOh).head
    assert(Hdf5.readDataset(src, nm, oh).layout.isInstanceOf[Hdf5.Compact])

    val df = spark.read.format("netcdf").option("var", "v").load(path)
    val got = df.orderBy("t_idx", "y", "x").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getDouble(3)))
    assert(got.toSeq == (0 until 10).map(i => (i / 2, 0, i % 2, raw(i) * 0.5)))
    val win = df.filter(col("t_idx").between(1, 3))
    assert(win.queryExecution.executedPlan.toString.contains("t_idx in [1, 3]"))
    assert(win.collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 1, 2, 2, 3, 3))
  }

  test("an NC4 variable with no allocated chunks reads as NaN over its shape") {
    // all-default cells + chunk elision: every chunk is dropped from the
    // index, which the writer still emits as one valid 0-entry leaf
    val img = Hdf5.assemble(Seq(Hdf5.WriteVar("v", Seq(4, 2, 3),
      Array.fill(4 * 2 * 3)(0.0), chunkDims = Some(Seq(2, 2, 3)),
      elideDefaultChunks = true)))
    val path = tmpNc()
    java.nio.file.Files.write(java.nio.file.Paths.get(path), img)
    val got = spark.read.format("netcdf").option("var", "v").load(path)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getDouble(3)))
    assert(got.map(r => (r._1, r._2, r._3)).sorted.toSeq ==
      (for (t <- 0 until 4; y <- 0 until 2; x <- 0 until 3) yield (t, y, x)))
    assert(got.forall(_._4.isNaN), "unallocated chunks read as NaN fill")
  }

  test("an empty match fails with the pattern named") {
    val e = intercept[Exception](
      spark.read.format("netcdf").option("var", "sst")
        .load("/tmp/does_not_exist_graft_*.nc").count())
    assert(e.getMessage.contains("does_not_exist_graft"))
  }
}
