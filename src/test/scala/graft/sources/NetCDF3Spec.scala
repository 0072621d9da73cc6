package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

class NetCDF3Spec extends SparkSpec {
  import spark.implicits._

  private def tmpNc(): String = {
    val f = java.io.File.createTempFile("graft_nc3", ".nc")
    f.delete()
    f.getAbsolutePath
  }

  test("write3D → readHeader parses dims, record count and variable layout") {
    val path = tmpNc()
    val df = (for (t <- 0 until 4; y <- 0 until 3; x <- 0 until 5)
      yield (t, y, x, (t * 100 + y * 10 + x).toDouble)).toDF("t_idx", "y", "x", "value")
    NetCDF3Source.write3D(df, path, "sst", shape = (4, 3, 5))
    val h = NetCDF3Source.readHeader(spark, path)
    assert(h.version == 1)
    assert(h.numRecs == 4)
    assert(h.dims.map(d => (d.name, d.size)) == Seq(("time", 0), ("y", 3), ("x", 5)))
    assert(h.vars.map(_.name) == Seq("sst"))
    assert(h.vars.head.isRecord(h.dims))
  }

  test("write3D → read3D round-trips every cell") {
    val path = tmpNc()
    val in = (for (t <- 0 until 4; y <- 0 until 3; x <- 0 until 5)
      yield (t, y, x, t * 1.5 + y * 0.25 + x * 0.125)).toDF("t_idx", "y", "x", "value")
    NetCDF3Source.write3D(in, path, "sst", shape = (4, 3, 5))
    val out = spark.read.format("netcdf").option("var", "sst").load(path)
    assert(out.collect().length == 4 * 3 * 5)
    val diff = out.join(in.toDF("t_idx", "y", "x", "expected"), Seq("t_idx", "y", "x"))
      .filter(col("value") =!= col("expected")).count()
    assert(diff == 0, "round-trip must be bit-exact for doubles")
  }

  test("read3D timeRange prunes records") {
    val path = tmpNc()
    val in = (for (t <- 0 until 6; y <- 0 until 2; x <- 0 until 2)
      yield (t, y, x, t.toDouble)).toDF("t_idx", "y", "x", "value")
    NetCDF3Source.write3D(in, path, "v", shape = (6, 2, 2))
    val out = spark.read.format("netcdf").option("var", "v").load(path)
      .filter(col("t_idx").between(2, 4))
    assert(out.select("t_idx").distinct().collect().map(_.getInt(0)).sorted.toSeq == Seq(2, 3, 4))
  }

  test("readLocal reads a record variable densely") {
    val path = tmpNc()
    val in = (for (t <- 0 until 3; y <- 0 until 2; x <- 0 until 2)
      yield (t, y, x, (t * 4 + y * 2 + x).toDouble)).toDF("t_idx", "y", "x", "value")
    NetCDF3Source.write3D(in, path, "v", shape = (3, 2, 2))
    val (shape, vals) = NetCDF3Source.readLocal(spark, path, "v")
    assert(shape == Seq(3, 2, 2))
    assert(vals.toSeq == (0 until 12).map(_.toDouble))
  }

  test("non-NetCDF and HDF5 files are rejected with clear errors") {
    val p1 = tmpNc()
    java.nio.file.Files.write(java.nio.file.Paths.get(p1), "not a netcdf".getBytes)
    val e1 = intercept[IllegalArgumentException](NetCDF3Source.readHeader(spark, p1))
    assert(e1.getMessage.contains("not a NetCDF"))
    val p2 = tmpNc()
    java.nio.file.Files.write(java.nio.file.Paths.get(p2),
      Array(0x89.toByte, 'H'.toByte, 'D'.toByte, 'F'.toByte) ++ new Array[Byte](16))
    val e2 = intercept[IllegalArgumentException](NetCDF3Source.readHeader(spark, p2))
    assert(e2.getMessage.contains("NetCDF-4"))
  }

  test("CF-packed classic files decode physical values (ERA5-download shape)") {
    // values on the 0.25 grid so i16 quantization is exact; one hole
    val path = tmpNc()
    val df = (for (t <- 0 until 3; y <- 0 until 3; x <- 0 until 4
        if !(t == 1 && y == 1 && x == 1))
      yield (t, y, x, t * 1.0 + y * 0.25 + x * 0.25))
      .toDF("t_idx", "y", "x", "value")
    NetCDF3Source.write3D(df, path, "sst", shape = (3, 3, 4),
      pack = Some(NetCDF4Source.Pack(scale = 0.25)))
    val h = NetCDF3Source.readHeader(spark, path)
    assert(h.vars.head.ncType == 3, "the variable must be stored as NC_SHORT")
    assert(h.vars.head.numAttr("scale_factor").contains(0.25))
    // windowed read (pushed t_idx range): CF-decoded
    val ds = spark.read.format("netcdf").option("var", "sst").load(path)
      .filter(col("t_idx").between(0, 2))
    assert(ds.filter(isnan(col("value"))).count() == 1, "the hole reads NaN")
    assert(ds.filter(!isnan(col("value")) && col("value") =!=
      col("t_idx") * 1.0 + col("y") * 0.25 + col("x") * 0.25).count() == 0,
      "packed classic cells must decode to physical values, not raw codes")
    // unwindowed read: same decode
    val sql = spark.read.format("netcdf").option("var", "sst").load(path)
    assert(sql.filter(isnan(col("value"))).count() == 1)
    assert(sql.filter(!isnan(col("value")) && col("value") =!=
      col("t_idx") * 1.0 + col("y") * 0.25 + col("x") * 0.25).count() == 0)
  }

  test("the legacy missing_value spelling masks like _FillValue") {
    val path = tmpNc()
    val df = (for (t <- 0 until 2; y <- 0 until 2; x <- 0 until 2
        if !(t == 0 && y == 0 && x == 0))
      yield (t, y, x, t * 1.0)).toDF("t_idx", "y", "x", "value")
    NetCDF3Source.write3D(df, path, "sst", shape = (2, 2, 2),
      pack = Some(NetCDF4Source.Pack(scale = 0.5)),
      fillAttr = "missing_value")
    val sql = spark.read.format("netcdf").option("var", "sst").load(path)
    assert(sql.filter(isnan(col("value"))).count() == 1,
      "missing_value-coded cells must mask to NaN")
    assert(sql.filter(!isnan(col("value")) &&
      col("value") =!= col("t_idx") * 1.0).count() == 0)
  }

  test("a single short record variable packs records TIGHTLY (classic special case)") {
    // the classic-format spec: with exactly ONE record variable of type
    // byte/char/short, record slabs are NOT padded to 4 bytes — netCDF-C
    // readers recompute recsize with this rule, so padding here would
    // shift every record after the first by 2 bytes on odd-cell grids
    val path = tmpNc()
    val df = (for (t <- 0 until 3; y <- 0 until 1; x <- 0 until 3)
      yield (t, y, x, t * 10.0 + x)).toDF("t_idx", "y", "x", "value")
    NetCDF3Source.write3D(df, path, "sst", shape = (3, 1, 3),
      pack = Some(NetCDF4Source.Pack(scale = 1.0)))
    val h = NetCDF3Source.readHeader(spark, path)
    assert(h.recSize == 6, s"3 shorts pack tightly, got recSize ${h.recSize}")
    // the file ends exactly at header + 3 tight records
    val fileLen = new java.io.File(path).length()
    assert(fileLen == h.vars.head.begin + 3 * 6,
      s"no padding bytes may follow a tight record (len $fileLen)")
    // windowed read (pushed t_idx range)
    val ds = spark.read.format("netcdf").option("var", "sst").load(path)
      .filter(col("t_idx").between(0, 2))
    assert(ds.collect().length == 9)
    assert(ds.filter(col("value") =!=
      col("t_idx") * 10.0 + col("x")).count() == 0,
      "records after the first must decode from the TIGHT stride")
    // and unwindowed
    val sql = spark.read.format("netcdf").option("var", "sst").load(path)
    assert(sql.filter(col("value") =!=
      col("t_idx") * 10.0 + col("x")).count() == 0)
  }

  // ─── CDF-5 (64-bit data, `CDF\x05`) ───────────────────────────────────────
  // PnetCDF-written archives are real in climate workflows; the layout is
  // the public classic spec with every NON_NEG widened to INT64 and five
  // added data types. The fixture is assembled BYTE-BY-BYTE from the spec
  // grammar (independent of our own writer, which stays CDF-1), so the
  // reader is checked against the format, not against itself.

  /** Hand-build a CDF-5 file: dims (time record, y=2, x=3); fixed var
    * `mask(y,x)` of NC_USHORT with values past the i16 range (unsigned
    * decode check); record var `sst(time,y,x)` of NC_INT64 with 2 records
    * and a char attr. Returns the path. */
  private def buildCdf5(): String = {
    val bb = java.nio.ByteBuffer.allocate(8192)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    def name(s: String): Unit = {
      val b = s.getBytes("UTF-8")
      bb.putLong(b.length.toLong).put(b)
      (0 until (4 - b.length % 4) % 4).foreach(_ => bb.put(0.toByte))
    }
    bb.put("CDF".getBytes).put(5.toByte)
    bb.putLong(2L) // numrecs (INT64 in CDF-5)
    bb.putInt(0x0A).putLong(3L) // dim_list
    name("time"); bb.putLong(0L) // record dim
    name("y"); bb.putLong(2L)
    name("x"); bb.putLong(3L)
    bb.putInt(0).putLong(0L) // global attrs ABSENT (ZERO, ZERO64)
    bb.putInt(0x0B).putLong(2L) // var_list
    // var mask(y, x): NC_USHORT, no attrs
    name("mask")
    bb.putLong(2L).putLong(1L).putLong(2L) // nelems + dimids, all INT64
    bb.putInt(0).putLong(0L) // vatts ABSENT
    bb.putInt(8) // NC_USHORT
    bb.putLong(12L) // vsize: 2×3×2
    val maskBeginAt = bb.position(); bb.putLong(0L) // begin, patched below
    // var sst(time, y, x): NC_INT64, one char attr
    name("sst")
    bb.putLong(3L).putLong(0L).putLong(1L).putLong(2L)
    bb.putInt(0x0C).putLong(1L) // vatt_list, 1 attr
    name("units"); bb.putInt(2).putLong(1L) // NC_CHAR, count INT64 = 1
    bb.put('K'.toByte).put(0.toByte).put(0.toByte).put(0.toByte) // pad ×4
    bb.putInt(10) // NC_INT64
    bb.putLong(48L) // vsize: 2×3×8 per record
    val sstBeginAt = bb.position(); bb.putLong(0L)
    val headerLen = bb.position().toLong
    bb.putLong(maskBeginAt, headerLen)
    bb.putLong(sstBeginAt, headerLen + 12L)
    // data: mask (6 ushorts, two past i16 range), then 2 sst records
    Seq(1, 40000, 3, 65535, 5, 6).foreach(v => bb.putShort(v.toShort))
    for (t <- 0 until 2; i <- 0 until 6) bb.putLong(t * 100L + i)
    val path = tmpNc()
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      java.util.Arrays.copyOf(bb.array(), bb.position()))
    path
  }

  test("CDF-5 header parses: INT64 NON_NEGs, added types, version 5") {
    val path = buildCdf5()
    val h = NetCDF3Source.readHeader(spark, path)
    assert(h.version == 5)
    assert(h.numRecs == 2)
    assert(h.dims.map(d => (d.name, d.size)) ==
      Seq(("time", 0), ("y", 2), ("x", 3)))
    assert(h.vars.map(v => (v.name, v.ncType)) == Seq(("mask", 8), ("sst", 10)))
    assert(h.vars(1).attrs("units") == "K")
    assert(h.recSize == 48, s"one i64 record var: recSize ${h.recSize}")
  }

  test("CDF-5 data reads: uint16 fixed var unsigned, int64 records exact") {
    val path = buildCdf5()
    val (mShape, mask) = NetCDF3Source.readLocal(spark, path, "mask")
    assert(mShape == Seq(2, 3))
    assert(mask.toSeq == Seq(1.0, 40000.0, 3.0, 65535.0, 5.0, 6.0),
      "NC_USHORT must decode unsigned, not sign-extended")
    // windowed read (pushed t_idx range)
    val ds = spark.read.format("netcdf").option("var", "sst").load(path)
      .filter(col("t_idx").between(0, 1))
    assert(ds.collect().length == 12)
    assert(ds.filter(col("value") =!=
      col("t_idx") * 100.0 + col("y") * 3.0 + col("x")).count() == 0)
    // and unwindowed (same header/decode path)
    val sql = spark.read.format("netcdf").option("var", "sst").load(path)
    assert(sql.count() == 12)
    assert(sql.filter(col("value") =!=
      col("t_idx") * 100.0 + col("y") * 3.0 + col("x")).count() == 0)
  }
}
