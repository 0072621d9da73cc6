package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** CF-packed i16 grid writes ([[NetCDF4Source.Pack]]): raw shorts +
  * scale/offset/_FillValue attributes — the layout real NC4 archives ship
  * — optionally szip-compressed (the file-level consumer of the
  * extended-Rice codec). Every read path applies the CF decode, so the
  * round-trip restores quantized physical values and NaN exactly. */
class PackedWriteSpec extends SparkSpec {
  import spark.implicits._

  private def tmpNc(): String = {
    val f = java.io.File.createTempFile("graft_pack", ".nc")
    f.delete()
    f.getAbsolutePath
  }

  private def grid(nt: Int, ny: Int, nx: Int) =
    (for (t <- 0 until nt; y <- 0 until ny; x <- 0 until nx)
      yield (t, y, x, if ((t + y + x) % 7 == 0) Double.NaN
        else 280.0 + 5 * math.sin(t * 0.3) + y * 0.1 - x * 0.05))
      .toDF("t_idx", "y", "x", "value")

  private def quantize(v: Double, scale: Double, off: Double): Double =
    math.rint((v - off) / scale) * scale + off

  test("packed i16 + deflate round-trips quantized values and NaN through the DSv2") {
    val path = tmpNc()
    val in = grid(6, 5, 8)
    NetCDF4Source.write3D(in, path, "sst", shape = (6, 5, 8), timeChunk = 4,
      pack = Some(NetCDF4Source.Pack(scale = 0.01, offset = 273.15)))
    val back = spark.read.format("netcdf").option("var", "sst").load(path)
    assert(back.count() == 6 * 5 * 8)
    val joined = back.join(in.withColumnRenamed("value", "orig"),
      Seq("t_idx", "y", "x"))
    assert(joined.filter(isnan(col("orig")) =!= isnan(col("value"))).count() == 0,
      "NaN cells survive the fill mapping")
    val bad = joined.filter(!isnan(col("orig")))
      .collect().count { r =>
        math.abs(r.getAs[Double]("value") -
          quantize(r.getAs[Double]("orig"), 0.01, 273.15)) > 1e-9
      }
    assert(bad == 0, "values must equal the i16 quantization exactly")
  }

  test("packed i16 + szip round-trips; the file carries filter 4 and shrinks") {
    val pathSzip = tmpNc()
    val in = grid(8, 16, 32)
    NetCDF4Source.write3D(in, pathSzip, "sst", shape = (8, 16, 32),
      timeChunk = 4, pack = Some(NetCDF4Source.Pack(0.01, 273.15)),
      compressor = "szip")
    val src = new NetCDF4Source.HadoopSource(
      spark.sparkContext.hadoopConfiguration, pathSzip)
    val (rootOh, _) = Hdf5.readSuperblock(src)
    val oh = Hdf5.listDatasets(src, rootOh).find(_._1 == "sst").get._2
    val ds = Hdf5.readDataset(src, "sst", oh)
    assert(ds.filters.map(_.id) == Seq(4), "szip filter pipeline on the dataset")
    assert(ds.filters.head.clientValues.length == 4)

    val back = spark.read.format("netcdf").option("var", "sst").load(pathSzip)
    val joined = back.join(in.withColumnRenamed("value", "orig"), Seq("t_idx", "y", "x"))
    assert(joined.count() == 8 * 16 * 32)
    assert(joined.filter(isnan(col("orig")) =!= isnan(col("value"))).count() == 0)
    val bad = joined.filter(!isnan(col("orig"))).collect().count { r =>
      math.abs(r.getAs[Double]("value") -
        quantize(r.getAs[Double]("orig"), 0.01, 273.15)) > 1e-9
    }
    assert(bad == 0)

    // compression check on a SMOOTH NaN-free field (fill spikes break
    // prediction by design — NaN cells decode exactly, above): coded chunk
    // bytes must land well under the 2 B/sample packed raw size
    val smoothPath = tmpNc()
    val smooth = (for (t <- 0 until 8; y <- 0 until 16; x <- 0 until 32)
      yield (t, y, x, 280.0 + 3 * math.sin((t + y + x) * 0.05)))
      .toDF("t_idx", "y", "x", "value")
    NetCDF4Source.write3D(smooth, smoothPath, "sst", shape = (8, 16, 32),
      timeChunk = 4, pack = Some(NetCDF4Source.Pack(0.01, 273.15)),
      compressor = "szip")
    val src2 = new NetCDF4Source.HadoopSource(
      spark.sparkContext.hadoopConfiguration, smoothPath)
    val (rootOh2, _) = Hdf5.readSuperblock(src2)
    val ds2 = Hdf5.readDataset(src2, "sst",
      Hdf5.listDatasets(src2, rootOh2).find(_._1 == "sst").get._2)
    val coded = Hdf5.listChunks(src2, ds2).map(_.size.toLong).sum
    assert(coded < 8 * 16 * 32 * 2 / 2,
      s"smooth data should szip to under half the packed raw size (got $coded B)")
    val back2 = spark.read.format("netcdf").option("var", "sst").load(smoothPath)
    assert(back2.filter(isnan(col("value"))).count() == 0 &&
      back2.count() == 8 * 16 * 32)
  }

  test("utility read3D and readLocal apply the CF decode on packed szip files") {
    val path = tmpNc()
    val in = grid(4, 6, 10)
    NetCDF4Source.write3D(in, path, "sst", shape = (4, 6, 10), timeChunk = 2,
      pack = Some(NetCDF4Source.Pack(0.02, 270.0)), compressor = "szip")
    val viaRead3D = spark.read.format("netcdf").option("var", "sst").load(path)
    assert(viaRead3D.collect().length == 4 * 6 * 10)
    val r = viaRead3D.filter(col("t_idx") === 1 && col("y") === 2 && col("x") === 3)
      .head.getAs[Double]("value")
    val orig = in.filter(col("t_idx") === 1 && col("y") === 2 && col("x") === 3)
      .head.getAs[Double]("value")
    assert(math.abs(r - quantize(orig, 0.02, 270.0)) < 1e-9)
    val (dims, local) = NetCDF4Source.readLocal(spark, path, "sst")
    assert(dims == Seq(4L, 6L, 10L))
    // readLocal returns RAW values (no CF decode) — spot-check the raw code
    val rawAt = local(1 * 60 + 2 * 10 + 3)
    assert(math.abs(rawAt - math.rint((orig - 270.0) / 0.02)) < 1e-9)
  }

  test("szip on unpacked f64 is rejected by name; out-of-range packs go to fill") {
    val e = intercept[IllegalArgumentException](
      NetCDF4Source.write3D(grid(2, 2, 2), tmpNc(), "v", shape = (2, 2, 2),
        compressor = "szip"))
    assert(e.getMessage.contains("pack"))
    val path = tmpNc()
    val wild = Seq((0, 0, 0, 1e9), (0, 0, 1, 1.0)).toDF("t_idx", "y", "x", "value")
    NetCDF4Source.write3D(wild, path, "v", shape = (1, 1, 2),
      pack = Some(NetCDF4Source.Pack(0.01)))
    val back = spark.read.format("netcdf").option("var", "v").load(path).collect()
    assert(back.count(r => r.getAs[Int]("x") == 0 && r.getAs[Double]("value").isNaN) == 1,
      "an i16-overflowing value lands on fill, never aliases")
  }
}
