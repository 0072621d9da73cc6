package graft.sources

import java.nio.ByteBuffer
import java.nio.ByteOrder

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** zarr v2 `dimension_separator: "/"` — the nested, object-store-friendly
  * chunk layout zarr-python ≥ 2.8 / xarray `to_zarr` can emit. Ignoring
  * the field would FileNotFound every chunk and silently read the whole
  * array as fill — the silent-wrong-data class this engine treats as
  * highest severity — so the reader honors it and the in-place write
  * paths keep the STORE's own key encoding. */
class ZarrDimSeparatorSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_zsep").toFile
    d.delete()
    d.getAbsolutePath
  }

  /** Hand-written foreign fixture: a (4, 2, 3) f8 group member `sst` with
    * nested "/"-separated chunk keys, chunks (2, 2, 3). */
  private def writeNestedStore(dir: String): Unit = {
    def put(rel: String, bytes: Array[Byte]): Unit = {
      val p = java.nio.file.Paths.get(dir, rel.split("/"): _*)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, bytes)
    }
    put(".zgroup", """{"zarr_format": 2}""".getBytes)
    put("sst/.zarray",
      """{"zarr_format": 2, "shape": [4, 2, 3], "chunks": [2, 2, 3],
        | "dtype": "<f8", "compressor": null, "fill_value": "NaN",
        | "order": "C", "filters": null,
        | "dimension_separator": "/"}""".stripMargin.getBytes)
    put("sst/.zattrs",
      """{"_ARRAY_DIMENSIONS": ["time", "y", "x"]}""".getBytes)
    (0 until 2).foreach { tc =>
      val buf = ByteBuffer.allocate(2 * 2 * 3 * 8).order(ByteOrder.LITTLE_ENDIAN)
      for (t <- 0 until 2; y <- 0 until 2; x <- 0 until 3)
        buf.putDouble((tc * 2 + t) * 100.0 + y * 10.0 + x)
      put(s"sst/$tc/0/0", buf.array())
    }
  }

  test("a dimension_separator '/' store reads every chunk (not silent fill)") {
    val dir = tmpDir()
    writeNestedStore(dir)
    val ds = spark.read.format("zarr").load(dir)
    assert(ds.count() == 4 * 2 * 3, "every nested-keyed chunk must be found")
    assert(ds.filter(isnan(col("sst"))).count() == 0,
      "no cell may silently read as fill")
    assert(ds.filter(col("sst") =!= col("time_idx") * 100.0 +
      col("y_idx") * 10.0 + col("x_idx")).count() == 0)
  }

  test("appends onto a '/'-separated store keep ITS key encoding") {
    val dir = tmpDir()
    writeNestedStore(dir)
    val block = (for (t <- 0 until 2; y <- 0 until 2; x <- 0 until 3)
      yield (t, y, x, (t + 4) * 100.0 + y * 10.0 + x))
      .toDF("time_idx", "y_idx", "x_idx", "sst")
    block.write.format("zarr")
      .option("dims", "time:2,y:2,x:3").option("chunks", "2,2,3")
      .option("cols", "sst")
      .mode("append").save(dir)
    // the appended chunk must land NESTED (sst/2/0/0), not "."-keyed
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "sst", "2", "0", "0")),
      "the appended chunk must use the store's '/' key encoding")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "sst", "2.0.0")),
      "no '.'-keyed stray chunk may appear")
    val ds = spark.read.format("zarr").load(dir)
    assert(ds.count() == 6 * 2 * 3)
    assert(ds.filter(col("sst") =!= col("time_idx") * 100.0 +
      col("y_idx") * 10.0 + col("x_idx")).count() == 0,
      "old and appended slices must both read back exactly")
  }

  test("v2 'Infinity' string fill values parse (spec encoding)") {
    val m = ZarrSource.readMeta(
      """{"zarr_format": 2, "shape": [2], "chunks": [2], "dtype": "<f8",
        | "compressor": null, "fill_value": "Infinity", "order": "C",
        | "filters": null}""".stripMargin)
    assert(m.fillValue.isPosInfinity)
    val m2 = ZarrSource.readMeta(
      """{"zarr_format": 2, "shape": [2], "chunks": [2], "dtype": "<f8",
        | "compressor": null, "fill_value": "-Infinity", "order": "C",
        | "filters": null}""".stripMargin)
    assert(m2.fillValue.isNegInfinity)
  }

  test("an unknown dimension_separator fails by name") {
    val e = intercept[IllegalArgumentException] {
      ZarrSource.readMeta(
        """{"zarr_format": 2, "shape": [2], "chunks": [2], "dtype": "<f8",
          | "compressor": null, "fill_value": 0, "order": "C",
          | "filters": null, "dimension_separator": "-"}""".stripMargin)
    }
    assert(e.getMessage.contains("dimension_separator"))
  }
}
