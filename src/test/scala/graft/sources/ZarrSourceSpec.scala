package graft.sources

import java.io.FileOutputStream
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.Files
import java.util.zip.Deflater

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Round-trip: write a zarr v2 directory by hand (raw + zlib chunks), read
  * it back through the `zarr` scan, check values and chunk pruning. */
class ZarrSourceSpec extends SparkSpec {

  /** value(t,y,x) = t*10000 + y*100 + x — position-identifying. */
  private def writeZarr(nt: Int, ny: Int, nx: Int, ct: Int, cy: Int, cx: Int,
      zlib: Boolean): String = {
    val dir = Files.createTempDirectory("graft_zarr").toString
    val comp = if (zlib) """{"id": "zlib", "level": 1}""" else "null"
    val zarray =
      s"""{"zarr_format": 2, "shape": [$nt, $ny, $nx], "chunks": [$ct, $cy, $cx],
          "dtype": "<f4", "compressor": $comp, "fill_value": "NaN",
          "order": "C", "filters": null}"""
    Files.write(java.nio.file.Paths.get(s"$dir/.zarray"), zarray.getBytes)
    for (ci <- 0 until (nt + ct - 1) / ct; cj <- 0 until (ny + cy - 1) / cy;
         ck <- 0 until (nx + cx - 1) / cx) {
      val buf = ByteBuffer.allocate(ct * cy * cx * 4).order(ByteOrder.LITTLE_ENDIAN)
      for (i <- 0 until ct * cy * cx) {
        val t = ci * ct + i / (cy * cx)
        val y = cj * cy + (i / cx) % cy
        val x = ck * cx + i % cx
        val v = if (t < nt && y < ny && x < nx) (t * 10000 + y * 100 + x).toFloat else Float.NaN
        buf.putFloat(i * 4, v)
      }
      val raw = buf.array()
      val bytes = if (!zlib) raw else {
        val d = new Deflater(1)
        d.setInput(raw); d.finish()
        val out = new Array[Byte](raw.length + 64)
        val n = d.deflate(out); d.end()
        out.take(n)
      }
      val f = new FileOutputStream(s"$dir/$ci.$cj.$ck")
      f.write(bytes); f.close()
    }
    dir
  }

  test("raw chunks round-trip with correct positions") {
    val dir = writeZarr(nt = 7, ny = 5, nx = 6, ct = 3, cy = 5, cx = 6, zlib = false)
    val df = spark.read.format("zarr").load(dir)
    assert(df.collect().length == 7 * 5 * 6)
    val bad = df.filter(col("value") =!=
      (col("t_idx") * 10000 + col("y") * 100 + col("x")).cast("double")).count()
    assert(bad == 0)
  }

  test("zlib chunks decode identically") {
    val dir = writeZarr(nt = 6, ny = 4, nx = 4, ct = 2, cy = 4, cx = 4, zlib = true)
    val df = spark.read.format("zarr").load(dir)
    assert(df.collect().length == 6 * 4 * 4)
    assert(df.agg(max("value")).head().getDouble(0) == 5 * 10000 + 3 * 100 + 3)
  }

  test("time-range predicate prunes to the requested span") {
    val dir = writeZarr(nt = 10, ny = 3, nx = 3, ct = 2, cy = 3, cx = 3, zlib = false)
    val df = spark.read.format("zarr").load(dir).filter(col("t_idx").between(4, 7))
    assert(df.collect().length == 4 * 3 * 3)
    val ts = df.select("t_idx").distinct().collect().map(_.getInt(0)).sorted
    assert(ts.toSeq == Seq(4, 5, 6, 7))
  }

  test("withDailyTime attaches the daily axis") {
    val dir = writeZarr(nt = 3, ny = 2, nx = 2, ct = 2, cy = 2, cx = 2, zlib = false)
    val df = ZarrSource.withDailyTime(spark.read.format("zarr").load(dir), "2000-01-01")
    val times = df.select("time").distinct().orderBy("time")
      .collect().map(_.getTimestamp(0).toString)
    assert(times.head.startsWith("2000-01-01"))
    assert(times.last.startsWith("2000-01-03"))
  }

  test("unsupported compressor fails with a clear message") {
    val dir = Files.createTempDirectory("graft_zarr_bad").toString
    Files.write(java.nio.file.Paths.get(s"$dir/.zarray"),
      """{"zarr_format":2,"shape":[2,2,2],"chunks":[2,2,2],"dtype":"<f4",
         "compressor":{"id":"blosc"},"fill_value":0,"order":"C"}""".getBytes)
    val f = new FileOutputStream(s"$dir/0.0.0"); f.write(new Array[Byte](32)); f.close()
    val e = intercept[org.apache.spark.SparkException] {
      spark.read.format("zarr").load(dir).collect()
    }
    assert(e.getMessage.contains("blosc") ||
      e.getCause != null && e.getCause.getMessage.contains("blosc"))
  }

  test("unknown v2 filters are a NAMED refusal, never a misread") {
    // a filter transforms cell bytes before the compressor: ignoring one
    // would decode garbage silently — delta and fixedscaleoffset DECODE
    // (ZarrV2FiltersSpec), every other id must throw at the metadata parse
    val e = intercept[IllegalArgumentException](ZarrSource.readMeta(
      """{"zarr_format": 2, "shape": [4], "chunks": [4], "dtype": "<f8",
         "compressor": null, "fill_value": "NaN", "order": "C",
         "filters": [{"id": "bitround", "keepbits": 7}]}"""))
    assert(e.getMessage.contains("bitround"))
    // the supported filters parse into the decode chain
    val m = ZarrSource.readMeta(
      """{"zarr_format": 2, "shape": [4], "chunks": [4], "dtype": "<f8",
         "compressor": null, "fill_value": "NaN", "order": "C",
         "filters": [{"id": "delta", "dtype": "<f8"}]}""")
    assert(m.v2Filters == Seq(ZarrSource.DeltaF("<f8", "<f8")))
    // null and [] both mean "no filters"
    assert(ZarrSource.readMeta(
      """{"zarr_format": 2, "shape": [4], "chunks": [4], "dtype": "<f8",
         "compressor": null, "fill_value": 0, "order": "C",
         "filters": []}""").shape == Seq(4))
  }
}
