package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec

/** `spark.readStream.format("zarr")` over a GROWING zarr array — the
  * reference's production stores append days by enlarging `shape[0]`
  * (`to_zarr(append_dim="time")`). The offset is the committed slice
  * count; an edge chunk straddling it is re-read but bounded to the new
  * slices only, so nothing is delivered twice. */
class ZarrStreamSpec extends SparkSpec {
  import spark.implicits._

  private def grid(t0: Int, t1: Int, ny: Int, nx: Int) =
    (for (t <- t0 until t1; y <- 0 until ny; x <- 0 until nx)
      yield (t, y, x, t * 10.0 + y + x * 0.5)).toDF("t_idx", "y", "x", "value")

  test("a growing zarr array streams new slices; straddling chunks do not duplicate") {
    val dir = java.nio.file.Files.createTempDirectory("graft_zstream").toFile.getAbsolutePath
    val ckpt = java.nio.file.Files.createTempDirectory("graft_zstream_ck").toFile
    val out = java.nio.file.Files.createTempDirectory("graft_zstream_out").toFile
    val (ny, nx) = (3, 4)

    def runOnce(): Unit = {
      val q = spark.readStream.format("zarr").load(dir)
        .writeStream.outputMode("append").format("parquet")
        .option("path", out.getAbsolutePath)
        .option("checkpointLocation", ckpt.getAbsolutePath)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def sink() = spark.read.parquet(out.getAbsolutePath)

    // 10 slices with a time-chunk of 4 → chunk 2 is partial (t 8..9)
    ZarrSource.write3D(grid(0, 10, ny, nx), dir, shape = (10, ny, nx), chunks = (4, ny, nx))
    runOnce()
    assert(sink().count() == 10 * ny * nx)

    // the store grows to 18 slices: chunk 2 fills up (straddles offset 10)
    ZarrSource.write3D(grid(0, 18, ny, nx), dir, shape = (18, ny, nx), chunks = (4, ny, nx))
    runOnce()
    val all = sink()
    assert(all.count() == 18 * ny * nx, "exactly the new slices were appended")
    assert(all.select("t_idx", "y", "x").distinct().count() == all.count(),
      "a straddling chunk must not re-deliver committed slices")
    assert(all.filter(
      col("value") =!= col("t_idx") * 10.0 + col("y") + col("x") * 0.5).count() == 0,
      "values must match the t-encoded grid")

    // no growth → empty batch
    runOnce()
    assert(sink().count() == 18 * ny * nx)
  }

  test("sparse history streams; only the newest partial row is held") {
    val dir = java.nio.file.Files.createTempDirectory("graft_zstream3").toFile.getAbsolutePath
    val ckpt = java.nio.file.Files.createTempDirectory("graft_zstream3_ck").toFile
    val out = java.nio.file.Files.createTempDirectory("graft_zstream3_out").toFile
    val (ny, nx) = (2, 4)
    def runOnce(): Unit = {
      val q = spark.readStream.format("zarr").load(dir)
        .writeStream.outputMode("append").format("parquet")
        .option("path", out.getAbsolutePath)
        .option("checkpointLocation", ckpt.getAbsolutePath)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def sink() = spark.read.parquet(out.getAbsolutePath)

    // a coastal-mask shape: cells only at x < 2, so with (2, 2, 2) chunks
    // every time-chunk row elides its x≥2 spatial chunk — no row is ever
    // "fully present", but history must still stream
    val sparse = grid(0, 8, ny, nx).filter(col("x") < 2)
    ZarrSource.write3D(sparse, dir, shape = (8, ny, nx), chunks = (2, 2, 2))
    runOnce()
    // rows 0..2 (t 0..5) are settled (row 3 is the newest active row and
    // is partial → held); fill cells for the elided chunks DO deliver
    assert(sink().count() == 6 * ny * nx,
      "sparse history before the newest active row streams (with fill)")
    assert(sink().agg(max("t_idx")).head.getInt(0) == 5)

    // more slices land → the previously-held row is now history
    ZarrSource.write3D(grid(0, 12, ny, nx).filter(col("x") < 2), dir,
      shape = (12, ny, nx), chunks = (2, 2, 2))
    runOnce()
    assert(sink().count() == 10 * ny * nx)
    assert(sink().select("t_idx", "y", "x").distinct().count() == sink().count())
  }

  test("a metadata-first append is held back until its chunks land") {
    val dir = java.nio.file.Files.createTempDirectory("graft_zstream2").toFile.getAbsolutePath
    val ckpt = java.nio.file.Files.createTempDirectory("graft_zstream2_ck").toFile
    val out = java.nio.file.Files.createTempDirectory("graft_zstream2_out").toFile
    val (ny, nx) = (2, 3)

    def runOnce(): Unit = {
      val q = spark.readStream.format("zarr").load(dir)
        .writeStream.outputMode("append").format("parquet")
        .option("path", out.getAbsolutePath)
        .option("checkpointLocation", ckpt.getAbsolutePath)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def sink() = spark.read.parquet(out.getAbsolutePath)

    ZarrSource.write3D(grid(0, 8, ny, nx), dir, shape = (8, ny, nx), chunks = (4, ny, nx))
    runOnce()
    assert(sink().count() == 8 * ny * nx)

    // an appender resizes .zarray to 12 slices BEFORE writing chunk 2.0.0
    // (xarray's to_zarr(append_dim) metadata-first window)
    val zarray = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/.zarray")))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/.zarray"),
      zarray.replace("\"shape\": [8,", "\"shape\": [12,").getBytes)
    runOnce()
    assert(sink().count() == 8 * ny * nx,
      "the promised-but-unwritten slices must NOT be delivered as fill")

    // the chunk data lands → the held-back slices stream with real values
    ZarrSource.write3D(grid(0, 12, ny, nx), dir, shape = (12, ny, nx), chunks = (4, ny, nx))
    runOnce()
    val all = sink()
    assert(all.count() == 12 * ny * nx)
    assert(all.select("t_idx", "y", "x").distinct().count() == all.count())
    assert(all.filter(
      col("value") =!= col("t_idx") * 10.0 + col("y") + col("x") * 0.5).count() == 0,
      "the late-landing slices must carry their real values, not fill")
  }

  test("a growing 2-D (time, cell) array streams each new slice exactly once") {
    val dir = java.nio.file.Files.createTempDirectory("graft_zstream2d").toFile
      .getAbsolutePath + "/g"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_zstream2d_ck").toFile
    val out = java.nio.file.Files.createTempDirectory("graft_zstream2d_out").toFile
    val nc = 6
    // block rows carry block-local time indices; the value encodes the
    // global (time, cell)
    def block(t0: Int, t1: Int) =
      (for (t <- t0 until t1; c <- 0 until nc) yield (t - t0, c, t * 100.0 + c))
        .toDF("time_idx", "cell_idx", "ev")
    def runOnce(): Unit = {
      val src = spark.readStream.format("zarr").option("var", "ev").load(dir)
      assert(src.columns.toSeq == Seq("t_idx", "cell", "value"))
      val q = src.writeStream.outputMode("append").format("parquet")
        .option("path", out.getAbsolutePath)
        .option("checkpointLocation", ckpt.getAbsolutePath)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def sink() = spark.read.parquet(out.getAbsolutePath)

    // 6 slices, time-chunk 4: chunk row 1 holds t 4..5 of 4..7
    ZarrGroup.writeDataset(block(0, 6), dir, dims = Seq(("time", 6), ("cell", nc)),
      chunks = Seq(4, 3), valueCols = Seq("ev"))
    runOnce()
    assert(sink().count() == 6 * nc)

    // append 5 slices: chunk row 1 straddles the committed offset 6
    ZarrGroup.appendDataset(block(6, 11), dir, dims = Seq(("time", 5), ("cell", nc)),
      chunks = Seq(4, 3), valueCols = Seq("ev"))
    runOnce()
    val all = sink()
    assert(all.columns.toSeq == Seq("t_idx", "cell", "value"))
    assert(all.count() == 11 * nc, "exactly the new slices were appended")
    assert(all.select("t_idx", "cell").distinct().count() == all.count(),
      "the straddled chunk must not re-deliver committed slices")
    assert(all.filter(col("value") =!= col("t_idx") * 100.0 + col("cell")).count() == 0,
      "values must match the (time, cell)-encoded grid")

    // no growth → empty batch
    runOnce()
    assert(sink().count() == 11 * nc)
  }
}
