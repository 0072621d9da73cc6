package graft.sources

import java.nio.ByteBuffer
import java.nio.ByteOrder

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Round-10 append surfaces: CF-PACKED stores grow via `mode("append")`
  * (the repo's own recommended 6.7×-smaller archive layout — new physical
  * values quantize with the STORE's scale/offset/fill, committed raw codes
  * merge bit-for-bit), packed region corrections, and int64 (`<i8`) time
  * coordinates (xarray's default "hours since …" datetime64 encoding) on
  * the append path. Reference behavior: `xr.open_zarr` + `to_zarr(
  * append_dim=…)` over converted CMIP/OSTIA stores
  * (tests/test_gridded_preprocessing.py:20, helper.py:505). */
class ZarrPackedAppendSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(prefix: String = "graft_zpak"): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    d.delete()
    d.getAbsolutePath
  }

  /** Cell values on the exact 0.01 grid so int16 quantization is lossless
    * and read-back equality is exact. */
  private def cells(nt: Int, ny: Int, nx: Int, tBase: Int = 0) =
    (for (t <- 0 until nt; y <- 0 until ny; x <- 0 until nx)
      yield (t, y, x, (t + tBase) * 1.0 + y * 0.1 + x * 0.01))
      .toDF("time_idx", "y_idx", "x_idx", "sst")

  private def msgs(t: Throwable): Seq[String] =
    Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))

  private def packedWrite(df: org.apache.spark.sql.DataFrame, dir: String,
      nt: Int, mode: String): Unit =
    df.write.format("zarr")
      .option("dims", s"time:$nt,y:2,x:4").option("chunks", "2,2,4")
      .option("cols", "sst").option("pack", "0.01")
      .mode(mode).save(dir)

  test("SQL append onto a CF-packed store ≡ one-shot packed write") {
    val grown = tmpDir()
    val oneShot = tmpDir()
    // create t∈[0,3) (edge chunk at t=2 is PARTIAL: time chunk 2), then
    // grow by 5 — the first appended slice merges into the straddled edge
    packedWrite(cells(3, 2, 4), grown, 3, "overwrite")
    // the append carries NO pack option: the store's own attrs drive it
    cells(5, 2, 4, tBase = 3).write.format("zarr")
      .option("dims", "time:5,y:2,x:4").option("chunks", "2,2,4")
      .option("cols", "sst")
      .mode("append").save(grown)
    packedWrite(cells(8, 2, 4), oneShot, 8, "overwrite")
    val a = spark.read.format("zarr").load(grown)
      .select("time_idx", "y_idx", "x_idx", "sst").collect().toSet
    val b = spark.read.format("zarr").load(oneShot)
      .select("time_idx", "y_idx", "x_idx", "sst").collect().toSet
    assert(a == b, "grown packed store must read back ≡ one-shot packed write")
    assert(a.size == 8 * 2 * 4)
  }

  test("packed append straddling an edge chunk keeps committed codes bit-for-bit") {
    val dir = tmpDir()
    packedWrite(cells(3, 2, 4), dir, 3, "overwrite")
    val before = spark.read.format("zarr").load(dir)
      .filter(col("time_idx") < 3).collect().toSet
    cells(2, 2, 4, tBase = 3).write.format("zarr")
      .option("dims", "time:2,y:2,x:4").option("chunks", "2,2,4")
      .option("cols", "sst")
      .mode("append").save(dir)
    val after = spark.read.format("zarr").load(dir)
      .filter(col("time_idx") < 3).collect().toSet
    assert(before == after,
      "the straddled edge chunk's committed slices must survive the merge exactly")
  }

  test("packed append represents absent cells as the raw fill code (NaN read-back)") {
    val dir = tmpDir()
    packedWrite(cells(2, 2, 4), dir, 2, "overwrite")
    // append a block with a HOLE at (0, 0, 0) and an explicit NaN at (0, 0, 1)
    val block = cells(1, 2, 4, tBase = 2)
      .filter(!(col("time_idx") === 0 && col("y_idx") === 0 && col("x_idx") === 0))
      .withColumn("sst", when(col("y_idx") === 0 && col("x_idx") === 1,
        lit(Double.NaN)).otherwise(col("sst")))
    block.write.format("zarr")
      .option("dims", "time:1,y:2,x:4").option("chunks", "2,2,4")
      .option("cols", "sst")
      .mode("append").save(dir)
    val last = spark.read.format("zarr").load(dir).filter(col("time_idx") === 2)
    assert(last.filter(isnan(col("sst"))).count() == 2,
      "the hole and the explicit NaN must both read back as NaN")
    assert(last.filter(!isnan(col("sst"))).count() == 2 * 4 - 2)
  }

  test("packed region write corrects a window without disturbing its surroundings") {
    val dir = tmpDir()
    packedWrite(cells(6, 2, 4), dir, 6, "overwrite")
    // correct t∈[2,4): +100 on the 0.01 grid, still exactly quantizable
    cells(2, 2, 4, tBase = 2)
      .withColumn("sst", col("sst") + 100.0)
      .write.format("zarr")
      .option("dims", "time:2,y:2,x:4").option("chunks", "2,2,4")
      .option("cols", "sst").option("region", "2")
      .mode("append").save(dir)
    val ds = spark.read.format("zarr").load(dir)
    assert(ds.filter(col("time_idx").between(2, 3) && col("sst") < 100.0).count() == 0,
      "the corrected window must carry the new values")
    assert(ds.filter((col("time_idx") < 2 || col("time_idx") > 3) && col("sst") >= 100.0)
      .count() == 0, "slices outside the region must be untouched")
    assert(ds.count() == 6 * 2 * 4)
  }

  test("a packed member without _FillValue fails the append by name") {
    val dir = tmpDir()
    packedWrite(cells(2, 2, 4), dir, 2, "overwrite")
    // hand-strip the CF attrs (a foreign store with bare int16 data) and
    // drop the consolidated metadata so the patched member attrs are seen
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "sst", ".zattrs"),
      """{"_ARRAY_DIMENSIONS": ["time", "y", "x"]}""".getBytes)
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(dir, ".zmetadata"))
    val e = intercept[Exception] {
      cells(1, 2, 4, tBase = 2).write.format("zarr")
        .option("dims", "time:1,y:2,x:4").option("chunks", "2,2,4")
        .option("cols", "sst")
        .mode("append").save(dir)
    }
    assert(msgs(e).exists(_.contains("CF packing attributes")), s"got: ${msgs(e)}")
  }

  test("a fill_value / _FillValue disagreement fails the append by name") {
    val dir = tmpDir()
    packedWrite(cells(2, 2, 4), dir, 2, "overwrite")
    val za = java.nio.file.Paths.get(dir, "sst", ".zarray")
    val patched = new String(java.nio.file.Files.readAllBytes(za))
      .replace("-32768", "0")
    java.nio.file.Files.write(za, patched.getBytes)
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(dir, ".zmetadata"))
    val e = intercept[Exception] {
      cells(1, 2, 4, tBase = 2).write.format("zarr")
        .option("dims", "time:1,y:2,x:4").option("chunks", "2,2,4")
        .option("cols", "sst")
        .mode("append").save(dir)
    }
    assert(msgs(e).exists(_.contains("_FillValue")), s"got: ${msgs(e)}")
  }

  test("the pack option on an append is still rejected by name (store attrs win)") {
    val dir = tmpDir()
    packedWrite(cells(2, 2, 4), dir, 2, "overwrite")
    val e = intercept[Exception] {
      cells(1, 2, 4, tBase = 2).write.format("zarr")
        .option("dims", "time:1,y:2,x:4").option("chunks", "2,2,4")
        .option("cols", "sst").option("pack", "0.01")
        .mode("append").save(dir)
    }
    assert(msgs(e).exists(_.contains("store CREATION")), s"got: ${msgs(e)}")
  }

  // ── int64 time coordinates ───────────────────────────────────────────

  /** Rewrite the store's `time` coordinate as a raw (uncompressed) `<i8`
    * axis — the hand-written fixture shape real `to_zarr` stores carry for
    * datetime64 axes — and drop `.zmetadata` so the listing discovery sees
    * the patched member metadata. */
  private def makeTimeCoordI8(dir: String, values: Seq[Long]): Unit = {
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "time", ".zarray"),
      s"""{"zarr_format": 2, "shape": [${values.length}],
         | "chunks": [${values.length}], "dtype": "<i8",
         | "compressor": null, "fill_value": -1, "order": "C",
         | "filters": null}""".stripMargin.getBytes)
    val buf = ByteBuffer.allocate(values.length * 8).order(ByteOrder.LITTLE_ENDIAN)
    values.foreach(buf.putLong)
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "time", "0"), buf.array())
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(dir, ".zmetadata"))
  }

  test("appends extend an int64 ('<i8') time coordinate") {
    val dir = tmpDir()
    cells(3, 2, 4).write.format("zarr")
      .option("dims", "time:3,y:2,x:4").option("chunks", "2,2,4")
      .option("cols", "sst").option("coords", "time:438000:24")
      .mode("overwrite").save(dir)
    makeTimeCoordI8(dir, Seq(438000L, 438024L, 438048L))
    cells(2, 2, 4, tBase = 3).write.format("zarr")
      .option("dims", "time:2,y:2,x:4").option("chunks", "2,2,4")
      .option("cols", "sst").option("coords", "time:438072:24")
      .mode("append").save(dir)
    // the coord chunk must STILL be little-endian longs (not silently
    // rewritten as doubles): decode it raw
    val raw = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "time", "0"))
    assert(raw.length == 5 * 8)
    val lb = ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN)
    assert((0 until 5).map(i => lb.getLong(i * 8)) ==
      Seq(438000L, 438024L, 438048L, 438072L, 438096L))
    val ds = spark.read.format("zarr").load(dir)
    assert(ds.count() == 5 * 2 * 4)
    val times = ds.select("time").distinct().as[Double].collect().sorted
    assert(times.toSeq == Seq(438000.0, 438024.0, 438048.0, 438072.0, 438096.0))
  }

  test("a non-integral value appended onto an '<i8' coordinate fails by name") {
    val dir = tmpDir()
    cells(2, 2, 4).write.format("zarr")
      .option("dims", "time:2,y:2,x:4").option("chunks", "2,2,4")
      .option("cols", "sst").option("coords", "time:0:1")
      .mode("overwrite").save(dir)
    makeTimeCoordI8(dir, Seq(0L, 1L))
    val e = intercept[Exception] {
      ZarrGroup.appendDataset(cells(1, 2, 4, tBase = 2), dir,
        Seq("time" -> 1, "y" -> 2, "x" -> 4), Seq(2, 2, 4), Seq("sst"),
        newCoords = Map("time" -> Array(2.5)))
    }
    assert(msgs(e).exists(_.contains("int64")), s"got: ${msgs(e)}")
  }

  // ── packed + sharded: BOTH archive levers compose ───────────────────────

  test("packed + sharded create reads back exactly (int16 inner chunks)") {
    val dir = tmpDir()
    cells(4, 4, 4).write.format("zarr")
      .option("dims", "time:4,y:4,x:4").option("chunks", "4,4,4")
      .option("shard", "2,2,4").option("v3", "true")
      .option("cols", "sst").option("pack", "0.01")
      .mode("overwrite").save(dir)
    val ds = spark.read.format("zarr").load(dir)
    assert(ds.count() == 4 * 4 * 4)
    assert(ds.filter(round(col("sst") * 100.0, 0).cast("long") =!=
      (col("time_idx") * 100L + col("y_idx") * 10L + col("x_idx"))).count() == 0,
      "packed sharded cells must mask_and_scale-decode exactly on the 0.01 grid")
    // the shard object must actually hold i2 inner chunks: one object for
    // the whole 4x4x4 outer chunk, well under the f64 equivalent
    val obj = new java.io.File(dir, "sst/c/0/0/0")
    assert(obj.isFile, "one shard object per outer chunk")
  }

  test("packed + sharded append ≡ one-shot; new slices land as new shard objects") {
    val grown = tmpDir()
    val oneShot = tmpDir()
    def write(df: org.apache.spark.sql.DataFrame, dir: String, nt: Int,
        mode: String, packed: Boolean): Unit = {
      val w = df.write.format("zarr")
        .option("dims", s"time:$nt,y:4,x:4").option("chunks", "2,4,4")
        .option("cols", "sst")
      val w2 = if (mode == "overwrite")
        w.option("shard", "1,2,4").option("v3", "true").option("pack", "0.01")
      else w
      w2.mode(mode).save(dir)
    }
    write(cells(2, 4, 4), grown, 2, "overwrite", packed = true)
    write(cells(4, 4, 4, tBase = 2), grown, 4, "append", packed = false)
    write(cells(6, 4, 4), oneShot, 6, "overwrite", packed = true)
    val a = spark.read.format("zarr").load(grown)
      .select("time_idx", "y_idx", "x_idx", "sst").collect().toSet
    val b = spark.read.format("zarr").load(oneShot)
      .select("time_idx", "y_idx", "x_idx", "sst").collect().toSet
    assert(a == b && a.size == 6 * 4 * 4,
      "grown packed sharded store must read back ≡ one-shot")
    // 3 outer time chunks (chunk 2 over 6 slices) → 3 shard objects
    val objs = Option(new java.io.File(grown, "sst/c").listFiles()).toSeq.flatten
      .flatMap(t => Option(t.listFiles()).toSeq.flatten)
      .flatMap(y => Option(y.listFiles()).toSeq.flatten)
    assert(objs.size == 3, s"expected 3 shard objects, got ${objs.size}")
  }

  test("packed sharded bytes are ~4x smaller than f64 sharded (the point)") {
    val packed = tmpDir(); val plain = tmpDir()
    def write(dir: String, pack: Boolean): Unit = {
      val w = cells(4, 4, 4).write.format("zarr")
        .option("dims", "time:4,y:4,x:4").option("chunks", "4,4,4")
        .option("shard", "2,2,4").option("v3", "true").option("cols", "sst")
      (if (pack) w.option("pack", "0.01") else w).mode("overwrite").save(dir)
    }
    write(packed, pack = true); write(plain, pack = false)
    def size(dir: String) = new java.io.File(dir, "sst/c/0/0/0").length()
    assert(size(packed) < size(plain),
      s"packed shard (${size(packed)} B) must be smaller than f64 (${size(plain)} B)")
  }

  test("region corrections land on SHARDED stores (the composed layout included)") {
    // f8 sharded: correct t∈[2,4) of a 6-slice store
    val dir = tmpDir()
    cells(6, 2, 4).write.format("zarr")
      .option("dims", "time:6,y:2,x:4").option("chunks", "2,2,4")
      .option("shard", "1,2,4").option("v3", "true")
      .option("cols", "sst")
      .mode("overwrite").save(dir)
    cells(2, 2, 4, tBase = 2).withColumn("sst", col("sst") + 100.0)
      .write.format("zarr")
      .option("dims", "time:2,y:2,x:4").option("chunks", "2,2,4")
      .option("cols", "sst").option("region", "2")
      .mode("append").save(dir)
    val ds = spark.read.format("zarr").load(dir)
    assert(ds.count() == 6 * 2 * 4)
    assert(ds.filter(col("time_idx").between(2, 3) && col("sst") < 100.0).count() == 0)
    assert(ds.filter((col("time_idx") < 2 || col("time_idx") > 3) &&
      col("sst") >= 100.0).count() == 0,
      "slices outside the region must be untouched (straddled shard merged)")

    // packed + sharded: the recommended archive layout takes corrections too
    val dir2 = tmpDir()
    cells(6, 2, 4).write.format("zarr")
      .option("dims", "time:6,y:2,x:4").option("chunks", "2,2,4")
      .option("shard", "1,2,4").option("v3", "true")
      .option("cols", "sst").option("pack", "0.01")
      .mode("overwrite").save(dir2)
    cells(2, 2, 4, tBase = 2).withColumn("sst", col("sst") + 100.0)
      .write.format("zarr")
      .option("dims", "time:2,y:2,x:4").option("chunks", "2,2,4")
      .option("cols", "sst").option("region", "2")
      .mode("append").save(dir2)
    val ds2 = spark.read.format("zarr").load(dir2)
    assert(ds2.count() == 6 * 2 * 4)
    assert(ds2.filter(col("time_idx").between(2, 3) && col("sst") < 100.0).count() == 0)
    assert(ds2.filter((col("time_idx") < 2 || col("time_idx") > 3) &&
      col("sst") >= 100.0).count() == 0)
  }

  test("a crash between the coord-swap renames is healed by the next append") {
    val dir = tmpDir()
    cells(2, 2, 4).write.format("zarr")
      .option("dims", "time:2,y:2,x:4").option("chunks", "2,2,4")
      .option("cols", "sst").option("coords", "time:10:1")
      .mode("overwrite").save(dir)
    cells(1, 2, 4, tBase = 2).write.format("zarr")
      .option("dims", "time:1,y:2,x:4").option("chunks", "2,2,4")
      .option("cols", "sst").option("coords", "time:12:1")
      .mode("append").save(dir)
    // simulate the JVM dying between rename(dst→old) and rename(tmp→dst):
    // the canonical coord chunk is missing, the pristine axis sits aside
    val coord = java.nio.file.Paths.get(dir, "time", "0")
    java.nio.file.Files.move(coord,
      java.nio.file.Paths.get(dir, "time", "0.__grow_old"))
    // the NEXT append must restore the stepped-aside original BEFORE
    // reading the axis — otherwise it would merge the fill pattern and
    // then delete the only real copy
    cells(1, 2, 4, tBase = 3).write.format("zarr")
      .option("dims", "time:1,y:2,x:4").option("chunks", "2,2,4")
      .option("cols", "sst").option("coords", "time:13:1")
      .mode("append").save(dir)
    val times = spark.read.format("zarr").load(dir)
      .select("time").distinct().as[Double].collect().sorted
    assert(times.toSeq == Seq(10.0, 11.0, 12.0, 13.0),
      "recovery must preserve every committed coordinate value")
    val keys = new java.io.File(dir, "time").list().toSet
    assert(!keys.exists(_.contains("__grow")),
      s"recovery must clean the staging keys, got: $keys")
  }

  test("int64 coord values past 2^53 merge without double-rounding drift") {
    val dir = tmpDir()
    cells(2, 2, 4).write.format("zarr")
      .option("dims", "time:2,y:2,x:4").option("chunks", "2,2,4")
      .option("cols", "sst").option("coords", "time:0:1")
      .mode("overwrite").save(dir)
    // a nanosecond-epoch axis: values ~1.6e18, NOT representable in Double
    val ns0 = 1600000000000000001L
    val ns1 = 1600000086400000001L // +1 day, still odd (Double would round)
    makeTimeCoordI8(dir, Seq(ns0, ns1))
    ZarrGroup.appendDataset(cells(1, 2, 4, tBase = 2), dir,
      Seq("time" -> 1, "y" -> 2, "x" -> 4), Seq(2, 2, 4), Seq("sst"),
      newCoords = Map("time" -> Array(3.0)))
    val raw = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "time", "0"))
    val lb = ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN)
    assert(lb.getLong(0) == ns0 && lb.getLong(8) == ns1,
      s"committed int64 values must merge bit-exact, got " +
        s"${lb.getLong(0)}, ${lb.getLong(8)}")
    assert(lb.getLong(16) == 3L)
  }

  test("the extended coord chunk swaps in staged — no temp keys linger") {
    val dir = tmpDir()
    cells(2, 2, 4).write.format("zarr")
      .option("dims", "time:2,y:2,x:4").option("chunks", "2,2,4")
      .option("cols", "sst").option("coords", "time:10:1")
      .mode("overwrite").save(dir)
    cells(1, 2, 4, tBase = 2).write.format("zarr")
      .option("dims", "time:1,y:2,x:4").option("chunks", "2,2,4")
      .option("cols", "sst").option("coords", "time:12:1")
      .mode("append").save(dir)
    val keys = new java.io.File(dir, "time").list().toSet
    assert(!keys.exists(_.contains("__grow")),
      s"staging keys must be cleaned up, got: $keys")
    val times = spark.read.format("zarr").load(dir)
      .select("time").distinct().as[Double].collect().sorted
    assert(times.toSeq == Seq(10.0, 11.0, 12.0))
  }
}
