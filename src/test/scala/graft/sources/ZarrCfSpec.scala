package graft.sources

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** CF packed-data decode on the ZARR read path and its write dual — the
  * layout real archives keep (satellite/CMIP conversions store raw int16 +
  * `scale_factor`/`add_offset`/`_FillValue`; the reference's `xr.open_zarr`
  * entry, tests/test_gridded_preprocessing.py:20, mask-and-scales by
  * default). */
class ZarrCfSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(prefix: String = "graft_zcf"): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    d.delete()
    d.getAbsolutePath
  }

  private def fs = new org.apache.hadoop.fs.Path("/")
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def put(dir: String, rel: String, bytes: Array[Byte]): Unit =
    ZarrSource.putBytes(fs, new org.apache.hadoop.fs.Path(dir, rel), bytes)

  /** Hand-written v2 packed i2 array: 1 chunk of (2,2,2), one raw
    * _FillValue cell, scale 0.01 / offset 10. */
  private def handPackedV2(dir: String, bigEndian: Boolean = false): Unit = {
    val dt = if (bigEndian) ">i2" else "<i2"
    put(dir, ".zarray",
      s"""{"zarr_format": 2, "shape": [2, 2, 2], "chunks": [2, 2, 2],
          "dtype": "$dt", "compressor": null, "fill_value": -32768,
          "order": "C", "filters": null}""".getBytes)
    put(dir, ".zattrs",
      """{"scale_factor": 0.01, "add_offset": 10.0, "_FillValue": -32768}""".getBytes)
    val buf = ByteBuffer.allocate(16)
      .order(if (bigEndian) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)
    // raw values 0..6 then the fill code
    (0 until 7).foreach(i => buf.putShort((i * 100).toShort))
    buf.putShort(Short.MinValue)
    put(dir, "0.0.0", buf.array())
  }

  test("a hand-written packed <i2 store reads back CF-decoded (fill → NaN)") {
    val dir = tmpDir()
    handPackedV2(dir)
    val rows = spark.read.format("zarr").load(dir)
      .orderBy("t_idx", "y", "x").collect()
    assert(rows.length == 8)
    // raw k*100 → k*100*0.01 + 10 = k + 10
    (0 until 7).foreach(i => assert(rows(i).getDouble(3) == i + 10.0,
      s"cell $i decoded ${rows(i).getDouble(3)}"))
    assert(rows(7).getDouble(3).isNaN, "the raw _FillValue code must read as NaN")
  }

  test("big-endian >i2 packed chunks decode identically") {
    val le = tmpDir(); val be = tmpDir()
    handPackedV2(le); handPackedV2(be, bigEndian = true)
    val a = spark.read.format("zarr").load(le).orderBy("t_idx", "y", "x").collect()
    val b = spark.read.format("zarr").load(be).orderBy("t_idx", "y", "x").collect()
    a.zip(b).foreach { case (ra, rb) =>
      val (va, vb) = (ra.getDouble(3), rb.getDouble(3))
      assert(va == vb || (va.isNaN && vb.isNaN))
    }
  }

  test("chunk pruning stays intact on a packed store") {
    val dir = tmpDir()
    handPackedV2(dir)
    val plan = spark.read.format("zarr").load(dir)
      .filter(col("t_idx") === 0)
      .queryExecution.executedPlan.toString
    assert(plan.contains("t_idx in [0, 0]"),
      s"pushed range missing from the packed-store scan: $plan")
    // metadata-only count over the packed store: dims are dataspace facts,
    // independent of the value dtype
    val cntPlan = spark.read.format("zarr").load(dir)
      .filter(col("t_idx") === 0).groupBy().count()
      .queryExecution.executedPlan.toString
    assert(cntPlan.contains("data reads=0"),
      s"count over a packed store must stay metadata-only: $cntPlan")
  }

  test("SQL pack write dual: v2 store is <i2 on disk and round-trips") {
    val dir = tmpDir()
    val cells = (for (t <- 0 until 5; y <- 0 until 3; x <- 0 until 4)
      yield (t, y, x, if ((t + y + x) % 7 == 0) Double.NaN
        else t * 1.0 + y * 0.1 + x * 0.01))
      .toDF("time_idx", "y_idx", "x_idx", "sst")
    cells.write.format("zarr")
      .option("dims", "time:5,y:3,x:4").option("chunks", "2,3,4")
      .option("cols", "sst").option("pack", "0.01")
      .mode("overwrite").save(dir)
    val za = scala.io.Source.fromFile(s"$dir/sst/.zarray").mkString
    assert(za.contains("\"<i2\""), s"packed store must be <i2: $za")
    val zt = scala.io.Source.fromFile(s"$dir/sst/.zattrs").mkString
    assert(zt.contains("scale_factor") && zt.contains("_FillValue"), zt)
    val back = spark.read.format("zarr").load(dir)
      .select(col("time_idx").as("bt"), col("y_idx").as("by"),
        col("x_idx").as("bx"), col("sst").as("back"))
    val joined = cells.join(back,
      col("time_idx") === col("bt") && col("y_idx") === col("by") &&
        col("x_idx") === col("bx"))
    // values round-trip to within half the 0.01 quantization step
    assert(joined.filter(
      (isnan(col("sst")) =!= isnan(col("back"))) ||
        (!isnan(col("sst")) && abs(col("sst") - col("back")) > 0.0051)).count() == 0,
      "packed values must round-trip within the quantization step")
  }

  test("SQL pack write dual: v3 int16 with attributes round-trips") {
    val dir = tmpDir()
    val cells = (for (t <- 0 until 4; y <- 0 until 2; x <- 0 until 3)
      yield (t, y, x, t - 1.5 + x * 0.25)).toDF("time_idx", "y_idx", "x_idx", "sst")
    cells.write.format("zarr")
      .option("dims", "time:4,y:2,x:3").option("chunks", "2,2,3")
      .option("cols", "sst").option("pack", "0.25:-1.5").option("v3", "true")
      .mode("overwrite").save(dir)
    val zj = scala.io.Source.fromFile(s"$dir/sst/zarr.json").mkString
    assert(zj.contains("\"int16\"") && zj.contains("scale_factor"), zj)
    val back = spark.read.format("zarr").load(dir)
      .select(col("time_idx").as("bt"), col("y_idx").as("by"),
        col("x_idx").as("bx"), col("sst").as("b"))
    val bad = cells.join(back,
      col("time_idx") === col("bt") && col("y_idx") === col("by") &&
        col("x_idx") === col("bx"))
      .filter(abs(col("sst") - col("b")) > 1e-12)
    assert(bad.count() == 0, "v3 packed values must round-trip on the grid")
  }

  test("a GROUP with a packed member decodes per-member (wide scan + var scan)") {
    val dir = tmpDir()
    // one packed member + one plain member, shared grid
    val cells = (for (t <- 0 until 4; y <- 0 until 3)
      yield (t, y, t * 10.0 + y, t * 1.0)).toDF("time_idx", "y_idx", "plain", "packed")
    // write plain via GroupWriter, then hand-patch `packed` to i2+CF
    cells.write.format("zarr")
      .option("dims", "time:4,y:3").option("chunks", "2,3")
      .option("cols", "plain,packed")
      .mode("overwrite").save(dir)
    // overwrite member 'packed' with raw i2 chunks (scale 0.5)
    put(dir, "packed/.zarray",
      """{"zarr_format": 2, "shape": [4, 3], "chunks": [2, 3],
          "dtype": "<i2", "compressor": null, "fill_value": -32768,
          "order": "C", "filters": null}""".getBytes)
    put(dir, "packed/.zattrs",
      """{"_ARRAY_DIMENSIONS": ["time", "y"], "scale_factor": 0.5,
          "add_offset": 0.0, "_FillValue": -32768}""".getBytes)
    fs.delete(new org.apache.hadoop.fs.Path(dir, ".zmetadata"), false)
    for (c <- 0 until 2) {
      val buf = ByteBuffer.allocate(12).order(ByteOrder.LITTLE_ENDIAN)
      for (dt <- 0 until 2; y <- 0 until 3)
        buf.putShort(((c * 2 + dt) * 2).toShort) // raw = t*2 → decoded t*1.0
      put(dir, s"packed/$c.0", buf.array())
    }
    val wide = spark.read.format("zarr").load(dir)
      .orderBy("time_idx", "y_idx").collect()
    wide.foreach { r =>
      val (t, y) = (r.getInt(0), r.getInt(1))
      assert(r.getDouble(wide.head.fieldIndex("plain")) == t * 10.0 + y)
      assert(r.getDouble(wide.head.fieldIndex("packed")) == t * 1.0,
        s"packed member must decode 0.5×raw at t=$t")
    }
    val member = spark.read.format("zarr").option("var", "packed").load(dir)
      .orderBy("t_idx", "cell").collect()
    assert(member.length == 4 * 3)
    member.foreach { r =>
      assert(r.getDouble(r.fieldIndex("value")) == r.getInt(0) * 1.0)
    }
  }

  test("appends onto CF-packed members quantize with the STORE's packing (round 10)") {
    // round 9 rejected this by name; round 10 lifts it — the recommended
    // 6.7×-smaller packed layout grows, quantizing new slices with the
    // store's own scale/offset/fill (see ZarrPackedAppendSpec for the
    // edge-merge and error-path coverage)
    val dir = tmpDir()
    def cells(tBase: Int) = (for (t <- 0 until 2; y <- 0 until 2; x <- 0 until 2)
      yield (t, y, x, (t + tBase) * 1.0)).toDF("time_idx", "y_idx", "x_idx", "sst")
    cells(0).write.format("zarr")
      .option("dims", "time:2,y:2,x:2").option("chunks", "2,2,2")
      .option("cols", "sst").option("pack", "0.01")
      .mode("overwrite").save(dir)
    cells(2).write.format("zarr")
      .option("dims", "time:2,y:2,x:2").option("chunks", "2,2,2")
      .option("cols", "sst")
      .mode("append").save(dir)
    val ds = spark.read.format("zarr").load(dir)
    assert(ds.count() == 4 * 2 * 2)
    assert(ds.filter(col("sst") =!= col("time_idx").cast("double")).count() == 0,
      "grown packed store must mask_and_scale-decode every slice")
  }

  test("a 1-D DATA variable keeps the strict decode (oversize tolerance is coord-only)") {
    val dir = tmpDir()
    // v2 group: primary sst(time,y) + 1-D DATA member bias(time) [NOT a
    // coord: name != dim] + time coordinate; listed discovery (no
    // consolidated metadata) so the hand-added member is seen
    ZarrGroup.writeDataset(
      (for (t <- 0 until 2; y <- 0 until 2) yield (t, y, t * 1.0))
        .toDF("time_idx", "y_idx", "sst"),
      dir, Seq("time" -> 2, "y" -> 2), Seq(2, 2), Seq("sst"),
      coords = Map("time" -> Array(5.0, 6.0)))
    put(dir, "bias/.zarray",
      """{"zarr_format": 2, "shape": [2], "chunks": [2], "dtype": "<f8",
          "compressor": null, "fill_value": "NaN", "order": "C",
          "filters": null}""".getBytes)
    put(dir, "bias/.zattrs", """{"_ARRAY_DIMENSIONS": ["time"]}""".getBytes)
    fs.delete(new org.apache.hadoop.fs.Path(dir, ".zmetadata"), false)
    def rawDoubles(vs: Double*): Array[Byte] = {
      val b = ByteBuffer.allocate(vs.length * 8).order(ByteOrder.LITTLE_ENDIAN)
      vs.foreach(b.putDouble); b.array()
    }
    // oversized chunk: 3 doubles under a shape-2 axis
    put(dir, "bias/0", rawDoubles(1.0, 2.0, 3.0))
    def ds = spark.read.format("zarr").load(dir)
    val e = intercept[Exception] {
      ds.select("time_idx", "bias").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("expected")),
      s"an oversized 1-D DATA chunk must raise, got: ${msgs(e)}")
    // ... while the COORDINATE keeps the tolerance (append crash window)
    put(dir, "time/0", rawDoubles(5.0, 6.0, 7.0))
    val times = ds.select("time").distinct().as[Double].collect().sorted
    assert(times.toSeq == Seq(5.0, 6.0),
      "a coordinate chunk grown ahead of metadata must slice to the advertised length")
  }

  test("out-of-range pack values fail loudly instead of wrapping") {
    val dir = tmpDir()
    val cells = Seq((0, 0, 0, 1e9)).toDF("time_idx", "y_idx", "x_idx", "sst")
    val e = intercept[Exception] {
      cells.write.format("zarr")
        .option("dims", "time:1,y:1,x:1").option("chunks", "1,1,1")
        .option("cols", "sst").option("pack", "0.01")
        .mode("overwrite").save(dir)
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("int16")), s"got: ${msgs(e)}")
  }
}
