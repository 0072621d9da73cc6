package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec

/** Zarr `append_dim=time` — the write dual of the zarr STREAM source and
  * the engine's growing production stores (`to_zarr(append_dim="time")`,
  * helper.py:505): `df.write.format("zarr").mode("append")` onto an
  * existing store RESIZES it — new-slice chunks land distributed, a
  * straddling edge chunk merges in place, and `shape[0]` bumps LAST so a
  * live reader never sees promised-but-unwritten slices. */
class ZarrAppendSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(prefix: String = "graft_zappend"): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    d.delete()
    d.getAbsolutePath
  }

  private def cells(nt: Int, ny: Int, nx: Int, tBase: Int = 0) =
    (for (t <- 0 until nt; y <- 0 until ny; x <- 0 until nx)
      yield (t, y, x, (t + tBase) * 100.0 + y * 10.0 + x))
      .toDF("time_idx", "y_idx", "x_idx", "sst")

  private def sqlWrite(df: org.apache.spark.sql.DataFrame, dir: String,
      nt: Int, mode: String, chunks: String = "2,3,4",
      dims: String = "", cols: String = "sst"): Unit =
    df.write.format("zarr")
      .option("dims", if (dims.nonEmpty) dims else s"time:$nt,y:3,x:4")
      .option("chunks", chunks).option("cols", cols)
      .mode(mode).save(dir)

  private def msgs(t: Throwable): Seq[String] =
    Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))

  test("two appends == one batch write, chunk-aligned") {
    val one = tmpDir(); val two = tmpDir()
    sqlWrite(cells(8, 3, 4), one, 8, "overwrite")
    sqlWrite(cells(4, 3, 4), two, 4, "append")
    sqlWrite(cells(4, 3, 4, tBase = 4), two, 4, "append")
    val a = spark.read.format("zarr").load(one)
    val b = spark.read.format("zarr").load(two)
    assert(b.count() == 8 * 3 * 4)
    assert(a.join(b.withColumnRenamed("sst", "app"),
      Seq("time_idx", "y_idx", "x_idx"), "full")
      .filter(col("sst") =!= col("app") ||
        col("sst").isNull || col("app").isNull).count() == 0,
      "appended store must equal the single batch write cell-for-cell")
  }

  test("a non-chunk-aligned append merges the straddling edge chunk in place") {
    val one = tmpDir(); val two = tmpDir()
    // time chunk 2, first block 3 slices: chunk 1 holds (t=2, t=3) — the
    // second append's t=3 must merge INTO the existing chunk-1 file
    sqlWrite(cells(7, 3, 4), one, 7, "overwrite")
    sqlWrite(cells(3, 3, 4), two, 3, "append")
    sqlWrite(cells(4, 3, 4, tBase = 3), two, 4, "append")
    val a = spark.read.format("zarr").load(one)
    val b = spark.read.format("zarr").load(two)
    assert(b.count() == 7 * 3 * 4)
    assert(a.join(b.withColumnRenamed("sst", "app"),
      Seq("time_idx", "y_idx", "x_idx"), "full")
      .filter(col("sst") =!= col("app") ||
        col("sst").isNull || col("app").isNull).count() == 0,
      "slice t=2 (pre-existing half of the straddling chunk) and t=3..6 " +
        "must all be exact after the merge")
  }

  test("v3 stores append identically") {
    val dir = tmpDir()
    cells(3, 3, 4).write.format("zarr")
      .option("dims", "time:3,y:3,x:4").option("chunks", "2,3,4")
      .option("cols", "sst").option("v3", "true")
      .mode("overwrite").save(dir)
    sqlWrite(cells(2, 3, 4, tBase = 3), dir, 2, "append")
    val back = spark.read.format("zarr").load(dir)
    assert(back.count() == 5 * 3 * 4)
    assert(back.filter(col("sst") =!=
      col("time_idx") * 100.0 + col("y_idx") * 10.0 + col("x_idx")).count() == 0)
  }

  test("multi-variable stores append every member; sparse appends keep fill") {
    val dir = tmpDir()
    val withN = (df: org.apache.spark.sql.DataFrame) => df.withColumn("n_obs", lit(7.0))
    sqlWrite(withN(cells(2, 3, 4)), dir, 2, "overwrite", cols = "sst,n_obs")
    // appended block covers only y=0 → other cells of the new slices = fill
    sqlWrite(withN(cells(2, 3, 4, tBase = 2)).filter(col("y_idx") === 0),
      dir, 2, "append", cols = "sst,n_obs")
    val back = spark.read.format("zarr").load(dir).cache()
    assert(back.count() == 4 * 3 * 4)
    assert(back.filter(col("time_idx") >= 2 && col("y_idx") =!= 0)
      .filter(!isnan(col("sst")) || !isnan(col("n_obs"))).count() == 0,
      "cells the append never covered read as fill")
    assert(back.filter(col("time_idx") >= 2 && col("y_idx") === 0)
      .filter(col("n_obs") =!= 7.0).count() == 0)
    back.unpersist()
  }

  test("append validates layout with named errors") {
    val dir = tmpDir()
    sqlWrite(cells(2, 3, 4), dir, 2, "overwrite")
    val eChunks = intercept[Exception](
      sqlWrite(cells(2, 3, 4), dir, 2, "append", chunks = "1,3,4"))
    assert(msgs(eChunks).exists(_.contains("chunk")), "chunk-grid mismatch is named")
    val eDims = intercept[Exception](
      sqlWrite(cells(2, 3, 5), dir, 2, "append", dims = "time:2,y:3,x:5",
        chunks = "2,3,4"))
    assert(msgs(eDims).exists(m => m.contains("shape") || m.contains("dims")),
      "non-append dim size mismatch is named")
    val eCol = intercept[Exception](
      sqlWrite(cells(2, 3, 4).withColumnRenamed("sst", "other"), dir, 2,
        "append", cols = "other"))
    assert(msgs(eCol).exists(_.contains("no member")), "unknown member is named")
    val eShort = intercept[Exception](
      ZarrGroup.appendDataset(cells(2, 3, 4), dir,
        Seq("time" -> 2, "y" -> 3, "x" -> 4), Seq(2, 3, 4), Seq.empty))
    assert(msgs(eShort).exists(_.contains("value column")))
  }

  test("a time coordinate extends through appendDataset; SQL appends name the gap") {
    val dir = tmpDir()
    ZarrGroup.writeDataset(cells(2, 3, 4), dir,
      Seq("time" -> 2, "y" -> 3, "x" -> 4), Seq(2, 3, 4), Seq("sst"),
      coords = Map("time" -> Array(10.0, 11.0)))
    // SQL append cannot carry coordinate values → named error, store intact
    val e = intercept[Exception](sqlWrite(cells(2, 3, 4, 2), dir, 2, "append"))
    assert(msgs(e).exists(_.contains("coordinate")))
    // programmatic append extends the coord alongside the data
    ZarrGroup.appendDataset(cells(2, 3, 4, tBase = 2), dir,
      Seq("time" -> 2, "y" -> 3, "x" -> 4), Seq(2, 3, 4), Seq("sst"),
      newCoords = Map("time" -> Array(12.0, 13.0)))
    val g = ZarrGroup.open(dir, spark.sparkContext.hadoopConfiguration)
    assert(g.members("time").meta.shape == Seq(4))
    assert(g.members("sst").meta.shape == Seq(4, 3, 4))
    val ds = spark.read.format("zarr").load(dir)
    val times = ds.select("time").distinct().as[Double].collect().sorted
    assert(times.toSeq == Seq(10.0, 11.0, 12.0, 13.0))
  }

  test("the zarr stream source consumes appends live") {
    val dir = tmpDir()
    val ckpt = java.nio.file.Files.createTempDirectory("graft_zappend_ck").toFile
    val out = java.nio.file.Files.createTempDirectory("graft_zappend_out").toFile
    def runOnce(): Unit = {
      val q = spark.readStream.format("zarr").option("var", "sst").load(dir)
        .writeStream.outputMode("append").format("parquet")
        .option("path", out.getAbsolutePath)
        .option("checkpointLocation", ckpt.getAbsolutePath)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    sqlWrite(cells(3, 3, 4), dir, 3, "append")
    runOnce()
    assert(spark.read.parquet(out.getAbsolutePath).count() == 3 * 3 * 4)
    sqlWrite(cells(4, 3, 4, tBase = 3), dir, 4, "append")
    runOnce()
    val all = spark.read.parquet(out.getAbsolutePath)
    assert(all.count() == 7 * 3 * 4, "the appended slices stream exactly once")
    assert(all.select("t_idx").distinct().count() == 7)
    assert(all.filter(col("value") =!=
      col("t_idx") * 100.0 + col("y") * 10.0 + col("x")).count() == 0,
      "straddling-chunk slices merge without corrupting either side")
  }

  test("a v2 raw/blosc member mix appends each with its own compressor") {
    val dir = tmpDir()
    val df = cells(2, 3, 4).withColumn("sb", col("sst") * 2)
      .withColumnRenamed("sst", "sa")
    ZarrGroup.writeDataset(df, dir,
      Seq("time" -> 2, "y" -> 3, "x" -> 4), Seq(2, 3, 4), Seq("sa", "sb"))
    // convert member 'sb' to blosc in place, as a foreign writer could have:
    // recompress its chunk files and patch its .zarray (walk path — drop
    // the consolidated metadata so the patched member metadata is read)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new org.apache.hadoop.fs.Path(dir, "sb")).toSeq
      .filter(_.getPath.getName.matches("[0-9.]+")).foreach { st =>
        val in = fs.open(st.getPath)
        val raw = try {
          val b = new Array[Byte](st.getLen.toInt); in.readFully(b); b
        } finally in.close()
        ZarrSource.putBytes(fs, st.getPath, Blosc.compress(raw, typesize = 8))
      }
    val za = new org.apache.hadoop.fs.Path(s"$dir/sb", ".zarray")
    val zin = fs.open(za)
    val zs = try scala.io.Source.fromInputStream(zin).mkString finally zin.close()
    assert(zs.contains("\"compressor\": null"), s"unexpected .zarray shape: $zs")
    ZarrSource.putBytes(fs, za, zs.replace("\"compressor\": null",
      """"compressor": {"id": "blosc", "cname": "lz4", "clevel": 5, "shuffle": 1, "blocksize": 0}""")
      .getBytes("UTF-8"))
    fs.delete(new org.apache.hadoop.fs.Path(dir, ".zmetadata"), false)

    ZarrGroup.appendDataset(df, dir,
      Seq("time" -> 2, "y" -> 3, "x" -> 4), Seq(2, 3, 4), Seq("sa", "sb"))
    val back = spark.read.format("zarr").load(dir)
    assert(back.count() == 4 * 3 * 4)
    assert(back.filter(col("sb") =!= col("sa") * 2).count() == 0,
      "appended chunks of the blosc member must be BLOSC, of the raw member raw")
  }

  test("an oversized coordinate chunk reads as the pre-append view (crash window)") {
    val dir = tmpDir()
    cellsWithCoordV3(dir)
    // simulate a crash between appendDataset's coord grow (step 2) and its
    // metadata patch (step 3): the coord chunk holds 4 values, shape says 2
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val buf = java.nio.ByteBuffer.allocate(4 * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    Seq(10.0, 11.0, 12.0, 13.0).foreach(buf.putDouble)
    ZarrSource.putBytes(fs, new org.apache.hadoop.fs.Path(s"$dir/time", "c/0"),
      ZarrSource.v3EncodeChain(buf.array(), Seq(ZarrSource.ZstdC)))
    val times0 = spark.read.format("zarr").load(dir)
      .select("time").distinct().as[Double].collect().sorted
    assert(times0.toSeq == Seq(10.0, 11.0),
      "before the metadata patch lands the store must read as pre-append")
    // the retried append completes on top of the half-landed coord
    ZarrGroup.appendDataset(cells(2, 3, 4, tBase = 2), dir,
      Seq("time" -> 2, "y" -> 3, "x" -> 4), Seq(2, 3, 4), Seq("sst"),
      newCoords = Map("time" -> Array(12.0, 13.0)))
    val times1 = spark.read.format("zarr").load(dir)
      .select("time").distinct().as[Double].collect().sorted
    assert(times1.toSeq == Seq(10.0, 11.0, 12.0, 13.0))
  }

  private def cellsWithCoordV3(dir: String): Unit =
    ZarrGroup.writeDataset(cells(2, 3, 4), dir,
      Seq("time" -> 2, "y" -> 3, "x" -> 4), Seq(2, 3, 4), Seq("sst"),
      coords = Map("time" -> Array(10.0, 11.0)), v3 = true)

  test("region writes overwrite a window in place; the rest stays byte-stable") {
    val dir = tmpDir()
    sqlWrite(cells(8, 3, 4), dir, 8, "overwrite")
    // overwrite t=3..5 (straddles chunks [2,3] and [4,5]) with new values;
    // incoming rows carry region-LOCAL indices 0..2
    val corrected = cells(3, 3, 4).withColumn("sst", col("sst") + 100000.0)
    corrected.write.format("zarr")
      .option("dims", "time:3,y:3,x:4").option("chunks", "2,3,4")
      .option("cols", "sst").option("region", "3")
      .mode("append").save(dir)
    val back = spark.read.format("zarr").load(dir)
    assert(back.count() == 8 * 3 * 4, "region writes never resize")
    // inside the region: the corrected values (local t + 100000)
    assert(back.filter(col("time_idx").between(3, 5))
      .filter(col("sst") =!= (col("time_idx") - 3) * 100.0 +
        col("y_idx") * 10.0 + col("x_idx") + 100000.0).count() == 0)
    // outside: original values, including the straddled chunks' other slices
    assert(back.filter(!col("time_idx").between(3, 5))
      .filter(col("sst") =!= col("time_idx") * 100.0 +
        col("y_idx") * 10.0 + col("x_idx")).count() == 0)
  }

  test("region-absent cells keep stored values; invalid regions are named") {
    val dir = tmpDir()
    sqlWrite(cells(4, 3, 4), dir, 4, "overwrite")
    // a SPARSE correction: only cell (local t=0, y=0, x=0) arrives — every
    // other cell of the region keeps its stored value (chunk-merge upsert)
    import spark.implicits._
    Seq((0, 0, 0, -1.0)).toDF("time_idx", "y_idx", "x_idx", "sst")
      .write.format("zarr")
      .option("dims", "time:1,y:3,x:4").option("chunks", "2,3,4")
      .option("cols", "sst").option("region", "1")
      .mode("append").save(dir)
    val back = spark.read.format("zarr").load(dir)
    assert(back.filter(col("time_idx") === 1 && col("y_idx") === 0 &&
      col("x_idx") === 0).head().getDouble(3) == -1.0)
    assert(back.filter(col("sst") =!= col("time_idx") * 100.0 +
      col("y_idx") * 10.0 + col("x_idx")).count() == 1,
      "exactly the one corrected cell differs")
    // a region leaving the store is a named error, store untouched
    val e = intercept[Exception](
      cells(2, 3, 4).write.format("zarr")
        .option("dims", "time:2,y:3,x:4").option("chunks", "2,3,4")
        .option("cols", "sst").option("region", "3")
        .mode("append").save(dir))
    assert(msgs(e).exists(_.contains("resize")))
    // region + missing store is a named error too
    val e2 = intercept[Exception](
      cells(1, 3, 4).write.format("zarr")
        .option("dims", "time:1,y:3,x:4").option("chunks", "2,3,4")
        .option("cols", "sst").option("region", "0")
        .mode("append").save(tmpDir()))
    assert(msgs(e2).exists(_.contains("does not exist")))
    // region + mode("overwrite") is rejected BEFORE any delete: the
    // store the user is trying to correct must survive the mode slip
    val e3 = intercept[Exception](
      cells(1, 3, 4).write.format("zarr")
        .option("dims", "time:1,y:3,x:4").option("chunks", "2,3,4")
        .option("cols", "sst").option("region", "0")
        .mode("overwrite").save(dir))
    assert(msgs(e3).exists(_.contains("append")))
    assert(spark.read.format("zarr").load(dir).count() == 4 * 3 * 4,
      "the store survives an overwrite+region mode slip intact")
  }
}
