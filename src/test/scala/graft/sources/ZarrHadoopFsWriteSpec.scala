package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** A Hadoop FileSystem under a NON-`file:` scheme that stores on local disk
  * (it is a [[org.apache.hadoop.fs.RawLocalFileSystem]] in disguise). A
  * writer that honors the Hadoop FS API resolves `graftfs:/...` through this
  * class and lands at the local path; a writer that shortcuts to
  * `java.io.File`/`Files.write` would instead create a LITERAL directory
  * named `graftfs:` under the cwd — exactly the silent-scatter failure mode
  * the zarr sink had on multi-node clusters before round 8. */
class GraftTestFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftfs:///")
  override def getScheme: String = "graftfs"
}

/** The zarr WRITE layer must route EVERY byte through the Hadoop FileSystem
  * API — executor chunk files, coordinate arrays, group/array metadata —
  * like the read layer and the netcdf archive sink already do
  * (NetCDF4Source.writeArchive). On local[n] a `java.io.File` writer is
  * indistinguishable from a correct one, so these tests write through a
  * custom `graftfs:` scheme: only FS-API writes can land in the right
  * place. */
class ZarrHadoopFsWriteSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    d.delete()
    d.getAbsolutePath
  }

  private lazy val fsReady: Unit = {
    spark.sparkContext.hadoopConfiguration
      .setClass("fs.graftfs.impl", classOf[GraftTestFs],
        classOf[org.apache.hadoop.fs.FileSystem])
    // a stale cwd artifact from an earlier bad run must not mask a failure
    assert(!new java.io.File("graftfs:").exists(),
      "leftover literal 'graftfs:' directory in cwd — remove before running")
  }

  private def cells(nt: Int, ny: Int, nx: Int) =
    (for (t <- 0 until nt; y <- 0 until ny; x <- 0 until nx)
      yield (t, y, x, t * 100.0 + y * 10.0 + x)).toDF("t_idx", "y", "x", "value")

  private def assertNoLocalLeak(): Unit =
    assert(!new java.io.File("graftfs:").exists(),
      "writer bypassed the Hadoop FS API: literal 'graftfs:' dir appeared in cwd")

  test("write3D lands all chunks + metadata through a non-file: FS scheme") {
    fsReady
    val dir = tmpDir("graft_fsw_v2")
    ZarrSource.write3D(cells(6, 4, 5), s"graftfs:$dir",
      shape = (6, 4, 5), chunks = (2, 4, 5), compressor = Some("blosc"))
    assertNoLocalLeak()
    // the bytes must be at the LOCAL path graftfs resolved to
    assert(new java.io.File(dir, ".zarray").isFile, "metadata written through FS")
    assert(new java.io.File(dir, "0.0.0").isFile, "chunk written through FS")
    val back = spark.read.format("zarr").load(dir)
    assert(back.collect().length == 6 * 4 * 5)
    assert(back.filter(col("value") =!= col("t_idx") * 100.0 + col("y") * 10.0 + col("x"))
      .count() == 0)
  }

  test("write3DV3 (sharded) lands through a non-file: FS scheme") {
    fsReady
    val dir = tmpDir("graft_fsw_v3")
    ZarrSource.write3DV3(cells(4, 4, 4), s"graftfs:$dir",
      shape = (4, 4, 4), chunks = (2, 4, 4),
      codecs = Seq(ZarrSource.ZstdC), innerChunks = Some((1, 4, 4)))
    assertNoLocalLeak()
    assert(new java.io.File(dir, "zarr.json").isFile)
    assert(new java.io.File(dir, "c/0/0/0").isFile)
    val back = spark.read.format("zarr").load(dir)
    assert(back.collect().length == 4 * 4 * 4)
    assert(back.filter(col("value") =!= col("t_idx") * 100.0 + col("y") * 10.0 + col("x"))
      .count() == 0)
  }

  test("group writeDataset (chunks, coords, consolidated metadata) honors the FS scheme") {
    fsReady
    val dir = tmpDir("graft_fsw_grp")
    val df = cells(6, 3, 4)
      .withColumnRenamed("t_idx", "time_idx")
      .withColumnRenamed("y", "y_idx").withColumnRenamed("x", "x_idx")
      .withColumnRenamed("value", "sst")
      .withColumn("n_obs", lit(2.0))
    ZarrGroup.writeDataset(df, s"graftfs:$dir",
      dims = Seq(("time", 6), ("y", 3), ("x", 4)), chunks = Seq(2, 3, 4),
      valueCols = Seq("sst", "n_obs"),
      coords = Map("time" -> Array.tabulate(6)(_.toDouble)),
      attrs = Map("source" -> "fs-spec"))
    assertNoLocalLeak()
    assert(new java.io.File(dir, ".zmetadata").isFile, "consolidated metadata through FS")
    assert(new java.io.File(dir, "sst/0.0.0").isFile, "chunk through FS")
    assert(new java.io.File(dir, "time/0").isFile, "coord through FS")
    // and the store also reads BACK through the graftfs scheme end-to-end
    val back = spark.read.format("zarr").load(s"graftfs:$dir")
    assert(back.count() == 6 * 3 * 4)
    assert(back.filter(col("sst") =!=
      col("time_idx") * 100.0 + col("y_idx") * 10.0 + col("x_idx")).count() == 0)
    assert(back.filter(col("n_obs") =!= 2.0).count() == 0)
  }

  test("df.write.format(\"zarr\") (q84 path) honors the FS scheme") {
    fsReady
    val dir = tmpDir("graft_fsw_dsv2")
    cells(4, 2, 3)
      .withColumnRenamed("t_idx", "time_idx")
      .withColumnRenamed("y", "y_idx").withColumnRenamed("x", "x_idx")
      .withColumnRenamed("value", "sst")
      .write.format("zarr")
      .option("dims", "time:4,y:2,x:3").option("chunks", "2,2,3")
      .option("cols", "sst")
      .mode("append").save(s"graftfs:$dir")
    assertNoLocalLeak()
    val back = spark.read.format("zarr").load(dir)
      .select("time_idx", "y_idx", "x_idx", "sst")
    assert(back.count() == 4 * 2 * 3)
    assert(back.filter(col("sst") =!=
      col("time_idx") * 100.0 + col("y_idx") * 10.0 + col("x_idx")).count() == 0)
  }

  test("no java.io.File writes remain in the zarr write layer (source audit)") {
    val files = Seq(
      "src/main/scala/graft/sources/ZarrSource.scala",
      "src/main/scala/graft/sources/ZarrGroup.scala")
    files.foreach { f =>
      val p = java.nio.file.Paths.get("/root/repo", f)
      assume(java.nio.file.Files.isRegularFile(p), s"source tree not present: $f")
      val src = new String(java.nio.file.Files.readAllBytes(p))
      assert(!src.contains("java.io.File("),
        s"$f constructs java.io.File — all I/O must go through the Hadoop FS API")
      assert(!src.contains("Files.write("),
        s"$f uses java.nio Files.write — all writes must go through ZarrSource.putBytes")
    }
  }
}
