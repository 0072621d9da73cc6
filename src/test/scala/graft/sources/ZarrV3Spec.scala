package graft.sources

import java.io.FileOutputStream
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Zarr **v3** layout: hand-written fixtures (nested `c/` keys, codec
  * chains, both endiannesses, both key encodings) plus `write3DV3`
  * round-trips through every supported write chain. */
class ZarrV3Spec extends SparkSpec {

  private def metaJson(shape: Seq[Int], chunks: Seq[Int], dtype: String,
      codecs: String, keyEnc: String = """{"name": "default", "configuration": {"separator": "/"}}""")
      : String =
    s"""{"zarr_format": 3, "node_type": "array",
        "shape": [${shape.mkString(", ")}],
        "data_type": "$dtype",
        "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [${chunks.mkString(", ")}]}},
        "chunk_key_encoding": $keyEnc,
        "fill_value": "NaN",
        "codecs": [$codecs],
        "attributes": {}}"""

  /** value(t,y,x) = t*10000 + y*100 + x, f4, raw little-endian bytes codec. */
  private def writeV3Raw(nt: Int, ny: Int, nx: Int, ct: Int, cy: Int, cx: Int,
      sep: String = "/", v2Keys: Boolean = false, big: Boolean = false): String = {
    val dir = Files.createTempDirectory("graft_zarr3").toString
    val endian = if (big) "big" else "little"
    val keyEnc =
      if (v2Keys) s"""{"name": "v2", "configuration": {"separator": "$sep"}}"""
      else s"""{"name": "default", "configuration": {"separator": "$sep"}}"""
    Files.write(java.nio.file.Paths.get(s"$dir/zarr.json"),
      metaJson(Seq(nt, ny, nx), Seq(ct, cy, cx), "float32",
        s"""{"name": "bytes", "configuration": {"endian": "$endian"}}""", keyEnc).getBytes)
    for (ci <- 0 until (nt + ct - 1) / ct; cj <- 0 until (ny + cy - 1) / cy;
         ck <- 0 until (nx + cx - 1) / cx) {
      val buf = ByteBuffer.allocate(ct * cy * cx * 4)
        .order(if (big) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)
      for (i <- 0 until ct * cy * cx) {
        val t = ci * ct + i / (cy * cx)
        val y = cj * cy + (i / cx) % cy
        val x = ck * cx + i % cx
        val v = if (t < nt && y < ny && x < nx) (t * 10000 + y * 100 + x).toFloat else Float.NaN
        buf.putFloat(i * 4, v)
      }
      val rel =
        if (v2Keys) Seq(ci, cj, ck).mkString(sep)
        else ("c" +: Seq(ci, cj, ck).map(_.toString)).mkString(sep)
      val f = new java.io.File(dir, rel)
      Option(f.getParentFile).foreach(_.mkdirs())
      val o = new FileOutputStream(f); o.write(buf.array()); o.close()
    }
    dir
  }

  private def assertPositional(dir: String, nt: Int, ny: Int, nx: Int): Unit = {
    val df = spark.read.format("zarr").load(dir)
    assert(df.collect().length == nt.toLong * ny * nx)
    val bad = df.filter(col("value") =!=
      (col("t_idx") * 10000 + col("y") * 100 + col("x")).cast("double")).count()
    assert(bad == 0)
  }

  test("v3 nested default keys, raw bytes codec, round-trip positions") {
    assertPositional(writeV3Raw(7, 5, 6, 3, 5, 6), 7, 5, 6)
  }

  test("v3 '.'-separator default keys (flat c.i.j.k files)") {
    assertPositional(writeV3Raw(4, 3, 3, 2, 3, 3, sep = "."), 4, 3, 3)
  }

  test("v3 'v2' key encoding (bare i.j.k files)") {
    assertPositional(writeV3Raw(4, 3, 3, 2, 3, 3, sep = ".", v2Keys = true), 4, 3, 3)
  }

  test("v3 big-endian bytes codec decodes correctly") {
    assertPositional(writeV3Raw(3, 4, 4, 3, 2, 2, big = true), 3, 4, 4)
  }

  test("write3DV3 zstd (zarr-python 3 default chain) round-trips") {
    import spark.implicits._
    val df = (for (t <- 0 until 6; y <- 0 until 4; x <- 0 until 5)
      yield (t, y, x, (t * 10000 + y * 100 + x).toDouble)).toDF("t_idx", "y", "x", "value")
    val dir = Files.createTempDirectory("graft_zarr3_w").toString + "/arr"
    ZarrSource.write3DV3(df, dir, shape = (6, 4, 5), chunks = (4, 4, 5))
    assertPositional(dir, 6, 4, 5)
  }

  test("write3DV3 gzip + crc32c chain round-trips, checksum verified") {
    import spark.implicits._
    val df = (for (t <- 0 until 5; y <- 0 until 3; x <- 0 until 3)
      yield (t, y, x, (t * 10000 + y * 100 + x).toDouble)).toDF("t_idx", "y", "x", "value")
    val dir = Files.createTempDirectory("graft_zarr3_gz").toString + "/arr"
    ZarrSource.write3DV3(df, dir, shape = (5, 3, 3), chunks = (2, 3, 3),
      codecs = Seq(ZarrSource.GzipC, ZarrSource.Crc32cC))
    assertPositional(dir, 5, 3, 3)

    // corrupt one chunk byte → crc32c must catch it
    val chunk = new java.io.File(dir, "c/0/0/0")
    val bytes = Files.readAllBytes(chunk.toPath)
    bytes(3) = (bytes(3) ^ 0x40).toByte
    Files.write(chunk.toPath, bytes)
    val e = intercept[org.apache.spark.SparkException] {
      spark.read.format("zarr").load(dir).collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: chain(t.getCause)
    assert(chain(e).exists(c => c.getMessage != null && c.getMessage.contains("crc32c")))
  }

  test("elided chunks synthesize fill_value rows") {
    val dir = writeV3Raw(4, 3, 3, 2, 3, 3)
    // delete one chunk file entirely
    assert(new java.io.File(dir, "c/1/0/0").delete())
    val df = spark.read.format("zarr").load(dir)
    assert(df.collect().length == 4 * 3 * 3)
    assert(df.filter(isnan(col("value"))).count() == 2 * 3 * 3)
  }

  test("DSv2 reads v3 with t_idx pushdown") {
    val dir = writeV3Raw(10, 3, 3, 2, 3, 3)
    val df = spark.read.format("zarr").load(dir)
      .filter(col("t_idx") >= 4 && col("t_idx") <= 7)
    assert(df.count() == 4 * 3 * 3)
    val scanDesc = df.queryExecution.executedPlan.toString
    assert(scanDesc.contains("t_idx in [4, 7]"))
    val bad = df.filter(col("value") =!=
      (col("t_idx") * 10000 + col("y") * 100 + col("x")).cast("double")).count()
    assert(bad == 0)
  }

  test("readLocalND reads a v3 coordinate-style array") {
    val dir = Files.createTempDirectory("graft_zarr3_nd").toString
    Files.write(java.nio.file.Paths.get(s"$dir/zarr.json"),
      metaJson(Seq(5), Seq(3), "float64",
        """{"name": "bytes", "configuration": {"endian": "little"}}""").getBytes)
    val b0 = ByteBuffer.allocate(24).order(ByteOrder.LITTLE_ENDIAN)
    (0 until 3).foreach(i => b0.putDouble(i * 8, i * 1.5))
    val b1 = ByteBuffer.allocate(24).order(ByteOrder.LITTLE_ENDIAN)
    (0 until 3).foreach(i => b1.putDouble(i * 8, (i + 3) * 1.5))
    new java.io.File(dir, "c").mkdirs()
    Files.write(java.nio.file.Paths.get(s"$dir/c/0"), b0.array())
    Files.write(java.nio.file.Paths.get(s"$dir/c/1"), b1.array())
    val (shape, vals) = ZarrSource.readLocalND(dir)
    assert(shape == Seq(5))
    assert(vals.toSeq == Seq(0.0, 1.5, 3.0, 4.5, 6.0))
  }

  test("write3DV3 sharded zstd round-trips; all-fill inner chunks elided") {
    import spark.implicits._
    // drop the t=2..3, y=0..1 block: it spans whole inner chunks, so the
    // writer elides them from the shard and the reader must fill NaN back
    val df = (for (t <- 0 until 8; y <- 0 until 4; x <- 0 until 4
                   if !(t >= 2 && t < 4 && y < 2))
      yield (t, y, x, (t * 10000 + y * 100 + x).toDouble)).toDF("t_idx", "y", "x", "value")
    val dir = Files.createTempDirectory("graft_zarr3_sh").toString + "/arr"
    ZarrSource.write3DV3(df, dir, shape = (8, 4, 4), chunks = (4, 4, 4),
      codecs = Seq(ZarrSource.ZstdC), innerChunks = Some((2, 2, 4)))
    // 2 shard files (one per outer chunk), not 16 inner-chunk files
    assert(new java.io.File(dir, "c/0/0/0").isFile && new java.io.File(dir, "c/1/0/0").isFile)
    val got = spark.read.format("zarr").load(dir)
    assert(got.collect().length == 8 * 4 * 4)
    assert(got.filter(isnan(col("value"))).count() == 2 * 2 * 4)
    val bad = got.filter(!isnan(col("value")) && col("value") =!=
      (col("t_idx") * 10000 + col("y") * 100 + col("x")).cast("double")).count()
    assert(bad == 0)
  }

  test("a windowed shard read fetches the index + ONLY intersecting inner chunks") {
    import spark.implicits._
    val df = (for (t <- 0 until 4; y <- 0 until 4; x <- 0 until 4)
      yield (t, y, x, (t * 10000 + y * 100 + x).toDouble)).toDF("t_idx", "y", "x", "value")
    val dir = Files.createTempDirectory("graft_zarr3_shw").toString + "/arr"
    ZarrSource.write3DV3(df, dir, shape = (4, 4, 4), chunks = (4, 4, 4),
      codecs = Seq(ZarrSource.ZstdC), innerChunks = Some((1, 2, 4)))
    val meta = ZarrSource.readMetaAny(dir, spark.sparkContext.hadoopConfiguration)
    val s = meta.shard.get
    val obj = java.nio.file.Files.readAllBytes(
      new java.io.File(dir, "c/0/0/0").toPath)
    // count the bytes each selective read fetches
    var fetched = 0L; var calls = 0
    val counting = (off: Long, n: Int) => {
      fetched += n; calls += 1
      java.util.Arrays.copyOfRange(obj, off.toInt, off.toInt + n)
    }
    val rawLen = 4 * 4 * 4 * 8
    // window = one 1×2×4 inner tile: index + exactly ONE inner chunk read
    val out = ZarrSource.readShardWindow(counting, obj.length, meta, s, rawLen,
      Array(1, 0, 0), Array(1, 1, 3))
    val idxEnc = 16 * 8 + 4
    assert(calls == 2, s"index + one inner chunk, got $calls reads")
    assert(fetched < idxEnc + obj.length / 4,
      s"selective read fetched $fetched of ${obj.length} object bytes")
    // the windowed cells are exact; cells OUTSIDE the window are fill
    val bb = ByteBuffer.wrap(out).order(ByteOrder.LITTLE_ENDIAN)
    def cell(t: Int, y: Int, x: Int): Double = bb.getDouble(((t * 4 + y) * 4 + x) * 8)
    for (y <- 0 until 2; x <- 0 until 4)
      assert(cell(1, y, x) == 10000.0 + y * 100 + x)
    assert(cell(0, 0, 0).isNaN && cell(3, 3, 3).isNaN,
      "cells of skipped inner chunks stay fill")
    // the full window reproduces the whole chunk (assembleShard parity)
    fetched = 0; calls = 0
    val full = ZarrSource.readShardWindow(counting, obj.length, meta, s, rawLen,
      Array(0, 0, 0), Array(3, 3, 3))
    for (t <- 0 until 4; y <- 0 until 4; x <- 0 until 4)
      assert(ByteBuffer.wrap(full).order(ByteOrder.LITTLE_ENDIAN)
        .getDouble(((t * 4 + y) * 4 + x) * 8) == t * 10000.0 + y * 100 + x)
  }

  test("DSv2 windowed reads over a sharded store match the plain layout") {
    import spark.implicits._
    val df = (for (t <- 0 until 6; y <- 0 until 4; x <- 0 until 4)
      yield (t, y, x, (t * 10000 + y * 100 + x).toDouble)).toDF("t_idx", "y", "x", "value")
    val base = Files.createTempDirectory("graft_zarr3_shq").toString
    ZarrSource.write3DV3(df, s"$base/plain", shape = (6, 4, 4), chunks = (3, 4, 4),
      codecs = Seq(ZarrSource.ZstdC))
    ZarrSource.write3DV3(df, s"$base/sharded", shape = (6, 4, 4), chunks = (3, 4, 4),
      codecs = Seq(ZarrSource.ZstdC), innerChunks = Some((1, 2, 2)))
    def window(dir: String) = spark.read.format("zarr").load(dir)
      .filter(col("t_idx").between(2, 4) && col("y") < 2 && col("x") >= 1)
      .select("t_idx", "y", "x", "value")
    val a = window(s"$base/plain").collect().map(_.toSeq).toSet
    val b = window(s"$base/sharded").collect().map(_.toSeq).toSet
    assert(a == b && a.size == 3 * 2 * 3)
  }

  test("hand-written shard with index at start decodes correctly") {
    // 1 outer chunk (2,2,2), inner (1,2,2) → 2 inner chunks, raw f4 cells,
    // index_location start — written by hand so a symmetric writer/reader
    // bug cannot hide
    val dir = Files.createTempDirectory("graft_zarr3_shs").toString
    val shardCfg =
      """{"name": "sharding_indexed", "configuration": {
          "chunk_shape": [1, 2, 2],
          "codecs": [{"name": "bytes", "configuration": {"endian": "little"}}],
          "index_codecs": [{"name": "bytes", "configuration": {"endian": "little"}}, {"name": "crc32c"}],
          "index_location": "start"}}"""
    Files.write(java.nio.file.Paths.get(s"$dir/zarr.json"),
      metaJson(Seq(2, 2, 2), Seq(2, 2, 2), "float32", shardCfg).getBytes)
    val idx = ByteBuffer.allocate(36).order(ByteOrder.LITTLE_ENDIAN)
    idx.putLong(36L).putLong(16L) // inner chunk 0 right after the index
    idx.putLong(52L).putLong(16L) // inner chunk 1
    val crc = new java.util.zip.CRC32C
    crc.update(idx.array(), 0, 32)
    idx.putInt(crc.getValue.toInt)
    val cells = ByteBuffer.allocate(32).order(ByteOrder.LITTLE_ENDIAN)
    (0 until 8).foreach(i => cells.putFloat(i * 4, i * 2.0f))
    new java.io.File(dir, "c/0/0").mkdirs()
    Files.write(java.nio.file.Paths.get(s"$dir/c/0/0/0"),
      idx.array() ++ cells.array())
    val got = spark.read.format("zarr").load(dir).orderBy("t_idx", "y", "x")
      .collect().map(_.getDouble(3)).toSeq
    assert(got == (0 until 8).map(_ * 2.0))
  }

  test("corrupt shard index fails the crc32c check") {
    import spark.implicits._
    val df = (for (t <- 0 until 4; y <- 0 until 2; x <- 0 until 2)
      yield (t, y, x, 1.0 * t)).toDF("t_idx", "y", "x", "value")
    val dir = Files.createTempDirectory("graft_zarr3_shc").toString + "/arr"
    ZarrSource.write3DV3(df, dir, shape = (4, 2, 2), chunks = (4, 2, 2),
      codecs = Seq.empty, innerChunks = Some((2, 2, 2)))
    val f = new java.io.File(dir, "c/0/0/0")
    val bytes = Files.readAllBytes(f.toPath)
    bytes(bytes.length - 20) = (bytes(bytes.length - 20) ^ 0x01).toByte // index word
    Files.write(f.toPath, bytes)
    val e = intercept[org.apache.spark.SparkException] {
      spark.read.format("zarr").load(dir).collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: chain(t.getCause)
    assert(chain(e).exists(c => c.getMessage != null && c.getMessage.contains("crc32c")))
  }

  test("nested sharding PARSES (reads in ZarrNestedShardSpec); a non-dividing nest fails by name") {
    val dir = Files.createTempDirectory("graft_zarr3_nest").toString
    val nested =
      """{"name": "sharding_indexed", "configuration": {
          "chunk_shape": [1, 2, 2],
          "codecs": [{"name": "sharding_indexed", "configuration": {
            "chunk_shape": [1, 1, 1],
            "codecs": [{"name": "bytes", "configuration": {"endian": "little"}}],
            "index_location": "end"}}],
          "index_location": "end"}}"""
    Files.write(java.nio.file.Paths.get(s"$dir/zarr.json"),
      metaJson(Seq(2, 2, 2), Seq(2, 2, 2), "float32", nested).getBytes)
    val m = ZarrSource.readMetaAny(dir, spark.sparkContext.hadoopConfiguration)
    assert(m.shard.exists(_.innerShard.exists(_.innerChunks == Seq(1, 1, 1))))
    // a nested shape that does not divide its parent is a named error
    val dir2 = Files.createTempDirectory("graft_zarr3_nest2").toString
    Files.write(java.nio.file.Paths.get(s"$dir2/zarr.json"),
      metaJson(Seq(2, 2, 2), Seq(2, 2, 2), "float32",
        nested.replace("[1, 1, 1]", "[1, 2, 3]")).getBytes)
    val e = intercept[IllegalArgumentException] {
      ZarrSource.readMetaAny(dir2, spark.sparkContext.hadoopConfiguration)
    }
    assert(e.getMessage.contains("divide"))
  }

  test("write3DV3 writes null cells as fill and drops out-of-shape rows") {
    import spark.implicits._
    // shape (4, 2, 2) in time chunks of 2: t_idx = 4 = nt would key a
    // chunk c/2/0/0 outside the grid, t_idx = -1 a negative offset
    val grid = for (t <- 0 until 4; y <- 0 until 2; x <- 0 until 2) yield
      (t, y, x, if (t == 1 && y == 0 && x == 1) None else Some(t * 100.0 + y * 10 + x))
    val df = (grid ++ Seq((-1, 0, 0, Some(999.0)), (4, 0, 0, Some(999.0))))
      .toDF("t_idx", "y", "x", "value")
    val base = Files.createTempDirectory("graft_zarr3_oob").toString
    for ((layout, inner) <- Seq("plain" -> None, "sharded" -> Some((1, 2, 2)))) {
      val dir = s"$base/$layout"
      ZarrSource.write3DV3(df, dir, shape = (4, 2, 2), chunks = (2, 2, 2),
        innerChunks = inner)
      val got = spark.read.format("zarr").load(dir).collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getDouble(3)).toMap
      assert(got.size == 4 * 2 * 2, layout)
      for (((t, y, x), v) <- got) {
        if (t == 1 && y == 0 && x == 1) assert(v.isNaN, s"$layout: null cell reads as fill")
        else assert(v == t * 100.0 + y * 10 + x, s"$layout: cell ($t, $y, $x) = $v")
      }
      val root = new java.io.File(dir)
      def files(f: java.io.File): Seq[String] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(files)
        else Seq(root.toPath.relativize(f.toPath).toString)
      assert(files(root).filterNot(_ == "zarr.json").sorted == Seq("c/0/0/0", "c/1/0/0"),
        s"$layout: no chunk object outside the grid")
    }
  }
}
