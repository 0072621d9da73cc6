package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

class NetCDF4Spec extends SparkSpec {
  import spark.implicits._

  private def tmpNc(): String = {
    val f = java.io.File.createTempFile("graft_nc4", ".nc")
    f.delete()
    f.getAbsolutePath
  }

  private def nc(path: String, varName: String) =
    spark.read.format("netcdf").option("var", varName).load(path)

  private def grid(nt: Int, ny: Int, nx: Int) =
    (for (t <- 0 until nt; y <- 0 until ny; x <- 0 until nx)
      yield (t, y, x, t * 1.5 + y * 0.25 + x * 0.125)).toDF("t_idx", "y", "x", "value")

  test("write3D → describe lists the variable and shape") {
    val path = tmpNc()
    NetCDF4Source.write3D(grid(4, 3, 5), path, "sst", shape = (4, 3, 5))
    assert(NetCDF4Source.describe(spark, path) == Map("sst" -> Seq(4L, 3L, 5L)))
  }

  test("chunked+shuffle+deflate write3D → read3D round-trips every cell") {
    val path = tmpNc()
    val in = grid(10, 4, 6)
    // timeChunk 3 → 4 chunks, the last one partial (edge-chunk padding path)
    NetCDF4Source.write3D(in, path, "sst", shape = (10, 4, 6), timeChunk = 3)
    val out = nc(path, "sst")
    assert(out.collect().length == 10 * 4 * 6)
    val diff = out.join(in.toDF("t_idx", "y", "x", "expected"), Seq("t_idx", "y", "x"))
      .filter(col("value") =!= col("expected")).count()
    assert(diff == 0, "round-trip must be bit-exact for doubles")
  }

  test("contiguous layout round-trips via the Hdf5 writer") {
    val vals = (0 until 24).map(_.toDouble * 0.5).toArray
    val bytes = Hdf5.assemble(Seq(Hdf5.WriteVar("v", Seq(2, 3, 4), vals)))
    val path = tmpNc()
    java.nio.file.Files.write(java.nio.file.Paths.get(path), bytes)
    val (shape, got) = NetCDF4Source.readLocal(spark, path, "v")
    assert(shape == Seq(2L, 3L, 4L))
    assert(got.toSeq == vals.toSeq)
    val df = nc(path, "v")
    assert(df.collect().length == 24)
    assert(df.filter(col("t_idx") === 1 && col("y") === 2 && col("x") === 3)
      .head().getDouble(3) == vals(23))
  }

  test("multiple datasets in one file resolve by name through the root group") {
    val a = (0 until 6).map(_.toDouble).toArray
    val b = (0 until 4).map(i => 100.0 + i).toArray
    val bytes = Hdf5.assemble(Seq(
      Hdf5.WriteVar("zeta", Seq(2, 3), a),
      Hdf5.WriteVar("alpha", Seq(4), b)))
    val path = tmpNc()
    java.nio.file.Files.write(java.nio.file.Paths.get(path), bytes)
    assert(NetCDF4Source.describe(spark, path) ==
      Map("zeta" -> Seq(2L, 3L), "alpha" -> Seq(4L)))
    assert(NetCDF4Source.readLocal(spark, path, "alpha")._2.toSeq == b.toSeq)
    assert(NetCDF4Source.readLocal(spark, path, "zeta")._2.toSeq == a.toSeq)
  }

  test("dense-group file (>8 variables) resolves through the source transparently") {
    // netCDF-4 switches groups to dense (fractal-heap) link storage past 8
    // links — the layout most real multi-variable archives use
    val vars = (0 until 11).map(i =>
      Hdf5.WriteVar(f"f$i%02d", Seq(3), Array.tabulate(3)(j => i * 10.0 + j)))
    val bytes = Hdf5.assemble(vars, denseRoot = true)
    val path = tmpNc()
    java.nio.file.Files.write(java.nio.file.Paths.get(path), bytes)
    val desc = NetCDF4Source.describe(spark, path)
    assert(desc.keySet == vars.map(_.name).toSet)
    assert(NetCDF4Source.readLocal(spark, path, "f07")._2.toSeq == Seq(70.0, 71.0, 72.0))
  }

  test("read3D timeRange prunes chunks before reading") {
    val path = tmpNc()
    NetCDF4Source.write3D(grid(12, 2, 2), path, "v", shape = (12, 2, 2), timeChunk = 4)
    val out = nc(path, "v").filter(col("t_idx").between(5, 9))
    assert(out.select("t_idx").distinct().collect().map(_.getInt(0)).sorted.toSeq
      == Seq(5, 6, 7, 8, 9))
    // the [5,9] range intersects chunks [4,8) and [8,12) only
    val src = new Hdf5.ByteSource {
      private val raf = new java.io.RandomAccessFile(path, "r")
      def read(off: Long, len: Int): Array[Byte] = {
        val b = new Array[Byte](len); raf.seek(off); raf.readFully(b); b
      }
    }
    val (rootOh, _) = Hdf5.readSuperblock(src)
    val ds = Hdf5.listDatasets(src, rootOh).head
    val chunks = Hdf5.listChunks(src, Hdf5.readDataset(src, ds._1, ds._2))
    assert(chunks.size == 3)
    assert(chunks.count(c => c.offsets.head <= 9 && c.offsets.head + 4 > 5) == 2)
  }

  test("missing cells read back as NaN") {
    val path = tmpNc()
    val sparse = Seq((0, 0, 0, 1.0), (1, 1, 1, 2.0)).toDF("t_idx", "y", "x", "value")
    NetCDF4Source.write3D(sparse, path, "v", shape = (2, 2, 2))
    val out = nc(path, "v")
    assert(out.filter(isnan(col("value"))).count() == 6)
    assert(out.filter(!isnan(col("value"))).count() == 2)
  }

  test("NetCDFSource facade dispatches on the file magic") {
    val df = grid(3, 2, 2)
    val p3 = tmpNc(); val p4 = tmpNc()
    NetCDF3Source.write3D(df, p3, "v", shape = (3, 2, 2))
    NetCDF4Source.write3D(df, p4, "v", shape = (3, 2, 2))
    assert(nc(p3, "v").collect().length == 12)
    assert(nc(p4, "v").collect().length == 12)
    val junk = tmpNc()
    java.nio.file.Files.write(java.nio.file.Paths.get(junk), new Array[Byte](64))
    val e = intercept[IllegalArgumentException](nc(junk, "v"))
    assert(e.getMessage.contains("not a NetCDF"))
  }

  test("attributes round-trip: strings, scalars, and vectors") {
    val path = tmpNc()
    NetCDF4Source.write3D(grid(2, 2, 2), path, "sst", shape = (2, 2, 2),
      attrs = Seq("units" -> "degC", "scale_factor" -> 1.0,
        "valid_range" -> Seq(-2.0, 40.0)))
    val attrs = NetCDF4Source.readAttributes(spark, path, "sst")
    assert(attrs("units") == "degC")
    assert(attrs("scale_factor") == 1.0)
    assert(attrs("valid_range") == Seq(-2.0, 40.0))
  }

  test("CF packed data unpacks via scale_factor/add_offset and _FillValue") {
    val path = tmpNc()
    // raw values as a packed archive stores them: fill = -999
    val raw = Seq((0, 0, 0, 100.0), (0, 0, 1, -999.0), (1, 1, 1, 250.0))
      .toDF("t_idx", "y", "x", "value")
    NetCDF4Source.write3D(raw, path, "v", shape = (2, 2, 2),
      attrs = Seq("scale_factor" -> 0.01, "add_offset" -> 10.0,
        "_FillValue" -> -999.0))
    val out = nc(path, "v")
      .filter(!isnan(col("value"))).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getDouble(3))).toSet
    // unwritten cells are NaN raw → NaN after unpack; -999 → fill → NaN
    assert(out == Set((0, 0, 0, 11.0), (1, 1, 1, 12.5)))
    // readLocal returns the stored raw codes
    val rawBack = NetCDF4Source.readLocal(spark, path, "v")._2.count(_ == -999.0)
    assert(rawBack == 1)
  }

  // ── layout v4 (`libver='latest'`) chunk indexes ──────────────────────────

  private def writeV4(v4: String, dims: Seq[Int], chunks: Seq[Int]): (String, Array[Double]) = {
    val n = dims.map(_.toLong).product.toInt
    val vals = Array.tabulate(n)(i => i * 0.75 - 3.0)
    val bytes = Hdf5.assemble(Seq(Hdf5.WriteVar("v", dims, vals,
      chunkDims = Some(chunks), v4Index = Some(v4))))
    val path = tmpNc()
    java.nio.file.Files.write(java.nio.file.Paths.get(path), bytes)
    (path, vals)
  }

  private def parsedIndex(path: String): Hdf5.ChunkIndex = {
    val src = new Hdf5.ByteSource {
      private val raf = new java.io.RandomAccessFile(path, "r")
      def read(off: Long, len: Int): Array[Byte] = {
        val b = new Array[Byte](len); raf.seek(off); raf.readFully(b); b
      }
    }
    val (rootOh, _) = Hdf5.readSuperblock(src)
    val (nm, oh) = Hdf5.listDatasets(src, rootOh).head
    Hdf5.readDataset(src, nm, oh).layout.asInstanceOf[Hdf5.Chunked].index
  }

  test("v4 single-chunk index (filtered) round-trips") {
    val (path, vals) = writeV4("single", Seq(2, 3, 4), Seq(2, 3, 4))
    assert(parsedIndex(path).isInstanceOf[Hdf5.SingleChunk])
    assert(NetCDF4Source.readLocal(spark, path, "v")._2.toSeq == vals.toSeq)
    assert(nc(path, "v").collect().length == 24)
  }

  test("v4 implicit index (raw consecutive chunks) round-trips") {
    val (path, vals) = writeV4("implicit", Seq(4, 3, 2), Seq(2, 3, 2))
    assert(parsedIndex(path) == Hdf5.ImplicitIndex)
    assert(NetCDF4Source.readLocal(spark, path, "v")._2.toSeq == vals.toSeq)
  }

  test("v4 fixed-array index round-trips, edge chunk included") {
    val (path, vals) = writeV4("fa", Seq(9, 2, 2), Seq(2, 2, 2)) // 5 chunks, last partial
    assert(parsedIndex(path).isInstanceOf[Hdf5.FixedArray])
    assert(NetCDF4Source.readLocal(spark, path, "v")._2.toSeq == vals.toSeq)
    val out = nc(path, "v").filter(col("t_idx").between(3, 6))
    assert(out.select("t_idx").distinct().collect().map(_.getInt(0)).sorted.toSeq
      == Seq(3, 4, 5, 6))
  }

  test("v4 paged fixed-array index round-trips") {
    val (path, vals) = writeV4("fa-paged", Seq(12, 2, 2), Seq(1, 2, 2)) // 12 chunks, 4/page
    val src = new Hdf5.ByteSource {
      private val raf = new java.io.RandomAccessFile(path, "r")
      def read(off: Long, len: Int): Array[Byte] = {
        val b = new Array[Byte](len); raf.seek(off); raf.readFully(b); b
      }
    }
    val (rootOh, _) = Hdf5.readSuperblock(src)
    val (nm, oh) = Hdf5.listDatasets(src, rootOh).head
    val ds = Hdf5.readDataset(src, nm, oh)
    assert(Hdf5.listChunks(src, ds).size == 12)
    assert(NetCDF4Source.readLocal(spark, path, "v")._2.toSeq == vals.toSeq)
  }

  test("v4 extensible-array index round-trips (index block + data blocks)") {
    // 20 chunks: 4 inline index-block elements + data blocks across the
    // first super-block generations, all addressed from the index block
    val (path, vals) = writeV4("ea", Seq(20, 2, 2), Seq(1, 2, 2))
    assert(parsedIndex(path) == Hdf5.ExtensibleArray)
    assert(NetCDF4Source.readLocal(spark, path, "v")._2.toSeq == vals.toSeq)
    val out = nc(path, "v").filter(col("t_idx").between(7, 12))
    assert(out.select("t_idx").distinct().collect().map(_.getInt(0)).sorted.toSeq
      == Seq(7, 8, 9, 10, 11, 12))
  }

  test("v4 extensible-array index round-trips through super blocks") {
    // supMinPtrs=2 keeps only 16 chunks inside the index block; the other
    // 24 resolve through EASB super-block indirection, edge chunk included
    val (path, vals) = writeV4("ea-sblk", Seq(79, 2, 2), Seq(2, 2, 2)) // 40 chunks, last partial
    assert(parsedIndex(path) == Hdf5.ExtensibleArray)
    assert(NetCDF4Source.readLocal(spark, path, "v")._2.toSeq == vals.toSeq)
    assert(nc(path, "v").collect().length == 79L * 2 * 2)
  }

  test("v4 v2-btree chunk index round-trips through the source") {
    def v4Body(idxType: Int, specific: Array[Byte]): Array[Byte] = {
      val rank1 = 3
      val b = java.nio.ByteBuffer.allocate(5 + rank1 * 8 + 1 + specific.length + 8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put(4.toByte).put(2.toByte).put(0.toByte).put(rank1.toByte).put(8.toByte)
      b.putLong(2L).putLong(2L).putLong(8L)
      b.put(idxType.toByte).put(specific).putLong(0L)
      b.array()
    }
    val nul = new Hdf5.ByteSource { def read(off: Long, len: Int) = new Array[Byte](len) }
    assert(Hdf5.parseLayout(nul, v4Body(4, new Array[Byte](5)))
      .asInstanceOf[Hdf5.Chunked].index == Hdf5.ExtensibleArray)
    assert(Hdf5.parseLayout(nul, v4Body(5, new Array[Byte](6)))
      .asInstanceOf[Hdf5.Chunked].index == Hdf5.BTreeV2Index)
    // full round-trip: the index multi-unlimited libver-latest datasets use
    val vals = (0 until 60).map(_ * 0.25).toArray
    val bytes = Hdf5.assemble(Seq(Hdf5.WriteVar("v", Seq(5, 4, 3), vals,
      chunkDims = Some(Seq(2, 2, 2)), v4Index = Some("bt2"))))
    val path = tmpNc()
    java.nio.file.Files.write(java.nio.file.Paths.get(path), bytes)
    val (shape, got) = NetCDF4Source.readLocal(spark, path, "v")
    assert(shape == Seq(5L, 4L, 3L))
    assert(got.toSeq == vals.toSeq)
  }

  test("unsupported filters fail with the filter id in the error") {
    val e = intercept[IllegalArgumentException](
      Hdf5.defilter(new Array[Byte](8), Seq(Hdf5.Filter(307, Seq.empty)), 0))
    assert(e.getMessage.contains("307"))
  }

  test("defilter reverses shuffle+deflate and honors the chunk filter mask") {
    // round-trip through the writer's own pipeline is covered above; here
    // check the mask: a set bit means that filter was skipped for the chunk
    val raw = Array.tabulate[Byte](16)(_.toByte)
    val passthrough = Hdf5.defilter(raw, Seq(Hdf5.Filter(1, Seq.empty)), 0x1)
    assert(passthrough.toSeq == raw.toSeq)
  }

  test("readLocalStrings reads fixed and vlen string variables") {
    val path = tmpNc()
    val fixed = Seq("tokyo", "oslo", "", "perth")
    val vlen = Seq("a rather long station description", "x", "")
    val bytes = Hdf5.assemble(Seq(
      Hdf5.WriteVar("station", Seq(4), Array.empty,
        typed = Some(Hdf5.FixedStrData(fixed, 8))),
      Hdf5.WriteVar("descr", Seq(3), Array.empty,
        typed = Some(Hdf5.VlenStrData(vlen)))))
    val f = new java.io.File(path)
    val os = new java.io.FileOutputStream(f)
    try os.write(bytes) finally os.close()
    assert(NetCDF4Source.readLocalStrings(spark, path, "station")._2.toSeq == fixed)
    assert(NetCDF4Source.readLocalStrings(spark, path, "descr")._2.toSeq == vlen)
  }

  test("compound table sink + distributed source round-trips rows") {
    val path = tmpNc()
    val in = Seq(
      ("en", "web", 120.0, 0.91),
      ("de", "web", 45.0, 0.72),
      ("fr", "books", 300.0, 0.88),
      ("en", "books", 7.0, 0.15)
    ).toDF("lang", "source", "n_docs", "score")
    NetCDF4Source.writeCompoundTable(in, path, "stats")
    val out = NetCDF4Source.readCompoundTable(spark, path, "stats")
    assert(out.schema.fieldNames.toSeq == Seq("lang", "source", "n_docs", "score"))
    assert(out.count() == 4)
    val got = out.orderBy("lang", "source")
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getDouble(3)))
    assert(got.toSeq == Seq(
      ("de", "web", 45.0, 0.72), ("en", "books", 7.0, 0.15),
      ("en", "web", 120.0, 0.91), ("fr", "books", 300.0, 0.88)))
  }

  test("compound table: integer and null inputs coerce to f64 (NaN for null)") {
    val path = tmpNc()
    val in = Seq(("a", Some(3L)), ("b", None)).toDF("k", "v")
    NetCDF4Source.writeCompoundTable(in, path, "t")
    val got = NetCDF4Source.readCompoundTable(spark, path, "t")
      .orderBy("k").collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(got(0) == ("a", 3.0))
    assert(got(1)._1 == "b" && got(1)._2.isNaN)
  }

  test("non-compound variables hitting readCompoundTable fail with a named error") {
    val path = tmpNc()
    NetCDF4Source.write3D(grid(2, 2, 2), path, "sst", shape = (2, 2, 2))
    val e = intercept[IllegalArgumentException](
      NetCDF4Source.readCompoundTable(spark, path, "sst"))
    assert(e.getMessage.contains("not compound"))
  }

  test("_FillValue AND missing_value both mask when carried with different codes") {
    // legacy archives routinely carry BOTH spellings with different
    // codes; xarray masks both — so does this scan
    val path = tmpNc()
    val df = (for (t <- 0 until 2; y <- 0 until 2; x <- 0 until 2)
      yield (t, y, x,
        if (t == 0 && y == 0 && x == 0) -77.0 // quantizes to the legacy code
        else t * 10.0)).toDF("t_idx", "y", "x", "value")
    NetCDF4Source.write3D(df, path, "sst", shape = (2, 2, 2), timeChunk = 2,
      pack = Some(NetCDF4Source.Pack(scale = 1.0)),
      attrs = Seq("missing_value" -> -77.0))
    val sql = spark.read.format("netcdf").option("var", "sst").load(path)
    assert(sql.filter(isnan(col("value"))).count() == 1,
      "the missing_value-coded cell must mask alongside _FillValue")
    assert(sql.filter(!isnan(col("value")) &&
      col("value") =!= col("t_idx") * 10.0).count() == 0)
  }

  test("_Unsigned = \"true\" decodes signed-stored cells as unsigned") {
    // the classic-format workaround nccopy keeps: i16-stored data whose
    // values live past the signed midpoint; ignoring the attr reads them
    // negative. Raw shorts -32768/-1 must surface as 32768/65535, and the
    // _FillValue code reinterprets under the same bias.
    val path = tmpNc()
    val raw = Array[Short](0, 1, -1, -32768, 32767, -2)
    val img = Hdf5.assemble(Seq(Hdf5.WriteVar("counts", Seq(3, 1, 2),
      Array.empty, typed = Some(Hdf5.PackedGridData(raw)),
      attrs = Seq("_Unsigned" -> "true", "_FillValue" -> -2.0))))
    java.nio.file.Files.write(java.nio.file.Paths.get(path), img)
    val df = spark.read.format("netcdf").option("var", "counts").load(path)
      .orderBy("t_idx", "y", "x")
    val got = df.select("value").collect().map(r =>
      if (r.isNullAt(0)) Double.NaN else r.getDouble(0))
    assert(got(0) == 0.0 && got(1) == 1.0)
    assert(got(2) == 65535.0, s"raw -1 must read 65535, got ${got(2)}")
    assert(got(3) == 32768.0, s"raw -32768 must read 32768, got ${got(3)}")
    assert(got(4) == 32767.0)
    assert(got(5).isNaN, "the fill code must mask under the unsigned bias")
    // a windowed read (pushed t_idx range) applies the same
    // reinterpretation, fill included
    val ds = nc(path, "counts").filter(col("t_idx").between(0, 2))
    assert(ds.filter(col("value") === 65535.0).count() == 1)
    assert(ds.filter(isnan(col("value"))).count() == 1,
      "the windowed read must mask the biased fill code too")
  }
}
