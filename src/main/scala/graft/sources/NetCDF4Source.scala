package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.util.SerializableConfiguration

import Hdf5._

/** NetCDF-4 (HDF5-backed) ingest — the format most modern `.nc` archives
  * use, and what the reference actually opens in production
  * (`xr.open_dataset`, marEx detect.py:409, is h5netcdf/netCDF4-backed
  * whenever the file is not classic CDF). Built on [[Hdf5]], a minimal
  * implementation of the public HDF5 file-format spec.
  *
  * This object holds the driver-side readers (metadata, attributes, small
  * variables, strings, compound tables) and the writers. Distributed reads
  * of a (time, y, x) or (time, cell) variable go through the `netcdf`
  * DataSourceV2 ([[NetCdfDataSourceV2]]): the metadata (superblock, object
  * headers, chunk B-tree) is parsed once on the driver — it is KBs even for
  * TB-scale files — and bulk data fans out as one task per CHUNK, each
  * doing its own Hadoop-FS positioned read + inflate, so a chunked file
  * distributes exactly like Parquet row-groups. A pushed `t_idx` range
  * prunes whole chunks from the B-tree listing before any data byte is
  * read — at 100 TB the common "last N days" query reads only the matching
  * chunk subset.
  */
object NetCDF4Source {

  private[sources] final class HadoopSource(conf: org.apache.hadoop.conf.Configuration,
      path: String) extends ByteSource {
    private val p = new org.apache.hadoop.fs.Path(path)
    private val fs = p.getFileSystem(conf)
    def read(off: Long, len: Int): Array[Byte] = {
      val in = fs.open(p)
      try { val out = new Array[Byte](len); in.readFully(off, out, 0, len); out }
      finally in.close()
    }
  }

  private def source(spark: SparkSession, path: String): ByteSource =
    new HadoopSource(spark.sparkContext.hadoopConfiguration, path)

  /** Dataset names and shapes (driver-side metadata read). */
  def describe(spark: SparkSession, path: String): Map[String, Seq[Long]] = {
    val src = source(spark, path)
    val (rootOh, _) = readSuperblock(src)
    listDatasets(src, rootOh).map { case (name, oh) =>
      name -> readDataset(src, name, oh).dims
    }.toMap
  }

  private def findVarOh(src: ByteSource, path: String, varName: String): Long = {
    val (rootOh, _) = readSuperblock(src)
    listDatasets(src, rootOh).find(_._1 == varName)
      .getOrElse(throw new IllegalArgumentException(s"no variable $varName in $path"))._2
  }

  private def findVar(src: ByteSource, path: String, varName: String): Dataset =
    readDataset(src, varName, findVarOh(src, path, varName))

  /** A variable's attributes (CF metadata: units, scale_factor, …). */
  def readAttributes(spark: SparkSession, path: String,
      varName: String): Map[String, Any] = {
    val src = source(spark, path)
    attributes(src, findVarOh(src, path, varName))
  }

  /** CF `_Unsigned = "true"`: data STORED in a signed type decodes as
    * unsigned — the classic-format workaround (NC3 has no unsigned types)
    * that netCDF-C keeps through nccopy conversions, honored by xarray's
    * mask_and_scale. Ignoring it reads every value past the signed
    * midpoint as negative — silent wrong data. */
  private[sources] def unsignedOf(dt: Hdf5.NumType,
      attrs: Map[String, Any]): Hdf5.NumType = {
    val flag = attrs.get("_Unsigned").collect { case s: String => s }
      .exists(_.equalsIgnoreCase("true"))
    if (flag && dt.kind == "int") {
      // uint64 has no exact Double representation — refuse BY NAME rather
      // than read top-bit-set values as negatives
      require(dt.size <= 4,
        s"_Unsigned on a ${dt.size * 8}-bit integer variable — uint64 " +
          "cannot be represented exactly; convert the variable first")
      dt.copy(kind = "uint")
    } else dt
  }

  /** The additive bias `unsignedOf`'s reinterpretation implies: raw codes
    * and FILL codes read from signed attrs shift by 2^bits when negative.
    * One definition — every path that flips a dtype derives its bias
    * here. */
  private[sources] def unsignedBias(raw: Hdf5.NumType,
      reinterpreted: Hdf5.NumType): Double =
    if (reinterpreted ne raw) math.pow(2.0, 8.0 * reinterpreted.size) else 0.0

  private[sources] def unsign(bias: Double)(f: Double): Double =
    if (bias > 0 && f < 0) f + bias else f

  /** Driver-side dense read of a small variable (coordinate axes, masks). */
  def readLocal(spark: SparkSession, path: String,
      varName: String): (Seq[Long], Array[Double]) = {
    val src = source(spark, path)
    val v = findVar(src, path, varName)
    val n = v.dims.product.toInt
    val out = v.layout match {
      case Compact(data) => decode(data, v.dtype, n)
      case Contiguous(addr, size) =>
        decode(src.read(addr, size.toInt), v.dtype, n)
      case Chunked(_, chunkDims, _) =>
        val acc = new Array[Double](n)
        java.util.Arrays.fill(acc, Double.NaN)
        listChunks(src, v).foreach { c =>
          val chunkLen = chunkDims.map(_.toLong).product.toInt
          val vals = decode(defilter(src.read(c.addr, c.size), v.filters,
            c.filterMask, chunkLen * v.dtype.size), v.dtype, chunkLen)
          foreachCell(c.offsets, chunkDims, v.dims) { (flat, ci) => acc(flat) = vals(ci) }
        }
        acc
    }
    (v.dims, out)
  }

  /** Driver-side read of a string variable (label axes, station names,
    * member ids — small by nature): fixed-length or vlen cells. */
  def readLocalStrings(spark: SparkSession, path: String,
      varName: String): (Seq[Long], Array[String]) = {
    val src = source(spark, path)
    val v = findVar(src, path, varName)
    val n = v.dims.product.toInt
    val out = v.layout match {
      case Compact(data) => decodeStrings(data, v.dtype, n, src)
      case Contiguous(addr, size) =>
        decodeStrings(src.read(addr, size.toInt), v.dtype, n, src)
      case Chunked(_, chunkDims, _) =>
        val acc = new Array[String](n)
        listChunks(src, v).foreach { c =>
          val vals = decodeStrings(
            defilter(src.read(c.addr, c.size), v.filters, c.filterMask),
            v.dtype, chunkDims.map(_.toLong).product.toInt, src)
          foreachCell(c.offsets, chunkDims, v.dims) { (flat, ci) => acc(flat) = vals(ci) }
        }
        acc
    }
    (v.dims, out)
  }

  /** Distributed read of a 1-D COMPOUND dataset into a DataFrame — the
    * HDF5 record/table shape PyTables and `pandas.to_hdf` store. Numeric
    * members become DOUBLE columns, string members STRING. Metadata is
    * parsed once on the driver; chunked tables fan out one task per chunk
    * batch (like parquet row-groups), contiguous tables split into
    * fixed-size row ranges — both scale with the file, not the driver. */
  /** The ONE encoding of an enum's name/code map as Spark column metadata
    * (`enum_names`/`enum_values` — the enum analogue of CF
    * `flag_meanings`/`flag_values`), shared by every source that surfaces
    * enum-typed data. */
  private[sources] def enumMetadata(
      e: Hdf5.EnumType): org.apache.spark.sql.types.Metadata =
    new org.apache.spark.sql.types.MetadataBuilder()
      .putStringArray("enum_names", e.names.toArray)
      .putLongArray("enum_values", e.values.toArray).build()

  def readCompoundTable(spark: SparkSession, path: String,
      varName: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val src = source(spark, path)
    val v = findVar(src, path, varName)
    val ct = v.dtype match {
      case c: CompoundType => c
      case o => throw new IllegalArgumentException(s"$varName is not compound ($o)")
    }
    require(v.dims.length == 1, s"$varName: compound tables are 1-D (got ${v.dims})")
    val n = v.dims.head
    def fieldOf(m: CompoundMember): StructField = m.dtype match {
      case _: NumType => StructField(m.name, DoubleType, nullable = false)
      case e: Hdf5.EnumType =>
        StructField(m.name, DoubleType, nullable = false, enumMetadata(e))
      case _: Hdf5.ArrayMemberType =>
        StructField(m.name, ArrayType(DoubleType, containsNull = false),
          nullable = false)
      case nc: CompoundType =>
        StructField(m.name, StructType(nc.members.map(fieldOf)), nullable = false)
      case _ => StructField(m.name, StringType, nullable = false)
    }
    val schema = StructType(ct.members.map(fieldOf))
    val conf = new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)
    val filters = v.filters
    def rowsOf(data: Array[Byte], count: Int, s: ByteSource): Iterator[Row] = {
      val cols = decodeCompound(data, ct, count, s).map(_._2)
      def external(x: Any): Any = x match {
        case seq: scala.collection.Seq[_] => Row.fromSeq(seq.toSeq.map(external))
        case arr: Array[Double] => arr.toSeq // array member cell → ArrayType
        case o => o
      }
      (0 until count).iterator.map(i => Row.fromSeq(cols.map {
        case ds: Array[Double] => ds(i)
        case ss: Array[String] => ss(i)
        case aa: Array[Array[Double]] => aa(i).toSeq
        case o: Array[_] => external(o(i))
      }))
    }
    val rdd = v.layout match {
      case Chunked(_, chunkDims, _) =>
        val cn = chunkDims.head
        // enumerate EVERY chunk origin — HDF5 elides never-written chunks,
        // but those rows still exist: absent chunks synthesize the DEFINED
        // fill record (or the format's default all-zero record), mirroring
        // the hdf5table DSv2 scan
        val fillRec = Hdf5TableV2.compoundOf(path, varName)._3
        val present = listChunks(src, v).map(c => c.offsets.head -> c).toMap
        val units = (0L until n by cn).map(org => org -> present.get(org))
        spark.sparkContext
          .parallelize(units, math.min(128, math.max(1, units.size)))
          .mapPartitions { it =>
            val s = new HadoopSource(conf.value, path)
            it.flatMap { case (org, cOpt) =>
              val count = math.min(cn.toLong, n - org).toInt
              val data = cOpt match {
                // full chunk geometry: stored chunks are full-size even at
                // the dataspace edge; only `count` records decode below
                case Some(c) => defilter(s.read(c.addr, c.size), filters,
                  c.filterMask, (cn * ct.size).toInt)
                case None =>
                  val d = new Array[Byte](count * ct.size)
                  fillRec.foreach { fr =>
                    var i = 0
                    while (i < count) {
                      System.arraycopy(fr, 0, d, i * ct.size, ct.size); i += 1
                    }
                  }
                  d
              }
              rowsOf(data, count, s)
            }
          }
      case Contiguous(addr, _) =>
        val batch = 65536
        val starts = (0L until n by batch.toLong).toSeq
        spark.sparkContext
          .parallelize(starts, math.min(128, math.max(1, starts.size)))
          .mapPartitions { it =>
            val s = new HadoopSource(conf.value, path)
            it.flatMap { start =>
              val count = math.min(batch.toLong, n - start).toInt
              rowsOf(s.read(addr + start * ct.size, count * ct.size), count, s)
            }
          }
      case Compact(data) =>
        spark.sparkContext.parallelize(rowsOf(data, n.toInt, src).toSeq)
    }
    spark.createDataFrame(rdd, schema)
  }

  /** Compound-table sink: the write dual of [[readCompoundTable]] (string
    * columns → fixed-length members sized to the data, LONG → i64,
    * other numerics → f64, STRUCT → nested compound, recursively).
    * Driver-side assembly like [[write3D]] — a single HDF5 file is an
    * inherently serial sink, for bounded result exports only.
    *
    * @param stringSizes fixed member byte sizes per column name; nested
    *                    members address by dotted path (`"outer.inner"`) */
  def writeCompoundTable(df: DataFrame, path: String, varName: String,
      stringSizes: Map[String, Int] = Map.empty,
      chunkRows: Option[Int] = None,
      elideDefaultChunks: Boolean = false): Unit = {
    import org.apache.spark.sql.types._
    val spark = df.sparkSession
    val rows = df.collect()

    def columnOf(f: StructField, prefix: String, vals: Seq[Any]): Hdf5.CompoundCol =
      f.dataType match {
        case StringType =>
          val ss = vals.map(v => Option(v.asInstanceOf[String]).getOrElse(""))
          val size = stringSizes.getOrElse(prefix,
            math.max(1, if (ss.isEmpty) 1 else ss.map(_.getBytes("UTF-8").length).max))
          Hdf5.StrCol(ss, size)
        case LongType if !vals.contains(null) =>
          // exact i64 member; nullable longs fall through to f64, whose
          // NaN is the only representable null
          Hdf5.I64Col(vals.map(_.asInstanceOf[Long]).toArray)
        case st: StructType =>
          // nulls at the struct level become all-null member rows
          val inner = vals.map(_.asInstanceOf[org.apache.spark.sql.Row])
          Hdf5.NestedCol(st.fields.zipWithIndex.map { case (m, j) =>
            m.name -> columnOf(m, s"$prefix.${m.name}",
              inner.map(r => if (r == null || r.isNullAt(j)) null else r.get(j)))
          }.toSeq)
        case ArrayType(et, _) if et == DoubleType || et == FloatType ||
            et == IntegerType || et == LongType =>
          // PyTables vector column (class-10 array member): every record
          // carries one fixed-shape numeric array — the embedding-table
          // layout; ragged inputs fail by name (pad/truncate upstream)
          val arrs = vals.map {
            case null => null
            case s: scala.collection.Seq[_] => s.map {
              case d: Double => d
              case fl: Float => fl.toDouble
              case l: Long => l.toDouble
              case in: Int => in.toDouble
              case null => Double.NaN
            }.toArray
          }
          require(arrs.forall(_ != null),
            s"column $prefix: null array cells are not representable in a " +
              "fixed-shape vector member — fill upstream")
          require(arrs.nonEmpty,
            s"column $prefix: cannot infer the vector length from an " +
              "empty frame — the member shape is part of the stored type")
          val lens = arrs.map(_.length).distinct
          require(lens.length == 1 && lens.head > 0,
            s"column $prefix: vector members need ONE fixed length, got " +
              s"${lens.sorted.take(5).mkString(", ")}${if (lens.length > 5) ", …" else ""}")
          Hdf5.ArrayCol(arrs, Seq(lens.head))
        case _ =>
          Hdf5.F64Col(vals.map {
            case null => Double.NaN
            case d: Double => d
            case fl: Float => fl.toDouble
            case l: Long => l.toDouble
            case in: Int => in.toDouble
            case s: Short => s.toDouble
            case b: Byte => b.toDouble
            case bd: java.math.BigDecimal => bd.doubleValue
            case o => throw new IllegalArgumentException(
              s"column $prefix: unsupported type ${o.getClass.getName}")
          }.toArray)
      }

    val cols: Seq[(String, Hdf5.CompoundCol)] =
      df.schema.fields.zipWithIndex.map { case (f, i) =>
        f.name -> columnOf(f, f.name,
          rows.toSeq.map(r => if (r.isNullAt(i)) null else r.get(i)))
      }.toSeq
    val bytes = Hdf5.assemble(Seq(WriteVar(varName, Seq(rows.length), Array.empty,
      typed = Some(Hdf5.CompoundData(cols)), chunkDims = chunkRows.map(Seq(_)),
      elideDefaultChunks = elideDefaultChunks)))
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(bytes) finally out.close()
  }

  /** Append rows onto an existing CHUNKED compound table — the PyTables
    * `append=True` shape ([[Hdf5.appendCompoundTable]]): the record
    * dimension grows, old chunk bytes are never re-encoded, the straddled
    * edge chunk merges, and a new chunk B-tree replaces the old (which
    * becomes dead space, as libhdf5 leaves on reallocation) — a single
    * leaf up to 64 chunks, a two-level tree up to 64×64 past that.
    * The dataframe's columns are matched BY NAME to the stored members
    * (any order; all must be present). Transport note: an HDF5 file is a
    * single byte stream with interior fixed-width patches, and Hadoop
    * filesystems have no positioned write — the patched image is staged
    * to a sibling temp file and swapped in with the original parked at
    * `<path>.__append_old` until the swap lands, so a crash never leaves
    * a half-patched table and a COMPLETE copy always exists under a
    * well-known name (rename is not atomic-overwrite on every FS). Like
    * the create, this is a driver-side sink for bounded result exports,
    * not the 100 TB cube path. */
  def appendCompoundTable(df: DataFrame, path: String, varName: String): Unit = {
    val spark = df.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val (_, ct, _) = Hdf5TableV2.compoundOf(path, varName)
    val storedNames = ct.members.map(_.name)
    val missing = storedNames.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"append frame is missing stored members: ${missing.mkString(", ")} " +
        s"(table $varName has: ${storedNames.mkString(", ")})")
    // reorder to the STORED member order at EVERY nesting level — the
    // record encoder is positional, and a frame whose struct fields sit in
    // a different order than the stored nested members would otherwise
    // silently swap same-typed values
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions.{col, struct}
    def colFor(m: Hdf5.CompoundMember, path0: String): Column = m.dtype match {
      case nc: Hdf5.CompoundType =>
        struct(nc.members.map(im =>
          colFor(im, s"$path0.`${im.name}`").as(im.name)): _*)
      case _ => col(path0)
    }
    val rows = df.select(ct.members.map(m => colFor(m, s"`${m.name}`")): _*)
      .collect().toSeq.map(_.toSeq)
    val fileBytes = {
      val in = fs.open(p)
      try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
    }
    val patched = Hdf5.appendCompoundTable(fileBytes, varName, rows)
    // Staged swap with NO data-loss window. Plain Hadoop FileSystem rename
    // is not atomic-overwrite everywhere (the local FS deletes-then-renames
    // internally; FileContext needs AbstractFileSystem bindings many
    // connectors lack), so atomicity cannot be promised — what CAN be is
    // that a complete table always exists under a well-known name:
    //   1. the full patched image lands as <path>.__append_tmp;
    //   2. the original moves aside to <path>.__append_old;
    //   3. tmp renames into place; 4. the aside copy is deleted.
    // A crash before 3 leaves the ORIGINAL (at path or .__append_old) and
    // possibly the complete new image at .__append_tmp; a crash after 3
    // leaves the appended table live. Readers of a missing `path` fail
    // loudly and both recovery copies are complete tables — never a
    // half-patched one.
    val tmp = new org.apache.hadoop.fs.Path(path + ".__append_tmp")
    val aside = new org.apache.hadoop.fs.Path(path + ".__append_old")
    val out = fs.create(tmp, true)
    try out.write(patched) finally out.close()
    fs.delete(aside, false)
    if (!fs.rename(p, aside)) throw new java.io.IOException(
      s"failed to stage the original table aside ($p -> $aside)")
    if (!fs.rename(tmp, p)) throw new java.io.IOException(
      s"failed to move the appended table into place ($tmp -> $p) — the " +
        s"original is intact at $aside")
    fs.delete(aside, false)
  }

  /** Row-major iteration over the in-range cells of one chunk:
    * f(flat dataset index, chunk-local index). */
  private def foreachCell(org: Seq[Long], chunkDims: Seq[Int], dims: Seq[Long])(
      f: (Int, Int) => Unit): Unit = {
    val rank = chunkDims.length
    val n = chunkDims.map(_.toLong).product.toInt
    val idx = new Array[Int](rank)
    var ci = 0
    while (ci < n) {
      var rem = ci; var d = rank - 1
      while (d >= 0) { idx(d) = rem % chunkDims(d); rem /= chunkDims(d); d -= 1 }
      var ok = true; var flat = 0L
      var e = 0
      while (e < rank) {
        val coord = org(e) + idx(e)
        if (coord >= dims(e)) { ok = false; e = rank }
        else { flat = flat * dims(e) + coord; e += 1 }
      }
      if (ok) f(flat.toInt, ci)
      ci += 1
    }
  }

  /** One f64 variable of a [[writeVars]] file: arbitrary rank, optional
    * chunked+shuffle+deflate layout (None = contiguous). */
  final case class VarSpec(name: String, dims: Seq[Int], values: Array[Double],
      chunkDims: Option[Seq[Int]] = None)

  /** Driver-side assembly of a simple multi-variable NetCDF-4/HDF5 file —
    * the shape of an ICON GRID file (2-D `neighbours(nv, ncells)` next to
    * 1-D `lat`/`lon`/`cell_areas`/`mask`) or any small mixed-rank export.
    * For 3-D data cubes use [[write3D]]/[[writeArchive]]; for tables,
    * [[writeCompoundTable]]. */
  def writeVars(spark: SparkSession, path: String, vars: Seq[VarSpec]): Unit = {
    val bytes = Hdf5.assemble(vars.map(v =>
      Hdf5.WriteVar(v.name, v.dims, v.values, chunkDims = v.chunkDims)))
    val p = new org.apache.hadoop.fs.Path(path)
    val out = p.getFileSystem(spark.sparkContext.hadoopConfiguration).create(p, true)
    try out.write(bytes) finally out.close()
  }

  /** One grid variable's WriteVar: CF-PACKED signed-i16 when `pack` is
    * set (raw shorts + `scale_factor`/`add_offset`/`_FillValue` attrs —
    * required for szip, whose samples are ≤32-bit), plain f64 otherwise.
    * Shared by [[write3D]] and the distributed [[writeArchive]] sink so
    * single files and multi-file archives ship the same layouts. */
  private[sources] def gridVar(varName: String, dims: Seq[Int], values: Array[Double],
      chunkDims: Seq[Int], deflateLevel: Int, compressor: String,
      pack: Option[Pack], attrs: Seq[(String, Any)]): WriteVar = pack match {
    case Some(pk) =>
      val raw = values.map { v =>
        if (v.isNaN) pk.fillRaw
        else {
          val q = math.rint((v - pk.offset) / pk.scale)
          if (q < Short.MinValue || q > Short.MaxValue) pk.fillRaw
          else q.toShort
        }
      }
      WriteVar(varName, dims, Array.empty,
        chunkDims = Some(chunkDims), deflateLevel = deflateLevel,
        compressor = compressor, typed = Some(Hdf5.PackedGridData(raw)),
        attrs = attrs ++ Seq(
          "scale_factor" -> pk.scale, "add_offset" -> pk.offset,
          "_FillValue" -> pk.fillRaw.toDouble))
    case None =>
      require(compressor != "szip",
        "szip write needs <=32-bit samples — pass pack=Some(Pack(...)) to " +
          "store CF-packed i16")
      WriteVar(varName, dims, values,
        chunkDims = Some(chunkDims), deflateLevel = deflateLevel,
        compressor = compressor, attrs = attrs)
  }

  /** CF packing for [[write3D]]: store `round((v − offset) / scale)` as a
    * signed i16 with `scale_factor`/`add_offset`/`_FillValue` attributes —
    * the layout real NC4 archives ship, 4× smaller than f64 before
    * compression. NaN (and out-of-i16-range results, which would silently
    * alias) map to `fillRaw`; the CF decode on every read path restores
    * physical values and NaN. */
  final case class Pack(scale: Double, offset: Double = 0.0,
      fillRaw: Short = Short.MinValue)

  /** NetCDF-4 sink for a single 3-D double variable — the HDF5 dual of
    * [[NetCDF3Source.write3D]] (≙ the reference's `to_netcdf`). Written
    * chunked + shuffle + deflate (netCDF-4's default encoding) so the
    * round-trip exercises the full filter pipeline. Like the NC3 sink,
    * file assembly is driver-side — a single HDF5 file is an inherently
    * serial sink, so this is for result exports that fit one machine;
    * parquet/zarr are the distributed-output paths. Missing cells → NaN. */
  def write3D(df: DataFrame, path: String, varName: String,
      shape: (Int, Int, Int), timeChunk: Int = 8, deflateLevel: Int = 4,
      attrs: Seq[(String, Any)] = Seq.empty,
      spatialChunks: Option[(Int, Int)] = None,
      pack: Option[Pack] = None, compressor: String = "deflate"): Unit = {
    val (nt, ny, nx) = shape
    import org.apache.spark.sql.functions._
    val spark = df.sparkSession
    import spark.implicits._
    val values = Array.fill(nt * ny * nx)(Double.NaN)
    df.select(col("t_idx").cast("int"), col("y").cast("int"),
        col("x").cast("int"), col("value").cast("double"))
      .as[(Int, Int, Int, Double)]
      .collect()
      .foreach { case (t, y, x, v) =>
        if (t >= 0 && t < nt && y >= 0 && y < ny && x >= 0 && x < nx)
          values(t * ny * nx + y * nx + x) = v
      }
    val (cy, cx) = spatialChunks.getOrElse((ny, nx))
    val wv = gridVar(varName, Seq(nt, ny, nx), values,
      Seq(math.min(timeChunk, nt), math.min(cy, ny), math.min(cx, nx)),
      deflateLevel, compressor, pack, attrs)
    val bytes = Hdf5.assemble(Seq(wv))
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(bytes) finally out.close()
  }
}

/** The multi-file NetCDF archive sink. Reads of single files, directories
  * and globs go through the `netcdf` DataSourceV2 ([[NetCdfDataSourceV2]]),
  * the engine's equivalent of the reference's `xr.open_dataset(path)` /
  * `xr.open_mfdataset(pattern)` (marEx detect.py:409, user_guide.rst:82). */
object NetCDFSource {
  /** DISTRIBUTED multi-file NetCDF sink — the write dual of the
    * `open_mfdataset` archive read: the global time axis splits into
    * `blockNt`-slice blocks, and each block's NC4 file is assembled and
    * written INSIDE an executor task (one shuffle keyed by block id, then
    * embarrassingly-parallel deflate + file create). A single `.nc` file
    * is inherently serial, but an archive of them is not — 12 monthly
    * files deflate on 12 cores, not one, which is the only way a year of
    * a production grid exports in minutes instead of hours. Block files
    * are named `<prefix>_<block>%05d.nc`, so the name order IS the time
    * order the multi-file reader expects. Blocks with no in-range cells
    * still get a file (all-fill, assembled driver-side) — a dense archive
    * has no holes. Returns the file names written, in time order. */
  def writeArchive(df: DataFrame, dir: String, varName: String,
      shape: (Int, Int, Int), blockNt: Int, timeChunk: Int = 8,
      deflateLevel: Int = 4, prefix: String = "sst",
      spatialChunks: Option[(Int, Int)] = None,
      blockOffset: Int = 0, pack: Option[NetCDF4Source.Pack] = None,
      compressor: String = "deflate"): Seq[String] = {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val (nt, ny, nx) = shape
    require(blockNt > 0 && nt > 0, s"need positive blockNt/nt (got $blockNt/$nt)")
    val nBlocks = (nt + blockNt - 1) / blockNt
    require(blockOffset >= 0 && blockOffset.toLong + nBlocks <= 100000,
      s"blocks ${blockOffset}..${blockOffset.toLong + nBlocks - 1} overflow the " +
        "5-digit %05d naming — past 99999 the name order stops being the " +
        "time order")
    val spark = df.sparkSession
    import spark.implicits._
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val dp = new org.apache.hadoop.fs.Path(dir)
    dp.getFileSystem(conf.value).mkdirs(dp)
    val (cy, cx) = spatialChunks.getOrElse((ny, nx))
    val dirB = dir; val varB = varName; val tcB = timeChunk; val dlB = deflateLevel
    val pxB = prefix; val ntB = nt; val nyB = ny; val nxB = nx; val bNt = blockNt

    def writeBlock(b: Int, values: Array[Double]): String = {
      val bt0 = b * bNt
      val bnt = math.min(bNt, ntB - bt0)
      val bytes = Hdf5.assemble(Seq(NetCDF4Source.gridVar(varB,
        Seq(bnt, nyB, nxB), values,
        Seq(math.min(tcB, bnt), math.min(cy, nyB), math.min(cx, nxB)),
        dlB, compressor, pack, Seq.empty)))
      val name = f"${pxB}_${blockOffset + b}%05d.nc"
      val p = new org.apache.hadoop.fs.Path(s"$dirB/$name")
      val fs = p.getFileSystem(conf.value)
      val out = fs.create(p, true)
      try out.write(bytes) finally out.close()
      name
    }
    def blockArray(b: Int): Array[Double] =
      Array.fill(math.min(bNt, ntB - b * bNt) * nyB * nxB)(Double.NaN)

    // Tungsten exchange on the block id + raw InternalRow consumption: the
    // encoder-free path moves ~3× the rows/s of a typed groupByKey at this
    // width (measured 720×1440×360: 18 s vs 64 s for the shuffle+fill).
    // Hash partitioning may co-locate a few blocks in one task — each task
    // holds one dense array per block it sees (blockNt·ny·nx doubles
    // apiece), so nParts ≥ 4×blocks keeps that near one.
    val prepared = df.select(col("t_idx").cast("int"), col("y").cast("int"),
        col("x").cast("int"), col("value").cast("double"))
      .filter(col("t_idx").isNotNull && col("t_idx") >= 0 && col("t_idx") < nt)
      .select(((col("t_idx") - pmod(col("t_idx"), lit(blockNt))) / blockNt)
        .cast("int").as("b"),
        col("t_idx"), col("y"), col("x"), col("value"))
    // 4×blocks keeps the one-dense-array-per-task memory guarantee at any
    // scale; the session width added nothing but empty tasks when blocks
    // are few (hash partitioning on `b` can't use more than nBlocks tasks'
    // worth of data anyway)
    val nParts = math.max(1, 4 * nBlocks)
    val written = prepared.repartition(nParts, col("b"))
      .queryExecution.toRdd.mapPartitions { it =>
        val arrays = scala.collection.mutable.Map.empty[Int, Array[Double]]
        it.foreach { r =>
          if (!r.isNullAt(1) && !r.isNullAt(2) && !r.isNullAt(3)) {
            val b = r.getInt(0)
            val y = r.getInt(2); val x = r.getInt(3)
            if (y >= 0 && y < nyB && x >= 0 && x < nxB) {
              val arr = arrays.getOrElseUpdate(b, blockArray(b))
              arr((r.getInt(1) - b * bNt) * nyB * nxB + y * nxB + x) =
                if (r.isNullAt(4)) Double.NaN else r.getDouble(4)
            }
          }
        }
        arrays.iterator.map { case (b, values) => writeBlock(b, values) }
      }.collect().toSet
    // empty blocks never reach a task — fill them on the driver
    val filled = (0 until nBlocks).map { b =>
      val name = f"${prefix}_${blockOffset + b}%05d.nc"
      if (!written(name)) writeBlock(b, blockArray(b))
      name
    }
    filled
  }
}
