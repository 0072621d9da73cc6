package graft.sources

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** NetCDF-3 (classic format) ingest — the reference's primary entry format:
  * every example opens `xr.open_dataset('*.nc')` (marEx detect.py:409,
  * docs/examples). Implements the public CDF-1/CDF-2/CDF-5 file layout (the
  * NetCDF classic format specification): big-endian header with dim/attr/
  * var lists, fixed variables stored contiguously C-order at `begin`,
  * record variables interleaved per record with a common record stride.
  * CDF-5 (`CDF\x05`, the PnetCDF 64-bit-data variant common in
  * parallel-written climate archives) reads natively: INT64 NON_NEGs
  * throughout the header and the five added data types (ubyte/ushort/uint/
  * int64/uint64). Writes stay CDF-1; a CDF-5 write request is out of scope
  * by name (no such entry exists).
  * HDF5-backed NetCDF-4 files are detected by the `netcdf` scan and read
  * through [[Hdf5]]; calling this header parser on one directly fails with
  * a clear error.
  *
  * Execution shape: the header is parsed once on the driver (it is a few
  * KB); distributed reads go through the `netcdf` DataSourceV2
  * ([[NetCdfDataSourceV2]]), whose tasks each read their own record batch
  * with Hadoop FS positioned reads, so a multi-GB file fans out across the
  * cluster like Parquet row-groups, on any Hadoop filesystem. A pushed
  * `t_idx` range prunes whole records before any data byte is read.
  */
object NetCDF3Source {

  final case class Dim(name: String, size: Int) // size 0 → record dim
  final case class Var(name: String, dimIds: Seq[Int], ncType: Int,
      vsize: Long, begin: Long, attrs: Map[String, Any] = Map.empty) {
    def isRecord(dims: Seq[Dim]): Boolean =
      dimIds.nonEmpty && dims(dimIds.head).size == 0
    /** Bytes of ONE record slab (record vars) / the whole variable
      * (fixed vars), UNPADDED — recomputed from the shape, never trusted
      * from the stored `vsize` (writers disagree on padding conventions). */
    def payloadBytes(dims: Seq[Dim]): Long = {
      val counted = if (isRecord(dims)) dimIds.tail else dimIds
      counted.map(dims(_).size.toLong).product * typeBytes(ncType)
    }
    /** One numeric attribute — [[Reader.attrValues]] normalizes every
      * numeric NC type to `Seq[Double]` (NC_CHAR to String). */
    def numAttr(k: String): Option[Double] = attrs.get(k).collect {
      case seq: Seq[_] if seq.nonEmpty => seq.head
    }.collect { case d: Double => d }
  }
  final case class Header(version: Int, numRecs: Int, dims: Seq[Dim],
      vars: Seq[Var], attrs: Map[String, Any]) {
    /** Byte stride of one record, RECOMPUTED from the variable shapes
      * (never summed from the stored `vsize` fields, whose padding
      * convention varies by writer): each record slab pads to ×4 — EXCEPT
      * the classic-format special case of exactly ONE record variable of
      * type byte/char/short, whose slabs pack TIGHTLY (netCDF-C applies
      * it; summing padded vsizes there strides past every record after
      * the first — silent wrong data on e.g. odd-cell int16 grids). */
    lazy val recSize: Long = {
      val recVars = vars.filter(_.isRecord(dims))
      if (recVars.length == 1 &&
          Seq(NcByte, NcChar, NcShort, NcUByte, NcUShort).contains(recVars.head.ncType))
        recVars.head.payloadBytes(dims)
      else recVars.map(v => (v.payloadBytes(dims) + 3) / 4 * 4).sum
    }
  }

  private val NcByte = 1; private val NcChar = 2; private val NcShort = 3
  private val NcInt = 4; private val NcFloat = 5; private val NcDouble = 6
  // CDF-5 (64-bit data) additions, per the public classic-format spec
  private val NcUByte = 7; private val NcUShort = 8; private val NcUInt = 9
  private val NcInt64 = 10; private val NcUInt64 = 11

  private def typeBytes(t: Int): Int = t match {
    case NcByte | NcChar | NcUByte => 1
    case NcShort | NcUShort => 2
    case NcInt | NcFloat | NcUInt => 4
    case NcDouble | NcInt64 | NcUInt64 => 8
    case other => throw new IllegalArgumentException(s"unknown nc_type $other")
  }

  /** @param v5 CDF-5 header: every NON_NEG in the grammar (name lengths,
    *   list nelems, attr counts, dim lengths, dimids, vsize, numrecs) is an
    *   8-byte INT64; list TAGS stay 4-byte; value padding stays ×4. */
  private final class Reader(buf: ByteBuffer, v5: Boolean = false) {
    def int(): Int = buf.getInt()
    /** One NON_NEG from the grammar, bounded to Int (driver-side header
      * lists; a count past 2^31 fails loudly rather than truncating). */
    def nonNeg(): Int = {
      val v = if (v5) buf.getLong() else buf.getInt().toLong
      require(v >= 0 && v <= Int.MaxValue, s"NON_NEG out of range: $v")
      v.toInt
    }
    def name(): String = {
      val n = nonNeg()
      val b = new Array[Byte](n)
      buf.get(b)
      // names are padded to a 4-byte boundary
      val pad = (4 - n % 4) % 4
      buf.position(buf.position() + pad)
      new String(b, "UTF-8")
    }
    def attrValues(t: Int, n: Int): Any = {
      val bp = typeBytes(t)
      val out: Any = t match {
        case NcChar =>
          val b = new Array[Byte](n); buf.get(b); new String(b, "UTF-8")
        case NcByte => (0 until n).map(_ => buf.get().toDouble)
        case NcUByte => (0 until n).map(_ => (buf.get() & 0xff).toDouble)
        case NcShort => (0 until n).map(_ => buf.getShort().toDouble)
        case NcUShort => (0 until n).map(_ => (buf.getShort() & 0xffff).toDouble)
        case NcInt => (0 until n).map(_ => buf.getInt().toDouble)
        case NcUInt => (0 until n).map(_ => (buf.getInt().toLong & 0xffffffffL).toDouble)
        case NcFloat => (0 until n).map(_ => buf.getFloat().toDouble)
        case NcDouble => (0 until n).map(_ => buf.getDouble().toDouble)
        case NcInt64 => (0 until n).map(_ => buf.getLong().toDouble)
        case NcUInt64 => (0 until n).map { _ =>
          val l = buf.getLong()
          if (l >= 0) l.toDouble else l.toDouble + 1.8446744073709552E19
        }
      }
      val pad = (4 - (n * bp) % 4) % 4
      buf.position(buf.position() + pad)
      out
    }
    def attrList(): Map[String, Any] = {
      val tag = int(); val n = nonNeg()
      require(tag == 0x0C || (tag == 0 && n == 0), s"bad attr list tag $tag")
      (0 until n).map { _ =>
        val nm = name(); val t = int(); val cnt = nonNeg()
        nm -> attrValues(t, cnt)
      }.toMap
    }
  }

  /** Parse the header (driver-side; reads the first bytes of the file via
    * the Hadoop FS, so s3a://…/file.nc works like a local path). */
  def readHeader(spark: SparkSession, path: String): Header = {
    val bytes = readRange(spark, path, 0L,
      math.min(fileLen(spark, path), 1 << 20).toInt) // headers are small
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN)
    val magic = new Array[Byte](3); buf.get(magic)
    if (!(magic.sameElements("CDF".getBytes))) {
      if (magic.sameElements(Array(0x89.toByte, 'H'.toByte, 'D'.toByte)))
        throw new IllegalArgumentException(
          s"$path is NetCDF-4 (HDF5-backed) — use NetCDF4Source or the " +
            "netcdf scan, which dispatches on the file magic")
      throw new IllegalArgumentException(s"$path is not a NetCDF file")
    }
    // 1 = CDF-1 (32-bit offsets), 2 = CDF-2 (64-bit offsets),
    // 5 = CDF-5 (64-bit data: every NON_NEG widens to INT64 — the PnetCDF
    // large-variable variant, real in parallel-written climate archives)
    val version = buf.get().toInt
    require(version == 1 || version == 2 || version == 5,
      s"unsupported CDF version $version")
    val v5 = version == 5
    val numRecs = {
      val n = if (v5) buf.getLong() else buf.getInt().toLong
      // STREAMING (-1) means "count the records from the file length" —
      // refused by name rather than guessed
      require(n >= 0 && n <= Int.MaxValue, s"unsupported numrecs $n (STREAMING?)")
      n.toInt
    }
    val r = new Reader(buf, v5)
    // dim_list
    val dtag = r.int(); val ndims = r.nonNeg()
    require(dtag == 0x0A || (dtag == 0 && ndims == 0), s"bad dim list tag $dtag")
    val dims = (0 until ndims).map(_ => Dim(r.name(), r.nonNeg()))
    val gatts = r.attrList()
    // var_list
    val vtag = r.int(); val nvars = r.nonNeg()
    require(vtag == 0x0B || (vtag == 0 && nvars == 0), s"bad var list tag $vtag")
    val vars = (0 until nvars).map { _ =>
      val nm = r.name()
      val nd = r.nonNeg()
      val ids = (0 until nd).map(_ => r.nonNeg())
      // per-var attrs surface on the Var: the CF packing trio
      // (scale_factor/add_offset/_FillValue) drives the decode — classic
      // archives (ERA5-style downloads) ship i2-packed
      val vattrs = r.attrList()
      val t = r.int()
      val vsize = if (v5) buf.getLong() else r.int().toLong & 0xffffffffL
      val begin = if (version == 1) r.int().toLong & 0xffffffffL else buf.getLong()
      Var(nm, ids, t, vsize, begin, vattrs)
    }
    Header(version, numRecs, dims, vars, gatts)
  }

  private def fileLen(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p).getLen
  }

  private def readRange(spark: SparkSession, path: String, off: Long, len: Int): Array[Byte] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    try {
      val out = new Array[Byte](len)
      in.readFully(off, out, 0, len)
      out
    } finally in.close()
  }

  private def decode(raw: Array[Byte], t: Int, n: Int): Array[Double] = {
    val buf = ByteBuffer.wrap(raw).order(ByteOrder.BIG_ENDIAN)
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      out(i) = t match {
        case NcByte => buf.get(i).toDouble
        case NcUByte => (buf.get(i) & 0xff).toDouble
        case NcShort => buf.getShort(i * 2).toDouble
        case NcUShort => (buf.getShort(i * 2) & 0xffff).toDouble
        case NcInt => buf.getInt(i * 4).toDouble
        case NcUInt => (buf.getInt(i * 4).toLong & 0xffffffffL).toDouble
        case NcFloat => buf.getFloat(i * 4).toDouble
        case NcDouble => buf.getDouble(i * 8)
        // i64 data surfaces as Double like every other branch (the engine's
        // value column): exact to 2^53, the same envelope as the zarr/HDF5
        // readers document
        case NcInt64 => buf.getLong(i * 8).toDouble
        case NcUInt64 =>
          val l = buf.getLong(i * 8)
          if (l >= 0) l.toDouble else l.toDouble + 1.8446744073709552E19
        case NcChar => (raw(i) & 0xff).toDouble
      }
      i += 1
    }
    out
  }

  /** Driver-side dense read of a small variable (coordinate axes, masks). */
  def readLocal(spark: SparkSession, path: String, varName: String): (Seq[Int], Array[Double]) = {
    val h = readHeader(spark, path)
    val v = h.vars.find(_.name == varName)
      .getOrElse(throw new IllegalArgumentException(s"no variable $varName in $path"))
    val shape = v.dimIds.map(i => if (h.dims(i).size == 0) h.numRecs else h.dims(i).size)
    val perRec = v.dimIds.drop(if (v.isRecord(h.dims)) 1 else 0)
      .map(h.dims(_).size.toLong).product.toInt
    val bp = typeBytes(v.ncType)
    if (!v.isRecord(h.dims)) {
      val n = shape.map(_.toLong).product.toInt
      (shape, decode(readRange(spark, path, v.begin, n * bp), v.ncType, n))
    } else {
      val out = new Array[Double](h.numRecs * perRec)
      for (rec <- 0 until h.numRecs) {
        val raw = readRange(spark, path, v.begin + rec * h.recSize, perRec * bp)
        System.arraycopy(decode(raw, v.ncType, perRec), 0, out, rec * perRec, perRec)
      }
      (shape, out)
    }
  }

  /** Classic NetCDF-3 (CDF-1) writer for a single 3-D variable with a
    * record time dimension — the sink dual of the `netcdf` scan (≙ the
    * reference's `to_netcdf`). Cells are gathered per record; missing cells
    * become NaN (packed: the raw fill code). With `pack` set the variable
    * lands as CF-packed big-endian NC_SHORT + the `scale_factor`/
    * `add_offset`/`_FillValue` attribute trio — the layout classic
    * archives (ERA5-style downloads) actually ship; `fillAttr` selects the
    * legacy `missing_value` spelling when a consumer needs it. Driver-side
    * file assembly (one header + sequential records): classic NetCDF is a
    * single contiguous file, so the write itself is inherently serial —
    * the per-record cell gathering is the distributed part. */
  def write3D(df: DataFrame, path: String, varName: String,
      shape: (Int, Int, Int), pack: Option[NetCDF4Source.Pack] = None,
      fillAttr: String = "_FillValue"): Unit = {
    val (nt, ny, nx) = shape
    import org.apache.spark.sql.functions._
    val spark = df.sparkSession
    import spark.implicits._
    val recs = df.select(col("t_idx").cast("int"), col("y").cast("int"),
      col("x").cast("int"), col("value").cast("double"))
      .as[(Int, Int, Int, Double)]
      .groupByKey(_._1)
      .mapGroups { (t, it) =>
        val arr = Array.fill(ny * nx)(Double.NaN)
        it.foreach { case (_, y, x, v) => arr(y * nx + x) = v }
        (t, arr)
      }
      .collect().toMap

    def nameBytes(s: String): Array[Byte] = {
      val b = s.getBytes("UTF-8")
      val pad = (4 - b.length % 4) % 4
      ByteBuffer.allocate(4 + b.length + pad).putInt(b.length).put(b).array()
    }
    val head = ByteBuffer.allocate(4096).order(ByteOrder.BIG_ENDIAN)
    head.put("CDF".getBytes).put(1.toByte)
    head.putInt(nt) // numrecs
    head.putInt(0x0A).putInt(3) // dim_list
    head.put(nameBytes("time")).putInt(0) // record dim
    head.put(nameBytes("y")).putInt(ny)
    head.put(nameBytes("x")).putInt(nx)
    head.putInt(0).putInt(0) // no global attrs (ABSENT)
    head.putInt(0x0B).putInt(1) // var_list
    head.put(nameBytes(varName))
    head.putInt(3).putInt(0).putInt(1).putInt(2) // 3 dims: time, y, x
    pack match {
      case None => head.putInt(0).putInt(0) // no var attrs
      case Some(pk) =>
        // the CF packing trio; doubles for scale/offset, NC_SHORT fill
        head.putInt(0x0C).putInt(3)
        head.put(nameBytes("scale_factor")).putInt(NcDouble).putInt(1)
          .putDouble(pk.scale)
        head.put(nameBytes("add_offset")).putInt(NcDouble).putInt(1)
          .putDouble(pk.offset)
        head.put(nameBytes(fillAttr)).putInt(NcShort).putInt(1)
          .putShort(pk.fillRaw).putShort(0) // 2-byte value + pad to ×4
    }
    head.putInt(if (pack.isDefined) NcShort else NcDouble)
    // record vsize rounds UP to a 4-byte boundary — EXCEPT the classic
    // special case this writer hits when packing: exactly ONE record
    // variable of type byte/char/short packs its record slabs TIGHTLY
    // (netCDF-C behavior; padding here would misalign its readers)
    val payload = ny * nx * (if (pack.isDefined) 2 else 8)
    val vsize = if (pack.isDefined) payload else (payload + 3) / 4 * 4
    head.putInt(vsize)
    val begin = head.position() + 4
    head.putInt(begin)
    val headerBytes = java.util.Arrays.copyOf(head.array(), head.position())

    val p = new org.apache.hadoop.fs.Path(path)
    val out = new java.io.BufferedOutputStream(
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).create(p, true))
    try {
      out.write(headerBytes)
      val empty = Array.fill(ny * nx)(Double.NaN)
      for (t <- 0 until nt) {
        val arr = recs.getOrElse(t, empty)
        val bb = ByteBuffer.allocate(vsize).order(ByteOrder.BIG_ENDIAN)
        pack match {
          case None => arr.foreach(bb.putDouble)
          case Some(pk) => arr.foreach { v =>
            // same quantization as NetCDF4Source.gridVar: NaN and
            // out-of-i16 values map to the fill code, never alias
            bb.putShort(
              if (v.isNaN) pk.fillRaw
              else {
                val q = math.rint((v - pk.offset) / pk.scale)
                if (q < Short.MinValue || q > Short.MaxValue) pk.fillRaw
                else q.toShort
              })
          }
        }
        out.write(bb.array())
      }
    } finally out.close()
  }
}
