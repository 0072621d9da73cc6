package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

/** NetCDF (classic AND HDF5-backed) as a first-class Spark DataSourceV2:
  * `spark.read.format("netcdf").option("var", "sst").load(path)` yields
  * `(t_idx INT, y INT, x INT, value DOUBLE)` for a 3-D (time, y, x)
  * variable, dispatching NC3/NC4 on the file magic — the engine's one
  * distributed NetCDF reader, its `xr.open_dataset` / `xr.open_mfdataset`
  * (marEx detect.py:409, user_guide.rst:82).
  * 2-D (time, cell) variables — the reference's UNSTRUCTURED ICON-mesh
  * layout (detect.py:18 `extreme_events(time, ncells)`) — read as
  * `(t_idx INT, cell INT, value DOUBLE)` with the same file/chunk pruning
  * on `t_idx`/`cell` and the same metadata-only aggregates; the rank is
  * probed from the first file and every file must agree.
  *
  * MULTI-FILE archives — the shape the reference documents
  * (`xr.open_mfdataset('sst_*.nc')`, user_guide.rst:82: one file per
  * year/month, thousands of files at 100 TB) — load the same way: `load()`
  * accepts a directory, a glob, or several paths, concatenated along time
  * in NAME order (the time-partitioned-archive convention) with a global
  * `t_idx`. NC3 and NC4 files may mix; each dispatches on its own magic.
  *
  *  - **filter pushdown**: `t_idx` range predicates prune whole FILES
  *    first (a "last 30 days" query against a 40-year daily archive opens
  *    two files' metadata), then whole NC4 chunks / NC3 record batches
  *    within surviving files — all at planning time, visible in
  *    `explain()`;
  *  - **column pruning**: only requested columns are materialized;
  *  - **one `InputPartition` per NC4 chunk** (or per NC3/contiguous record
  *    batch), so parallelism tracks the files' own storage grid on any
  *    Hadoop filesystem; fill-elided NC4 chunks synthesize the dataset's
  *    fill value, mirroring the zarr source's absent-chunk handling, and a
  *    compact-layout variable reads as one chunk from its header bytes;
  *  - NC3 and NC4 values pass through the CF `scale_factor`/`add_offset`/
  *    `_FillValue`/`missing_value` decode and `_Unsigned` (see
  *    [[NcDecodeMeta]]).
  */
class NetCdfDataSourceV2 extends TableProvider with DataSourceRegister {
  override def shortName(): String = "netcdf"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    if (options.containsKey("shape") || !options.containsKey("var"))
      NetCdfTableV2.fullSchema // write intent / var error surfaces in getTable
    else if (options.containsKey("rank"))
      NetCdfTableV2.schemaFor(options.getInt("rank", 3))
    else NetCdfTableV2.schemaFor(
      NetCdfTableV2.rankOf(NetCdfTableV2.rawInputs(options), options.get("var")))

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    // raw patterns, not a resolved snapshot: a STREAMING read re-expands
    // them every micro-batch as the archive grows
    val raw = NetCdfTableV2.rawInputs(properties)
    val varName = Option(properties.get("var")).getOrElse(
      throw new IllegalArgumentException(
        "netcdf source requires .option(\"var\", <variable name>)"))
    // a `shape` option marks WRITE intent: df.write.format("netcdf")
    if (properties.containsKey("shape"))
      new NetCdfWritableTableV2(raw.head, varName,
        NetCdfWriteSpec.parse(new CaseInsensitiveStringMap(properties)))
    else new NetCdfTableV2(raw, varName,
      Option(properties.get("rank")).map(_.toInt))
  }
}

/** Declared layout of a `df.write.format("netcdf")` archive sink, parsed
  * from write options: `shape` = "360:720:1440" (nt:ny:nx), `blockNt` =
  * slices per file (default nt → a single file), optional `timeChunk`,
  * `spatialChunks` ("cy:cx"), `deflate` level, and `prefix` for the
  * `<prefix>_<block>.nc` names. The insert delegates to the distributed
  * [[NetCDFSource.writeArchive]] (one file per block, assembled in
  * executor tasks) — the write dual of the multi-file read. */
private[sources] final case class NetCdfWriteSpec(nt: Int, ny: Int, nx: Int,
    blockNt: Int, timeChunk: Int, spatialChunks: Option[(Int, Int)],
    deflate: Int, prefix: String,
    pack: Option[NetCDF4Source.Pack] = None, compressor: String = "deflate") {
  require(nt > 0 && ny > 0 && nx > 0, s"shape must be positive (got $nt:$ny:$nx)")
  require(blockNt > 0, s"blockNt must be positive (got $blockNt)")
  // fail on the DRIVER at plan time, not in an executor task after the
  // full block shuffle has already run
  require(Set("deflate", "zstd", "szip").contains(compressor),
    s"unsupported netcdf write compressor '$compressor' (deflate, zstd, szip)")
  require(compressor != "szip" || pack.nonEmpty,
    "szip write needs <=32-bit samples — add .option(\"pack\", " +
      "\"scale[:offset[:fillRaw]]\") to store CF-packed i16")
}

private[sources] object NetCdfWriteSpec {
  def parse(options: CaseInsensitiveStringMap): NetCdfWriteSpec = {
    def ints(s: String, n: Int, what: String): Seq[Int] = {
      val parts = s.split(":").toSeq
      require(parts.length == n, s"malformed $what '$s' (want ${n} ints a:b…)")
      parts.map(_.trim.toInt)
    }
    val Seq(nt, ny, nx) = ints(options.get("shape"), 3, "shape")
    NetCdfWriteSpec(nt, ny, nx,
      blockNt = Option(options.get("blockNt")).map(_.toInt).getOrElse(nt),
      timeChunk = Option(options.get("timeChunk")).map(_.toInt).getOrElse(8),
      spatialChunks = Option(options.get("spatialChunks")).map { s =>
        val Seq(cy, cx) = ints(s, 2, "spatialChunks"); (cy, cx)
      },
      deflate = Option(options.get("deflate")).map(_.toInt).getOrElse(4),
      prefix = Option(options.get("prefix")).getOrElse("part"),
      // `pack` = "scale[:offset[:fillRaw]]" → CF-packed signed-i16 blocks
      pack = Option(options.get("pack")).map { s =>
        val parts = s.split(":").toSeq.map(_.trim)
        val parsed = try {
          require(parts.nonEmpty && parts.length <= 3 && parts.head.nonEmpty)
          NetCDF4Source.Pack(parts(0).toDouble,
            if (parts.length > 1) parts(1).toDouble else 0.0,
            if (parts.length > 2) parts(2).toShort else Short.MinValue)
        } catch {
          case _: IllegalArgumentException => throw new IllegalArgumentException(
            s"malformed pack '$s' (want scale[:offset[:fillRaw]], numeric)")
        }
        require(parsed.scale > 0 && parsed.scale.isFinite,
          s"pack scale ${parsed.scale} must be a positive finite number — " +
            "scale 0 would map every value to the fill")
        parsed
      },
      compressor = Option(options.get("compressor")).getOrElse("deflate"))
  }
}

private[sources] class NetCdfWritableTableV2(dir: String, varName: String,
    spec: NetCdfWriteSpec) extends Table
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  import org.apache.spark.sql.connector.write._

  override def name(): String = s"netcdf-write:$dir#$varName"
  override def schema(): StructType = NetCdfTableV2.fullSchema
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE).asJava

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var overwrite = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: org.apache.spark.sql.sources.InsertableRelation =
          (data: org.apache.spark.sql.DataFrame, _: Boolean) => {
            val conf = data.sparkSession.sparkContext.hadoopConfiguration
            val p = new org.apache.hadoop.fs.Path(dir)
            val fs = p.getFileSystem(conf)
            if (overwrite) fs.delete(p, true)
            val existing =
              if (overwrite || !fs.exists(p)) Seq.empty[String]
              else fs.listStatus(p).toSeq.filter(_.isFile).map(_.getPath.getName)
                .filterNot(n => n.startsWith(".") || n.startsWith("_")) // sidecars/markers
            // append onto a live archive = LAND new block files whose names
            // continue the prefix numbering (so they sort AFTER every
            // committed file — the multi-file reader's axis and the stream
            // source's name-keyed offset both stay monotone). The declared
            // shape is the NEW block set; rows carry block-set-local t_idx.
            val blockOffset =
              if (existing.isEmpty) 0
              else {
                // EXACTLY the writer's 5-digit shape: part_9.nc would match
                // a loose \d+ and then part_00010.nc sorts BETWEEN part_0
                // and part_1 — silently remapping the name-ordered axis
                val pat = s"${java.util.regex.Pattern.quote(spec.prefix)}_(\\d{5})\\.nc".r
                val idxs = existing.map {
                  case pat(i) => i.toInt
                  case other => throw new IllegalArgumentException(
                    s"netcdf archive $dir holds '$other', which does not match " +
                      s"the '${spec.prefix}_<NNNNN>.nc' (5-digit) naming this " +
                      "append would continue — appended files must sort after " +
                      "every existing one; pass the archive's own prefix")
                }
                val m = NetCdfTableV2.fileMeta(data.sparkSession,
                  s"$dir/${existing.max}", varName)._1
                require(m.rank == 3,
                  s"netcdf archive $dir holds ${m.rank}-D (time, cell) files — " +
                    "the archive append writes 3-D (time, y, x) blocks only")
                require(m.ny == spec.ny && m.nx == spec.nx,
                  s"netcdf archive $dir is ${m.ny}×${m.nx} spatially but the " +
                    s"append declares ${spec.ny}×${spec.nx}")
                idxs.max + 1
              }
            // an append whose rows ALL fall outside [0, nt) is a forgotten
            // local shift (t_idx must be block-set-local), not a request
            // for all-fill padding — an EMPTY frame still pads explicitly.
            // The happy path costs ONE limit(1) probe (an in-range row
            // short-circuits); only the failure path — no in-range rows —
            // pays a second probe to tell "empty frame, pad explicitly"
            // from "all rows out of range, forgotten local shift"
            if (blockOffset > 0) {
              val inRange = data.filter(
                org.apache.spark.sql.functions.col("t_idx").isNotNull &&
                  org.apache.spark.sql.functions.col("t_idx")
                    .between(0, spec.nt - 1))
                .select(org.apache.spark.sql.functions.lit(1))
                .limit(1).collect()
              if (inRange.isEmpty)
                require(data.select(org.apache.spark.sql.functions.lit(1))
                    .limit(1).collect().isEmpty,
                  s"append carries no rows with t_idx in [0, ${spec.nt}) — rows " +
                    "must use block-set-LOCAL indices (subtract the archive's " +
                    "current length), or pass an empty frame to pad fill blocks")
            }
            NetCDFSource.writeArchive(data, dir, varName,
              shape = (spec.nt, spec.ny, spec.nx), blockNt = spec.blockNt,
              timeChunk = spec.timeChunk, deflateLevel = spec.deflate,
              prefix = spec.prefix, spatialChunks = spec.spatialChunks,
              blockOffset = blockOffset, pack = spec.pack,
              compressor = spec.compressor)
            ()
          }
      }
    }
}

private[sources] object NetCdfTableV2 {
  val fullSchema: StructType = StructType(Seq(
    StructField("t_idx", IntegerType, nullable = false),
    StructField("y", IntegerType, nullable = false),
    StructField("x", IntegerType, nullable = false),
    StructField("value", DoubleType, nullable = false)))

  /** 2-D (time, cell) variables — the UNSTRUCTURED-grid layout (ICON
    * meshes, detect.py:18: `extreme_events(time, ncells)`): one flat cell
    * axis instead of (y, x). Internally cell rides the y machinery with
    * nx = 1, so file/chunk pruning, metadata aggregates, and streaming all
    * behave identically; only the schema and pushdown dim names change. */
  val cellSchema: StructType = StructType(Seq(
    StructField("t_idx", IntegerType, nullable = false),
    StructField("cell", IntegerType, nullable = false),
    StructField("value", DoubleType, nullable = false)))

  def schemaFor(rank: Int): StructType = if (rank == 2) cellSchema else fullSchema
  def dimsFor(rank: Int): Seq[String] =
    if (rank == 2) Seq("t_idx", "cell") else Seq("t_idx", "y", "x")

  /** Rank of the variable (2 = (time, cell), 3 = (time, y, x)), probed
    * from the FIRST file of the archive; every other file must agree
    * (validated per file in the scan). An archive with no files yet (a
    * stream watching an empty landing directory) defaults to 3 — pass
    * `.option("rank", "2")` to stream an unstructured archive from
    * before its first file. */
  def rankOf(raw: Seq[String], varName: String): Int =
    expand(raw, allowEmpty = true).headOption
      .map(p => fileMeta(org.apache.spark.sql.SparkSession.active, p, varName)._1.rank)
      .getOrElse(3)

  /** The variable's enum map when its datatype is class-8 enum (what
    * netCDF-4 writes for CF flag variables) — surfaced as value-column
    * metadata by [[NetCdfTableV2.schema]]. NC3 files (no enums) and
    * non-enum variables answer None. */
  def enumOf(raw: Seq[String], varName: String): Option[Hdf5.EnumType] =
    expand(raw, allowEmpty = true).headOption.flatMap { p =>
      val src: Hdf5.ByteSource = new NetCDF4Source.HadoopSource(
        org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration, p)
      if (!src.read(0L, 8).sameElements(Hdf5.Signature)) None
      else {
        val (rootOh, _) = Hdf5.readSuperblock(src)
        Hdf5.listDatasets(src, rootOh).find(_._1 == varName).flatMap {
          case (_, oh) => Hdf5.readDataset(src, varName, oh).dtype match {
            case e: Hdf5.EnumType => Some(e)
            case _ => None
          }
        }
      }
    }

  /** The raw load() inputs — pattern strings, NOT yet expanded, so
    * streaming reads can re-expand them as the archive grows. */
  def rawInputs(properties: java.util.Map[String, String]): Seq[String] =
    Option(properties.get("paths")) match {
      case Some(json) => // .load(a, b, …) arrives as a JSON string array
        org.json4s.jackson.JsonMethods.parse(json) match {
          case org.json4s.JArray(vs) => vs.collect { case org.json4s.JString(s) => s }
          case _ => throw new IllegalArgumentException(s"unparseable paths: $json")
        }
      case None => Option(properties.get("path")).map(Seq(_)).getOrElse(
        throw new IllegalArgumentException(
          "netcdf source requires a path: spark.read.format(\"netcdf\").load(files|dir|glob)"))
    }

  /** Expand inputs (single path, several paths, directories, globs) into
    * the concrete file list, NAME-sorted — the concatenation order of a
    * time-partitioned archive (`sst_1990.nc`, `sst_1991.nc`…).
    * @param allowEmpty streaming listings may legitimately be empty before
    *                   the first file lands; batch reads require matches.
    * @param minAgeMs   exclude files modified within the last `minAgeMs`
    *                   milliseconds — a streaming knob to skip files a
    *                   producer is still writing (0 = no age filter). */
  def expand(raw: Seq[String], allowEmpty: Boolean = false,
      minAgeMs: Long = 0L): Seq[String] = {
    val conf = org.apache.spark.sql.SparkSession.active
      .sparkContext.hadoopConfiguration
    val cutoff = if (minAgeMs > 0) System.currentTimeMillis() - minAgeMs else Long.MaxValue
    def settled(st: org.apache.hadoop.fs.FileStatus): Boolean =
      st.getModificationTime <= cutoff
    val out = raw.flatMap { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = hp.getFileSystem(conf)
      val matched = Option(fs.globStatus(hp)).map(_.toSeq).getOrElse(Seq.empty)
      require(allowEmpty || matched.nonEmpty, s"no files match $p")
      matched.flatMap { st =>
        if (st.isDirectory)
          fs.listStatus(st.getPath).toSeq
            .filter(f => f.isFile && !f.getPath.getName.startsWith(".")
              && !f.getPath.getName.startsWith("_")
              && !f.getPath.getName.endsWith(".tmp") && settled(f))
            .map(_.getPath.toString)
        else if (st.getPath.getName.endsWith(".tmp") || !settled(st)) Seq.empty
        else Seq(st.getPath.toString)
      }
    }
    require(allowEmpty || out.nonEmpty, s"no files under ${raw.mkString(", ")}")
    out.distinct.sortBy(p => new org.apache.hadoop.fs.Path(p).getName)
  }

  /** Header metadata + (chunked NC4) the parsed Dataset for a deferred
    * chunk-index walk — shared by the batch scan and the streaming source. */
  def fileMeta(spark: org.apache.spark.sql.SparkSession, path: String,
      varName: String): (NcDecodeMeta, Option[Hdf5.Dataset]) = {
    def driverSource: Hdf5.ByteSource =
      new NetCDF4Source.HadoopSource(spark.sparkContext.hadoopConfiguration, path)
    val isH5 = driverSource.read(0L, 8).sameElements(Hdf5.Signature)
    if (isH5) {
      val src = driverSource
      val (rootOh, _) = Hdf5.readSuperblock(src)
      val oh = Hdf5.listDatasets(src, rootOh).find(_._1 == varName)
        .getOrElse(throw new IllegalArgumentException(s"no variable $varName in $path"))._2
      val v = Hdf5.readDataset(src, varName, oh)
      val attrs = Hdf5.attributes(src, oh)
      require(v.dims.length == 3 || v.dims.length == 2,
        s"$varName is ${v.dims.length}-D in $path — the netcdf table read " +
          "supports 3-D (time, y, x) and 2-D (time, cell) variables")
      val rank = v.dims.length
      val ds = v.dims.map(_.toInt)
      val (nt, ny, nx) = if (rank == 3) (ds(0), ds(1), ds(2)) else (ds(0), ds(1), 1)
      def num(k: String): Option[Double] = attrs.get(k).collect {
        case d: Double => d
        case s: Seq[_] if s.nonEmpty => s.head.asInstanceOf[Double]
      }
      val rawType = v.dtype match {
        // CF flag variables: enum cells decode as their fixed-point base;
        // the name map rides the table schema's value-column metadata
        case n: Hdf5.NumType => n
        case e: Hdf5.EnumType => e.base
        case o => throw new IllegalArgumentException(
          s"$varName has non-numeric datatype $o — the netcdf DSv2 table read " +
            "is numeric; use NetCDF4Source.readLocalStrings/readCompoundTable")
      }
      // `_Unsigned = "true"`: signed-stored data decodes as unsigned (the
      // nccopy-converted-archive convention xarray honors); the fill codes
      // reinterpret under the same bias or they would never match
      val ntype = NetCDF4Source.unsignedOf(rawType, attrs)
      val unsign = NetCDF4Source.unsign(
        NetCDF4Source.unsignedBias(rawType, ntype)) _
      val base = NcDecodeMeta(nt, ny, nx, sliceBase = -1L, sliceStride = 0L,
        dtype = ntype, chunkDims = Seq.empty, filters = v.filters,
        scale = num("scale_factor").getOrElse(1.0),
        offset = num("add_offset").getOrElse(0.0),
        // missing_value is the legacy fill spelling xarray also honors;
        // BOTH mask when present with different codes. The ELIDED-chunk
        // fill biases too, or an unallocated chunk of an _Unsigned
        // variable would surface the signed code as data instead of
        // masking like its stored siblings
        fillRaws = Seq(num("_FillValue"), num("missing_value"))
          .flatten.map(unsign).distinct,
        elidedFill = v.fillValue.map(unsign).getOrElse(Double.NaN), rank = rank)
      // 2-D chunk dims pad to (ct, cc, 1) so the planner's 3-axis walk is
      // rank-agnostic (stored chunk OFFSETS pad the same way at lookup)
      def pad(cds: Seq[Int]): Seq[Int] = if (rank == 2) cds :+ 1 else cds
      v.layout match {
        case Hdf5.Chunked(_, cds, _) => (base.copy(chunkDims = pad(cds)), Some(v))
        // a compact variable's bytes sit in its header (at most 64 KB): one
        // chunk spanning the whole variable, decoded from those bytes
        case Hdf5.Compact(_) => (base.copy(chunkDims = pad(ds)), Some(v))
        case Hdf5.Contiguous(addr, _) =>
          (base.copy(sliceBase = addr,
            sliceStride = ny.toLong * nx * v.dtype.size), None)
      }
    } else {
      val h = NetCDF3Source.readHeader(spark, path)
      val v = h.vars.find(_.name == varName)
        .getOrElse(throw new IllegalArgumentException(s"no variable $varName in $path"))
      require(v.dimIds.length == 3 || v.dimIds.length == 2,
        s"$varName is ${v.dimIds.length}-D in $path — the netcdf table read " +
          "supports 3-D (time, y, x) and 2-D (time, cell) variables")
      val rank = v.dimIds.length
      val nt = if (v.isRecord(h.dims)) h.numRecs else h.dims(v.dimIds.head).size
      val ny = h.dims(v.dimIds(1)).size
      val nx = if (rank == 3) h.dims(v.dimIds(2)).size else 1
      // NC3 types map onto the HDF5 numeric model, big-endian;
      // `_Unsigned = "true"` flips signed-stored data to unsigned (the
      // classic-format convention — NC3 has no unsigned types)
      val dtype0 = v.ncType match {
        case 1 => Hdf5.NumType("int", 1, littleEndian = false)
        case 2 => Hdf5.NumType("uint", 1, littleEndian = false)
        case 3 => Hdf5.NumType("int", 2, littleEndian = false)
        case 4 => Hdf5.NumType("int", 4, littleEndian = false)
        case 5 => Hdf5.NumType("float", 4, littleEndian = false)
        case 6 => Hdf5.NumType("float", 8, littleEndian = false)
        // CDF-5 additions (64-bit-data classic variant)
        case 7 => Hdf5.NumType("uint", 1, littleEndian = false)
        case 8 => Hdf5.NumType("uint", 2, littleEndian = false)
        case 9 => Hdf5.NumType("uint", 4, littleEndian = false)
        case 10 => Hdf5.NumType("int", 8, littleEndian = false)
        case 11 => Hdf5.NumType("uint", 8, littleEndian = false)
        case t => throw new IllegalArgumentException(s"unknown nc_type $t")
      }
      val dtype = NetCDF4Source.unsignedOf(dtype0, v.attrs)
      val unsign3 = NetCDF4Source.unsign(
        NetCDF4Source.unsignedBias(dtype0, dtype)) _
      val sliceBytes = ny.toLong * nx * dtype.size
      val stride = if (v.isRecord(h.dims)) h.recSize else sliceBytes
      // classic files carry the SAME CF packing trio as NC4 — ERA5-style
      // downloads ship i2-packed; ignoring scale_factor would silently
      // read raw codes as physical values. `missing_value` is the legacy
      // fill spelling xarray also honors.
      (NcDecodeMeta(nt, ny, nx, sliceBase = v.begin, sliceStride = stride,
        dtype = dtype, chunkDims = Seq.empty, filters = Seq.empty,
        scale = v.numAttr("scale_factor").getOrElse(1.0),
        offset = v.numAttr("add_offset").getOrElse(0.0),
        fillRaws = Seq(v.numAttr("_FillValue"),
          v.numAttr("missing_value")).flatten.map(unsign3).distinct,
        elidedFill = Double.NaN,
        rank = rank), None)
    }
  }

  /** Every partition of one file's FULL local time range at `tOff`, plus
    * the time length (`nt`) of the SAME header parse — streaming callers
    * must advance the global axis by exactly what was planned, even if the
    * file is still growing between two parses. */
  def partitionsOf(spark: org.apache.spark.sql.SparkSession, path: String,
      varName: String, tOff: Int, expectRank: Int = -1): (Seq[InputPartition], Int) = {
    val (m, dsOpt) = fileMeta(spark, path, varName)
    require(expectRank < 0 || m.rank == expectRank,
      s"$path holds a ${m.rank}-D '$varName' in a ${expectRank}-D stream — an " +
        "archive cannot mix gridded (time,y,x) and unstructured (time,cell) files")
    (filePartitions(spark, path, m, dsOpt, tOff, 0, m.nt - 1,
      Array.fill(3)(Int.MinValue), Array.fill(3)(Int.MaxValue)), m.nt)
  }

  /** The partitions of one file for the LOCAL time window [lt0, lt1], at
    * archive offset `tOff`: one per NC4 chunk whose origin intersects the
    * window and the pushed y/x ranges (`lo`/`hi` dims 1–2) — spatial
    * chunks outside the window never plan, the regional-query dual of the
    * t-range prune — or, for NC3/contiguous variables, the window in
    * batches of about 1/256 of its records. Fill-elided chunks plan with
    * addr = -1; a compact variable plans as one chunk carrying its header
    * bytes. */
  def filePartitions(spark: org.apache.spark.sql.SparkSession, path: String,
      m: NcDecodeMeta, dsOpt: Option[Hdf5.Dataset], tOff: Int, lt0: Int, lt1: Int,
      lo: Array[Int], hi: Array[Int]): Seq[InputPartition] =
    if (lt1 < lt0) Seq.empty
    else dsOpt match {
      case Some(ds) =>
        val (stored, compact) = ds.layout match {
          case Hdf5.Compact(data) => (Map.empty[Seq[Int], Hdf5.ChunkRef], Some(data))
          case _ =>
            val src = new NetCDF4Source.HadoopSource(
              spark.sparkContext.hadoopConfiguration, path)
            // rank-2 offsets pad like chunkDims
            (Hdf5.listChunks(src, ds).map(c => c.offsets.map(_.toInt).padTo(3, 0) -> c)
              .toMap, None)
        }
        val Seq(ct, cy, cx) = m.chunkDims
        for {
          ot <- 0 until m.nt by ct
          if ot <= lt1 && ot + ct - 1 >= lt0
          oy <- 0 until m.ny by cy
          if oy.toLong <= hi(1) && oy.toLong + cy - 1 >= lo(1)
          ox <- 0 until m.nx by cx
          if ox.toLong <= hi(2) && ox.toLong + cx - 1 >= lo(2)
        } yield stored.get(Seq(ot, oy, ox)) match {
          case Some(c) => NcChunkPartition(path, m, tOff, lt0, lt1,
            ot, oy, ox, c.addr, c.size, c.filterMask)
          case None => NcChunkPartition(path, m, tOff, lt0, lt1,
            ot, oy, ox, -1L, 0, 0, compact)
        }
      case None =>
        // batch records so huge time axes don't explode the partition count
        val per = math.max(1, (lt1 - lt0 + 1) / 256)
        (lt0 to lt1 by per).map(s =>
          NcRecordPartition(path, m, tOff, s, math.min(s + per - 1, lt1)))
    }
}

private[sources] class NetCdfTableV2(rawInputs: Seq[String], varName: String,
    rankOverride: Option[Int] = None)
    extends Table with SupportsRead {
  private lazy val rank: Int =
    rankOverride.getOrElse(NetCdfTableV2.rankOf(rawInputs, varName))
  override def name(): String = s"netcdf:${rawInputs.head}${
    if (rawInputs.size > 1) s" (+${rawInputs.size - 1})" else ""}#$varName"
  // memoized like `rank`: Spark calls Table.schema() repeatedly during
  // planning, and the enum probe is a driver-side metadata walk
  private lazy val enumInfo: Option[Hdf5.EnumType] =
    NetCdfTableV2.enumOf(rawInputs, varName)
  override def schema(): StructType = {
    val base = NetCdfTableV2.schemaFor(rank)
    // enum variables carry their name map on the value column —
    // df.schema("value").metadata resolves codes to CF flag labels
    enumInfo.fold(base) { e =>
      StructType(base.map(f =>
        if (f.name == "value") f.copy(metadata = NetCDF4Source.enumMetadata(e))
        else f))
    }
  }
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new NetCdfScanBuilder(rawInputs, varName, options.getLong("fileMinAgeMs", 0L), rank)
}

private[sources] class NetCdfScanBuilder(rawInputs: Seq[String], varName: String,
    minAgeMs: Long, rank: Int = 3)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates {
  import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar}

  // per-dimension pushed ranges: d0 = t_idx (prunes whole FILES, then
  // chunks), d1 = y — or `cell` on an unstructured 2-D variable — and
  // d2 = x (prune spatial chunks within each file — the reference's
  // regional lat/lon-window mode, track.py:5471)
  private val dims = NetCdfTableV2.dimsFor(rank)
  private val lo = Array.fill(3)(Int.MinValue)
  private val hi = Array.fill(3)(Int.MaxValue)
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = NetCdfTableV2.schemaFor(rank)

  private def dimOf(attr: String): Int = dims.indexOf(attr)

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val accepted = filters.filter {
      case EqualTo(a, v: Int) if dimOf(a) >= 0 =>
        val d = dimOf(a); lo(d) = math.max(lo(d), v); hi(d) = math.min(hi(d), v); true
      case GreaterThan(a, v: Int) if dimOf(a) >= 0 && v != Int.MaxValue =>
        val d = dimOf(a); lo(d) = math.max(lo(d), v + 1); true
      case GreaterThanOrEqual(a, v: Int) if dimOf(a) >= 0 =>
        val d = dimOf(a); lo(d) = math.max(lo(d), v); true
      case LessThan(a, v: Int) if dimOf(a) >= 0 && v != Int.MinValue =>
        val d = dimOf(a); hi(d) = math.min(hi(d), v - 1); true
      case LessThanOrEqual(a, v: Int) if dimOf(a) >= 0 =>
        val d = dimOf(a); hi(d) = math.min(hi(d), v); true
      case _ => false
    }
    pushed = accepted
    // dim ranges are applied exactly by the readers (file/chunk prune at
    // planning, per-cell bounds at emission); everything else stays a
    // post-scan filter
    filters.filterNot(accepted.contains)
  }

  override def pushedFilters(): Array[Filter] = pushed

  private var pushedAgg: Option[(Seq[Int], Seq[MetaAgg])] = None

  /** (nt, ny, nx) per archive file, header-parsed ONCE per builder:
    * `supportCompletePushDown`, `pushAggregation` and the scan build all
    * need the same walk, and Spark calls them in sequence — without the
    * memo a grouped metadata aggregate over a multi-thousand-file archive
    * would open and parse every header three times at planning. Safe to
    * cache because file geometry is filter-independent (the lo/hi clamp
    * below stays live). */
  private lazy val fileGeometries: Seq[(Int, Int, Int)] = {
    val spark = org.apache.spark.sql.SparkSession.active
    NetCdfTableV2.expand(rawInputs).map { p =>
      val m = NetCdfTableV2.fileMeta(spark, p, varName)._1
      (m.nt, m.ny, m.nx)
    }
  }

  /** Per-file archive-GLOBAL clamped bounds (t shifted by the file's
    * offset onto the concatenated axis); empty files yield hi < lo. */
  private def fileBlocks(): Seq[(Array[Int], Array[Int])] = {
    var off = 0L
    fileGeometries.map { case (nt, ny, nx) =>
      val t0 = math.max(lo(0).toLong, off)
      val t1 = math.min(hi(0).toLong, off + nt - 1L)
      val block = (
        Array(t0.toInt, math.max(lo(1), 0), math.max(lo(2), 0)),
        Array(if (t1 < t0) (t0 - 1).toInt else t1.toInt,
          math.min(hi(1).toLong, ny - 1L).toInt,
          math.min(hi(2).toLong, nx - 1L).toInt))
      off += nt
      block
    }
  }

  /** `count(*)` / `min,max(<dim>)` — ungrouped or GROUPED BY dim columns —
    * over dense grids are header-metadata facts: the count sums the
    * clamped (t × y × x) range product per kept file (per group: over the
    * non-group dims), and a dim's extremes come from the clamped bounds
    * over CONTRIBUTING files — no data chunk is ever opened. A grouped
    * push is declined past [[MetaAgg.MaxGroups]] driver-side rows; the
    * header walk it needs to decide runs at most once per plan. */
  private def metaAggsOf(agg: Aggregation): Option[(Seq[Int], Seq[MetaAgg])] =
    MetaAgg.parseGrouped(agg, dims).filter { case (groups, _) =>
      MetadataAggScan.withinBudget(groups, fileBlocks())
    }

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    metaAggsOf(agg).isDefined

  override def pushAggregation(agg: Aggregation): Boolean = {
    pushedAgg = metaAggsOf(agg)
    pushedAgg.isDefined
  }

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    pushedAgg match {
      case Some((groups, aggs)) =>
        new MetadataAggScan(s"netcdf:${rawInputs.head}#$varName",
          groups.map(dims.padTo(3, "x")), aggs,
          () => MetadataAggScan.aggRows(groups, aggs, fileBlocks()))
      case None =>
        new NetCdfScan(rawInputs, varName, lo.clone(), hi.clone(), required,
          minAgeMs, rank)
    }
}

/** One stored (or fill-elided: addr = -1) NC4 chunk of one file. Local
  * time indexes; `tOff` shifts them onto the archive-global axis.
  * `compact` holds a compact-layout variable's header bytes (its one
  * chunk spans the variable). */
private[sources] case class NcChunkPartition(path: String, m: NcDecodeMeta,
    tOff: Int, lt0: Int, lt1: Int, orgT: Int, orgY: Int, orgX: Int,
    addr: Long, size: Int, filterMask: Int,
    compact: Option[Array[Byte]] = None) extends InputPartition

/** An inclusive LOCAL record/time-slice batch (NC3 or NC4-contiguous). */
private[sources] case class NcRecordPartition(path: String, m: NcDecodeMeta,
    tOff: Int, t0: Int, t1: Int) extends InputPartition

/** Serializable per-file decode context. */
private[sources] case class NcDecodeMeta(
    nt: Int, ny: Int, nx: Int,
    // record-slice path: base address + per-record byte stride
    sliceBase: Long, sliceStride: Long,
    dtype: Hdf5.NumType,
    // NC4 chunked path
    chunkDims: Seq[Int], filters: Seq[Hdf5.Filter],
    // CF decode (identity: 1, 0, None) + dataset fill for elided chunks
    // BOTH fill spellings mask when a legacy archive carries them with
    // different codes (_FillValue + missing_value), matching xarray
    scale: Double, offset: Double, fillRaws: Seq[Double], elidedFill: Double,
    // stored rank: 3 = (time, y, x), 2 = (time, cell) normalized to nx = 1
    rank: Int = 3)

private[sources] class NetCdfScan(rawInputs: Seq[String], varName: String,
    lo: Array[Int], hi: Array[Int], required: StructType, minAgeMs: Long = 0L,
    rank: Int = 3)
    extends Scan with Batch with SupportsReportStatistics {

  private def tLo = lo(0); private def tHi = hi(0)

  private lazy val paths: Seq[String] = NetCdfTableV2.expand(rawInputs)

  override def readSchema(): StructType = required

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new NetCdfMicroBatchStream(rawInputs, varName, required, minAgeMs, rank)

  /** Exact post-prune cell count (grids are dense), so Catalyst can pick
    * broadcast joins for small time/space windows over huge archives. */
  override def estimateStatistics(): Statistics = {
    val rows = keptFiles.map { case (_, m, _, off) =>
      val lt0 = math.max(tLo.toLong - off, 0L)
      val lt1 = math.min(tHi.toLong - off, m.nt - 1L)
      val yN = math.max(0L, math.min(hi(1).toLong, m.ny - 1L) - math.max(lo(1).toLong, 0L) + 1)
      val xN = math.max(0L, math.min(hi(2).toLong, m.nx - 1L) - math.max(lo(2).toLong, 0L) + 1)
      math.max(0L, lt1 - lt0 + 1) * yN * xN
    }.sum
    val bytes = math.max(1L, rows * math.max(required.defaultSize, 1))
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong = java.util.OptionalLong.of(rows)
    }
  }

  private def spark = org.apache.spark.sql.SparkSession.active

  private def fileMeta(path: String): (NcDecodeMeta, Option[Hdf5.Dataset]) =
    NetCdfTableV2.fileMeta(spark, path, varName)

  /** Per-file metadata + its global time offset, pruned to the pushed
    * range: a file whose [tOff, tOff+nt) misses [tLo, tHi] contributes no
    * chunks and, past the first survivor gap, is never even opened for
    * chunk listing (metadata headers ARE read once to learn nt — KBs per
    * file, the driver-side cost any concat-along-time read pays).
    *
    * Lazy val: planInputPartitions() and createReaderFactory() both need
    * it; the NC4 branch walks chunk indexes — pay that once per scan. */
  private lazy val fileMetas: Seq[(String, NcDecodeMeta, Option[Hdf5.Dataset], Int)] = {
    var off = 0
    paths.map { p =>
      // nt must be known to place subsequent files on the global axis, so
      // headers are always parsed (KBs per file); the CHUNK INDEX walk
      // (the expensive part of huge NC4 files) is deferred until the file
      // survives the range prune in planInputPartitions.
      val (m, ds) = fileMeta(p)
      require(m.rank == rank,
        s"$p holds a ${m.rank}-D '$varName' in a ${rank}-D archive — an " +
          "archive cannot mix gridded (time,y,x) and unstructured (time,cell) files")
      val r = (p, m, ds, off)
      off += m.nt
      r
    }
  }

  private def keptFiles: Seq[(String, NcDecodeMeta, Option[Hdf5.Dataset], Int)] =
    fileMetas.filter { case (_, m, _, off) =>
      off.toLong <= tHi && off.toLong + m.nt - 1 >= tLo }

  override def description(): String = {
    val dimNames = NetCdfTableV2.dimsFor(rank).padTo(3, "x")
    val ranges = (0 until 3).collect {
      case d if lo(d) != Int.MinValue || hi(d) != Int.MaxValue =>
        s"${dimNames(d)} in [${lo(d)}, ${hi(d)}]"
    }
    s"NetCdfScan(paths=${paths.size}, files_kept=${keptFiles.size}, " +
      s"var=$varName, pushed=${if (ranges.isEmpty) "none" else ranges.mkString(", ")}, " +
      s"columns=${required.fieldNames.mkString(",")})"
  }

  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    // decoded bytes of the largest planned unit across kept files — the
    // chunk grid (NC4) or the ~256-record batch (NC3/contiguous)
    val bytesPerChunk = keptFiles.map { case (_, m, dsOpt, _) =>
      val cells: Long = dsOpt match {
        case Some(_) => m.chunkDims.map(_.toLong).product
        case None => math.max(1L, m.nt / 256L) * m.ny * m.nx
      }
      cells * m.dtype.size
    }.foldLeft(1L)(math.max)
    val parts: Array[InputPartition] = keptFiles.flatMap { case (path, m, dsOpt, off) =>
      NetCdfTableV2.filePartitions(spark, path, m, dsOpt, off,
        math.max(tLo.toLong - off, 0L).toInt, // Long: tLo may be MinValue
        math.min(tHi.toLong - off, m.nt - 1L).toInt, lo, hi)
    }.toArray
    ChunkBundles.bundle(parts, bytesPerChunk)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new NetCdfReaderFactory(required.fieldNames,
      new SerializableConfiguration(spark.sparkContext.hadoopConfiguration),
      lo(1), hi(1), lo(2), hi(2))
}

private[sources] class NetCdfReaderFactory(columns: Array[String],
    conf: SerializableConfiguration,
    yLo: Int = Int.MinValue, yHi: Int = Int.MaxValue,
    xLo: Int = Int.MinValue, xHi: Int = Int.MaxValue)
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    partition match {
      case BundledPartition(ps) => return ChunkBundles.reader(ps, createReader)
      case _ =>
    }
    def cfOf(m: NcDecodeMeta): Double => Double =
      if (m.scale == 1.0 && m.offset == 0.0 && m.fillRaws.isEmpty) identity
      else (raw: Double) =>
        if (m.fillRaws.exists(f => f == raw || (f.isNaN && raw.isNaN))) Double.NaN
        else raw * m.scale + m.offset

    def open(path: String): org.apache.hadoop.fs.FSDataInputStream = {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(conf.value).open(p)
    }

    partition match {
      case c: NcChunkPartition =>
        val m = c.m
        val n = m.chunkDims.map(_.toLong).product.toInt
        val vals: Array[Double] =
          if (c.compact.isDefined) Hdf5.decode(c.compact.get, m.dtype, n)
          else if (c.addr < 0) Array.fill(n)(m.elidedFill)
          else {
            val in = open(c.path)
            val raw = try {
              val b = new Array[Byte](c.size); in.readFully(c.addr, b, 0, c.size); b
            } finally in.close()
            Hdf5.decode(Hdf5.defilter(raw, m.filters, c.filterMask,
              n * m.dtype.size), m.dtype, n)
          }
        val Seq(ct, cy, cx) = m.chunkDims
        val y1 = math.min(yHi.toLong, m.ny - 1L); val x1 = math.min(xHi.toLong, m.nx - 1L)
        new NetCdfRowReader(columns, cfOf(m)) {
          private var i = -1
          override def next(): Boolean = {
            while ({ i += 1; i < n }) {
              val lt = c.orgT + i / (cy * cx)
              yy = c.orgY + (i / cx) % cy
              xx = c.orgX + i % cx
              if (lt < m.nt && yy >= yLo && yy <= y1 && xx >= xLo && xx <= x1 &&
                  lt >= c.lt0 && lt <= c.lt1) {
                t = c.tOff + lt
                v = vals(i)
                return true
              }
            }
            false
          }
        }
      case r: NcRecordPartition =>
        val m = r.m
        val perSlice = m.ny * m.nx
        val y1 = math.min(yHi.toLong, m.ny - 1L); val x1 = math.min(xHi.toLong, m.nx - 1L)
        new NetCdfRowReader(columns, cfOf(m)) {
          private var slice: Array[Double] = _
          private var tCur = r.t0 - 1
          private var i = perSlice
          override def next(): Boolean = {
            while (true) {
              while (i + 1 < perSlice) {
                i += 1
                yy = i / m.nx; xx = i % m.nx
                if (yy >= yLo && yy <= y1 && xx >= xLo && xx <= x1) {
                  t = r.tOff + tCur; v = slice(i)
                  return true
                }
              }
              tCur += 1
              if (tCur > r.t1) return false
              val in = open(r.path)
              val raw = try {
                val len = perSlice * m.dtype.size
                val b = new Array[Byte](len)
                in.readFully(m.sliceBase + tCur * m.sliceStride, b, 0, len)
                b
              } finally in.close()
              slice = Hdf5.decode(raw, m.dtype, perSlice)
              i = -1
            }
            false
          }
        }
    }
  }
}

/** Offset = how many NAME-SORTED files of the archive are committed, PLUS
  * the NAME of the last committed file — the name pins the prefix
  * membership, so a backfilled file that sorts before a committed one is
  * detected (and failed loudly) instead of silently remapping the global
  * time axis. `last` is absent/empty at offset 0 and in pre-upgrade
  * checkpoints (which then get count-only protection). */
private[sources] case class NcFileOffset(n: Int, last: String)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = {
    import org.json4s.JsonDSL._
    org.json4s.jackson.JsonMethods.compact(
      ("files" -> n) ~ ("last" -> last))
  }
}

private[sources] object NcFileOffset {
  def parse(json: String): NcFileOffset = {
    val j = org.json4s.jackson.JsonMethods.parse(json)
    val n = (j \ "files") match {
      case org.json4s.JInt(v) => v.toInt
      case _ => throw new IllegalArgumentException(s"malformed netcdf stream offset: $json")
    }
    val last = (j \ "last") match {
      case org.json4s.JString(s) => s
      case _ => "" // pre-upgrade checkpoint: count-only offset
    }
    NcFileOffset(n, last)
  }
}

/** `spark.readStream.format("netcdf")` over a GROWING archive directory:
  * each micro-batch re-expands the load() patterns and emits the files
  * beyond the committed offset — the streaming twin of the multi-file
  * batch read, with the same global `t_idx` axis, so the incremental /
  * streaming trackers can consume a live satellite-archive directory
  * directly. New files must sort AFTER committed ones (the
  * `sst_YYYYMM.nc` naming convention time-partitioned archives already
  * follow); the offset carries the last committed file NAME, so an
  * archive that shrinks, reorders, or backfills below the committed
  * prefix FAILS at planning time instead of silently remapping committed
  * data. Files still being written are best skipped at the listing:
  * `.tmp`-suffixed names always are, and `.option("fileMinAgeMs", ms)`
  * additionally holds back files modified within the last `ms`. */
private[sources] class NetCdfMicroBatchStream(rawInputs: Seq[String],
    varName: String, required: StructType, minAgeMs: Long, rank: Int = 3)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset

  private def spark = org.apache.spark.sql.SparkSession.active

  private def files(): Seq[String] =
    NetCdfTableV2.expand(rawInputs, allowEmpty = true, minAgeMs = minAgeMs)

  // re-listing the archive between planInputPartitions and latestOffset
  // must see the same snapshot — cache per planning cycle
  @volatile private var snapshot: Seq[String] = Seq.empty

  // committed files are immutable, so their time-axis lengths are
  // memoized — a decades-long archive (10⁵ files) pays one header parse
  // per file per stream lifetime, not per micro-batch. Entries are added
  // only for files a batch has actually PLANNED (the delivered length),
  // never for merely-listed tail files that may still be growing.
  private val ntCache = new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  private def ntOf(path: String): Int =
    ntCache.computeIfAbsent(path,
      p => NetCdfTableV2.fileMeta(spark, p, varName)._1.nt)

  private def nameOf(p: String): String = new org.apache.hadoop.fs.Path(p).getName

  override def initialOffset(): Offset = NcFileOffset(0, "")

  override def latestOffset(): Offset = {
    snapshot = files()
    NcFileOffset(snapshot.size, snapshot.lastOption.map(nameOf).getOrElse(""))
  }

  override def deserializeOffset(json: String): Offset = NcFileOffset.parse(json)

  /** The first `n` files of `fs` must end exactly at `o.last` — anything
    * else means the name order around the committed prefix changed. */
  private def checkPrefix(fs: Seq[String], o: NcFileOffset): Unit =
    if (o.n > 0 && o.last.nonEmpty) {
      val at = nameOf(fs(o.n - 1))
      require(at == o.last,
        s"netcdf stream: archive reordered — the committed prefix (${o.n} files) " +
          s"ended at '${o.last}' but file #${o.n} is now '$at'. A backfilled file " +
          "sorting at or before a committed one cannot be merged into the global " +
          "time axis; archives must append with monotonically increasing names")
    }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val so = start.asInstanceOf[NcFileOffset]
    val eo = end.asInstanceOf[NcFileOffset]
    val fs = if (snapshot.size >= eo.n) snapshot else files()
    require(fs.size >= eo.n,
      s"netcdf stream: archive shrank below the committed offset (${eo.n} > ${fs.size})")
    checkPrefix(fs, so)
    checkPrefix(fs, eo)
    // global t offsets accumulate over the sorted PREFIX — committed
    // files' time lengths come from the memoized header parse; files in
    // THIS batch parse fresh, and the axis advances by the same parse
    // that produced their partitions (then memoized as-delivered)
    var off = 0
    val parts = Seq.newBuilder[InputPartition]
    fs.take(eo.n).zipWithIndex.foreach { case (p, i) =>
      if (i >= so.n) {
        val (ps, nt) = NetCdfTableV2.partitionsOf(spark, p, varName, off, rank)
        parts ++= ps
        ntCache.put(p, nt)
        off += nt
      } else off += ntOf(p)
    }
    parts.result().toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new NetCdfReaderFactory(required.fieldNames,
      new SerializableConfiguration(spark.sparkContext.hadoopConfiguration))

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Shared column-pruned row emitter. Column routing is resolved to ordinal
  * codes ONCE at construction — get() runs once per emitted cell (~10⁹ rows
  * at production reads), so the hot path allocates only the row array, no
  * Seq wrappers or per-row string matches. */
private[sources] abstract class NetCdfRowReader(columns: Array[String],
    cf: Double => Double) extends PartitionReader[InternalRow] {
  protected var t = 0; protected var yy = 0; protected var xx = 0
  protected var v = 0.0
  private val codes: Array[Int] = columns.map {
    case "t_idx" => 0
    case "y" => 1
    case "cell" => 1 // unstructured: the flat cell axis rides the y machinery
    case "x" => 2
    case "value" => 3
  }
  override def get(): InternalRow = {
    val out = new Array[Any](codes.length)
    var i = 0
    while (i < codes.length) {
      out(i) = codes(i) match {
        case 0 => t
        case 1 => yy
        case 2 => xx
        case _ => cf(v)
      }
      i += 1
    }
    InternalRow.fromSeq(scala.collection.immutable.ArraySeq.unsafeWrapArray(out))
  }
  override def close(): Unit = ()
}
