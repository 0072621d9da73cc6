package graft.sources

import java.nio.{ByteBuffer, ByteOrder}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

/** Zarr v2/v3 as a first-class Spark DataSourceV2 — the engine's one
  * distributed reader of a Zarr store (its `xr.open_zarr`). Every read is
  * ONE scan, [[ZarrGroupScan]], over a [[ZarrGroupTableV2.Layout]]
  * resolved once when the table is created:
  *
  *  - a GROUP directory (v2 `.zgroup`/`.zmetadata` or v3 group `zarr.json`)
  *    loads wide: `<dim>_idx` per primary dimension, the coordinate axes,
  *    and every data variable as a column;
  *  - a bare ARRAY directory (v2 `.zarray` or v3 array `zarr.json`), or a
  *    group member chosen with `.option("var", name)` — the same UX as the
  *    netcdf source — loads as a one-member group: `(t_idx INT, y INT,
  *    x INT, value DOUBLE)` for a 3-D (time, y, x) array and `(t_idx INT,
  *    cell INT, value DOUBLE)` for a 2-D (time, cell) one ([[CubeDims]]).
  *    Only these stream (`spark.readStream.format("zarr")`,
  *    [[ZarrMicroBatchStream]]).
  *
  * The scan pushes range predicates on every dimension column down to
  * whole-chunk pruning (the Zarr analogue of Parquet row-group pruning,
  * visible in `explain()` as `<column> in [lo, hi]`), prunes unprojected
  * member arrays, answers `count(*)`/`min`/`max` of dims from metadata
  * ([[MetadataAggScan]]), and plans one `InputPartition` per chunk index,
  * so parallelism tracks the chunk grid like the reference's Dask graph on
  * any Hadoop filesystem; absent chunk files read as `fill_value` (Zarr
  * writers elide all-fill chunks). Chunks decode through [[ZarrSource]]
  * ([[Blosc]], zlib, zstd, gzip, crc32c, sharding, raw), whose
  * driver-side `readLocalND` reads small arrays.
  */
class ZarrDataSourceV2 extends TableProvider with DataSourceRegister {
  override def shortName(): String = "zarr"

  // Spark asks one provider instance for inferSchema, then getTable, per
  // load: a read table (and its layout) is resolved once for both
  private var lastRead: (java.util.Map[String, String], Table) = (null, null)

  // a `dims` option marks WRITE intent (`df.write.format("zarr")`): the
  // table schema comes from the declared layout, not from store metadata
  // (the store need not exist yet); a read's schema is its layout's
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    if (options.containsKey("dims")) ZarrWriteSpec.parse(options).schema
    else getTable(null, Array.empty, options.asCaseSensitiveMap()).schema()

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val path = Option(properties.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "zarr source requires a path: spark.read.format(\"zarr\").load(dir)"))
    if (properties.containsKey("dims"))
      new ZarrWritableTableV2(path,
        ZarrWriteSpec.parse(new CaseInsensitiveStringMap(properties)))
    else {
      if (lastRead._1 != properties)
        lastRead = (properties, ZarrTableV2(path, Option(properties.get("var"))))
      lastRead._2
    }
  }
}

/** Declared layout of a `df.write.format("zarr")` sink, parsed from write
  * options: `dims` = "time:31,y:10,x:15" (name:size along each axis, in
  * storage order), `chunks` = "8,5,15", `cols` = the value columns (every
  * other input column must be a `<dim>_idx`), optional `fill` (default
  * NaN) and `v3` (default false → v2 store). The write is the SQL face of
  * the reference's `to_zarr` (marEx track.py:1748), delegating to the
  * distributed [[ZarrGroup.writeDataset]] chunk writer. */
private[sources] final case class ZarrWriteSpec(dims: Seq[(String, Int)],
    chunks: Seq[Int], cols: Seq[String], fill: Double, v3: Boolean,
    shard: Option[Seq[Int]] = None, region: Option[Int] = None,
    pack: Option[ZarrGroup.Pack] = None,
    coords: Seq[(String, Double, Double)] = Nil,
    compressor: Option[String] = None) {
  require(compressor.isEmpty || !v3,
    """.option("compressor", …) selects the v2 chunk compressor — v3 stores"""
      + " always write the zarr-python-3 default bytes→zstd chain")
  /** Evenly-spaced coordinate values per declared coord, sized `n`. */
  def coordValues(n: Map[String, Int]): Map[String, Array[Double]] =
    coords.map { case (name, start, step) =>
      val sz = n.getOrElse(name, throw new IllegalArgumentException(
        s"coords option names '$name', which is not a declared dimension"))
      name -> Array.tabulate(sz)(i => start + i * step)
    }.toMap
  require(dims.length == chunks.length,
    s"dims (${dims.length}) and chunks (${chunks.length}) must align")
  require(cols.nonEmpty, "zarr write needs .option(\"cols\", <value columns>)")
  require(shard.isEmpty || v3,
    """.option("shard", …) writes zarr v3 sharding_indexed — requires .option("v3", "true")""")
  require(region.isEmpty || shard.isEmpty,
    """.option("region", …) and .option("shard", …) are mutually exclusive —"""
      + " shard applies at store CREATION; a region write discovers and"
      + " reuses the existing store's layout (sharded stores take regions"
      + " fine without the option)")
  require(pack.isEmpty || region.isEmpty,
    """.option("pack", …) writes a CF-packed int16 store at CREATE time —"""
      + " region writes quantize with the STORE's own attributes instead;"
      + " drop the option (pack + shard COMPOSE at create: int16 inner chunks)")
  region.foreach(r => require(r >= 0,
    s""".option("region", $r) — the region start must be >= 0"""))
  def schema: StructType = StructType(
    dims.map { case (n, _) => StructField(s"${n}_idx", IntegerType, nullable = false) } ++
      cols.map(c => StructField(c, DoubleType, nullable = true)))
}

private[sources] object ZarrWriteSpec {
  def parse(options: CaseInsensitiveStringMap): ZarrWriteSpec = {
    def req(k: String): String = Option(options.get(k)).getOrElse(
      throw new IllegalArgumentException(
        s"""zarr write requires .option("$k", …) alongside "dims""""))
    val dims = req("dims").split(",").toSeq.map { part =>
      part.split(":") match {
        case Array(n, sz) => n.trim -> sz.trim.toInt
        case _ => throw new IllegalArgumentException(
          s"malformed dims entry '$part' (want name:size)")
      }
    }
    val chunks = req("chunks").split(",").toSeq.map(_.trim.toInt)
    val cols = req("cols").split(",").toSeq.map(_.trim).filter(_.nonEmpty)
    // pack = "scale[:offset[:fillRaw]]" — CF-packed int16 output, the dual
    // of the netcdf writer's Pack and of the reader's mask_and_scale decode
    val pack = Option(options.get("pack")).map { s =>
      s.split(":").map(_.trim) match {
        case Array(sc) => ZarrGroup.Pack(sc.toDouble)
        case Array(sc, off) => ZarrGroup.Pack(sc.toDouble, off.toDouble)
        case Array(sc, off, fr) =>
          ZarrGroup.Pack(sc.toDouble, off.toDouble, fr.toShort)
        case _ => throw new IllegalArgumentException(
          s"malformed pack option '$s' (want scale[:offset[:fillRaw]])")
      }
    }
    // coords = "name:start:step[;name:start:step…]" — evenly-spaced
    // coordinate values derived from the declared (or appended) axis
    // length. This is how a SQL append extends a time coordinate: the
    // reference's to_zarr always writes one, and a daily axis is exactly
    // start+i*step. Irregular axes use ZarrGroup.writeDataset/appendDataset.
    val coords = Option(options.get("coords")).toSeq
      .flatMap(_.split(";").toSeq).map { part =>
        part.split(":").map(_.trim) match {
          case Array(n, start, step) => (n, start.toDouble, step.toDouble)
          case _ => throw new IllegalArgumentException(
            s"malformed coords entry '$part' (want name:start:step)")
        }
      }
    ZarrWriteSpec(dims, chunks, cols,
      Option(options.get("fill")).map(_.toDouble).getOrElse(Double.NaN),
      options.getBoolean("v3", false),
      Option(options.get("shard")).map(_.split(",").toSeq.map(_.trim.toInt)),
      Option(options.get("region")).map(_.trim.toInt), pack, coords,
      Option(options.get("compressor")).map(_.trim))
  }
}

/** Write-intent table (`dims` option present): `append` creates the store
  * when absent and otherwise APPENDS along the first declared dimension —
  * a store-resize in the `to_zarr(append_dim="time")` sense: the store's
  * chunk grid and non-append dim sizes must match the declared ones, the
  * first dims entry's size is the size of the NEW block (rows carry
  * block-local 0-based indices), new-slice chunks land distributed (a
  * straddling edge chunk merges in place), and `shape[0]` bumps LAST so a
  * live reader — including the repo's own zarr stream source — never sees
  * promised-but-unwritten slices. `overwrite` replaces the store. On
  * append the store's v2/v3 flavor and fill win over the options. The
  * insert delegates to [[ZarrGroup.writeDataset]]/[[ZarrGroup.appendDataset]],
  * whose chunk assembly runs in executor tasks (one Tungsten exchange on
  * the chunk index) — the driver only writes group metadata. */
private[sources] class ZarrWritableTableV2(path: String, spec: ZarrWriteSpec)
    extends Table
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  import org.apache.spark.sql.connector.write._

  override def name(): String = s"zarr-write:$path"
  override def schema(): StructType = spec.schema
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
            val p = new org.apache.hadoop.fs.Path(path)
            val fs = p.getFileSystem(conf)
            // region is append-mode-only: reject BEFORE any delete — an
            // overwrite+region mode slip must never cost the store
            require(spec.region.isEmpty || !overwrite,
              """.option("region", …) corrects a window of an existing """ +
                "store and requires mode(\"append\") — mode(\"overwrite\") " +
                "would delete the store you are trying to correct")
            if (overwrite) fs.delete(p, true)
            if (!overwrite && fs.exists(p)) {
              require(spec.shard.isEmpty,
                """.option("shard", …) applies at store CREATION — appends """ +
                  "reuse the store's existing layout (sharded stores append " +
                  "fine without the option); drop it rather than have it " +
                  "silently ignored")
              require(spec.pack.isEmpty,
                """.option("pack", …) applies at store CREATION — appends """ +
                  "quantize with the STORE's own scale/offset/fill " +
                  "attributes; drop the option (a CF-packed store appends " +
                  "fine without it)")
              require(spec.compressor.isEmpty,
                """.option("compressor", …) applies at store CREATION — """ +
                  "appends honor each member's stored compressor; drop the option")
              spec.region match {
                case Some(r0) =>
                  require(spec.coords.isEmpty,
                    """.option("coords", …) extends an axis — region writes """ +
                      "never resize, so they cannot carry coordinate values")
                  ZarrGroup.regionWrite(data, path, spec.dims,
                    spec.chunks, valueCols = spec.cols, regionStart = r0)
                case None =>
                  // appends may extend the store's coordinates: the block's
                  // coord values derive from start:step over the BLOCK
                  // length (only append-dim coords make sense here — the
                  // others already exist at full length)
                  spec.coords.foreach { case (n, _, _) =>
                    require(n == spec.dims.head._1,
                      s"coords option names '$n', but an append can only " +
                        s"extend the append-dim coordinate " +
                        s"('${spec.dims.head._1}')")
                  }
                  ZarrGroup.appendDataset(data, path, spec.dims,
                    spec.chunks, valueCols = spec.cols,
                    newCoords = spec.coordValues(Map(spec.dims.head)))
              }
            } else {
              require(spec.region.isEmpty,
                """.option("region", …) overwrites a window of an EXISTING """ +
                  s"store, but $path does not exist — create it first, " +
                  "then region-write")
              ZarrGroup.writeDataset(data, path, spec.dims, spec.chunks,
                valueCols = spec.cols, v3 = spec.v3, fill = spec.fill,
                shard = spec.shard, pack = spec.pack,
                coords = spec.coordValues(spec.dims.toMap),
                compressor = spec.compressor)
            }
          }
      }
    }
}

/** A read table: the layout resolved once from the store's metadata.
  * Arrays (and `var` members) also stream. */
private[sources] class ZarrTableV2(lay: ZarrGroupTableV2.Layout, isArray: Boolean)
    extends Table with SupportsRead {
  override def name(): String = s"${if (isArray) "zarr" else "zarr-group"}:${lay.dir}"
  override def schema(): StructType = lay.schema
  override def capabilities(): java.util.Set[TableCapability] =
    (if (isArray) Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
    else Set(TableCapability.BATCH_READ)).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ZarrGroupScanBuilder(lay, options.getBoolean("fillMissingTail", false))
}

private[sources] object ZarrTableV2 {

  /** The read table of `path`: a group without `var` reads wide; with
    * `var`, the named member (validated against the group's metadata for
    * a listing error) reads as a one-member layout, as does a bare array. */
  def apply(path: String, varName: Option[String]): ZarrTableV2 = {
    val conf = org.apache.spark.sql.SparkSession.active
      .sparkContext.hadoopConfiguration
    def array(dir: String) =
      new ZarrTableV2(arrayLayout(dir, ZarrSource.readMetaAny(dir, conf)), isArray = true)
    varName match {
      case Some(v) =>
        val g = ZarrGroup.open(path, conf) // also errors clearly on non-group
        require(g.members.contains(v),
          s"no variable '$v' in zarr group $path " +
            s"(have: ${g.members.keys.toSeq.sorted.mkString(", ")})")
        array(s"$path/$v")
      case None if isGroupPath(path) =>
        new ZarrTableV2(ZarrGroupTableV2.layout(path), isArray = false)
      case None => array(path)
    }
  }

  /** A bare array as a one-member group layout: the [[CubeDims]] columns
    * index its dimensions and its one data column, `value`, reads the
    * array directory itself. */
  def arrayLayout(dir: String, meta: ZarrSource.ZarrMeta): ZarrGroupTableV2.Layout = {
    require(meta.shape.length == 2 || meta.shape.length == 3,
      s"zarr DSv2 expects a 3-D (time,y,x) or 2-D (time,cell) array at " +
        s"$dir, got shape ${meta.shape.mkString("x")}")
    require(meta.order == "C", "only C-order zarr supported")
    val dims = CubeDims.names(meta.shape.length)
    ZarrGroupTableV2.Layout(dir, dims, dims, meta.shape, meta.chunks,
      coordDims = Nil, dataVars = Seq("value"),
      members = Map("value" -> ZarrGroupTableV2.Member(dir, meta, dims)))
  }

  /** Whether `path` is a zarr GROUP directory (v2 `.zgroup`/`.zmetadata` or
    * a v3 group `zarr.json`), as opposed to a bare array. */
  def isGroupPath(path: String): Boolean = {
    val conf = org.apache.spark.sql.SparkSession.active
      .sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
    val v3 = new org.apache.hadoop.fs.Path(path, "zarr.json")
    if (fs.exists(v3)) {
      val in = fs.open(v3)
      val s = try scala.io.Source.fromInputStream(in).mkString finally in.close()
      val j = org.json4s.jackson.JsonMethods.parse(s)
      (j \ "node_type") == org.json4s.JString("group")
    } else fs.exists(new org.apache.hadoop.fs.Path(path, ".zgroup")) ||
      fs.exists(new org.apache.hadoop.fs.Path(path, ".zmetadata"))
  }
}

/** The cube both array sources expose: a 3-D (time, y, x) variable reads
  * as `(t_idx, y, x, value)`, a 2-D (time, cell) one — the unstructured
  * ICON-mesh layout (`extreme_events(time, ncells)`, detect.py:18) — as
  * `(t_idx, cell, value)`. Range predicates on the dim columns push down
  * as inclusive per-dim bounds, applied exactly by the readers, so every
  * scan reports them fully pushed and keeps the rest as post-scan
  * filters. */
private[sources] object CubeDims {
  def names(rank: Int): Seq[String] =
    if (rank == 2) Seq("t_idx", "cell") else Seq("t_idx", "y", "x")

  def schema(rank: Int): StructType = StructType(
    names(rank).map(StructField(_, IntegerType, nullable = false)) :+
      StructField("value", DoubleType, nullable = false))

  /** Narrow `lo`/`hi` by every `Int` range predicate on a dim column
    * (`dimOf(column) >= 0`) and return those accepted. A bound whose
    * ±1 would overflow is not accepted: it stays a post-scan filter. */
  def pushRanges(filters: Array[Filter], dimOf: String => Int,
      lo: Array[Int], hi: Array[Int]): Array[Filter] =
    filters.filter {
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
}

/** One metadata-answerable aggregate: COUNT(*) or MIN/MAX of a dim. */
private[sources] sealed trait MetaAgg extends Serializable
private[sources] case object MetaCount extends MetaAgg
private[sources] case class MetaMin(d: Int) extends MetaAgg
private[sources] case class MetaMax(d: Int) extends MetaAgg

private[sources] object MetaAgg {
  import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max, Min}
  import org.apache.spark.sql.connector.expressions.NamedReference

  /** Parse an ungrouped aggregation whose every expression is CountStar or
    * Min/Max over one of `dims` — None when anything else appears. */
  def parse(agg: Aggregation, dims: Seq[String]): Option[Seq[MetaAgg]] =
    parseGrouped(agg, dims).collect { case (Nil, aggs) => aggs }

  /** Parse an aggregation GROUPED BY dim columns (possibly none) whose
    * every aggregate is CountStar or Min/Max over a dim: a per-day (or
    * per-row, per-column…) cell count over a dense grid is as
    * metadata-answerable as the ungrouped total — `groupBy(t_idx).count()`
    * over a 40-year archive must not read a single chunk. Returns the
    * group dims (in groupBy order) and the aggregates; None when any
    * grouping or aggregate expression is not a plain dim. */
  def parseGrouped(agg: Aggregation, dims: Seq[String])
      : Option[(Seq[Int], Seq[MetaAgg])] = {
    def dimOf(e: org.apache.spark.sql.connector.expressions.Expression): Int =
      e match {
        case r: NamedReference if r.fieldNames.length == 1 =>
          dims.indexOf(r.fieldNames.head)
        case _ => -1
      }
    if (agg.aggregateExpressions.isEmpty) None
    else {
      val groups = agg.groupByExpressions.toSeq.map(dimOf)
      val parsed = agg.aggregateExpressions.toSeq.map {
        case _: CountStar => Some(MetaCount)
        case m: Min if dimOf(m.column) >= 0 => Some(MetaMin(dimOf(m.column)))
        case m: Max if dimOf(m.column) >= 0 => Some(MetaMax(dimOf(m.column)))
        case _ => None
      }
      if (groups.forall(_ >= 0) && groups.distinct.length == groups.length &&
          parsed.forall(_.isDefined))
        Some((groups, parsed.flatten))
      else None
    }
  }

  /** Cap on the number of groups a metadata aggregate may materialize
    * driver-side: a 40-year daily axis is ~1.5e4 rows, well under it; a
    * per-CELL grouping of a global grid is not — such plans fall back to
    * the normal (still chunk-pruned) scan. */
  val MaxGroups: Long = 1L << 20
}

private[sources] case class ZarrCountPartition(rows: Seq[Array[Any]]) extends InputPartition

/** Metadata-only aggregate scan, shared by all four sources: one
  * partition, one row per group (one total for an ungrouped aggregate),
  * zero data reads. `compute` runs at planning time on the driver
  * (metadata/header walks only); each emitted row carries the group dim
  * values first (matching Spark's complete-pushdown output contract:
  * grouping columns, then aggregate columns), then the aggregates. */
private[sources] class MetadataAggScan(what: String, groupCols: Seq[String],
    aggs: Seq[MetaAgg], compute: () => Seq[Array[Any]]) extends Scan with Batch {

  override def readSchema(): StructType = StructType(
    groupCols.map(n => StructField(n, IntegerType, nullable = false)) ++
      aggs.zipWithIndex.map {
        case (MetaCount, i) => StructField(s"agg_$i", LongType, nullable = false)
        case (_, i) => StructField(s"agg_$i", IntegerType, nullable = true)
      })

  override def description(): String = {
    val g = if (groupCols.isEmpty) "" else s" groupBy=[${groupCols.mkString(",")}],"
    s"MetadataAggScan($what,$g ${aggs.mkString(",")}, data reads=0)"
  }

  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] =
    Array(ZarrCountPartition(compute()))

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
        val rows = partition.asInstanceOf[ZarrCountPartition].rows
        new PartitionReader[InternalRow] {
          private val it = rows.iterator
          private var cur: Array[Any] = null
          override def next(): Boolean = { val r = it.hasNext; if (r) cur = it.next(); r }
          override def get(): InternalRow =
            InternalRow.fromSeq(scala.collection.immutable.ArraySeq
              .unsafeWrapArray(cur))
          override def close(): Unit = ()
        }
      }
    }
}

private[sources] object MetadataAggScan {
  /** Per-group accumulator: row count + contributed bounds per dim. */
  final class GroupAcc(nd: Int) {
    var rows = 0L
    val mn = Array.fill(nd)(Int.MaxValue)
    val mx = Array.fill(nd)(Int.MinValue)
  }

  /** Fold one dense block (per-dim CLAMPED inclusive bounds) into the
    * grouped accumulator: every combination of the group dims' in-block
    * values gains `product(non-group block sizes)` rows. Multi-file
    * archives call this once per file with archive-global bounds, so
    * groups that span files merge naturally. */
  def accumulateBlock(acc: scala.collection.mutable.LinkedHashMap[List[Int], GroupAcc],
      groupDims: Seq[Int], lo: Array[Int], hi: Array[Int]): Unit = {
    val nd = lo.length
    if ((0 until nd).exists(d => hi(d) < lo(d))) return
    val cnt = (0 until nd).filterNot(groupDims.contains)
      .map(d => hi(d).toLong - lo(d) + 1).product
    def loop(rem: List[Int], tuple: List[Int]): Unit = rem match {
      case Nil =>
        val key = tuple.reverse
        val a = acc.getOrElseUpdate(key, new GroupAcc(nd))
        a.rows += cnt
        var d = 0
        while (d < nd) {
          a.mn(d) = math.min(a.mn(d), lo(d)); a.mx(d) = math.max(a.mx(d), hi(d))
          d += 1
        }
      case d :: rest =>
        var v = lo(d)
        while (v <= hi(d)) { loop(rest, v :: tuple); v += 1 }
    }
    loop(groupDims.toList, Nil)
  }

  /** Emit grouped rows (group values first, then aggregates); min/max of
    * a GROUP dim is the group's own value, of any other dim the bounds
    * the group's contributing blocks spanned. */
  def emitGrouped(acc: scala.collection.mutable.LinkedHashMap[List[Int], GroupAcc],
      groupDims: Seq[Int], aggs: Seq[MetaAgg]): Seq[Array[Any]] =
    acc.toSeq.map { case (key, a) =>
      val kv = groupDims.zip(key).toMap
      (key.map(v => v: Any) ++ aggs.map {
        case MetaCount => a.rows: Any
        case MetaMin(d) => kv.getOrElse(d, a.mn(d)): Any
        case MetaMax(d) => kv.getOrElse(d, a.mx(d)): Any
      }).toArray
    }

  /** Number of groups a grouped metadata aggregate would materialize. */
  def groupCardinality(groupDims: Seq[Int], lo: Array[Int], hi: Array[Int]): Long =
    groupDims.map(d => math.max(0L, hi(d).toLong - lo(d) + 1))
      .foldLeft(1L)((a, b) => if (a > MetaAgg.MaxGroups) a else a * b)

  /** The planning guard every dense scan builder applies before accepting
    * a grouped pushdown: total group count across the per-file clamped
    * `blocks` stays within [[MetaAgg.MaxGroups]] (ungrouped always fits —
    * the thunk is not even forced). */
  def withinBudget(groups: Seq[Int],
      blocks: => Seq[(Array[Int], Array[Int])]): Boolean =
    groups.isEmpty ||
      blocks.map { case (l, h) => groupCardinality(groups, l, h) }
        .sum <= MetaAgg.MaxGroups

  /** Grouped-or-ungrouped metadata aggregate rows over per-file clamped
    * dense blocks — the ONE compute all three dense scan builders share
    * (single stores pass one block). An ungrouped aggregate over an empty
    * window still emits its count-0/NULL-extremes row, matching SQL. */
  def aggRows(groups: Seq[Int], aggs: Seq[MetaAgg],
      blocks: Seq[(Array[Int], Array[Int])]): Seq[Array[Any]] = {
    val acc = scala.collection.mutable.LinkedHashMap[List[Int], GroupAcc]()
    blocks.foreach { case (l, h) => accumulateBlock(acc, groups, l, h) }
    if (groups.isEmpty && acc.isEmpty)
      Seq(aggs.map { case MetaCount => 0L: Any; case _ => null: Any }.toArray)
    else emitGrouped(acc, groups, aggs)
  }
}

/** Offset = how many leading time slices of the growing array are
  * committed (zarr appends along time by enlarging `shape[0]`). */
private[sources] case class ZarrNtOffset(nt: Int)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = s"""{"nt": $nt}"""
}

/** `spark.readStream.format("zarr")` over a growing zarr ARRAY — the
  * reference's production stores append new days by enlarging the time
  * dimension in place (to_zarr(append_dim="time")). Each micro-batch
  * re-reads the array metadata; slices beyond the committed offset are
  * planned as their covering chunk indices and read by the batch scan's
  * reader, bounded to the fresh time range so a partially-committed edge
  * chunk never re-delivers old slices. */
private[sources] class ZarrMicroBatchStream(lay: ZarrGroupTableV2.Layout,
    required: StructType, fillMissingTail: Boolean)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset

  private def spark = org.apache.spark.sql.SparkSession.active
  private val rank = lay.shape.length

  private def metaNow(): ZarrSource.ZarrMeta = {
    val m = ZarrSource.readMetaAny(lay.dir, spark.sparkContext.hadoopConfiguration)
    require(m.shape.length == rank,
      s"zarr stream expects a $rank-D array at ${lay.dir}, got ${m.shape}")
    m
  }

  // offsets must never move backwards even if the chunk probe does
  @volatile private var offsetFloor = 0

  override def initialOffset(): Offset = ZarrNtOffset(0)

  /** A zarr append resizes the array metadata BEFORE its chunk files land
    * (xarray's `to_zarr(append_dim=…)` writes `.zarray` first), so the
    * metadata shape can briefly promise slices whose data does not exist
    * yet — and the batch reader would synthesize fill for them, commit,
    * and never re-read the real values. The offered offset therefore
    * covers time-chunk rows that are provably SETTLED:
    *
    *  - every row strictly before the newest row holding ANY chunk
    *    (appends land in time order, so an active later row means the
    *    earlier rows are done — their absent chunks are legitimate fill
    *    elisions);
    *  - the newest active row itself only once ALL its spatial chunks
    *    exist (a partially-landed row is indistinguishable from one
    *    mid-write).
    *
    * Residual caveat: a store whose FINAL row elides some chunks on
    * purpose holds that one row back until a later append lands — opt out
    * with `.option("fillMissingTail", "true")` to trust the metadata
    * shape (pre-cap behavior). This is the one walk of the present chunk
    * files: the reader opens each planned chunk and reads an absent one
    * as fill. */
  override def latestOffset(): Offset = {
    val meta = metaNow()
    val ntMeta = meta.shape.head
    if (fillMissingTail) return ZarrNtOffset(ntMeta)
    val shape3 = meta.shape.padTo(3, 1)
    val Seq(ct, cy, cx) = meta.chunks.padTo(3, 1)
    val nyC = (shape3(1) + cy - 1) / cy
    val nxC = (shape3(2) + cx - 1) / cx
    val glob = ZarrSource.chunkGlob(meta, lay.dir, rank)
    val gp = new org.apache.hadoop.fs.Path(glob)
    val fs = gp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val present: Set[(Int, Int, Int)] =
      Option(fs.globStatus(gp)).map(_.toSeq).getOrElse(Seq.empty)
        .flatMap { st =>
          ZarrSource.parseChunkKey(meta, st.getPath.toString, rank)
            .map { ci0 => val ci = ci0.padTo(3, 0); (ci(0), ci(1), ci(2)) }
        }.toSet
    def fullRow(ci: Int): Boolean =
      (0 until nyC).forall(cj => (0 until nxC).forall(ck => present((ci, cj, ck))))
    val lastActive = present.map(_._1).maxOption.getOrElse(-1)
    val capRow =
      if (lastActive >= 0 && fullRow(lastActive)) lastActive
      else lastActive - 1
    val cap = if (capRow < 0) 0 else math.min(ntMeta, (capRow + 1) * ct)
    offsetFloor = math.max(offsetFloor, cap)
    ZarrNtOffset(offsetFloor)
  }

  override def deserializeOffset(json: String): Offset =
    ZarrNtOffset("""\d+""".r.findFirstIn(json).getOrElse(
      throw new IllegalArgumentException(s"malformed zarr stream offset: $json")).toInt)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[ZarrNtOffset].nt
    val e = end.asInstanceOf[ZarrNtOffset].nt
    if (e <= s) return Array.empty
    val meta = metaNow()
    require(meta.shape.head >= e,
      s"zarr stream: the array shrank below the committed offset ($e > ${meta.shape.head})")
    val ct = meta.chunks.head
    ZarrGroup.gridIndices(ZarrGroup.chunkGridOf(meta).updated(0, (e + ct - 1) / ct))
      .filter(ci => ci.head * ct + ct - 1 >= s)
      .map(ci => ZarrGroupChunkPartition(ci, s, e - 1): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    ZarrGroupScan.readerFactory(ZarrTableV2.arrayLayout(lay.dir, metaNow()),
      Array.fill(rank)(Int.MinValue), Array.fill(rank)(Int.MaxValue), required)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Read plan resolved once at table creation. For a GROUP: the primary
  * (maximal-rank) dim tuple and its shared chunk grid, the dimension
  * coordinates, and the variable split. The schema is xarray's Dataset
  * flattened: `<dim>_idx INT …` per primary dimension, `<dim> DOUBLE …`
  * per dimension with a coordinate array, `<var> DOUBLE …` per data
  * variable (every data variable of the group, by name). Every data
  * variable's dims must be a subset of the primary tuple, and the primary
  * variables must share one chunk grid; a group that mixes unrelated dim
  * tuples (a tracker output) is read member by member with
  * `.option("var", name)` instead. A bare ARRAY is the one-member layout
  * of [[ZarrTableV2.arrayLayout]]. */
private[sources] object ZarrGroupTableV2 {

  /** Driver-side-materialization bound for coordinate axes and lower-rank
    * variables (cells): partition readers cannot express a join, so these
    * ride the task closure — 16 M doubles = 128 MB, already generous for
    * "metadata-sized". A bigger lower-rank member is refused by name: read
    * it with `.option("var", name)` and join it on its dim indices. */
  val SmallArrayCells: Long = 16L * 1024 * 1024

  /** One array the scan reads: its directory, metadata and dim names. */
  final case class Member(dir: String, meta: ZarrSource.ZarrMeta, dims: Seq[String])

  /** `dimCols` names the column of each primary dimension; `members`
    * holds every data variable and coordinate axis by column name. */
  final case class Layout(dir: String, primaryDims: Seq[String], dimCols: Seq[String],
      shape: Seq[Int], chunks: Seq[Int], coordDims: Seq[String],
      dataVars: Seq[String], members: Map[String, Member]) {
    def isPrimary(v: String): Boolean = members(v).dims == primaryDims
    def schema: StructType = StructType(
      dimCols.map(StructField(_, IntegerType, nullable = false)) ++
        coordDims.map(d => StructField(d, DoubleType, nullable = true)) ++
        dataVars.map(v => StructField(v, DoubleType, nullable = !isPrimary(v))))
  }

  def layout(dir: String): Layout = {
    val conf = org.apache.spark.sql.SparkSession.active
      .sparkContext.hadoopConfiguration
    val g = ZarrGroup.open(dir, conf)
    val wanted = g.dataVarNames
    require(wanted.nonEmpty, s"zarr group $dir has no data variables")
    val members = wanted.map(g.members)
    val primaryDims = members.map(_.dims).maxBy(_.length)
    val (primary, secondary) = members.partition(_.dims == primaryDims)
    secondary.foreach { v =>
      require(v.dims.forall(primaryDims.contains),
        s"variable '${v.name}'(${v.dims.mkString(",")}) shares no dim layout " +
          s"with primary (${primaryDims.mkString(",")})")
    }
    val headMeta = primary.head.meta
    primary.foreach { v =>
      require(v.meta.shape == headMeta.shape && v.meta.chunks == headMeta.chunks,
        s"primary variables must share one chunk grid: '${v.name}' has " +
          s"shape=${v.meta.shape}/chunks=${v.meta.chunks}")
      require(v.meta.order == "C", "only C-order zarr supported")
    }
    val coordDims = primaryDims.filter(g.coordNames)
    Layout(dir, primaryDims, primaryDims.map(d => s"${d}_idx"), headMeta.shape,
      headMeta.chunks, coordDims, wanted,
      (members ++ coordDims.map(g.members)).map(v =>
        v.name -> Member(s"$dir/${v.name}", v.meta, v.dims)).toMap)
  }
}

/** Pushdown: range predicates on ANY dim column prune whole chunk files
  * on that dimension — the reference's regional mode (track.py:5471) makes
  * lat/lon windows a first-class query shape, so a spatial window over a
  * global archive must not open every spatial chunk; column pruning drops
  * entire member ARRAYS from the read — an unprojected variable's chunk
  * files are never opened. Dim ranges are exact at the reader, so they
  * report fully pushed, and `count(*)`, `min(<dim>)` and `max(<dim>)`
  * over any dim window collapse to a metadata-only answer. */
private[sources] class ZarrGroupScanBuilder(lay: ZarrGroupTableV2.Layout,
    fillMissingTail: Boolean)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates {
  import org.apache.spark.sql.connector.expressions.aggregate.Aggregation

  private val lo = Array.fill(lay.dimCols.length)(Int.MinValue)
  private val hi = Array.fill(lay.dimCols.length)(Int.MaxValue)
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = lay.schema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = CubeDims.pushRanges(filters, lay.dimCols.indexOf, lo, hi)
    filters.filterNot(pushed.contains)
  }

  override def pushedFilters(): Array[Filter] = pushed

  /** `count(*)`, `min(<dim>)`, and `max(<dim>)` — ungrouped or GROUPED BY
    * dim columns — over a dense grid are all dataspace facts: the count is
    * the product of the clamped dim ranges (per group: of the non-group
    * dims), and a dim's extremes ARE its clamped bounds. */
  private var pushedAgg: Option[(Seq[Int], Seq[MetaAgg])] = None

  private def clampedBounds(): (Array[Int], Array[Int]) =
    (lay.dimCols.indices.map(d => math.max(lo(d), 0)).toArray,
      lay.dimCols.indices
        .map(d => math.min(hi(d).toLong, lay.shape(d) - 1L).toInt).toArray)

  private def metaAggsOf(agg: Aggregation): Option[(Seq[Int], Seq[MetaAgg])] =
    MetaAgg.parseGrouped(agg, lay.dimCols).filter { case (groups, _) =>
      MetadataAggScan.withinBudget(groups, Seq(clampedBounds()))
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
        val block = clampedBounds()
        new MetadataAggScan(s"zarr:${lay.dir}", groups.map(lay.dimCols), aggs,
          () => MetadataAggScan.aggRows(groups, aggs, Seq(block)))
      case None =>
        new ZarrGroupScan(lay, lo.clone(), hi.clone(), required, fillMissingTail)
    }
}

/** One chunk index of the primary grid; a micro-batch narrows its time
  * range to `[t0, t1]`. */
private[sources] case class ZarrGroupChunkPartition(ci: Seq[Int],
    t0: Int = Int.MinValue, t1: Int = Int.MaxValue) extends InputPartition

/** Per-required-column read instruction, resolved once in the factory. */
private[sources] sealed trait ZGCol extends Serializable
private[sources] case class ZGDimIdx(d: Int) extends ZGCol
private[sources] case class ZGCoord(d: Int, values: Array[Double]) extends ZGCol
private[sources] case class ZGPrimary(k: Int) extends ZGCol // index into the read members
private[sources] case class ZGSecondary(dimPos: Array[Int], strides: Array[Long],
    shape: Array[Int], values: Array[Double]) extends ZGCol

/** The one Zarr scan. Execution shape: the primary chunk GRID is the task
  * manifest — one input partition per chunk index (bundled when small)
  * opens that chunk of EVERY projected primary variable through the Hadoop
  * FS API and emits wide rows directly. Reading V variables therefore
  * costs zero shuffles and zero row-level joins (vs the naive per-variable
  * read + V-way join on the dim columns, which shuffles the full corpus V
  * times at 100 TB); a bare array is the V = 1 case. Coordinate axes and
  * lower-rank variables (1-D axes, 2-D masks) are decoded once at
  * planning ([[ZarrGroup.readWholeArray]]) and ride the reader factory; rows
  * look them up by dim index. Missing chunk files read as `fill_value`,
  * matching `write_empty_chunks=False` writers; every value is CF-decoded
  * per member. */
private[sources] class ZarrGroupScan(lay: ZarrGroupTableV2.Layout,
    lo: Array[Int], hi: Array[Int], required: StructType, fillMissingTail: Boolean)
    extends Scan with Batch with SupportsReportStatistics {

  override def readSchema(): StructType = required

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new ZarrMicroBatchStream(lay, required, fillMissingTail)

  /** Post-prune dense cell count across every pushed dimension range, so
    * Catalyst can broadcast small windows of huge stores on its own. */
  override def estimateStatistics(): Statistics = {
    val rows = lay.dimCols.indices.map { d =>
      math.max(0L, math.min(hi(d).toLong, lay.shape(d) - 1L) -
        math.max(lo(d).toLong, 0L) + 1)
    }.product
    val bytes = math.max(1L, rows * math.max(required.defaultSize, 1))
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong = java.util.OptionalLong.of(rows)
    }
  }

  override def description(): String = {
    val ranges = lay.dimCols.indices.collect {
      case d if lo(d) != Int.MinValue || hi(d) != Int.MaxValue =>
        s"${lay.dimCols(d)} in [${math.max(lo(d), 0)}, " +
          s"${math.min(hi(d), lay.shape(d) - 1)}]"
    }
    s"ZarrGroupScan(path=${lay.dir}, " +
      s"pushed=${if (ranges.isEmpty) "none" else ranges.mkString(", ")}, " +
      s"columns=${required.fieldNames.mkString(",")})"
  }

  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    val nChunks = lay.shape.indices.map(d =>
      (lay.shape(d) + lay.chunks(d) - 1) / lay.chunks(d))
    val parts = ZarrGroup.gridIndices(nChunks)
      .filter { ci =>
        lay.shape.indices.forall { d =>
          val first = ci(d) * lay.chunks(d)
          first <= hi(d) && first + lay.chunks(d) - 1 >= lo(d)
        }
      }
      .map(ci => ZarrGroupChunkPartition(ci): InputPartition).toArray
    // decoded bytes per chunk: one raw chunk per projected primary
    // variable (the first one's when none is projected)
    val primary = lay.dataVars.filter(lay.isPrimary)
    val read = primary.filter(required.fieldNames.contains)
    ChunkBundles.bundle(parts, lay.chunks.map(_.toLong).product *
      (if (read.isEmpty) primary.take(1) else read)
        .map(v => ZarrSource.bytesPer(lay.members(v).meta.dtype).toLong).sum)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    ZarrGroupScan.readerFactory(lay, lo, hi, required)
}

private[sources] object ZarrGroupScan {

  /** The reader factory over `lay` for the `required` columns, bounded to
    * the pushed `[lo, hi]`: each column is resolved ONCE, so unprojected
    * variables never load. */
  def readerFactory(lay: ZarrGroupTableV2.Layout, lo: Array[Int], hi: Array[Int],
      required: StructType): ZarrGroupReaderFactory = {
    val hconf = org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration
    def loadSmall(name: String): Array[Double] = {
      val m = lay.members(name)
      val cells = m.meta.shape.map(_.toLong).product
      require(cells <= ZarrGroupTableV2.SmallArrayCells,
        s"member '$name' (${m.meta.shape.mkString("×")} cells) is too large to " +
          s"materialize in the zarr group scan — read it on its own with " +
          s"spark.read.format(\"zarr\").option(\"var\", \"$name\") and join")
      val fs = new org.apache.hadoop.fs.Path(m.dir).getFileSystem(hconf)
      m.meta.cfDecodeAll(ZarrGroup.readWholeArray(fs, m.dir, m.meta))
    }
    val primaryNeeded = required.fieldNames.filter(n =>
      lay.dataVars.contains(n) && lay.isPrimary(n)).toSeq
    val cols: Array[ZGCol] = required.fieldNames.map { n =>
      val dimIdx = lay.dimCols.indexOf(n)
      if (dimIdx >= 0) ZGDimIdx(dimIdx)
      else if (lay.coordDims.contains(n))
        ZGCoord(lay.primaryDims.indexOf(n), loadSmall(n))
      else if (lay.isPrimary(n)) ZGPrimary(primaryNeeded.indexOf(n))
      else {
        val m = lay.members(n)
        val strides = new Array[Long](m.dims.length)
        var s = 1L
        for (d <- (m.dims.length - 1) to 0 by -1) { strides(d) = s; s *= m.meta.shape(d) }
        ZGSecondary(m.dims.map(lay.primaryDims.indexOf).toArray, strides,
          m.meta.shape.toArray, loadSmall(n))
      }
    }
    new ZarrGroupReaderFactory(lay.shape.toArray, lay.chunks.toArray,
      primaryNeeded.map(lay.members), cols, lo, hi, new SerializableConfiguration(hconf))
  }
}

private[sources] class ZarrGroupReaderFactory(shape: Array[Int], chunks: Array[Int],
    primaryVars: Seq[ZarrGroupTableV2.Member], cols: Array[ZGCol],
    lo: Array[Int], hi: Array[Int],
    conf: SerializableConfiguration) extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    partition match {
      case BundledPartition(ps) => return ChunkBundles.reader(ps, createReader)
      case _ =>
    }
    val part = partition.asInstanceOf[ZarrGroupChunkPartition]
    val ci = part.ci
    new PartitionReader[InternalRow] {
      private val nd = shape.length
      // the pushed ranges, narrowed to a micro-batch's time range
      private val lo1 = lo.clone(); lo1(0) = math.max(lo(0), part.t0)
      private val hi1 = hi.clone(); hi1(0) = math.min(hi(0), part.t1)
      // chunk-local window of those ranges; sharded members
      // byte-range-read only the inner chunks it intersects
      private val window = ZarrSource.localWindow(lo1, hi1, ci, chunks.toSeq, nd)
      // each read member's decoded RAW chunk (null: absent, reads as
      // fill); cells decode at emission, so a task holds one raw chunk per
      // member and never a chunk-length array of doubles
      private val metas = primaryVars.map(_.meta).toArray
      private val raws: Array[Array[Byte]] = primaryVars.map { m =>
        val fs = new org.apache.hadoop.fs.Path(m.dir).getFileSystem(conf.value)
        ZarrGroup.chunkRaw(fs, m.dir, m.meta, ci, window._1, window._2).orNull
      }.toArray
      private val bufs = raws.indices.map { k =>
        if (raws(k) == null) null
        else ByteBuffer.wrap(raws(k)).order(ZarrSource.byteOrderOf(metas(k).dtype))
      }.toArray
      private val bps = metas.map(m => ZarrSource.bytesPer(m.dtype))
      private val n = chunks.product
      private val gidx = new Array[Int](nd)
      private var i = -1

      override def next(): Boolean = {
        while ({ i += 1; i < n }) {
          var r = i
          var d = nd - 1
          while (d >= 0) { gidx(d) = r % chunks(d); r /= chunks(d); d -= 1 }
          var ok = true
          d = 0
          while (d < nd && ok) {
            val g = ci(d) * chunks(d) + gidx(d)
            if (g >= shape(d) || g < lo1(d) || g > hi1(d)) ok = false else gidx(d) = g
            d += 1
          }
          if (ok) return true
        }
        false
      }

      // reused row buffer — the column plan (`cols`) is already resolved
      // per-reader; only the VALUES change per row
      private val rowVals = new Array[Any](cols.length)
      private val row = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(rowVals)

      override def get(): InternalRow = {
        var c = 0
        while (c < cols.length) {
          rowVals(c) = cols(c) match {
            case ZGDimIdx(d) => gidx(d)
            case ZGCoord(d, values) => values(gidx(d))
            case ZGPrimary(k) =>
              // CF decode at emission (scale_factor/add_offset/_FillValue),
              // exactly like the netcdf scan — raw stored values never leak
              if (raws(k) == null) metas(k).decodedFill
              else metas(k).cfDecode(
                ZarrSource.cellValue(raws(k), bufs(k), metas(k).dtype, i, bps(k)))
            case ZGSecondary(dimPos, strides, sshape, values) =>
              var flat = 0L
              var ok = true
              var d = 0
              while (d < dimPos.length && ok) {
                val g = gidx(dimPos(d))
                if (g >= sshape(d)) ok = false else flat += g * strides(d)
                d += 1
              }
              if (ok) values(flat.toInt) else null
          }
          c += 1
        }
        row
      }

      override def close(): Unit = ()
    }
  }
}
