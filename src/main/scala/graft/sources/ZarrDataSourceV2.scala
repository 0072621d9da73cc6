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

/** Zarr v2/v3 as a first-class Spark DataSourceV2: `spark.read.format("zarr")
  * .load(dir)` yields `(t_idx INT, y INT, x INT, value DOUBLE)` for a 3-D
  * (time, y, x) array (v2 `.zarray` or v3 `zarr.json` auto-detected), with
  *
  *  - **filter pushdown**: `t_idx` range predicates prune whole chunk FILES
  *    at planning time — the Zarr analogue of Parquet row-group pruning —
  *    and the pushed range is visible in `explain()` via the scan
  *    description;
  *  - **column pruning**: the reader materializes only the requested
  *    columns into each `InternalRow`;
  *  - **one `InputPartition` per chunk file**, so parallelism tracks the
  *    chunk grid exactly like the reference's Dask graph, on any Hadoop
  *    filesystem; absent chunk files synthesize `fill_value` cells (Zarr
  *    writers elide all-fill chunks).
  *
  * A GROUP directory (v2 `.zgroup`/`.zmetadata` or v3 group `zarr.json`)
  * loads with `.option("var", name)` selecting the member array — the same
  * UX as the netcdf source — so `spark.read.format("zarr").option("var",
  * "extreme_events").load(store)` opens an xarray-written dataset member
  * directly. This scan is the engine's one distributed reader of a Zarr
  * cube (its `xr.open_zarr`); it decodes chunks through [[ZarrSource]]
  * ([[Blosc]], zlib, zstd, gzip, crc32c, sharding, raw), whose
  * driver-side `readLocalND` reads small arrays.
  */
class ZarrDataSourceV2 extends TableProvider with DataSourceRegister {
  override def shortName(): String = "zarr"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val path = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "zarr source requires a path: spark.read.format(\"zarr\").load(dir)"))
    // a `dims` option marks WRITE intent (`df.write.format("zarr")`): the
    // table schema comes from the declared layout, not from store metadata
    // (the store need not exist yet)
    if (options.containsKey("dims")) ZarrWriteSpec.parse(options).schema
    else if (ZarrTableV2.isGroupPath(path) && Option(options.get("var")).isEmpty)
      ZarrGroupTableV2.layout(path).schema
    else ZarrTableV2.fullSchema
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val path = Option(properties.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "zarr source requires a path: spark.read.format(\"zarr\").load(dir)"))
    val varOpt = Option(properties.get("var"))
    if (properties.containsKey("dims"))
      new ZarrWritableTableV2(path,
        ZarrWriteSpec.parse(new CaseInsensitiveStringMap(properties)))
    else if (ZarrTableV2.isGroupPath(path) && varOpt.isEmpty)
      new ZarrGroupTableV2(path)
    else new ZarrTableV2(ZarrTableV2.resolveVar(path, varOpt))
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

private[sources] object ZarrTableV2 {
  val fullSchema: StructType = StructType(Seq(
    StructField("t_idx", IntegerType, nullable = false),
    StructField("y", IntegerType, nullable = false),
    StructField("x", IntegerType, nullable = false),
    StructField("value", DoubleType, nullable = false)))

  /** 2-D (time, cell) arrays — the unstructured ICON-mesh layout
    * (`extreme_events(time, ncells)`): one flat cell axis. Internally the
    * cell axis rides the y machinery with nx = 1 (shapes/chunks pad), so
    * chunk pruning, metadata aggregates, and the stream source behave
    * identically; only the schema and pushdown dim names change. */
  val cellSchema: StructType = StructType(Seq(
    StructField("t_idx", IntegerType, nullable = false),
    StructField("cell", IntegerType, nullable = false),
    StructField("value", DoubleType, nullable = false)))

  def schemaFor(rank: Int): StructType = if (rank == 2) cellSchema else fullSchema
  def dimsFor(rank: Int): Seq[String] =
    if (rank == 2) Seq("t_idx", "cell") else Seq("t_idx", "y", "x")

  def rankOf(shape: Seq[Int], path: String): Int = {
    require(shape.length == 2 || shape.length == 3,
      s"zarr DSv2 expects a 3-D (time,y,x) or 2-D (time,cell) array at " +
        s"$path, got shape ${shape.mkString("x")}")
    shape.length
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

  /** Resolve a load path that may point at a GROUP: with `var`, descend to
    * that member (validated against the group's metadata for a listing
    * error); without, require the path to be an array directory (group
    * paths without `var` route to [[ZarrGroupTableV2]] instead). */
  def resolveVar(path: String, varName: Option[String]): String = {
    val conf = org.apache.spark.sql.SparkSession.active
      .sparkContext.hadoopConfiguration
    varName match {
      case Some(v) =>
        val g = ZarrGroup.open(path, conf) // also errors clearly on non-group
        require(g.members.contains(v),
          s"no variable '$v' in zarr group $path " +
            s"(have: ${g.members.keys.toSeq.sorted.mkString(", ")})")
        s"$path/$v"
      case None =>
        require(!isGroupPath(path),
          s"$path is a zarr GROUP — pick a member with .option(\"var\", <name>)")
        path
    }
  }
}

private[sources] class ZarrTableV2(path: String) extends Table with SupportsRead {
  private lazy val rank: Int = ZarrTableV2.rankOf(
    ZarrSource.readMetaAny(path, org.apache.spark.sql.SparkSession.active
      .sparkContext.hadoopConfiguration).shape, path)
  override def name(): String = s"zarr:$path"
  override def schema(): StructType = ZarrTableV2.schemaFor(rank)
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ZarrScanBuilder(path, options.getBoolean("fillMissingTail", false), rank)
}

/** Range predicates on ANY of `t_idx`/`y`/`x` prune whole chunk files on
  * that dimension — the reference's regional mode (track.py:5471) makes
  * lat/lon windows a first-class query shape, so a spatial window over a
  * global archive must not open every spatial chunk. Dim-range predicates
  * are EXACT at the reader (the cell emitters bound every dimension), so
  * they are reported fully-pushed — no redundant post-scan filter — which
  * in turn lets `count(*)` over any dim window collapse to a pure
  * METADATA answer (grids are dense): zero chunk files are opened. */
private[sources] class ZarrScanBuilder(path: String, fillMissingTail: Boolean = false,
    rank: Int = 3)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates {
  import org.apache.spark.sql.connector.expressions.aggregate.Aggregation

  private val dims = ZarrTableV2.dimsFor(rank)
  private val lo = Array.fill(3)(Int.MinValue)
  private val hi = Array.fill(3)(Int.MaxValue)
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = ZarrTableV2.schemaFor(rank)

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
    // dim ranges are applied exactly by the readers; everything else
    // (value predicates, nulls, …) stays a post-scan filter
    filters.filterNot(accepted.contains)
  }

  override def pushedFilters(): Array[Filter] = pushed

  /** `count(*)`, `min(<dim>)`, and `max(<dim>)` — ungrouped or GROUPED BY
    * dim columns — over a dense grid are all dataspace facts: the count is
    * the product of the clamped dim ranges (per group: of the non-group
    * dims), and a dim's extremes ARE its clamped bounds. */
  private var pushedAgg: Option[(Seq[Int], Seq[MetaAgg])] = None

  private def clampedBounds(): (Array[Int], Array[Int]) = {
    val meta = ZarrSource.readMetaAny(path,
      org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration)
    require(meta.shape.length == rank,
      s"zarr agg scan expects $rank-D, got ${meta.shape}")
    ((0 until rank).map(d => math.max(lo(d), 0)).toArray,
      (0 until rank).map(d =>
        math.min(hi(d).toLong, meta.shape(d) - 1L).toInt).toArray)
  }

  private def metaAggsOf(agg: Aggregation): Option[(Seq[Int], Seq[MetaAgg])] =
    MetaAgg.parseGrouped(agg, dims).filter { case (groups, _) =>
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
        new MetadataAggScan(s"zarr:$path", groups.map(dims), aggs,
          () => MetadataAggScan.aggRows(groups, aggs, Seq(clampedBounds())))
      case None =>
        new ZarrScan(path, lo.clone(), hi.clone(), required, fillMissingTail, rank)
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

private[sources] case class ZarrChunkPartition(
    ci: Int, cj: Int, ck: Int, filePath: String) extends InputPartition // filePath "" → missing chunk

private[sources] class ZarrScan(path: String, lo: Array[Int], hi: Array[Int],
    required: StructType, fillMissingTail: Boolean = false, rank: Int = 3)
    extends Scan with Batch with SupportsReportStatistics {

  private val dimNames = ZarrTableV2.dimsFor(rank).padTo(3, "x")

  override def readSchema(): StructType = required

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new ZarrMicroBatchStream(path, required, fillMissingTail, rank)

  /** Post-prune dense cell count + projected width, so Catalyst can
    * broadcast small windows of huge stores on its own. */
  override def estimateStatistics(): Statistics = {
    val meta = readDirMeta(org.apache.spark.sql.SparkSession.active)
    val shape3 = meta.shape.padTo(3, 1)
    val rows = (0 until 3).map { d =>
      math.max(0L, math.min(hi(d).toLong, shape3(d) - 1L) -
        math.max(lo(d).toLong, 0L) + 1)
    }.product
    val bytes = math.max(1L, rows * math.max(required.defaultSize, 1))
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong = java.util.OptionalLong.of(rows)
    }
  }

  override def description(): String = {
    val ranges = (0 until 3).collect {
      case d if lo(d) != Int.MinValue || hi(d) != Int.MaxValue =>
        s"${dimNames(d)} in [${lo(d)}, ${hi(d)}]"
    }
    s"ZarrScan(path=$path, pushed=${if (ranges.isEmpty) "none" else ranges.mkString(", ")}, " +
      s"columns=${required.fieldNames.mkString(",")})"
  }

  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    val spark = org.apache.spark.sql.SparkSession.active
    val meta = readDirMeta(spark)
    val shape3 = meta.shape.padTo(3, 1)
    val chunks3 = meta.chunks.padTo(3, 1)
    // per-dimension chunk prune: a chunk survives only if its index range
    // intersects the pushed range on EVERY dimension
    def keep(d: Int, c: Int): Boolean = {
      val first = c.toLong * chunks3(d)
      first <= math.min(hi(d).toLong, shape3(d) - 1L) &&
        first + chunks3(d) - 1 >= math.max(lo(d).toLong, 0L)
    }
    val nC = (0 until 3).map(d => (shape3(d) + chunks3(d) - 1) / chunks3(d))

    // chunk KEYS carry the stored rank (a 2-D store names chunks "ci.cj" /
    // "c/t/c"); indices pad to the 3-axis planner grid like the shape
    val glob = ZarrSource.chunkGlob(meta, path, rank)
    val gp = new org.apache.hadoop.fs.Path(glob)
    val fs = gp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val present = Option(fs.globStatus(gp)).map(_.toSeq).getOrElse(Seq.empty)
      .flatMap { st =>
        ZarrSource.parseChunkKey(meta, st.getPath.toString, rank)
          .map { ci0 =>
            val ci = ci0.padTo(3, 0)
            (ci(0), ci(1), ci(2)) -> st.getPath.toString
          }
      }.toMap

    val parts = (for {
      ci <- 0 until nC(0) if keep(0, ci)
      cj <- 0 until nC(1) if keep(1, cj)
      ck <- 0 until nC(2) if keep(2, ck)
    } yield ZarrChunkPartition(ci, cj, ck,
      present.getOrElse((ci, cj, ck), ""))).toArray[InputPartition]
    ChunkBundles.bundle(parts,
      chunks3.map(_.toLong).product * ZarrSource.bytesPer(meta.dtype))
  }

  private def readDirMeta(spark: org.apache.spark.sql.SparkSession): ZarrSource.ZarrMeta = {
    val meta = ZarrSource.readMetaAny(path, spark.sparkContext.hadoopConfiguration)
    require(meta.shape.length == rank,
      s"zarr DSv2 expects a $rank-D array at $path, got ${meta.shape}")
    require(meta.order == "C", "only C-order zarr supported")
    meta
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val spark = org.apache.spark.sql.SparkSession.active
    val meta = readDirMeta(spark)
    new ZarrReaderFactory(meta, lo, hi, required.fieldNames,
      new SerializableConfiguration(spark.sparkContext.hadoopConfiguration))
  }
}

/** Offset = how many leading time slices of the growing array are
  * committed (zarr appends along time by enlarging `shape[0]`). */
private[sources] case class ZarrNtOffset(nt: Int)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = s"""{"nt": $nt}"""
}

/** A chunk re-planned for one micro-batch, with the batch's time bounds —
  * a chunk STRADDLING the previous offset is legitimately re-read, and
  * the bounds confine it to the new slices only. */
private[sources] case class ZarrStreamChunkPartition(ci: Int, cj: Int, ck: Int,
    filePath: String, lt0: Int, lt1: Int,
    meta: ZarrSource.ZarrMeta) extends InputPartition

/** `spark.readStream.format("zarr")` over a growing zarr ARRAY — the
  * reference's production stores append new days by enlarging the time
  * dimension in place (to_zarr(append_dim="time")). Each micro-batch
  * re-reads the array metadata; slices beyond the committed offset are
  * planned as their covering chunks, bounded to the fresh time range so a
  * partially-committed edge chunk never re-delivers old slices. */
private[sources] class ZarrMicroBatchStream(path: String, required: StructType,
    fillMissingTail: Boolean = false, rank: Int = 3)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset

  private def spark = org.apache.spark.sql.SparkSession.active

  private def metaNow(): ZarrSource.ZarrMeta = {
    val m = ZarrSource.readMetaAny(path, spark.sparkContext.hadoopConfiguration)
    require(m.shape.length == rank,
      s"zarr stream expects a $rank-D array at $path, got ${m.shape}")
    require(m.order == "C", "only C-order zarr supported")
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
    * shape (pre-cap behavior). */
  override def latestOffset(): Offset = {
    val meta = metaNow()
    val ntMeta = meta.shape.head
    if (fillMissingTail) return ZarrNtOffset(ntMeta)
    val shape3 = meta.shape.padTo(3, 1)
    val Seq(ct, cy, cx) = meta.chunks.padTo(3, 1)
    val nyC = (shape3(1) + cy - 1) / cy
    val nxC = (shape3(2) + cx - 1) / cx
    val glob = ZarrSource.chunkGlob(meta, path, rank)
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
    val Seq(_, ny, nx) = meta.shape.padTo(3, 1)
    val Seq(ct, cy, cx) = meta.chunks.padTo(3, 1)
    val nyC = (ny + cy - 1) / cy
    val nxC = (nx + cx - 1) / cx
    def keepT(ci: Int): Boolean = ci * ct <= e - 1 && ci * ct + ct - 1 >= s

    val glob = ZarrSource.chunkGlob(meta, path, rank)
    val gp = new org.apache.hadoop.fs.Path(glob)
    val fs = gp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val present = Option(fs.globStatus(gp)).map(_.toSeq).getOrElse(Seq.empty)
      .flatMap { st =>
        ZarrSource.parseChunkKey(meta, st.getPath.toString, rank)
          .map { ci0 =>
            val ci = ci0.padTo(3, 0)
            (ci(0), ci(1), ci(2)) -> st.getPath.toString
          }
      }.toMap

    (for {
      ci <- 0 until (e + ct - 1) / ct if keepT(ci)
      cj <- 0 until nyC
      ck <- 0 until nxC
    } yield ZarrStreamChunkPartition(ci, cj, ck,
      present.getOrElse((ci, cj, ck), ""), s, e - 1, meta)).toArray[InputPartition]
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val conf = new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)
    val columns = required.fieldNames
    new PartitionReaderFactory {
      override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
        val p = partition.asInstanceOf[ZarrStreamChunkPartition]
        // delegate to the batch chunk reader with the batch's time bounds
        new ZarrReaderFactory(p.meta,
          Array(p.lt0, Int.MinValue, Int.MinValue),
          Array(p.lt1, Int.MaxValue, Int.MaxValue), columns, conf)
          .createReader(ZarrChunkPartition(p.ci, p.cj, p.ck, p.filePath))
      }
    }
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

private[sources] class ZarrReaderFactory(meta: ZarrSource.ZarrMeta,
    lo: Array[Int], hi: Array[Int], columns: Array[String],
    conf: SerializableConfiguration) extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    partition match {
      case BundledPartition(ps) => return ChunkBundles.reader(ps, createReader)
      case _ =>
    }
    val part = partition.asInstanceOf[ZarrChunkPartition]
    new PartitionReader[InternalRow] {
      // a 2-D (time, cell) store pads to the 3-axis loop with nx = cx = 1;
      // products are unchanged, so decode lengths and flat indexing hold
      private val Seq(nt, ny, nx) = meta.shape.padTo(3, 1)
      private val Seq(ct, cy, cx) = meta.chunks.padTo(3, 1)
      private val bp = ZarrSource.bytesPer(meta.dtype)
      private val t0 = math.max(lo(0), 0); private val t1 = math.min(hi(0), nt - 1)
      private val y0 = math.max(lo(1), 0); private val y1 = math.min(hi(1), ny - 1)
      private val x0 = math.max(lo(2), 0); private val x1 = math.min(hi(2), nx - 1)

      private val raw: Array[Byte] =
        if (part.filePath.isEmpty) null
        else {
          val p = new org.apache.hadoop.fs.Path(part.filePath)
          val fs = p.getFileSystem(conf.value)
          val in = fs.open(p)
          try {
            val len = fs.getFileStatus(p).getLen
            meta.shard match {
              case Some(s) =>
                // sharded object: positioned reads fetch the index + ONLY
                // the inner chunks the pushed window intersects — cells of
                // skipped inner chunks stay fill, and the cell walk below
                // never leaves the window, so the padding is unobservable
                val (loL, hiL) = ZarrSource.localWindow(
                  Array(t0, y0, x0), Array(t1, y1, x1),
                  Seq(part.ci, part.cj, part.ck), Seq(ct, cy, cx),
                  s.innerChunks.length)
                ZarrSource.readShardWindow(ZarrSource.positionedReader(in),
                  len, meta, s, ct * cy * cx * bp, loL, hiL)
              case None =>
                val b = new Array[Byte](len.toInt)
                in.readFully(0, b, 0, b.length)
                ZarrSource.decodeChunk(b, meta, ct * cy * cx * bp)
            }
          } finally in.close()
        }
      private val buf =
        if (raw == null) null
        else ByteBuffer.wrap(raw).order(ZarrSource.byteOrderOf(meta.dtype))

      private var i = -1
      private var t = 0; private var yy = 0; private var xx = 0; private var v = 0.0
      private val n = ct * cy * cx

      override def next(): Boolean = {
        while ({ i += 1; i < n }) {
          t = part.ci * ct + i / (cy * cx)
          yy = part.cj * cy + (i / cx) % cy
          xx = part.ck * cx + i % cx
          if (t >= t0 && t <= t1 && yy >= y0 && yy <= y1 && xx >= x0 && xx <= x1) {
            // CF decode at emission (scale_factor/add_offset/_FillValue),
            // exactly like the netcdf scan — raw stored values never leak
            v =
              if (raw == null) meta.decodedFill
              else meta.cfDecode(ZarrSource.cellValue(raw, buf, meta.dtype, i, bp))
            return true
          }
        }
        false
      }

      // the scan's inner loop: column dispatch resolved ONCE (no per-row
      // string matching / Seq allocation) into a reused row buffer —
      // Spark's scan-exec projection copies each row out, so reuse is the
      // standard V2 reader pattern
      private val colCodes: Array[Int] = columns.map {
        case "t_idx" => 0
        case "y" | "cell" => 1 // unstructured: flat cell axis rides y
        case "x" => 2
        case "value" => 3
        case other => throw new IllegalStateException(s"unknown column $other")
      }
      private val rowVals = new Array[Any](colCodes.length)
      private val row = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(rowVals)

      override def get(): InternalRow = {
        var k = 0
        while (k < colCodes.length) {
          rowVals(k) = colCodes(k) match {
            case 0 => t
            case 1 => yy
            case 2 => xx
            case _ => v
          }
          k += 1
        }
        row
      }

      override def close(): Unit = ()
    }
  }
}

// ═══════════════════════════════════════════════════════════════════════════
// GROUP scan: `spark.read.format("zarr").load(groupDir)` with NO `var`
// option reads the whole dataset wide — the SQL-facing `xr.open_zarr`.
// ═══════════════════════════════════════════════════════════════════════════

/** Read plan of a group resolved once at table creation: the primary
  * (maximal-rank) dim tuple and its shared chunk grid, the dimension
  * coordinates, and the variable split. Mirrors [[ZarrGroup.readDataset]]'s
  * schema exactly: `<dim>_idx INT …, <dim> DOUBLE …, <var> DOUBLE …`. */
private[sources] object ZarrGroupTableV2 {

  /** Driver-side-materialization bound for coordinate axes and lower-rank
    * variables (cells): partition readers cannot express a join, so these
    * ride the task closure — 16 M doubles = 128 MB, already generous for
    * "metadata-sized". Bigger masks should use ZarrGroup.readDataset. */
  val SmallArrayCells: Long = 16L * 1024 * 1024

  final case class Layout(dir: String, primaryDims: Seq[String],
      shape: Seq[Int], chunks: Seq[Int], coordDims: Seq[String],
      dataVars: Seq[String], varMeta: Map[String, ZarrSource.ZarrMeta],
      varDims: Map[String, Seq[String]],
      coordMeta: Map[String, ZarrSource.ZarrMeta]) {
    def isPrimary(v: String): Boolean = varDims(v) == primaryDims
    def schema: StructType = StructType(
      primaryDims.map(d => StructField(s"${d}_idx", IntegerType, nullable = false)) ++
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
    Layout(dir, primaryDims, headMeta.shape, headMeta.chunks, coordDims,
      wanted, members.map(v => v.name -> v.meta).toMap,
      members.map(v => v.name -> v.dims).toMap,
      coordDims.map(d => d -> g.members(d).meta).toMap)
  }
}

private[sources] class ZarrGroupTableV2(path: String) extends Table with SupportsRead {
  private val lay = ZarrGroupTableV2.layout(path)
  override def name(): String = s"zarr-group:$path"
  override def schema(): StructType = lay.schema
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ZarrGroupScanBuilder(lay)
}

/** Pushdown: range predicates on ANY `<dim>_idx` column prune whole chunk
  * files on that dimension (the multi-dim generalization of the array
  * scan's t_idx prune); column pruning drops entire member ARRAYS from the
  * read — an unprojected variable's chunk files are never opened. Dim
  * ranges are exact at the reader, so they report fully pushed, and an
  * ungrouped `count(*)` collapses to a metadata-only answer. */
private[sources] class ZarrGroupScanBuilder(lay: ZarrGroupTableV2.Layout)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates {
  import org.apache.spark.sql.connector.expressions.aggregate.Aggregation

  private val lo = Array.fill(lay.primaryDims.length)(Int.MinValue)
  private val hi = Array.fill(lay.primaryDims.length)(Int.MaxValue)
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = lay.schema

  private def dimOf(attr: String): Int =
    lay.primaryDims.indexWhere(d => s"${d}_idx" == attr)

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
    // dim ranges are applied exactly by the reader; the rest stays post-scan
    filters.filterNot(accepted.contains)
  }

  override def pushedFilters(): Array[Filter] = pushed

  private var pushedAgg: Option[(Seq[Int], Seq[MetaAgg])] = None

  private def clampedBounds(): (Array[Int], Array[Int]) =
    (lay.primaryDims.indices.map(d => math.max(lo(d), 0)).toArray,
      lay.primaryDims.indices
        .map(d => math.min(hi(d).toLong, lay.shape(d) - 1L).toInt).toArray)

  private def metaAggsOf(agg: Aggregation): Option[(Seq[Int], Seq[MetaAgg])] =
    MetaAgg.parseGrouped(agg, lay.primaryDims.map(d => s"${d}_idx"))
      .filter { case (groups, _) =>
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
        val (loC, hiC) = clampedBounds()
        new MetadataAggScan(s"zarr-group:${lay.dir}",
          groups.map(d => s"${lay.primaryDims(d)}_idx"), aggs,
          () => MetadataAggScan.aggRows(groups, aggs, Seq((loC, hiC))))
      case None => new ZarrGroupScan(lay, lo.clone(), hi.clone(), required)
    }
}

private[sources] case class ZarrGroupChunkPartition(ci: Seq[Int]) extends InputPartition

/** Per-required-column read instruction, resolved once in the factory. */
private[sources] sealed trait ZGCol extends Serializable
private[sources] case class ZGDimIdx(d: Int) extends ZGCol
private[sources] case class ZGCoord(d: Int, values: Array[Double]) extends ZGCol
private[sources] case class ZGPrimary(k: Int) extends ZGCol // index into decoded list
private[sources] case class ZGSecondary(dimPos: Array[Int], strides: Array[Long],
    shape: Array[Int], values: Array[Double]) extends ZGCol

private[sources] class ZarrGroupScan(lay: ZarrGroupTableV2.Layout,
    lo: Array[Int], hi: Array[Int], required: StructType)
    extends Scan with Batch with SupportsReportStatistics {

  override def readSchema(): StructType = required

  /** Post-prune dense cell count across every pushed dimension range. */
  override def estimateStatistics(): Statistics = {
    val rows = lay.primaryDims.indices.map { d =>
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
    val ranges = lay.primaryDims.indices.collect {
      case d if lo(d) != Int.MinValue || hi(d) != Int.MaxValue =>
        s"${lay.primaryDims(d)}_idx in [${math.max(lo(d), 0)}, " +
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
        lay.primaryDims.indices.forall { d =>
          val first = ci(d) * lay.chunks(d)
          first <= hi(d) && first + lay.chunks(d) - 1 >= lo(d)
        }
      }
      .map(ci => ZarrGroupChunkPartition(ci): InputPartition).toArray
    // decoded bytes per chunk ≈ cells × 8 (doubles) × projected primary vars
    val nPrimary = math.max(1, required.fieldNames.count(n =>
      lay.dataVars.contains(n) && lay.isPrimary(n)))
    ChunkBundles.bundle(parts,
      lay.chunks.map(_.toLong).product * 8L * nPrimary)
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val spark = org.apache.spark.sql.SparkSession.active
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(lay.dir).getFileSystem(hconf)
    def loadSmall(name: String, meta: ZarrSource.ZarrMeta): Array[Double] = {
      val cells = meta.shape.map(_.toLong).product
      require(cells <= ZarrGroupTableV2.SmallArrayCells,
        s"member '$name' (${meta.shape.mkString("×")} cells) is too large to " +
          s"materialize in the zarr group scan — read it with " +
          s"ZarrGroup.readDataset, which broadcast-joins lower-rank variables")
      val a = ZarrGroup.readWholeArray(fs, s"${lay.dir}/$name", meta)
      if (meta.cf.isEmpty) a else a.map(meta.cfDecode)
    }
    // resolve each required column ONCE; unprojected variables never load
    val primaryNeeded = required.fieldNames.filter(n =>
      lay.dataVars.contains(n) && lay.isPrimary(n)).toSeq
    val cols: Array[ZGCol] = required.fieldNames.map { n =>
      val dimIdx = lay.primaryDims.indexWhere(d => s"${d}_idx" == n)
      if (dimIdx >= 0) ZGDimIdx(dimIdx)
      else if (lay.coordDims.contains(n))
        ZGCoord(lay.primaryDims.indexOf(n), loadSmall(n, lay.coordMeta(n)))
      else if (lay.isPrimary(n)) ZGPrimary(primaryNeeded.indexOf(n))
      else {
        val meta = lay.varMeta(n)
        val dims = lay.varDims(n)
        val strides = new Array[Long](dims.length)
        var s = 1L
        for (d <- (dims.length - 1) to 0 by -1) { strides(d) = s; s *= meta.shape(d) }
        ZGSecondary(dims.map(lay.primaryDims.indexOf).toArray, strides,
          meta.shape.toArray, loadSmall(n, meta))
      }
    }
    new ZarrGroupReaderFactory(lay.dir, lay.shape.toArray, lay.chunks.toArray,
      primaryNeeded.map(n => (n, lay.varMeta(n))), cols, lo, hi,
      new SerializableConfiguration(hconf))
  }
}

private[sources] class ZarrGroupReaderFactory(dir: String, shape: Array[Int],
    chunks: Array[Int], primaryVars: Seq[(String, ZarrSource.ZarrMeta)],
    cols: Array[ZGCol], lo: Array[Int], hi: Array[Int],
    conf: SerializableConfiguration) extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    partition match {
      case BundledPartition(ps) => return ChunkBundles.reader(ps, createReader)
      case _ =>
    }
    val ci = partition.asInstanceOf[ZarrGroupChunkPartition].ci
    new PartitionReader[InternalRow] {
      private val nd = shape.length
      private val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf.value)
      // chunk-local window from the pushed dim ranges; sharded members
      // byte-range-read only the inner chunks it intersects
      private val window = ZarrSource.localWindow(lo, hi, ci, chunks.toSeq, nd)
      private val perVar: Seq[Array[Double]] =
        primaryVars.map { case (n, m) =>
          val vs = ZarrGroup.chunkValuesWindow(fs, s"$dir/$n", m, ci,
            window._1, window._2)
          if (m.cf.isEmpty) vs
          else { var i = 0; while (i < vs.length) { vs(i) = m.cfDecode(vs(i)); i += 1 }; vs }
        }
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
            if (g >= shape(d) || g < lo(d) || g > hi(d)) ok = false else gidx(d) = g
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
            case ZGPrimary(k) => perVar(k)(i)
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
