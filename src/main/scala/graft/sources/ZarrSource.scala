package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.Inflater

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Zarr v2 + v3 directory ingest — the reference's native storage format
  * (marEx reads/writes zarr throughout, e.g. detect.py:409, track.py:1748;
  * zarr-python ≥3 / current xarray write the v3 layout by default).
  *
  * Scope: C-order arrays, either endianness, dtypes f4 f8 i4 i8 u4 i2 u2
  * and the 1-byte family, with CF `scale_factor`/`add_offset`/`_FillValue`
  * decode from `.zattrs` / v3 attributes (the `mask_and_scale` behavior of
  * the reference's `xr.open_zarr` entry point,
  * tests/test_gridded_preprocessing.py:20 — packed i2 satellite/CMIP
  * conversions read back as physical values). v2 chunk compression: raw,
  * zlib, or blosc-lz4
  * (byte-shuffle, split/memcpy frames — [[Blosc]]); that covers the
  * reference's own fixtures (zarr v2 default blosc/lz4/shuffle=1) and
  * `compressor=zlib/None`. v3 codec chains: `bytes` (either endian) +
  * optional `gzip`/`zstd`/`blosc` compression + optional trailing `crc32c`
  * (verified) — zarr-python 3's default chain is `bytes → zstd` — plus
  * `sharding_indexed` (one level: inner chunks + verified end/start index
  * per stored object). The `transpose` codec and nested sharding are
  * rejected with a clear error, as is the v1 layout.
  *
  * This object holds the metadata parsers, the chunk codecs, the
  * driver-side readers and the writers. Distributed reads of a (time, y, x)
  * or (time, cell) array go through the `zarr` DataSourceV2
  * ([[ZarrDataSourceV2]]: `spark.read.format("zarr").load(dir)`), which
  * plans one task per chunk file and prunes whole chunk files on pushed
  * `t_idx`/`y`/`x` ranges, on any Hadoop-compatible filesystem.
  */
object ZarrSource extends Serializable {

  /** v3 codec-chain entry (array→bytes or bytes→bytes). Compression levels
    * only matter on write, so readers keep none of the configuration except
    * the `bytes` endianness — which is folded into [[ZarrMeta.dtype]]. */
  sealed trait V3Codec extends Serializable
  case object GzipC extends V3Codec
  case object ZstdC extends V3Codec
  case object BloscC extends V3Codec
  case object Crc32cC extends V3Codec

  /** `sharding_indexed` configuration: each stored object (one per OUTER
    * chunk of the chunk grid) packs a grid of inner chunks plus an index of
    * `(offset, nbytes)` u64-LE pairs, one per inner chunk in C order,
    * `0xFF…FF` for inner chunks elided as all-fill. The index sits at the
    * file start or end and is protected by its own codec chain (crc32c by
    * default — verified). This is Zarr v3's object-count control at scale:
    * a 100 TB store keeps chunk-grid parallelism without creating billions
    * of small objects. `innerShard` carries a NESTED sharding_indexed
    * chain (each inner chunk is itself a shard object) — read-supported to
    * arbitrary depth; this library writes one level. */
  final case class ShardSpec(innerChunks: Seq[Int], innerCodecs: Seq[V3Codec],
      indexCrc: Boolean, indexAtEnd: Boolean,
      innerShard: Option[ShardSpec] = None)

  /** CF packed-data attributes (`scale_factor`/`add_offset`/`_FillValue`
    * from `.zattrs` / v3 `attributes`): raw stored values decode to
    * physical ones exactly as `xr.open_zarr`'s default `mask_and_scale`
    * does — the reference's own entry point
    * (tests/test_gridded_preprocessing.py:20) — and exactly as this repo's
    * netcdf scan already does. `_FillValue` compares in RAW space and maps
    * to NaN BEFORE scaling. */
  final case class CfAttrs(scale: Double, offset: Double,
      fillRaw: Option[Double]) extends Serializable {
    def decode(raw: Double): Double =
      if (fillRaw.exists(f => f == raw || (f.isNaN && raw.isNaN))) Double.NaN
      else raw * scale + offset
  }

  object CfAttrs {
    /** Parse CF attributes from a `.zattrs` / v3 `attributes` JSON object;
      * None when no packing/masking is declared (the common case — zero
      * overhead on unpacked stores). */
    def fromJson(attrs: JValue): Option[CfAttrs] = {
      def num(k: String): Option[Double] = (attrs \ k) match {
        case JDouble(d) => Some(d)
        case JInt(i) => Some(i.toDouble)
        case JLong(i) => Some(i.toDouble)
        case _ => None
      }
      val scale = num("scale_factor").getOrElse(1.0)
      val offset = num("add_offset").getOrElse(0.0)
      val fill = num("_FillValue")
      // identity transforms (xarray stamps `_FillValue: NaN` on plain float
      // arrays) are NOT packing: NaN already reads as NaN
      if (scale == 1.0 && offset == 0.0 && fill.forall(_.isNaN)) None
      else Some(CfAttrs(scale, offset, fill))
    }
  }

  /** A zarr v2 pre-compression FILTER (numcodecs): transforms cell bytes
    * BEFORE the compressor on write, so decode reverses it after
    * decompression. The two filters real v2 archives actually carry are
    * supported; everything else stays a named error ([[readMeta]]). */
  sealed trait V2Filter extends Serializable {
    /** dtype code of the bytes AS STORED (the filter's `astype`). */
    def astype: String
  }
  /** numcodecs `delta`: stored values are consecutive differences in
    * `astype` space; decode is a cumulative sum back to `dtype`. */
  final case class DeltaF(dtype: String, astype: String) extends V2Filter
  /** numcodecs `fixedscaleoffset`: stored = round((x − offset) × scale)
    * in `astype`; decode x = stored / scale + offset. */
  final case class FixedScaleOffsetF(scale: Double, offset: Double,
      dtype: String, astype: String) extends V2Filter

  /** Unified v2/v3 metadata. `dtype` is always a v2-style code whose
    * prefix carries endianness (`<f8`, `>i4`, `|b1`) — for v3 the prefix
    * comes from the `bytes` codec. `keyPrefix`/`keySep` describe chunk-file
    * naming: v2 = ("", "."); v3 default encoding = ("c", "/" or "."); v3
    * "v2" encoding = ("", sep). `cf` carries the CF packed-data decode;
    * `coordLike` marks a rank-1 group member indexing its own dimension —
    * ONLY those tolerate oversized chunk decodes (the append crash window
    * on [[decodeChunk]]); 1-D DATA variables keep the strict size check.
    * `v2Filters` is the parsed pre-compression filter chain (write
    * order). */
  final case class ZarrMeta(
      shape: Seq[Int], chunks: Seq[Int], dtype: String,
      compressor: Option[String], fillValue: Double, order: String,
      format: Int = 2, keyPrefix: String = "", keySep: String = ".",
      v3Codecs: Seq[V3Codec] = Nil, shard: Option[ShardSpec] = None,
      cf: Option[CfAttrs] = None, coordLike: Boolean = false,
      v2Filters: Seq[V2Filter] = Nil, transpose: Option[Seq[Int]] = None) {
    /** Raw stored value → physical value (identity on unpacked stores). */
    def cfDecode(raw: Double): Double = cf match {
      case None => raw
      case Some(c) => c.decode(raw)
    }
    /** [[cfDecode]] over raw values IN PLACE — callers pass an array they
      * just decoded, so a packed chunk costs no second allocation; returns
      * `raw`. */
    def cfDecodeAll(raw: Array[Double]): Array[Double] = {
      if (cf.nonEmpty) {
        var i = 0
        while (i < raw.length) { raw(i) = cfDecode(raw(i)); i += 1 }
      }
      raw
    }
    /** The fill value as a READER should surface it (CF-decoded). */
    def decodedFill: Double = cfDecode(fillValue)
  }

  /** Parse `.zarray` metadata (JSON; json4s ships with Spark). */
  def readMeta(zarrayJson: String): ZarrMeta = {
    implicit val fmts: Formats = DefaultFormats
    val j = JsonMethods.parse(zarrayJson)
    val shape = (j \ "shape").extract[Seq[Int]]
    val chunks = (j \ "chunks").extract[Seq[Int]]
    val dtype = (j \ "dtype").extract[String]
    val comp = (j \ "compressor") match {
      case JNull | JNothing => None
      case c => Some((c \ "id").extract[String])
    }
    val fill = (j \ "fill_value") match {
      case JDouble(d) => d
      case JInt(i) => i.toDouble
      // the v2 spec encodes non-finite fills as strings
      case JString("Infinity") => Double.PositiveInfinity
      case JString("-Infinity") => Double.NegativeInfinity
      case _ => Double.NaN
    }
    val order = (j \ "order").extractOrElse[String]("C")
    // zarr-python ≥2.8 stores may key chunks "t/y/x" instead of "t.y.x"
    // (the object-store-friendly layout xarray's to_zarr exposes via
    // `dimension_separator`); IGNORING it would FileNotFound every chunk
    // and silently read the whole array as fill
    val sep = (j \ "dimension_separator") match {
      case JString(s) =>
        require(s == "." || s == "/",
          s"zarr v2 dimension_separator '$s' (want '.' or '/')")
        s
      case JNull | JNothing => "."
      case other => throw new IllegalArgumentException(
        s"malformed zarr v2 'dimension_separator': $other")
    }
    // v2 pre-compression filters transform the cell bytes BEFORE the
    // compressor: ignoring one would decompress fine and then read
    // transformed bytes as raw values — silent wrong data. The two
    // numcodecs filters real archives actually carry (delta,
    // fixedscaleoffset) are DECODED; any other id stays a named error.
    val v2Filters: Seq[V2Filter] = (j \ "filters") match {
      case JNull | JNothing | JArray(Nil) => Nil
      case JArray(fs) =>
        fs.map { f =>
          def str(k: String, dflt: String): String =
            (f \ k) match { case JString(s) => s; case _ => dflt }
          def num(k: String): Option[Double] = (f \ k) match {
            case JDouble(d) => Some(d)
            case JInt(i) => Some(i.toDouble)
            case JLong(i) => Some(i.toDouble)
            case _ => None
          }
          (f \ "id").extractOrElse[String]("?") match {
            case "delta" =>
              val dt = str("dtype", dtype)
              DeltaF(dt, str("astype", dt))
            case "fixedscaleoffset" =>
              val dt = str("dtype", dtype)
              FixedScaleOffsetF(
                num("scale").getOrElse(throw new IllegalArgumentException(
                  "fixedscaleoffset filter missing 'scale'")),
                num("offset").getOrElse(0.0), dt, str("astype", dt))
            case other => throw new IllegalArgumentException(
              s"zarr v2 filter '$other' is not supported — refusing to " +
                "misread filtered chunks (supported: delta, fixedscaleoffset)")
          }
        }
      case other => throw new IllegalArgumentException(
        s"malformed zarr v2 'filters' entry: $other")
    }
    ZarrMeta(shape, chunks, dtype, comp, fill, order, keySep = sep,
      v2Filters = v2Filters)
  }

  /** Parse v3 `zarr.json` array metadata into the unified [[ZarrMeta]]. */
  def readMetaV3(zarrJson: String): ZarrMeta = {
    implicit val fmts: Formats = DefaultFormats
    val j = JsonMethods.parse(zarrJson)
    require((j \ "zarr_format").extract[Int] == 3, "zarr.json is not zarr_format 3")
    require((j \ "node_type").extract[String] == "array",
      "zarr.json node_type must be 'array' (open the array directory, not the group)")
    val shape = (j \ "shape").extract[Seq[Int]]
    val grid = j \ "chunk_grid"
    require((grid \ "name").extract[String] == "regular",
      s"unsupported chunk_grid '${(grid \ "name").extract[String]}' (only 'regular')")
    val chunks = (grid \ "configuration" \ "chunk_shape").extract[Seq[Int]]
    val fill = (j \ "fill_value") match {
      case JDouble(d) => d
      case JInt(i) => i.toDouble
      case JLong(i) => i.toDouble
      case JBool(b) => if (b) 1.0 else 0.0
      case JString("NaN") => Double.NaN
      case JString("Infinity") => Double.PositiveInfinity
      case JString("-Infinity") => Double.NegativeInfinity
      case _ => Double.NaN
    }
    // key encoding: default = "c" prefix, sep "/" unless configured "."
    val (kp, ks) = (j \ "chunk_key_encoding") match {
      case JNothing | JNull => ("c", "/")
      case enc =>
        val sep = (enc \ "configuration" \ "separator").extractOrElse[String]("/")
        (enc \ "name").extract[String] match {
          case "default" => ("c", sep)
          case "v2" => ("", sep)
          case other => throw new IllegalArgumentException(
            s"unsupported chunk_key_encoding '$other'")
        }
    }
    // codec chain: exactly one array→bytes codec ("bytes"), which sets
    // endianness; everything after it is bytes→bytes. A top-level
    // `sharding_indexed` wraps an inner chain instead.
    def parseChain(cs: List[JValue])
        : (Boolean, Seq[V3Codec], Option[ShardSpec], Option[Seq[Int]]) = {
      var little = true
      var shard: Option[ShardSpec] = None
      var transpose: Option[Seq[Int]] = None
      val flat = cs.flatMap { c =>
        (c \ "name").extract[String] match {
          case "bytes" | "endian" =>
            little = (c \ "configuration" \ "endian")
              .extractOrElse[String]("little") == "little"
            None
          case "gzip" => Some(GzipC)
          case "zstd" => Some(ZstdC)
          case "blosc" => Some(BloscC)
          case "crc32c" => Some(Crc32cC)
          case "transpose" =>
            // array→array: stored cells are the chunk with axes permuted;
            // decode un-permutes AFTER the byte chain ([[decodeChunk]]);
            // transpose INSIDE a shard is rejected at the shard parse
            transpose = Some((c \ "configuration" \ "order").extract[Seq[Int]])
            None
          case "sharding_indexed" =>
            // nested sharding parses recursively (an inner chunk that is
            // itself a shard object); reads support arbitrary depth
            val cfg = c \ "configuration"
            val inner = (cfg \ "chunk_shape").extract[Seq[Int]]
            val (innerLittle, innerCodecs, innerShard, innerT) = (cfg \ "codecs") match {
              case JArray(ics) => parseChain(ics)
              case _ => (true, Nil, None, None)
            }
            require(innerT.isEmpty, "transpose inside sharding_indexed not supported")
            innerShard.foreach { ns =>
              require(ns.innerChunks.length == inner.length &&
                ns.innerChunks.indices.forall(d => inner(d) % ns.innerChunks(d) == 0),
                s"nested shard inner shape ${ns.innerChunks} must divide $inner")
              require(innerCodecs.isEmpty,
                "codecs outside a nested sharding_indexed not supported")
            }
            little = innerLittle
            val idxCrc = (cfg \ "index_codecs") match {
              case JArray(ics) => ics.exists(ic => (ic \ "name").extract[String] == "crc32c")
              case _ => true // spec default index chain is bytes+crc32c
            }
            val atEnd = (cfg \ "index_location").extractOrElse[String]("end") == "end"
            shard = Some(ShardSpec(inner, innerCodecs, idxCrc, atEnd, innerShard))
            None
          case other => throw new IllegalArgumentException(
            s"unsupported zarr v3 codec '$other'")
        }
      }
      (little, flat, shard, transpose)
    }
    val (little, codecs, shard, transposeOrd) = (j \ "codecs") match {
      case JArray(cs) => parseChain(cs)
      case _ => (true, Nil, None, None)
    }
    transposeOrd.foreach { ord =>
      require(shard.isEmpty, "transpose + sharding_indexed not supported")
      require(ord.sorted == shape.indices.toSeq,
        s"transpose order ${ord.mkString(",")} is not a permutation of " +
          s"0..${shape.length - 1}")
    }
    shard.foreach { s =>
      require(s.innerChunks.length == chunks.length &&
        s.innerChunks.indices.forall(d => chunks(d) % s.innerChunks(d) == 0),
        s"shard inner chunk shape ${s.innerChunks} must divide chunk shape $chunks")
      require(codecs.isEmpty,
        "codecs outside sharding_indexed not supported (compression belongs on the inner chain)")
    }
    val pre = if (little) "<" else ">"
    val dtype = (j \ "data_type").extract[String] match {
      case "float64" => pre + "f8"
      case "float32" => pre + "f4"
      case "int64" => pre + "i8"
      case "int32" => pre + "i4"
      case "uint32" => pre + "u4"
      case "int16" => pre + "i2"
      case "uint16" => pre + "u2"
      case "bool" => "|b1"
      case "int8" => "|i1"
      case "uint8" => "|u1"
      case other => throw new IllegalArgumentException(
        s"unsupported zarr v3 data_type '$other'")
    }
    ZarrMeta(shape, chunks, dtype, None, fill, "C",
      format = 3, keyPrefix = kp, keySep = ks, v3Codecs = codecs, shard = shard,
      cf = CfAttrs.fromJson(j \ "attributes"), transpose = transposeOrd)
  }

  /** Read a directory's array metadata: v3 `zarr.json` if present, else v2
    * `.zarray` (+ CF attributes from its `.zattrs` sidecar, when present),
    * via the Hadoop FS API (works on any supported filesystem). */
  def readMetaAny(dir: String, conf: org.apache.hadoop.conf.Configuration): ZarrMeta = {
    val d = new org.apache.hadoop.fs.Path(dir)
    val fs = d.getFileSystem(conf)
    def slurp(p: org.apache.hadoop.fs.Path): String = {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in).mkString finally in.close()
    }
    val v3 = new org.apache.hadoop.fs.Path(dir, "zarr.json")
    if (fs.exists(v3)) readMetaV3(slurp(v3))
    else {
      val meta = readMeta(slurp(new org.apache.hadoop.fs.Path(dir, ".zarray")))
      val za = new org.apache.hadoop.fs.Path(dir, ".zattrs")
      if (!fs.exists(za)) meta
      else meta.copy(cf = CfAttrs.fromJson(JsonMethods.parse(slurp(za))))
    }
  }

  private[sources] def bytesPer(dtype: String): Int = dtype.substring(1) match {
    case "f4" | "i4" | "u4" => 4
    case "f8" | "i8" => 8
    case "i2" | "u2" => 2
    case "b1" | "i1" | "u1" => 1
    case _ => throw new IllegalArgumentException(s"unsupported zarr dtype $dtype")
  }

  private[sources] def byteOrderOf(dtype: String): ByteOrder =
    if (dtype.startsWith(">")) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN

  /** Decode one numeric cell from a chunk's raw bytes (RAW stored value —
    * callers apply [[ZarrMeta.cfDecode]] at emission). */
  private[sources] def cellValue(raw: Array[Byte], buf: ByteBuffer, dtype: String,
      i: Int, bp: Int): Double = dtype.substring(1) match {
    case "f4" => buf.getFloat(i * bp).toDouble
    case "f8" => buf.getDouble(i * bp)
    case "i4" => buf.getInt(i * bp).toDouble
    case "i8" => buf.getLong(i * bp).toDouble
    case "u4" => (buf.getInt(i * bp) & 0xffffffffL).toDouble
    case "i2" => buf.getShort(i * bp).toDouble
    case "u2" => (buf.getShort(i * bp) & 0xffff).toDouble
    case "i1" => raw(i).toDouble // numpy |i1 is signed
    case _ => (raw(i) & 0xff).toDouble // b1, u1
  }

  /** Chunk-file path (relative to the array dir) for grid index `ci`. */
  private[sources] def chunkKey(meta: ZarrMeta, ci: Seq[Int]): String = {
    val parts = if (meta.keyPrefix.isEmpty) ci.map(_.toString)
      else meta.keyPrefix +: ci.map(_.toString)
    parts.mkString(meta.keySep)
  }

  /** Parse a chunk file's (possibly nested) path back to its grid index,
    * or None for non-chunk files (metadata, attributes …). */
  private[sources] def parseChunkKey(meta: ZarrMeta, fullPath: String,
      nd: Int): Option[Seq[Int]] = {
    val segs = fullPath.split('/').filter(_.nonEmpty)
    val tailSegs =
      if (meta.keySep == "/") {
        val need = nd + (if (meta.keyPrefix.isEmpty) 0 else 1)
        if (segs.length < need) return None
        segs.takeRight(need).toSeq
      } else {
        segs.lastOption.toSeq.flatMap(_.split(java.util.regex.Pattern.quote(meta.keySep)).toSeq)
      }
    val idx = if (meta.keyPrefix.nonEmpty) {
      if (tailSegs.headOption.contains(meta.keyPrefix)) tailSegs.tail else return None
    } else tailSegs
    if (idx.length == nd && idx.forall(_.matches("\\d+"))) Some(idx.map(_.toInt))
    else None
  }

  /** Glob matching every chunk file of an `nd`-dimensional array. */
  private[sources] def chunkGlob(meta: ZarrMeta, dir: String, nd: Int): String =
    if (meta.keySep == "/") {
      val stars = Seq.fill(nd)("*").mkString("/")
      if (meta.keyPrefix.isEmpty) s"$dir/$stars" else s"$dir/${meta.keyPrefix}/$stars"
    } else s"$dir/*"

  /** Decode a chunk file's bytes to the raw C-order cell bytes, whatever
    * the format: v2 compressor or v3 codec chain (applied in reverse —
    * trailing crc32c verified and stripped first).
    *
    * COORDINATE chunks (rank-1 group members indexing their own dimension,
    * `meta.coordLike`) tolerate decoding to MORE bytes than the metadata
    * advertises, keeping the prefix: [[ZarrGroup.appendDataset]] grows the
    * coordinate chunk BEFORE its metadata patch lands (step 2 vs 3), so a
    * live reader — or anyone after a crash between the two — sees an
    * oversized chunk under the old shape; slicing restores exactly the
    * pre-append view and makes append retries safe. The tolerance is
    * scoped to coordinates because only they are grown ahead of metadata;
    * 1-D DATA variables, data chunks (rank ≥ 2), and short decodes stay
    * strict errors — a corrupt too-long data chunk must raise, not
    * silently truncate. */
  private[sources] def decodeChunk(data: Array[Byte], meta: ZarrMeta,
      rawLen: Int): Array[Byte] = {
    val oversizeOk = meta.shape.length == 1 && meta.coordLike &&
      meta.v2Filters.isEmpty
    if (meta.format == 2 && meta.v2Filters.nonEmpty) {
      // filtered chunks store the LAST filter's astype: decompress at the
      // stored element size, then reverse the filter chain back to dtype
      val nCells = rawLen / bytesPer(meta.dtype)
      val storedLen = nCells * bytesPer(meta.v2Filters.last.astype)
      return undoV2Filters(
        decompress(data, meta.compressor, storedLen), meta, nCells)
    }
    val out0 = if (meta.format == 2) decompress(data, meta.compressor, rawLen, oversizeOk)
    else meta.shard match {
      case None => decodeV3Chain(data, meta.v3Codecs, rawLen, oversizeOk)
      case Some(s) => assembleShard(data, meta, s, rawLen)
    }
    val out = meta.transpose match {
      case Some(ord) => unTranspose(out0, meta, ord)
      case None => out0
    }
    if (oversizeOk && out.length > rawLen) java.util.Arrays.copyOf(out, rawLen)
    else out
  }

  /** ONE mixed-radix index walk for both directions of the v3 `transpose`
    * codec: for each stored C-order flat index `s` (over the permuted
    * shape), compute the logical flat index `flat` and copy one cell —
    * stored→logical when decoding (`gather = false`), logical→stored when
    * encoding (`gather = true`). Keeping a single walk keeps the codec
    * self-inverse by construction. */
  private def transposeCopy(src: Array[Byte], chunks: Seq[Int],
      ord: Seq[Int], bp: Int, gather: Boolean): Array[Byte] = {
    val nd = ord.length
    val storedShape = Array.tabulate(nd)(i => chunks(ord(i)))
    val n = chunks.product
    // name the input the caller actually passed: the logical chunk when
    // encoding (gather), the stored permuted chunk when decoding
    require(src.length == n * bp,
      s"${if (gather) "chunk" else "transposed chunk"} holds " +
        s"${src.length} bytes, expected ${n * bp}")
    val out = new Array[Byte](src.length)
    val si = new Array[Int](nd)
    val li = new Array[Int](nd)
    var s = 0
    while (s < n) {
      var rem = s
      var d = nd - 1
      while (d >= 0) { si(d) = rem % storedShape(d); rem /= storedShape(d); d -= 1 }
      d = 0
      while (d < nd) { li(ord(d)) = si(d); d += 1 }
      var flat = 0
      d = 0
      while (d < nd) { flat = flat * chunks(d) + li(d); d += 1 }
      if (gather) System.arraycopy(src, flat * bp, out, s * bp, bp)
      else System.arraycopy(src, s * bp, out, flat * bp, bp)
      s += 1
    }
    out
  }

  /** Undo the v3 `transpose` codec: stored bytes are the chunk with axes
    * permuted (`stored = chunk.transpose(order)`, C-order) — scatter each
    * stored cell back to its logical C-order position. */
  private def unTranspose(stored: Array[Byte], meta: ZarrMeta,
      ord: Seq[Int]): Array[Byte] =
    transposeCopy(stored, meta.chunks, ord, bytesPer(meta.dtype), gather = false)

  /** Apply the v3 `transpose` codec (write direction, dual of
    * [[unTranspose]]): gather each logical C-order cell into its permuted
    * stored position (`stored = chunk.transpose(order)`). */
  private[sources] def doTranspose(raw: Array[Byte], chunks: Seq[Int],
      ord: Seq[Int], bp: Int): Array[Byte] =
    transposeCopy(raw, chunks, ord, bp, gather = true)

  private def isIntCode(dt: String): Boolean = dt.substring(1) match {
    case "i1" | "i2" | "i4" | "i8" | "u1" | "u2" | "u4" | "b1" => true
    case _ => false
  }

  /** Integer cell read/write at dtype-code granularity — the delta filter's
    * canonical payload is i8 nanosecond timestamps, where a double-space
    * cumulative sum would lose precision past 2^53. */
  private def intAt(raw: Array[Byte], buf: ByteBuffer, dt: String, i: Int): Long =
    dt.substring(1) match {
      case "i8" => buf.getLong(i * 8)
      case "i4" => buf.getInt(i * 4).toLong
      case "u4" => buf.getInt(i * 4) & 0xffffffffL
      case "i2" => buf.getShort(i * 2).toLong
      case "u2" => (buf.getShort(i * 2) & 0xffff).toLong
      case "i1" => raw(i).toLong
      case _ => (raw(i) & 0xff).toLong
    }

  private def putIntAt(out: Array[Byte], buf: ByteBuffer, dt: String, i: Int,
      v: Long): Unit = dt.substring(1) match {
    case "i8" => buf.putLong(i * 8, v)
    case "i4" | "u4" => buf.putInt(i * 4, v.toInt)
    case "i2" | "u2" => buf.putShort(i * 2, v.toShort)
    case _ => out(i) = v.toByte
  }

  private def putValAt(out: Array[Byte], buf: ByteBuffer, dt: String, i: Int,
      v: Double): Unit = dt.substring(1) match {
    case "f8" => buf.putDouble(i * 8, v)
    case "f4" => buf.putFloat(i * 4, v.toFloat)
    case "i8" => buf.putLong(i * 8, math.rint(v).toLong)
    case "i4" | "u4" => buf.putInt(i * 4, math.rint(v).toInt)
    case "i2" | "u2" => buf.putShort(i * 2, math.rint(v).toShort)
    case _ => out(i) = math.rint(v).toByte
  }

  /** Reverse a v2 filter chain (decode direction — last filter first):
    * each step reads `nCells` values in the filter's `astype` and emits
    * them in its `dtype`, which is the next step's astype (or the array's
    * dtype at the end of the chain). */
  private[sources] def undoV2Filters(stored: Array[Byte], meta: ZarrMeta,
      nCells: Int): Array[Byte] = {
    var cur = stored
    meta.v2Filters.reverse.foreach { f =>
      val at = f.astype
      val (dt, outBytes) = f match {
        case DeltaF(d, _) => (d, nCells * bytesPer(d))
        case FixedScaleOffsetF(_, _, d, _) => (d, nCells * bytesPer(d))
      }
      require(cur.length == nCells * bytesPer(at),
        s"filtered zarr chunk holds ${cur.length} bytes, expected " +
          s"${nCells * bytesPer(at)} ($at × $nCells)")
      val in = ByteBuffer.wrap(cur).order(byteOrderOf(at))
      val out = new Array[Byte](outBytes)
      val ob = ByteBuffer.wrap(out).order(byteOrderOf(dt))
      f match {
        case DeltaF(d, _) if isIntCode(at) && isIntCode(d) =>
          var acc = 0L
          var i = 0
          while (i < nCells) {
            acc += intAt(cur, in, at, i)
            putIntAt(out, ob, d, i, acc)
            i += 1
          }
        case DeltaF(d, _) =>
          var acc = 0.0
          var i = 0
          while (i < nCells) {
            acc += cellValue(cur, in, at, i, bytesPer(at))
            putValAt(out, ob, d, i, acc)
            i += 1
          }
        case FixedScaleOffsetF(scale, offset, d, _) =>
          var i = 0
          while (i < nCells) {
            putValAt(out, ob, d, i,
              cellValue(cur, in, at, i, bytesPer(at)) / scale + offset)
            i += 1
          }
      }
      cur = out
    }
    require(cur.length == nCells * bytesPer(meta.dtype),
      s"filter chain decoded to ${cur.length} bytes, expected " +
        s"${nCells * bytesPer(meta.dtype)} — the first filter's dtype " +
        s"(${meta.v2Filters.head}) must match the array dtype ${meta.dtype}")
    cur
  }

  /** Apply a v3 bytes→bytes codec chain in reverse (decode direction).
    * `oversizeOk` permits a decode LARGER than `rawLen` (caller slices) —
    * the append-in-flight coordinate case documented on [[decodeChunk]]. */
  private[sources] def decodeV3Chain(data: Array[Byte], codecs: Seq[V3Codec],
      rawLen: Int, oversizeOk: Boolean = false): Array[Byte] = {
    var cur = data
    codecs.reverse.foreach {
      case Crc32cC =>
        require(cur.length >= 4, "crc32c codec: chunk shorter than checksum")
        val crc = new java.util.zip.CRC32C
        crc.update(cur, 0, cur.length - 4)
        val stored = ByteBuffer.wrap(cur, cur.length - 4, 4)
          .order(ByteOrder.LITTLE_ENDIAN).getInt
        if (stored != crc.getValue.toInt)
          throw new java.io.IOException(
            f"crc32c mismatch: stored 0x$stored%08x computed 0x${crc.getValue.toInt}%08x")
        cur = java.util.Arrays.copyOf(cur, cur.length - 4)
      case GzipC =>
        val in = new java.util.zip.GZIPInputStream(
          new java.io.ByteArrayInputStream(cur))
        val out = new Array[Byte](rawLen)
        var off = 0
        try {
          while (off < rawLen) {
            val n = in.read(out, off, rawLen - off)
            if (n < 0) throw new java.io.IOException(
              s"truncated gzip chunk: decoded $off of $rawLen bytes")
            off += n
          }
        } finally in.close()
        cur = out
      case ZstdC =>
        // oversize tolerance needs the DECLARED frame size; frames without
        // one (streaming encoders) keep the strict exact-size decode they
        // always had — only a declared-larger frame takes the grown path
        val declared =
          if (oversizeOk) com.github.luben.zstd.Zstd.getFrameContentSize(cur) else -1L
        cur =
          if (declared > rawLen && declared <= Int.MaxValue)
            com.github.luben.zstd.Zstd.decompress(cur, declared.toInt)
          else com.github.luben.zstd.Zstd.decompress(cur, rawLen)
      case BloscC =>
        cur = Blosc.decompress(cur)
    }
    if (cur.length != rawLen && !(oversizeOk && cur.length > rawLen))
      throw new java.io.IOException(
        s"zarr v3 chunk decoded to ${cur.length} bytes, expected $rawLen")
    cur
  }

  /** One element's byte pattern for the array's fill value. */
  private def fillPattern(meta: ZarrMeta): Array[Byte] = {
    val bp = bytesPer(meta.dtype)
    val b = ByteBuffer.allocate(bp).order(byteOrderOf(meta.dtype))
    meta.dtype.substring(1) match {
      case "f8" => b.putDouble(meta.fillValue)
      case "f4" => b.putFloat(meta.fillValue.toFloat)
      case "i8" => b.putLong(meta.fillValue.toLong)
      case "i4" => b.putInt(meta.fillValue.toInt)
      case "u4" => b.putInt(meta.fillValue.toLong.toInt)
      case "i2" | "u2" => b.putShort(meta.fillValue.toInt.toShort)
      case _ => b.put(meta.fillValue.toInt.toByte)
    }
    b.array()
  }

  /** Decode a fully-loaded `sharding_indexed` stored object into the full
    * outer-chunk C-order buffer — [[readShardWindow]] over the byte array
    * with an unbounded window. */
  private def assembleShard(data: Array[Byte], meta: ZarrMeta, s: ShardSpec,
      rawLen: Int): Array[Byte] =
    readShardWindow((off, len) => java.util.Arrays.copyOfRange(
      data, off.toInt, off.toInt + len), data.length, meta, s, rawLen,
      Array.fill(s.innerChunks.length)(0),
      meta.chunks.map(_ - 1).toArray, alreadyLoaded = true)

  /** Positioned-read thunk over an opened Hadoop stream — the byte
    * provider every shard-window read site shares. */
  private[sources] def positionedReader(
      in: org.apache.hadoop.fs.FSDataInputStream): (Long, Int) => Array[Byte] =
    (off, n) => {
      val b = new Array[Byte](n)
      in.readFully(off, b, 0, n)
      b
    }

  /** Chunk-LOCAL inclusive window of pushed GLOBAL bounds — Long-safe
    * against the Int.MinValue/MaxValue sentinels unbounded ranges carry. */
  private[sources] def localWindow(lo: Array[Int], hi: Array[Int],
      ci: Seq[Int], chunks: Seq[Int], nd: Int): (Array[Int], Array[Int]) = (
    Array.tabulate(nd)(d =>
      math.max(0L, lo(d).toLong - ci(d).toLong * chunks(d)).toInt),
    Array.tabulate(nd)(d =>
      math.min(chunks(d) - 1L, hi(d).toLong - ci(d).toLong * chunks(d)).toInt))

  /** Materialize a sharded outer chunk from POSITIONED reads: fetch the
    * (offset, nbytes) index (head or tail, crc32c-verified when declared),
    * then fetch + decode + scatter ONLY the present inner chunks
    * intersecting the outer-chunk-LOCAL inclusive cell window
    * `[loL, hiL]`; cells of skipped or elided inner chunks stay fill
    * (callers bound their cell walks by the same window, so fill padding
    * outside it is never observed). Bytes read = index + needed inner
    * chunks — the byte-range access pattern object stores reward: a
    * 1-tile window over an 80-tile shard reads ~1/80 of the object. A
    * window covering the WHOLE chunk collapses to ONE sequential
    * whole-object fetch instead of per-inner-chunk round-trips, so full
    * scans keep their single-read-per-object cost. Every PRESENT index
    * entry is bounds-validated, windowed or not — a corrupt entry fails
    * the first read that touches the shard, not the first that windows
    * onto the bad tile. */
  private[sources] def readShardWindow(read0: (Long, Int) => Array[Byte],
      objLen: Long, meta: ZarrMeta, s: ShardSpec, rawLen: Int,
      loL: Array[Int], hiL: Array[Int], alreadyLoaded: Boolean = false): Array[Byte] = {
    val fullWindow = meta.chunks.indices.forall(d =>
      loL(d) <= 0 && hiL(d) >= meta.chunks(d) - 1)
    val read: (Long, Int) => Array[Byte] =
      if (alreadyLoaded || !fullWindow) read0
      else {
        require(objLen <= Int.MaxValue, s"shard object of $objLen bytes")
        val whole = read0(0L, objLen.toInt)
        (off, n) => java.util.Arrays.copyOfRange(whole, off.toInt, off.toInt + n)
      }
    val bp = bytesPer(meta.dtype)
    val inner = s.innerChunks
    val nd = inner.length
    val grid = meta.chunks.indices.map(d => meta.chunks(d) / inner(d))
    val nInner = grid.product
    val innerLen = inner.product
    val innerBytes = innerLen * bp
    require(loL.length == nd && hiL.length == nd,
      s"shard window rank ${loL.length} != array rank $nd")

    // index: 16 bytes per inner chunk (+4 crc32c), at file start or end
    val idxEnc = 16 * nInner + (if (s.indexCrc) 4 else 0)
    require(objLen >= idxEnc, s"shard shorter than its index ($idxEnc bytes)")
    val idxRaw = decodeV3Chain(
      read(if (s.indexAtEnd) objLen - idxEnc else 0L, idxEnc),
      if (s.indexCrc) Seq(Crc32cC) else Nil, 16 * nInner)
    val idx = ByteBuffer.wrap(idxRaw).order(ByteOrder.LITTLE_ENDIAN)

    // pre-fill the outer buffer with the fill value
    val out = new Array[Byte](rawLen)
    val fp = fillPattern(meta)
    var o = 0
    while (o < rawLen) { System.arraycopy(fp, 0, out, o, bp); o += bp }

    // scatter each needed present inner chunk; contiguous runs along the
    // last dim
    val rowElems = inner(nd - 1)
    val nRows = innerLen / rowElems
    val gi = new Array[Int](nd); val ei = new Array[Int](nd)
    var k = 0
    while (k < nInner) {
      var r = k; var d = nd - 1
      while (d >= 0) { gi(d) = r % grid(d); r /= grid(d); d -= 1 }
      var wanted = true
      d = 0
      while (d < nd && wanted) {
        val c0 = gi(d) * inner(d)
        if (c0 > hiL(d) || c0 + inner(d) - 1 < loL(d)) wanted = false
        d += 1
      }
      val off = idx.getLong(k * 16); val nb = idx.getLong(k * 16 + 8)
      val present = off != -1L || nb != -1L
      if (present) require(off >= 0 && nb > 0 && off + nb <= objLen,
        s"shard inner chunk $k out of bounds: offset=$off nbytes=$nb len=$objLen")
      if (wanted && present) {
        val innerData = read(off, nb.toInt)
        val raw = s.innerShard match {
          case None => decodeV3Chain(innerData, s.innerCodecs, innerBytes)
          case Some(ns) =>
            // NESTED sharding: the inner chunk is ITSELF a shard object —
            // assemble it fully (this level's grid already applied the
            // window selectivity) with the inner shape as the chunk grid
            readShardWindow((o, n) => java.util.Arrays.copyOfRange(
              innerData, o.toInt, o.toInt + n), innerData.length.toLong,
              meta.copy(chunks = s.innerChunks), ns, innerBytes,
              Array.fill(nd)(0), s.innerChunks.map(_ - 1).toArray,
              alreadyLoaded = true)
        }
        var row = 0
        while (row < nRows) {
          var rem = row; var dd = nd - 2
          while (dd >= 0) { ei(dd) = rem % inner(dd); rem /= inner(dd); dd -= 1 }
          ei(nd - 1) = 0
          var flat = 0L
          var d2 = 0
          while (d2 < nd) {
            flat = flat * meta.chunks(d2) + (gi(d2) * inner(d2) + ei(d2)); d2 += 1
          }
          System.arraycopy(raw, row * rowElems * bp, out, flat.toInt * bp, rowElems * bp)
          row += 1
        }
      }
      k += 1
    }
    out
  }

  private[sources] def decompress(data: Array[Byte], compressor: Option[String], rawLen: Int,
      oversizeOk: Boolean = false): Array[Byte] =
    compressor match {
      case None =>
        // raw chunks are strict too (v2 stores full-size chunks, edges
        // included) — except the coordinate append-crash-window oversize
        if (data.length != rawLen && !(oversizeOk && data.length > rawLen))
          throw new java.io.IOException(
            s"raw zarr chunk holds ${data.length} bytes, expected $rawLen")
        data
      case Some("zlib") =>
        val inf = new Inflater()
        inf.setInput(data)
        val out = new Array[Byte](rawLen)
        var off = 0
        while (!inf.finished() && off < rawLen) {
          val n = inf.inflate(out, off, rawLen - off)
          // inflate()==0 with finished()==false means the input is exhausted
          // (truncated/corrupt chunk) — without this check the loop spins
          // forever waiting for bytes that never come.
          if (n == 0 && (inf.needsInput() || inf.needsDictionary()))
            throw new java.io.IOException(
              s"truncated/corrupt zlib chunk: decoded $off of $rawLen bytes")
          off += n
        }
        inf.end()
        if (off != rawLen)
          throw new java.io.IOException(
            s"zlib chunk decoded to $off bytes, expected $rawLen")
        out
      case Some("blosc") =>
        val out = Blosc.decompress(data)
        if (out.length != rawLen && !(oversizeOk && out.length > rawLen))
          throw new java.io.IOException(
            s"blosc chunk decoded to ${out.length} bytes, expected $rawLen")
        out
      case Some(other) =>
        throw new IllegalArgumentException(
          s"unsupported zarr compressor '$other' (supported: none, zlib, blosc-lz4)")
    }

  /** Write `bytes` to `path` through the Hadoop FileSystem API (create
    * parents, overwrite) — the ONLY byte sink the zarr write layer uses.
    * `fs.create` instead of `java.io.File`/`Files.write` because the writers
    * run executor-side on real clusters: a local-file write there scatters
    * chunks across executor-local disks and an `s3://`/`hdfs://` destination
    * degrades to a literal local directory — which the fill-substituting
    * readers then read back as silent fill values. */
  private[graft] def putBytes(fs: org.apache.hadoop.fs.FileSystem,
      path: org.apache.hadoop.fs.Path, bytes: Array[Byte]): Unit = {
    // unwrap ChecksumFileSystem (the local `file:` FS): a zarr store must
    // hold ONLY zarr keys — `.crc` sidecars would desync on any external
    // mutation of the store (and confuse key-listing readers). hdfs/s3a
    // checksum internally and pass through unchanged.
    val target = fs match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
      case other => other
    }
    val out = target.create(path, true)
    try out.write(bytes) finally out.close()
  }

  /** The Hadoop configuration for driver-side metadata writes: the active
    * session's (it carries `fs.*.impl` bindings and object-store
    * credentials), or a bare one when no session exists (fixture tooling). */
  private[graft] def driverHadoopConf(): org.apache.hadoop.conf.Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  /** Driver-side dense read of a small N-D zarr array (coordinate axes,
    * masks — things that are broadcast anyway). Returns the shape and the
    * C-order flat CF-decoded values; missing chunk files read as the
    * decoded fill. Accepts both v2 and v3 layouts. The raw read plus
    * [[ZarrMeta.cfDecodeAll]], the same composition the group scan uses. */
  def readLocalND(dir: String): (Seq[Int], Array[Double]) = {
    val conf = driverHadoopConf()
    val meta = readMetaAny(dir, conf)
    require(meta.order == "C", "only C-order zarr supported")
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    (meta.shape, meta.cfDecodeAll(ZarrGroup.readWholeArray(fs, dir, meta)))
  }

  /** Distributed Zarr v2 writer (sink dual of the `zarr` scan; ≙ the
    * reference's `to_zarr`, track.py:1748): writes the `.zarray` metadata,
    * then the cells as little-endian `<f8` chunks (raw or blosc-lz4, with
    * an optional numcodecs `delta` filter) through the group writers' one
    * chunk job ([[ZarrGroup.writeChunkJob]]). Missing and null cells become
    * NaN; out-of-shape rows are dropped. All byte writes go through the
    * Hadoop FileSystem API ([[putBytes]]), so the sink lands on the shared
    * store (`file:`, `hdfs:`, `s3a:`) on a real multi-node cluster, exactly
    * like the readers. */
  def write3D(df: DataFrame, dir: String, shape: (Int, Int, Int),
      chunks: (Int, Int, Int), compressor: Option[String] = None,
      delta: Boolean = false): Unit = {
    require(compressor.forall(_ == "blosc"),
      s"unsupported v2 write compressor '${compressor.get}' (supported: blosc)")
    val (nt, ny, nx) = shape
    val (ct, cy, cx) = chunks
    // delta needs chunk-aligned shapes: edge chunks pad with NaN fill,
    // which the cumulative decode cannot represent — reject the SHAPE up
    // front with an accurate message rather than blaming the data later
    require(!delta || (nt % ct == 0 && ny % cy == 0 && nx % cx == 0),
      s"delta filter requires chunk-aligned shape: $shape % $chunks != 0 " +
        "(edge chunks pad with NaN fill, which the cumulative decode " +
        "cannot represent)")
    val dirP = new org.apache.hadoop.fs.Path(dir)
    val driverFs = dirP.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    driverFs.mkdirs(dirP)
    val compJson =
      if (compressor.isDefined) """{"id": "blosc", "cname": "lz4", "clevel": 5, "shuffle": 1, "blocksize": 0}"""
      else "null"
    val filterJson =
      if (delta) """[{"id": "delta", "dtype": "<f8", "astype": "<f8"}]"""
      else "null"
    val zarray =
      s"""{"zarr_format": 2, "shape": [$nt, $ny, $nx], "chunks": [$ct, $cy, $cx],
          "dtype": "<f8", "compressor": $compJson, "fill_value": "NaN",
          "order": "C", "filters": $filterJson}"""
    putBytes(driverFs, new org.apache.hadoop.fs.Path(dir, ".zarray"), zarray.getBytes)
    val meta = ZarrMeta(Seq(nt, ny, nx), Seq(ct, cy, cx), "<f8", compressor,
      Double.NaN, "C", v2Filters = if (delta) Seq(DeltaF("<f8", "<f8")) else Nil)
    writeCube(df, shape, meta, dir)
  }

  /** Distributed Zarr **v3** writer (sink dual of the `zarr` scan for the
    * layout zarr-python ≥3 / current xarray write by default): writes the
    * `zarr.json` metadata, then the cells as nested `c/t/y/x` chunks
    * through [[ZarrGroup.writeChunkJob]], like [[write3D]]. Missing and
    * null cells become NaN; out-of-shape rows are dropped.
    *
    * @param codecs bytes→bytes chain after the implicit little-endian
    *               `bytes` codec, in chain order — any of [[GzipC]],
    *               [[ZstdC]], [[Crc32cC]] (zarr-python 3's default chain is
    *               `bytes → zstd`; pass `Seq(ZstdC, Crc32cC)` to also
    *               checksum).
    * @param innerChunks if set, write `sharding_indexed` shards: each outer
    *               chunk becomes one stored object of inner chunks of this
    *               shape (must divide `chunks`) plus a crc32c-protected
    *               end-index; `codecs` then applies to the INNER chunks and
    *               all-fill inner chunks are elided from the shard. */
  def write3DV3(df: DataFrame, dir: String, shape: (Int, Int, Int),
      chunks: (Int, Int, Int), codecs: Seq[V3Codec] = Seq(ZstdC),
      innerChunks: Option[(Int, Int, Int)] = None,
      transposeOrder: Option[Seq[Int]] = None): Unit = {
    require(!codecs.contains(BloscC), "v3 writer supports gzip/zstd/crc32c chains")
    val (nt, ny, nx) = shape
    val (ct, cy, cx) = chunks
    innerChunks.foreach { case (it0, iy0, ix0) =>
      require(ct % it0 == 0 && cy % iy0 == 0 && cx % ix0 == 0,
        s"inner chunk shape ($it0,$iy0,$ix0) must divide chunk shape $chunks")
    }
    // v3 `transpose` array→array codec (encode dual of unTranspose):
    // chunk cells store axis-permuted. Same composition limit as the
    // reader: transpose inside sharding_indexed is not supported.
    transposeOrder.foreach { ord =>
      require(innerChunks.isEmpty, "transpose + sharding_indexed not supported")
      require(ord.sorted == Seq(0, 1, 2),
        s"transpose order ${ord.mkString(",")} is not a permutation of 0,1,2")
    }
    val dirP = new org.apache.hadoop.fs.Path(dir)
    val driverFs = dirP.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    driverFs.mkdirs(dirP)
    val transposeJson = transposeOrder.map(ord =>
      s"""{"name": "transpose", "configuration": {"order": [${ord.mkString(", ")}]}}, """)
      .getOrElse("")
    val codecJson = innerChunks match {
      case None => transposeJson + v3ChainJson(codecs)
      case Some((it0, iy0, ix0)) =>
        s"""{"name": "sharding_indexed", "configuration": {
            "chunk_shape": [$it0, $iy0, $ix0],
            "codecs": [${v3ChainJson(codecs)}],
            "index_codecs": [{"name": "bytes", "configuration": {"endian": "little"}}, {"name": "crc32c"}],
            "index_location": "end"}}"""
    }
    val zarrJson =
      s"""{"zarr_format": 3, "node_type": "array",
          "shape": [$nt, $ny, $nx],
          "data_type": "float64",
          "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [$ct, $cy, $cx]}},
          "chunk_key_encoding": {"name": "default", "configuration": {"separator": "/"}},
          "fill_value": "NaN",
          "codecs": [$codecJson],
          "attributes": {}}"""
    putBytes(driverFs, new org.apache.hadoop.fs.Path(dir, "zarr.json"), zarrJson.getBytes)
    val shard = innerChunks.map { case (it0, iy0, ix0) =>
      ShardSpec(Seq(it0, iy0, ix0), codecs, indexCrc = true, indexAtEnd = true)
    }
    val meta = ZarrMeta(Seq(nt, ny, nx), Seq(ct, cy, cx), "<f8", None, Double.NaN,
      "C", format = 3, keyPrefix = "c", keySep = "/",
      v3Codecs = if (shard.isEmpty) codecs else Nil, shard = shard,
      transpose = transposeOrder)
    writeCube(df, shape, meta, dir)
  }

  /** The (t_idx, y, x, value) cube as the one-member chunk job. */
  private def writeCube(df: DataFrame, shape: (Int, Int, Int), meta: ZarrMeta,
      dir: String): Unit =
    ZarrGroup.writeChunkJob(
      df.select(col("t_idx"), col("y").as("y_idx"), col("x").as("x_idx"), col("value")),
      Seq("t", "y", "x"), Seq(shape._1, shape._2, shape._3), Seq("value"),
      Seq(meta), Seq(dir))

  /** Encode one chunk's raw C-order cells (in `meta.dtype`, the buffer
    * [[decodeChunk]] returns) into its stored bytes — the write-side dual
    * of [[decodeChunk]] and the only chunk encoder of the write path.
    * v2: the `delta` filter (`<f8`), then raw or blosc-lz4; v3: the
    * `transpose` codec, then the bytes→bytes chain — or one level of
    * `sharding_indexed` ([[shardObject]]), whose inner chunks take the
    * inner chain. */
  private[sources] def encodeChunk(cells: Array[Byte], meta: ZarrMeta): Array[Byte] =
    if (meta.format == 2) {
      val stored = meta.v2Filters.foldLeft(cells) {
        case (raw, DeltaF("<f8", "<f8")) => deltaEncode(raw)
        case (_, f) => throw new IllegalArgumentException(
          s"zarr v2 filter $f is not supported on write (supported: delta <f8)")
      }
      meta.compressor match {
        case None => stored
        case Some("blosc") => Blosc.compress(stored, typesize = bytesPer(meta.dtype))
        case Some(other) => throw new IllegalArgumentException(
          s"unsupported v2 write compressor '$other' (supported: blosc)")
      }
    } else meta.shard match {
      case Some(s) => shardObject(cells, meta, s)
      case None =>
        val ordered = meta.transpose.fold(cells)(ord =>
          doTranspose(cells, meta.chunks, ord, bytesPer(meta.dtype)))
        v3EncodeChain(ordered, meta.v3Codecs)
    }

  /** numcodecs `delta` on `<f8` cells (encode dual of [[undoV2Filters]]):
    * d[0] = v[0], d[i] = v[i] − v[i−1]. Decode is a cumulative sum, so ONE
    * NaN would poison every later cell of its chunk — chunks with missing
    * cells are refused by name (numcodecs would silently corrupt them). */
  private def deltaEncode(raw: Array[Byte]): Array[Byte] = {
    val in = ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN)
    val out = ByteBuffer.allocate(raw.length).order(ByteOrder.LITTLE_ENDIAN)
    var prev = 0.0
    var i = 0
    while (i < raw.length / 8) {
      val v = in.getDouble(i * 8)
      if (v.isNaN) throw new IllegalArgumentException(
        s"delta filter cannot represent missing cells (the chunk has a NaN " +
          s"at flat index $i): the cumulative decode poisons every later " +
          "cell — write dense data or drop the filter")
      out.putDouble(i * 8, if (i == 0) v else v - prev)
      prev = v
      i += 1
    }
    out.array()
  }

  /** Assemble one `sharding_indexed` stored object from a full outer
    * chunk's cells: inner chunks of shape `s.innerChunks` in C-order, each
    * encoded with the inner chain, all-fill inner chunks ELIDED (offset =
    * nbytes = −1), then the little-endian `(offset, nbytes)` u64 index and
    * its crc32c at the END — the layout [[readShardWindow]] reads back.
    * Sharding is the object-count lever at archive scale: the task
    * granularity stays the outer chunk while the store holds
    * 1/∏(chunks/inner) as many objects as a plain layout, and the scan
    * byte-range-reads only the inner chunks a pushed window intersects.
    * A `<f8` cell matches a NaN fill when it is any NaN; otherwise cells
    * match the fill by bytes. */
  private def shardObject(cells: Array[Byte], meta: ZarrMeta, s: ShardSpec): Array[Byte] = {
    require(s.innerShard.isEmpty && s.indexCrc && s.indexAtEnd,
      "the writer emits one level of sharding_indexed with a crc32c end-index")
    val chunks = meta.chunks
    val inner = s.innerChunks
    val nd = chunks.length
    val bp = bytesPer(meta.dtype)
    val grid = Array.tabulate(nd)(d => chunks(d) / inner(d))
    val nInner = grid.product
    val rowElems = inner(nd - 1)
    val rowBytes = rowElems * bp
    val nRows = inner.product / rowElems
    val fp = fillPattern(meta)
    val cellBuf = ByteBuffer.wrap(cells).order(byteOrderOf(meta.dtype))
    val nanFill = meta.fillValue.isNaN && meta.dtype.endsWith("f8")
    def isFill(off: Int): Boolean =
      if (nanFill) cellBuf.getDouble(off).isNaN
      else {
        var j = 0
        while (j < bp && cells(off + j) == fp(j)) j += 1
        j == bp
      }
    val body = new java.io.ByteArrayOutputStream()
    val index = ByteBuffer.allocate(16 * nInner + 4).order(ByteOrder.LITTLE_ENDIAN)
    val ki = new Array[Int](nd)
    val ei = new Array[Int](nd)
    var k = 0
    while (k < nInner) {
      var rem = k
      var d = nd - 1
      while (d >= 0) { ki(d) = rem % grid(d); rem /= grid(d); d -= 1 }
      // copy the inner chunk row by row (contiguous runs along the last dim)
      val innerRaw = new Array[Byte](nRows * rowBytes)
      var allFill = true
      var row = 0
      while (row < nRows) {
        var r2 = row
        d = nd - 2
        while (d >= 0) { ei(d) = r2 % inner(d); r2 /= inner(d); d -= 1 }
        var flat = 0
        d = 0
        while (d < nd) { flat = flat * chunks(d) + ki(d) * inner(d) + ei(d); d += 1 }
        System.arraycopy(cells, flat * bp, innerRaw, row * rowBytes, rowBytes)
        var c = 0
        while (allFill && c < rowElems) { allFill = isFill((flat + c) * bp); c += 1 }
        row += 1
      }
      if (allFill) index.putLong(-1L).putLong(-1L)
      else {
        val enc = v3EncodeChain(innerRaw, s.innerCodecs)
        index.putLong(body.size().toLong).putLong(enc.length.toLong)
        body.write(enc)
      }
      k += 1
    }
    val crc = new java.util.zip.CRC32C
    crc.update(index.array(), 0, 16 * nInner)
    index.putInt(crc.getValue.toInt)
    body.write(index.array())
    body.toByteArray
  }

  /** JSON for a v3 codec chain: the implicit little-endian `bytes` codec
    * followed by the given bytes→bytes codecs, in chain order. Shared by the
    * array and group writers so every written chain parses back through
    * [[readMetaV3]]. */
  private[sources] def v3ChainJson(cs: Seq[V3Codec]): String =
    (Seq("""{"name": "bytes", "configuration": {"endian": "little"}}""") ++ cs.map {
      case GzipC => """{"name": "gzip", "configuration": {"level": 5}}"""
      case ZstdC => """{"name": "zstd", "configuration": {"level": 3, "checksum": false}}"""
      case Crc32cC => """{"name": "crc32c"}"""
      case BloscC => throw new IllegalArgumentException("v3 writer supports gzip/zstd/crc32c chains")
    }).mkString(", ")

  /** Apply a v3 bytes→bytes codec chain in write order (dual of
    * [[decodeV3Chain]]). */
  private[sources] def v3EncodeChain(raw: Array[Byte], codecs: Seq[V3Codec]): Array[Byte] = {
    var cur = raw
    codecs.foreach {
      case GzipC =>
        val bos = new java.io.ByteArrayOutputStream()
        val gz = new java.util.zip.GZIPOutputStream(bos)
        gz.write(cur); gz.close()
        cur = bos.toByteArray
      case ZstdC =>
        cur = com.github.luben.zstd.Zstd.compress(cur, 3)
      case Crc32cC =>
        val crc = new java.util.zip.CRC32C
        crc.update(cur, 0, cur.length)
        val out = java.util.Arrays.copyOf(cur, cur.length + 4)
        ByteBuffer.wrap(out, cur.length, 4).order(ByteOrder.LITTLE_ENDIAN)
          .putInt(crc.getValue.toInt)
        cur = out
      case BloscC => throw new IllegalArgumentException("v3 writer supports gzip/zstd/crc32c chains")
    }
    cur
  }

  /** Convenience: attach daily timestamps starting at `epochStart` to the
    * t_idx column (the reference's time axis is daily datetime64). */
  def withDailyTime(df: DataFrame, epochStart: String): DataFrame =
    df.withColumn("time",
      expr(s"timestampadd(DAY, t_idx, TIMESTAMP '$epochStart 00:00:00')"))
      .drop("t_idx")
      .select("time", "y", "x", "value")
}
