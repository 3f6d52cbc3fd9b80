package graft.sources.zarr

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.types._

/** Zarr element type: kind ∈ {i, u, f, b}, byte size, endianness.
  *
  * Mirrors the reference's dtype normalization
  * (/root/reference/src/reader/dtype.rs:9-75): v2 dtype strings like
  * `"<i8"`, `">f4"`, `"|b1"`; v3 plain names like `"int64"`. Unknown
  * inputs default to float64 (the reference's v2 fallback).
  */
final case class ZarrDType(kind: Char, size: Int, littleEndian: Boolean,
    tsMulUs: Long = 0, tsDivUs: Long = 1) {

  /** Spark mapping per SURVEY.md §1.5: unsigned types widen (Spark has
    * no unsigned); uint64 documented-as-LongType; float16 widens to
    * FloatType. */
  def sparkType: DataType = (kind, size) match {
    case ('i', 1) => ByteType
    case ('i', 2) => ShortType
    case ('i', 4) => IntegerType
    case ('i', 8) => LongType
    case ('u', 1) => ShortType
    case ('u', 2) => IntegerType
    case ('u', 4) => LongType
    case ('u', 8) => LongType
    case ('f', _) => if (size == 8) DoubleType else FloatType
    case ('b', _) => BooleanType
    // fixed-width ASCII strings (|S<n>) — the reference's roadmap
    // "string coordinates" (README.md:319)
    case ('S', _) => StringType
    // datetime64 (<M8[unit]) — values decode to epoch microseconds
    case ('M', _) => TimestampType
    case _ => DoubleType
  }
}

object ZarrDType {
  /** Parse a Zarr v2 dtype string (`"<i8"`, `">f4"`, `"|b1"`). */
  def parseV2(s: String): ZarrDType = {
    val le = !s.startsWith(">")
    val body = if (s.nonEmpty && "<>|=".contains(s.head)) s.tail else s
    if (body.startsWith("M8[")) {
      // datetime64 with unit → conversion factors to microseconds
      val (mul, div) = body.stripPrefix("M8[").stripSuffix("]") match {
        case "ns" => (1L, 1000L)
        case "us" => (1L, 1L)
        case "ms" => (1000L, 1L)
        case "s" => (1000000L, 1L)
        case "m" => (60000000L, 1L)
        case "h" => (3600000000L, 1L)
        case "D" => (86400000000L, 1L)
        case _ => (1L, 1L)
      }
      ZarrDType('M', 8, le, mul, div)
    } else if (body.length >= 2) {
      val kind = body.head
      val size = body.tail.takeWhile(_.isDigit)
      if ("iufbS".contains(kind) && size.nonEmpty) ZarrDType(kind, size.toInt, le)
      else ZarrDType('f', 8, littleEndian = true)
    } else ZarrDType('f', 8, littleEndian = true)
  }

  /** Parse a Zarr v3 data_type name (`"int64"`, `"float32"`, `"bool"`). */
  def parseV3(s: String, littleEndian: Boolean): ZarrDType = s match {
    case "bool" => ZarrDType('b', 1, littleEndian)
    case n if n.startsWith("int") => ZarrDType('i', n.stripPrefix("int").toInt / 8, littleEndian)
    case n if n.startsWith("uint") => ZarrDType('u', n.stripPrefix("uint").toInt / 8, littleEndian)
    case n if n.startsWith("float") => ZarrDType('f', n.stripPrefix("float").toInt / 8, littleEndian)
    case _ => ZarrDType('f', 8, littleEndian)
  }
}

/** Compression spec for a chunk stream. `id` ∈ {none, blosc, zlib,
  * gzip, zstd}; blosc parameters are carried for completeness (the
  * frame is self-describing). */
final case class ZarrCompressor(id: String, cname: String = "", shuffle: Int = 0)

/** Zarr v3 `sharding_indexed` codec parameters: a chunk file (shard)
  * holds a C-order grid of independently-encoded inner chunks plus a
  * `(offset, nbytes) uint64` index (missing inner chunk = both
  * 2^64-1). The shard shape must be an exact multiple of the inner
  * chunk shape (spec invariant). Beyond the reference's surface —
  * sharding is how real object-store datasets avoid one tiny object
  * per chunk at scale. */
final case class ShardingSpec(
    innerChunks: Seq[Int],
    innerComp: ZarrCompressor,
    indexChecksum: Boolean,
    indexAtEnd: Boolean) extends Serializable

/** Metadata for one Zarr array (v2 `.zarray` or v3 `zarr.json`). */
final case class ZarrArrayMeta(
    name: String,
    shape: Seq[Long],
    chunks: Seq[Int],
    dtype: ZarrDType,
    compressor: ZarrCompressor,
    separator: String,
    fillValue: Double,
    isV3: Boolean,
    sharding: Option[ShardingSpec] = None,
    attrs: Map[String, String] = Map.empty,
    /** numcodecs `delta` filter: chunk payload stores first value +
      * successive differences; decode integrates (cumulative sum). */
    deltaFilter: Boolean = false,
    /** Per-chunk [min,max] sidecar stats (`.zstats`, written by
      * [[ZarrWriter]]) keyed by chunk file key — powers
      * statistics-based chunk pruning for data-variable filters. */
    chunkStats: Map[String, (Double, Double)] = Map.empty,
    /** Per-chunk (sum, written-cell count) sidecar partials (the
      * `.zstats` "sums" object) — powers chunk-level SUM/AVG
      * aggregate pushdown (the reference's roadmap "Aggregate
      * pushdown (push SUM/AVG/COUNT to chunk level)",
      * /root/reference/README.md:298). BigDecimal keeps integer sums
      * exact past 2^53. */
    chunkSums: Map[String, (java.math.BigDecimal, Long)] = Map.empty,
    /** True only when [[ZarrWriter]] attests the sums object covers
      * EVERY chunk it wrote (`"complete": true` in `.zstats`) — a
      * chunk with no entry is then provably all-fill. Without the
      * attestation sums cannot answer aggregates (an external tool
      * may have written chunks without sidecar entries). */
    sumsComplete: Boolean = false,
    /** Precomputed (Σ written sums, Σ written cells) — the `.zstats`
      * "total" record. Ungrouped SUM/AVG answers read THIS, O(1),
      * instead of folding the per-chunk map (a 100 TB variable has
      * millions of chunk entries; grouped answers and pruning still
      * use the map). */
    sumTotal: Option[(java.math.BigDecimal, Long)] = None,
    /** v3 `dimension_names`, when the document declares them. */
    dimNames: Option[Seq[String]] = None) extends Serializable {

  def nDims: Int = shape.length
  def totalElements: Long = shape.product

  /** Chunk counts per dimension. */
  @transient lazy val chunkGrid: Seq[Long] = shape.zip(chunks).map { case (s, c) => (s + c - 1) / c }

  /** Relative path of the chunk file for the given chunk indices:
    * v2 `"0.0.0"` (configured separator), v3 default encoding
    * `"c/0/0/0"`. */
  def chunkKey(idx: Seq[Long]): String =
    if (isV3) "c" + idx.map(i => s"$separator$i").mkString
    else if (idx.isEmpty) "0"
    else idx.mkString(separator)

  /** Inverse of [[chunkKey]]: the chunk indices `key` names, or None
    * when `key` is not one of this array's chunk keys (another
    * separator or rank, a non-digit part, an index outside the grid). */
  def chunkIndex(key: String): Option[Seq[Long]] = {
    if (nDims == 0) return if (key == chunkKey(Nil)) Some(Nil) else None
    val head = if (isV3) "c" + separator else ""
    if (!key.startsWith(head)) return None
    val idx = new Array[Long](nDims)
    var from = head.length
    var d = 0
    while (d < nDims) {
      val end = if (d == nDims - 1) key.length else key.indexOf(separator, from)
      if (end <= from || end - from > 18) return None // empty, or past a Long
      var v = 0L
      var i = from
      while (i < end) {
        val ch = key.charAt(i)
        if (ch < '0' || ch > '9') return None
        v = v * 10 + (ch - '0')
        i += 1
      }
      if (v >= chunkGrid(d)) return None
      idx(d) = v
      from = end + separator.length
      d += 1
    }
    Some(scala.collection.immutable.ArraySeq.unsafeWrapArray(idx))
  }

  /** Position of chunk `idx` in the C-order walk of the grid. */
  def chunkOrdinal(idx: Seq[Long]): Long =
    idx.zip(chunkGrid).foldLeft(0L) { case (acc, (i, g)) => acc * g + i }

  /** Every chunk index of the grid in C order, the outer index limited
    * to `[outerFrom, outerUntil)`. */
  def chunkIndices(outerFrom: Long = 0L, outerUntil: Long = Long.MaxValue): Iterator[Seq[Long]] =
    if (nDims == 0) Iterator.single(Nil)
    else {
      val grid = chunkGrid
      val inner = grid.tail.product
      (math.max(0L, outerFrom) until math.min(grid.head, outerUntil)).iterator.flatMap { o =>
        (0L until inner).iterator.map { lin =>
          val idx = new Array[Long](nDims)
          idx(0) = o
          var rem = lin
          var d = nDims - 1
          while (d >= 1) { idx(d) = rem % grid(d); rem /= grid(d); d -= 1 }
          scala.collection.immutable.ArraySeq.unsafeWrapArray(idx): Seq[Long]
        }
      }
    }
}

/** A coordinate array with its eagerly-loaded values — coordinates are
  * 1-D and small, so loading them at table-construction time is cheap
  * and powers statistics + filter range planning (the reference does
  * the same: /root/reference/src/reader/schema_inference.rs:214-302).
  *
  * `doubles` is the comparison view (filter matching); `raw` keeps the
  * exact typed values for row output.
  */
final case class CoordData(meta: ZarrArrayMeta, raw: AnyRef, doubles: Array[Double])
    extends Serializable {
  def length: Int = doubles.length
  def min: Double = if (doubles.isEmpty) Double.NaN else doubles.min
  def max: Double = if (doubles.isEmpty) Double.NaN else doubles.max

  /** True when the values are numeric and increase, strictly when
    * `strict` (a string coordinate has no value order). */
  def ascending(strict: Boolean): Boolean =
    meta.dtype.kind != 'S' &&
      (1 until doubles.length).forall(i =>
        if (strict) doubles(i - 1) < doubles(i) else doubles(i - 1) <= doubles(i))
}

/** Full store metadata: coordinates in inferred dimension order, data
  * variables sorted alphabetically. */
final case class ZarrStoreMeta(
    path: String,
    coords: Seq[CoordData],
    dataVars: Seq[ZarrArrayMeta],
    groupAttrs: Map[String, String] = Map.empty) extends Serializable {

  def coordNames: Seq[String] = coords.map(_.meta.name)
  def totalRows: Long = coords.map(_.length.toLong).product

  /** Reader fields for the named columns, in order: a coordinate by its
    * dimension, a data variable by its array metadata. */
  def projection(names: Seq[String]): Seq[ProjField] = names.map { n =>
    val ci = coordNames.indexOf(n)
    if (ci >= 0) CoordField(ci)
    else VarField(dataVars.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(s"Unknown column $n")))
  }

  /** Per-dimension split unit for partitions: the smallest DATA chunk
    * extent across data variables (1 with none). Coordinate arrays are
    * irrelevant here — they're usually single-chunk. Partitions split
    * along dim 0 at multiples of the head and, for sub-slab splits, at
    * the inner extents, so each owns whole chunks. */
  def chunkExtents: Seq[Int] = coords.indices.map(d =>
    dataVars.map(_.chunks(d)).reduceOption(math.min).filter(_ > 0).getOrElse(1))

  private def fieldMeta(attrs: Map[String, String]): Metadata =
    attrs.foldLeft(new MetadataBuilder()) { case (b, (k, v)) =>
      // `_ARRAY_DIMENSIONS` is the xarray dimension-naming convention
      // (our sink writes it; inferCoordOrder consumes it) — plumbing,
      // not user metadata; xarray likewise hides it from attrs.
      if (k == "_ARRAY_DIMENSIONS") b else b.putString(k, v)
    }.build()

  /** Schema: coordinates first (non-nullable), then data variables
    * (nullable) — /root/reference/src/reader/schema_inference.rs:415-434.
    * Zarr array attributes (units, long_name, …) surface as Spark
    * column metadata — the reference's roadmap "attribute metadata
    * exposure" (README.md:289-337). */
  def schema: StructType = StructType(
    coords.map(c => StructField(c.meta.name, c.meta.dtype.sparkType,
      nullable = false, metadata = fieldMeta(c.meta.attrs))) ++
      dataVars.map(v => StructField(v.name, v.dtype.sparkType,
        nullable = true, metadata = fieldMeta(v.attrs))))
}

/** Store discovery + schema inference for local Zarr v2/v3 stores.
  * Mirrors the reference's rules
  * (/root/reference/src/reader/schema_inference.rs:47-210,304-437):
  * any 1-D array is a coordinate, any N-D (N>1) array a data variable;
  * the table is the Cartesian product of the coordinates flattened in
  * row-major order.
  */
object ZarrMeta {

  private val mapper = new ObjectMapper()

  /** Version probe: root `zarr.json` → 3; root `.zgroup`/`.zarray` → 2;
    * else probe one level of subdirectories; error if neither. */
  def detectVersion(store: ZarrStore): Int = {
    def exists(rel: String) = store.sizeOf(rel).isDefined
    if (exists("zarr.json")) 3
    else if (exists(".zgroup") || exists(".zarray") || exists(".zmetadata")) 2
    else {
      val subs = store.listDirs()
      if (subs.exists(d => exists(s"$d/zarr.json"))) 3
      else if (subs.exists(d => exists(s"$d/.zarray"))) 2
      else throw new IllegalArgumentException(
        s"Not a Zarr store (no zarr.json or .zgroup/.zarray found): ${store.path}")
    }
  }

  private[zarr] def jsonAt(store: ZarrStore, rel: String): Option[JsonNode] =
    store.readBytes(rel).map { bytes =>
      try mapper.readTree(bytes)
      catch {
        // same posture as chunk decode failures: name the object and
        // the store, not a bare Jackson parse error — at fleet scale
        // "which of the 30k stores has the rotted JSON" is the
        // question the message must answer
        case e: Exception => throw new IllegalArgumentException(
          s"Corrupt or unreadable Zarr metadata JSON at $rel in store ${store.path}: ${e.getMessage}", e)
      }
    }

  private def parseFill(n: JsonNode): Double =
    if (n == null || n.isNull) Double.NaN
    else if (n.isTextual) n.asText() match {
      case "NaN" => Double.NaN
      case "Infinity" => Double.PositiveInfinity
      case "-Infinity" => Double.NegativeInfinity
      case _ => Double.NaN
    }
    else n.asDouble()

  /** The layout of one array document (v2 `.zarray`, v3 `zarr.json`):
    * shape, chunk shape, chunk-key separator, v3 dimension names,
    * element type and fill value. The one parse of these fields, for
    * the reader and the refs tools alike; it refuses no codec, since
    * refs conversion is metadata-only and carries arrays the reader
    * would refuse. The codec chain is left as none. */
  private[zarr] def layoutOf(name: String, node: JsonNode, isV3: Boolean): ZarrArrayMeta = {
    def longs(n: JsonNode): Seq[Long] = n.elements().asScala.map(_.asLong()).toSeq
    val shape = longs(node.get("shape"))
    val chunks = longs(if (isV3) node.at("/chunk_grid/configuration/chunk_shape")
                       else node.get("chunks")).map(_.toInt)
    require(chunks.length == shape.length,
      s"$name: chunk shape $chunks does not match array shape $shape")
    val (dtype, sep, dims) =
      if (isV3) (ZarrDType.parseV3(node.get("data_type").asText(), littleEndian = true),
        Option(node.at("/chunk_key_encoding/configuration/separator").textValue()).getOrElse("/"),
        Option(node.get("dimension_names")).filter(_.isArray)
          .map(_.elements().asScala.map(_.asText()).toSeq))
      else (ZarrDType.parseV2(node.get("dtype").asText()),
        Option(node.get("dimension_separator")).filterNot(_.isNull).map(_.asText()).getOrElse("."),
        None)
    ZarrArrayMeta(name, shape, chunks, dtype, ZarrCompressor("none"), sep,
      parseFill(node.get("fill_value")), isV3, dimNames = dims)
  }

  private def parseArrayV2(name: String, node: JsonNode): ZarrArrayMeta = {
    val layout = layoutOf(name, node, isV3 = false)
    val dtype = layout.dtype
    // Filters transform values BEFORE the compressor. The common
    // single `delta` filter (integer coordinates) is implemented
    // (decode = cumulative sum, numcodecs semantics); anything else
    // must refuse loudly rather than silently decode garbage.
    val filterIds = Option(node.get("filters")).filterNot(_.isNull).filter(_.isArray)
      .map(_.elements().asScala.map(n =>
        Option(n.get("id")).map(_.asText()).getOrElse(n.toString)).toSeq)
      .getOrElse(Nil)
    val delta = filterIds == Seq("delta")
    if (filterIds.nonEmpty && !delta)
      throw new UnsupportedOperationException(
        s"$name: unsupported Zarr v2 filter chain: ${filterIds.mkString(", ")}" +
          " (only a single 'delta' filter is supported)")
    // datetime64 decodes via unit conversion BEFORE integration, which
    // only commutes with the cumulative sum at the identity unit (us).
    val deltaOk = "iuf".contains(dtype.kind) ||
      (dtype.kind == 'M' && dtype.tsMulUs == 1 && dtype.tsDivUs == 1)
    if (delta && !deltaOk)
      throw new UnsupportedOperationException(
        s"$name: 'delta' filter on dtype ${node.get("dtype").asText()} is not supported")
    val comp = Option(node.get("compressor")).filterNot(_.isNull).map { c =>
      ZarrCompressor(c.get("id").asText(),
        Option(c.get("cname")).map(_.asText()).getOrElse(""),
        Option(c.get("shuffle")).map(_.asInt()).getOrElse(0))
    }.getOrElse(ZarrCompressor("none"))
    layout.copy(compressor = comp, deltaFilter = delta)
  }

  /** Endianness of the `bytes` codec in a v3 codec list (default
    * little; `configuration`/`endian` may legitimately be absent —
    * e.g. 1-byte dtypes). */
  private def endianOf(codecs: Seq[JsonNode]): Boolean =
    codecs.find(_.get("name").asText() == "bytes")
      .flatMap(c => Option(c.get("configuration")))
      .flatMap(cfg => Option(cfg.get("endian")))
      .forall(_.asText() == "little")

  /** Compression member of a v3 codec list (a codec entry may omit
    * its `configuration` object entirely — defaults apply). */
  private def compOf(codecs: Seq[JsonNode]): ZarrCompressor =
    codecs.map(_.get("name").asText())
      .find(n => n == "blosc" || n == "zstd" || n == "gzip")
      .map { n =>
        val cfg = codecs.find(_.get("name").asText() == n)
          .flatMap(c => Option(c.get("configuration")))
        ZarrCompressor(n,
          cfg.flatMap(c => Option(c.get("cname"))).map(_.asText()).getOrElse(""),
          if (cfg.flatMap(c => Option(c.get("shuffle"))).exists(s =>
            s.asText() == "shuffle" || s.asInt(0) == 1)) 1 else 0)
      }
      .getOrElse(ZarrCompressor("none"))

  /** Codec names this reader implements; anything else must error, not
    * silently mis-decode. (crc32c appears only as a shard INDEX codec;
    * as a chunk codec it would append a checksum we don't strip.) */
  private val supportedV3Codecs = Set("bytes", "blosc", "zstd", "gzip", "sharding_indexed")

  private def parseArrayV3(name: String, node: JsonNode): ZarrArrayMeta = {
    val layout = layoutOf(name, node, isV3 = true)
    val chunks = layout.chunks
    val codecs = Option(node.get("codecs")).map(_.elements().asScala.toSeq).getOrElse(Nil)
    def checkCodecs(cs: Seq[JsonNode], where: String): Unit = {
      val unknown = cs.map(_.get("name").asText()).filterNot(supportedV3Codecs)
      if (unknown.nonEmpty)
        throw new UnsupportedOperationException(
          s"$name: unsupported Zarr v3 $where codec(s): ${unknown.mkString(", ")}")
    }
    checkCodecs(codecs, "chunk")
    val shardingCfg = codecs.find(_.get("name").asText() == "sharding_indexed")
      .map(_.get("configuration"))
    // With sharding, the element encoding lives in the INNER codec list.
    val elemCodecs = shardingCfg match {
      case Some(cfg) =>
        val inner = cfg.get("codecs").elements().asScala.toSeq
        checkCodecs(inner, "shard inner")
        inner
      case None => codecs
    }
    val sharding = shardingCfg.map { cfg =>
      val inner = cfg.get("chunk_shape").elements().asScala.map(_.asInt()).toSeq
      require(chunks.zip(inner).forall { case (c, i) => i > 0 && c % i == 0 },
        s"$name: shard shape $chunks must be a multiple of inner chunk shape $inner")
      val idxCodecs = Option(cfg.get("index_codecs"))
        .map(_.elements().asScala.toSeq).getOrElse(Nil)
      ShardingSpec(
        innerChunks = inner,
        innerComp = compOf(elemCodecs),
        indexChecksum = idxCodecs.exists(_.get("name").asText() == "crc32c"),
        indexAtEnd = Option(cfg.get("index_location")).map(_.asText()).forall(_ == "end"))
    }
    layout.copy(dtype = layout.dtype.copy(littleEndian = endianOf(elemCodecs)),
      compressor = if (sharding.isDefined) ZarrCompressor("none") else compOf(codecs),
      sharding = sharding)
  }

  /** Layouts of the arrays in a refs metadata map (`<v>/.zarray` and
    * array-typed `<v>/zarr.json` documents), by array name. */
  private[zarr] def layoutsOf(docs: collection.Map[String, Array[Byte]]): Map[String, ZarrArrayMeta] =
    docs.iterator.flatMap { case (k, bytes) =>
      val isV3 = k.endsWith("/zarr.json")
      if (!isV3 && !k.endsWith("/.zarray")) None
      else Some(mapper.readTree(bytes))
        .filter(n => !isV3 || Option(n.get("node_type")).exists(_.asText() == "array"))
        .map(n => layoutOf(k.substring(0, k.lastIndexOf('/')), n, isV3))
    }.map(a => a.name -> a).toMap

  /** Array `name` of `store` from its own documents: the v2 `.zarray`
    * or v3 `zarr.json` (None when absent or not an array), its
    * attributes and its `.zstats` sidecar. `layoutOnly` parses the
    * layout without the codec chain ([[layoutOf]]). */
  private[zarr] def arrayAt(store: ZarrStore, name: String, isV3: Boolean,
      layoutOnly: Boolean = false): Option[ZarrArrayMeta] = {
    val doc =
      if (isV3) jsonAt(store, s"$name/zarr.json")
        .filter(n => Option(n.get("node_type")).exists(_.asText() == "array"))
      else jsonAt(store, s"$name/.zarray")
    doc.map { n =>
      val a = if (layoutOnly) layoutOf(name, n, isV3)
              else if (isV3) parseArrayV3(name, n) else parseArrayV2(name, n)
      val attrs = if (isV3) Option(n.get("attributes")) else jsonAt(store, s"$name/.zattrs")
      withSidecar(a.copy(attrs = attrsOf(attrs)), store)
    }
  }

  /** Per-chunk stats sidecar (`<name>/.zstats`):
    * {"chunks": {key: [min,max]}, "sums": {key: [sum, count]},
    *  "complete": true}. "sums"/"complete" are written by
    * [[ZarrWriter]] and power chunk-level SUM/AVG pushdown; "chunks"
    * powers min/max pruning. Sums parse as BigDecimal so integer
    * totals stay exact past 2^53. */
  private def sidecarOf(store: ZarrStore, name: String)
      : (Map[String, (Double, Double)], Map[String, (java.math.BigDecimal, Long)],
        Boolean, Option[(java.math.BigDecimal, Long)]) =
    jsonAt(store, s"$name/.zstats").map { n =>
      val stats = Option(n.get("chunks")).filter(_.isObject).map { c =>
        c.properties().asScala.map { e =>
          e.getKey -> (e.getValue.get(0).asDouble(), e.getValue.get(1).asDouble())
        }.toMap
      }.getOrElse(Map.empty[String, (Double, Double)])
      val sums = Option(n.get("sums")).filter(_.isObject).map { c =>
        c.properties().asScala.map { e =>
          e.getKey -> (e.getValue.get(0).decimalValue(), e.getValue.get(1).asLong())
        }.toMap
      }.getOrElse(Map.empty[String, (java.math.BigDecimal, Long)])
      val complete = Option(n.get("complete")).exists(_.asBoolean(false))
      val total = Option(n.get("total")).filter(_.isArray)
        .map(t => (t.get(0).decimalValue(), t.get(1).asLong()))
      (stats, sums, complete, total)
    }.getOrElse((Map.empty, Map.empty, false, None))

  /** Attach the `.zstats` sidecar fields to an array's metadata. */
  private def withSidecar(m: ZarrArrayMeta, store: ZarrStore): ZarrArrayMeta = {
    val (stats, sums, complete, total) = sidecarOf(store, m.name)
    m.copy(chunkStats = stats, chunkSums = sums,
      sumsComplete = complete && sums.nonEmpty, sumTotal = total)
  }

  /** Stringify a JSON attributes object (units, long_name, …). */
  private def attrsOf(node: Option[JsonNode]): Map[String, String] =
    node.filter(_.isObject).map { n =>
      n.properties().asScala.map { e =>
        val v = e.getValue
        e.getKey -> (if (v.isTextual) v.asText() else v.toString)
      }.toMap
    }.getOrElse(Map.empty)

  /** Discover arrays. Zarr v2 stores with consolidated metadata
    * (`.zmetadata`, one JSON document holding every `.zarray`) are
    * read with a single fetch — the object-store fast path (a
    * directory walk costs one round trip per array on s3/gs).
    * Otherwise walk subdirectories for `.zarray` / array-typed
    * `zarr.json`. */
  def discoverArrays(store: ZarrStore): Seq[ZarrArrayMeta] = {
    jsonAt(store, ".zmetadata")
      .filter(n => Option(n.get("metadata")).exists(_.isObject))
      .map { n =>
        val md = n.get("metadata")
        md.properties().asScala.toSeq
          .filter(_.getKey.endsWith("/.zarray"))
          .map { e =>
            val name = e.getKey.stripSuffix("/.zarray")
            withSidecar(parseArrayV2(name, e.getValue)
              .copy(attrs = attrsOf(Option(md.get(s"$name/.zattrs")))), store)
          }
          .sortBy(_.name)
      }
      .orElse {
        // Zarr v3 consolidated metadata: the root zarr.json may embed
        // every child's metadata under `consolidated_metadata.metadata`
        // (one fetch resolves the schema — required for listing-less
        // backends like HTTP, same as v2 .zmetadata).
        jsonAt(store, "zarr.json")
          .flatMap(n => Option(n.get("consolidated_metadata")))
          .flatMap(c => Option(c.get("metadata")))
          .filter(_.isObject)
          .map { md =>
            md.properties().asScala.toSeq
              .filter(e => Option(e.getValue.get("node_type"))
                .exists(_.asText() == "array"))
              .map { e =>
                withSidecar(parseArrayV3(e.getKey, e.getValue)
                  .copy(attrs = attrsOf(Option(e.getValue.get("attributes")))), store)
              }
              .sortBy(_.name)
          }
      }
      .getOrElse {
        val isV3 = detectVersion(store) == 3
        store.listDirs().flatMap(arrayAt(store, _, isV3))
      }
  }

  /** Group-level attributes: v2 root `.zattrs` (also present in
    * consolidated metadata), v3 root `zarr.json` `attributes`. */
  def groupAttrs(store: ZarrStore): Map[String, String] =
    attrsOf(jsonAt(store, ".zmetadata")
        .flatMap(n => Option(n.get("metadata")))
        .flatMap(md => Option(md.get(".zattrs"))))
      .orElse2(attrsOf(jsonAt(store, ".zattrs")))
      .orElse2(attrsOf(jsonAt(store, "zarr.json").flatMap(n => Option(n.get("attributes")))))

  private implicit class MapOps(m: Map[String, String]) {
    def orElse2(other: => Map[String, String]): Map[String, String] =
      if (m.nonEmpty) m else other
  }

  /** Dimension-order inference
    * (/root/reference/src/reader/schema_inference.rs:304-358): order
    * the coordinates by matching each dimension size of a data
    * variable against coordinate lengths. For ambiguous sizes (two
    * coords of equal length) the reference's observed order is
    * alphabetically-last first (test :957-960 yields
    * `time, lon, lat` for shape [7,10,10]) — replicated here. */
  /** Explicit dimension names carried by an array (xarray's
    * `_ARRAY_DIMENSIONS` attribute, which our own sink writes):
    * parsed as a JSON string array. */
  private def explicitDims(a: ZarrArrayMeta): Option[Seq[String]] =
    a.attrs.get("_ARRAY_DIMENSIONS").flatMap { s =>
      try {
        val n = mapper.readTree(s)
        if (n.isArray) Some((0 until n.size).map(n.get(_).asText())) else None
      } catch { case _: Exception => None }
    }

  /** Dimension names an array declares: v3 `dimension_names`, else
    * the `_ARRAY_DIMENSIONS` attribute. */
  private[zarr] def declaredDims(a: ZarrArrayMeta): Option[Seq[String]] =
    a.dimNames.orElse(explicitDims(a))

  def inferCoordOrder(coords: Seq[ZarrArrayMeta], dataVars: Seq[ZarrArrayMeta]): Seq[ZarrArrayMeta] = {
    val byName = coords.map(c => c.name -> c).toMap
    // Explicit dimension names win over size-matching inference:
    // size inference is ambiguous whenever two coordinates share a
    // length (square grids), and xarray-written stores always carry
    // `_ARRAY_DIMENSIONS`. Falls through unless the names are a
    // permutation of the discovered coordinates.
    val explicit = dataVars.headOption.flatMap(explicitDims).filter(names =>
      names.length == coords.length && names.distinct.length == names.length &&
        names.forall(byName.contains))
    explicit match {
      case Some(names) => names.map(byName)
      case None => dataVars.headOption match {
        case Some(v) if v.shape.length == coords.length =>
          val remaining = scala.collection.mutable.ArrayBuffer(coords.sortBy(_.name).reverse: _*)
          val ordered = v.shape.flatMap { dimSize =>
            val i = remaining.indexWhere(_.shape.head == dimSize)
            if (i >= 0) { val c = remaining.remove(i); Some(c) } else None
          }
          if (ordered.length == coords.length) ordered
          else coords.sortBy(_.name)
        case _ => coords.sortBy(_.name)
      }
    }
  }

  /** Full store read: discovery, classification, dimension-order
    * inference, eager coordinate load (values power statistics and
    * filter planning). */
  def readStore(pathStr: String): ZarrStoreMeta = {
    val store = ZarrStore.open(pathStr)
    val arrays = discoverArrays(store)
    if (arrays.isEmpty)
      throw new IllegalArgumentException(s"No Zarr arrays found under: $pathStr")
    // Classification: the reference's shape rule (1-D ⇒ coordinate,
    // schema_inference.rs:47-210) — refined by explicit dimension
    // names when an array carries them (xarray's _ARRAY_DIMENSIONS,
    // which our own writer emits): a 1-D array whose declared
    // dimension is a DIFFERENT array is a data variable. Without the
    // refinement a 1-D store (the classic time-series layout: one
    // time coordinate + 1-D measurements) misreads its measurements
    // as extra coordinates; attribute-less stores behave exactly as
    // the reference.
    val (coords1d, dataVars) = arrays.partition { a =>
      a.nDims == 1 && explicitDims(a).forall(_ == Seq(a.name))
    }
    val vars = dataVars.sortBy(_.name)
    vars.foreach { v =>
      require(v.shape.length == coords1d.length,
        s"Data variable ${v.name} has ${v.shape.length} dims but store has " +
          s"${coords1d.length} coordinates")
    }
    val ordered = inferCoordOrder(coords1d, vars)
    val coordData = ordered.map { c =>
      val raw = ChunkIO.readWholeArray(store, c)
      CoordData(c, raw, ChunkCodec.toDoubles(raw))
    }
    ZarrStoreMeta(store.path, coordData, vars, groupAttrs(store))
  }
}
