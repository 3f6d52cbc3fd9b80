package graft.sources.zarr

import java.nio.{ByteBuffer, ByteOrder}

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed Zarr store writer (v2 or v3) — the sink the reference
  * lists as roadmap ("output formats", /root/reference/README.md:305).
  * Writes a complete-grid DataFrame (coordinate columns +
  * data-variable columns) as a Zarr store: coordinates as 1-D arrays,
  * variables chunked `(chunkOuter, full inner dims)` like the
  * reference fixtures. v2 emits `.zgroup`/`.zarray`/`.zattrs` with
  * dotted chunk keys; v3 emits `zarr.json` documents (bytes codec,
  * little-endian, inline attributes) with `c/`-prefixed chunk keys.
  *
  * Distribution model: rows are repartitioned by outer-chunk id, so
  * each executor task owns whole chunk slabs and writes its chunk
  * files directly — the driver only writes metadata and the (small)
  * coordinate arrays. One chunk slab (chunkOuter × inner rows ×
  * element size) must fit in task memory, the same constraint any
  * chunked-format writer has.
  *
  * Contract: the input must cover the full cartesian product of its
  * coordinate values at most once; missing cells become `fill_value`
  * (0). All IO goes through [[ZarrStore]], so any writable backend
  * (local, hdfs://, s3a://, …) works; executors open their own store
  * handle from the serialized descriptor.
  */
object ZarrWriter {

  /** Default cap on a single dimension's coordinate count (16 Mi —
    * ~128 MB of driver heap for a long coordinate). Coordinate arrays
    * are Zarr metadata and live whole on the driver, so a dimension
    * above this is refused loudly before any collect (override with
    * `maxDimLen` / the `maxDimLen` write option). */
  val defaultMaxDimLen: Int = 1 << 24

  private def dtypeOf(t: DataType): (String, Int) = t match {
    case LongType => ("<i8", 8)
    case IntegerType => ("<i4", 4)
    case ShortType => ("<i2", 2)
    case ByteType => ("|i1", 1)
    case DoubleType => ("<f8", 8)
    case FloatType => ("<f4", 4)
    case BooleanType => ("|b1", 1)
    // datetime64[us] — the reader's canonical unit, so a zarr-read
    // timestamp coordinate round-trips losslessly (v2 stores only; v3
    // core has no datetime type)
    case TimestampType => ("<M8[us]", 8)
    case other => throw new IllegalArgumentException(s"Unsupported Zarr write type: $other")
  }

  /** Coordinate dtype, which unlike data variables may be fixed-width
    * ASCII: width = longest value (`|S<w>`, NUL-padded like numpy). */
  private def coordDtype(t: DataType, vals: Array[Any]): (String, Int) = t match {
    case StringType =>
      val w = math.max(1, vals.map(_.asInstanceOf[String]
        .getBytes(java.nio.charset.StandardCharsets.US_ASCII).length).max)
      (s"|S$w", w)
    case other => dtypeOf(other)
  }

  /** Effective data-variable dtype: `uintColumns` stores an integral
    * column as unsigned of `w` bytes (`|u1`/`<u2`/`<u4`/`<u8`). Spark
    * has no unsigned types, so reads widen per SURVEY §1.5 (u1→Short,
    * u2→Int, u4/u8→Long); writing that widened type back through
    * `uintColumns` round-trips losslessly — every element is
    * range-checked at serialization time. */
  private def varDtype(name: String, t: DataType, uint: Map[String, Int]): (String, Int) =
    uint.get(name) match {
      case Some(w) =>
        require(Set(1, 2, 4, 8)(w),
          s"uintColumns width for '$name' must be 1, 2, 4 or 8 bytes, got $w")
        t match {
          case ByteType | ShortType | IntegerType | LongType => ()
          case other => throw new IllegalArgumentException(
            s"uintColumns column '$name' must be an integral type, got $other")
        }
        (if (w == 1) "|u1" else s"<u$w", w)
      case None => dtypeOf(t)
    }

  private def epochMicros(v: Any): Long = v match {
    case micros: Long => micros
    case t: java.sql.Timestamp =>
      Math.addExact(Math.multiplyExact(Math.floorDiv(t.getTime, 1000L), 1000000L),
        (t.getNanos / 1000).toLong)
    case i: java.time.Instant =>
      Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), (i.getNano / 1000).toLong)
    case other => throw new IllegalArgumentException(s"Not a timestamp: $other")
  }

  private def compressorJson(c: String): String = c match {
    case "none" => "null"
    case "zstd" => """{"id":"zstd","level":3}"""
    case "gzip" => """{"id":"gzip","level":5}"""
    case "zlib" => """{"id":"zlib","level":6}"""
    case "blosc" => """{"id":"blosc","cname":"lz4","clevel":5,"shuffle":1}"""
    case other => throw new IllegalArgumentException(
      s"Unsupported write compressor: $other (use none, blosc, zlib, zstd or gzip)")
  }

  /** Compress one chunk payload for writing (readers decode any of
    * these). zstd default level 3: the object-store sweet spot —
    * decode speed close to lz4, ratio close to zlib. blosc =
    * byte-shuffle + LZ4 frames ([[ChunkCodec.bloscCompress]]), the
    * reference fixtures' codec. */
  private def compressPayload(raw: Array[Byte], c: String, typesize: Int): Array[Byte] =
    c match {
      case "none" => raw
      case "zstd" => com.github.luben.zstd.Zstd.compress(raw, 3)
      case "blosc" => ChunkCodec.bloscCompress(raw, typesize)
      case "gzip" =>
        val bos = new java.io.ByteArrayOutputStream()
        val g = new java.util.zip.GZIPOutputStream(bos) {
          `def`.setLevel(5)
        }
        g.write(raw); g.close()
        bos.toByteArray
      case "zlib" =>
        val d = new java.util.zip.Deflater(6)
        d.setInput(raw); d.finish()
        val bos = new java.io.ByteArrayOutputStream(raw.length / 2 + 16)
        val buf = new Array[Byte](8192)
        while (!d.finished()) bos.write(buf, 0, d.deflate(buf))
        d.end()
        bos.toByteArray
    }

  /** Delta-eligible on WRITE: exact-integer element types only. Float
    * delta exists in numcodecs but float add/subtract does not
    * round-trip bit-exactly, so the writer refuses to produce it. */
  private def deltaEligible(t: DataType): Boolean = t match {
    case LongType | IntegerType | ShortType | ByteType | TimestampType => true
    case _ => false
  }

  /** numcodecs `delta` encode over a serialized chunk payload in
    * `dt`'s byte order: first element kept, each later element
    * replaced by its difference from the previous (the read side
    * integrates — ChunkCodec.deltaDecode). Regular grids (time steps,
    * sequential ids) become near-constant streams, which is where the
    * compressor ratio comes from. */
  private def deltaEncode(raw: Array[Byte], dt: ZarrDType): Array[Byte] = {
    val buf = ByteBuffer.wrap(raw).order(orderOf(dt))
    dt.size match {
      case 8 =>
        val n = raw.length / 8
        var prev = if (n > 0) buf.getLong(0) else 0L
        var i = 1
        while (i < n) { val cur = buf.getLong(i * 8); buf.putLong(i * 8, cur - prev); prev = cur; i += 1 }
      case 4 =>
        val n = raw.length / 4
        var prev = if (n > 0) buf.getInt(0) else 0
        var i = 1
        while (i < n) { val cur = buf.getInt(i * 4); buf.putInt(i * 4, cur - prev); prev = cur; i += 1 }
      case 2 =>
        val n = raw.length / 2
        var prev = if (n > 0) buf.getShort(0) else 0.toShort
        var i = 1
        while (i < n) { val cur = buf.getShort(i * 2); buf.putShort(i * 2, (cur - prev).toShort); prev = cur; i += 1 }
      case 1 =>
        var prev = if (raw.length > 0) raw(0) else 0.toByte
        var i = 1
        while (i < raw.length) { val cur = raw(i); raw(i) = (cur - prev).toByte; prev = cur; i += 1 }
      case other => throw new IllegalArgumentException(s"delta filter not writable at width $other")
    }
    raw
  }

  private def zarray(shape: Seq[Long], chunks: Seq[Int], dtype: String,
      compressor: String, delta: Boolean = false): String = {
    val fill = if (dtype.startsWith("|S")) "null" else "0"
    val filters =
      if (delta) s"""[{"id":"delta","dtype":"$dtype"}]""" else "null"
    s"""{"zarr_format":2,"shape":[${shape.mkString(",")}],"chunks":[${chunks.mkString(",")}],
       |"dtype":"$dtype","fill_value":$fill,"order":"C","filters":$filters,
       |"dimension_separator":".","compressor":${compressorJson(compressor)}}"""
      .stripMargin.replace("\n", "")
  }

  private def v3TypeName(dtype: String): String = dtype.drop(1) match {
    case "i8" => "int64"
    case "i4" => "int32"
    case "i2" => "int16"
    case "i1" => "int8"
    case "u8" => "uint64"
    case "u4" => "uint32"
    case "u2" => "uint16"
    case "u1" => "uint8"
    case "f8" => "float64"
    case "f4" => "float32"
    case "b1" => "bool"
    case other => throw new IllegalArgumentException(
      s"No Zarr v3 data type for dtype $dtype")
  }

  private def zarrJsonV3(shape: Seq[Long], chunks: Seq[Int], dtypeStr: String,
      typesize: Int, attrsJson: Option[String], shardInner: Int = 0,
      shardCompress: String = "none", compressor: String = "none",
      dimNames: Seq[String] = Nil): String = {
    val attrs = attrsJson.map(a => s""","attributes":$a""").getOrElse("")
    // `dimension_names` is the v3-core (optional) dimension-naming
    // field — xarray reads it, and KerchunkParquetRefs.combineStores
    // uses it to find the concat axis without heuristics
    val dims =
      if (dimNames.isEmpty) ""
      else s""","dimension_names":[${dimNames.map(d => s""""$d"""").mkString(",")}]"""
    val bytesCodec = """{"name":"bytes","configuration":{"endian":"little"}}"""
    def chain(c: String): String = c match {
      case "none" => s"[$bytesCodec]"
      case "zstd" => s"""[$bytesCodec,{"name":"zstd","configuration":{"level":3}}]"""
      case "gzip" => s"""[$bytesCodec,{"name":"gzip","configuration":{"level":5}}]"""
      case "blosc" =>
        s"""[$bytesCodec,{"name":"blosc","configuration":{"cname":"lz4",""" +
          s""""clevel":5,"shuffle":"shuffle","typesize":$typesize}}]"""
      case other => throw new IllegalArgumentException(
        s"Unsupported write compressor: $other")
    }
    val codecs =
      if (shardInner <= 0) chain(compressor)
      else {
        val innerShape = (shardInner +: chunks.drop(1)).mkString(",")
        s"""[{"name":"sharding_indexed","configuration":{
           |"chunk_shape":[$innerShape],
           |"codecs":${chain(shardCompress)},
           |"index_codecs":[$bytesCodec,{"name":"crc32c"}],
           |"index_location":"end"}}]""".stripMargin.replace("\n", "")
      }
    s"""{"zarr_format":3,"node_type":"array","shape":[${shape.mkString(",")}],
       |"data_type":"${v3TypeName(dtypeStr)}",
       |"chunk_grid":{"name":"regular","configuration":{"chunk_shape":[${chunks.mkString(",")}]}},
       |"chunk_key_encoding":{"name":"default","configuration":{"separator":"/"}},
       |"fill_value":0,
       |"codecs":$codecs$dims$attrs}"""
      .stripMargin.replace("\n", "")
  }

  /** Wrap a raw little-endian slab into a v3 shard: body = the inner
    * chunks (contiguous, since inner chunks split only the outer
    * dimension), then the (offset,nbytes) uint64le index + crc32c. */
  private def shardify(slab: Array[Byte], nInner: Int,
      codec: String, typesize: Int): Array[Byte] = {
    val innerBytes = slab.length / nInner
    val body = new java.io.ByteArrayOutputStream()
    val index = ByteBuffer.allocate(nInner * 16).order(ByteOrder.LITTLE_ENDIAN)
    var i = 0
    while (i < nInner) {
      val raw = java.util.Arrays.copyOfRange(slab, i * innerBytes, (i + 1) * innerBytes)
      val enc = compressPayload(raw, codec, typesize)
      index.putLong(body.size().toLong); index.putLong(enc.length.toLong)
      body.write(enc)
      i += 1
    }
    val crc = new java.util.zip.CRC32C
    crc.update(index.array())
    body.write(index.array())
    val tail = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
      .putInt(crc.getValue.toInt)
    body.write(tail.array())
    body.toByteArray
  }

  private def orderOf(dt: ZarrDType): ByteOrder =
    if (dt.littleEndian) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN

  /** A zeroed buffer of `cells` elements of `dt`, in its byte order. */
  private[zarr] def cellBuffer(dt: ZarrDType, cells: Int): ByteBuffer =
    ByteBuffer.allocate(cells * dt.size).order(orderOf(dt))

  /** Serialize one element at cell `offset` of a [[cellBuffer]] in the
    * store dtype's layout. Takes row-domain values (timestamps as
    * `Timestamp`/`Instant`) and raw-domain ones (epoch micros, as
    * [[ChunkCodec.elementAt]] returns them); a datetime is stored in
    * the dtype's unit, exactly, or refused. Unsigned dtypes carry a
    * WIDENED Spark type (u4 → Long), so they are written at the dtype's
    * width, never the Spark type's, and range-checked: a read (which
    * widens back) returns exactly the written value. Fixed-width
    * strings are NUL-padded like numpy. */
  private[zarr] def putElement(buf: ByteBuffer, offset: Int, dt: ZarrDType, v: Any): Unit = {
    val at = offset * dt.size
    (dt.kind, dt.size) match {
      case ('u', w) =>
        val x = v match {
          case n: java.lang.Number => n.longValue()
          case other => throw new IllegalArgumentException(s"not an integer: $other")
        }
        val max = if (w == 8) Long.MaxValue else (1L << (8 * w)) - 1
        require(x >= 0 && x <= max, s"value $x out of range for uint${8 * w}")
        w match {
          case 1 => buf.put(at, x.toByte)
          case 2 => buf.putShort(at, x.toShort)
          case 4 => buf.putInt(at, x.toInt)
          case _ => buf.putLong(at, x)
        }
      case ('i', 8) => buf.putLong(at, v.asInstanceOf[Long])
      case ('i', 4) => buf.putInt(at, v.asInstanceOf[Int])
      case ('i', 2) => buf.putShort(at, v.asInstanceOf[Short])
      case ('i', 1) => buf.put(at, v.asInstanceOf[Byte])
      case ('f', 8) => buf.putDouble(at, v.asInstanceOf[Double])
      case ('f', 4) => buf.putFloat(at, v.asInstanceOf[Float])
      case ('b', _) => buf.put(at, if (v.asInstanceOf[Boolean]) 1.toByte else 0.toByte)
      case ('M', _) =>
        val us = epochMicros(v)
        val held = try Some(Math.multiplyExact(us, dt.tsDivUs)).filter(_ % dt.tsMulUs == 0)
                   catch { case _: ArithmeticException => None }
        buf.putLong(at, held.getOrElse(throw new IllegalArgumentException(
          s"timestamp $us µs since the epoch cannot be held exactly by the store's " +
            s"datetime64 unit (one step = ${dt.tsMulUs}/${dt.tsDivUs} µs)")) / dt.tsMulUs)
      case ('S', w) =>
        val b = v.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.US_ASCII)
        require(b.length <= w, s"string '$v' exceeds coordinate width $w")
        buf.put(at, b)
      case other => throw new UnsupportedOperationException(s"cannot serialize dtype $other")
    }
  }

  /** One chunk's stored bytes from its raw little-endian cells, as the
    * array's own metadata declares them: a v3 shard of inner chunks, or
    * the delta filter then the compressor. */
  private def encodeChunk(raw: Array[Byte], m: ZarrArrayMeta): Array[Byte] = m.sharding match {
    case Some(s) =>
      shardify(raw, m.chunks.head / s.innerChunks.head, codecNameOf(s.innerComp, m.name), m.dtype.size)
    case None =>
      compressPayload(if (m.deltaFilter) deltaEncode(raw, m.dtype) else raw,
        codecNameOf(m.compressor, m.name), m.dtype.size)
  }

  /** Write chunk `cc` of the 1-D array `m`, whose axis holds `len`
    * values `valueAt(0 until len)`. Cells past `len` are zero padding;
    * readers truncate at shape. */
  private def writeCoordChunk(store: ZarrStore, m: ZarrArrayMeta, cc: Int, len: Int,
      valueAt: Int => Any): Unit = {
    val c = m.chunks.head
    val buf = cellBuffer(m.dtype, c)
    (0 until math.min(c, len - cc * c)).foreach(i => putElement(buf, i, m.dtype, valueAt(cc * c + i)))
    store.writeBytes(s"${m.name}/${m.chunkKey(Seq(cc.toLong))}", encodeChunk(buf.array(), m))
  }

  /** How a variable's `.zstats` sums accumulate: 1 = exact long
    * (integrals), 2 = double (floats), 0 = no sums (datetime / bool —
    * SUM is not meaningful there). */
  private def sumKind(dt: ZarrDType): Int = dt.kind match {
    case 'i' | 'u' => 1
    case 'f' => 2
    case _ => 0
  }

  /** A value in the stats space: chunk min/max, pruning comparisons and
    * the append order check all compare doubles, datetimes as epoch
    * micros (what they decode to). */
  private def doubleOf(v: Any): Double = v match {
    case n: java.lang.Number => n.doubleValue()
    case b: Boolean => if (b) 1.0 else 0.0
    case other => epochMicros(other).toDouble
  }

  /** One encoded chunk's sidecar partial: its [min, max] (widened by
    * the fill value when some cells were never written) and its
    * (exact sum, written-cell count), None when the variable carries no
    * sums, no cell was written or the sum overflowed. */
  private final case class ChunkPartial(min: Double, max: Double,
      sum: Option[(java.math.BigDecimal, Long)])

  /** The stats/sums accumulator of one (chunk, variable). Null cells
    * are written as fill and not counted. A long overflow or a
    * non-finite double sum poisons the chunk's sum, which drops the
    * whole variable's sums: the sidecar's sums are all-or-nothing, so
    * the complete-coverage attestation can hold. */
  private final class ChunkAcc(kind: Int) {
    private var min = Double.PositiveInfinity
    private var max = Double.NegativeInfinity
    private var n = 0L
    private var longSum = 0L
    private var doubleSum = 0.0
    private var poisoned = false

    def add(value: Any): Unit = if (value != null) {
      val d = doubleOf(value)
      min = math.min(min, d)
      max = math.max(max, d)
      n += 1
      if (kind == 1)
        try longSum = Math.addExact(longSum, value.asInstanceOf[java.lang.Number].longValue())
        catch { case _: ArithmeticException => poisoned = true }
      else if (kind == 2) {
        doubleSum += d
        poisoned ||= !java.lang.Double.isFinite(doubleSum)
      }
    }

    def partial(cells: Long, fill: Double): ChunkPartial = {
      val (mn, mx) = if (n >= cells) (min, max) else (math.min(min, fill), math.max(max, fill))
      val sum =
        if (kind == 0 || poisoned || n == 0) None
        else if (kind == 1) Some((java.math.BigDecimal.valueOf(longSum), n))
        else Some((java.math.BigDecimal.valueOf(doubleSum), n))
      ChunkPartial(mn, mx, sum)
    }
  }

  /** The input check of write and append, ONE aggregation action: row
    * count, distinct cells, and per coordinate its nulls, its NaNs and
    * its sorted distinct values. Returns those values per coordinate.
    *
    * Duplicate cells would write nondeterministically (whichever
    * partition's value lands last) and can MASK a missing cell,
    * silently replacing user data with fill; a partial grid (missing
    * cells → fill_value) stays legal. Null and NaN coordinates cannot
    * index a grid. Coordinate arrays are Zarr metadata that live whole
    * on the driver, so each set is capped executor-side at
    * `maxDimLen + 1` values: the driver never receives more, and a set
    * at the cap is refused. The executors still build each full set. */
  private def validateGrid(df: DataFrame, coords: Seq[String], maxDimLen: Int): Seq[Array[Any]] = {
    val cap = math.min(maxDimLen.toLong + 1, Int.MaxValue).toInt
    val aggs: Seq[Column] =
      Seq(count(lit(1)), count_distinct(struct(coords.map(col): _*))) ++
        coords.flatMap { c =>
          val nans = df.schema(c).dataType match {
            case FloatType | DoubleType => sum(when(isnan(col(c)), 1L).otherwise(0L))
            case _ => lit(0L)
          }
          Seq(sum(when(col(c).isNull, 1L).otherwise(0L)), nans,
            slice(sort_array(collect_set(col(c))), 1, cap))
        }
    val v = df.agg(aggs.head, aggs.tail: _*).head()
    val n = v.getLong(0)
    require(n > 0,
      "cannot write an empty DataFrame to a Zarr store: a grid needs at " +
        "least one value per dimension")
    require(v.getLong(1) == n,
      s"input has ${n - v.getLong(1)} duplicate coordinate cell(s): each " +
        s"(${coords.mkString(", ")}) tuple may appear at most once")
    coords.zipWithIndex.map { case (name, i) =>
      require(v.getLong(2 + 3 * i) == 0L,
        s"coordinate '$name' contains null — coordinate values must be non-null")
      require(v.getLong(3 + 3 * i) == 0L,
        s"coordinate '$name' contains NaN — grid coordinates must be " +
          "orderable finite values")
      val vals = v.getSeq[Any](4 + 3 * i).toArray
      require(vals.length <= maxDimLen,
        s"coordinate '$name' has more than $maxDimLen distinct values (the " +
          "maxDimLen bound): coordinate arrays are driver-materialized Zarr " +
          "metadata; raise the maxDimLen option only if the driver has memory " +
          "for the full coordinate array")
      vals
    }
  }

  /** `df` with each row's outer-chunk id, repartitioned so that every
    * chunk (all inner chunks of an outer slab included) lands in exactly
    * one task. `vals` are the outer values in grid order, the first at
    * grid index `first`. The id comes from a BROADCAST equi-join against
    * the (value → chunk) table: a chained CASE per outer value would
    * build an expression tree as deep as the outer extent (a 50k-step
    * time dimension then stack-overflows the analyzer), while the join
    * has O(1) expression depth at any extent. */
  private def byOuterChunk(df: DataFrame, outer: String, vals: Array[Any], first: Int,
      chunkOuter: Int): DataFrame = {
    val spark = df.sparkSession
    val rows = vals.toSeq.zipWithIndex.map { case (v, i) => Row(v, ((first + i) / chunkOuter).toLong) }
    val mapDf = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("__ov", df.schema(outer).dataType, nullable = false),
        StructField("__chunk", LongType, nullable = false))))
    val nChunks = (vals.length + chunkOuter - 1) / chunkOuter
    df.join(broadcast(mapDf), df(outer) === mapDf("__ov")).drop("__ov")
      .repartition(math.min(nChunks, math.max(1, spark.sparkContext.defaultParallelism)),
        col("__chunk"))
  }

  /** The executor encode pass of write and append. Each task buffers its
    * rows' cells per (chunk, variable) in the layout the variables'
    * metadata declares, writes every chunk it owns through the store
    * and returns one [[ChunkPartial]] per chunk. `idx(d)` maps
    * dimension d's raw-domain coordinate values to grid indices. */
  private def encodeChunks(rows: DataFrame, coords: Seq[String], idx: Seq[Map[Any, Int]],
      metas: Seq[ZarrArrayMeta], store: ZarrStore): RDD[((Seq[Long], Int), ChunkPartial)] = {
    val bIdx = rows.sparkSession.sparkContext.broadcast(idx)
    // the prior sidecar maps are not needed to encode: ship the layout only
    val ms = metas.map(_.copy(chunkStats = Map.empty, chunkSums = Map.empty))
    val grid = ms.head.chunks
    rows.rdd.mapPartitions { it =>
      val index = bIdx.value
      val slots = mutable.Map.empty[(Seq[Long], Int), (ByteBuffer, ChunkAcc)]
      it.foreach { row =>
        // grid indices → (chunk index vector, C-order offset in chunk)
        val ci = new Array[Long](coords.length)
        var local = 0L
        var d = 0
        while (d < coords.length) {
          val gi = index(d)(rawOf(row.getAs[Any](coords(d))))
          ci(d) = gi / grid(d)
          local = local * grid(d) + gi % grid(d)
          d += 1
        }
        val key = ci.toSeq
        var v = 0
        while (v < ms.length) {
          val m = ms(v)
          // edge chunks are stored at FULL chunk shape (the overhang is
          // fill): readers size buffers from the chunk shape
          val (buf, acc) = slots.getOrElseUpdate((key, v),
            (cellBuffer(m.dtype, m.chunks.product), new ChunkAcc(sumKind(m.dtype))))
          val value = row.getAs[Any](m.name)
          putElement(buf, local.toInt, m.dtype, value)
          acc.add(value)
          v += 1
        }
      }
      slots.iterator.map { case ((ci, v), (buf, acc)) =>
        val m = ms(v)
        store.writeBytes(s"${m.name}/${m.chunkKey(ci)}", encodeChunk(buf.array(), m))
        ((ci, v), acc.partial(m.chunks.map(_.toLong).product, m.fillValue))
      }
    }
  }

  /** Route every chunk's partial to the one task that owns its
    * variable's sidecar. */
  private def byVar(partials: RDD[((Seq[Long], Int), ChunkPartial)],
      nVars: Int): RDD[(Int, (Seq[Long], ChunkPartial))] =
    partials.map { case ((ci, v), p) => (v, (ci, p)) }.partitionBy(new VarPartitioner(nVars))

  /** Variable `m` with the fresh per-chunk partials merged over the
    * prior sidecar state it carries (empty and vacuously complete for
    * a fresh write). The sums stay attested complete only when the
    * prior state was and every fresh chunk produced a sum. */
  private def withPartials(m: ZarrArrayMeta, fresh: Seq[(Seq[Long], ChunkPartial)]): ZarrArrayMeta = {
    val byKey = fresh.map { case (ci, p) => m.chunkKey(ci) -> p }
    val keys = byKey.map(_._1)
    m.copy(chunkStats = (m.chunkStats -- keys) ++ byKey.map { case (k, p) => k -> (p.min, p.max) },
      chunkSums = (m.chunkSums -- keys) ++ byKey.flatMap { case (k, p) => p.sum.map(k -> _) },
      sumsComplete = m.sumsComplete && byKey.nonEmpty && byKey.forall(_._2.sum.isDefined))
  }

  /** The `.zstats` document of `m`'s chunk stats and sums — the one
    * renderer, for write, append and the refs combine (ZarrMeta parses
    * it). Entries sort in canonical C-order, so a write-then-append
    * store is byte-identical to the equivalent fresh write. A chunk
    * whose min or max is not finite gets no entry: strict JSON has no
    * NaN or Infinity, and readers never prune a chunk without one.
    * Sums, with the O(1) "total" and the "complete" attestation, are
    * written only when `m` attests complete sums; chunks with no entry
    * are then provably all-fill, so readers can answer SUM/AVG from
    * the sidecar alone. */
  private[zarr] def zstatsDoc(m: ZarrArrayMeta): Array[Byte] = {
    import scala.math.Ordering.Implicits._
    def canonical[V](kv: Map[String, V]): Seq[(String, V)] =
      kv.toSeq.sortBy(e => m.chunkIndex(e._1).getOrElse(Nil))
    val chunks = canonical(m.chunkStats).collect {
      case (k, (mn, mx)) if java.lang.Double.isFinite(mn) && java.lang.Double.isFinite(mx) =>
        s""""$k": [$mn, $mx]"""
    }.mkString(",")
    val sums =
      if (!m.sumsComplete || m.chunkSums.isEmpty) ""
      else {
        val all = canonical(m.chunkSums)
        val (s, c) = all.foldLeft((java.math.BigDecimal.ZERO, 0L)) {
          case ((s, c), (_, (s2, c2))) => (s.add(s2), c + c2)
        }
        all.map { case (k, (s, c)) => s""""$k": [${s.toPlainString}, $c]""" }
          .mkString(""", "sums": {""", ",",
            s"""}, "total": [${s.toPlainString}, $c], "complete": true""")
      }
    s"""{"chunks": {$chunks}$sums}""".getBytes(java.nio.charset.StandardCharsets.UTF_8)
  }

  /** EXECUTORS write the sidecars, one task per variable reading its
    * partials from the shuffle `byVar` planned (the shuffle boundary
    * guarantees every chunk is written first); the driver receives one
    * row per variable, never the per-chunk partials. */
  private def writeSidecars(keyed: RDD[(Int, (Seq[Long], ChunkPartial))],
      metas: Seq[ZarrArrayMeta], store: ZarrStore): Unit =
    lastStatsDriverRows = keyed.mapPartitionsWithIndex { (v, it) =>
      store.writeBytes(s"${metas(v).name}/.zstats", zstatsDoc(withPartials(metas(v), it.map(_._2).toSeq)))
      Iterator.single(v)
    }.collect().length

  /** Write `df` as a Zarr v2 store at `path` (created fresh).
    *
    * @param coords coordinate column names, outer dimension first
    * @param chunkOuter chunk extent along the outer dimension
    */
  def write(df: DataFrame, path: String, coords: Seq[String], chunkOuter: Int = 1,
      version: Int = 2, shardInner: Int = 0, shardCompress: String = "none",
      compressor: String = "none", chunkShape: Seq[Int] = Nil,
      deltaFilter: Boolean = false,
      uintColumns: Map[String, Int] = Map.empty,
      maxDimLen: Int = ZarrWriter.defaultMaxDimLen): Unit = {
    require(version == 2 || version == 3, s"zarrVersion must be 2 or 3, got $version")
    require(!deltaFilter || version == 2,
      "deltaFilter requires zarrVersion=2 (numcodecs filters are a v2 concept)")
    require(uintColumns.isEmpty || !deltaFilter,
      "uintColumns cannot combine with deltaFilter (numcodecs delta is declared on the signed dtype)")
    require(shardInner == 0 || compressor == "none",
      "shardInner and compressor are mutually exclusive (use shardCompress for sharded stores)")
    compressorJson(compressor) // validate early
    require(Set("none", "gzip", "zstd", "blosc")(shardCompress),
      s"Unsupported shardCompress codec: $shardCompress (use none, gzip, zstd or blosc)")
    require(coords.nonEmpty, "at least one coordinate column")
    val schema = df.schema
    val varCols = schema.fieldNames.filterNot(coords.contains).toSeq
    require(varCols.nonEmpty, "at least one data-variable column")
    uintColumns.keys.foreach(k => require(varCols.contains(k),
      s"uintColumns names '$k', which is not a data-variable column"))

    // 1. one aggregation pass validates the input and yields the
    // sorted coordinate values
    val coordVals = validateGrid(df, coords, maxDimLen)
    val shape = coordVals.map(_.length.toLong)

    // Effective data-variable chunk shape: explicit `chunkShape` (full
    // N-dim control — at scale inner dims need chunking too, so one
    // chunk targets ~tens of MB, not a whole hyperslab) or the default
    // (chunkOuter, full inner dims) matching the reference fixtures.
    val chunks: Seq[Int] =
      if (chunkShape.nonEmpty) chunkShape else chunkOuter +: shape.drop(1).map(_.toInt)
    require(chunks.length == coords.length,
      s"chunkShape has ${chunks.length} dims but the grid has ${coords.length}")
    require(chunks.forall(_ >= 1), s"chunk extents must be >= 1: $chunks")
    require(chunks.map(_.toLong).product * 8 <= Int.MaxValue,
      s"one chunk (${chunks.mkString("x")}) exceeds the 2 GiB buffer limit")
    val outerChunk = chunks.head
    require(shardInner == 0 || (version == 3 && outerChunk % shardInner == 0),
      s"shardInner requires zarrVersion=3 and outer chunk extent ($outerChunk) divisible by shardInner ($shardInner)")

    // 2. driver writes the group and every array's metadata
    val store = ZarrStore.open(path)
    if (version == 2)
      store.writeBytes(".zgroup", """{"zarr_format":2}""".getBytes)
    else
      store.writeBytes("zarr.json",
        """{"zarr_format":3,"node_type":"group"}""".getBytes)
    // Column metadata (units, long_name, … — e.g. from a zarr read)
    // round-trips as the array's .zattrs (v2) / inline attributes (v3).
    // Every array also records its dimension names (xarray's
    // `_ARRAY_DIMENSIONS` convention): without them, a reader must
    // INFER dimension order by matching sizes to coordinate lengths,
    // which is ambiguous whenever two coordinates share a length (any
    // square grid) — the read-back schema would transpose. Explicit
    // names make write→read round-trips exact for every shape.
    def attrsJson(name: String): Option[String] = {
      val md = schema(name).metadata
      val dims = if (coords.contains(name)) Seq(name) else coords
      val b = new org.apache.spark.sql.types.MetadataBuilder().withMetadata(md)
      b.putStringArray("_ARRAY_DIMENSIONS", dims.toArray)
      Some(b.build().json)
    }
    def writeArrayMeta(name: String, aShape: Seq[Long], aChunks: Seq[Int],
        dtypeStr: String, typesize: Int): Unit = {
      val t = schema(name).dataType
      if (version == 2) {
        store.writeBytes(s"$name/.zarray",
          zarray(aShape, aChunks, dtypeStr, compressor,
            delta = deltaFilter && deltaEligible(t)).getBytes)
        attrsJson(name).foreach(a => store.writeBytes(s"$name/.zattrs", a.getBytes))
      } else {
        // only data variables shard (aShape == full grid shape)
        val si = if (aShape == shape) shardInner else 0
        // dims: a data variable spans the coord order; a coordinate
        // array names its own single dimension
        val dimNames = if (aShape == shape) coords else Seq(name)
        store.writeBytes(s"$name/zarr.json",
          zarrJsonV3(aShape, aChunks, dtypeStr, typesize, attrsJson(name), si,
            shardCompress, compressor, dimNames).getBytes)
      }
    }
    coords.zip(coordVals).foreach { case (name, vals) =>
      val t = schema(name).dataType
      require(version == 2 || (t != StringType && t != TimestampType),
        s"string/datetime coordinate '$name' requires zarrVersion=2 " +
          "(Zarr v3 core has no fixed-width string or datetime64 data type)")
      val (dtypeStr, elem) = coordDtype(t, vals)
      // The OUTER coordinate is chunk-grain at the data variables'
      // outer chunk extent from the FIRST write: appends grow this
      // axis without bound, and a chunk-grain layout lets them extend
      // it by writing only the tail + fresh chunks — never re-chunking
      // chunk 0 in a window racing the metadata flip (the torn-store
      // hazard on the legacy single-chunk layout). Inner coordinates
      // never grow, so they stay a single chunk.
      val cChunk = if (name == coords.head) outerChunk else vals.length
      writeArrayMeta(name, Seq(vals.length.toLong), Seq(cChunk), dtypeStr, elem)
    }
    varCols.foreach { name =>
      val (dtypeStr, elem) = varDtype(name, schema(name).dataType, uintColumns)
      writeArrayMeta(name, shape, chunks, dtypeStr, elem)
    }

    // Consolidated metadata: one-fetch discovery (required for
    // listing-less backends like HTTP). v2 → .zmetadata; v3 → embed
    // under the root zarr.json's `consolidated_metadata`.
    val docKeys = (coords ++ varCols).flatMap(n =>
      if (version == 2) Seq(s"$n/.zarray", s"$n/.zattrs") else Seq(s"$n/zarr.json"))
    consolidated(version == 3, None, docKeys.flatMap(k => store.readBytes(k).map(k -> _)))
      .foreach(store.writeBytes(if (version == 2) ".zmetadata" else "zarr.json", _))

    // 3. every chunk is encoded from the metadata just written, read
    // back the way a reader parses it, so write and append share one
    // encoder and both encode exactly what the reader decodes. A fresh
    // write has no prior sidecar: empty, vacuously complete.
    val arrays = ZarrMeta.discoverArrays(store).map(a => a.name -> a).toMap
    coords.zip(coordVals).foreach { case (name, vals) =>
      val m = arrays(name)
      (0 until m.chunkGrid.head.toInt).foreach(cc => writeCoordChunk(store, m, cc, vals.length, vals(_)))
    }
    val metas = varCols.map(n =>
      arrays(n).copy(chunkStats = Map.empty, chunkSums = Map.empty, sumsComplete = true))
    // 4. one job: executors write the chunk slabs, then (after the
    // per-variable shuffle) the `.zstats` sidecars that power
    // statistics-based chunk pruning and SUM/AVG pushdown (zarr itself
    // has no chunk stats, so this is a sidecar extension readers may
    // ignore)
    val idx = coordVals.map(_.iterator.map(rawOf).zipWithIndex.toMap)
    val rows = byOuterChunk(df, coords.head, coordVals.head, 0, outerChunk)
    writeSidecars(byVar(encodeChunks(rows, coords, idx, metas, store), metas.length), metas, store)
    // a rewrite at this path must not serve chunks cached before it
    ChunkIO.invalidatePath(store.path)
  }

  /** Row-domain value → the coordinate raw domain ([[ChunkCodec
    * .elementAt]]): timestamps become epoch micros, everything else is
    * already the typed value. */
  private def rawOf(v: Any): Any = v match {
    case t: java.sql.Timestamp => epochMicros(t)
    case i: java.time.Instant => epochMicros(i)
    case other => other
  }

  /** Back-map a store's parsed compressor to this writer's codec name;
    * refuses combinations the writer cannot reproduce. */
  private def codecNameOf(c: ZarrCompressor, what: String): String = c.id match {
    case "none" | "zstd" | "gzip" | "zlib" => c.id
    case "blosc" if c.cname == "lz4" || c.cname.isEmpty => "blosc"
    case other => throw new UnsupportedOperationException(
      s"the writer cannot encode $what compressed with '$other" +
        (if (c.cname.nonEmpty) s"/${c.cname}" else "") + "'")
  }

  /** Edit the outer extent of an array's metadata document in place
    * (v2 `.zarray` or v3 `zarr.json`) — everything else (attributes,
    * fill_value, codecs, filters) is preserved verbatim. */
  private def editShape(store: ZarrStore, rel: String, newOuter: Long,
      newOuterChunks: Option[Int]): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(store.readBytes(rel).getOrElse(
      throw new IllegalStateException(s"missing metadata document $rel")))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    node.withArray("shape").set(0,
      com.fasterxml.jackson.databind.node.LongNode.valueOf(newOuter))
    newOuterChunks.foreach { c =>
      if (node.has("chunks")) // v2
        node.withArray("chunks").set(0,
          com.fasterxml.jackson.databind.node.IntNode.valueOf(c))
      else // v3 regular chunk grid
        node.get("chunk_grid").get("configuration")
          .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
          .withArray("chunk_shape").set(0,
            com.fasterxml.jackson.databind.node.IntNode.valueOf(c))
    }
    store.writeBytes(rel, mapper.writeValueAsBytes(node))
  }

  /** Append new OUTER-dimension slabs to an existing store: the
    * time-series ingest path (each batch adds whole outer chunks; no
    * existing chunk object is rewritten). Requirements, all enforced
    * loudly: the existing outer extent is a multiple of the outer
    * chunk extent (new chunks start on a boundary), new outer values
    * sort strictly after the existing ones, inner coordinates match
    * the store exactly, and the store is unsharded with a codec this
    * writer can produce. Metadata documents are edited in place
    * (shape only), so attributes/fill/codecs survive verbatim; the
    * outer coordinate array is (re)written chunk-grain at the data
    * variables' outer chunk extent — the fresh-write path already
    * emits that layout, so steady state touches only the new chunks.
    * Chunk data at indices the old metadata never addressed lands
    * before any metadata change, so a crash leaves the store readable
    * at its OLD shape plus unreferenced chunk objects — never a torn
    * grid. On the one-time re-chunk of a legacy single-chunk
    * coordinate, the colliding chunk files are rewritten only AFTER
    * the metadata flip, where the old whole-axis file reads as an
    * oversized chunk the decoders truncate to the correct prefix —
    * both crash windows stay readable. (Concurrent reads during
    * append see either the old or the new shape, like any metadata
    * swap.) */
  def append(df: DataFrame, path: String): Unit = {
    val store = ZarrStore.open(path)
    // Single-writer lock: two concurrent appenders would interleave the
    // in-place shape edit (both read extent N, both write N+k — one
    // batch's rows silently vanish from the metadata). Exactly one
    // caller wins the atomic lock-file create; the loser fails loudly
    // and can retry after the winner releases.
    //
    // LEASE semantics: the holder re-writes the lock object every
    // [[leaseHeartbeatMillis]] (atomic per-object write), so a lock
    // whose heartbeat is older than [[leaseTtlMillis]] marks a CRASHED
    // holder — a new appender breaks it and proceeds (self-healing; no
    // operator hand-delete on fleets). The break double-reads the lock
    // and only deletes if the observed stale content is unchanged, so
    // a racing breaker that already re-acquired is never clobbered
    // (the window between re-read and delete remains — same
    // best-effort caveat as createExclusive on object stores without
    // conditional ops; local/HDFS narrow it to single-request size).
    // A lock with an UNPARSEABLE heartbeat is never broken — loud
    // manual recovery beats deleting a lock we don't understand.
    def lockBytes(): Array[Byte] =
      (s"${java.lang.management.ManagementFactory.getRuntimeMXBean.getName}\n" +
        s"started ${java.time.Instant.now()}\n" +
        s"heartbeat ${System.currentTimeMillis()}").getBytes("UTF-8")
    def heartbeatOf(bytes: Array[Byte]): Option[Long] =
      new String(bytes, "UTF-8").linesIterator
        .find(_.startsWith("heartbeat "))
        .flatMap(_.stripPrefix("heartbeat ").toLongOption)
    var acquired = store.createExclusive(appendLockRel, lockBytes())
    if (!acquired) {
      val observed = store.readBytes(appendLockRel)
      val stale = observed.exists(b => heartbeatOf(b)
        .exists(hb => System.currentTimeMillis() - hb > leaseTtlMillis))
      if (stale) {
        val again = store.readBytes(appendLockRel)
        if (again.map(_.toSeq) == observed.map(_.toSeq)) {
          store.deleteObject(appendLockRel)
          acquired = store.createExclusive(appendLockRel, lockBytes())
        }
      }
    }
    if (!acquired) {
      val holder = store.readBytes(appendLockRel)
        .map(new String(_, "UTF-8").replace('\n', ' ')).getOrElse("(already released)")
      throw new IllegalStateException(
        s"another append holds the writer lock on $path [$holder] — " +
          s"appends are single-writer; retry after it finishes (a crashed " +
          s"holder's lock self-expires ${leaseTtlMillis / 1000}s after its " +
          s"last heartbeat)")
    }
    // holder heartbeat: keeps the lease alive for appends longer than
    // the TTL; daemon so a crashed/killed JVM stops heartbeating and
    // the lease expires
    val leaseToken = new Object
    leaseTimelineTestHook(leaseToken, "acquire")
    @volatile var done = false
    val beat = new Thread(() => {
      try {
        while (!done) {
          Thread.sleep(leaseHeartbeatMillis)
          if (!done) {
            leaseBeatTestHook()
            leaseTimelineTestHook(leaseToken, "beat")
            try store.writeBytes(appendLockRel, lockBytes())
            catch { case _: Exception => () } // store gone/read-only: next acquire surfaces it
            // Deliberately NO delete-if-done here: the release path
            // joins this thread before ITS deleteObject, which already
            // serializes any in-flight write above with the delete. A
            // beat-side delete would race release's unconditional
            // delete — beat deletes, a competing appender acquires in
            // the gap, release's delete then clobbers the NEW holder's
            // lock and a third appender can acquire mid-append — the
            // exact double-writer corruption the lock exists to
            // prevent. One owner of the delete: the release path,
            // after the join.
          }
        }
      } catch { case _: InterruptedException => () } // release path
    }, "graft-append-lease")
    beat.setDaemon(true)
    beat.start()
    try appendLocked(df, path, store)
    finally {
      done = true
      beat.interrupt()
      // Serialize with any in-flight heartbeat write BEFORE deleting the
      // lock. The beat loop's `!done` check and its write are not atomic,
      // interrupt is swallowed around the write, and file IO does not
      // reliably abort on interrupt — without this join a heartbeat write
      // can land AFTER deleteObject, leaving an orphaned lock with a
      // fresh heartbeat that blocks the next appender for a full TTL
      // (caught live by ZarrAppendSpec in round 11). The join must be
      // unbounded (a bounded join reopens the resurrection race), but
      // an unbounded SILENT join turns a wedged heartbeat write (hung
      // network filesystem) into an undiagnosable hang — so wait in
      // TTL-sized slices and log progress, keeping the wedge observable
      // without ever deleting the lock before the write has settled.
      var waitedMs = 0L
      beat.join(leaseTtlMillis)
      while (beat.isAlive) {
        waitedMs += leaseTtlMillis
        System.err.println(s"[graft] append lease release on $path: " +
          s"heartbeat write still in flight after ${waitedMs}ms — " +
          "waiting for the store write to settle (wedged filesystem?)")
        beat.join(leaseTtlMillis)
      }
      leaseTimelineTestHook(leaseToken, "release")
      store.deleteObject(appendLockRel)
    }
  }

  /** Test seam, invoked on the heartbeat thread between the `!done`
    * liveness check and the lock re-write. Lets a spec hold a heartbeat
    * write in flight across release DETERMINISTICALLY (latches, not a
    * timing lottery) to pin the release/heartbeat serialization above.
    * No-op in production. */
  @volatile private[graft] var leaseBeatTestHook: () => Unit = () => ()

  /** Timing seam for the fuzz harness's JVM-pause detector: invoked
    * with a per-append token at lock ACQUISITION (the instant the
    * lease clock starts), on every heartbeat, and on the RELEASE path
    * after the final heartbeat settles (just before the lock delete).
    * Keying gaps by token — not by thread, not from race start —
    * closes both detector blind spots from the r13 ADVICE: pre-
    * acquisition scheduling delay is no longer counted (the thread
    * holds nothing yet), and a pause landing after the holder's last
    * heartbeat is still measured. No-op in production. */
  @volatile private[graft] var leaseTimelineTestHook: (AnyRef, String) => Unit =
    (_, _) => ()

  /** Store-relative lock object taken for the duration of an append. */
  val appendLockRel = ".graft_append.lock"

  /** key = variable index → partition = that index: routes every
    * chunk's stat partial to the one executor task that assembles and
    * writes that variable's `.zstats` sidecar. */
  private final class VarPartitioner(n: Int) extends org.apache.spark.Partitioner {
    override def numPartitions: Int = n
    override def getPartition(key: Any): Int = key.asInstanceOf[Int]
  }

  /** Test seam: how many rows the last sidecar-assembly job returned
    * to the driver. The distribution contract, pinned by
    * ZarrWriterSpec at 10^4 chunks, is that this is the VARIABLE
    * count (one summary row each), never the per-chunk partial count. */
  @volatile private[graft] var lastStatsDriverRows: Int = -1

  /** Largest single driver-side buffer the last append's outer-
    * coordinate rewrite allocated, in bytes — a ZarrWriterSpec hook
    * asserting the rewrite stays chunk-grain (one outer chunk, never
    * the whole grown coordinate). */
  @volatile private[graft] var lastCoordRewriteMaxAllocBytes: Long = -1L

  /** Test seam for the coordinate-rewrite crash windows: invoked with
    * "preflip" once every never-before-addressed coordinate chunk has
    * landed (metadata still OLD — a crash/reader here must see the
    * store at its old shape) and "postflip" right after the shape
    * edits, BEFORE any colliding legacy chunk file is overwritten (a
    * reader here must see the new shape with the legacy file
    * tolerated as an oversized chunk). Lets ZarrWriterSpec read the
    * store AT those instants instead of a timing lottery. No-op in
    * production. */
  @volatile private[graft] var coordRewriteTestHook: String => Unit = _ => ()

  /** Lease TTL: a lock whose last heartbeat is older than this is a
    * crashed holder and may be broken. Var (not val) so tests can
    * shrink the clock; production default trades prompt self-healing
    * against GC-pause false positives (a 60s pause losing the lease is
    * the same calculus as ZK/etcd session timeouts). */
  @volatile private[graft] var leaseTtlMillis: Long = 60000L

  /** Holder heartbeat interval — far under the TTL so several beats
    * can be missed before the lease is breakable. */
  @volatile private[graft] var leaseHeartbeatMillis: Long = 5000L

  private def appendLocked(df: DataFrame, path: String, store: ZarrStore): Unit = {
    val meta0 = ZarrMeta.readStore(path)
    val outer = meta0.coords.head
    val varMetas = meta0.dataVars
    require((outer.meta +: varMetas).forall(_.sharding.isEmpty),
      "append to sharded stores is not supported")
    val coordNames = meta0.coordNames
    val varNames = varMetas.map(_.name)
    val schema = df.schema
    require(schema.fieldNames.toSet == (coordNames ++ varNames).toSet,
      s"append input columns ${schema.fieldNames.mkString(",")} must be exactly " +
        s"the store's columns ${(coordNames ++ varNames).mkString(",")}")
    (meta0.coords.map(c => c.meta.name -> c.meta.dtype.sparkType) ++
      varMetas.map(v => v.name -> v.dtype.sparkType)).foreach { case (n, t) =>
      require(schema(n).dataType == t,
        s"append column $n has type ${schema(n).dataType}, store expects $t")
    }

    val outerName = outer.meta.name
    require("iufM".contains(outer.meta.dtype.kind),
      s"append outer coordinate must be numeric or datetime, got dtype ${outer.meta.dtype}")
    val outerChunk = varMetas.head.chunks.head
    require(varMetas.forall(_.chunks == varMetas.head.chunks),
      "append requires all data variables to share one chunk shape")
    require(outer.length % outerChunk == 0,
      s"existing outer extent ${outer.length} is not a multiple of the outer chunk " +
        s"extent $outerChunk — append would straddle a chunk; rewrite the store instead")
    (outer.meta +: varMetas).foreach { m =>
      codecNameOf(m.compressor, m.name) // validate early
      // deltaEncode subtracts integers, the reader integrates floats
      require(!(m.deltaFilter && m.dtype.kind == 'f'),
        s"append cannot encode ${m.name}: the writer does not produce a 'delta' filter on " +
          "float dtypes (float deltas do not round-trip bit-exactly)")
    }

    // the write path's input check; the bound admits the store's own
    // inner extents, which the batch must repeat exactly
    val sets = validateGrid(df, coordNames,
      (defaultMaxDimLen +: meta0.coords.tail.map(_.length)).max)
    // new outer values: sorted, strictly after the existing max, and
    // each one encodable in the outer dtype (a datetime unit may not
    // hold it) before any chunk is written
    val newOuterVals = sets.head
    val probe = cellBuffer(outer.meta.dtype, 1)
    newOuterVals.foreach(v => putElement(probe, 0, outer.meta.dtype, rawOf(v)))
    val existingMax = outer.doubles.max
    require(doubleOf(newOuterVals.head) > existingMax,
      s"append outer values must sort strictly after the existing maximum " +
        s"($existingMax); got ${doubleOf(newOuterVals.head)}")
    // inner coordinates must match the store exactly
    meta0.coords.tail.zip(sets.tail).foreach { case (c, vals) =>
      val dfVals = vals.toSeq.map(rawOf)
      val stored = (0 until c.length).map(j => ChunkCodec.elementAt(c.raw, j))
      require(dfVals == stored,
        s"append inner coordinate ${c.meta.name} does not match the store " +
          s"(got ${dfVals.take(5)}…, store has ${stored.take(5)}…)")
    }

    val oldLen = outer.length
    // global grid index per dimension, raw-domain keys
    val idx: Seq[Map[Any, Int]] =
      newOuterVals.iterator.map(rawOf).zipWithIndex.map { case (v, i) => (v, oldLen + i) }.toMap +:
        meta0.coords.tail.map(c => (0 until c.length).map(i => ChunkCodec.elementAt(c.raw, i) -> i).toMap)
    val rows = byOuterChunk(df, outerName, newOuterVals, oldLen, outerChunk)
    // Materialize the chunk-slab writes NOW, keyed and pre-shuffled to
    // one partition per variable and CACHED post-shuffle: the
    // coordinate/shape edits below must only happen once every slab is
    // durably written, while the sidecar MERGE (step 3) must happen
    // AFTER the shape edits — so the partials are staged through a
    // persisted RDD instead of a driver collect() (the driver never
    // materializes the per-chunk partial set; at 10^7 chunks × many
    // variables that collect was a driver-memory hotspot).
    // localCheckpoint TRUNCATES LINEAGE, not just caches:
    // computing the partials performs the chunk-slab writes as a side
    // effect, and a lost cached partition after the coordinate/shape
    // edits below would otherwise lineage-recompute — re-executing
    // slab writes mid-append. The slab bytes are independent of the
    // edited metadata, so a re-execution happens to be idempotent, but
    // the invariant is implicit; with a truncated lineage a lost
    // partition fails the job loudly instead (metadata-sized data, one
    // partition per variable — losing it means the JVM died anyway).
    val keyedPartials = byVar(encodeChunks(rows, coordNames, idx, varMetas, store), varMetas.length)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    keyedPartials.localCheckpoint()
    keyedPartials.count()

    // 1) rewrite the outer coordinate in CHUNK-GRAIN pieces at the
    // data variables' outer chunk extent — never as one newLen-sized
    // driver ByteBuffer (the 10⁹-step-axis watch item: the coordinate
    // grows without bound across appends, so the rewrite must not).
    // Steady state (coord already chunked at outerChunk — every store
    // this writer's fresh path produces since the chunk-grain fresh
    // layout landed): old chunks are FULL (oldLen % outerChunk == 0,
    // guarded above) and untouched; only the chunks covering
    // [oldLen, newLen) are written. A coordinate chunked any other
    // way — pre-chunk-grain fresh writes and external stores carry a
    // single-chunk layout — is re-chunked once, still one
    // outerChunk-sized buffer at a time, in a CRASH-SAFE order: fresh
    // indices land here (invisible to old-metadata readers), the
    // colliding legacy prefix only after the metadata flip (step 2.5);
    // chunk files beyond the new grid (a finer legacy chunking)
    // become orphans the reader never addresses. Tail-chunk cells
    // past newLen are zero padding — readers truncate at shape.
    val newLen = oldLen + newOuterVals.length
    val cmeta = outer.meta
    def outerRawAt(i: Int): Any =
      if (i < oldLen) ChunkCodec.elementAt(outer.raw, i)
      else rawOf(newOuterVals(i - oldLen))
    val rechunkCoord = cmeta.chunks.head != outerChunk
    val firstCoordChunk = if (rechunkCoord) 0 else (oldLen / outerChunk)
    val nCoordChunks = ((newLen.toLong + outerChunk - 1) / outerChunk).toInt
    // Chunk indices a reader of the OLD metadata already addresses
    // (the legacy layout's chunk-file names). Overwriting one of them
    // BEFORE the metadata flip would tear a crashed/concurrent
    // old-shape read — the pre-flip loop below writes only fresh
    // (never-addressed) indices, and the colliding prefix is deferred
    // to AFTER the flip (step 2.5), where the old single-chunk file is
    // merely OVERSIZED under the new chunk grid and the decoders
    // truncate it to the correct prefix.
    val nLegacyCoordChunks =
      if (rechunkCoord) ((oldLen.toLong + cmeta.chunks.head - 1) / cmeta.chunks.head).toInt
      else 0
    lastCoordRewriteMaxAllocBytes = outerChunk.toLong * cmeta.dtype.size
    val grainMeta = cmeta.copy(chunks = Seq(outerChunk))
    def writeOuterChunk(cc: Int): Unit = writeCoordChunk(store, grainMeta, cc, newLen, outerRawAt)
    (firstCoordChunk until nCoordChunks)
      .filter(cc => cc >= nLegacyCoordChunks)
      .foreach(writeOuterChunk)
    coordRewriteTestHook("preflip")

    // 1.5) REVOKE the sum attestation before the shape grows: a reader
    // landing between the shape edit and the final sidecar rewrite
    // would otherwise see the NEW extent with the OLD sums still
    // marked "complete" and answer SUM with the appended slab valued
    // as fill — silently wrong. Min/max entries are fail-safe at any
    // time (absent chunks are never pruned), so only sums must drop;
    // a crash here leaves pushdown disabled until the next successful
    // write, which is safe.
    varMetas.filter(_.sumsComplete).foreach { m =>
      store.writeBytes(s"${m.name}/.zstats", zstatsDoc(m.copy(sumsComplete = false)))
    }

    // 2) metadata shape edits (coordinate first: a reader racing the
    // append must never see variables longer than their dimensions)
    val isV3 = meta0.coords.head.meta.isV3
    val metaRel = (n: String) => if (isV3) s"$n/zarr.json" else s"$n/.zarray"
    editShape(store, metaRel(outerName), newLen, Some(outerChunk))
    varNames.foreach(n => editShape(store, metaRel(n), newLen, None))
    // Consolidated metadata flips HERE, not at the end of the append:
    // a reader discovering through .zmetadata (or the v3 root
    // zarr.json) sees whatever that one document says regardless of
    // the per-array edits above, so on the legacy re-chunk path it
    // must observe the new chunk grid BEFORE step 2.5 overwrites the
    // chunk files its old grid addressed (old grid + outerChunk-sized
    // chunk 0 = an undersized, torn read). After this refresh both
    // discovery paths agree on the new grid and the legacy files are
    // merely oversized — tolerated.
    val docs = (coordNames ++ varNames).flatMap(n => store.readBytes(metaRel(n)).map(metaRel(n) -> _))
    val consolidatedRel = if (isV3) "zarr.json" else ".zmetadata"
    store.readBytes(consolidatedRel).flatMap(b => consolidated(isV3, Some(b), docs))
      .foreach(store.writeBytes(consolidatedRel, _))

    coordRewriteTestHook("postflip")
    // 2.5) legacy-layout re-chunk, colliding prefix: only now that the
    // metadata declares the outerChunk grid are the chunk indices the
    // OLD layout addressed overwritten. In the window between the flip
    // and these writes a reader sees the old single-chunk file as an
    // OVERSIZED chunk 0 — the decoders size from the payload and the
    // element decoder reads only the metadata extent, so the read is
    // the correct prefix, never torn. (A finer-grained legacy layout —
    // not one this writer ever produced — has UNDERSIZED colliding
    // files in this window; those fail loudly as corrupt chunks until
    // the ascending rewrite below converges.)
    if (rechunkCoord)
      (0 until math.min(nLegacyCoordChunks, nCoordChunks)).foreach(writeOuterChunk)

    // 3) merge + rewrite the .zstats sidecars from the persisted
    // partials (never re-running the slab writes) over the pre-append
    // sidecar state the variables' metadata carries, at the grown
    // shape: the attestation survives only if that sidecar was
    // complete and every fresh chunk produced a sum partial
    writeSidecars(keyedPartials, varMetas.map(m => m.copy(shape = newLen.toLong +: m.shape.tail)), store)
    keyedPartials.unpersist(false)
    ChunkIO.invalidatePath(store.path)
  }

  /** The consolidated metadata document: `base` (a store's v2
    * `.zmetadata` or v3 root `zarr.json`; None renders a fresh one)
    * with each per-array document of `docs` (store key → bytes)
    * embedded — v2 under `metadata` by its key, v3 under
    * `consolidated_metadata.metadata` by its array name. None when
    * `base` carries no consolidated block. The one renderer of write,
    * append and the refs combine. */
  private[zarr] def consolidated(isV3: Boolean, base: Option[Array[Byte]],
      docs: Seq[(String, Array[Byte])]): Option[Array[Byte]] = {
    import com.fasterxml.jackson.databind.JsonNode
    import com.fasterxml.jackson.databind.node.ObjectNode
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = base.fold {
      val r = mapper.createObjectNode()
      (if (isV3) r.put("zarr_format", 3).put("node_type", "group").putObject("consolidated_metadata")
       else r.put("zarr_consolidated_format", 1)).putObject("metadata")
      r
    }(mapper.readTree(_).asInstanceOf[ObjectNode])
    Option(if (isV3) root.get("consolidated_metadata") else root)
      .flatMap(h => Option(h.get("metadata")))
      .collect { case md: ObjectNode =>
        docs.foreach { case (k, b) =>
          md.set[JsonNode](if (isV3) k.stripSuffix("/zarr.json") else k, mapper.readTree(b))
        }
        mapper.writeValueAsBytes(root)
      }
  }
}
