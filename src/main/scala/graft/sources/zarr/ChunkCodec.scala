package graft.sources.zarr

import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.{GZIPInputStream, Inflater}

import net.jpountz.lz4.LZ4Factory

/** Chunk payload decoding: decompression (Blosc/zlib/gzip/zstd → raw
  * bytes) and raw-byte → typed-array decode.
  *
  * The Blosc frame parser is written from the public c-blosc format
  * (16-byte header + per-block offset table + optionally-split LZ4
  * streams) — the reference delegates this to the `zarrs` crate
  * (/root/reference/Cargo.toml:21); on the JVM we decode by hand with
  * lz4-java. Gated by byte-parity tests against the reference's
  * committed blosc fixtures (SURVEY.md §7 "What's hard").
  */
object ChunkCodec {

  private lazy val lz4 = LZ4Factory.fastestInstance()

  // Blosc header flag bits (public c-blosc blosc.h)
  private val FlagByteShuffle = 0x1
  private val FlagMemcpyed = 0x2
  private val FlagBitShuffle = 0x4

  /** Decompress one Blosc frame.
    *
    * Layout: bytes 0-15 = header (version, versionlz, flags, typesize,
    * nbytes, blocksize, cbytes — all LE); memcpyed frames carry the
    * raw source after the header; otherwise an int32 offset table (one
    * absolute offset per block) precedes the compressed blocks, and
    * each block is one or more `[int32 csize][payload]` streams where
    * `csize == uncompressed` marks a stored-raw stream. Byte-shuffle
    * is applied per block and undone after decompression.
    */
  def bloscDecompress(frame: Array[Byte]): Array[Byte] = {
    require(frame.length >= 16, s"Blosc frame too short: ${frame.length}")
    val hdr = ByteBuffer.wrap(frame).order(ByteOrder.LITTLE_ENDIAN)
    val flags = frame(2) & 0xff
    val typesize = frame(3) & 0xff
    val nbytes = hdr.getInt(4)
    val blocksize0 = hdr.getInt(8)
    require((flags & FlagBitShuffle) == 0, "Blosc bit-shuffle not supported")
    val out = new Array[Byte](nbytes)

    if ((flags & FlagMemcpyed) != 0) {
      // stored as a plain memcpy of the (unshuffled) source
      System.arraycopy(frame, 16, out, 0, nbytes)
      return out
    }
    val blocksize = if (blocksize0 <= 0) nbytes else blocksize0
    val nblocks = if (nbytes == 0) 0 else (nbytes + blocksize - 1) / blocksize
    val shuffled = (flags & FlagByteShuffle) != 0 && typesize > 1
    var j = 0
    while (j < nblocks) {
      val bstart = hdr.getInt(16 + 4 * j)
      val neblock = math.min(blocksize, nbytes - j * blocksize)
      val block = decodeBlock(frame, bstart, neblock, typesize)
      val decoded = if (shuffled) unshuffle(block, typesize) else block
      System.arraycopy(decoded, 0, out, j * blocksize, neblock)
      j += 1
    }
    out
  }

  /** Decode one block: try a single `[csize][payload]` stream first
    * (modern c-blosc forward-compat mode never splits LZ4); fall back
    * to `typesize` split streams (older writers split shuffled
    * blocks). */
  private def decodeBlock(frame: Array[Byte], start: Int, neblock: Int, typesize: Int): Array[Byte] = {
    singleStream(frame, start, neblock) match {
      case Some(b) => b
      case None =>
        // c-blosc appends the `neblock % typesize` leftover bytes
        // after the split streams; none of the writers this reader
        // targets produce such frames — refuse loudly rather than
        // zero-fill the tail (silent mis-decode)
        if (neblock % typesize != 0)
          throw new UnsupportedOperationException(
            s"blosc split block with leftover bytes (neblock=$neblock, " +
              s"typesize=$typesize) is not supported")
        val out = new Array[Byte](neblock)
        val nsplits = typesize
        val split = neblock / nsplits
        var pos = start
        var s = 0
        while (s < nsplits) {
          val csize = ByteBuffer.wrap(frame, pos, 4).order(ByteOrder.LITTLE_ENDIAN).getInt
          pos += 4
          if (csize == split) System.arraycopy(frame, pos, out, s * split, split)
          else lz4.fastDecompressor().decompress(frame, pos, out, s * split, split)
          pos += csize
          s += 1
        }
        out
    }
  }

  private def singleStream(frame: Array[Byte], start: Int, neblock: Int): Option[Array[Byte]] = {
    try {
      val csize = ByteBuffer.wrap(frame, start, 4).order(ByteOrder.LITTLE_ENDIAN).getInt
      if (csize <= 0 || start + 4 + csize > frame.length) return None
      val out = new Array[Byte](neblock)
      if (csize == neblock) {
        System.arraycopy(frame, start + 4, out, 0, neblock)
        Some(out)
      } else {
        val read = lz4.fastDecompressor().decompress(frame, start + 4, out, 0, neblock)
        if (read == csize) Some(out) else None
      }
    } catch { case _: Exception => None }
  }

  /** Encode one Blosc frame (the write side of [[bloscDecompress]],
    * from the same public c-blosc layout): byte-shuffled source, one
    * block covering the whole payload, a single `[int32 csize][LZ4
    * stream]` (stored raw when LZ4 does not help — csize ==
    * uncompressed marks it, exactly what the decoder expects).
    * Shuffling int/float grids before LZ4 is where blosc's ratio
    * comes from, and it exercises the reader's unshuffle path. */
  def bloscCompress(raw: Array[Byte], typesize: Int): Array[Byte] = {
    val doShuffle = typesize > 1 && raw.length % typesize == 0
    val src = if (doShuffle) shuffle(raw, typesize) else raw
    val comp = lz4.fastCompressor()
    val maxLen = comp.maxCompressedLength(src.length)
    val tmp = new Array[Byte](maxLen)
    val clen = comp.compress(src, 0, src.length, tmp, 0, maxLen)
    val stored = clen >= src.length // incompressible: store raw
    val payload = if (stored) src else java.util.Arrays.copyOf(tmp, clen)
    val frame = ByteBuffer.allocate(16 + 4 + 4 + payload.length)
      .order(ByteOrder.LITTLE_ENDIAN)
    frame.put(0, 2.toByte) // blosc format version
    frame.put(1, 1.toByte) // lz4 format version
    frame.put(2, (if (doShuffle) FlagByteShuffle else 0).toByte)
    frame.put(3, typesize.toByte)
    frame.putInt(4, raw.length) // nbytes
    frame.putInt(8, raw.length) // blocksize = nbytes: one block
    frame.putInt(12, frame.capacity()) // cbytes
    frame.putInt(16, 20) // offset table: single block at byte 20
    frame.putInt(20, if (stored) src.length else clen)
    var i = 0
    while (i < payload.length) { frame.put(24 + i, payload(i)); i += 1 }
    frame.array()
  }

  /** Undo Blosc byte-shuffle: input holds all first bytes of each
    * element, then all second bytes, … */
  def unshuffle(src: Array[Byte], typesize: Int): Array[Byte] = {
    val n = src.length / typesize
    val tail = src.length - n * typesize
    val out = new Array[Byte](src.length)
    var k = 0
    while (k < typesize) {
      var i = 0
      while (i < n) { out(i * typesize + k) = src(k * n + i); i += 1 }
      k += 1
    }
    // trailing bytes that don't fill an element are copied through
    var t = 0
    while (t < tail) { out(n * typesize + t) = src(n * typesize + t); t += 1 }
    out
  }

  /** Blosc shuffle (used by the test fixture writer). Trailing bytes
    * that don't fill an element are copied through, mirroring
    * [[unshuffle]]. */
  def shuffle(src: Array[Byte], typesize: Int): Array[Byte] = {
    val n = src.length / typesize
    val out = new Array[Byte](src.length)
    var k = 0
    while (k < typesize) {
      var i = 0
      while (i < n) { out(k * n + i) = src(i * typesize + k); i += 1 }
      k += 1
    }
    var t = n * typesize
    while (t < src.length) { out(t) = src(t); t += 1 }
    out
  }

  // Grows past outLen when the payload holds more than the metadata
  // expects — the legitimate state while an append has landed a
  // rewritten coordinate chunk but not yet the shape edit (chunks
  // commit before metadata); the element decoder reads only the
  // metadata extent and ignores the tail.
  private def zlibDecompress(data: Array[Byte], outLen: Int): Array[Byte] = {
    val inf = new Inflater()
    inf.setInput(data)
    var out = new Array[Byte](math.max(outLen, 16))
    var off = 0
    var n = 1
    while (n != 0 && !inf.finished()) {
      if (off == out.length) out = java.util.Arrays.copyOf(out, out.length * 2)
      n = inf.inflate(out, off, out.length - off)
      off += n
    }
    inf.end()
    if (off == out.length) out else java.util.Arrays.copyOf(out, off)
  }

  private def gzipDecompress(data: Array[Byte]): Array[Byte] = {
    val in = new GZIPInputStream(new java.io.ByteArrayInputStream(data))
    try in.readAllBytes() finally in.close()
  }

  /** Decompress a chunk payload according to the array's compressor.
    * `rawLen` is the expected decoded byte length (chunk elements ×
    * element size). */
  def decompress(data: Array[Byte], comp: ZarrCompressor, rawLen: Int): Array[Byte] =
    comp.id match {
      case "none" => data
      case "blosc" => bloscDecompress(data)
      case "zlib" => zlibDecompress(data, rawLen)
      case "gzip" => gzipDecompress(data)
      case "zstd" =>
        val raw = zstdDecompress(data, 0, data.length, rawLen)
        if (raw.limit() == raw.capacity()) raw.array() else java.util.Arrays.copyOf(raw.array(), raw.limit())
      case other => throw new IllegalArgumentException(s"Unsupported Zarr compressor: $other")
    }

  /** Decompress the zstd frame at `src[off, off + len)` straight from
    * `src`, with no copy of the encoded bytes: a sharded array's inner
    * chunk is decoded in place from the shard's bytes. The destination
    * is sized from the frame itself when it exceeds the metadata
    * expectation `rawLen` (mid-append coordinate rewrite — see
    * zlibDecompress note); short frames stay an error, as the returned
    * buffer holds exactly the decoded bytes. */
  def zstdDecompress(src: Array[Byte], off: Int, len: Int, rawLen: Int): ByteBuffer = {
    val frame = com.github.luben.zstd.Zstd.getFrameContentSize(src, off, len)
    val dst = new Array[Byte](if (frame > rawLen) frame.toInt else rawLen)
    val n = com.github.luben.zstd.Zstd.decompressByteArray(dst, 0, dst.length, src, off, len)
    ByteBuffer.wrap(dst, 0, n.toInt)
  }

  /** IEEE 754 half-precision → float (JDK 17 has no Float.float16). */
  def halfToFloat(h: Short): Float = {
    val sign = (h >> 15) & 1
    val exp = (h >> 10) & 0x1f
    val frac = h & 0x3ff
    val f =
      if (exp == 0) frac / 1024f * math.pow(2, -14).toFloat
      else if (exp == 31) { if (frac == 0) Float.PositiveInfinity else Float.NaN }
      else (1 + frac / 1024f) * math.pow(2, exp - 15).toFloat
    if (sign == 1) -f else f
  }

  /** Decode raw chunk bytes into a typed JVM array (Array[Long] /
    * Array[Int] / … matching the Spark column type of the dtype). */
  def decodeTyped(raw: Array[Byte], dtype: ZarrDType, n: Int): AnyRef =
    decodeTypedBuf(ByteBuffer.wrap(raw), dtype, n)

  /** Same decode over any ByteBuffer — the memory-mapped fast path
    * hands the page-cache-backed buffer here directly, skipping the
    * heap copy (reference roadmap "zero-copy reads with memory-mapped
    * I/O"; one copy remains — raw cells → the typed column array —
    * because Spark rows/vectors consume JVM arrays).
    *
    * Each fixed-width numeric dtype decodes with one bulk copy through
    * a typed view of the buffer in the dtype's byte order
    * (`asFloatBuffer().get(a)` and the like), bit for bit (NaN payloads
    * and −0.0 kept), not a `getX()` call per cell. Unsigned integers
    * widen to the next signed type, half floats to float and
    * datetime64 to epoch micros in one loop over that copy. A buffer
    * holding fewer than `n` cells fails with `BufferUnderflowException`. */
  def decodeTypedBuf(raw: ByteBuffer, dtype: ZarrDType, n: Int): AnyRef = {
    val buf = raw
      .order(if (dtype.littleEndian) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN)
    def bytes() = { val a = new Array[Byte](n); buf.get(a); a }
    def shorts() = { val a = new Array[Short](n); buf.asShortBuffer().get(a); a }
    def ints() = { val a = new Array[Int](n); buf.asIntBuffer().get(a); a }
    def longs() = { val a = new Array[Long](n); buf.asLongBuffer().get(a); a }
    (dtype.kind, dtype.size) match {
      case ('i', 1) => bytes()
      case ('i', 2) => shorts()
      case ('i', 4) => ints()
      case ('i', 8) | ('u', 8) => longs()
      case ('u', 1) => val b = bytes(); val a = new Array[Short](n); var i = 0; while (i < n) { a(i) = (b(i) & 0xff).toShort; i += 1 }; a
      case ('u', 2) => val b = shorts(); val a = new Array[Int](n); var i = 0; while (i < n) { a(i) = b(i) & 0xffff; i += 1 }; a
      case ('u', 4) => val b = ints(); val a = new Array[Long](n); var i = 0; while (i < n) { a(i) = b(i) & 0xffffffffL; i += 1 }; a
      case ('f', 2) => val b = shorts(); val a = new Array[Float](n); var i = 0; while (i < n) { a(i) = halfToFloat(b(i)); i += 1 }; a
      case ('f', 4) => val a = new Array[Float](n); buf.asFloatBuffer().get(a); a
      case ('f', 8) => val a = new Array[Double](n); buf.asDoubleBuffer().get(a); a
      case ('b', _) => val b = bytes(); val a = new Array[Boolean](n); var i = 0; while (i < n) { a(i) = b(i) != 0; i += 1 }; a
      case ('M', _) =>
        // datetime64 → epoch micros (Spark's internal TimestampType).
        // floorDiv matches numpy/Spark floor semantics for pre-epoch
        // ns values; multiplyExact fails loudly instead of silently
        // wrapping for out-of-range coarse-unit (h/D) values.
        val a = longs(); var i = 0
        while (i < n) { a(i) = Math.floorDiv(Math.multiplyExact(a(i), dtype.tsMulUs), dtype.tsDivUs); i += 1 }
        a
      case ('S', w) =>
        val a = new Array[String](n); val cell = new Array[Byte](w)
        var i = 0
        while (i < n) {
          buf.position(i * w); buf.get(cell)
          var end = w; while (end > 0 && cell(end - 1) == 0) end -= 1
          a(i) = new String(cell, 0, end, java.nio.charset.StandardCharsets.US_ASCII)
          i += 1
        }
        a
      case _ => throw new IllegalArgumentException(s"Unsupported dtype: $dtype")
    }
  }

  /** Decode a numcodecs `delta`-filtered chunk in place: the payload
    * stores `[x0, x1-x0, x2-x1, …]`; decoding integrates (cumulative
    * sum). Sums wrap at the SOURCE dtype's width (numpy dtype
    * arithmetic) — unsigned types are widened by [[decodeTyped]], so
    * their cumsum re-wraps via a mask at the original width. */
  def deltaDecode(typed: AnyRef, dtype: ZarrDType): AnyRef = (typed, dtype.kind, dtype.size) match {
    case (a: Array[Short], 'u', 1) =>
      var i = 1; while (i < a.length) { a(i) = ((a(i) + a(i - 1)) & 0xff).toShort; i += 1 }; a
    case (a: Array[Int], 'u', 2) =>
      var i = 1; while (i < a.length) { a(i) = (a(i) + a(i - 1)) & 0xffff; i += 1 }; a
    case (a: Array[Long], 'u', 4) =>
      var i = 1; while (i < a.length) { a(i) = (a(i) + a(i - 1)) & 0xffffffffL; i += 1 }; a
    case (a: Array[Byte], _, _) => var i = 1; while (i < a.length) { a(i) = (a(i) + a(i - 1)).toByte; i += 1 }; a
    case (a: Array[Short], _, _) => var i = 1; while (i < a.length) { a(i) = (a(i) + a(i - 1)).toShort; i += 1 }; a
    case (a: Array[Int], _, _) => var i = 1; while (i < a.length) { a(i) = a(i) + a(i - 1); i += 1 }; a
    case (a: Array[Long], _, _) => var i = 1; while (i < a.length) { a(i) = a(i) + a(i - 1); i += 1 }; a
    case (a: Array[Float], _, _) => var i = 1; while (i < a.length) { a(i) = a(i) + a(i - 1); i += 1 }; a
    case (a: Array[Double], _, _) => var i = 1; while (i < a.length) { a(i) = a(i) + a(i - 1); i += 1 }; a
    case (other, _, _) => throw new IllegalArgumentException(
      s"delta filter unsupported for ${other.getClass}")
  }

  /** Comparison view of a typed array (filter matching + statistics). */
  def toDoubles(typed: AnyRef): Array[Double] = typed match {
    // string coordinates live in INDEX space for grid arithmetic:
    // pushed string equality is translated to its index driver-side
    case a: Array[String] => Array.tabulate(a.length)(_.toDouble)
    case a: Array[Byte] => a.map(_.toDouble)
    case a: Array[Short] => a.map(_.toDouble)
    case a: Array[Int] => a.map(_.toDouble)
    case a: Array[Long] => a.map(_.toDouble)
    case a: Array[Float] => a.map(_.toDouble)
    case a: Array[Double] => a
    case a: Array[Boolean] => a.map(b => if (b) 1.0 else 0.0)
    case other => throw new IllegalArgumentException(s"Unexpected array: ${other.getClass}")
  }

  /** Element of a typed array as the JVM value Spark's InternalRow
    * setter expects for the corresponding Spark type. */
  def elementAt(typed: AnyRef, i: Int): Any = typed match {
    case a: Array[Byte] => a(i)
    case a: Array[Short] => a(i)
    case a: Array[Int] => a(i)
    case a: Array[Long] => a(i)
    case a: Array[Float] => a(i)
    case a: Array[Double] => a(i)
    case a: Array[Boolean] => a(i)
    case a: Array[String] => a(i)
    case other => throw new IllegalArgumentException(s"Unexpected array: ${other.getClass}")
  }
}

/** Chunk file IO + whole-array assembly for small (coordinate)
  * arrays. */
object ChunkIO {

  /** Executor-local decoded-chunk cache, shared across tasks and
    * queries in this JVM — the reference's roadmap "prefetching/LRU
    * cache" (README.md:289-337). Off unless a scan requests it
    * (`chunkCacheEntries` read option); entries are whole decoded
    * decode units — chunks, or for a sharded array its inner chunks —
    * each weighing its decoded bytes. A read asking for N entries asks
    * for N of its own units' bytes, and the budget is the largest ask
    * so far. Hot use case: repeated interactive queries (REPL) and
    * remote stores, where a chunk re-fetch costs an object-store round
    * trip. */
  private val chunkCache = new ByteLru[(String, String, Seq[Long]), AnyRef](0L)

  /** Bytes the decoded-chunk cache holds now, and its budget. */
  def cacheBytes: Long = chunkCache.bytes
  def cacheBudget: Long = chunkCache.budget

  /** Drop every cached chunk for `path` — called when a store at that
    * path is rewritten or deleted in this JVM, so later scans with
    * `chunkCacheEntries>0` never serve stale data. (On a multi-JVM
    * cluster each executor purges its own cache via the same hooks;
    * rewriting a live store path concurrently with readers is
    * undefined regardless, as with any file format.) */
  def invalidatePath(path: String): Unit = chunkCache.removeIf(_._1 == path)

  /** The decode unit `unitIdx` of `meta` through [[chunkCache]]:
    * `load` runs only on a miss (or when the cache is off). */
  def cached(store: ZarrStore, meta: ZarrArrayMeta, unitIdx: Seq[Long],
      cacheEntries: Int)(load: => AnyRef): AnyRef =
    if (cacheEntries <= 0) load
    else {
      val weight = unitBytes(meta.sharding.fold(meta.chunks)(_.innerChunks), meta.dtype.size)
      chunkCache.raiseBudget(cacheEntries * weight)
      chunkCache.getOrLoad((store.path, meta.name, unitIdx))((load, weight))
    }

  /** Decoded bytes of one `unit`-shaped block of `elemSize`-byte cells. */
  def unitBytes(unit: Seq[Int], elemSize: Int): Long =
    unit.foldLeft(math.max(1, elemSize).toLong)(_ * _)

  /** Decode units (chunks; inner chunks of a sharded array) produced in
    * this JVM, absent ones read as fill included — a test/diagnostic
    * hook for asserting IO-efficiency properties (e.g. band caching
    * bounds re-decodes). */
  val decodeCount = new java.util.concurrent.atomic.AtomicLong(0)

  /** Shared executor for read-ahead chunk fetches (reference roadmap
    * "prefetching"): small and daemonized — prefetch overlaps the NEXT
    * chunk's store latency with the CURRENT chunk's decode/emit, it is
    * not a parallel scan (partitions already give that). */
  lazy val prefetchPool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newFixedThreadPool(4, (r: Runnable) => {
      val t = new Thread(r, "zarr-prefetch")
      t.setDaemon(true)
      t
    })

  /** Per-variable LRU budget in bytes, sized so one "row band" of
    * `unit`-shaped blocks — every block the row-major odometer
    * revisits while sweeping the inner dimensions of one outer
    * position — stays held. Without this a store with multi-chunk INNER dimensions
    * re-decodes each inner chunk once per grid row (chunk-extent×
    * amplification; the ERA5 chunking (1, lat-block, lon-block) is the
    * canonical case). Bounded by a 64 MiB per-variable budget so task
    * memory stays predictable when blocks are large; dim 0 is excluded
    * because the outer walk never returns to a finished outer block.
    * The budget is a whole number of units, each entry weighing one
    * unit. The reader sizes its decoded band with the decode unit and,
    * for a sharded array, its encoded-shard band with the shard shape. */
  def bandBudget(unit: Seq[Int], elemSize: Int, ranges: Array[(Int, Int)]): Long = {
    var inner = 1L
    var d = 1
    while (d < ranges.length) {
      val lo = ranges(d)._1 / unit(d)
      val hi = math.max(ranges(d)._1, ranges(d)._2 - 1) / unit(d)
      inner = math.min(inner * (hi - lo + 1), 1L << 20)
      d += 1
    }
    val bytes = unitBytes(unit, elemSize)
    math.max(1L, math.min(inner, math.max(1L, (64L << 20) / bytes))) * bytes
  }

  /** Read + decode one chunk file; absent chunk files yield the
    * fill_value (Zarr semantics). `chunkIdx` indexes the array's chunk
    * grid — for a sharded array that is a SHARD, decoded whole (inner
    * chunks assembled in place); the columnar reader instead decodes
    * one inner chunk at a time ([[readShard]] + [[decodeInner]]).
    * `onBytes` receives the PAYLOAD size actually fetched (0 for
    * absent chunks) — the readers' bytesRead metric, reported from the
    * read itself rather than a separate `sizeOf` round trip (which
    * doubles object-store requests). */
  def readChunk(store: ZarrStore, meta: ZarrArrayMeta, chunkIdx: Seq[Long],
      onBytes: Long => Unit = _ => (), requirePresent: Boolean = false): AnyRef =
    named(store, meta, chunkIdx) {
      readChunkImpl(store, meta, chunkIdx, onBytes, requirePresent)
    }

  /** Runs `body`, naming the chunk in any failure: decode failures on
    * corrupt objects surface as bare buffer/codec exceptions with no
    * message — name the chunk so a 1000-executor job's stack points at
    * the bad object, not just "a BufferUnderflowException somewhere". */
  private def named[T](store: ZarrStore, meta: ZarrArrayMeta, chunkIdx: Seq[Long],
      inner: String = "")(body: => T): T =
    try body
    catch {
      case e: Exception => throw new java.io.IOException(
        s"corrupt or unreadable chunk '${meta.name}/${meta.chunkKey(chunkIdx)}'$inner " +
          s"in ${store.path} (${e.getClass.getSimpleName}" +
          s"${Option(e.getMessage).filter(_.nonEmpty).map(": " + _).getOrElse("")})", e)
    }

  private def readChunkImpl(store: ZarrStore, meta: ZarrArrayMeta, chunkIdx: Seq[Long],
      onBytes: Long => Unit, requirePresent: Boolean): AnyRef = {
    val nElems = meta.chunks.product
    val key = s"${meta.name}/${meta.chunkKey(chunkIdx)}"
    // requirePresent (coordinate reads): an absent chunk is metadata
    // inconsistent with the stored data — locate it loudly instead of
    // fabricating fill values (the error is raised HERE, on the same
    // GET the read pays anyway, not via a separate existence probe)
    def absent(): AnyRef =
      if (!requirePresent) fillArray(meta, nElems)
      else throw new IllegalArgumentException(
        s"array '${meta.name}' in ${store.path} declares more data than the " +
          s"store holds: required chunk '$key' is absent — refusing to " +
          s"fabricate fill values")
    // a sharded array counts its inner chunks, in decodeInnerImpl
    if (meta.sharding.nonEmpty) {
      val shard = parseShard(store, meta, chunkIdx, onBytes)
      return if (shard == null && requirePresent) absent() else decodeShard(shard, meta)
    }
    decodeCount.incrementAndGet()
    // uncompressed, unfiltered chunks decode straight from a
    // memory-mapped (or wrapped) buffer — no intermediate heap copy
    if (meta.compressor.id == "none" && !meta.deltaFilter)
      return store.mapBytes(key) match {
        case None => absent()
        case Some(buf) =>
          onBytes(buf.remaining().toLong)
          ChunkCodec.decodeTypedBuf(buf, meta.dtype, nElems)
      }
    store.readBytes(key) match {
      case None => absent()
      case Some(bytes) =>
        onBytes(bytes.length.toLong)
        val raw = ChunkCodec.decompress(bytes, meta.compressor, nElems * meta.dtype.size)
        val typed = ChunkCodec.decodeTyped(raw, meta.dtype, nElems)
        if (meta.deltaFilter) ChunkCodec.deltaDecode(typed, meta.dtype) else typed
    }
  }

  /** A fetched v3 shard: its encoded bytes and its checked
    * `(offset, nbytes)` index, C-order over the shard's inner-chunk
    * grid (2^64-1 twice ⇒ absent). Immutable once parsed, so a
    * prefetch thread may decode from it. */
  final class Shard private[ChunkIO] (val shardIdx: Seq[Long], val bytes: Array[Byte],
      index: Array[Long]) {
    def offset(i: Int): Long = index(2 * i)
    def nbytes(i: Int): Long = index(2 * i + 1)
  }

  /** Inner chunks per shard, per dimension. */
  def innerGrid(meta: ZarrArrayMeta): Array[Int] =
    meta.chunks.zip(meta.sharding.get.innerChunks).map { case (c, i) => c / i }.toArray

  /** Fetch shard `shardIdx` and check its index: size, crc32c. `null`
    * when the shard object is absent; [[decodeInner]] reads that as
    * fill. `onBytes` receives the fetched size. */
  def readShard(store: ZarrStore, meta: ZarrArrayMeta, shardIdx: Seq[Long],
      onBytes: Long => Unit): Shard =
    named(store, meta, shardIdx)(parseShard(store, meta, shardIdx, onBytes))

  private def parseShard(store: ZarrStore, meta: ZarrArrayMeta, shardIdx: Seq[Long],
      onBytes: Long => Unit): Shard = {
    val bytes = store.readBytes(s"${meta.name}/${meta.chunkKey(shardIdx)}") match {
      case None => return null
      case Some(b) => onBytes(b.length.toLong); b
    }
    val spec = meta.sharding.get
    val nInner = innerGrid(meta).product
    val idxLen = nInner * 16 + (if (spec.indexChecksum) 4 else 0)
    require(bytes.length >= idxLen, s"${meta.name}: shard smaller than its index")
    val idxOff = if (spec.indexAtEnd) bytes.length - idxLen else 0
    if (spec.indexChecksum) {
      val crc = new java.util.zip.CRC32C
      crc.update(bytes, idxOff, nInner * 16)
      val stored = ByteBuffer.wrap(bytes, idxOff + nInner * 16, 4)
        .order(ByteOrder.LITTLE_ENDIAN).getInt
      require(crc.getValue.toInt == stored,
        s"${meta.name}: shard index crc32c mismatch")
    }
    val index = new Array[Long](2 * nInner)
    ByteBuffer.wrap(bytes, idxOff, nInner * 16).order(ByteOrder.LITTLE_ENDIAN)
      .asLongBuffer().get(index)
    new Shard(shardIdx, bytes, index)
  }

  /** Decode inner chunk `inner` (C-order over the shard's inner-chunk
    * grid) of a fetched shard with the inner codec chain: one decode
    * unit, counted in [[decodeCount]]. A `null` shard (absent object)
    * or an absent index entry reads as fill; an entry outside the
    * shard's bytes fails loudly. */
  def decodeInner(store: ZarrStore, meta: ZarrArrayMeta, shard: Shard, inner: Int): AnyRef =
    if (shard == null) decodeInnerImpl(meta, null, inner)
    else named(store, meta, shard.shardIdx, s" (inner chunk $inner)")(decodeInnerImpl(meta, shard, inner))

  private def decodeInnerImpl(meta: ZarrArrayMeta, shard: Shard, inner: Int): AnyRef = {
    decodeCount.incrementAndGet()
    val spec = meta.sharding.get
    val innerElems = spec.innerChunks.product
    if (shard == null) return fillArray(meta, innerElems)
    val (off, nb) = (shard.offset(inner), shard.nbytes(inner))
    if (off == -1L && nb == -1L) return fillArray(meta, innerElems)
    require(off >= 0 && nb >= 0 && off + nb <= shard.bytes.length,
      s"${meta.name}: inner chunk $inner out of shard bounds")
    if (spec.innerComp.id == "none")
      ChunkCodec.decodeTypedBuf(ByteBuffer.wrap(shard.bytes, off.toInt, nb.toInt).slice(),
        meta.dtype, innerElems)
    else if (spec.innerComp.id == "zstd")
      ChunkCodec.decodeTypedBuf(ChunkCodec.zstdDecompress(shard.bytes, off.toInt, nb.toInt,
        innerElems * meta.dtype.size), meta.dtype, innerElems)
    else {
      // a blosc frame's block offsets are checked only against the end
      // of the buffer it is given: it gets a copy of the inner chunk
      val enc = java.util.Arrays.copyOfRange(shard.bytes, off.toInt, (off + nb).toInt)
      val raw = ChunkCodec.decompress(enc, spec.innerComp, innerElems * meta.dtype.size)
      ChunkCodec.decodeTyped(raw, meta.dtype, innerElems)
    }
  }

  /** Decode a whole v3 shard: [[decodeInner]] on each inner chunk,
    * placed into a shard-shaped array. Copies are whole
    * innermost-dimension runs (`System.arraycopy`). */
  private def decodeShard(shard: Shard, meta: ZarrArrayMeta): AnyRef = {
    val inner = meta.sharding.get.innerChunks
    val grid = innerGrid(meta)
    val nInner = grid.product
    val innerLast = inner.last
    // rows (innermost-dim runs) per inner chunk
    val rowsPerInner = inner.product / innerLast
    val nDims = meta.chunks.length
    val gridIdx = new Array[Int](nDims)
    var out: AnyRef = null
    var ci = 0
    while (ci < nInner) {
      val typed = decodeInnerImpl(meta, shard, ci)
      if (out == null) out = java.lang.reflect.Array.newInstance(
        typed.getClass.getComponentType, meta.chunks.product).asInstanceOf[AnyRef]
      // inner-grid coords of this chunk (C-order decode of ci)
      var rem = ci; var d = nDims - 1
      while (d >= 0) { gridIdx(d) = rem % grid(d); rem /= grid(d); d -= 1 }
      // copy each innermost run to its position in the shard array,
      // building offsets from innermost outward
      var r = 0
      while (r < rowsPerInner) {
        var rr = r
        var srcOff = 0L; var mul = innerLast.toLong
        var dstOff = gridIdx(nDims - 1).toLong * innerLast
        var dmul = meta.chunks(nDims - 1).toLong
        d = nDims - 2
        while (d >= 0) {
          val within = rr % inner(d); rr /= inner(d)
          srcOff += within * mul; mul *= inner(d)
          dstOff += (gridIdx(d).toLong * inner(d) + within) * dmul
          dmul *= meta.chunks(d)
          d -= 1
        }
        System.arraycopy(typed, srcOff.toInt, out, dstOff.toInt, innerLast)
        r += 1
      }
      ci += 1
    }
    out
  }

  private def fillArray(meta: ZarrArrayMeta, n: Int): AnyRef = {
    val fv = meta.fillValue
    (meta.dtype.kind, meta.dtype.size) match {
      case ('f', 8) => Array.fill(n)(fv)
      case ('f', _) => Array.fill(n)(fv.toFloat)
      case ('b', _) => Array.fill(n)(fv != 0.0)
      case ('i', 1) => Array.fill(n)(fv.toByte)
      case ('i', 2) | ('u', 1) => Array.fill(n)(fv.toShort)
      case ('i', 4) | ('u', 2) => Array.fill(n)(fv.toInt)
      case ('S', _) => Array.fill(n)("")
      case _ => Array.fill(n)(fv.toLong)
    }
  }

  /** Read an entire 1-D array (multi-chunk safe) — used for
    * coordinates.
    *
    * Coordinates must be fully materialized: an absent DATA chunk is
    * legal Zarr (reads as fill) but an absent COORDINATE chunk means
    * the declared shape exceeds the stored coordinate data — a torn
    * metadata edit or bad consolidation. Fabricating fill-valued
    * coordinates would silently invent grid rows (and duplicate
    * coordinate cells), so refuse loudly instead. The absence check
    * rides the read itself (`requirePresent`) — a separate existence
    * probe per chunk would double round-trips on remote backends
    * (HTTP HEAD, HDFS RPC) and break against HEAD-rejecting servers. */
  def readWholeArray(store: ZarrStore, meta: ZarrArrayMeta): AnyRef = {
    require(meta.nDims == 1, s"readWholeArray expects 1-D, got ${meta.nDims}-D ${meta.name}")
    val n = meta.shape.head.toInt
    val chunkLen = meta.chunks.head
    val nChunks = meta.chunkGrid.head.toInt
    if (nChunks == 1) {
      truncate(ChunkIO.readChunk(store, meta, Seq(0L), requirePresent = true), n)
    } else {
      val parts = (0 until nChunks).map(c =>
        readChunk(store, meta, Seq(c.toLong), requirePresent = true))
      concat(parts, n, chunkLen)
    }
  }

  private def truncate(a: AnyRef, n: Int): AnyRef = a match {
    case x: Array[Byte] => if (x.length == n) x else x.take(n)
    case x: Array[Short] => if (x.length == n) x else x.take(n)
    case x: Array[Int] => if (x.length == n) x else x.take(n)
    case x: Array[Long] => if (x.length == n) x else x.take(n)
    case x: Array[Float] => if (x.length == n) x else x.take(n)
    case x: Array[Double] => if (x.length == n) x else x.take(n)
    case x: Array[Boolean] => if (x.length == n) x else x.take(n)
    case x: Array[String] => if (x.length == n) x else x.take(n)
    case other => other
  }

  private def concat(parts: Seq[AnyRef], n: Int, chunkLen: Int): AnyRef = {
    val out = java.lang.reflect.Array.newInstance(
      parts.head.getClass.getComponentType, n)
    parts.zipWithIndex.foreach { case (p, i) =>
      val off = i * chunkLen
      val len = math.min(chunkLen, n - off)
      if (len > 0) System.arraycopy(p, 0, out, off, len)
    }
    out.asInstanceOf[AnyRef]
  }
}
