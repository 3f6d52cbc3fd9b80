package graft

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Path, Paths}

import scala.util.Random

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.zarr.{ChunkCodec, ChunkIO, ZarrDType, ZarrMeta, ZarrStore}

/** The typed decode copies each fixed-width numeric dtype in bulk
  * through a view in the dtype's byte order; this checks it against a
  * per-cell decode, bit for bit. The failure cases check that a
  * chunk too short for its cells, and a zstd inner chunk whose index
  * entry is cut short or runs into its neighbour, fail naming the
  * chunk. */
class ChunkDecodeSpec extends AnyFunSuite {
  import TestSession._

  /** One `getX()` call per cell: the decode before the bulk copy. */
  private def perCell(raw: Array[Byte], dt: ZarrDType, n: Int): AnyRef = {
    val b = ByteBuffer.wrap(raw).order(if (dt.littleEndian) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN)
    (dt.kind, dt.size) match {
      case ('i', 1) => Array.fill(n)(b.get())
      case ('i', 2) => Array.fill(n)(b.getShort())
      case ('i', 4) => Array.fill(n)(b.getInt())
      case ('i', 8) | ('u', 8) => Array.fill(n)(b.getLong())
      case ('u', 1) => Array.fill(n)((b.get() & 0xff).toShort)
      case ('u', 2) => Array.fill(n)(b.getShort() & 0xffff)
      case ('u', 4) => Array.fill(n)(b.getInt() & 0xffffffffL)
      case ('f', 2) => Array.fill(n)(ChunkCodec.halfToFloat(b.getShort()))
      case ('f', 4) => Array.fill(n)(b.getFloat())
      case ('f', 8) => Array.fill(n)(b.getDouble())
      case ('b', _) => Array.fill(n)(b.get() != 0)
      case ('M', _) => Array.fill(n)(Math.floorDiv(Math.multiplyExact(b.getLong(), dt.tsMulUs), dt.tsDivUs))
    }
  }

  /** Elements as bit patterns, so NaN payloads and −0.0 compare exactly. */
  private def bits(a: AnyRef): Seq[Long] = a match {
    case x: Array[Float] => x.toSeq.map(f => java.lang.Float.floatToRawIntBits(f).toLong)
    case x: Array[Double] => x.toSeq.map(java.lang.Double.doubleToRawLongBits)
    case x: Array[Boolean] => x.toSeq.map(b => if (b) 1L else 0L)
    case x: Array[Byte] => x.toSeq.map(_.toLong)
    case x: Array[Short] => x.toSeq.map(_.toLong)
    case x: Array[Int] => x.toSeq.map(_.toLong)
    case x: Array[Long] => x.toSeq
  }

  test("the bulk decode equals a per-cell decode for every fixed-width dtype in both byte orders") {
    val rnd = new Random(17)
    val n = 37
    for (dtype <- Seq("i1", "i2", "i4", "i8", "u1", "u2", "u4", "u8", "f2", "f4", "f8", "b1", "M8[ns]", "M8[s]");
         order <- Seq("<", ">")) {
      val dt = ZarrDType.parseV2(order + dtype)
      val raw = new Array[Byte](n * dt.size)
      rnd.nextBytes(raw)
      if (dt.kind == 'M') { // keep coarse units inside multiplyExact's range
        val b = ByteBuffer.wrap(raw).order(if (dt.littleEndian) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN)
        (0 until n).foreach(i => b.putLong(i * 8, b.getLong(i * 8) >> 24))
      }
      if (dt.kind == 'f') { // a quiet and a signalling NaN with payloads, and −0.0
        val b = ByteBuffer.wrap(raw).order(if (dt.littleEndian) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN)
        dt.size match {
          case 2 => b.putShort(0, 0x7e01.toShort).putShort(2, 0x7c05.toShort).putShort(4, 0x8000.toShort)
          case 4 => b.putInt(0, 0x7fc12345).putInt(4, 0x7f812345).putInt(8, 0x80000000)
          case 8 => b.putLong(0, 0x7ff8000012345678L).putLong(8, 0x7ff0000012345678L).putLong(16, Long.MinValue)
        }
      }
      val what = order + dtype
      assert(bits(ChunkCodec.decodeTyped(raw, dt, n)) == bits(perCell(raw, dt, n)), what)
      // a buffer that starts inside a larger array, as an inner chunk of a shard
      val padded = Array.fill[Byte](5)(1) ++ raw ++ Array.fill[Byte](3)(2)
      assert(bits(ChunkCodec.decodeTypedBuf(ByteBuffer.wrap(padded, 5, raw.length).slice(), dt, n)) ==
        bits(perCell(raw, dt, n)), what)
      // a direct buffer (the memory-mapped path)
      val direct = ByteBuffer.allocateDirect(raw.length).put(raw).flip()
      assert(bits(ChunkCodec.decodeTypedBuf(direct, dt, n)) == bits(perCell(raw, dt, n)), what)
      if (dt.kind == 'f' && dt.size > 2) {
        val nanBits = bits(ChunkCodec.decodeTyped(raw, dt, n)).take(3)
        assert(nanBits == (if (dt.size == 4) Seq(0x7fc12345L, 0x7f812345L, Int.MinValue.toLong)
          else Seq(0x7ff8000012345678L, 0x7ff0000012345678L, Long.MinValue)), what)
      }
      // a buffer one cell short underflows
      intercept[java.nio.BufferUnderflowException](ChunkCodec.decodeTyped(raw.dropRight(1), dt, n))
    }
  }

  private def chain(t: Throwable): String =
    if (t == null) "" else s"${t.getMessage} / ${chain(t.getCause)}"

  private def writeGrid(opts: (String, String)*): String = {
    import spark.implicits._
    val df = (0 until 4).flatMap(t => (0 until 8).map(x => (t.toLong, x.toLong, (t * 8 + x) * 0.25f)))
      .toDF("t", "x", "v")
    val out = Files.createTempDirectory("zarr_decode").resolve("g.zarr").toString
    df.write.format("zarr").option("coords", "t,x").options(opts.toMap).mode("overwrite").save(out)
    out
  }

  test("a raw chunk shorter than its cells fails naming the chunk") {
    val path = writeGrid("chunkOuter" -> "2", "compressor" -> "none")
    val chunk = Paths.get(path, "v", "0.0")
    Files.write(chunk, Files.readAllBytes(chunk).dropRight(4))
    val meta = ZarrMeta.readStore(path).dataVars.find(_.name == "v").get
    val e = intercept[java.io.IOException](ChunkIO.readChunk(ZarrStore.open(path), meta, Seq(0L, 0L)))
    assert(e.getMessage.contains("'v/0.0'") && e.getMessage.contains("BufferUnderflowException"), e.getMessage)
    val q = intercept[Exception](spark.read.format("zarr").load(path).select("v").collect())
    assert(chain(q).contains("'v/0.0'"), chain(q))
  }

  /** The v3 store's first shard, with inner chunk 0's index entry
    * rewritten by `entry(offset, nbytes, next chunk's nbytes)`, its
    * crc32c recomputed. */
  private def patchInner0(entry: (Long, Long, Long) => (Long, Long)): String = {
    val path = writeGrid("zarrVersion" -> "3", "chunkOuter" -> "2", "shardInner" -> "1", "shardCompress" -> "zstd")
    val meta = ZarrMeta.readStore(path).dataVars.find(_.name == "v").get
    val spec = meta.sharding.get
    val file = Paths.get(path, ("v" +: meta.chunkKey(Seq(0L, 0L)).split("/").toSeq): _*)
    val bytes = Files.readAllBytes(file)
    val nInner = ChunkIO.innerGrid(meta).product
    assert(nInner == 2)
    val idxLen = nInner * 16 + (if (spec.indexChecksum) 4 else 0)
    val idxOff = if (spec.indexAtEnd) bytes.length - idxLen else 0
    val idx = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val (o0, n0, o1, n1) = (idx.getLong(idxOff), idx.getLong(idxOff + 8), idx.getLong(idxOff + 16), idx.getLong(idxOff + 24))
    assert(o1 == o0 + n0, "inner chunks are stored in order")
    val (o, n) = entry(o0, n0, n1)
    idx.putLong(idxOff, o).putLong(idxOff + 8, n)
    if (spec.indexChecksum) {
      val crc = new java.util.zip.CRC32C
      crc.update(bytes, idxOff, nInner * 16)
      idx.putInt(idxOff + nInner * 16, crc.getValue.toInt)
    }
    Files.write(file, bytes)
    path
  }

  private def failsNamingInner0(path: String): Unit = {
    val meta = ZarrMeta.readStore(path).dataVars.find(_.name == "v").get
    val store = ZarrStore.open(path)
    val shard = ChunkIO.readShard(store, meta, Seq(0L, 0L), _ => ())
    val key = s"'v/${meta.chunkKey(Seq(0L, 0L))}' (inner chunk 0)"
    val e = intercept[java.io.IOException](ChunkIO.decodeInner(store, meta, shard, 0))
    assert(e.getMessage.contains(key), e.getMessage)
    // the neighbour decodes as before
    assert(ChunkIO.decodeInner(store, meta, shard, 1).asInstanceOf[Array[Float]].toSeq ==
      (8 until 16).map(_ * 0.25f))
    val q = intercept[Exception](spark.read.format("zarr").load(path).select("v").collect())
    assert(chain(q).contains(key), chain(q))
  }

  test("a zstd inner chunk whose nbytes is cut short fails naming the chunk") {
    failsNamingInner0(patchInner0((o, n, _) => (o, n - 3)))
  }

  test("a zstd inner chunk whose nbytes runs into its neighbour fails naming the chunk") {
    failsNamingInner0(patchInner0((o, n, _) => (o, n + 4)))
    failsNamingInner0(patchInner0((o, n, next) => (o, n + next)))
  }
}
