package graft

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.zarr._

/** Randomized property for the columnar reader: every batch it emits
  * must equal rows built by plain nested loops over the GENERATED cell
  * values — never over anything the connector read back.
  *
  * Each seed writes one hand-encoded 3-D store (v2 raw chunks, or v3
  * sharded) holding one data variable per decoded dtype, each with its
  * own chunk shape, fill value and absent chunks, plus a string
  * coordinate (v2). Random partitions then cut the grid anywhere:
  * inner ranges that split chunk edges, row slices that start and end
  * mid-run and mid-chunk, one-outer-index keyed partitions, random
  * projections (including the empty one), `fillValueAsNull` on and off
  * and batch sizes 1, 2, 7 and 4096. Batches are copied out as they
  * arrive, so a reused vector that kept stale values or nulls from the
  * previous batch shows up as a mismatch. */
class ZarrReaderPropSpec extends AnyFunSuite {

  /** One stored dtype: its v2 / v3 names, stored width, fill value as
    * the Spark value an absent cell decodes to, a generator of Spark
    * values and the little-endian encoder of a Spark value. */
  private final case class Kind(name: String, v2: String, v3: Option[String], size: Int,
      fillJson: String, fill: Any, gen: Random => Any, put: (ByteBuffer, Any) => Unit)

  private val two53 = 1L << 53
  private val two54 = 1L << 54
  // float16 bit patterns with their exact float values
  private val halves: Seq[(Int, Float)] = Seq(0x0000 -> 0f, 0x3c00 -> 1f, 0xc000 -> -2f,
    0x3800 -> 0.5f, 0x4200 -> 3f, 0x5640 -> 100f, 0x7bff -> 65504f,
    0x0001 -> math.pow(2, -24).toFloat, 0x7e00 -> Float.NaN)
  private def pick[T](r: Random, xs: T*): T = xs(r.nextInt(xs.length))

  private val kinds: Seq[Kind] = Seq(
    Kind("i1", "|i1", Some("int8"), 1, "-1", (-1).toByte,
      r => (r.nextInt(256) - 128).toByte, (b, v) => b.put(v.asInstanceOf[Byte])),
    Kind("i2", "<i2", Some("int16"), 2, "0", 0.toShort,
      r => (r.nextInt(65536) - 32768).toShort, (b, v) => b.putShort(v.asInstanceOf[Short])),
    Kind("i4", "<i4", Some("int32"), 4, "7", 7,
      r => pick(r, r.nextInt(), r.nextInt(20)), (b, v) => b.putInt(v.asInstanceOf[Int])),
    // fill past 2^53: its neighbours share its double value and must
    // stay non-null
    Kind("i8", "<i8", Some("int64"), 8, two54.toString, two54,
      r => pick(r, r.nextLong(), two54 - 1, two54 + 1, two54 + 2, two53, two53 + 1,
        Long.MaxValue, Long.MinValue), (b, v) => b.putLong(v.asInstanceOf[Long])),
    Kind("u1", "|u1", Some("uint8"), 1, "255", 255.toShort,
      r => r.nextInt(256).toShort, (b, v) => b.put(v.asInstanceOf[Short].toByte)),
    Kind("u2", "<u2", Some("uint16"), 2, "65535", 65535,
      r => r.nextInt(65536), (b, v) => b.putShort(v.asInstanceOf[Int].toShort)),
    Kind("u4", "<u4", Some("uint32"), 4, "4294967295", 4294967295L,
      r => r.nextLong() & 0xffffffffL, (b, v) => b.putInt(v.asInstanceOf[Long].toInt)),
    // NaN fill: NaN cells are fill cells
    Kind("f2", "<f2", Some("float16"), 2, "\"NaN\"", Float.NaN,
      r => halves(r.nextInt(halves.length))._2,
      (b, v) => b.putShort(halves.find(_._2.equals(v)).get._1.toShort)),
    Kind("f4", "<f4", Some("float32"), 4, "-9999.0", -9999f,
      r => pick(r, r.nextFloat() * 100, Float.NaN, Float.MaxValue, -0.5f),
      (b, v) => b.putFloat(v.asInstanceOf[Float])),
    Kind("f8", "<f8", Some("float64"), 8, "\"NaN\"", Double.NaN,
      r => pick(r, r.nextGaussian(), 1e300, -2.5), (b, v) => b.putDouble(v.asInstanceOf[Double])),
    Kind("b1", "|b1", Some("bool"), 1, "true", true,
      r => r.nextBoolean(), (b, v) => b.put(if (v.asInstanceOf[Boolean]) 1.toByte else 0.toByte)),
    // datetime64[s] reads as epoch micros; v3 names no datetime type
    Kind("m8", "<M8[s]", None, 8, "0", 0L,
      r => (r.nextInt(2000000000) - 1000000000).toLong * 1000000L,
      (b, v) => b.putLong(v.asInstanceOf[Long] / 1000000L)))

  /** The fill rule, stated independently of the reader: integral
    * cells match exactly, float cells match numerically or NaN-to-NaN. */
  private def isFill(v: Any, fill: Any): Boolean = (v, fill) match {
    case (x: Float, f: Float) => x == f || x.isNaN && f.isNaN
    case (x: Double, f: Double) => x == f || x.isNaN && f.isNaN
    case _ => v == fill
  }

  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (x: Float, y: Float) => java.lang.Float.compare(x, y) == 0
    case (x: Double, y: Double) => java.lang.Double.compare(x, y) == 0
    case (x, y) if x != null && y != null => x.getClass == y.getClass && x == y
    case _ => false
  }

  /** A generated store: extents, coordinate values per dim, and each
    * variable's logical cell values (fill where a chunk is absent). */
  private final case class Gen(path: String, ext: Array[Int], coords: Array[Array[Any]],
      vars: Seq[(Kind, Array[Any])])

  private def write(p: Path, rel: String, bytes: Array[Byte]): Unit = {
    val f = p.resolve(rel)
    Files.createDirectories(f.getParent)
    Files.write(f, bytes)
  }
  private def le(n: Int) = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)
  private def flat(ext: Array[Int], i: Array[Int]): Int = (i(0) * ext(1) + i(1)) * ext(2) + i(2)

  /** Every cell index of a box, C order. */
  private def cells(lo: Array[Int], shape: Array[Int]): Seq[Array[Int]] =
    for (a <- 0 until shape(0); b <- 0 until shape(1); c <- 0 until shape(2))
      yield Array(lo(0) + a, lo(1) + b, lo(2) + c)

  /** Encode the `shape` box at `lo` of a variable (cells past the
    * extent pad with the fill). */
  private def encodeBox(k: Kind, ext: Array[Int], vals: Array[Any], lo: Array[Int],
      shape: Array[Int]): Array[Byte] = {
    val b = le(shape.product * k.size)
    cells(lo, shape).foreach { i =>
      val inside = i.indices.forall(d => i(d) < ext(d))
      k.put(b, if (inside) vals(flat(ext, i)) else k.fill)
    }
    b.array()
  }

  /** Mark a box's in-extent cells absent: they read as the fill. */
  private def blank(k: Kind, ext: Array[Int], vals: Array[Any], lo: Array[Int], shape: Array[Int]): Unit =
    cells(lo, shape).filter(i => i.indices.forall(d => i(d) < ext(d)))
      .foreach(i => vals(flat(ext, i)) = k.fill)

  private def grid(ext: Array[Int], chunk: Array[Int]): Seq[Array[Int]] =
    cells(Array(0, 0, 0), Array.tabulate(3)(d => (ext(d) + chunk(d) - 1) / chunk(d)))

  private val dimNames = Seq("t", "y", "x")

  private def genStore(seed: Long, v3: Boolean): Gen = {
    val r = new Random(seed)
    val ext = Array(1 + r.nextInt(4), 1 + r.nextInt(5), 1 + r.nextInt(13))
    val root = Files.createTempDirectory("zarr_reader_prop")
    val strDim = if (v3) -1 else 1 + r.nextInt(2)
    // coordinates: a string one (v2) on an inner dim, longs elsewhere
    val coords: Array[Array[Any]] = Array.tabulate(3) { d =>
      if (d == strDim) Array.tabulate[Any](ext(d))(i => s"s${(i * 7) % 100}".take(4))
      else Array.tabulate[Any](ext(d))(i => 10L * i - 3)
    }
    val dims = dimNames.map("\"" + _ + "\"").mkString("[", ",", "]")
    if (v3) write(root, "zarr.json", """{"zarr_format":3,"node_type":"group","attributes":{}}""".getBytes)
    else write(root, ".zgroup", """{"zarr_format":2}""".getBytes)
    (0 until 3).foreach { d =>
      val n = dimNames(d)
      if (d == strDim) {
        write(root, s"$n/.zarray", s"""{"zarr_format":2,"shape":[${ext(d)}],"chunks":[${ext(d)}],
          "dtype":"|S4","fill_value":null,"order":"C","filters":null,"compressor":null}""".getBytes)
        val b = ByteBuffer.allocate(4 * ext(d))
        coords(d).foreach(s => b.put(java.util.Arrays.copyOf(s.toString.getBytes("US-ASCII"), 4)))
        write(root, s"$n/0", b.array())
      } else {
        val b = le(8 * ext(d))
        coords(d).foreach(v => b.putLong(v.asInstanceOf[Long]))
        if (v3) {
          write(root, s"$n/zarr.json", s"""{"zarr_format":3,"node_type":"array","shape":[${ext(d)}],
            "data_type":"int64","chunk_grid":{"name":"regular","configuration":{"chunk_shape":[${ext(d)}]}},
            "chunk_key_encoding":{"name":"default","configuration":{"separator":"/"}},
            "fill_value":0,"codecs":[{"name":"bytes","configuration":{"endian":"little"}}]}""".getBytes)
          write(root, s"$n/c/0", b.array())
        } else {
          write(root, s"$n/.zarray", s"""{"zarr_format":2,"shape":[${ext(d)}],"chunks":[${ext(d)}],
            "dtype":"<i8","fill_value":0,"order":"C","filters":null,"compressor":null}""".getBytes)
          write(root, s"$n/0", b.array())
        }
      }
    }
    val shape = ext.mkString("[", ",", "]")
    val vars = kinds.filter(k => !v3 || k.v3.nonEmpty).map { k =>
      val name = s"v_${k.name}"
      val vals = Array.fill[Any](ext.product)(if (r.nextInt(7) == 0) k.fill else k.gen(r))
      val inner = Array.tabulate(3)(d => 1 + r.nextInt(ext(d)))
      if (!v3) {
        write(root, s"$name/.zarray", s"""{"zarr_format":2,"shape":$shape,
          "chunks":${inner.mkString("[", ",", "]")},"dtype":"${k.v2}","fill_value":${k.fillJson},
          "order":"C","filters":null,"compressor":null}""".getBytes)
        write(root, s"$name/.zattrs", s"""{"_ARRAY_DIMENSIONS":$dims}""".getBytes)
        grid(ext, inner).foreach { ci =>
          val lo = Array.tabulate(3)(d => ci(d) * inner(d))
          if (r.nextInt(6) == 0) blank(k, ext, vals, lo, inner)
          else write(root, s"$name/${ci.mkString(".")}", encodeBox(k, ext, vals, lo, inner))
        }
      } else {
        // shard = 1 or 2 inner chunks per dim; absent shards and
        // absent inner chunks (index entry 2^64-1) both read as fill
        val shard = Array.tabulate(3)(d => inner(d) * (1 + r.nextInt(2)))
        val sub = Array.tabulate(3)(d => shard(d) / inner(d))
        write(root, s"$name/zarr.json", s"""{"zarr_format":3,"node_type":"array","shape":$shape,
          "data_type":"${k.v3.get}","chunk_grid":{"name":"regular","configuration":{"chunk_shape":${shard.mkString("[", ",", "]")}}},
          "chunk_key_encoding":{"name":"default","configuration":{"separator":"/"}},
          "fill_value":${k.fillJson},"attributes":{"_ARRAY_DIMENSIONS":$dims},
          "codecs":[{"name":"sharding_indexed","configuration":{"chunk_shape":${inner.mkString("[", ",", "]")},
            "codecs":[{"name":"bytes","configuration":{"endian":"little"}}],
            "index_codecs":[{"name":"bytes","configuration":{"endian":"little"}}],
            "index_location":"end"}}]}""".getBytes)
        grid(ext, shard).foreach { si =>
          val slo = Array.tabulate(3)(d => si(d) * shard(d))
          if (r.nextInt(6) == 0) blank(k, ext, vals, slo, shard)
          else {
            val body = new java.io.ByteArrayOutputStream()
            val index = le(sub.product * 16)
            cells(Array(0, 0, 0), sub).foreach { ii =>
              val lo = Array.tabulate(3)(d => slo(d) + ii(d) * inner(d))
              if (r.nextInt(5) == 0) {
                blank(k, ext, vals, lo, inner)
                index.putLong(-1L).putLong(-1L)
              } else {
                val enc = encodeBox(k, ext, vals, lo, inner)
                index.putLong(body.size().toLong).putLong(enc.length.toLong)
                body.write(enc)
              }
            }
            body.write(index.array())
            write(root, s"$name/c/${si.mkString("/")}", body.toByteArray)
          }
        }
      }
      k -> vals
    }
    Gen(root.toString, ext, coords, vars)
  }

  /** Copy a batch out cell by cell through the typed getters. */
  private def copyOut(b: ColumnarBatch, types: Seq[DataType]): Seq[Seq[Any]] =
    (0 until b.numRows()).map { i =>
      types.indices.map { c =>
        val v = b.column(c)
        if (v.isNullAt(i)) null
        else types(c) match {
          case ByteType => v.getByte(i)
          case ShortType => v.getShort(i)
          case IntegerType => v.getInt(i)
          case LongType | TimestampType => v.getLong(i)
          case FloatType => v.getFloat(i)
          case DoubleType => v.getDouble(i)
          case BooleanType => v.getBoolean(i)
          case StringType => v.getUTF8String(i).toString
          case t => fail(s"unexpected type $t")
        }
      }
    }

  /** Drain a partition; every batch is copied out before the next one
    * is requested. Returns the rows and each batch's size. The factory
    * builds the reader at its default batch size. */
  private def drain(part: InputPartition, types: Seq[DataType],
      batchSize: Int): (Seq[Seq[Any]], Seq[Int]) = {
    val factory = new ZarrReaderFactory
    assert(factory.supportColumnarReads(part))
    val reader = (part, batchSize) match {
      case (_, 4096) => factory.createColumnarReader(part)
      case (k: ZarrKeyedInputPartition, n) => new ZarrColumnarReader(k.p, n)
      case (p: ZarrInputPartition, n) => new ZarrColumnarReader(p, n)
    }
    val rows = mutable.ArrayBuffer.empty[Seq[Any]]
    val sizes = mutable.ArrayBuffer.empty[Int]
    try while (reader.next()) {
      val b = reader.get()
      assert(b.numCols() == types.length)
      sizes += b.numRows()
      rows ++= copyOut(b, types)
    } finally reader.close()
    (rows.toSeq, sizes.toSeq)
  }

  private def check(seed: Long, v3: Boolean): Unit = {
    val g = genStore(seed, v3)
    val meta = ZarrMeta.readStore(g.path)
    assert(meta.coordNames == dimNames)
    val r = new Random(seed * 31 + 7)
    (0 until 12).foreach { trial =>
      val keyed = r.nextInt(4) == 0
      val ranges = Array.tabulate(3) { d =>
        val e = g.ext(d)
        if (d == 0 && keyed) { val o = r.nextInt(e); (o, o + 1) }
        else { val lo = r.nextInt(e); (lo, lo + 1 + r.nextInt(e - lo)) }
      }
      // the generated rows of the box, by plain nested loops
      val fieldIds = r.shuffle((0 until 3 + g.vars.length).toList).take(r.nextInt(7))
      val fillAsNull = r.nextBoolean()
      val box = for {
        t <- ranges(0)._1 until ranges(0)._2
        y <- ranges(1)._1 until ranges(1)._2
        x <- ranges(2)._1 until ranges(2)._2
      } yield fieldIds.map { f =>
        if (f < 3) g.coords(f)(Seq(t, y, x)(f))
        else {
          val (k, vals) = g.vars(f - 3)
          val v = vals(flat(g.ext, Array(t, y, x)))
          if (fillAsNull && isFill(v, k.fill)) null else v
        }
      }
      val total = box.length
      val (a, b) =
        if (keyed) (0, total)
        else { val a = r.nextInt(total + 1); (a, a + r.nextInt(total - a + 1)) }
      val projection = fieldIds.map { f =>
        if (f < 3) CoordField(f)
        else VarField(meta.dataVars.find(_.name == s"v_${g.vars(f - 3)._1.name}").get)
      }
      val types = projection.map {
        case CoordField(d) => meta.coords(d).meta.dtype.sparkType
        case VarField(m) => m.dtype.sparkType
      }
      val p = ZarrInputPartition(g.path, a.toLong, b.toLong, ranges, meta.coords, projection,
        fillAsNull = fillAsNull, chunkCacheEntries = pick(r, 0, 0, 3),
        prefetch = r.nextBoolean())
      val part = if (keyed) ZarrKeyedInputPartition(p, null) else p
      val batchSize = pick(r, 1, 2, 7, 4096)
      val what = s"seed=$seed v3=$v3 trial=$trial ranges=${ranges.toSeq} rows=[$a,$b) " +
        s"fields=$fieldIds fillAsNull=$fillAsNull batch=$batchSize keyed=$keyed"
      val (rows, sizes) = drain(part, types, batchSize)
      assert(sizes == Seq.tabulate((b - a + batchSize - 1) / batchSize)(i =>
        math.min(batchSize, b - a - i * batchSize)), what)
      val want = box.slice(a, b)
      rows.indices.foreach { i =>
        val ok = rows(i).length == want(i).length &&
          rows(i).indices.forall(c => same(rows(i)(c), want(i)(c)))
        assert(ok, s"$what row ${a + i}: got ${rows(i)} want ${want(i)}")
      }
    }
  }

  test("batches equal plain loops over the generated cells: every dtype, v2 chunks") {
    (1L to 40L).foreach(check(_, v3 = false))
  }

  test("batches equal plain loops over the generated cells: every dtype, v3 shards") {
    (101L to 130L).foreach(check(_, v3 = true))
  }

  test("two consecutive batches copied out of one reader both hold their own data") {
    // 1 x 1 x 8 grid, one chunk: the first batch is all fill (null),
    // the second has no fill — reused vectors must drop the nulls
    val k = kinds.find(_.name == "f4").get
    val root = Files.createTempDirectory("zarr_reader_reuse")
    write(root, ".zgroup", """{"zarr_format":2}""".getBytes)
    Seq("t" -> 1, "y" -> 1, "x" -> 8).foreach { case (n, e) =>
      write(root, s"$n/.zarray", s"""{"zarr_format":2,"shape":[$e],"chunks":[$e],
        "dtype":"<i8","fill_value":0,"order":"C","filters":null,"compressor":null}""".getBytes)
      val b = le(8 * e); (0 until e).foreach(i => b.putLong(i.toLong)); write(root, s"$n/0", b.array())
    }
    write(root, "v/.zarray", """{"zarr_format":2,"shape":[1,1,8],"chunks":[1,1,8],
      "dtype":"<f4","fill_value":-9999.0,"order":"C","filters":null,"compressor":null}""".getBytes)
    write(root, "v/.zattrs", """{"_ARRAY_DIMENSIONS":["t","y","x"]}""".getBytes)
    val vals = Array[Float](-9999f, -9999f, -9999f, -9999f, 1f, 2f, 3f, 4f)
    val buf = le(32); vals.foreach(v => k.put(buf, v)); write(root, "v/0.0.0", buf.array())
    val meta = ZarrMeta.readStore(root.toString)
    val p = ZarrInputPartition(root.toString, 0L, 8L, Array((0, 1), (0, 1), (0, 8)), meta.coords,
      Seq(CoordField(2), VarField(meta.dataVars.head)), fillAsNull = true)
    val types = Seq(LongType, FloatType)
    val reader = new ZarrColumnarReader(p, batchSize = 4)
    try {
      assert(reader.next())
      val first = copyOut(reader.get(), types)
      assert(reader.next())
      val second = copyOut(reader.get(), types)
      assert(!reader.next())
      assert(first == Seq(Seq(0L, null), Seq(1L, null), Seq(2L, null), Seq(3L, null)))
      assert(second == Seq(Seq(4L, 1f), Seq(5L, 2f), Seq(6L, 3f), Seq(7L, 4f)))
    } finally reader.close()
  }

  test("an empty projection emits zero-column batches whose numRows sum to the slice") {
    val g = genStore(7L, v3 = false)
    val meta = ZarrMeta.readStore(g.path)
    val ranges = g.ext.map(e => (0, e))
    val total = g.ext.product
    Seq(1, 2, 7, 4096).foreach { bs =>
      val (rows, sizes) =
        drain(ZarrInputPartition(g.path, 1L, total.toLong, ranges, meta.coords, Nil), Nil, bs)
      assert(sizes.sum == total - 1 && rows.forall(_.isEmpty), s"batch $bs: $sizes")
    }
    // through Spark: a scan whose required schema is empty
    import TestSession.spark
    val n = spark.read.format("zarr").load(g.path).where("t >= 7")
      .select(org.apache.spark.sql.functions.lit(1)).collect().length
    assert(n == g.coords(0).count(_.asInstanceOf[Long] >= 7L) * g.ext(1) * g.ext(2))
  }
}
