package perfbench

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.{Executors, TimeUnit}

/** An ERA5-shaped float32 grid whose every cell is a pure function of
  * (seed, variable, time, lat, lon). Answers are checked against plain
  * loops over [[value]], never against the store the program wrote or
  * read.
  *
  * Each value is an integer multiple of 1/256 below 70 in magnitude, so
  * it is exact in float32 and any sum of up to 2^37 of them is exact in
  * float64: SUM and AVG answers compare with `==`, in any summation
  * order Spark picks. */
final case class Grid(nt: Int, nlat: Int, nlon: Int, seed: Long) {
  def cells: Long = nt.toLong * nlat * nlon
  def time(t: Int): Long = 6L * t
  def lat(i: Int): Double = 90.0 - 0.5 * i
  def lon(j: Int): Double = 0.5 * j

  private val shift = (Grid.mix(seed) & 127).toInt

  def value(v: Int, t: Int, i: Int, j: Int): Float = {
    val h = Grid.mix(seed * 0x9E3779B97F4A7C15L ^ ((((v.toLong << 12) + t) << 20) + (i.toLong << 10) + j))
    val trend = Math.floorMod(3 * i + j + 5 * t + 17 * v + shift, 128) - 64
    (trend * 256 + (h & 1023).toInt - 512) / 256f
  }

  /** Index of a time/lat/lon coordinate value, or -1. Time steps past
    * `nt` are valid: appends extend the grid along time. */
  def timeIdx(x: Double): Int = { val t = math.round(x / 6).toInt; if (t >= 0 && time(t) == x) t else -1 }
  def latIdx(x: Double): Int = { val i = math.round((90.0 - x) * 2).toInt; if (i >= 0 && i < nlat && lat(i) == x) i else -1 }
  def lonIdx(x: Double): Int = { val j = math.round(x * 2).toInt; if (j >= 0 && j < nlon && lon(j) == x) j else -1 }
}

object Grid {
  /** The grid of the `grid_scan` and `grid_slice` workloads: 8 time
    * steps of a 0.5-degree global field, 2.08M cells per variable. */
  def era5(seed: Long): Grid = Grid(8, 361, 720, seed)

  /** Variables of the generated stores: (name, formula index). */
  val vars: Seq[(String, Int)] = Seq("t2m" -> 0, "sp" -> 1)

  /** Chunk (and v3 inner-chunk) shape: one step × 90 lat × 180 lon. */
  val chunk: Array[Int] = Array(1, 90, 180)

  /** v3 shard shape: 4 × 2 × 2 inner chunks. */
  val shard: Array[Int] = Array(4, 180, 360)

  /** splitmix64 finalizer. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}

/** Writes [[Grid]]s as Zarr bytes directly, without the connector's
  * writer, so the read workloads do not depend on the code they read
  * with. */
object GridStore {

  private def put(dir: Path, rel: String, bytes: Array[Byte]): Unit = {
    val p = dir.resolve(rel)
    Files.createDirectories(p.getParent)
    Files.write(p, bytes)
  }

  private def putJson(dir: Path, rel: String, json: String): Unit = put(dir, rel, json.getBytes(UTF_8))

  private def dimsJson(names: Seq[String]): String = names.map(n => s""""$n"""").mkString("[", ",", "]")

  private val dims = Seq("time", "lat", "lon")

  private def coordBytes(g: Grid, d: Int): (String, Array[Byte]) = {
    val n = Array(g.nt, g.nlat, g.nlon)(d)
    val b = ByteBuffer.allocate(8 * n).order(ByteOrder.LITTLE_ENDIAN)
    var k = 0
    while (k < n) {
      d match {
        case 0 => b.putLong(g.time(k))
        case 1 => b.putDouble(g.lat(k))
        case _ => b.putDouble(g.lon(k))
      }
      k += 1
    }
    (if (d == 0) "<i8" else "<f8", b.array())
  }

  /** Raw little-endian bytes of the `shape`-sized block of variable `v`
    * whose first cell is (t0, i0, j0); cells past the grid edge hold
    * NaN, the arrays' fill value. */
  private def block(g: Grid, v: Int, t0: Int, i0: Int, j0: Int, shape: Array[Int]): Array[Byte] = {
    val b = ByteBuffer.allocate(4 * shape.product).order(ByteOrder.LITTLE_ENDIAN)
    var t = t0
    while (t < t0 + shape(0)) {
      var i = i0
      while (i < i0 + shape(1)) {
        var j = j0
        while (j < j0 + shape(2)) {
          b.putFloat(if (t < g.nt && i < g.nlat && j < g.nlon) g.value(v, t, i, j) else Float.NaN)
          j += 1
        }
        i += 1
      }
      t += 1
    }
    b.array()
  }

  private def zstd(raw: Array[Byte]): Array[Byte] = com.github.luben.zstd.Zstd.compress(raw, 1)

  /** Runs `body(t)` for every outer chunk index on `threads` threads. */
  private def parallel(n: Int, threads: Int)(body: Int => Unit): Unit = {
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val fs = (0 until n).map(t => pool.submit(new Runnable { def run(): Unit = body(t) }))
      fs.foreach(_.get())
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, TimeUnit.MINUTES)
    }
  }

  /** A Zarr v2 store holding every variable of [[Grid.vars]]: `t2m`
    * uncompressed, `sp` zstd-compressed, chunks of [[Grid.chunk]]. */
  def writeV2(dir: Path, g: Grid, threads: Int): Unit = {
    putJson(dir, ".zgroup", """{"zarr_format":2}""")
    putJson(dir, ".zattrs", "{}")
    dims.indices.foreach { d =>
      val (dtype, bytes) = coordBytes(g, d)
      val n = bytes.length / 8
      putJson(dir, s"${dims(d)}/.zarray",
        s"""{"zarr_format":2,"shape":[$n],"chunks":[$n],"dtype":"$dtype","compressor":null,""" +
          s""""fill_value":null,"order":"C","filters":null}""")
      putJson(dir, s"${dims(d)}/.zattrs", s"""{"_ARRAY_DIMENSIONS":${dimsJson(Seq(dims(d)))}}""")
      put(dir, s"${dims(d)}/0", bytes)
    }
    val c = Grid.chunk
    Grid.vars.foreach { case (name, v) =>
      val comp = if (v == 0) "null" else """{"id":"zstd","level":1}"""
      putJson(dir, s"$name/.zarray",
        s"""{"zarr_format":2,"shape":[${g.nt},${g.nlat},${g.nlon}],"chunks":[${c.mkString(",")}],""" +
          s""""dtype":"<f4","compressor":$comp,"fill_value":"NaN","order":"C","filters":null}""")
      putJson(dir, s"$name/.zattrs", s"""{"_ARRAY_DIMENSIONS":${dimsJson(dims)}}""")
    }
    parallel((g.nt + c(0) - 1) / c(0), threads) { ct =>
      Grid.vars.foreach { case (name, v) =>
        for (ci <- 0 until (g.nlat + c(1) - 1) / c(1); cj <- 0 until (g.nlon + c(2) - 1) / c(2)) {
          val raw = block(g, v, ct * c(0), ci * c(1), cj * c(2), c)
          put(dir, s"$name/$ct.$ci.$cj", if (v == 0) raw else zstd(raw))
        }
      }
    }
  }

  /** A Zarr v3 store of the same variables, each sharded into
    * [[Grid.shard]] shards of zstd-compressed [[Grid.chunk]] inner
    * chunks; inner chunks wholly past the grid edge are left out of the
    * shard (index entry all ones), as the format allows. */
  def writeV3Sharded(dir: Path, g: Grid, threads: Int): Unit = {
    putJson(dir, "zarr.json", """{"zarr_format":3,"node_type":"group","attributes":{}}""")
    val bytesCodec = """{"name":"bytes","configuration":{"endian":"little"}}"""
    dims.indices.foreach { d =>
      val (dtype, bytes) = coordBytes(g, d)
      val n = bytes.length / 8
      putJson(dir, s"${dims(d)}/zarr.json",
        s"""{"zarr_format":3,"node_type":"array","shape":[$n],""" +
          s""""data_type":"${if (dtype == "<i8") "int64" else "float64"}",""" +
          s""""chunk_grid":{"name":"regular","configuration":{"chunk_shape":[$n]}},""" +
          """"chunk_key_encoding":{"name":"default","configuration":{"separator":"/"}},""" +
          s""""fill_value":0,"codecs":[$bytesCodec],"dimension_names":${dimsJson(Seq(dims(d)))},""" +
          s""""attributes":{"_ARRAY_DIMENSIONS":${dimsJson(Seq(dims(d)))}}}""")
      put(dir, s"${dims(d)}/c/0", bytes)
    }
    val (s, c) = (Grid.shard, Grid.chunk)
    Grid.vars.foreach { case (name, _) =>
      putJson(dir, s"$name/zarr.json",
        s"""{"zarr_format":3,"node_type":"array","shape":[${g.nt},${g.nlat},${g.nlon}],""" +
          """"data_type":"float32",""" +
          s""""chunk_grid":{"name":"regular","configuration":{"chunk_shape":[${s.mkString(",")}]}},""" +
          """"chunk_key_encoding":{"name":"default","configuration":{"separator":"/"}},""" +
          """"fill_value":"NaN","codecs":[{"name":"sharding_indexed","configuration":{""" +
          s""""chunk_shape":[${c.mkString(",")}],"codecs":[$bytesCodec,{"name":"zstd","configuration":{"level":1}}],""" +
          s""""index_codecs":[$bytesCodec,{"name":"crc32c"}],"index_location":"end"}}],""" +
          s""""dimension_names":${dimsJson(dims)},"attributes":{"_ARRAY_DIMENSIONS":${dimsJson(dims)}}}""")
    }
    val inner = Array.tabulate(3)(d => s(d) / c(d))
    val nInner = inner.product
    parallel((g.nt + s(0) - 1) / s(0), threads) { st =>
      Grid.vars.foreach { case (name, v) =>
        for (si <- 0 until (g.nlat + s(1) - 1) / s(1); sj <- 0 until (g.nlon + s(2) - 1) / s(2)) {
          val body = new java.io.ByteArrayOutputStream()
          val index = ByteBuffer.allocate(16 * nInner).order(ByteOrder.LITTLE_ENDIAN)
          for (a <- 0 until inner(0); b <- 0 until inner(1); e <- 0 until inner(2)) {
            val (t0, i0, j0) = (st * s(0) + a * c(0), si * s(1) + b * c(1), sj * s(2) + e * c(2))
            if (t0 < g.nt && i0 < g.nlat && j0 < g.nlon) {
              val enc = zstd(block(g, v, t0, i0, j0, c))
              index.putLong(body.size().toLong).putLong(enc.length.toLong)
              body.write(enc)
            } else index.putLong(-1L).putLong(-1L)
          }
          val crc = new java.util.zip.CRC32C
          crc.update(index.array())
          body.write(index.array())
          body.write(ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN).putInt(crc.getValue.toInt).array())
          put(dir, s"$name/c/$st/$si/$sj", body.toByteArray)
        }
      }
    }
  }

  /** Bytes of every regular file under `dir`. */
  def diskBytes(dir: Path): Long = {
    val s = Files.walk(dir)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally s.close()
  }

  def deleteTree(dir: Path): Unit = if (Files.exists(dir)) {
    val s = Files.walk(dir)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
    finally s.close()
  }
}
