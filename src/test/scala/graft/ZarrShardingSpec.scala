package graft

import java.io.ByteArrayOutputStream
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Path}
import java.util.zip.{CRC32C, GZIPOutputStream}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.zarr.ChunkIO

/** Zarr v3 `sharding_indexed` read support, verified against a store
  * constructed byte-by-byte from the spec: C-order inner-chunk grid,
  * `(offset, nbytes) uint64le` index with crc32c at the shard end,
  * missing inner chunks (2^64-1 sentinels) → fill_value, gzip inner
  * codec chain. Grid: x(6) × y(4), v[x,y] = 10x + y, shards of (2,4)
  * with inner chunks (1,2). The decode-once cases use a 3-D store
  * whose shards partitions cut (see [[buildCut]]).
  */
class ZarrShardingSpec extends AnyFunSuite {
  import TestSession._

  private def le(longs: Long*): Array[Byte] = {
    val b = ByteBuffer.allocate(longs.length * 8).order(ByteOrder.LITTLE_ENDIAN)
    longs.foreach(b.putLong)
    b.array()
  }

  private def gzip(data: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val g = new GZIPOutputStream(bos)
    g.write(data); g.close()
    bos.toByteArray
  }

  private def coordJson(n: Int): String =
    s"""{"zarr_format":3,"node_type":"array","shape":[$n],
       |"data_type":"int64","chunk_grid":{"name":"regular","configuration":{"chunk_shape":[$n]}},
       |"chunk_key_encoding":{"name":"default","configuration":{"separator":"/"}},
       |"fill_value":0,"codecs":[{"name":"bytes","configuration":{"endian":"little"}}]}"""
      .stripMargin.replace("\n", "")

  private def shardedJson(innerCodecs: String): String =
    s"""{"zarr_format":3,"node_type":"array","shape":[6,4],
       |"data_type":"int64","chunk_grid":{"name":"regular","configuration":{"chunk_shape":[2,4]}},
       |"chunk_key_encoding":{"name":"default","configuration":{"separator":"/"}},
       |"fill_value":99,"codecs":[{"name":"sharding_indexed","configuration":{
       |"chunk_shape":[1,2],
       |"codecs":[$innerCodecs],
       |"index_codecs":[{"name":"bytes","configuration":{"endian":"little"}},{"name":"crc32c"}],
       |"index_location":"end"}}]}""".stripMargin.replace("\n", "")

  /** Build one shard file: inner chunks for (sx∈{0,1})×(sy∈{0,1}) in
    * C-order; `skip` marks missing inner chunks. */
  private def shard(shardX: Int, encode: Array[Byte] => Array[Byte],
      skip: Set[Int] = Set.empty): Array[Byte] = {
    val body = new ByteArrayOutputStream()
    val index = ByteBuffer.allocate(4 * 16).order(ByteOrder.LITTLE_ENDIAN)
    var ci = 0
    for (sx <- 0 until 2; sy <- 0 until 2) {
      if (skip(ci)) { index.putLong(-1L); index.putLong(-1L) }
      else {
        val x = shardX * 2 + sx
        val enc = encode(le(10L * x + 2 * sy, 10L * x + 2 * sy + 1))
        index.putLong(body.size().toLong); index.putLong(enc.length.toLong)
        body.write(enc)
      }
      ci += 1
    }
    val crc = new CRC32C
    crc.update(index.array())
    val tail = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
      .putInt(crc.getValue.toInt).array()
    body.write(index.array()); body.write(tail)
    body.toByteArray
  }

  private def buildStore(innerCodecs: String, encode: Array[Byte] => Array[Byte],
      skipInShard1: Set[Int]): Path = {
    val root = Files.createTempDirectory("zarr_shard")
    Files.write(root.resolve("zarr.json"),
      """{"zarr_format":3,"node_type":"group"}""".getBytes)
    for ((name, n) <- Seq(("x", 6), ("y", 4))) {
      val d = root.resolve(name); Files.createDirectories(d.resolve("c"))
      Files.write(d.resolve("zarr.json"), coordJson(n).getBytes)
      Files.write(d.resolve("c").resolve("0"), le((0L until n).map(_ * 1L): _*))
    }
    val v = root.resolve("v")
    Files.createDirectories(v.resolve("c").resolve("0"))
    Files.createDirectories(v.resolve("c").resolve("1"))
    Files.createDirectories(v.resolve("c").resolve("2"))
    Files.write(v.resolve("zarr.json"), shardedJson(innerCodecs).getBytes)
    Files.write(v.resolve("c").resolve("0").resolve("0"), shard(0, encode))
    Files.write(v.resolve("c").resolve("1").resolve("0"), shard(1, encode, skipInShard1))
    Files.write(v.resolve("c").resolve("2").resolve("0"), shard(2, encode))
    root
  }

  // 3-D store for the decode-once cases: v[x,y,z] = 100x + 10y + z over
  // (4, 6, 8), shards (2, 6, 4) of (1, 3, 2) inner chunks, so each of
  // the 4 shards spans 2 outer steps and a 2×2×2 inner grid. Inner
  // chunk (1,0,1) of shard (1,0,1) is absent: cells x=3, y<3, z≥6.
  private val (cutShape, cutShard, cutInner) = (Seq(4, 6, 8), Seq(2, 6, 4), Seq(1, 3, 2))
  private def cutAbsent(x: Int, y: Int, z: Int): Boolean = x == 3 && y < 3 && z >= 6

  private def cutShardBytes(sx: Int, sz: Int): Array[Byte] = {
    val body = new ByteArrayOutputStream()
    val index = ByteBuffer.allocate(8 * 16).order(ByteOrder.LITTLE_ENDIAN)
    for (a <- 0 until 2; b <- 0 until 2; c <- 0 until 2) {
      val (x, y0, z0) = (sx * 2 + a, b * 3, sz * 4 + c * 2)
      if (cutAbsent(x, y0, z0)) { index.putLong(-1L); index.putLong(-1L) }
      else {
        val enc = le((for (j <- 0 until 3; k <- 0 until 2)
          yield 100L * x + 10 * (y0 + j) + z0 + k): _*)
        index.putLong(body.size().toLong); index.putLong(enc.length.toLong)
        body.write(enc)
      }
    }
    val crc = new CRC32C
    crc.update(index.array())
    body.write(index.array())
    body.write(ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN).putInt(crc.getValue.toInt).array())
    body.toByteArray
  }

  /** Writes the 3-D store; returns it with each shard's byte size. */
  private def buildCut(): (Path, Map[(Int, Int), Long]) = {
    val root = Files.createTempDirectory("zarr_shard_cut")
    Files.write(root.resolve("zarr.json"), """{"zarr_format":3,"node_type":"group"}""".getBytes)
    for ((name, n) <- Seq("x", "y", "z").zip(cutShape)) {
      val d = root.resolve(name); Files.createDirectories(d.resolve("c"))
      Files.write(d.resolve("zarr.json"), coordJson(n).getBytes)
      Files.write(d.resolve("c").resolve("0"), le((0L until n): _*))
    }
    def arr(xs: Seq[Int]) = xs.mkString("[", ",", "]")
    val v = root.resolve("v")
    Files.createDirectories(v)
    Files.write(v.resolve("zarr.json"),
      (s"""{"zarr_format":3,"node_type":"array","shape":${arr(cutShape)},""" +
        s""""data_type":"int64","chunk_grid":{"name":"regular","configuration":{"chunk_shape":${arr(cutShard)}}},""" +
        """"chunk_key_encoding":{"name":"default","configuration":{"separator":"/"}},""" +
        """"fill_value":-1,"codecs":[{"name":"sharding_indexed","configuration":{""" +
        s""""chunk_shape":${arr(cutInner)},"codecs":[{"name":"bytes","configuration":{"endian":"little"}}],""" +
        """"index_codecs":[{"name":"bytes","configuration":{"endian":"little"}},{"name":"crc32c"}],""" +
        """"index_location":"end"}}]}""").getBytes)
    val sizes = for (sx <- 0 until 2; sz <- 0 until 2) yield {
      val dir = v.resolve("c").resolve(sx.toString).resolve("0")
      Files.createDirectories(dir)
      val bytes = cutShardBytes(sx, sz)
      Files.write(dir.resolve(sz.toString), bytes)
      (sx, sz) -> bytes.length.toLong
    }
    (root, sizes.toMap)
  }

  private def scanBytesRead(df: org.apache.spark.sql.DataFrame): Long = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    def scans(p: SparkPlan): Seq[BatchScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case s: QueryStageExec => scans(s.plan)
      case b: BatchScanExec => Seq(b)
      case o => o.children.flatMap(scans)
    }
    scans(df.queryExecution.executedPlan).flatMap(_.metrics.get("zarrBytesRead")).map(_.value).sum
  }

  test("partitions that cut shards decode only their inner chunks, each shard fetched once") {
    val (root, shardSize) = buildCut()
    val truth = for (x <- 0 until 4; y <- 0 until 6; z <- 0 until 8)
      yield Seq[Any](x.toLong, y.toLong, z.toLong, if (cutAbsent(x, y, z)) -1L else 100L * x + 10 * y + z)
    for (prefetch <- Seq(false, true)) {
      // one outer step per partition: every partition cuts its shard
      val df = spark.read.format("zarr")
        .option("minRowsPerPartition", "1").option("maxRowsPerPartition", "48")
        .option("prefetch", prefetch.toString).load(root.toString)
      assert(df.rdd.getNumPartitions == 4)
      def run(q: org.apache.spark.sql.DataFrame): (Seq[Seq[Any]], Long, Long) = {
        val before = ChunkIO.decodeCount.get()
        val rows = q.collect().map(_.toSeq).toSeq
        (rows, ChunkIO.decodeCount.get() - before, scanBytesRead(q))
      }
      val (rows, decoded, bytes) = run(df)
      // each partition covers 1 × 2 × 4 inner chunks (the absent one
      // included) and decodes each once
      assert(decoded == 4 * 2 * 4, s"prefetch=$prefetch: $decoded inner-chunk decodes")
      // and touches the two shards of its outer step
      val expectBytes = (0 until 4).map(x => shardSize((x / 2, 0)) + shardSize((x / 2, 1))).sum
      assert(bytes == expectBytes, s"prefetch=$prefetch")
      assert(rows.sortBy(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long], r(2).asInstanceOf[Long])) == truth)
      // a y range inside the first inner-chunk row skips the others:
      // two 2-step partitions, 2 × 1 × 4 inner chunks each
      val (part, partDecoded, partBytes) = run(df.filter(col("y") < 3))
      assert(partDecoded == 2 * 2 * 4, s"prefetch=$prefetch: $partDecoded inner-chunk decodes")
      assert(partBytes == shardSize.values.sum, s"prefetch=$prefetch")
      assert(part.toSet == truth.filter(_(1).asInstanceOf[Long] < 3).toSet && part.length == 4 * 3 * 8)
    }
  }

  test("sharded store decodes: values, missing inner chunk -> fill, full scan") {
    val root = buildStore(
      """{"name":"bytes","configuration":{"endian":"little"}}""",
      identity, skipInShard1 = Set(1)) // inner chunk (sx=0, sy=1) of shard 1 missing
    val df = spark.read.format("zarr").load(root.toString)
    assert(df.count() == 24)
    val rows = df.orderBy("x", "y").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // missing inner chunk covers x=2, y∈{2,3} -> fill 99
    rows.foreach { case (x, y, v) =>
      val expect = if (x == 2 && (y == 2 || y == 3)) 99L else 10 * x + y
      assert(v == expect, s"at ($x,$y)")
    }
  }

  test("sharded store with gzip inner codec decodes identically") {
    val root = buildStore(
      """{"name":"bytes","configuration":{"endian":"little"}},{"name":"gzip","configuration":{"level":5}}""",
      gzip, skipInShard1 = Set.empty)
    val df = spark.read.format("zarr").load(root.toString)
    assert(df.count() == 24)
    assert(df.agg(sum("v")).collect().head.getLong(0) ==
      (for (x <- 0 until 6; y <- 0 until 4) yield 10L * x + y).sum)
  }

  test("corrupt shard index crc fails loudly") {
    val root = buildStore(
      """{"name":"bytes","configuration":{"endian":"little"}}""",
      identity, skipInShard1 = Set.empty)
    val f = root.resolve("v").resolve("c").resolve("0").resolve("0")
    val bytes = Files.readAllBytes(f)
    bytes(bytes.length - 1) = (bytes(bytes.length - 1) ^ 0x5a).toByte
    Files.write(f, bytes)
    val ex = intercept[Exception] {
      spark.read.format("zarr").load(root.toString).collect()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else t.getMessage +: chain(t.getCause)
    assert(chain(ex).exists(m => m != null && m.contains("crc32c")))
  }

  test("sharded WRITE round-trips through the sharded reader") {
    val out = Files.createTempDirectory("zarr_shard_w").resolve("sw.zarr").toString
    val src = TestSession.spark.read.format("zarr")
      .load("src/test/resources/zarr/synthetic_v3.zarr")
    src.write.format("zarr")
      .option("coords", "time,lon,lat").option("chunkOuter", "4")
      .option("zarrVersion", "3").option("shardInner", "2")
      .mode("overwrite").save(out)
    // 7 time steps / chunkOuter 4 -> 2 shards, each 2 inner chunks
    assert(Files.exists(java.nio.file.Paths.get(out, "temperature", "c", "1", "0", "0")))
    val back = TestSession.spark.read.format("zarr").load(out)
    assert(back.schema == src.schema)
    val a = src.orderBy("time", "lon", "lat").collect().map(_.toSeq).toSeq
    val b = back.orderBy("time", "lon", "lat").collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("compressed sharded WRITE (gzip inner codec) round-trips") {
    val out = Files.createTempDirectory("zarr_shard_gz").resolve("sgz.zarr").toString
    val src = TestSession.spark.read.format("zarr")
      .load("src/test/resources/zarr/synthetic_v3.zarr")
    src.write.format("zarr")
      .option("coords", "time,lon,lat").option("chunkOuter", "4")
      .option("zarrVersion", "3").option("shardInner", "2")
      .option("shardCompress", "true")
      .mode("overwrite").save(out)
    val metaJson = new String(Files.readAllBytes(
      java.nio.file.Paths.get(out, "temperature", "zarr.json")))
    assert(metaJson.contains("\"gzip\""), metaJson)
    val back = TestSession.spark.read.format("zarr").load(out)
    val a = src.orderBy("time", "lon", "lat").collect().map(_.toSeq).toSeq
    val b = back.orderBy("time", "lon", "lat").collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("zstd and blosc shard inner codecs round-trip") {
    val src = TestSession.spark.read.format("zarr")
      .load("src/test/resources/zarr/synthetic_v3.zarr")
    for (codec <- Seq("zstd", "blosc")) {
      val out = Files.createTempDirectory(s"zarr_shard_$codec").resolve("s.zarr").toString
      src.write.format("zarr")
        .option("coords", "time,lon,lat").option("chunkOuter", "4")
        .option("zarrVersion", "3").option("shardInner", "2")
        .option("shardCompress", codec)
        .mode("overwrite").save(out)
      val metaJson = new String(Files.readAllBytes(
        java.nio.file.Paths.get(out, "temperature", "zarr.json")))
      assert(metaJson.contains(s""""$codec""""), metaJson)
      val back = TestSession.spark.read.format("zarr").load(out)
      val a = src.orderBy("time", "lon", "lat").collect().map(_.toSeq).toSeq
      val b = back.orderBy("time", "lon", "lat").collect().map(_.toSeq).toSeq
      assert(a == b, s"shardCompress=$codec round-trip mismatch")
    }
    // unknown inner codec is an early, clear error
    intercept[Exception](
      src.write.format("zarr")
        .option("coords", "time,lon,lat").option("zarrVersion", "3")
        .option("shardInner", "2").option("chunkOuter", "4")
        .option("shardCompress", "lzma").mode("overwrite")
        .save(Files.createTempDirectory("zarr_shard_bad").resolve("b.zarr").toString))
  }

  test("filter pushdown composes with sharded reads") {
    val root = buildStore(
      """{"name":"bytes","configuration":{"endian":"little"}}""",
      identity, skipInShard1 = Set.empty)
    val df = spark.read.format("zarr").load(root.toString)
      .filter(col("x") >= 2 && col("x") <= 3)
    assert(df.count() == 8)
    assert(df.agg(sum("v")).collect().head.getLong(0) ==
      (for (x <- 2 to 3; y <- 0 until 4) yield 10L * x + y).sum)
  }
}
