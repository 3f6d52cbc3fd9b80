package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Property round-trips for the Zarr sink: random grid shapes, chunk
  * sizes, dtypes, compressors and zarr versions must all write → read
  * back value-identical. This is the randomized counterpart of
  * ZarrWriterSpec's fixed cases — grid-edge arithmetic (partial edge
  * chunks, single-row dims, chunk size > dim) is where hand-picked
  * fixtures miss. */
class ZarrWriterPropSpec extends AnyFunSuite {
  import TestSession._

  private val genCase = for {
    nOuter <- Gen.choose(1, 9)
    nInner <- Gen.choose(1, 7)
    chunkOuter <- Gen.choose(1, 11) // may exceed nOuter: edge case
    version <- Gen.oneOf("2", "3")
    compressor <- Gen.oneOf("none", "zstd", "gzip", "blosc")
    dtype <- Gen.oneOf("long", "double")
    // v3 may shard: inner extent any divisor of the outer chunk (0 =
    // unsharded); sharded stores compress per inner chunk instead
    shardInner <- if (version == "3")
      Gen.oneOf(0 +: (1 to chunkOuter).filter(chunkOuter % _ == 0))
    else Gen.const(0)
    shardCompress <- Gen.oneOf("none", "zstd", "gzip", "blosc")
  } yield (nOuter, nInner, chunkOuter, version, compressor, dtype,
    shardInner, shardCompress)

  test("random grids round-trip through the sink at every version/compressor/sharding") {
    val prop = Prop.forAll(genCase) {
      case (nOuter, nInner, chunkOuter, version, compressor0, dtype,
            shardInner, shardCompress) =>
        val compressor = if (shardInner > 0) "none" else compressor0
        val rows = for (o <- 0 until nOuter; i <- 0 until nInner) yield
          Row(o.toLong, i.toLong, (o * 31 + i * 7).toLong)
        val schema = StructType(Seq(
          StructField("t", LongType, nullable = false),
          StructField("x", LongType, nullable = false),
          StructField("v", LongType, nullable = true)))
        var df = spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 2), schema)
        if (dtype == "double") df = df.withColumn("v", col("v").cast("double") / 4.0)
        val out = Files.createTempDirectory("zarr_prop").resolve("g.zarr").toString
        var w = df.write.format("zarr")
          .option("coords", "t,x")
          .option("chunkOuter", chunkOuter.toString)
          .option("zarrVersion", version)
          .option("compressor", compressor)
        if (shardInner > 0)
          w = w.option("shardInner", shardInner.toString)
            .option("shardCompress", shardCompress)
        w.mode("overwrite").save(out)
        val back = spark.read.format("zarr").load(out)
        val a = df.orderBy("t", "x").collect().map(_.toSeq).toSeq
        val b = back.orderBy("t", "x").collect().map(_.toSeq).toSeq
        Prop(a == b) :|
          s"shape=($nOuter,$nInner) chunk=$chunkOuter v$version $compressor " +
          s"$dtype shard=$shardInner/$shardCompress"
    }
    // Each case runs two Spark jobs; 30 random cases keeps the suite fast
    // while sweeping the edge-chunk + shard-divisor space.
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, res.status.toString)
  }

  /** Every object of a store, path → bytes: metadata documents,
    * consolidated metadata, data-chunk and coordinate-chunk objects and
    * `.zstats` sidecars. */
  private def objects(store: String): Map[String, Seq[Byte]] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(store)
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    finally walk.close()
  }

  private val genAppend = for {
    chunkOuter <- Gen.choose(1, 4)
    nChunksA <- Gen.choose(1, 4) // first write: whole chunks
    nChunksB <- Gen.choose(1, 3) // appended: whole chunks
    nInner <- Gen.choose(1, 6)
    version <- Gen.oneOf("2", "3")
  } yield (chunkOuter, nChunksA, nChunksB, nInner, version)

  test("random outer-append splits equal the one-shot write") {
    val prop = Prop.forAll(genAppend) {
      case (chunkOuter, nChunksA, nChunksB, nInner, version) =>
        val nA = chunkOuter * nChunksA
        val nTotal = nA + chunkOuter * nChunksB
        // w's chunk sums reach 1e7, where a double prints in E notation
        def grid(lo: Int, hi: Int) = {
          val rows = for (o <- lo until hi; i <- 0 until nInner) yield
            Row(o.toLong, i.toLong, (o * 17 + i * 3).toLong, (o * 17 + i * 3) * 1.0e6)
          spark.createDataFrame(
            spark.sparkContext.parallelize(rows, 2),
            StructType(Seq(
              StructField("t", LongType, nullable = false),
              StructField("x", LongType, nullable = false),
              StructField("v", LongType, nullable = true),
              StructField("w", DoubleType, nullable = true))))
        }
        val out = Files.createTempDirectory("zarr_app").resolve("g.zarr").toString
        grid(0, nA).write.format("zarr")
          .option("coords", "t,x").option("chunkOuter", chunkOuter.toString)
          .option("zarrVersion", version).mode("overwrite").save(out)
        grid(nA, nTotal).write.format("zarr")
          .option("coords", "t,x").mode("append").save(out)
        val back = spark.read.format("zarr").load(out)
          .orderBy("t", "x").collect().map(_.toSeq).toSeq
        val want = grid(0, nTotal).orderBy("t", "x").collect().map(_.toSeq).toSeq
        val oneShot = Files.createTempDirectory("zarr_app").resolve("g.zarr").toString
        grid(0, nTotal).write.format("zarr")
          .option("coords", "t,x").option("chunkOuter", chunkOuter.toString)
          .option("zarrVersion", version).mode("overwrite").save(oneShot)
        val (a, b) = (objects(out), objects(oneShot))
        Prop(back == want) :|
          s"chunk=$chunkOuter a=$nA total=$nTotal inner=$nInner v$version" &&
          Prop(a == b) :| s"objects differ: ${(a.toSet diff b.toSet).map(_._1)}"
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(16), prop)
    assert(res.passed, res.status.toString)
  }

  private val genSum = for {
    nOuter <- Gen.choose(1, 8)
    nInner <- Gen.choose(1, 6)
    chunkOuter <- Gen.choose(1, 9)
    version <- Gen.oneOf("2", "3")
    dtype <- Gen.oneOf("long", "double")
    keepMod <- Gen.choose(1, 4) // partial grids: keep ~1/keepMod cells
    // long values spanning sign and magnitude (exactness past double);
    // bounded so the 48-cell worst-case TOTAL stays inside Long —
    // Spark's ANSI sum (the differential baseline) overflows otherwise
    scale <- Gen.oneOf(1L, 1000003L, 461168601842738L)
  } yield (nOuter, nInner, chunkOuter, version, dtype, keepMod, scale)

  test("random grids: sidecar SUM/AVG pushdown equals the real scan") {
    val prop = Prop.forAll(genSum) {
      case (nOuter, nInner, chunkOuter, version, dtype, keepMod, scale) =>
        // large magnitudes only for the exact long path — double sums
        // are only order-independent while values and totals stay
        // binary-exact (small integers + halves)
        val s = if (dtype == "double") 1L else scale
        val rows = (for (o <- 0 until nOuter; i <- 0 until nInner)
          yield Row(o.toLong, i.toLong, ((o * 31 + i * 7) - 40) * s))
          .zipWithIndex.filter { case (_, k) => k % keepMod == 0 }.map(_._1)
        if (rows.isEmpty) Prop(true)
        else {
          val schema = StructType(Seq(
            StructField("t", LongType, nullable = false),
            StructField("x", LongType, nullable = false),
            StructField("v", LongType, nullable = true)))
          var df = spark.createDataFrame(
            spark.sparkContext.parallelize(rows, 2), schema)
          // halves are binary-exact, so double sums agree in any order
          if (dtype == "double") df = df.withColumn("v", col("v").cast("double") / 2.0)
          val out = Files.createTempDirectory("zarr_sump").resolve("g.zarr").toString
          df.write.format("zarr")
            .option("coords", "t,x")
            .option("chunkOuter", chunkOuter.toString)
            .option("zarrVersion", version)
            .mode("overwrite").save(out)
          val z = spark.read.format("zarr").load(out)
          val pushed = z.agg(sum("v"), avg("v")).collect().head
          val real = z.filter(col("v").isNotNull) // blocks the pushdown
            .agg(sum("v"), count(lit(1))).collect().head
          // SUM must be bit-exact. AVG's well-defined value is
          // exact-total → double ÷ count (what DuckDB's
          // CAST(SUM AS DOUBLE)/n computes); Spark's incremental
          // double accumulation drifts past 2^53 and is itself
          // partition-order-dependent there, so it is not the oracle.
          val sumsMatch = pushed.get(0) == real.get(0)
          val expAvg =
            if (dtype == "double") real.getDouble(0) / real.getLong(1)
            else real.getLong(0).toDouble / real.getLong(1)
          Prop(sumsMatch && pushed.getDouble(1) == expAvg) :|
            s"shape=($nOuter,$nInner) chunk=$chunkOuter v$version $dtype " +
              s"keepMod=$keepMod scale=$scale pushed=$pushed " +
              s"realSum=${real.get(0)} expAvg=$expAvg"
        }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
  }

  private val genTopN = for {
    nOuter <- Gen.choose(2, 8)
    nInner <- Gen.choose(1, 5)
    chunkOuter <- Gen.choose(1, 3)
    k <- Gen.choose(1, 12)
    desc <- Gen.oneOf(true, false)
    seed <- Gen.choose(0, 1000)
    dup <- Gen.oneOf(1, 7) // dup=7 floods the grid with ties
  } yield (nOuter, nInner, chunkOuter, k, desc, seed, dup)

  test("random grids: stats TopN pruning returns exactly the unpruned top-k values") {
    val prop = Prop.forAll(genTopN) {
      case (nOuter, nInner, chunkOuter, k, desc, seed, dup) =>
        val rows = for (o <- 0 until nOuter; i <- 0 until nInner) yield
          Row(o.toLong, i.toLong,
            (((o * 131 + i * 37 + seed) % 97) / dup).toLong)
        val schema = StructType(Seq(
          StructField("t", LongType, nullable = false),
          StructField("x", LongType, nullable = false),
          StructField("v", LongType, nullable = true)))
        val df = spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 2), schema)
        val out = Files.createTempDirectory("zarr_topnp").resolve("g.zarr").toString
        df.write.format("zarr")
          .option("coords", "t,x")
          .option("chunkOuter", chunkOuter.toString)
          .mode("overwrite").save(out)
        val z = spark.read.format("zarr")
          .option("minRowsPerPartition", "1").load(out)
        val order = if (desc) col("v").desc else col("v").asc
        val pruned = z.orderBy(order).limit(k).collect().map(_.getLong(2)).toSeq
        // the unpruned truth: sort the written values directly
        val all = rows.map(_.getLong(2)).sortBy(v => if (desc) -v else v)
        val expect = all.take(k)
        Prop(pruned == expect) :|
          s"shape=($nOuter,$nInner) chunk=$chunkOuter k=$k desc=$desc " +
            s"seed=$seed dup=$dup pruned=$pruned expect=$expect"
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(24), prop)
    assert(res.passed, res.status.toString)
  }
}
