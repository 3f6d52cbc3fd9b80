package graft

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Randomized soundness property for the Zarr scan: for ANY
  * predicate, the planned (pruned) scan plus Spark's residual filter
  * must return exactly the rows of the unpruned table filtered
  * post-hoc. Comparisons in the exact set are evaluated by the scan
  * itself (a coordinate's contiguous match interval, a data variable's
  * per-cell check) and Spark drops them; only the rest keep the
  * Inexact contract and are re-applied after the scan. So a result can
  * be wrong by OVER-pruning — a chunk or partition wrongly skipped at
  * plan time — or by a wrong exact evaluation. Both bug classes live
  * on edge values the fixed filter tests hand-pick around: float
  * coordinates carrying representation error
  * (i * 0.3 steps), epsilon-perturbed constants, midpoints,
  * out-of-domain constants (empty-range short-circuit), negated atoms,
  * and compound AND/OR trees mixing pushable coordinate atoms with
  * unpushable data-variable atoms. */
class ZarrFilterPropSpec extends AnyFunSuite {
  import TestSession._

  // 12 x 11 x 5 grid; t chunked 3 -> 4 outer slabs; lat carries float
  // representation error (i * 0.3), lon is a small long dim.
  private val latVals: Seq[Double] = (-5 to 5).map(i => i * 0.3)
  private lazy val store: String = {
    val rows = for {
      t <- 0 until 12
      lat <- latVals
      lon <- 0 until 5
    } yield org.apache.spark.sql.Row(
      t.toLong, lat, lon.toLong, t * 2.5 + lat * 10 + lon)
    val schema = StructType(Seq(
      StructField("t", LongType, nullable = false),
      StructField("lat", DoubleType, nullable = false),
      StructField("lon", LongType, nullable = false),
      StructField("v", DoubleType, nullable = true)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val out = Files.createTempDirectory("zarr_filter_prop").resolve("g.zarr").toString
    df.write.format("zarr")
      .option("coords", "t,lat,lon")
      .option("chunkOuter", "3")
      .mode("overwrite").save(out)
    out
  }
  private lazy val zarr: DataFrame =
    spark.read.format("zarr").option("minRowsPerPartition", "1").load(store)
  /** Ground truth: the full table materialized OUTSIDE the connector,
    * so the reference filter path shares no pruning code with the
    * path under test. */
  private lazy val local: DataFrame = {
    val d = spark.createDataFrame(
      spark.sparkContext.parallelize(zarr.collect().toSeq, 2), zarr.schema)
    d.cache(); d.count()
    d
  }

  // ---- predicate generator -------------------------------------------
  // Constants deliberately include exact domain values, epsilon
  // perturbations, midpoints between grid steps, and out-of-domain
  // values on both sides.
  private val tConsts = Seq(-3L, 0L, 1L, 3L, 7L, 11L, 12L, 99L)
  private val latConsts: Seq[Double] =
    latVals ++ latVals.map(_ + 1e-12) ++ latVals.map(_ - 1e-12) ++
      Seq(-9.9, 9.9, 0.45, -0.45, 0.8999999999999999, 0.9000000000000001)
  private val lonConsts = Seq(-1L, 0L, 2L, 4L, 5L)

  private def cmp(c: Column, v: Any, op: Int): Column = op match {
    case 0 => c === lit(v)
    case 1 => c =!= lit(v)
    case 2 => c < lit(v)
    case 3 => c <= lit(v)
    case 4 => c > lit(v)
    case _ => c >= lit(v)
  }

  private val genAtom: Gen[Column] = Gen.frequency(
    4 -> (for { v <- Gen.oneOf(tConsts); op <- Gen.choose(0, 5) } yield cmp(col("t"), v, op)),
    4 -> (for { v <- Gen.oneOf(latConsts); op <- Gen.choose(0, 5) } yield cmp(col("lat"), v, op)),
    3 -> (for { v <- Gen.oneOf(lonConsts); op <- Gen.choose(0, 5) } yield cmp(col("lon"), v, op)),
    2 -> (for { a <- Gen.oneOf(tConsts); b <- Gen.oneOf(tConsts) } yield
      col("t").between(lit(math.min(a, b)), lit(math.max(a, b)))),
    2 -> (for { vs <- Gen.pick(2, latConsts) } yield col("lat").isin(vs.toSeq.map(lit(_)): _*)),
    2 -> (for { vs <- Gen.pick(2, tConsts) } yield col("t").isin(vs.toSeq.map(lit(_)): _*)),
    1 -> (for { v <- Gen.choose(-20.0, 50.0) } yield col("v") > lit(v)), // unpushable residual
    1 -> Gen.oneOf(tConsts).map(v => !(col("t") === lit(v))))

  private val genPred: Gen[Column] = for {
    n <- Gen.choose(1, 3)
    atoms <- Gen.listOfN(n, genAtom)
    ops <- Gen.listOfN(n - 1, Gen.oneOf(true, false))
  } yield atoms.tail.zip(ops).foldLeft(atoms.head) {
    case (acc, (a, true)) => acc && a
    case (acc, (a, false)) => acc || a
  }

  test("pruned scan + residual filter == unpruned table filtered post-hoc") {
    var empty = 0
    var nonEmpty = 0
    val prop = Prop.forAll(genPred) { pred =>
      val got = zarr.filter(pred).collect().map(_.toSeq).sortBy(_.mkString("|"))
      val want = local.filter(pred).collect().map(_.toSeq).sortBy(_.mkString("|"))
      if (want.isEmpty) empty += 1 else nonEmpty += 1
      Prop(got.toSeq == want.toSeq) :|
        s"pred=${pred.toString} got=${got.length} want=${want.length}"
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(120), prop)
    assert(res.passed, res.status.toString)
    // The sweep must exercise both the empty-range short-circuit and
    // real row returns, or the property is vacuous.
    assert(empty > 5, s"only $empty empty-result predicates — domain too narrow")
    assert(nonEmpty > 20, s"only $nonEmpty non-empty predicates — domain too wide")
  }

  /** Doubles rounded to 9 significant digits: partial sums merge in a
    * different order on each side. */
  private def approx(r: org.apache.spark.sql.Row): String = r.toSeq.map {
    case d: Double => f"$d%.9g"
    case o => String.valueOf(o)
  }.mkString("|")

  test("grouped COUNT/MIN/MAX/SUM and ORDER BY v DESC LIMIT k under random predicates") {
    var folded = 0
    val prop = Prop.forAll(genPred, Gen.choose(1, 40)) { (pred, k) =>
      val agg = (d: DataFrame) => d.filter(pred).groupBy("t")
        .agg(count(lit(1)), min("v"), max("v"), sum("v"), min("lat"), max("lon"))
      val top = (d: DataFrame) => d.filter(pred).orderBy(desc("v")).limit(k)
      val plans = Seq(agg(zarr), top(zarr)).map(_.queryExecution.sparkPlan.toString)
      folded += plans.count(p => p.contains("partialAgg=") || p.contains("topN="))
      val gotAgg = agg(zarr).collect().map(approx).sorted.toSeq
      val wantAgg = agg(local).collect().map(approx).sorted.toSeq
      // ties may pick different rows: compare the top keys, and check
      // every returned row is a source row
      val gotTop = top(zarr).collect()
      val wantTop = top(local).collect()
      val source = local.filter(pred).collect().map(_.toSeq).toSet
      Prop(gotAgg == wantAgg) :| s"agg pred=$pred got=$gotAgg want=$wantAgg" &&
        Prop(gotTop.map(_.getDouble(3)).toSeq == wantTop.map(_.getDouble(3)).toSeq &&
          gotTop.forall(r => source.contains(r.toSeq))) :| s"top pred=$pred k=$k"
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(60), prop)
    assert(res.passed, res.status.toString)
    // about a third of the random predicates are wholly exact, so ~40
    // of the 120 plans fold; 10 is far below that, not a tuned bound
    assert(folded > 10, s"only $folded plans folded in the scan")
  }

  // ---- string + datetime coordinates ---------------------------------
  // Hand-built v2 store (the sink writes numeric/timestamp coords;
  // |S fixed-width string coordinates only arrive from external
  // stores): station(|S5, shared prefixes to stress lexicographic
  // edges) x time(<M8[h], 8 hourly steps) with v[station,time] int64,
  // chunked 2 along station -> 3 slabs.
  private val stations = Seq("aa", "aab", "b", "bz", "cc9", "zz")
  private val hours = 0 until 8
  private lazy val strStore: String = {
    import java.nio.{ByteBuffer, ByteOrder}
    val root = Files.createTempDirectory("zarr_filter_prop_str")
    def writeJson(rel: String, s2: String): Unit = {
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.write(p, s2.getBytes)
    }
    writeJson(".zgroup", """{"zarr_format":2}""")
    def meta(shape: Seq[Int], chunks: Seq[Int], dtype: String) =
      s"""{"zarr_format":2,"shape":[${shape.mkString(",")}],
          "chunks":[${chunks.mkString(",")}],"dtype":"$dtype","fill_value":0,
          "order":"C","filters":null,"dimension_separator":".","compressor":null}"""
    writeJson("station/.zarray", meta(Seq(6), Seq(6), "|S5"))
    val sbuf = ByteBuffer.allocate(6 * 5)
    stations.foreach(n => sbuf.put(java.util.Arrays.copyOf(n.getBytes("US-ASCII"), 5)))
    Files.write(root.resolve("station").resolve("0"), sbuf.array())
    writeJson("time/.zarray", meta(Seq(8), Seq(8), "<M8[h]"))
    val base = java.time.Instant.parse("2021-06-01T00:00:00Z").getEpochSecond / 3600
    val tbuf = ByteBuffer.allocate(8 * 8).order(ByteOrder.LITTLE_ENDIAN)
    hours.foreach(h => tbuf.putLong(base + h))
    Files.write(root.resolve("time").resolve("0"), tbuf.array())
    writeJson("v/.zarray", meta(Seq(6, 8), Seq(2, 8), "<i8"))
    for (sc <- 0 until 3) {
      val buf = ByteBuffer.allocate(2 * 8 * 8).order(ByteOrder.LITTLE_ENDIAN)
      for (si <- sc * 2 until sc * 2 + 2; h <- hours) buf.putLong(100L * si + h)
      Files.write(root.resolve("v").resolve(s"$sc.0"), buf.array())
    }
    root.toString
  }
  private lazy val strZarr: DataFrame =
    spark.read.format("zarr").option("minRowsPerPartition", "1").load(strStore)
  private lazy val strLocal: DataFrame = {
    val d = spark.createDataFrame(
      spark.sparkContext.parallelize(strZarr.collect().toSeq, 2), strZarr.schema)
    d.cache(); d.count()
    d
  }

  // prefixes, in-domain values, between-values and out-of-domain on
  // both ends of the lexicographic order
  private val stationConsts =
    stations ++ Seq("a", "aaa", "ab", "bzz", "c", "q", "zzz", "")
  private def tsLit(h: Int, min: Int = 0): Column =
    lit(f"2021-06-01 $h%02d:$min%02d:00").cast("timestamp")
  private val genStrAtom: Gen[Column] = Gen.frequency(
    4 -> (for { v <- Gen.oneOf(stationConsts); op <- Gen.choose(0, 5) } yield
      cmp(col("station"), v, op)),
    2 -> (for { vs <- Gen.pick(2, stationConsts) } yield
      col("station").isin(vs.toSeq.map(lit(_)): _*)),
    4 -> (for { h <- Gen.choose(-2, 9); op <- Gen.choose(0, 5) } yield
      cmp(col("time"), f"2021-06-01 ${math.max(h, 0)}%02d:00:00", op) match {
        case _ if h < 0 => cmp(col("time"), lit("2021-05-31 22:00:00").cast("timestamp"), op)
        case c => c
      }),
    2 -> (for { h <- Gen.choose(0, 7) } yield col("time") === tsLit(h)),
    1 -> (for { h <- Gen.choose(0, 7) } yield col("time") > tsLit(h, 30)), // mid-hour boundary
    1 -> (for { v <- Gen.choose(-10L, 600L) } yield col("v") > lit(v)))

  private val genStrPred: Gen[Column] = for {
    n <- Gen.choose(1, 3)
    atoms <- Gen.listOfN(n, genStrAtom)
    ops <- Gen.listOfN(n - 1, Gen.oneOf(true, false))
  } yield atoms.tail.zip(ops).foldLeft(atoms.head) {
    case (acc, (a, true)) => acc && a
    case (acc, (a, false)) => acc || a
  }

  test("string/datetime coordinate predicates: pruned == post-hoc") {
    var empty = 0
    var nonEmpty = 0
    val prop = Prop.forAll(genStrPred) { pred =>
      val got = strZarr.filter(pred).collect().map(_.toSeq).sortBy(_.mkString("|"))
      val want = strLocal.filter(pred).collect().map(_.toSeq).sortBy(_.mkString("|"))
      if (want.isEmpty) empty += 1 else nonEmpty += 1
      Prop(got.toSeq == want.toSeq) :|
        s"pred=${pred.toString} got=${got.length} want=${want.length}"
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(100), prop)
    assert(res.passed, res.status.toString)
    assert(empty > 3, s"only $empty empty-result predicates")
    assert(nonEmpty > 20, s"only $nonEmpty non-empty predicates")
  }

  test("coordinate equality plans fewer partitions than the full scan") {
    val all = zarr.rdd.getNumPartitions
    val pruned = zarr.filter(col("t") === 3L).rdd.getNumPartitions
    assert(pruned < all, s"equality did not prune: $pruned vs $all")
    // provably-empty coordinate filter plans zero partitions
    val none = zarr.filter(col("t") === 99L).rdd.getNumPartitions
    assert(none == 0, s"out-of-domain equality planned $none partitions")
  }
}
