package perfbench

import java.nio.file.Path
import java.util.stream.IntStream

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** One timed operation. `cells` counts the variable cells it must read
  * or write; an answer taken from metadata reads none. */
sealed trait Op { def kind: String; def cells: Long }

/** Load `store` with `options`, shape the frame, collect it. `check`
  * returns a message for a wrong answer. */
final case class Query(kind: String, cells: Long, store: String, options: Map[String, String],
    shape: DataFrame => DataFrame, check: Array[Row] => Option[String]) extends Op

/** A call into the connector's writer; `check` reads the result back
  * outside the timed window. */
final case class Ingest(kind: String, cells: Long, store: String, run: () => Unit,
    check: () => Option[String]) extends Op

trait Workload {
  /** Stores [[generate]] writes; chunks the connector cached from an
    * earlier set-up are dropped after each generate. */
  def stores: Seq[String]
  /** Writes the inputs afresh; runs in every set-up. */
  def generate(spark: SparkSession): Unit
  /** Ops run once, untimed and unchecked, at the end of every set-up. */
  def warmup: Seq[Op]
  /** The k-th timed op, k = 0, 1, ... */
  def op(k: Int): Op
  /** Ops per round; runs time whole rounds only, so every run has the
    * same mix of op kinds. */
  def round: Int
}

object Workload {
  val names: Seq[String] = Seq("grid_scan", "grid_slice")

  def apply(name: String, work: Path, seed: Long, threads: Int): Workload = name match {
    case "grid_scan" => new GridScan(work, seed, threads)
    case "grid_slice" => new GridSlice(work, seed, threads)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected one of ${names.mkString(", ")})")
  }

  def load(spark: SparkSession, store: String, options: Map[String, String]): DataFrame =
    spark.read.format("zarr").options(options).load(store)

  def fail(what: String, got: Any, want: Any): Option[String] =
    if (got == want) None else Some(s"$what: got $got, want $want")

  /** Sum over time steps, in parallel, of `f(t)`. */
  def overTime(g: Grid)(f: Int => Long): Long =
    IntStream.range(0, g.nt).parallel().mapToLong(t => f(t)).sum()

  /** `f(t)` for every time step, computed in parallel. */
  def perTime[A](g: Grid)(f: Int => A): Seq[A] =
    IntStream.range(0, g.nt).parallel().mapToObj[A](t => f(t)).toArray.toSeq.map(_.asInstanceOf[A])
}

import Workload._

/** `grid_scan`: queries that must read every selected cell and that no
  * metadata answers, over a v2 store (one raw, one zstd variable) and a
  * v3 store of sharded zstd chunks. Fetch, decode and columnar
  * assembly do nearly all the work; planning does almost none. */
final class GridScan(work: Path, seed: Long, threads: Int) extends Workload {
  private val g = Grid.era5(seed)
  private val v2 = work.resolve("scan_v2").toString
  private val v3 = work.resolve("scan_v3").toString
  override val stores: Seq[String] = Seq(v2, v3)

  /** Warm-up runs the timed queries themselves, on 4-step copies of the
    * stores: the same plans and generated code, a sixth of the cells. */
  private val small = g.copy(nt = 4)
  private def warm(store: String) = store + "_warm"

  override def generate(spark: SparkSession): Unit =
    Seq[(String, Grid, (Path, Grid, Int) => Unit)](
      (v2, g, GridStore.writeV2), (warm(v2), small, GridStore.writeV2),
      (v3, g, GridStore.writeV3Sharded), (warm(v3), small, GridStore.writeV3Sharded)
    ).foreach { case (p, grid, write) =>
      val dir = java.nio.file.Paths.get(p)
      GridStore.deleteTree(dir)
      write(dir, grid, threads)
    }

  /** Box positions are seeded; thresholds are fixed, so that every seed
    * selects about the same share of cells. */
  private val rnd = new scala.util.Random(seed)

  /** Memoized plain-loop answer: computed at the first check only. */
  private def memo[A](f: => A): () => A = { lazy val a = f; () => a }

  private def countGt(store: String, label: String): Query = {
    val thr = 8.0
    val want = memo(overTime(g) { t =>
      var n = 0L
      for (i <- 0 until g.nlat; j <- 0 until g.nlon) if (g.value(0, t, i, j) > thr) n += 1
      n
    })
    Query(s"count_gt_$label", g.cells, store, Map.empty,
      _.where(col("t2m") > thr).agg(count(lit(1))),
      rows => fail("count", rows.head.getLong(0), want()))
  }

  private def groupAvg(store: String, label: String): Query = {
    val thr = -16.0
    val want = memo(perTime(g) { t =>
      var (s, n) = (0.0, 0L)
      for (i <- 0 until g.nlat; j <- 0 until g.nlon) if (g.value(1, t, i, j) > thr) {
        s += g.value(0, t, i, j); n += 1
      }
      g.time(t) -> (if (n == 0) Double.NaN else s / n)
    }.filterNot(_._2.isNaN).toMap)
    Query(s"group_avg_$label", 2 * g.cells, store, Map.empty,
      _.where(col("sp") > thr).groupBy("time").agg(avg("t2m")),
      rows => fail("per-time averages", rows.map(r => r.getLong(0) -> r.getDouble(1)).toMap, want()))
  }

  private def boxPred(store: String, label: String): Query = {
    val thr = 4.0
    // aligned to the v3 shards (and so to the chunks), so every seed's box
    // covers the same 2×2 chunks per step and one shard per 4 steps
    val (i0, j0) = (180 * rnd.nextInt(2), 360 * rnd.nextInt(2))
    val want = memo {
      var (s, n) = (0.0, 0L)
      for (t <- 0 until g.nt; i <- i0 until i0 + 180; j <- j0 until j0 + 360)
        if (g.value(0, t, i, j) < thr) { s += g.value(1, t, i, j); n += 1 }
      (n, s)
    }
    Query(s"box_pred_$label", 2L * g.nt * 180 * 360, store, Map.empty,
      _.where(col("lat").between(g.lat(i0 + 179), g.lat(i0)) &&
        col("lon") >= g.lon(j0) && col("lon") < g.lon(j0 + 360) && col("t2m") < thr)
        .agg(count(lit(1)), sum("sp")),
      rows => fail("count and sum", (rows.head.getLong(0), rows.head.getDouble(1)), want()))
  }

  private def topN(store: String, label: String): Query = {
    val want = memo(perTime(g) { t =>
      val q = scala.collection.mutable.PriorityQueue.empty[Float](Ordering[Float].reverse)
      for (i <- 0 until g.nlat; j <- 0 until g.nlon) {
        q.enqueue(g.value(1, t, i, j)); if (q.size > 10) q.dequeue()
      }
      q.toSeq
    }.flatten.sorted(Ordering[Float].reverse).take(10))
    Query(s"top_n_$label", g.cells, store, Map.empty,
      _.select("time", "lat", "lon", "sp").orderBy(desc("sp")).limit(10),
      rows => {
        val wrongCell = rows.find(r => g.value(1, g.timeIdx(r.getLong(0).toDouble),
          g.latIdx(r.getDouble(1)), g.lonIdx(r.getDouble(2))) != r.getFloat(3))
        wrongCell.map(r => s"row $r does not hold the generated value")
          .orElse(fail("top values", rows.map(_.getFloat(3)).toSeq, want()))
      })
  }

  private val queries: IndexedSeq[Query] =
    Seq("v2" -> v2, "v3" -> v3).flatMap { case (label, s) =>
      Seq(countGt(s, label), groupAvg(s, label), boxPred(s, label), topN(s, label))
    }.toIndexedSeq

  override def round: Int = queries.length
  override def op(k: Int): Op = queries(k % queries.length)

  override def warmup: Seq[Op] = queries.map(q => q.copy(cells = 0, store = warm(q.store)))
}

/** `grid_slice`: many short queries over the v2 store, most of them on
  * a hot set of slabs that fits the chunk cache the reads ask for. The
  * fixed cost per query dominates: metadata reads, pushdown, partition
  * planning, Spark's analysis and job start. */
final class GridSlice(work: Path, seed: Long, threads: Int) extends Workload {
  private val g = Grid.era5(seed)
  private val path = work.resolve("slice_v2")
  override val stores: Seq[String] = Seq(path.toString)

  /** 64 decoded chunks; the hot set below holds 4 slabs × 4 lon chunks
    * × 2 variables = 32, the whole grid 320. */
  private val options = Map("chunkCacheEntries" -> "64")

  /** A slab is one time step × one band of 90 lat rows (the 4 full
    * chunk bands; the one-row edge band is left out so every draw
    * selects the same number of cells). */
  private val hot: IndexedSeq[(Int, Int)] = {
    val r = new scala.util.Random(seed)
    IndexedSeq.fill(4)((r.nextInt(g.nt), r.nextInt(4)))
  }

  override def generate(spark: SparkSession): Unit = {
    GridStore.deleteTree(path)
    GridStore.writeV2(path, g, threads)
  }

  private def q(kind: String, cells: Long, shape: DataFrame => DataFrame)(
      check: Array[Row] => Option[String]): Query =
    Query(kind, cells, path.toString, options, shape, check)

  private val kinds = IndexedSeq("eq_slice", "point", "box_agg", "limit", "meta_count", "meta_minmax")

  override def round: Int = 30 // 6 kinds × the 5-step hot/cold pattern

  override def op(k: Int): Op = {
    val r = new scala.util.Random(seed * 1000003L + k)
    // four in five queries go to the hot set, the rest anywhere
    val (t, band) = if (k % 5 != 4) hot(r.nextInt(hot.length)) else (r.nextInt(g.nt), r.nextInt(4))
    val i = band * 90 + r.nextInt(90)
    val (time, lat) = (g.time(t), g.lat(i))
    kinds(k % kinds.length) match {
      case "eq_slice" =>
        q("eq_slice", g.nlon, _.where(col("time") === time && col("lat") === lat).select("lon", "t2m")) { rows =>
          val bad = rows.find(r => g.lonIdx(r.getDouble(0)) < 0 || r.getFloat(1) != g.value(0, t, i, g.lonIdx(r.getDouble(0))))
          bad.map(r => s"row $r does not hold the generated value")
            .orElse(fail("distinct lons", rows.map(_.getDouble(0)).distinct.length, g.nlon))
        }
      case "point" =>
        val j = r.nextInt(g.nlon)
        q("point", 2, _.where(col("time") === time && col("lat") === lat && col("lon") === g.lon(j))
          .select("t2m", "sp")) { rows =>
          fail("point", rows.map(r => (r.getFloat(0), r.getFloat(1))).toSeq,
            Seq((g.value(0, t, i, j), g.value(1, t, i, j))))
        }
      case "box_agg" =>
        // inside one chunk, so every box reads the same number of chunks
        val (i0, j0) = (band * 90 + r.nextInt(90 - 30 + 1), 180 * r.nextInt(4) + r.nextInt(180 - 120 + 1))
        q("box_agg", 2 * 30 * 120, _.where(col("time") === time &&
          col("lat").between(g.lat(i0 + 29), g.lat(i0)) && col("lon").between(g.lon(j0), g.lon(j0 + 119)))
          .agg(count(lit(1)), avg("sp"), max("t2m"))) { rows =>
          var (s, mx) = (0.0, Float.NegativeInfinity)
          for (a <- i0 until i0 + 30; b <- j0 until j0 + 120) {
            s += g.value(1, t, a, b); mx = math.max(mx, g.value(0, t, a, b))
          }
          val row = rows.head
          fail("count, avg, max", (row.getLong(0), row.getDouble(1), row.getFloat(2)), (3600L, s / 3600, mx))
        }
      case "limit" =>
        val (hi, lo) = (g.lat(band * 90), g.lat(band * 90 + 89))
        q("limit", 100, _.where(col("time") === time && col("lat").between(lo, hi))
          .select("lat", "lon", "t2m").limit(100)) { rows =>
          val bad = rows.find { r =>
            val (a, b) = (g.latIdx(r.getDouble(0)), g.lonIdx(r.getDouble(1)))
            a < band * 90 || a >= band * 90 + 90 || b < 0 || r.getFloat(2) != g.value(0, t, a, b)
          }
          bad.map(r => s"row $r is outside the slab or does not hold the generated value")
            .orElse(fail("distinct rows", rows.map(r => (r.getDouble(0), r.getDouble(1))).distinct.length, 100))
        }
      case "meta_count" =>
        q("meta_count", 0, _.groupBy("time").count()) { rows =>
          fail("per-time counts", rows.map(r => r.getLong(0) -> r.getLong(1)).toMap,
            (0 until g.nt).map(t => g.time(t) -> g.nlat.toLong * g.nlon).toMap)
        }
      case _ =>
        q("meta_minmax", 0, _.agg(min("lat"), max("lat"), max("time"), max("lon"), count(lit(1)))) { rows =>
          val row = rows.head
          fail("min/max/count", (row.getDouble(0), row.getDouble(1), row.getLong(2), row.getDouble(3), row.getLong(4)),
            (g.lat(g.nlat - 1), g.lat(0), g.time(g.nt - 1), g.lon(g.nlon - 1), g.cells))
        }
    }
  }

  override def warmup: Seq[Op] = (0 until kinds.length).map(k => op(1000000 + k))
}

/** The writer probe of traced runs: the connector's writer on a seeded
  * grid of 130K cells with two float variables, in the two layouts users
  * write (v2 zstd chunks, v3 sharded zstd), followed by a single-step
  * append. The writer's validation aggregate, its encoding and its store
  * writes do the work. It is not a timed workload: writer calls of a few
  * seconds each varied by up to 1.5 times from run to run, more than the
  * end-to-end bounds allow. */
final class GridIngest(work: Path, seed: Long) extends Workload {
  import graft.sources.zarr.ZarrWriter

  private val g = Grid(2, 181, 360, seed)
  private val coords = Seq("time", "lat", "lon")
  private val dir = work.resolve("ingest")
  override val stores: Seq[String] = Nil

  @transient private var spark: SparkSession = _
  @transient private var grid: DataFrame = _
  @transient private var step: DataFrame = _
  @transient private var warmGrid: DataFrame = _

  /** Rows of time steps [t0, t1) of a grid with g's seed; cached. */
  private def frame(t0: Int, t1: Int): DataFrame = {
    val s = spark
    import s.implicits._
    val gg = g
    val plane = gg.nlat.toLong * gg.nlon
    val df = s.range(t0 * plane, t1 * plane).map { k =>
      val (t, i, j) = ((k / plane).toInt, ((k % plane) / gg.nlon).toInt, (k % gg.nlon).toInt)
      (gg.time(t), gg.lat(i), gg.lon(j), gg.value(0, t, i, j), gg.value(1, t, i, j))
    }.toDF(coords :+ "t2m" :+ "sp": _*).cache()
    df.count()
    df
  }

  override def generate(spark: SparkSession): Unit = {
    this.spark = spark
    GridStore.deleteTree(dir)
    grid = frame(0, g.nt)
    step = frame(g.nt, g.nt + 1)
    warmGrid = frame(0, 1)
  }

  /** Reads the store at `p` back, from time step `t0` on, and compares
    * every cell with the generator: (rows, sum of cell ids, bad cells)
    * must be (n, Σ ids, 0). */
  private def readBack(p: String, t0: Int, t1: Int): Option[String] = {
    val gg = g
    val (rows, ids, bad) = Workload.load(spark, p, Map.empty).where(col("time") >= gg.time(t0))
      .select("time", "lat", "lon", "t2m", "sp").rdd.mapPartitions { it =>
        var (n, s, b) = (0L, 0L, 0L)
        it.foreach { r =>
          val t = gg.timeIdx(r.getLong(0).toDouble); val i = gg.latIdx(r.getDouble(1)); val j = gg.lonIdx(r.getDouble(2))
          n += 1
          if (t < 0 || i < 0 || j < 0 || r.getFloat(3) != gg.value(0, t, i, j) || r.getFloat(4) != gg.value(1, t, i, j)) b += 1
          else s += (t.toLong * gg.nlat + i) * gg.nlon + j
        }
        Iterator.single((n, s, b))
      }.collect().foldLeft((0L, 0L, 0L)) { case ((a, b, c), (x, y, z)) => (a + x, b + y, c + z) }
    val plane = g.nlat.toLong * g.nlon
    val (lo, hi) = (t0 * plane, t1 * plane)
    fail(s"read-back of $p (rows, cell-id sum, wrong cells)", (rows, ids, bad),
      (hi - lo, (lo + hi - 1) * (hi - lo) / 2, 0L))
  }

  /** A write in each layout, then one single-step append to the v2
    * store; writes are two thirds of the ops, so the median op is a
    * write. */
  override def round: Int = 3

  override def op(k: Int): Op = opIn(s"r${k / round}", k % round, grid, step)

  /** The `i`-th op of a round that writes `grid` and appends `step`,
    * to stores named after `tag`. */
  private def opIn(tag: String, i: Int, grid: DataFrame, step: DataFrame): Op = {
    val (p2, p3) = (dir.resolve(s"$tag-v2").toString, dir.resolve(s"$tag-v3").toString)
    def thenDelete(p: String)(r: Option[String]) = { GridStore.deleteTree(java.nio.file.Paths.get(p)); r }
    i match {
      case 0 => Ingest("write_v2_zstd", 2 * g.cells, p2,
        () => ZarrWriter.write(grid, p2, coords, compressor = "zstd", chunkShape = Seq(1, 90, 180)),
        () => readBack(p2, 0, g.nt))
      case 1 => Ingest("write_v3_sharded", 2 * g.cells, p3,
        () => ZarrWriter.write(grid, p3, coords, chunkOuter = 4, version = 3, shardInner = 1, shardCompress = "zstd"),
        () => thenDelete(p3)(readBack(p3, 0, g.nt)))
      case _ => Ingest("append", 2L * g.nlat * g.nlon, p2,
        () => ZarrWriter.append(step, p2),
        () => thenDelete(p2)(readBack(p2, g.nt, g.nt + 1)))
    }
  }

  /** The v2 write of a one-step grid: the writer's plans, half the
    * cells. The other op kinds run cold in the probe. */
  override def warmup: Seq[Op] = Seq(opIn("warmup", 0, warmGrid, step))
}
