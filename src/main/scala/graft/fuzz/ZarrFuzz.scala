package graft.fuzz

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.Random

/** Randomized differential SQL over the ZARR CONNECTOR: seeded queries
  * in the common Spark/DuckDB subset, run against registered zarr grid
  * tables on Spark and against the SAME grids exported to parquet on
  * DuckDB. This composes every scan-level pushdown the connector has —
  * coordinate-range planning, column pruning, LIMIT/OFFSET, `.zstats`
  * TopN, COUNT/MIN/MAX metadata aggregates, grouped metadata
  * aggregates, runtime join filtering — under random query shapes, the
  * one adversarial surface the fixed gate (z1-z15) and the property
  * fuzz (pruning soundness, corruption) don't reach: random
  * COMPOSITION of pushdowns.
  *
  * Differential honesty: the grids are written through [[graft.sources.zarr.ZarrWriter]]
  * from a deterministic source DataFrame, and the parquet oracle is
  * exported from that SAME source DataFrame (NOT from a zarr
  * read-back) — a bug in either the zarr write or the zarr read paths
  * shows up as a divergence instead of cancelling out.
  *
  * Cross-engine exactness rules are inherited from [[SqlFuzz]] (decimal-
  * cast double sums, total ORDER BY under LIMIT, explicit null
  * ordering, no division).
  */
object ZarrFuzz {

  /** Stamped into fuzz_meta.json — seeds remap across grammar versions. */
  // v2: grid_d added — grid_a's rows served through a COMBINED
  // parquet-refs store (two time-split v3 stores stitched by
  // combineStores), so every random pushdown composition can land on
  // the multi-store virtualization layer. Per-seed hashes are only
  // comparable within one grammar version (grid choice shifts).
  // v3: grid_e (grid_a through a SHARDED v3 store — sharding_indexed
  // inner chunks under every random pushdown) and grid_f (grid_a
  // through a two-store multi-load UNION — ZarrUnionTable, so the
  // executor-merged union agg pushdowns compose with random SQL);
  // metaQ biases toward grid_f so the union agg-merge families are
  // reliably exercised within a 250-seed run.
  val grammarVersion = 3

  // ------------------------------------------------------------ fixtures

  /** Grid fixture specs. All content is seeded arithmetic — byte-stable
    * across runs and machines.
    *
    *  - grid_a: 3-D, zarr v3, numeric coords time(20) x lat(15) x
    *    lon(12) = 3600 cells, chunked 4 along the outer dim (5 chunk
    *    slabs); data vars temperature (f8, injective per cell — unique
    *    sort keys keep ORDER BY ... LIMIT deterministic) and humidity
    *    (i8, low-card).
    *  - grid_b: 2-D, zarr v2, STRING x DATETIME coords station(8) x
    *    ts(30 hourly) = 240 cells, chunked 2 (4 slabs); reading (f8,
    *    injective), qc (i8 in 0..4 — doubles as an FK into region).
    *  - grid_c: 1-D, zarr v2, idx(500), chunked 64 (8 chunks); val
    *    (f8, injective), cat (|S string data var).
    */
  def gridA(s: SparkSession): DataFrame =
    s.range(20).toDF("time").crossJoin(s.range(15).toDF("lat"))
      .crossJoin(s.range(12).toDF("lon"))
      .select(col("time"), col("lat"), col("lon"),
        (col("time") * 10000 + col("lat") * 100 + col("lon") + lit(0.25) - lit(900.0))
          .as("temperature"),
        ((col("time") * 31 + col("lat") * 7 + col("lon") * 3) % 101).as("humidity"))

  def gridB(s: SparkSession): DataFrame =
    s.range(8).toDF("st").crossJoin(s.range(30).toDF("h"))
      .select(format_string("ST%02d", col("st")).as("station"),
        expr("timestampadd(HOUR, h, timestamp'2024-01-01 00:00:00')").as("ts"),
        (col("st") * 1000 + col("h") + lit(0.5)).as("reading"),
        ((col("st") + col("h")) % 5).as("qc"))

  def gridC(s: SparkSession): DataFrame =
    s.range(500).toDF("idx")
      .select(col("idx"),
        (col("idx") * lit(1.5) - lit(250.0)).as("val"),
        (col("idx") % 7).as("cat")) // string DATA vars are out of the
        // writer's dtype surface (string COORDS are in — grid_b)

  /** (name, sourceDf, coords, writerOptions) for each fixture grid. */
  def gridSpecs(s: SparkSession): Seq[(String, DataFrame, String, Map[String, String])] = Seq(
    ("grid_a", gridA(s), "time,lat,lon",
      Map("zarrVersion" -> "3", "chunkOuter" -> "4", "compressor" -> "zstd")),
    ("grid_b", gridB(s), "station,ts",
      Map("zarrVersion" -> "2", "chunkOuter" -> "2", "compressor" -> "blosc")),
    ("grid_c", gridC(s), "idx",
      Map("zarrVersion" -> "2", "chunkShape" -> "64", "compressor" -> "gzip")))

  /** Write the fixture stores (tmpdir, per-JVM suffix), export each
    * source DataFrame as a single parquet FILE into `tablesDir` (the
    * DuckDB oracle reads these), and register zarr-read temp views.
    * Idempotent per JVM. */
  def buildFixtures(s: SparkSession, tablesDir: String): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    Files.createDirectories(Paths.get(tablesDir))
    val suffix = java.lang.Long.toHexString(ProcessHandle.current().pid())
    def exportParquet(name: String, df: DataFrame): Unit = {
      val target = Paths.get(tablesDir, s"$name.parquet")
      if (!Files.exists(target)) {
        // single-FILE parquet (compare.py hands the path to DuckDB)
        val tmp = s"$tablesDir/.tmp_$name"
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = Files.list(Paths.get(tmp))
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .findFirst().orElseThrow(() => new IllegalStateException(s"no part in $tmp"))
        Files.move(part, target, StandardCopyOption.REPLACE_EXISTING)
        Files.walk(Paths.get(tmp)).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(p => Files.delete(p))
      }
    }
    def writeZarr(name: String, df: DataFrame, coords: String,
        opts: Map[String, String]): String = {
      val zarrPath = Paths.get(System.getProperty("java.io.tmpdir"),
        s"graft_fuzz_${name}_$suffix.zarr").toString
      if (!Files.exists(Paths.get(zarrPath))) {
        var w = df.write.format("zarr").option("coords", coords).mode("overwrite")
        opts.foreach { case (k, v) => w = w.option(k, v) }
        w.save(zarrPath)
      }
      zarrPath
    }
    gridSpecs(s).foreach { case (name, df, coords, opts) =>
      val zarrPath = writeZarr(name, df, coords, opts)
      exportParquet(name, df)
      s.read.format("zarr").load(zarrPath).createOrReplaceTempView(name)
    }
    // grid_d: grid_a's rows served through a COMBINED refs store — two
    // time-split v3 stores (both splits chunk-aligned at chunkOuter 4)
    // stitched along `time` by combineStores, so every random pushdown
    // composition can land on the multi-store virtualization layer.
    // The oracle stays the SOURCE DataFrame (the combine must be
    // invisible).
    val dOpts = Map("zarrVersion" -> "3", "chunkOuter" -> "4", "compressor" -> "zstd")
    val pa = writeZarr("grid_d_lo", gridA(s).filter(col("time") < 12), "time,lat,lon", dOpts)
    val pb = writeZarr("grid_d_hi", gridA(s).filter(col("time") >= 12), "time,lat,lon", dOpts)
    val combined = Paths.get(System.getProperty("java.io.tmpdir"),
      s"graft_fuzz_grid_d_$suffix.parq").toString
    if (!Files.exists(Paths.get(combined)))
      graft.sources.zarr.KerchunkParquetRefs.combineStores(Seq(pa, pb), "time", combined)
    exportParquet("grid_d", gridA(s))
    s.read.format("zarr").load(combined).createOrReplaceTempView("grid_d")
    // grid_e: grid_a through a SHARDED v3 store (sharding_indexed,
    // 2-deep inner chunks inside each 4-slab outer chunk, zstd inner
    // compression) — random pushdown composition over the shard read
    // path. Oracle: the source DataFrame (sharding must be invisible).
    // One time step (180 rows) per partition, so partitions cut every
    // shard and random pushdowns cross shard splits.
    val pe = writeZarr("grid_e", gridA(s), "time,lat,lon",
      Map("zarrVersion" -> "3", "chunkOuter" -> "4", "compressor" -> "none",
        "shardInner" -> "2", "shardCompress" -> "zstd"))
    exportParquet("grid_e", gridA(s))
    s.read.format("zarr").option("minRowsPerPartition", "1").option("maxRowsPerPartition", "180")
      .load(pe).createOrReplaceTempView("grid_e")
    // grid_f: grid_a through a two-store multi-load UNION
    // (ZarrUnionTable over the same time-split stores grid_d stitches)
    // — random SQL over per-member pruning and the executor-merged
    // union aggregate pushdowns. Oracle: the source DataFrame.
    exportParquet("grid_f", gridA(s))
    s.read.format("zarr").load(pa, pb).createOrReplaceTempView("grid_f")
  }

  // ------------------------------------------------------------ catalog

  private case class Coord(name: String, lo: Long, hi: Long,
                           strDom: Seq[String] = Nil, tsHours: Int = 0) {
    def isStr: Boolean = strDom.nonEmpty
    def isTs: Boolean = tsHours > 0
  }
  private case class Var(name: String, isDbl: Boolean, lo: Double, hi: Double)
  private case class Grid(name: String, coords: Seq[Coord], vars: Seq[Var])

  private val stations = (0 until 8).map(i => f"ST$i%02d")

  private val gridACat = Grid("grid_a",
    Seq(Coord("time", 0, 19), Coord("lat", 0, 14), Coord("lon", 0, 11)),
    Seq(Var("temperature", isDbl = true, -900.0, 191000.0),
      Var("humidity", isDbl = false, 0, 100)))

  private val gridBCat = Grid("grid_b",
    Seq(Coord("station", 0, 7, strDom = stations), Coord("ts", 0, 29, tsHours = 30)),
    Seq(Var("reading", isDbl = true, 0.5, 7030.0),
      Var("qc", isDbl = false, 0, 4)))

  private val gridCCat = Grid("grid_c",
    Seq(Coord("idx", 0, 499)),
    Seq(Var("val", isDbl = true, -250.0, 500.0),
      Var("cat", isDbl = false, 0, 6)))

  /** grid_d/e/f serve grid_a's content through the combined refs
    * store, a sharded v3 store, and a two-store union respectively —
    * same catalog shape, different physical layer under every query. */
  private val gridDCat = gridACat.copy(name = "grid_d")
  private val gridECat = gridACat.copy(name = "grid_e")
  private val gridFCat = gridACat.copy(name = "grid_f")

  private val grids = Seq(gridACat, gridBCat, gridCCat, gridDCat, gridECat, gridFCat)

  // ------------------------------------------------------------ helpers

  private def pick[A](r: Random, xs: Seq[A]): A = xs(r.nextInt(xs.size))
  private def q(s: String): String = "'" + s.replace("'", "''") + "'"

  private def tsLit(h: Int): String = f"TIMESTAMP '2024-01-${1 + h / 24}%02d ${h % 24}%02d:00:00'"

  /** One predicate on a coordinate — the pushdown surface. */
  private def coordAtom(r: Random, g: Grid, c: Coord): String = {
    val col = s"${g.name}.${c.name}"
    if (c.isStr) r.nextInt(3) match {
      case 0 => s"$col = ${q(pick(r, c.strDom))}"
      case 1 => s"$col IN (${r.shuffle(c.strDom).take(1 + r.nextInt(3)).map(q).mkString(", ")})"
      case _ => s"$col ${pick(r, Seq("<", ">=", "<=", ">"))} ${q(pick(r, c.strDom))}"
    } else if (c.isTs) r.nextInt(3) match {
      case 0 => s"$col >= ${tsLit(r.nextInt(c.tsHours))}"
      case 1 => s"$col < ${tsLit(r.nextInt(c.tsHours))}"
      case _ =>
        val a = r.nextInt(c.tsHours); val b = r.nextInt(c.tsHours)
        s"$col BETWEEN ${tsLit(a.min(b))} AND ${tsLit(a.max(b))}"
    } else {
      def lit(lo: Long, hi: Long) = (lo + (r.nextDouble() * (hi - lo)).toLong).toString
      r.nextInt(4) match {
        case 0 => s"$col ${pick(r, Seq("<", "<=", ">", ">=", "="))} ${lit(c.lo, c.hi)}"
        case 1 => s"$col BETWEEN ${lit(c.lo, (c.lo + c.hi) / 2)} AND ${lit((c.lo + c.hi) / 2, c.hi)}"
        case 2 => s"$col IN (${Seq.fill(1 + r.nextInt(3))(lit(c.lo, c.hi)).mkString(", ")})"
        case _ => s"$col <> ${lit(c.lo, c.hi)}"
      }
    }
  }

  /** One predicate on a data variable (evaluated post-scan). */
  private def varAtom(r: Random, g: Grid, v: Var): String = {
    val col = s"${g.name}.${v.name}"
    if (v.isDbl) {
      val x = v.lo + r.nextDouble() * (v.hi - v.lo)
      f"$col ${pick(r, Seq("<", "<=", ">", ">="))} $x%.2f"
    } else {
      val x = (v.lo + r.nextDouble() * (v.hi - v.lo)).toLong
      pick(r, Seq(s"$col ${pick(r, Seq("<", "<=", ">", ">=", "="))} $x",
        s"$col IN (${Seq.fill(3)((v.lo + r.nextDouble() * (v.hi - v.lo)).toLong).mkString(", ")})"))
    }
  }

  /** WHERE: 1-2 coordinate atoms (AND — the pushable shape; one OR pair
    * with probability ~1/4 to exercise the unpushable posture too),
    * plus an optional data-var atom. */
  private def where(r: Random, g: Grid): String = {
    val n = 1 + r.nextInt(2)
    val coordParts = Seq.fill(n)(coordAtom(r, g, pick(r, g.coords)))
    val base =
      if (coordParts.size == 2 && r.nextInt(4) == 0) s"(${coordParts.mkString(" OR ")})"
      else coordParts.mkString(" AND ")
    if (r.nextInt(2) == 0) s"$base AND ${varAtom(r, g, pick(r, g.vars))}" else base
  }

  /** A projection item over the grid; returns (expr, alias base is
    * assigned by caller). Items stay deterministic and engine-common. */
  private def item(r: Random, g: Grid): String = {
    val pool: Seq[String] =
      g.coords.map(c => s"${g.name}.${c.name}") ++
      g.vars.map(v => s"${g.name}.${v.name}")
    val col = pick(r, pool)
    r.nextInt(5) match {
      case 0 if col.endsWith(".station") => s"upper($col)"
      case 0 if col.endsWith(".ts") => s"EXTRACT(HOUR FROM $col)"
      case 1 if !col.endsWith(".station") && !col.endsWith(".ts") => s"($col * 2)"
      case 2 if !col.endsWith(".station") && !col.endsWith(".ts") =>
        s"($col + ${1 + r.nextInt(50)})"
      case _ => col
    }
  }

  private def orderAll(n: Int, r: Random): String =
    (0 until n).map(i =>
      s"c$i ${pick(r, Seq("ASC", "DESC"))} ${pick(r, Seq("NULLS FIRST", "NULLS LAST"))}")
      .mkString(", ")

  // ------------------------------------------------------------ shapes

  /** Coordinate-filtered scan: range planning + column pruning +
    * LIMIT. Total order via ORDER BY every output column PLUS the
    * grid's injective double var as the last tiebreak (output items
    * may collide; the var never does). */
  private def scanQ(r: Random): String = {
    val g = pick(r, grids)
    val n = 2 + r.nextInt(3)
    val items = (0 until n).map(i => s"${item(r, g)} AS c$i")
    val tie = s"${g.name}.${g.vars.head.name} AS c$n"
    s"""SELECT ${(items :+ tie).mkString(", ")}
       |FROM ${g.name}
       |WHERE ${where(r, g)}
       |ORDER BY ${orderAll(n + 1, r)}
       |LIMIT ${1 + r.nextInt(200)}""".stripMargin
  }

  /** Grouped aggregate over coordinates (the reference's marquee
    * shape), under a random coordinate filter. */
  private def aggQ(r: Random): String = {
    val g = pick(r, grids)
    val keys = r.shuffle(g.coords).take(1 + r.nextInt(g.coords.size.min(2)))
      .map(c => s"${g.name}.${c.name}")
    val keyItems = keys.zipWithIndex.map { case (k, i) => s"$k AS k$i" }
    var i = -1
    def nm(): String = { i += 1; s"c$i" }
    val aggs = scala.collection.mutable.Buffer[String](s"count(*) AS ${nm()}")
    (0 until 1 + r.nextInt(2)).foreach { _ =>
      val v = pick(r, g.vars)
      val col = s"${g.name}.${v.name}"
      if (v.isDbl) {
        if (r.nextBoolean()) aggs += s"${pick(r, Seq("min", "max"))}($col) AS ${nm()}"
        else aggs += s"CAST(SUM(CAST($col AS DECIMAL(18,2))) AS DOUBLE) AS ${nm()}"
      } else aggs += s"${pick(r, Seq("min", "max", "sum", "count"))}($col) AS ${nm()}"
    }
    val hasWhere = r.nextInt(3) > 0
    val having = if (r.nextInt(4) == 0) s"\nHAVING count(*) >= ${1 + r.nextInt(4)}" else ""
    s"""SELECT ${(keyItems ++ aggs).mkString(", ")}
       |FROM ${g.name}${if (hasWhere) s"\nWHERE ${where(r, g)}" else ""}
       |GROUP BY ${keys.mkString(", ")}$having""".stripMargin
  }

  /** Unfiltered whole-grid aggregate: COUNT/MIN(coord)/MAX(coord) is
    * answered from metadata (ZarrAggScan); grouping by the OUTER
    * coordinate with coord-only aggregates is answered from grid
    * arithmetic (ZarrGroupAggScan). */
  private def metaQ(r: Random): String = {
    // bias toward the union fixture: the executor-merged union agg
    // pushdowns (ZarrUnionAggScan / ZarrUnionGroupAggScan) only fire
    // on whole-grid shapes over grid_f, and a uniform 1/6 grid pick
    // would leave those families at ~2 expected seeds per 250-run
    val g = if (r.nextInt(4) == 0) gridFCat else pick(r, grids)
    if (r.nextBoolean() || g.coords.size == 1) {
      val c1 = pick(r, g.coords); val c2 = pick(r, g.coords)
      def render(f: String, c: Coord): String = {
        val e = s"$f(${g.name}.${c.name})"
        if (c.isStr || c.isTs) e else s"CAST($e AS BIGINT)"
      }
      s"""SELECT count(*) AS c0, ${render("min", c1)} AS c1, ${render("max", c2)} AS c2
         |FROM ${g.name}""".stripMargin
    } else {
      val outer = g.coords.head
      val inner = pick(r, g.coords.tail)
      s"""SELECT ${g.name}.${outer.name} AS k0, count(*) AS c0,
         |  min(${g.name}.${inner.name}) AS c1, max(${g.name}.${inner.name}) AS c2
         |FROM ${g.name}
         |GROUP BY ${g.name}.${outer.name}""".stripMargin
    }
  }

  /** Two TopN pushdown paths:
    *  (a) ORDER BY an injective data variable + LIMIT — the `.zstats`
    *      chunk-pruning path (and, filtered, TopN over range planning);
    *  (b) ORDER BY the FULL coordinate tuple (row-major grid order),
    *      one direction — pushed as LIMIT (ASC = first n grid rows) or
    *      OFFSET (DESC = last n). Full tuple keeps the order total, so
    *      the row set is engine-independent. */
  private def topNQ(r: Random): String = {
    val g = pick(r, grids)
    // Spark-default null placement (ASC→FIRST, DESC→LAST) spelled
    // explicitly: a non-default ordering would block the TopN pushdown;
    // grid data is never null, so DuckDB agrees regardless.
    val dir = pick(r, Seq("ASC NULLS FIRST", "DESC NULLS LAST"))
    if (r.nextBoolean()) {
      val v = g.vars.head // injective by construction
      val cols = g.coords.map(c => s"${g.name}.${c.name}") :+ s"${g.name}.${v.name}"
      val items = cols.zipWithIndex.map { case (c, i) => s"$c AS c$i" }
      val filtered = r.nextInt(3) == 0
      s"""SELECT ${items.mkString(", ")}
         |FROM ${g.name}${if (filtered) s"\nWHERE ${where(r, g)}" else ""}
         |ORDER BY c${cols.size - 1} $dir
         |LIMIT ${1 + r.nextInt(40)}""".stripMargin
    } else {
      val cols = g.coords.map(c => s"${g.name}.${c.name}") :+ s"${g.name}.${pick(r, g.vars).name}"
      val items = cols.zipWithIndex.map { case (c, i) => s"$c AS c$i" }
      val order = g.coords.indices.map(i => s"c$i $dir").mkString(", ")
      s"""SELECT ${items.mkString(", ")}
         |FROM ${g.name}
         |ORDER BY $order
         |LIMIT ${1 + r.nextInt(60)}""".stripMargin
    }
  }

  /** Join shapes: grid ⋈ parquet dimension (runtime-filter surface),
    * grid ⋈ grid on a shared integer coordinate domain. Aggregated
    * output keeps results small and order-free. */
  private def joinQ(r: Random): String = r.nextInt(4) match {
    case 0 => // grid_a ⋈ nation on lat = n_nationkey
      s"""SELECT nation.n_name AS k0, count(*) AS c0,
         |  CAST(SUM(CAST(grid_a.temperature AS DECIMAL(18,2))) AS DOUBLE) AS c1
         |FROM grid_a JOIN nation ON grid_a.lat = nation.n_nationkey
         |WHERE ${where(r, gridACat)}
         |GROUP BY nation.n_name""".stripMargin
    case 1 => // grid_b ⋈ region on the qc data var
      s"""SELECT region.r_name AS k0, count(*) AS c0,
         |  min(grid_b.reading) AS c1, max(grid_b.station) AS c2
         |FROM grid_b JOIN region ON grid_b.qc = region.r_regionkey
         |WHERE ${where(r, gridBCat)}
         |GROUP BY region.r_name""".stripMargin
    case 2 => // grid ⋈ grid on the lat/idx shared integer domain
      s"""SELECT grid_a.lat AS k0, count(*) AS c0,
         |  CAST(SUM(CAST(grid_c.val AS DECIMAL(18,2))) AS DOUBLE) AS c1,
         |  max(grid_a.humidity) AS c2
         |FROM grid_a JOIN grid_c ON grid_a.lat = grid_c.idx
         |WHERE ${where(r, gridACat)} AND ${where(r, gridCCat)}
         |GROUP BY grid_a.lat""".stripMargin
    case _ => // grid_a ⋈ grid_a (self, shifted coord) — scan form with total order
      s"""SELECT a.time AS c0, a.lat AS c1, a.lon AS c2, b.temperature AS c3
         |FROM grid_a a JOIN grid_a b
         |  ON a.time = b.time AND a.lat = b.lat AND a.lon = b.lon + 1
         |WHERE ${where(r, gridACat).replace("grid_a.", "a.")}
         |ORDER BY c0 ASC NULLS FIRST, c1 ASC NULLS FIRST, c2 ASC NULLS FIRST, c3 ASC NULLS FIRST
         |LIMIT ${50 + r.nextInt(150)}""".stripMargin
  }

  /** Set operations between two coordinate-filtered selections of the
    * same grid: UNION/INTERSECT/EXCEPT over pushed scans. The injective
    * var totalizes the LIMIT order. */
  private def setQ(r: Random): String = {
    val g = pick(r, grids)
    val cols = (g.coords.map(c => s"${g.name}.${c.name}") :+ s"${g.name}.${g.vars.head.name}")
    val items = cols.zipWithIndex.map { case (c, i) => s"$c AS c$i" }.mkString(", ")
    val op = pick(r, Seq("UNION ALL", "UNION", "INTERSECT", "EXCEPT"))
    s"""SELECT * FROM (
       |SELECT $items FROM ${g.name} WHERE ${where(r, g)}
       |$op
       |SELECT $items FROM ${g.name} WHERE ${where(r, g)}
       |) u
       |ORDER BY ${orderAll(cols.size, r)}
       |LIMIT ${1 + r.nextInt(300)}""".stripMargin
  }

  /** Deterministic query text for a seed. */
  def gen(seed: Long): String = {
    val r = new Random(seed ^ 0x5a77L)
    r.nextInt(100) match {
      case x if x < 28 => scanQ(r)
      case x if x < 50 => aggQ(r)
      case x if x < 62 => metaQ(r)
      case x if x < 74 => topNQ(r)
      case x if x < 88 => joinQ(r)
      case _           => setQ(r)
    }
  }

  /** Stable name for a seed's query in Verify-style output dirs. */
  def name(seed: Long): String = f"zf$seed%04d"
}
