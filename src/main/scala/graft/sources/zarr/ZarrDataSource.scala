package graft.sources.zarr

import java.util.OptionalLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, Transform, SortOrder => SortOrderV2}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, Avg, Count, CountStar, Max, Min, Sum}
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.connector.read.colstats.ColumnStatistics
import org.apache.spark.sql.sources.{EqualNullSafe, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, IsNotNull, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import ZarrDataSource.{colName, colRef, isStore, pushedCol}

/** Spark DataSource V2 connector for Zarr v2/v3 stores — the rebuild
  * of the reference's `ZarrTable`/`ZarrExec` surface
  * (/root/reference/src/datasource/zarr.rs:19-255,
  * /root/reference/src/physical_plan/zarr_exec.rs:21-257) as an
  * idiomatic DSv2 source:
  *
  *   - `spark.read.format("zarr").load(path)` and
  *     `CREATE TABLE t USING zarr OPTIONS (path '…')`
  *   - projection / limit / filter pushdown: numeric comparisons the
  *     scan evaluates exactly (see [[ZarrScanBuilder]]), every other
  *     filter with the reference's *inexact* posture — also returned
  *     for post-scan evaluation
  *     (/root/reference/src/datasource/zarr.rs:100-113)
  *   - partial aggregates and ORDER BY … LIMIT folded per partition
  *   - table statistics (exact row count, per-coordinate min/max/
  *     distinct/null) feeding Spark CBO
  *   - COUNT(*)/COUNT(col)/COUNT(DISTINCT coord)/MIN(coord)/MAX(coord)
  *     answered from metadata via aggregate pushdown — the DSv2-native
  *     form of the reference's two optimizer rules
  *     (/root/reference/src/optimizer/count_optimization.rs,
  *     minmax_optimization.rs)
  *   - InputPartitions of whole outer-dimension chunk slices, sized
  *     as Spark sizes file splits (the reference's single-partition
  *     scan is its main scale gap; SURVEY.md §7 step 7)
  */
class ZarrDataSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister
    with org.apache.spark.sql.sources.CreatableRelationProvider
    with org.apache.spark.sql.sources.StreamSinkProvider {

  override def shortName(): String = "zarr"

  /** `df.writeStream.format("zarr")` — per-micro-batch outer-dimension
    * append (see [[ZarrStreamSink]]). Reached through Spark's V1 sink
    * fallback: neither table flavor declares STREAMING_WRITE, so the
    * DataStreamWriter lands here. Append-mode only — a Zarr grid has
    * no notion of updating previously-emitted aggregation results. */
  override def createSink(
      sqlContext: org.apache.spark.sql.SQLContext,
      parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode): Sink = {
    require(outputMode == org.apache.spark.sql.streaming.OutputMode.Append(),
      s"Zarr streaming sink supports Append output mode only, got $outputMode " +
        "(a coordinate grid appends whole outer slabs; it cannot retract or update rows)")
    new ZarrStreamSink(parameters)
  }

  /** `load(p)` arrives as option `path`; `load(p1, p2, …)` as a JSON
    * array under `paths` (DataFrameReader's multi-path convention). */
  private def pathsOf(options: CaseInsensitiveStringMap): Seq[String] = {
    val multi = options.get("paths")
    if (multi != null && multi.nonEmpty) {
      val arr = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(multi)
      require(arr.isArray && arr.size() > 0, s"Bad zarr paths option: $multi")
      (0 until arr.size()).map(arr.get(_).asText())
    } else {
      val p = options.get("path")
      require(p != null && p.nonEmpty, "Zarr source requires a path")
      Seq(p)
    }
  }

  private def pathOf(options: CaseInsensitiveStringMap): String =
    pathsOf(options).head

  /** The metadata [[inferSchema]] read, for [[getTable]] on the same
    * path: Spark calls both on one provider instance per `load`, so the
    * store's metadata is read once per load, never kept across loads. */
  private var inferred: Option[(String, ZarrStoreMeta)] = None

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val path = pathOf(options)
    // A missing/empty target is a pending WRITE: return an empty
    // schema so DataFrameWriter.save() reaches the V1 fallback below
    // (the table carries no SupportsWrite) instead of failing here.
    if (isStore(path)) {
      val meta = ZarrMeta.readStore(path)
      inferred = Some(path -> meta)
      meta.schema
    } else new StructType()
  }

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val paths = pathsOf(new CaseInsensitiveStringMap(properties))
    val tableOptions = properties.asScala.toMap
    if (paths.length > 1) {
      // multi-store UNION read (year-per-store archives): every path
      // must be an existing store and all schemas must agree
      val metas = paths.map { p =>
        require(isStore(p), s"Zarr union read: no store at $p")
        ZarrMeta.readStore(p)
      }
      metas.tail.foreach(m => require(m.schema == metas.head.schema,
        s"Zarr union read: schema of ${m.path} (${m.schema.simpleString}) differs " +
          s"from ${metas.head.path} (${metas.head.schema.simpleString})"))
      new ZarrUnionTable(metas, tableOptions)
    } else {
      val path = paths.head
      inferred.collect { case (`path`, meta) => meta } match {
        case Some(meta) => new ZarrTable(meta, tableOptions)
        case None if isStore(path) => new ZarrTable(ZarrMeta.readStore(path), tableOptions)
        case None => new ZarrPendingWriteTable(path, schema, tableOptions)
      }
    }
  }

  /** True so `CREATE TABLE … USING zarr … AS SELECT` can hand the
    * query's schema to [[ZarrPendingWriteTable]]; an existing store's
    * own metadata still wins on read (see getTable). */
  override def supportsExternalMetadata(): Boolean = true

  /** `df.write.format("zarr")` sink. A Zarr store is a complete
    * coordinate grid, not a row-append log, so every mode maps onto a
    * full-store (re)write by [[ZarrWriter]] — which needs the whole
    * DataFrame for its coordinate pre-pass, hence the V1
    * CreatableRelationProvider hook (the same escape hatch JDBC uses)
    * rather than per-task DSv2 DataWriters.
    *
    * Options: `coords` (required, comma-separated coordinate columns,
    * outer dimension first), `chunkOuter` (outer-dim chunk extent,
    * default 1). Modes: Overwrite replaces the store; ErrorIfExists /
    * Ignore behave per contract; Append to an existing store is
    * rejected (a grid has no "more rows" end to append to). */
  override def createRelation(
      sqlContext: org.apache.spark.sql.SQLContext,
      mode: org.apache.spark.sql.SaveMode,
      parameters: Map[String, String],
      data: org.apache.spark.sql.DataFrame): org.apache.spark.sql.sources.BaseRelation = {
    import org.apache.spark.sql.SaveMode
    val params = parameters.map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }
    val path = params.getOrElse("path",
      throw new IllegalArgumentException("Zarr write requires a path"))
    val exists = isStore(path)
    // Append to an existing store extends the grid along the OUTER
    // dimension (whole new chunks, metadata shape edit) — the
    // time-series ingest path. Appending to an absent store is a
    // fresh write, per standard Spark sink semantics.
    if (mode == SaveMode.Append && exists) {
      ZarrWriter.append(data, path)
      val ctx0 = sqlContext
      return new org.apache.spark.sql.sources.BaseRelation {
        override def sqlContext: org.apache.spark.sql.SQLContext = ctx0
        override def schema: StructType = data.schema
      }
    }
    val skip = mode match {
      case SaveMode.ErrorIfExists if exists =>
        throw new IllegalStateException(s"Zarr store already exists at $path (mode ErrorIfExists)")
      case SaveMode.Ignore if exists => true
      case _ => false
    }
    if (!skip)
      ZarrDataSource.writeWithModes(data, params, replaceExisting = exists)
    val ctx = sqlContext
    new org.apache.spark.sql.sources.BaseRelation {
      override def sqlContext: org.apache.spark.sql.SQLContext = ctx
      override def schema: StructType = data.schema
    }
  }
}

object ZarrDataSource {

  /** Does a Zarr store exist at `path`? Only the not-found family maps
    * to `false`; transient IO failures (network, permissions, HTTP 5xx)
    * propagate — otherwise a blip on an EXISTING store would
    * misclassify it as absent, giving reads an empty schema and letting
    * ErrorIfExists/Ignore/Append writes proceed as if the target were
    * free. */
  private[zarr] def isStore(path: String): Boolean =
    try { ZarrMeta.detectVersion(ZarrStore.open(path)); true }
    catch {
      case _: IllegalArgumentException => false // no dir / not a Zarr store
      case _: java.io.FileNotFoundException => false
      case _: java.nio.file.NoSuchFileException => false
      case _: UnsupportedOperationException => false // listing-less backend, no metadata
    }

  /** The column a pushed V2 expression names: `Some` for a single-part
    * reference, `None` for anything else (nested field, computed
    * expression). */
  private[zarr] def colName(e: org.apache.spark.sql.connector.expressions.Expression)
      : Option[String] = e match {
    case r: NamedReference if r.fieldNames().length == 1 => Some(r.fieldNames().head)
    case _ => None
  }

  /** The one-part V2 reference to the column `name`, [[colName]]'s
    * inverse. Spark's `Expressions.column` would parse the name as SQL,
    * so a dotted coordinate name such as `lat.deg` became a two-part
    * reference to a field `deg` of a column `lat`. */
  private[zarr] def colRef(name: String): NamedReference = ColumnBridge.reference(name)

  /** [[colName]] of an expression the scan builder already accepted as
    * a column (the metadata-only aggregate scans). */
  private[zarr] def pushedCol(e: org.apache.spark.sql.connector.expressions.Expression): String =
    colName(e).getOrElse(throw new IllegalStateException(s"pushed expression $e is not a column"))

  /** A scan's read options: the table's own (`getTable`'s properties:
    * a catalog table's `OPTIONS (…)`, or the `load` options), then the
    * query's, the query's winning. */
  private[zarr] def scanOptions(table: Map[String, String],
      query: CaseInsensitiveStringMap): CaseInsensitiveStringMap = {
    def lower(m: Map[String, String]) = m.map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }
    new CaseInsensitiveStringMap((lower(table) ++ lower(query.asScala.toMap)).asJava)
  }

  /** The V1Write behind CTAS, `INSERT OVERWRITE` and `INSERT INTO`:
    * `defaults` (a table's DDL options, or an existing store's
    * coordinate order), then the write-time options, write-time
    * winning, with the path pinned to the table's. */
  private[zarr] def writeBuilder(path: String, defaults: Map[String, String],
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new org.apache.spark.sql.connector.write.WriteBuilder
      with org.apache.spark.sql.connector.write.SupportsTruncate {
      private var replace = false
      override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = {
        replace = true; this
      }
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.V1Write {
          override def toInsertableRelation: org.apache.spark.sql.sources.InsertableRelation =
            (data: org.apache.spark.sql.DataFrame, overwrite: Boolean) => {
              val params = (defaults ++ info.options.asCaseSensitiveMap().asScala.toMap ++
                Map("path" -> path)).map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }
              writeWithModes(data, params, replaceExisting = overwrite || replace)
            }
        }
    }

  /** Shared sink path for the V1 hook and the DSv2 V1Write fallback
    * (CTAS / INSERT OVERWRITE): validate options, write the full store
    * to a temp sibling via [[ZarrWriter]], swap into place on success.
    * `replaceExisting` = an existing store at the path may be replaced
    * (overwrite/truncate); plain INSERT INTO an existing store is
    * rejected — a complete grid has no append point. */
  private[zarr] def writeWithModes(data: org.apache.spark.sql.DataFrame,
      params: Map[String, String], replaceExisting: Boolean): Unit = {
    val path = params.getOrElse("path",
      throw new IllegalArgumentException("Zarr write requires a path"))
    val exists = isStore(path)
    if (exists && !replaceExisting) {
      // plain INSERT INTO an existing store = outer-dimension append
      ZarrWriter.append(data, path)
      return
    }
    val coords = params.get("coords")
      .map(_.split(",").map(_.trim).toSeq.filter(_.nonEmpty))
      .filter(_.nonEmpty)
      .getOrElse(throw new IllegalArgumentException(
        "Zarr write requires option 'coords': comma-separated coordinate columns, outer dimension first"))
    val chunkOuter = params.get("chunkouter").map(_.toInt).getOrElse(1)
    val version = params.get("zarrversion").map(_.toInt).getOrElse(2)
    val shardInner = params.get("shardinner").map(_.toInt).getOrElse(0)
    // codec name for shard inner chunks; boolean spellings kept for
    // compatibility ("true" = the original gzip behavior)
    val shardCompress = params.get("shardcompress").map {
      case "true" => "gzip"
      case "false" => "none"
      case c => c
    }.getOrElse("none")
    val compressor = params.getOrElse("compressor", "none")
    val chunkShape = params.get("chunkshape")
      .map(_.split(",").map(_.trim.toInt).toSeq).getOrElse(Nil)
    // store integral columns as unsigned dtypes: "counts:4,flags:u1"
    // (width in bytes, optional "u" prefix); reads widen back per
    // SURVEY §1.5, and every element is range-checked on write
    val uintColumns: Map[String, Int] = params.get("uintcolumns")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).map { entry =>
        entry.split(":").map(_.trim) match {
          case Array(n, w) => n -> w.stripPrefix("u").toInt
          case _ => throw new IllegalArgumentException(
            s"uintColumns entry '$entry' must be '<column>:<width-bytes>'")
        }
      }.toMap).getOrElse(Map.empty)
    if (ZarrStore.open(path).isInstanceOf[HttpStore])
      throw new UnsupportedOperationException(
        s"HTTP Zarr stores are read-only; cannot write to $path")
    // Write the new store to a temp sibling first, then swap: the
    // existing store is destroyed only after the full write succeeds,
    // so a failed job never leaves the target path half-written (or,
    // worse, deleted). All IO goes through ZarrStore, so hdfs://s3a://
    // targets write remotely, not to a bogus local dir named after
    // the URI. The suffix is unique per write so two concurrent jobs
    // targeting the same path never interleave into one temp dir
    // (last swap wins, same as any overwrite race); a killed JVM can
    // leave a .__graft_tmp_* sibling behind — harmless, never read.
    val tmpPath = path.stripSuffix("/") +
      s".__graft_tmp_${java.util.UUID.randomUUID().toString.take(8)}"
    try ZarrWriter.write(data, tmpPath, coords, chunkOuter, version, shardInner,
      shardCompress, compressor, chunkShape,
      deltaFilter = params.get("deltafilter").exists(_.toBoolean),
      uintColumns = uintColumns,
      maxDimLen = params.get("maxdimlen").map(_.toInt)
        .getOrElse(ZarrWriter.defaultMaxDimLen))
    catch { case e: Throwable =>
      try ZarrStore.open(tmpPath).deleteRecursively()
      catch { case cleanup: Exception => e.addSuppressed(cleanup) }
      throw e
    }
    // Generation-aware overwrite: when live SNAPSHOTS reference the
    // existing store, retire it to an immutable generation sibling
    // (snapshots keep time-traveling through their redirects) instead
    // of deleting it; stores without snapshots delete as before.
    if (exists && !KerchunkParquetRefs.retireGeneration(path))
      ZarrStore.open(path).deleteRecursively()
    ZarrStore.open(tmpPath).moveTo(path)
  }
}

/** Table for a path with no store yet. Declares only `V1_BATCH_WRITE`:
  * `df.write.format("zarr")` still reaches the V1 createRelation hook,
  * reads fail with a clear message, and SQL
  * `CREATE TABLE … USING zarr OPTIONS (path, coords) AS SELECT …`
  * works through the DSv2 V1Write fallback (the write itself is the
  * same whole-DataFrame [[ZarrWriter]] path — a Zarr store is a
  * complete grid needing a coordinate pre-pass, not a row-append
  * log). */
class ZarrPendingWriteTable(path: String, writeSchema: StructType,
    tableProps: Map[String, String] = Map.empty)
    extends Table
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String = s"zarr:$path (no store yet)"
  override def schema(): StructType = writeSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE)

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    ZarrDataSource.writeBuilder(path, tableProps, info)
}

class ZarrTable(meta: ZarrStoreMeta, tableOptions: Map[String, String] = Map.empty)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String = s"zarr:${meta.path}"
  override def schema(): StructType = meta.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)

  /** `INSERT OVERWRITE` = full-grid replace through the same V1Write
    * path as CTAS; coords default to the existing store's own
    * dimension order, so `INSERT OVERWRITE TABLE t SELECT …` needs no
    * options. Plain `INSERT INTO` is rejected downstream (a complete
    * grid has no append point). */
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    ZarrDataSource.writeBuilder(meta.path, Map("coords" -> meta.coordNames.mkString(",")), info)
  /** Group attributes surface as table properties (`SHOW TBLPROPERTIES`)
    * — the reference's roadmap attribute exposure. */
  override def properties(): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    meta.groupAttrs.foreach { case (k, v) => m.put(k, v) }
    m
  }
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ZarrScanBuilder(Seq(meta), ZarrDataSource.scanOptions(tableOptions, options))
}

/** UNION ALL of several same-schema stores — the "archive split into
  * one store per year" layout. Read-only; each member store keeps its
  * own pushdown planning inside the one [[ZarrScanBuilder]] (a time
  * filter prunes each store's chunk ranges independently, so a member
  * with no matching coordinates plans zero partitions — store-level
  * pruning for free). */
class ZarrUnionTable(metas: Seq[ZarrStoreMeta], tableOptions: Map[String, String] = Map.empty)
    extends Table with SupportsRead {
  override def name(): String = s"zarr-union:${metas.map(_.path).mkString(",")}"
  override def schema(): StructType = metas.head.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ZarrScanBuilder(metas, ZarrDataSource.scanOptions(tableOptions, options))
}

/** Pushdown into one store or a UNION ALL of same-schema stores: a
  * store is a union of one. Every member classifies the filters over
  * its own coordinates, and one [[ZarrScan]] plans every member's
  * partitions, so a union gets exact filters, folds, `.zstats` pruning
  * and runtime filtering like a lone store. OFFSET, the
  * coordinate-prefix top-N and key-grouped partitioning are exact only
  * over one store's row space, so a union refuses them. */
class ZarrScanBuilder(metas: Seq[ZarrStoreMeta], options: CaseInsensitiveStringMap)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters
    with SupportsPushDownLimit
    with SupportsPushDownOffset
    with SupportsPushDownTopN
    with SupportsPushDownAggregates {

  /** The schema and coordinate names, which every member shares. */
  private val meta = metas.head
  private val union = metas.length > 1

  private var requiredSchema: StructType = meta.schema
  private var pushdowns: Seq[ScanPushdown] = metas.map(_ => ScanPushdown())
  private var fold: Option[ScanFold] = None
  private var limit: Option[Long] = None
  private var offset: Long = 0L
  private var aggPushed: Option[Aggregation] = None
  /** ORDER BY <data var> [DESC] LIMIT n accepted for stats pruning. */
  private var topNVar: Option[(String, Boolean, Int)] = None

  private val fillAsNull = options.getBoolean("fillValueAsNull", false)
  private val types = meta.schema.fields.map(f => f.name -> f.dataType).toMap

  override def pruneColumns(required: StructType): Unit = requiredSchema = required

  /** Read each filter once per member ([[ScanPushdown.classify]]):
    * coordinate comparisons and IN narrow the index ranges,
    * data-variable comparisons prune `.zstats` partitions, and the
    * exact set is evaluated by the scan. A filter is exact only when
    * every member answers it exactly (a coordinate's matches may be
    * contiguous in one store and not in another). Return as post-scan
    * only what falls outside the exact set; there the reference's
    * Inexact contract still holds and Spark re-applies the filter. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val each = metas.map(ScanPushdown.classify(filters.toSeq, _, fillAsNull))
    val exact = each.map(_.exact.toSet).reduce(_ intersect _)
    pushdowns = each.map(_.keepExact(exact))
    pushdowns.head.postScan.toArray
  }

  /** A pushed data-variable predicate: the reader compacts cells away,
    * so the row space no longer maps onto output rows. */
  private def cellFiltered: Boolean = pushdowns.exists(_.cellPreds.nonEmpty)

  private def unfiltered: Boolean = pushdowns.forall(_.unfiltered)

  override def pushedFilters(): Array[Filter] =
    pushdowns.flatMap(p => p.pruning ++ p.exact).distinct.toArray

  /** LIMIT n per member: over a union a superset of LIMIT n, which
    * Spark re-limits above. */
  override def pushLimit(n: Int): Boolean = { limit = Some(n.toLong); true }
  override def isPartiallyPushed: Boolean = true

  /** OFFSET is EXACT here (Spark then drops the Offset operator): the
    * flattened grid enumerates rows in deterministic row-major order,
    * so skipping the first n row ids is precisely SQL's offset over
    * this scan. Spark pushes LIMIT as limit+offset first, so the
    * planned row window is [offset, pushedLimit). Refused over a
    * union, under a pushed data-variable predicate or under a fold:
    * row ids then no longer count output rows. */
  override def pushOffset(n: Int): Boolean =
    if (union || cellFiltered || fold.nonEmpty) false else { offset = n.toLong; true }

  /** Largest LIMIT a partition keeps in its top-N fold. */
  private val maxTopN = 65536

  /** ORDER BY + LIMIT. Partial semantics: Spark keeps its Sort+Limit
    * above; the scan only shrinks what reaches it.
    *
    * A coordinate prefix on an unfiltered single store: the row-major
    * row space IS sorted by the coordinate columns in dimension order,
    * so an all-ascending prefix's top-n is the FIRST n grid rows (push
    * as limit) and an all-descending prefix's top-n is the LAST n (push
    * as offset) — "latest k time steps" reads k slabs, not the
    * archive.
    *
    * Otherwise ORDER BY one numeric variable or coordinate: each
    * partition folds its passing cells into its n best rows. On an
    * unfiltered scan a variable with `.zstats` also prunes partitions
    * whose chunks provably cannot reach the global top-n by their
    * [min,max]: chunk C is droppable when the cells of chunks wholly ≥
    * max(C) (DESC; symmetric for ASC) already number ≥ n — the
    * statistics extension of the reference's "Top-K optimization"
    * roadmap row. */
  override def pushTopN(orders: Array[SortOrderV2], n: Int): Boolean = {
    if (limit.nonEmpty || offset != 0L || orders.isEmpty) return false
    if (!union && unfiltered && orders.length <= meta.coords.length && prefixTopN(orders, n)) return true
    if (orders.length != 1 || fillAsNull || n <= 0 || n > maxTopN) return false
    colName(orders.head.expression()).filter(c => types.get(c).exists(CellRange.numeric)).exists { name =>
      val desc = orders.head.direction() ==
        org.apache.spark.sql.connector.expressions.SortDirection.DESCENDING
      fold = Some(TopNFold(name, desc, n))
      if (unfiltered && metas.exists(_.dataVars.exists(v => v.name == name && v.chunkStats.nonEmpty)))
        topNVar = Some((name, desc, n))
      true
    }
  }

  /** index order = value order. Every key except the LAST must be
    * STRICTLY increasing: a duplicate value in a non-last key makes
    * the row-major tuple sequence unsorted by these columns, and the
    * clipped window could miss true top-n rows. */
  private def prefixTopN(orders: Array[SortOrderV2], n: Int): Boolean = {
    val prefixOk = orders.zip(meta.coords).zipWithIndex.forall { case ((o, c), i) =>
      colName(o.expression()).contains(c.meta.name) && c.ascending(strict = i < orders.length - 1)
    }
    val dirs = orders.map(_.direction()).distinct
    if (!prefixOk || dirs.length != 1) false
    else if (dirs.head == org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING) {
      limit = Some(n.toLong); true
    } else {
      offset = math.max(0L, meta.totalRows - n); true
    }
  }

  /** Metadata answers the aggregate in every member, with the
    * reference's guards (count_optimization.rs:67-148): no filters,
    * and every aggregate must be answerable (MIN/MAX on data variables
    * is not — only coordinates carry exact bounds). GROUP BY is allowed
    * when every group key is a coordinate — the grid is a full
    * Cartesian product, so per-group COUNT = Π non-grouped coordinate
    * lengths, MIN/MAX of a grouped coordinate is the group value
    * itself, and MIN/MAX of a non-grouped coordinate is its global
    * bound: all metadata, zero chunk IO (the grouped generalization of
    * the reference's two optimizer rules). */
  private def metadataAnswers(aggregation: Aggregation): Boolean = {
    val groups = aggregation.groupByExpressions()
    val groupCols = groups.flatMap(colName(_))
    groups.length == groupCols.length && unfiltered && limit.isEmpty && offset == 0L &&
      // fill→null can null out data-var cells, so metadata row counts
      // no longer answer COUNT(col) — take the real scan instead
      !fillAsNull &&
      metas.forall { m =>
        groupCols.forall(n => m.coordNames.contains(n) && uniqueCoord(m, n)) &&
          // an empty grid (zero-length coordinate — the streaming sink's
          // pre-first-append state) has no metadata bounds to answer
          // MIN/MAX with; the real (empty) scan yields the correct NULLs
          m.totalRows > 0 &&
          aggregation.aggregateExpressions().forall(answerable(m, _, groupCols.toSet))
      }
  }

  /** Complete when metadata answers one store's aggregate, or an
    * ungrouped union aggregate whose member answers combine (COUNT
    * sums, MIN/MAX combine, SUM adds exact totals, AVG = Σ totals /
    * Σ rows: "count and sum a 30-year year-per-store archive" reads 30
    * sidecars, zero chunks). COUNT(DISTINCT) does not combine (values
    * overlap across members), and an integral union SUM must fit its
    * result type. */
  override def supportCompletePushDown(aggregation: Aggregation): Boolean =
    metadataAnswers(aggregation) && (!union ||
      aggregation.groupByExpressions().isEmpty && aggregation.aggregateExpressions().forall {
        case c: Count => !c.isDistinct
        case s: Sum => colName(s.column).exists(n => !ZarrSums.isIntegral(meta, n) ||
          ZarrSums.fitsLong(metas.map(ZarrSums.totalFor(_, n).get)
            .foldLeft(java.math.BigDecimal.ZERO)(_.add(_))))
        case _ => true
      })

  /** Complete when [[supportCompletePushDown]]. A grouped union
    * aggregate metadata answers is pushed PARTIALLY ([[mergesByKey]]):
    * the scan emits every member's per-group answers and Spark's final
    * aggregate merges them by key on executors. Otherwise PARTIAL when
    * every partition can fold it ([[partialAgg]]): Spark then merges
    * the partitions' partial rows in its final aggregate. */
  override def pushAggregation(aggregation: Aggregation): Boolean =
    if (supportCompletePushDown(aggregation) || union && mergesByKey(aggregation)) {
      aggPushed = Some(aggregation); true
    } else partialAgg(aggregation).exists { f => fold = Some(f); true }

  /** A grouped union aggregate whose member answers Spark's final
    * aggregate merges by key: SUM re-adds counts and sums, MIN/MAX
    * re-combine bounds, in a shuffle sized to members × groups, so no
    * driver structure scales with the group count. Optimizer-time work
    * stops at answerability (Catalyst probes pushdown for plans it may
    * discard — per-probe sidecar folds were a planning-cost
    * scale-killer): the member group totals are folded only when the
    * scan plans its partitions. */
  private def mergesByKey(aggregation: Aggregation): Boolean =
    aggregation.groupByExpressions().nonEmpty && groupsBounded(aggregation) &&
      metadataAnswers(aggregation) && mergeable(aggregation)

  /** Group-count planner heuristic: each member's grouped answers fold
    * its sidecar per-chunk map at planInputPartitions — driver
    * planning work proportional to the group count. The guard bounds
    * that PLANNING cost (execution memory is Spark's shuffle, not
    * ours). Exact arithmetic: an overflowed product must count as
    * unbounded, not wrap past the guard. */
  private def groupsBounded(aggregation: Aggregation): Boolean =
    try {
      metas.map { m =>
        aggregation.groupByExpressions().flatMap(colName).map(n =>
          m.coords.find(_.meta.name == n).map(_.length.toLong)
            .getOrElse(throw new ArithmeticException("not a coordinate")))
          .foldLeft(1L)(Math.multiplyExact)
      }.foldLeft(0L)(Math.addExact) <= (1L << 20)
    } catch { case _: ArithmeticException => false }

  /** Agg kinds must be mergeable by Spark's final aggregation (SUM over
    * counts/sums, MIN/MAX over bounds), counts must fit Long (Σ member
    * rows), and integral sums must PROVABLY fit Long — Spark's
    * non-ANSI Long SUM would wrap silently. The sum bound is
    * |Σ_m t_m(g)| ≤ Σ_m max_g |t_m(g)| over each member's sidecar
    * group totals — sound no matter how member group keys align, and
    * slightly conservative: a near-overflow union falls back to the
    * real scan; results are identical either way. */
  private def mergeable(agg: Aggregation): Boolean = {
    val kindsOk = agg.aggregateExpressions().forall {
      case _: CountStar => true
      case c: Count => !c.isDistinct
      case _: Min | _: Max => true
      case s: Sum => !s.isDistinct
      case _ => false
    }
    if (!kindsOk) return false
    try metas.map(_.totalRows).foldLeft(0L)(Math.addExact)
    catch { case _: ArithmeticException => return false }
    val groupNames = agg.groupByExpressions().toSeq.flatMap(colName(_))
    agg.aggregateExpressions().forall {
      case s: Sum => colName(s.column).exists { n =>
        !ZarrSums.isIntegral(meta, n) || {
          var bound = java.math.BigDecimal.ZERO
          metas.forall { m =>
            val dims = groupNames.map(m.coordNames.indexOf)
            ZarrSums.groupTotals(m, n, dims) match {
              case Some((totals, dflt)) =>
                val maxAbs = (totals.valuesIterator ++ Iterator(dflt))
                  .map(_.abs).foldLeft(java.math.BigDecimal.ZERO)(_.max(_))
                bound = bound.add(maxAbs)
                true
              case None => false
            }
          } && ZarrSums.fitsLong(bound)
        }
      }
      case _ => true
    }
  }

  /** Explicit partition sizes in rows: the merge floor and the split
    * cap. Unset, [[ZarrScan]] sizes partitions by the bytes they read. */
  private val minRowsPerPartition = Option(options.get("minRowsPerPartition")).map(_.toLong)
  private val maxRowsPerPartition = Option(options.get("maxRowsPerPartition")).map(_.toLong)

  /** The most groups a partition folds: the explicit split cap, else
    * 262,144. */
  private val maxFoldGroups = maxRowsPerPartition.getOrElse(262144L)

  /** COUNT, MIN/MAX of numeric columns and SUM of float columns (AVG
    * arrives split into SUM and COUNT), grouped by numeric coordinates,
    * without DISTINCT. A partition folds into one slot per group its
    * rows can reach, so the groups may number at most
    * [[maxFoldGroups]] in every member. */
  private def partialAgg(aggregation: Aggregation): Option[AggFold] = {
    if (fillAsNull || limit.nonEmpty || offset != 0L) return None
    def numericCol(n: String) = types.get(n).exists(CellRange.numeric)
    val groups = aggregation.groupByExpressions().toSeq.map(colName(_))
    val names = groups.flatten
    val groupsOk = groups.forall(_.isDefined) && names.distinct.length == names.length &&
      names.forall(n => meta.coordNames.contains(n) && numericCol(n)) &&
      metas.forall(m => names.map(n => m.coords(m.coordNames.indexOf(n)).length.toLong)
        .foldLeft(1L)((a, b) => math.min(a * b, maxFoldGroups + 1)) <= maxFoldGroups)
    val aggs = aggregation.aggregateExpressions().toSeq.map {
      case _: CountStar => Some(FoldCount)
      case c: Count if !c.isDistinct => colName(c.column).filter(numericCol).map(_ => FoldCount)
      case m: Min => colName(m.column).filter(numericCol).map(FoldMin)
      case m: Max => colName(m.column).filter(numericCol).map(FoldMax)
      case s: Sum if !s.isDistinct => colName(s.column)
        .filter(n => types.get(n).exists(t => t == FloatType || t == DoubleType))
        .map(FoldSum)
      case _ => None
    }
    if (groupsOk && aggs.forall(_.isDefined)) Some(AggFold(names, aggs.flatten)) else None
  }

  private def numericCoord(m: ZarrStoreMeta, name: String): Boolean =
    m.coords.exists(c => c.meta.name == name && c.meta.dtype.kind != 'S')

  /** Coordinate values are usually unique but Zarr doesn't enforce it;
    * group-key and COUNT(DISTINCT) answers from metadata are only
    * exact when they are. */
  private def uniqueCoord(m: ZarrStoreMeta, name: String): Boolean =
    m.coords.find(_.meta.name == name).exists { c =>
      c.raw match {
        case a: Array[String] => a.distinct.length == a.length
        case _ => c.doubles.distinct.length == c.doubles.length
      }
    }

  private def answerable(m: ZarrStoreMeta, f: AggregateFunc, grouped: Set[String]): Boolean = f match {
    case _: CountStar => true
    case c: Count if !c.isDistinct => colName(c.column).exists(m.schema.fieldNames.contains)
    // COUNT(DISTINCT c) per group: c grouped → 1 per group is correct
    // but Spark plans distinct aggregates differently — keep the
    // reference behavior and answer only non-grouped coordinates
    case c: Count if c.isDistinct =>
      colName(c.column).exists(n =>
        m.coordNames.contains(n) && !grouped(n) && uniqueCoord(m, n))
    case a: Min => colName(a.column).exists(n => numericCoord(m, n) || grouped(n))
    case a: Max => colName(a.column).exists(n => numericCoord(m, n) || grouped(n))
    // Chunk-level SUM/AVG pushdown (the reference's roadmap "Aggregate
    // pushdown (push SUM/AVG/COUNT to chunk level)", README.md:298):
    // data-variable totals from the `.zstats` sum partials, coordinate
    // totals from the eagerly-loaded coordinate values — both zero
    // chunk IO. Ungrouped only (per-group sums would need the chunk
    // grid aligned with the group dimensions).
    case s: Sum if !s.isDistinct && grouped.isEmpty =>
      colName(s.column).exists(n => ZarrSums.totalFor(m, n).exists(t =>
        !ZarrSums.isIntegral(m, n) || ZarrSums.fitsLong(t)))
    case a: Avg if !a.isDistinct && grouped.isEmpty =>
      colName(a.column).exists(n => ZarrSums.totalFor(m, n).isDefined)
    // GROUPED SUM/AVG (the marquee `GROUP BY time, SUM(temperature)`
    // shape): answerable from the sidecar when the variable's chunk
    // extent is 1 along every grouped dim — each chunk then belongs
    // to exactly one group (the typical time-chunked layout).
    case s: Sum if !s.isDistinct =>
      colName(s.column).exists { n =>
        val dims = grouped.toSeq.map(m.coordNames.indexOf)
        ZarrSums.groupTotals(m, n, dims).exists { case (totals, dflt) =>
          !ZarrSums.isIntegral(m, n) ||
            (totals.valuesIterator ++ Iterator(dflt)).forall(ZarrSums.fitsLong)
        }
      }
    case a: Avg if !a.isDistinct =>
      colName(a.column).exists { n =>
        val dims = grouped.toSeq.map(m.coordNames.indexOf)
        ZarrSums.groupTotals(m, n, dims).isDefined
      }
    case _ => false
  }

  override def build(): Scan = aggPushed match {
    case Some(agg) => new ZarrAggScan(metas, agg)
    case None =>
      new ZarrScan(metas, requiredSchema, pushdowns, fold, limit,
        minRowsPerPartition,
        fillAsNull,
        options.getInt("chunkCacheEntries", 0),
        offset,
        maxRowsPerPartition = maxRowsPerPartition,
        // read-ahead defaults ON for remote backends (each chunk costs
        // a round trip there) and OFF for local files; explicit option
        // wins either way
        prefetch = Option(options.get("prefetch")).map(_.toBoolean)
          .getOrElse(metas.exists(m => !ZarrStore.open(m.path).isInstanceOf[LocalStore])),
        startingOffsetLatest =
          Option(options.get("startingOffset")).exists(_.equalsIgnoreCase("latest")),
        keyByOuter = options.getBoolean("partitionByOuter", false),
        maxPartitions = options.getInt("maxPartitions", 32768),
        topNVar = topNVar,
        maxSlabsPerTrigger = options.getLong("maxSlabsPerTrigger", 0L),
        session = SparkSession.active)
  }
}

/** Chunk scan of one store or a UNION ALL of same-schema stores: each
  * member's filtered/limited flattened grid, partitioned along its
  * outer-dimension chunk boundaries. */
class ZarrScan(
    metas: Seq[ZarrStoreMeta],
    requiredSchema: StructType,
    /** Each member's classified filters. */
    pushdowns: Seq[ScanPushdown],
    /** What every partition folds its passing cells into, if anything. */
    fold: Option[ScanFold],
    limit: Option[Long],
    /** Explicit merge floor and split cap in rows (read options
      * `minRowsPerPartition`/`maxRowsPerPartition`); each one unset is
      * Spark's file split size over the scan's bytes per row. */
    minRowsPerPartition: Option[Long],
    fillAsNull: Boolean = false,
    chunkCacheEntries: Int = 0,
    offset: Long = 0L,
    maxRowsPerPartition: Option[Long] = None,
    prefetch: Boolean = false,
    startingOffsetLatest: Boolean = false,
    keyByOuter: Boolean = false,
    /** Hard ceiling on planned partitions: past it the per-partition
      * row target scales up instead (trillion-row grids must not plan
      * millions of task objects — the scheduler and the driver heap
      * are the bottleneck before the executors are). */
    maxPartitions: Int = 32768,
    /** ORDER BY <data var> [DESC] LIMIT n — `.zstats` TopN pruning. */
    topNVar: Option[(String, Boolean, Int)] = None,
    /** Streaming admission control: outer slabs per micro-batch. */
    maxSlabsPerTrigger: Long = 0L,
    /** The session whose file-split settings size the partitions. */
    @transient session: SparkSession)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeV2Filtering
    with SupportsReportPartitioning with SupportsReportOrdering {

  /** The schema and coordinate names, which every member shares. */
  private val meta = metas.head
  private val union = metas.length > 1

  /** Member store paths, for per-member attribution in union
    * diagnostics. */
  private[graft] def storePaths: Seq[String] = metas.map(_.path)

  /** Partitions of a union carry their member ordinal, so task IO also
    * lands in the per-member metric counters. */
  private val members = metas.zip(pushdowns).zipWithIndex.map { case ((m, p), i) =>
    new Member(m, p, if (union) i else -1)
  }

  /** The partial aggregate the scan folds, if any: [[ZarrFoldMerge]]
    * merges its rows on the driver. */
  private[zarr] val aggFold = fold.collect { case a: AggFold => a }

  /** Join-driven runtime pruning: accept IN/= predicates on coordinate
    * columns and shrink each dimension to the bounding index range of
    * the matched values — a superset is safe because the join itself
    * re-filters (same posture as DPP on file sources). */
  override def filterAttributes(): Array[NamedReference] =
    // only NUMERIC coordinates surviving column pruning: Spark resolves
    // these against the scan's (pruned) output; string coords live in
    // index space and are not runtime-filterable by value. With a
    // pushed OFFSET, runtime narrowing would change which rows the
    // offset skips (row ids are relative to the planned ranges), so
    // dynamic pruning is disabled for that — pathological — shape.
    // Key-grouped mode pins the partition list at planning time
    // (reported numPartitions must match), so it opts out too.
    if (offset > 0L || keyGrouped || fold.nonEmpty) Array.empty
    else meta.coords.filter(c => c.meta.dtype.kind != 'S')
      .map(_.meta.name).filter(requiredSchema.fieldNames.contains)
      .map(colRef).toArray

  override def filter(predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    val coordIdx = meta.coordNames.zipWithIndex.toMap
    predicates.foreach { p =>
      val children = p.children()
      val dimOpt = children.headOption.flatMap(colName).flatMap(coordIdx.get)
      val values = children.drop(1).collect {
        case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
          l.value() match {
            case n: java.lang.Number => Some(n.doubleValue())
            case _ => None
          }
      }.flatten
      if ((p.name() == "IN" || p.name() == "=") && dimOpt.isDefined &&
          values.length == children.length - 1)
        members.foreach(_.narrow(dimOpt.get, values))
    }
    invalidatePlannedPartitions() // ranges changed — re-plan
  }

  /** A partial aggregate emits its group coordinates, then one column
    * per aggregate in the types Spark's final aggregate merges. */
  override def readSchema(): StructType = aggFold match {
    case None => requiredSchema
    case Some(a) => StructType(
      a.groupBy.map(n => StructField(n, meta.schema(n).dataType, nullable = false)) ++
        a.aggs.zipWithIndex.map {
          case (FoldCount, i) => StructField(s"count_$i", LongType, nullable = false)
          case (FoldSum(_), i) => StructField(s"sum_$i", DoubleType, nullable = true)
          case (FoldMin(c), i) => StructField(s"min_$i", meta.schema(c).dataType, nullable = true)
          case (FoldMax(c), i) => StructField(s"max_$i", meta.schema(c).dataType, nullable = true)
        })
  }

  /** Key-grouped ("storage-partitioned") mode, read option
    * `partitionByOuter`, is active when requested AND the shape allows
    * it: one partition per outer index, each tagged with its outer
    * coordinate value, so `groupBy(outer)` and same-grid joins need NO
    * shuffle (Spark's storage-partitioned execution,
    * `spark.sql.sources.v2.bucketing.enabled`). A folded aggregate
    * needs neither (its partial rows merge on the driver,
    * [[ZarrFoldMerge]]); what still needs it is a GROUP BY the scan
    * cannot fold — `z1_zarr_group_agg`'s integral SUM — and same-grid
    * joins. Guards: one store (a union's members may repeat a key),
    * the outer coordinate must be projected (it is the key), strictly
    * increasing (distinct key per partition), numeric, and no
    * limit/offset (their row clipping crosses partition keys). */
  private val keyGrouped: Boolean =
    keyByOuter && !union && limit.isEmpty && offset == 0L && fold.isEmpty && meta.coords.nonEmpty &&
      requiredSchema.fieldNames.contains(meta.coordNames.head) &&
      meta.coords.head.ascending(strict = true)

  private lazy val plannedPartitionCount: Int = planInputPartitions().length

  /** A lone store's scan of at most one partition, not key-grouped:
    * [[ZarrDriverRead]] reads it on the driver when collected. */
  private[zarr] def readsOnDriver: Boolean =
    !union && !keyGrouped && planInputPartitions().length <= 1

  override def outputPartitioning(): org.apache.spark.sql.connector.read.partitioning.Partitioning =
    members.head.ranges match {
      case Some(r) if keyGrouped =>
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          Array(ColumnBridge.identity(meta.coordNames.head)), r.head._2 - r.head._1)
      case _ => new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(
        plannedPartitionCount)
    }

  /** The flattened grid enumerates rows in row-major order, so within
    * every partition rows are sorted by the coordinate columns in
    * dimension order — declared for the longest prefix of projected
    * numeric coordinates whose values are STRICTLY increasing (a
    * duplicate value makes the deeper tuple sequence re-start and the
    * prefix is no longer sorted); the last declared key alone may be
    * merely non-decreasing, so compute the strict prefix and extend it
    * by one non-strict coordinate when possible. A partition reads one
    * member, so a union declares the shortest prefix of its members. */
  override def outputOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    if (fold.nonEmpty) return Array.empty
    val names = requiredSchema.fieldNames.toSet
    def eligible(c: CoordData, strict: Boolean): Boolean =
      names.contains(c.meta.name) && c.ascending(strict)
    val keys = metas.map { m =>
      val strict = m.coords.takeWhile(eligible(_, strict = true)).length
      if (strict < m.coords.length && eligible(m.coords(strict), strict = false)) strict + 1 else strict
    }.min
    meta.coordNames.take(keys).map(n => Expressions.sort(colRef(n),
      org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)).toArray
  }

  override def toBatch: Batch = this

  /** `spark.readStream.format("zarr")`: the store's outer dimension is
    * the stream — each micro-batch covers the slabs the append sink
    * added since the last trigger. Spark 4.1 pushes no filter into a
    * micro-batch scan (its Filter stays above it), so only column
    * pruning arrives here; coordinate bounds, were any pushed, are
    * re-evaluated per batch against the grown coordinate arrays. An
    * exact filter would have left Spark without its Filter, which the
    * micro-batch does not evaluate, so it is refused. Limit/offset/agg
    * pushdown don't arise on streaming plans, nor unions (their table
    * reads in batch only). Option `startingOffset=latest` skips the
    * pre-existing grid. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    val pushdown = pushdowns.head
    if (pushdown.exact.nonEmpty)
      throw new IllegalStateException(s"Exact filters pushed into a micro-batch scan: ${pushdown.exact}")
    new ZarrMicroBatchStream(meta.path, requiredSchema, pushdown.coordBounds,
      minRowsPerPartition.getOrElse(ZarrMicroBatchStream.minRowsPerPartition),
      fillAsNull, chunkCacheEntries, prefetch,
      startFromLatest = startingOffsetLatest,
      maxRowsPerPartition = maxRowsPerPartition.getOrElse(ZarrMicroBatchStream.maxRowsPerPartition),
      maxSlabsPerTrigger = maxSlabsPerTrigger)
  }

  /** Each member's `ZarrScan path=…` line; a union's are joined as
    * `ZarrUnionScan(… UNION …)`. */
  override def description(): String = {
    val covered = planInputPartitions().map {
      case p: ZarrInputPartition => p
      case k: ZarrKeyedInputPartition => k.p
    }.groupMapReduce(_.memberIdx)(p => p.rowEnd - p.rowStart)(_ + _)
    val each = members.map(m => m.description(covered.getOrElse(m.idx, 0L)))
    if (union) s"ZarrUnionScan(${each.mkString(" UNION ")})" else each.head
  }

  /** Planned partitions are cached: Spark asks for the partition list
    * more than once (outputPartitioning sizing + the actual plan),
    * and each planning pass re-runs slice merging plus per-slice
    * chunk-stats pruning. Runtime filtering mutates the ranges, so
    * [[filter]] invalidates the cache. */
  @transient private var cachedPartitions: Array[InputPartition] = _

  private[zarr] def invalidatePlannedPartitions(): Unit = { cachedPartitions = null; cachedStats = null }

  override def planInputPartitions(): Array[InputPartition] = {
    if (cachedPartitions == null) cachedPartitions = computePartitions()
    cachedPartitions
  }

  /** Partitions are sized as Spark sizes file splits
    * (`FilePartition.maxSplitBytes`): the bytes the scan reads, over
    * every member, spread across the session's cores
    * (`spark.sql.files.minPartitionNum`, else the leaf-node default
    * parallelism), at least `spark.sql.files.openCostInBytes` and at
    * most `spark.sql.files.maxPartitionBytes` per partition. */
  private def computePartitions(): Array[InputPartition] = {
    val splitBytes = FilePartition.maxSplitBytes(session, members.map(_.selectedBytes).sum)
    val parts = members.flatMap(_.partitions(splitBytes)).toArray
    // an ungrouped aggregate has exactly one row even over no rows:
    // Spark merges partial COUNTs with SUM, which no rows would make NULL
    if (parts.isEmpty && aggFold.exists(_.groupBy.isEmpty))
      Array(members.head.partition(meta.coords.map(c => (0, c.length)).toArray))
    else parts
  }

  /** Logical (edge-clipped) cell count of a chunk. */
  private def logicalCells(m: ZarrArrayMeta, ci: Seq[Long]): Long =
    m.shape.zip(m.chunks).zip(ci).map { case ((s, c), i) =>
      math.max(0L, math.min(c.toLong, s - i * c))
    }.product

  /** One member store's share of the scan: its ranges and its
    * partitions, tagged `idx` (−1 for a lone store). */
  private final class Member(val meta: ZarrStoreMeta, pushdown: ScanPushdown, val idx: Int) {

    /** Pruning ranges, narrowed on each exactly-filtered dim to its
      * exact match interval, and at runtime by [[narrow]] (DSv2
      * dynamic pruning: Spark pushes the build side's join-key values
      * before re-planning partitions). */
    @volatile var ranges: Option[GridMath.Ranges] =
      GridMath.coordRangesPred(meta.coords.map(_.doubles), pushdown.coordBounds).flatMap { r =>
        val n = pushdown.intervals.foldLeft(r) { case (acc, (d, (lo, hi))) =>
          acc.updated(d, (math.max(acc(d)._1, lo), math.min(acc(d)._2, hi)))
        }
        if (n.exists { case (lo, hi) => lo >= hi }) None else Some(n)
      }

    def filteredRows: Long = ranges.map(GridMath.totalRows).getOrElse(0L)

    /** Data-variable predicates compact rows away in the reader. */
    private val cellPreds = pushdown.cellPreds
    private val varBounds = pushdown.varBounds

    /** Shrink dim `d` to the bounding index range of `values`. */
    def narrow(d: Int, values: Seq[Double]): Unit = ranges = ranges.flatMap { r =>
      val hits = values.map(v =>
        GridMath.findCoordIndex(meta.coords(d).doubles, v)).filter(_ >= 0)
      if (hits.isEmpty) None
      else {
        val lo = math.max(r(d)._1, hits.min)
        val hi = math.min(r(d)._2, hits.max + 1)
        if (lo >= hi) None
        else Some(r.updated(d, (lo, hi)))
      }
    }

    /** `rows=F of T`: the grid rows the planned partitions cover (after
      * range, `.zstats`, limit/offset and runtime pruning) of the whole
      * grid's — the reference's per-scan `reduction_pct`. */
    def description(covered: Long): String = {
      val r = ranges.map(_.map { case (s, e) => s"[$s,$e)" }.mkString(",")).getOrElse("EMPTY")
      val total = meta.totalRows
      val pruned = if (total == 0) 0.0 else 100.0 * (total - covered) / total
      val folded = fold.map(f => s" $f").getOrElse("")
      val statsTopN = topNVar.map(_ => " (.zstats pruned)").getOrElse("")
      f"ZarrScan path=${meta.path} rows=$covered of $total ($pruned%.1f%% pruned) ranges=$r " +
        s"limit=${limit.getOrElse(-1L)} offset=$offset$folded$statsTopN " +
        s"pruneFilters=[${pushdown.pruning.mkString(", ")}] " +
        s"exactFilters=[${pushdown.exact.mkString(", ")}] postScan=[${pushdown.postScan.mkString(", ")}]"
    }

    /** Columns each partition reads: the emitted ones first (none for a
      * partial aggregate, which emits its own), then those only the
      * predicates and the fold need. */
    private lazy val readNames: Seq[String] = {
      val out = if (aggFold.isDefined) Nil else requiredSchema.fieldNames.toSeq
      val foldCols = fold.toSeq.flatMap {
        case a: AggFold => a.aggs.flatMap(_.col)
        case t: TopNFold => Seq(t.col)
      }
      out ++ (foldCols ++ cellPreds.map(_._1)).distinct.filterNot(out.contains)
    }

    /** The partition template carrying the pushdown: the slice bounds
      * are filled in per partition. */
    def partition(r: GridMath.Ranges): ZarrInputPartition =
      ZarrInputPartition(meta.path, 0L, 0L, r, meta.coords, meta.projection(readNames),
        fillAsNull, chunkCacheEntries, prefetch,
        memberIdx = idx,
        preds = cellPreds.map { case (n, cr) => CellPred(n, cr) },
        fold = fold,
        outCols = if (aggFold.isDefined) 0 else requiredSchema.length,
        rowLimit = if (cellPreds.nonEmpty) limit.getOrElse(-1L) else -1L)

    /** Decoded bytes of one row of the columns the reader reads (at
      * least 1: a read of no column still walks its rows). */
    private lazy val bytesPerRow: Long =
      math.max(1L, readNames.map(n => meta.schema(n).dataType.defaultSize.toLong).sum)

    /** A LIMIT under a data-variable predicate counts emitted rows in
      * each partition, so it cannot clip the row space. */
    private def rowSpaceLimit: Option[Long] = if (cellPreds.isEmpty) limit else None

    /** Whether the outer-chunk slab of rows `[s, e)` may hold wanted
      * rows: not wholly before the pushed OFFSET, and not pruned by its
      * chunks' `.zstats`. Pruning is decided slab by slab, before slabs
      * merge into partitions. */
    private def slabWanted(r: GridMath.Ranges)(s: Long, e: Long): Boolean =
      e > offset && sliceMayMatch(s, e, r) && sliceMayReachTopN(s, e, r)

    /** The rows the partitions can cover: the row space after range,
      * limit, offset and `.zstats` pruning. */
    private def selectedRows(r: GridMath.Ranges): Long =
      GridMath.partitionSlices(r, meta.chunkExtents.head, rowSpaceLimit, 0L, keep = slabWanted(r))
        .map { case (s, e) => e - math.max(s, offset) }.sum

    def selectedBytes: Long = ranges.map(selectedRows(_) * bytesPerRow).getOrElse(0L)

    /** Partitions of at most `splitBytes` each, unless the read options
      * set the rows. */
    def partitions(splitBytes: Long): Array[InputPartition] =
      ranges.map(slices(_, math.max(1L, splitBytes / bytesPerRow))).getOrElse(Array.empty[InputPartition])

    private def slices(r: GridMath.Ranges, splitRows: Long): Array[InputPartition] = {
      val template = partition(r)
      if (keyGrouped) {
        // one partition per outer index, tagged with its coordinate
        // value (HasPartitionKey) — stats pruning must NOT drop
        // partitions here (the reported key list is the partition list)
        val innerRows = r.drop(1).foldLeft(1L) { case (a, (s, e)) => a * (e - s) }
        val outerRaw = meta.coords.head.raw
        (r.head._1 until r.head._2).map { o =>
          val key = ChunkCodec.elementAt(outerRaw, o) match {
            case s: String => org.apache.spark.unsafe.types.UTF8String.fromString(s)
            case v => v
          }
          ZarrKeyedInputPartition(
            template.copy(rowEnd = innerRows, ranges = r.updated(0, (o, o + 1))),
            new GenericInternalRow(Array[Any](key))): InputPartition
        }.toArray
      } else {
      // partition-count ceiling: when the selected row space divided
      // by the row cap would exceed maxPartitions, raise BOTH the
      // merge floor and the split cap to the per-partition target —
      // a 10^12-row grid plans ~maxPartitions chunk-aligned slices,
      // not millions
      val selected = selectedRows(r)
      val target =
        if (maxPartitions > 0) (selected + maxPartitions - 1) / maxPartitions else 0L
      val extents = meta.chunkExtents
      GridMath.partitionSlices(r, extents.head, rowSpaceLimit,
        math.max(minRowsPerPartition.getOrElse(splitRows), target), innerChunks = extents,
        // split cap at 2× the raised floor: slices merge up to the
        // target and stop short of twice it
        maxRowsPerPartition = math.max(maxRowsPerPartition.getOrElse(splitRows), 2 * target),
        keep = slabWanted(r),
        // a split derived from bytes never cuts a chunk in two; the
        // explicit option is a hard cap
        hardCap = maxRowsPerPartition.isDefined)
        // pushed OFFSET clips the leading rows of the (deterministic,
        // row-major) row space; slices are global row-id ranges, so a
        // plain clip is exact
        .flatMap { case (s0, e0) =>
          val s1 = math.max(s0, offset)
          if (s1 < e0) Some((s1, e0)) else None
        }
        .map(s => template.copy(rowStart = s._1, rowEnd = s._2): InputPartition)
        .toArray
      }
    }

    /** For ORDER BY v [DESC] LIMIT n: the pruning threshold τ = the
      * largest x such that chunks wholly ≥ x (min ≥ x under DESC; the
      * sign flip below makes ASC the same "largest first" problem) hold
      * ≥ n logical cells. The global n-th best value is then ≥ τ, so a
      * chunk whose BEST cell is strictly below τ cannot contribute —
      * and the kept chunks alone still guarantee n cells ≥ τ, so ties
      * at τ are safe (no mutual elimination: a tied chunk has
      * best = τ, not < τ, and is kept). Over a union each member's τ
      * bounds the union's n-th best too. */
    private lazy val topNThreshold: Option[(ZarrArrayMeta, Double, Boolean)] =
      topNVar.flatMap { case (name, desc, n) =>
        meta.dataVars.find(_.name == name).map { m =>
          // an entry whose key is not one of m's chunks counts no cells
          val entries = m.chunkStats.toArray.flatMap { case (key, (mn, mx)) =>
            val g = if (desc) mn else -mx // guarantee key (worst cell, flipped)
            m.chunkIndex(key).map(ci => (g, logicalCells(m, ci)))
          }.filter(e => !e._1.isNaN).sortBy(-_._1)
          var tau = Double.NegativeInfinity
          var cells = 0L
          var i = 0
          while (i < entries.length && tau.isNegInfinity) {
            cells += entries(i)._2
            if (cells >= n) tau = entries(i)._1
            i += 1
          }
          (m, tau, desc)
        }
      }

    /** A slice survives unless EVERY chunk it covers is provably outside
      * the top-n. */
    private def sliceMayReachTopN(rowStart: Long, rowEnd: Long, r: GridMath.Ranges): Boolean =
      topNThreshold match {
        case None => true
        case Some((_, tau, _)) if tau.isNegInfinity => true
        case Some((m, tau, desc)) =>
          anyCoveredChunk(m, rowStart, rowEnd, r) { case (mn, mx) =>
            val best = if (desc) mx else -mn // candidate's best, flipped
            !(best < tau) // NaN compares false — kept
          }
      }

    /** Statistics-based partition pruning for pushed data-variable
      * predicates: a slice is dropped only if, for some predicated
      * variable, EVERY chunk the slice covers provably fails the
      * predicate conjunction by its `.zstats` [min,max]. */
    private def sliceMayMatch(rowStart: Long, rowEnd: Long, r: GridMath.Ranges): Boolean = {
      // NaN stats (a chunk holding NaN cells) prove nothing
      def possible(p: GridMath.CoordPred, mn: Double, mx: Double): Boolean = mn.isNaN || mx.isNaN || (p match {
        case GridMath.CoordPred.Eq(t) => t >= mn - 1e-9 && t <= mx + 1e-9
        case GridMath.CoordPred.Gt(t, orEq) => if (orEq) mx >= t else mx > t
        case GridMath.CoordPred.Lt(t, orEq) => if (orEq) mn <= t else mn < t
        case GridMath.CoordPred.InSet(vs) => vs.exists(t => t >= mn - 1e-9 && t <= mx + 1e-9)
      })
      varBounds.forall { case (name, preds) =>
        meta.dataVars.find(_.name == name).forall(m => anyCoveredChunk(m, rowStart, rowEnd, r) {
          case (mn, mx) => preds.forall(p => possible(p, mn, mx))
        })
      }
    }

    /** Whether some chunk of `m` covered by the slice `[rowStart,
      * rowEnd)` may hold wanted cells by its `.zstats` [min,max]
      * (`keep`). A chunk without a stats entry (absent or unstatted)
      * is always kept — never prune blind — and a slice covering more
      * than 1024 chunks is kept without enumerating them. */
    private def anyCoveredChunk(m: ZarrArrayMeta, rowStart: Long, rowEnd: Long,
        r: GridMath.Ranges)(keep: ((Double, Double)) => Boolean): Boolean = {
      val idx = new Array[Int](r.length)
      GridMath.rowToIndices(rowStart, r, idx); val o0 = idx(0)
      GridMath.rowToIndices(rowEnd - 1, r, idx); val o1 = idx(0)
      val (c0, c1) = (o0 / m.chunks.head, o1 / m.chunks.head + 1)
      (c1 - c0).toLong * m.chunkGrid.tail.product > 1024 ||
        m.chunkIndices(c0, c1).exists(ci => m.chunkStats.get(m.chunkKey(ci)).forall(keep))
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = new ZarrReaderFactory

  /** Exact statistics from metadata
    * (/root/reference/src/datasource/zarr.rs:191-254): filtered row
    * count; per-coordinate min/max/distinct/nullCount of a lone store. */
  override def estimateStatistics(): Statistics = {
    if (cachedStats == null) cachedStats = computeStatistics()
    cachedStats
  }

  /** The statistics of the planned partitions: computed once, as both
    * Spark and [[ZarrFoldMerge]] ask, and again after [[filter]]. */
  @transient private var cachedStats: Statistics = _

  private def computeStatistics(): Statistics = {
    val rowWidth = math.max(8,
      readSchema().fields.map(_.dataType.defaultSize).sum)
    val scanned = members.map(m => math.max(0L,
      limit.map(math.min(_, m.filteredRows)).getOrElse(m.filteredRows) - offset)).sum
    // a fold emits at most its groups (or n rows) per partition
    val rows = fold match {
      case Some(a: AggFold) =>
        val groups = metas.map(m =>
          a.groupBy.map(n => m.coords(m.coordNames.indexOf(n)).length.toLong).product).max
        math.max(1L, math.min(scanned, groups * plannedPartitionCount))
      case Some(t: TopNFold) => math.min(scanned, t.n.toLong * plannedPartitionCount)
      case None => scanned
    }
    val colStats = new java.util.HashMap[NamedReference, ColumnStatistics]()
    if (!union) meta.coords.foreach { c =>
      if (requiredSchema.fieldNames.contains(c.meta.name) && c.meta.dtype.kind != 'S') {
        colStats.put(colRef(c.meta.name), new ZarrColumnStats(c))
      }
    }
    new Statistics {
      override def sizeInBytes(): OptionalLong = OptionalLong.of(rows * rowWidth)
      override def numRows(): OptionalLong = OptionalLong.of(rows)
      override def columnStats(): java.util.Map[NamedReference, ColumnStatistics] = colStats
    }
  }

  override def supportedCustomMetrics(): Array[CustomMetric] =
    Array[CustomMetric](new ZarrBytesReadMetric, new ZarrChunksDecodedMetric, new ZarrRowsOutMetric) ++
      members.filter(_.idx >= 0).flatMap(m => Seq(
        new ZarrMemberMetric("zarrBytesRead", m.idx),
        new ZarrMemberMetric("zarrChunksDecoded", m.idx)))
}

private class ZarrColumnStats(c: CoordData) extends ColumnStatistics {
  private def typedAt(d: Double): java.util.Optional[Object] = {
    val i = GridMath.findCoordIndex(c.doubles, d)
    if (i < 0) java.util.Optional.empty()
    else java.util.Optional.of(ChunkCodec.elementAt(c.raw, i).asInstanceOf[Object])
  }
  override def distinctCount(): OptionalLong = OptionalLong.of(c.length.toLong)
  override def nullCount(): OptionalLong = OptionalLong.of(0L)
  override def min(): java.util.Optional[Object] = typedAt(c.min)
  override def max(): java.util.Optional[Object] = typedAt(c.max)
}

class ZarrBytesReadMetric extends CustomSumMetric {
  override def name(): String = "zarrBytesRead"
  override def description(): String = "zarr chunk bytes read from storage"
}
class ZarrChunksDecodedMetric extends CustomSumMetric {
  override def name(): String = "zarrChunksDecoded"
  override def description(): String = "zarr chunks decoded"
}
class ZarrRowsOutMetric extends CustomSumMetric {
  override def name(): String = "zarrRowsOut"
  override def description(): String = "zarr rows handed to Spark"
}
/** Per-member IO metric of a union scan (`<base>.m<i>`): sums only
  * the tasks of member `i`'s partitions, so runtime IO is
  * attributable per store ("which member of the 30-year archive did
  * the pruning miss?").
  *
  * The 0-arg constructor is REQUIRED: `SQLAppStatusListener
  * .aggregateMetrics` re-instantiates DSv2 custom-metric classes
  * reflectively BY CLASS NAME (the metric type embeds only the
  * class, not the instance) to obtain `aggregateTaskMetrics`.
  * Without it, every union-read query stack-traces in the listener
  * and per-member values never reach the Spark UI / history server.
  * The reflective instance's `name()` is never consulted — SQL
  * metrics carry their display name from the driver-side instances
  * returned by `supportedCustomMetrics` — so a placeholder identity
  * is safe, and aggregation (a sum) is name-independent. */
class ZarrMemberMetric(base: String, i: Int) extends CustomSumMetric {
  def this() = this("zarrMember", -1)
  override def name(): String = s"$base.m$i"
  override def description(): String = s"$base for union member $i"
}

/** Exact column totals answered without chunk IO: data variables from
  * the `.zstats` per-chunk sum partials (unwritten chunks are
  * provably all-fill under the writer's complete-coverage
  * attestation), coordinates from their eagerly-loaded values times
  * the rest of the grid. Powers chunk-level SUM/AVG aggregate
  * pushdown — the reference's roadmap "Aggregate pushdown (push
  * SUM/AVG/COUNT to chunk level)" (/root/reference/README.md:298). */
private[zarr] object ZarrSums {
  import java.math.BigDecimal

  def isIntegral(meta: ZarrStoreMeta, name: String): Boolean =
    meta.schema.fields.find(_.name == name).exists(_.dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    })

  def fitsLong(t: BigDecimal): Boolean =
    try { t.longValueExact(); true } catch { case _: ArithmeticException => false }

  private def numeric(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType => true
    case _ => false // timestamps/strings/bools: SUM is not meaningful
  }

  /** Per-group exact SUMs of a data variable for GROUP BY over the
    * given coordinate dims. Answerable only when the variable's chunk
    * extent is 1 along every grouped dim — each chunk then belongs to
    * exactly one group, so per-group totals are a sidecar fold (the
    * grouped generalization of chunk-level aggregate pushdown).
    * Returns (totals keyed by the grouped coord indices in groupDims
    * order, fill-only default for groups with no written chunk). */
  def groupTotals(meta: ZarrStoreMeta, name: String, groupDims: Seq[Int])
      : Option[(Map[Seq[Int], BigDecimal], BigDecimal)] = {
    val m = meta.dataVars.find(_.name == name).getOrElse(return None)
    if (!m.sumsComplete || !numeric(m.dtype.sparkType)) return None
    if (!groupDims.forall(d => d >= 0 && d < m.chunks.length && m.chunks(d) == 1))
      return None
    val cellsPerGroup = m.shape.zipWithIndex
      .collect { case (s, d) if !groupDims.contains(d) => s }.product
    val acc = scala.collection.mutable.Map.empty[Seq[Int], (BigDecimal, Long)]
    m.chunkSums.foreach { case (key, (s, c)) =>
      val ci = m.chunkIndex(key).getOrElse(return None) // a key of no chunk — refuse
      val g = groupDims.map(ci(_).toInt)
      val (s0, c0) = acc.getOrElse(g, (BigDecimal.ZERO, 0L))
      acc(g) = (s0.add(s), c0 + c)
    }
    val fillFinite = java.lang.Double.isFinite(m.fillValue)
    val fillBD = if (fillFinite) new BigDecimal(m.fillValue) else BigDecimal.ZERO
    val totals = acc.map { case (g, (s, c)) =>
      val fillCells = cellsPerGroup - c
      if (fillCells < 0) return None // inconsistent sidecar — refuse
      if (fillCells == 0) g -> s
      else if (fillFinite) g -> s.add(fillBD.multiply(BigDecimal.valueOf(fillCells)))
      else return None
    }.toMap
    // groups with no written chunk at all are pure fill
    if (!fillFinite && totals.size.toLong <
        groupDims.map(d => m.shape(d)).product) return None
    Some((totals, fillBD.multiply(BigDecimal.valueOf(cellsPerGroup))))
  }

  /** The exact SUM of a column over the whole flattened grid, or None
    * when the sidecar cannot prove it (no attestation, non-numeric
    * dtype, non-finite fill over unwritten cells). */
  def totalFor(meta: ZarrStoreMeta, name: String): Option[BigDecimal] = {
    meta.coords.find(_.meta.name == name) match {
      case Some(c) if numeric(c.meta.dtype.sparkType) =>
        // Σ over the grid = (Σ coord values) × Π other coord lengths
        var s = BigDecimal.ZERO
        c.raw match {
          case a: Array[Byte] => a.foreach(v => s = s.add(BigDecimal.valueOf(v.toLong)))
          case a: Array[Short] => a.foreach(v => s = s.add(BigDecimal.valueOf(v.toLong)))
          case a: Array[Int] => a.foreach(v => s = s.add(BigDecimal.valueOf(v.toLong)))
          case a: Array[Long] => a.foreach(v => s = s.add(BigDecimal.valueOf(v)))
          case a: Array[Float] => a.foreach(v => s = s.add(new BigDecimal(v.toDouble)))
          case a: Array[Double] => a.foreach(v => s = s.add(new BigDecimal(v)))
          case _ => return None
        }
        val others = meta.coords.filter(_.meta.name != name)
          .map(_.length.toLong).product
        Some(s.multiply(BigDecimal.valueOf(others)))
      case Some(_) => None
      case None =>
        val m = meta.dataVars.find(_.name == name).getOrElse(return None)
        if (!m.sumsComplete || !numeric(m.dtype.sparkType)) return None
        // prefer the precomputed total (O(1) at any chunk count);
        // fall back to folding the per-chunk partials
        val (total, written) = m.sumTotal.getOrElse {
          var t = BigDecimal.ZERO
          var w = 0L
          m.chunkSums.valuesIterator.foreach { case (s, c) => t = t.add(s); w += c }
          (t, w)
        }
        val fillCells = m.totalElements - written
        if (fillCells < 0) None // inconsistent sidecar — refuse
        else if (fillCells == 0) Some(total)
        else if (java.lang.Double.isFinite(m.fillValue))
          Some(total.add(new BigDecimal(m.fillValue)
            .multiply(BigDecimal.valueOf(fillCells))))
        else None
    }
  }
}

/** Metadata-only scan for the aggregates metadata answers — zero chunk
  * IO, the DSv2 equivalent of the reference's CountStatisticsRule /
  * MinMaxStatisticsRule, generalized to GROUP BY coordinates (no group
  * keys is the ungrouped case). One row per combination of the grouped
  * coordinates' values, answered from grid arithmetic (see
  * [[ZarrScanBuilder]]): zero chunk IO for `SELECT time, COUNT(*) …
  * GROUP BY time`-shaped queries at any grid size, partitioned along
  * the first grouped dimension so even a million-group dimension emits
  * in parallel. One store's answer is complete, and so is an ungrouped
  * union's, combined from the member answers. A grouped union emits
  * every member's group rows (keys may repeat across members — stores
  * need not partition the key domain) and Spark's final aggregate
  * merges them by key. */
class ZarrAggScan(metas: Seq[ZarrStoreMeta], agg: Aggregation) extends Scan with Batch {

  /** The schema and coordinate names, which every member shares. */
  private val meta = metas.head
  private val groupNames: Seq[String] = agg.groupByExpressions().map(pushedCol).toSeq

  override def readSchema(): StructType = StructType(
    groupNames.map(n => StructField(n, meta.schema(n).dataType, nullable = false)) ++
      agg.aggregateExpressions().zipWithIndex.map {
        case (_: CountStar, i) => StructField(s"count_$i", LongType, nullable = false)
        case (_: Count, i) => StructField(s"count_$i", LongType, nullable = false)
        case (m: Min, i) =>
          StructField(s"min_$i", meta.schema(pushedCol(m.column)).dataType, nullable = true)
        case (m: Max, i) =>
          StructField(s"max_$i", meta.schema(pushedCol(m.column)).dataType, nullable = true)
        case (s: Sum, i) =>
          val t = if (ZarrSums.isIntegral(meta, pushedCol(s.column))) LongType else DoubleType
          StructField(s"sum_$i", t, nullable = true)
        case (_: Avg, i) => StructField(s"avg_$i", DoubleType, nullable = true)
        case (other, _) => throw new IllegalStateException(s"Unexpected pushed agg: $other")
      })

  override def description(): String = {
    val groups = s"groups=[${groupNames.mkString(",")}] "
    val aggs = s"aggs=[${agg.aggregateExpressions().mkString(", ")}]"
    (metas, groupNames) match {
      case (Seq(m), Seq()) => s"ZarrAggScan path=${m.path} (metadata-only) $aggs"
      case (Seq(m), _) => s"ZarrGroupAggScan path=${m.path} (metadata-only) $groups$aggs"
      case (_, Seq()) => s"ZarrUnionAggScan members=${metas.size} (metadata-only) $aggs"
      case _ => s"ZarrUnionGroupAggScan members=${metas.size} (metadata-only, " +
        s"partial: Spark merges member answers by group key) $groups$aggs"
    }
  }

  override def toBatch: Batch = this

  /** Built when Spark plans, not at pushdown: folding the sidecar's
    * per-chunk map into group totals costs driver time that optimizer
    * probes on discarded plans must not pay. */
  private lazy val partitions: Array[InputPartition] =
    if (groupNames.isEmpty)
      Array(ZarrAggPartition(0L, 1L, Array.empty, Nil, ungrouped.map(ZarrAggConst)))
    else metas.flatMap(grouped).toArray

  override def planInputPartitions(): Array[InputPartition] = partitions

  /** A lone store's answer in at most one partition: [[ZarrDriverRead]]
    * reads it on the driver when collected. */
  private[zarr] def readsOnDriver: Boolean = metas.length == 1 && partitions.length <= 1

  /** The one ungrouped row, combined over the members: counts and sums
    * add, bounds combine, AVG = Σ totals / Σ rows. */
  private def ungrouped: Seq[Any] = {
    val totalRows = metas.map(_.totalRows).sum
    def bound(n: String, min: Boolean): Any = {
      val each = metas.map { m =>
        val c = m.coords.find(_.meta.name == n).get
        val v = if (min) c.min else c.max
        (v, ChunkCodec.elementAt(c.raw, GridMath.findCoordIndex(c.doubles, v)))
      }
      (if (min) each.minBy(_._1) else each.maxBy(_._1))._2
    }
    def total(n: String) =
      metas.map(ZarrSums.totalFor(_, n).get).foldLeft(java.math.BigDecimal.ZERO)(_.add(_))
    agg.aggregateExpressions().toSeq.map {
      case _: CountStar => totalRows
      case c: Count if !c.isDistinct => totalRows // null_count is 0 for every column
      // one store only: values overlap across members
      case c: Count => meta.coords.find(_.meta.name == pushedCol(c.column)).get.length.toLong
      case m: Min => bound(pushedCol(m.column), min = true)
      case m: Max => bound(pushedCol(m.column), min = false)
      case s: Sum =>
        val n = pushedCol(s.column)
        if (ZarrSums.isIntegral(meta, n)) total(n).longValueExact() else total(n).doubleValue()
      // double division of the exact total — identical to Spark's
      // sum.toDouble / count and to the oracle's CAST(s AS DOUBLE)/n
      case a: Avg => total(pushedCol(a.column)).doubleValue() / totalRows
      case other => throw new IllegalStateException(s"Unexpected pushed agg: $other")
    }
  }

  /** One member's group rows. Per group: COUNT = Π lengths of the
    * NON-grouped coordinates, MIN/MAX of a grouped coordinate is the
    * group value and of a non-grouped one its global bound, SUM/AVG a
    * per-group sidecar total. */
  private def grouped(m: ZarrStoreMeta): Seq[InputPartition] = {
    val groupDims = groupNames.map(m.coordNames.indexOf)
    val coordByName = m.coords.map(c => c.meta.name -> c).toMap
    val rowsPerGroup: Long = m.coords.zipWithIndex
      .collect { case (c, d) if !groupDims.contains(d) => c.length.toLong }
      .product
    def bound(n: String, v: CoordData => Double): ZarrGroupAggSpec =
      if (groupNames.contains(n)) ZarrAggGroupVal(groupNames.indexOf(n))
      else { val c = coordByName(n)
        ZarrAggConst(ChunkCodec.elementAt(c.raw, GridMath.findCoordIndex(c.doubles, v(c)))) }
    val specs: Seq[ZarrGroupAggSpec] = agg.aggregateExpressions().toSeq.map {
      case _: CountStar => ZarrAggConst(rowsPerGroup)
      case c: Count if !c.isDistinct => ZarrAggConst(rowsPerGroup) // null_count 0 everywhere
      case c: Count => ZarrAggConst(coordByName(pushedCol(c.column)).length.toLong)
      case a: Min => bound(pushedCol(a.column), _.min)
      case a: Max => bound(pushedCol(a.column), _.max)
      case s: Sum =>
        val n = pushedCol(s.column)
        val (totals, dflt) = ZarrSums.groupTotals(m, n, groupDims).get
        if (ZarrSums.isIntegral(m, n))
          ZarrAggGroupTotal(totals.map { case (k, v) => k -> (v.longValueExact(): Any) },
            dflt.longValueExact())
        else
          ZarrAggGroupTotal(totals.map { case (k, v) => k -> (v.doubleValue(): Any) },
            dflt.doubleValue())
      case a: Avg =>
        val n = pushedCol(a.column)
        val (totals, dflt) = ZarrSums.groupTotals(m, n, groupDims).get
        ZarrAggGroupTotal(
          totals.map { case (k, v) => k -> (v.doubleValue() / rowsPerGroup: Any) },
          dflt.doubleValue() / rowsPerGroup)
      case other => throw new IllegalStateException(s"Unexpected pushed agg: $other")
    }
    val lens = groupDims.map(d => m.coords(d).length).toArray
    val raws = groupDims.map(d => m.coords(d).raw)
    GridMath.partitionSlices(lens.map(l => (0, l)), 1, None, 65536)
      .map(s => ZarrAggPartition(s._1, s._2, lens, raws, specs))
  }

  override def createReaderFactory(): PartitionReaderFactory = new ZarrReaderFactory
}

/** How an aggregate output column is produced per group row. */
sealed trait ZarrGroupAggSpec extends Serializable
/** A group-independent constant (counts, global coordinate bounds). */
final case class ZarrAggConst(v: Any) extends ZarrGroupAggSpec
/** The j-th grouped coordinate's value for the row's group. */
final case class ZarrAggGroupVal(j: Int) extends ZarrGroupAggSpec
/** A per-group sidecar total (SUM/AVG), keyed by the grouped coord
  * indices; groups with no written chunk take the fill-only default. */
final case class ZarrAggGroupTotal(totals: Map[Seq[Int], Any], default: Any)
    extends ZarrGroupAggSpec

/** Group rows `[rowStart, rowEnd)` of a metadata answer, in row-major
  * order over the grouped coordinates of lengths `lens` (none: the one
  * ungrouped row). */
final case class ZarrAggPartition(
    rowStart: Long, rowEnd: Long, lens: Array[Int],
    raws: Seq[AnyRef], specs: Seq[ZarrGroupAggSpec]) extends InputPartition

/** A projected output column: either the `dim`-th coordinate (computed
  * from the row index — the lazy form of the reference's dictionary
  * encoding, /root/reference/src/reader/coord.rs:34-105) or a data
  * variable read from chunks. */
sealed trait ProjField extends Serializable
final case class CoordField(dim: Int) extends ProjField
final case class VarField(meta: ZarrArrayMeta) extends ProjField

/** One slice `[rowStart, rowEnd)` of the filtered grid's row-major row
  * space. Carries the (small) coordinate values so executors never
  * re-read coordinate arrays; data-variable chunks are opened
  * executor-side. */
final case class ZarrInputPartition(
    storePath: String,
    rowStart: Long,
    rowEnd: Long,
    ranges: Array[(Int, Int)],
    coords: Seq[CoordData],
    projection: Seq[ProjField],
    fillAsNull: Boolean = false,
    chunkCacheEntries: Int = 0,
    prefetch: Boolean = false,
    /** Union-member ordinal when this partition belongs to a
      * multi-store union scan (−1 otherwise): readers then ALSO report
      * their IO under `zarrBytesRead.m<i>`/`zarrChunksDecoded.m<i>`,
      * so the REPL's \analyze can attribute bytes per member store. */
    memberIdx: Int = -1,
    /** Pushed predicates the reader evaluates per cell. */
    preds: Seq[CellPred] = Nil,
    /** What the partition folds its cells into, instead of emitting them. */
    fold: Option[ScanFold] = None,
    /** Leading projection fields emitted (−1 = all); the rest feed
      * predicates and folds only. */
    outCols: Int = -1,
    /** Rows the partition may emit (−1 = no limit): a LIMIT under a
      * pushed data-variable predicate counts emitted rows. */
    rowLimit: Long = -1L) extends InputPartition

/** One outer-index slab tagged with its coordinate value — the unit of
  * key-grouped (storage-partitioned) execution. */
final case class ZarrKeyedInputPartition(p: ZarrInputPartition, key: InternalRow)
    extends InputPartition with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow = key
}

class ZarrReaderFactory extends PartitionReaderFactory {

  /** Chunk partitions read columnar: an empty projection (bare counts)
    * emits zero-column batches carrying `numRows`. Metadata answers
    * read as rows; no scan mixes the two. */
  override def supportColumnarReads(partition: InputPartition): Boolean =
    !partition.isInstanceOf[ZarrAggPartition]

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[ZarrAggPartition]
    val ranges: GridMath.Ranges = p.lens.map(l => (0, l))
    val idx = new Array[Int](p.lens.length)
    new PartitionReader[InternalRow] {
      private var row = p.rowStart
      private var current: InternalRow = _
      private def internal(v: Any): Any = v match {
        case s: String => org.apache.spark.unsafe.types.UTF8String.fromString(s)
        case other => other
      }
      override def next(): Boolean = {
        if (row >= p.rowEnd) return false
        GridMath.rowToIndices(row, ranges, idx)
        val groupVals = p.raws.indices.map(j => internal(ChunkCodec.elementAt(p.raws(j), idx(j))))
        val aggVals = p.specs.map {
          case ZarrAggConst(const) => internal(const)
          case ZarrAggGroupVal(j) => groupVals(j)
          case ZarrAggGroupTotal(totals, dflt) =>
            internal(totals.getOrElse(idx.toSeq, dflt))
        }
        current = new GenericInternalRow((groupVals ++ aggVals).toArray)
        row += 1
        true
      }
      override def get(): InternalRow = current
      override def close(): Unit = {}
    }
  }

  override def createColumnarReader(
      partition: InputPartition): PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    new ZarrColumnarReader(partition match {
      case k: ZarrKeyedInputPartition => k.p
      case p: ZarrInputPartition => p
    })
}
