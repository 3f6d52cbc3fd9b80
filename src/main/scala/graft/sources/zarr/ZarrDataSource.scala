package graft.sources.zarr

import java.util.OptionalLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, Transform, SortOrder => SortOrderV2}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, Avg, Count, CountStar, Max, Min, Sum}
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.connector.read.colstats.ColumnStatistics
import org.apache.spark.sql.sources.{EqualNullSafe, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Spark DataSource V2 connector for Zarr v2/v3 stores — the rebuild
  * of the reference's `ZarrTable`/`ZarrExec` surface
  * (/root/reference/src/datasource/zarr.rs:19-255,
  * /root/reference/src/physical_plan/zarr_exec.rs:21-257) as an
  * idiomatic DSv2 source:
  *
  *   - `spark.read.format("zarr").load(path)` and
  *     `CREATE TABLE t USING zarr OPTIONS (path '…')`
  *   - projection / limit / coordinate-equality-filter pushdown with
  *     the reference's *inexact* posture: every filter is also
  *     returned for post-scan evaluation
  *     (/root/reference/src/datasource/zarr.rs:100-113)
  *   - table statistics (exact row count, per-coordinate min/max/
  *     distinct/null) feeding Spark CBO
  *   - COUNT(*)/COUNT(col)/COUNT(DISTINCT coord)/MIN(coord)/MAX(coord)
  *     answered from metadata via aggregate pushdown — the DSv2-native
  *     form of the reference's two optimizer rules
  *     (/root/reference/src/optimizer/count_optimization.rs,
  *     minmax_optimization.rs)
  *   - one InputPartition per outer-dimension chunk slice (the
  *     reference's single-partition scan is its main scale gap;
  *     SURVEY.md §7 step 7)
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

  /** Does a Zarr store exist at `path`? Only the not-found family maps
    * to `false`; transient IO failures (network, permissions, HTTP 5xx)
    * propagate — otherwise a blip on an EXISTING store would
    * misclassify it as absent, giving reads an empty schema and letting
    * ErrorIfExists/Ignore/Append writes proceed as if the target were
    * free. */
  private def isStore(path: String): Boolean =
    try { ZarrMeta.detectVersion(ZarrStore.open(path)); true }
    catch {
      case _: IllegalArgumentException => false // no dir / not a Zarr store
      case _: java.io.FileNotFoundException => false
      case _: java.nio.file.NoSuchFileException => false
      case _: UnsupportedOperationException => false // listing-less backend, no metadata
    }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val path = pathOf(options)
    // A missing/empty target is a pending WRITE: return an empty
    // schema so DataFrameWriter.save() reaches the V1 fallback below
    // (the table carries no SupportsWrite) instead of failing here.
    if (isStore(path)) ZarrMeta.readStore(path).schema else new StructType()
  }

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val paths = pathsOf(new CaseInsensitiveStringMap(properties))
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
      new ZarrUnionTable(metas)
    } else {
      val path = paths.head
      if (isStore(path)) new ZarrTable(ZarrMeta.readStore(path))
      else new ZarrPendingWriteTable(path, schema, properties.asScala.toMap)
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
    val exists = try { ZarrMeta.detectVersion(ZarrStore.open(path)); true }
      catch {
        case _: IllegalArgumentException => false
        case _: java.io.FileNotFoundException => false
        case _: java.nio.file.NoSuchFileException => false
        case _: UnsupportedOperationException => false
      }
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
              // table-level OPTIONS (CTAS DDL) + write-time options,
              // write-time winning; path pinned to this table's
              val params = (tableProps ++
                info.options.asCaseSensitiveMap().asScala.toMap ++
                Map("path" -> path)).map { case (k, v) =>
                  k.toLowerCase(java.util.Locale.ROOT) -> v }
              ZarrDataSource.writeWithModes(data, params,
                replaceExisting = overwrite || replace)
            }
        }
    }
}

class ZarrTable(meta: ZarrStoreMeta) extends Table with SupportsRead
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
              val params = (Map("coords" -> meta.coordNames.mkString(",")) ++
                info.options.asCaseSensitiveMap().asScala.toMap ++
                Map("path" -> meta.path)).map { case (k, v) =>
                  k.toLowerCase(java.util.Locale.ROOT) -> v }
              ZarrDataSource.writeWithModes(data, params,
                replaceExisting = overwrite || replace)
            }
        }
    }
  /** Group attributes surface as table properties (`SHOW TBLPROPERTIES`)
    * — the reference's roadmap attribute exposure. */
  override def properties(): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    meta.groupAttrs.foreach { case (k, v) => m.put(k, v) }
    m
  }
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ZarrScanBuilder(meta, options)
}

/** UNION ALL of several same-schema stores — the "archive split into
  * one store per year" layout. Read-only; each member store keeps its
  * own pushdown planning (a time filter prunes each store's chunk
  * ranges independently, so a member with no matching coordinates
  * plans zero partitions — store-level pruning for free). */
class ZarrUnionTable(metas: Seq[ZarrStoreMeta]) extends Table with SupportsRead {
  override def name(): String = s"zarr-union:${metas.map(_.path).mkString(",")}"
  override def schema(): StructType = metas.head.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ZarrUnionScanBuilder(metas, options)
}

class ZarrUnionScanBuilder(metas: Seq[ZarrStoreMeta], options: CaseInsensitiveStringMap)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters
    with SupportsPushDownLimit
    with SupportsPushDownAggregates {

  private val delegates = metas.map(new ZarrScanBuilder(_, options))
  private var aggPushed: Option[Aggregation] = None

  private def colName(e: org.apache.spark.sql.connector.expressions.Expression)
      : Option[String] = e match {
    case r: NamedReference if r.fieldNames().length == 1 => Some(r.fieldNames().head)
    case _ => None
  }

  /** Group-count planner heuristic: each member's grouped specs fold
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

  /** Only UNGROUPED metadata aggregates are COMPLETE pushdown over a
    * union — the fold of one scalar answer per member (COUNT sums,
    * MIN/MAX combine, SUM adds exact totals, AVG = Σ totals / Σ rows:
    * "count and sum a 30-year year-per-store archive" reads 30
    * sidecars, zero chunks). GROUPED aggregates deliberately report
    * NOT complete — [[pushAggregation]] still accepts them, but as a
    * PARTIAL pushdown: Spark plans the final merge aggregation itself,
    * an executor-side shuffle sized to members × groups, so no driver
    * structure ever scales with the group count. COUNT(DISTINCT) is
    * not combinable across members (values overlap) → real scan. */
  override def supportCompletePushDown(aggregation: Aggregation): Boolean =
    aggregation.groupByExpressions().isEmpty &&
      delegates.forall(_.supportCompletePushDown(aggregation)) &&
      aggregation.aggregateExpressions().forall {
        case c: Count if c.isDistinct => false // values overlap across members
        case s: Sum => // the UNION total must fit the result type
          colName(s.column).exists { n =>
            !ZarrSums.isIntegral(metas.head, n) || {
              val totals = metas.map(m => ZarrSums.totalFor(m, n))
              totals.forall(_.isDefined) && ZarrSums.fitsLong(
                totals.flatten.foldLeft(java.math.BigDecimal.ZERO)(_.add(_)))
            }
          }
        case _ => true
      }

  override def pushAggregation(aggregation: Aggregation): Boolean = {
    val ok =
      if (aggregation.groupByExpressions().isEmpty)
        supportCompletePushDown(aggregation)
      else
        // Partial pushdown of grouped shapes: optimizer-time work stops
        // at ANSWERABILITY (Catalyst probes pushdown for plans it may
        // discard — per-probe sidecar folds were a planning-cost
        // scale-killer). mergeable() also proves integral sums cannot
        // overflow Spark's final Long SUM of the member partials.
        groupsBounded(aggregation) &&
          delegates.forall(_.supportCompletePushDown(aggregation)) &&
          ZarrUnionGroups.mergeable(metas, aggregation)
    if (ok) aggPushed = Some(aggregation)
    ok
  }

  override def pruneColumns(required: StructType): Unit =
    delegates.foreach(_.pruneColumns(required))

  /** Fan the filters out; every member evaluates them against its own
    * coordinates. All filters stay post-scan (Inexact), so the union
    * is exact regardless of per-store pruning differences. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    delegates.foreach(_.pushFilters(filters))
    filters
  }
  override def pushedFilters(): Array[Filter] = delegates.head.pushedFilters()

  /** LIMIT n per member is a superset of LIMIT n over the union —
    * partial semantics, Spark re-limits above. */
  override def pushLimit(n: Int): Boolean = { delegates.foreach(_.pushLimit(n)); true }
  override def isPartiallyPushed: Boolean = true

  override def build(): Scan = aggPushed match {
    case Some(agg) if agg.groupByExpressions().nonEmpty =>
      new ZarrUnionGroupAggScan(metas, agg)
    case Some(agg) => new ZarrUnionAggScan(metas, agg)
    case None => new ZarrUnionScan(delegates.map(_.build().asInstanceOf[ZarrScan]))
  }
}

/** Answerability checks for grouped metadata aggregates over a union.
  * The MERGE itself is not implemented here at all: the union scan
  * emits every member's per-group answers and Spark's final (partial
  * pushdown) aggregation merges them by key on executors. */
private[graft] object ZarrUnionGroups {

  /** Metadata-only answerability check for a grouped union merge: agg
    * kinds must be mergeable by Spark's final aggregation (SUM over
    * counts/sums, MIN/MAX over bounds), counts must fit Long (Σ member
    * rows), and integral sums must PROVABLY fit Long — Spark's
    * non-ANSI Long SUM would wrap silently. The sum bound is
    * |Σ_m t_m(g)| ≤ Σ_m max_g |t_m(g)| over each member's sidecar
    * group totals — sound no matter how member group keys align, and
    * slightly conservative: a near-overflow union falls back to the
    * real scan; results are identical either way. */
  def mergeable(metas: Seq[ZarrStoreMeta], agg: Aggregation): Boolean = {
    def colName(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case r: NamedReference if r.fieldNames().length == 1 =>
        Some(r.fieldNames().head)
      case _ => None
    }
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
        !ZarrSums.isIntegral(metas.head, n) || {
          var bound = java.math.BigDecimal.ZERO
          metas.forall { meta =>
            val dims = groupNames.map(meta.coordNames.indexOf)
            ZarrSums.groupTotals(meta, n, dims) match {
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

}

/** Metadata-only GROUPED aggregates over a union, pushed PARTIALLY:
  * the scan concatenates every member's per-group metadata partitions
  * (group keys may repeat across members — stores need not partition
  * the key domain) and Spark's final aggregation merges them by key on
  * EXECUTORS — SUM re-adds counts/sums, MIN/MAX re-combine bounds. No
  * driver structure scales with the group count, the merge shuffle is
  * sized to members × groups, and chunk IO stays zero. Pushdown-time
  * work stops at answerability ([[ZarrUnionGroups.mergeable]]); member
  * specs (sidecar folds) are built lazily at planInputPartitions, so
  * optimizer probes on discarded plans cost nothing. */
class ZarrUnionGroupAggScan(metas: Seq[ZarrStoreMeta], agg: Aggregation)
    extends Scan with Batch {

  private lazy val members = metas.map(new ZarrGroupAggScan(_, agg))

  override def readSchema(): StructType =
    new ZarrGroupAggScan(metas.head, agg).readSchema()

  override def description(): String =
    s"ZarrUnionGroupAggScan members=${metas.size} (metadata-only, " +
      s"partial: Spark merges member answers by group key) " +
      s"groups=[${agg.groupByExpressions().mkString(",")}] " +
      s"aggs=[${agg.aggregateExpressions().mkString(", ")}]"

  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] =
    members.flatMap(_.planInputPartitions()).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new ZarrGroupAggReaderFactory
}

/** Metadata-only fold of per-member aggregate answers (ungrouped).
  * Schema matches [[ZarrAggScan]]; values combine across members. */
class ZarrUnionAggScan(metas: Seq[ZarrStoreMeta], agg: Aggregation) extends Scan with Batch {

  private def colName(e: org.apache.spark.sql.connector.expressions.Expression): String =
    e.asInstanceOf[NamedReference].fieldNames().head

  override def readSchema(): StructType =
    new ZarrAggScan(metas.head, agg).readSchema()

  override def description(): String =
    s"ZarrUnionAggScan members=${metas.size} (metadata-only) " +
      s"aggs=[${agg.aggregateExpressions().mkString(", ")}]"

  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    val totalRows = metas.map(_.totalRows).sum
    val values: Array[Any] = agg.aggregateExpressions().map {
      case _: CountStar => totalRows
      case c: Count if !c.isDistinct => totalRows
      case m: Min =>
        val n = colName(m.column)
        val per = metas.map { meta =>
          val c = meta.coords.find(_.meta.name == n).get
          (c.min, ChunkCodec.elementAt(c.raw, GridMath.findCoordIndex(c.doubles, c.min)))
        }
        per.minBy(_._1)._2
      case m: Max =>
        val n = colName(m.column)
        val per = metas.map { meta =>
          val c = meta.coords.find(_.meta.name == n).get
          (c.max, ChunkCodec.elementAt(c.raw, GridMath.findCoordIndex(c.doubles, c.max)))
        }
        per.maxBy(_._1)._2
      case s: Sum =>
        val n = colName(s.column)
        val total = metas.map(m => ZarrSums.totalFor(m, n).get)
          .foldLeft(java.math.BigDecimal.ZERO)(_.add(_))
        if (ZarrSums.isIntegral(metas.head, n)) total.longValueExact() else total.doubleValue()
      case a: Avg =>
        val n = colName(a.column)
        val total = metas.map(m => ZarrSums.totalFor(m, n).get)
          .foldLeft(java.math.BigDecimal.ZERO)(_.add(_))
        total.doubleValue() / totalRows
      case other => throw new IllegalStateException(s"Unexpected pushed agg: $other")
    }
    Array(ZarrAggPartition(values))
  }

  override def createReaderFactory(): PartitionReaderFactory = new ZarrAggReaderFactory
}

class ZarrUnionScan(val scans: Seq[ZarrScan]) extends Scan with Batch
    with SupportsReportStatistics {
  override def readSchema(): StructType = scans.head.readSchema()
  override def toBatch: Batch = this
  override def description(): String =
    s"ZarrUnionScan(${scans.map(_.description()).mkString(" UNION ")})"
  /** Member partitions tagged with their member ordinal, so task IO
    * also lands in the per-member metric counters. */
  override def planInputPartitions(): Array[InputPartition] =
    scans.zipWithIndex.flatMap { case (s, i) =>
      s.planInputPartitions().map {
        case p: ZarrInputPartition => p.copy(memberIdx = i): InputPartition
        case k: ZarrKeyedInputPartition =>
          k.copy(p = k.p.copy(memberIdx = i)): InputPartition
        case other => other
      }
    }.toArray
  override def createReaderFactory(): PartitionReaderFactory = new ZarrReaderFactory
  override def estimateStatistics(): Statistics = {
    val parts = scans.map(_.estimateStatistics())
    new Statistics {
      override def sizeInBytes(): OptionalLong =
        OptionalLong.of(parts.map(_.sizeInBytes().orElse(0L)).sum)
      override def numRows(): OptionalLong =
        OptionalLong.of(parts.map(_.numRows().orElse(0L)).sum)
    }
  }
  override def supportedCustomMetrics(): Array[CustomMetric] =
    Array[CustomMetric](new ZarrBytesReadMetric, new ZarrChunksDecodedMetric) ++
      scans.indices.flatMap(i => Seq(
        new ZarrMemberMetric("zarrBytesRead", i),
        new ZarrMemberMetric("zarrChunksDecoded", i)))
}

class ZarrScanBuilder(meta: ZarrStoreMeta, options: CaseInsensitiveStringMap)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters
    with SupportsPushDownLimit
    with SupportsPushDownOffset
    with SupportsPushDownTopN
    with SupportsPushDownAggregates {

  private var requiredSchema: StructType = meta.schema
  private var accepted: Array[Filter] = Array.empty
  private var coordPreds: Map[Int, Seq[GridMath.CoordPred]] = Map.empty
  private var varPreds: Map[String, Seq[GridMath.CoordPred]] = Map.empty
  private var limit: Option[Long] = None
  private var offset: Long = 0L
  private var aggPushed: Option[Aggregation] = None
  /** ORDER BY <data var> [DESC] LIMIT n accepted for stats pruning. */
  private var topNVar: Option[(String, Boolean, Int)] = None

  override def pruneColumns(required: StructType): Unit = requiredSchema = required

  /** Accept equality, range (`>`, `>=`, `<`, `<=`, and thus BETWEEN —
    * Catalyst splits it into two conjuncts) and IN conjuncts on
    * coordinate columns for index-range pruning; return ALL filters as
    * post-scan (= the reference's Inexact contract), so Spark
    * re-applies them for correctness. Extends the reference's
    * equality-only pushdown to its roadmap range/IN pruning. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    import GridMath.CoordPred
    val coordIdx = meta.coordNames.zipWithIndex.toMap
    val acc = mutable.ArrayBuffer.empty[Filter]
    val preds = mutable.Map.empty[Int, List[CoordPred]]
    def isStringCoord(attr: String): Boolean =
      coordIdx.get(attr).exists(d => meta.coords(d).meta.dtype.kind == 'S')
    def add(f: Filter, attr: String, p: CoordPred): Unit =
      coordIdx.get(attr).filterNot(_ => isStringCoord(attr)).foreach { idx =>
        acc += f; preds(idx) = p :: preds.getOrElse(idx, Nil)
      }
    // String coordinates live in index space: equality on a string
    // coord translates to equality on its index (absent value -> an
    // impossible index, which plans zero partitions — correct, since
    // no row can match).
    def addStr(f: Filter, attr: String, v: String): Unit =
      coordIdx.get(attr).filter(_ => isStringCoord(attr)).foreach { idx =>
        val i = meta.coords(idx).raw match {
          case a: Array[String] => a.indexOf(v)
          case _ => -1
        }
        acc += f
        preds(idx) = CoordPred.Eq(i.toDouble) :: preds.getOrElse(idx, Nil)
      }
    // Data-variable predicates prune whole partitions via the
    // `.zstats` per-chunk min/max sidecars (reference roadmap
    // "data-variable filter pushdown" / "statistics-based chunk
    // pruning") — only for variables that carry stats, and always
    // Inexact (Spark re-filters rows post-scan).
    val statVars = meta.dataVars.filter(_.chunkStats.nonEmpty).map(_.name).toSet
    val vps = mutable.Map.empty[String, List[CoordPred]]
    def addVar(f: Filter, attr: String, p: CoordPred): Unit =
      if (statVars(attr)) { acc += f; vps(attr) = p :: vps.getOrElse(attr, Nil) }
    filters.foreach {
      case f @ EqualTo(attr, v: String) => addStr(f, attr, v)
      case f @ EqualNullSafe(attr, v: String) => addStr(f, attr, v)
      case f @ EqualTo(attr, v) =>
        numeric(v).foreach { d =>
          add(f, attr, CoordPred.Eq(d)); addVar(f, attr, CoordPred.Eq(d)) }
      case f @ EqualNullSafe(attr, v) =>
        numeric(v).foreach(d => add(f, attr, CoordPred.Eq(d)))
      case f @ GreaterThan(attr, v) =>
        numeric(v).foreach { d =>
          add(f, attr, CoordPred.Gt(d, orEqual = false))
          addVar(f, attr, CoordPred.Gt(d, orEqual = false)) }
      case f @ GreaterThanOrEqual(attr, v) =>
        numeric(v).foreach { d =>
          add(f, attr, CoordPred.Gt(d, orEqual = true))
          addVar(f, attr, CoordPred.Gt(d, orEqual = true)) }
      case f @ LessThan(attr, v) =>
        numeric(v).foreach { d =>
          add(f, attr, CoordPred.Lt(d, orEqual = false))
          addVar(f, attr, CoordPred.Lt(d, orEqual = false)) }
      case f @ LessThanOrEqual(attr, v) =>
        numeric(v).foreach { d =>
          add(f, attr, CoordPred.Lt(d, orEqual = true))
          addVar(f, attr, CoordPred.Lt(d, orEqual = true)) }
      case f @ In(attr, vs) if vs.nonEmpty && vs.forall(numeric(_).isDefined) =>
        add(f, attr, CoordPred.InSet(vs.toSeq.flatMap(numeric)))
      case _ =>
    }
    accepted = acc.toArray
    coordPreds = preds.toMap
    varPreds = vps.toMap.map { case (k, v) => k -> v.toSeq }
    filters // everything evaluated post-scan too
  }

  private def numeric(v: Any): Option[Double] = v match {
    case n: java.lang.Number => Some(n.doubleValue())
    // datetime coords decode to epoch micros, so timestamp literals
    // compare in micro space (exact in double until epoch ~2^53 µs)
    case t: java.sql.Timestamp =>
      Some((t.getTime * 1000L + (t.getNanos / 1000) % 1000).toDouble)
    case i: java.time.Instant =>
      Some((i.getEpochSecond * 1000000L + i.getNano / 1000).toDouble)
    case _ => None
  }

  override def pushedFilters(): Array[Filter] = accepted

  override def pushLimit(n: Int): Boolean = { limit = Some(n.toLong); true }
  override def isPartiallyPushed: Boolean = true

  /** OFFSET is EXACT here (Spark then drops the Offset operator): the
    * flattened grid enumerates rows in deterministic row-major order,
    * so skipping the first n row ids is precisely SQL's offset over
    * this scan. Spark pushes LIMIT as limit+offset first, so the
    * planned row window is [offset, pushedLimit). */
  override def pushOffset(n: Int): Boolean = { offset = n.toLong; true }

  /** ORDER BY a coordinate prefix + LIMIT: the row-major row space IS
    * sorted by the coordinate columns in dimension order, so an
    * all-ascending prefix's top-n is the FIRST n grid rows (push as
    * limit) and an all-descending prefix's top-n is the LAST n (push
    * as offset) — "latest k time steps" reads k slabs, not the
    * archive. Spark never pushes TopN past a post-scan filter and
    * every filter here stays post-scan, so the row space is the whole
    * grid. Partial semantics: Spark keeps the Sort+Limit above, we
    * only shrink what the scan reads. */
  override def pushTopN(orders: Array[SortOrderV2], n: Int): Boolean = {
    if (coordPreds.nonEmpty || varPreds.nonEmpty || accepted.nonEmpty ||
      limit.nonEmpty || offset != 0L || orders.isEmpty ||
      orders.length > meta.coords.length) return false
    def colOf(o: SortOrderV2): Option[String] = o.expression() match {
      case r: NamedReference if r.fieldNames().length == 1 => Some(r.fieldNames().head)
      case _ => None
    }
    // ORDER BY <data variable> LIMIT n — prune partitions whose
    // chunks provably cannot reach the global top-n by their `.zstats`
    // [min,max]: chunk C is droppable when the cells of chunks wholly
    // ≥ max(C) (DESC; symmetric for ASC) already number ≥ n. The
    // statistics extension of the reference's "Top-K optimization"
    // roadmap row — exactness is Spark's (partial semantics, the
    // Sort+Limit stays above; pruning only shrinks what is read).
    if (orders.length == 1) {
      colOf(orders.head).foreach { name =>
        val ok = meta.dataVars.exists(v => v.name == name &&
          v.chunkStats.nonEmpty && v.dtype.kind != 'S' && v.dtype.kind != 'M') &&
          // fill→null breaks the numeric threshold: under NULLS FIRST
          // the true top-n can be the all-fill chunks the pruning
          // would drop — take the real scan
          !options.getBoolean("fillValueAsNull", false)
        if (ok) {
          topNVar = Some((name,
            orders.head.direction() ==
              org.apache.spark.sql.connector.expressions.SortDirection.DESCENDING, n))
          return true
        }
      }
    }
    // index order = value order. Every key except the LAST must be
    // STRICTLY increasing: a duplicate value in a non-last key makes
    // the row-major tuple sequence unsorted by these columns, and the
    // clipped window could miss true top-n rows.
    val prefixOk = orders.zip(meta.coords).zipWithIndex.forall { case ((o, c), i) =>
      colOf(o).contains(c.meta.name) && c.meta.dtype.kind != 'S' && {
        val d = c.doubles
        val strict = i < orders.length - 1
        (1 until d.length).forall(j =>
          if (strict) d(j - 1) < d(j) else d(j - 1) <= d(j))
      }
    }
    if (!prefixOk) return false
    val dirs = orders.map(_.direction()).distinct
    if (dirs.length != 1) return false
    if (dirs.head == org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING) {
      limit = Some(n.toLong); true
    } else {
      offset = math.max(0L, meta.totalRows - n); true
    }
  }

  /** Metadata-answerable aggregates, with the reference's guards
    * (count_optimization.rs:67-148): no filters, and every aggregate
    * must be answerable (MIN/MAX on data variables is not — only
    * coordinates carry exact bounds). GROUP BY is allowed when every
    * group key is a coordinate — the grid is a full Cartesian product,
    * so per-group COUNT = Π non-grouped coordinate lengths, MIN/MAX of
    * a grouped coordinate is the group value itself, and MIN/MAX of a
    * non-grouped coordinate is its global bound: all metadata, zero
    * chunk IO (the grouped generalization of the reference's two
    * optimizer rules). */
  override def supportCompletePushDown(aggregation: Aggregation): Boolean = {
    val groups = aggregation.groupByExpressions()
    val groupCols = groups.flatMap(colName(_))
    groups.length == groupCols.length &&
      groupCols.forall(n => meta.coordNames.contains(n) && uniqueCoord(n)) &&
      coordPreds.isEmpty &&
      accepted.isEmpty && limit.isEmpty && offset == 0L &&
      // an empty grid (zero-length coordinate — the streaming sink's
      // pre-first-append state) has no metadata bounds to answer
      // MIN/MAX with; the real (empty) scan yields the correct NULLs
      meta.totalRows > 0 &&
      // fill→null can null out data-var cells, so metadata row counts
      // no longer answer COUNT(col) — take the real scan instead
      !options.getBoolean("fillValueAsNull", false) &&
      aggregation.aggregateExpressions().forall(answerable(_, groupCols.toSet))
  }

  override def pushAggregation(aggregation: Aggregation): Boolean = {
    if (!supportCompletePushDown(aggregation)) return false
    aggPushed = Some(aggregation)
    true
  }

  private def colName(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
    e match {
      case r: NamedReference if r.fieldNames().length == 1 => Some(r.fieldNames().head)
      case _ => None
    }

  private def numericCoord(name: String): Boolean =
    meta.coords.exists(c => c.meta.name == name && c.meta.dtype.kind != 'S')

  /** Coordinate values are usually unique but Zarr doesn't enforce it;
    * group-key and COUNT(DISTINCT) answers from metadata are only
    * exact when they are. */
  private def uniqueCoord(name: String): Boolean =
    meta.coords.find(_.meta.name == name).exists { c =>
      c.raw match {
        case a: Array[String] => a.distinct.length == a.length
        case _ => c.doubles.distinct.length == c.doubles.length
      }
    }

  private def answerable(f: AggregateFunc, grouped: Set[String] = Set.empty): Boolean = f match {
    case _: CountStar => true
    case c: Count if !c.isDistinct => colName(c.column).exists(meta.schema.fieldNames.contains)
    // COUNT(DISTINCT c) per group: c grouped → 1 per group is correct
    // but Spark plans distinct aggregates differently — keep the
    // reference behavior and answer only non-grouped coordinates
    case c: Count if c.isDistinct =>
      colName(c.column).exists(n =>
        meta.coordNames.contains(n) && !grouped(n) && uniqueCoord(n))
    case m: Min => colName(m.column).exists(n => numericCoord(n) || grouped(n))
    case m: Max => colName(m.column).exists(n => numericCoord(n) || grouped(n))
    // Chunk-level SUM/AVG pushdown (the reference's roadmap "Aggregate
    // pushdown (push SUM/AVG/COUNT to chunk level)", README.md:298):
    // data-variable totals from the `.zstats` sum partials, coordinate
    // totals from the eagerly-loaded coordinate values — both zero
    // chunk IO. Ungrouped only (per-group sums would need the chunk
    // grid aligned with the group dimensions).
    case s: Sum if !s.isDistinct && grouped.isEmpty && meta.totalRows > 0 =>
      colName(s.column).exists(n => ZarrSums.totalFor(meta, n).exists(t =>
        !ZarrSums.isIntegral(meta, n) || ZarrSums.fitsLong(t)))
    case a: Avg if !a.isDistinct && grouped.isEmpty && meta.totalRows > 0 =>
      colName(a.column).exists(n => ZarrSums.totalFor(meta, n).isDefined)
    // GROUPED SUM/AVG (the marquee `GROUP BY time, SUM(temperature)`
    // shape): answerable from the sidecar when the variable's chunk
    // extent is 1 along every grouped dim — each chunk then belongs
    // to exactly one group (the typical time-chunked layout).
    case s: Sum if !s.isDistinct && grouped.nonEmpty && meta.totalRows > 0 =>
      colName(s.column).exists { n =>
        val dims = grouped.toSeq.map(meta.coordNames.indexOf)
        ZarrSums.groupTotals(meta, n, dims).exists { case (totals, dflt) =>
          !ZarrSums.isIntegral(meta, n) ||
            (totals.valuesIterator ++ Iterator(dflt)).forall(ZarrSums.fitsLong)
        }
      }
    case a: Avg if !a.isDistinct && grouped.nonEmpty && meta.totalRows > 0 =>
      colName(a.column).exists { n =>
        val dims = grouped.toSeq.map(meta.coordNames.indexOf)
        ZarrSums.groupTotals(meta, n, dims).isDefined
      }
    case _ => false
  }

  override def build(): Scan = aggPushed match {
    case Some(agg) if agg.groupByExpressions().nonEmpty => new ZarrGroupAggScan(meta, agg)
    case Some(agg) => new ZarrAggScan(meta, agg)
    case None =>
      new ZarrScan(meta, requiredSchema, coordPreds, accepted, limit,
        options.getLong("minRowsPerPartition", 65536),
        options.getBoolean("fillValueAsNull", false),
        options.getInt("chunkCacheEntries", 0),
        varPreds, offset,
        maxRowsPerPartition = options.getLong("maxRowsPerPartition", 262144L),
        // read-ahead defaults ON for remote backends (each chunk costs
        // a round trip there) and OFF for local files; explicit option
        // wins either way
        prefetch = Option(options.get("prefetch")).map(_.toBoolean)
          .getOrElse(!ZarrStore.open(meta.path).isInstanceOf[LocalStore]),
        startingOffsetLatest =
          Option(options.get("startingOffset")).exists(_.equalsIgnoreCase("latest")),
        keyByOuter = options.getBoolean("partitionByOuter", false),
        maxPartitions = options.getInt("maxPartitions", 32768),
        topNVar = topNVar,
        maxSlabsPerTrigger = options.getLong("maxSlabsPerTrigger", 0L))
  }
}

/** Regular scan: filtered/limited flattened grid, partitioned along
  * outer-dimension chunk boundaries. */
class ZarrScan(
    meta: ZarrStoreMeta,
    requiredSchema: StructType,
    coordPreds: Map[Int, Seq[GridMath.CoordPred]],
    pushedFilters: Array[Filter],
    limit: Option[Long],
    minRowsPerPartition: Long,
    fillAsNull: Boolean = false,
    chunkCacheEntries: Int = 0,
    varPreds: Map[String, Seq[GridMath.CoordPred]] = Map.empty,
    offset: Long = 0L,
    maxRowsPerPartition: Long = 262144L,
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
    maxSlabsPerTrigger: Long = 0L)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeV2Filtering
    with SupportsReportPartitioning with SupportsReportOrdering {

  /** Store path, for per-member attribution in union diagnostics. */
  private[graft] def storePath: String = meta.path

  private val staticRanges: Option[GridMath.Ranges] =
    GridMath.coordRangesPred(meta.coords.map(_.doubles), coordPreds)

  /** Narrowed further by [[filter]] at runtime (DSv2 dynamic pruning:
    * Spark pushes the build side's join-key values before re-planning
    * partitions). */
  @volatile private var ranges: Option[GridMath.Ranges] = staticRanges

  private def filteredRows: Long = ranges.map(GridMath.totalRows).getOrElse(0L)

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
    if (offset > 0L || keyGrouped) Array.empty
    else meta.coords.filter(c => c.meta.dtype.kind != 'S')
      .map(_.meta.name).filter(requiredSchema.fieldNames.contains)
      .map(Expressions.column).toArray

  override def filter(predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    val coordIdx = meta.coordNames.zipWithIndex.toMap
    predicates.foreach { p =>
      val children = p.children()
      val dimOpt = children.headOption.collect {
        case r: NamedReference if r.fieldNames().length == 1 => r.fieldNames().head
      }.flatMap(coordIdx.get)
      val values = children.drop(1).collect {
        case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
          l.value() match {
            case n: java.lang.Number => Some(n.doubleValue())
            case _ => None
          }
      }.flatten
      if ((p.name() == "IN" || p.name() == "=") && dimOpt.isDefined &&
          values.length == children.length - 1) {
        val d = dimOpt.get
        ranges = ranges.flatMap { r =>
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
      }
    }
    invalidatePlannedPartitions() // ranges changed — re-plan
  }

  override def readSchema(): StructType = requiredSchema

  /** Key-grouped ("storage-partitioned") mode is active when requested
    * AND the shape allows it: one partition per outer index, each
    * tagged with its outer coordinate value, so `groupBy(outer)` and
    * same-grid joins need NO shuffle (Spark's storage-partitioned
    * execution, `spark.sql.sources.v2.bucketing.enabled`). Guards:
    * the outer coordinate must be projected (it is the key), strictly
    * increasing (distinct key per partition), numeric, and no
    * limit/offset (their row clipping crosses partition keys). */
  private val keyGrouped: Boolean =
    keyByOuter && limit.isEmpty && offset == 0L && meta.coords.nonEmpty &&
      requiredSchema.fieldNames.contains(meta.coordNames.head) &&
      meta.coords.head.meta.dtype.kind != 'S' && {
        val d = meta.coords.head.doubles
        (1 until d.length).forall(i => d(i - 1) < d(i))
      }

  private lazy val plannedPartitionCount: Int = planInputPartitions().length

  override def outputPartitioning(): org.apache.spark.sql.connector.read.partitioning.Partitioning =
    if (keyGrouped && ranges.isDefined) {
      val (o0, o1) = ranges.get.head
      new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
        Array(Expressions.identity(meta.coordNames.head)), o1 - o0)
    } else new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(
      plannedPartitionCount)

  /** The flattened grid enumerates rows in row-major order, so within
    * every partition rows are sorted by the coordinate columns in
    * dimension order — declared for the longest prefix of projected
    * numeric coordinates whose values are STRICTLY increasing (a
    * duplicate value makes the deeper tuple sequence re-start and the
    * prefix is no longer sorted); the last declared key alone may be
    * merely non-decreasing, so compute the strict prefix and extend it
    * by one non-strict coordinate when possible. */
  override def outputOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    val names = requiredSchema.fieldNames.toSet
    def eligible(c: CoordData, strict: Boolean): Boolean =
      names.contains(c.meta.name) && c.meta.dtype.kind != 'S' && {
        val d = c.doubles
        (1 until d.length).forall(i =>
          if (strict) d(i - 1) < d(i) else d(i - 1) <= d(i))
      }
    val strictPrefix = meta.coords.takeWhile(eligible(_, strict = true))
    val withTail =
      if (strictPrefix.length < meta.coords.length &&
        eligible(meta.coords(strictPrefix.length), strict = false))
        strictPrefix :+ meta.coords(strictPrefix.length)
      else strictPrefix
    withTail.map(c => Expressions.sort(Expressions.column(c.meta.name),
      org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)).toArray
  }

  override def toBatch: Batch = this

  /** `spark.readStream.format("zarr")`: the store's outer dimension is
    * the stream — each micro-batch covers the slabs the append sink
    * added since the last trigger. Column pruning and coordinate
    * predicates push through (predicates re-evaluated per batch
    * against the grown coordinate arrays); limit/offset/agg pushdown
    * don't arise on streaming plans. Option `startingOffset=latest`
    * skips the pre-existing grid. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new ZarrMicroBatchStream(meta.path, requiredSchema, coordPreds,
      minRowsPerPartition, fillAsNull, chunkCacheEntries, prefetch,
      startFromLatest = startingOffsetLatest,
      maxRowsPerPartition = maxRowsPerPartition,
      maxSlabsPerTrigger = maxSlabsPerTrigger)

  override def description(): String = {
    val r = ranges.map(_.map { case (s, e) => s"[$s,$e)" }.mkString(",")).getOrElse("EMPTY")
    val topN = topNVar.map { case (v, desc, n) =>
      s" topN=$v ${if (desc) "DESC" else "ASC"} $n" }.getOrElse("")
    s"ZarrScan path=${meta.path} rows=$filteredRows ranges=$r " +
      s"limit=${limit.getOrElse(-1L)} offset=$offset$topN " +
      s"pushedFilters=[${pushedFilters.mkString(", ")}]"
  }

  /** Planned partitions are cached: Spark asks for the partition list
    * more than once (outputPartitioning sizing + the actual plan),
    * and each planning pass re-runs slice merging plus per-slice
    * chunk-stats pruning. Runtime filtering mutates `ranges`, so
    * [[filter]] invalidates the cache. */
  @transient private var cachedPartitions: Array[InputPartition] = _

  private[zarr] def invalidatePlannedPartitions(): Unit = cachedPartitions = null

  override def planInputPartitions(): Array[InputPartition] = {
    if (cachedPartitions == null) cachedPartitions = computePartitions()
    cachedPartitions
  }

  private def computePartitions(): Array[InputPartition] = ranges match {
    case None => Array.empty // provably empty: filter value absent from coordinate
    case Some(r) =>
      // split where the DATA chunks split: the smallest chunk extent
      // along dim 0 across data variables (coordinate arrays are
      // irrelevant here — they're usually single-chunk)
      val outerChunk = meta.dataVars.map(_.chunks.head)
        .reduceOption(math.min).filter(_ > 0).getOrElse(1)
      val projection: Seq[ProjField] = requiredSchema.fields.toSeq.map { f =>
        val ci = meta.coordNames.indexOf(f.name)
        if (ci >= 0) CoordField(ci)
        else VarField(meta.dataVars.find(_.name == f.name).getOrElse(
          throw new IllegalArgumentException(s"Unknown column ${f.name}")))
      }
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
            ZarrInputPartition(meta.path, 0L, innerRows, r.updated(0, (o, o + 1)),
              meta.coords, projection, fillAsNull, chunkCacheEntries, prefetch),
            new GenericInternalRow(Array[Any](key))): InputPartition
        }.toArray
      } else {
      // partition-count ceiling: when the selected row space divided
      // by the row cap would exceed maxPartitions, raise BOTH the
      // merge floor and the split cap to the per-partition target —
      // a 10^12-row grid plans ~maxPartitions chunk-aligned slices,
      // not millions
      val selected = limit
        .map(math.min(_, GridMath.totalRows(r))).getOrElse(GridMath.totalRows(r))
      val target =
        if (maxPartitions > 0) (selected + maxPartitions - 1) / maxPartitions else 0L
      GridMath.partitionSlices(r, outerChunk, limit,
        math.max(minRowsPerPartition, target),
        // per-dim minimum data-chunk extents: sub-slab splits align to
        // the inner chunk grid so partitions own whole chunks
        innerChunks = (0 until meta.coords.length).map(d =>
          meta.dataVars.map(_.chunks(d)).reduceOption(math.min).filter(_ > 0).getOrElse(1)),
        // split cap at 2× the merge floor: a merge that lands between
        // target and 2×target stays one partition instead of
        // re-splitting to per-outer-step slices
        maxRowsPerPartition = math.max(maxRowsPerPartition, 2 * target))
        // pushed OFFSET clips the leading rows of the (deterministic,
        // row-major) row space; slices are global row-id ranges, so a
        // plain clip is exact
        .flatMap { case (s0, e0) =>
          val s1 = math.max(s0, offset)
          if (s1 < e0) Some((s1, e0)) else None
        }
        .filter(s => sliceMayMatch(s._1, s._2, r))
        .filter(s => sliceMayReachTopN(s._1, s._2, r))
        .map(s => ZarrInputPartition(meta.path, s._1, s._2, r, meta.coords, projection,
          fillAsNull, chunkCacheEntries, prefetch): InputPartition)
        .toArray
      }
  }

  /** Logical (edge-clipped) cell count of a chunk. */
  private def logicalCells(m: ZarrArrayMeta, ci: Seq[Int]): Long =
    m.shape.zip(m.chunks).zip(ci).map { case ((s, c), i) =>
      math.max(0L, math.min(c.toLong, s - i.toLong * c))
    }.product

  /** For ORDER BY v [DESC] LIMIT n: the pruning threshold τ = the
    * largest x such that chunks wholly ≥ x (min ≥ x under DESC; the
    * sign flip below makes ASC the same "largest first" problem) hold
    * ≥ n logical cells. The global n-th best value is then ≥ τ, so a
    * chunk whose BEST cell is strictly below τ cannot contribute —
    * and the kept chunks alone still guarantee n cells ≥ τ, so ties
    * at τ are safe (no mutual elimination: a tied chunk has
    * best = τ, not < τ, and is kept). */
  private lazy val topNThreshold: Option[(ZarrArrayMeta, Double, Boolean)] =
    topNVar.flatMap { case (name, desc, n) =>
      meta.dataVars.find(_.name == name).map { m =>
        val entries = m.chunkStats.toArray.map { case (key, (mn, mx)) =>
          val g = if (desc) mn else -mx // guarantee key (worst cell, flipped)
          (g, logicalCells(m, ZarrSums.chunkIdxOf(m, key)))
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
    * the top-n (unknown chunks always keep the slice — never prune
    * blind; >1024 covered chunks skips the check, same cap as
    * sliceMayMatch). */
  private def sliceMayReachTopN(rowStart: Long, rowEnd: Long, r: GridMath.Ranges): Boolean =
    topNThreshold match {
      case None => true
      case Some((_, tau, _)) if tau.isNegInfinity => true
      case Some((m, tau, desc)) =>
        val idx = new Array[Int](r.length)
        GridMath.rowToIndices(rowStart, r, idx); val o0 = idx(0)
        GridMath.rowToIndices(rowEnd - 1, r, idx); val o1 = idx(0)
        val innerGrid = m.chunkGrid.drop(1)
        val coveredOuter = (o0 / m.chunks.head) to (o1 / m.chunks.head)
        val nChunks = coveredOuter.size.toLong * innerGrid.product
        if (nChunks > 1024) return true
        def anyReaches(prefix: List[Long], dims: Seq[Long]): Boolean = dims match {
          case Nil =>
            m.chunkStats.get(m.chunkKey(prefix.reverse)) match {
              case Some((mn, mx)) =>
                val best = if (desc) mx else -mn // candidate's best, flipped
                !(best < tau) // NaN compares false — kept
              case None => true // unknown chunk — keep
            }
          case d +: rest => (0L until d).exists(i => anyReaches(i :: prefix, rest))
        }
        coveredOuter.exists(co => anyReaches(List(co.toLong), innerGrid))
    }

  /** Statistics-based partition pruning for pushed data-variable
    * predicates: a slice is dropped only if, for some predicated
    * variable, EVERY chunk the slice covers provably fails the
    * predicate conjunction by its `.zstats` [min,max]. Chunks without
    * a stats entry are assumed possible (never prune blind). */
  private def sliceMayMatch(rowStart: Long, rowEnd: Long, r: GridMath.Ranges): Boolean = {
    if (varPreds.isEmpty) return true
    def possible(p: GridMath.CoordPred, mn: Double, mx: Double): Boolean = p match {
      case GridMath.CoordPred.Eq(t) => t >= mn - 1e-9 && t <= mx + 1e-9
      case GridMath.CoordPred.Gt(t, orEq) => if (orEq) mx >= t else mx > t
      case GridMath.CoordPred.Lt(t, orEq) => if (orEq) mn <= t else mn < t
      case GridMath.CoordPred.InSet(vs) => vs.exists(t => t >= mn - 1e-9 && t <= mx + 1e-9)
    }
    val idx = new Array[Int](r.length)
    GridMath.rowToIndices(rowStart, r, idx); val o0 = idx(0)
    GridMath.rowToIndices(rowEnd - 1, r, idx); val o1 = idx(0)
    varPreds.forall { case (name, preds) =>
      meta.dataVars.find(_.name == name).forall { m =>
        val innerGrid = m.chunkGrid.drop(1)
        val coveredOuter = (o0 / m.chunks.head) to (o1 / m.chunks.head)
        val nChunks = coveredOuter.size.toLong * innerGrid.product
        if (nChunks > 1024) true // too many to enumerate; don't prune
        else {
          // any covered chunk whose stats allow the predicates keeps the slice
          def anyPossible(prefix: List[Long], dims: Seq[Long]): Boolean = dims match {
            case Nil =>
              val key = m.chunkKey(prefix.reverse)
              m.chunkStats.get(key) match {
                case Some((mn, mx)) => preds.forall(p => possible(p, mn, mx))
                case None => true // unknown chunk (absent or unstatted)
              }
            case d +: rest =>
              (0L until d).exists(i => anyPossible(i :: prefix, rest))
          }
          coveredOuter.exists(co => anyPossible(List(co.toLong), innerGrid))
        }
      }
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = new ZarrReaderFactory

  /** Exact statistics from metadata
    * (/root/reference/src/datasource/zarr.rs:191-254): filtered row
    * count; per-coordinate min/max/distinct/nullCount. */
  override def estimateStatistics(): Statistics = {
    val rowWidth = math.max(8,
      requiredSchema.fields.map(_.dataType.defaultSize).sum)
    val rows = math.max(0L,
      limit.map(math.min(_, filteredRows)).getOrElse(filteredRows) - offset)
    val colStats = new java.util.HashMap[NamedReference, ColumnStatistics]()
    meta.coords.zipWithIndex.foreach { case (c, _) =>
      if (requiredSchema.fieldNames.contains(c.meta.name) && c.meta.dtype.kind != 'S') {
        colStats.put(Expressions.column(c.meta.name), new ZarrColumnStats(c))
      }
    }
    new Statistics {
      override def sizeInBytes(): OptionalLong = OptionalLong.of(rows * rowWidth)
      override def numRows(): OptionalLong = OptionalLong.of(rows)
      override def columnStats(): java.util.Map[NamedReference, ColumnStatistics] = colStats
    }
  }

  override def supportedCustomMetrics(): Array[CustomMetric] =
    Array(new ZarrBytesReadMetric, new ZarrChunksDecodedMetric)
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

  /** Chunk key → chunk index vector (inverse of ZarrArrayMeta.chunkKey). */
  private[zarr] def chunkIdxOf(m: ZarrArrayMeta, key: String): Seq[Int] = {
    val sep = java.util.regex.Pattern.quote(m.separator)
    if (m.isV3) key.stripPrefix("c").split(sep).filter(_.nonEmpty).map(_.toInt).toSeq
    else key.split(sep).map(_.toInt).toSeq
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
      val ci = chunkIdxOf(m, key)
      val g = groupDims.map(ci(_))
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

/** Metadata-only scan for completely-pushed aggregates: emits a single
  * row computed from statistics — zero chunk IO, the DSv2 equivalent
  * of the reference's CountStatisticsRule / MinMaxStatisticsRule. */
class ZarrAggScan(meta: ZarrStoreMeta, agg: Aggregation) extends Scan with Batch {

  private def colName(e: org.apache.spark.sql.connector.expressions.Expression): String =
    e.asInstanceOf[NamedReference].fieldNames().head

  override def readSchema(): StructType = StructType(
    agg.aggregateExpressions().zipWithIndex.map {
      case (_: CountStar, i) => StructField(s"count_$i", LongType, nullable = false)
      case (_: Count, i) => StructField(s"count_$i", LongType, nullable = false)
      case (m: Min, i) =>
        StructField(s"min_$i", meta.schema(colName(m.column)).dataType, nullable = true)
      case (m: Max, i) =>
        StructField(s"max_$i", meta.schema(colName(m.column)).dataType, nullable = true)
      case (s: Sum, i) =>
        val t = if (ZarrSums.isIntegral(meta, colName(s.column))) LongType else DoubleType
        StructField(s"sum_$i", t, nullable = true)
      case (_: Avg, i) => StructField(s"avg_$i", DoubleType, nullable = true)
      case (other, _) => throw new IllegalStateException(s"Unexpected pushed agg: $other")
    })

  override def description(): String =
    s"ZarrAggScan path=${meta.path} (metadata-only) " +
      s"aggs=[${agg.aggregateExpressions().mkString(", ")}]"

  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    val coordByName = meta.coords.map(c => c.meta.name -> c).toMap
    val values: Array[Any] = agg.aggregateExpressions().map {
      case _: CountStar => meta.totalRows
      case c: Count if !c.isDistinct => meta.totalRows // null_count is 0 for every column
      case c: Count => coordByName(colName(c.column)).length.toLong
      case m: Min =>
        val c = coordByName(colName(m.column))
        ChunkCodec.elementAt(c.raw, GridMath.findCoordIndex(c.doubles, c.min))
      case m: Max =>
        val c = coordByName(colName(m.column))
        ChunkCodec.elementAt(c.raw, GridMath.findCoordIndex(c.doubles, c.max))
      case s: Sum =>
        val n = colName(s.column)
        val total = ZarrSums.totalFor(meta, n).get
        if (ZarrSums.isIntegral(meta, n)) total.longValueExact() else total.doubleValue()
      case a: Avg =>
        // double division of the exact total — identical to Spark's
        // sum.toDouble / count and to the oracle's CAST(s AS DOUBLE)/n
        ZarrSums.totalFor(meta, colName(a.column)).get.doubleValue() / meta.totalRows
      case other => throw new IllegalStateException(s"Unexpected pushed agg: $other")
    }
    Array(ZarrAggPartition(values))
  }

  override def createReaderFactory(): PartitionReaderFactory = new ZarrAggReaderFactory
}

/** Metadata-only GROUPED aggregate scan: one output row per
  * combination of the grouped coordinates' values, each answered from
  * grid arithmetic (see ZarrScanBuilder.supportCompletePushDown) —
  * zero chunk IO for `SELECT time, COUNT(*) … GROUP BY time`-shaped
  * queries at any grid size. Partitioned along the first grouped
  * dimension, so even a million-group dimension emits in parallel. */
class ZarrGroupAggScan(meta: ZarrStoreMeta, agg: Aggregation) extends Scan with Batch {

  private def colNameOf(e: org.apache.spark.sql.connector.expressions.Expression): String =
    e.asInstanceOf[NamedReference].fieldNames().head

  private val groupNames: Seq[String] = agg.groupByExpressions().map(colNameOf).toSeq
  private val groupDims: Seq[Int] = groupNames.map(meta.coordNames.indexOf)
  private val groupedSet = groupNames.toSet
  private val coordByName = meta.coords.map(c => c.meta.name -> c).toMap

  /** Rows per group = Π lengths of the NON-grouped coordinates. */
  private val rowsPerGroup: Long = meta.coords.zipWithIndex
    .collect { case (c, d) if !groupDims.contains(d) => c.length.toLong }
    .product

  /** One entry per aggregate: a constant, the j-th grouped
    * coordinate's value, or a per-group sidecar total. Lazy: building
    * the sidecar group totals folds the per-chunk map, which callers
    * that only need the schema must not pay for. */
  private lazy val specs: Seq[ZarrGroupAggSpec] = agg.aggregateExpressions().toSeq.map {
    case _: CountStar => ZarrAggConst(rowsPerGroup)
    case c: Count if !c.isDistinct => ZarrAggConst(rowsPerGroup) // null_count 0 everywhere
    case c: Count => ZarrAggConst(coordByName(colNameOf(c.column)).length.toLong)
    case m: Min =>
      val n = colNameOf(m.column)
      if (groupedSet(n)) ZarrAggGroupVal(groupNames.indexOf(n))
      else { val c = coordByName(n)
        ZarrAggConst(ChunkCodec.elementAt(c.raw, GridMath.findCoordIndex(c.doubles, c.min))) }
    case m: Max =>
      val n = colNameOf(m.column)
      if (groupedSet(n)) ZarrAggGroupVal(groupNames.indexOf(n))
      else { val c = coordByName(n)
        ZarrAggConst(ChunkCodec.elementAt(c.raw, GridMath.findCoordIndex(c.doubles, c.max))) }
    case s: Sum =>
      val n = colNameOf(s.column)
      val (totals, dflt) = ZarrSums.groupTotals(meta, n, groupDims).get
      if (ZarrSums.isIntegral(meta, n))
        ZarrAggGroupTotal(totals.map { case (k, v) => k -> (v.longValueExact(): Any) },
          dflt.longValueExact())
      else
        ZarrAggGroupTotal(totals.map { case (k, v) => k -> (v.doubleValue(): Any) },
          dflt.doubleValue())
    case a: Avg =>
      val n = colNameOf(a.column)
      val (totals, dflt) = ZarrSums.groupTotals(meta, n, groupDims).get
      ZarrAggGroupTotal(
        totals.map { case (k, v) => k -> (v.doubleValue() / rowsPerGroup: Any) },
        dflt.doubleValue() / rowsPerGroup)
    case other => throw new IllegalStateException(s"Unexpected pushed agg: $other")
  }

  override def readSchema(): StructType = StructType(
    groupNames.map(n => StructField(n, meta.schema(n).dataType, nullable = false)) ++
      agg.aggregateExpressions().zipWithIndex.map {
        case (_: CountStar, i) => StructField(s"count_$i", LongType, nullable = false)
        case (_: Count, i) => StructField(s"count_$i", LongType, nullable = false)
        case (m: Min, i) =>
          StructField(s"min_$i", meta.schema(colNameOf(m.column)).dataType, nullable = true)
        case (m: Max, i) =>
          StructField(s"max_$i", meta.schema(colNameOf(m.column)).dataType, nullable = true)
        case (s: Sum, i) =>
          val t = if (ZarrSums.isIntegral(meta, colNameOf(s.column))) LongType else DoubleType
          StructField(s"sum_$i", t, nullable = true)
        case (_: Avg, i) => StructField(s"avg_$i", DoubleType, nullable = true)
        case (other, _) => throw new IllegalStateException(s"Unexpected pushed agg: $other")
      })

  override def description(): String =
    s"ZarrGroupAggScan path=${meta.path} (metadata-only) groups=[${groupNames.mkString(",")}] " +
      s"aggs=[${agg.aggregateExpressions().mkString(", ")}]"

  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    val lens = groupDims.map(d => meta.coords(d).length).toArray
    val raws = groupDims.map(d => meta.coords(d).raw)
    val ranges: GridMath.Ranges = lens.map(l => (0, l))
    GridMath.partitionSlices(ranges, 1, None, 65536)
      .map(s => ZarrGroupAggPartition(s._1, s._2, lens, raws, specs): InputPartition)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = new ZarrGroupAggReaderFactory
}

/** How a grouped-aggregate output column is produced per group row. */
sealed trait ZarrGroupAggSpec extends Serializable
/** A group-independent constant (counts, global coordinate bounds). */
final case class ZarrAggConst(v: Any) extends ZarrGroupAggSpec
/** The j-th grouped coordinate's value for the row's group. */
final case class ZarrAggGroupVal(j: Int) extends ZarrGroupAggSpec
/** A per-group sidecar total (SUM/AVG), keyed by the grouped coord
  * indices; groups with no written chunk take the fill-only default. */
final case class ZarrAggGroupTotal(totals: Map[Seq[Int], Any], default: Any)
    extends ZarrGroupAggSpec

final case class ZarrGroupAggPartition(
    rowStart: Long, rowEnd: Long, lens: Array[Int],
    raws: Seq[AnyRef], specs: Seq[ZarrGroupAggSpec]) extends InputPartition

class ZarrGroupAggReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[ZarrGroupAggPartition]
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
}

final case class ZarrAggPartition(values: Array[Any]) extends InputPartition

class ZarrAggReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val vals = partition.asInstanceOf[ZarrAggPartition].values
    new PartitionReader[InternalRow] {
      private var done = false
      override def next(): Boolean = if (done) false else { done = true; true }
      override def get(): InternalRow = new GenericInternalRow(vals.clone())
      override def close(): Unit = {}
    }
  }
}

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
    memberIdx: Int = -1) extends InputPartition

/** One outer-index slab tagged with its coordinate value — the unit of
  * key-grouped (storage-partitioned) execution. */
final case class ZarrKeyedInputPartition(p: ZarrInputPartition, key: InternalRow)
    extends InputPartition with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow = key
}

class ZarrReaderFactory extends PartitionReaderFactory {
  private def unwrap(partition: InputPartition): ZarrInputPartition = partition match {
    case k: ZarrKeyedInputPartition => k.p
    case p: ZarrInputPartition => p
  }

  /** Every partition reads columnar: an empty projection (bare
    * counts) emits zero-column batches carrying `numRows`. */
  override def supportColumnarReads(partition: InputPartition): Boolean = true

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException("zarr partitions are read columnar only")

  override def createColumnarReader(
      partition: InputPartition): PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    new ZarrColumnarReader(unwrap(partition))
}
