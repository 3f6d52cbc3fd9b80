package graft.sources.zarr

import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.StructType

/** Stream position over a growing Zarr store: the outer-dimension
  * extent (number of outer-index slabs present). The append sink
  * ([[ZarrWriter.append]]) only ever extends the outer dimension —
  * whole new chunks, metadata shape edited last — so "rows seen" is
  * exactly "outer slabs seen", and the offset is a single monotonic
  * long. This is the time-series ingest pairing: one job appends
  * arriving time steps, any number of `readStream` consumers follow.
  */
final case class ZarrOffset(outer: Long) extends Offset {
  override def json(): String = s"""{"outer":$outer}"""
}

/** Micro-batch stream over a Zarr store's outer dimension — the
  * Structured Streaming face of the connector (the reference is
  * bounded-only, physical_plan/zarr_exec.rs:101-102; streaming is the
  * idiomatic Spark extension of its append roadmap).
  *
  * Each batch `[start, end)` covers the outer slabs appended since the
  * last trigger and reuses the batch reader machinery unchanged
  * ([[ZarrInputPartition]] slices with dim 0 clamped to the window).
  * Store metadata is re-read at every `latestOffset`/plan call:
  * appends edit the shape in place, and crash ordering (chunks land
  * before metadata) guarantees any extent the metadata advertises is
  * fully readable.
  *
  * Pushed coordinate predicates are re-evaluated against the FRESH
  * coordinate arrays on every batch — a predicate on the outer
  * (time) dimension must see values that did not exist when the
  * stream started. Filters stay Inexact (Spark re-applies them), so
  * the re-evaluated bounding ranges only need to be a superset per
  * batch.
  *
  * A micro-batch keeps a row-based split (see the companion), not the
  * batch scan's byte-sized one: a batch covers only the slabs appended
  * since the last trigger. */
class ZarrMicroBatchStream(
    path: String,
    requiredSchema: StructType,
    coordPreds: Map[Int, Seq[GridMath.CoordPred]],
    minRowsPerPartition: Long,
    fillAsNull: Boolean,
    chunkCacheEntries: Int,
    prefetch: Boolean,
    startFromLatest: Boolean,
    maxRowsPerPartition: Long = ZarrMicroBatchStream.maxRowsPerPartition,
    /** Admission control: at most this many outer slabs per
      * micro-batch (option `maxSlabsPerTrigger`). A new consumer
      * following a decade-deep archive must backfill in bounded
      * batches, not plan one giant first batch whose failure loses
      * all progress. 0 = unbounded. */
    maxSlabsPerTrigger: Long = 0L)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  /** Extent frozen by Trigger.AvailableNow at query start: the stream
    * drains [start, frozen) in (rate-limited) batches and terminates,
    * ignoring slabs appended after the freeze — batch-incremental
    * ingest over a live archive. */
  @volatile private var availableNowEnd: Long = -1L

  override def prepareForTriggerAvailableNow(): Unit = {
    availableNowEnd = currentOuterExtent()
  }

  override def getDefaultReadLimit: ReadLimit =
    if (maxSlabsPerTrigger > 0) ReadLimit.maxRows(maxSlabsPerTrigger)
    else ReadLimit.allAvailable()

  /** Admission-controlled batch end: current extent, clamped by the
    * AvailableNow freeze and the per-trigger slab budget. (ReadMaxRows
    * counts SLABS here — the offset unit — not grid rows.) */
  override def latestOffset(startOffset: Offset, limit: ReadLimit): Offset = {
    val start = startOffset.asInstanceOf[ZarrOffset].outer
    var end = currentOuterExtent()
    if (availableNowEnd >= 0) end = math.min(end, availableNowEnd)
    limit match {
      case r: ReadMaxRows => end = math.min(end, start + r.maxRows())
      case _ =>
    }
    ZarrOffset(math.max(start, end))
  }

  override def reportLatestOffset(): Offset = ZarrOffset(currentOuterExtent())

  /** Store metadata re-read with a mid-append consistency check: an
    * append edits the outer coordinate's shape first and the data
    * variables' after, so a read landing between the two sees a grown
    * coordinate that no longer matches any variable dimension — on
    * stores without consolidated metadata that makes
    * `inferCoordOrder` fall back to ALPHABETICAL order and the grid
    * would decode transposed. Detect the inconsistent window (outer
    * name changed, or variable outer dim ≠ outer coord length) and
    * re-read; the window is two small JSON writes wide. */
  private def consistentReadStore(alsoRequire: ZarrStoreMeta => Boolean): ZarrStoreMeta = {
    var attempt = 0
    while (true) {
      val m = ZarrMeta.readStore(path)
      val consistent = m.coords.nonEmpty &&
        m.dataVars.forall(_.shape.head == m.coords.head.length.toLong) &&
        alsoRequire(m)
      if (consistent) return m
      attempt += 1
      if (attempt >= 50)
        throw new IllegalStateException(
          s"Zarr store $path stayed metadata-inconsistent after $attempt reads " +
            s"(outer ${m.coords.headOption.map(_.meta.name)} len " +
            s"${m.coords.headOption.map(_.length)}, var dims " +
            s"${m.dataVars.map(_.shape.head).distinct})")
      Thread.sleep(20)
    }
    throw new IllegalStateException("unreachable")
  }

  private def freshMeta: ZarrStoreMeta =
    consistentReadStore(m => m.coords.head.meta.name == outerName)

  /** The outer coordinate's identity and which metadata document is
    * this store's SOURCE OF TRUTH, captured once (append never changes
    * dimension order). `latestOffset` fires continuously under the
    * default trigger, so polling reads ONE document instead of a full
    * `readStore` — and it must be the SAME document `readStore`
    * prefers: the writer refreshes consolidated metadata LAST, so
    * polling the per-array doc could announce an extent the planning
    * read (which prefers consolidated) doesn't see yet; the batch
    * would plan empty while its end offset still commits — silent,
    * permanent slab loss. */
  private lazy val pollSource: (String, String) = {
    val m = consistentReadStore(_ => true)
    val outer = m.coords.head.meta.name
    val store = ZarrStore.open(path)
    if (!m.coords.head.meta.isV3 && store.readBytes(".zmetadata").isDefined)
      (".zmetadata", outer)
    else if (m.coords.head.meta.isV3) ("zarr.json", outer)
    else (s"$outer/.zarray", outer)
  }

  private def outerName: String = pollSource._2

  private def currentOuterExtent(): Long = {
    val (doc, outer) = pollSource
    val store = ZarrStore.open(path)
    def json(rel: String) = ZarrMeta.jsonAt(store, rel).getOrElse(
      throw new IllegalStateException(s"missing metadata document $rel under $path"))
    val node = json(doc)
    val (arrayDoc, isV3) = doc match {
      case ".zmetadata" => (node.get("metadata").get(s"$outer/.zarray"), false)
      // consolidated block when present (matches readStore), else this
      // store is discovered by walking per-array docs
      case "zarr.json" => (Option(node.get("consolidated_metadata"))
        .flatMap(c => Option(c.get("metadata"))).map(_.get(outer))
        .getOrElse(json(s"$outer/zarr.json")), true)
      case _ => (node, false)
    }
    ZarrMeta.layoutOf(outer, arrayDoc, isV3).shape.head
  }

  override def initialOffset(): Offset =
    ZarrOffset(if (startFromLatest) currentOuterExtent() else 0L)

  override def latestOffset(): Offset = ZarrOffset(currentOuterExtent())

  override def deserializeOffset(json: String): Offset = {
    val m = """\{\s*"outer"\s*:\s*(\d+)\s*\}""".r
    json.trim match {
      case m(n) => ZarrOffset(n.toLong)
      case other => throw new IllegalArgumentException(s"Bad ZarrOffset json: $other")
    }
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s0 = start.asInstanceOf[ZarrOffset].outer
    val e0 = end.asInstanceOf[ZarrOffset].outer
    if (e0 <= s0) return Array.empty
    val meta = freshMeta
    GridMath.coordRangesPred(meta.coords.map(_.doubles), coordPreds) match {
      case None => Array.empty // predicate matches nothing in the current grid
      case Some(r) =>
        val lo = math.max(r(0)._1, s0.toInt)
        val hi = math.min(r(0)._2, e0.toInt)
        if (lo >= hi) return Array.empty
        val ranges = r.updated(0, (lo, hi))
        val projection = meta.projection(requiredSchema.fieldNames.toSeq)
        // inner-chunk-aligned sub-slab splitting: an appended slab with a
        // huge inner grid must not serialize a micro-batch through one task
        val extents = meta.chunkExtents
        GridMath.partitionSlices(ranges, extents.head, None, minRowsPerPartition,
          innerChunks = extents, maxRowsPerPartition = maxRowsPerPartition)
          .map(s => ZarrInputPartition(path, s._1, s._2, ranges, meta.coords,
            projection, fillAsNull, chunkCacheEntries, prefetch): InputPartition)
          .toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = new ZarrReaderFactory

  override def commit(end: Offset): Unit = {}
  override def stop(): Unit = {}

  override def toString: String =
    s"ZarrMicroBatchStream(path=$path, preds=${coordPreds.size})"
}

object ZarrMicroBatchStream {
  /** A micro-batch's partition sizes in rows when the read options set
    * none: slabs merge to at least the floor, and a partition holds at
    * most the cap. */
  val minRowsPerPartition = 65536L
  val maxRowsPerPartition = 262144L
}
