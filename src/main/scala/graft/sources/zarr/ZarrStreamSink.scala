package graft.sources.zarr

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.functions.{col, lit}

/** Structured Streaming SINK for Zarr stores: `df.writeStream
  * .format("zarr")` appends each micro-batch along the OUTER dimension
  * — the write half of the time-series ingest loop whose read half is
  * [[ZarrMicroBatchStream]] (`readStream` follows the growing outer
  * extent). The reference's scan is bounded-only
  * (/root/reference/src/physical_plan/zarr_exec.rs:101) and it has no
  * sink at all ("output formats", README.md:305) — this completes the
  * streaming story the roadmap leaves open: a Zarr store can now sit
  * on BOTH ends of a streaming pipeline (store → stream → store).
  *
  * Semantics per micro-batch:
  *   - no store at `path` yet → full write (needs the same `coords` /
  *     `chunkOuter` / codec options as the batch sink; temp+swap, so
  *     a crash never leaves a half-written store)
  *   - store exists → [[ZarrWriter.append]] of the batch's NEW outer
  *     slabs (whole chunks, in-place shape edit, chunks-before-
  *     metadata crash ordering)
  *
  * Keep `chunkOuter` at its default (1) for streaming targets: append
  * extends the grid in whole outer chunks, so with `chunkOuter = N`
  * every micro-batch must deliver a multiple of N slabs or the NEXT
  * append fails its alignment check — micro-batch sizes are not
  * generally controllable, chunk-of-1 always is.
  *
  * Exactly-once: replays are detected at two levels. A committed-batch
  * marker (`.graft_stream_commit`, written after each successful
  * batch) short-circuits whole-batch re-delivery after a restart, and
  * — because a marker write can be lost between an append and a crash
  * — the batch is ALSO filtered to rows whose outer value sorts
  * strictly after the store's current extent, so a replayed batch
  * whose slabs already landed appends nothing instead of failing the
  * strictly-after check. Duplicates are structurally impossible: grid
  * cells are keyed by coordinates, and an outer slab is either past
  * the extent (new) or under it (already written).
  *
  * Scale note: the micro-batch never crosses the driver. The V1 sink's
  * DataFrame wraps the stream's IncrementalExecution and would
  * re-execute it on every action the append path runs (coordinate
  * distincts, chunk mapPartitions), so the batch is re-wrapped as a
  * batch DataFrame over the SAME physical execution's InternalRow RDD
  * (the ForeachBatchSink technique, via
  * [[org.apache.spark.sql.graftbridge.DataFrameBridge]]) and persisted
  * MEMORY_AND_DISK — executors cache their own partitions, the
  * incremental plan runs once, and only slab-level coordinate
  * distincts (grid-dimension sized) ever reach the driver.
  */
class ZarrStreamSink(parameters: Map[String, String]) extends Sink {

  private val params =
    parameters.map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }
  private val path = params.getOrElse("path",
    throw new IllegalArgumentException("Zarr streaming sink requires a path"))

  private val CommitKey = ".graft_stream_commit"

  private def committedBatch(): Long =
    ZarrStore.open(path).readBytes(CommitKey) match {
      case Some(bytes) =>
        try new String(bytes, java.nio.charset.StandardCharsets.UTF_8).trim.toLong
        catch { case _: NumberFormatException => -1L }
      case None => -1L
    }

  private def markCommitted(batchId: Long): Unit =
    ZarrStore.open(path).writeBytes(CommitKey,
      batchId.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val exists = ZarrDataSource.isStore(path)
    if (exists && batchId <= committedBatch()) return // replayed, already landed
    // Materialize the micro-batch on the EXECUTORS, exactly once: the
    // DataFrame a V1 sink receives wraps the stream's
    // IncrementalExecution, and the append path runs several
    // independent actions (coordinate distincts, chunk mapPartitions),
    // each of which would re-execute it. Re-wrap the already-planned
    // execution's row RDD as a batch DF and persist — no driver
    // round-trip, no re-plan of stateful operators.
    val spark = data.sparkSession
    val local = org.apache.spark.sql.graftbridge.DataFrameBridge
      .fromInternalRows(spark,
        org.apache.spark.sql.graftbridge.DataFrameBridge.internalRows(data),
        data.schema)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // a stateful append-mode upstream legitimately emits empty batches
    // (no window finalized yet) — nothing to write. The marker is only
    // written once a store exists: writing it earlier would create the
    // store directory with nothing but the marker inside, and the
    // eventual first real write's temp+swap move would collide with
    // it. Replaying an unmarked empty batch is a no-op anyway.
    try { if (!local.isEmpty) addBatchImpl(exists, local) }
    finally local.unpersist()
    if (ZarrDataSource.isStore(path)) markCommitted(batchId)
  }

  private def addBatchImpl(exists: Boolean, local: DataFrame): Unit = {
    if (!exists) {
      ZarrDataSource.writeWithModes(local, params, replaceExisting = false)
    } else {
      val meta = ZarrMeta.readStore(path)
      val outer = meta.coords.head
      // compare in the coordinate's NATIVE type against the raw last
      // value (append enforces ascending order) — a double-cast
      // comparison would round longs past 2^53 and silently drop
      // genuinely new slabs as "replays"
      val fresh =
        if (outer.length == 0) local
        else if (outer.meta.dtype.kind == 'M') {
          // raw domain for datetime64 is epoch-micros
          val lastMicros = ChunkCodec.elementAt(outer.raw, outer.length - 1)
            .asInstanceOf[Long]
          val cutoff = java.time.Instant.EPOCH
            .plus(lastMicros, java.time.temporal.ChronoUnit.MICROS)
          local.filter(col(outer.meta.name) > lit(cutoff))
        } else
          local.filter(col(outer.meta.name) >
            lit(ChunkCodec.elementAt(outer.raw, outer.length - 1)))
      if (!fresh.isEmpty) ZarrWriter.append(fresh, path)
    }
  }

  override def toString: String = s"ZarrStreamSink[$path]"
}
