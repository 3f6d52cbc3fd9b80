package graft.sources.zarr

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.connector.metric.CustomTaskMetric
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.vectorized.{OnHeapColumnVector, WritableColumnVector}
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnarBatch, ColumnVector}

/** The connector's one partition reader: fills `OnHeapColumnVector`s in
  * `batchSize`-row batches from the slice `[rowStart, rowEnd)` of the
  * filtered grid, and the emitted `ColumnarBatch` feeds Spark's
  * vectorized pipeline exactly like the parquet reader does (the
  * Spark-native analog of the reference's single Arrow RecordBatch,
  * /root/reference/src/reader/zarr_reader.rs:417-432 — but batched and
  * parallel).
  *
  * The slice is walked one RUN at a time: the longest stretch of the
  * last dimension that stays inside one chunk of every projected
  * variable and inside the current batch. Each run costs one bulk put
  * per column — a typed array copy for variables and the last-dimension
  * coordinate, a constant fill for outer coordinates — so chunk
  * location, the band LRU and the prefetch run once per run, never per
  * cell. An empty projection (bare counts) emits zero-column batches
  * carrying only `numRows`, as Spark's vectorized parquet reader does.
  * The vectors are allocated once and `reset()` per batch.
  *
  * What Spark pushed runs inside the same run loop. Pushed predicates
  * ([[CellPred]]) select the run's passing cells once per run, and the
  * plain path compacts the others away (a row limit then counts
  * emitted rows). A [[ScanFold]] consumes the whole slice before the
  * first batch, in row-major order, and the reader emits the fold's
  * rows instead of cells: per-group partial aggregates over dense
  * slots spanning the partition's index box, or the `n` best rows.
  */
class ZarrColumnarReader(p: ZarrInputPartition, batchSize: Int = 4096)
    extends PartitionReader[ColumnarBatch] {

  private val store = ZarrStore.open(p.storePath)
  private val nDims = p.ranges.length
  private val last = nDims - 1
  private val fields = p.projection.toArray
  /** Leading projection fields the plain and top-N paths emit; the
    * rest are read only for predicates and folds. */
  private val nOut = if (p.outCols < 0) fields.length else p.outCols

  private def typeOf(f: ProjField): DataType = f match {
    case CoordField(d) => p.coords(d).meta.dtype.sparkType
    case VarField(m) => m.dtype.sparkType
  }

  /** The projection field of a column the predicates or the fold name. */
  private val fieldOf: Map[String, Int] = fields.zipWithIndex.map {
    case (CoordField(d), i) => p.coords(d).meta.name -> i
    case (VarField(m), i) => m.name -> i
  }.toMap
  /** The coordinate dimension of a grouping column. */
  private def dimOf(name: String): Int = p.coords.indexWhere(_.meta.name == name)

  /** Each predicate as (projection field, range). */
  private val preds: Array[(Int, CellRange)] = p.preds.map(c => (fieldOf(c.col), c.range)).toArray

  private val outTypes: Array[DataType] = p.fold match {
    case Some(AggFold(g, aggs)) =>
      (g.map(n => p.coords(dimOf(n)).meta.dtype.sparkType) ++ aggs.map {
        case FoldCount => LongType
        case FoldSum(_) => DoubleType
        case a => typeOf(fields(fieldOf(a.col.get)))
      }).toArray
    case _ => fields.take(nOut).map(typeOf)
  }
  private val capacity: Int = {
    val rows = p.fold match {
      case Some(TopNFold(_, _, n)) => n.toLong
      case Some(_: AggFold) => batchSize.toLong
      case None => p.rowEnd - p.rowStart
    }
    math.max(1L, math.min(batchSize.toLong, rows)).toInt
  }
  private val vectors: Array[OnHeapColumnVector] = outTypes.map(new OnHeapColumnVector(capacity, _))
  private val batch = new ColumnarBatch(vectors.map(v => v: ColumnVector))

  // odometer state: global indices per dimension for the current row
  private val idx = new Array[Int](nDims)
  private var row = p.rowStart
  if (row < p.rowEnd) GridMath.rowToIndices(row, p.ranges, idx)

  /** Walk runs through the odometer. A bare count over no columns and
    * no groups needs no cell positions: its runs span whole batches. */
  private val walk = fields.nonEmpty || p.fold.exists {
    case AggFold(g, _) => g.nonEmpty
    case _ => true
  }

  // per-var-field chunk state. The walk is over the array's decode
  // units: chunks, or for a sharded array its INNER chunks, so a
  // partition decodes only the inner chunks it covers.
  private final class VarState(val meta: ZarrArrayMeta) {
    private val unit: Array[Int] = meta.sharding.fold(meta.chunks)(_.innerChunks).toArray
    private val chunkIdx = new Array[Long](nDims)
    var chunk: AnyRef = _
    /** Flat in-unit offset of the odometer's cell, set by [[locate]]. */
    var offset = 0
    private var valid = false
    var bytesRead = 0L
    var chunksDecoded = 0L
    /** Payload size of the in-flight prefetch (pool thread writes,
      * consumer drains on pickup). */
    var prefetchBytes: java.util.concurrent.atomic.AtomicLong = _

    // Row-band LRU: the odometer revisits inner-dimension units once
    // per grid row; holding one band avoids unit-extent× re-decodes
    // (see ChunkIO.bandBudget).
    private val unitBytes = ChunkIO.unitBytes(unit, meta.dtype.size)
    private val band = new ByteLru[Seq[Long], AnyRef](ChunkIO.bandBudget(unit, meta.dtype.size, p.ranges))

    // Sharded arrays: the encoded shards the band spans (null = absent
    // shard object), so each shard is fetched at most once per
    // partition while its inner chunks are decoded one by one. Only
    // `load` touches it, and loads never overlap: the consumer waits
    // for an in-flight prefetch before loading, and submits the next
    // prefetch after.
    private val shards =
      if (meta.sharding.isEmpty) null
      else new ByteLru[Seq[Long], ChunkIO.Shard](ChunkIO.bandBudget(meta.chunks, meta.dtype.size, p.ranges))
    private val shardBytes = ChunkIO.unitBytes(meta.chunks, meta.dtype.size)
    private val innerGrid = if (meta.sharding.isEmpty) null else ChunkIO.innerGrid(meta)

    private def load(key: Seq[Long], onBytes: Long => Unit): AnyRef =
      if (shards == null) ChunkIO.readChunk(store, meta, key, onBytes)
      else {
        // the shard holding this inner chunk, and the inner chunk's
        // C-order position in it
        val shardIdx = new Array[Long](nDims)
        var inner = 0
        var d = 0
        while (d < nDims) {
          shardIdx(d) = key(d) / innerGrid(d)
          inner = inner * innerGrid(d) + (key(d) % innerGrid(d)).toInt
          d += 1
        }
        val sk = shardIdx.toSeq
        val shard = shards.getOrLoad(sk)((ChunkIO.readShard(store, meta, sk, onBytes), shardBytes))
        ChunkIO.decodeInner(store, meta, shard, inner)
      }

    // With the band cache in place, cache MISSES occur in exact
    // C-order over the unit grid restricted to this partition's
    // ranges — so a one-ahead prediction is precise, and prefetching
    // the predicted unit overlaps its store latency (one object-store
    // round trip per chunk on remote backends) with the current
    // unit's decode/emit.
    private val chunkLo = Array.tabulate(nDims)(d => p.ranges(d)._1 / unit(d))
    private val chunkHi = Array.tabulate(nDims)(d =>
      math.max(p.ranges(d)._1, p.ranges(d)._2 - 1) / unit(d))
    private var pending: (Seq[Long], java.util.concurrent.Future[AnyRef]) = null

    /** The unit after `cur` in that C-order, or null when this
      * partition's rows end before it (its first cell lies at or past
      * `rowEnd`: the slice may stop inside `p.ranges`). */
    private def nextChunkKey(cur: Seq[Long]): Seq[Long] = {
      val n = cur.toArray
      var d = nDims - 1
      while (d >= 0 && n(d) == chunkHi(d)) { n(d) = chunkLo(d); d -= 1 }
      if (d < 0) return null
      n(d) += 1
      var firstRow = 0L
      d = 0
      while (d < nDims) {
        val (lo, hi) = p.ranges(d)
        firstRow = firstRow * (hi - lo) + math.max(lo.toLong, n(d) * unit(d)) - lo
        d += 1
      }
      if (firstRow < p.rowEnd) n.toSeq else null
    }

    private def fetch(key: Seq[Long]): AnyRef = {
      if (pending != null && pending._1 == key) {
        val f = pending._2
        pending = null
        val a = try f.get()
        catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
        if (prefetchBytes != null) { bytesRead += prefetchBytes.get(); prefetchBytes = null }
        a
      } else {
        // mispredicted prefetch: its bytes were still fetched — drain
        // them into the metric before reading the unit actually needed
        drainPending()
        ChunkIO.cached(store, meta, key, p.chunkCacheEntries)(load(key, bytesRead += _))
      }
    }

    /** Settle an in-flight prefetch whose result will never be picked
      * up by [[fetch]] (misprediction, or the partition ended
      * mid-prefetch): wait for it — the fetched chunk lands in the
      * shared cache either way, so the work is not lost — and account
      * its bytes, keeping zarrBytesRead equal to what was actually
      * read from the store. */
    def drainPending(): Unit = if (pending != null) {
      val f = pending._2
      pending = null
      try f.get() catch { case _: Throwable => () }
      if (prefetchBytes != null) { bytesRead += prefetchBytes.get(); prefetchBytes = null }
    }

    /** The current grid row's decode units, at `chunkIdx(last) −
      * chunkLo(last)` over this partition's own ranges, cleared
      * whenever the unit index of an outer dimension changes: a run
      * that enters a unit the row already located takes it from here,
      * with no key allocation and no band lookup. `null` (band lookups
      * only) when a row's units exceed the band budget; otherwise the
      * band holds every unit of the row too, and stays the owner of the
      * budget. */
    private val rowUnits: Array[AnyRef] =
      if (nDims == 0) null
      else {
        val n = chunkHi(last) - chunkLo(last) + 1L
        if (n * unitBytes <= band.budget) new Array[AnyRef](n.toInt) else null
      }

    /** Point [[chunk]] and [[offset]] at the odometer's cell and return
      * how many cells remain in this decode unit along the last dimension. */
    def locate(): Int = {
      var outer = !valid
      var d = 0
      while (d < last) {
        val c = idx(d) / unit(d)
        if (c != chunkIdx(d)) { chunkIdx(d) = c; outer = true }
        d += 1
      }
      if (outer || nDims > 0 && idx(last) / unit(last) != chunkIdx(last)) {
        if (nDims > 0) chunkIdx(last) = idx(last) / unit(last)
        if (rowUnits == null) chunk = bandUnit()
        else {
          if (outer) java.util.Arrays.fill(rowUnits, null)
          val j = (chunkIdx(last) - chunkLo(last)).toInt
          if (rowUnits(j) == null) rowUnits(j) = bandUnit()
          chunk = rowUnits(j)
        }
        valid = true
      }
      var off = 0
      d = 0
      while (d < nDims) { off = off * unit(d) + idx(d) % unit(d); d += 1 }
      offset = off
      if (nDims == 0) Int.MaxValue else unit(last) - idx(last) % unit(last)
    }

    /** The unit at [[chunkIdx]] from the band, else fetched (and the
      * next one prefetched) and put in the band. */
    private def bandUnit(): AnyRef = {
      val key = chunkIdx.toSeq
      val hit = band.get(key)
      if (hit.isDefined) return hit.get
      // bytesRead reported from inside the read (no extra sizeOf
      // round trip per chunk on remote stores)
      val u = fetch(key)
      chunksDecoded += 1
      band.put(key, u, unitBytes)
      if (p.prefetch && pending == null) {
        val nk = nextChunkKey(key)
        if (nk != null && band.get(nk).isEmpty) {
          // the pool thread must not touch this task's bytesRead
          // var; it accumulates into an atomic the consumer drains
          val sz = new java.util.concurrent.atomic.AtomicLong()
          prefetchBytes = sz
          pending = (nk, ChunkIO.prefetchPool.submit(
            new java.util.concurrent.Callable[AnyRef] {
              override def call(): AnyRef =
                ChunkIO.cached(store, meta, nk, p.chunkCacheEntries)(load(nk, sz.addAndGet(_)))
            }))
        }
      }
      u
    }
  }

  private val varStates: Array[VarState] = fields.collect { case VarField(m) => new VarState(m) }
  /** Field index → its VarState, or −1 for a coordinate. */
  private val varOf: Array[Int] = {
    var v = 0
    fields.map { case VarField(_) => v += 1; v - 1; case _ => -1 }
  }

  // ------------------------------------------------------------- runs

  private var runLen = 0
  /** Run positions passing every predicate: `sel(0 until nSel)`, or
    * `0 until nSel` itself while `selAll`. */
  private val sel = new Array[Int](batchSize)
  private var nSel = 0
  private var selAll = true

  /** Locate the next run of at most `budget` cells and select its
    * passing cells. */
  private def nextRun(budget: Int): Unit = {
    var len = math.min(budget.toLong, p.rowEnd - row).toInt
    if (walk) {
      if (nDims > 0) len = math.min(len, p.ranges(last)._2 - idx(last))
      var vs = 0
      while (vs < varStates.length) { len = math.min(len, varStates(vs).locate()); vs += 1 }
    }
    runLen = len
    nSel = len
    selAll = true
    var k = 0
    while (k < preds.length && nSel > 0) {
      bind(preds(k)._1)
      applyPred(preds(k)._2)
      k += 1
    }
  }

  private def endRun(): Unit = {
    if (walk) advanceOdometer(runLen)
    row += runLen
  }

  // the bound source of the current run: cell i is sArr(sOff + i * sStep)
  private var sArr: AnyRef = _
  private var sOff = 0
  private var sStep = 1

  private def bind(f: Int): Unit = fields(f) match {
    case CoordField(d) => sArr = p.coords(d).raw; sOff = idx(d); sStep = if (d == last) 1 else 0
    case VarField(_) =>
      val st = varStates(varOf(f)); sArr = st.chunk; sOff = st.offset; sStep = 1
  }

  /** Keep the selected cells of the bound source (a data variable, so
    * one cell per run position) that lie in `r`. */
  private def applyPred(r: CellRange): Unit = {
    val all = selAll
    val n = nSel
    val off = sOff
    var m = 0
    var k = 0
    sArr match {
      case a: Array[Float] =>
        val (lo, hi, nan) = (r.dlo, r.dhi, r.nan)
        while (k < n) {
          val i = if (all) k else sel(k); val x = a(off + i)
          if (x >= lo && x <= hi || nan && x != x) { sel(m) = i; m += 1 }
          k += 1
        }
      case a: Array[Double] =>
        val (lo, hi, nan) = (r.dlo, r.dhi, r.nan)
        while (k < n) {
          val i = if (all) k else sel(k); val x = a(off + i)
          if (x >= lo && x <= hi || nan && x != x) { sel(m) = i; m += 1 }
          k += 1
        }
      case a: Array[Long] =>
        val (lo, hi) = (r.lo, r.hi)
        while (k < n) {
          val i = if (all) k else sel(k); val x = a(off + i)
          if (x >= lo && x <= hi) { sel(m) = i; m += 1 }
          k += 1
        }
      case a: Array[Int] =>
        val (lo, hi) = (r.lo, r.hi)
        while (k < n) {
          val i = if (all) k else sel(k); val x = a(off + i)
          if (x >= lo && x <= hi) { sel(m) = i; m += 1 }
          k += 1
        }
      case _ =>
        while (k < n) {
          val i = if (all) k else sel(k)
          if (r.passes(sArr, off + i)) { sel(m) = i; m += 1 }
          k += 1
        }
    }
    selAll = all && m == n
    nSel = m
  }

  @inline private def cell(k: Int): Int = if (selAll) k else sel(k)

  // ------------------------------------------------------- plain path

  private var emitted = 0L
  private var rowsOut = 0L

  override def next(): Boolean = p.fold match {
    case None => nextPlain()
    case Some(f) =>
      if (foldOut == null) foldOut = runFold(f)
      val n = math.min(capacity, foldOut.rows - foldNext)
      if (n <= 0) return false
      vectors.foreach(_.reset())
      foldOut.emit(foldNext, n)
      foldNext += n
      finish(n)
  }

  private def finish(n: Int): Boolean = {
    batch.setNumRows(n)
    rowsOut += n
    true
  }

  private def nextPlain(): Boolean = {
    vectors.foreach(_.reset())
    var out = 0
    while (out < capacity && row < p.rowEnd && (p.rowLimit < 0 || emitted < p.rowLimit)) {
      nextRun(capacity - out)
      val n = if (p.rowLimit < 0) nSel else math.min(nSel.toLong, p.rowLimit - emitted).toInt
      var f = 0
      while (f < nOut) {
        bind(f)
        val v = vectors(f)
        if (sStep == 0) putConstRun(v, out, n, sArr, sOff)
        else if (selAll) {
          copyRun(v, out, sArr, sOff, n)
          if (p.fillAsNull && varOf(f) >= 0)
            nullFills(v, out, sArr, sOff, n, fields(f).asInstanceOf[VarField].meta.fillValue)
        } else gatherRun(v, out, sArr, sOff, n)
        f += 1
      }
      out += n
      emitted += n
      endRun()
    }
    if (out == 0) false else finish(out)
  }

  /** Move the odometer `len` cells along the last dimension, carrying
    * into the outer dimensions at the end of each grid row. */
  private def advanceOdometer(len: Int): Unit = if (nDims > 0) {
    idx(last) += len
    var d = last
    while (d > 0 && idx(d) >= p.ranges(d)._2) {
      idx(d) = p.ranges(d)._1
      idx(d - 1) += 1
      d -= 1
    }
  }

  // ------------------------------------------------------------ folds

  /** A fold: consumes runs, then hands out its rows, written into the
    * vectors a batch at a time. */
  private abstract class Acc {
    def add(): Unit
    def rows: Int
    def emit(from: Int, n: Int): Unit
  }
  private var foldOut: Acc = _
  private var foldNext = 0

  /** Consume the whole slice into `f`. */
  private def runFold(f: ScanFold): Acc = {
    val acc = f match {
      case a: AggFold => new AggAcc(a)
      case t: TopNFold => new TopNAcc(t)
    }
    while (row < p.rowEnd) {
      nextRun(batchSize)
      if (nSel > 0) acc.add()
      endRun()
    }
    acc
  }

  /** Dense per-group slots over the partition's index box: along each
    * grouped dim, the indices its rows can reach (one index while the
    * slice stays inside one value of every outer dim). The box holds at
    * most every group, which the scan builder bounds by the partition
    * split cap. */
  private final class AggAcc(spec: AggFold) extends Acc {
    private val g = spec.groupBy.map(dimOf).toArray
    private val (boxLo, boxLen) = {
      val first = new Array[Int](nDims)
      val lastIdx = new Array[Int](nDims)
      if (p.rowStart < p.rowEnd) {
        GridMath.rowToIndices(p.rowStart, p.ranges, first)
        GridMath.rowToIndices(p.rowEnd - 1, p.ranges, lastIdx)
      }
      val lo = new Array[Int](nDims)
      val len = new Array[Int](nDims)
      var samePrefix = true
      var d = 0
      while (d < nDims) {
        if (samePrefix) { lo(d) = first(d); len(d) = lastIdx(d) - first(d) + 1 }
        else { lo(d) = p.ranges(d)._1; len(d) = p.ranges(d)._2 - p.ranges(d)._1 }
        samePrefix = samePrefix && first(d) == lastIdx(d)
        d += 1
      }
      (g.map(lo(_)), g.map(len(_)))
    }
    private val stride: Array[Int] = {
      val s = new Array[Int](g.length)
      var acc = 1L
      var j = g.length - 1
      while (j >= 0) {
        s(j) = acc.toInt
        acc *= boxLen(j)
        if (acc > Int.MaxValue) throw new IllegalStateException(s"Too many groups in one partition: $acc")
        j -= 1
      }
      s
    }
    private val nSlots = if (p.rowStart < p.rowEnd) boxLen.product else 1
    private val lastG = g.indexOf(last)
    private val counts = new Array[Long](nSlots)
    private val aggs = spec.aggs.toArray
    /** Per aggregate: its projection field (−1 for COUNT). */
    private val aggField: Array[Int] = aggs.map(_.col.map(fieldOf).getOrElse(-1))
    /** Per aggregate: double slots (sums; min/max of float columns) or
      * long slots (min/max of integral columns). */
    private val dSlots: Array[Array[Double]] = aggs.indices.map { a =>
      aggs(a) match {
        case FoldSum(_) => new Array[Double](nSlots)
        case FoldMin(_) if floating(a) => Array.fill(nSlots)(Double.NaN)
        case FoldMax(_) if floating(a) => Array.fill(nSlots)(Double.NegativeInfinity)
        case _ => null
      }
    }.toArray
    private val lSlots: Array[Array[Long]] = aggs.indices.map { a =>
      aggs(a) match {
        case FoldMin(_) if !floating(a) => Array.fill(nSlots)(Long.MaxValue)
        case FoldMax(_) if !floating(a) => Array.fill(nSlots)(Long.MinValue)
        case _ => null
      }
    }.toArray

    private def floating(a: Int): Boolean = aggField(a) >= 0 && (typeOf(fields(aggField(a))) match {
      case FloatType | DoubleType => true
      case _ => false
    })

    override def add(): Unit = {
      var base = 0
      var j = 0
      while (j < g.length) { base += (idx(g(j)) - boxLo(j)) * stride(j); j += 1 }
      // cells of the run move along the last dim: a grouped last dim
      // moves the slot with them
      val step = if (lastG >= 0) stride(lastG) else 0
      val n = nSel
      if (step == 0) counts(base) += n
      else { var k = 0; while (k < n) { counts(base + cell(k) * step) += 1; k += 1 } }
      var a = 0
      while (a < aggs.length) {
        aggs(a) match {
          case FoldCount =>
          case FoldSum(_) => bind(aggField(a)); sum(dSlots(a), base, step)
          case FoldMin(_) =>
            bind(aggField(a)); if (dSlots(a) != null) minD(dSlots(a), base, step) else minL(lSlots(a), base, step)
          case FoldMax(_) =>
            bind(aggField(a)); if (dSlots(a) != null) maxD(dSlots(a), base, step) else maxL(lSlots(a), base, step)
        }
        a += 1
      }
    }

    /** Cell `k` of the selection as a double / long of the bound source. */
    @inline private def dAt(k: Int): Double = {
      val i = sOff + cell(k) * sStep
      sArr match {
        case a: Array[Float] => a(i)
        case a: Array[Double] => a(i)
        case other => throw new IllegalStateException(s"Not a float column: ${other.getClass}")
      }
    }
    @inline private def lAt(k: Int): Long = {
      val i = sOff + cell(k) * sStep
      sArr match {
        case a: Array[Long] => a(i)
        case a: Array[Int] => a(i)
        case a: Array[Short] => a(i)
        case a: Array[Byte] => a(i)
        case other => throw new IllegalStateException(s"Not an integral column: ${other.getClass}")
      }
    }

    // Spark's partial SUM adds each cell, widened to double, to 0.0 in
    // row order; so does this, slot by slot
    private def sum(s: Array[Double], base: Int, step: Int): Unit = {
      val n = nSel
      var k = 0
      if (step == 0) {
        var acc = s(base)
        sArr match {
          case a: Array[Float] if sStep == 1 && selAll =>
            val off = sOff
            while (k < n) { acc += a(off + k); k += 1 }
          case a: Array[Float] if sStep == 1 =>
            val off = sOff
            while (k < n) { acc += a(off + sel(k)); k += 1 }
          case a: Array[Double] if sStep == 1 && selAll =>
            val off = sOff
            while (k < n) { acc += a(off + k); k += 1 }
          case a: Array[Double] if sStep == 1 =>
            val off = sOff
            while (k < n) { acc += a(off + sel(k)); k += 1 }
          case _ => while (k < n) { acc += dAt(k); k += 1 }
        }
        s(base) = acc
      } else while (k < n) { s(base + cell(k) * step) += dAt(k); k += 1 }
    }

    // MIN/MAX in Spark's float ordering (NaN above all, −0.0 = 0.0); a
    // tie keeps the value seen first, as Spark's partial aggregate does.
    // Empty slots are never emitted, so the seeds only need to lose.
    private def minD(s: Array[Double], base: Int, step: Int): Unit = {
      var k = 0
      while (k < nSel) {
        val x = dAt(k); val j = base + cell(k) * step; val c = s(j)
        if (x < c || c != c && x == x) s(j) = x
        k += 1
      }
    }
    private def maxD(s: Array[Double], base: Int, step: Int): Unit = {
      var k = 0
      while (k < nSel) {
        val x = dAt(k); val j = base + cell(k) * step; val c = s(j)
        if (x > c || x != x && c == c) s(j) = x
        k += 1
      }
    }
    private def minL(s: Array[Long], base: Int, step: Int): Unit = {
      var k = 0
      while (k < nSel) { val x = lAt(k); val j = base + cell(k) * step; if (x < s(j)) s(j) = x; k += 1 }
    }
    private def maxL(s: Array[Long], base: Int, step: Int): Unit = {
      var k = 0
      while (k < nSel) { val x = lAt(k); val j = base + cell(k) * step; if (x > s(j)) s(j) = x; k += 1 }
    }

    /** Non-empty slots, in slot (row-major group) order; an ungrouped
      * fold always has its one row. */
    private lazy val out: Array[Int] =
      if (g.isEmpty) Array(0)
      else {
        var n = 0
        var s = 0
        while (s < nSlots) { if (counts(s) > 0) n += 1; s += 1 }
        val o = new Array[Int](n)
        n = 0
        s = 0
        while (s < nSlots) { if (counts(s) > 0) { o(n) = s; n += 1 }; s += 1 }
        o
      }

    override def rows: Int = out.length

    override def emit(from: Int, n: Int): Unit = {
      var r = 0
      while (r < n) {
        val s = out(from + r)
        var j = 0
        while (j < g.length) {
          val i = boxLo(j) + (s / stride(j)) % boxLen(j)
          putValue(vectors(j), r, ChunkCodec.elementAt(p.coords(g(j)).raw, i))
          j += 1
        }
        var a = 0
        while (a < aggs.length) {
          val v = vectors(g.length + a)
          aggs(a) match {
            case FoldCount => v.putLong(r, counts(s))
            case _ if counts(s) == 0 => v.putNull(r) // the ungrouped row of an empty slice
            case FoldSum(_) => v.putDouble(r, dSlots(a)(s))
            case _ if dSlots(a) != null =>
              if (v.dataType == FloatType) v.putFloat(r, dSlots(a)(s).toFloat) else v.putDouble(r, dSlots(a)(s))
            case _ => putValue(v, r, narrow(lSlots(a)(s), v.dataType))
          }
          a += 1
        }
        r += 1
      }
    }

    private def narrow(x: Long, t: DataType): Any = t match {
      case ByteType => x.toByte
      case ShortType => x.toShort
      case IntegerType => x.toInt
      case _ => x
    }
  }

  /** The `n` best cells by the key field, kept in a heap whose root is
    * the worst kept cell. Keys are longs ordered like Spark orders the
    * column (floats: NaN above all, −0.0 = 0.0), flipped for ASC so
    * that a larger rank is always better; a tie keeps the cell seen
    * first. */
  private final class TopNAcc(spec: TopNFold) extends Acc {
    private val cap = spec.n
    private val key = fieldOf(spec.col)
    private val ranks = new Array[Long](cap)
    private val seqs = new Array[Long](cap)
    private val vals = new Array[Array[Any]](cap)
    private var size = 0

    private def rank(key: Long): Long = if (spec.desc) key else ~key

    /** Is entry a worse than entry b (lower rank, or equal and later)? */
    private def worse(a: Int, b: Int): Boolean =
      ranks(a) < ranks(b) || ranks(a) == ranks(b) && seqs(a) > seqs(b)

    /** One loop per key type: the bound source's type is matched once
      * per run, not once per cell. */
    override def add(): Unit = {
      bind(key)
      val n = nSel
      var k = 0
      sArr match {
        case a: Array[Float] => while (k < n) { offer(floatKey(a(at(k))), k); k += 1 }
        case a: Array[Double] => while (k < n) { offer(floatKey(a(at(k))), k); k += 1 }
        case a: Array[Long] => while (k < n) { offer(a(at(k)), k); k += 1 }
        case a: Array[Int] => while (k < n) { offer(a(at(k)).toLong, k); k += 1 }
        case a: Array[Short] => while (k < n) { offer(a(at(k)).toLong, k); k += 1 }
        case a: Array[Byte] => while (k < n) { offer(a(at(k)).toLong, k); k += 1 }
        case other => throw new IllegalStateException(s"Unsupported top-N key ${other.getClass}")
      }
    }

    /** The bound source's index of selected cell `k`. */
    @inline private def at(k: Int): Int = sOff + cell(k) * sStep

    /** Keep selected cell `k`, of key `key`, if it ranks among the best. */
    @inline private def offer(key: Long, k: Int): Unit = {
      val r = rank(key)
      if (size < cap || r > ranks(0)) keep(r, cell(k))
    }

    private def floatKey(x: Double): Long = {
      val b = java.lang.Double.doubleToLongBits(if (x == 0.0) 0.0 else x) // one NaN, one zero
      b ^ ((b >> 63) & Long.MaxValue)
    }

    /** Insert run cell `i` (the root's replacement when full). */
    private def keep(r: Long, i: Int): Unit = {
      val v = new Array[Any](nOut)
      var f = 0
      while (f < nOut) { v(f) = valueAt(f, i); f += 1 }
      val at = if (size < cap) { size += 1; size - 1 } else 0
      ranks(at) = r; seqs(at) = row + i; vals(at) = v
      if (at > 0) siftUp(at) else siftDown(0)
    }

    private def swap(a: Int, b: Int): Unit = {
      val r = ranks(a); ranks(a) = ranks(b); ranks(b) = r
      val s = seqs(a); seqs(a) = seqs(b); seqs(b) = s
      val v = vals(a); vals(a) = vals(b); vals(b) = v
    }
    private def siftUp(i0: Int): Unit = {
      var i = i0
      while (i > 0 && worse(i, (i - 1) / 2)) { swap(i, (i - 1) / 2); i = (i - 1) / 2 }
    }
    private def siftDown(i0: Int): Unit = {
      var i = i0
      var done = false
      while (!done) {
        val l = 2 * i + 1
        var w = i
        if (l < size && worse(l, w)) w = l
        if (l + 1 < size && worse(l + 1, w)) w = l + 1
        if (w == i) done = true else { swap(i, w); i = w }
      }
    }

    /** Best first. */
    private lazy val order: Array[Int] =
      (0 until size).sortWith((a, b) => worse(b, a)).toArray

    override def rows: Int = size

    override def emit(from: Int, n: Int): Unit = {
      var r = 0
      while (r < n) {
        val v = vals(order(from + r))
        var f = 0
        while (f < nOut) { putValue(vectors(f), r, v(f)); f += 1 }
        r += 1
      }
    }
  }

  /** Field `f`'s value at run position `i`. */
  private def valueAt(f: Int, i: Int): Any = fields(f) match {
    case CoordField(d) => ChunkCodec.elementAt(p.coords(d).raw, if (d == last) idx(d) + i else idx(d))
    case VarField(_) => val st = varStates(varOf(f)); ChunkCodec.elementAt(st.chunk, st.offset + i)
  }

  private def putValue(v: WritableColumnVector, rowId: Int, x: Any): Unit = x match {
    case null => v.putNull(rowId)
    case a: Float => v.putFloat(rowId, a)
    case a: Double => v.putDouble(rowId, a)
    case a: Long => v.putLong(rowId, a)
    case a: Int => v.putInt(rowId, a)
    case a: Short => v.putShort(rowId, a)
    case a: Byte => v.putByte(rowId, a)
    case a: Boolean => v.putBoolean(rowId, a)
    case a: String => v.putByteArray(rowId, a.getBytes(UTF_8))
    case other => throw new IllegalStateException(s"Unsupported value ${other.getClass}")
  }

  override def get(): ColumnarBatch = batch

  override def close(): Unit = {
    // a partition can end (or be limit-cut) with a prefetch in flight;
    // its bytes must land in the metric before the task reports it
    varStates.foreach(_.drainPending())
    batch.close()
  }

  override def currentMetricsValues(): Array[CustomTaskMetric] = {
    def m(n: String, v: Long): CustomTaskMetric = new CustomTaskMetric {
      override def name(): String = n
      override def value(): Long = v
    }
    val bytes = varStates.map(_.bytesRead).sum
    val chunks = varStates.map(_.chunksDecoded).sum
    val base = Array(m("zarrBytesRead", bytes), m("zarrChunksDecoded", chunks), m("zarrRowsOut", rowsOut))
    // union-member partitions double-report under the member-ordinal
    // metric so the union scan can attribute IO per store
    if (p.memberIdx < 0) base
    else base ++ Array(m(s"zarrBytesRead.m${p.memberIdx}", bytes),
      m(s"zarrChunksDecoded.m${p.memberIdx}", chunks))
  }

  /** Copy the selected cells `arr(off + sel(k))` into rows
    * `[rowId, rowId + n)`. */
  private def gatherRun(v: WritableColumnVector, rowId: Int, arr: AnyRef, off: Int, n: Int): Unit = {
    var k = 0
    arr match {
      case a: Array[Float] => while (k < n) { v.putFloat(rowId + k, a(off + sel(k))); k += 1 }
      case a: Array[Double] => while (k < n) { v.putDouble(rowId + k, a(off + sel(k))); k += 1 }
      case a: Array[Long] => while (k < n) { v.putLong(rowId + k, a(off + sel(k))); k += 1 }
      case a: Array[Int] => while (k < n) { v.putInt(rowId + k, a(off + sel(k))); k += 1 }
      case a: Array[Short] => while (k < n) { v.putShort(rowId + k, a(off + sel(k))); k += 1 }
      case a: Array[Byte] => while (k < n) { v.putByte(rowId + k, a(off + sel(k))); k += 1 }
      case a: Array[Boolean] => while (k < n) { v.putBoolean(rowId + k, a(off + sel(k))); k += 1 }
      case a: Array[String] =>
        while (k < n) { v.putByteArray(rowId + k, a(off + sel(k)).getBytes(UTF_8)); k += 1 }
      case other => throw new IllegalStateException(s"Unsupported columnar array ${other.getClass}")
    }
  }

  /** Copy `arr[off, off + len)` into rows `[rowId, rowId + len)`.
    * Spark has no bulk put for booleans or strings, so those loop. */
  private def copyRun(v: WritableColumnVector, rowId: Int, arr: AnyRef, off: Int, len: Int): Unit =
    arr match {
      case a: Array[Float] => v.putFloats(rowId, len, a, off)
      case a: Array[Double] => v.putDoubles(rowId, len, a, off)
      case a: Array[Long] => v.putLongs(rowId, len, a, off)
      case a: Array[Int] => v.putInts(rowId, len, a, off)
      case a: Array[Short] => v.putShorts(rowId, len, a, off)
      case a: Array[Byte] => v.putBytes(rowId, len, a, off)
      case a: Array[Boolean] =>
        var i = 0
        while (i < len) { v.putBoolean(rowId + i, a(off + i)); i += 1 }
      case a: Array[String] =>
        var i = 0
        while (i < len) { v.putByteArray(rowId + i, a(off + i).getBytes(UTF_8)); i += 1 }
      case other => throw new IllegalStateException(s"Unsupported columnar array ${other.getClass}")
    }

  /** Write `arr(i)` into rows `[rowId, rowId + len)`. A string is
    * encoded and stored once; every row of the run points at it. */
  private def putConstRun(v: WritableColumnVector, rowId: Int, len: Int, arr: AnyRef, i: Int): Unit =
    arr match {
      case a: Array[Float] => v.putFloats(rowId, len, a(i))
      case a: Array[Double] => v.putDoubles(rowId, len, a(i))
      case a: Array[Long] => v.putLongs(rowId, len, a(i))
      case a: Array[Int] => v.putInts(rowId, len, a(i))
      case a: Array[Short] => v.putShorts(rowId, len, a(i))
      case a: Array[Byte] => v.putBytes(rowId, len, a(i))
      case a: Array[Boolean] => v.putBooleans(rowId, len, a(i))
      case a: Array[String] =>
        val b = a(i).getBytes(UTF_8)
        val at = v.arrayData().appendBytes(b.length, b, 0)
        var j = 0
        while (j < len) { v.putArray(rowId + j, at, b.length); j += 1 }
      case other => throw new IllegalStateException(s"Unsupported columnar array ${other.getClass}")
    }

  /** `fillValueAsNull` (reference roadmap "fill_value→null",
    * README.md:289-337): null out the cells of `arr[off, off + len)`
    * equal to the fill value `fv`. Integral cells compare in the
    * INTEGER domain — `l.toDouble == fv` would collide distinct longs
    * past 2^53 with the fill value and null out real data — and a NaN
    * fill matches NaN cells. Strings never match. */
  private def nullFills(v: WritableColumnVector, rowId: Int, arr: AnyRef, off: Int, len: Int,
      fv: Double): Unit = {
    var i = 0
    arr match {
      case a: Array[Float] =>
        val nan = fv.isNaN
        while (i < len) { val x = a(off + i); if (x == fv || nan && x.isNaN) v.putNull(rowId + i); i += 1 }
      case a: Array[Double] =>
        val nan = fv.isNaN
        while (i < len) { val x = a(off + i); if (x == fv || nan && x.isNaN) v.putNull(rowId + i); i += 1 }
      case a: Array[Long] =>
        if (fv == fv.toLong.toDouble) {
          val f = fv.toLong
          while (i < len) { if (a(off + i) == f) v.putNull(rowId + i); i += 1 }
        }
      case a: Array[Int] =>
        while (i < len) { if (a(off + i) == fv) v.putNull(rowId + i); i += 1 }
      case a: Array[Short] =>
        while (i < len) { if (a(off + i) == fv) v.putNull(rowId + i); i += 1 }
      case a: Array[Byte] =>
        while (i < len) { if (a(off + i) == fv) v.putNull(rowId + i); i += 1 }
      case a: Array[Boolean] =>
        if (fv == 0.0 || fv == 1.0) {
          val f = fv == 1.0
          while (i < len) { if (a(off + i) == f) v.putNull(rowId + i); i += 1 }
        }
      case _ =>
    }
  }
}
