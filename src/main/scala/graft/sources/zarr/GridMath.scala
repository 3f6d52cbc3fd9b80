package graft.sources.zarr

/** Pure grid arithmetic for the flattened hyper-grid table: filter
  * ranges, row-major row↔coordinate mapping, limit subsetting and
  * partition slicing.
  *
  * Ports the reference's semantics (not code):
  * /root/reference/src/reader/filter.rs:195-321 (coordinate ranges,
  * float epsilon matching, empty short-circuit, filtered-row product)
  * and /root/reference/src/reader/coord.rs:107-158 (row-major
  * enumeration, limit subsetting). All functions are
  * ScalaCheck-testable pure functions.
  */
object GridMath {

  /** Per-dimension effective index range `[start, end)`. */
  type Ranges = Array[(Int, Int)]

  /** Find the index of `target` in a coordinate's values — exact for
    * ints, epsilon-relative for floats (the reference's coercion
    * matrix, filter.rs:262-302). Returns -1 if absent. */
  def findCoordIndex(values: Array[Double], target: Double): Int = {
    var i = 0
    while (i < values.length) {
      val v = values(i)
      if (v == target || math.abs(v - target) <= 1e-9 * math.max(1.0, math.abs(target)))
        return i
      i += 1
    }
    -1
  }

  /** A pushed-down predicate on one coordinate dimension. Matching is
    * epsilon-widened (superset semantics): the scan may return extra
    * rows near the boundary, and Spark re-applies the exact filter
    * post-scan (the Inexact contract) — so widening is always safe,
    * while a float-noise *miss* would silently drop data. A dim whose
    * filters are exact is narrowed further to its exact match interval
    * (`ZarrScan`). */
  sealed trait CoordPred extends Serializable
  object CoordPred {
    final case class Eq(v: Double) extends CoordPred
    /** v > t (orEqual: v >= t). */
    final case class Gt(t: Double, orEqual: Boolean) extends CoordPred
    /** v < t (orEqual: v <= t). */
    final case class Lt(t: Double, orEqual: Boolean) extends CoordPred
    final case class InSet(vs: Seq[Double]) extends CoordPred
  }

  private def eps(t: Double): Double = 1e-9 * math.max(1.0, math.abs(t))

  private def matches(v: Double, p: CoordPred): Boolean = p match {
    case CoordPred.Eq(t) => v == t || math.abs(v - t) <= eps(t)
    // Strict bounds compare exactly: Spark's post-scan filter uses the
    // identical double comparison, so exclusion here can never lose a
    // row — and the pruning stays tight. Inclusive bounds widen by the
    // equality epsilon (same coercion posture as Eq).
    case CoordPred.Gt(t, orEq) => if (orEq) v >= t - eps(t) else v > t
    case CoordPred.Lt(t, orEq) => if (orEq) v <= t + eps(t) else v < t
    case CoordPred.InSet(vs) => vs.exists(t => matches(v, CoordPred.Eq(t)))
  }

  /** Effective ranges from arbitrary per-dimension predicate
    * conjunctions (equality, range, IN): the bounding [min,max] index
    * interval of matching values — exact-tight for sorted coordinates,
    * a safe superset for unsorted ones. `None` ⇒ provably empty
    * (extends the reference's equality-only pruning,
    * filter.rs:195-321, to its roadmap "range filter pushdown",
    * README.md:289-337). */
  def coordRangesPred(
      coordValues: Seq[Array[Double]],
      preds: Map[Int, Seq[CoordPred]]): Option[Ranges] = {
    val ranges = new Array[(Int, Int)](coordValues.length)
    var d = 0
    while (d < coordValues.length) {
      val ps = preds.getOrElse(d, Nil)
      if (ps.isEmpty) ranges(d) = (0, coordValues(d).length)
      else {
        val values = coordValues(d)
        var lo = -1; var hi = -1; var i = 0
        while (i < values.length) {
          if (ps.forall(p => matches(values(i), p))) {
            if (lo < 0) lo = i
            hi = i
          }
          i += 1
        }
        if (lo < 0) return None
        ranges(d) = (lo, hi + 1)
      }
      d += 1
    }
    Some(ranges)
  }

  /** Rows in the filtered grid = Π range sizes (filter.rs:305-310). */
  def totalRows(ranges: Ranges): Long =
    ranges.foldLeft(1L) { case (acc, (s, e)) => acc * (e - s) }

  /** Row-major (C-order, last dim fastest) mapping from a filtered-grid
    * row number to global per-dimension indices (coord.rs:107-115). */
  def rowToIndices(row: Long, ranges: Ranges, out: Array[Int]): Unit = {
    var rem = row
    var d = ranges.length - 1
    while (d >= 0) {
      val len = ranges(d)._2 - ranges(d)._1
      out(d) = ranges(d)._1 + (rem % len).toInt
      rem /= len
      d -= 1
    }
  }

  /** Split the filtered grid's row space `[0, totalRows)` (after an
    * optional limit) into partition slices aligned to outer-dimension
    * chunk boundaries — this is the chunk-level parallelism the
    * reference lists as roadmap (README.md:289-337) and Spark gets
    * naturally from multiple InputPartitions.
    *
    * @param minRowsPerPartition merge adjacent outer-chunk slices until
    *        each partition has at least this many rows (avoids
    *        per-partition overhead dominating on small stores), as long
    *        as the merged slice stays within `maxRowsPerPartition`.
    * @param maxRowsPerPartition the split cap: a slice of more rows is
    *        cut at inner-chunk boundaries.
    * @param keep whether the rows `[start, end)` of one outer-chunk slab
    *        may be read: a dropped slab emits no slice and ends the
    *        merge, so slices only ever merge adjacent kept slabs.
    * @param hardCap whether `maxRowsPerPartition` binds inside a slab
    *        (an explicit read option). A cap derived from the scan's
    *        bytes is not: an oversize slab is then cut only at units no
    *        chunk straddles ([[exclusiveUnit]]), and kept whole when
    *        none exists, so no chunk is decoded by two partitions.
    */
  def partitionSlices(
      ranges: Ranges,
      outerChunkSize: Int,
      limit: Option[Long],
      minRowsPerPartition: Long = 65536,
      innerChunks: Seq[Int] = Nil,
      maxRowsPerPartition: Long = Long.MaxValue,
      keep: (Long, Long) => Boolean = (_, _) => true,
      hardCap: Boolean = true): Seq[(Long, Long)] = {
    val total0 = totalRows(ranges)
    val total = limit.map(math.min(_, total0)).getOrElse(total0)
    if (total == 0) return Nil
    if (ranges.isEmpty) return Seq((0L, total))
    val innerRows = ranges.drop(1).foldLeft(1L) { case (a, (s, e)) => a * (e - s) }
    val slices = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    // Sub-slice granularity for splitting INSIDE an outer slab: the
    // largest inner-chunk-grid-aligned row unit not exceeding
    // maxRowsPerPartition. A store with few outer steps but a huge
    // inner grid (the reference's ERA5 fixture: 3 × 2 × 721 × 1440)
    // otherwise caps scan parallelism at the outer extent — the
    // opposite of what a 1000-executor cluster needs. Under a hard cap
    // the unit is aligned only in its own dim, so partitions may share
    // a chunk of the dims above it (the ERA5 case reads each
    // 2×721×1440 chunk about 7 times); a derived cap takes
    // [[exclusiveUnit]] instead, so no two partitions decode one chunk.
    val subUnit: Long =
      if (maxRowsPerPartition == Long.MaxValue || innerRows <= maxRowsPerPartition) innerRows
      else if (!hardCap) exclusiveUnit(ranges, innerChunks)
      else {
        // Walk from the deepest dim up, keeping the largest
        // chunk-aligned unit that still fits; stop once a full
        // deeper-dim block no longer fits (shallower units would have
        // to span it and cannot be smaller than it).
        var best = 1L // deepest fallback: single-row granularity
        var k = ranges.length - 1
        var rowsBelow = 1L
        var stop = false
        while (k >= 1 && !stop) {
          val len = ranges(k)._2 - ranges(k)._1
          val ck = math.min(if (k < innerChunks.length && innerChunks(k) > 0)
            innerChunks(k).toLong else len, len)
          val unit = ck * rowsBelow
          if (unit <= maxRowsPerPartition) best = math.max(best, unit)
          if (len * rowsBelow > maxRowsPerPartition) stop = true
          else { rowsBelow *= len; k -= 1 }
        }
        best
      }
    val subSize = math.max(subUnit, maxRowsPerPartition / subUnit * subUnit)
    val (o0, o1) = ranges.head
    var sliceStartRow = 0L
    var outer = o0
    while (outer < o1 && sliceStartRow < total) {
      // advance to the next outer chunk boundary at or after outer+1
      val nextBoundary = math.min(o1, ((outer / outerChunkSize) + 1) * outerChunkSize)
      var endRow = sliceStartRow + (nextBoundary - outer) * innerRows
      // merge forward whole kept outer chunks until the slice is big
      // enough, never past the cap: partition boundaries stay chunk
      // boundaries
      var nb = nextBoundary
      var fits = keep(sliceStartRow, math.min(endRow, total))
      val kept = fits
      while (fits && endRow - sliceStartRow < minRowsPerPartition && nb < o1 && endRow < total) {
        val nb2 = math.min(o1, nb + outerChunkSize)
        val grown = endRow + (nb2 - nb) * innerRows
        fits = math.min(grown, total) - sliceStartRow <= maxRowsPerPartition &&
          keep(endRow, math.min(grown, total))
        if (fits) { endRow = grown; nb = nb2 }
      }
      val capped = math.min(endRow, total)
      if (!kept) () // a dropped slab emits no slice
      else if (!hardCap && outerChunkSize > 1 && capped - sliceStartRow > innerRows)
        slices += ((sliceStartRow, capped)) // every chunk spans the slab's outer indices
      else if (capped - sliceStartRow > maxRowsPerPartition) {
        // oversize slab: emit chunk-aligned sub-slices. Alignment is
        // relative to each outer index's row base so boundaries land
        // on inner-chunk starts row-major.
        var a = sliceStartRow
        while (a < capped) {
          val outerBase = sliceStartRow +
            (a - sliceStartRow) / innerRows * innerRows
          val withinNext = math.min(outerBase + innerRows, capped)
          val b = math.min(math.min(a + subSize,
            outerBase + ((a - outerBase) / subSize + 1) * subSize), withinNext)
          slices += ((a, b))
          a = b
        }
      } else slices += ((sliceStartRow, capped))
      sliceStartRow = capped
      outer = nb
    }
    slices.toSeq
  }

  /** The smallest row unit inside one outer index at whose multiples
    * (counted from the outer index's first row) a slice may end with no
    * chunk lying on both sides. A unit spans `min(c, len)` indices of
    * some dim `k ≥ 1` and the whole range of every deeper dim; it is
    * exclusive when each dim between the outer one and `k` gives each
    * of its indices a chunk of its own (chunk 1, or one index), and dim
    * `k` either is one unit or is tiled exactly by chunk-aligned units.
    * With none, the whole outer index. `innerChunks(d)` missing or 0
    * reads as one chunk over the dim. */
  def exclusiveUnit(ranges: Ranges, innerChunks: Seq[Int]): Long = {
    val len = ranges.map { case (s, e) => e - s }
    def chunk(d: Int): Int = if (d < innerChunks.length && innerChunks(d) > 0) innerChunks(d) else len(d)
    def tiles(k: Int): Boolean = chunk(k) >= len(k) ||
      ranges(k)._1 % chunk(k) == 0 && len(k) % chunk(k) == 0
    def ownChunks(j: Int): Boolean = chunk(j) == 1 || len(j) == 1
    (ranges.length - 1 to 1 by -1).find(k => tiles(k) && (1 until k).forall(ownChunks)) match {
      case Some(k) => math.min(chunk(k), len(k)).toLong * len.drop(k + 1).foldLeft(1L)(_ * _)
      case None => len.drop(1).foldLeft(1L)(_ * _)
    }
  }
}
