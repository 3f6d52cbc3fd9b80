package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.zarr.{ChunkCodec, GridMath}

/** Property tests for the pure grid arithmetic (SURVEY.md §7 step 9:
  * coordKeys / limitedSubset / coordRangesPred are pure functions, ideal
  * ScalaCheck targets). */
class GridMathPropSpec extends AnyFunSuite {

  /** scalatestplus isn't on the offline classpath; drive scalacheck
    * directly. */
  private def check(prop: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
  }

  private val genRanges: Gen[Array[(Int, Int)]] = for {
    nDims <- Gen.choose(1, 4)
    dims <- Gen.listOfN(nDims, for {
      size <- Gen.choose(1, 12)
      start <- Gen.choose(0, 5)
    } yield (start, start + size))
  } yield dims.toArray

  test("rowToIndices is a bijection onto the range box") {
    check(Prop.forAll(genRanges) { ranges =>
      val total = GridMath.totalRows(ranges)
      val out = new Array[Int](ranges.length)
      val seen = scala.collection.mutable.Set.empty[Seq[Int]]
      var ok = true
      var r = 0L
      while (r < total && ok) {
        GridMath.rowToIndices(r, ranges, out)
        ok = out.zip(ranges).forall { case (i, (s, e)) => i >= s && i < e }
        seen += out.toSeq
        r += 1
      }
      ok && seen.size == total
    })
  }

  test("rowToIndices enumerates in row-major order (last dim fastest)") {
    check(Prop.forAll(genRanges) { ranges =>
      val total = GridMath.totalRows(ranges)
      if (total < 2) true
      else {
        val a = new Array[Int](ranges.length)
        val b = new Array[Int](ranges.length)
        (0L until (total - 1)).forall { r =>
          GridMath.rowToIndices(r, ranges, a)
          GridMath.rowToIndices(r + 1, ranges, b)
          // successive rows compare lexicographically ascending
          a.toSeq.zip(b.toSeq).find { case (x, y) => x != y }
            .forall { case (x, y) => x < y }
        }
      }
    })
  }

  test("partitionSlices exactly tiles [0, min(total, limit))") {
    val gen = for {
      ranges <- genRanges
      chunk <- Gen.choose(1, 8)
      minRows <- Gen.choose(1L, 50L)
      limit <- Gen.option(Gen.choose(0L, 200L))
    } yield (ranges, chunk, minRows, limit)
    check(Prop.forAll(gen) { case (ranges, chunk, minRows, limit) =>
      val total = GridMath.totalRows(ranges)
      val want = limit.map(math.min(_, total)).getOrElse(total)
      val slices = GridMath.partitionSlices(ranges, chunk, limit, minRows)
      val contiguous = slices.isEmpty ||
        (slices.head._1 == 0 && slices.last._2 == want &&
          slices.zip(slices.tail).forall { case (x, y) => x._2 == y._1 })
      val nonEmpty = slices.forall { case (s, e) => e > s }
      Prop(if (want == 0) slices.isEmpty else contiguous && nonEmpty) :| s"slices=$slices want=$want"
    })
  }

  test("partitionSlices under maxRows still tiles exactly and respects the cap") {
    val gen = for {
      ranges <- genRanges
      chunk <- Gen.choose(1, 8)
      minRows <- Gen.choose(1L, 50L)
      maxRows <- Gen.choose(1L, 100L)
      innerChunks <- Gen.listOfN(4, Gen.choose(1, 5))
      limit <- Gen.option(Gen.choose(0L, 200L))
    } yield (ranges, chunk, minRows, maxRows, innerChunks, limit)
    check(Prop.forAll(gen) { case (ranges, chunk, minRows, maxRows0, innerChunks, limit) =>
      val maxRows = math.max(maxRows0, minRows) // sane config: max >= min
      val total = GridMath.totalRows(ranges)
      val want = limit.map(math.min(_, total)).getOrElse(total)
      val slices = GridMath.partitionSlices(
        ranges, chunk, limit, minRows, innerChunks, maxRows)
      val contiguous = slices.isEmpty ||
        (slices.head._1 == 0 && slices.last._2 == want &&
          slices.zip(slices.tail).forall { case (x, y) => x._2 == y._1 })
      val nonEmpty = slices.forall { case (s, e) => e > s }
      // the cap can be exceeded only by the unsplittable single-row
      // fallback unit, which subSize rounds up to at least one unit —
      // a slice is never more than 2x the cap once a unit fits
      val capped = slices.forall { case (s, e) => e - s <= math.max(maxRows, 1L) * 2 }
      Prop(if (want == 0) slices.isEmpty else contiguous && nonEmpty && capped) :|
        s"slices=$slices want=$want maxRows=$maxRows"
    })
  }

  test("partitionSlices with a slab filter tiles exactly the kept slabs, merging only adjacent ones") {
    val gen = for {
      ranges <- genRanges
      chunk <- Gen.choose(1, 8)
      minRows <- Gen.choose(1L, 50L)
      maxRows <- Gen.choose(1L, 100L)
      innerChunks <- Gen.listOfN(4, Gen.choose(1, 5))
      limit <- Gen.option(Gen.choose(0L, 200L))
      dropped <- Gen.containerOf[Set, Int](Gen.choose(0, 20))
    } yield (ranges, chunk, minRows, maxRows, innerChunks, limit, dropped)
    check(Prop.forAll(gen) { case (ranges, chunk, minRows, maxRows0, innerChunks, limit, dropped) =>
      val maxRows = math.max(maxRows0, minRows)
      val innerRows = ranges.drop(1).foldLeft(1L) { case (a, (s, e)) => a * (e - s) }
      // the outer chunk a row lies in
      def slab(row: Long): Int = (ranges.head._1 + (row / innerRows).toInt) / chunk
      val slabs = GridMath.partitionSlices(ranges, chunk, limit, 0L)
      val kept = slabs.filterNot(s => dropped(slab(s._1)))
      val slices = GridMath.partitionSlices(ranges, chunk, limit, minRows, innerChunks, maxRows,
        keep = (s, _) => !dropped(slab(s)))
      def rows(ss: Seq[(Long, Long)]) = ss.flatMap { case (s, e) => s until e }
      val exact = rows(slices) == rows(kept)
      // a slice spans only kept slabs, so it never reads a dropped one
      val clean = slices.forall { case (s, e) => (s until e).forall(r => !dropped(slab(r))) }
      Prop(exact && clean) :| s"slices=$slices kept=$kept"
    })
  }

  test("partitionSlices at a derived cap tiles exactly and no decode unit lies in two slices") {
    val gen = for {
      ranges <- genRanges
      chunks <- Gen.listOfN(4, Gen.choose(1, 5))
      minRows <- Gen.choose(1L, 50L)
      maxRows <- Gen.choose(1L, 100L)
      limit <- Gen.option(Gen.choose(0L, 200L))
    } yield (ranges, chunks, minRows, maxRows, limit)
    check(Prop.forAll(gen) { case (ranges, chunks, minRows, maxRows0, limit) =>
      val maxRows = math.max(maxRows0, minRows)
      val total = GridMath.totalRows(ranges)
      val want = limit.map(math.min(_, total)).getOrElse(total)
      val slices = GridMath.partitionSlices(ranges, chunks.head, limit, minRows, chunks, maxRows,
        hardCap = false)
      val contiguous = slices.isEmpty ||
        (slices.head._1 == 0 && slices.last._2 == want &&
          slices.zip(slices.tail).forall { case (x, y) => x._2 == y._1 })
      // the chunk grid position of every row each slice reads
      val idx = new Array[Int](ranges.length)
      val owner = scala.collection.mutable.Map.empty[Seq[Int], Int]
      val exclusive = slices.zipWithIndex.forall { case ((s, e), i) =>
        (s until e).forall { r =>
          GridMath.rowToIndices(r, ranges, idx)
          owner.getOrElseUpdate(idx.toSeq.zipWithIndex.map { case (x, d) => x / chunks(d) }, i) == i
        }
      }
      Prop(if (want == 0) slices.isEmpty else contiguous && exclusive) :|
        s"slices=$slices want=$want maxRows=$maxRows owner=$owner"
    })
  }

  test("maxRows splitting on the ERA5 shape: 3 outer slabs become a full cluster's worth") {
    // ERA5 local fixture shape from the reference: 3(time) x 2 x 721 x 1440,
    // chunks (1, 2, 721, 1440) => innerRows per outer index = 2,076,480.
    val ranges: GridMath.Ranges = Array((0, 3), (0, 2), (0, 721), (0, 1440))
    val outerOnly = GridMath.partitionSlices(ranges, 1, None, 1)
    assert(outerOnly.length == 3) // the parallelism cap this removes
    // cap at ~260k rows: sub-slices align to the (2, 721, 1440) chunk
    // grid — unit = one full 721x1440 level = 1,038,240 rows... too big,
    // so alignment falls to the 1440-row lat-line unit.
    val split = GridMath.partitionSlices(ranges, 1, None, 1,
      innerChunks = Seq(1, 2, 721, 1440), maxRowsPerPartition = 260000L)
    assert(split.length > 3 * 7 && split.length <= 3 * 9,
      s"got ${split.length} slices")
    assert(split.head._1 == 0 && split.last._2 == GridMath.totalRows(ranges))
    assert(split.zip(split.tail).forall { case (x, y) => x._2 == y._1 })
    assert(split.forall { case (s, e) => e - s <= 260000L })
    // boundaries are 1440-row aligned (whole lat lines)
    assert(split.forall { case (s, _) => s % 1440 == 0 })
  }

  test("coordRangesPred: equality filter yields singleton range or empty result") {
    val gen = for {
      values <- Gen.nonEmptyListOf(Gen.choose(-50, 50)).map(_.distinct.map(_.toDouble).toArray)
      pick <- Gen.oneOf(true, false)
      target <- Gen.choose(-60, 60).map(_.toDouble)
    } yield (values, pick, target)
    check(Prop.forAll(gen) { case (values, pick, target0) =>
      val target = if (pick && values.nonEmpty) values(0) else target0
      GridMath.coordRangesPred(Seq(values), Map(0 -> Seq(GridMath.CoordPred.Eq(target)))) match {
        case Some(r) =>
          r.length == 1 && r(0)._2 == r(0)._1 + 1 && values(r(0)._1) == target
        case None => !values.contains(target)
      }
    })
  }

  test("coordRangesPred: bounding range is a superset of exact matches, tight on sorted coords") {
    import GridMath.CoordPred
    val gen = for {
      values <- Gen.nonEmptyListOf(Gen.choose(-50, 50))
        .map(_.distinct.sorted.map(_.toDouble).toArray)
      lo <- Gen.choose(-60, 60).map(_.toDouble)
      hi <- Gen.choose(-60, 60).map(_.toDouble)
      loEq <- Gen.oneOf(true, false)
      hiEq <- Gen.oneOf(true, false)
    } yield (values, lo, hi, loEq, hiEq)
    check(Prop.forAll(gen) { case (values, lo, hi, loEq, hiEq) =>
      val preds = Seq(CoordPred.Gt(lo, loEq), CoordPred.Lt(hi, hiEq))
      def exact(v: Double) =
        (if (loEq) v >= lo else v > lo) && (if (hiEq) v <= hi else v < hi)
      val exactIdx = values.indices.filter(i => exact(values(i)))
      GridMath.coordRangesPred(Seq(values), Map(0 -> preds)) match {
        case None => Prop(exactIdx.isEmpty) :| "empty must mean no exact match"
        case Some(r) =>
          val (s, e) = r(0)
          // superset: every exactly-matching index falls inside [s, e)
          Prop(exactIdx.forall(i => i >= s && i < e)) :| s"range=[$s,$e) exact=$exactIdx"
      }
    })
  }

  test("totalRows = product of filtered dims after coordRanges") {
    check(Prop.forAll(genRanges) { ranges =>
      GridMath.totalRows(ranges) ==
        ranges.map { case (s, e) => (e - s).toLong }.product
    })
  }

  test("blosc compress/decompress round-trips for arbitrary payloads and typesizes") {
    val genPayload = for {
      n <- Gen.choose(0, 4096)
      mode <- Gen.oneOf("const", "ramp", "random")
      seed <- Gen.choose(0, 1000000)
    } yield mode match {
      case "const" => Array.fill(n)(42.toByte)
      case "ramp" => Array.tabulate(n)(i => (i / 7).toByte)
      case _ =>
        val r = new scala.util.Random(seed); Array.fill(n)(r.nextInt().toByte)
    }
    check(Prop.forAll(genPayload, Gen.oneOf(1, 2, 4, 8)) { (payload, typesize) =>
      val frame = ChunkCodec.bloscCompress(payload, typesize)
      val back = ChunkCodec.bloscDecompress(frame)
      Prop(back.sameElements(payload)) :|
        s"n=${payload.length} ts=$typesize frame=${frame.length}"
    })
  }

  test("delta decode inverts numcodecs wrapping diffs at every integer width") {
    import graft.sources.zarr.ZarrDType
    import java.nio.{ByteBuffer, ByteOrder}
    val gen = for {
      dt <- Gen.oneOf("|i1", "<i2", "<i4", "<i8", "|u1", "<u2", "<u4", "<u8")
      n <- Gen.choose(1, 200)
      vals <- Gen.listOfN(n, Gen.choose(Long.MinValue, Long.MaxValue))
    } yield (dt, vals.toArray)
    check(Prop.forAll(gen) { case (dtStr, raw0) =>
      val dtype = ZarrDType.parseV2(dtStr)
      val w = dtype.size
      val mask = if (w == 8) -1L else (1L << (8 * w)) - 1
      val vals = raw0.map(_ & mask) // source-domain bit patterns
      // numcodecs encode: first value, then differences wrapping at
      // the dtype width (numpy subtraction)
      val stored = vals.indices.map(i =>
        if (i == 0) vals(0) else (vals(i) - vals(i - 1)) & mask)
      val buf = ByteBuffer.allocate(vals.length * w).order(ByteOrder.LITTLE_ENDIAN)
      stored.foreach { v =>
        w match {
          case 1 => buf.put(v.toByte)
          case 2 => buf.putShort(v.toShort)
          case 4 => buf.putInt(v.toInt)
          case 8 => buf.putLong(v)
        }
      }
      val typed = ChunkCodec.decodeTyped(buf.array(), dtype, vals.length)
      val out = ChunkCodec.deltaDecode(typed, dtype)
      // expected: the widened (Spark-typed) view of the original values
      val expect: Seq[Long] = vals.toSeq.map { v =>
        (dtype.kind, w) match {
          case ('i', 1) => v.toByte.toLong
          case ('i', 2) => v.toShort.toLong
          case ('i', 4) => v.toInt.toLong
          case _ => v // i8 and all unsigned widenings keep the raw pattern
        }
      }
      val got: Seq[Long] = out match {
        case a: Array[Byte] => a.map(_.toLong).toSeq
        case a: Array[Short] => a.map(_.toLong).toSeq
        case a: Array[Int] => a.map(_.toLong).toSeq
        case a: Array[Long] => a.toSeq
        case other => sys.error(s"unexpected ${other.getClass}")
      }
      Prop(got == expect) :| s"$dtStr n=${vals.length}"
    })
  }
}
