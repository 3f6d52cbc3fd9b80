package graft.fuzz

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.zarr.KerchunkParquetRefs

/** Fuzz v4: randomized SNAPSHOT / OVERWRITE / GC interleavings over a
  * live zarr store — the stateful surface the query fuzz
  * ([[ZarrFuzz]]) cannot reach. Each seed drives a random op sequence
  * (append / snapshot / full overwrite / drop-snapshot / gc) against a
  * fresh store while the harness tracks EVERY expected frame in
  * memory (live content + each live snapshot's point-in-time content
  * + the retired-generation bookkeeping); after every op it reads the
  * live store and every live snapshot back through the connector and
  * value-compares, and every gc call's reclaim count is checked
  * against the model.
  *
  * This generates — rather than scripts — the cases
  * ZarrKerchunkSpec:442 pins by hand: chained overwrites with
  * snapshots spanning multiple generations (first-redirect-wins),
  * GC-while-live (must reclaim nothing), GC after the last claiming
  * snapshot is dropped (must reclaim exactly the orphaned
  * generations), appends interleaved between snapshots, and
  * overwrites of never-snapshotted stores (plain delete, no
  * generation). Counters record how often each case was actually hit;
  * the runner FAILS if any stays zero over the run.
  *
  * All values are seeded arithmetic (v = t·scale + x with a per-
  * generation scale), so expected frames are exact doubles — no
  * tolerance anywhere.
  */
object ZarrGenFuzz {

  /** v5: append_race op — concurrent appends under an aggressive
    * lease (short TTL/heartbeat) probe the lock lifecycle from seeds,
    * not just the scripted ZarrAppendSpec reproductions.
    * v6: append_race TTL floored at 500ms + JVM-pause detection via
    * the beat hook — a stop-the-world pause longer than the fuzz TTL
    * legitimately lets the rival break a live lease, so such seeds are
    * vacated (pause_skip counter) instead of misreported as
    * corruption (ADVICE r12). */
  val grammarVersion = 6

  /** How often each stateful case fired across a run. */
  final class Counters {
    var redirectRead = 0      // snapshot read resolved through redirects.json
    var chainedOverwrite = 0  // overwrite while a snapshot already spans >=1 prior gen
    var gcWhileLive = 0       // gc with a retired gen still claimed by a live snapshot
    var gcReclaim = 0         // gc actually reclaimed >=1 generation
    var appendAfterSnap = 0   // append while >=1 snapshot is live (time travel)
    var plainOverwrite = 0    // overwrite with no live snapshots (no gen created)
    var leaseContention = 0   // a racing appender lost the lock LOUDLY
    var pauseSkip = 0         // append_race vacated: JVM pause outlived the fuzz TTL
                              // (NOT required-nonzero — it should be rare)
    def toJson: String =
      s"""{"redirect_read": $redirectRead, "chained_overwrite": $chainedOverwrite, """ +
        s""""gc_while_live": $gcWhileLive, "gc_reclaim": $gcReclaim, """ +
        s""""append_after_snap": $appendAfterSnap, "plain_overwrite": $plainOverwrite, """ +
        s""""lease_contention": $leaseContention, "pause_skip": $pauseSkip}"""
  }

  private def rmTree(p: Path): Unit = {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]())
      .iterator().forEachRemaining(q => Files.delete(q))
    finally s.close()
  }

  /** Run one seeded op sequence; returns None on success, Some(error). */
  def runSeed(spark: SparkSession, seed: Long, c: Counters): Option[String] = {
    val r = new Random(seed ^ 0x6e47L)
    val dir = Files.createTempDirectory(s"graft_genfuzz_$seed")
    val store = dir.resolve("live.zarr").toString
    val xDim = 3L

    def rowsOf(t0: Long, nT: Long, scale: Double): Seq[(Long, Long, Double)] =
      (t0 until t0 + nT).flatMap(t => (0L until xDim).map(x => (t, x, t * scale + x)))

    def toDf(rows: Seq[(Long, Long, Double)]): DataFrame = {
      import spark.implicits._
      rows.toDF("t", "x", "v")
    }

    def write(rows: Seq[(Long, Long, Double)], mode: String): Unit = {
      var w = toDf(rows).write.format("zarr").mode(mode)
      if (mode == "overwrite")
        // chunkOuter 2 + always-even t extents keep appends chunk-aligned;
        // format version and compression are drawn per generation so the
        // retirement/redirect machinery is fuzzed over BOTH zarr formats
        w = w.option("coords", "t,x").option("chunkOuter", "2")
          .option("zarrVersion", if (r.nextBoolean()) "3" else "2")
          .option("compressor", if (r.nextBoolean()) "zstd" else "none")
      w.save(store)
    }

    def readBack(path: String): Seq[(Long, Long, Double)] =
      spark.read.format("zarr").load(path).collect()
        .map(row => (row.getAs[Long]("t"), row.getAs[Long]("x"), row.getAs[Double]("v")))
        .toSeq.sorted

    // ---------------- model state ----------------
    var gen = 0                      // bumps on every overwrite
    var scale = 10.0                 // per-generation value scale
    var live: Seq[(Long, Long, Double)] = Nil
    var nextT = 0L                   // append frontier (t is outer dim)
    // snapshot path -> (expected frame, generation it captured)
    val snaps = mutable.LinkedHashMap[String, (Seq[(Long, Long, Double)], Int)]()
    // retired generations, each = the snapshot dirs claiming it
    val retired = mutable.Buffer[Set[String]]()
    var snapId = 0

    def snapAlive(p: String): Boolean = Files.exists(Paths.get(p, ".zmetadata"))

    def freshStore(): Unit = {
      scale = 10.0 * (gen + 1)
      val nT = 2L * (1 + r.nextInt(2)) // 2 or 4 outer steps, chunk-aligned
      live = rowsOf(0, nT, scale)
      write(live, "overwrite")
      nextT = nT
    }

    def verify(tag: String): Option[String] = {
      val gotLive = readBack(store)
      if (gotLive != live.sorted)
        Some(s"seed=$seed $tag: live store diverged " +
          s"(got ${gotLive.size} rows, want ${live.size})")
      else
        snaps.toSeq.flatMap { case (p, (want, sGen)) =>
          val got = readBack(p)
          if (got != want.sorted)
            Some(s"seed=$seed $tag: snapshot $p diverged " +
              s"(got ${got.size} rows, want ${want.size})")
          else {
            if (sGen < gen) c.redirectRead += 1 // resolved through redirects.json
            None
          }
        }.headOption
    }

    try {
      freshStore()
      var err: Option[String] = verify("init")
      // Set when an append_race observed a JVM-wide pause longer than
      // the (deliberately tiny) fuzz lease TTL: the rival may then have
      // LEGITIMATELY broken a live lease, so the model's notion of who
      // won is unknowable and every remaining invariant for this seed
      // is vacated (counted, not failed — a load-dependent false
      // positive otherwise, see ADVICE r12).
      var aborted = false
      val nOps = 5 + r.nextInt(4)
      var i = 0
      while (err.isEmpty && !aborted && i < nOps) {
        val op = r.nextInt(100) match {
          case x if x < 25 => "append"
          case x if x < 48 => "snapshot"
          case x if x < 70 => "overwrite"
          case x if x < 85 => "drop"
          case x if x < 93 => "gc"
          case _           => "append_race"
        }
        op match {
          case "append" =>
            val slab = rowsOf(nextT, 2L, scale)
            write(slab, "append")
            live = live ++ slab
            nextT += 2
            if (snaps.nonEmpty) c.appendAfterSnap += 1
          case "append_race" =>
            // Two appenders race the single-writer lease under
            // AGGRESSIVE timing (TTL/heartbeat orders of magnitude
            // below production) — the seeds probe the lock lifecycle
            // the scripted ZarrAppendSpec reproductions pin one
            // schedule of. Invariants: the store ends as base + the
            // slabs of exactly the appends that reported success (no
            // torn grid, no silently dropped winner), every loser
            // failed LOUDLY (lock contention or outer-order refusal
            // when the later slab committed first), the short lease
            // was never wrongly broken mid-append, and the lock object
            // is RELEASED afterwards (the round-11 resurrection race
            // left a fresh-heartbeat orphan exactly here).
            import graft.sources.zarr.{ZarrStore, ZarrWriter}
            val (ttl0, hb0) = (ZarrWriter.leaseTtlMillis, ZarrWriter.leaseHeartbeatMillis)
            val hook0 = ZarrWriter.leaseBeatTestHook
            // TTL floored at 500ms (was 100-300): a GC/scheduler pause
            // longer than the TTL lets the rival break a LIVE lease —
            // a real double-writer interleave this harness would then
            // misreport as engine corruption. 500-800ms vs a 10-30ms
            // heartbeat keeps the lifecycle aggressive (production is
            // 60s/5s) while putting the false-positive threshold above
            // ordinary fuzz-JVM pauses; pauses that still exceed it are
            // DETECTED below and vacate the seed instead of failing it.
            ZarrWriter.leaseTtlMillis = (500 + r.nextInt(300)).toLong
            ZarrWriter.leaseHeartbeatMillis = (10 + r.nextInt(20)).toLong
            val ttl = ZarrWriter.leaseTtlMillis
            // JVM-pause detector, keyed by APPEND (the writer's
            // per-append timeline token), not by thread or race start
            // (r13 ADVICE): "acquire" baselines the holder's lease
            // clock at lock acquisition — pre-acquisition scheduling
            // delay (the thread holds nothing yet) no longer vacates
            // seeds — and every "beat" plus the final "release" sample
            // measures the gap since the SAME append's previous
            // sample, so a pause landing after the last heartbeat
            // (during release/join, where beats have stopped) is
            // still caught. Any gap > TTL means that holder's lease
            // could have legitimately expired mid-append.
            val lastSample = new java.util.concurrent.ConcurrentHashMap[AnyRef, java.lang.Long]()
            val maxGapNs = new java.util.concurrent.atomic.AtomicLong(0L)
            val timeline0 = ZarrWriter.leaseTimelineTestHook
            ZarrWriter.leaseTimelineTestHook = (token, _) => {
              val now = System.nanoTime()
              val prev = lastSample.put(token, now)
              if (prev ne null)
                maxGapNs.accumulateAndGet(now - prev.longValue, (a, b) => math.max(a, b))
            }
            try {
              val slabA = rowsOf(nextT, 2L, scale)
              val slabB = rowsOf(nextT + 2, 2L, scale)
              val outcomes = new java.util.concurrent.ConcurrentHashMap[String, Option[String]]()
              val start = new java.util.concurrent.CountDownLatch(1)
              val ths = Seq("A" -> toDf(slabA), "B" -> toDf(slabB)).map { case (nm, df) =>
                new Thread(() => {
                  start.await()
                  try { ZarrWriter.append(df, store); outcomes.put(nm, None) }
                  catch { case e: Exception =>
                    outcomes.put(nm, Some(Option(e.getMessage).getOrElse(""))) }
                })
              }
              ths.foreach(_.start())
              start.countDown(); ths.foreach(_.join(120000))
              val hung = ths.filter(_.isAlive)
              val pausedMs = maxGapNs.get() / 1000000L
              val failMsgs = Seq("A", "B").flatMap(nm => Option(outcomes.get(nm)).flatten)
              val unexpected = failMsgs.filterNot(m =>
                m.contains("writer lock") || m.contains("must sort strictly after"))
              if (hung.nonEmpty || outcomes.size != 2) {
                // interrupt the straggler so it stops mutating the
                // store, and vacate the seed — its remaining ops would
                // otherwise run against a store a rogue thread is still
                // writing (the err also ends the op loop immediately)
                hung.foreach(_.interrupt())
                err = Some(s"seed=$seed op$i append_race: an appender hung past the 120s join")
              } else if (pausedMs > ttl) {
                // a pause outlived the lease: the rival may have broken
                // a LIVE lease and both writers interleaved — that is
                // the lock doing exactly what its TTL contract says, not
                // an engine bug; vacate the seed's remaining invariants
                c.pauseSkip += 1
                aborted = true
              } else if (unexpected.nonEmpty)
                err = Some(s"seed=$seed op$i append_race: unexpected failure: ${unexpected.head}")
              else {
                if (failMsgs.exists(_.contains("writer lock"))) c.leaseContention += 1
                val okA = Option(outcomes.get("A")).contains(None)
                val okB = Option(outcomes.get("B")).contains(None)
                live = live ++ (if (okA) slabA else Nil) ++ (if (okB) slabB else Nil)
                // the frontier advances past BOTH slabs: if only B
                // landed, a later append at A's range would (rightly)
                // hit the outer-order refusal
                nextT += 4
                if (ZarrStore.open(store).readBytes(ZarrWriter.appendLockRel).isDefined)
                  err = Some(s"seed=$seed op$i append_race: lock left behind after release")
              }
            } finally {
              ZarrWriter.leaseTtlMillis = ttl0
              ZarrWriter.leaseHeartbeatMillis = hb0
              ZarrWriter.leaseBeatTestHook = hook0
              ZarrWriter.leaseTimelineTestHook = timeline0
            }
          case "snapshot" =>
            val p = dir.resolve(s"snap_$snapId.parq").toString
            snapId += 1
            KerchunkParquetRefs.snapshot(store, p)
            snaps += p -> (live, gen)
          case "overwrite" =>
            if (snaps.valuesIterator.exists(_._2 < gen)) c.chainedOverwrite += 1
            // snapshots registered SINCE the last overwrite claim the
            // generation being retired (the registry resets at each
            // retirement, so older snapshots are already redirected)
            val claimants = snaps.collect { case (p, (_, g)) if g == gen => p }.toSet
            if (claimants.isEmpty) c.plainOverwrite += 1 else retired += claimants
            gen += 1
            freshStore()
          case "drop" if snaps.nonEmpty =>
            val p = snaps.keys.toSeq(r.nextInt(snaps.size))
            rmTree(Paths.get(p))
            snaps -= p
          case "drop" => // nothing to drop — treated as a no-op step
          case "gc" =>
            if (retired.exists(_.exists(snapAlive))) c.gcWhileLive += 1
            val expected = retired.count(set => !set.exists(snapAlive))
            val got = KerchunkParquetRefs.gcGenerations(store)
            if (got.size != expected)
              err = Some(s"seed=$seed op$i gc: reclaimed ${got.size} " +
                s"generations, model expected $expected")
            else {
              if (got.nonEmpty) c.gcReclaim += 1
              val survivors = retired.filter(_.exists(snapAlive))
              retired.clear(); retired ++= survivors
            }
        }
        if (err.isEmpty && !aborted) err = verify(s"op$i=$op")
        i += 1
      }
      // teardown phase (1 seed in 3): drop EVERY snapshot, then gc must
      // reclaim EVERY retired generation — the full-reclaim case is
      // rare inside the random window (it needs snapshot → overwrite →
      // drop-all-claimants → gc in order), so a third of the seeds end
      // by asserting it directly.
      if (err.isEmpty && !aborted && r.nextInt(3) == 0) {
        snaps.keys.toSeq.foreach(p => rmTree(Paths.get(p)))
        snaps.clear()
        val got = KerchunkParquetRefs.gcGenerations(store)
        if (got.size != retired.size)
          err = Some(s"seed=$seed teardown gc: reclaimed ${got.size} " +
            s"generations, model expected ${retired.size}")
        else {
          if (got.nonEmpty) c.gcReclaim += 1
          retired.clear()
          err = verify("teardown")
        }
      }
      if (err.isEmpty) rmTree(dir)
      err
    } catch {
      case e: Exception =>
        Some(s"seed=$seed: ${e.getClass.getSimpleName}: ${e.getMessage} (kept $dir)")
    }
  }
}

/** Runner: `graft.fuzz.ZarrGenFuzzRun <outDir> [nSeeds] [seed0]` —
  * runs the seeds in one session, writes counters to
  * `<outDir>/fuzz_meta.json`, exits nonzero on any divergence OR if a
  * required stateful case was never generated (a run that never reads
  * through a redirect would silently test only the append path). */
object ZarrGenFuzzRun extends FuzzRunner("gen-fuzz", ZarrGenFuzz.grammarVersion, Some("zarr-gen"),
    corpus = false) {
  protected def lane(spark: SparkSession, sfDir: String, outDir: String, nSeeds: Int): FuzzLane =
    new FuzzLane {
      val c = new ZarrGenFuzz.Counters
      def draw(seed: Long): FuzzCase = FuzzCase(f"gen_$seed%04d", "", "", () =>
        ZarrGenFuzz.runSeed(spark, seed, c).foreach(e => throw new IllegalStateException(e)))
      override def meta(failed: Int): Seq[(String, String)] =
        Seq("failed" -> failed.toString, "cases" -> c.toJson)
      override def summary: String = s"cases: ${c.toJson}"
      override def unmet: Seq[String] = Seq(
        "redirect_read" -> c.redirectRead, "chained_overwrite" -> c.chainedOverwrite,
        "gc_while_live" -> c.gcWhileLive, "gc_reclaim" -> c.gcReclaim,
        "append_after_snap" -> c.appendAfterSnap, "plain_overwrite" -> c.plainOverwrite,
        "lease_contention" -> c.leaseContention).collect { case (k, 0) => k }
    }
}
