package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.sources.zarr.ChunkIO

/** The benchmark: one workload, one seed, one closed loop with a
  * single client on one `local[threads]` session.
  *
  * {{{
  * perfbench.Main --workload grid_scan --seed 1 --seconds 10 --trace 0
  *     --threads 4 --work <dir> --out <dir>
  * }}}
  *
  * With `--trace 0` it prints the end-to-end metrics; with `--trace 1`
  * it alternates untraced and traced rounds of the same ops and prints
  * the per-layer metrics, measured by timing the calls the benchmark
  * makes into each layer. The last stdout line is the result object. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      threads: Int, work: Path, out: Path)

  private def parse(argv: Array[String]): Args = {
    require(argv.length % 2 == 0, s"arguments come in --name value pairs: ${argv.mkString(" ")}")
    val m = argv.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    def get(k: String): String = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def int(k: String): Int = get(k).toIntOption.getOrElse(
      throw new IllegalArgumentException(s"--$k must be a whole number, got '${get(k)}'"))
    val a = Args(get("workload"), get("seed").toLongOption.getOrElse(
        throw new IllegalArgumentException(s"--seed must be a whole number, got '${get("seed")}'")),
      int("seconds"), int("trace") == 1, int("threads"), Paths.get(get("work")), Paths.get(get("out")))
    require(Workload.names.contains(a.workload),
      s"unknown workload '${a.workload}' (expected one of ${Workload.names.mkString(", ")})")
    require(a.threads >= 1 && a.seconds >= 1, "--threads and --seconds must be at least 1")
    a
  }

  private def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.threads}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.threads.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** What one executed op left behind. */
  final case class Done(op: Op, ns: Long, traced: Boolean, error: Option[String])

  /** Runs `op` untimed-for-checks: returns (timed ns, answer check). */
  private def execute(spark: SparkSession, op: Op): (Long, () => Option[String]) = op match {
    case q: Query =>
      val t0 = System.nanoTime()
      val rows = q.shape(Workload.load(spark, q.store, q.options)).collect()
      (System.nanoTime() - t0, () => q.check(rows))
    case i: Ingest =>
      val t0 = System.nanoTime()
      i.run()
      (System.nanoTime() - t0, i.check)
  }

  /** Per-op record of a traced execution. */
  final class OpTrace(val op: Op, val group: String) {
    var loadNs, execSelfNs = 0L
    var phases = Map.empty[String, Long]
    var partitions, selectedRows, totalRows = 0L
    var bytesRead, decodes, distinctChunks, lookups = 0L
    var hasScan = false
    var ns, storedBytes = 0L
  }

  private def executeTraced(spark: SparkSession, tr: Tracer, op: Op, k: Int): (Long, () => Option[String], OpTrace) =
    tr.forQuery(k) {
      val ot = new OpTrace(op, s"perfbench-op-$k")
      spark.sparkContext.setJobGroup(ot.group, op.kind)
      try op match {
        case q: Query =>
          var df: DataFrame = null
          var rows: Array[Row] = null
          var parts: Array[org.apache.spark.sql.connector.read.InputPartition] = Array.empty
          var d0, d1 = 0L
          val t0 = System.nanoTime()
          tr.span("op") {
            val base = tr.span("ZarrDataSource.load")(Workload.load(spark, q.store, q.options))
            df = tr.span("shape")(q.shape(base))
            tr.span("spark.optimize")(df.queryExecution.optimizedPlan)
            d0 = ChunkIO.decodeCount.get()
            rows = tr.span("spark.collect")(df.collect())
            d1 = ChunkIO.decodeCount.get()
          }
          val ns = System.nanoTime() - t0
          ot.ns = ns
          // The scan planned its partitions inside Spark's optimizer,
          // when it reported its partitioning; this reads that plan.
          Layers.scanOf(df.queryExecution.optimizedPlan).foreach(s => parts = s.toBatch.planInputPartitions())
          val wallToNano = System.nanoTime() - System.currentTimeMillis() * 1000000L
          df.queryExecution.tracker.phases.foreach { case (name, p) =>
            tr.add(s"spark.phase.$name", p.startTimeMs * 1000000L + wallToNano, p.endTimeMs * 1000000L + wallToNano)
            ot.phases += name -> p.durationMs
          }
          val mine = tr.spans.filter(_.query == k)
          ot.loadNs = mine.find(_.name == "ZarrDataSource.load").map(_.ns).getOrElse(0L)
          ot.execSelfNs = mine.find(_.name == "spark.collect").map(tr.selfNs).getOrElse(0L)
          ot.bytesRead = Layers.scanMetric(df, "zarrBytesRead")
          val zparts = parts.flatMap(Layers.unwrap)
          ot.partitions = parts.length
          if (zparts.nonEmpty) {
            ot.hasScan = true
            val sets = zparts.map(Layers.chunksOf)
            ot.decodes = d1 - d0
            ot.distinctChunks = sets.foldLeft(Set.empty[(String, Int, Int, Int)])(_ ++ _).size
            ot.lookups = sets.map(_.size.toLong).sum
            ot.selectedRows = zparts.map(p => p.rowEnd - p.rowStart).sum
            ot.totalRows = zparts.head.coords.map(_.length.toLong).product
          }
          (ns, () => q.check(rows), ot)
        case i: Ingest =>
          val t0 = System.nanoTime()
          tr.span("op")(tr.span(if (i.kind == "append") "ZarrWriter.append" else "ZarrWriter.write")(i.run()))
          val ns = System.nanoTime() - t0
          ot.ns = ns
          if (i.kind != "append") ot.storedBytes = GridStore.diskBytes(Paths.get(i.store))
          (ns, i.check, ot)
      } finally spark.sparkContext.clearJobGroup()
    }

  private def median(xs: collection.Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  private def mean(xs: collection.Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  /** Nearest-rank percentile. */
  private def percentile(xs: collection.Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.min(s.length - 1, math.max(0, math.ceil(p * s.length).toInt - 1)))
  }

  /** Largest heap occupancy right after a garbage collection: the live
    * data the program held, independent of when the collector ran. */
  object LiveHeap {
    @volatile var peakMb = 0.0
    private val heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.toArray
      .map(_.asInstanceOf[java.lang.management.MemoryPoolMXBean])
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    def start(): Unit = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.forEach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
          val info = com.sun.management.GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.entrySet().stream()
            .filter(e => heapPools(e.getKey)).mapToLong(_.getValue.getUsed).sum()
          peakMb = math.max(peakMb, used / 1048576.0)
        }, null, null)
      case _ =>
    }
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  private def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "0" else java.math.BigDecimal.valueOf(x).toPlainString

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  def main(argv: Array[String]): Unit = {
    LiveHeap.start()
    val a = try parse(argv) catch {
      case e: IllegalArgumentException =>
        System.err.println(s"perfbench: ${e.getMessage}")
        sys.exit(2)
    }
    Files.createDirectories(a.work)
    Files.createDirectories(a.out)
    val w = Workload(a.workload, a.work, a.seed, a.threads)
    val done = mutable.ArrayBuffer.empty[Done]
    val errors = mutable.ArrayBuffer.empty[String]

    def record(op: Op, ns: Long, traced: Boolean, check: () => Option[String]): Unit = {
      val err = try check() catch { case NonFatal(e) => Some(s"check failed: $e") }
      err.foreach(e => errors += s"${op.kind}: $e")
      done += Done(op, ns, traced, err)
    }

    def attempt(op: Op, traced: Boolean)(run: => (Long, () => Option[String])): Unit =
      try { val (ns, check) = run; record(op, ns, traced, check) }
      catch {
        case NonFatal(e) =>
          errors += s"${op.kind}: ${e.getClass.getSimpleName}: ${e.getMessage}"
          done += Done(op, 0L, traced, Some(e.toString))
      }

    // Untraced runs time the host-speed loop before every op, and once
    // after the last, and scale the ops of each timed round by the mean
    // loop time over that round.
    val hostNs = mutable.Map.empty[Int, Long] // done index -> loop time just before that op
    val roundSpans = mutable.ArrayBuffer.empty[(Int, Int)] // done indices [first, end) of each timed round
    def calibrated(op: Op)(run: => (Long, () => Option[String])): Unit = {
      if (!a.trace) hostNs(done.length) = HostSpeed.sample()
      attempt(op, traced = false)(run)
    }
    if (!a.trace) HostSpeed.warm()

    // Set-up: session start, input generation, warm-up. Untraced runs
    // repeat it and report the median, so work moved into set-up shows.
    // Five set-ups: the first also pays JVM start-up, and a set-up now and
    // then stalls for seconds; the median of five ignores both.
    var spark: SparkSession = null
    val setupS = (1 to (if (a.trace) 1 else 5)).map { rep =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(a)
      val t1 = System.nanoTime()
      w.generate(spark)
      w.stores.foreach(ChunkIO.invalidatePath)
      val t2 = System.nanoTime()
      w.warmup.foreach(op => attempt(op, traced = false)((execute(spark, op)._1, () => None)))
      val t3 = System.nanoTime()
      System.err.println(f"perfbench: set-up $rep: session ${(t1 - t0) / 1e9}%.2f s, " +
        f"inputs ${(t2 - t1) / 1e9}%.2f s, warm-up ${(t3 - t2) / 1e9}%.2f s")
      (t3 - t0) / 1e9
    }
    // Settle: whole rounds of the timed ops, untimed and unchecked, at
    // least two and until a quarter of --seconds has passed in them.
    // Per-op costs keep falling for a while after set-up as the JIT
    // compiles the plans' generated code: the first round after set-up ran
    // up to 1.5x slower, and the writer's second round still up to 1.3x.
    var (settleRounds, settleNs) = (0, 0L)
    while (settleRounds < 2 || settleNs < a.seconds * 250000000L) {
      (0 until w.round).foreach { i =>
        val op = w.op((1000 + settleRounds) * w.round + i)
        calibrated(op)((execute(spark, op)._1, () => None))
        settleNs += done.last.ns
      }
      settleRounds += 1
    }
    val warmupOps = done.length
    val counter = new JobCounter
    spark.sparkContext.addSparkListener(counter)
    val tr = new Tracer
    val traces = mutable.ArrayBuffer.empty[OpTrace]
    val probes = mutable.ArrayBuffer.empty[(Map[String, (Long, Long)], (Long, Long))]
    val reader = mutable.Map.empty[Int, (Long, Long)].withDefaultValue((0L, 0L))

    // Timed loop over whole rounds, at least two. A traced run executes
    // every round twice, untraced and traced, alternating which goes
    // first, and stops after an even number of rounds, so that the two
    // passes run the same ops with the same caches on average.
    val t0 = System.nanoTime()
    var (r, timedNs) = (0, 0L)
    def traced(op: Op, k: Int): Unit = attempt(op, traced = true) {
      val (ns, check, ot) = executeTraced(spark, tr, op, k)
      traces += ot
      val store = op match { case q: Query => q.store; case i: Ingest => i.store }
      tr.forQuery(k)(tr.span("probe") {
        probes += Layers.codecProbe(tr, store, 4)
        if (k % w.round == 0) Seq(Seq("t2m"), Seq("t2m", "sp"), Seq("time", "lat", "lon", "t2m")).foreach { cols =>
          val (rows, rns) = Layers.drain(spark, tr, store, cols, 4)
          val (r0, n0) = reader(cols.length)
          reader(cols.length) = (r0 + rows, n0 + rns)
        }
      })
      (ns, check)
    }
    while (timedNs < a.seconds * 1000000000L || r < 2 || (a.trace && r % 2 == 1)) {
      val ks = r * w.round until (r + 1) * w.round
      val first = done.length
      val ops = ks.map(w.op)
      val passes = if (!a.trace) Seq(false) else if (r % 2 == 0) Seq(false, true) else Seq(true, false)
      passes.foreach { t =>
        ks.zip(ops).foreach { case (k, op) =>
          if (t) traced(op, k) else calibrated(op)(execute(spark, op))
          timedNs += done.last.ns
        }
      }
      roundSpans += first -> done.length
      r += 1
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    if (!a.trace) hostNs(done.length) = HostSpeed.sample()
    val timedEnd = done.length

    // The writer: no timed workload writes, so a traced run also times one
    // round of writer calls (after one warm-up write) as a probe of that
    // layer. They count in attempted and failed, not in the timed ops.
    if (a.trace) {
      val ingest = new GridIngest(a.work, a.seed)
      ingest.generate(spark)
      ingest.warmup.foreach(op => attempt(op, traced = false)((execute(spark, op)._1, () => None)))
      (0 until ingest.round).foreach { i =>
        val op = ingest.op(i)
        attempt(op, traced = true) {
          val (ns, check, ot) = executeTraced(spark, tr, op, r * w.round + i)
          traces += ot
          (ns, check)
        }
      }
    }
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

    val timed = done.slice(warmupOps, timedEnd)
    val failed = done.count(_.error.nonEmpty)
    val ok = timed.filter(_.error.isEmpty)
    val untraced = ok.filterNot(_.traced)
    val latMs = untraced.map(_.ns / 1e6)
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val detail = mutable.LinkedHashMap.empty[String, String]

    if (!a.trace) {
      // A round's op kinds differ by up to 5x in cost, so the median of
      // all ops jumps between kinds; the round's mix of per-kind medians
      // is what is steady from run to run. Times are at reference host
      // speed (HostSpeed); the unscaled figures go to result.json.
      val timedIdx = done.indices.drop(warmupOps).filter(i => !done(i).traced && done(i).error.isEmpty)
      val roundHostNs = roundSpans.flatMap { case (b, e) =>
        val m = mean((b to e).map(hostNs(_).toDouble))
        (b until e).map(_ -> m)
      }.toMap
      def scaledMs(i: Int) = done(i).ns * HostSpeed.refNs / roundHostNs(i) / 1e6
      val mix = (0 until w.round).map(w.op).groupBy(_.kind).map { case (kind, ops) => (kind, ops.length, ops.head.cells) }
      def roundMs(ms: Int => Double) = {
        val kindMs = timedIdx.groupBy(i => done(i).op.kind).map { case (kind, is) => kind -> median(is.map(ms)) }
        mix.toSeq.map { case (kind, n, _) => n * kindMs.getOrElse(kind, Double.NaN) }.sum
      }
      val (scaled, unscaled) = (roundMs(scaledMs), roundMs(i => done(i).ns / 1e6))
      val cells = mix.toSeq.map { case (_, n, c) => n * c }.sum
      metrics("op_ms") = (scaled / w.round, "ms")
      metrics("cells_per_s") = (cells / (scaled / 1e3), "cells/s")
      // Set-up runs our own JIT and collector threads beside the loop, so
      // it is scaled by the loop's median over the timed ops instead.
      val hostMedianNs = median(timedIdx.map(i => hostNs(i).toDouble))
      metrics("setup_s") = (median(setupS) * HostSpeed.refNs / hostMedianNs, "s")
      metrics("live_heap_peak_mb") = (LiveHeap.peakMb, "MB")
      detail("op_p50_ms") = num(median(latMs))
      detail("peak_rss_mb") = num(peakRssMb())
      // a tail percentile only where at least ten samples lie beyond it
      if (latMs.length >= 200) detail("op_p95_ms") = num(percentile(latMs, 0.95))
      else if (latMs.length >= 100) detail("op_p90_ms") = num(percentile(latMs, 0.90))
      detail("op_ms_unscaled") = num(unscaled / w.round)
      detail("cells_per_s_unscaled") = num(cells / (unscaled / 1e3))
      detail("setup_s_unscaled") = num(median(setupS))
      detail("setup_s_each") = setupS.map(num).mkString("[", ",", "]")
      detail("host_loop_ref_ms") = num(HostSpeed.refNs / 1e6)
      detail("host_loop_ms_median") = num(hostMedianNs / 1e6)
      detail("host_loop_ms") = hostNs.toSeq.sortBy(_._1).map(x => num(x._2 / 1e6)).mkString("[", ",", "]")
      untraced.groupBy(_.op.kind).toSeq.sortBy(_._1).foreach { case (kind, ds) =>
        detail(s"ms.$kind") = ds.map(d => num(d.ns / 1e6)).mkString("[", ",", "]")
      }
    } else {
      val qs = traces.filter(_.op.isInstanceOf[Query])
      val scans = traces.filter(_.hasScan)
      val writes = traces.filter(t => t.op.isInstanceOf[Ingest] && t.op.kind != "append")
      val appends = traces.filter(_.op.kind == "append")
      def ms(xs: Seq[Long]) = median(xs.map(_ / 1e6))
      def rate(bytes: Long, ns: Long) = if (ns == 0) 0.0 else bytes * 1e3 / ns // MB/s
      val fetch = probes.map(_._2).foldLeft((0L, 0L)) { case ((a1, b1), (a2, b2)) => (a1 + a2, b1 + b2) }
      def codec(c: String) = probes.map(_._1.getOrElse(c, (0L, 0L)))
        .foldLeft((0L, 0L)) { case ((a1, b1), (a2, b2)) => (a1 + a2, b1 + b2) }
      metrics("ZarrStore.read_MBps") = (rate(fetch._1, fetch._2), "MB/s")
      metrics("ZarrStore.bytes_per_op") = (mean(qs.map(_.bytesRead.toDouble)), "bytes")
      Seq("raw", "zstd", "shard").foreach { c =>
        val (b, ns) = codec(c); metrics(s"ChunkCodec.decode_MBps.$c") = (rate(b, ns), "MB/s")
      }
      val (dec, dist, look) = (scans.map(_.decodes).sum, scans.map(_.distinctChunks).sum, scans.map(_.lookups).sum)
      metrics("ChunkIO.decode_amplification") = (if (dist == 0) 0.0 else dec.toDouble / dist, "ratio")
      metrics("ChunkIO.cache_hit_ratio") = (if (look == 0) 0.0 else math.max(0.0, 1 - dec.toDouble / look), "ratio")
      Seq(1 -> "one_var", 2 -> "two_vars", 4 -> "coords_and_var").foreach { case (n, label) =>
        val (rows, ns) = reader(n)
        metrics(s"ZarrColumnarReader.rows_per_s.$label") = (if (ns == 0) 0.0 else rows * 1e9 / ns, "rows/s")
      }
      metrics("ZarrMeta.readStore_ms") = (ms(tr.spans.filter(_.name == "ZarrMeta.readStore").map(_.ns).toSeq), "ms")
      metrics("ZarrDataSource.load_ms") = (ms(qs.map(_.loadNs).toSeq), "ms")
      metrics("ZarrScan.partitions") = (mean(scans.map(_.partitions.toDouble).toSeq), "count")
      metrics("ZarrScan.selected_frac") =
        (mean(scans.map(t => t.selectedRows.toDouble / t.totalRows).toSeq), "ratio")
      Seq("analysis", "optimization", "planning").foreach { p =>
        metrics(s"spark.${p}_ms") = (median(qs.map(_.phases.getOrElse(p, 0L).toDouble).toSeq), "ms")
      }
      metrics("spark.exec_ms") = (ms(qs.map(_.execSelfNs).toSeq), "ms")
      metrics("spark.jobs_per_op") = (mean(qs.map(t => counter.get(counter.jobs, t.group).toDouble).toSeq), "count")
      metrics("spark.tasks_per_op") = (mean(qs.map(t => counter.get(counter.tasks, t.group).toDouble).toSeq), "count")
      metrics("ZarrWriter.write_s") = (median(writes.map(t => t.ns / 1e9).toSeq), "s")
      metrics("ZarrWriter.append_s") = (median(appends.map(t => t.ns / 1e9).toSeq), "s")
      metrics("ZarrWriter.jobs_per_write") = (mean(writes.map(t => counter.get(counter.jobs, t.group).toDouble).toSeq), "count")
      metrics("ZarrWriter.stored_bytes_per_user_byte") =
        (mean(writes.map(t => t.storedBytes.toDouble / (t.op.cells * 4)).toSeq), "ratio")
      val tracedMean = mean(timed.filter(d => d.traced && d.error.isEmpty).map(_.ns.toDouble))
      val plainMean = mean(untraced.map(_.ns.toDouble))
      metrics("trace_overhead_frac") = (if (plainMean == 0) 0.0 else tracedMean / plainMean - 1, "ratio")
      Files.write(a.out.resolve("spans.json"), tr.json.getBytes(UTF_8))
      val self = tr.spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, ss) =>
        s"""${jsonStr(n)}:{"count":${ss.length},"total_ms":${num(ss.map(_.ns).sum / 1e6)},""" +
          s""""self_ms":${num(ss.map(tr.selfNs).sum / 1e6)}}"""
      }
      detail("span_self_time") = self.mkString("{", ",", "}")
      detail("traced_ops") = traces.length.toString
      detail("untraced_ops") = untraced.length.toString
    }
    spark.stop()

    val attempted = done.length
    val correct = errors.isEmpty
    detail("samples") = untraced.length.toString
    detail("error_rate") = num(failed.toDouble / attempted)
    detail("timed_s") = num(timedNs / 1e9)
    detail("wall_s") = num(wallS)
    detail("rounds") = r.toString
    detail("settle_rounds") = settleRounds.toString
    detail("local") = s""""local[${a.threads}]""""
    detail("seed") = a.seed.toString
    detail("xmx_mb") = (Runtime.getRuntime.maxMemory / (1 << 20)).toString
    detail("errors") = errors.take(20).map(jsonStr).mkString("[", ",", "]")

    metrics.foreach { case (n, (v, u)) => println(f"$n%-45s ${num(v)} $u") }
    detail.foreach { case (n, v) => println(s"# $n = $v") }
    val metricsJson = metrics.map { case (n, (v, u)) => s"""${jsonStr(n)}:{"value":${num(v)},"unit":${jsonStr(u)}}""" }
      .mkString("{", ",", "}")
    val result = s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":$metricsJson}"""
    Files.write(a.out.resolve("result.json"), (s"""{"workload":${jsonStr(a.workload)},"trace":${a.trace},""" +
      s""""result":$result,"detail":{${detail.map { case (n, v) =>
        s"${jsonStr(n)}:${if (v.headOption.exists(c => "[{\"-0123456789".contains(c))) v else jsonStr(v)}"
      }.mkString(",")}}}""" + "\n").getBytes(UTF_8))
    println(result)
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }
}
