package graft

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Outer-dimension append — the time-series ingest path: each batch
  * adds whole outer chunks, metadata shape is edited in place, no
  * existing chunk object is rewritten. */
class ZarrAppendSpec extends AnyFunSuite {
  import TestSession._

  private def grid(ts: Seq[Long]) = {
    import spark.implicits._
    ts.flatMap(t => (0L until 3L).map(x => (t, x, t * 10.0 + x)))
      .toDF("t", "x", "v")
  }

  private def fresh(ts: Seq[Long], opts: Map[String, String] = Map.empty): String = {
    val out = Files.createTempDirectory("zarr_append").resolve("a.zarr").toString
    val w = grid(ts).write.format("zarr")
      .option("coords", "t,x").option("chunkOuter", "2")
    opts.foldLeft(w) { case (ww, (k, v)) => ww.option(k, v) }
      .mode("overwrite").save(out)
    out
  }

  /** Rewrite array `name`'s `.zarray`, in place and in `.zmetadata`. */
  private def relabel(out: String, name: String)(
      edit: com.fasterxml.jackson.databind.node.ObjectNode => Unit): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val za = java.nio.file.Paths.get(out, name, ".zarray")
    val node = mapper.readTree(za.toFile).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    edit(node)
    Files.write(za, mapper.writeValueAsBytes(node))
    val zm = java.nio.file.Paths.get(out, ".zmetadata")
    val root = mapper.readTree(zm.toFile)
    root.get("metadata").asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      .set[com.fasterxml.jackson.databind.JsonNode](s"$name/.zarray", node)
    Files.write(zm, mapper.writeValueAsBytes(root))
  }

  /** Rewrite every 8-byte cell of array `name`'s (uncompressed) chunks. */
  private def recodeCells(out: String, name: String)(f: Array[Byte] => Array[Byte]): Unit =
    Files.list(java.nio.file.Paths.get(out, name)).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filterNot(_.getFileName.toString.startsWith(".")).foreach { p =>
        Files.write(p, Files.readAllBytes(p).grouped(8).flatMap(c => f(c).toSeq).toArray)
      }

  /** Every object of the store, by relative path. */
  private def objects(out: String): Map[String, Seq[Byte]] = {
    val root = java.nio.file.Paths.get(out)
    Files.walk(root).toArray.map(_.asInstanceOf[java.nio.file.Path]).filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
  }

  test("append extends the grid with whole new chunks; values and stats intact") {
    val out = fresh(Seq(0L, 1L, 2L, 3L), Map("compressor" -> "zstd"))
    val before = Files.list(java.nio.file.Paths.get(out, "v")).count()
    grid(Seq(4L, 5L, 6L, 7L)).write.format("zarr").mode("append").save(out)
    val back = spark.read.format("zarr").load(out)
    assert(back.orderBy("t", "x").collect().map(_.toSeq).toSeq ==
      grid(0L to 7L).orderBy("t", "x").collect().map(_.toSeq).toSeq)
    // only NEW chunk files appeared (2 new outer chunks per var)
    val after = Files.list(java.nio.file.Paths.get(out, "v")).count()
    assert(after == before + 2, s"$before -> $after")
    // merged .zstats still prune: v >= 60 lives only in the appended slabs
    val pruned = spark.read.format("zarr").option("minRowsPerPartition", "1")
      .load(out).filter(col("v") >= 60.0)
    assert(pruned.rdd.getNumPartitions == 1, s"got ${pruned.rdd.getNumPartitions}")
    assert(pruned.count() == 6)
  }

  test("readers racing an appender always see a consistent prefix state") {
    // The crash/concurrency contract: chunks are written BEFORE the
    // metadata shape edit, so a reader that plans from metadata at any
    // instant sees some prefix of the append history — a complete,
    // self-consistent grid. Torn states (new shape + missing chunk, or
    // rows from a half-written batch) must be impossible. Each batch
    // has a distinct sum signature, so (count, sum) identifies the
    // prefix exactly.
    val out = fresh(Seq(0L, 1L))
    val batches = (1 to 6).map(k => (k * 2L) to (k * 2L + 1L))
    def sumTo(tMax: Long): Double =
      (0L to tMax).flatMap(t => (0L until 3L).map(x => t * 10.0 + x)).sum
    val validStates: Map[Long, Double] =
      (1 to 7).map(k => (k * 2L * 3L, sumTo(k * 2L - 1L))).toMap
    @volatile var tornState: Option[(Long, Double)] = None
    @volatile var writerErr: Option[Throwable] = None
    val writer = new Thread(() => {
      try batches.foreach { ts =>
        grid(ts).write.format("zarr").mode("append").save(out)
      } catch { case e: Throwable => writerErr = Some(e) }
    })
    writer.start()
    var observations = 0
    // do/while: at least one read happens even if the writer finishes
    // all six batches before this thread first checks isAlive (seen on
    // loaded CI — the observations > 0 assertion below would otherwise
    // fail spuriously; the final read just observes the terminal state,
    // which is itself a validState)
    while ({
      // fresh relation each time: planning re-reads metadata
      val agg = spark.read.format("zarr").load(out)
        .agg(count(lit(1)), sum(col("v"))).collect().head
      val (n, s) = (agg.getLong(0), agg.getDouble(1))
      observations += 1
      if (!validStates.get(n).contains(s)) tornState = Some((n, s))
      writer.isAlive && tornState.isEmpty
    }) ()
    writer.join()
    assert(writerErr.isEmpty, s"appender failed: $writerErr")
    assert(tornState.isEmpty, s"torn read observed: $tornState after $observations reads")
    assert(observations > 0)
    // terminal state is the full history
    val fin = spark.read.format("zarr").load(out).agg(count(lit(1)), sum(col("v"))).collect().head
    assert(fin.getLong(0) == 42L && fin.getDouble(1) == sumTo(13L))
  }

  test("append validations refuse loudly") {
    val out = fresh(Seq(0L, 1L, 2L, 3L))
    // overlapping / non-increasing outer values
    intercept[Exception](
      grid(Seq(3L, 4L)).write.format("zarr").mode("append").save(out))
    // inner coordinate mismatch
    intercept[Exception] {
      import spark.implicits._
      Seq((4L, 9L, 1.0)).toDF("t", "x", "v")
        .write.format("zarr").mode("append").save(out)
    }
    // misaligned existing outer extent (3 rows, chunkOuter 2)
    val odd = fresh(Seq(0L, 1L, 2L))
    intercept[Exception](
      grid(Seq(3L, 4L)).write.format("zarr").mode("append").save(odd))
    // schema mismatch (extra column)
    intercept[Exception] {
      import spark.implicits._
      Seq((4L, 0L, 1.0, 9L)).toDF("t", "x", "v", "extra")
        .write.format("zarr").mode("append").save(out)
    }
    // a NaN outer value is refused by name, before any chunk is written
    import spark.implicits._
    val dOut = Files.createTempDirectory("zarr_append").resolve("d.zarr").toString
    graft.sources.zarr.ZarrWriter.write(Seq((0.0, 0L, 1.0)).toDF("t", "x", "v"), dOut,
      coords = Seq("t", "x"))
    val e = intercept[IllegalArgumentException](graft.sources.zarr.ZarrWriter.append(
      Seq((1.0, 0L, 2.0), (Double.NaN, 0L, 3.0)).toDF("t", "x", "v"), dOut))
    assert(e.getMessage.contains("contains NaN"), e.getMessage)
    assert(spark.read.format("zarr").load(dOut).count() == 1)
    // a float 'delta' filter is refused by name (the writer's delta is
    // integer subtraction, the reader's float addition); nothing changes
    val fOut = fresh(Seq(0L, 1L))
    relabel(fOut, "v")(_.putArray("filters").addObject().put("id", "delta").put("dtype", "<f8"))
    val before = objects(fOut)
    val fe = intercept[IllegalArgumentException](
      graft.sources.zarr.ZarrWriter.append(grid(Seq(2L, 3L)), fOut))
    assert(fe.getMessage.contains("'delta' filter") && fe.getMessage.contains("v"), fe.getMessage)
    assert(objects(fOut) == before)
  }

  test("append encodes the store's declared datetime unit and byte order") {
    import spark.implicits._
    val t0 = java.time.Instant.parse("2023-11-14T22:13:20Z")
    def steps(hours: Seq[Long]) = hours.flatMap(h => (0L until 2L).map(x =>
      (java.sql.Timestamp.from(t0.plusSeconds(3600L * h)), x, h * 10.0 + x))).toDF("t", "x", "v")
    def rows(df: org.apache.spark.sql.DataFrame) = df.orderBy("t", "x").collect().map(_.toSeq).toSeq
    // a <M8[us] time axis relabelled <M8[ns], its stored values ×1000
    val ns = Files.createTempDirectory("zarr_append").resolve("ns.zarr").toString
    graft.sources.zarr.ZarrWriter.write(steps(0L to 1L), ns, coords = Seq("t", "x"), chunkOuter = 2)
    relabel(ns, "t")(_.put("dtype", "<M8[ns]"))
    recodeCells(ns, "t") { b =>
      val bb = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
      bb.putLong(0, bb.getLong(0) * 1000L).array()
    }
    assert(rows(spark.read.format("zarr").load(ns)) == rows(steps(0L to 1L)))
    graft.sources.zarr.ZarrWriter.append(steps(2L to 3L), ns)
    assert(rows(spark.read.format("zarr").load(ns)) == rows(steps(0L to 3L)))
    // a step past the nanosecond range (year 2262) is refused by name
    val late = java.sql.Timestamp.from(java.time.Instant.parse("2300-01-01T00:00:00Z"))
    val before = objects(ns)
    val e = intercept[IllegalArgumentException](graft.sources.zarr.ZarrWriter.append(
      Seq((late, 0L, 1.0), (late, 1L, 2.0)).toDF("t", "x", "v"), ns))
    assert(e.getMessage.contains("cannot be held exactly"), e.getMessage)
    assert(objects(ns) == before)
    // a <f8 variable relabelled >f8, its stored cells byte-swapped
    val be = fresh(Seq(0L, 1L))
    relabel(be, "v")(_.put("dtype", ">f8"))
    recodeCells(be, "v")(_.reverse)
    assert(rows(spark.read.format("zarr").load(be)) == rows(grid(Seq(0L, 1L))))
    grid(Seq(2L, 3L)).write.format("zarr").mode("append").save(be)
    assert(rows(spark.read.format("zarr").load(be)) == rows(grid(0L to 3L)))
  }

  test("appends are single-writer: a held lock refuses loudly, release recovers") {
    import graft.sources.zarr.{ZarrStore, ZarrWriter}
    val out = fresh(Seq(0L, 1L))
    val store = ZarrStore.open(out)
    assert(store.createExclusive(ZarrWriter.appendLockRel, "holder test".getBytes))
    // second creator loses the atomic create
    assert(!store.createExclusive(ZarrWriter.appendLockRel, "other".getBytes))
    val e = intercept[IllegalStateException](
      ZarrWriter.append(grid(Seq(2L, 3L)), out))
    assert(e.getMessage.contains("writer lock") &&
      e.getMessage.contains("holder test"), e.getMessage)
    // the refused append left the store untouched at its old shape
    assert(spark.read.format("zarr").load(out).count() == 6)
    store.deleteObject(ZarrWriter.appendLockRel)
    grid(Seq(2L, 3L)).write.format("zarr").mode("append").save(out)
    assert(spark.read.format("zarr").load(out).count() == 12)
    // the successful append released its own lock
    assert(store.readBytes(ZarrWriter.appendLockRel).isEmpty)
  }

  test("append lease: a crashed holder's stale lock self-heals after TTL") {
    import graft.sources.zarr.{ZarrStore, ZarrWriter}
    val out = fresh(Seq(0L, 1L))
    val store = ZarrStore.open(out)
    // a "crashed" holder: parseable lease format, heartbeat far past TTL
    val stale = (s"dead-pid@nowhere\nstarted 2020-01-01T00:00:00Z\n" +
      s"heartbeat ${System.currentTimeMillis() - 3600 * 1000L}").getBytes("UTF-8")
    assert(store.createExclusive(ZarrWriter.appendLockRel, stale))
    // lease break: the append must succeed WITHOUT manual lock removal
    grid(Seq(2L, 3L)).write.format("zarr").mode("append").save(out)
    assert(spark.read.format("zarr").load(out).count() == 12)
    assert(store.readBytes(ZarrWriter.appendLockRel).isEmpty)
    // a FRESH heartbeat within TTL still refuses
    val fresh0 = (s"live-pid@elsewhere\nstarted ${java.time.Instant.now()}\n" +
      s"heartbeat ${System.currentTimeMillis()}").getBytes("UTF-8")
    assert(store.createExclusive(ZarrWriter.appendLockRel, fresh0))
    val e = intercept[IllegalStateException](
      ZarrWriter.append(grid(Seq(4L, 5L)), out))
    assert(e.getMessage.contains("writer lock") &&
      e.getMessage.contains("live-pid@elsewhere"), e.getMessage)
    store.deleteObject(ZarrWriter.appendLockRel)
  }

  test("append lease: the holder heartbeats, so long appends outlive the TTL") {
    import graft.sources.zarr.{ZarrStore, ZarrWriter}
    val out = fresh(Seq(0L, 1L))
    val store = ZarrStore.open(out)
    val (ttl0, hb0) = (ZarrWriter.leaseTtlMillis, ZarrWriter.leaseHeartbeatMillis)
    // TTL shorter than the append: only a live heartbeat keeps the
    // lease unbreakable for the racing acquirer below
    ZarrWriter.leaseTtlMillis = 400L
    ZarrWriter.leaseHeartbeatMillis = 50L
    try {
      @volatile var raceResult: Option[Boolean] = None
      val appender = new Thread(() => {
        grid(Seq(2L, 3L)).write.format("zarr").mode("append").save(out)
      })
      appender.start()
      // wait until the lock exists, then past the TTL, then race
      val t0 = System.currentTimeMillis()
      while (store.readBytes(ZarrWriter.appendLockRel).isEmpty &&
        appender.isAlive && System.currentTimeMillis() - t0 < 10000) Thread.sleep(5)
      if (store.readBytes(ZarrWriter.appendLockRel).isDefined) {
        Thread.sleep(ZarrWriter.leaseTtlMillis + 100)
        // with heartbeats flowing, the lock must NOT read as stale
        store.readBytes(ZarrWriter.appendLockRel).foreach { b =>
          val hb = new String(b, "UTF-8").linesIterator
            .find(_.startsWith("heartbeat "))
            .flatMap(_.stripPrefix("heartbeat ").toLongOption)
          raceResult = hb.map(h =>
            System.currentTimeMillis() - h <= ZarrWriter.leaseTtlMillis)
        }
      }
      appender.join(30000)
      assert(!appender.isAlive)
      // if we sampled mid-append, the heartbeat was live
      raceResult.foreach(live => assert(live, "heartbeat went stale mid-append"))
      assert(spark.read.format("zarr").load(out).count() == 12)
      assert(store.readBytes(ZarrWriter.appendLockRel).isEmpty)
    } finally {
      ZarrWriter.leaseTtlMillis = ttl0
      ZarrWriter.leaseHeartbeatMillis = hb0
    }
  }

  test("append lease release: an in-flight heartbeat write cannot resurrect the lock") {
    // Deterministic reproduction of the round-11 release race: the beat
    // loop's `!done` check and its lock re-write are not atomic, so a
    // heartbeat write in flight at release time could land AFTER the
    // release path's deleteObject, orphaning a fresh-heartbeat lock that
    // blocks the next appender for a full TTL. This spec parks the beat
    // thread INSIDE that window with latches (not sleeps), lets the
    // append finish and enter release, verifies release blocks on the
    // beat thread, then releases the write — the lock must still end up
    // deleted. Against the unfixed code this fails every run.
    import graft.sources.zarr.{ZarrStore, ZarrWriter}
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val out = fresh(Seq(0L, 1L))
    val store = ZarrStore.open(out)
    val hb0 = ZarrWriter.leaseHeartbeatMillis
    ZarrWriter.leaseHeartbeatMillis = 10L
    val entered = new CountDownLatch(1)
    val proceed = new CountDownLatch(1)
    val first = new java.util.concurrent.atomic.AtomicBoolean(true)
    // Uninterruptible on purpose: models a blocking store write that does
    // not abort on interrupt — exactly the window of the race.
    ZarrWriter.leaseBeatTestHook = () =>
      if (first.getAndSet(false)) {
        entered.countDown()
        var go = false
        while (!go) {
          try { proceed.await(); go = true }
          catch { case _: InterruptedException => () }
        }
      }
    try {
      val appender = new Thread(() =>
        grid(Seq(2L, 3L)).write.format("zarr").mode("append").save(out))
      appender.start()
      // beat thread is now parked past the liveness check, write pending
      assert(entered.await(30, TimeUnit.SECONDS), "heartbeat never fired")
      // wait for the append body to finish and the release path to block
      // joining the parked beat thread (a definite rendezvous on thread
      // state, not a timing guess)
      val t0 = System.currentTimeMillis()
      // TIMED_WAITING, not WAITING: release joins in TTL-sized slices
      // (logging progress on a wedged store write) — the serialization
      // guarantee is unchanged, the park state is the timed variant
      def blockedInJoin: Boolean = appender.isAlive &&
        (appender.getState == Thread.State.WAITING ||
          appender.getState == Thread.State.TIMED_WAITING) &&
        appender.getStackTrace.exists(f =>
          f.getClassName == "java.lang.Thread" && f.getMethodName == "join")
      while (!blockedInJoin && appender.isAlive &&
        System.currentTimeMillis() - t0 < 30000) Thread.sleep(5)
      assert(blockedInJoin,
        "release path did not serialize with the in-flight heartbeat write")
      // now let the held heartbeat write land — with release already in
      // progress, the write must NOT survive as an orphaned lock
      proceed.countDown()
      appender.join(30000)
      assert(!appender.isAlive)
      assert(store.readBytes(ZarrWriter.appendLockRel).isEmpty,
        "release left a resurrected lock behind")
      assert(spark.read.format("zarr").load(out).count() == 12)
    } finally {
      ZarrWriter.leaseBeatTestHook = () => ()
      ZarrWriter.leaseHeartbeatMillis = hb0
    }
  }

  test("cross-process lease: a second JVM is refused by a live lock, breaks a stale one") {
    // The lock is a store OBJECT, so the single-writer claim is
    // cross-process — but every other race test contends THREADS in
    // one JVM, where shared statics could mask a process-isolation
    // bug. Drive graft.examples.AppendSlab in its own JVM (this test
    // JVM is forked, so java.class.path is the full runtime
    // classpath): a live-heartbeat lock must refuse it loudly
    // (exit 3), a stale lock must self-heal and append (exit 0,
    // lock released).
    import graft.sources.zarr.{ZarrStore, ZarrWriter}
    import scala.sys.process._
    val out = fresh(Seq(0L, 1L))
    val store = ZarrStore.open(out)
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val cp = System.getProperty("java.class.path")
    val opens = Seq(
      "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
      "java.net", "java.nio", "java.util", "java.util.concurrent",
      "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
      "sun.security.action", "sun.util.calendar")
      .map(p => s"--add-opens=java.base/$p=ALL-UNNAMED")
    val errLines = scala.collection.mutable.Buffer[String]()
    def slab(t0: Long): Int =
      Process(Seq(javaBin) ++ opens ++ Seq("-Xmx2g", "-cp", cp,
        "graft.examples.AppendSlab", out, t0.toString, "2"))
        .!(ProcessLogger(_ => (), errLines += _))
    def lock(hb: Long): Unit =
      store.writeBytes(ZarrWriter.appendLockRel,
        s"holder cross-process-spec\nstarted test\nheartbeat $hb".getBytes("UTF-8"))
    // live lock (fresh heartbeat): the other process refuses loudly
    lock(System.currentTimeMillis())
    assert(slab(2L) == 3, s"expected refusal; stderr: ${errLines.mkString(" | ")}")
    // stale lock (heartbeat far past the TTL): the other process
    // breaks the lease, appends, and releases
    lock(System.currentTimeMillis() - 3600 * 1000L)
    assert(slab(2L) == 0, s"expected self-heal; stderr: ${errLines.mkString(" | ")}")
    assert(store.readBytes(ZarrWriter.appendLockRel).isEmpty,
      "cross-process append left its lock behind")
    assert(spark.read.format("zarr").load(out).orderBy("t", "x")
      .collect().map(_.toSeq).toSeq ==
      grid(0L to 3L).orderBy("t", "x").collect().map(_.toSeq).toSeq)
  }

  test("racing appends: winners' rows land, losers fail loudly, never corruption") {
    import graft.sources.zarr.ZarrWriter
    val out = fresh(Seq(0L, 1L))
    val batches = Seq(Seq(2L, 3L), Seq(4L, 5L), Seq(6L, 7L))
    val start = new java.util.concurrent.CountDownLatch(1)
    val outcomes = new java.util.concurrent.ConcurrentHashMap[Int, Option[String]]()
    val threads = batches.zipWithIndex.map { case (ts, i) =>
      val df = grid(ts)
      new Thread(() => {
        start.await()
        try { ZarrWriter.append(df, out); outcomes.put(i, None) }
        catch { case e: Exception => outcomes.put(i, Some(e.getMessage)) }
      })
    }
    threads.foreach(_.start()); start.countDown(); threads.foreach(_.join(120000))
    assert(outcomes.size == batches.length)
    // every failure was LOUD (lock contention or outer-order refusal —
    // a batch that raced past a later batch's commit), and the store
    // read-back is exactly base + the successful batches: no torn
    // metadata, no half-written grid, no silently dropped winner
    val winners = batches.indices.filter(i => outcomes.get(i).isEmpty)
    val expectTs = Seq(0L, 1L) ++ winners.flatMap(batches(_)).sorted
    val back = spark.read.format("zarr").load(out)
    assert(back.orderBy("t", "x").collect().map(_.toSeq).toSeq ==
      grid(expectTs).orderBy("t", "x").collect().map(_.toSeq).toSeq,
      s"outcomes: ${batches.indices.map(outcomes.get).mkString("; ")}")
    // and the lock is released whatever happened
    assert(graft.sources.zarr.ZarrStore.open(out)
      .readBytes(ZarrWriter.appendLockRel).isEmpty)
  }

  test("append works on v3 stores and delta-filtered v2 stores") {
    for (opts <- Seq(Map("zarrVersion" -> "3"),
        Map("deltaFilter" -> "true", "compressor" -> "zstd"))) {
      val out = fresh(Seq(0L, 1L), opts)
      grid(Seq(2L, 3L)).write.format("zarr").mode("append").save(out)
      val back = spark.read.format("zarr").load(out)
      assert(back.orderBy("t", "x").collect().map(_.toSeq).toSeq ==
        grid(0L to 3L).orderBy("t", "x").collect().map(_.toSeq).toSeq, opts.toString)
    }
  }

  test("consolidated metadata keeps the new shape (one-fetch discovery)") {
    val out = fresh(Seq(0L, 1L))
    grid(Seq(2L, 3L)).write.format("zarr").mode("append").save(out)
    val zmeta = new String(Files.readAllBytes(java.nio.file.Paths.get(out, ".zmetadata")))
    assert(zmeta.contains(""""shape":[4"""") || zmeta.contains(""""shape" : [ 4""")
      || zmeta.replaceAll("\\s", "").contains(""""shape":[4"""), zmeta.take(400))
  }

  test("streaming ingest: each micro-batch appends a time slab") {
    import spark.implicits._
    import java.nio.file.StandardCopyOption
    val streamDir = Files.createTempDirectory("zarr_ingest")
    def put(name: String, ts: Seq[Long]): Unit = {
      val tmp = Files.createTempDirectory("zarr_ingest_b")
      grid(ts).coalesce(1).write.mode("overwrite").parquet(tmp.resolve("o").toString)
      val part = Files.list(tmp.resolve("o"))
        .filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
      Files.copy(part, streamDir.resolve(name), StandardCopyOption.REPLACE_EXISTING)
    }
    put("b0.parquet", Seq(0L, 1L))
    put("b1.parquet", Seq(2L, 3L))
    put("b2.parquet", Seq(4L, 5L))
    // batch order follows modification time; pin distinct stamps so
    // the three triggers arrive in slab order
    Seq("b0", "b1", "b2").zipWithIndex.foreach { case (n, i) =>
      Files.setLastModifiedTime(streamDir.resolve(s"$n.parquet"),
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
    }
    val out = Files.createTempDirectory("zarr_ingest_out").resolve("s.zarr").toString
    val sdf = spark.readStream
      .schema(grid(Seq(0L)).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(streamDir.toString)
    val q = sdf.writeStream.outputMode("append").foreachBatch {
      (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // batches may arrive in any file order within a trigger set, but
        // maxFilesPerTrigger=1 + increasing mtimes keep them sequential
        val sorted = batch.orderBy("t", "x")
        val exists = Files.exists(java.nio.file.Paths.get(out, ".zgroup"))
        if (!exists)
          sorted.write.format("zarr").option("coords", "t,x")
            .option("chunkOuter", "2").mode("overwrite").save(out)
        else sorted.write.format("zarr").mode("append").save(out)
    }.start()
    try q.processAllAvailable() finally q.stop()
    val back = spark.read.format("zarr").load(out)
    assert(back.orderBy("t", "x").collect().map(_.toSeq).toSeq ==
      grid(0L to 5L).orderBy("t", "x").collect().map(_.toSeq).toSeq)
  }

  test("SQL INSERT INTO appends") {
    val out = fresh(Seq(0L, 1L))
    spark.sql(s"CREATE TABLE zappend USING zarr OPTIONS (path '$out', coords 't,x')")
    try {
      spark.sql("INSERT INTO zappend SELECT t + 2 AS t, x, v + 20.0 AS v FROM zappend")
      assert(spark.read.format("zarr").load(out).count() == 12)
      assert(spark.sql("SELECT SUM(v) FROM zappend").collect().head.getDouble(0) ==
        grid(0L to 3L).agg(sum("v")).collect().head.getDouble(0))
    } finally spark.sql("DROP TABLE zappend")
  }
}
