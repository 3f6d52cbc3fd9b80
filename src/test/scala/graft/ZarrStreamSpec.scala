package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `spark.readStream.format("zarr")` — the outer dimension as a
  * micro-batch stream, pairing with the append sink: one job appends
  * arriving time slabs, consumers follow with offsets = outer extent. */
class ZarrStreamSpec extends AnyFunSuite {
  import TestSession._

  private def grid(ts: Seq[Long]) = {
    import spark.implicits._
    ts.flatMap(t => (0L until 3L).map(x => (t, x, t * 10.0 + x)))
      .toDF("t", "x", "v")
  }

  private def fresh(ts: Seq[Long]): String = {
    val out = Files.createTempDirectory("zarr_stream").resolve("s.zarr").toString
    grid(ts).write.format("zarr")
      .option("coords", "t,x").option("chunkOuter", "2")
      .mode("overwrite").save(out)
    out
  }

  private var tableN = 0

  test("stream sees the initial grid, then each appended slab; union = batch read") {
    val out = fresh(Seq(0L, 1L, 2L, 3L))
    val sdf = spark.readStream.format("zarr").load(out)
    tableN += 1
    val name = s"zstream_$tableN"
    val q = sdf.writeStream.outputMode("append").format("memory").queryName(name).start()
    try {
      q.processAllAvailable()
      assert(spark.table(name).count() == 12) // 4 outer × 3 inner
      grid(Seq(4L, 5L)).write.format("zarr").mode("append").save(out)
      grid(Seq(6L, 7L)).write.format("zarr").mode("append").save(out)
      q.processAllAvailable()
      assert(spark.table(name).orderBy("t", "x").collect().map(_.toSeq).toSeq ==
        grid(0L to 7L).orderBy("t", "x").collect().map(_.toSeq).toSeq)
      // at least two micro-batches fired (initial + post-append)
      assert(q.recentProgress.count(_.numInputRows > 0) >= 2)
    } finally q.stop()
  }

  test("startingOffset=latest skips the pre-existing grid") {
    val out = fresh(Seq(0L, 1L))
    val sdf = spark.readStream.format("zarr")
      .option("startingOffset", "latest").load(out)
    tableN += 1
    val name = s"zstream_$tableN"
    val q = sdf.writeStream.outputMode("append").format("memory").queryName(name).start()
    try {
      q.processAllAvailable()
      assert(spark.table(name).count() == 0)
      grid(Seq(2L, 3L)).write.format("zarr").mode("append").save(out)
      q.processAllAvailable()
      assert(spark.table(name).orderBy("t", "x").collect().map(_.toSeq).toSeq ==
        grid(Seq(2L, 3L)).orderBy("t", "x").collect().map(_.toSeq).toSeq)
    } finally q.stop()
  }

  test("pushed predicates re-evaluate against grown coordinates") {
    val out = fresh(Seq(0L, 1L, 2L, 3L))
    // t >= 5 doesn't exist when the stream starts; only appended slabs match
    val sdf = spark.readStream.format("zarr").load(out)
      .filter(col("t") >= 5 && col("x") === 1)
      .select("t", "v")
    tableN += 1
    val name = s"zstream_$tableN"
    val q = sdf.writeStream.outputMode("append").format("memory").queryName(name).start()
    try {
      q.processAllAvailable()
      assert(spark.table(name).count() == 0)
      grid(Seq(4L, 5L, 6L, 7L)).write.format("zarr").mode("append").save(out)
      q.processAllAvailable()
      assert(spark.table(name).orderBy("t").collect().map(_.toSeq).toSeq ==
        Seq(Seq(5L, 51.0), Seq(6L, 61.0), Seq(7L, 71.0)))
    } finally q.stop()
  }

  test("data-variable and coordinate predicates return only matching rows after an append") {
    // both filters are in the scan's exact set: whether Spark keeps its
    // Filter above the micro-batch scan (Spark 4.1 pushes nothing
    // there) or drops it, only matching rows may come out
    val out = fresh(Seq(0L, 1L, 2L, 3L))
    val byVar = spark.readStream.format("zarr").load(out)
      .filter(col("v") > 41.0).select("t", "x", "v")
    val byCoord = spark.readStream.format("zarr").load(out)
      .filter(col("t") >= 2 && col("t") <= 5).select("t", "x")
    val names = Seq(byVar, byCoord).map { sdf =>
      tableN += 1
      val name = s"zstream_$tableN"
      (name, sdf.writeStream.outputMode("append").format("memory").queryName(name).start())
    }
    try {
      names.foreach(_._2.processAllAvailable())
      grid(Seq(4L, 5L, 6L, 7L)).write.format("zarr").mode("append").save(out)
      names.foreach(_._2.processAllAvailable())
      val all = grid(0L to 7L).collect()
      assert(spark.table(names(0)._1).orderBy("t", "x").collect().map(_.toSeq).toSeq ==
        all.filter(_.getDouble(2) > 41.0).map(_.toSeq).toSeq)
      assert(spark.table(names(1)._1).orderBy("t", "x").collect().map(_.toSeq).toSeq ==
        all.filter(r => r.getLong(0) >= 2 && r.getLong(0) <= 5).map(r => Seq(r(0), r(1))).toSeq)
    } finally names.foreach(_._2.stop())
  }

  test("mid-append state reads consistently: new longer chunk + old metadata") {
    // Append commits chunks BEFORE the metadata shape edit, so a
    // racing reader can see a rewritten (longer) coordinate chunk
    // under the old shape — the decoder must read the metadata extent
    // and ignore the tail, for every compressor. (This is the exact
    // state that made streaming reads flake before the fix.)
    import graft.sources.zarr.{ZarrStore, ZarrMeta}
    for (comp <- Seq("zstd", "gzip", "zlib", "none")) {
      val out = Files.createTempDirectory("zarr_midappend").resolve("m.zarr").toString
      grid(Seq(0L, 1L)).write.format("zarr")
        .option("coords", "t,x").option("chunkOuter", "2")
        .option("compressor", comp)
        .mode("overwrite").save(out)
      val before = spark.read.format("zarr").load(out).orderBy("t", "x")
        .collect().map(_.toSeq).toSeq
      // simulate append step 1: rewrite the outer coord chunk with 2
      // extra values, metadata untouched (shape still 2)
      val store = ZarrStore.open(out)
      val meta = ZarrMeta.readStore(out)
      val cm = meta.coords.head.meta
      val buf = java.nio.ByteBuffer.allocate(4 * 8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      Seq(0L, 1L, 2L, 3L).foreach(buf.putLong)
      val payload = comp match {
        case "none" => buf.array()
        case "zstd" => com.github.luben.zstd.Zstd.compress(buf.array())
        case _ => // gzip and zlib both store zlib/gzip frames via the writer; use matching streams
          val bos = new java.io.ByteArrayOutputStream()
          val os = if (comp == "gzip") new java.util.zip.GZIPOutputStream(bos)
            else new java.util.zip.DeflaterOutputStream(bos)
          os.write(buf.array()); os.close(); bos.toByteArray
      }
      store.writeBytes(s"t/${cm.chunkKey(Seq(0L))}", payload)
      graft.sources.zarr.ChunkIO.invalidatePath(out)
      val after = spark.read.format("zarr").load(out).orderBy("t", "x")
        .collect().map(_.toSeq).toSeq
      assert(after == before, s"compressor=$comp")
    }
  }

  test("stress: appends race a continuously-triggering follower") {
    // The ingest thread appends 10 slabs with no coordination while
    // the default trigger polls as fast as it can — every interleaving
    // of metadata reads and chunk/metadata commits must decode
    // cleanly, and the final union must be exactly the full grid.
    val out = fresh(Seq(0L, 1L))
    ZarrStreamSpec.sink.clear()
    val q = spark.readStream.format("zarr").load(out)
      .writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.collect().foreach(r => ZarrStreamSpec.sink.add(r.toSeq))
      }.start()
    val ingest = new Thread(() => {
      (1 to 10).foreach { i =>
        grid(Seq(2L * i, 2L * i + 1)).write.format("zarr").mode("append").save(out)
        Thread.sleep(30)
      }
    })
    try {
      ingest.start()
      ingest.join()
      q.processAllAvailable()
    } finally q.stop()
    import scala.jdk.CollectionConverters._
    val got = ZarrStreamSpec.sink.asScala.toSeq
      .sortBy(r => (r.head.asInstanceOf[Long], r(1).asInstanceOf[Long]))
    assert(got == grid(0L to 21L).orderBy("t", "x").collect().map(_.toSeq).toSeq,
      s"got ${got.size} rows")
  }

  test("checkpoint restart resumes from the committed outer offset") {
    val out = fresh(Seq(0L, 1L))
    val ckpt = Files.createTempDirectory("zarr_stream_ckpt").toString
    // memory sink can't recover a checkpoint; foreachBatch can
    def drain(): Seq[Seq[Any]] = {
      ZarrStreamSpec.sink.clear()
      val q = spark.readStream.format("zarr").load(out)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.collect().foreach(r => ZarrStreamSpec.sink.add(r.toSeq))
        }.start()
      try q.processAllAvailable() finally q.stop()
      import scala.jdk.CollectionConverters._
      ZarrStreamSpec.sink.asScala.toSeq
    }
    assert(drain().size == 6)
    // append while the stream is down; the resumed stream must emit
    // ONLY the new slabs (offset restored via deserializeOffset)
    grid(Seq(2L, 3L)).write.format("zarr").mode("append").save(out)
    assert(drain().sortBy(r => (r.head.asInstanceOf[Long], r(1).asInstanceOf[Long])) ==
      grid(Seq(2L, 3L)).orderBy("t", "x").collect().map(_.toSeq).toSeq)
  }

  test("Trigger.AvailableNow drains the frozen extent in bounded batches, then stops") {
    import org.apache.spark.sql.streaming.Trigger
    val out = fresh(Seq(0L, 1L, 2L, 3L, 4L, 5L))
    tableN += 1
    val name = s"zstream_$tableN"
    val q = spark.readStream.format("zarr")
      .option("maxSlabsPerTrigger", "2").load(out)
      .writeStream.outputMode("append").format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
    // terminates by itself once the frozen extent is drained
    assert(q.awaitTermination(120000), "AvailableNow query did not terminate")
    assert(spark.table(name).orderBy("t", "x").collect().map(_.toSeq).toSeq ==
      grid(0L to 5L).orderBy("t", "x").collect().map(_.toSeq).toSeq)
    // 6 slabs at 2 slabs/trigger → ≥3 non-empty batches (rate limit held)
    val nonEmpty = q.recentProgress.filter(_.numInputRows > 0)
    assert(nonEmpty.length >= 3, s"expected ≥3 bounded batches, got ${nonEmpty.length}")
    assert(nonEmpty.forall(_.numInputRows <= 2 * 3), // ≤ 2 slabs × 3 inner rows
      nonEmpty.map(_.numInputRows).mkString(","))
  }

  test("maxSlabsPerTrigger bounds a live follower's batches") {
    val out = fresh(Seq(0L, 1L, 2L, 3L))
    tableN += 1
    val name = s"zstream_$tableN"
    val q = spark.readStream.format("zarr")
      .option("maxSlabsPerTrigger", "1").load(out)
      .writeStream.outputMode("append").format("memory").queryName(name).start()
    try {
      q.processAllAvailable()
      assert(spark.table(name).count() == 12) // catches up fully, just in steps
      val nonEmpty = q.recentProgress.filter(_.numInputRows > 0)
      assert(nonEmpty.forall(_.numInputRows <= 3), // 1 slab × 3 inner rows
        nonEmpty.map(_.numInputRows).mkString(","))
      assert(nonEmpty.length >= 4)
    } finally q.stop()
  }
}

object ZarrStreamSpec {
  val sink = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Any]]()
}
