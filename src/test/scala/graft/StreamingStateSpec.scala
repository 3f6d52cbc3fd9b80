package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.TimeMode
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{Ev, EvV, EventsStreaming, UserSummaryProc}

/** transformWithState across MULTIPLE micro-batches — the gate runs
  * the stream bounded (one batch), so cross-batch state carry-over is
  * exercised here: two parquet files + maxFilesPerTrigger=1 force two
  * triggers, and the second batch's emission must include the first
  * batch's state. */
class StreamingStateSpec extends AnyFunSuite {
  import TestSession._

  private def writeBatch(streamDir: java.nio.file.Path, name: String,
      rows: Seq[EvV]): Unit = {
    import spark.implicits._
    val tmp = Files.createTempDirectory("tws_batch")
    rows.toDS().coalesce(1).write.mode("overwrite").parquet(tmp.resolve("out").toString)
    val part = Files.list(tmp.resolve("out")).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.copy(part, streamDir.resolve(name), StandardCopyOption.REPLACE_EXISTING)
  }

  test("state carries across micro-batches (RocksDB ValueState)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("tws_stream")
    writeBatch(dir, "a.parquet", Seq(EvV(1L, 100L, 10L), EvV(1L, 200L, 20L), EvV(2L, 150L, 5L)))
    writeBatch(dir, "b.parquet", Seq(EvV(1L, 50L, 7L), EvV(3L, 300L, 1L)))

    val prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val sdf = spark.readStream
        .schema(implicitly[org.apache.spark.sql.Encoder[EvV]].schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(dir.toString)
      val out = sdf.as[EvV].groupByKey(_.user_id)
        .transformWithState(new UserSummaryProc, TimeMode.None(), OutputMode.Append())
      val q = out.toDF().writeStream.outputMode("append")
        .format("memory").queryName("tws_multi").start()
      try q.processAllAvailable() finally q.stop()
    } finally spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)

    val rows = spark.table("tws_multi")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // user 1 appears in both batches -> two emissions; the later one
    // must have merged the earlier state (n=3, min ts 50, max 200, 37c)
    val u1 = rows.filter(_._1 == 1L).sortBy(_._2)
    assert(u1.length == 2, s"expected 2 emissions for user 1, got ${u1.toSeq}")
    assert(u1.last == ((1L, 3L, 50L, 200L, 37L)), u1.toSeq.toString)
    // single-batch users emit once with plain totals
    assert(rows.filter(_._1 == 2L).toSeq == Seq((2L, 1L, 150L, 150L, 5L)))
    assert(rows.filter(_._1 == 3L).toSeq == Seq((3L, 1L, 300L, 300L, 1L)))
  }

  test("outer stream join null-pads unmatched purchases in the sealed region") {
    val rows = graft.streaming.EventsStreaming
      .st7_stream_outer_join(spark, sf).collect()
    assert(rows.nonEmpty)
    val unmatched = rows.filter(_.isNullAt(2))
    val matched = rows.filter(!_.isNullAt(2))
    // fixture guarantees both kinds exist in the sealed region
    assert(unmatched.nonEmpty && matched.nonEmpty)
    unmatched.foreach(r => assert(r.getAs[Long]("gap_us") == -1L))
    matched.foreach { r =>
      val g = r.getAs[Long]("gap_us")
      assert(g >= 0L && g <= 600000000L) // view within the 10-minute window
    }
  }

  test("sessionization does not split a session at a micro-batch boundary") {
    import spark.implicits._
    val min = 60L * 1000000
    val dir = Files.createTempDirectory("sess_stream")
    def put(name: String, rows: Seq[Ev]): Unit = {
      val tmp = Files.createTempDirectory("sess_batch")
      rows.toDS().coalesce(1).write.mode("overwrite").parquet(tmp.resolve("out").toString)
      val part = Files.list(tmp.resolve("out"))
        .filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
      Files.copy(part, dir.resolve(name), StandardCopyOption.REPLACE_EXISTING)
    }
    // batch boundary falls INSIDE a session (gap 10min < 30min); a
    // later 60-min gap starts session 2
    put("a.parquet", Seq(Ev(1L, 0L), Ev(1L, 10 * min)))
    put("b.parquet", Seq(Ev(1L, 20 * min), Ev(1L, 80 * min)))
    val sdf = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[Ev]].schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.toString)
    val out = EventsStreaming.sessionStage(sdf.as[Ev])
    val q = out.toDF().writeStream.outputMode("append")
      .format("memory").queryName("sess_multi").start()
    try q.processAllAvailable() finally q.stop()
    val rows = spark.table("sess_multi").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._3)
    assert(rows.length == 2, rows.toSeq.toString)
    // cumulative after batch 2: 2 sessions, 4 events — a stateless
    // per-batch fold would report 2 sessions over only 2 events and
    // would also have split the boundary-spanning session
    assert(rows.last == ((1L, 2L, 4L)), rows.toSeq.toString)
  }

  test("events stream resolves a RELATIVE sf dir (symlink target must be absolute)") {
    // Regression: the stream-dir symlink used the sf path verbatim; a
    // relative path resolved against the tmp link dir -> dangling link
    // -> the file source silently streamed ZERO rows (found by the sf1
    // scale run, whose data dir is repo-relative).
    val cwd = java.nio.file.Paths.get("").toAbsolutePath
    val rel = cwd.relativize(java.nio.file.Paths.get(sf)).toString
    assert(!java.nio.file.Paths.get(rel).isAbsolute)
    val n = SparkEntry.queries("st1_stream_window_agg")(spark, rel).count()
    assert(n > 0, s"st1 over relative dir '$rel' returned no rows")
  }

  test("a rewritten events.parquet is streamed with its new schema") {
    import spark.implicits._
    val dir = Files.createTempDirectory("events_rewrite")
    def put(df: org.apache.spark.sql.DataFrame): Unit = {
      val tmp = Files.createTempDirectory("events_rewrite_out").resolve("out")
      df.coalesce(1).write.parquet(tmp.toString)
      val part = Files.list(tmp).filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
      Files.copy(part, dir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    }
    put(Seq((1L, 10L)).toDF("event_id", "user_id"))
    assert(EventsStreaming.eventsStream(spark, dir.toString).columns.toSeq ==
      Seq("event_id", "user_id"))
    // same JVM, same directory: the memo must not serve the old schema
    put(Seq((2L, 20L, "x")).toDF("event_id", "user_id", "extra"))
    val stream = EventsStreaming.eventsStream(spark, dir.toString)
    assert(stream.columns.toSeq == Seq("event_id", "user_id", "extra"))
    val q = stream.writeStream.format("memory").queryName("events_rewrite").start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table("events_rewrite").collect().map(r => (r.getLong(0), r.getString(2))).toSeq ==
      Seq((2L, "x")))
  }
}
