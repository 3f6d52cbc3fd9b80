package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.Tables

/** One event for sessionization (public: Encoder codegen requires
  * accessible classes). */
case class Ev(user_id: Long, ts_us: Long)

/** Per-user session summary emitted by the stateful stage. */
case class UserSessions(user_id: Long, n_sessions: Long, n_events: Long)

/** Sessionization carry-over state: last seen event time + running
  * totals (public: Encoder codegen requires accessible classes). */
case class SessState(last_us: Long, n_sessions: Long, n_events: Long)

/** Event projection for the transformWithState stage (value pre-cast
  * to exact cents so the state arithmetic is integer). */
case class EvV(user_id: Long, ts_us: Long, cents: Long)

/** Per-user running summary held in a ValueState and emitted per
  * batch. */
case class UserSummary(user_id: Long, n_events: Long, first_us: Long,
    last_us: Long, value_cents: Long)

/** `transformWithState` processor (Spark 4's arbitrary-state API,
  * successor to mapGroupsWithState: typed named states, timers, TTL —
  * requires the RocksDB state store provider). Merges incoming events
  * into a per-user running summary; on an unbounded stream the same
  * state carries across micro-batches, with TTL available to bound
  * it. */
class UserSummaryProc extends org.apache.spark.sql.streaming.StatefulProcessor[Long, EvV, UserSummary] {
  import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode, TimerValues, TTLConfig, ValueState}

  @transient private var st: ValueState[UserSummary] = _

  override def init(outputMode: OM, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[UserSummary]("summary",
      org.apache.spark.sql.Encoders.product[UserSummary], TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[EvV],
      timerValues: TimerValues): Iterator[UserSummary] = {
    val init =
      if (st.exists()) st.get()
      else UserSummary(key, 0L, Long.MaxValue, Long.MinValue, 0L)
    val merged = rows.foldLeft(init) { (acc, e) =>
      UserSummary(key, acc.n_events + 1,
        math.min(acc.first_us, e.ts_us), math.max(acc.last_us, e.ts_us),
        acc.value_cents + e.cents)
    }
    st.update(merged)
    Iterator.single(merged)
  }
}

/** Structured Streaming over the `events` table (stream-shaped:
  * event_id, ts, user_id, event_type, value, props).
  *
  * The reference engine is batch-only (SURVEY.md §2.B Streaming:
  * "None"); this module is part of the training-pipeline extension.
  * For the driver gate the streams run bounded: a file-stream source
  * over the sf directory, `processAllAvailable()`, results in a memory
  * sink — so each query returns a deterministic DataFrame the DuckDB
  * oracle can check. On a cluster the same code runs unbounded with
  * the watermark bounding state.
  */
object EventsStreaming {

  /** Batch-identical event frame: the RAW parquet schema feeds the
    * file stream, then `Tables.normalizeTs` applies the same ts
    * normalization (nanos-as-long → micros, or NTZ → LTZ) as the
    * batch loader, so stream and batch plans see identical types.
    * Memoized per events file — schema inference reads the parquet
    * footer, and the two-source queries (st4/st7) paid it twice per
    * invocation (metadata memo, same posture as the zarr store-meta
    * cache; never caches results). Each entry carries the file's size
    * and mtime stamp ([[graft.pipeline.Dedup.corpusStamp]]), so a
    * rewritten file is re-inferred, and holds one schema per path. */
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    String, (String, org.apache.spark.sql.types.StructType)]()
  private def schemaOf(s: SparkSession, dir: String) = {
    val path = s"$dir/events.parquet"
    val stamp = graft.pipeline.Dedup.corpusStamp(s, dir, "events")
    schemaCache.compute(path, (_, old) =>
      if (old != null && old._1 == stamp) old else (stamp, s.read.parquet(path).schema))._2
  }

  private[graft] def eventsStream(s: SparkSession, dir: String): DataFrame = {
    // FileStreamSource requires a directory; the corpus ships events as
    // a single parquet file — expose it through a symlinked stream dir.
    graft.operators.Tables.normalizeTs(
      s.readStream.schema(schemaOf(s, dir)).parquet(streamDir(dir)))
  }

  /** A stable directory containing just a symlink to the events file.
    * Keyed by a hash of the FULL source path (a sanitized name alone
    * can collide: `/data/sf0.01` and `/data/sf0_01` sanitize the
    * same). Tmp dirs outlive runs, so a stale link (target moved) is
    * re-created — and the existence check must NOT follow the link,
    * or a broken link reads as "absent" and the create throws
    * FileAlreadyExists. */
  private def streamDir(dir: String): String = {
    import java.nio.file.{Files, LinkOption, Paths}
    val key = dir.replaceAll("[^A-Za-z0-9]", "_") +
      "_" + Integer.toHexString(dir.hashCode)
    val d = Paths.get(System.getProperty("java.io.tmpdir"), s"graft_stream_$key")
    Files.createDirectories(d)
    val link = d.resolve("events.parquet")
    // absolute target: a relative sf dir would otherwise resolve
    // against the tmp link directory — a dangling symlink the file
    // stream source reads as an empty directory (zero rows, silently)
    val target = Paths.get(dir, "events.parquet").toAbsolutePath

    if (Files.exists(link, LinkOption.NOFOLLOW_LINKS) &&
        (!Files.isSymbolicLink(link) || Files.readSymbolicLink(link) != target))
      Files.delete(link)
    if (!Files.exists(link, LinkOption.NOFOLLOW_LINKS))
      Files.createSymbolicLink(link, target)
    d.toString
  }

  /** Run a bounded stream to a memory table. Stateful operators
    * materialize one state store per shuffle partition; at interactive
    * scale the per-store fixed cost dominates, so streams run with few
    * state partitions (a real deployment sizes this to the cluster —
    * state partitioning is a config, not plan structure). */
  private def runToTable(df: DataFrame, name: String, mode: OutputMode): DataFrame = {
    val s = df.sparkSession
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "4")
    try {
      val q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
      try q.processAllAvailable() finally q.stop()
    } finally s.conf.set("spark.sql.shuffle.partitions", prev)
    s.table(name)
  }

  /** Tumbling 1-hour event-time window aggregation with a watermark —
    * the canonical streaming shape (`readStream` → watermark → window
    * → agg → sink). Output keyed by epoch-hour so the oracle mirrors
    * it with integer arithmetic. */
  def st1_stream_window_agg(s: SparkSession, dir: String): DataFrame = {
    val agg = eventsStream(s, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(10, 2)))
          .cast("double").as("sum_value"))
      .select(
        (unix_timestamp(col("window.start")) / 3600).cast("long").as("hour_bucket"),
        col("event_type"), col("n_events"), col("sum_value"))
    runToTable(agg, "st1_out", OutputMode.Complete())
  }

  private val st1Sql = """
    SELECT CAST(FLOOR(EPOCH(ts) / 3600) AS BIGINT) AS hour_bucket, event_type,
      COUNT(*) AS n_events,
      CAST(CAST(SUM(CAST(value AS DECIMAL(10,2))) AS STRING) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2"""

  /** Stateful sessionization via flatMapGroupsWithState: per user,
    * sessions split on >30-minute idle gaps. Bounded input arrives as
    * one batch, so every group emits its final counts immediately; in
    * continuous operation the same function holds per-user state
    * between triggers. */
  /** The stateful sessionization stage: folds each batch's (sorted)
    * events onto carried per-user state, so a session spanning a
    * micro-batch boundary is not split and counts are cumulative. */
  def sessionStage(ds: Dataset[Ev]): Dataset[UserSessions] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, UserSessions](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, evs: Iterator[Ev], state: GroupState[SessState]) =>
          val ts = evs.map(_.ts_us).toArray.sorted
          val gapUs = 30L * 60 * 1000000
          val prev = state.getOption.getOrElse(SessState(Long.MinValue, 0L, 0L))
          var last = prev.last_us
          var nSess = prev.n_sessions
          ts.foreach { t =>
            if (last == Long.MinValue || t - last > gapUs) nSess += 1
            last = t
          }
          val next = SessState(last, nSess, prev.n_events + ts.length)
          state.update(next)
          Iterator(UserSessions(user, next.n_sessions, next.n_events))
      }
  }

  def st2_stream_sessionize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ds: Dataset[Ev] = eventsStream(s, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us")).as[Ev]
    runToTable(sessionStage(ds).toDF(), "st2_out", OutputMode.Append())
  }

  private val st2Sql = """
    WITH gaps AS (
      SELECT user_id,
        CASE WHEN epoch_ns(ts) // 1000
               - epoch_ns(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) // 1000
               > 1800000000 THEN 1 ELSE 0 END AS new_session
      FROM events)
    SELECT user_id, CAST(1 + SUM(new_session) AS BIGINT) AS n_sessions,
      COUNT(*) AS n_events
    FROM gaps GROUP BY user_id"""

  /** Streaming exact deduplication (`dropDuplicates` on the dedup
    * key) — the streaming face of the batch dedup family (d1). Output
    * is the kept key set, which is order-independent and so
    * oracle-checkable; state is one entry per distinct key (use
    * `dropDuplicatesWithinWatermark` when the key space is unbounded
    * and re-emission after the horizon is acceptable). */
  def st3_stream_dedup(s: SparkSession, dir: String): DataFrame = {
    val dd = eventsStream(s, dir)
      .dropDuplicates("user_id", "event_type")
      .select(col("user_id"), col("event_type"))
    runToTable(dd, "st3_out", OutputMode.Append())
  }

  private val st3Sql =
    "SELECT DISTINCT user_id, event_type FROM events"

  /** Stream-stream interval join: purchases joined to the same user's
    * views in the preceding 10 minutes. Both sides carry watermarks
    * and the join condition bounds event time, so state is bounded by
    * the interval + watermark horizon — the canonical streaming join
    * shape. Output is the (purchase, view) pair set: deterministic,
    * so the DuckDB oracle is the equivalent batch interval join. */
  def st4_stream_join(s: SparkSession, dir: String): DataFrame = {
    val purchases = eventsStream(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val views = eventsStream(s, dir)
      .filter(col("event_type") === "view")
      .select(col("event_id").as("v_id"), col("user_id").as("v_user"),
        col("ts").as("v_ts"))
      .withWatermark("v_ts", "1 hour")
    val joined = purchases.join(views,
        col("p_user") === col("v_user") &&
          col("v_ts") >= col("p_ts") - expr("INTERVAL 10 MINUTES") &&
          col("v_ts") <= col("p_ts"))
      .select(col("p_id"), col("v_id"), col("p_user").as("user_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("v_ts"))).as("gap_us"))
    runToTable(joined, "st4_out", OutputMode.Append())
  }

  private val st4Sql = """
    WITH e AS (
      SELECT event_id, user_id, event_type, epoch_ns(ts) // 1000 AS ts_us
      FROM events)
    SELECT p.event_id AS p_id, v.event_id AS v_id, p.user_id,
      p.ts_us - v.ts_us AS gap_us
    FROM e p JOIN e v
      ON p.user_id = v.user_id
      AND p.event_type = 'purchase' AND v.event_type = 'view'
      AND v.ts_us >= p.ts_us - 600000000 AND v.ts_us <= p.ts_us"""

  /** Stream-static enrichment join: the event stream joined to the
    * static `customer` dimension (broadcast — no shuffle of the
    * stream, no state store for the static side), then aggregated per
    * market segment. The canonical "enrich a stream with a dim table"
    * shape: at scale the static side is broadcast once per executor
    * and the stream flows through map-side, state bounded by the
    * aggregation keys only. */
  def st5_stream_static_join(s: SparkSession, dir: String): DataFrame = {
    val dim = broadcast(Tables.load(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment")))
    val joined = eventsStream(s, dir)
      .join(dim, col("user_id") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(10, 2)))
          .cast("double").as("sum_value"))
    runToTable(joined, "st5_out", OutputMode.Complete())
  }

  private val st5Sql = """
    SELECT c_mktsegment, COUNT(*) AS n_events,
      CAST(CAST(SUM(CAST(value AS DECIMAL(10,2))) AS STRING) AS DOUBLE) AS sum_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment"""

  /** Arbitrary stateful processing via `transformWithState`: per-user
    * running summaries in a named ValueState (RocksDB-backed — the
    * provider this API requires; set for this query only, restored
    * after). Bounded input arrives as one batch, so the emitted
    * summaries equal the batch aggregate the oracle computes. */
  def st6_stream_transform_state(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    val ds: Dataset[EvV] = eventsStream(s, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        (col("value").cast(org.apache.spark.sql.types.DecimalType(10, 2)) * 100)
          .cast("long").as("cents")).as[EvV]
    val out = ds.groupByKey(_.user_id)
      .transformWithState(new UserSummaryProc, TimeMode.None(), OutputMode.Append())
    val prevProvider = s.conf.get("spark.sql.streaming.stateStore.providerClass")
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try runToTable(out.toDF(), "st6_out", OutputMode.Append())
    finally s.conf.set("spark.sql.streaming.stateStore.providerClass", prevProvider)
  }

  private val st6Sql = """
    SELECT user_id, COUNT(*) AS n_events,
      MIN(epoch_ns(ts) // 1000) AS first_us,
      MAX(epoch_ns(ts) // 1000) AS last_us,
      CAST(SUM(CAST(CAST(value AS DECIMAL(10,2)) * 100 AS BIGINT)) AS BIGINT) AS value_cents
    FROM events GROUP BY user_id"""

  /** LEFT-OUTER stream-stream interval join: every purchase emits,
    * null-padded when no view preceded it within 10 minutes. The
    * outer side of a stream join can only finalize once the watermark
    * passes the row's join window (until then a matching view could
    * still arrive), so results are clipped to the SEALED region —
    * purchases older than the final
    * watermark (min over both sides of max(ts) − delay) − (join interval:
    * the left side can match views up to 10 minutes after its own
    * timestamp, so eviction lags the watermark by that width) — on
    * both engines;
    * the unclipped tail is exactly the state a live stream would still
    * be holding. Same state-size story as st4: state is bounded by
    * the interval + watermark, keyed on user. */
  def st7_stream_outer_join(s: SparkSession, dir: String): DataFrame = {
    val purchases = eventsStream(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val views = eventsStream(s, dir)
      .filter(col("event_type") === "view")
      .select(col("event_id").as("v_id"), col("user_id").as("v_user"),
        col("ts").as("v_ts"))
      .withWatermark("v_ts", "1 hour")
    val joined = purchases.join(views,
        col("p_user") === col("v_user") &&
          col("v_ts") >= col("p_ts") - expr("INTERVAL 10 MINUTES") &&
          col("v_ts") <= col("p_ts"),
        "leftOuter")
      .select(col("p_id"), col("p_user").as("user_id"), col("v_id"),
        coalesce(unix_micros(col("p_ts")) - unix_micros(col("v_ts")), lit(-1L))
          .as("gap_us"),
        unix_micros(col("p_ts")).as("p_us"))
    val out = runToTable(joined, "st7_out", OutputMode.Append())
    // The global watermark is the MIN over both sides' watermark nodes
    // (each = that side's max event time - 1h); left-state eviction
    // additionally lags by the join-interval width (a purchase can
    // match views up to 10 minutes after it). Everything below that
    // bound is sealed output; above it is exactly the state a live
    // stream would still hold.
    val sides = Tables.load(s, dir, "events")
      .filter(col("event_type").isin("purchase", "view"))
      .groupBy("event_type").agg(max(unix_micros(col("ts"))).as("mx"))
      .collect().map(r => r.getLong(1))
    // no purchases/views at all → nothing is sealed (the oracle's
    // empty result), not an empty-Array.min crash
    if (sides.isEmpty) return out.filter(lit(false)).drop("p_us")
    val sealedBound = sides.min - 4200000000L
    out.filter(col("p_us") < sealedBound).drop("p_us")
  }

  private val st7Sql = """
    WITH e AS (
      SELECT event_id, user_id, event_type, epoch_ns(ts) // 1000 AS ts_us
      FROM events)
    SELECT p.event_id AS p_id, p.user_id, v.event_id AS v_id,
      COALESCE(p.ts_us - v.ts_us, -1) AS gap_us
    FROM e p LEFT JOIN e v
      ON p.user_id = v.user_id AND v.event_type = 'view'
      AND v.ts_us >= p.ts_us - 600000000 AND v.ts_us <= p.ts_us
    WHERE p.event_type = 'purchase'
      AND p.ts_us < LEAST(
        (SELECT MAX(ts_us) FROM e WHERE event_type = 'purchase'),
        (SELECT MAX(ts_us) FROM e WHERE event_type = 'view')) - 4200000000"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "st7_stream_outer_join" -> (st7_stream_outer_join _),
    "st1_stream_window_agg" -> (st1_stream_window_agg _),
    "st2_stream_sessionize" -> (st2_stream_sessionize _),
    "st3_stream_dedup" -> (st3_stream_dedup _),
    "st4_stream_join" -> (st4_stream_join _),
    "st5_stream_static_join" -> (st5_stream_static_join _),
    "st6_stream_transform_state" -> (st6_stream_transform_state _))

  val oracle: Map[String, String] = Map(
    "st7_stream_outer_join" -> st7Sql,
    "st1_stream_window_agg" -> st1Sql,
    "st2_stream_sessionize" -> st2Sql,
    "st3_stream_dedup" -> st3Sql,
    "st4_stream_join" -> st4Sql,
    "st5_stream_static_join" -> st5Sql,
    "st6_stream_transform_state" -> st6Sql)
}
