package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.connector.read.{InputPartition, Scan}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceV2ScanRelation}

import graft.sources.zarr._

/** One traced interval. Spans of one op share `query`; `parent` is the
  * id of the enclosing span, or -1. */
final case class Span(id: Int, query: Int, name: String, start: Long, end: Long, parent: Int) {
  def ns: Long = end - start
}

/** Spans kept in memory and written out when the run ends. Spans are
  * recorded around calls from the benchmark into each layer; nothing
  * inside the program is instrumented. */
final class Tracer {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var query = -1

  def forQuery[A](q: Int)(body: => A): A = { query = q; try body finally query = -1 }

  def span[A](name: String)(body: => A): A = {
    val id = spans.length
    spans += Span(id, query, name, System.nanoTime(), 0L, stack.headOption.getOrElse(-1))
    stack = id :: stack
    try body finally {
      stack = stack.tail
      spans(id) = spans(id).copy(end = System.nanoTime())
    }
  }

  /** Adds a span timed elsewhere (Spark's planning phases, on the
    * wall clock) under the innermost span of the same query that
    * contains it. */
  def add(name: String, start: Long, end: Long): Unit = {
    val slack = 2000000L // the phases carry millisecond times
    val parent = spans.filter(s => s.query == query && s.start - slack <= start && end <= s.end + slack)
      .sortBy(_.ns).headOption.map(_.id).getOrElse(-1)
    spans += Span(spans.length, query, name, start, end, parent)
  }

  /** Span duration minus the part of it its children cover. */
  def selfNs(s: Span): Long = {
    val kids = spans.filter(_.parent == s.id).map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
      .filter(k => k._1 < k._2).sortBy(_._1)
    var (covered, reach) = (0L, s.start)
    kids.foreach { case (a, b) =>
      val from = math.max(a, reach)
      if (b > from) { covered += b - from; reach = b }
    }
    s.ns - covered
  }

  def json: String = spans.map(s =>
    s"""{"id":${s.id},"query":${s.query},"name":"${s.name}","start_ns":${s.start},"end_ns":${s.end},""" +
      s""""parent":${s.parent},"self_ns":${selfNs(s)}}""").mkString("[\n", ",\n", "\n]\n")
}

/** Jobs started and tasks submitted per job group (one group per op). */
final class JobCounter extends SparkListener {
  val jobs = new ConcurrentHashMap[String, AtomicLong]()
  val tasks = new ConcurrentHashMap[String, AtomicLong]()
  private def bump(m: ConcurrentHashMap[String, AtomicLong], props: java.util.Properties, n: Long): Unit =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach(g => m.computeIfAbsent(g, _ => new AtomicLong).addAndGet(n))
  override def onJobStart(e: SparkListenerJobStart): Unit = bump(jobs, e.properties, 1)
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    bump(tasks, e.properties, e.stageInfo.numTasks)
  def get(m: ConcurrentHashMap[String, AtomicLong], group: String): Long =
    Option(m.get(group)).map(_.get).getOrElse(0L)
}

/** Plan inspection and layer probes, all through public entry points. */
object Layers {

  def scanOf(plan: LogicalPlan): Option[Scan] =
    plan.collectFirst { case s: DataSourceV2ScanRelation => s.scan }

  def batchScans(p: SparkPlan): Seq[BatchScanExec] = p match {
    case a: AdaptiveSparkPlanExec => batchScans(a.executedPlan)
    case s: QueryStageExec => batchScans(s.plan)
    case b: BatchScanExec => Seq(b)
    case o => o.children.flatMap(batchScans) ++ o.subqueries.flatMap(batchScans)
  }

  /** Sum of a custom SQL metric over the executed plan's scans. */
  def scanMetric(df: DataFrame, name: String): Long =
    batchScans(df.queryExecution.executedPlan).flatMap(_.metrics.get(name)).map(_.value).sum

  def unwrap(p: InputPartition): Option[ZarrInputPartition] = p match {
    case z: ZarrInputPartition => Some(z)
    case k: ZarrKeyedInputPartition => Some(k.p)
    case _ => None
  }

  /** Chunks of each projected data variable that a 3-D partition's
    * rows fall in, as (variable, t, lat, lon) chunk indices. */
  def chunksOf(p: ZarrInputPartition): Set[(String, Int, Int, Int)] = {
    val r = p.ranges
    val (nLat, nLon) = (r(1)._2 - r(1)._1, r(2)._2 - r(2)._1)
    val plane = nLat.toLong * nLon
    val out = mutable.Set.empty[(String, Int, Int, Int)]
    if (p.rowEnd > p.rowStart) p.projection.foreach {
      case VarField(m) =>
        val c = m.chunks
        var o = (p.rowStart / plane).toInt
        while (o.toLong * plane < p.rowEnd) {
          val a = math.max(p.rowStart, o * plane) - o * plane
          val b = math.min(p.rowEnd, (o + 1) * plane) - o * plane
          var l = (a / nLon).toInt
          while (l.toLong * nLon < b) {
            val j0 = if (l == a / nLon) (a % nLon).toInt else 0
            val j1 = if (l == (b - 1) / nLon) ((b - 1) % nLon).toInt else nLon - 1
            var cj = (r(2)._1 + j0) / c(2)
            while (cj <= (r(2)._1 + j1) / c(2)) {
              out += ((m.name, (r(0)._1 + o) / c(0), (r(1)._1 + l) / c(1), cj)); cj += 1
            }
            l += 1
          }
          o += 1
        }
      case _ =>
    }
    out.toSet
  }

  /** Times fetching, then decoding, `perVar` chunks of every data
    * variable of `store`. Returns per codec ("raw", "zstd", "shard")
    * (decoded bytes, decode ns), and (bytes fetched, fetch ns). A
    * shard's decode time is `ChunkIO.readChunk`, which fetches the
    * shard again from the page cache. */
  def codecProbe(tr: Tracer, store: String, perVar: Int)
      : (Map[String, (Long, Long)], (Long, Long)) = {
    val meta = tr.span("ZarrMeta.readStore")(ZarrMeta.readStore(store))
    val zs = ZarrStore.open(store)
    val decode = mutable.Map.empty[String, (Long, Long)].withDefaultValue((0L, 0L))
    var (fetchBytes, fetchNs) = (0L, 0L)
    meta.dataVars.foreach { m =>
      val grid = m.chunkGrid
      val codec = if (m.sharding.nonEmpty) "shard" else if (m.compressor.id == "none") "raw" else m.compressor.id
      val n = m.chunks.product
      (0 until perVar).foreach { s =>
        // spread the sample over the chunk grid
        val flat = (s.toLong * grid.product / perVar)
        val idx = grid.indices.map(d => (flat / grid.drop(d + 1).product) % grid(d))
        val key = s"${m.name}/${m.chunkKey(idx)}"
        val t0 = System.nanoTime()
        val bytes = tr.span("ZarrStore.readBytes")(zs.readBytes(key)).getOrElse(Array.emptyByteArray)
        val t1 = System.nanoTime()
        fetchBytes += bytes.length; fetchNs += t1 - t0
        tr.span(s"ChunkCodec.decode.$codec") {
          if (codec == "shard") ChunkIO.readChunk(zs, m, idx)
          else ChunkCodec.decodeTyped(ChunkCodec.decompress(bytes, m.compressor, n * m.dtype.size), m.dtype, n)
        }
        val (b, ns) = decode(codec)
        decode(codec) = (b + n.toLong * m.dtype.size, ns + System.nanoTime() - t1)
      }
    }
    (decode.toMap, (fetchBytes, fetchNs))
  }

  /** Drains the first `maxParts` partitions the scan of `cols` plans,
    * on this thread, through the connector's columnar reader:
    * (rows, ns). */
  def drain(spark: SparkSession, tr: Tracer, store: String, cols: Seq[String], maxParts: Int): (Long, Long) = {
    val df = Workload.load(spark, store, Map.empty).select(cols.map(org.apache.spark.sql.functions.col): _*)
    val scan = scanOf(df.queryExecution.optimizedPlan).get
    val batch = scan.toBatch
    val parts = batch.planInputPartitions().take(maxParts)
    val factory = batch.createReaderFactory()
    var rows = 0L
    val t0 = System.nanoTime()
    tr.span(s"ZarrColumnarReader.drain.${cols.length}") {
      parts.foreach { p =>
        val r = factory.createColumnarReader(p)
        try while (r.next()) rows += r.get().numRows() finally r.close()
      }
    }
    (rows, System.nanoTime() - t0)
  }
}
