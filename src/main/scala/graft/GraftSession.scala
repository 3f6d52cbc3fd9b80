package graft

import org.apache.spark.sql.SparkSession

/** The one Spark session every graft main runs in: the bench, the
  * oracle dump, the fuzz lanes, the REPL and the examples all plan
  * with the same settings, so a fuzz lane or a plan dump tests what
  * the bench times.
  *
  * `SPARK_GRAFT_CPUS` sets the `local[N]` worker count (each main
  * passes its own default). `SPARK_GRAFT_SHUFFLE` overrides the
  * shuffle-partition count, which defaults to the worker count. The
  * default is right at gate scale, but partition count must track
  * DATA volume, not core count: at sf10p the minhash band join's
  * 32-partition shuffle put ~0.5 GB single allocations in 32
  * concurrent tasks and OOM'd a 32 GB heap. On a real cluster this is
  * the spark.sql.shuffle.partitions sizing every deployment tunes.
  *
  * The master is Spark's own `spark.master` when that is set
  * (spark-submit, `-Dspark.master=…`), else `local[cpus]`. */
object GraftSession {

  /** `SPARK_GRAFT_CPUS` as the `local[N]` worker count (`default` when
    * unset). It lands in the master URL and as a bare number in the
    * bench's headline JSON, so anything but a positive integer is
    * refused up front. */
  def cpusOf(raw: Option[String], default: Int = 4): Int =
    positive("SPARK_GRAFT_CPUS", raw, default)

  /** The worker count from the environment, `default` when unset. */
  def cpus(default: Int): Int = cpusOf(sys.env.get("SPARK_GRAFT_CPUS"), default)

  private def positive(name: String, raw: Option[String], default: Int): Int = raw.fold(default) { s =>
    s.trim.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
      s"$name must be a positive integer, got '$s'"))
  }

  /** Every setting the session is built with, for `cpus` workers and
    * the raw `SPARK_GRAFT_SHUFFLE` value. Events' TIMESTAMP(NANOS)
    * columns need `nanosAsLong`; oracle parity needs UTC. */
  def settings(cpus: Int, shuffle: Option[String]): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> positive("SPARK_GRAFT_SHUFFLE", shuffle, cpus).toString,
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.extensions" -> "graft.GraftExtensions",
    "spark.sql.sources.v2.bucketing.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.ui.enabled" -> "false")

  def apply(cpus: Int): SparkSession = {
    val builder = SparkSession.builder().config(settings(cpus, sys.env.get("SPARK_GRAFT_SHUFFLE")).toMap)
    if (!sys.props.contains("spark.master")) builder.master(s"local[$cpus]")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
