package graft.examples

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.GraftSession

/** Dev probe (not a declared query): bucket the streaming family's
  * fixed cost — stateless source→sink floor vs stateful machinery —
  * so the OPTIMIZATION/SCALE notes carry measured numbers instead of
  * attribution guesses. Run:
  * `SPARK_GRAFT_CPUS=32 tools/run.sh graft.examples.StProfile <sfdir>` */
object StProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession(GraftSession.cpus(4))
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema

    def streamDir(dir: String): String = {
      import java.nio.file.{Files, LinkOption, Paths}
      val d = Paths.get(System.getProperty("java.io.tmpdir"), "graft_stprofile")
      Files.createDirectories(d)
      val link = d.resolve("events.parquet")
      if (Files.exists(link, LinkOption.NOFOLLOW_LINKS)) Files.delete(link)
      Files.createSymbolicLink(link, Paths.get(dir, "events.parquet").toAbsolutePath)
      d.toString
    }

    def timed(name: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime(); f
      println(f"[stprofile] $name%-28s ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    def runStream(name: String, stateful: Boolean, mode: OutputMode): Unit = {
      val s = spark
      val prev = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "4")
      try {
        val src = graft.operators.Tables.normalizeTs(
          s.readStream.schema(schema).parquet(streamDir(sfDir)))
        val df =
          if (stateful)
            src.withWatermark("ts", "1 hour")
              .groupBy(window(col("ts"), "1 hour")).agg(count(lit(1)).as("n"))
          else src.select(col("event_id"), col("user_id"))
        val q = df.writeStream.outputMode(mode).format("memory")
          .queryName(name).start()
        try q.processAllAvailable() finally q.stop()
        s.table(name).count()
      } finally s.conf.set("spark.sql.shuffle.partitions", prev)
    }
    // batch floor: same scan + projection, no streaming machinery
    timed("batch scan+project") {
      graft.operators.Tables.load(spark, sfDir, "events")
        .select(col("event_id"), col("user_id")).count()
    }
    (1 to 3).foreach { i =>
      timed(s"stateless stream #$i") { runStream(s"sl$i", stateful = false, OutputMode.Append()) }
    }
    (1 to 3).foreach { i =>
      timed(s"stateful agg stream #$i") { runStream(s"sf$i", stateful = true, OutputMode.Complete()) }
    }
    spark.stop()
  }
}
