package graft.examples

import org.apache.spark.sql.functions._

import graft.GraftSession

/** Example: the time-series ingest pairing end to end — one job
  * appends arriving time slabs to a Zarr store (outer-dimension
  * append: whole new chunks, metadata edited last), while a follower
  * streams the same store with `readStream` (offset = outer extent)
  * and maintains a running per-station aggregate. This is the
  * Structured Streaming extension of the reference's append roadmap;
  * the consistency contract that makes the uncoordinated follower
  * safe is IO-level (chunks-before-metadata, atomic per-object
  * writes, extent-tolerant decoders).
  *
  * Run: `tools/run.sh graft.examples.IngestFollow [store-path]`
  */
object IngestFollow {
  def main(args: Array[String]): Unit = {
    val store = args.headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("ingest").resolve("w.zarr").toString)
    val spark = GraftSession(GraftSession.cpus(4))
    import spark.implicits._

    def slab(ts: Range): org.apache.spark.sql.DataFrame =
      ts.flatMap(t => (0 until 4).map(st => (t.toLong, st.toLong, t * 1.5 + st)))
        .toDF("time", "station", "reading")

    // bootstrap: first two time steps
    slab(0 until 2).write.format("zarr")
      .option("coords", "time,station").option("chunkOuter", "2")
      .option("compressor", "zstd").mode("overwrite").save(store)
    println(s"store bootstrapped at $store (time extent 2)")

    // follower: running mean reading per station, updated per batch
    val follower = spark.readStream.format("zarr").load(store)
      .groupBy("station")
      .agg(count(lit(1)).as("n"), avg("reading").as("mean_reading"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("follow").start()
    follower.processAllAvailable()

    // ingest: three more arrivals of two time steps each
    for (batch <- 1 to 3) {
      slab(batch * 2 until batch * 2 + 2).write.format("zarr")
        .mode("append").save(store)
      follower.processAllAvailable()
      val n = spark.table("follow").agg(sum("n")).collect().head.getLong(0)
      println(s"after append #$batch: follower has aggregated $n readings")
      spark.table("follow").orderBy("station").show()
    }
    follower.stop()
    spark.stop()
  }
}
