package graft.examples

import java.net.InetSocketAddress
import java.nio.file.{Files, Path, Paths}

import com.sun.net.httpserver.HttpServer
import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Example: query a REMOTE Zarr store by URL — the Spark rebuild of the
  * reference's `examples/query_gcs.rs`
  * (/root/reference/examples/query_gcs.rs), which registers a public
  * cloud store and runs schema / filtered / statistics-only queries.
  *
  * Parameterized: pass any store URL as the first argument —
  * `gs://` / `s3a://` / `hdfs://` dispatch through the Hadoop
  * filesystem connector, `http(s)://` through the JDK HttpClient
  * (consolidated-metadata discovery). With no argument (this container
  * has no egress) it self-hosts the committed synthetic store over a
  * local HTTP server and queries THAT by URL, driving the same remote
  * code path end-to-end: one `.zmetadata` fetch resolves the schema,
  * chunk GETs stream per partition, and COUNT/MIN/MAX still answer
  * from metadata with zero chunk IO.
  *
  * Run: `tools/run.sh graft.examples.QueryRemote [storeUrl]`
  */
object QueryRemote {

  def main(args: Array[String]): Unit = {
    val spark = GraftSession(GraftSession.cpus(4))
    try {
      args.headOption match {
        case Some(url) => run(spark, url)
        case None =>
          val root = Paths.get("src/test/resources/zarr/synthetic_v2_consolidated.zarr")
          serveLocally(prepareStore(root)) { url => run(spark, url) }
      }
    } finally spark.stop()
  }

  private def run(spark: SparkSession, url: String): Unit = {
    println("Zarr-Spark Remote Example")
    println("=========================\n")
    println(s"Registering Zarr store from: $url\n")

    var t0 = System.nanoTime()
    spark.sql(s"CREATE TABLE era5 USING zarr OPTIONS (path '$url')")
    println(f"Table registered in ${(System.nanoTime() - t0) / 1e9}%.3f s\n")

    println("Schema:")
    spark.table("era5").printSchema()

    val coords = spark.table("era5").schema.fieldNames.take(2)
    val firstCoord = coords.head

    println("Filtered slice (coordinate pushdown prunes chunk GETs):")
    t0 = System.nanoTime()
    val slice = spark.sql(
      s"SELECT * FROM era5 WHERE $firstCoord = (SELECT MIN($firstCoord) FROM era5) LIMIT 10")
    slice.show()
    println(f"Query completed in ${(System.nanoTime() - t0) / 1e9}%.3f s\n")

    println("Statistics-only aggregate (COUNT/MIN/MAX, zero chunk IO):")
    t0 = System.nanoTime()
    spark.sql(
      s"SELECT COUNT(*) AS n, MIN($firstCoord) AS lo, MAX($firstCoord) AS hi FROM era5")
      .show()
    println(f"Answered from metadata in ${(System.nanoTime() - t0) / 1e9}%.3f s")
  }

  /** HTTP discovery needs consolidated metadata; if the fixture lacks
    * `.zmetadata`, read + rewrite it (with consolidation) to a temp
    * copy via the connector's own writer. */
  private def prepareStore(root: Path): Path =
    if (Files.exists(root.resolve(".zmetadata"))) root
    else {
      val v3 = "src/test/resources/zarr/synthetic_v3.zarr"
      val spark = SparkSession.active
      val out = Files.createTempDirectory("remote_example").resolve("store.zarr")
      spark.read.format("zarr").load(v3)
        .write.format("zarr").option("coords", "time,lon,lat")
        .option("chunkOuter", "1").mode("overwrite").save(out.toString)
      out
    }

  private def serveLocally(root: Path)(f: String => Unit): Unit = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/store.zarr", { exchange =>
      val rel = exchange.getRequestURI.getPath.stripPrefix("/store.zarr/")
      val p = root.resolve(rel)
      if (Files.isRegularFile(p)) {
        val bytes = Files.readAllBytes(p)
        val isHead = exchange.getRequestMethod == "HEAD"
        exchange.sendResponseHeaders(200, if (isHead) -1 else bytes.length.toLong)
        if (!isHead) exchange.getResponseBody.write(bytes)
      } else exchange.sendResponseHeaders(404, -1)
      exchange.close()
    })
    server.start()
    try f(s"http://127.0.0.1:${server.getAddress.getPort}/store.zarr")
    finally server.stop(0)
  }
}
