package graft.examples

import graft.GraftSession

/** Example: query the synthetic weather store with SQL — the Spark
  * rebuild of the reference's `examples/query_synthetic.rs`
  * (/root/reference/examples/query_synthetic.rs): schema printout,
  * sample rows, a filtered slice, per-day averages, and the
  * statistics-answered COUNT / coordinate bounds (which plan a
  * metadata-only scan — zero chunk IO, same behavior as the
  * reference's optimizer rules).
  *
  * Run: `tools/run.sh graft.examples.QuerySynthetic [store-path]`
  */
object QuerySynthetic {
  def main(args: Array[String]): Unit = {
    val store = args.headOption.getOrElse(
      "src/test/resources/zarr/synthetic_v3.zarr")
    val spark = GraftSession(GraftSession.cpus(4))

    val df = spark.read.format("zarr").load(store)
    println("Synthetic Weather Data Schema:")
    df.schema.fields.foreach(f => println(s"  ${f.name}: ${f.dataType.simpleString}"))
    println(s"Total rows: ${df.count()}")

    df.createOrReplaceTempView("synthetic")
    def run(title: String, sql: String): Unit = {
      println(s"\n$title")
      spark.sql(sql).show(10, truncate = false)
    }

    run("Sample data (first 10 rows):",
      "SELECT * FROM synthetic LIMIT 10")
    run("Filtered data (temperature > 5):",
      "SELECT time, lat, lon, temperature FROM synthetic WHERE temperature > 5 LIMIT 10")
    run("Average temperature per day:",
      "SELECT time, AVG(temperature) AS avg_temp FROM synthetic GROUP BY time ORDER BY time")
    run("Total rows (statistics-answered, no data scan):",
      "SELECT COUNT(temperature) AS total FROM synthetic")
    run("Coordinate bounds (statistics-answered, no data scan):",
      "SELECT MIN(lat) AS lat_min, MAX(lat) AS lat_max, MIN(lon) AS lon_min, MAX(lon) AS lon_max FROM synthetic")
    run("Range slice with pushdown (time BETWEEN 2 AND 4, lat >= 7):",
      "SELECT time, SUM(temperature) AS sum_temp FROM synthetic WHERE time BETWEEN 2 AND 4 AND lat >= 7 GROUP BY time ORDER BY time")

    spark.stop()
  }
}
