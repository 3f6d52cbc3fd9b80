package graft.examples

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.GraftSession

/** Example: query an ERA5-shaped reanalysis grid — the Spark rebuild
  * of the reference's `examples/query_era5.rs`
  * (/root/reference/examples/query_era5.rs): a 3(time) × 2(hybrid) ×
  * 721(lat) × 1440(lon) ≈ 6.23M-row float32 store with time-major
  * chunks, queried with coordinate-equality and range pushdown. The
  * store is generated locally (the reference downloads an ARCO-ERA5
  * subset; this container has no egress), with the same shape and
  * chunking, so the pushdown arithmetic — 1,038,240 of 6,229,440 rows
  * ≈ 83.3% reduction for `time = t AND hybrid = h` — matches the
  * reference's logged numbers exactly.
  *
  * Run: `tools/run.sh graft.examples.QueryEra5`
  */
object QueryEra5 {

  private val T = 3; private val H = 2; private val LAT = 721; private val LON = 1440

  /** Build the ERA5-shaped store (deterministic synthetic values). */
  def buildStore(): String = {
    val base = Files.createTempDirectory("era5_example").toString
    def writeJson(rel: String, s2: String): Unit = {
      val p = Paths.get(base, rel)
      Files.createDirectories(p.getParent)
      Files.write(p, s2.getBytes)
    }
    writeJson(".zgroup", """{"zarr_format":2}""")
    def meta(shape: Seq[Int], chunks: Seq[Int], dtype: String) =
      s"""{"zarr_format":2,"shape":[${shape.mkString(",")}],
          "chunks":[${chunks.mkString(",")}],"dtype":"$dtype","fill_value":0,
          "order":"C","filters":null,"dimension_separator":".","compressor":null}"""
    def writeCoord(name: String, values: Seq[Double], dtype: String): Unit = {
      writeJson(s"$name/.zarray", meta(Seq(values.length), Seq(values.length), dtype))
      val buf = ByteBuffer.allocate(values.length * 8).order(ByteOrder.LITTLE_ENDIAN)
      if (dtype == "<i8") values.foreach(v => buf.putLong(v.toLong))
      else values.foreach(buf.putDouble)
      Files.write(Paths.get(base, name, "0"), buf.array())
    }
    writeCoord("time", Seq(1095744.0, 1095745.0, 1095746.0), "<i8")
    writeCoord("hybrid", Seq(135.0, 136.0), "<f8")
    writeCoord("latitude", (0 until LAT).map(i => 90.0 - i * 0.25), "<f8")
    writeCoord("longitude", (0 until LON).map(i => i * 0.25), "<f8")
    writeJson("temperature/.zarray", meta(Seq(T, H, LAT, LON), Seq(1, 1, LAT, LON), "<f4"))
    for (t <- 0 until T; h <- 0 until H) {
      val buf = ByteBuffer.allocate(LAT * LON * 4).order(ByteOrder.LITTLE_ENDIAN)
      var i = 0
      while (i < LAT * LON) { buf.putFloat(((t * 7 + h * 3 + i) % 1000).toFloat); i += 1 }
      Files.write(Paths.get(base, "temperature", s"$t.$h.0.0"), buf.array())
    }
    base
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession(GraftSession.cpus(4))

    println("Generating ERA5-shaped store (3 × 2 × 721 × 1440)…")
    val store = buildStore()
    val df = spark.read.format("zarr").load(store)

    println(s"Rows (statistics-answered): ${df.count()}")

    def timed[A](title: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"$title — ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }

    val slab = timed("Coordinate-equality slice (time=1095745, hybrid=136): " +
        "1,038,240 of 6,229,440 rows (83.3% reduction)") {
      df.filter(col("time") === 1095745L && col("hybrid") === 136.0).count()
    }
    println(s"  rows read: $slab")

    val band = timed("Range pushdown (latitude BETWEEN 0 AND 45):") {
      df.filter(col("latitude") >= 0.0 && col("latitude") <= 45.0)
        .groupBy("time").agg(avg("temperature").as("avg_t")).count()
    }
    println(s"  groups: $band")

    timed("Full-scan aggregate (6.23M rows):") {
      df.groupBy("time", "hybrid").agg(avg("temperature")).collect()
    }

    spark.stop()
  }
}
