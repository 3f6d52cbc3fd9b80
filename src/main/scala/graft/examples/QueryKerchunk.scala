package graft.examples

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.GraftSession

/** Example: query archival data through a kerchunk / fsspec
  * ReferenceFileSystem document — the reference's roadmap
  * "icechunk/kerchunk" row (/root/reference/README.md:289-337) made
  * concrete. A refs JSON maps Zarr store keys to inline metadata and
  * byte ranges inside other files, so petabyte netCDF/HDF5 archives
  * query as virtual Zarr with zero data rewriting.
  *
  * With no argument this builds a refs document over the committed
  * synthetic v2 store (chunk files referenced by byte range, metadata
  * inline) and queries THAT; pass a refs-JSON path/URL as the first
  * argument to query a real reference set.
  *
  * Run: `tools/run.sh graft.examples.QueryKerchunk [refs.json]`
  */
object QueryKerchunk {

  def main(args: Array[String]): Unit = {
    val spark = GraftSession(GraftSession.cpus(4))
    try {
      val refs = args.headOption.getOrElse(buildRefs())
      println("Zarr-Spark Kerchunk Example")
      println("===========================\n")
      println(s"Reading reference set: $refs\n")

      var t0 = System.nanoTime()
      val df = spark.read.format("zarr").load(refs)
      println("Schema (from inline refs metadata):")
      df.printSchema()
      println(f"Resolved in ${(System.nanoTime() - t0) / 1e9}%.3f s\n")

      val coord = df.schema.fieldNames.head
      println("Filtered aggregate (ranged reads into the archive):")
      t0 = System.nanoTime()
      df.filter(df(coord) >= 3).groupBy(coord).count().orderBy(coord).show()
      println(f"Query completed in ${(System.nanoTime() - t0) / 1e9}%.3f s")
    } finally spark.stop()
  }

  /** Build a refs document over the committed v2 store: metadata
    * inline, every chunk as a `[url, offset, length]` range. */
  private def buildRefs(): String = {
    val src = Paths.get("src/test/resources/zarr/synthetic_v2.zarr")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    root.put("version", 1)
    val refs = root.putObject("refs")
    val walk = Files.walk(src)
    try walk.filter(Files.isRegularFile(_)).iterator().asScala.foreach { p =>
      val key = src.relativize(p).toString.replace(java.io.File.separatorChar, '/')
      if (p.getFileName.toString.startsWith("."))
        refs.put(key,
          new String(Files.readAllBytes(p), java.nio.charset.StandardCharsets.UTF_8))
      else {
        val arr = refs.putArray(key)
        arr.add(p.toAbsolutePath.toString); arr.add(0L); arr.add(Files.size(p))
      }
    } finally walk.close()
    val out = Files.createTempDirectory("kerchunk_example").resolve("refs.json")
    Files.write(out, mapper.writeValueAsBytes(root))
    out.toString
  }
}
