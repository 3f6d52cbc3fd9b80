package graft

import java.net.InetSocketAddress
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import com.sun.net.httpserver.HttpServer
import org.scalatest.funsuite.AnyFunSuite

/** HTTP(S) Zarr backend: a consolidated-metadata v2 store served by a
  * plain file HTTP server reads identically to the local store. Plain
  * HTTP cannot list directories, so discovery rides entirely on
  * `.zmetadata` — the object-store-friendly path. */
class ZarrHttpSpec extends AnyFunSuite {
  import TestSession._

  /** Copy the v2 fixture and add consolidated metadata (all arrays). */
  private def consolidatedCopy(): Path = {
    val src = Paths.get("src/test/resources/zarr/synthetic_v2.zarr")
    val dst = Files.createTempDirectory("http_zarr")
    Files.walk(src).forEach { p =>
      val t = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    }
    val names = Seq("lat", "lon", "time", "temperature", "humidity")
    val entries = names.map { n =>
      val z = new String(Files.readAllBytes(dst.resolve(n).resolve(".zarray")))
      s""""$n/.zarray": $z"""
    }.mkString(",")
    Files.write(dst.resolve(".zmetadata"),
      s"""{"zarr_consolidated_format": 1, "metadata": {$entries}}""".getBytes)
    dst
  }

  private def withServer[A](root: Path)(f: String => A): A = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", { exchange =>
      val rel = exchange.getRequestURI.getPath.stripPrefix("/")
      val file = root.resolve(rel)
      if (Files.isRegularFile(file)) {
        val bytes = Files.readAllBytes(file)
        val isHead = exchange.getRequestMethod == "HEAD"
        exchange.sendResponseHeaders(200, if (isHead) -1 else bytes.length.toLong)
        if (!isHead) exchange.getResponseBody.write(bytes)
      } else exchange.sendResponseHeaders(404, -1)
      exchange.close()
    })
    server.start()
    try f(s"http://127.0.0.1:${server.getAddress.getPort}")
    finally server.stop(0)
  }

  test("http store reads identically to the local store") {
    val root = consolidatedCopy()
    withServer(root) { url =>
      val http = spark.read.format("zarr").load(url)
      val local = spark.read.format("zarr").load(root.toString)
      assert(http.schema == local.schema)
      val a = http.orderBy("time", "lon", "lat").collect().map(_.toSeq).toSeq
      val b = local.orderBy("time", "lon", "lat").collect().map(_.toSeq).toSeq
      assert(a == b)
      // pushdown composes: range filter over http
      assert(http.filter(org.apache.spark.sql.functions.col("time").between(2, 4))
        .count() == 300)
    }
  }

  /** Copy the v3 fixture and embed v3 consolidated metadata (all child
    * zarr.json docs under root `consolidated_metadata.metadata`). */
  private def consolidatedV3Copy(): Path = {
    val src = Paths.get("src/test/resources/zarr/synthetic_v3.zarr")
    val dst = Files.createTempDirectory("http_zarr_v3")
    Files.walk(src).forEach { p =>
      val t = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    }
    val names = Seq("lat", "lon", "time", "temperature", "humidity")
    val entries = names.map { n =>
      val z = new String(Files.readAllBytes(dst.resolve(n).resolve("zarr.json")))
      s""""$n": $z"""
    }.mkString(",")
    val root = new String(Files.readAllBytes(dst.resolve("zarr.json"))).trim
    val merged = root.stripSuffix("}") +
      s""","consolidated_metadata":{"metadata":{$entries}}}"""
    Files.write(dst.resolve("zarr.json"), merged.getBytes)
    dst
  }

  test("v3 consolidated metadata works over http (no listing possible)") {
    val root = consolidatedV3Copy()
    withServer(root) { url =>
      val http = spark.read.format("zarr").load(url)
      val local = spark.read.format("zarr")
        .load("src/test/resources/zarr/synthetic_v3.zarr")
      assert(http.schema == local.schema)
      assert(http.count() == 700)
      assert(http.agg(org.apache.spark.sql.functions.sum("temperature"))
        .collect().head.getLong(0) ==
        local.agg(org.apache.spark.sql.functions.sum("temperature"))
          .collect().head.getLong(0))
    }
  }

  test("http store without consolidated metadata fails with guidance") {
    val src = Paths.get("src/test/resources/zarr/synthetic_v2.zarr")
    withServer(src) { url =>
      val ex = intercept[Exception] {
        spark.read.format("zarr").load(url).collect()
      }
      def chain(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
      assert(chain(ex).exists(_.contains("consolidated")))
    }
  }

  test("kerchunk refs ranged into one blob read right from a server that ignores Range") {
    // every chunk is a [url, offset, length] range into one blob behind
    // 16 junk bytes; the spec's server answers each ranged GET with 200
    // and the WHOLE blob, as HTTP allows
    val src = Paths.get("src/test/resources/zarr/synthetic_v2.zarr")
    val root = Files.createTempDirectory("http_refs")
    val files = Files.walk(src).filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path])
      .sortBy(_.toString)
    withServer(root) { url =>
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val doc = mapper.createObjectNode()
      doc.put("version", 1)
      val refs = doc.putObject("refs")
      val blob = new java.io.ByteArrayOutputStream()
      blob.write(Array.fill[Byte](16)(0x5a))
      files.foreach { f =>
        val key = src.relativize(f).toString
        val bytes = Files.readAllBytes(f)
        if (f.getFileName.toString.startsWith(".")) refs.put(key, new String(bytes, "UTF-8"))
        else {
          refs.putArray(key).add(s"$url/blob.bin").add(blob.size().toLong).add(bytes.length.toLong)
          blob.write(bytes)
        }
      }
      Files.write(root.resolve("blob.bin"), blob.toByteArray)
      Files.write(root.resolve("refs.json"), mapper.writeValueAsBytes(doc))
      val http = spark.read.format("zarr").load(s"$url/refs.json")
      val local = spark.read.format("zarr").load(src.toString)
      assert(http.schema == local.schema)
      assert(http.orderBy("time", "lon", "lat").collect().map(_.toSeq).toSeq ==
        local.orderBy("time", "lon", "lat").collect().map(_.toSeq).toSeq)
    }
  }
}
