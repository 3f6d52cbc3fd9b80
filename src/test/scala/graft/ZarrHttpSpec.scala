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

  /** GET requests per path that a counting [[withServer]] served. */
  private final class Gets {
    private val byPath = new java.util.concurrent.ConcurrentHashMap[String, Int]()
    def add(rel: String): Unit = { byPath.merge(rel, 1, _ + _); () }
    def apply(rel: String): Int = byPath.getOrDefault(rel, 0)
  }

  /** Serve `root`'s files. With `gets`, count each GET there and send
    * what a stamping server sends: Last-Modified (the file's mtime)
    * and, on HEAD, Content-Length. */
  private def withServer[A](root: Path, gets: Option[Gets] = None)(f: String => A): A = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", { exchange =>
      val rel = exchange.getRequestURI.getPath.stripPrefix("/")
      val file = root.resolve(rel)
      if (Files.isRegularFile(file)) {
        val bytes = Files.readAllBytes(file)
        val isHead = exchange.getRequestMethod == "HEAD"
        gets.foreach { g =>
          if (!isHead) g.add(rel)
          val h = exchange.getResponseHeaders
          h.set("Last-Modified", java.time.format.DateTimeFormatter.RFC_1123_DATE_TIME.format(
            Files.getLastModifiedTime(file).toInstant.atZone(java.time.ZoneOffset.UTC)))
          if (isHead) h.set("Content-Length", bytes.length.toString)
        }
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

  test("a load reads the store's metadata once; a user schema still reads") {
    val root = consolidatedCopy()
    val gets = new Gets
    withServer(root, Some(gets)) { url =>
      // readStore fetches every coordinate array; inferSchema and
      // getTable share one read
      val df = spark.read.format("zarr").load(url)
      assert(gets("time/0") == 1 && gets("lat/0") == 1, (gets("time/0"), gets("lat/0")))
      // per load, not per JVM: the next load reads it again
      val again = spark.read.format("zarr").load(url)
      assert(gets("time/0") == 2 && gets("lat/0") == 2, (gets("time/0"), gets("lat/0")))
      val supplied = spark.read.format("zarr").schema(df.schema).load(url)
      assert(supplied.schema == df.schema && gets("time/0") == 3)
      assert(supplied.count() == 700 && again.count() == 700)
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

  /** A v1 refs document over the v2 fixture copied under `root/src`:
    * metadata inline, each chunk a whole-object `[url]` ref. */
  private def wholeRefs(root: Path, url: String, vars: Set[String]): Array[Byte] = {
    val src = Paths.get("src/test/resources/zarr/synthetic_v2.zarr")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val doc = mapper.createObjectNode()
    doc.put("version", 1)
    val refs = doc.putObject("refs")
    Files.walk(src).filter(Files.isRegularFile(_)).forEach { f =>
      val key = src.relativize(f).toString
      val copy = root.resolve("src").resolve(key)
      Files.createDirectories(copy.getParent)
      Files.copy(f, copy, StandardCopyOption.REPLACE_EXISTING)
      if (!key.contains("/") || vars(key.takeWhile(_ != '/'))) {
        if (f.getFileName.toString.startsWith(".")) refs.put(key, new String(Files.readAllBytes(f), "UTF-8"))
        else refs.putArray(key).add(s"$url/src/$key")
      }
    }
    mapper.writeValueAsBytes(doc)
  }

  test("a kerchunk refs document is read once per version over HTTP") {
    val root = Files.createTempDirectory("http_refs_memo")
    val gets = new Gets
    withServer(root, Some(gets)) { url =>
      val all = Set("lat", "lon", "time", "temperature", "humidity")
      val doc = root.resolve("refs.json")
      Files.write(doc, wholeRefs(root, url, all))
      val df = spark.read.format("zarr").load(s"$url/refs.json")
      assert(df.filter(org.apache.spark.sql.functions.col("time").between(2, 4)).count() == 300)
      assert(gets("refs.json") == 1)
      // a rewrite with different content (and a later Last-Modified)
      // is a new version: the next load reads it
      Files.write(doc, wholeRefs(root, url, all - "humidity"))
      Files.setLastModifiedTime(doc, java.nio.file.attribute.FileTime.fromMillis(
        Files.getLastModifiedTime(doc).toMillis + 60000))
      val again = spark.read.format("zarr").load(s"$url/refs.json")
      assert(!again.columns.contains("humidity") && df.columns.contains("humidity"))
      assert(again.count() == 700)
      assert(gets("refs.json") == 2)
    }
  }

  test("sizing a whole-object kerchunk ref issues no GET") {
    val root = Files.createTempDirectory("http_refs_size")
    val gets = new Gets
    withServer(root, Some(gets)) { url =>
      Files.write(root.resolve("refs.json"),
        wholeRefs(root, url, Set("lat", "lon", "time", "temperature", "humidity")))
      val store = graft.sources.zarr.KerchunkStore(s"$url/refs.json")
      assert(store.sizeOf("temperature/3.0.0").contains(
        Files.size(root.resolve("src/temperature/3.0.0"))))
      assert(gets("src/temperature/3.0.0") == 0)
    }
  }
}
