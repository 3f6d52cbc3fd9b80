package graft.sources.zarr

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** Storage abstraction for a Zarr store: directory listing + file
  * reads, with implementations for plain local paths (java.nio, the
  * fast path) and any Hadoop FileSystem URI (`file://`, `hdfs://`,
  * `s3a://`, `gs://` …) — the rebuild of the reference's storage
  * backend dispatch (/root/reference/src/reader/storage.rs:63-188),
  * except Spark's Hadoop connector ecosystem supplies every remote
  * protocol for free.
  *
  * Instances are cheap descriptors (a path string); filesystem handles
  * are opened lazily, so a ZarrStore can cross the driver→executor
  * boundary inside an InputPartition.
  */
/** A store/document that IS recognizably Zarr-shaped but uses a
  * feature this engine does not implement. Distinct from
  * UnsupportedOperationException so existence probes (`isStore`) don't
  * misread it as "no store here" — it must surface to the user. */
final class UnsupportedZarrFeatureException(msg: String) extends RuntimeException(msg)

sealed trait ZarrStore extends Serializable {
  def path: String
  /** Names of immediate subdirectories (candidate arrays). */
  def listDirs(): Seq[String]
  /** Full contents of `rel` (relative to the store root), or None if
    * the file does not exist (absent chunk ⇒ fill_value). */
  def readBytes(rel: String): Option[Array[Byte]]
  /** A read-only buffer over `rel` — backends that can memory-map
    * override this to avoid the heap copy; the default is a plain
    * read. Each call returns a fresh buffer, so callers may move its
    * position, but must never write to it: it may map the file. */
  def mapBytes(rel: String): Option[java.nio.ByteBuffer] =
    readBytes(rel).map(java.nio.ByteBuffer.wrap)
  /** Size in bytes of `rel` if it exists (IO accounting). */
  def sizeOf(rel: String): Option[Long]
  /** Write the full contents of `rel`, creating parent directories as
    * needed (sink path — works for any writable backend, so
    * `df.write.format("zarr")` targets hdfs://, s3a://, … the same way
    * it targets local paths). */
  def writeBytes(rel: String, data: Array[Byte]): Unit
  /** Rename this store's root directory to `destPath` (same
    * filesystem). Used by the sink's write-to-temp-then-swap commit. */
  def moveTo(destPath: String): Unit
  /** Remove the store directory and everything under it (sink
    * overwrite). No-op if absent. Also drops any decoded chunks cached
    * for this path in this JVM. */
  def deleteRecursively(): Unit
  /** Create `rel` with `data` ONLY if it does not already exist: true
    * if this caller created it, false if it was already present. The
    * append lock's primitive — atomic where the backend can promise it
    * (local CREATE_NEW, HDFS create-no-overwrite); the default is a
    * best-effort check-then-create for object stores without an atomic
    * conditional put, which narrows but cannot close the race. */
  def createExclusive(rel: String, data: Array[Byte]): Boolean = {
    if (readBytes(rel).isDefined) false
    else { writeBytes(rel, data); true }
  }
  /** Delete the single object `rel` if present (lock release). */
  def deleteObject(rel: String): Unit
}

object ZarrStore {
  /** Scheme dispatch: `http(s)://` uses the JDK HttpClient (read-only,
    * consolidated-metadata stores — plain HTTP cannot list), other
    * non-`file` schemes go through Hadoop; plain paths and `file:`
    * use java.nio directly. */
  def open(pathStr: String): ZarrStore = {
    val schemeEnd = pathStr.indexOf("://")
    // A regular FILE (or a remote *.json object) is a kerchunk
    // reference set, not a store directory.
    if (pathStr.startsWith("file:")) {
      // strip the URI form (DDL paths arrive as file:/...) and
      // re-dispatch through the local rules, so a parquet-refs dir
      // registers the same via CREATE TABLE as via spark.read.load
      val p = Paths.get(java.net.URI.create(pathStr)).toString
      if (Files.isRegularFile(Paths.get(p))) KerchunkStore(p)
      else if (isParquetRefsDir(p)) KerchunkParquetStore(p.stripSuffix("/"))
      else LocalStore(p)
    } else if (pathStr.startsWith("http://") || pathStr.startsWith("https://")) {
      if (pathStr.endsWith(".json")) KerchunkStore(pathStr)
      else HttpStore(pathStr.stripSuffix("/"))
    } else if (schemeEnd > 0) {
      if (pathStr.endsWith(".json")) KerchunkStore(pathStr)
      else if (pathStr.stripSuffix("/").endsWith(".parq") ||
               pathStr.stripSuffix("/").endsWith(".refs"))
        KerchunkParquetStore(pathStr.stripSuffix("/"))
      else HadoopStore(pathStr)
    } else if (Files.isRegularFile(Paths.get(pathStr))) KerchunkStore(pathStr)
    else if (isParquetRefsDir(pathStr)) KerchunkParquetStore(pathStr.stripSuffix("/"))
    else LocalStore(pathStr)
  }

  /** A kerchunk PARQUET refs directory (fsspec LazyReferenceMapper
    * layout): has `.zmetadata` carrying a `record_size`, and none of a
    * real store root's own metadata objects (`.zgroup`/`zarr.json`) —
    * a consolidated real store has those, so the two cannot collide.
    * Local-path only (one small read at open); remote parquet-refs
    * sets dispatch on the conventional `.parq`/`.refs` dir suffix. */
  private def isParquetRefsDir(pathStr: String): Boolean = {
    val root = Paths.get(pathStr)
    val zm = root.resolve(".zmetadata")
    Files.isDirectory(root) && Files.isRegularFile(zm) &&
      !Files.exists(root.resolve(".zgroup")) &&
      !Files.exists(root.resolve("zarr.json")) &&
      (try new String(Files.readAllBytes(zm),
        java.nio.charset.StandardCharsets.UTF_8).contains("\"record_size\"")
       catch { case _: Exception => false })
  }
}

final case class LocalStore(path: String) extends ZarrStore {
  @transient private lazy val root: Path = Paths.get(path)

  override def listDirs(): Seq[String] = {
    if (!Files.isDirectory(root))
      throw new IllegalArgumentException(s"Not a directory: $path")
    val s = Files.list(root)
    try s.iterator().asScala.filter(Files.isDirectory(_))
      .map(_.getFileName.toString).toSeq.sorted
    finally s.close()
  }

  override def readBytes(rel: String): Option[Array[Byte]] = {
    val p = root.resolve(rel)
    if (Files.exists(p)) Some(Files.readAllBytes(p)) else None
  }

  /** Memory-mapped read (the reference's "zero-copy reads with
    * memory-mapped I/O" roadmap row, README.md:315): the decoder
    * reads straight from the page cache, skipping the heap copy
    * `readBytes` makes. Only worthwhile for UNCOMPRESSED chunks —
    * compressed payloads are consumed once by the decompressor.
    * Small files take the plain read: mappings unmap only at GC, so
    * a scan of tens of thousands of tiny chunks could exhaust
    * vm.max_map_count (and an mmap syscall costs more than a small
    * read anyway) — mapping pays off only for multi-MB chunks. */
  override def mapBytes(rel: String): Option[java.nio.ByteBuffer] = {
    val p = root.resolve(rel)
    if (!Files.exists(p)) return None
    if (Files.size(p) < (1L << 20)) return readBytes(rel).map(java.nio.ByteBuffer.wrap)
    val ch = java.nio.channels.FileChannel.open(p,
      java.nio.file.StandardOpenOption.READ)
    try Some(ch.map(java.nio.channels.FileChannel.MapMode.READ_ONLY, 0, ch.size()))
    finally ch.close() // the mapping outlives the channel
  }

  override def sizeOf(rel: String): Option[Long] = {
    val p = root.resolve(rel)
    if (Files.exists(p)) Some(Files.size(p)) else None
  }

  /** Atomic per-object write (temp sibling + rename): a reader racing
    * an append/overwrite sees the old bytes or the new bytes, never a
    * torn file — metadata JSON and rewritten coordinate chunks rely on
    * this. */
  override def writeBytes(rel: String, data: Array[Byte]): Unit = {
    val p = root.resolve(rel)
    Files.createDirectories(p.getParent)
    val tmp = p.resolveSibling(p.getFileName.toString +
      s".__tmp_${java.util.UUID.randomUUID().toString.take(8)}")
    Files.write(tmp, data)
    try Files.move(tmp, p, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    catch { case _: java.nio.file.AtomicMoveNotSupportedException =>
      Files.move(tmp, p, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }

  override def moveTo(destPath: String): Unit = {
    // normalize through the dispatcher: `file:` URIs (e.g. from
    // V2SessionCatalog table specs) must resolve to a local path, not
    // a literal "./file:" directory
    val dest = ZarrStore.open(destPath) match {
      case LocalStore(p) => Paths.get(p)
      case other => throw new IllegalArgumentException(
        s"Cannot move local store $path to non-local target $destPath")
    }
    Option(dest.getParent).foreach(Files.createDirectories(_))
    Files.move(root, dest)
    // cache keys hold the NORMALIZED path (ZarrStore.open(...).path)
    ChunkIO.invalidatePath(dest.toString)
  }

  override def deleteRecursively(): Unit = {
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .iterator().asScala.foreach(Files.delete)
      finally s.close()
    }
    ChunkIO.invalidatePath(path)
  }

  /** CREATE_NEW is a single atomic syscall: exactly one of two racing
    * creators wins, the loser gets FileAlreadyExistsException. */
  override def createExclusive(rel: String, data: Array[Byte]): Boolean = {
    val p = root.resolve(rel)
    Files.createDirectories(p.getParent)
    try { Files.write(p, data, java.nio.file.StandardOpenOption.CREATE_NEW); true }
    catch { case _: java.nio.file.FileAlreadyExistsException => false }
  }

  override def deleteObject(rel: String): Unit = {
    Files.deleteIfExists(root.resolve(rel)); ()
  }
}

final case class HadoopStore(path: String) extends ZarrStore {
  import org.apache.hadoop.fs.{FileSystem, Path => HPath}

  @transient private lazy val root = new HPath(path)
  @transient private lazy val fs: FileSystem =
    root.getFileSystem(new org.apache.hadoop.conf.Configuration())

  override def listDirs(): Seq[String] = {
    if (!fs.getFileStatus(root).isDirectory)
      throw new IllegalArgumentException(s"Not a directory: $path")
    fs.listStatus(root).filter(_.isDirectory).map(_.getPath.getName).toSeq.sorted
  }

  override def readBytes(rel: String): Option[Array[Byte]] = {
    val p = new HPath(root, rel)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(org.apache.commons.io.IOUtils.toByteArray(in)) finally in.close()
    }
  }

  override def sizeOf(rel: String): Option[Long] = {
    val p = new HPath(root, rel)
    if (fs.exists(p)) Some(fs.getFileStatus(p).getLen) else None
  }

  /** Write-then-rename so a racing reader never sees a torn object.
    * `FileContext.rename(OVERWRITE)` replaces the destination in one
    * atomic step on HDFS (plain `FileSystem.rename` refuses an
    * existing destination, and delete-then-rename would leave a
    * window where the object is ABSENT); best-effort on object
    * stores, whose PUTs are already all-or-nothing through the
    * connector. */
  override def writeBytes(rel: String, data: Array[Byte]): Unit = {
    val dest = new HPath(root, rel)
    val tmp = new HPath(root,
      rel + s".__tmp_${java.util.UUID.randomUUID().toString.take(8)}")
    val out = fs.create(tmp, true) // creates parent dirs
    try out.write(data) finally out.close()
    try
      org.apache.hadoop.fs.FileContext.getFileContext(fs.getUri, fs.getConf)
        .rename(tmp, dest, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    catch {
      // schemes without an AbstractFileSystem binding signal it via
      // UnsupportedFileSystemException (an IOException subclass)
      case _: org.apache.hadoop.fs.UnsupportedFileSystemException |
          _: UnsupportedOperationException =>
        // fallback: small non-atomic window where dest is absent
        fs.delete(dest, false)
        if (!fs.rename(tmp, dest))
          throw new java.io.IOException(s"Failed to commit $dest")
    }
  }

  override def moveTo(destPath: String): Unit = {
    val dest = new HPath(destPath)
    Option(dest.getParent).foreach(fs.mkdirs)
    if (!fs.rename(root, dest))
      throw new java.io.IOException(s"Failed to rename $path to $destPath")
    ChunkIO.invalidatePath(destPath)
  }

  override def deleteRecursively(): Unit = {
    if (fs.exists(root)) fs.delete(root, true)
    ChunkIO.invalidatePath(path)
  }

  /** `create(overwrite = false)` is atomic on HDFS (namenode arbitrates
    * one winner); on object-store connectors it degrades to the
    * check-then-create the default documents. */
  override def createExclusive(rel: String, data: Array[Byte]): Boolean = {
    val p = new HPath(root, rel)
    try {
      val out = fs.create(p, false)
      try out.write(data) finally out.close()
      true
    } catch { case e: java.io.IOException =>
      if (fs.exists(p)) false else throw e
    }
  }

  override def deleteObject(rel: String): Unit = {
    fs.delete(new HPath(root, rel), false); ()
  }
}

/** Read-only Zarr store over plain HTTP(S) — the reference's roadmap
  * "HTTP backend" (README.md:289-337). Plain HTTP has no directory
  * listing, so discovery requires consolidated metadata (`.zmetadata`,
  * one GET) or a root `zarr.json`; chunk reads are ranged to whole
  * objects (one GET each). Executors open their own clients lazily —
  * the store crosses the wire as just the URL. */
final case class HttpStore(path: String) extends ZarrStore {
  import java.net.http.{HttpClient, HttpRequest, HttpResponse}

  @transient private lazy val client: HttpClient =
    HttpClient.newBuilder()
      .followRedirects(HttpClient.Redirect.NORMAL)
      .build()

  private def uri(rel: String) = java.net.URI.create(s"$path/$rel")

  override def listDirs(): Seq[String] =
    throw new UnsupportedOperationException(
      s"HTTP Zarr stores cannot list directories; publish consolidated metadata " +
        s"(.zmetadata) at $path")

  override def readBytes(rel: String): Option[Array[Byte]] = {
    val resp = client.send(
      HttpRequest.newBuilder(uri(rel)).GET().build(),
      HttpResponse.BodyHandlers.ofByteArray())
    if (resp.statusCode() == 200) Some(resp.body())
    else if (resp.statusCode() == 404) None
    else throw new java.io.IOException(
      s"HTTP ${resp.statusCode()} reading ${uri(rel)}")
  }

  override def sizeOf(rel: String): Option[Long] = {
    val resp = client.send(
      HttpRequest.newBuilder(uri(rel))
        .method("HEAD", HttpRequest.BodyPublishers.noBody()).build(),
      HttpResponse.BodyHandlers.discarding())
    if (resp.statusCode() == 200) {
      val l = resp.headers().firstValueAsLong("Content-Length")
      Some(if (l.isPresent) l.getAsLong else 0L)
    } else if (resp.statusCode() == 404) None
    else throw new java.io.IOException(
      s"HTTP ${resp.statusCode()} probing ${uri(rel)}") // 5xx is an error, not not-found
  }

  override def writeBytes(rel: String, data: Array[Byte]): Unit =
    throw new UnsupportedOperationException("HTTP Zarr stores are read-only")

  override def moveTo(destPath: String): Unit =
    throw new UnsupportedOperationException("HTTP Zarr stores are read-only")

  override def deleteRecursively(): Unit =
    throw new UnsupportedOperationException("HTTP Zarr stores are read-only")

  override def deleteObject(rel: String): Unit =
    throw new UnsupportedOperationException("HTTP Zarr stores are read-only")
}

/** Read-only Zarr store over a kerchunk / fsspec ReferenceFileSystem
  * JSON — the reference's roadmap "icechunk/kerchunk" row
  * (/root/reference/README.md:289-337). The refs document maps store
  * keys to either inline content (UTF-8 or `base64:`-prefixed) or a
  * `[url]` / `[url, offset, length]` byte range in another object —
  * how archival formats (netCDF4/HDF5/GRIB) are exposed as virtual
  * Zarr without rewriting the data, the standard trick for querying
  * petabyte archives in place.
  *
  * Supports version-1 documents (`{"version":1,"refs":{...},
  * "templates":{...}}`, `{{name}}` substitution) and bare version-0
  * documents (the whole object is the refs map). `gen` (parameterized
  * key generators) is refused loudly. Relative target URLs resolve
  * against the refs file's parent, so a refs file can ship next to the
  * archive it indexes.
  *
  * The descriptor crossing the driver→executor boundary is just the
  * JSON path; each JVM parses it once, lazily. For refs sets too large
  * for one JSON document, use the PARQUET refs form
  * ([[KerchunkParquetStore]], converter at
  * [[KerchunkParquetRefs.fromJson]]) — per-chunk lookups touch one
  * record file, so executor memory no longer scales with the
  * archive's ref count. */
final case class KerchunkStore(path: String) extends ZarrStore {
  import com.fasterxml.jackson.databind.JsonNode

  @transient private lazy val doc: JsonNode =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(readAll(path))

  @transient private lazy val (refs, templates) = {
    val (refsNode, tmplNode) =
      if (doc.has("version") || doc.has("refs"))
        (Option(doc.get("refs")).getOrElse(
           throw new IllegalArgumentException(s"$path: kerchunk document has no refs")),
         Option(doc.get("templates")))
      else (doc, None) // version 0: the whole document is the refs map
    if (doc.has("gen"))
      throw new UnsupportedZarrFeatureException(
        s"$path: kerchunk 'gen' (generated keys) is not supported — materialize the refs")
    val t = tmplNode.filter(_.isObject).map { n =>
      val it = n.fields()
      val b = Map.newBuilder[String, String]
      while (it.hasNext) { val e = it.next(); b += (e.getKey -> e.getValue.asText()) }
      b.result()
    }.getOrElse(Map.empty[String, String])
    val it = refsNode.fields()
    val b = Map.newBuilder[String, JsonNode]
    while (it.hasNext) { val e = it.next(); b += (e.getKey -> e.getValue) }
    (b.result(), t)
  }

  /** Parent of the refs file, for resolving relative target URLs. */
  private def parent: String = {
    val norm = path.stripSuffix("/")
    val i = norm.lastIndexOf('/')
    if (i > 0) norm.substring(0, i) else "."
  }

  private def expand(url: String): String = {
    val sub = templates.foldLeft(url) { case (u, (k, v)) => u.replace(s"{{$k}}", v) }
    if (sub.contains("://") || sub.startsWith("/") || sub.startsWith("file:")) sub
    else s"$parent/$sub"
  }

  override def listDirs(): Seq[String] =
    refs.keysIterator.filter(_.contains("/")).map(k => k.takeWhile(_ != '/'))
      .toSeq.distinct.sorted

  override def readBytes(rel: String): Option[Array[Byte]] = refs.get(rel).map { n =>
    if (n.isTextual) {
      val s = n.asText()
      if (s.startsWith("base64:")) java.util.Base64.getDecoder.decode(s.stripPrefix("base64:"))
      else s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    } else if (n.isArray && n.size() >= 1) {
      val url = expand(n.get(0).asText())
      if (n.size() >= 3) readRange(url, n.get(1).asLong(), n.get(2).asLong())
      else readAll(url)
    } else throw new IllegalArgumentException(s"$path: malformed ref for key $rel: $n")
  }

  override def sizeOf(rel: String): Option[Long] = refs.get(rel).map { n =>
    if (n.isTextual) {
      val s = n.asText()
      if (s.startsWith("base64:")) (s.length - 7L) * 3 / 4 // close enough for existence probes
      else s.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong
    } else if (n.isArray && n.size() >= 3) n.get(2).asLong()
    else readBytes(rel).map(_.length.toLong).getOrElse(0L)
  }

  /** Whole-object read, any scheme (the refs file itself + `[url]` refs). */
  private def readAll(url: String): Array[Byte] = KerchunkUrlIO.readAll(url)

  /** Ranged read — delegates to [[KerchunkUrlIO]]. */
  private def readRange(url: String, offset: Long, length: Long): Array[Byte] =
    KerchunkUrlIO.readRange(url, offset, length)

  override def writeBytes(rel: String, data: Array[Byte]): Unit =
    throw new UnsupportedOperationException("kerchunk reference stores are read-only")

  override def moveTo(destPath: String): Unit =
    throw new UnsupportedOperationException("kerchunk reference stores are read-only")

  override def deleteRecursively(): Unit =
    throw new UnsupportedOperationException("kerchunk reference stores are read-only")

  override def deleteObject(rel: String): Unit =
    throw new UnsupportedOperationException("kerchunk reference stores are read-only")

  /** Every ref, resolved (templates expanded, relative URLs rooted) —
    * the JSON→parquet converter's input ([[KerchunkParquetRefs]]). */
  private[zarr] def resolvedRefs: Map[String, KerchunkStore.RefEntry] =
    refs.map { case (k, n) =>
      k -> (if (n.isTextual) {
        val s = n.asText()
        if (s.startsWith("base64:"))
          KerchunkStore.Inline(java.util.Base64.getDecoder.decode(s.stripPrefix("base64:")))
        else KerchunkStore.Inline(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      } else if (n.isArray && n.size() >= 3)
        KerchunkStore.Range(expand(n.get(0).asText()), n.get(1).asLong(), n.get(2).asLong())
      else if (n.isArray && n.size() >= 1)
        KerchunkStore.Whole(expand(n.get(0).asText()))
      else throw new IllegalArgumentException(s"$path: malformed ref for key $k: $n"))
    }
}

object KerchunkStore {
  /** A resolved kerchunk reference. */
  sealed trait RefEntry
  final case class Inline(bytes: Array[Byte]) extends RefEntry
  final case class Range(url: String, offset: Long, length: Long) extends RefEntry
  final case class Whole(url: String) extends RefEntry
}

/** URL IO shared by the kerchunk stores (JSON and parquet refs): any
  * scheme, whole-object and ranged reads (ranged GETs on HTTP/object
  * stores — no whole-archive transfer for a chunk). */
object KerchunkUrlIO {

  /** Whole-object read, any scheme. */
  def readAll(url: String): Array[Byte] =
    if (url.startsWith("http://") || url.startsWith("https://")) {
      val u = url.stripSuffix("/")
      val i = u.lastIndexOf('/')
      HttpStore(u.substring(0, i)).readBytes(u.substring(i + 1)).getOrElse(
        throw new java.io.FileNotFoundException(url))
    } else if (url.startsWith("file:")) {
      Files.readAllBytes(Paths.get(java.net.URI.create(url)))
    } else if (url.contains("://")) {
      val p = new org.apache.hadoop.fs.Path(url)
      val fs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
      val in = fs.open(p)
      try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
    } else Files.readAllBytes(Paths.get(url))

  /** Ranged read — one seek + readFully, no whole-object transfer.
    * (On object stores a positioned read maps to a ranged GET.) */
  def readRange(url: String, offset: Long, length: Long): Array[Byte] = {
    val out = new Array[Byte](length.toInt)
    if (url.startsWith("http://") || url.startsWith("https://")) {
      import java.net.http.{HttpClient, HttpRequest, HttpResponse}
      val resp = HttpClient.newBuilder().followRedirects(HttpClient.Redirect.NORMAL).build()
        .send(HttpRequest.newBuilder(java.net.URI.create(url))
          .header("Range", s"bytes=$offset-${offset + length - 1}").GET().build(),
          HttpResponse.BodyHandlers.ofByteArray())
      if (resp.statusCode() / 100 != 2)
        throw new java.io.IOException(s"HTTP ${resp.statusCode()} reading range of $url")
      val body = resp.body()
      require(body.length >= length, s"short range read from $url")
      System.arraycopy(body, 0, out, 0, length.toInt)
    } else if (url.contains("://") && !url.startsWith("file:")) {
      val p = new org.apache.hadoop.fs.Path(url)
      val fs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
      val in = fs.open(p)
      try in.readFully(offset, out) finally in.close()
    } else {
      val lp = if (url.startsWith("file:")) Paths.get(java.net.URI.create(url)) else Paths.get(url)
      val ch = java.nio.channels.FileChannel.open(lp, java.nio.file.StandardOpenOption.READ)
      try {
        val buf = java.nio.ByteBuffer.wrap(out)
        var pos = offset
        while (buf.hasRemaining) {
          val n = ch.read(buf, pos)
          if (n < 0) throw new java.io.EOFException(s"$url: range $offset+$length past EOF")
          pos += n
        }
      } finally ch.close()
    }
    out
  }

}

/** Kerchunk PARQUET reference sets — the scale path past the JSON
  * refs document ([[KerchunkStore]]'s own documented ceiling: one JSON
  * document must fit in memory per executor; a decade-deep archive's
  * refs run to GBs). Layout follows the public fsspec
  * `LazyReferenceMapper` ("parquet references") format:
  *
  * {{{
  *   <root>/.zmetadata                 # JSON: {"metadata": {...}, "record_size": N}
  *   <root>/<var>/refs.<k>.parq        # rows r: chunk linear index k*N + r
  * }}}
  *
  * Each parquet row is `(path STRING?, offset INT64, size INT64,
  * raw BINARY?)`: `raw` non-null → inline chunk bytes; else `path`
  * names the archive object and `(offset, size)` the byte range
  * (`size <= 0` → whole object); all-null → absent chunk. The linear
  * index is C-order over the variable's chunk grid (from its
  * `.zarray`/`zarr.json` in the metadata map), so a chunk lookup
  * touches exactly ONE record file — nothing scales with the total
  * ref count: per-executor memory is the record-file LRU (≤ record
  * files × record_size rows), not the archive's ref count.
  *
  * The reference's roadmap names kerchunk
  * (/root/reference/README.md:289-337); the JSON form is implemented
  * at [[KerchunkStore]] and ZarrKerchunkSpec proves this form reads
  * byte-identically to the same refs in JSON.
  */
final case class KerchunkParquetStore(path: String) extends ZarrStore {

  import KerchunkParquetRefs._

  @transient private lazy val mapper = new ObjectMapper()

  @transient private lazy val (metadata, recordSize): (Map[String, Array[Byte]], Int) = {
    val doc = mapper.readTree(KerchunkUrlIO.readAll(s"$path/.zmetadata"))
    val meta = Option(doc.get("metadata")).getOrElse(
      throw new IllegalArgumentException(s"$path/.zmetadata: no 'metadata' map"))
    val b = Map.newBuilder[String, Array[Byte]]
    val it = meta.fields()
    while (it.hasNext) {
      val e = it.next()
      val bytes =
        if (e.getValue.isTextual) e.getValue.asText().getBytes(StandardCharsets.UTF_8)
        else e.getValue.toString.getBytes(StandardCharsets.UTF_8)
      b += (e.getKey -> bytes)
    }
    val rs = Option(doc.get("record_size")).map(_.asInt()).getOrElse(defaultRecordSize)
    require(rs > 0, s"$path/.zmetadata: record_size must be positive, got $rs")
    (b.result(), rs)
  }

  /** (chunkGrid dims) per variable, parsed once from the metadata map. */
  @transient private lazy val grids: Map[String, Array[Long]] = {
    metadata.keysIterator.collect {
      case k if k.endsWith("/.zarray") => k.stripSuffix("/.zarray")
      case k if k.endsWith("/zarr.json") => k.stripSuffix("/zarr.json")
    }.toSeq.distinct.flatMap { v =>
      chunkGridOf(metadata, v).map(v -> _)
    }.toMap
  }

  override def listDirs(): Seq[String] =
    metadata.keysIterator.filter(_.contains("/")).map(_.takeWhile(_ != '/'))
      .toSeq.distinct.sorted

  /** Generation redirects (`redirects.json`, optional): written by
    * [[KerchunkParquetRefs.retireGeneration]] when the source store
    * of a SNAPSHOT was overwritten — the store's objects were moved
    * to an immutable generation sibling, and ranged refs resolve
    * through this base-path map (longest prefix wins). Absent for
    * ordinary refs dirs. */
  @transient private lazy val redirects: Seq[(String, String)] =
    (try {
      val node = mapper.readTree(KerchunkUrlIO.readAll(s"$path/redirects.json"))
      val b = Seq.newBuilder[(String, String)]
      val it = node.fields()
      while (it.hasNext) { val e = it.next(); b += (e.getKey -> e.getValue.asText()) }
      b.result()
    } catch { case _: Exception => Seq.empty }).sortBy(-_._1.length)

  private def resolveUrl(p: String): String =
    redirects.collectFirst {
      case (from, to) if p == from || p.startsWith(from + "/") =>
        to + p.substring(from.length)
    }.getOrElse(p)

  override def readBytes(rel: String): Option[Array[Byte]] =
    metadata.get(rel).map(Some(_)).getOrElse {
      lookup(rel).flatMap {
        case RefRow(_, _, _, Some(raw)) => Some(raw)
        case RefRow(Some(p0), off, size, None) =>
          val p = resolveUrl(p0)
          Some(if (size <= 0) KerchunkUrlIO.readAll(p)
               else KerchunkUrlIO.readRange(p, off, size))
        case _ => None // all-null row: absent chunk
      }
    }

  override def sizeOf(rel: String): Option[Long] =
    metadata.get(rel).map(_.length.toLong).orElse {
      lookup(rel).flatMap {
        case RefRow(_, _, _, Some(raw)) => Some(raw.length.toLong)
        case RefRow(Some(p0), _, size, None) =>
          if (size > 0) Some(size)
          else Some(KerchunkUrlIO.readAll(resolveUrl(p0)).length.toLong)
        case _ => None
      }
    }

  /** Resolve a chunk key to its parquet record row (None = key outside
    * any variable, or record file absent, or row out of range). */
  private def lookup(rel: String): Option[RefRow] = {
    val slash = rel.indexOf('/')
    if (slash <= 0) return None
    val v = rel.substring(0, slash)
    grids.get(v).flatMap { grid =>
      chunkLinear(rel.substring(slash + 1), grid).flatMap { lin =>
        val rec = lin / recordSize
        val row = (lin % recordSize).toInt
        rowsOf(path, v, rec).flatMap(rows => rows.lift(row))
      }
    }
  }

  override def writeBytes(rel: String, data: Array[Byte]): Unit =
    throw new UnsupportedOperationException("kerchunk reference stores are read-only")
  override def moveTo(destPath: String): Unit =
    throw new UnsupportedOperationException("kerchunk reference stores are read-only")
  override def deleteRecursively(): Unit =
    throw new UnsupportedOperationException("kerchunk reference stores are read-only")
  override def deleteObject(rel: String): Unit =
    throw new UnsupportedOperationException("kerchunk reference stores are read-only")
}
