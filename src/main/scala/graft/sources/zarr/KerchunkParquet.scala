package graft.sources.zarr

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.{ParquetReader, ParquetWriter}
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport, GroupWriteSupport}
import org.apache.parquet.schema.{MessageType, MessageTypeParser}

/** Shared machinery for [[KerchunkParquetStore]]: the record-file LRU,
  * the parquet refs writer, and the refs tools — the JSON→parquet
  * converter (also the test fixture generator — ZarrKerchunkSpec
  * converts its JSON refs and asserts read parity), the store→refs
  * generator, snapshots and the multi-store combine. Array layouts,
  * chunk keys and `.zstats` come from [[ZarrMeta]] / [[ZarrArrayMeta]]
  * and are rendered by [[ZarrWriter]]. */
object KerchunkParquetRefs {

  val defaultRecordSize = 10000

  private val schema: MessageType = MessageTypeParser.parseMessageType(
    """message kerchunk_refs {
      |  optional binary path (STRING);
      |  optional int64 offset;
      |  optional int64 size;
      |  optional binary raw;
      |}""".stripMargin)

  // ------------------------------------------------- record-file LRU

  /** Decoded record files, keyed (storePath, `.zmetadata` stamp, var,
    * record) and weighed by an estimate of their rows' heap bytes. One
    * entry is ≤ record_size small rows (~1.5 MB at the default 10k);
    * the 32 MiB budget bounds executor memory regardless of the
    * archive's total ref count. */
  private val recCache =
    new ByteLru[(String, String, String, Long), Option[IndexedSeq[Option[KerchunkRef]]]](32L << 20)

  private[zarr] def rowsOf(storePath: String, stamp: String, v: String,
      rec: Long): Option[IndexedSeq[Option[KerchunkRef]]] =
    recCache.getOrLoad((storePath, stamp, v, rec)) {
      val rows = readRecordFile(s"$storePath/$v/refs.$rec.parq")
      (rows, rows.fold(0L)(_.map {
        case Some(KerchunkRef.Inline(b)) => 32L + b.length
        case Some(KerchunkRef.Range(url, _, _)) => 64L + url.length
        case Some(KerchunkRef.Whole(url)) => 64L + url.length
        case None => 8L
      }.sum))
    }

  /** A record file's rows: `raw` → inline; else `path` with `size > 0`
    * → byte range, `size <= 0` → whole object; all-null → absent. */
  private def readRecordFile(file: String): Option[IndexedSeq[Option[KerchunkRef]]] = {
    val local = !file.contains("://")
    if (local && !Files.exists(Paths.get(file))) return None
    val reader =
      try ParquetReader.builder(new GroupReadSupport(),
        new org.apache.hadoop.fs.Path(file)).withConf(new Configuration()).build()
      catch { case _: java.io.FileNotFoundException => return None }
    try {
      val rows = IndexedSeq.newBuilder[Option[KerchunkRef]]
      var g: Group = reader.read()
      while (g != null) {
        def has(f: String): Boolean = g.getFieldRepetitionCount(f) > 0
        val size = if (has("size")) g.getLong("size", 0) else 0L
        rows += (
          if (has("raw")) Some(KerchunkRef.Inline(g.getBinary("raw", 0).getBytes))
          else (if (has("path")) Some(g.getString("path", 0)) else None).filter(_.nonEmpty).map(p =>
            if (size > 0) KerchunkRef.Range(p, if (has("offset")) g.getLong("offset", 0) else 0L, size)
            else KerchunkRef.Whole(p)))
        g = reader.read()
      }
      Some(rows.result())
    } finally reader.close()
  }

  /** Drop the record files and documents of a refs dir this JVM read
    * before rewriting it. */
  private def invalidate(storePath: String): Unit = {
    recCache.removeIf(_._1 == storePath)
    KerchunkUrlIO.forget(s"$storePath/")
  }

  // ------------------------------------------------- refs emission

  /** Write the parquet refs layout: `.zmetadata` (metadata docs parsed
    * to JSON where they are JSON) + per-variable dense record files,
    * each variable's refs keyed by chunk ordinal. Shared by the JSON
    * converter, the store scanner and the combine. */
  private def writeRefs(outDir: String, recordSize: Int,
      metaDocs: Seq[(String, Array[Byte])],
      perVar: collection.Map[String, collection.Map[Long, KerchunkRef]]): Unit = {
    val mapper = new ObjectMapper()
    val root = mapper.createObjectNode()
    val metaNode = root.putObject("metadata")
    metaDocs.foreach { case (k, bytes) =>
      val text = new String(bytes, StandardCharsets.UTF_8)
      try metaNode.set[ObjectNode](k, mapper.readTree(text))
      catch { case _: Exception => metaNode.put(k, text) }
    }
    root.put("record_size", recordSize)
    Files.createDirectories(Paths.get(outDir))
    Files.write(Paths.get(outDir, ".zmetadata"),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(root))
    val factory = new SimpleGroupFactory(schema)
    perVar.foreach { case (v, rows) =>
      Files.createDirectories(Paths.get(outDir, v))
      rows.keys.groupBy(_ / recordSize).foreach { case (rec, lins) =>
        val conf = new Configuration()
        GroupWriteSupport.setSchema(schema, conf)
        val w: ParquetWriter[Group] = ExampleParquetWriter
          .builder(new org.apache.hadoop.fs.Path(s"$outDir/$v/refs.$rec.parq"))
          .withConf(conf).build()
        try {
          // dense records: absent chunks are all-null rows, so row i
          // within the file IS linear index rec*recordSize + i
          val maxIn = lins.max % recordSize
          (0L to maxIn).foreach { i =>
            val g = factory.newGroup()
            rows.get(rec * recordSize + i).foreach {
              case KerchunkRef.Inline(b) =>
                g.append("raw", org.apache.parquet.io.api.Binary.fromConstantByteArray(b))
              case KerchunkRef.Range(url, off, len) =>
                g.append("path", url).append("offset", off).append("size", len)
              case KerchunkRef.Whole(url) =>
                g.append("path", url).append("offset", 0L).append("size", 0L)
            }
            w.write(g)
          }
        } finally w.close()
      }
    }
    invalidate(outDir)
  }

  // ------------------------------------------------- JSON → parquet

  /** Convert a kerchunk JSON refs document into the parquet refs
    * layout at `outDir` (driver-side tooling + test fixture path).
    * Byte-range refs stay ranges — nothing is materialized — so the
    * conversion is metadata-sized, not archive-sized. */
  def fromJson(jsonPath: String, outDir: String,
      recordSize: Int = defaultRecordSize): Unit = {
    val refs = KerchunkStore(jsonPath).refs
    val (metaKeys, chunkKeys) = refs.keys.toSeq.partition(k =>
      !k.contains("/") || k.endsWith(".zarray") || k.endsWith(".zattrs") ||
        k.endsWith(".zgroup") || k.endsWith("zarr.json") || k.endsWith(".zstats") ||
        k == ".zmetadata")
    val metaDocs = metaKeys.map(k => k -> KerchunkUrlIO.read(refs(k)))
    val arrays = ZarrMeta.layoutsOf(metaDocs.toMap)
    // chunk refs grouped per variable, placed at their chunk ordinal
    val perVar = chunkKeys.groupBy(_.takeWhile(_ != '/')).map { case (v, keys) =>
      val m = arrays.getOrElse(v, throw new IllegalArgumentException(
        s"$jsonPath: chunk key '${keys.head}' but no array metadata for '$v'"))
      v -> keys.map { k =>
        m.chunkIndex(k.substring(v.length + 1)).map(m.chunkOrdinal).getOrElse(
          throw new IllegalArgumentException(s"$jsonPath: unparseable chunk key '$k'")) -> refs(k)
      }.toMap
    }
    writeRefs(outDir, recordSize, metaDocs, perVar)
  }

  // ------------------------------------------------- store → parquet

  /** A source store as the refs tools read it: its metadata documents
    * verbatim (re-emitted into the refs), its arrays' layouts with
    * their `.zstats` sidecars, and the absolute base its chunk refs
    * point at. */
  private final case class Source(path: String, store: ZarrStore, isV3: Boolean,
      docs: Map[String, Array[Byte]], arrays: Seq[ZarrArrayMeta], base: String) {
    def array(v: String): ZarrArrayMeta = arrays.find(_.name == v).get
  }

  private def source(p: String): Source = {
    val st = ZarrStore.open(p)
    val isV3 = ZarrMeta.detectVersion(st) == 3
    val vars = st.listDirs().filter(d =>
      st.sizeOf(s"$d/.zarray").isDefined || st.sizeOf(s"$d/zarr.json").isDefined).sorted
    require(vars.nonEmpty, s"$p: no Zarr arrays found")
    val rootDocs = if (isV3) Seq("zarr.json") else Seq(".zgroup", ".zattrs")
    val docKeys = rootDocs ++ vars.flatMap(v =>
      if (isV3) Seq(s"$v/zarr.json", s"$v/.zstats")
      else Seq(s"$v/.zarray", s"$v/.zattrs", s"$v/.zstats"))
    val arrays = vars.map(v => ZarrMeta.arrayAt(st, v, isV3, layoutOnly = true).getOrElse(
      throw new IllegalArgumentException(s"$p/$v: unreadable array metadata")))
    Source(p, st, isV3, docKeys.flatMap(k => st.readBytes(k).map(k -> _)).toMap, arrays, absBase(p))
  }

  /** The present chunks of array `m` of `s` in C order (one `sizeOf`
    * probe per grid cell — no listing API needed; absent cells, fill,
    * yield nothing): at or under `inlineThreshold` bytes inline, larger
    * ones a byte range over the whole object at the source's absolute
    * location. */
  private def chunkRefs(s: Source, m: ZarrArrayMeta,
      inlineThreshold: Long): Iterator[(Seq[Long], KerchunkRef)] =
    m.chunkIndices().flatMap { idx =>
      val key = s"${m.name}/${m.chunkKey(idx)}"
      s.store.sizeOf(key).map { sz =>
        idx -> (if (sz > inlineThreshold) KerchunkRef.Range(s"${s.base}/$key", 0L, sz)
          else KerchunkRef.Inline(s.store.readBytes(key).getOrElse(
            throw new java.io.IOException(s"${s.base}/$key vanished during scan"))))
      }
    }

  /** Scan an EXISTING Zarr store (any backend `ZarrStore.open` can
    * dispatch — local, s3a/gs/hdfs, http) and emit parquet refs at
    * `outDir`, closing the virtualization loop without external
    * tooling: archive → refs → [[KerchunkParquetStore]] read, no
    * Python/fsspec required.
    *
    *  - metadata documents (`.zgroup`/`.zattrs`/`.zarray`/`zarr.json`,
    *    plus graft's `.zstats` sidecars so statistics pruning and
    *    SUM/AVG pushdown survive virtualization) inline into
    *    `.zmetadata`;
    *  - chunks at or under `inlineThreshold` bytes inline as `raw`
    *    (kerchunk's convention for tiny objects — saves a round-trip
    *    per read);
    *  - larger chunks become whole-object ranged refs `(path, 0,
    *    size)` against the source store's absolute location.
    *
    * Candidate chunk keys are ENUMERATED from the chunk grid (one
    * `sizeOf` probe per cell, no listing API needed — works on stores
    * whose backend cannot list, e.g. http); absent chunks (fill) get
    * all-null rows. Driver-side tooling: the work is one metadata
    * probe per chunk, not per byte — for an archive with millions of
    * chunks, shard the call per variable or per store across a job. */
  def fromStore(storePath: String, outDir: String,
      recordSize: Int = defaultRecordSize, inlineThreshold: Long = 512L,
      inlineVars: Set[String] = Set.empty): Unit = {
    val s = source(storePath)
    val perVar = s.arrays.map { m =>
      val thr = if (inlineVars.contains(m.name)) Long.MaxValue else inlineThreshold
      m.name -> chunkRefs(s, m, thr).map { case (idx, ref) => m.chunkOrdinal(idx) -> ref }.toMap
    }.toMap
    writeRefs(outDir, recordSize, s.docs.toSeq.sortBy(_._1), perVar)
  }

  /** Point-in-time SNAPSHOT of a store as parquet refs — fromStore
    * with every COORDINATE array inlined (coordinates are
    * metadata-sized; data chunks stay byte-range refs).
    *
    * Why this is a consistent snapshot under appends: the outer-append
    * path refuses non-chunk-aligned extents, so existing DATA chunk
    * objects are immutable — an append only ADDS slab files and
    * rewrites metadata + the coordinate chunk. The snapshot inlines
    * both, so it keeps serving exactly the pre-append content while
    * the live store moves on (time travel for the append-only ingest
    * pattern; SnapshotSpec proves it). A ranged ref to the coordinate
    * would instead read a truncated frame of the REWRITTEN object —
    * loud, but not a snapshot. Full `mode("overwrite")` rewrites are
    * survived via GENERATION RETIREMENT (see the machinery below):
    * the overwrite moves the old store to an immutable generation
    * sibling and this snapshot's refs resolve through its
    * `redirects.json` — durable time travel, not just append-only
    * time travel. */
  def snapshot(storePath: String, outDir: String,
      recordSize: Int = defaultRecordSize, inlineThreshold: Long = 512L): Unit = {
    fromStore(storePath, outDir, recordSize, inlineThreshold,
      inlineVars = ZarrMeta.readStore(storePath).coordNames.toSet)
    registerSnapshot(storePath, outDir)
  }

  // ------------------------------------------------- snapshot generations

  /** Generation-aware snapshot machinery: a full `mode("overwrite")`
    * rewrite no longer strands live snapshots. [[snapshot]] records
    * its refs dir in a sibling registry (`<store>.__graft_snapshots`);
    * the overwrite commit calls [[retireGeneration]], which — when
    * live snapshots exist — MOVES the old store to an immutable
    * generation sibling (`<store>.__graft_gen_<stamp>`) instead of
    * deleting it, and points each snapshot's `redirects.json` at the
    * retired location. The refs READER resolves chunk URLs through
    * that file, so the snapshot keeps serving its point-in-time
    * content with zero data copied.
    *
    * GC story: each generation carries a sibling manifest
    * (`<gen>.__graft_refs`) listing the snapshot dirs redirected to
    * it; a generation is reclaimable once every listed snapshot is
    * gone, which [[gcGenerations]] checks and performs. Nothing is
    * reclaimed implicitly — retention is the operator's call, as with
    * any time-travel store. */
  private def parentAndName(p: String): (String, String) = {
    val s0 = p.stripSuffix("/")
    val i = s0.lastIndexOf('/')
    if (i < 0) (".", s0)
    else if (i == 0) ("/", s0.substring(1))
    else (s0.substring(0, i), s0.substring(i + 1))
  }

  private def registryName(name: String): String = s"$name.__graft_snapshots"

  private def absBase(p: String): String =
    if (p.contains("://")) p.stripSuffix("/")
    else Paths.get(p).toAbsolutePath.toString

  /** Record `refsDir` as a live snapshot of `storePath`. */
  private def registerSnapshot(storePath: String, refsDir: String): Unit = {
    val (parent, name) = parentAndName(storePath)
    val st = ZarrStore.open(parent)
    val reg = registryName(name)
    val prev = st.readBytes(reg).map(new String(_, StandardCharsets.UTF_8)).getOrElse("")
    val abs = absBase(refsDir)
    if (!prev.linesIterator.contains(abs))
      st.writeBytes(reg, (prev + abs + "\n").getBytes(StandardCharsets.UTF_8))
  }

  /** The snapshot dirs listed in `store`'s object `list` (a registry
    * or a generation manifest) that still exist: a deleted snapshot
    * releases its claim. */
  private def liveRefs(store: ZarrStore, list: String): Seq[String] =
    store.readBytes(list).map(new String(_, StandardCharsets.UTF_8)).getOrElse("")
      .linesIterator.map(_.trim).filter(_.nonEmpty)
      .filter(refs => KerchunkUrlIO.stat(s"$refs/.zmetadata").length.isDefined)
      .toSeq.distinct

  /** Add `from -> to` to the snapshot's `redirects.json` (first
    * redirect for a base wins: the snapshot was taken against the
    * content now living at `to`, so a LATER overwrite of the same
    * base must not re-point it). */
  private def addRedirect(refsDir: String, from: String, to: String): Unit = {
    val (parent, name) = parentAndName(refsDir)
    val st = ZarrStore.open(parent)
    val mapper = new ObjectMapper()
    val node = st.readBytes(s"$name/redirects.json")
      .map(b => mapper.readTree(b).asInstanceOf[ObjectNode])
      .getOrElse(mapper.createObjectNode())
    if (!node.has(from)) {
      node.put(from, to)
      st.writeBytes(s"$name/redirects.json", mapper.writeValueAsBytes(node))
    }
  }

  /** Called by the overwrite commit BEFORE it would delete the
    * existing store: when live snapshots reference it, the store is
    * moved to a generation sibling and every snapshot redirected;
    * returns true (caller must skip its delete). With no live
    * snapshots the stale registry is dropped and false returned
    * (caller deletes as before — no behavior change for stores that
    * were never snapshotted). */
  def retireGeneration(storePath: String): Boolean = {
    val (parent, name) = parentAndName(storePath)
    val parentStore = ZarrStore.open(parent)
    val snaps = liveRefs(parentStore, registryName(name))
    if (snaps.isEmpty) {
      parentStore.deleteObject(registryName(name))
      return false
    }
    val stamp =
      s"${System.currentTimeMillis()}_${java.util.UUID.randomUUID().toString.take(8)}"
    val genPath = s"${storePath.stripSuffix("/")}.__graft_gen_$stamp"
    ZarrStore.open(storePath).moveTo(genPath)
    val oldBase = absBase(storePath)
    val newBase = absBase(genPath)
    snaps.foreach(addRedirect(_, oldBase, newBase))
    parentStore.writeBytes(s"$name.__graft_gen_$stamp.__graft_refs",
      snaps.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    parentStore.deleteObject(registryName(name))
    true
  }

  /** Delete retired generations whose snapshots are ALL gone; returns
    * the deleted generation paths. */
  def gcGenerations(storePath: String): Seq[String] = {
    val (parent, name) = parentAndName(storePath)
    val parentStore = ZarrStore.open(parent)
    parentStore.listDirs().filter(_.startsWith(s"$name.__graft_gen_")).flatMap { gen =>
      val manifest = s"$gen.__graft_refs"
      if (liveRefs(parentStore, manifest).nonEmpty) None
      else {
        ZarrStore.open(s"$parent/$gen").deleteRecursively()
        parentStore.deleteObject(manifest)
        Some(s"$parent/$gen")
      }
    }
  }

  // ------------------------------------------------- multi-store combine

  /** Virtually CONCATENATE existing Zarr stores along `concatDim` into
    * one parquet-refs store — the fsspec/kerchunk `MultiZarrToZarr`
    * shape (e.g. one store per day of an archive → one queryable
    * virtual dataset), with no data movement: every chunk ref points
    * back into its source store.
    *
    * Semantics and constraints (the same grid-validity rules
    * MultiZarrToZarr enforces):
    *  - every store must hold the SAME variables at the same zarr
    *    version; variables whose dimensions include `concatDim`
    *    concatenate (data vars AND the `concatDim` coordinate array);
    *    all other variables must carry byte-identical array metadata
    *    across stores and are taken from the first store;
    *  - concatenating variables must share chunk shape and all
    *    non-concat extents; every store except the LAST must have a
    *    `concatDim` extent that is a multiple of the chunk extent
    *    (an interior ragged chunk would corrupt the combined grid —
    *    a ragged tail on the final store is fine);
    *  - `.zstats` sidecars survive: per-chunk min/max and sum entries
    *    are key-remapped by the chunk offset and merged; sums, with
    *    their O(1) total and completeness attestation, are kept only
    *    when EVERY store attests complete sums (readers ignore sums
    *    that are not attested complete).
    *
    * Chunk refs are ranged against each SOURCE store (or inlined at or
    * under `inlineThreshold`), so the combine is metadata-sized work:
    * one `sizeOf` probe per chunk cell, no data reads. */
  def combineStores(storePaths: Seq[String], concatDim: String, outDir: String,
      recordSize: Int = defaultRecordSize, inlineThreshold: Long = 512L): Unit = {
    require(storePaths.length >= 2, "combineStores needs at least two stores")
    val mapper = new ObjectMapper()
    val srcs = storePaths.map(source)
    val isV3 = srcs.head.isV3
    require(srcs.forall(_.isV3 == isV3), "mixed zarr versions across stores: " +
      srcs.map(s => s"${s.path}=v${if (s.isV3) 3 else 2}").mkString(", "))
    val vars = srcs.head.arrays.map(_.name)
    srcs.tail.foreach(s => require(s.arrays.map(_.name) == vars,
      s"variable sets differ: ${srcs.head.path} has $vars, ${s.path} has ${s.arrays.map(_.name)}"))

    def arrayDocKey(v: String) = if (isV3) s"$v/zarr.json" else s"$v/.zarray"
    // decoded store metadata, computed at most once per store (used by
    // the dims fallback and the coordinate materialization)
    val storeMeta = mutable.Map[String, ZarrStoreMeta]()
    def metaOf(s: Source): ZarrStoreMeta =
      storeMeta.getOrElseUpdate(s.path, ZarrMeta.readStore(s.path))
    /** Dimension names: declared ([[ZarrMeta.declaredDims]]); a 1-D
      * array named like the dim is its own coordinate even without
      * them; otherwise fall back to the reader's inferred coordinate
      * order (stores written without naming conventions). */
    def dimsOf(s: Source, v: String): Seq[String] = {
      val a = s.array(v)
      ZarrMeta.declaredDims(a).getOrElse {
        if (a.nDims == 1) Seq(v)
        else {
          val order = metaOf(s).coordNames
          if (a.nDims == order.length) order else Seq.empty
        }
      }
    }

    val concatVars = vars.filter(v => dimsOf(srcs.head, v).contains(concatDim))
    require(concatVars.nonEmpty,
      s"no variable has dimension '$concatDim' (dims seen: ${vars.map(v => s"$v=${dimsOf(srcs.head, v).mkString("[", ",", "]")}").mkString(", ")})")
    // the concat dimension's own 1-D coordinate array is MATERIALIZED
    // (decoded, concatenated, inlined raw) rather than ref-stitched:
    // writers commonly store a coordinate as one chunk per store, so
    // per-store chunk extents differ and no uniform combined grid
    // exists for it — and a coordinate is metadata-sized by nature.
    // (This is also what kerchunk's MultiZarrToZarr does for the
    // concat coord.) Everything else concatenates by reference.
    val coordSelf = concatVars.filter(v => dimsOf(srcs.head, v) == Seq(concatDim))
    val gridVars = concatVars.filterNot(coordSelf.contains)

    // validate geometry; per concat var: axis, each store's chunk offset
    // along it, and the combined layout
    val geometry = gridVars.map { v =>
      val d0 = dimsOf(srcs.head, v)
      val axis = d0.indexOf(concatDim)
      val a0 = srcs.head.array(v)
      srcs.tail.foreach { s =>
        val a = s.array(v)
        require(dimsOf(s, v) == d0, s"${s.path}/$v: dimension names differ")
        require(a.chunks == a0.chunks, s"${s.path}/$v: chunk shape differs")
        require(a.nDims == a0.nDims && a.shape.indices.forall(i =>
          i == axis || a.shape(i) == a0.shape(i)),
          s"${s.path}/$v: non-concat extents differ")
      }
      srcs.init.foreach { s =>
        val ext = s.array(v).shape(axis)
        require(ext % a0.chunks(axis) == 0,
          s"${s.path}/$v: extent $ext along '$concatDim' is not a multiple of " +
            s"chunk ${a0.chunks(axis)} — an interior ragged chunk would corrupt the " +
            "combined grid (only the LAST store may be ragged)")
      }
      val offs = srcs.map(_.array(v).chunkGrid(axis)).scanLeft(0L)(_ + _)
      val out = a0.copy(shape = a0.shape.updated(axis, srcs.map(_.array(v).shape(axis)).sum))
      v -> (axis, offs, out)
    }.toMap
    /** Source chunk index `idx` of store `si` in the combined grid of `v`. */
    def shifted(v: String, si: Int, idx: Seq[Long]): Seq[Long] = {
      val (axis, offs, _) = geometry(v)
      idx.updated(axis, idx(axis) + offs(si))
    }
    // static vars: array metadata must be byte-identical across
    // stores, AND the chunk DATA must match — matching shapes/dtypes
    // with different values (e.g. two stores on different lat grids)
    // would otherwise combine silently, serving store 0's data for
    // every row. Static vars are metadata-sized by nature (they're
    // coordinates/ancillary arrays — everything bulky carries the
    // concat dim), so a per-chunk byte compare is cheap; mismatch
    // fails loudly like the ragged-extent check.
    vars.filterNot(concatVars.contains).foreach { v =>
      val s0 = srcs.head
      srcs.tail.foreach(s => require(java.util.Arrays.equals(
        s.docs(arrayDocKey(v)), s0.docs(arrayDocKey(v))),
        s"static variable '$v': array metadata differs between " +
          s"${s0.path} and ${s.path} — only '$concatDim'-bearing " +
          "variables may vary across combined stores"))
      val a0 = s0.array(v)
      a0.chunkIndices().foreach { idx =>
        val key = s"$v/${a0.chunkKey(idx)}"
        val ref = s0.store.readBytes(key)
        srcs.tail.foreach { s =>
          val other = s.store.readBytes(key)
          require(ref.isDefined == other.isDefined &&
            ref.zip(other).forall { case (a, b) => java.util.Arrays.equals(a, b) },
            s"static variable '$v': chunk '$key' differs between " +
              s"${s0.path} and ${s.path} — the stores disagree on " +
              s"non-'$concatDim' content and cannot be combined")
        }
      }
    }

    // materialize the concat coordinate: decoded values concatenated,
    // re-encoded raw little-endian as ONE inline chunk
    val coordBytes: Map[String, (Array[Byte], Long)] = coordSelf.map { v =>
      val perStore = srcs.map(s => metaOf(s).coords.find(_.meta.name == v)
        .getOrElse(throw new IllegalArgumentException(
          s"${s.path}: cannot materialize coordinate '$v'")))
      val dt = perStore.head.meta.dtype
      require(perStore.forall(_.meta.dtype == dt), s"coordinate '$v': dtype differs across stores")
      require("iuf".contains(dt.kind),
        s"coordinate '$v': cannot materialize non-numeric dtype '${dt.kind}${dt.size}' for combining")
      val le = dt.copy(littleEndian = true)
      val total = perStore.map(_.length).sum
      val buf = ZarrWriter.cellBuffer(le, total)
      perStore.flatMap(c => (0 until c.length).map(ChunkCodec.elementAt(c.raw, _))).zipWithIndex
        .foreach { case (x, i) => ZarrWriter.putElement(buf, i, le, x) }
      v -> (buf.array(), total.toLong)
    }.toMap

    /** The combined `.zstats` of grid variable `v`: every store's chunk
      * entries under their shifted keys; sums stay attested complete
      * only when every store attests them and every key parses. */
    def mergedStats(v: String): ZarrArrayMeta = {
      val out = geometry(v)._3
      val parts = srcs.zipWithIndex.map { case (s, si) =>
        val a = s.array(v)
        def shift[X](m: Map[String, X]): Map[String, X] = m.flatMap { case (k, x) =>
          a.chunkIndex(k).map(idx => out.chunkKey(shifted(v, si, idx)) -> x)
        }
        val sums = shift(a.chunkSums)
        (shift(a.chunkStats), sums, a.sumsComplete && sums.size == a.chunkSums.size)
      }
      out.copy(chunkStats = parts.flatMap(_._1).toMap, chunkSums = parts.flatMap(_._2).toMap,
        sumsComplete = parts.forall(_._3))
    }

    // combined metadata: first store's docs, with concat vars' shape
    // rewritten, the materialized coord re-declared (single raw
    // chunk), and .zstats remapped+merged
    val metaDocs = srcs.head.docs.toSeq.sortBy(_._1).flatMap {
      case (k, bytes) if k.endsWith("/.zstats") =>
        val v = k.stripSuffix("/.zstats")
        if (coordSelf.contains(v)) None // re-derivable; values are inline anyway
        else if (!gridVars.contains(v)) Some(k -> bytes)
        else if (srcs.exists(s => !s.docs.contains(k))) None
        else Some(k -> ZarrWriter.zstatsDoc(mergedStats(v)))
      case (k, bytes) if coordSelf.exists(v => k == arrayDocKey(v)) =>
        val total = coordBytes(k.substring(0, k.lastIndexOf('/')))._2
        val node = mapper.readTree(bytes).asInstanceOf[ObjectNode]
        node.putArray("shape").add(total)
        if (isV3) {
          node.`with`("chunk_grid").`with`("configuration")
            .putArray("chunk_shape").add(total)
          val codecs = node.putArray("codecs")
          val bytesCodec = codecs.addObject()
          bytesCodec.put("name", "bytes")
          bytesCodec.putObject("configuration").put("endian", "little")
        } else {
          node.putArray("chunks").add(total)
          node.putNull("compressor")
          node.putNull("filters")
          // the materialized bytes are LITTLE-ENDIAN — a big-endian
          // (or platform-native) source dtype string kept verbatim
          // would silently decode byte-swapped values
          val dt = node.get("dtype").asText()
          if (dt.startsWith(">") || dt.startsWith("="))
            node.put("dtype", "<" + dt.substring(1))
        }
        Some(k -> mapper.writeValueAsBytes(node))
      case (k, bytes) if gridVars.exists(v => k == arrayDocKey(v)) =>
        val node = mapper.readTree(bytes).asInstanceOf[ObjectNode]
        val shapeArr = node.putArray("shape")
        geometry(k.substring(0, k.lastIndexOf('/')))._3.shape.foreach(n => shapeArr.add(n))
        Some(k -> mapper.writeValueAsBytes(node))
      case (k, bytes) => Some(k -> bytes)
    }
    // the v3 root zarr.json embeds every array's metadata under
    // consolidated_metadata — readers prefer it over per-array docs,
    // so its entries must be the REWRITTEN docs, not store 0's stale
    // copies (shape/codecs would silently disagree)
    val metaDocsOut = metaDocs.map {
      case ("zarr.json", bytes) if isV3 => "zarr.json" ->
        ZarrWriter.consolidated(isV3, Some(bytes), metaDocs.filter(_._1.endsWith("/zarr.json"))).getOrElse(bytes)
      case kv => kv
    }

    // chunk refs: static vars from store 0; materialized coords as one
    // inline chunk; grid vars from every store with the axis index
    // shifted by the store's chunk offset
    val perVar = vars.map { v =>
      v -> (if (coordSelf.contains(v)) Map(0L -> (KerchunkRef.Inline(coordBytes(v)._1): KerchunkRef))
      else if (!gridVars.contains(v)) {
        val a = srcs.head.array(v)
        chunkRefs(srcs.head, a, inlineThreshold).map { case (idx, r) => a.chunkOrdinal(idx) -> r }.toMap
      } else srcs.zipWithIndex.flatMap { case (s, si) =>
        chunkRefs(s, s.array(v), inlineThreshold).map { case (idx, r) =>
          geometry(v)._3.chunkOrdinal(shifted(v, si, idx)) -> r
        }
      }.toMap)
    }.toMap
    writeRefs(outDir, recordSize, metaDocsOut, perVar)
  }
}
