package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.zarr.ZarrWriter

/** Round-trip: connector-read fixture → distributed write → connector
  * read-back must be identical; partial grids fill with 0. */
class ZarrWriterSpec extends AnyFunSuite {
  import TestSession._

  private val v3 = "src/test/resources/zarr/synthetic_v3.zarr"

  test("round-trip of the synthetic store is lossless") {
    val out = Files.createTempDirectory("zarr_rt").resolve("store.zarr").toString
    val src = spark.read.format("zarr").load(v3)
    ZarrWriter.write(src, out, coords = Seq("time", "lon", "lat"), chunkOuter = 1)
    // chunk layout matches the fixture: one slab per time step
    assert(Files.exists(Paths.get(out, "temperature", "3.0.0")))
    val back = spark.read.format("zarr").load(out)
    assert(back.schema == src.schema)
    val a = src.orderBy("time", "lon", "lat").collect().map(_.toSeq).toSeq
    val b = back.orderBy("time", "lon", "lat").collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("query results can be written and re-queried (sink semantics)") {
    val out = Files.createTempDirectory("zarr_sink").resolve("agg.zarr").toString
    val derived = spark.read.format("zarr").load(v3)
      .select(col("time"), col("lon"), col("lat"),
        (col("temperature") * 2 + col("humidity")).as("blend"))
    ZarrWriter.write(derived, out, coords = Seq("time", "lon", "lat"), chunkOuter = 2)
    val back = spark.read.format("zarr").load(out)
    assert(back.count() == 700)
    val expect = derived.agg(sum("blend")).collect().head.getLong(0)
    assert(back.agg(sum("blend")).collect().head.getLong(0) == expect)
    // 7 outer values, chunkOuter 2 -> 4 chunk slabs
    assert(Files.exists(Paths.get(out, "blend", "3.0.0")))
  }

  test("df.write.format(zarr) overwrite + read-back round-trips") {
    val out = Files.createTempDirectory("zarr_dfw").resolve("dfw.zarr").toString
    val src = spark.read.format("zarr").load(v3)
    src.write.format("zarr")
      .option("coords", "time,lon,lat").option("chunkOuter", "2")
      .mode("overwrite").save(out)
    val back = spark.read.format("zarr").load(out)
    assert(back.schema == src.schema)
    val a = src.orderBy("time", "lon", "lat").collect().map(_.toSeq).toSeq
    val b = back.orderBy("time", "lon", "lat").collect().map(_.toSeq).toSeq
    assert(a == b)
    // overwrite again with different content: store is replaced, not merged
    src.select(col("time"), col("lon"), col("lat"),
        (col("temperature") + 1).as("temperature"))
      .write.format("zarr").option("coords", "time,lon,lat")
      .mode("overwrite").save(out)
    val t2 = spark.read.format("zarr").load(out)
    assert(t2.schema.fieldNames.toSet == Set("time", "lon", "lat", "temperature"))
    assert(t2.agg(sum("temperature")).collect().head.getLong(0) ==
      src.agg(sum("temperature")).collect().head.getLong(0) + 700)
  }

  test("duplicate coordinate cells refuse loudly (no nondeterministic last-wins)") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("zarr_dup")
      .resolve("s.zarr").toString
    // n == grid size, so a row-count check alone would pass: the dup
    // (0,0) masks the missing (0,1) — previously silent corruption
    val e = intercept[IllegalArgumentException] {
      Seq((0L, 0L, 1.0), (0L, 0L, 99.0), (1L, 0L, 3.0), (1L, 1L, 4.0))
        .toDF("t", "x", "v")
        .write.format("zarr").option("coords", "t,x").mode("overwrite").save(out)
    }
    assert(e.getMessage.contains("duplicate coordinate cell"), e.getMessage)
  }

  test("append with duplicate coordinate cells refuses loudly") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("zarr_dup_app")
      .resolve("s.zarr").toString
    Seq((0L, 0L, 1.0), (0L, 1L, 2.0)).toDF("t", "x", "v")
      .write.format("zarr").option("coords", "t,x").option("chunkOuter", "1")
      .mode("overwrite").save(out)
    val e = intercept[IllegalArgumentException] {
      Seq((1L, 0L, 3.0), (1L, 0L, 99.0), (2L, 0L, 5.0), (2L, 1L, 6.0))
        .toDF("t", "x", "v")
        .write.format("zarr").mode("append").save(out)
    }
    assert(e.getMessage.contains("duplicate coordinate cell"), e.getMessage)
  }

  test("NaN coordinate values refuse at write time, not with an executor error") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("zarr_nan")
      .resolve("s.zarr").toString
    val e = intercept[IllegalArgumentException] {
      Seq((0.5, 1.0), (Double.NaN, 2.0)).toDF("d", "v")
        .write.format("zarr").option("coords", "d").mode("overwrite").save(out)
    }
    assert(e.getMessage.contains("contains NaN"), e.getMessage)
  }

  test("writing an empty DataFrame refuses with a clear message") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("zarr_empty")
      .resolve("s.zarr").toString
    val e = intercept[IllegalArgumentException] {
      Seq((0L, 0L, 1.0)).toDF("t", "x", "v").filter("t > 100")
        .write.format("zarr").option("coords", "t,x").mode("overwrite").save(out)
    }
    assert(e.getMessage.contains("empty DataFrame"), e.getMessage)
  }

  test("df.write.format(zarr) mode semantics: errorifexists, ignore, append") {
    val out = Files.createTempDirectory("zarr_modes").resolve("m.zarr").toString
    val src = spark.read.format("zarr").load(v3).limit(700)
    def write(mode: String) = src.write.format("zarr")
      .option("coords", "time,lon,lat").mode(mode).save(out)
    write("errorifexists") // fresh path: creates
    intercept[Exception](write("errorifexists"))
    write("ignore") // existing: silently keeps
    // append with mismatched (overlapping) outer values is refused
    intercept[Exception](write("append"))
    // missing coords option is a clear error
    val out2 = Files.createTempDirectory("zarr_modes").resolve("m2.zarr").toString
    intercept[Exception](
      src.write.format("zarr").mode("overwrite").save(out2))
  }

  test("zarrVersion=3 writes a v3 store that reads back identically") {
    val out = Files.createTempDirectory("zarr_v3w").resolve("v3w.zarr").toString
    val src = spark.read.format("zarr").load(v3)
    src.write.format("zarr")
      .option("coords", "time,lon,lat").option("chunkOuter", "2")
      .option("zarrVersion", "3")
      .mode("overwrite").save(out)
    assert(Files.exists(Paths.get(out, "zarr.json")))
    assert(Files.exists(Paths.get(out, "temperature", "zarr.json")))
    assert(Files.exists(Paths.get(out, "temperature", "c", "1", "0", "0")))
    val back = spark.read.format("zarr").load(out)
    assert(back.schema == src.schema) // incl. attrs round-trip via v3 attributes
    val a = src.orderBy("time", "lon", "lat").collect().map(_.toSeq).toSeq
    val b = back.orderBy("time", "lon", "lat").collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("written stores carry consolidated metadata (v2 and v3)") {
    val src = spark.read.format("zarr").load(v3)
    for (ver <- Seq("2", "3")) {
      val out = Files.createTempDirectory("zarr_cons").resolve(s"c$ver.zarr").toString
      src.write.format("zarr").option("coords", "time,lon,lat")
        .option("zarrVersion", ver).mode("overwrite").save(out)
      if (ver == "2") assert(Files.exists(Paths.get(out, ".zmetadata")))
      else assert(new String(Files.readAllBytes(Paths.get(out, "zarr.json")))
        .contains("consolidated_metadata"))
      // consolidated discovery path reads back identically
      val back = spark.read.format("zarr").load(out)
      assert(back.schema == src.schema)
      assert(back.count() == 700)
    }
  }

  test("compressed writes (zstd, gzip; v2 and v3) read back identically and shrink chunks") {
    val src = spark.read.format("zarr").load(v3)
    val plainSize = {
      val out = Files.createTempDirectory("zarr_comp").resolve("plain.zarr")
      src.write.format("zarr").option("coords", "time,lon,lat")
        .option("chunkOuter", "7").mode("overwrite").save(out.toString)
      Files.size(out.resolve("temperature").resolve("0.0.0"))
    }
    for (comp <- Seq("zstd", "gzip", "blosc"); ver <- Seq("2", "3")) {
      val out = Files.createTempDirectory("zarr_comp").resolve(s"$comp$ver.zarr")
      src.write.format("zarr").option("coords", "time,lon,lat")
        .option("chunkOuter", "7").option("compressor", comp)
        .option("zarrVersion", ver).mode("overwrite").save(out.toString)
      val chunk = if (ver == "2") out.resolve("temperature").resolve("0.0.0")
        else out.resolve("temperature").resolve("c").resolve("0").resolve("0").resolve("0")
      assert(Files.size(chunk) < plainSize, s"$comp v$ver did not compress")
      val back = spark.read.format("zarr").load(out.toString)
      assert(back.schema == src.schema)
      val a = src.orderBy("time", "lon", "lat").collect().map(_.toSeq).toSeq
      val b = back.orderBy("time", "lon", "lat").collect().map(_.toSeq).toSeq
      assert(a == b, s"$comp v$ver round-trip mismatch")
    }
    // zlib (v2-only numcodecs codec) round-trips too
    val zl = Files.createTempDirectory("zarr_comp").resolve("zlib.zarr")
    src.write.format("zarr").option("coords", "time,lon,lat")
      .option("chunkOuter", "7").option("compressor", "zlib")
      .mode("overwrite").save(zl.toString)
    assert(Files.size(zl.resolve("temperature").resolve("0.0.0")) < plainSize)
    assert(spark.read.format("zarr").load(zl.toString)
      .orderBy("time", "lon", "lat").collect().map(_.toSeq).toSeq ==
      src.orderBy("time", "lon", "lat").collect().map(_.toSeq).toSeq)
    // unknown compressor is a clear, early error
    intercept[Exception](
      src.write.format("zarr").option("coords", "time,lon,lat")
        .option("compressor", "lzma").mode("overwrite")
        .save(Files.createTempDirectory("zarr_comp").resolve("bad.zarr").toString))
  }

  test("deltaFilter writes integer arrays with a delta filter that round-trips") {
    import org.apache.spark.sql.functions._
    // regular integer grid + a double var (delta must NOT apply to floats)
    val df = spark.range(60).select(
      (col("id") / 6).cast("long").as("t"),
      (col("id") % 6).cast("long").as("x"),
      (col("id") * 1000 + 5).as("seq"),
      (col("id") * 0.5).as("val"))
    val out = Files.createTempDirectory("zarr_delta_w").resolve("d.zarr")
    df.write.format("zarr").option("coords", "t,x").option("chunkOuter", "5")
      .option("deltaFilter", "true").option("compressor", "zstd")
      .mode("overwrite").save(out.toString)
    // integer arrays carry the filter; the float array does not
    assert(new String(Files.readAllBytes(out.resolve("seq").resolve(".zarray")))
      .contains(""""filters":[{"id":"delta""""))
    assert(new String(Files.readAllBytes(out.resolve("val").resolve(".zarray")))
      .contains(""""filters":null"""))
    val back = spark.read.format("zarr").load(out.toString)
    assert(back.orderBy("t", "x").collect().map(_.toSeq).toSeq ==
      df.orderBy("t", "x").collect().map(_.toSeq).toSeq)
    // the point of delta: a regular sequence compresses far better
    val plain = Files.createTempDirectory("zarr_delta_w").resolve("p.zarr")
    df.write.format("zarr").option("coords", "t,x").option("chunkOuter", "5")
      .option("compressor", "zstd").mode("overwrite").save(plain.toString)
    assert(Files.size(out.resolve("seq").resolve("0.0")) <
      Files.size(plain.resolve("seq").resolve("0.0")))
    // v3 has no numcodecs filters: refused early
    intercept[Exception](
      df.write.format("zarr").option("coords", "t,x").option("deltaFilter", "true")
        .option("zarrVersion", "3").mode("overwrite")
        .save(Files.createTempDirectory("zarr_delta_w").resolve("bad.zarr").toString))
  }

  test("chunkShape writes an N-dim chunk grid that reads back identically") {
    val out = Files.createTempDirectory("zarr_cshape").resolve("cs.zarr").toString
    val src = spark.read.format("zarr").load(v3)
    // 7x10x10 grid in 2x5x5 chunks -> 4x2x2 = 16 chunk files per var
    src.write.format("zarr")
      .option("coords", "time,lon,lat").option("chunkShape", "2,5,5")
      .mode("overwrite").save(out)
    assert(Files.exists(Paths.get(out, "temperature", "3.1.1"))) // edge chunk
    assert(Files.exists(Paths.get(out, "temperature", "0.0.0")))
    assert(!Files.exists(Paths.get(out, "temperature", "4.0.0")))
    val back = spark.read.format("zarr").load(out)
    val a = src.orderBy("time", "lon", "lat").collect().map(_.toSeq).toSeq
    val b = back.orderBy("time", "lon", "lat").collect().map(_.toSeq).toSeq
    assert(a == b)
    // .zstats keys cover the inner grid and pruning still works
    val stats = new String(Files.readAllBytes(Paths.get(out, "temperature", ".zstats")))
    assert(stats.contains("\"3.1.1\""))
    val filtered = back.filter(col("temperature") > 55)
    val expected = src.filter(col("temperature") > 55)
    assert(filtered.collect().map(_.toSeq).toSet == expected.collect().map(_.toSeq).toSet)
    // combined with a compressor
    val out2 = Files.createTempDirectory("zarr_cshape").resolve("cs2.zarr").toString
    src.write.format("zarr")
      .option("coords", "time,lon,lat").option("chunkShape", "2,5,5")
      .option("compressor", "blosc").option("zarrVersion", "3")
      .mode("overwrite").save(out2)
    val back2 = spark.read.format("zarr").load(out2)
    assert(back2.orderBy("time", "lon", "lat").collect().map(_.toSeq).toSeq == a)
  }

  test("missing cells become fill_value zero") {
    val out = Files.createTempDirectory("zarr_fill").resolve("partial.zarr").toString
    val partial = spark.read.format("zarr").load(v3)
      .filter(col("lat") =!= 5 || col("time") =!= 0)
    ZarrWriter.write(partial, out, coords = Seq("time", "lon", "lat"))
    val back = spark.read.format("zarr").load(out)
    assert(back.count() == 700) // grid is complete; missing cells filled
    val filled = back.filter(col("lat") === 5 && col("time") === 0)
      .agg(sum("temperature")).collect().head.getLong(0)
    assert(filled == 0L)

    // fillValueAsNull: the same cells surface as SQL NULL instead
    val nulled = spark.read.format("zarr")
      .option("fillValueAsNull", "true").load(out)
    assert(nulled.count() == 700) // row count unchanged (cells, not rows)
    val nullCells = nulled.filter(col("temperature").isNull)
    assert(nullCells.count() >= 10) // the removed slab (other zero cells may join it)
    assert(nullCells.filter(col("lat") === 5 && col("time") === 0).count() == 10)
    // COUNT(col) must NOT be answered from metadata under fill->null
    val cnt = nulled.agg(count(col("temperature"))).collect().head.getLong(0)
    assert(cnt == 700 - nullCells.count())
  }

  test("sidecar assembly is distributed: 10^4 chunks never reach the driver") {
    import spark.implicits._
    val base = Files.createTempDirectory("zarr_bigstats")
    val out = base.resolve("big.zarr").toString
    // 5000 outer steps x chunkOuter 1 x 2 data variables = 10,000
    // (chunk, var) stat partials — the set the pre-round-13 driver
    // collect() materialized in full
    val nT = 5000L
    val df = (0L until nT).flatMap(t => Seq(0L, 1L).map(x =>
      (t, x, t * 2 + x, (t + x).toDouble))).toDF("t", "x", "v", "w")
    ZarrWriter.lastStatsDriverRows = -1
    ZarrWriter.write(df, out, coords = Seq("t", "x"), chunkOuter = 1)
    // the distribution contract: the assembly job returns ONE summary
    // row per data variable, never the 10^4 per-chunk partials
    assert(ZarrWriter.lastStatsDriverRows == 2,
      s"driver received ${ZarrWriter.lastStatsDriverRows} rows, want 2 (one per variable)")

    // sidecar content: every chunk present, sums complete, total exact
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val stats = mapper.readTree(Files.readAllBytes(Paths.get(out, "v", ".zstats")))
    assert(stats.get("chunks").size() == nT.toInt)
    assert(stats.get("complete").asBoolean())
    val total = stats.get("total")
    assert(total.get(0).asLong() == (0L until nT).map(t => t * 4 + 1).sum)
    assert(total.get(1).asLong() == nT * 2)
    // spot-check one chunk entry: t=7 slab holds v in [14, 15]
    val c7 = stats.get("chunks").get("7.0")
    assert(c7.get(0).asDouble() == 14.0 && c7.get(1).asDouble() == 15.0)

    // executor-assembled sidecars are canonically ordered → a second
    // write of the same frame is byte-identical (stronger than the
    // old driver path, whose entry order followed collect order)
    val out2 = base.resolve("big2.zarr").toString
    ZarrWriter.write(df, out2, coords = Seq("t", "x"), chunkOuter = 1)
    assert(java.util.Arrays.equals(
      Files.readAllBytes(Paths.get(out, "v", ".zstats")),
      Files.readAllBytes(Paths.get(out2, "v", ".zstats"))))

    // reads stay exact through the distributed sidecars
    val back = spark.read.format("zarr").load(out)
    assert(back.count() == nT * 2)
    assert(back.agg(sum("v")).collect().head.getLong(0) ==
      (0L until nT).map(t => t * 4 + 1).sum)

    // append twin: the merge job is distributed the same way
    val extra = Seq((nT, 0L, nT * 2, nT.toDouble), (nT, 1L, nT * 2 + 1, nT + 1.0))
      .toDF("t", "x", "v", "w")
    ZarrWriter.lastStatsDriverRows = -1
    ZarrWriter.append(extra, out)
    assert(ZarrWriter.lastStatsDriverRows == 2,
      s"append merge returned ${ZarrWriter.lastStatsDriverRows} rows, want 2")
    val merged = mapper.readTree(Files.readAllBytes(Paths.get(out, "v", ".zstats")))
    assert(merged.get("chunks").size() == nT.toInt + 1)
    assert(merged.get("complete").asBoolean())
    assert(merged.get("total").get(0).asLong() ==
      (0L until nT).map(t => t * 4 + 1).sum + nT * 4 + 1)
    assert(spark.read.format("zarr").load(out).count() == (nT + 1) * 2)
  }

  test("fresh chunk-grain coordinate + crash-safe legacy re-chunk (both windows readable)") {
    import spark.implicits._
    val base = Files.createTempDirectory("zarr_legacyrechunk")
    def frame(ts: Range) = ts.flatMap(t => Seq(0L, 1L).map(x =>
      (t.toLong, x, t.toLong * 2 + x))).toDF("t", "x", "v")
    val out = base.resolve("s.zarr").toString
    ZarrWriter.write(frame(0 until 8), out, coords = Seq("t", "x"), chunkOuter = 4)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    // the FRESH layout is already chunk-grain: chunks metadata says
    // outerChunk and the axis spans two chunk files — so a normal
    // append never re-chunks the coordinate at all
    val t0 = mapper.readTree(Files.readAllBytes(Paths.get(out, "t", ".zarray")))
    assert(t0.get("chunks").get(0).asInt() == 4, "fresh outer coordinate must be chunk-grain")
    assert(Files.exists(Paths.get(out, "t", "0")) && Files.exists(Paths.get(out, "t", "1")))

    // forge the LEGACY single-chunk layout (pre-chunk-grain fresh
    // writes / external stores): chunks metadata = axis length, one
    // whole-axis chunk file, consolidated copy in agreement
    def setChunksMeta(n: Int): Unit = {
      val p = Paths.get(out, "t", ".zarray")
      val node = mapper.readTree(Files.readAllBytes(p))
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      node.withArray("chunks").set(0,
        com.fasterxml.jackson.databind.node.IntNode.valueOf(n))
      Files.write(p, mapper.writeValueAsBytes(node))
      val zm = Paths.get(out, ".zmetadata")
      val zmNode = mapper.readTree(Files.readAllBytes(zm))
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      zmNode.get("metadata").asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        .set[com.fasterxml.jackson.databind.JsonNode]("t/.zarray",
          mapper.readTree(Files.readAllBytes(p)))
      Files.write(zm, mapper.writeValueAsBytes(zmNode))
    }
    setChunksMeta(8)
    val whole = java.nio.ByteBuffer.allocate(8 * 8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    (0 until 8).foreach(i => whole.putLong(i * 8, i.toLong))
    Files.write(Paths.get(out, "t", "0"), whole.array())
    Files.delete(Paths.get(out, "t", "1"))
    assert(spark.read.format("zarr").load(out).count() == 16, "forged legacy store must read")

    // append through the one-time re-chunk, reading the store AT both
    // crash windows via the deterministic seam
    var preflip = 0; var postflip = 0
    ZarrWriter.coordRewriteTestHook = {
      case "preflip" =>
        preflip += 1
        // only never-addressed chunk files have landed: metadata (both
        // discovery paths) still OLD → the store reads at its old shape
        val m = mapper.readTree(Files.readAllBytes(Paths.get(out, "t", ".zarray")))
        assert(m.get("shape").get(0).asInt() == 8 && m.get("chunks").get(0).asInt() == 8)
        val df = spark.read.format("zarr").load(out)
        assert(df.count() == 16)
        assert(df.agg(max("t")).collect().head.getLong(0) == 7L)
      case "postflip" =>
        postflip += 1
        // metadata flipped (per-array AND consolidated), legacy
        // whole-axis chunk 0 not yet overwritten: it reads as an
        // OVERSIZED chunk the decoders truncate to the correct prefix
        val m = mapper.readTree(Files.readAllBytes(Paths.get(out, "t", ".zarray")))
        assert(m.get("chunks").get(0).asInt() == 4)
        val zm = mapper.readTree(Files.readAllBytes(Paths.get(out, ".zmetadata")))
        assert(zm.get("metadata").get("t/.zarray").get("chunks").get(0).asInt() == 4,
          "consolidated metadata must flip before the colliding overwrite")
        val raw = Files.readAllBytes(Paths.get(out, "t", "0"))
        assert(raw.length == 8 * 8, "legacy oversized chunk 0 still in place at postflip")
        val df = spark.read.format("zarr").load(out)
        assert(df.count() == 24)
        assert(df.select(sum("t")).collect().head.getLong(0) == 2L * (0 until 12).sum)
      case _ => ()
    }
    try ZarrWriter.append(frame(8 until 12), out)
    finally ZarrWriter.coordRewriteTestHook = _ => ()
    assert(preflip == 1 && postflip == 1, "both crash-window probes must have run")
    // converged: steady-state chunk-grain layout, exact data
    val t1 = mapper.readTree(Files.readAllBytes(Paths.get(out, "t", ".zarray")))
    assert(t1.get("chunks").get(0).asInt() == 4)
    assert(Files.readAllBytes(Paths.get(out, "t", "0")).length == 4 * 8)
    val back = spark.read.format("zarr").load(out)
    assert(back.count() == 24)
    assert(back.agg(sum("v")).collect().head.getLong(0) ==
      (0L until 12L).map(t => t * 4 + 1).sum)
    // a second append rides the steady-state path: the seam still
    // fires but chunk 0 is untouched (no legacy file to defer)
    val before0 = Files.readAllBytes(Paths.get(out, "t", "0"))
    ZarrWriter.append(frame(12 until 16), out)
    assert(java.util.Arrays.equals(before0, Files.readAllBytes(Paths.get(out, "t", "0"))))
    assert(spark.read.format("zarr").load(out).count() == 32)
  }

  test("append: chunk-grain coordinate rewrite + canonical write-vs-append sidecars") {
    import spark.implicits._
    val base = Files.createTempDirectory("zarr_appendchunk")
    def frame(ts: Range) = ts.flatMap(t => Seq(0L, 1L).map(x =>
      (t.toLong, x, t.toLong * 2 + x))).toDF("t", "x", "v")
    // Store A: fresh [0,40) at chunkOuter 4 (10 full chunks), then
    // append [40,48) — 12 chunks total, enough that a string sort of
    // chunk keys would misplace "10.0"/"11.0" before "2.0".
    val a = base.resolve("a.zarr").toString
    ZarrWriter.write(frame(0 until 40), a, coords = Seq("t", "x"), chunkOuter = 4)
    ZarrWriter.lastCoordRewriteMaxAllocBytes = -1L
    ZarrWriter.append(frame(40 until 48), a)
    // bounded driver allocation: one outer chunk (4 x int64), never
    // the whole 48-step grown coordinate
    assert(ZarrWriter.lastCoordRewriteMaxAllocBytes == 4L * 8,
      s"coord rewrite allocated ${ZarrWriter.lastCoordRewriteMaxAllocBytes} B, " +
        "want one 4-element chunk buffer")
    // the coordinate is now chunk-grain on disk: chunks metadata says
    // outerChunk, and the grid has 12 chunk files
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val tMeta = mapper.readTree(Files.readAllBytes(Paths.get(a, "t", ".zarray")))
    assert(tMeta.get("chunks").get(0).asInt() == 4)
    assert((0 until 12).forall(c => Files.exists(Paths.get(a, "t", s"$c.0"))
      || Files.exists(Paths.get(a, "t", s"$c"))))
    // Store B: the equivalent fresh write — data read-back identical,
    // and the .zstats sidecar BYTE-identical (canonical parsed-index
    // entry order on the append-merge path, r13 ADVICE)
    val b = base.resolve("b.zarr").toString
    ZarrWriter.write(frame(0 until 48), b, coords = Seq("t", "x"), chunkOuter = 4)
    assert(java.util.Arrays.equals(
      Files.readAllBytes(Paths.get(a, "v", ".zstats")),
      Files.readAllBytes(Paths.get(b, "v", ".zstats"))),
      "write-then-append sidecar must be byte-identical to the fresh write")
    val backA = spark.read.format("zarr").load(a).orderBy("t", "x").collect()
    val backB = spark.read.format("zarr").load(b).orderBy("t", "x").collect()
    assert(backA.toSeq == backB.toSeq)
    // a SECOND append rides the now-chunked layout: only tail + new
    // chunks change (same bounded allocation), data stays exact
    ZarrWriter.lastCoordRewriteMaxAllocBytes = -1L
    ZarrWriter.append(frame(48 until 52), a)
    assert(ZarrWriter.lastCoordRewriteMaxAllocBytes == 4L * 8)
    assert(spark.read.format("zarr").load(a).count() == 52 * 2)
    assert(spark.read.format("zarr").load(a).agg(sum("v")).collect().head.getLong(0)
      == (0L until 52L).map(t => t * 4 + 1).sum)
  }

  test("non-finite data values: no sidecar entry, every cell reads back, filters stay exact") {
    import spark.implicits._
    val base = Files.createTempDirectory("zarr_nonfinite")
    // x = 1 of outer steps 1, 3 and 5 (one chunk each) holds NaN, +Inf, -Inf
    val bad = Map(1L -> Double.NaN, 3L -> Double.PositiveInfinity, 5L -> Double.NegativeInfinity)
    def frame(ts: Range) = ts.flatMap(t => Seq(0L, 1L).map(x =>
      (t.toLong, x, if (x == 1L) bad.getOrElse(t.toLong, t * 2.0 + x) else t * 2.0 + x)))
      .toDF("t", "x", "v")
    val written = base.resolve("w.zarr").toString
    ZarrWriter.write(frame(0 until 6), written, coords = Seq("t", "x"), chunkOuter = 1)
    val appended = base.resolve("a.zarr").toString
    ZarrWriter.write(frame(0 until 2), appended, coords = Seq("t", "x"), chunkOuter = 1)
    ZarrWriter.append(frame(2 until 6), appended)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val want = frame(0 until 6).collect().map(_.toString).sorted.toSeq
    for (out <- Seq(written, appended)) {
      val chunks = mapper.readTree(Files.readAllBytes(Paths.get(out, "v", ".zstats"))).get("chunks")
      assert(Seq("1.0", "3.0", "5.0").forall(k => !chunks.has(k)), chunks.toString)
      assert(Seq("0.0", "2.0", "4.0").forall(chunks.has), chunks.toString)
      val back = spark.read.format("zarr").option("minRowsPerPartition", "1").load(out)
      val rows = back.collect()
      assert(rows.map(_.toString).sorted.toSeq == want)
      val again = spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq), back.schema)
      assert(back.where(col("v") > 1).collect().map(_.toString).sorted.toSeq ==
        again.where(col("v") > 1).collect().map(_.toString).sorted.toSeq)
    }
  }
}
