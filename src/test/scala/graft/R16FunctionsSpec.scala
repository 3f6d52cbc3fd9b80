package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{BitSetCounts, BpeSegment, WindowHashes}
import graft.operators.Tables

/** The r16 custom expressions must be bit-identical to the SQL
  * formulations they replaced (which in turn match the DuckDB oracle):
  * WindowHashes == xxhash64 over the joined window string, BitSetCounts
  * == the 30 per-bit sum(CASE) aggregates, BpeSegment's byte-range scan
  * == the chained-aggregate merge rounds (pinned separately against the
  * priority-queue reference in T13BpeApplySpec). */
class R16FunctionsSpec extends AnyFunSuite {
  import TestSession._

  private val W = graft.pipeline.Dedup.d9WindowTokens

  test("WindowHashes == xxhash64(array_join(slice(split)))) on the corpus") {
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
    val ref = docs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .where(size(col("t")) >= W)
      .select(col("doc_id"), expr(
        s"""transform(sequence(1, size(t) - ${W - 1}),
           |  i -> xxhash64(array_join(slice(t, i, $W), ' ')))""".stripMargin)
        .as("hs"))
    val fast = docs.select(col("doc_id"), WindowHashes(col("text"), W).as("hs"))
      .where(size(col("hs")) >= 1)
    assert(ref.count() > 0)
    assert(ref.exceptAll(fast).count() == 0 && fast.exceptAll(ref).count() == 0)
  }

  test("WindowHashes edge cases: empties, multi-byte, repeated/trailing spaces") {
    import spark.implicits._
    val texts = Seq(
      "", " ", "  ", "a", "a b", "one two three four five six seven eight",
      "one two three four five six seven eight nine",
      "a  b   c d e f g h i", // empty tokens from consecutive spaces
      "trailing space a b c d e f g h ", // trailing empty token
      "héllo wörld ünïcode ✓ ✗ 漢字 かな mixed bytes here",
      "tab\tis not a separator only space a b c d e f")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val rows = df.select(
      WindowHashes(col("text"), W).as("fast"),
      expr(
        s"""CASE WHEN size(split(text, ' ')) >= $W THEN
           |  transform(sequence(1, size(split(text, ' ')) - ${W - 1}),
           |    i -> xxhash64(array_join(slice(split(text, ' '), i, $W), ' ')))
           |ELSE array() END""".stripMargin).as("ref")).collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1))
    }
  }

  test("BitSetCounts + COUNT(*) reproduce the 30 sum(CASE) bit sums") {
    val g = Tables.load(spark, sf, "documents")
      .select(col("doc_id"),
        xxhash64(col("text")).as("h")) // any long column works for parity
    val nBits = 30
    val ref = g.groupBy("doc_id").agg(
      sum(expr(s"CASE WHEN (shiftright(h, 0) & 1) = 1 THEN 1 ELSE -1 END")).as("s0"),
      (1 until nBits).map(k =>
        sum(expr(s"CASE WHEN (shiftright(h, $k) & 1) = 1 THEN 1 ELSE -1 END")).as(s"s$k")): _*)
    val fast = g.groupBy("doc_id").agg(
      BitSetCounts(col("h"), nBits).as("cnt"), count(lit(1)).as("n"))
      .select(col("doc_id") +:
        (0 until nBits).map(k =>
          (col("cnt").getItem(k) * 2 - col("n")).as(s"s$k")): _*)
    assert(ref.count() > 0)
    assert(ref.exceptAll(fast).count() == 0 && fast.exceptAll(ref).count() == 0)
  }

  test("GramCodes == the transform/element_at polynomial, ASCII and BMP unicode") {
    import spark.implicits._
    val corpus = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    val extra = Seq("héllo wörld — ünïcode 漢字テスト", "abcd", "abcde", "",
      "exactly5", "ça va très bien aujourd'hui").zipWithIndex
      .map { case (t, i) => (100000L + i, t) }.toDF("doc_id", "text")
    val docs = corpus.unionByName(extra).filter(length(col("text")) >= 5)
    val ref = docs
      .select(col("doc_id"),
        expr("transform(split(text, ''), c -> CAST(ascii(c) AS BIGINT))").as("ca"))
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(ca) - 4),
          |  i -> element_at(ca, i) * 923521 + element_at(ca, i + 1) * 29791
          |     + element_at(ca, i + 2) * 961 + element_at(ca, i + 3) * 31
          |     + element_at(ca, i + 4))""".stripMargin)).as("code"))
    val fast = docs.select(col("doc_id"),
      explode(graft.functions.GramCodes(col("text"))).as("code"))
    assert(ref.count() > 0)
    assert(ref.exceptAll(fast).count() == 0 && fast.exceptAll(ref).count() == 0)
  }

  test("FloatPlaneDot == the aggregate(zip_with) double fold bit-for-bit") {
    val plane = (0 until 64).map(d => ((7 * 131 + d * 137) % 997) / 997.0 - 0.5)
    val e = Tables.load(spark, sf, "embeddings")
    val arr = array(plane.map(lit): _*)
    val ref = e.select(col("vec_id"),
      aggregate(zip_with(col("embedding"), arr,
        (x, y) => x.cast("double") * y), lit(0.0), (acc, v) => acc + v).as("dot"))
    val fast = e.select(col("vec_id"),
      graft.functions.FloatPlaneDot(col("embedding"), plane).as("dot"))
    assert(ref.count() > 0)
    assert(ref.exceptAll(fast).count() == 0 && fast.exceptAll(ref).count() == 0)
  }

  test("two FloatPlaneDot calls over a non-nullable column compile in one stage") {
    // array(...) of non-null floats is a non-nullable child: its code is
    // emitted with no enclosing block, so both calls share one scope
    val emb = array((0 until 4).map(k => (col("id") * (k + 1) - 7).cast("float")): _*)
    val (p1, p2) = (Seq(0.5, -0.25, 0.125, 1.0), Seq(-1.0, 0.75, 0.0, 0.5))
    val q = spark.range(0, 200).select(col("id"),
      graft.functions.FloatPlaneDot(emb, p1).as("a"),
      graft.functions.FloatPlaneDot(emb, p2).as("b"))
    assert(!spark.range(1).select(emb).schema.head.nullable)
    def run(settings: (String, String)*): Seq[org.apache.spark.sql.Row] = {
      val saved = settings.map { case (k, _) => k -> spark.conf.getOption(k) }
      settings.foreach { case (k, v) => spark.conf.set(k, v) }
      try q.orderBy("id").collect().toSeq
      finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    // fallback off: a compile error fails the query instead of silently
    // dropping to interpreted evaluation
    val codegen = run("spark.sql.codegen.fallback" -> "false",
      "spark.sql.codegen.wholeStage" -> "true", "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")
    val interpreted = run("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    assert(codegen.length == 200)
    assert(codegen == interpreted)
    val r = codegen(3)
    val v = (0 until 4).map(k => (3L * (k + 1) - 7).toFloat.toDouble)
    assert(r.getDouble(1) == v.zip(p1).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y })
    assert(r.getDouble(2) == v.zip(p2).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y })
  }

  test("BpeSegment handles multi-byte words and empty merge tables") {
    import spark.implicits._
    val wc = Seq(("héllo", 1L), ("日本語", 1L), ("aaa", 1L), ("x", 1L))
      .toDF("word", "c")
    val seg = wc.select(col("word"),
        BpeSegment(col("word"), Seq(("a", "a"), ("h", "é"))).as("syms"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(seg("héllo") == Seq("hé", "l", "l", "o"))
    assert(seg("日本語") == Seq("日", "本", "語"))
    assert(seg("aaa") == Seq("aa", "a")) // leftmost-greedy
    assert(seg("x") == Seq("x"))
    val none = wc.select(BpeSegment(col("word"), Nil).as("syms"))
      .collect().map(_.getSeq[String](0))
    assert(none.exists(_ == Seq("日", "本", "語")))
  }

  test("BpeSegment on an empty word yields an empty array") {
    import spark.implicits._
    val merges = Seq(("a", "b"))
    // the static kernel generated code calls, and the interpreted eval
    val kernel = BpeSegment.segment(org.apache.spark.unsafe.types.UTF8String.fromString(""),
      Array("a".getBytes("UTF-8"), "b".getBytes("UTF-8")))
    assert(kernel.numElements() == 0)
    val interpreted = BpeSegment(
      org.apache.spark.sql.catalyst.expressions.Literal(""), merges).eval()
    assert(interpreted.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].numElements() == 0)
    val segs = Seq("", "ab").toDF("word")
      .select(col("word"), BpeSegment(col("word"), merges).as("syms"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(segs == Map("" -> Seq.empty[String], "ab" -> Seq("ab")))
  }
}
