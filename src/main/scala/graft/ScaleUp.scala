package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic sf1 (10x sf0.1) test-data generator for the scale
  * proof (SCALE.md): the driver ships sf0.001/0.01/0.1 only, and the
  * round-7 mandate is to demonstrate per-query scaling exponents on a
  * 10x corpus. Writes `<dst>/{table}.parquet` mirroring the driver's
  * schema exactly.
  *
  * Design notes (what "10x the same data" must mean per table):
  *
  *  - TPC-H tables + events: 10 key-shifted replicas. Every primary
  *    AND foreign key shifts by `replica * count`, so referential
  *    integrity and join fan-outs are preserved replica-by-replica —
  *    joins, aggregations and windows do exactly 10x the work.
  *    region/nation stay fixed (dimension tables are SF-invariant in
  *    TPC-H).
  *
  *  - documents: id-shifted replication, text unchanged by default
  *    (optional 4th arg `perturb` word-permutes replicas r > 0 —
  *    see [[perturbDocuments]]). NOTE the
  *    consequence, accounted for in SCALE.md: the dedup family's
  *    candidate volume is sum(df^2) over grams below the 5% relative
  *    df cut, and replicating a fixed-31-word-vocabulary corpus
  *    scales every gram's df with N, so that volume grows ~100x on
  *    10x rows (measured: 2.08e6 -> 2.08e8). This is a property of
  *    the driver's corpus itself — its own generator at 10x has the
  *    same profile, and a Heaps-style synthetic corpus we prototyped
  *    (unique tokens, Markov-constrained mutations) measured WORSE
  *    (7.2e8) because the tiny vocabulary concentrates every
  *    token-adjacency family just under the cut. So the scale run
  *    reports time ratio AGAINST the data-expected work ratio per
  *    query, instead of pretending 10x rows means 10x work.
  *
  *  - embeddings: 10 replicas under per-replica signed permutations
  *    of the 64 components (replica 0 = identity). An isometry keeps
  *    every intra-replica distance/cosine EXACTLY as sf0.1 (ANN
  *    recall structure, k-means geometry, near-dup pairs), while
  *    cross-replica cosines behave like unrelated vectors.
  *
  * Everything is seeded arithmetic — two runs produce byte-identical
  * logical content.
  */
object ScaleUp {

  private val R = 10 // replicas

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "localdata/sf1"
    // 3rd arg: the SOURCE's multiple of sf0.1 (key spans are sf0.1 row
    // counts). `ScaleUp localdata/sf1 localdata/sf10 10` composes a
    // second 10x on top of sf1 without key collisions.
    val srcFactor = if (args.length > 2) args(2).toLong else 1L
    // 4th arg `perturb`: word-permute each document replica r > 0
    // (content-keyed, deterministic). Byte-identical replication makes
    // the TRUE near-dup answer grow ~R² (every doc gains R identical
    // copies, Σ cluster² band-join intermediates) — a 99%-duplicate
    // corpus no real pipeline sees. The permutation keeps every
    // corpus statistic the dedup family keys on (char length, word
    // multiset, so token counts and intra-word grams) while replacing
    // ~80% of a doc's distinct char-5-grams (the cross-word-boundary
    // ones), so cross-replica pairs leave the near-dup families and
    // the duplication RATE stays at the source corpus's rate at every
    // scale — the realistic profile for sketch-family scale probes.
    val perturb = args.length > 3 && args(3) == "perturb"
    val spark = GraftSession(GraftSession.cpus(8))

    copyAsIs(spark, src, dst, "region")
    copyAsIs(spark, src, dst, "nation")
    replicate(spark, src, dst, "customer", Map("c_custkey" -> 15000L * srcFactor))
    replicate(spark, src, dst, "supplier", Map("s_suppkey" -> 1000L * srcFactor))
    replicate(spark, src, dst, "part", Map("p_partkey" -> 20000L * srcFactor))
    replicate(spark, src, dst, "orders",
      Map("o_orderkey" -> 150000L * srcFactor, "o_custkey" -> 15000L * srcFactor))
    replicate(spark, src, dst, "lineitem",
      Map("l_orderkey" -> 150000L * srcFactor, "l_partkey" -> 20000L * srcFactor, "l_suppkey" -> 1000L * srcFactor))
    replicate(spark, src, dst, "events",
      Map("event_id" -> 100000L * srcFactor, "user_id" -> 1500L * srcFactor))
    embeddings(spark, src, dst, srcFactor)
    if (perturb)
      publish(perturbDocuments(
        spark.read.parquet(s"$src/documents.parquet"), srcFactor), dst, "documents")
    else
      replicate(spark, src, dst, "documents", Map("doc_id" -> 5000L * srcFactor))
    println(s"[scaleup] wrote sf1 tables to $dst")
    spark.stop()
  }

  /** The driver ships each table as ONE parquet FILE (not a Spark
    * output directory); consumers depend on that — the streaming
    * source symlinks `<dir>/events.parquet` as a file, and a
    * directory there silently streams zero rows. Write to a temp dir,
    * then promote the single part file. */
  private def publish(df: org.apache.spark.sql.DataFrame, dst: String, t: String): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val tmp = s"$dst/.tmp_$t"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = Files.list(Paths.get(tmp)).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().orElseThrow(() => new IllegalStateException(s"no part file in $tmp"))
    val target = Paths.get(dst, s"$t.parquet")
    if (Files.isDirectory(target)) { // leftover directory layout from a prior run
      Files.walk(target).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
    }
    Files.move(part, target, StandardCopyOption.REPLACE_EXISTING)
    Files.walk(Paths.get(tmp)).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.delete(p))
  }

  private def copyAsIs(s: SparkSession, src: String, dst: String, t: String): Unit =
    publish(s.read.parquet(s"$src/$t.parquet"), dst, t)

  /** Union of R key-shifted copies in ONE scan: explode a replica
    * index, shift the listed key columns by `replica * span`. */
  private def replicate(s: SparkSession, src: String, dst: String,
                        t: String, spans: Map[String, Long]): Unit = {
    val df = s.read.parquet(s"$src/$t.parquet")
    val shifted = df
      .withColumn("__r", explode(sequence(lit(0), lit(R - 1))))
      .select(df.columns.map { c =>
        spans.get(c) match {
          case Some(span) => (col(c) + col("__r").cast("long") * span).cast(df.schema(c).dataType).as(c)
          case None => col(c)
        }
      }: _*)
    publish(shifted, dst, t)
  }

  /** R id-shifted document replicas where replica r > 0 gets a
    * deterministic word-order permutation keyed by (md5(text), r):
    * identical source texts permute identically (within-replica
    * duplicate structure preserved byte-for-byte), different replicas
    * of the same text diverge. The sort key is a hash of the content
    * seed and the word POSITION only — a pure relabeling of positions
    * — so the word multiset, char length (single-space join), and
    * every per-doc count statistic are exactly preserved; `n_chars`
    * is recomputed and equals the source value on the driver's
    * single-spaced corpus. Engine-side and fully deterministic (no
    * shuffle() / rand()). */
  private[graft] def perturbDocuments(df: DataFrame, srcFactor: Long): DataFrame =
    // __sf salts the permutation seed with THIS run's srcFactor:
    // composed runs (sf0.1 -> sf1p -> sf10p) retain each source text as
    // replica 0, so an unsalted seed would make stage 2's perturb(text,
    // r) reproduce stage 1's output for the retained texts — measured
    // as a systematic 9% cross-stage exact-dup rate at sf10p.
    // Composition always multiplies srcFactor, so the salt is unique
    // per stage.
    // widen() before the 10x explode + per-word permutation: the source
    // is one parquet file = one input split, so without it the whole
    // perturbation ran in a single task.
    graft.operators.Tables.widen(df)
      .withColumn("__sf", lit(srcFactor))
      .withColumn("__r", explode(sequence(lit(0), lit(R - 1))))
      .withColumn("text", when(col("__r") === 0, col("text")).otherwise(expr(
        """array_join(
             transform(
               array_sort(
                 transform(split(text, ' '),
                   (w, i) -> struct(
                     xxhash64(concat(md5(text), ':', CAST(__sf AS STRING),
                                     ':', CAST(__r AS STRING),
                                     ':', CAST(i AS STRING))) AS k,
                     i AS i, w AS w))),
               s -> s.w),
             ' ')""")))
      // schema-preserving projection (like replicate()): any column the
      // source grows is passed through unchanged; only the three columns
      // the perturbation touches are special-cased.
      .select(df.columns.map {
        case "doc_id" =>
          (col("doc_id") + col("__r").cast("long") * lit(5000L * srcFactor))
            .cast(df.schema("doc_id").dataType).as("doc_id")
        case "n_chars" =>
          length(col("text")).cast(df.schema("n_chars").dataType).as("n_chars")
        case c => col(c)
      }: _*)

  /** Per-replica signed permutation (seeded, replica 0 = identity)
    * applied component-wise; vec_id shifts by replica * 2000. */
  private def embeddings(s: SparkSession, src: String, dst: String, srcFactor: Long): Unit = {
    val df = s.read.parquet(s"$src/embeddings.parquet")
    val dim = 64
    // driver-side 64-element permutations; tiny and deterministic
    val perms: Seq[(Array[Int], Array[Int])] = (0 until R).map { r =>
      if (r == 0) (Array.tabulate(dim)(identity), Array.fill(dim)(1))
      else {
        val rnd = new java.util.Random(0x5ca1eL * 31 + r)
        val p = Array.tabulate(dim)(identity)
        var i = dim - 1
        while (i > 0) { val j = rnd.nextInt(i + 1); val t = p(i); p(i) = p(j); p(j) = t; i -= 1 }
        (p, Array.fill(dim)(if (rnd.nextBoolean()) 1 else -1))
      }
    }
    val out = (0 until R).map { r =>
      val (p, sg) = perms(r)
      val comps = (0 until dim).map(i =>
        element_at(col("embedding"), p(i) + 1) * lit(sg(i).toFloat))
      df.select(
        (col("vec_id") + lit(r * 2000L * srcFactor)).as("vec_id"),
        array(comps: _*).cast("array<float>").as("embedding"),
        col("label"))
    }.reduce(_.unionAll(_))
    publish(out, dst, "embeddings")
  }

}
