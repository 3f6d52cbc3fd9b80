package graft.fuzz

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorOps
import graft.operators.Tables
import graft.pipeline.Dedup

/** Randomized differential fuzz for the PIPELINE operator family —
  * the analogue of [[SqlFuzz]] (relational surface) and [[ZarrFuzz]]
  * (connector pushdowns) for the dedup/similarity operators: each
  * seed draws an operator family, PARAMETERS (window width, duplicate
  * threshold, cosine threshold, top-k), and a corpus SLICE (a SQL
  * predicate applied identically on both engines), then runs the
  * Spark implementation and renders the equivalent DuckDB oracle.
  * The fixed gate proves each operator at ONE parameter point; this
  * proves the parameter space — including both sides of dispatch
  * boundaries the gate can only see one side of (d5's LSH-vs-tiled
  * threshold at 0.8, sliced vs whole-corpus candidate sets).
  *
  * Families:
  *  - `span_detect` — [[Dedup.spanDetect]], W ∈ 4..12, minDocs ∈ {2,3}
  *  - `span_apply`  — [[Dedup.spanApply]], same space
  *  - `exact_dedup` — [[Dedup.exactDedup]] over a slice
  *  - `emb_pairs`   — [[Dedup.embeddingPairs]], θ drawn across BOTH
  *    sides of [[Dedup.d5LshThreshold]] (exact tiled vs banded LSH)
  *  - `ann_topk`    — brute-force cosine top-k, k/probes seeded
  *  - `ngram_pairs` — [[Dedup.ngramPairs]], df cut (maxDf, dfShare)
  *    and Jaccard θ seeded: varying dfShare swings rare-gram density,
  *    exercising the window-DF cut and the bucketPairs dispatch the
  *    gate sees at one density only
  *  - `minhash_pairs` — [[Dedup.minhashPairs]], signature-agreement
  *    θ ∈ {0.5, 0.75, 1.0} over slices (bands/perms fixed: they
  *    define the sketch)
  *  - `simhash_pairs` — [[Dedup.simhashPairs]], Hamming cut ∈ {1,2,3}
  *    (≤ 3 by the 4-band pigeonhole bound) over slices
  *  - `sem_dedup` — [[Dedup.semanticDedup]], targetClusterSize drawn
  *    so k crosses the flat/hierarchical dispatch at
  *    [[Dedup.d8FlatMaxK]] from both sides; θ ∈ {0.3, 0.4, 0.5}
  *  - `kmeans` — [[graft.pipeline.Similarity.kmeansClusters]], seed
  *    count k ∈ {2..16} over slices
  *  - `ann_ivf` — [[graft.pipeline.Similarity.ivfTopK]], nprobe /
  *    centroid stride / top-k / query count seeded
  *  - `decon` — [[Dedup.fuzzyDecontaminate]], agreement θ and the
  *    eval-residue modulus seeded (the train/eval split moves)
  *  - `bpe_apply` — [[graft.pipeline.TextAnalysis.bpeApply]], merge
  *    table size × slice × broadcast/shuffle vocab cut (both sides)
  *  - `incr_dedup` — [[Dedup.incrementalDedup]], agreement θ × batch
  *    modulus × broadcast/shuffle ingest cut
  *  - `quality` — [[graft.pipeline.TextAnalysis.qualityClassify]],
  *    weight-table size × slice × broadcast/shuffle cut
  */
object PipeFuzz {

  /** Grammar version — stamped into the runner's fuzz_meta.json; bump
    * on ANY change to [[gen]]'s distribution (seeds remap).
    * v2: ngram_pairs family added. v3: minhash_pairs + simhash_pairs.
    * v4: clustering family (sem_dedup across the flat/hier dispatch,
    * kmeans k, ann_ivf nprobe/stride/topK) + pmod-rendered slices.
    * v5: decon family (d11 theta x evalMod).
    * v6: NULL-text lane (a residue class of texts nullified via the
    * same CASE expression on both engines — would have caught the r12
    * d9/d10 NULL-coalesce divergence by construction) + bpe_apply
    * family (t13 merge-table size x slice x null lane).
    * v7: bpe_apply seeds additionally draw the broadcast/shuffle
    * vocab cut ([[TextAnalysis.t13BcastMaxVocab]]) from BOTH sides —
    * cut 0 forces every vocab onto the shuffled-hash plan, the
    * default cut keeps fuzz corpora on the broadcast plan; the runner
    * requires both dispatch counters nonzero (results must be
    * dispatch-invariant).
    * v8: incr_dedup family (d13 theta x batch modulus x broadcast
    * cut — the persisted-index ingest join) and quality family (t14
    * weight-table size x slice x broadcast cut); the ann_ivf/decon
    * tail rolls shrink to make room (seeds ≥ roll 90 remap).
    * v9: the quality cut pairs with the slice draw instead of a coin
    * (unsliced → shuffle side, sliced → broadcast side); the oracle
    * SQL of every seed is unchanged. */
  val grammarVersion = 9

  def name(seed: Long): String = f"pf_$seed%04d"

  final case class Gen(family: String, tag: String,
      fn: (SparkSession, String) => DataFrame, sql: String,
      nullLane: Boolean = false)

  private val langs = Seq("en", "de", "fr", "es", "zh")

  /** Residue-class predicate rendered with EXPLICIT pmod arithmetic —
    * `((id % m) + m) % m` parses and evaluates identically in Spark
    * and DuckDB (both have sign-preserving `%`), so the residue
    * classes stay exhaustive even on a corpus with negative ids. The
    * gate corpora happen to have non-negative ids, but the invariant
    * is now enforced by the rendering, not assumed of the data (the
    * c5/d5 oracle pmod lesson, round 11 ADVICE). */
  private def residue(idCol: String, m: Int, rClass: Int): String =
    s"(($idCol % $m) + $m) % $m = $rClass"

  /** Doc-table slice predicates: none / language / doc_id residue. */
  private def docSlice(r: Random): String = r.nextInt(10) match {
    case 0 | 1 | 2 | 3 => ""
    case 4 | 5 | 6     => s"lang = '${langs(r.nextInt(langs.size))}'"
    case _ =>
      val m = 2 + r.nextInt(3)
      residue("doc_id", m, r.nextInt(m))
  }

  /** NULL-text lane: 1 seed in 4 of each text family nullifies a
    * residue class of texts — the SAME CASE expression evaluates on
    * both engines ([[graft.pipeline.TextAnalysis.corpusRef]] renders
    * it into the oracle corpus), so NULL-handling divergences (Spark
    * `size(split(NULL))` = −1 vs DuckDB `len(NULL)` = NULL) surface
    * as hash mismatches instead of review findings. */
  private def nullText(r: Random): String =
    if (r.nextInt(4) != 0) "text"
    else {
      val m = 2 + r.nextInt(3)
      s"CASE WHEN ${residue("doc_id", m, r.nextInt(m))} THEN NULL ELSE text END"
    }

  private def nullTag(textSql: String): String =
    if (textSql == "text") "" else " nulltext=[on]"

  private def vecSlice(r: Random): String = r.nextInt(4) match {
    case 0 | 1 => ""
    case _ =>
      val m = 2 + r.nextInt(3)
      residue("vec_id", m, r.nextInt(m))
  }

  def gen(seed: Long): Gen = {
    val r = new Random(seed * 0x9E3779B97F4A7C15L + 0x632BE59BD9B4E019L)
    r.nextInt(); r.nextInt() // warm the LCG past the seed's low entropy
    val roll = r.nextInt(100)
    if (roll < 17) {
      val where = docSlice(r)
      // sliced corpora keep narrow windows so the family still yields
      // spans (a slice breaks cross-doc pairs faster than it sheds docs)
      val w = if (where.isEmpty) 4 + r.nextInt(9) else 4 + r.nextInt(3)
      val minDocs = if (r.nextInt(4) == 0) 3 else 2
      val tx = nullText(r)
      Gen("span_detect", s"w=$w md=$minDocs where=[$where]${nullTag(tx)}",
        (s, dir) => Dedup.spanDetect(s, dir, w, minDocs, where, tx),
        Dedup.d9SqlFor(w, minDocs, where, tx), nullLane = tx != "text")
    } else if (roll < 31) {
      val where = docSlice(r)
      val w = if (where.isEmpty) 4 + r.nextInt(9) else 4 + r.nextInt(3)
      val minDocs = if (r.nextInt(4) == 0) 3 else 2
      val tx = nullText(r)
      Gen("span_apply", s"w=$w md=$minDocs where=[$where]${nullTag(tx)}",
        (s, dir) => Dedup.spanApply(s, dir, w, minDocs, where, tx),
        Dedup.d10SqlFor(w, minDocs, where, tx), nullLane = tx != "text")
    } else if (roll < 39) {
      val where = docSlice(r)
      val tx = nullText(r)
      Gen("exact_dedup", s"where=[$where]${nullTag(tx)}",
        (s, dir) => Dedup.exactDedup(s, dir, where, tx),
        Dedup.d1SqlFor(where, tx), nullLane = tx != "text")
    } else if (roll < 48) {
      val maxDf = Seq(10L, 25L, 50L)(r.nextInt(3))
      val dfShare = Seq(100L, 250L, 500L, 1000L)(r.nextInt(4))
      val theta = Seq("0.3", "0.5", "0.7")(r.nextInt(3))
      val where = docSlice(r)
      val tx = nullText(r)
      Gen("ngram_pairs", s"maxDf=$maxDf share=$dfShare theta=$theta where=[$where]${nullTag(tx)}",
        (s, dir) => Dedup.ngramPairs(s, dir, maxDf, dfShare, theta, where, tx),
        Dedup.d2SqlFor(maxDf, dfShare, theta, where, tx), nullLane = tx != "text")
    } else if (roll < 55) {
      val theta = Seq("0.5", "0.75", "1.0")(r.nextInt(3))
      val where = docSlice(r)
      val tx = nullText(r)
      Gen("minhash_pairs", s"theta=$theta where=[$where]${nullTag(tx)}",
        (s, dir) => Dedup.minhashPairs(s, dir, theta, where, tx),
        Dedup.d3SqlFor(theta, where, tx), nullLane = tx != "text")
    } else if (roll < 62) {
      val maxH = 1 + r.nextInt(3)
      val where = docSlice(r)
      val tx = nullText(r)
      Gen("simhash_pairs", s"maxH=$maxH where=[$where]${nullTag(tx)}",
        (s, dir) => Dedup.simhashPairs(s, dir, maxH, where, tx),
        Dedup.d4SqlFor(maxH, where, tx), nullLane = tx != "text")
    } else if (roll < 71) {
      // θ spans BOTH dispatch sides of d5LshThreshold (0.8): below →
      // exact tiled all-pairs; at/above → banded hyperplane LSH
      val thetas = Seq("0.3", "0.45", "0.6", "0.7", "0.75",
        "0.82", "0.85", "0.9", "0.95")
      val theta = thetas(r.nextInt(thetas.size))
      val where = vecSlice(r)
      val sqlWhere = if (where.isEmpty) "" else s" WHERE $where"
      val dot = "list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))"
      val sql = s"""
        WITH e AS MATERIALIZED (
          SELECT vec_id, embedding,
            list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) AS n2
          FROM embeddings$sqlWhere)
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
          $dot / SQRT(a.n2 * b.n2) AS cosine
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE $dot / SQRT(a.n2 * b.n2) >= $theta"""
      Gen("emb_pairs", s"theta=$theta where=[$where]",
        (s, dir) => {
          val e = Tables.load(s, dir, "embeddings")
          Dedup.embeddingPairs(if (where.isEmpty) e else e.where(where),
            theta.toDouble)
        }, sql)
    } else if (roll < 78) {
      val k = 3 + r.nextInt(8)
      val p = 3 + r.nextInt(6)
      val where0 = vecSlice(r)
      val where =
        if (where0.isEmpty) "embedding IS NOT NULL"
        else s"embedding IS NOT NULL AND $where0"
      val dotQC = "list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))"
      val sql = s"""
        WITH e AS (
          SELECT vec_id, embedding,
            list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) AS n2
          FROM embeddings WHERE $where),
        pairs AS (
          SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
            $dotQC / SQRT(q.n2 * c.n2) AS cosine
          FROM e q JOIN e c ON q.vec_id <> c.vec_id
          WHERE q.vec_id < $p)
        SELECT query_id, vec_id, cosine, CAST(rk AS BIGINT) AS rk FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, vec_id) AS rk FROM pairs) x
        WHERE rk <= $k"""
      Gen("ann_topk", s"k=$k p=$p where=[$where0]",
        (s, dir) => {
          val e = Tables.load(s, dir, "embeddings").where(where)
            .select(col("vec_id"), col("embedding"),
              VectorOps.norm2(col("embedding")).as("n2"))
          val w = Window.partitionBy("query_id")
            .orderBy(col("cosine").desc, col("vec_id"))
          broadcast(e.filter(col("vec_id") < p)).as("q")
            .join(e.as("c"), col("q.vec_id") =!= col("c.vec_id"))
            .select(col("q.vec_id").as("query_id"),
              col("c.vec_id").as("vec_id"),
              VectorOps.cosineFrom(
                VectorOps.dot(col("q.embedding"), col("c.embedding")),
                col("q.n2"), col("c.n2")).as("cosine"))
            .withColumn("rk", row_number().over(w).cast("long"))
            .filter(col("rk") <= k)
        }, sql)
    } else if (roll < 86) {
      // targetClusterSize drives k = max(4, ceil(N/tcs)) and with it
      // the flat-vs-hierarchical assignment dispatch at d8FlatMaxK=64:
      // at sf0.01 (N=500) tcs ∈ {1,2,4} land hierarchical and
      // {8,64,256} flat; slices shift N so the boundary itself is
      // probed from both sides across seeds (PipeFuzzRun counts the
      // sides actually taken via Dedup.lastSemanticDispatch and
      // refuses a run that saw only one).
      val tcs = Seq(1, 2, 4, 8, 64, 256)(r.nextInt(6))
      val theta = Seq("0.3", "0.4", "0.5")(r.nextInt(3))
      val where = vecSlice(r)
      Gen("sem_dedup", s"tcs=$tcs theta=$theta where=[$where]",
        (s, dir) => Dedup.semanticDedup(s, dir, tcs, theta, where),
        Dedup.d8SqlFor(tcs, theta, where))
    } else if (roll < 90) {
      // seed centroids are the surviving vectors with vec_id < k (the
      // set can be smaller than k under a slice): k ≥ 8 with a residue
      // slice (m ≤ 4) guarantees every residue class keeps at least
      // one seed below k, so the seed set never empties
      val where = vecSlice(r)
      val k = if (where.isEmpty) Seq(2, 3, 4, 8, 16)(r.nextInt(5))
              else Seq(8, 16)(r.nextInt(2))
      Gen("kmeans", s"k=$k where=[$where]",
        (s, dir) => graft.pipeline.Similarity.kmeansClusters(s, dir, k, where),
        graft.pipeline.Similarity.s5SqlFor(k, where))
    } else if (roll < 93) {
      // nprobe is IVF's recall/cost dial; the stride draws different
      // centroid sets, and numQ ≥ 4 keeps at least one query vector
      // alive under every residue slice (m ≤ 4)
      val stride = Seq(29, 53, 97)(r.nextInt(3))
      val np = 1 + r.nextInt(3)
      val topK = Seq(3, 5, 8)(r.nextInt(3))
      val numQ = 4 + r.nextInt(5)
      val where = vecSlice(r)
      Gen("ann_ivf", s"stride=$stride np=$np topK=$topK numQ=$numQ where=[$where]",
        (s, dir) => graft.pipeline.Similarity.ivfTopK(s, dir, stride, np, topK, numQ, where),
        graft.pipeline.Similarity.s3SqlFor(stride, np, topK, numQ, where))
    } else if (roll < 95) {
      // the eval-residue modulus moves the train/eval split; theta is
      // the same agreement dial as d3's
      val theta = Seq("0.5", "0.75", "1.0")(r.nextInt(3))
      val evalMod = Seq(2, 3, 5, 10)(r.nextInt(4))
      Gen("decon", s"theta=$theta evalMod=$evalMod",
        (s, dir) => Dedup.fuzzyDecontaminate(s, dir, theta, evalMod),
        Dedup.d11SqlFor(theta, evalMod))
    } else if (roll < 97) {
      // t13 merge-table size swings how much of the corpus re-segments;
      // slices move the vocabulary (and with it the ranking) under the
      // merge derivation on both engines
      val m = Seq(5, 10, 20, 30)(r.nextInt(4))
      val where = docSlice(r)
      // the cut PAIRS with the merge-table draw (m ≤ 10 → cut 0 →
      // shuffled-hash plan; m > 10 → default cut → broadcast plan)
      // instead of an independent coin: the committed seed ranges then
      // deterministically cover both dispatch sides whenever the m
      // draw spans its classes — a coin left bpe_shuffle unexercised
      // on the 250-seed base lane. Same rows either way (the oracle
      // doesn't move with the cut).
      val cut = if (m <= 10) 0L
        else graft.pipeline.TextAnalysis.t13BcastMaxVocab
      Gen("bpe_apply", s"m=$m where=[$where] cut=$cut",
        (s, dir) => graft.pipeline.TextAnalysis.bpeApply(s, dir, m, where, cut),
        graft.pipeline.TextAnalysis.t13SqlFor(m, where))
    } else if (roll < 99) {
      // d13: the batch modulus moves the corpus/batch split (and with
      // it the persisted index's contents); theta is d3's agreement
      // dial; the cut exercises the broadcast/shuffle ingest join
      val theta = Seq("0.5", "0.75", "1.0")(r.nextInt(3))
      val batchMod = Seq(2, 3, 5, 7)(r.nextInt(4))
      val cut = if (r.nextBoolean()) 0L else Dedup.d13BcastMaxBatch
      Gen("incr_dedup", s"theta=$theta batchMod=$batchMod cut=$cut",
        (s, dir) => Dedup.incrementalDedup(s, dir, theta, batchMod, cut),
        Dedup.d13SqlFor(theta, batchMod))
    } else {
      // t14: the table size moves which grams carry weight (and every
      // downstream score); slices move the corpus the table derives
      // from; the cut exercises the broadcast/shuffle score join. The
      // cut PAIRS with the slice draw (whole corpus → cut 0 → shuffled
      // plan; a slice → default cut → broadcast plan), as bpe_apply's
      // does with its merge-table draw: a coin left qual_shuffle
      // unexercised on the 250-seed base lane. Same rows either way.
      val k = Seq(20, 100, 500)(r.nextInt(3))
      val where = docSlice(r)
      val cut = if (where.isEmpty) 0L
        else graft.pipeline.TextAnalysis.t14BcastMaxTable
      Gen("quality", s"k=$k where=[$where] cut=$cut",
        (s, dir) => graft.pipeline.TextAnalysis.qualityClassify(s, dir, k, where, cut),
        graft.pipeline.TextAnalysis.t14SqlFor(k, where))
    }
  }
}
