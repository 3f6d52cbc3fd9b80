package graft.fuzz

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.pipeline.{Dedup, TextAnalysis}

/** Differential-fuzz dump for [[PipeFuzz]] — the [[FuzzRunner]]
  * layout, so `tools/compare.py <sfDir> <outDir>` hash-compares every
  * seed against DuckDB unchanged.
  *
  * Exits nonzero when the seed range failed to exercise the space:
  * any family unseen, either side of a dispatch unseen (d5 LSH/tiled,
  * d8 flat/hierarchical, and the broadcast/shuffle joins of t13, d13
  * and t14), or a family that only ever produced empty outputs (an
  * all-empty family compares green vacuously — that's no coverage).
  *
  * Usage: graft.fuzz.PipeFuzzRun <sfDir> <outDir> [nSeeds] [seed0]
  */
object PipeFuzzRun extends FuzzRunner("pipefuzz", PipeFuzz.grammarVersion) {

  private val families = Seq("span_detect", "span_apply", "exact_dedup",
    "ngram_pairs", "minhash_pairs", "simhash_pairs", "emb_pairs", "ann_topk",
    "sem_dedup", "kmeans", "ann_ivf", "decon", "bpe_apply",
    "incr_dedup", "quality")

  protected def lane(spark: SparkSession, sfDir: String, outDir: String, nSeeds: Int): FuzzLane =
    new FuzzLane {
      val famCount = mutable.Map[String, Int]().withDefaultValue(0)
      val famNonEmpty = mutable.Map[String, Int]().withDefaultValue(0)
      // seeds per side of each dispatch
      val sides = mutable.LinkedHashMap(Seq("lsh_side", "tiled_side", "sem_flat", "sem_hier",
        "bpe_bcast", "bpe_shuffle", "incr_bcast", "incr_shuffle", "qual_bcast", "qual_shuffle")
        .map(_ -> 0): _*)
      var nullLane = 0
      var nullNonEmpty = 0

      def draw(seed: Long): FuzzCase = {
        val name = PipeFuzz.name(seed)
        val g = PipeFuzz.gen(seed)
        famCount(g.family) += 1
        if (g.nullLane) nullLane += 1
        if (g.family == "emb_pairs") {
          val theta = g.tag.split(" ").head.stripPrefix("theta=").toDouble
          sides(if (theta >= Dedup.d5LshThreshold) "lsh_side" else "tiled_side") += 1
        }
        FuzzCase(name, g.sql, s"${g.family} ${g.tag}", () => try {
          // write FIRST, then count the written output — parquet footer
          // metadata answers the count without re-running the plan (an
          // unpersisted fuzz pipeline would otherwise execute twice)
          g.fn(spark, sfDir).write.mode("overwrite").parquet(s"$outDir/$name")
          if (spark.read.parquet(s"$outDir/$name").count() > 0) {
            famNonEmpty(g.family) += 1
            if (g.nullLane) nullNonEmpty += 1
          }
          // which side of a data-dependent dispatch (d8's flat/hier cut,
          // t13's vocab and the incremental-dedup and quality joins'
          // broadcast/shuffle cuts) this seed's slice landed on — the
          // slice's row count is data, not grammar, so only the engine
          // knows; read it back post-run
          g.family match {
            case "sem_dedup" => sides(if (Dedup.lastSemanticDispatch == "hier") "sem_hier" else "sem_flat") += 1
            case "bpe_apply" => sides(if (TextAnalysis.lastBpeDispatch == "shuffle") "bpe_shuffle" else "bpe_bcast") += 1
            case "incr_dedup" =>
              sides(if (Dedup.lastIncrementalDispatch == "shuffle") "incr_shuffle" else "incr_bcast") += 1
            case "quality" => sides(if (TextAnalysis.lastQualityDispatch == "shuffle") "qual_shuffle" else "qual_bcast") += 1
            case _ =>
          }
        } finally {
          // clear persisted candidate frames between seeds: every span
          // seed persists its own cand frame keyed by its parameters —
          // 250 of them would pile up in the block store otherwise
          spark.catalog.clearCache()
        })
      }

      private def famJson = famCount.toSeq.sortBy(_._1)
        .map { case (f, c) => s""""$f": [$c, ${famNonEmpty(f)}]""" }.mkString("{", ", ", "}")

      override def meta(failed: Int): Seq[(String, String)] =
        ("families_count_nonempty" -> famJson) +: sides.toSeq.map { case (k, v) => k -> v.toString } :+
          ("null_lane" -> s"[$nullLane, $nullNonEmpty]")

      override def summary: String =
        s"families $famJson; dispatch ${sides.map { case (k, v) => s"$k=$v" }.mkString(" ")}; " +
          s"null lane $nullLane seeds/$nullNonEmpty nonempty"

      // Space coverage is a property of a FULL lane: 15 families at
      // 1-2% tail shares need ~150+ seeds before absence means anything.
      // The 250-seed base lane enforces it; short scale lanes (the +40
      // sf0.1 / 15 sf1p extensions) enforce zero failures and report
      // coverage informationally — a 40-seed window provably cannot
      // contain every family, and failing on that would ban short lanes.
      override def unmet: Seq[String] = {
        val missing = families.filter(famCount(_) == 0) ++
          families.filter(f => famCount(f) > 0 && famNonEmpty(f) == 0).map(_ + ":all-empty") ++
          sides.keys.filter(sides(_) == 0) ++
          // the NULL-text lane must be drawn AND produce output on nulled
          // corpora (an all-empty null lane would compare green vacuously)
          (if (nullLane == 0) Seq("null_lane") else Nil) ++
          (if (nullLane > 0 && nullNonEmpty == 0) Seq("null_lane:all-empty") else Nil)
        if (nSeeds >= 150) missing
        else {
          if (missing.nonEmpty) System.err.println(s"[pipefuzz] short-lane coverage note (not " +
            s"enforced at n=$nSeeds): unexercised ${missing.mkString(", ")}")
          Nil
        }
      }
    }
}
