package graft.fuzz

/** Differential-fuzz dump: run N seeded [[SqlFuzz]] queries on Spark
  * and write each result to `<outDir>/<name>` parquet, so
  * `tools/compare.py <sfDir> <outDir>` hash-compares every one against
  * DuckDB ([[FuzzRunner]]).
  *
  * Usage: graft.fuzz.FuzzRun <sfDir> <outDir> [nSeeds] [seed0]
  */
object FuzzRun extends FuzzRunner("fuzz", SqlFuzz.grammarVersion) {
  protected def lane(spark: org.apache.spark.sql.SparkSession, sfDir: String, outDir: String,
      nSeeds: Int): FuzzLane = {
    graft.operators.Tables.views(spark, sfDir, graft.operators.Tables.all: _*)
    seed => {
      val name = SqlFuzz.name(seed)
      val sql = SqlFuzz.gen(seed)
      FuzzCase(name, sql, sql, () => spark.sql(sql).write.mode("overwrite").parquet(s"$outDir/$name"))
    }
  }
}
