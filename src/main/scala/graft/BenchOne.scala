package graft

/** Dev-loop single-query timer: warmup + N timed runs of one query, in
  * the bench's own session ([[Bench.session]]: same `SPARK_GRAFT_CPUS`
  * parsing and default, UTC, `SPARK_GRAFT_SHUFFLE`). Usage:
  *   tools/run.sh graft.BenchOne <name> [sfDir] [runs]
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs = if (args.length > 2) args(2).toInt else 3
    val spark = Bench.session(Bench.cpusOf(sys.env.get("SPARK_GRAFT_CPUS")))
    val fn = SparkEntry.queries(name)
    (1 to runs + 1).foreach { i =>
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val t1 = System.nanoTime()
      val n = df.count()
      val dt = (System.nanoTime() - t0) / 1e9
      val dc = (t1 - t0) / 1e9
      println(f"[benchone] $name run$i%d: $dt%.3f s (build $dc%.3f s, $n rows)" +
        (if (i == 1) " (warmup)" else ""))
    }
    spark.stop()
  }
}
