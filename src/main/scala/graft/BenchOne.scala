package graft

/** Dev-loop single-query timer: two untimed warm-ups, then N timed
  * runs of one query, in the bench's session ([[GraftSession]], with
  * the bench's default of 4 workers). One warm-up is not enough: the first run
  * after it still pays JIT and codegen warm-up. Each run prints a
  * `[benchone] <name> runN` line, and the last line is
  * `[benchone] <name> median <s> s over <N> timed runs`. Usage:
  *   tools/run.sh graft.BenchOne <name> [sfDir] [runs]
  */
object BenchOne {
  private val warmups = 2

  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs = if (args.length > 2) args(2).toInt else 3
    require(runs >= 1, s"runs must be at least 1, got $runs")
    val spark = GraftSession(GraftSession.cpus(4))
    val fn = SparkEntry.queries(name)
    val timed = (1 to warmups + runs).map { i =>
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val t1 = System.nanoTime()
      val n = df.count()
      val dt = (System.nanoTime() - t0) / 1e9
      val dc = (t1 - t0) / 1e9
      println(f"[benchone] $name run$i%d: $dt%.3f s (build $dc%.3f s, $n rows)" +
        (if (i <= warmups) " (warmup)" else ""))
      dt
    }.drop(warmups).sorted
    val median = if (runs % 2 == 1) timed(runs / 2) else (timed(runs / 2 - 1) + timed(runs / 2)) / 2
    println(f"[benchone] $name median $median%.3f s over $runs timed runs")
    spark.stop()
  }
}
