package graft
/** Dev tool: dump formatted plans for every query to stdout, planned
  * in the bench's session (its default of 4 workers). */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession(GraftSession.cpus(4))
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot(q => q._1.startsWith("st")) // streaming plans print per-batch
      .foreach { case (name, fn) =>
      println(s"===== $name =====")
      try fn(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"(explain failed: ${e.getMessage})") }
    }
    spark.stop()
  }
}
