package graft.examples

import graft.GraftSession
import graft.sources.zarr.ZarrWriter

/** Cross-PROCESS append driver for the writer-lease tests: appends a
  * `[t0, t0+nT) × x∈[0,3)` slab (v = t·10 + x — the ZarrAppendSpec
  * grid contract) to an existing store from its own JVM. The lock is
  * a store OBJECT, so its mutual-exclusion claim is cross-process and
  * cross-host — but every in-repo race test so far contended THREADS
  * inside one JVM, where shared statics could mask a
  * process-isolation bug. ZarrAppendSpec launches this main in a
  * separate JVM to prove the file-lease protocol itself.
  *
  * Exit codes: 0 = appended; 3 = loud single-writer refusal (another
  * holder's live lease); 4 = any other failure (printed).
  */
object AppendSlab {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: AppendSlab <store> <t0> <nT> [ttlMs] [hbMs]")
    val store = args(0)
    val t0 = args(1).toLong
    val nT = args(2).toLong
    if (args.length > 3) ZarrWriter.leaseTtlMillis = args(3).toLong
    if (args.length > 4) ZarrWriter.leaseHeartbeatMillis = args(4).toLong
    val spark = GraftSession(GraftSession.cpus(4))
    val rc =
      try {
        import spark.implicits._
        val df = (t0 until t0 + nT)
          .flatMap(t => (0L until 3L).map(x => (t, x, t * 10.0 + x)))
          .toDF("t", "x", "v")
        ZarrWriter.append(df, store)
        0
      } catch {
        case e: IllegalStateException if e.getMessage != null &&
            e.getMessage.contains("writer lock") =>
          System.err.println(s"[append-slab] refused: ${e.getMessage}")
          3
        case e: Throwable =>
          System.err.println(s"[append-slab] failed: ${e.getClass.getName}: ${e.getMessage}")
          4
      } finally spark.stop()
    sys.exit(rc)
  }
}
