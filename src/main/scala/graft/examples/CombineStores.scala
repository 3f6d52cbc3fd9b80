package graft.examples

import graft.GraftSession
import graft.sources.zarr.KerchunkParquetRefs

/** Tool: virtually CONCATENATE existing Zarr stores along a dimension
  * into one kerchunk parquet-refs store — the `MultiZarrToZarr` shape
  * (one store per day/month of an archive → one queryable dataset),
  * with no data movement: every chunk ref points back into its source
  * store, `.zstats` sidecars merge (pruning and SUM/AVG pushdown
  * survive), and the concat coordinate is materialized inline.
  *
  * Self-verifies: the combined store must read exactly the UNION of
  * the sources (row count + checksum over every column).
  *
  * Run: `tools/run.sh graft.examples.CombineStores <concatDim> <outRefsDir>
  *       <store1> <store2> [...storeN]`
  */
object CombineStores {

  def main(args: Array[String]): Unit = {
    if (args.length < 4) {
      System.err.println(
        "usage: graft.examples.CombineStores <concatDim> <outRefsDir> <store1> <store2> [...storeN]")
      sys.exit(2)
    }
    val concatDim = args(0)
    val out = args(1)
    val stores = args.drop(2).toSeq

    val t0 = System.nanoTime()
    KerchunkParquetRefs.combineStores(stores, concatDim, out)
    println(f"combined ${stores.length} stores along '$concatDim' into $out " +
      f"in ${(System.nanoTime() - t0) / 1e9}%.2fs")

    val spark = GraftSession(GraftSession.cpus(4))
    try {
      import org.apache.spark.sql.functions._
      def sig(df: org.apache.spark.sql.DataFrame): (Long, String) = {
        val n = df.count()
        val sum = df.select(xxhash64(df.columns.map(col): _*).as("h"))
          .agg(sum_distinct(col("h")).cast("string")).head().getString(0)
        (n, sum)
      }
      val union = stores.map(p => spark.read.format("zarr").load(p))
        .reduce(_ unionByName _)
      val (nU, hU) = sig(union)
      val (nC, hC) = sig(spark.read.format("zarr").load(out))
      require(nU == nC && hU == hC,
        s"combined store diverges from source union: rows $nU vs $nC, checksum $hU vs $hC")
      println(s"verified: $nC rows read identically through the combined refs store")
    } finally spark.stop()
  }
}
