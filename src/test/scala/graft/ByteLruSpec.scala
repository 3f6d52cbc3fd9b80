package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.zarr.{ByteLru, ChunkIO}

/** The connector's one cache class, and the JVM decoded-chunk cache
  * built on it. */
class ByteLruSpec extends AnyFunSuite {

  test("the byte budget holds after every put with mixed weights") {
    val lru = new ByteLru[Int, String](100)
    val weights = scala.collection.mutable.Map[Int, Long]()
    val rnd = new scala.util.Random(7)
    (0 until 500).foreach { i =>
      val (k, w) = (rnd.nextInt(40), 1L + rnd.nextInt(60))
      lru.put(k, s"v$i", w)
      weights(k) = w
      assert(lru.bytes <= 100, s"put $i")
    }
    assert(lru.bytes == weights.collect { case (k, w) if lru.get(k).isDefined => w }.sum)
  }

  test("access order decides eviction") {
    val lru = new ByteLru[String, String](30)
    Seq("a", "b", "c").foreach(k => lru.put(k, k, 10))
    lru.get("a")
    lru.put("d", "d", 10)
    assert(lru.get("b").isEmpty)
    assert(Seq("a", "c", "d").forall(lru.get(_).isDefined))
    // last used order is now a, c, d: a heavy put evicts from the front
    lru.put("e", "e", 25)
    assert(Seq("a", "c", "d").forall(lru.get(_).isEmpty) && lru.get("e").contains("e"))
    assert(lru.bytes == 25)
  }

  test("an entry heavier than the whole budget is not kept") {
    val lru = new ByteLru[String, String](30)
    lru.put("a", "a", 10)
    lru.put("big", "big", 31)
    assert(lru.get("big").isEmpty && lru.get("a").contains("a") && lru.bytes == 10)
    assert(lru.getOrLoad("big2")(("big2", 31L)) == "big2")
    assert(lru.get("big2").isEmpty)
    // an over-budget value replacing a kept one drops the stale value
    lru.put("a", "a2", 31)
    assert(lru.get("a").isEmpty && lru.bytes == 0)
  }

  test("removeIf drops only its keys") {
    val lru = new ByteLru[Int, String](1000)
    (1 to 10).foreach(k => lru.put(k, k.toString, k))
    lru.removeIf(_ % 2 == 0)
    assert((1 to 10).forall(k => lru.get(k).isDefined == (k % 2 == 1)))
    assert(lru.bytes == 1 + 3 + 5 + 7 + 9)
  }

  test("a load blocked on one key does not block a hit on another") {
    val lru = new ByteLru[String, String](100)
    lru.put("hot", "h", 1)
    val entered, release, done = new CountDownLatch(1)
    val loader = new Thread(() => {
      lru.getOrLoad("cold") { entered.countDown(); release.await(); ("c", 1L) }
      ()
    })
    loader.start()
    assert(entered.await(30, TimeUnit.SECONDS))
    new Thread(() => {
      if (lru.get("hot").contains("h") && lru.getOrLoad("other")(("o", 1L)) == "o") done.countDown()
    }).start()
    try assert(done.await(30, TimeUnit.SECONDS), "a hit waited for another key's load")
    finally release.countDown()
    loader.join()
    assert(lru.get("cold").contains("c"))
  }

  test("the chunk cache's byte cap holds under concurrent scans of different chunk sizes") {
    import TestSession._
    val (nT, nX) = (40, 1000)
    val rows = for (t <- 0 until nT; x <- 0 until nX) yield Row(t.toLong, x.toLong, (t * nX + x).toDouble)
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), StructType(Seq(
      StructField("t", LongType, nullable = false),
      StructField("x", LongType, nullable = false),
      StructField("v", DoubleType, nullable = true))))
    // (chunkOuter, chunkCacheEntries): 8 units of 16,000 B and 5 of 40,000 B
    val reads = Seq((2, 8), (5, 5)).map { case (chunkOuter, n) =>
      val out = Files.createTempDirectory("byte_lru").resolve("g.zarr").toString
      df.write.format("zarr").option("coords", "t,x").option("chunkOuter", chunkOuter.toString)
        .mode("overwrite").save(out)
      (out, n, n * chunkOuter * nX * 8L)
    }
    val bound = math.max(ChunkIO.cacheBudget, reads.map(_._3).max)
    val want = (0 until nT * nX).map(_.toDouble).sum
    val finished = new CountDownLatch(reads.length)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    reads.foreach { case (out, n, _) =>
      new Thread(() => {
        try (1 to 3).foreach { _ =>
          val got = spark.read.format("zarr").option("chunkCacheEntries", n.toString).load(out)
            .filter(col("v") >= 0).agg(sum("v")).collect().head.getDouble(0)
          if (got != want) throw new AssertionError(s"$out: sum $got, want $want")
        } catch { case e: Throwable => failures.add(e) }
        finally finished.countDown()
      }).start()
    }
    var peak = 0L
    while (!finished.await(1, TimeUnit.MILLISECONDS)) peak = math.max(peak, ChunkIO.cacheBytes)
    assert(failures.isEmpty, failures)
    assert(peak <= bound && ChunkIO.cacheBytes <= bound, s"peak $peak, bound $bound")
    assert(ChunkIO.cacheBudget == bound)
    assert(ChunkIO.cacheBytes > 0)
  }
}
