package graft.sources.zarr

/** The connector's one cache policy: an access-ordered map bounded by
  * the summed byte weights of its values. Each value is stored with
  * its weight; after every put the least recently used entries are
  * dropped until the total fits the budget, and an entry heavier than
  * the whole budget is not kept at all. Every connector cache is an
  * instance: the JVM decoded-chunk cache ([[ChunkIO]]), the reader's
  * per-partition band and shard working sets ([[ZarrColumnarReader]]),
  * the parquet record-file cache ([[KerchunkParquetRefs]]) and the
  * refs-document memo ([[KerchunkUrlIO]]).
  *
  * One lock guards the map; [[getOrLoad]] runs its load outside it, so
  * a slow load of one key never blocks a hit on another (two threads
  * missing the same key both load it, and the later put wins). The hit
  * path takes the lock too: a lock-free hit path waits for a workload
  * that shows contention. The band set stays separate from the JVM
  * cache on purpose: it guarantees one decode per unit per partition
  * whatever other tasks evict from the shared cache. The memos outside
  * the connector (`Dedup.taggedCache`, `EventsStreaming.schemaCache`)
  * are not instances. */
final class ByteLru[K, V](initialBudget: Long) {

  private final class Entry(val value: V, val weight: Long)

  private var budgetBytes = initialBudget
  private var residentBytes = 0L

  private val map = new java.util.LinkedHashMap[K, Entry](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[K, Entry]): Boolean = {
      val it = entrySet().iterator()
      while (residentBytes > budgetBytes && it.hasNext) {
        residentBytes -= it.next().getValue.weight
        it.remove()
      }
      false
    }
  }

  /** The cached value of `k`, marked most recently used. */
  def get(k: K): Option[V] = synchronized(Option(map.get(k)).map(_.value))

  /** Cache `v` weighing `weight` bytes under `k`, then evict down to
    * the budget; a value heavier than the budget is not kept. */
  def put(k: K, v: V, weight: Long): Unit = synchronized {
    Option(map.remove(k)).foreach(e => residentBytes -= e.weight)
    if (weight <= budgetBytes) {
      residentBytes += weight
      map.put(k, new Entry(v, weight))
    }
  }

  /** The cached value of `k`, or `load`'s value (with its weight),
    * which is cached. `load` runs outside the lock. */
  def getOrLoad(k: K)(load: => (V, Long)): V = {
    val hit = synchronized(map.get(k))
    if (hit != null) hit.value
    else {
      val (v, weight) = load
      put(k, v, weight)
      v
    }
  }

  /** Drop every entry whose key satisfies `p`. */
  def removeIf(p: K => Boolean): Unit = synchronized {
    val it = map.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (p(e.getKey)) { residentBytes -= e.getValue.weight; it.remove() }
    }
  }

  /** Raise the budget to `bytes` if it is lower; it never shrinks. */
  def raiseBudget(bytes: Long): Unit = synchronized {
    if (bytes > budgetBytes) budgetBytes = bytes
  }

  def budget: Long = synchronized(budgetBytes)

  /** Summed weight of the entries held now. */
  def bytes: Long = synchronized(residentBytes)
}
