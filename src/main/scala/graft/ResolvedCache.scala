package graft

import org.apache.spark.sql.SparkSession

/** Keyed resolved-value cache with a writer-generation invalidation
  * protocol — the one cache implementation behind the serving path:
  * base-table loads ([[graft.Tables]]), the routed gold catalog's
  * scans ([[graft.plans.GoldCatalog]]), the gold frames and sidecars
  * of [[graft.etl.GoldAggregates]], the GenStore-backed index probes
  * and the REST server's request plans. Resolving a parquet frame —
  * relation resolution, file listing, footer/schema reads, and for an
  * index its committed-marker collect — costs tens to hundreds of ms
  * per call, and on a serving path that resolution (not the data) is
  * most of the request latency. The RESOLVED value is immutable and
  * reusable; executions stay fresh reads of the listed files.
  *
  * The subtle parts, kept in one implementation so they stay in
  * lockstep everywhere:
  *  (a) the resolve runs OUTSIDE the lock (a listing can take
  *      seconds; racing resolvers are harmless — the loser's value is
  *      discarded);
  *  (b) the cache's invalidation generation is captured BEFORE
  *      resolving, and the put is conditional on it being unchanged —
  *      a writer whose [[invalidate]] or [[clear]] lands
  *      mid-resolution can never have its pre-rewrite file list
  *      re-inserted (the racing reader returns its value uncached;
  *      one extra resolution next call, never a stale list). One
  *      generation per cache, not per path: an unrelated invalidation
  *      only costs the racing reader its put;
  *  (c) stopped sessions' entries are purged under the lock so
  *      cycling sessions (notebook servers, test suites) cannot pin
  *      dead file indexes until LRU eviction;
  *  (d) LRU bound per cache.
  *
  * Writers MUST call [[invalidate]] with the path after any rewrite
  * at or under it — the same freshness contract as
  * [[graft.plans.GoldCatalog]].
  */
final class ResolvedCache[K <: AnyRef, V <: AnyRef](
    max: Int, pathOf: K => String, sessionOf: K => SparkSession) {
  private var gen = 0L // guarded by cache
  private val cache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[K, V]) =
        size() > max
    })

  /** The cached value of `k`, else `resolve`'s, cached unless an
    * invalidation raced it or it fails `keep`. */
  def get(k: K, keep: V => Boolean = (_: V) => true)(resolve: => V): V = {
    val hit = cache.synchronized(cache.get(k))
    if (hit != null) hit
    else {
      val gen0 = cache.synchronized(gen)
      val v = resolve
      if (!keep(v)) v
      else cache.synchronized {
        val raced = cache.get(k)
        if (raced != null) raced
        else if (gen != gen0) v
        else {
          cache.keySet().removeIf(
            (e: K) => sessionOf(e).sparkContext.isStopped)
          cache.put(k, v); v
        }
      }
    }
  }

  /** Drop every entry whose path is `path` or lies under `path/`. */
  def invalidate(path: String): Unit = cache.synchronized {
    val dir = path.stripSuffix("/")
    gen += 1
    cache.keySet().removeIf { (k: K) =>
      val p = pathOf(k)
      p == dir || p.startsWith(dir + "/")
    }
    ()
  }

  def clear(): Unit = cache.synchronized { gen += 1; cache.clear() }
}
