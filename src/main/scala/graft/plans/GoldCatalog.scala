package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Registry of materialized gold aggregates for plan routing.
  *
  * Each entry maps the CANONICALIZED ANALYZED plan of a materialized
  * aggregate's defining query to the path it was written to. The
  * companion [[GoldRoutingRule]] swaps any analytically-identical plan
  * for a scan of the materialization — the exact-match tier of a
  * materialized-view rewrite, which is how the reference turns its
  * 2-5 s dashboard aggregations into 50-200 ms pre-agg reads
  * (webapp/DASHBOARD_OPTIMIZATION_GUIDE.md:9-19) without changing the
  * query code.
  *
  * Exact canonical equality is deliberately the ONLY match level: a
  * structural near-match (same grain, different predicate) silently
  * rewritten would be a wrong-results bug, the worst failure class an
  * optimizer rule can have. Containment rewrites (filter-above-MV)
  * still work for free — the filter node sits ABOVE the matched
  * subtree, so Catalyst prunes the gold scan's partitions after
  * routing.
  *
  * Freshness is the caller's contract, same as the reference's: a
  * registration asserts "this path holds the current result of this
  * query". Writers must re-register after refresh and `invalidate`
  * when the base data moves underneath.
  */
object GoldCatalog {

  final case class Entry(path: String)

  /** Session conf that gates routing (default on). The gold writers
    * disable it around their own build — otherwise a slice refresh
    * would route its recompute to the very table it is refreshing and
    * read back stale data instead of the base tables. */
  val RoutingConfKey = "spark.graft.gold.routing"

  private val entries =
    new java.util.concurrent.ConcurrentHashMap[LogicalPlan, Entry]()

  /** Monotone catalog generation, bumped by every mutation. Callers
    * that cache ROUTED artifacts (e.g. [[graft.etl.GoldAggregates]]'s
    * defining-frame cache) key by it, so a register/invalidate makes
    * every previously-cached routed plan unreachable instead of stale. */
  private val generation = new java.util.concurrent.atomic.AtomicLong(0L)
  def gen(): Long = generation.get()

  /** Root node classes of the registered keys — the cheap pre-filter
    * [[GoldRoutingRule]] applies before canonicalizing a subtree.
    * Canonicalization is O(subtree) and the rule visits every node of
    * every analyzed plan; class-gating skips it everywhere except the
    * handful of nodes that could possibly match (measured ~9 ms per
    * dashboard-query analysis at sf0.1 without the gate). */
  @volatile private var keyClassesV: Set[Class[_]] = Set.empty
  private[plans] def keyClasses: Set[Class[_]] = keyClassesV
  private def refreshKeyClasses(): Unit = {
    val s = Set.newBuilder[Class[_]]
    entries.keySet().forEach(k => s += k.getClass)
    keyClassesV = s.result()
  }

  /** Analyzed scan plans per (session, path). A gold table holds one
    * leaf dir per (state, year_month) slice — thousands at scale — and
    * `spark.read.parquet` lists them all to build its FileIndex. Doing
    * that once per routed query would cost more than the routing saves
    * (measured: ~5 s/query at sf0.1 vs ~200 ms with the cache), so the
    * scan is built once and reused; every write path invalidates.
    * Size-bounded LRU: entries hold a SparkSession reference, and an
    * unbounded map would pin short-lived sessions (and their file
    * listings) forever in a long-running driver. */
  private val scans =
    new graft.ResolvedCache[(SparkSession, String), LogicalPlan](
      64, _._2, _._1)

  /** Cached analyzed scan of a registered materialization. */
  private[plans] def scanOf(spark: SparkSession, path: String): LogicalPlan =
    scans.get((spark, path))(spark.read.parquet(path).queryExecution.analyzed)

  /** Register `path` as the materialization of `defining`. Call AFTER
    * the write completes, with the defining frame analyzed under
    * `withRoutingDisabled` (so the stored key is the raw plan, not an
    * already-routed one). */
  def register(defining: DataFrame, path: String): Unit = {
    scans.invalidate(path) // the table was just (re)written; relist on next use
    entries.put(defining.queryExecution.analyzed.canonicalized, Entry(path))
    refreshKeyClasses()
    generation.incrementAndGet()
  }

  def lookup(plan: LogicalPlan): Option[Entry] =
    if (entries.isEmpty) None else Option(entries.get(plan.canonicalized))

  def isEmpty: Boolean = entries.isEmpty

  /** Drop every registration pointing at `path` (the materialization
    * was deleted or its base data changed). */
  def invalidate(path: String): Unit = {
    scans.invalidate(path)
    entries.entrySet().removeIf(e => e.getValue.path == path)
    refreshKeyClasses()
    generation.incrementAndGet()
  }

  /** Whether `path` currently backs any registration. */
  def isRegistered(path: String): Boolean =
    entries.values().stream().anyMatch(e => e.path == path)

  def clear(): Unit = {
    entries.clear(); scans.clear()
    refreshKeyClasses()
    generation.incrementAndGet()
  }

  /** Thread-local bypass used by the gold writers. A session conf
    * would race: two threads rebuilding gold tables in one session
    * (e.g. a streaming foreachBatch refresh next to a manual
    * materialize) could restore the conf while the other thread's
    * defining query is still being analyzed — and that query would
    * route to the very table it is rebuilding. Analysis runs on the
    * constructing thread, so a thread-local guard is exact. */
  private val bypass = ThreadLocal.withInitial[java.lang.Integer](() => 0)

  def routingEnabled(spark: SparkSession): Boolean =
    bypass.get() == 0 && spark.conf.get(RoutingConfKey, "true").toBoolean

  /** Run `f` with routing off on THIS thread (reentrant; the session
    * conf is the user-facing whole-session switch). */
  def withRoutingDisabled[T](spark: SparkSession)(f: => T): T = {
    bypass.set(bypass.get() + 1)
    try f finally bypass.set(bypass.get() - 1)
  }
}
