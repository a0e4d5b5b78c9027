package graft

import java.nio.file.Files
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.functions._
import graft.etl.GoldAggregates
import graft.plans.GoldCatalog

/** Materialized-aggregate routing (plans/GoldRoutingRule): after
  * `GoldAggregates.materialize`, an analytically-identical aggregate
  * in a GraftExtensions session must become a scan of the gold table —
  * same values, no aggregation in the plan — while any non-identical
  * query runs unrouted, and a filter above the routed aggregate prunes
  * gold partitions. */
class GoldRoutingSpec extends SparkSpec {

  /** Physical plan with the AQE wrapper unwrapped (collect does not
    * descend into AdaptiveSparkPlanExec's inner plan). */
  private def physical(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.inputPlan
      case p => p
    }

  private def aggNodes(df: org.apache.spark.sql.DataFrame) =
    physical(df).collect {
      case a: HashAggregateExec => a
      case a: ObjectHashAggregateExec => a
      case a: SortAggregateExec => a
    }

  private def scanPaths(df: org.apache.spark.sql.DataFrame) =
    physical(df).collect {
      case s: FileSourceScanExec =>
        s.relation.location.rootPaths.map(_.toString)
    }.flatten

  test("identical aggregate routes to the gold scan; near-miss does not") {
    val s = spark.newSession() // 4b below sets the routing conf
    try {
      GoldCatalog.clear()
      val goldDir =
        Files.createTempDirectory("graft_goldroute").toString + "/agg"

      // Inline result captured BEFORE registration = the unrouted truth.
      val inline = GoldAggregates.aggMarketRates(s, sf0001)
        .collect().map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("|"))

      GoldAggregates.materialize(s, sf0001, goldDir)

      // 1: the same aggregate now routes — gold scan, zero agg nodes
      val routed = GoldAggregates.aggMarketRates(s, sf0001)
      assert(scanPaths(routed).exists(_.contains("graft_goldroute")),
        s"expected a gold scan, got scans of ${scanPaths(routed)}")
      assert(aggNodes(routed).isEmpty,
        "routed plan must read the materialization, not re-aggregate")
      val viaGold = routed.collect()
        .map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("|"))
      assert(viaGold.toSeq == inline.toSeq,
        "routed values diverge from the inline aggregate")
      // serving calls reuse the generation-keyed cached frame (the
      // ~50 ms construct+analyze is paid once per catalog generation,
      // not per dashboard query); any register/invalidate below mints
      // a new generation and thus a fresh frame
      assert(routed eq GoldAggregates.aggMarketRates(s, sf0001),
        "routed defining frame must be served from the frame cache")

      // 2: filter above the routed aggregate partition-prunes the gold
      val Array(someState, someYm) = inline.head match {
        // column order: year_month, state, ... (aggMarketRates select)
        case row => Array(row(1), row(0))
      }
      val sliced = GoldAggregates.aggMarketRates(s, sf0001)
        .filter(col("state") === someState && col("year_month") === someYm)
      assert(aggNodes(sliced).isEmpty)
      val prunedScan = physical(sliced).collect {
        case sc: FileSourceScanExec => sc
      }.head
      assert(prunedScan.partitionFilters.nonEmpty,
        "slice filter must reach the gold scan as partition filters")
      assert(sliced.count() > 0)

      // 3: a different aggregate (approx tier) must NOT route
      val near = GoldAggregates.aggMarketRatesApprox(s, sf0001)
      assert(aggNodes(near).nonEmpty,
        "non-identical aggregate wrongly routed to the materialization")

      // 4: with routing disabled, even the identical plan re-aggregates
      // (4a: the writers' thread-local bypass)
      GoldCatalog.withRoutingDisabled(s) {
        val off = GoldAggregates.aggMarketRates(s, sf0001)
        assert(aggNodes(off).nonEmpty)
      }
      // (4b: the user-facing session conf)
      s.conf.set(GoldCatalog.RoutingConfKey, "false")
      val off = GoldAggregates.aggMarketRates(s, sf0001)
      assert(aggNodes(off).nonEmpty)
      s.conf.set(GoldCatalog.RoutingConfKey, "true")

      // 5: invalidate drops the registration
      GoldCatalog.invalidate(goldDir)
      val after = GoldAggregates.aggMarketRates(s, sf0001)
      assert(aggNodes(after).nonEmpty,
        "invalidated materialization still being routed to")

      // 6: registerExisting re-attaches an already-built table (the
      // path a fresh serving session takes after a BuildMain JVM)
      GoldAggregates.registerExisting(s, sf0001, goldDir)
      val reattached = GoldAggregates.aggMarketRates(s, sf0001)
      assert(aggNodes(reattached).isEmpty &&
        scanPaths(reattached).exists(_.contains("graft_goldroute")),
        "registerExisting must restore routing without a rebuild")
    } finally GoldCatalog.clear()
  }
}
