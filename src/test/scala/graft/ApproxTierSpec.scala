package graft

import org.apache.spark.sql.catalyst.expressions.aggregate.{ApproximatePercentile, Percentile}
import org.apache.spark.sql.functions._
import graft.etl.GoldAggregates

/** The session-level approximate tier: with
  * spark.graft.approx.enabled=true, exact percentiles become KLL
  * sketches plan-wide — same schema, bounded state — and the values
  * stay inside the documented accuracy envelope; with it off (the
  * default), plans are exact and bit-match the oracles. */
class ApproxTierSpec extends SparkSpec {

  private def percentileFns(df: org.apache.spark.sql.DataFrame) = {
    val exprs = df.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate =>
        a.aggregateExpressions.flatMap(_.collect {
          case p: Percentile => "exact"
          case p: ApproximatePercentile => "approx"
        })
    }.flatten
    exprs.toSet
  }

  test("approx conf swaps exact percentile for the KLL sketch") {
    val s = spark.newSession() // the approx conf stays in this session
    try {
      graft.plans.GoldCatalog.clear()
      // default: exact
      assert(percentileFns(GoldAggregates.aggMarketRates(s, sf0001))
        == Set("exact"))

      s.conf.set("spark.graft.approx.enabled", "true")
      val approxDf = GoldAggregates.aggMarketRates(s, sf0001)
      assert(percentileFns(approxDf) == Set("approx"),
        "enabled tier must rewrite every unweighted percentile")

      // values stay within the sketch's rank-error envelope: compare
      // p50 per group against the exact build
      s.conf.set("spark.graft.approx.enabled", "false")
      val key = Seq("year_month", "state", "payer_slug", "billing_class",
        "code_type", "code")
      val exact = GoldAggregates.aggMarketRates(s, sf0001)
        .select((key.map(col) :+ col("p50")): _*).collect()
        .map(r => r.toSeq.init.mkString("|") -> r.getDouble(key.length)).toMap
      s.conf.set("spark.graft.approx.enabled", "true")
      val approx = approxDf
        .select((key.map(col) :+ col("p50")): _*).collect()
        .map(r => r.toSeq.init.mkString("|") -> r.getDouble(key.length)).toMap
      assert(exact.keySet == approx.keySet)
      // sf0.001 groups are small (often 1-5 rows), where the sketch is
      // exact or one neighbor off — allow a tight relative envelope
      val bad = exact.keySet.filter { k =>
        val (e, a) = (exact(k), approx(k))
        math.abs(e - a) > math.max(0.01, 0.05 * math.abs(e))
      }
      assert(bad.size <= exact.size / 50,
        s"approx p50 outside envelope for ${bad.size}/${exact.size} groups")
    } finally graft.plans.GoldCatalog.clear()
  }
}
