package graft.tools

import org.apache.spark.sql.functions._

/** Phase profiler for the routed-MV dashboard path (`routed_ms_p50` in
  * Bench): splits one routed query into frame construction (plan build
  * + analysis, where GoldRoutingRule runs), optimization, physical
  * planning, and execution, so regressions in the ~200 ms budget can
  * be attributed instead of guessed at.
  *
  * Usage: `SPARK_GRAFT_SF_DIR=... sbt "runMain graft.tools.RoutedProfile"`
  */
object RoutedProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.GraftSession()
    spark.sparkContext.setLogLevel("WARN")

    val goldDir = graft.Scratch.fresh("graft_gold") + "/agg"
    graft.etl.GoldAggregates.materialize(spark, sfDir, goldDir)
    val slices = graft.etl.GoldAggregates.aggMarketRates(spark, sfDir)
      .select("state", "year_month").distinct().limit(12).collect()

    def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

    // warmup loop then measured loop
    (0 until 2).foreach { round =>
      val label = if (round == 0) "warmup" else "measured"
      val phases = slices.map { r =>
        val t0 = System.nanoTime()
        val base = graft.etl.GoldAggregates.aggMarketRates(spark, sfDir)
        val tBase = ms(t0)
        val t1 = System.nanoTime()
        val df = graft.Bench.consume(base.filter(
          col("state") === r.getString(0) && col("year_month") === r.getString(1)))
        val tFilter = ms(t1)
        val t2 = System.nanoTime()
        df.queryExecution.optimizedPlan
        val tOpt = ms(t2)
        val t3 = System.nanoTime()
        df.queryExecution.executedPlan
        val tPhys = ms(t3)
        val t4 = System.nanoTime()
        df.collect()
        val tExec = ms(t4)
        (tBase, tFilter, tOpt, tPhys, tExec)
      }
      def med(xs: Seq[Double]): Double = xs.sorted.apply(xs.length / 2)
      println(f"[$label] n=${phases.length} " +
        f"base_build_ms=${med(phases.map(_._1))}%.1f " +
        f"filter_agg_ms=${med(phases.map(_._2))}%.1f " +
        f"optimize_ms=${med(phases.map(_._3))}%.1f " +
        f"physical_ms=${med(phases.map(_._4))}%.1f " +
        f"exec_ms=${med(phases.map(_._5))}%.1f " +
        f"total_ms=${med(phases.map(p => p._1 + p._2 + p._3 + p._4 + p._5))}%.1f")
    }
    // Attribution: how much of base_build is the routing rule itself?
    // (With routing off the same construction work runs minus the
    // rule's canonicalize-and-lookup pass over every analysis.)
    def medBuild(label: String): Unit = {
      val ts = (0 until 12).map { _ =>
        val t0 = System.nanoTime()
        graft.etl.GoldAggregates.aggMarketRates(spark, sfDir)
        ms(t0)
      }
      println(f"[$label] build_ms_p50=${ts.sorted.apply(ts.length / 2)}%.1f")
    }
    medBuild("routing_on")
    spark.conf.set(graft.plans.GoldCatalog.RoutingConfKey, "false")
    medBuild("routing_off")
    // sub-phase attribution inside one build (routing still off)
    locally {
      def t[A](f: => A): (A, Double) = {
        val t0 = System.nanoTime(); val a = f; (a, ms(t0))
      }
      val runs = (0 until 12).map { _ =>
        val (r, tRates) = t(graft.Roles.rates(spark, sfDir))
        val (p, tProv) = t(graft.Roles.providers(spark, sfDir))
        val (x, tXref) = t(graft.etl.EnrichmentDims.xrefPgMemberTin(p))
        (tRates, tProv, tXref)
      }
      def med(xs: Seq[Double]): Double = xs.sorted.apply(xs.length / 2)
      println(f"[parts] rates_ms=${med(runs.map(_._1))}%.1f " +
        f"providers_ms=${med(runs.map(_._2))}%.1f " +
        f"xref_ms=${med(runs.map(_._3))}%.1f")
    }
    spark.conf.set(graft.plans.GoldCatalog.RoutingConfKey, "true")
    spark.stop()
  }
}
