package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one JVM-wide session — specs
  * run forked, building a session per suite would dominate runtime). */
object SparkSpec {
  lazy val spark: SparkSession = GraftSession(4)
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSpec.spark
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf0001 = "/root/testdata/sf0.001"

  /** Whether `df`'s optimized plan still aggregates: false once the
    * gold routing rule has swapped the aggregate for a table scan. */
  def hasAggregate(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectFirst {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.nonEmpty
}
