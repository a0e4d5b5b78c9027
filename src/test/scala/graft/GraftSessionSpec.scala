package graft

import org.apache.spark.scheduler.SchedulingMode

/** The shared spec session is the mains' [[GraftSession]] recipe. */
class GraftSessionSpec extends SparkSpec {

  test("the shared session carries the extensions, FAIR and the fallback threshold") {
    // a new session starts from the builtin registry plus whatever the
    // extensions inject, so a registerAll on the shared session made
    // elsewhere cannot stand in for the injected functions here
    val cos = spark.newSession().sql(
      """SELECT cosine_f32(array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT)),
        |                  array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT)))
        |""".stripMargin).head.getDouble(0)
    assert(math.abs(cos - 1.0) < 1e-12)
    assert(spark.sparkContext.getSchedulingMode == SchedulingMode.FAIR)
    assert(spark.conf.get(
      "spark.sql.execution.objectHashAggregate.sortBased.fallbackThreshold")
      == "1048576")
  }
}
