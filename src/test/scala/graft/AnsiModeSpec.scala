package graft

/** Queries under Spark 4's default `spark.sql.ansi.enabled=true` give
  * the same rows as with ANSI off (every graft main pins it off). */
class AnsiModeSpec extends SparkSpec {

  private def rowsUnder(ansi: Boolean, name: String): Seq[String] = {
    val key = "spark.sql.ansi.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, ansi.toString)
    try SparkEntry.queries(name)(spark, sf0001).collect()
      .map(_.toString).toSeq.sorted
    finally spark.conf.set(key, prev)
  }

  test("f21_json_payload: same rows with ANSI on and off") {
    val off = rowsUnder(ansi = false, "f21_json_payload")
    val on = rowsUnder(ansi = true, "f21_json_payload")
    assert(off.nonEmpty)
    assert(on == off)
  }

  test("Bench.consume folds a frame whose hash sum overflows with ANSI on") {
    import org.apache.spark.sql.functions.{col, struct, sum, xxhash64}
    val ansi = spark.newSession()
    ansi.conf.set("spark.sql.ansi.enabled", "true")
    val df = ansi.range(1000).toDF("id")
    val hashes = df.select(xxhash64(struct(col("*")))).collect().map(_.getLong(0))
    val overflow = intercept[Exception] {
      df.agg(sum(xxhash64(struct(col("*"))))).collect()
    }
    assert(overflow.getMessage.contains("ARITHMETIC_OVERFLOW"))
    assert(Bench.consume(df).head.getLong(0) == hashes.reduce(_ ^ _))
  }
}
