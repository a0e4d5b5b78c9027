package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession recipe: every graft main (Bench and its child
  * phases, Verify, `etl.BuildMain`, `tools.RoutedProfile`) and the
  * specs' shared session run with exactly this configuration. A
  * session that needs its own conf takes `newSession()` of this one,
  * which keeps the extensions. */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, or else every core the JVM sees. */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(cores: Int = GraftSession.cores): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .withExtensions(new GraftExtensions) // the library's own plugin path
      .config("spark.sql.shuffle.partitions", cores.toString)
      // Percentile/mode aggregates are TypedImperative → ObjectHashAggregate,
      // whose default sort-based fallback threshold (128 in-memory groups)
      // forces a per-task sort for ANY realistic grain (s15 has ~19k groups
      // per task at sf0.1; measured 4.6s → 3.4s warm from this alone). 1M
      // tiny buffers per task is tens of MB — safe at these heap sizes.
      .config("spark.sql.execution.objectHashAggregate.sortBased.fallbackThreshold", "1048576")
      // FAIR job scheduling: a batch runs one query at a time, and jobs
      // with no pool set share the default pool, which is FIFO. The REST
      // server runs concurrent requests in their own pools — under FIFO
      // a multi-stage request's tasks queue behind the whole preceding
      // request, so p95 read ~2x the slowest leg's solo latency.
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      // events.parquet ts encoding varies by testdata generation —
      // int64 nanos (rounds ≤ 6) or TIMESTAMP(MICROS) (round 7+).
      // The conf makes the nanos layout read as long; eventFeed
      // normalizes from whichever type it observes.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Corrupt-file salvage is per-read (Tables.readSalvage), NOT set
      // here: Verify must fail loudly if an input file is corrupt, or
      // data loss would masquerade as an oracle mismatch.
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
