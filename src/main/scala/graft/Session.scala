package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft Spark session is built. Every main and the
  * test suites' shared session go through [[local]], so the session
  * policy the engine depends on is written down once:
  *
  *  - [[graft.plans.GraftExtensions]]: the ts pushdown rule, the
  *    as-of join strategy and the native SQL functions;
  *  - `local[cpus]` with `cpus` shuffle partitions (one task per core
  *    per stage; AQE, on by default, coalesces or splits at scale).
  *    The width is `SPARK_GRAFT_CPUS` when set, else the cores this JVM
  *    sees; only tests pass their own;
  *  - the UTC session zone, which every day bucket and timestamp
  *    oracle assumes;
  *  - `spark.sql.legacy.parquet.nanosAsLong`: `events.ts` ships as
  *    TIMESTAMP(NANOS) in one generation of the data, which Spark can
  *    read only as a long; `Tables.events` converts it to µs;
  *  - no UI.
  *
  * A caller that needs a different width for one step (GenData's fixed
  * output layout) sets it on the returned session. */
object Session {
  def local(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)): SparkSession =
    SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
