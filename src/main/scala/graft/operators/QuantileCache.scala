package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.sources.Tables
import graft.util.SessionCache

/** ONE bounded quantile selection per (session, corpus) for the suite's
  * quantile trio — ts9 (exact percentiles), ts30 (median/MAD outliers)
  * and s5 (histogram estimates + exact error report) all consume the
  * SAME per-event-type quantiles of the SAME (event_type, value)
  * projection, and before this cache each re-ran its own cutoff
  * selection over its own parquet scan (ts9: 3 actions, ts30: 6, s5:
  * 3 + the histogram passes — ~12 chained jobs, 3 scans). Now:
  *
  *  - [[projection]]: the non-null (__g, __v) projection, persisted
  *    once per corpus (MEMORY_AND_DISK, two narrow columns — the same
  *    session-lifetime discipline as ClusterCache/CellIndexCache
  *    tables);
  *  - [[selection]]: ONE cutoff-selection run (cuts → counts → pick,
  *    TimeSeries.exactQuantiles' three bounded actions) at the trio's
  *    shared ps = (0.5, 0.9, 0.99), memoized driver-side — it is
  *    groups-sized data (the same O(groups × parts) budget the
  *    operator already guards);
  *  - ts9 renders the memo directly; s5 reads its exact error columns
  *    from it and runs only the histogram passes (over the shared
  *    persisted projection); ts30 reuses the memo's cuts + p50 and
  *    pays only its three deviation-side actions
  *    (TimeSeries.madReportFromMedian).
  *
  * Suite total: 3 shared + 3 ts30 + 2 s5-histogram actions over one
  * in-RAM projection, down from ~12 over three parquet scans. The
  * generic TimeSeries/Sketch operators are unchanged for direct
  * callers; results are bit-identical (spec-pinned: the memoized path
  * equals each operator's direct run) because the selection arithmetic,
  * rounding (TimeSeries.r6 == Spark round(_, 6)) and action semantics
  * are the same code. */
object QuantileCache {

  /** The trio's shared quantile probabilities (p50/p90/p99). */
  val Ps: Seq[Double] = Seq(0.5, 0.9, 0.99)

  final case class Sel(cuts: Seq[(Any, Seq[Double])],
                       n: Map[Any, Long],
                       qs: Map[Any, IndexedSeq[Double]])

  private val projCache = SessionCache.forDf[String]
  private val selCache = SessionCache.forValue[String, Sel]

  /** The shared non-null (__g = event_type, __v = value) projection
    * over `dir`'s events, persisted for the session (both quantile
    * selections and s5's histogram passes scan it). */
  def projection(spark: SparkSession, dir: String): DataFrame =
    projCache.getOrBuild(spark, dir) {
      Tables.events(spark, dir)
        .select(col("event_type").as("__g"),
          col("value").cast("double").as("__v"))
        .filter(col("__v").isNotNull && col("__g").isNotNull)
        .persist(StorageLevel.MEMORY_AND_DISK)
    }

  /** The memoized selection: cuts (action 1) + exact p50/p90/p99 and
    * group counts (actions 2-3) — raw doubles; consumers apply their
    * own rounding. */
  def selection(spark: SparkSession, dir: String): Sel =
    selCache.getOrBuild(spark, dir) {
      val t = projection(spark, dir)
      val cuts = TimeSeries.quantileCuts(t, "QuantileCache", "event_type")
      val rows = TimeSeries.selectQuantiles(t, cuts, Ps)
      Sel(cuts,
        rows.map(r => r(0) -> r(1).asInstanceOf[Long]).toMap,
        rows.map(r => r(0) ->
          r.drop(2).map(_.asInstanceOf[Double]).toIndexedSeq).toMap)
    }

  /** ts9's report off the shared selection — identical to a direct
    * TimeSeries.exactQuantiles(events, "event_type", "value", Ps) run
    * rounded to 6 dp (same selection code, same rounding). */
  def percentiles(spark: SparkSession, dir: String): DataFrame = {
    val sel = selection(spark, dir)
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      sel.qs.keys.toSeq.map { g =>
        val q = sel.qs(g)
        Row(g, TimeSeries.r6(q(0)), TimeSeries.r6(q(1)), TimeSeries.r6(q(2)),
          sel.n(g))
      }.asJava,
      StructType(Seq(StructField("event_type", StringType),
        StructField("p50", DoubleType), StructField("p90", DoubleType),
        StructField("p99", DoubleType), StructField("n", LongType))))
  }

  /** s5's exact error-report legs off the shared selection — identical
    * to the exactQuantiles call Sketch.histQuantiles makes. */
  def exactLegs(spark: SparkSession, dir: String): DataFrame = {
    val sel = selection(spark, dir)
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      sel.qs.keys.toSeq.map { g =>
        val q = sel.qs(g)
        Row(g, TimeSeries.r6(q(0)), TimeSeries.r6(q(1)), TimeSeries.r6(q(2)))
      }.asJava,
      StructType(Seq(StructField("event_type", StringType),
        StructField("p50_exact", DoubleType),
        StructField("p90_exact", DoubleType),
        StructField("p99_exact", DoubleType))))
  }

  /** ts30's report off the shared selection: the memo's cuts + 6-dp
    * median feed the deviation half directly (actions 4-6 only). */
  def madOutliers(spark: SparkSession, dir: String, k: Int): DataFrame = {
    val sel = selection(spark, dir)
    if (sel.cuts.isEmpty) {
      import scala.jdk.CollectionConverters._
      return spark.createDataFrame(Seq.empty[Row].asJava,
        TimeSeries.madReportSchema("event_type", StringType))
    }
    val med = sel.qs.map { case (g, q) => g -> TimeSeries.r6(q(0)) }
    TimeSeries.madReportFromMedian(projection(spark, dir), "event_type",
      StringType, sel.cuts, med, sel.n, k)
  }
}
