package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.temporal.Temporal
import graft.operators.{Analytics, TimeSeries}
import graft.dedup.Dedup
import graft.ann.Ann
import graft.functions.Text

/** Driver contract — one entry per implemented operator from SURVEY.md §2.
  *
  * The `events` table plays the reference's `temporal_records`
  * (reference app/models.py:7-24): user_id ≈ record_id, ts ≈ timestamp,
  * (event_type, value, props) ≈ data. Fixed query constants live here;
  * the operators themselves are the generic library under graft.*.
  */
object SparkEntry {

  // Temporal query points (events span 2024-01-01 .. 2024-01-30).
  private val T = "2024-01-20 00:00:00"
  private val T1 = "2024-01-10 00:00:00"
  private val T2 = "2024-01-25 00:00:00"
  private val RecId = 42
  // t13's transaction-time cutoff: state as known after the first 500
  // appends (event_id is the monotone ingest sequence)
  private val KnownAtSeq = 500L
  // t14's weekly as-of checkpoints (events span 2024-01-01 .. 01-30)
  private val TrendTs = Seq("2024-01-08 00:00:00", "2024-01-15 00:00:00",
    "2024-01-22 00:00:00", "2024-01-29 00:00:00")
  private val Stopwords = Seq("the", "a")
  // a2's multi-table LSH shape: production plane count (65k buckets —
  // the space actually shards a corpus), small per-table probe ball
  // (697/65536 ≈ 1%), recall OR-amplified across 16 independent tables
  // (1-(1-q)^L — ANN_SWEEP_r6: recall@10 0.08→0.78 at sf0.1 and
  // 0.18→0.9+ at sf1 going L=1→16; planted real near-dups reach 1.00
  // from L=4). Shared by the entry and the oracle SQL builder.
  private val A2Planes = 16
  private val A2Probe = 3
  private val A2Tables = 16
  private val A2Seed = 42L
  // a18 MMR constants, shared by the Spark wiring and the oracle SQL
  // (the A2Planes pattern): λ₁₀ splits the integer objective into
  // λ₁₀·rel − (10−λ₁₀)·red on BOTH engines, so changing any of these
  // moves query and oracle together
  private val MmrPoolK = 20
  private val MmrSelectK = 5
  private val MmrLambdaTenths = 7
  private val MmrQueryIds = Seq(0L, 1L, 2L, 3L, 4L)
  // x13's blocklist (all present in the synthetic 31-word vocabulary,
  // so the density test discriminates instead of flagging everything).
  // Shared by the entry and the oracle SQL so a retune cannot
  // desynchronize the engines.
  private val BlockWords = Seq("slow", "dup", "big")
  // s3/s4/s5 sketch shapes — interpolated into BOTH the query wiring
  // and the oracle SQL so a retune cannot desynchronize the engines
  private val KmvK = 128
  private val BloomM = 1 << 20
  private val BloomHashes = 4
  private val HistBuckets = 256
  // x20/x21's benchmark probe set (BM25 query terms). 'dup' is the one
  // genuinely rare vocabulary item at every SF (~5% df vs ~78% for the
  // rest), so idf_bits exercises both the rare and the saturated branch.
  // Shared by the query wiring and the oracle SQL builder below.
  private val BenchProbes: Seq[(Long, String)] = Seq(
    0L -> "dup", 0L -> "merge",
    1L -> "spark", 1L -> "window", 1L -> "agg",
    2L -> "customer", 2L -> "order", 2L -> "line")
  private def benchProbeDf(s: SparkSession): DataFrame = {
    import s.implicits._
    BenchProbes.toDF("query_id", "term")
  }
  private def benchProbeValuesSql: String =
    BenchProbes.map { case (q, t) => s"($q, '$t')" }.mkString(", ")
  // x21's contamination threshold as a fraction of each probe's
  // maximum attainable BM25 mass (Retrieval.bm25QueryMax): θ = 7/10.
  // Relative, because absolute BM25 grows with bits(N) — measured
  // flag rate 8.8% at BOTH sf0.01 and sf0.1 under this rule, where a
  // fixed absolute cut drifted 5% -> 91% across the same two scales.
  private val X21ThetaNum = 7
  private val X21ThetaDen = 10
  // x30's drift flag threshold: |weekly mean − first-week baseline|
  // > 0.02 in integer micro units (both means are 6-dp multiples, so
  // the comparison is exact on both engines)
  private val X30DriftMicro = 20000L

  private def ts(s: String) = lit(s).cast("timestamp")
  private def ev(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)

  /** a4's 2-stage hierarchical IVF probe over the shared CellIndexCache
    * artifacts — ONE definition (CellIndexCache.probeTopk) so a4 (the
    * search), a12 (its recall evaluation against the brute truth) and
    * a13's cached dense leg cannot drift apart. */
  private[graft] def ivfProbeTopk(s: SparkSession, d: String,
                           k: Int = 10): DataFrame =
    graft.ann.CellIndexCache.probeTopk(s, d, Seq(0L, 1L, 2L, 3L, 4L), k)

  /** a9's IVFPQ search over the shared index artifacts — ONE wiring so
    * a9 (the search) and a14 (its recall evaluation) cannot drift. */
  private[graft] def ivfPqTopk(s: SparkSession, d: String): DataFrame = {
    val ix = graft.ann.CellIndexCache.embeddings(s, d)
    val np = Ann.ivfPqNprobe(ix.cells)
    Ann.knnIvfPq(
      graft.ann.CellIndexCache.embeddingsWithCell(s, d),
      "vec_id", "embedding", "cell",
      graft.ann.CellIndexCache.centroids(s, d),
      graft.ann.CellIndexCache.pqCodes(s, d),
      graft.ann.CellIndexCache.pqCodebook(s, d),
      ix.k2, Seq(0L, 1L, 2L, 3L, 4L), 10, np,
      Ann.hierGroupProbe(ix.k1, ix.k2, np),
      graft.ann.CellIndexCache.groupCentroids(s, d))
  }

  // The a-family's three bounded top-k legs, each consumed by several
  // queries per suite pass (brute truth: a1 + the a12/a14/a15/a17
  // evals; hierarchical probe: a4 + a12/a17; IVFPQ: a9 + a14), were
  // re-computed per consumer — 5 brute corpus passes, 3 probe runs, 2
  // ADC runs per pass. Memoize each ONCE per (session, corpus), the
  // same in-session discipline as RetrievalCache's hybrid legs /
  // QuantileCache's selection: queries×k rows persisted, every
  // consumer reads the same table, results bit-identical because it
  // is the same DataFrame (R17EvalLegSpec pins shared == direct).
  // Nothing survives the session — every run still computes all legs
  // from the parquet corpus.
  private val bruteTruthCache = graft.util.SessionCache.forDf[(Int, String)]
  private def bruteTruth(s: SparkSession, d: String): DataFrame =
    bruteTruthCache.getOrBuild((System.identityHashCode(s), d)) {
      Ann.knnBrute(Tables.embeddings(s, d), "vec_id", "embedding",
          Seq(0L, 1L, 2L, 3L, 4L), 10)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
  private val probeTopkCache = graft.util.SessionCache.forDf[(Int, String)]
  private def probeTopkShared(s: SparkSession, d: String): DataFrame =
    probeTopkCache.getOrBuild((System.identityHashCode(s), d)) {
      ivfProbeTopk(s, d)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
  private val pqTopkCache = graft.util.SessionCache.forDf[(Int, String)]
  private def pqTopkShared(s: SparkSession, d: String): DataFrame =
    pqTopkCache.getOrBuild((System.identityHashCode(s), d)) {
      ivfPqTopk(s, d)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** recall@k of `approx` against `truth` (both (query_id, nn_id)
    * top-k tables) — the bounded eval aggregate a12 and a14 share. */
  private def recallEval(truth: DataFrame, approx: DataFrame): DataFrame =
    truth.join(approx.withColumn("__hit", lit(1L)),
        Seq("query_id", "nn_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_truth"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_hit"))
      .withColumn("recall",
        round(col("n_hit") / col("n_truth").cast("double"), 6))
      .orderBy("query_id")

  /** Flagship: AS-OF snapshot (the reference's GET /query). */
  def entry(spark: SparkSession): DataFrame =
    queries("t1_asof_snapshot")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- A. temporal core ------------------------------------------------
    "t1_asof_snapshot" -> ((s, d) =>
      Temporal.asOf(ev(s, d), "user_id", "ts", "event_id", ts(T))
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), col("event_type"), col("value"), col("props"))
        .orderBy("user_id")),

    "t2_version_history" -> ((s, d) =>
      Temporal.history(ev(s, d), "user_id", "ts", "event_id", lit(RecId))
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_type"), col("value"), col("version"), col("previous_version"))
        .orderBy("ts_us", "event_id")),

    "t3_asof_lookup" -> ((s, d) =>
      Temporal.asOf(ev(s, d).filter(col("user_id") === RecId),
          "user_id", "ts", "event_id", ts(T))
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), col("event_type"), col("value"), col("props"))),

    "t4_compare_diff" -> ((s, d) => changesDf(s, d).filter(col("user_id") === RecId)),

    "t5_rollback_set" -> ((s, d) =>
      Temporal.rollbackSet(ev(s, d), "user_id", "ts", "event_id", ts(T))
        .select(col("user_id"), col("n_after"), col("action"),
          col("event_id").as("restore_event_id"),
          unix_micros(col("ts")).as("restore_ts_us"),
          col("event_type").as("restore_event_type"),
          col("value").as("restore_value"))
        .orderBy("user_id")),

    "t6_rollback_log" -> ((s, d) =>
      Temporal.rollbackLog(ev(s, d), "user_id", "ts", ts(T))),

    "t7_version_stats" -> ((s, d) =>
      Temporal.versionStats(ev(s, d), "user_id", "ts")
        .select(col("user_id"), col("n_versions"),
          unix_micros(col("first_ts")).as("first_us"),
          unix_micros(col("last_ts")).as("last_us"),
          (unix_micros(col("last_ts")) - unix_micros(col("first_ts"))).as("lifespan_us"))
        .orderBy("user_id")),

    "t8_changes_between" -> ((s, d) => changesDf(s, d).orderBy("user_id")),

    "t9_snapshot_reconstruct" -> ((s, d) =>
      Temporal.snapshotReconstruct(ev(s, d), "user_id", "ts", "event_id",
          ts("2024-01-15 00:00:00"), ts(T))
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), col("event_type"), col("value"), col("props"))
        .orderBy("user_id")),

    // ---- B. time series --------------------------------------------------
    "t10_cdc_diff" -> ((s, d) =>
      changesDf(s, d)
        .withColumn("op",
          when(col("event_type_from").isNull && col("value_from").isNull, lit("I"))
            .when(col("event_type_to").isNull && col("value_to").isNull, lit("D"))
            .otherwise(lit("U")))
        .select("user_id", "op", "event_type_from", "event_type_to",
          "value_from", "value_to", "changed_fields")
        .orderBy("user_id")),

    "ts1_tumbling_agg" -> ((s, d) =>
      TimeSeries.tumblingDaily(ev(s, d), "event_type", "ts", "value")
        .orderBy("event_type", "day")),

    "ts2_sliding_avg" -> ((s, d) =>
      TimeSeries.slidingAvg(
          ev(s, d).select("user_id", "ts", "event_id", "value"),
          "user_id", "ts", "event_id", "value", 3)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"), col("value"), col("mavg"))
        .orderBy("user_id", "ts_us", "event_id")),

    "ts3_lag_delta" -> ((s, d) =>
      TimeSeries.lagDelta(
          ev(s, d).select("user_id", "ts", "event_id", "value"),
          "user_id", "ts", "event_id", "value")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"), col("value"),
          col("prev_value"), col("delta"), col("elapsed_us"))
        .orderBy("user_id", "ts_us", "event_id")),

    // hot-key-adaptive: identical numbering to the single-window form,
    // but a hot user's timeline shards over day-chunks (skew-safe)
    "ts4_sessionize" -> ((s, d) =>
      TimeSeries.sessionizeSkewSafe(
          ev(s, d).select("user_id", "ts", "event_id", "value"),
          "user_id", "ts", "event_id", "value", 1800L)
        .orderBy("user_id", "session_id")),

    "ts5_downsample_ohlc" -> ((s, d) =>
      TimeSeries.downsampleOhlc(ev(s, d), "event_type", "ts", "value")
        .orderBy("event_type", "day")),

    "ts6_topk" -> ((s, d) =>
      TimeSeries.topkByTotal(ev(s, d), "user_id", "value", 20)
        .select("rank", "user_id", "total_value").orderBy("rank")),

    "ts7_asof_join" -> ((s, d) => {
      val e = ev(s, d).select("user_id", "ts", "event_id", "event_type")
      val purchases = e.filter(col("event_type") === "purchase").drop("event_type")
      val clicks = e.filter(col("event_type") === "click").drop("event_type")
      // native AsOfJoinExec (spec-checked identical to the composed
      // union+window form in TimeSeries.asOfJoin)
      graft.plans.AsOfJoinDsl.asof(purchases, clicks, "user_id", "ts", "event_id")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          unix_micros(col("ts")).as("purchase_ts_us"),
          col("right_event_id").as("click_id"),
          unix_micros(col("right_ts")).as("click_ts_us"),
          (unix_micros(col("ts")) - unix_micros(col("right_ts"))).as("gap_us"))
        .orderBy("purchase_id")
    }),

    "ts8_gap_fill" -> ((s, d) =>
      TimeSeries.gapFillDaily(ev(s, d), "event_type", "ts", "value")
        .orderBy("event_type", "day")),

    // exact per-series percentiles off the suite-shared selection memo
    // (QuantileCache: one cutoff selection serves ts9/ts30/s5) — same
    // code path, bit-identical to TimeSeries.percentiles (spec-pinned)
    "ts9_percentiles" -> ((s, d) =>
      graft.operators.QuantileCache.percentiles(s, d)
        .orderBy("event_type")),

    // robust per-series anomaly gate (Hampel filter): median/MAD with
    // |v − med| > 3·MAD outlier counts — the robust twin of ts19's
    // z-score, immune to the outliers dragging mean/stddev; both
    // medians 6-dp-rounded exact percentiles so the strict compare is
    // engine-exact (ts9's discipline)
    // off the shared selection memo: cuts + median reused, only the
    // deviation half (3 actions) runs per suite
    "ts30_mad_outliers" -> ((s, d) =>
      graft.operators.QuantileCache.madOutliers(s, d, 3)
        .orderBy("event_type")),

    "ts10_distinct_users" -> ((s, d) =>
      TimeSeries.distinctKeys(ev(s, d), "event_type", "user_id")
        .orderBy("event_type")),

    "ts11_stream_tumbling" -> ((s, d) =>
      graft.streaming.Streams.tumblingDailyStream(s, d)
        .orderBy("event_type", "day")),

    "ts12_stream_sessionize" -> ((s, d) =>
      graft.streaming.Streams.sessionizeStream(s, d, "30 minutes")
        .orderBy("user_id", "start_us")),

    "ts13_grouped_topk" -> ((s, d) =>
      TimeSeries.groupedTopk(ev(s, d), "event_type", "user_id", "value", 3)
        .orderBy("event_type", "rank")),

    "ts14_retention" -> ((s, d) =>
      TimeSeries.retentionCohorts(ev(s, d), "user_id", "ts")
        .orderBy("cohort", "day_offset")),

    "ts15_funnel" -> ((s, d) =>
      TimeSeries.funnel(ev(s, d), "user_id", "ts", "event_type",
        Seq("signup", "click", "purchase"))),

    "t11_asof_interp" -> ((s, d) =>
      Temporal.asOfInterpolate(
          ev(s, d).select("user_id", "ts", "event_id", "value"),
          "user_id", "ts", "event_id", "value", ts(T))
        .orderBy("user_id")),

    // as-of trend: the value metric aggregated over every record's
    // state as of each of 4 weekly checkpoints — ONE scan + ONE
    // key-shuffle for all four (conditional max-aggregates), not
    // four as-of scans
    "t14_asof_trend" -> ((s, d) =>
      Temporal.asOfTrend(
          ev(s, d).select("user_id", "ts", "event_id", "value"),
          "user_id", "ts", "event_id", "value",
          TrendTs.map(t => t.substring(0, 10) -> ts(t)))
        .orderBy("checkpoint")),

    // temporal ALIGNMENT join: the click chain and the view chain of
    // each user intersected into the piecewise intervals where both
    // states are simultaneously valid — ONE window sweep over the
    // interleaved rows (chains are contiguous, so every boundary is a
    // version start), not the quadratic scd2 x scd2 overlap join the
    // oracle cross-checks it against
    "t15_interval_align" -> ((s, d) =>
      Temporal.intervalAlign(
          ev(s, d).select("user_id", "ts", "event_id", "event_type", "value"),
          "user_id", "ts", "event_id",
          col("event_type") === "click", col("event_type") === "view", "value")
        .orderBy("user_id", "iv_from_us", "a_version", "b_version")),

    // state-duration report: each version's validity interval
    // attributed to its event_type state, per-state dwell totals +
    // share of observed time — one lead() shuffle + a broadcast
    // grand-total scalar
    "t16_state_durations" -> ((s, d) =>
      Temporal.stateDurations(
        ev(s, d).select("user_id", "ts", "event_id", "event_type"),
        "user_id", "ts", "event_id", "event_type")),

    // retention-policy plan (NEW r14): pre-cutoff versions compact to
    // the single latest carrier per key (dropping it would break every
    // post-cutoff AS-OF), the reclaim report a TimescaleDB-style TTL
    // policy publishes before drop_chunks; one conditional aggregate
    "t17_ttl_compaction" -> ((s, d) =>
      Temporal.ttlCompaction(ev(s, d), "user_id", "ts", ts(T1))),

    // the reconciliation audit of the two: t17's planned retained
    // count per key vs the actual row count of t18's output
    "t19_retention_audit" -> ((s, d) =>
      Temporal.retentionAudit(
        ev(s, d).select("user_id", "ts", "event_id", "event_type", "value"),
        "user_id", "ts", "event_id", ts(T1))),

    // the physical reclaim of t17's plan: post-cutoff versions verbatim
    // + per key the latest pre-cutoff version (the AS-OF carrier) —
    // asOf(vacuumed, t) == asOf(full, t) for all t >= cutoff
    "t18_vacuum" -> ((s, d) =>
      Temporal.vacuum(
        ev(s, d).select("user_id", "ts", "event_id", "event_type", "value"),
        "user_id", "ts", "event_id", ts(T1))
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), col("event_type"), col("value"), col("row_kind"))
        .orderBy("user_id", "ts_us", "event_id")),

    // bitemporal as-of: state at valid time T as KNOWN at append
    // sequence 500 (transaction-time axis = the monotone ingest id),
    // with the current-knowledge answer + late-correction flag from
    // the SAME single conditional-aggregate pass
    "t13_bitemporal" -> ((s, d) =>
      Temporal.bitemporalAsOf(
          ev(s, d).select("user_id", "ts", "event_id", "event_type", "value"),
          "user_id", "ts", "event_id", ts(T), lit(KnownAtSeq))
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), col("event_type"), col("value"),
          col("current_event_id"), col("revised"))
        .orderBy("user_id")),

    // SCD Type-2 dimension build: the version chain as half-open
    // validity intervals (valid_from/valid_to/is_current) — the
    // materialized-warehouse twin of the AS-OF read
    "t12_scd2" -> ((s, d) =>
      Temporal.scd2(ev(s, d), "user_id", "ts", "event_id")
        .select(col("user_id"), col("version"), col("event_id"),
          unix_micros(col("ts")).as("valid_from_us"),
          unix_micros(col("valid_to")).as("valid_to_us"),
          col("is_current"), col("event_type"), col("value"))
        .orderBy("user_id", "version")),

    "ts21_stream_version_monitor" -> ((s, d) =>
      graft.streaming.Streams.versionMonitorStream(s, d)
        .orderBy("user_id", "version")),

    // trailing-1h per-row aggregate as a RANGE window frame (the
    // window-function twin of the ts16 interval JOIN): one sort per
    // key, frame bounds in µs — no self-join at all
    "ts25_range_window" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"))
        .rangeBetween(-3600000000L, 0L)
      ev(s, d)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"), col("value"))
        .withColumn("n_1h", count(lit(1)).over(w))
        .withColumn("sum_1h",
          sum(col("value").cast("decimal(18,6)")).over(w).cast("double"))
        .orderBy("user_id", "ts_us", "event_id")
    }),

    "ts24_counter_rate" -> ((s, d) =>
      TimeSeries.counterRate(
          ev(s, d).select("user_id", "ts", "event_id", "value"),
          "user_id", "ts", "event_id", "value")
        .orderBy("user_id")),

    // streaming exact dedup: first (user, event_type, day) occurrence
    // passes, duplicates dropped by watermark-bounded keyed state;
    // survivor report aggregated batch-side post-drain (deterministic)
    "ts26_stream_dedup" -> ((s, d) =>
      graft.streaming.Streams.streamDedup(s, d)),

    // day × event_type counts as a wide pivot (explicit value list ->
    // deterministic schema; one aggregation, Expand-free)
    "ts22_pivot" -> ((s, d) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val piv = ev(s, d)
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .pivot("event_type", types).agg(count(lit(1)))
      piv.select(col("day") +: types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
        .orderBy("day")
    }),

    // the ranking-function suite over per-user totals: rank/dense_rank/
    // percent_rank/cume_dist on the coarse bucket key + row_number/
    // ntile on the total order — through the DISTRIBUTED rank suite
    // (TimeSeries.rankSuite: approx-cutoff range buckets + exact
    // per-bucket offsets + partitioned windows), never a corpus-wide
    // single-task `Window.orderBy` sort (the r12 scale-killer). The
    // DuckDB oracle computes the same columns as plain exact windows —
    // cross-derivation proof (RankSuiteSpec pins the window twin equal
    // on a skewed corpus). `bucket` monotone in total_value is what
    // lets the tie-family stats derive from per-bucket aggregates.
    "ts23_rank_suite" -> ((s, d) => {
      val totals = ev(s, d).groupBy(col("user_id"))
        .agg(sum(col("value").cast("decimal(18,6)")).cast("double").as("total_value"))
        .withColumn("bucket", floor(col("total_value") / 50))
      graft.operators.TimeSeries.rankSuite(
        totals, "user_id", "total_value", "bucket", 4)
    }),

    "ts16_interval_join" -> ((s, d) => {
      val e = ev(s, d)
      val purchases = e.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val clicks = e.filter(col("event_type") === "click").select("user_id", "ts")
      TimeSeries.intervalCount(purchases, clicks, "user_id", "ts", "event_id",
          3600000000L)
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts_us"), col("n_matches").as("n_clicks"))
        .orderBy("purchase_id")
    }),

    "ts17_stream_interval_join" -> ((s, d) =>
      graft.streaming.Streams.intervalJoinStream(s, d)
        .orderBy("purchase_id", "click_id")),

    "ts18_ewma" -> ((s, d) =>
      TimeSeries.ewma(ev(s, d).select("user_id", "ts", "event_id", "value"),
          "user_id", "ts", "event_id", "value", 0.5, 3)
        .orderBy("user_id", "ts_us", "event_id")),

    "ts19_zscore" -> ((s, d) =>
      TimeSeries.zscoreAnomalies(ev(s, d), "event_type", "event_id", "value", 2.5)
        .orderBy("event_id")),

    "ts20_twa" -> ((s, d) =>
      TimeSeries.timeWeightedAvg(ev(s, d), "user_id", "ts", "event_id", "value",
          ts(T1), ts(T2))
        .orderBy("user_id")),

    // seasonal-naive anomaly profile (NEW r14): per (series,
    // hour-of-day) decimal-exact baseline + ≥3σ recount — ts19's
    // z-score machinery applied per seasonal slot; the slot table is
    // ≤ series×24 rows and broadcasts back onto the scan
    "ts31_seasonal_anomaly" -> ((s, d) =>
      TimeSeries.seasonalAnomalies(ev(s, d), "event_type", "ts", "value", 3.0)),

    // CUSUM drift ranking (NEW r14): per-user max drawup of the
    // centered cumulative sum (Page's change-detection statistic as a
    // ranking), integer micro-units after the decimal-exact mean; the
    // top-k never leaves TakeOrdered
    "ts32_cusum_drift" -> ((s, d) =>
      TimeSeries.cusumDrift(ev(s, d), "user_id", "ts", "event_id", "value", 20)),

    // seasonality-strength variance ratio (NEW r14): ts31's slot
    // moments rolled up to 1 − SS_resid/SS_total per series; per-slot
    // residuals micro-quantized before the cross-slot sum
    "ts33_seasonal_strength" -> ((s, d) =>
      TimeSeries.seasonalStrength(ev(s, d), "event_type", "ts", "value")),

    // heartbeat/SLA uptime report (NEW r14): 12h expected cadence,
    // outages when a gap exceeds 2·expected, downtime = µs beyond
    // cadence — exact int64 until the one rounded uptime ratio
    "ts34_heartbeat_gaps" -> ((s, d) =>
      TimeSeries.heartbeatGaps(ev(s, d), "user_id", "ts", "event_id",
        43200000000L)),

    // lag-{1,2,3} autocorrelation per user (NEW r14): the regularity
    // diagnostic completing ts31-33's decomposition — decimal-exact
    // mean, milli-quantized deviations, exact decimal product sums;
    // keyed on the high-cardinality user column (window parallel by
    // construction), one window + two key-sized aggregates
    "ts35_acf" -> ((s, d) =>
      TimeSeries.acf(ev(s, d), "user_id", "ts", "event_id", "value", 3)),

    // ---- C. relational analytics ----------------------------------------
    "q1_pricing_summary" -> ((s, d) => Analytics.q1PricingSummary(s, d, "2000-09-02")),
    "q3_shipping_priority" -> ((s, d) =>
      Analytics.q3ShippingPriority(s, d, "BUILDING", "1998-03-15")),
    "q5_local_supplier" -> ((s, d) => Analytics.q5LocalSupplier(s, d, "ASIA", 1996)),
    "q6_revenue_delta" -> ((s, d) => Analytics.q6RevenueDelta(s, d, 1997)),
    "q7_volume_shipping" -> ((s, d) =>
      Analytics.q7VolumeShipping(s, d, "NATION_2", "NATION_7")),
    "q14_promo_revenue" -> ((s, d) => Analytics.q14PromoRevenue(s, d, "1997-09")),
    "q10_returned_items" -> ((s, d) => Analytics.q10ReturnedItems(s, d, "1997-10-01")),
    "q18_large_orders" -> ((s, d) => Analytics.q18LargeOrders(s, d, 250.0)),
    "q4_priority_late" -> ((s, d) => Analytics.q4PriorityLate(s, d, "1996-01-01", 60)),
    "q8_market_share" -> ((s, d) =>
      Analytics.q8MarketShare(s, d, "ASIA", "ECONOMY", "NATION_2", 1995, 1996)),
    "q9_product_profit" -> ((s, d) => Analytics.q9ProductProfit(s, d, "red")),
    "q13_cust_orders_hist" -> ((s, d) =>
      Analytics.q13CustOrdersHist(s, d, "4-NOT SPECIFIED")),
    "q15_top_supplier" -> ((s, d) => Analytics.q15TopSupplier(s, d, "1996-01-01")),
    "q16_part_supplier_cnt" -> ((s, d) =>
      Analytics.q16PartSupplierCnt(s, d, "Brand#5", Seq(1, 5, 9, 14, 19, 23, 36, 45))),
    "q17_small_qty_rev" -> ((s, d) => Analytics.q17SmallQtyRevenue(s, d, "Brand#3")),
    "q19_disc_revenue_or" -> ((s, d) => Analytics.q19DiscRevenueOr(s, d)),
    "q20_qty_suppliers" -> ((s, d) => Analytics.q20QtySuppliers(s, d, "blue", 1996, 2.0)),
    "q21_returned_sole" -> ((s, d) => Analytics.q21ReturnedSole(s, d, 20)),
    "q2_min_cost_supp" -> ((s, d) =>
      Analytics.q2MinCostSupplier(s, d, "EUROPE", 15, "STANDARD", 100)),
    "q11_important_stock" -> ((s, d) =>
      Analytics.q11ImportantStock(s, d, "NATION_7", 0.001)),
    "q12_ship_priority" -> ((s, d) =>
      Analytics.q12ShipDelayPriority(s, d, 1997, 30, 60)),
    "q23_rollup_revenue" -> ((s, d) => Analytics.q23RollupRevenue(s, d)),

    // set operators: EXCEPT/INTERSECT compile to anti/semi joins over
    // the distinct key sets — churn analysis shape (active-then-gone)
    "q24_set_ops" -> ((s, d) => {
      def custsIn(year: Int) = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit(s"$year-01-01").cast("timestamp") &&
          col("o_orderdate") < lit(s"${year + 1}-01-01").cast("timestamp"))
        .select("o_custkey")
      val churned = custsIn(1996).except(custsIn(1997))
      val retained = custsIn(1996).intersect(custsIn(1997))
      churned.withColumn("cohort", lit("churned"))
        .unionByName(retained.withColumn("cohort", lit("retained")))
        .groupBy("cohort").agg(count(lit(1)).as("n_customers"))
        .orderBy("cohort")
    }),
    "q22_idle_customers" -> ((s, d) =>
      Analytics.q22IdleCustomers(s, d, Seq(1, 3, 5, 7, 9, 11, 13), "1999-01-01")),

    // ---- D. dedup --------------------------------------------------------
    "d1_exact_dedup" -> ((s, d) =>
      Dedup.exact(Tables.documents(s, d), "doc_id", "text")
        .orderBy("canonical_id")),

    // token-weighted duplication inflation per source (NEW r14): how
    // much of each source's token mass is exact copies — d1's hash
    // exchange with the text reduced to (hash, token count), closed by
    // a source-sized aggregate
    "d12_dup_inflation" -> ((s, d) =>
      Dedup.dupInflation(Tables.documents(s, d), "doc_id", "text", "source")),

    // candidate pair table built ONCE per (session, dir) and shared
    // with d6/d7's clustering (ClusterCache.minhashPairs)
    "d2_minhash_lsh" -> ((s, d) =>
      graft.dedup.ClusterCache.minhashPairs(s, d).orderBy("id_a", "id_b")),

    "d3_simhash" -> ((s, d) =>
      Dedup.simhashFingerprints(Tables.documents(s, d), "doc_id", "text", 8)
        .orderBy("doc_id")),

    "d4_ngram_jaccard" -> ((s, d) =>
      graft.dedup.ClusterCache.jaccardPairs(s, d)
        .orderBy("id_a", "id_b")),

    // cosine ≥ τ pairs over CORPUS-PROPORTIONAL coarse cells (k ≈ n/64
    // product-quantizer cells, probe-2 boundary recovery) — in-cell
    // pair work stays ~linear in the corpus where the former fixed
    // 10-label blocking measured 18× wall for 10× data. The
    // fixed-cell exact form (Ann.nearDupPairs) remains the
    // correctness-grounding tier, the d4-grounds-d2 pattern.
    // The coarse index (anchor assignment) is built ONCE per corpus
    // via CellIndexCache and shared with d8/a3/a4 — n comes from
    // parquet footers, so no count() job either. The PAIR TABLE is
    // shared too: scored once at BaseTau (= d5's reporting tau) and
    // served to d8 as a filter, the one-pair-table-many-consumers
    // shape of a real curation pipeline.
    "d5_embedding_neardup" -> ((s, d) =>
      graft.ann.CellIndexCache.scaledPairs(s, d)),

    // cluster table built ONCE per (session, dir) and shared with d7
    // (ClusterCache) — one LSH band join + star-contraction job, two
    // consumers, like d5/d8's shared pair table.
    "d6_dup_clusters" -> ((s, d) =>
      graft.dedup.ClusterCache.documents(s, d).orderBy("doc_id")),

    // survivorship: one kept doc per near-dup cluster (longest text,
    // ties to smallest id) + the bytes the cluster saves — derived
    // from d6's shared cluster table, not a second clustering run
    "d7_dedup_survivors" -> ((s, d) =>
      graft.operators.Pipeline.dedupSurvivorsFrom(
        graft.dedup.ClusterCache.documents(s, d),
        Tables.documents(s, d), "doc_id", "n_chars")),

    // SEMANTIC dedup: connected components over the embedding-cosine
    // near-dup graph (d5's scaled blocking) — per-cluster size + a
    // BOUNDED member sample (CollectMinK, like d1/t6). The text-level
    // twin is d6/d7 over MinHash candidates; this is the
    // embedding-level cluster decision a curation pipeline acts on.
    // The cluster threshold is 0.4 (>3σ of the random-pair cosine),
    // stricter than d5's 0.25 pair report: transitive closure CHAINS
    // edges, and chaining 2σ-of-random cosines welds the corpus into
    // one junk cluster (and makes any engine's closure materialize
    // |component|² reachability) — the edge bar for clustering must
    // sit above the noise band.
    "d8_semantic_dedup" -> ((s, d) =>
      // CC over scaledPairs at tau=0.4 (the tau filter commutes with
      // the pair aggregation — CoarseCellSpec pins the equivalence),
      // served from the durable tau-stamped cluster assignment
      graft.ann.CellIndexCache.semanticClusters(s, d)
        .groupBy(col("cluster_id"))
        .agg(
          count(lit(1)).as("n_members"),
          concat_ws(",",
            Dedup.collectMinK(col("vec_id"), 10).cast("array<string>"))
            .as("member_ids"))
        .orderBy(col("cluster_id"))),

    // duplicated-SPAN coverage (Lee et al. 2022 ExactSubstr at word-
    // 5-gram granularity): corpus-repeated n-grams mark their token
    // spans; per-doc interval union -> covered tokens / fraction.
    // Finds the boilerplate that repeats INSIDE otherwise-unique docs,
    // which doc-level d1-d5 cannot see.
    "d9_span_dedup" -> ((s, d) =>
      Dedup.spanDedup(Tables.documents(s, d), "doc_id", "text", 5)),

    // cross-source duplication matrix: near-dup clusters spanning each
    // unordered source pair — derived from d6's SHARED cluster table
    // (one more consumer of the one LSH+CC job), cluster⋈source
    // attach + an output-bounded per-cluster pair fan-out
    "d10_source_overlap" -> ((s, d) =>
      graft.operators.Pipeline.sourceOverlapFrom(
        graft.dedup.ClusterCache.documents(s, d),
        Tables.documents(s, d), "doc_id", "source")),

    // dedup index health card (NEW r14): measured recall of the d2
    // MinHash banding vs the d4 exact-Jaccard truth per similarity
    // band (the LSH s-curve, observed) + the candidate-precision row —
    // the a12/a14 recall-eval pattern for the text-dedup index; pure
    // consumer of the two SHARED pair tables
    "d11_lsh_recall" -> ((s, d) =>
      Dedup.lshRecallBands(
        graft.dedup.ClusterCache.minhashPairs(s, d),
        graft.dedup.ClusterCache.jaccardPairs(s, d))),

    // ---- P. composed end-to-end pipeline ---------------------------------
    // the whole-corpus curation chain (exact dedup -> near-dup
    // survivorship -> quality+blocklist -> decontamination -> mixture
    // -> pack), every stage a consumer of the SHARED corpus artifacts
    // (d6's cluster table, the d4/x16/x8 shingle postings) — per-source
    // funnel counts + final kept tokens/pack bins. The "does it
    // compose without recomputation" headline query.
    "p1_curation_pipeline" -> ((s, d) =>
      graft.operators.Pipeline.curationPipelineFrom(
        Tables.documents(s, d),
        graft.dedup.ClusterCache.documents(s, d),
        graft.dedup.ClusterCache.postings(s, d),
        "doc_id", "text", "source", "n_chars",
        Stopwords, BlockWords)),

    // the epoch-capped repeat schedule over the CLEANED corpus would
    // compose p1's pool; published here over the raw per-source token
    // counts so the oracle replays one scan (the composed form is
    // p1's mixture stage with this arithmetic)
    "p2_mix_epochs" -> ((s, d) =>
      graft.operators.Pipeline.mixEpochs(
        Tables.documents(s, d), "source", "text", 4)),

    // ---- E. similarity search -------------------------------------------
    "a1_knn_brute" -> ((s, d) => bruteTruth(s, d)),

    // metadata-filtered vector search (NEW r14): the predicate is the
    // JOIN KEY (pre-filtering — exact recall by construction), not a
    // residual filter on an unfiltered top-k; at lake scale the label
    // column is the partition/bucket key and the scan itself prunes
    "a16_filtered_knn" -> ((s, d) =>
      Ann.filteredKnn(Tables.embeddings(s, d), "vec_id", "embedding",
        "label", Seq(0L, 1L, 2L, 3L, 4L), 10)),

    // recall@k CURVE over the a4 IVF probe (NEW r14): a12's single
    // recall@10 unrolled to k ∈ {1,5,10} — the operating-curve row a
    // vector index publishes (is the probe good enough at the k the
    // application actually uses?); pure consumer of the two shared
    // bounded top-k legs, output is 3 rows at any corpus size
    "a17_recall_curve" -> ((s, d) => {
      val truth = bruteTruth(s, d)
        .select(col("query_id"), col("nn_id"), col("rank").as("tr"))
      val probe = probeTopkShared(s, d)
        .select(col("query_id"), col("nn_id"), col("rank").as("ar"))
      val j = truth.join(probe, Seq("query_id", "nn_id"), "left")
      val ks = Seq(1, 5, 10)
      // ONE aggregate with per-k conditional columns, unpivoted to the
      // 3 report rows — the per-k union form re-planned the join+agg
      // subtree once per k (the ts15 duplicated-subtree shape).
      // filter(tr<=k) folds into the conditions: countDistinct skips
      // the NULLed-out query ids, and (tr<=k AND ar<=k) is the
      // filtered sum's predicate (NULL ar → otherwise-0, as before)
      val agg = j.agg(
        countDistinct(when(col("tr") <= ks.head, col("query_id")))
          .as(s"nq_${ks.head}"),
        ks.tail.flatMap(k => Seq(
          countDistinct(when(col("tr") <= k, col("query_id"))).as(s"nq_$k")))
          ++ ks.map(k =>
            sum(when(col("tr") <= k && col("ar") <= k, lit(1L))
              .otherwise(lit(0L))).as(s"nh_$k")): _*)
      agg.select(explode(array(ks.map(k =>
          struct(lit(k).as("k"), col(s"nq_$k").as("n_queries"),
            col(s"nh_$k").as("n_hit"))): _*)).as("__r"))
        .select(col("__r.k"), col("__r.n_queries"), col("__r.n_hit"),
          round(col("__r.n_hit") / (col("__r.n_queries") * col("__r.k"))
            .cast("double"), 6).as("recall_at_k"))
        .orderBy("k")
    }),

    // MMR-diversified top-5 from the exact top-20 pool (NEW r14):
    // Carbonell & Goldstein 1998, λ=0.7 — the diversity re-rank a
    // RAG stack runs so results are not near-copies; integer
    // micro-cosine objective (λ₁₀·rel_µ − 3·red_µ), greedy unrolled
    // into bounded per-query steps, oracle replays the same unroll
    "a18_mmr_diversify" -> ((s, d) =>
      Ann.mmrDiversify(Tables.embeddings(s, d), "vec_id", "embedding",
        MmrQueryIds, MmrPoolK, MmrSelectK, MmrLambdaTenths)),

    "a2_ann_lsh" -> ((s, d) =>
      Ann.knnLsh(Tables.embeddings(s, d), "vec_id", "embedding",
        Seq(0L, 1L, 2L, 3L, 4L), 10, A2Planes, A2Probe, A2Seed, A2Tables)),

    // IVF over the SAME corpus-proportional coarse cells d5/d8 block
    // on (cells-per-corpus rule: k1·k2 ≈ ceil(n/64)) — no query
    // depends on the synthetic fixed-10 `label` column any more
    "a3_ivf_coarse" -> ((s, d) =>
      Ann.knnBlocked(
        graft.ann.CellIndexCache.embeddingsWithCell(s, d),
        "vec_id", "embedding", "cell", Seq(0L, 1L, 2L, 3L, 4L), 10)),

    // IVF with the nprobe accuracy knob: probe the nearest coarse
    // cells by decimal-exact centroid cosine, exact rerank within
    // them — the (id, vec, cell) table, the centroids, AND the
    // level-0 group centroids are shared corpus-level artifacts
    // (CellIndexCache), not per-query jobs.
    // nprobe is NOT a constant: it follows the recall-targeted rule
    // (⌈0.449·cells⌉ — Ann.recommendedNprobe), so recall@10 holds
    // FLAT (0.76/0.74 at sf0.01/sf0.1 over 25 query ids) as the cell
    // count grows with the corpus instead of decaying the way a fixed
    // probe count does (0.48 → 0.20 in ANN_SWEEP_r8; rule swept in
    // ANN_SWEEP_r11). The coarse stage is the 2-stage HIERARCHICAL
    // probe (rank k1 groups, rank cells only within the top
    // ⌈0.449·k1⌉+1): cell ranking becomes an equi-join on the group
    // key instead of a per-query scan of all k1·k2 centroids
    // (ANN_SWEEP_r12: 0.76 with a bit-equal probed set at sf0.01;
    // 0.736 vs flat 0.740 at sf0.1 — one truth pair of 250)
    "a4_ivf_nprobe" -> ((s, d) => probeTopkShared(s, d)),

    // IVF recall evaluation (recall@10 vs the exact brute-force truth):
    // the index-quality report a vector pipeline publishes next to its
    // index-health card (a10) — the recall the ANN_SWEEP_* artifacts
    // record, as a first-class bounded operator (truth and probe legs
    // are both queries×10 rows; the join/aggregate never exceeds that)
    "a12_ivf_recall" -> ((s, d) => recallEval(
      bruteTruth(s, d).select(col("query_id"), col("nn_id")),
      probeTopkShared(s, d).select(col("query_id"), col("nn_id")))),

    // IVFPQ recall evaluation — a12's twin over the COMPRESSED index
    // path: how much of the exact top-10 the constant-probe ADC +
    // bounded-rerank pipeline recovers. Together with a10 (occupancy)
    // and a12 (coarse-probe recall) this completes the index health
    // card a vector pipeline publishes: structure, probe quality, and
    // quantization cost, each a bounded first-class query.
    "a14_ivfpq_recall" -> ((s, d) => recallEval(
      bruteTruth(s, d).select(col("query_id"), col("nn_id")),
      pqTopkShared(s, d).select(col("query_id"), col("nn_id")))),

    // SQ8 recall evaluation (NEW r14): the cheap compression tier
    // below PQ — per-dimension 8-bit scalar quantization (4×
    // compression, no codebook), asymmetric full-precision-query
    // scoring, recall@10 vs the same brute truth. Completes the
    // compression column of the index health card: a12 (coarse probe),
    // a14 (PQ), a15 (SQ8). The quantizer's (min, max) training scan is
    // ONE session-cached aggregate (CellIndexCache.sq8Stats).
    "a15_sq8_recall" -> ((s, d) => {
      val (mins, maxs) = graft.ann.CellIndexCache.sq8Stats(s, d)
      recallEval(
        bruteTruth(s, d).select(col("query_id"), col("nn_id")),
        Ann.sq8Topk(Tables.embeddings(s, d), "vec_id", "embedding",
            Seq(0L, 1L, 2L, 3L, 4L), 10, mins, maxs)
          .select(col("query_id"), col("nn_id")))
    }),

    // exact cosine RANGE search (radius query): one corpus pass for
    // the whole broadcast query set, per-row norms precomputed
    "a5_range_search" -> ((s, d) =>
      Ann.rangeSearch(Tables.embeddings(s, d),
        "vec_id", "embedding", Seq(0L, 1L, 2L, 3L, 4L), 0.25)),

    // kNN majority-vote classification: exact top-10 neighbors vote
    // with their `label`; plurality wins (ties: bigger vote count,
    // then smaller label) — the label-propagation primitive over a1
    "a6_knn_classify" -> ((s, d) =>
      Ann.knnClassify(Tables.embeddings(s, d), "vec_id", "embedding",
        "label", (0L until 10L).toSeq, 10)),

    // Lloyd k-means (the SemDeDup-style clustering stage): k=8
    // deterministic seeds (smallest ids), 2 centroid updates, cosine
    // assignment at 6-dp (ties -> smaller cluster id), decimal-exact
    // centroid means — per-cluster size/min-member/mean-cos report
    // the final-report scan reads the session-persisted (id, vec,
    // cell) table the a3/a4/d5 family shares (same rows as the raw
    // embeddings — the cell column is simply unused) WHEN it is
    // already warm or loadable; a cold build-mode session falls back
    // to the raw corpus scan instead of paying the coarse-cell
    // construction for a column kmeans never reads (ADVICE r16)
    "a7_kmeans" -> ((s, d) =>
      Ann.kmeans(graft.ann.CellIndexCache.embeddingsWithCellIfWarm(s, d)
          .getOrElse(Tables.embeddings(s, d)),
        "vec_id", "embedding", 8, 2,
        centsPre = Some(graft.ann.CellIndexCache.kmeansCentroids(s, d, 8, 2)))),

    // product-quantization ADC (FAISS IVFPQ pattern): vectors stored
    // as 8 one-byte codes, queries score candidates via a broadcast
    // distance table — integer micro-distances end to end, exact
    // cosine of each hit reported alongside the ADC estimate. The
    // codebook + code table are corpus artifacts built once
    // (CellIndexCache — index construction vs search, the FAISS
    // split), like a3/a4/a9's cells and centroids.
    "a8_pq_adc" -> ((s, d) =>
      Ann.pqAdcFromIndex(Tables.embeddings(s, d), "vec_id", "embedding",
        graft.ann.CellIndexCache.rawPqCodebook(s, d),
        graft.ann.CellIndexCache.rawPqCodes(s, d),
        Seq(0L, 1L, 2L, 3L, 4L))),

    // true IVFPQ (a4 × a8): coarse-probe a CONSTANT
    // max(12, ⌈cells/50⌉) cells through the 2-stage hierarchical
    // probe (rank k1 level-0 groups, then only the top groups' leaf
    // centroids — O(√cells) coarse cosines per query instead of the
    // flat k1·k2 scan), score the probed cells' PACKED code words
    // via m in-row lookups into the broadcast per-(query,cell) ADC
    // table (one row per candidate — no per-subspace fan-out, no
    // aggregation shuffle), exact-cosine rerank only the top-200
    // shortlist (constant per query — the (codebook=64, rerank=200)
    // knee measured on the planted-cluster corpus (NOTES_r12 §3), where
    // recall saturates by probed fraction ≈0.02 so a constant probe
    // holds ≥0.85; ANN_SWEEP_r12). All structures — cells, centroids,
    // group centroids, PQ codes — are shared corpus artifacts
    // (CellIndexCache), not per-query jobs.
    "a9_ivfpq" -> ((s, d) => pqTopkShared(s, d)),

    // IVF index-health card (FAISS imbalance_factor analog): occupancy
    // balance over the SAME shared cell table a3/a4/a9/d5/d8 search —
    // the diagnostic that says whether probe-cost estimates hold or
    // hot cells concentrate the work (what d5's adaptive sub-block
    // sharding then absorbs)
    "a10_index_stats" -> ((s, d) => {
      val ix = graft.ann.CellIndexCache.embeddings(s, d)
      Ann.indexStats(
        graft.ann.CellIndexCache.embeddingsWithCell(s, d),
        "cell", ix.cells)
    }),

    // hybrid lexical+vector retrieval via reciprocal-rank fusion
    // (Cormack et al. 2009): query docs 0..4 retrieve top-20 by BM25
    // over their own terms AND top-20 by exact cosine (vec_id aligns
    // with doc_id in the corpus), fused as sum(1/(60+rank)) over the
    // legs that retrieved each candidate — the standard sparse+dense
    // ensembling a retrieval-based curation pass runs. The fused
    // window is bounded at 2x20 candidates per query at any corpus
    // size; both legs are existing scale paths.
    "a11_hybrid_rrf" -> ((s, d) => {
      val (lex, vec) = graft.operators.RetrievalCache.hybridLegs(s, d)
      graft.operators.Retrieval.rrfFuse(lex, vec, "doc_id", 10)
    }),

    // the SCALE-PATH hybrid: a11 with its dense leg swapped from the
    // exact brute scan to a4's hierarchical IVF probe — the
    // configuration you'd run at 10^9 vectors, where a per-query
    // linear scan is off the table. rrfFuse is leg-agnostic by
    // construction (integer ranks in), so the swap is pure wiring over
    // the SHARED index artifacts; the lexical leg comes from the same
    // RetrievalCache candidate run a11/x22 read. Differences vs a11
    // are exactly the probe's recall misses (a12 measures them).
    "a13_hybrid_rrf_ivf" -> ((s, d) => {
      val (lex, _) = graft.operators.RetrievalCache.hybridLegs(s, d)
      graft.operators.Retrieval.rrfFuse(lex,
        graft.operators.RetrievalCache.ivfLeg(s, d), "doc_id", 10)
    }),

    // contrastive hard-negative mining (DPR): a11's lexical top-20
    // anti-joined against its vector top-20 — lexically confusable
    // but semantically distant candidates, the negatives that teach an
    // embedding model; bounded at <= 20 rows/query at any corpus size.
    // Both legs come from the SHARED RetrievalCache candidate run.
    "x22_hard_negatives" -> ((s, d) => {
      val (lex, vec) = graft.operators.RetrievalCache.hybridLegs(s, d)
      graft.operators.Retrieval.hardNegatives(
        lex, vec.select(col("query_id"), col("doc_id")), "doc_id")
    }),

    // ---- F. text analysis ------------------------------------------------
    "x1_langid" -> ((s, d) =>
      Text.withLangId(Tables.documents(s, d), "text")
        .select(col("doc_id"), col("lang"), col("hits_en"), col("hits_de"),
          col("hits_es"), col("hits_fr"), col("guess"),
          (col("guess") === col("lang")).cast("int").as("correct"))
        .orderBy("doc_id")),

    "x2_quality_score" -> ((s, d) => {
      val ws = Text.words(col("text"))
      Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars"),
          size(ws).as("n_words"),
          size(array_distinct(ws)).as("n_distinct"),
          Text.stopwordHits(ws, Stopwords).as("stop_hits"))
        .withColumn("quality", Text.qualityScore(
          col("n_words"), col("n_distinct"), col("stop_hits"), col("n_chars")))
        .orderBy("doc_id")
    }),

    "x3_token_count" -> ((s, d) =>
      Tables.documents(s, d)
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(Text.wsTokenCount(col("text"))).as("ws_tokens"),
          sum(Text.regexTokenCount(col("text"))).as("re_tokens"))
        .orderBy("source")),

    // tokenizer-fertility report per LANGUAGE (NEW r14): subword-ish
    // tokens per whitespace word — the tokenizer-equity statistic
    // (high-fertility languages pay more compute per word); the
    // per-doc "high fertility" cut (> 1.5) is integer
    // cross-multiplication (2·re > 3·ws), the ratios are the only
    // floats and are rounded once
    "x27_token_fertility" -> ((s, d) =>
      Tables.documents(s, d)
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(Text.wsTokenCount(col("text")).cast("long")).as("ws_tokens"),
          sum(Text.regexTokenCount(col("text")).cast("long")).as("re_tokens"),
          sum(when(Text.regexTokenCount(col("text")) * 2 >
              Text.wsTokenCount(col("text")) * 3, lit(1L))
            .otherwise(lit(0L))).as("high_fert_docs"))
        .withColumn("fertility",
          round(col("re_tokens").cast("double") / col("ws_tokens"), 6))
        .withColumn("high_fert_frac",
          round(col("high_fert_docs") / col("n_docs").cast("double"), 6))
        .orderBy("lang")),

    // groupBy-min + re-join rather than min() OVER (PARTITION BY fp):
    // the aggregate is map-side partial (a hot fingerprint never funnels
    // its members through one window partition) and the per-fp side is
    // tiny — broadcast at this scale, AQE-splittable shuffle join at 100 TB
    "x4_fingerprint" -> ((s, d) => {
      val fps = Tables.documents(s, d)
        .select(col("doc_id"), Text.fingerprint(col("text")).as("fp"))
      val canon = fps.groupBy(col("fp"))
        .agg(min(col("doc_id")).as("canonical_id"))
      fps.join(canon, Seq("fp"))
        .select("doc_id", "fp", "canonical_id")
        .orderBy("doc_id")
    }),

    // deterministic stratified sampling: per-language hash-bucket
    // quotas (en kept at 40%, everything else at 15%) — the decision
    // is a pure function of doc_id, so the sample is reproducible on
    // any cluster size and monotone under rate changes
    "x6_stratified_sample" -> ((s, d) => {
      val b = Text.hashBucket(col("doc_id"), 100)
      val quota = when(col("lang") === "en", 40).otherwise(15)
      Tables.documents(s, d)
        .withColumn("bucket", b)
        .filter(col("bucket") < quota)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_sampled"),
          min(col("doc_id")).as("first_id"),
          sum(col("n_chars")).as("sampled_chars"))
        .orderBy("lang")
    }),

    // concat-and-chunk packing: md5-sharded, id-ordered, 512-token bins
    "x7_pack_sequences" -> ((s, d) =>
      graft.operators.Pipeline.packSequences(Tables.documents(s, d),
        "doc_id", "text", 512, 8)),

    // eval-set decontamination: corpus docs sharing >= 3 distinct
    // 3-shingles with a benchmark doc (bench set = doc_id % 20 == 0)
    "x8_decontamination" -> ((s, d) =>
      graft.operators.Pipeline.decontaminate(Tables.documents(s, d),
        "doc_id", "text", 3, pmod(col("doc_id"), lit(20)) === 0, 3,
        postings = Some(graft.dedup.ClusterCache.postings(s, d)))),

    // per-source quality drift over ingest weeks: x2's score joined to
    // the serving log (event -> doc_id = event_id mod |docs|, footer
    // count), weekly mean vs the source's first-week baseline, drift
    // in exact integer micro units with a threshold flag — the
    // curation-monitoring report (the temporal axis applied to the
    // documents pipeline)
    "x30_quality_drift" -> ((s, d) => {
      val ws = Text.words(col("text"))
      val dq = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          Text.qualityScore(size(ws), size(array_distinct(ws)),
            Text.stopwordHits(ws, Stopwords), col("n_chars")).as("quality"))
      graft.operators.Pipeline.qualityDrift(dq, "doc_id", "source",
        "quality", ev(s, d), "event_id", "ts",
        graft.sources.ParquetStats.rowCount(s, s"$d/documents.parquet"),
        X30DriftMicro)
    }),

    // duplicate-SERVING drift: x30's sibling on the dedup axis — per
    // (source, week) of the serving log, how many served docs are
    // non-canonical exact duplicates (x4's fingerprint canonical);
    // catches a source that starts re-shipping already-ingested data
    "x31_dup_drift" -> ((s, d) =>
      graft.operators.Pipeline.dupServingDrift(
        Tables.documents(s, d), "doc_id", "text", "source",
        ev(s, d), "event_id", "ts",
        graft.sources.ParquetStats.rowCount(s, s"$d/documents.parquet"))),

    // x8's hits joined back to sources: which sources ship contaminated
    // data and how much token mass decontamination removes from each
    "x29_contamination_report" -> ((s, d) =>
      graft.operators.Pipeline.contaminationReport(
        Tables.documents(s, d), "doc_id", "text", "source",
        pmod(col("doc_id"), lit(20)) === 0,
        graft.operators.Pipeline.decontaminate(Tables.documents(s, d),
          "doc_id", "text", 3, pmod(col("doc_id"), lit(20)) === 0, 3,
          postings = Some(graft.dedup.ClusterCache.postings(s, d))))),

    // Gopher repetition filters: top-bigram char fraction + duplicate
    // trigram fraction (Rae et al. 2021, appendix A1.1)
    "x9_repetition" -> ((s, d) =>
      graft.operators.Pipeline.repetitionSignals(
        Tables.documents(s, d), "doc_id", "text")),

    // semi-structured metadata extraction: JSON prop pulled with
    // get_json_object in the scan projection (no object barrier, the
    // filter/agg stays declarative) — the metadata-filtering pass every
    // training pipeline runs over crawl/provenance JSON sidecars
    "x10_json_extract" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(col("k")).as("n"), min(col("k")).as("min_k"),
          max(col("k")).as("max_k"), sum(col("k")).as("sum_k"))
        .withColumn("avg_k", round(col("sum_k") / col("n"), 6))
        .orderBy("event_type")),

    // corpus-unigram-LM rarity profile (CCNet-style quality pass),
    // token information quantized to integer bit-buckets so both
    // engines agree bit-for-bit (no float log2 sums)
    // x11/x14/x17 all hang off the ONE shared (doc_id, term, tf)
    // token aggregate (ClusterCache.docWordTf) — the d4/x16/x8/s4
    // shingle-postings sharing pattern applied to the token table
    "x11_unigram_lm" -> ((s, d) =>
      graft.operators.Pipeline.unigramLmProfileFrom(
        graft.dedup.ClusterCache.docWordTf(s, d), "doc_id")),

    // corpus-bigram-LM fluency profile (the CCNet perplexity-filter
    // shape, x11 one model order up): add-one-smoothed transition
    // surprisal in integer bits — catches shuffled/generated text
    // whose unigram stats look normal; V from the SHARED vocabulary
    "x23_bigram_surprisal" -> ((s, d) =>
      graft.operators.Pipeline.bigramSurprisalFrom(
        Tables.documents(s, d),
        graft.dedup.ClusterCache.docWordTf(s, d), "doc_id", "text")),

    // top PMI collocations (NEW r14): bit-quantized pointwise mutual
    // information over adjacent word pairs (Church & Hanks 1990) —
    // bits() taken per operand BEFORE any product so the statistic
    // never overflows at any corpus size; int64-keyed exchanges,
    // unigram counts off the SHARED docWordTf table, bounded top-k
    "x28_pmi_collocations" -> ((s, d) =>
      graft.operators.Pipeline.pmiCollocations(
        Tables.documents(s, d),
        graft.dedup.ClusterCache.docWordTf(s, d), "doc_id", "text", 5, 20)),

    // per-source lexical drift vs the corpus (data-mixing diagnostic):
    // avg per-token rarity under the corpus code vs the source's own
    // code, integer bits end to end; div_bits above the log2(T/T_s)
    // baseline = domain specialization / contaminated shard
    "x24_source_divergence" -> ((s, d) =>
      graft.operators.Pipeline.sourceDivergence(
        Tables.documents(s, d), "doc_id", "text", "source")),

    // DSIR importance weights (NEW r14, Xie et al. 2023): per-source
    // target-vs-raw hashed-ngram LM bit gap + selection counts, target
    // = English docs; both LMs bucket-bounded (4096) whatever the
    // corpus vocabulary — DSIR's own scaling trick
    "x25_dsir_weights" -> ((s, d) =>
      graft.operators.Pipeline.dsirWeights(
        Tables.documents(s, d), "doc_id", "text", "source",
        col("lang") === "en",
        featsPre = Some(graft.dedup.ClusterCache.dsirFeats(
          s, d, 4096, col("lang") === "en")),
        docStatsPre = Some(graft.dedup.ClusterCache.dsirDocStats(
          s, d, 4096, col("lang") === "en")))),

    // integer-quantized TF-IDF top terms (keyword extraction): x11's
    // bit-length trick applied to document frequency — score =
    // tf * (bits(N) - bits(df) + 1), integer end to end
    "x17_tfidf_terms" -> ((s, d) =>
      graft.operators.Pipeline.tfidfTopTermsFrom(
        graft.dedup.ClusterCache.docWordTf(s, d),
        Tables.documents(s, d), "doc_id", 3)),

    // Zipf-law fit of the term-frequency distribution (NEW r14): the
    // corpus-card power-law statistic — least-squares slope/intercept
    // of log-freq vs log-rank over the top 1000 terms off the SHARED
    // (doc, term, tf) table; ln values floor-quantized to micro-units
    // BEFORE the exact int64 moment sums (the x20/x23 discipline)
    "x26_zipf_fit" -> ((s, d) =>
      graft.operators.Pipeline.zipfFit(
        graft.dedup.ClusterCache.docWordTf(s, d), 1000)),

    // dataset card: per-(source x lang) composition summary at every
    // CUBE granularity in one shuffle (grouping sets partial-aggregate
    // map-side) — the composition table a curated corpus publishes
    "x18_corpus_card" -> ((s, d) =>
      graft.operators.Pipeline.corpusCard(
        Tables.documents(s, d), "source", "lang", "text", "n_chars")),

    // first-seen n-gram novelty: fraction of each doc's shingles whose
    // corpus-wide first occurrence is an EARLIER doc (Lee et al. 2022
    // cross-shard copying signal) — n_copied counted from the
    // vocabulary-sized shared df table's __first column alone, no
    // postings-level join (see Pipeline.noveltyProfileFrom)
    "x19_novelty" -> ((s, d) =>
      graft.operators.Pipeline.noveltyProfileFrom(
        graft.dedup.ClusterCache.postings(s, d, 3),
        graft.dedup.ClusterCache.shingleDf(s, d, 3))),

    // training-mixture construction: uniform target shares over the
    // 20 sources at a 30% global sample rate, deterministic
    // hash-bucket thresholds per source (one scan, reduced to a
    // (source, bucket) count table)
    "x12_domain_mix" -> ((s, d) =>
      graft.operators.Pipeline.domainMixture(
        Tables.documents(s, d), "source", "doc_id", 10000, 3, 10, 20)),

    // C4-style blocklist filtering by token DENSITY: flagged when
    // blocklisted tokens exceed 1/20 of the document (integer
    // cross-multiplication — engine-exact); per-source report
    "x13_blocklist_filter" -> ((s, d) =>
      graft.operators.Pipeline.blocklistFilter(
        Tables.documents(s, d), "doc_id", "text", "source",
        BlockWords, 20)),

    // CCNet head/middle/tail bucketing: per-language terciles on the
    // corpus-LM bits-per-token score (x11's integer quantization)
    "x14_ccnet_bucket" -> ((s, d) =>
      graft.operators.Pipeline.ccnetBucketsFrom(
        graft.dedup.ClusterCache.docWordTf(s, d),
        Tables.documents(s, d), "doc_id", "lang", 3)),

    // winnowing fingerprints (MOSS SIGMOD'03): min-hash of each
    // 4-window of word-3-gram hashes; pairs sharing >= 2 fingerprints
    // (guarantee: any shared run of >= 6 tokens shares a fingerprint)
    "x15_winnow_pairs" -> ((s, d) =>
      // re-ordered here: the LOADED artifact returns scan order
      graft.dedup.ClusterCache.winnowPairs(s, d)
        .orderBy("id_a", "id_b")),

    // asymmetric n-gram containment (doc-in-doc detection): catches
    // snippet/quote inclusion where Jaccard stays low because the
    // host is much larger than the contained doc
    "x16_containment" -> ((s, d) =>
      graft.dedup.ClusterCache.containmentPairs(s, d)
        .orderBy("id_a", "id_b")),

    // BM25 top-10 retrieval for the benchmark probe set over the SHARED
    // doc-word table — integer-exact scoring (bit-length idf, one IEEE
    // division floor-quantized to a BIGINT micro-score before the sum),
    // bounded CollectMinK top-k (map-side partial — never a per-query
    // window sort over every matching doc)
    "x20_bm25_search" -> ((s, d) =>
      graft.operators.Retrieval.bm25TopK(
        graft.operators.RetrievalCache.benchScored(s, d, BenchProbes),
        "doc_id", 10)),

    // retrieval-based decontamination (the fuzzy complement of x8's
    // exact 13-gram rule): per-source rate of docs reaching >= 7/10 of
    // any benchmark probe's maximum attainable BM25 mass — catches
    // paraphrased leaks exact n-grams miss; the relative threshold
    // keeps the flag rate corpus-size-stable
    "x21_retrieval_decontam" -> ((s, d) =>
      graft.operators.Retrieval.retrievalContamination(
        graft.operators.RetrievalCache.benchScored(s, d, BenchProbes),
        graft.operators.Retrieval.bm25QueryMax(
          graft.dedup.ClusterCache.docWordTf(s, d),
          Tables.documents(s, d), benchProbeDf(s)),
        Tables.documents(s, d), "doc_id", "source", X21ThetaNum, X21ThetaDen)),

    // ---- H. sketches -----------------------------------------------------
    // HyperLogLog daily uniques: per-group state is 16 registers, not a
    // user set — the exchange carries <= m rows/group/partition at any
    // corpus size; exact count alongside for the error report
    "s1_hll_distinct" -> ((s, d) =>
      graft.functions.Sketch.hllDistinct(
          ev(s, d).withColumn("day", unix_micros(date_trunc("day", col("ts"))))
            .select("day", "user_id"),
          Seq("day"), "user_id", p = 4)
        .orderBy("day")),

    // Count-Min heavy hitters: 4x64 counter grid (map-side combined to
    // <= 256 partials per partition), est = min over rows, never
    // under-counts; top-10 by estimate with exact count alongside
    "s2_cms_topk" -> ((s, d) =>
      graft.functions.Sketch.cmsTopK(ev(s, d).select("user_id"),
        "user_id", depth = 4, width = 64, k = 10)),

    // KMV/theta bottom-k sketch with SET OPERATIONS: distinct
    // click- vs purchase-(user, day) cohorts, union and intersection
    // estimated from the two k-long sketches alone — sketch-level set
    // algebra, no second corpus pass
    "s3_kmv_setops" -> ((s, d) =>
      graft.functions.Sketch.kmvSetOps(
        ev(s, d).select(col("event_type"),
          concat(col("user_id").cast("string"), lit("|"),
            date_format(col("ts"), "yyyy-MM-dd")).as("ud")),
        "event_type", col("ud"), "click", "purchase", k = KmvK)),

    // Bloom-filter decontamination — x8's eval-set check with the
    // bench shingle SET replaced by a CONSTANT 2^20-bit filter
    // (doc_id%20=0 bench convention, flagged at >=3 bloom-positive
    // shingles); per-shingle no false negatives, per-source
    // false-positive column keeps the filter honest
    "s4_bloom_decontam" -> ((s, d) =>
      graft.functions.Sketch.bloomDecontaminate(
        Tables.documents(s, d), "doc_id", "text", "source",
        pmod(col("doc_id"), lit(20)) === 0, n = 3, minShared = 3,
        m = BloomM, hashes = BloomHashes,
        postings = Some(graft.dedup.ClusterCache.postings(s, d)))),

    // fixed-width histogram quantiles: groups x 256 counters replace
    // ts9's full value sort; upper-edge estimate at ceil(q*n), exact
    // percentiles alongside as the error report
    "s5_hist_quantiles" -> ((s, d) =>
      graft.functions.Sketch.histQuantiles(
        graft.operators.QuantileCache.projection(s, d)
          .select(col("__g").as("event_type"), col("__v").as("value")),
        "event_type", "value", buckets = HistBuckets,
        exactLegs = Some(graft.operators.QuantileCache.exactLegs(s, d)))),

    // cross-shard sketch MERGE: per-shard (event_type) fixed-range
    // histograms summed bucket-wise into the global quantile report —
    // the exchange is shards x buckets counters, never values
    "s6_sketch_merge" -> ((s, d) =>
      graft.functions.Sketch.histMergedQuantiles(
        ev(s, d).select("event_type", "value"), "event_type", "value",
        buckets = HistBuckets)),

    // cross-shard KMV UNION merge: every event_type shard publishes
    // its bottom-k sketch of distinct (user, day) cohorts; the global
    // distinct estimate is computed from the shard sketches alone
    // (merged sample + min-theta) — s3's sketch as a mergeable op,
    // the s6 pattern; shards x k longs cross the merge, never values
    "s7_kmv_union" -> ((s, d) =>
      graft.functions.Sketch.kmvMergedDistinct(
        ev(s, d).select(col("event_type"),
          concat(col("user_id").cast("string"), lit("|"),
            date_format(col("ts"), "yyyy-MM-dd")).as("ud")),
        "event_type", col("ud"), k = KmvK)),

    // cross-shard HLL UNION merge: every event_type shard publishes
    // its 16 registers; the global distinct estimate reads the
    // max-merged register table alone — s1's sketch as a mergeable
    // op, completing the merge trio (s6 histograms, s7 KMV, s8 HLL)
    "s8_hll_union" -> ((s, d) =>
      graft.functions.Sketch.hllMergedDistinct(
        ev(s, d).select(col("event_type"),
          concat(col("user_id").cast("string"), lit("|"),
            date_format(col("ts"), "yyyy-MM-dd")).as("ud")),
        "event_type", col("ud"), p = 4)),

    // STREAMING HyperLogLog: the stream carries only the register
    // table (state = days x 16, constant at any event volume);
    // registers max-merge so the drain provably equals the batch
    // build and s1's oracle shape validates it verbatim
    "ts27_stream_hll" -> ((s, d) =>
      graft.streaming.Streams.hllDistinctStream(s, d)),

    // STREAMING KMV bottom-k distinct: the set-union-truncate third
    // of the mergeable-sketch trio — state = 128 longs per day at any
    // event volume, drained sample supports s3-style set algebra
    "ts29_stream_kmv" -> ((s, d) =>
      graft.streaming.Streams.kmvDistinctStream(s, d, k = KmvK)),

    // STREAMING Count-Min: ts27's sum-merged sibling — the stream
    // folds into a 4x64 counter grid (256 cells of state at any
    // volume); drain provably equals the batch grid, s2's oracle
    // validates the report verbatim
    "ts28_stream_cms" -> ((s, d) =>
      graft.streaming.Streams.cmsTopKStream(s, d)),

    "x5_top_bigrams" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("lang"), explode(Text.bigrams(col("text"))).as("bigram"))
        .groupBy(col("lang"), col("bigram"))
        .agg(count(lit(1)).as("n"))
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
            .orderBy(col("n").desc, col("bigram").asc)))
        .filter(col("rank") <= 5)
        .orderBy("lang", "rank")),

    // ---- G. multimodal plumbing -----------------------------------------
    "m1_binary_meta" -> ((s, d) =>
      graft.multimodal.Binary.decodeMeta(
        graft.multimodal.Binary.withPayload(Tables.documents(s, d), "doc_id", "text"),
        "doc_id").orderBy("doc_id")),

    "m2_frame_sample" -> ((s, d) =>
      graft.multimodal.Binary.frameSample(Tables.documents(s, d),
        "doc_id", "text", 7).orderBy("doc_id")),

    "m3_chunked_binary" -> ((s, d) =>
      graft.multimodal.Binary.chunked(
        graft.multimodal.Binary.withPayload(Tables.documents(s, d), "doc_id", "text"),
        "doc_id", 256).orderBy("doc_id", "chunk_idx")),

    // storage-level dedup for opaque blobs: Jaccard over 64-byte
    // chunk-key sets (the d4 postings plan on chunk hashes — payload
    // bytes never enter the exchange)
    "m4_binary_neardup" -> ((s, d) =>
      graft.multimodal.Binary.chunkDupPairsFrom(
        graft.multimodal.ChunkCache.chunks(s, d),
        "doc_id", 0.5).orderBy("id_a", "id_b")),

    // content-addressed-store accounting: per-source storage savings
    // from chunk-level dedup (m4's sibling at the storage layer — the
    // number a media lake budgets by)
    "m6_cas_stats" -> ((s, d) =>
      graft.multimodal.Binary.casStatsFrom(
        graft.multimodal.ChunkCache.chunks(s, d),
        "doc_id", "source")),

    // WebDataset-style shard packing: blobs assigned to ~4 KiB output
    // shards by cumulative byte budget per source (the manifest build
    // for fixed-size training tar shards) — byte-budget twin of
    // x7_pack_sequences and it reuses x7's md5-shard decomposition:
    // the cumulative window runs per (source, sub-shard), never over a
    // whole source in one task; global shard ids stitch via a running
    // offset on the tiny per-sub-shard bin-count table
    "m7_shard_pack" -> ((s, d) =>
      graft.multimodal.Binary.shardPack(
        Tables.documents(s, d), "doc_id", "text", "source", 4096,
        graft.multimodal.Binary.ShardPackHashShards)),

    // perceptual-hash index: per-payload 64-bit aHash (stub-decoded
    // pixels) split into 4 pigeonhole chunks + candidate-neighborhood
    // stats from the chunk equi-join (hamming <= 3 twins are found
    // THROUGH this join; spec plants them — this corpus has none)
    "m5_phash_index" -> ((s, d) =>
      graft.multimodal.Binary.perceptualHashIndex(
        Tables.documents(s, d), "doc_id", "text").orderBy("doc_id")),

    // stub-PCM frame energy (NEW r14): payload bytes as unsigned 8-bit
    // samples, 256-sample frames, integer Σ(s−128)² energies; silence
    // by integer cross-multiplication — the VAD/silence-trim report
    "m8_audio_energy" -> ((s, d) =>
      graft.multimodal.Binary.audioEnergy(
        Tables.documents(s, d), "doc_id", "text", 256, 2000)),

    // scene-cut detection over stub frame energies (NEW r14): the
    // PySceneDetect/scdet content-detector shape — a cut where the
    // mean frame energy jumps past the threshold (integer
    // cross-multiplication, exact under the ragged last frame);
    // 32-sample frames, per-asset windows on the high-cardinality id
    "m9_scene_cuts" -> ((s, d) =>
      graft.multimodal.Binary.sceneCuts(
        Tables.documents(s, d), "doc_id", "text", 32, 700)),
  )

  /** Shared by t4/t8: wide-schema state diff between T1 and T2. */
  private def changesDf(s: SparkSession, d: String): DataFrame = {
    val withK = ev(s, d).withColumn("k", get_json_object(col("props"), "$.k"))
      .select("user_id", "ts", "event_id", "event_type", "value", "k")
    Temporal.changesBetween(withK, "user_id", "ts", "event_id",
      ts(T1), ts(T2), Seq("event_type", "value", "k"))
      .select("user_id", "event_type_from", "event_type_to",
        "value_from", "value_to", "k_from", "k_to", "changed_fields")
  }

  // -------------------------------------------------------------------------
  // DuckDB oracles (driver runs these on views named after the tables).
  // Aliases match the Spark output exactly; sums go through DECIMAL; ratios
  // round to 6dp; timestamps surface as epoch_us BIGINT (SURVEY §5).
  // -------------------------------------------------------------------------
  def oracleSql: Map[String, String] = {
    val asofState =
      s"""SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type, value, props
         |FROM events WHERE ts <= TIMESTAMP '$T'
         |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1""".stripMargin
    val changes =
      s"""WITH s1 AS (SELECT user_id, event_type, value, json_extract_string(props,'$$.k') AS k
         |  FROM events WHERE ts <= TIMESTAMP '$T1'
         |  QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1),
         |s2 AS (SELECT user_id, event_type, value, json_extract_string(props,'$$.k') AS k
         |  FROM events WHERE ts <= TIMESTAMP '$T2'
         |  QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1)
         |SELECT * FROM (
         |  SELECT coalesce(s1.user_id, s2.user_id) AS user_id,
         |    s1.event_type AS event_type_from, s2.event_type AS event_type_to,
         |    s1.value AS value_from, s2.value AS value_to,
         |    s1.k AS k_from, s2.k AS k_to,
         |    concat_ws(',',
         |      CASE WHEN s1.event_type IS DISTINCT FROM s2.event_type THEN 'event_type' END,
         |      CASE WHEN s1.value IS DISTINCT FROM s2.value THEN 'value' END,
         |      CASE WHEN s1.k IS DISTINCT FROM s2.k THEN 'k' END) AS changed_fields
         |  FROM s1 FULL OUTER JOIN s2 ON s1.user_id = s2.user_id)
         |WHERE changed_fields <> ''""".stripMargin
    // MinHash CTE chain shared by d2 (candidate pairs) and d6 (connected
    // components over those pairs) — generated from the same XorSeeds as
    // the Spark side.
    val minhashCtes: String = {
      val seeds = graft.dedup.Dedup.XorSeeds.take(16)
      val minCols = seeds.zipWithIndex
        .map { case (s, p) => s"min(xor(b, ${s}::BIGINT)) AS mh$p" }.mkString(",\n    ")
      val bandRows = (0 until 4).map { b =>
        val key = (b * 4 until (b + 1) * 4).map(p => s"mh$p::VARCHAR").mkString(" || '_' || ")
        s"SELECT doc_id, $b AS band, $key AS band_key FROM m"
      }.mkString("\n  UNION ALL ")
      s"""w AS (SELECT doc_id, text, string_split(text, ' ') AS words FROM documents),
         |sh AS (SELECT doc_id, list_distinct(
         |    CASE WHEN len(words) < 3 THEN [text]
         |         ELSE [array_to_string(words[i:i+2], ' ')
         |               for i in range(1, len(words) - 1)] END) AS shingles
         |  FROM w),
         |e AS (SELECT doc_id, ('0x' || substr(md5(unnest(shingles)), 1, 15))::BIGINT AS b FROM sh),
         |m AS (SELECT doc_id,
         |    $minCols
         |  FROM e GROUP BY doc_id),
         |bands AS ($bandRows)""".stripMargin
    }
    // connected-component labels over the d2 candidate graph, shared by
    // d6 (raw clusters) and d7 (survivorship reduction)
    val ccCtes: String =
      s"""$minhashCtes,
         |prs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
         |    AND a.doc_id < b.doc_id),
         |ed AS (SELECT id_a, id_b FROM prs UNION ALL SELECT id_b, id_a FROM prs),
         |reach(s, t) AS (
         |  SELECT id_a, id_b FROM ed
         |  UNION
         |  SELECT r.s, e2.id_b FROM reach r JOIN ed e2 ON r.t = e2.id_a),
         |cl AS (SELECT d.doc_id,
         |    least(d.doc_id, coalesce(mr.mn, d.doc_id)) AS cluster_id
         |  FROM documents d
         |  LEFT JOIN (SELECT s, min(t) AS mn FROM reach GROUP BY s) mr
         |    ON mr.s = d.doc_id)""".stripMargin
    def cosSql(a: String, b: String): String =
      s"""round(list_dot_product(CAST($a AS DOUBLE[]), CAST($b AS DOUBLE[]))
         |          / (sqrt(list_dot_product(CAST($a AS DOUBLE[]), CAST($a AS DOUBLE[])))
         |           * sqrt(list_dot_product(CAST($b AS DOUBLE[]), CAST($b AS DOUBLE[])))), 6)""".stripMargin
    // BM25 CTE chain shared by x20/x21/a11 — the same integer-exact
    // arithmetic Retrieval.bm25Scored runs, digit-for-digit: bit-length
    // idf over N docs, tf saturation as ONE IEEE division of int64
    // products (k1=1.2, b=0.75 multiplied through by 10·L), floored to
    // a BIGINT micro-score per term, integer-summed per (query, doc).
    // `qSrc` supplies the (query_id, w) query-term table.
    def bm25Ctes(qSrc: String): String =
      s"""toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
         |  FROM documents),
         |dw AS (SELECT doc_id, w, count(*) AS tf FROM toks GROUP BY 1, 2),
         |q AS (SELECT DISTINCT query_id, w FROM ($qSrc)),
         |filt AS (SELECT dw.* FROM dw
         |  JOIN (SELECT DISTINCT w FROM q) qt USING (w)),
         |dfq AS (SELECT w, count(*) AS df FROM filt GROUP BY 1),
         |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM dw GROUP BY 1),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |l AS (SELECT CAST(sum(tf) AS BIGINT) AS l_total FROM dw),
         |bterms AS (SELECT q.query_id, f.doc_id,
         |    CAST(floor(1000000.0
         |      * CAST(length(bin(n.n_docs)) - length(bin(dfq.df)) + 1 AS DOUBLE)
         |      * (CAST(22 * f.tf * l.l_total AS DOUBLE)
         |       / CAST(10 * f.tf * l.l_total + 3 * l.l_total
         |              + 9 * dl.dl * n.n_docs AS DOUBLE))) AS BIGINT) AS t6
         |  FROM filt f JOIN q USING (w) JOIN dfq USING (w)
         |    JOIN dl USING (doc_id) CROSS JOIN n CROSS JOIN l),
         |bsc AS (SELECT query_id, doc_id, CAST(sum(t6) AS BIGINT) AS score_q6
         |  FROM bterms GROUP BY 1, 2)""".stripMargin
    val benchProbeSrc =
      s"""SELECT CAST(v.q AS BIGINT) AS query_id, v.t AS w
         |  FROM (VALUES $benchProbeValuesSql) v(q, t)""".stripMargin
    // a7 k-means CTE builders: one assignment (argmax 6-dp cosine vs
    // the `cent` centroid CTE, ties -> smaller cluster id) and one
    // decimal-exact centroid update — the same formulas the Spark side
    // runs (Ann.kmeans), digit-for-digit
    def kmAssignCte(out: String, cent: String): String =
      s"""$out AS (
         |  SELECT v_id, c_cell, cos FROM (
         |    SELECT v_id, c_cell, cos, row_number() OVER (
         |      PARTITION BY v_id ORDER BY cos DESC, c_cell) AS rn
         |    FROM (SELECT e.vec_id AS v_id, c.c_cell,
         |        ${cosSql("e.embedding", "c.c_vec")} AS cos
         |      FROM embeddings e CROSS JOIN $cent c))
         |  WHERE rn = 1)""".stripMargin
    def kmUpdateCte(out: String, asg: String): String =
      s"""$out AS (
         |  SELECT c_cell, list(cv ORDER BY i) AS c_vec FROM (
         |    SELECT a.c_cell, p.i,
         |      CAST(sum(CAST(p.v AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS cv
         |    FROM $asg a JOIN kcomp p ON p.vec_id = a.v_id
         |    GROUP BY a.c_cell, p.i) GROUP BY c_cell)""".stripMargin
    // Corpus-proportional coarse cells, shared by d5/d8 (blocking) and
    // a3/a4 (IVF cells) — the same derivation Ann.coarseCellParams/
    // buildCoarseIndex run, digit-for-digit: k1·k2 ≈ ceil(n/64)
    // product cells; anchors = the k1+k2 rows with the smallest
    // md5('cells:'||id), first k1 level 0, rest level 1; assignment =
    // nearest anchor per level by ROUNDED cosine (ties by anchor idx);
    // cell = idx0·k2 + idx1. `asg` keeps the top-2 anchors per level:
    // rn=1 is the primary assignment, rn=2 the boundary probe. `cpr`
    // is the near-dup candidate pair set: probe cells (all ≤4 of a
    // row's top-2×top-2 product) joined against primary cells, each
    // unordered pair reduced to its minimum meeting cell.
    val cellCtes: String =
      s"""par AS (
         |  SELECT k1, CAST(ceil(cells / CAST(k1 AS DOUBLE)) AS BIGINT) AS k2 FROM (
         |    SELECT cells, CAST(ceil(sqrt(CAST(cells AS DOUBLE))) AS BIGINT) AS k1 FROM (
         |      SELECT greatest(1, CAST(ceil(count(*) / ${Ann.DefaultTargetCellSize}.0) AS BIGINT)) AS cells
         |      FROM embeddings))),
         |anch AS (
         |  SELECT CASE WHEN rk <= (SELECT k1 FROM par) THEN 0 ELSE 1 END AS lvl,
         |    CAST(CASE WHEN rk <= (SELECT k1 FROM par) THEN rk - 1
         |         ELSE rk - 1 - (SELECT k1 FROM par) END AS INT) AS idx,
         |    embedding AS avec
         |  FROM (SELECT embedding, row_number() OVER (
         |      ORDER BY md5('${Ann.CellSalt}:' || CAST(vec_id AS VARCHAR)), vec_id) AS rk
         |    FROM embeddings)
         |  WHERE rk <= (SELECT k1 FROM par) + (SELECT k2 FROM par)),
         |asg AS (
         |  SELECT vec_id, lvl, idx, rn FROM (
         |    SELECT e.vec_id, a.lvl, a.idx,
         |      row_number() OVER (PARTITION BY e.vec_id, a.lvl ORDER BY
         |        ${cosSql("e.embedding", "a.avec")} DESC, a.idx) AS rn
         |    FROM embeddings e CROSS JOIN anch a)
         |  WHERE rn <= ${Ann.CellProbe}),
         |pcell AS (
         |  SELECT a0.vec_id,
         |    CAST(a0.idx AS BIGINT) * (SELECT k2 FROM par) + a1.idx AS cell,
         |    (a0.rn = 1 AND a1.rn = 1) AS is_primary
         |  FROM asg a0 JOIN asg a1
         |    ON a0.vec_id = a1.vec_id AND a0.lvl = 0 AND a1.lvl = 1),
         |ccand AS (
         |  SELECT least(p.vec_id, b.vec_id) AS id_a,
         |    greatest(p.vec_id, b.vec_id) AS id_b, p.cell
         |  FROM pcell p JOIN pcell b ON p.cell = b.cell AND b.is_primary
         |  WHERE p.vec_id <> b.vec_id),
         |cpr AS (
         |  SELECT c.id_a, c.id_b, c.cell,
         |    ${cosSql("ea.embedding", "eb.embedding")} AS cos
         |  FROM (SELECT id_a, id_b, min(cell) AS cell FROM ccand GROUP BY 1, 2) c
         |  JOIN embeddings ea ON ea.vec_id = c.id_a
         |  JOIN embeddings eb ON eb.vec_id = c.id_b)""".stripMargin
    // a2's per-table bucket bits recomputed in SQL from the SAME seeded
    // planes (deterministic scala.util.Random(seed + table) Gaussians,
    // inlined as literals); both engines accumulate the dot
    // left-to-right in double, so the sign bits — hence the candidate
    // sets — agree. The multi-table candidate UNION is the OR across
    // per-table hamming tests (each pair joins at most once in SQL, so
    // no dedup is needed where the Spark side distincts its union).
    val a2Sql: String = {
      val bucketCols = (0 until A2Tables).map { t =>
        val ps = graft.ann.Ann.tablePlanes(64, A2Planes, A2Seed, t)
        val e = ps.zipWithIndex.map { case (plane, p) =>
          val lits = plane.map(java.lang.Double.toString).mkString(", ")
          s"CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), [$lits]) > 0 THEN ${1L << p} ELSE 0 END"
        }.mkString("\n      + ")
        s"    ($e)::BIGINT AS b$t"
      }.mkString(",\n")
      val qCols = (0 until A2Tables).map(t => s"b$t AS qb$t").mkString(", ")
      val anyTable = (0 until A2Tables).map(t =>
        s"bit_count(xor(c.b$t, q.qb$t)) <= $A2Probe").mkString("\n        OR ")
      s"""WITH pb AS (SELECT vec_id, embedding,
         |$bucketCols
         |  FROM embeddings),
         |q AS (SELECT vec_id AS query_id, embedding AS q_emb, $qCols
         |  FROM pb WHERE vec_id IN (0, 1, 2, 3, 4))
         |SELECT query_id, nn_id, cos, rank FROM (
         |  SELECT query_id, nn_id, cos,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nn_id) AS rank
         |  FROM (
         |    SELECT q.query_id, c.vec_id AS nn_id,
         |      round(list_dot_product(CAST(q.q_emb AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
         |        / (sqrt(list_dot_product(CAST(q.q_emb AS DOUBLE[]), CAST(q.q_emb AS DOUBLE[])))
         |         * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))), 6) AS cos
         |    FROM q JOIN pb c ON c.vec_id <> q.query_id
         |      AND ($anyTable)))
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
    }
    // a4's full hierarchical-probe CTE chain (decimal-exact cell +
    // group centroids, 2-stage probe) and its final exact-rerank top-10
    // select — factored so the a4 oracle and a12's recall-eval oracle
    // share one definition, digit-for-digit
    val a4ProbeCtes: String =
      s"""$cellCtes,
         |cells AS (SELECT vec_id, cell FROM pcell WHERE is_primary),
         |comp AS (
         |  SELECT cl.cell, j AS i, CAST(e.embedding[j] AS DOUBLE) AS v
         |  FROM embeddings e JOIN cells cl ON cl.vec_id = e.vec_id,
         |    range(1, 65) t(j)),
         |cvc AS (SELECT cell, i,
         |    CAST(sum(CAST(v AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS cv
         |  FROM comp GROUP BY cell, i),
         |cvec AS (SELECT cell, list(cv ORDER BY i) AS c_vec FROM cvc GROUP BY cell),
         |gvc AS (SELECT cell // (SELECT k2 FROM par) AS grp, i,
         |    CAST(sum(CAST(cv AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS gv
         |  FROM cvc GROUP BY 1, 2),
         |gvec AS (SELECT grp, list(gv ORDER BY i) AS g_vec FROM gvc GROUP BY grp),
         |vq AS (SELECT vec_id AS query_id, embedding AS q_emb
         |  FROM embeddings WHERE vec_id IN (0, 1, 2, 3, 4)),
         |tg AS (
         |  SELECT query_id, grp FROM (
         |    SELECT vq.query_id, g.grp,
         |      row_number() OVER (PARTITION BY vq.query_id ORDER BY
         |        ${cosSql("vq.q_emb", "g.g_vec")} DESC, g.grp) AS gr
         |    FROM vq CROSS JOIN gvec g)
         |  WHERE gr <= (SELECT least(k1, greatest(1,
         |    (${graft.ann.Ann.RecallNprobeNum} * k1 + ${graft.ann.Ann.RecallNprobeDen - 1})
         |      // ${graft.ann.Ann.RecallNprobeDen} + 1)) FROM par)),
         |probed AS (
         |  SELECT query_id, q_emb, cell FROM (
         |    SELECT t.query_id, vq.q_emb, c.cell,
         |      row_number() OVER (PARTITION BY t.query_id ORDER BY
         |        ${cosSql("vq.q_emb", "c.c_vec")} DESC, c.cell) AS cr
         |    FROM tg t JOIN vq ON vq.query_id = t.query_id
         |    JOIN cvec c ON c.cell // (SELECT k2 FROM par) = t.grp)
         |  WHERE cr <= (SELECT least(k1 * k2, greatest(1,
         |    (${graft.ann.Ann.RecallNprobeNum} * k1 * k2 + ${graft.ann.Ann.RecallNprobeDen - 1})
         |      // ${graft.ann.Ann.RecallNprobeDen})) FROM par))""".stripMargin
    def a4TopkSelect(k: Int = 10): String =
      s"""SELECT query_id, nn_id, cos, rank FROM (
         |  SELECT query_id, nn_id, cos,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nn_id) AS rank
         |  FROM (
         |    SELECT p.query_id, c.vec_id AS nn_id,
         |      ${cosSql("p.q_emb", "c.embedding")} AS cos
         |    FROM probed p
         |    JOIN cells cn ON cn.cell = p.cell
         |    JOIN embeddings c ON c.vec_id = cn.vec_id AND c.vec_id <> p.query_id))
         |WHERE rank <= $k""".stripMargin
    // brute-force truth CTE + recall-eval select, shared by the two
    // recall evaluations (a12 over the IVF probe, a14 over IVFPQ) —
    // one definition, same shape as the Spark-side recallEval helper
    val bruteTruthCte: String =
      s"""truth AS (
         |  SELECT query_id, nn_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS nn_id,
         |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |        ${cosSql("q.embedding", "c.embedding")} DESC, c.vec_id) AS rank
         |    FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
         |    WHERE q.vec_id IN (0, 1, 2, 3, 4))
         |  WHERE rank <= 10)""".stripMargin
    val recallSelect: String =
      """SELECT t.query_id, count(*) AS n_truth,
        |  CAST(sum(CASE WHEN a.nn_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
        |  round(CAST(sum(CASE WHEN a.nn_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    / CAST(count(*) AS DOUBLE), 6) AS recall
        |FROM truth t LEFT JOIN approx a
        |  ON a.query_id = t.query_id AND a.nn_id = t.nn_id
        |GROUP BY t.query_id ORDER BY t.query_id""".stripMargin
    // a9's full IVFPQ CTE chain (constant-probe hierarchical coarse,
    // residual PQ encode, per-(query,cell) ADC, bounded shortlist) and
    // its exact-rerank top-k select — factored so the a9 oracle and
    // a14's recall-eval oracle share one definition
    val a9ProbeCtes: String =
      s"""$cellCtes,
        |a9np AS (SELECT k1, k2, least(k1 * k2, greatest(1,
        |    greatest(${graft.ann.Ann.IvfPqProbeCells},
        |      (k1 * k2 + ${graft.ann.Ann.IvfPqFloorDen - 1})
        |        // ${graft.ann.Ann.IvfPqFloorDen}))) AS np FROM par),
        |a9gp AS (SELECT least(k1, greatest(${graft.ann.Ann.HierGroupFloor},
        |    (2 * np + k2 - 1) // k2)) AS gp FROM a9np),
        |cells AS (SELECT vec_id, cell FROM pcell WHERE is_primary),
        |comp AS (
        |  SELECT cl.cell, j AS i, CAST(e.embedding[j] AS DOUBLE) AS v
        |  FROM embeddings e JOIN cells cl ON cl.vec_id = e.vec_id,
        |    range(1, 65) t(j)),
        |cvc AS (SELECT cell, i,
        |    CAST(sum(CAST(v AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS cv
        |  FROM comp GROUP BY cell, i),
        |cvec AS (SELECT cell, list(cv ORDER BY i) AS c_vec FROM cvc GROUP BY cell),
        |gvc AS (SELECT cell // (SELECT k2 FROM par) AS grp, i,
        |    CAST(sum(CAST(cv AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS gv
        |  FROM cvc GROUP BY 1, 2),
        |gvec AS (SELECT grp, list(gv ORDER BY i) AS g_vec FROM gvc GROUP BY grp),
        |q AS (SELECT vec_id AS query_id, embedding AS q_emb
        |  FROM embeddings WHERE vec_id IN (0, 1, 2, 3, 4)),
        |tg AS (
        |  SELECT query_id, grp FROM (
        |    SELECT q.query_id, g.grp,
        |      row_number() OVER (PARTITION BY q.query_id ORDER BY
        |        ${cosSql("q.q_emb", "g.g_vec")} DESC, g.grp) AS gr
        |    FROM q CROSS JOIN gvec g)
        |  WHERE gr <= (SELECT gp FROM a9gp)),
        |probed AS (
        |  SELECT query_id, cell FROM (
        |    SELECT t.query_id, c.cell,
        |      row_number() OVER (PARTITION BY t.query_id ORDER BY
        |        ${cosSql("q.q_emb", "c.c_vec")} DESC, c.cell) AS cr
        |    FROM tg t JOIN q ON q.query_id = t.query_id
        |    JOIN cvec c ON c.cell // (SELECT k2 FROM par) = t.grp)
        |  WHERE cr <= (SELECT np FROM a9np)),
        |mm AS (SELECT unnest(range(8)) AS m),
        |rv AS (SELECT e.vec_id, cl.cell,
        |    [CAST(e.embedding[j] AS DOUBLE) - cv.c_vec[j] for j in range(1, 65)] AS rvec
        |  FROM embeddings e JOIN cells cl ON cl.vec_id = e.vec_id
        |  JOIN cvec cv ON cv.cell = cl.cell),
        |cb AS (SELECT vec_id AS cid, m, rvec[m*8+1 : m*8+8] AS csub
        |  FROM rv, mm WHERE vec_id < ${graft.ann.Ann.IvfPqCodebookK}),
        |rs AS (SELECT vec_id, cell, m, rvec[m*8+1 : m*8+8] AS sub FROM rv, mm),
        |enc AS (SELECT vec_id, cell, m, cid AS code FROM (
        |    SELECT r.vec_id, r.cell, r.m, b.cid,
        |      row_number() OVER (PARTITION BY r.vec_id, r.m ORDER BY
        |        CAST(round(list_sum([(r.sub[i]-b.csub[i])*(r.sub[i]-b.csub[i])
        |          for i in range(1, 9)]) * 1000000) AS BIGINT), b.cid) AS rn
        |    FROM rs r JOIN cb b USING (m)) WHERE rn = 1),
        |qrv AS (SELECT p.query_id, p.cell,
        |    [CAST(q.q_emb[j] AS DOUBLE) - cv.c_vec[j] for j in range(1, 65)] AS rvec
        |  FROM probed p JOIN q ON q.query_id = p.query_id
        |  JOIN cvec cv ON cv.cell = p.cell),
        |qrs AS (SELECT query_id, cell, m, rvec[m*8+1 : m*8+8] AS sub FROM qrv, mm),
        |dtq AS (SELECT r.query_id, r.cell, r.m, b.cid,
        |    CAST(round(list_sum([(r.sub[i]-b.csub[i])*(r.sub[i]-b.csub[i])
        |      for i in range(1, 9)]) * 1000000) AS BIGINT) AS dmicro
        |  FROM qrs r JOIN cb b USING (m)),
        |ad AS (SELECT d.query_id, e.vec_id AS nn_id,
        |    sum(d.dmicro)::BIGINT AS admicro
        |  FROM enc e
        |  JOIN dtq d ON d.cell = e.cell AND d.m = e.m AND d.cid = e.code
        |  WHERE e.vec_id <> d.query_id
        |  GROUP BY 1, 2),
        |sl AS (SELECT query_id, nn_id, admicro FROM (
        |    SELECT query_id, nn_id, admicro,
        |      row_number() OVER (PARTITION BY query_id ORDER BY admicro, nn_id) AS arn
        |    FROM ad) WHERE arn <= ${graft.ann.Ann.IvfPqRerank})""".stripMargin
    def a9TopkSelect(k: Int = 10): String =
      s"""SELECT query_id, nn_id, cos, adc_dist, rank FROM (
        |  SELECT sl.query_id, sl.nn_id,
        |    round(sl.admicro / 1000000.0, 6) AS adc_dist,
        |    ${cosSql("qq.embedding", "c.embedding")} AS cos,
        |    row_number() OVER (PARTITION BY sl.query_id ORDER BY
        |      ${cosSql("qq.embedding", "c.embedding")} DESC, sl.nn_id) AS rank
        |  FROM sl JOIN embeddings qq ON qq.vec_id = sl.query_id
        |  JOIN embeddings c ON c.vec_id = sl.nn_id)
        |WHERE rank <= $k""".stripMargin
    Map(
      "a2_ann_lsh" -> a2Sql,

      "t1_asof_snapshot" -> s"$asofState\nORDER BY user_id",

      "t2_version_history" ->
        s"""SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type, value,
           |  'v' || rn AS version,
           |  CASE WHEN rn = 1 THEN NULL ELSE 'v' || (rn - 1) END AS previous_version
           |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
           |      FROM events WHERE user_id = $RecId)
           |ORDER BY ts_us, event_id""".stripMargin,

      "t3_asof_lookup" ->
        s"""SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type, value, props
           |FROM events WHERE ts <= TIMESTAMP '$T' AND user_id = $RecId
           |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1""".stripMargin,

      "t4_compare_diff" -> s"$changes AND user_id = $RecId",

      "t5_rollback_set" ->
        s"""WITH aff AS (SELECT user_id, count(*) AS n_after FROM events
           |  WHERE ts > TIMESTAMP '$T' GROUP BY user_id),
           |st AS (SELECT user_id, event_id, ts, event_type, value
           |  FROM events WHERE ts <= TIMESTAMP '$T'
           |  QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1)
           |SELECT aff.user_id, aff.n_after,
           |  CASE WHEN st.ts IS NULL THEN 'DELETE' ELSE 'RESTORE' END AS action,
           |  st.event_id AS restore_event_id, epoch_us(st.ts) AS restore_ts_us,
           |  st.event_type AS restore_event_type, st.value AS restore_value
           |FROM aff LEFT JOIN st ON aff.user_id = st.user_id
           |ORDER BY aff.user_id""".stripMargin,

      // record_ids is the BOUNDED sample of the 100 smallest affected ids
      // (string_agg skips the NULLed rows past rank 100); affected_records
      // stays the exact distinct count — mirrors rollbackLog(sampleK = 100)
      "t6_rollback_log" ->
        s"""WITH r AS (SELECT DISTINCT user_id FROM events WHERE ts > TIMESTAMP '$T'),
           |n AS (SELECT user_id, row_number() OVER (ORDER BY user_id) AS rn FROM r)
           |SELECT count(*) AS affected_records,
           |  string_agg(CASE WHEN rn <= 100 THEN CAST(user_id AS VARCHAR) END,
           |             ',' ORDER BY user_id) AS record_ids
           |FROM n""".stripMargin,

      "t7_version_stats" ->
        s"""SELECT user_id, count(*) AS n_versions, epoch_us(min(ts)) AS first_us,
           |  epoch_us(max(ts)) AS last_us,
           |  epoch_us(max(ts)) - epoch_us(min(ts)) AS lifespan_us
           |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

      "t8_changes_between" -> s"$changes\nORDER BY user_id",

      // snapshot+delta replay ≡ plain AS-OF at T
      "t9_snapshot_reconstruct" -> s"$asofState\nORDER BY user_id",

      // CDC framing of the state delta: I/U/D per record
      "t10_cdc_diff" ->
        s"""SELECT user_id,
           |  CASE WHEN event_type_from IS NULL AND value_from IS NULL THEN 'I'
           |       WHEN event_type_to IS NULL AND value_to IS NULL THEN 'D'
           |       ELSE 'U' END AS op,
           |  event_type_from, event_type_to, value_from, value_to, changed_fields
           |FROM ($changes)
           |ORDER BY user_id""".stripMargin,

      "ts1_tumbling_agg" ->
        """SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
          |  count(*) AS n,
          |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
          |  round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS avg_value
          |FROM events GROUP BY 1, 2 ORDER BY event_type, day""".stripMargin,

      "ts2_sliding_avg" ->
        """SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
          |  round(CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
          |        / count(*) OVER w, 6) AS mavg
          |FROM events
          |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
          |             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
          |ORDER BY user_id, ts_us, event_id""".stripMargin,

      "ts3_lag_delta" ->
        """SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
          |  lag(value) OVER w AS prev_value,
          |  value - lag(value) OVER w AS delta,
          |  epoch_us(ts) - lag(epoch_us(ts)) OVER w AS elapsed_us
          |FROM events
          |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
          |ORDER BY user_id, ts_us, event_id""".stripMargin,

      "ts4_sessionize" ->
        """WITH g AS (SELECT user_id, ts, event_id, value,
          |  CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
          |      OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
          |    THEN 1 ELSE 0 END AS ns
          |  FROM events),
          |s AS (SELECT user_id, ts, value,
          |  CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
          |                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
          |  FROM g)
          |SELECT user_id, session_id, count(*) AS n_events,
          |  epoch_us(min(ts)) AS start_us, epoch_us(max(ts)) AS end_us,
          |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
          |FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin,

      "ts5_downsample_ohlc" ->
        """SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
          |  arg_min(value, ts) AS open, max(value) AS high, min(value) AS low,
          |  arg_max(value, ts) AS close, count(*) AS n
          |FROM events GROUP BY 1, 2 ORDER BY event_type, day""".stripMargin,

      "ts6_topk" ->
        """SELECT row_number() OVER (ORDER BY total_value DESC, user_id) AS rank,
          |  user_id, total_value
          |FROM (SELECT user_id,
          |        CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
          |      FROM events GROUP BY user_id)
          |ORDER BY total_value DESC, user_id LIMIT 20""".stripMargin,

      "ts7_asof_join" ->
        """SELECT p.event_id AS purchase_id, p.user_id,
          |  epoch_us(p.ts) AS purchase_ts_us, c.event_id AS click_id,
          |  epoch_us(c.ts) AS click_ts_us,
          |  epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
          |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
          |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
          |  ON p.user_id = c.user_id AND p.ts >= c.ts
          |ORDER BY purchase_id""".stripMargin,

      "ts8_gap_fill" ->
        """WITH b AS (SELECT CAST(min(ts) AS DATE) AS lo, CAST(max(ts) AS DATE) AS hi FROM events),
          |days AS (SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS d FROM b),
          |types AS (SELECT DISTINCT event_type FROM events),
          |daily AS (SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS n,
          |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
          |  FROM events GROUP BY 1, 2)
          |SELECT t.event_type, strftime(dd.d, '%Y-%m-%d') AS day,
          |  coalesce(daily.n, 0) AS n, coalesce(daily.sum_value, 0.0) AS sum_value
          |FROM types t CROSS JOIN days dd
          |LEFT JOIN daily ON daily.event_type = t.event_type AND daily.d = dd.d
          |ORDER BY t.event_type, day""".stripMargin,

      "ts9_percentiles" ->
        """SELECT event_type, round(quantile_cont(value, 0.5), 6) AS p50,
          |  round(quantile_cont(value, 0.9), 6) AS p90,
          |  round(quantile_cont(value, 0.99), 6) AS p99, count(*) AS n
          |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,

      // Hampel filter: both medians are 6-dp-rounded exact
      // PERCENTILE_CONT (ts9's cross-engine discipline), deviations and
      // the 3·MAD threshold are identical IEEE doubles on both engines
      "ts30_mad_outliers" ->
        """WITH med AS (SELECT event_type,
          |    round(quantile_cont(value, 0.5), 6) AS med
          |  FROM events GROUP BY 1),
          |dev AS (SELECT e.event_type, m.med, abs(e.value - m.med) AS dev
          |  FROM events e JOIN med m USING (event_type)),
          |madt AS (SELECT event_type, min(med) AS med,
          |    round(quantile_cont(dev, 0.5), 6) AS mad, count(*) AS n
          |  FROM dev GROUP BY 1)
          |SELECT m.event_type, m.med, m.mad, m.n,
          |  CAST(sum(CASE WHEN d.dev > 3 * m.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
          |  round(CAST(sum(CASE WHEN d.dev > 3 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
          |    / CAST(m.n AS DOUBLE), 6) AS out_rate
          |FROM madt m JOIN dev d USING (event_type)
          |GROUP BY m.event_type, m.med, m.mad, m.n
          |ORDER BY m.event_type""".stripMargin,

      "ts10_distinct_users" ->
        """SELECT event_type, count(DISTINCT user_id) AS n_keys, count(*) AS n_events
          |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,

      // streaming twin is batch-equivalent -> same oracle as ts1
      "ts11_stream_tumbling" ->
        """SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
          |  count(*) AS n,
          |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
          |  round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS avg_value
          |FROM events GROUP BY 1, 2 ORDER BY event_type, day""".stripMargin,

      // streaming sessionize is batch-equivalent -> the ts4 construction
      // without the session ordinal
      "ts12_stream_sessionize" ->
        """WITH g AS (SELECT user_id, ts, event_id, value,
          |  CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
          |      OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
          |    THEN 1 ELSE 0 END AS ns
          |  FROM events),
          |s AS (SELECT user_id, ts, value,
          |  sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
          |                ROWS UNBOUNDED PRECEDING) AS session_id
          |  FROM g)
          |SELECT user_id, epoch_us(min(ts)) AS start_us, epoch_us(max(ts)) AS end_us,
          |  count(*) AS n_events,
          |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
          |FROM s GROUP BY user_id, session_id ORDER BY user_id, start_us""".stripMargin,

      "ts14_retention" ->
        """WITH fs AS (SELECT user_id, CAST(min(ts) AS DATE) AS cohort_day
          |  FROM events GROUP BY 1),
          |act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS active_day FROM events)
          |SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort,
          |  (active_day - cohort_day) AS day_offset,
          |  count(DISTINCT act.user_id) AS n_users
          |FROM act JOIN fs USING (user_id)
          |GROUP BY 1, 2 ORDER BY cohort, day_offset""".stripMargin,

      "ts15_funnel" ->
        """WITH m AS (SELECT user_id,
          |    min(CASE WHEN event_type = 'signup' THEN ts END) AS t0,
          |    min(CASE WHEN event_type = 'click' THEN ts END) AS t1,
          |    min(CASE WHEN event_type = 'purchase' THEN ts END) AS t2
          |  FROM events GROUP BY user_id),
          |f AS (SELECT
          |    count(CASE WHEN t0 IS NOT NULL THEN 1 END) AS c0,
          |    count(CASE WHEN t0 IS NOT NULL AND t1 >= t0 THEN 1 END) AS c1,
          |    count(CASE WHEN t0 IS NOT NULL AND t1 >= t0 AND t2 >= t1 THEN 1 END) AS c2
          |  FROM m)
          |SELECT 1 AS stage_idx, 'signup' AS stage, c0 AS n_keys FROM f
          |UNION ALL SELECT 2, 'click', c1 FROM f
          |UNION ALL SELECT 3, 'purchase', c2 FROM f
          |ORDER BY stage_idx""".stripMargin,

      "ts13_grouped_topk" ->
        """SELECT event_type, user_id, total_value, rank FROM (
          |  SELECT event_type, user_id, total_value,
          |    row_number() OVER (PARTITION BY event_type
          |                       ORDER BY total_value DESC, user_id) AS rank
          |  FROM (SELECT event_type, user_id,
          |          CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
          |        FROM events GROUP BY 1, 2))
          |WHERE rank <= 3 ORDER BY event_type, rank""".stripMargin,

      "t11_asof_interp" ->
        s"""WITH p AS (SELECT user_id, epoch_us(ts) AS t0, value AS v0 FROM events
           |  WHERE ts <= TIMESTAMP '$T'
           |  QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1),
           |n AS (SELECT user_id, epoch_us(ts) AS t1, value AS v1 FROM events
           |  WHERE ts > TIMESTAMP '$T'
           |  QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) = 1)
           |SELECT p.user_id, p.t0, p.v0, n.t1, n.v1,
           |  round(CASE WHEN n.t1 IS NULL THEN p.v0
           |    ELSE p.v0 + (n.v1 - p.v0) *
           |      ((epoch_us(TIMESTAMP '$T') - p.t0)::DOUBLE / (n.t1 - p.t0)) END, 6) AS v_interp
           |FROM p LEFT JOIN n USING (user_id)
           |ORDER BY user_id""".stripMargin,

      // stateful flatMapGroupsWithState monitor is batch-equivalent ->
      // row_number + lag over the version order
      "ts21_stream_version_monitor" ->
        """SELECT user_id, row_number() OVER w AS version, epoch_us(ts) AS ts_us,
          |  value, value - lag(value) OVER w AS delta
          |FROM events
          |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
          |ORDER BY user_id, version""".stripMargin,

      "x6_stratified_sample" ->
        """SELECT lang, count(*) AS n_sampled, min(doc_id) AS first_id,
          |  CAST(sum(n_chars) AS BIGINT) AS sampled_chars
          |FROM (SELECT *,
          |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS bucket
          |  FROM documents)
          |WHERE bucket < CASE WHEN lang = 'en' THEN 40 ELSE 15 END
          |GROUP BY 1 ORDER BY lang""".stripMargin,

      "q24_set_ops" ->
        """WITH c96 AS (SELECT o_custkey FROM orders
          |  WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          |    AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'),
          |c97 AS (SELECT o_custkey FROM orders
          |  WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
          |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'),
          |churned AS (SELECT o_custkey FROM c96 EXCEPT SELECT o_custkey FROM c97),
          |retained AS (SELECT o_custkey FROM c96 INTERSECT SELECT o_custkey FROM c97)
          |SELECT 'churned' AS cohort, count(*) AS n_customers FROM churned
          |UNION ALL
          |SELECT 'retained' AS cohort, count(*) AS n_customers FROM retained
          |ORDER BY cohort""".stripMargin,

      "ts25_range_window" ->
        """SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
          |  count(*) OVER w AS n_1h,
          |  CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sum_1h
          |FROM events
          |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
          |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
          |ORDER BY user_id, ts_us, event_id""".stripMargin,

      // the drained survivor set = exactly one row per distinct
      // (user_id, event_type, day); the post-drain report is then
      // count(DISTINCT user_id) per (event_type, day)
      "ts26_stream_dedup" ->
        """SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
          |  count(DISTINCT user_id) AS n_unique
          |FROM events GROUP BY 1, 2
          |ORDER BY event_type, day""".stripMargin,

      "ts24_counter_rate" ->
        """WITH s AS (SELECT user_id, epoch_us(ts) AS us, value,
          |    lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
          |  FROM events)
          |SELECT user_id, count(*) AS n_samples,
          |  CAST(sum(CAST(CASE WHEN prev IS NULL THEN NULL
          |    WHEN value >= prev THEN value - prev
          |    ELSE value END AS DECIMAL(18,6))) AS DOUBLE) AS total_increase,
          |  max(us) - min(us) AS elapsed_us,
          |  round(CAST(sum(CAST(CASE WHEN prev IS NULL THEN NULL
          |    WHEN value >= prev THEN value - prev
          |    ELSE value END AS DECIMAL(18,6))) AS DOUBLE)
          |    / ((max(us) - min(us)) / 1000000.0), 6) AS rate_per_sec
          |FROM s GROUP BY 1 HAVING max(us) - min(us) > 0
          |ORDER BY user_id""".stripMargin,

      "ts22_pivot" ->
        """SELECT strftime(ts, '%Y-%m-%d') AS day,
          |  count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
          |  count(CASE WHEN event_type = 'error' THEN 1 END) AS error,
          |  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
          |  count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
          |  count(CASE WHEN event_type = 'view' THEN 1 END) AS view
          |FROM events GROUP BY 1 ORDER BY day""".stripMargin,

      "ts23_rank_suite" ->
        """WITH t AS (SELECT user_id,
          |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
          |  FROM events GROUP BY 1),
          |b AS (SELECT user_id, total_value,
          |    CAST(floor(total_value / 50) AS BIGINT) AS bucket FROM t)
          |SELECT user_id, total_value, bucket,
          |  rank() OVER wt AS rnk, dense_rank() OVER wt AS drnk,
          |  round(percent_rank() OVER wt, 6) AS pct,
          |  round(cume_dist() OVER wt, 6) AS cd,
          |  row_number() OVER wu AS rn, ntile(4) OVER wu AS quartile
          |FROM b
          |WINDOW wt AS (ORDER BY bucket DESC),
          |       wu AS (ORDER BY total_value DESC, user_id)
          |ORDER BY user_id""".stripMargin,

      "q23_rollup_revenue" ->
        """SELECT (CASE WHEN l_returnflag IS NULL THEN 2 ELSE 0 END
          |      + CASE WHEN l_linestatus IS NULL THEN 1 ELSE 0 END) AS grp,
          |  coalesce(l_returnflag, 'ALL') AS l_returnflag,
          |  coalesce(l_linestatus, 'ALL') AS l_linestatus,
          |  revenue, n
          |FROM (SELECT l_returnflag, l_linestatus,
          |    CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
          |    count(*) AS n
          |  FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus))
          |ORDER BY grp, l_returnflag, l_linestatus""".stripMargin,

      "ts16_interval_join" ->
        """SELECT p.event_id AS purchase_id, p.user_id, epoch_us(p.ts) AS ts_us,
          |  (SELECT count(*) FROM events c WHERE c.event_type = 'click'
          |     AND c.user_id = p.user_id
          |     AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts < p.ts) AS n_clicks
          |FROM events p WHERE p.event_type = 'purchase'
          |ORDER BY purchase_id""".stripMargin,

      // stream-stream interval join is batch-equivalent -> plain range join
      "ts17_stream_interval_join" ->
        """SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id,
          |  epoch_us(p.ts) AS p_ts_us, epoch_us(c.ts) AS c_ts_us
          |FROM events p JOIN events c ON c.user_id = p.user_id
          |  AND p.event_type = 'purchase' AND c.event_type = 'click'
          |  AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts < p.ts
          |ORDER BY purchase_id, click_id""".stripMargin,

      "ts18_ewma" ->
        """SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
          |  round((value
          |    + CASE WHEN lag(value, 1) OVER w IS NOT NULL
          |        THEN lag(value, 1) OVER w * 0.5 ELSE 0.0 END
          |    + CASE WHEN lag(value, 2) OVER w IS NOT NULL
          |        THEN lag(value, 2) OVER w * 0.25 ELSE 0.0 END
          |    + CASE WHEN lag(value, 3) OVER w IS NOT NULL
          |        THEN lag(value, 3) OVER w * 0.125 ELSE 0.0 END)
          |  / (1.0
          |    + CASE WHEN lag(value, 1) OVER w IS NOT NULL THEN 0.5 ELSE 0.0 END
          |    + CASE WHEN lag(value, 2) OVER w IS NOT NULL THEN 0.25 ELSE 0.0 END
          |    + CASE WHEN lag(value, 3) OVER w IS NOT NULL THEN 0.125 ELSE 0.0 END), 6) AS ewma
          |FROM events
          |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
          |ORDER BY user_id, ts_us, event_id""".stripMargin,

      "ts19_zscore" ->
        """WITH st AS (SELECT event_type,
          |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS mean,
          |    CAST(sum(CAST(value * value AS DECIMAL(28,6))) AS DOUBLE) / count(*) AS ex2
          |  FROM events GROUP BY 1)
          |SELECT e.event_id, e.event_type, e.value,
          |  round((e.value - st.mean) / sqrt(st.ex2 - st.mean * st.mean), 6) AS z
          |FROM events e JOIN st USING (event_type)
          |WHERE sqrt(st.ex2 - st.mean * st.mean) > 0
          |  AND abs(round((e.value - st.mean) / sqrt(st.ex2 - st.mean * st.mean), 6)) >= 2.5
          |ORDER BY event_id""".stripMargin,

      "ts20_twa" ->
        s"""WITH i AS (SELECT user_id, event_id, epoch_us(ts) AS us, value FROM events
           |  WHERE ts >= TIMESTAMP '$T1' AND ts < TIMESTAMP '$T2'),
           |wt AS (SELECT user_id, value,
           |    coalesce(lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id),
           |             epoch_us(TIMESTAMP '$T2')) - us AS w
           |  FROM i)
           |SELECT user_id, count(*) AS n_events,
           |  round(CAST(sum(CAST(value * w AS DECIMAL(28,6))) AS DOUBLE)
           |        / CAST(sum(w) AS BIGINT), 6) AS twa
           |FROM wt GROUP BY 1 ORDER BY user_id""".stripMargin,

      // ts19's decimal-exact mean/E[x²] applied per (series,
      // hour-of-day) seasonal slot; the z-guard and the 6-dp rounding
      // mirror the Spark expressions operand for operand
      "ts31_seasonal_anomaly" ->
        """WITH sl AS (SELECT event_type, CAST(hour(ts) AS INT) AS hod, value
          |  FROM events),
          |st AS (SELECT event_type, hod,
          |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS mean,
          |    CAST(sum(CAST(value * value AS DECIMAL(28,6))) AS DOUBLE) / count(*) AS ex2
          |  FROM sl GROUP BY 1, 2)
          |SELECT sl.event_type, sl.hod, count(*) AS n_events,
          |  CAST(sum(CASE WHEN sqrt(st.ex2 - st.mean * st.mean) > 0
          |    AND abs(round((sl.value - st.mean)
          |      / sqrt(st.ex2 - st.mean * st.mean), 6)) >= 3.0
          |    THEN 1 ELSE 0 END) AS BIGINT) AS n_anom,
          |  round(min(st.mean), 6) AS mean_r,
          |  round(min(sqrt(st.ex2 - st.mean * st.mean)), 6) AS std_r,
          |  round(CAST(sum(CASE WHEN sqrt(st.ex2 - st.mean * st.mean) > 0
          |    AND abs(round((sl.value - st.mean)
          |      / sqrt(st.ex2 - st.mean * st.mean), 6)) >= 3.0
          |    THEN 1 ELSE 0 END) AS BIGINT) / CAST(count(*) AS DOUBLE), 6) AS anom_rate
          |FROM sl JOIN st USING (event_type, hod)
          |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

      // integer micro-unit deviations BEFORE the running sums, so the
      // cumulative path / prefix-min / drawup are exact int64 on both
      // engines; top-20 by (drift DESC, user_id) is a total order
      "ts32_cusum_drift" ->
        """WITH m AS (SELECT user_id,
          |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS mean
          |  FROM events GROUP BY 1),
          |c AS (SELECT e.user_id, e.ts, e.event_id,
          |    CAST(floor((e.value - m.mean) * 1000000.0) AS BIGINT) AS devq
          |  FROM events e JOIN m USING (user_id)),
          |r AS (SELECT user_id, ts, event_id,
          |    CAST(sum(devq) OVER (PARTITION BY user_id ORDER BY ts, event_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
          |  FROM c),
          |r2 AS (SELECT user_id, cum,
          |    CAST(min(cum) OVER (PARTITION BY user_id ORDER BY ts, event_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS runmin
          |  FROM r)
          |SELECT user_id, count(*) AS n_events,
          |  round(CAST(max(cum - runmin) AS BIGINT) / 1000000.0, 6) AS drift
          |FROM r2 GROUP BY 1
          |ORDER BY drift DESC, user_id LIMIT 20""".stripMargin,

      // ts31's slot moments rolled up per series; per-slot residual
      // contributions micro-quantized BEFORE the cross-slot sum so the
      // report is partitioning-independent on both engines
      "ts33_seasonal_strength" ->
        """WITH sl AS (SELECT event_type, CAST(hour(ts) AS INT) AS hod,
          |    count(*) AS n,
          |    sum(CAST(value AS DECIMAL(18,6))) AS s,
          |    sum(CAST(value * value AS DECIMAL(28,6))) AS q
          |  FROM events GROUP BY 1, 2),
          |r AS (SELECT event_type, n, s, q,
          |    CAST(floor((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
          |      * 1000000.0) AS BIGINT) AS ssr_q6
          |  FROM sl),
          |t AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS n_events,
          |    count(*) AS n_slots, sum(s) AS st, sum(q) AS qt,
          |    CAST(sum(ssr_q6) AS BIGINT) AS ssrq
          |  FROM r GROUP BY 1)
          |SELECT event_type, n_events, n_slots,
          |  round(CAST(qt AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / n_events, 6) AS ss_total_r,
          |  round(ssrq / 1000000.0, 6) AS ss_resid_r,
          |  CASE WHEN (CAST(qt AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / n_events) > 0
          |    THEN round(1.0 - (ssrq / 1000000.0) /
          |      (CAST(qt AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / n_events), 6)
          |    ELSE NULL END AS seasonal_strength
          |FROM t ORDER BY event_type""".stripMargin,

      // exact int64 µs gaps off one lag window; outage/downtime in
      // CASE form so the first row's NULL gap contributes 0 on both
      // engines; one rounded uptime ratio
      "ts34_heartbeat_gaps" ->
        """WITH g AS (SELECT user_id, epoch_us(ts) AS us,
          |    epoch_us(ts) - lag(epoch_us(ts)) OVER
          |      (PARTITION BY user_id ORDER BY ts, event_id) AS gap
          |  FROM events)
          |SELECT user_id, count(*) AS n_samples,
          |  CAST(max(us) - min(us) AS BIGINT) AS span_us,
          |  CAST(sum(CASE WHEN gap > 86400000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_outages,
          |  CAST(max(gap) AS BIGINT) AS longest_gap_us,
          |  CAST(sum(CASE WHEN gap > 43200000000 THEN gap - 43200000000 ELSE 0 END)
          |    AS BIGINT) AS downtime_us,
          |  CASE WHEN max(us) - min(us) > 0 THEN
          |    round(1.0 - CAST(sum(CASE WHEN gap > 43200000000
          |        THEN gap - 43200000000 ELSE 0 END) AS BIGINT)
          |      / CAST(max(us) - min(us) AS DOUBLE), 6)
          |  ELSE NULL END AS uptime_frac
          |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,

      // decimal-exact mean, milli-quantized deviations, exact HUGEINT
      // product sums — tail leads contribute 0 via CASE on both engines
      "ts35_acf" ->
        """WITH m AS (SELECT user_id,
          |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS mean
          |  FROM events GROUP BY user_id),
          |d AS (SELECT e.user_id,
          |    CAST(floor((e.value - m.mean) * 1000.0) AS BIGINT) AS dv,
          |    epoch_us(e.ts) AS us, e.event_id
          |  FROM events e JOIN m USING (user_id)),
          |l AS (SELECT user_id, dv,
          |    lead(dv, 1) OVER w AS l1, lead(dv, 2) OVER w AS l2,
          |    lead(dv, 3) OVER w AS l3
          |  FROM d WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
          |agg AS (SELECT user_id, count(*) AS n_events,
          |    sum(CAST(dv AS HUGEINT) * dv) AS den,
          |    sum(CASE WHEN l1 IS NOT NULL THEN CAST(dv AS HUGEINT) * l1 ELSE 0 END) AS n1,
          |    sum(CASE WHEN l2 IS NOT NULL THEN CAST(dv AS HUGEINT) * l2 ELSE 0 END) AS n2,
          |    sum(CASE WHEN l3 IS NOT NULL THEN CAST(dv AS HUGEINT) * l3 ELSE 0 END) AS n3
          |  FROM l GROUP BY user_id)
          |SELECT user_id, n_events,
          |  CASE WHEN den > 0 THEN round(CAST(n1 AS DOUBLE) / CAST(den AS DOUBLE), 6) END AS acf1,
          |  CASE WHEN den > 0 THEN round(CAST(n2 AS DOUBLE) / CAST(den AS DOUBLE), 6) END AS acf2,
          |  CASE WHEN den > 0 THEN round(CAST(n3 AS DOUBLE) / CAST(den AS DOUBLE), 6) END AS acf3
          |FROM agg ORDER BY user_id""".stripMargin,

      // sharded contiguous packing: same md5 shard + cumsum-before math
      "x7_pack_sequences" ->
        """WITH t AS (SELECT doc_id,
          |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
          |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 8 AS shard
          |  FROM documents),
          |c AS (SELECT *, CAST(coalesce(sum(toks) OVER (PARTITION BY shard ORDER BY doc_id
          |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
          |  FROM t)
          |SELECT shard, CAST(floor(cum_before / 512.0) AS BIGINT) AS bin,
          |  count(*) AS n_docs, CAST(sum(toks) AS BIGINT) AS total_tokens,
          |  min(doc_id) AS first_id
          |FROM c GROUP BY 1, 2 ORDER BY shard, bin""".stripMargin,

      // decontamination: distinct-shingle overlap vs the % 20 bench set
      "x8_decontamination" ->
        """WITH w AS (SELECT doc_id, text, string_split(text, ' ') AS words FROM documents),
          |sh AS (SELECT doc_id, list_distinct(
          |    CASE WHEN len(words) < 3 THEN [text]
          |         ELSE [array_to_string(words[i:i+2], ' ')
          |               for i in range(1, len(words) - 1)] END) AS shingles
          |  FROM w),
          |e AS (SELECT doc_id, ('0x' || substr(md5(unnest(shingles)), 1, 15))::BIGINT AS shingle FROM sh),
          |b AS (SELECT doc_id AS bench_id, shingle FROM e WHERE doc_id % 20 = 0),
          |c AS (SELECT doc_id, shingle FROM e WHERE doc_id % 20 <> 0),
          |o AS (SELECT c.doc_id, b.bench_id, count(*) AS n_shared
          |  FROM c JOIN b USING (shingle) GROUP BY 1, 2 HAVING count(*) >= 3)
          |SELECT doc_id, bench_id, n_shared FROM (
          |  SELECT *, row_number() OVER (PARTITION BY doc_id
          |    ORDER BY n_shared DESC, bench_id) AS rn FROM o)
          |WHERE rn = 1 ORDER BY doc_id""".stripMargin,

      // x31: x4's fingerprint canonical joined to the serving log —
      // per (source, week): served count, non-canonical-dup count,
      // dup rate
      "x31_dup_drift" ->
        """WITH fp AS (SELECT doc_id, source,
          |    md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
          |        ' +', ' ', 'g'))) AS f
          |  FROM documents),
          |cn AS (SELECT f, min(doc_id) AS canon FROM fp GROUP BY 1),
          |fl AS (SELECT fp.doc_id, fp.source,
          |    CASE WHEN fp.doc_id <> cn.canon THEN 1 ELSE 0 END AS dup
          |  FROM fp JOIN cn USING (f)),
          |sv AS (SELECT event_id % (SELECT count(*) FROM documents) AS doc_id,
          |    strftime(date_trunc('week', ts), '%Y-%m-%d') AS week FROM events)
          |SELECT fl.source, sv.week, count(*) AS n_served,
          |  CAST(sum(fl.dup) AS BIGINT) AS dup_served,
          |  round(sum(fl.dup)::DOUBLE / count(*), 6) AS dup_rate
          |FROM sv JOIN fl USING (doc_id)
          |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

      // x30: x2's quality score joined to the serving log
      // (doc_id = event_id mod |documents|), weekly per-source mean
      // vs the source's first-week baseline; drift in exact integer
      // micro units (difference of two 6-dp multiples)
      "x30_quality_drift" ->
        s"""WITH q AS (SELECT doc_id, source,
          |    round(0.4 * least(n_distinct::DOUBLE / n_words * 2.0, 1.0)
          |        + 0.3 * least(stop_hits::DOUBLE / n_words * 5.0, 1.0)
          |        + 0.3 * least((n_chars::DOUBLE / n_words) / 8.0, 1.0), 6) AS quality
          |  FROM (SELECT doc_id, source, n_chars, len(words) AS n_words,
          |      len(list_distinct(words)) AS n_distinct,
          |      len(list_filter(words, w -> w IN ('the', 'a'))) AS stop_hits
          |    FROM (SELECT doc_id, source, n_chars,
          |        string_split(text, ' ') AS words FROM documents))),
          |sv AS (SELECT event_id % (SELECT count(*) FROM documents) AS doc_id,
          |    strftime(date_trunc('week', ts), '%Y-%m-%d') AS week FROM events),
          |a AS (SELECT q.source, sv.week, count(*) AS n_served,
          |    round(CAST(sum(CAST(q.quality AS DECIMAL(18,6))) AS DOUBLE)
          |      / count(*), 6) AS avg_quality
          |  FROM sv JOIN q USING (doc_id) GROUP BY 1, 2),
          |b AS (SELECT source, week, n_served, avg_quality,
          |    first_value(avg_quality) OVER (PARTITION BY source ORDER BY week)
          |      AS baseline_quality
          |  FROM a)
          |SELECT source, week, n_served, avg_quality, baseline_quality,
          |  CAST(round((avg_quality - baseline_quality) * 1e6) AS BIGINT) AS drift_micro,
          |  abs(CAST(round((avg_quality - baseline_quality) * 1e6) AS BIGINT))
          |    > $X30DriftMicro AS drifted
          |FROM b ORDER BY source, week""".stripMargin,

      // x29: x8's hit set (same CTEs) rolled up per source with token
      // mass — which sources ship contaminated data and how much the
      // decontamination pass removes
      "x29_contamination_report" ->
        """WITH w AS (SELECT doc_id, text, string_split(text, ' ') AS words FROM documents),
          |sh AS (SELECT doc_id, list_distinct(
          |    CASE WHEN len(words) < 3 THEN [text]
          |         ELSE [array_to_string(words[i:i+2], ' ')
          |               for i in range(1, len(words) - 1)] END) AS shingles
          |  FROM w),
          |e AS (SELECT doc_id, ('0x' || substr(md5(unnest(shingles)), 1, 15))::BIGINT AS shingle FROM sh),
          |b AS (SELECT doc_id AS bench_id, shingle FROM e WHERE doc_id % 20 = 0),
          |c AS (SELECT doc_id, shingle FROM e WHERE doc_id % 20 <> 0),
          |o AS (SELECT c.doc_id, b.bench_id, count(*) AS n_shared
          |  FROM c JOIN b USING (shingle) GROUP BY 1, 2 HAVING count(*) >= 3),
          |hits AS (SELECT DISTINCT doc_id FROM o),
          |base AS (SELECT d.doc_id, d.source,
          |    len(string_split(d.text, ' ')) AS toks,
          |    CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END AS hit
          |  FROM documents d LEFT JOIN hits h USING (doc_id)
          |  WHERE d.doc_id % 20 <> 0)
          |SELECT source, count(*) AS n_docs,
          |  CAST(sum(hit) AS BIGINT) AS n_contaminated,
          |  CAST(sum(toks) AS BIGINT) AS tokens_total,
          |  CAST(sum(CASE WHEN hit = 1 THEN toks ELSE 0 END) AS BIGINT)
          |    AS tokens_contaminated,
          |  round(sum(hit) / CAST(count(*) AS DOUBLE), 6) AS doc_rate,
          |  CASE WHEN sum(toks) > 0 THEN
          |    round(sum(CASE WHEN hit = 1 THEN toks ELSE 0 END)
          |      / CAST(sum(toks) AS DOUBLE), 6) END AS token_rate
          |FROM base GROUP BY source ORDER BY source""".stripMargin,

      "x9_repetition" ->
        """WITH w AS (SELECT doc_id, length(text) AS n_chars,
          |    string_split(text, ' ') AS words FROM documents),
          |bge AS (SELECT doc_id, unnest(CASE WHEN len(words) < 2 THEN []::VARCHAR[]
          |    ELSE [array_to_string(words[i:i+1], ' ')
          |          for i in range(1, len(words))] END) AS g FROM w),
          |bc AS (SELECT doc_id, g, count(*) AS cnt FROM bge GROUP BY 1, 2),
          |bt AS (SELECT doc_id, g AS top_bigram, cnt AS top_bigram_n FROM (
          |    SELECT *, row_number() OVER (PARTITION BY doc_id
          |      ORDER BY cnt DESC, g DESC) AS rn FROM bc) WHERE rn = 1),
          |tge AS (SELECT doc_id, unnest(CASE WHEN len(words) < 3 THEN []::VARCHAR[]
          |    ELSE [array_to_string(words[i:i+2], ' ')
          |          for i in range(1, len(words) - 1)] END) AS g FROM w),
          |tc AS (SELECT doc_id, g, count(*) AS cnt FROM tge GROUP BY 1, 2),
          |tt AS (SELECT doc_id, sum(cnt) AS n_tri,
          |    count(*) AS n_tri_distinct FROM tc GROUP BY 1)
          |SELECT w.doc_id, len(w.words) AS n_words, bt.top_bigram,
          |  bt.top_bigram_n,
          |  round(bt.top_bigram_n * length(bt.top_bigram) / w.n_chars, 6)
          |    AS frac_top_bigram,
          |  round(1.0 - tt.n_tri_distinct / tt.n_tri, 6) AS dup_tri_frac
          |FROM w JOIN bt USING (doc_id) JOIN tt USING (doc_id)
          |ORDER BY doc_id""".stripMargin,

      "x10_json_extract" ->
        """SELECT event_type, count(k) AS n, min(k) AS min_k,
          |  max(k) AS max_k, CAST(sum(k) AS BIGINT) AS sum_k,
          |  round(sum(k) / count(k), 6) AS avg_k
          |FROM (SELECT event_type,
          |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
          |  FROM events)
          |GROUP BY event_type ORDER BY event_type""".stripMargin,

      // token information content quantized to INTEGER bit-buckets
      // (length(bin(cnt)) = floor(log2 cnt)+1) — a float log2 sum
      // would be summation-order- and libm-dependent across engines
      "x11_unigram_lm" ->
        """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
          |  FROM documents),
          |dw AS (SELECT doc_id, w, count(*) AS tf FROM toks GROUP BY doc_id, w),
          |wc AS (SELECT w, CAST(sum(tf) AS BIGINT) AS cnt FROM dw GROUP BY w)
          |SELECT doc_id, n_tokens, n_distinct, rare_tokens, min_cnt,
          |  round(CAST(sum_bits AS DOUBLE) / n_tokens, 6) AS avg_bits
          |FROM (
          |  SELECT dw.doc_id,
          |    CAST(sum(dw.tf) AS BIGINT) AS n_tokens,
          |    count(*) AS n_distinct,
          |    CAST(sum(dw.tf * CAST(wc.cnt <= 2 AS INT)) AS BIGINT) AS rare_tokens,
          |    CAST(sum(dw.tf * length(bin(wc.cnt))) AS BIGINT) AS sum_bits,
          |    min(wc.cnt) AS min_cnt
          |  FROM dw JOIN wc USING (w) GROUP BY dw.doc_id)
          |ORDER BY doc_id""".stripMargin,

      // bigram-LM transition surprisal in integer bits:
      // bits(C1(a)+V) - bits(C2(a,b)+1) per occurrence — same
      // bit-length quantization as x11, all-integer until the final
      // rounded per-doc average; tokens carry no spaces under the
      // single-space split so 'a b' is an unambiguous join key
      "x23_bigram_surprisal" ->
        """WITH w AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
          |bgf AS (SELECT doc_id,
          |    unnest([t[i] || ' ' || t[i+1] for i in range(1, len(t))]) AS bg
          |  FROM w WHERE len(t) >= 2),
          |bgt AS (SELECT doc_id,
          |    ('0x' || substr(md5(bg), 1, 15))::BIGINT AS bgh,
          |    ('0x' || substr(md5(split_part(bg, ' ', 1)), 1, 15))::BIGINT AS ah,
          |    count(*) AS tf2 FROM bgf GROUP BY 1, 2, 3),
          |c2 AS (SELECT bgh, CAST(sum(tf2) AS BIGINT) AS c2 FROM bgt GROUP BY 1),
          |c1 AS (SELECT ah, CAST(sum(tf2) AS BIGINT) AS c1 FROM bgt GROUP BY 1),
          |v AS (SELECT count(DISTINCT w) AS v FROM (SELECT unnest(t) AS w FROM w)),
          |sc AS (SELECT g.doc_id, CAST(sum(g.tf2) AS BIGINT) AS n_bigrams,
          |    CAST(sum(g.tf2 * (length(bin(c1.c1 + v.v))
          |      - length(bin(c2.c2 + 1)))) AS BIGINT) AS sum_bits
          |  FROM bgt g JOIN c2 USING (bgh) JOIN c1 USING (ah) CROSS JOIN v
          |  GROUP BY 1)
          |SELECT d.doc_id, coalesce(sc.n_bigrams, 0) AS n_bigrams,
          |  coalesce(sc.sum_bits, 0) AS sum_bits,
          |  round(coalesce(CAST(sc.sum_bits AS DOUBLE) / sc.n_bigrams, 0.0), 6) AS avg_bits
          |FROM documents d LEFT JOIN sc USING (doc_id)
          |ORDER BY d.doc_id""".stripMargin,

      // bit-quantized PMI: bits() per operand BEFORE any product
      // (overflow-free at any scale); same md5-int64 keys and min(bg)
      // display payload as the Spark plan
      "x28_pmi_collocations" ->
        """WITH w AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
          |toks AS (SELECT unnest(t) AS w FROM w),
          |wc AS (SELECT ('0x' || substr(md5(w), 1, 15))::BIGINT AS wh,
          |    count(*) AS cnt FROM toks GROUP BY 1),
          |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_tok FROM wc),
          |bgf AS (SELECT unnest([t[i] || ' ' || t[i+1] for i in range(1, len(t))]) AS bg
          |  FROM w WHERE len(t) >= 2),
          |bgc AS (SELECT ('0x' || substr(md5(bg), 1, 15))::BIGINT AS bgh,
          |    ('0x' || substr(md5(split_part(bg, ' ', 1)), 1, 15))::BIGINT AS ah,
          |    ('0x' || substr(md5(split_part(bg, ' ', 2)), 1, 15))::BIGINT AS th,
          |    count(*) AS n_ab, min(bg) AS bigram
          |  FROM bgf GROUP BY 1, 2, 3 HAVING count(*) >= 5)
          |SELECT g.bigram, g.n_ab, a.cnt AS n_a, b.cnt AS n_b,
          |  CAST(length(bin(g.n_ab)) + length(bin(tot.n_tok))
          |    - length(bin(a.cnt)) - length(bin(b.cnt)) AS BIGINT) AS pmi_bits
          |FROM bgc g JOIN wc a ON g.ah = a.wh JOIN wc b ON g.th = b.wh
          |CROSS JOIN tot
          |ORDER BY pmi_bits DESC, g.n_ab DESC, g.bigram ASC
          |LIMIT 20""".stripMargin,

      // per-source rarity under the corpus code vs the source's own
      // code — the x11 bit quantization aggregated by source, all
      // integer sums until the final rounded ratios
      "x24_source_divergence" ->
        """WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS w
          |  FROM documents),
          |sw AS (SELECT source, w, count(*) AS s_cnt FROM toks GROUP BY 1, 2),
          |cw AS (SELECT w, CAST(sum(s_cnt) AS BIGINT) AS cnt FROM sw GROUP BY 1),
          |nd AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
          |agg AS (SELECT sw.source,
          |    CAST(sum(sw.s_cnt) AS BIGINT) AS n_tokens,
          |    count(*) AS vocab,
          |    CAST(sum(sw.s_cnt * length(bin(cw.cnt))) AS BIGINT) AS scb,
          |    CAST(sum(sw.s_cnt * length(bin(sw.s_cnt))) AS BIGINT) AS ssb
          |  FROM sw JOIN cw USING (w) GROUP BY 1)
          |SELECT a.source, nd.n_docs, a.n_tokens, a.vocab,
          |  round(CAST(scb AS DOUBLE) / a.n_tokens, 6) AS avg_corpus_bits,
          |  round(CAST(ssb AS DOUBLE) / a.n_tokens, 6) AS avg_self_bits,
          |  round(CAST(scb - ssb AS DOUBLE) / a.n_tokens, 6) AS div_bits
          |FROM agg a JOIN nd USING (source)
          |ORDER BY a.source""".stripMargin,

      // DSIR: hashed uni+bi-gram features (md5-60bit mod 4096), both
      // LMs from one feature aggregate, add-one bit rarity, selection
      // by integer cross-multiplication vs the corpus-average gap
      "x25_dsir_weights" ->
        """WITH u AS (SELECT doc_id, source, lang = 'en' AS t,
          |    unnest(string_split(text, ' ')) AS f FROM documents),
          |bg0 AS (SELECT doc_id, source, lang = 'en' AS t,
          |    string_split(text, ' ') AS w FROM documents),
          |bg AS (SELECT doc_id, source, t,
          |    unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS f
          |  FROM bg0 WHERE len(w) >= 2),
          |fe AS (SELECT doc_id, source, t,
          |    (('0x' || substr(md5(f), 1, 15))::BIGINT) % 4096 AS b,
          |    count(*) AS tf
          |  FROM (SELECT * FROM u UNION ALL SELECT * FROM bg)
          |  GROUP BY 1, 2, 3, 4),
          |lm AS (SELECT b, CAST(sum(tf) AS BIGINT) AS raw_cnt,
          |    CAST(sum(CASE WHEN t THEN tf ELSE 0 END) AS BIGINT) AS tgt_cnt
          |  FROM fe GROUP BY 1),
          |pd AS (SELECT fe.doc_id, fe.source,
          |    CAST(sum(fe.tf) AS BIGINT) AS F,
          |    CAST(sum(fe.tf * length(bin(lm.tgt_cnt + 1))) AS BIGINT) AS St,
          |    CAST(sum(fe.tf * length(bin(lm.raw_cnt + 1))) AS BIGINT) AS Sr
          |  FROM fe JOIN lm USING (b) GROUP BY 1, 2),
          |tot AS (SELECT CAST(sum(F) AS BIGINT) AS G,
          |    CAST(sum(St) AS BIGINT) AS Ct, CAST(sum(Sr) AS BIGINT) AS Cr
          |  FROM pd)
          |SELECT source, count(*) AS n_docs,
          |  CAST(sum(F) AS BIGINT) AS n_feats,
          |  CAST(sum(St - Sr) AS BIGINT) AS gap_bits,
          |  CAST(sum(CASE WHEN (St - Sr) * G > (Ct - Cr) * F THEN 1 ELSE 0 END)
          |    AS BIGINT) AS n_selected,
          |  min(CASE WHEN (St - Sr) * G > (Ct - Cr) * F THEN doc_id END)
          |    AS first_sel,
          |  round(CAST(sum(St - Sr) AS DOUBLE) / sum(F), 6) AS avg_gap_bits
          |FROM pd CROSS JOIN tot GROUP BY source ORDER BY source""".stripMargin,

      "x17_tfidf_terms" ->
        """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
          |  FROM documents),
          |dw AS (SELECT doc_id, w, count(*) AS tf FROM toks GROUP BY 1, 2),
          |dfw AS (SELECT w, count(*) AS df FROM dw GROUP BY 1),
          |n AS (SELECT count(*) AS n_docs FROM documents),
          |s AS (SELECT dw.doc_id, dw.w, dw.tf, dfw.df,
          |    CAST(dw.tf * (length(bin(n.n_docs)) - length(bin(dfw.df)) + 1) AS BIGINT) AS score
          |  FROM dw JOIN dfw USING (w) CROSS JOIN n)
          |SELECT doc_id, rank, w AS term, tf, df, score FROM (
          |  SELECT *, row_number() OVER (PARTITION BY doc_id
          |    ORDER BY score DESC, w) AS rank FROM s)
          |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

      // ln values floor-quantized to micro-units before the (exact
      // int64) moment sums; the closing slope/intercept doubles use
      // the same operand order as the Spark columns
      "x26_zipf_fit" ->
        """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
          |  FROM documents),
          |tc AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY 1),
          |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_terms,
          |    CAST(sum(cnt) AS BIGINT) AS total_tokens FROM tc),
          |top AS (SELECT w, cnt FROM tc ORDER BY cnt DESC, w LIMIT 1000),
          |q AS (SELECT rank, cnt,
          |    CAST(floor(ln(rank) * 1000000.0) AS BIGINT) AS xq,
          |    CAST(floor(ln(cnt) * 1000000.0) AS BIGINT) AS yq
          |  FROM (SELECT cnt,
          |      row_number() OVER (ORDER BY cnt DESC, w) AS rank FROM top)),
          |f AS (SELECT CAST(count(*) AS BIGINT) AS n_top,
          |    CAST(sum(xq) AS BIGINT) AS sx, CAST(sum(yq) AS BIGINT) AS sy,
          |    CAST(sum(xq * yq) AS BIGINT) AS sxy,
          |    CAST(sum(xq * xq) AS BIGINT) AS sxx,
          |    CAST(max(CASE WHEN rank = 1 THEN cnt END) AS BIGINT) AS top1
          |  FROM q)
          |SELECT tot.n_terms, f.n_top,
          |  round((CAST(f.n_top AS DOUBLE) * CAST(f.sxy AS DOUBLE)
          |        - CAST(f.sx AS DOUBLE) * CAST(f.sy AS DOUBLE))
          |      / (CAST(f.n_top AS DOUBLE) * CAST(f.sxx AS DOUBLE)
          |        - CAST(f.sx AS DOUBLE) * CAST(f.sx AS DOUBLE)), 6) AS zipf_slope,
          |  round((CAST(f.sy AS DOUBLE)
          |      - (CAST(f.n_top AS DOUBLE) * CAST(f.sxy AS DOUBLE)
          |        - CAST(f.sx AS DOUBLE) * CAST(f.sy AS DOUBLE))
          |      / (CAST(f.n_top AS DOUBLE) * CAST(f.sxx AS DOUBLE)
          |        - CAST(f.sx AS DOUBLE) * CAST(f.sx AS DOUBLE))
          |      * CAST(f.sx AS DOUBLE))
          |      / CAST(f.n_top AS DOUBLE) / 1000000.0, 6) AS zipf_intercept,
          |  round(CAST(f.top1 AS DOUBLE) / CAST(tot.total_tokens AS DOUBLE), 6)
          |    AS top1_share
          |FROM f, tot""".stripMargin,

      // CUBE with the q23 null-group convention (grp bit: source high)
      "x18_corpus_card" ->
        """SELECT (CASE WHEN source IS NULL THEN 2 ELSE 0 END
          |      + CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS grp,
          |  coalesce(source, 'ALL') AS source, coalesce(lang, 'ALL') AS lang,
          |  n_docs, total_chars, total_tokens,
          |  round(CAST(total_chars AS DOUBLE) / n_docs, 6) AS avg_chars
          |FROM (SELECT source, lang, count(*) AS n_docs,
          |    CAST(sum(n_chars) AS BIGINT) AS total_chars,
          |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
          |  FROM (SELECT coalesce(source, 'unknown') AS source,
          |      coalesce(lang, 'und') AS lang, n_chars, text FROM documents)
          |  GROUP BY CUBE (source, lang))
          |ORDER BY grp, source, lang""".stripMargin,

      // streaming KMV drain == the batch bottom-k sketch (spec-pinned),
      // so the per-day theta estimate is oracle-checkable verbatim
      "ts29_stream_kmv" ->
        s"""WITH gh AS (SELECT DISTINCT epoch_us(date_trunc('day', ts)) AS day,
          |    ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h
          |  FROM events),
          |rk AS (SELECT day, h, row_number() OVER (PARTITION BY day ORDER BY h) AS rn FROM gh),
          |sk AS (SELECT day,
          |    coalesce(max(CASE WHEN rn = $KmvK THEN h END), 1152921504606846976) AS theta
          |  FROM rk GROUP BY day),
          |ret AS (SELECT rk.day, count(*) AS r FROM rk JOIN sk USING (day)
          |  WHERE rk.rn <= $KmvK AND rk.h < sk.theta GROUP BY rk.day),
          |ex AS (SELECT epoch_us(date_trunc('day', ts)) AS day,
          |    count(DISTINCT user_id) AS exact_distinct
          |  FROM events GROUP BY 1)
          |SELECT day, round(est, 6) AS est_distinct, exact_distinct,
          |  round(est / CAST(exact_distinct AS DOUBLE) - 1.0, 6) AS rel_err
          |FROM (SELECT sk.day,
          |    CAST(ret.r AS DOUBLE) * 1152921504606846976.0 / CAST(sk.theta AS DOUBLE) AS est,
          |    ex.exact_distinct
          |  FROM sk JOIN ret USING (day) JOIN ex USING (day))
          |ORDER BY day""".stripMargin,

      // mixture construction: every number derives from the
      // (source, bucket) count table; integer / single-division
      // arithmetic end to end (thresholds are floors of one exact
      // IEEE division), so both engines agree bit-for-bit
      "x12_domain_mix" ->
        """WITH db AS (SELECT source,
          |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10000 AS bucket
          |  FROM documents),
          |pb AS (SELECT source, bucket, count(*) AS n FROM db GROUP BY source, bucket),
          |ps AS (SELECT source, CAST(sum(n) AS BIGINT) AS available FROM pb GROUP BY source),
          |tot AS (SELECT CAST(sum(available) AS BIGINT) AS corpus_total FROM ps),
          |qt AS (SELECT source, available,
          |    least(available, CAST(floor(corpus_total * 3 / 200.0) AS BIGINT)) AS target_quota
          |  FROM ps CROSS JOIN tot),
          |qs AS (SELECT *,
          |    CAST(floor(target_quota * 10000 / CAST(available AS DOUBLE)) AS BIGINT)
          |      AS bucket_threshold
          |  FROM qt)
          |SELECT q.source, q.available, q.target_quota, q.bucket_threshold,
          |  CAST(sum(CASE WHEN pb.bucket < q.bucket_threshold THEN pb.n ELSE 0 END) AS BIGINT)
          |    AS n_sampled,
          |  round(CAST(sum(CASE WHEN pb.bucket < q.bucket_threshold THEN pb.n ELSE 0 END) AS BIGINT)
          |    / CAST(q.available AS DOUBLE), 6) AS sampled_share
          |FROM pb JOIN qs q USING (source)
          |GROUP BY q.source, q.available, q.target_quota, q.bucket_threshold
          |ORDER BY q.source""".stripMargin,

      "x13_blocklist_filter" ->
        s"""SELECT source, count(*) AS n_docs,
           |  CAST(sum(hits) AS BIGINT) AS total_hits,
           |  CAST(sum(CASE WHEN hits * 20 > n_words THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_flagged,
           |  CAST(count(*) - sum(CASE WHEN hits * 20 > n_words THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_kept,
           |  round(sum(CASE WHEN hits * 20 > n_words THEN 1 ELSE 0 END)
           |    / CAST(count(*) AS DOUBLE), 6) AS flagged_rate,
           |  min(CASE WHEN hits * 20 > n_words THEN doc_id END) AS first_flagged
           |FROM (SELECT source, doc_id,
           |    len(list_filter(ws, x -> x IN (${BlockWords.map("'" + _ + "'").mkString(", ")})))
           |      AS hits,
           |    len(ws) AS n_words
           |  FROM (SELECT source, doc_id, string_split(text, ' ') AS ws
           |    FROM documents))
           |GROUP BY source ORDER BY source""".stripMargin,

      "x14_ccnet_bucket" ->
        """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
          |  FROM documents),
          |dw AS (SELECT doc_id, w, count(*) AS tf FROM toks GROUP BY doc_id, w),
          |wc AS (SELECT w, CAST(sum(tf) AS BIGINT) AS cnt FROM dw GROUP BY w),
          |per AS (SELECT dw.doc_id, CAST(sum(dw.tf) AS BIGINT) AS n_tokens,
          |    CAST(sum(dw.tf * length(bin(wc.cnt))) AS BIGINT) AS sum_bits
          |  FROM dw JOIN wc USING (w) GROUP BY dw.doc_id),
          |wl AS (SELECT p.doc_id, d.lang, p.n_tokens, p.sum_bits,
          |    ntile(3) OVER (PARTITION BY d.lang
          |      ORDER BY p.sum_bits / CAST(p.n_tokens AS DOUBLE), p.doc_id)
          |      AS bucket
          |  FROM per p JOIN documents d USING (doc_id))
          |SELECT lang, bucket, count(*) AS n_docs,
          |  CAST(sum(n_tokens) AS BIGINT) AS tokens,
          |  round(CAST(sum(sum_bits) AS DOUBLE) / CAST(sum(n_tokens) AS DOUBLE), 6)
          |    AS bucket_avg_bits,
          |  min(doc_id) AS first_id
          |FROM wl GROUP BY lang, bucket ORDER BY lang, bucket""".stripMargin,

      // winnowing (k=3 grams, w=4 windows): per-window min of the
      // 60-bit gram hashes — ties share the hash, so the selected SET
      // needs no positional tie-break and both engines agree exactly;
      // docs with < w grams have no full window and select nothing
      "x15_winnow_pairs" ->
        """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          |g AS (SELECT doc_id, i AS pos,
          |    ('0x' || substr(md5(array_to_string(ws[i:i+2], ' ')), 1, 15))::BIGINT AS h
          |  FROM w, LATERAL (SELECT unnest(range(1, len(ws) - 1)) AS i)
          |  WHERE len(ws) >= 3),
          |sel AS (SELECT DISTINCT doc_id, fp FROM (
          |    SELECT doc_id,
          |      min(h) OVER (PARTITION BY doc_id ORDER BY pos
          |        ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp,
          |      count(*) OVER (PARTITION BY doc_id ORDER BY pos
          |        ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS nw
          |    FROM g) WHERE nw = 4)
          |SELECT id_a, id_b, n_shared FROM (
          |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
          |  FROM sel a JOIN sel b ON a.fp = b.fp AND a.doc_id < b.doc_id
          |  GROUP BY 1, 2)
          |WHERE n_shared >= 2 ORDER BY id_a, id_b""".stripMargin,

      "x5_top_bigrams" ->
        """SELECT lang, bigram, n, rank FROM (
          |  SELECT lang, bigram, n,
          |    row_number() OVER (PARTITION BY lang ORDER BY n DESC, bigram) AS rank
          |  FROM (SELECT lang, bigram, count(*) AS n FROM (
          |      SELECT lang, unnest(CASE WHEN len(w) < 2 THEN []::VARCHAR[]
          |        ELSE [w[i] || ' ' || w[i+1] for i in range(1, len(w))] END) AS bigram
          |      FROM (SELECT lang, string_split(text, ' ') AS w FROM documents))
          |    GROUP BY 1, 2))
          |WHERE rank <= 5 ORDER BY lang, rank""".stripMargin,

      "q10_returned_items" ->
        """SELECT c.c_custkey, c.c_name, r.revenue, c.c_acctbal, n.n_name
          |FROM (
          |  SELECT o.o_custkey,
          |    CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
          |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
          |  WHERE l.l_returnflag = 'R'
          |    AND o.o_orderdate >= TIMESTAMP '1997-10-01 00:00:00'
          |    AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
          |  GROUP BY 1) r
          |JOIN customer c ON r.o_custkey = c.c_custkey
          |JOIN nation n ON c.c_nationkey = n.n_nationkey
          |ORDER BY r.revenue DESC, c.c_custkey LIMIT 20""".stripMargin,

      "q1_pricing_summary" ->
        """SELECT l_returnflag, l_linestatus, sum_qty, sum_base_price, sum_disc_price,
          |  sum_charge, count_order,
          |  round(sum_qty / count_order, 6) AS avg_qty,
          |  round(sum_base_price / count_order, 6) AS avg_price
          |FROM (SELECT l_returnflag, l_linestatus,
          |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
          |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
          |    CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
          |    CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
          |    count(*) AS count_order
          |  FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
          |  GROUP BY 1, 2)
          |ORDER BY l_returnflag, l_linestatus""".stripMargin,

      "q3_shipping_priority" ->
        """SELECT l.l_orderkey, strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
          |  o.o_orderpriority,
          |  CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
          |FROM lineitem l
          |JOIN orders o ON l.l_orderkey = o.o_orderkey
          |JOIN customer c ON o.o_custkey = c.c_custkey
          |WHERE c.c_mktsegment = 'BUILDING'
          |  AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
          |  AND l.l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
          |GROUP BY 1, 2, 3
          |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

      "q5_local_supplier" ->
        """SELECT n.n_name,
          |  CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
          |FROM lineitem l
          |JOIN orders o ON l.l_orderkey = o.o_orderkey
          |JOIN customer c ON o.o_custkey = c.c_custkey
          |JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
          |JOIN nation n ON s.s_nationkey = n.n_nationkey
          |JOIN region r ON n.n_regionkey = r.r_regionkey
          |WHERE r.r_name = 'ASIA'
          |  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          |  AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
          |GROUP BY 1 ORDER BY revenue DESC, n_name""".stripMargin,

      "q18_large_orders" ->
        """SELECT c.c_name, o.o_orderkey, strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
          |  o.o_totalprice, b.sum_qty
          |FROM (SELECT l_orderkey,
          |        CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
          |      FROM lineitem GROUP BY 1) b
          |JOIN orders o ON b.l_orderkey = o.o_orderkey
          |JOIN customer c ON o.o_custkey = c.c_custkey
          |WHERE b.sum_qty > 250
          |ORDER BY o.o_totalprice DESC, o.o_orderkey LIMIT 100""".stripMargin,

      "q7_volume_shipping" ->
        """SELECT s.supp_nation, s.cust_nation, s.l_year,
          |  CAST(sum(s.vol) AS DOUBLE) AS volume
          |FROM (
          |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
          |    CAST(year(l.l_shipdate) AS INT) AS l_year,
          |    CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(18,6)) AS vol
          |  FROM lineitem l
          |  JOIN orders o ON l.l_orderkey = o.o_orderkey
          |  JOIN customer cu ON o.o_custkey = cu.c_custkey
          |  JOIN supplier su ON l.l_suppkey = su.s_suppkey
          |  JOIN nation n1 ON su.s_nationkey = n1.n_nationkey
          |  JOIN nation n2 ON cu.c_nationkey = n2.n_nationkey
          |  WHERE (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_7')
          |     OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_2')) s
          |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

      "q14_promo_revenue" ->
        """SELECT round(100.0 * promo / total, 6) AS promo_revenue FROM (
          |  SELECT
          |    CAST(sum(CASE WHEN p.p_type = 'PROMO'
          |      THEN CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(18,6))
          |      ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) AS promo,
          |    CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS total
          |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
          |  WHERE l.l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
          |    AND l.l_shipdate < TIMESTAMP '1997-10-01 00:00:00')""".stripMargin,

      "q6_revenue_delta" ->
        """SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) AS DOUBLE) AS revenue
          |FROM lineitem
          |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
          |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,

      "q4_priority_late" ->
        """SELECT o_orderpriority, count(*) AS n_orders
          |FROM orders o
          |WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          |  AND o.o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
          |  AND EXISTS (SELECT 1 FROM lineitem l
          |    WHERE l.l_orderkey = o.o_orderkey
          |      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
          |GROUP BY 1 ORDER BY 1""".stripMargin,

      "q8_market_share" ->
        """SELECT o_year, round(nation_rev / total_rev, 6) AS mkt_share FROM (
          |  SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
          |    CAST(sum(CASE WHEN n1.n_name = 'NATION_2'
          |      THEN CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(18,6))
          |      ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) AS nation_rev,
          |    CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS total_rev
          |  FROM lineitem l
          |  JOIN part p ON l.l_partkey = p.p_partkey AND p.p_type = 'ECONOMY'
          |  JOIN orders o ON l.l_orderkey = o.o_orderkey
          |  JOIN customer c ON o.o_custkey = c.c_custkey
          |  JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
          |  JOIN region r ON n2.n_regionkey = r.r_regionkey AND r.r_name = 'ASIA'
          |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
          |  JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
          |  WHERE o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
          |    AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
          |  GROUP BY 1)
          |ORDER BY o_year""".stripMargin,

      "q9_product_profit" ->
        """SELECT n.n_name AS nation, CAST(year(l.l_shipdate) AS INT) AS o_year,
          |  CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount)
          |    - 0.6 * p.p_retailprice * l.l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_profit
          |FROM lineitem l
          |JOIN part p ON l.l_partkey = p.p_partkey AND p.p_name LIKE '%red%'
          |JOIN supplier s ON l.l_suppkey = s.s_suppkey
          |JOIN nation n ON s.s_nationkey = n.n_nationkey
          |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin,

      "q13_cust_orders_hist" ->
        """SELECT c_count, count(*) AS custdist FROM (
          |  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
          |  FROM customer c LEFT JOIN orders o
          |    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '4-NOT SPECIFIED'
          |  GROUP BY 1)
          |GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin,

      "q15_top_supplier" ->
        """WITH rev AS (SELECT l_suppkey,
          |    CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS total_revenue
          |  FROM lineitem
          |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
          |  GROUP BY 1)
          |SELECT s.s_suppkey, s.s_name, rev.total_revenue
          |FROM rev JOIN supplier s ON rev.l_suppkey = s.s_suppkey
          |WHERE rev.total_revenue = (SELECT max(total_revenue) FROM rev)
          |ORDER BY s_suppkey""".stripMargin,

      "q16_part_supplier_cnt" ->
        """SELECT p.p_brand, p.p_type, p.p_size, count(DISTINCT l.l_suppkey) AS supplier_cnt
          |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
          |WHERE p.p_brand <> 'Brand#5' AND p.p_size IN (1, 5, 9, 14, 19, 23, 36, 45)
          |GROUP BY 1, 2, 3
          |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,

      "q17_small_qty_rev" ->
        """SELECT round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0, 6) AS avg_yearly
          |FROM lineitem l
          |JOIN part p ON p.p_partkey = l.l_partkey AND p.p_brand = 'Brand#3'
          |JOIN (SELECT l_partkey,
          |        CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty
          |      FROM lineitem GROUP BY 1) a
          |  ON a.l_partkey = l.l_partkey
          |WHERE l.l_quantity < 0.5 * a.avg_qty""".stripMargin,

      "q19_disc_revenue_or" ->
        """SELECT CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
          |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
          |WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5 AND l.l_quantity BETWEEN 1 AND 11)
          |   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10 AND l.l_quantity BETWEEN 10 AND 20)
          |   OR (p.p_brand = 'Brand#15' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 20 AND 30)""".stripMargin,

      "q20_qty_suppliers" ->
        """SELECT s.s_suppkey, s.s_name, n.n_name
          |FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
          |WHERE s.s_suppkey IN (
          |  WITH perPair AS (
          |    SELECT l.l_suppkey, l.l_partkey,
          |      CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
          |    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
          |    WHERE p.p_name LIKE 'blue%'
          |      AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          |      AND l.l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
          |    GROUP BY 1, 2),
          |  thr AS (SELECT CAST(sum(CAST(qty AS DECIMAL(18,2))) AS DOUBLE) / count(*) * 2.0 AS thr
          |    FROM perPair)
          |  SELECT perPair.l_suppkey FROM perPair, thr WHERE perPair.qty > thr.thr)
          |ORDER BY s_suppkey""".stripMargin,

      // supply cost = best per-unit price ever quoted (an exact MIN
      // selection, no sum → the double equality with the per-part min
      // is engine-stable)
      "q2_min_cost_supp" ->
        """WITH p AS (SELECT p_partkey, p_type FROM part
          |  WHERE p_size <= 15 AND p_type = 'STANDARD'),
          |cost AS (
          |  SELECT l.l_suppkey, l.l_partkey, p.p_type,
          |    min(l.l_extendedprice / l.l_quantity) AS supply_cost
          |  FROM lineitem l JOIN p ON l.l_partkey = p.p_partkey
          |  WHERE l.l_quantity > 0
          |  GROUP BY 1, 2, 3),
          |mc AS (SELECT l_partkey, min(supply_cost) AS min_cost FROM cost GROUP BY 1)
          |SELECT s.s_acctbal, s.s_name, n.n_name,
          |  cost.l_partkey AS p_partkey, cost.p_type, cost.supply_cost
          |FROM cost
          |JOIN mc ON cost.l_partkey = mc.l_partkey AND cost.supply_cost = mc.min_cost
          |JOIN supplier s ON cost.l_suppkey = s.s_suppkey
          |JOIN nation n ON s.s_nationkey = n.n_nationkey
          |JOIN region r ON n.n_regionkey = r.r_regionkey AND r.r_name = 'EUROPE'
          |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
          |LIMIT 100""".stripMargin,

      "q11_important_stock" ->
        """WITH su AS (
          |  SELECT s.s_suppkey FROM supplier s
          |  JOIN nation n ON s.s_nationkey = n.n_nationkey
          |  WHERE n.n_name = 'NATION_7'),
          |pp AS (
          |  SELECT l_partkey, sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS value_dec
          |  FROM lineitem
          |  WHERE l_suppkey IN (SELECT s_suppkey FROM su)
          |  GROUP BY 1)
          |SELECT l_partkey AS p_partkey, CAST(value_dec AS DOUBLE) AS value
          |FROM pp
          |WHERE CAST(value_dec AS DOUBLE) >
          |  (SELECT CAST(sum(value_dec) AS DOUBLE) * 0.001 FROM pp)
          |ORDER BY value DESC, p_partkey""".stripMargin,

      "q12_ship_priority" ->
        """SELECT CASE
          |    WHEN date_diff('day', CAST(o.o_orderdate AS DATE), CAST(l.l_shipdate AS DATE)) <= 30 THEN '1-FAST'
          |    WHEN date_diff('day', CAST(o.o_orderdate AS DATE), CAST(l.l_shipdate AS DATE)) <= 60 THEN '2-MEDIUM'
          |    ELSE '3-SLOW' END AS ship_bucket,
          |  CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
          |  CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
          |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
          |WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          |  AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
          |GROUP BY 1 ORDER BY 1""".stripMargin,

      "q21_returned_sole" ->
        """WITH f AS (
          |  SELECT l.l_orderkey, l.l_suppkey,
          |    max(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS ret
          |  FROM lineitem l
          |  JOIN orders o ON o.o_orderkey = l.l_orderkey AND o.o_orderstatus = 'F'
          |  GROUP BY 1, 2),
          |po AS (SELECT l_orderkey, count(*) AS n_supp, sum(ret) AS n_ret FROM f GROUP BY 1)
          |SELECT s.s_name, count(*) AS numwait
          |FROM f JOIN po ON f.l_orderkey = po.l_orderkey
          |JOIN supplier s ON f.l_suppkey = s.s_suppkey
          |WHERE f.ret = 1 AND po.n_supp >= 2 AND po.n_ret = 1
          |GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin,

      "q22_idle_customers" ->
        """WITH cu AS (SELECT c_custkey, c_nationkey, c_acctbal FROM customer
          |  WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)),
          |ab AS (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_bal
          |  FROM cu WHERE c_acctbal > 0)
          |SELECT cu.c_nationkey, count(*) AS numcust,
          |  CAST(sum(CAST(cu.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
          |FROM cu, ab
          |WHERE cu.c_acctbal > ab.avg_bal
          |  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = cu.c_custkey
          |    AND o.o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
          |GROUP BY 1 ORDER BY 1""".stripMargin,

      // doc_ids is the BOUNDED sample of the 100 smallest member ids
      // (string_agg skips the NULLed rows past rank 100); n_docs stays
      // the exact group size — mirrors Dedup.exact(sampleK = 100)
      "d1_exact_dedup" ->
        """WITH r AS (SELECT doc_id, md5(text) AS content_hash,
          |    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
          |  FROM documents)
          |SELECT content_hash, min(doc_id) AS canonical_id,
          |  count(*) AS n_docs,
          |  string_agg(CASE WHEN rn <= 100 THEN CAST(doc_id AS VARCHAR) END,
          |             ',' ORDER BY doc_id) AS doc_ids
          |FROM r GROUP BY 1 ORDER BY canonical_id""".stripMargin,

      // d1's window-min canonical over the md5 partition; all-integer
      // token sums; the all-duplicate guard mirrors the Spark `when`
      "d12_dup_inflation" ->
        """WITH b AS (SELECT doc_id, source, md5(text) AS fp,
          |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
          |  FROM documents),
          |c AS (SELECT *, min(doc_id) OVER (PARTITION BY fp) AS canonical FROM b)
          |SELECT source, count(*) AS n_docs,
          |  CAST(sum(CASE WHEN doc_id <> canonical THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_dup_docs,
          |  CAST(sum(toks) AS BIGINT) AS tokens_total,
          |  CAST(sum(CASE WHEN doc_id <> canonical THEN toks ELSE 0 END) AS BIGINT)
          |    AS tokens_dup,
          |  CASE WHEN CAST(sum(toks) AS BIGINT)
          |      > CAST(sum(CASE WHEN doc_id <> canonical THEN toks ELSE 0 END) AS BIGINT)
          |    THEN round(CAST(sum(toks) AS DOUBLE)
          |      / CAST(sum(toks) - sum(CASE WHEN doc_id <> canonical THEN toks ELSE 0 END)
          |             AS DOUBLE), 6)
          |  END AS inflation
          |FROM c GROUP BY source ORDER BY source""".stripMargin,

      "d2_minhash_lsh" ->
        s"""WITH $minhashCtes
           |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           |FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
           |  AND a.doc_id < b.doc_id
           |ORDER BY id_a, id_b""".stripMargin,

      // connected components over the d2 candidate graph: transitive
      // closure via a recursive CTE, component label = min reachable id
      // (ccCtes is shared with d7's survivorship reduction)
      "d6_dup_clusters" ->
        s"""WITH RECURSIVE $ccCtes
           |SELECT doc_id, cluster_id FROM cl ORDER BY doc_id""".stripMargin,

      // semantic clusters over the scaled embedding near-dup graph:
      // transitive closure, min-id label, exact size + the BOUNDED
      // 10-smallest member sample (NULLed past rank 10, mirrored by
      // string_agg's null-skipping — the d1/t6 treatment). The cluster
      // threshold is 0.4 (vs d5's 0.25 pair report): transitive
      // chaining welds components, so the edge bar must sit above the
      // random-cosine noise band, not at the exploratory pair threshold
      "d8_semantic_dedup" ->
        s"""WITH RECURSIVE $cellCtes,
          |prs AS (SELECT id_a, id_b FROM cpr WHERE cos >= 0.4),
          |ed AS (SELECT id_a, id_b FROM prs UNION ALL SELECT id_b, id_a FROM prs),
          |reach(s, t) AS (
          |  SELECT id_a, id_b FROM ed
          |  UNION
          |  SELECT r.s, e2.id_b FROM reach r JOIN ed e2 ON r.t = e2.id_a),
          |cl AS (SELECT e.vec_id,
          |    least(e.vec_id, coalesce(mr.mn, e.vec_id)) AS cluster_id
          |  FROM embeddings e
          |  LEFT JOIN (SELECT s, min(t) AS mn FROM reach GROUP BY s) mr
          |    ON mr.s = e.vec_id),
          |r AS (SELECT vec_id, cluster_id,
          |    row_number() OVER (PARTITION BY cluster_id ORDER BY vec_id) AS rn
          |  FROM cl)
          |SELECT cluster_id, count(*) AS n_members,
          |  string_agg(CASE WHEN rn <= 10 THEN CAST(vec_id AS VARCHAR) END,
          |             ',' ORDER BY vec_id) AS member_ids
          |FROM r GROUP BY 1 ORDER BY cluster_id""".stripMargin,

      // survivorship: longest-text doc per cluster (ties -> min id),
      // member/char totals and the chars saved by dropping the rest
      "d7_dedup_survivors" ->
        s"""WITH RECURSIVE $ccCtes,
           |j AS (SELECT cl.cluster_id, cl.doc_id, d.n_chars
           |  FROM cl JOIN documents d USING (doc_id)),
           |r AS (SELECT *, row_number() OVER (PARTITION BY cluster_id
           |        ORDER BY n_chars DESC, doc_id) AS rn FROM j)
           |SELECT cluster_id,
           |  min(CASE WHEN rn = 1 THEN doc_id END) AS survivor_id,
           |  count(*) AS n_members,
           |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
           |  CAST(sum(n_chars) - max(n_chars) AS BIGINT) AS saved_chars
           |FROM r GROUP BY 1 ORDER BY cluster_id""".stripMargin,

      "d4_ngram_jaccard" ->
        """WITH w AS (SELECT doc_id, text, string_split(text, ' ') AS words FROM documents),
          |sh AS (SELECT doc_id, list_distinct(
          |    CASE WHEN len(words) < 3 THEN [text]
          |         ELSE [array_to_string(words[i:i+2], ' ')
          |               for i in range(1, len(words) - 1)] END) AS shingles
          |  FROM w),
          |e AS (SELECT doc_id, len(shingles) AS n_sh,
          |    ('0x' || substr(md5(unnest(shingles)), 1, 15))::BIGINT AS shingle FROM sh)
          |SELECT id_a, id_b, shared, jaccard FROM (
          |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared,
          |    round(count(*)::DOUBLE / (a.n_sh + b.n_sh - count(*)), 6) AS jaccard
          |  FROM e a JOIN e b USING (shingle)
          |  WHERE a.doc_id < b.doc_id
          |    AND least(a.n_sh, b.n_sh) >= 0.12 * greatest(a.n_sh, b.n_sh)
          |  GROUP BY a.doc_id, b.doc_id, a.n_sh, b.n_sh)
          |WHERE jaccard >= 0.12 ORDER BY id_a, id_b""".stripMargin,

      "d5_embedding_neardup" ->
        s"""WITH $cellCtes
           |SELECT cell, id_a, id_b, cos FROM cpr
           |WHERE cos >= 0.25 ORDER BY id_a, id_b""".stripMargin,

      // cross-source dup matrix over the d6 cluster labels: distinct
      // (cluster, source) then the unordered source-pair count
      "d10_source_overlap" ->
        s"""WITH RECURSIVE $ccCtes,
           |cs AS (SELECT DISTINCT cl.cluster_id, d.source
           |  FROM cl JOIN documents d USING (doc_id))
           |SELECT a.source AS source_a, b.source AS source_b,
           |  count(*) AS n_clusters
           |FROM cs a JOIN cs b ON a.cluster_id = b.cluster_id
           |  AND a.source < b.source
           |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

      // LSH recall bands: d2's banding CTE (cand) scored against d4's
      // exact-Jaccard truth (tr), per 6-dp-rounded similarity band;
      // j_band = -1 is the candidate-precision row
      "d11_lsh_recall" ->
        s"""WITH $minhashCtes,
           |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM bands a JOIN bands b ON a.band = b.band
           |    AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
           |w2 AS (SELECT doc_id, text, string_split(text, ' ') AS words FROM documents),
           |sh2 AS (SELECT doc_id, list_distinct(
           |    CASE WHEN len(words) < 3 THEN [text]
           |         ELSE [array_to_string(words[i:i+2], ' ')
           |               for i in range(1, len(words) - 1)] END) AS shingles
           |  FROM w2),
           |e2 AS (SELECT doc_id, len(shingles) AS n_sh,
           |    ('0x' || substr(md5(unnest(shingles)), 1, 15))::BIGINT AS shingle FROM sh2),
           |tr AS (SELECT id_a, id_b, jaccard FROM (
           |    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared,
           |      round(count(*)::DOUBLE / (a.n_sh + b.n_sh - count(*)), 6) AS jaccard
           |    FROM e2 a JOIN e2 b USING (shingle)
           |    WHERE a.doc_id < b.doc_id
           |      AND least(a.n_sh, b.n_sh) >= 0.12 * greatest(a.n_sh, b.n_sh)
           |    GROUP BY a.doc_id, b.doc_id, a.n_sh, b.n_sh)
           |  WHERE jaccard >= 0.12),
           |bnd AS (SELECT CASE WHEN jaccard < 0.25 THEN 0
           |    WHEN jaccard < 0.5 THEN 1 WHEN jaccard < 0.75 THEN 2
           |    ELSE 3 END AS j_band,
           |    count(*) AS n_truth,
           |    CAST(sum(CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
           |  FROM tr LEFT JOIN cand c ON tr.id_a = c.id_a AND tr.id_b = c.id_b
           |  GROUP BY 1),
           |prec AS (SELECT -1 AS j_band, count(*) AS n_truth,
           |    CAST(sum(CASE WHEN t.id_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
           |  FROM cand c LEFT JOIN tr t ON c.id_a = t.id_a AND c.id_b = t.id_b)
           |SELECT j_band, n_truth, n_hit,
           |  round(CAST(n_hit AS DOUBLE) / n_truth, 6) AS recall
           |FROM (SELECT * FROM bnd UNION ALL SELECT * FROM prec)
           |ORDER BY j_band""".stripMargin,

      // the composed curation pipeline: the full chain replayed —
      // exact-dedup canon, CC survivors (ccCtes), x2 quality + x13
      // blocklist density, x8 contamination vs the %20 bench set,
      // x12 mixture quotas over the CLEANED pool, x7 packing of the
      // final kept set — reduced to the per-source funnel
      "p1_curation_pipeline" ->
        s"""WITH RECURSIVE $ccCtes,
           |d0 AS (SELECT doc_id, source, text, n_chars FROM documents),
           |ex AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS canon FROM d0),
           |surv AS (SELECT doc_id FROM (
           |    SELECT cl.doc_id, row_number() OVER (PARTITION BY cl.cluster_id
           |      ORDER BY d.n_chars DESC, cl.doc_id) AS rn
           |    FROM cl JOIN d0 d USING (doc_id)) WHERE rn = 1),
           |q3 AS (SELECT doc_id,
           |    round(0.4 * least(n_distinct::DOUBLE / n_words * 2.0, 1.0)
           |        + 0.3 * least(stop_hits::DOUBLE / n_words * 5.0, 1.0)
           |        + 0.3 * least((n_chars::DOUBLE / n_words) / 8.0, 1.0), 6) >= 0.5
           |      AS f_qual,
           |    block_hits * 20 <= n_words AS f_block
           |  FROM (SELECT doc_id, n_chars, len(words) AS n_words,
           |      len(list_distinct(words)) AS n_distinct,
           |      len(list_filter(words, w -> w IN (${Stopwords.map("'" + _ + "'").mkString(", ")}))) AS stop_hits,
           |      len(list_filter(words, w -> w IN (${BlockWords.map("'" + _ + "'").mkString(", ")}))) AS block_hits
           |    FROM (SELECT doc_id, n_chars, string_split(text, ' ') AS words FROM d0))),
           |wsh AS (SELECT doc_id, text, string_split(text, ' ') AS words FROM d0),
           |shl AS (SELECT doc_id, list_distinct(
           |    CASE WHEN len(words) < 3 THEN [text]
           |         ELSE [array_to_string(words[i:i+2], ' ')
           |               for i in range(1, len(words) - 1)] END) AS shingles FROM wsh),
           |shp AS (SELECT doc_id, ('0x' || substr(md5(unnest(shingles)), 1, 15))::BIGINT AS shingle FROM shl),
           |cont AS (SELECT DISTINCT doc_id FROM (
           |    SELECT c.doc_id FROM
           |      (SELECT doc_id, shingle FROM shp WHERE doc_id % 20 <> 0) c
           |    JOIN (SELECT doc_id AS bench_id, shingle FROM shp WHERE doc_id % 20 = 0) b
           |      USING (shingle)
           |    GROUP BY c.doc_id, b.bench_id HAVING count(*) >= 3)),
           |flags AS (SELECT d0.doc_id, d0.source,
           |    coalesce(d0.doc_id = ex.canon, FALSE) AS f_exact,
           |    s.doc_id IS NOT NULL AS f_surv,
           |    q3.f_qual AND q3.f_block AS f_qb,
           |    (d0.doc_id % 20 <> 0 AND ct.doc_id IS NULL) AS f_decon
           |  FROM d0 JOIN ex USING (doc_id)
           |  LEFT JOIN surv s ON s.doc_id = d0.doc_id
           |  JOIN q3 USING (doc_id)
           |  LEFT JOIN cont ct ON ct.doc_id = d0.doc_id),
           |k4 AS (SELECT f.doc_id, f.source, d0.text FROM flags f
           |  JOIN d0 USING (doc_id) WHERE f_surv AND f_qb AND f_decon),
           |db AS (SELECT source, doc_id,
           |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10000 AS bucket
           |  FROM k4),
           |ps AS (SELECT source, count(*) AS available FROM db GROUP BY source),
           |tot AS (SELECT CAST(sum(available) AS BIGINT) AS corpus_total FROM ps),
           |qs AS (SELECT source,
           |    CAST(floor(least(available, CAST(floor(corpus_total * 3 / 200.0) AS BIGINT))
           |      * 10000 / CAST(available AS DOUBLE)) AS BIGINT) AS bucket_threshold
           |  FROM ps CROSS JOIN tot),
           |k5 AS (SELECT k4.doc_id, k4.text FROM k4
           |  JOIN db USING (doc_id)
           |  JOIN qs ON qs.source = k4.source
           |  WHERE db.bucket < qs.bucket_threshold),
           |pt AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
           |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 8 AS shard
           |  FROM k5),
           |pk AS (SELECT doc_id, toks,
           |    shard * 1000000 + CAST(floor(CAST(coalesce(sum(toks) OVER (
           |      PARTITION BY shard ORDER BY doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           |      / 512.0) AS BIGINT) AS binkey
           |  FROM pt)
           |SELECT f.source, count(*) AS n_docs,
           |  CAST(sum(CASE WHEN f_exact THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
           |  CAST(sum(CASE WHEN f_surv THEN 1 ELSE 0 END) AS BIGINT) AS n_surv,
           |  CAST(sum(CASE WHEN f_surv AND f_qb THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
           |  CAST(sum(CASE WHEN f_surv AND f_qb AND f_decon THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_decontam,
           |  CAST(sum(CASE WHEN pk.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_sampled,
           |  CAST(sum(CASE WHEN pk.doc_id IS NOT NULL THEN pk.toks ELSE 0 END) AS BIGINT)
           |    AS kept_tokens,
           |  count(DISTINCT pk.binkey) AS n_bins,
           |  min(CASE WHEN pk.doc_id IS NOT NULL THEN f.doc_id END) AS first_kept
           |FROM flags f LEFT JOIN pk ON pk.doc_id = f.doc_id
           |GROUP BY f.source ORDER BY f.source""".stripMargin,

      // epoch-capped repeat plan: exact ceiling division toward the
      // largest source, cap 4 (Muennighoff 2023); one rounded share
      "p2_mix_epochs" ->
        """WITH per AS (SELECT source, count(*) AS n_docs,
          |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
          |  FROM documents GROUP BY 1),
          |e AS (SELECT source, n_docs, tokens,
          |    CAST(least(4, ((SELECT max(tokens) FROM per) + tokens - 1) // tokens)
          |      AS BIGINT) AS epochs
          |  FROM per),
          |f AS (SELECT source, n_docs, tokens, epochs,
          |    CAST(tokens * epochs AS BIGINT) AS effective_tokens FROM e)
          |SELECT source, n_docs, tokens, epochs, effective_tokens,
          |  round(CAST(effective_tokens AS DOUBLE) /
          |    CAST((SELECT sum(effective_tokens) FROM f) AS DOUBLE), 6) AS share
          |FROM f ORDER BY source""".stripMargin,

      // first-seen novelty: n_copied = n_sh - (shingles first owned),
      // first ownership from the per-shingle min(doc_id) — mirrors
      // Pipeline.noveltyProfileFrom's vocabulary-only derivation
      "x19_novelty" ->
        """WITH w AS (SELECT doc_id, text, string_split(text, ' ') AS words FROM documents),
          |sh AS (SELECT doc_id, list_distinct(
          |    CASE WHEN len(words) < 3 THEN [text]
          |         ELSE [array_to_string(words[i:i+2], ' ')
          |               for i in range(1, len(words) - 1)] END) AS shingles
          |  FROM w),
          |e AS (SELECT doc_id, len(shingles) AS n_sh,
          |    ('0x' || substr(md5(unnest(shingles)), 1, 15))::BIGINT AS shingle FROM sh),
          |f AS (SELECT shingle, min(doc_id) AS first_doc FROM e GROUP BY 1),
          |fo AS (SELECT first_doc AS doc_id, count(*) AS n_first FROM f GROUP BY 1),
          |ns AS (SELECT doc_id, max(n_sh) AS n_sh FROM e GROUP BY 1)
          |SELECT ns.doc_id, ns.n_sh,
          |  ns.n_sh - coalesce(fo.n_first, 0) AS n_copied,
          |  round((ns.n_sh - coalesce(fo.n_first, 0))::DOUBLE / ns.n_sh, 6)
          |    AS copied_frac
          |FROM ns LEFT JOIN fo USING (doc_id) ORDER BY doc_id""".stripMargin,

      // word-5-gram duplicated-span coverage; DuckDB positions are
      // 1-based vs Spark's 0-based array index — span LENGTHS and the
      // interval-union islands are shift-invariant, so outputs agree
      "d9_span_dedup" ->
        """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          |oc AS (SELECT doc_id, unnest(range(1, len(ws) - 3)) AS p, ws
          |  FROM w WHERE len(ws) >= 5),
          |og AS (SELECT doc_id, p,
          |    ('0x' || substr(md5(array_to_string(ws[p:p+4], ' ')), 1, 15))::BIGINT AS g
          |  FROM oc),
          |dup AS (SELECT g FROM og GROUP BY g HAVING count(*) > 1),
          |sp AS (SELECT doc_id, p AS s, p + 4 AS e FROM og JOIN dup USING (g)),
          |ni AS (SELECT doc_id, s, e,
          |    CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY s
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
          |    THEN 1 ELSE 0 END AS ni
          |  FROM sp),
          |isl AS (SELECT doc_id, s, e,
          |    sum(ni) OVER (PARTITION BY doc_id ORDER BY s) AS island FROM ni),
          |agg AS (SELECT doc_id, island, max(e) - min(s) + 1 AS len
          |  FROM isl GROUP BY doc_id, island),
          |per AS (SELECT doc_id, CAST(sum(len) AS BIGINT) AS dup_tokens,
          |    count(*) AS n_spans FROM agg GROUP BY doc_id)
          |SELECT d.doc_id, len(string_split(d.text, ' ')) AS n_tokens,
          |  coalesce(p.dup_tokens, 0) AS dup_tokens,
          |  coalesce(p.n_spans, 0) AS n_spans,
          |  round(coalesce(p.dup_tokens, 0)
          |    / CAST(len(string_split(d.text, ' ')) AS DOUBLE), 6) AS dup_frac
          |FROM documents d LEFT JOIN per p USING (doc_id)
          |ORDER BY d.doc_id""".stripMargin,

      "a1_knn_brute" ->
        """SELECT query_id, nn_id, cos, rank FROM (
          |  SELECT query_id, nn_id, cos,
          |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nn_id) AS rank
          |  FROM (
          |    SELECT q.vec_id AS query_id, c.vec_id AS nn_id,
          |      round(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
          |        / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))
          |         * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))), 6) AS cos
          |    FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
          |    WHERE q.vec_id IN (0, 1, 2, 3, 4)))
          |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

      // a1 with the label predicate as a JOIN condition (pre-filtered
      // search — the filtered twin ranks only same-label candidates)
      "a16_filtered_knn" ->
        """SELECT query_id, label, nn_id, cos, rank FROM (
          |  SELECT query_id, label, nn_id, cos,
          |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nn_id) AS rank
          |  FROM (
          |    SELECT q.vec_id AS query_id, q.label AS label, c.vec_id AS nn_id,
          |      round(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
          |        / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))
          |         * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))), 6) AS cos
          |    FROM embeddings q JOIN embeddings c
          |      ON c.vec_id <> q.vec_id AND c.label = q.label
          |    WHERE q.vec_id IN (0, 1, 2, 3, 4)))
          |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

      "a3_ivf_coarse" ->
        s"""WITH $cellCtes,
           |cells AS (SELECT vec_id, cell FROM pcell WHERE is_primary)
           |SELECT query_id, nn_id, cos, rank FROM (
           |  SELECT query_id, nn_id, cos,
           |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nn_id) AS rank
           |  FROM (
           |    SELECT q.vec_id AS query_id, c.vec_id AS nn_id,
           |      ${cosSql("q.embedding", "c.embedding")} AS cos
           |    FROM embeddings q
           |    JOIN cells cq ON cq.vec_id = q.vec_id
           |    JOIN cells cn ON cn.cell = cq.cell
           |    JOIN embeddings c ON c.vec_id = cn.vec_id AND c.vec_id <> q.vec_id
           |    WHERE q.vec_id IN (0, 1, 2, 3, 4)))
           |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

      // centroid components are DECIMAL-exact means (order-independent,
      // so both engines get bit-identical centroids) over the SHARED
      // corpus-proportional coarse cells; the coarse stage is the
      // 2-stage HIERARCHICAL probe — rank the k1 level-0 GROUP
      // centroids (decimal-exact means of each group's cell
      // centroids), keep the top ⌈0.449·k1⌉+1 groups, rank ONLY those
      // groups' cells, keep the recall-targeted ⌈0.449·cells⌉
      // (Ann.recommendedNprobe / recommendedGroupProbe — SAME integer
      // arithmetic both engines) by rounded cosine (ties by id at
      // both stages), exact rerank within the probed cells
      "a4_ivf_nprobe" ->
        s"""WITH $a4ProbeCtes
          |${a4TopkSelect()} ORDER BY query_id, rank""".stripMargin,

      // recall@10 of the a4 hierarchical probe vs the exact brute-force
      // truth — the probe leg is a4's EXACT CTE chain (shared text), the
      // truth leg is a1's construction
      "a12_ivf_recall" ->
        s"""WITH $a4ProbeCtes,
          |approx AS (${a4TopkSelect()}),
          |$bruteTruthCte
          |$recallSelect""".stripMargin,

      // a12 unrolled to the k ∈ {1,5,10} operating curve: truth keeps
      // its rank (trc), hits require BOTH ranks ≤ k; NULL probe ranks
      // fall to the CASE's ELSE 0 on both engines
      "a17_recall_curve" ->
        s"""WITH $a4ProbeCtes,
          |approx AS (${a4TopkSelect()}),
          |trc AS (SELECT query_id, nn_id, rank AS tr FROM (
          |    SELECT q.vec_id AS query_id, c.vec_id AS nn_id,
          |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
          |        ${cosSql("q.embedding", "c.embedding")} DESC, c.vec_id) AS rank
          |    FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
          |    WHERE q.vec_id IN (0, 1, 2, 3, 4))
          |  WHERE rank <= 10),
          |j AS (SELECT t.query_id, t.tr, a.rank AS ar FROM trc t
          |  LEFT JOIN approx a ON a.query_id = t.query_id AND a.nn_id = t.nn_id),
          |ks AS (SELECT unnest([1, 5, 10]) AS k)
          |SELECT k, count(DISTINCT query_id) AS n_queries,
          |  CAST(sum(CASE WHEN ar <= k THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
          |  round(CAST(sum(CASE WHEN ar <= k THEN 1 ELSE 0 END) AS BIGINT)
          |    / CAST(count(DISTINCT query_id) * k AS DOUBLE), 6) AS recall_at_k
          |FROM j CROSS JOIN ks WHERE tr <= k GROUP BY k ORDER BY k""".stripMargin,

      // the SAME unrolled greedy as Ann.mmrDiversify: integer
      // micro-cosine objective mmr10 = λ₁₀·rel − (10−λ₁₀)·max-red,
      // chained CTE steps (pool/pairs once, then selectK−1 argmax
      // stages over the ≤poolK-row per-query pool); final mmr = exact
      // int / 1e7. All constants interpolated from the shared Mmr*
      // vals so the oracle cannot desynchronize from the Spark plan.
      "a18_mmr_diversify" -> {
        val lam = MmrLambdaTenths
        val oneMinusLam = 10 - MmrLambdaTenths
        val poolSql =
          s"""pool AS (SELECT query_id, nn_id, cos,
             |    CAST(round(cos * 1000000) AS BIGINT) AS rel
             |  FROM (SELECT query_id, nn_id, cos,
             |      row_number() OVER (PARTITION BY query_id
             |        ORDER BY cos DESC, nn_id) AS rk
             |    FROM (SELECT q.vec_id AS query_id, c.vec_id AS nn_id,
             |        ${cosSql("q.embedding", "c.embedding")} AS cos
             |      FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
             |      WHERE q.vec_id IN (${MmrQueryIds.mkString(", ")})))
             |  WHERE rk <= $MmrPoolK),
             |pairs AS (SELECT a.query_id, a.nn_id AS ai, b.nn_id AS bi,
             |    CAST(round(${cosSql("av.embedding", "bv.embedding")} * 1000000)
             |      AS BIGINT) AS pm
             |  FROM pool a JOIN pool b
             |    ON a.query_id = b.query_id AND a.nn_id <> b.nn_id
             |  JOIN embeddings av ON av.vec_id = a.nn_id
             |  JOIN embeddings bv ON bv.vec_id = b.nn_id)""".stripMargin
        def stepSql(i: Int): String = {
          val prev = (1 until i).map(j => s"SELECT query_id, nn_id FROM s$j")
            .mkString(" UNION ALL ")
          s"""ch$i AS ($prev),
             |s$i AS (SELECT query_id, $i AS pick_rank, nn_id, cos, rel, mmr10
             |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
             |      ORDER BY mmr10 DESC, rel DESC, nn_id) AS rn
             |    FROM (SELECT c.query_id, c.nn_id, c.cos, c.rel,
             |        $lam * c.rel - $oneMinusLam * r.red AS mmr10
             |      FROM pool c
             |      JOIN (SELECT p.query_id, p.ai AS nn_id, max(p.pm) AS red
             |          FROM pairs p JOIN ch$i s
             |            ON p.query_id = s.query_id AND p.bi = s.nn_id
             |          GROUP BY 1, 2) r
             |        ON r.query_id = c.query_id AND r.nn_id = c.nn_id
             |      WHERE NOT EXISTS (SELECT 1 FROM ch$i s
             |        WHERE s.query_id = c.query_id AND s.nn_id = c.nn_id)))
             |  WHERE rn = 1)""".stripMargin
        }
        s"""WITH $poolSql,
           |s1 AS (SELECT query_id, 1 AS pick_rank, nn_id, cos, rel,
           |    $lam * rel AS mmr10
           |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
           |      ORDER BY rel DESC, nn_id) AS rn FROM pool)
           |  WHERE rn = 1),
           |${(2 to MmrSelectK).map(stepSql).mkString(",\n")},
           |allp AS (${(1 to MmrSelectK).map(i => s"SELECT * FROM s$i")
              .mkString(" UNION ALL ")})
           |SELECT query_id, pick_rank, nn_id, cos,
           |  CAST(mmr10 AS DOUBLE) / 1e7 AS mmr
           |FROM allp ORDER BY query_id, pick_rank""".stripMargin
      },

      "a5_range_search" ->
        s"""SELECT query_id, nn_id, cos FROM (
           |  SELECT q.vec_id AS query_id, c.vec_id AS nn_id,
           |    ${cosSql("q.embedding", "c.embedding")} AS cos
           |  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
           |  WHERE q.vec_id IN (0, 1, 2, 3, 4))
           |WHERE cos >= 0.25 ORDER BY query_id, nn_id""".stripMargin,

      "a6_knn_classify" ->
        s"""WITH nn AS (
           |  SELECT query_id, nn_id FROM (
           |    SELECT query_id, nn_id,
           |      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nn_id) AS rank
           |    FROM (
           |      SELECT q.vec_id AS query_id, c.vec_id AS nn_id,
           |        ${cosSql("q.embedding", "c.embedding")} AS cos
           |      FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
           |      WHERE q.vec_id IN (0, 1, 2, 3, 4, 5, 6, 7, 8, 9)))
           |  WHERE rank <= 10),
           |v AS (SELECT nn.query_id, e.label AS nn_label, count(*) AS votes
           |  FROM nn JOIN embeddings e ON e.vec_id = nn.nn_id
           |  GROUP BY nn.query_id, e.label),
           |p AS (SELECT query_id, nn_label AS pred_label, votes FROM (
           |    SELECT *, row_number() OVER (PARTITION BY query_id
           |      ORDER BY votes DESC, nn_label) AS rn FROM v)
           |  WHERE rn = 1)
           |SELECT p.query_id, q.label AS true_label, p.pred_label,
           |  CAST(p.votes AS BIGINT) AS votes,
           |  CAST(p.pred_label = q.label AS INT) AS correct
           |FROM p JOIN embeddings q ON q.vec_id = p.query_id
           |ORDER BY p.query_id""".stripMargin,

      // Lloyd k-means, k=8, 2 decimal-exact centroid updates: seeds =
      // the 8 smallest ids; every assignment orders by the SAME 6-dp
      // rounded cosine (ties -> smaller cluster id) as the Spark side,
      // so the argmax — hence membership, centroids, and the final
      // report — is bit-identical cross-engine
      // PQ/ADC mirrored exactly: 1-based inclusive list slices per
      // subspace, integer micro-distances round(L2^2 * 1e6)::BIGINT so
      // argmin ties and the ADC sum are order-free integer arithmetic
      "a8_pq_adc" ->
        s"""WITH mm AS (SELECT unnest(range(8)) AS m),
           |cb AS (SELECT vec_id AS cid, m,
           |    CAST(embedding AS DOUBLE[])[m*8+1 : m*8+8] AS csub
           |  FROM embeddings, mm WHERE vec_id < 16),
           |cs AS (SELECT vec_id, m,
           |    CAST(embedding AS DOUBLE[])[m*8+1 : m*8+8] AS sub
           |  FROM embeddings, mm),
           |dm AS (SELECT c.vec_id, c.m, b.cid,
           |    CAST(round(list_sum([(c.sub[i]-b.csub[i])*(c.sub[i]-b.csub[i])
           |      for i in range(1, 9)]) * 1000000) AS BIGINT) AS dmicro
           |  FROM cs c JOIN cb b USING (m)),
           |enc AS (SELECT vec_id, m, cid AS code FROM (
           |    SELECT vec_id, m, cid,
           |      row_number() OVER (PARTITION BY vec_id, m ORDER BY dmicro, cid) AS rn
           |    FROM dm) WHERE rn = 1),
           |dt AS (SELECT vec_id AS query_id, m, cid, dmicro FROM dm
           |  WHERE vec_id IN (0, 1, 2, 3, 4)),
           |ad AS (SELECT dt.query_id, e.vec_id AS nn_id,
           |    sum(dt.dmicro)::BIGINT AS admicro
           |  FROM enc e JOIN dt ON dt.m = e.m AND dt.cid = e.code
           |  WHERE e.vec_id <> dt.query_id
           |  GROUP BY 1, 2),
           |rk AS (SELECT query_id, nn_id, admicro,
           |    row_number() OVER (PARTITION BY query_id ORDER BY admicro, nn_id) AS rank
           |  FROM ad)
           |SELECT rk.query_id, rk.nn_id, round(rk.admicro / 1000000.0, 6) AS adc_dist,
           |  ${cosSql("q.embedding", "c.embedding")} AS cos, rk.rank
           |FROM rk JOIN embeddings q ON q.vec_id = rk.query_id
           |JOIN embeddings c ON c.vec_id = rk.nn_id
           |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

      // index-health card over the same primary cell assignment:
      // integer occupancy stats, double division of exact ints, same
      // operand order as the Spark expressions
      "a10_index_stats" ->
        s"""WITH $cellCtes,
          |occ AS (SELECT cell, count(*) AS n FROM pcell
          |  WHERE is_primary GROUP BY 1)
          |SELECT CAST(sum(n) AS BIGINT) AS n_vectors,
          |  count(*) AS n_cells_occupied,
          |  (SELECT k1 * k2 FROM par) AS n_cells_total,
          |  (SELECT k1 * k2 FROM par) - count(*) AS n_cells_empty,
          |  min(n) AS min_occ, max(n) AS max_occ,
          |  round(CAST(sum(n) AS DOUBLE) / count(*), 6) AS avg_occ,
          |  round(CAST(max(n) AS DOUBLE) * count(*) / sum(n), 6) AS imbalance
          |FROM occ""".stripMargin,

      // hybrid RRF: the bm25 CTEs with query terms = the query docs'
      // own words (self excluded), the a1 cosine leg, both top-20,
      // fused as 1/(60+rank) sums — integer ranks in, one double add,
      // 6-dp display round; rank 0 = leg didn't retrieve the doc
      "a11_hybrid_rrf" ->
        s"""WITH ${bm25Ctes(
             "SELECT doc_id AS query_id, w FROM dw WHERE doc_id IN (0, 1, 2, 3, 4)")},
           |lex AS (SELECT query_id, doc_id, rank AS lex_rank FROM (
           |    SELECT query_id, doc_id, row_number() OVER (
           |      PARTITION BY query_id ORDER BY score_q6 DESC, doc_id) AS rank
           |    FROM bsc WHERE doc_id <> query_id)
           |  WHERE rank <= 20),
           |vsc AS (SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
           |    ${cosSql("q.embedding", "c.embedding")} AS cos
           |  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
           |  WHERE q.vec_id IN (0, 1, 2, 3, 4)),
           |vec AS (SELECT query_id, doc_id, rank AS vec_rank FROM (
           |    SELECT query_id, doc_id, row_number() OVER (
           |      PARTITION BY query_id ORDER BY cos DESC, doc_id) AS rank
           |    FROM vsc)
           |  WHERE rank <= 20),
           |fus AS (SELECT coalesce(l.query_id, v.query_id) AS query_id,
           |    coalesce(l.doc_id, v.doc_id) AS doc_id,
           |    round(coalesce(1.0 / (60 + l.lex_rank), 0.0)
           |        + coalesce(1.0 / (60 + v.vec_rank), 0.0), 6) AS rrf,
           |    coalesce(l.lex_rank, 0) AS lex_rank,
           |    coalesce(v.vec_rank, 0) AS vec_rank
           |  FROM lex l FULL OUTER JOIN vec v
           |    ON l.query_id = v.query_id AND l.doc_id = v.doc_id)
           |SELECT query_id, rank, doc_id, rrf, lex_rank, vec_rank FROM (
           |  SELECT query_id, doc_id, rrf, lex_rank, vec_rank,
           |    row_number() OVER (
           |      PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS rank
           |  FROM fus)
           |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

      // a11 with the dense leg from a4's EXACT probe CTE chain (shared
      // text — the bm25 and probe chains have disjoint CTE names), the
      // same fusion arithmetic
      "a13_hybrid_rrf_ivf" ->
        s"""WITH ${bm25Ctes(
             "SELECT doc_id AS query_id, w FROM dw WHERE doc_id IN (0, 1, 2, 3, 4)")},
           |lex AS (SELECT query_id, doc_id, rank AS lex_rank FROM (
           |    SELECT query_id, doc_id, row_number() OVER (
           |      PARTITION BY query_id ORDER BY score_q6 DESC, doc_id) AS rank
           |    FROM bsc WHERE doc_id <> query_id)
           |  WHERE rank <= 20),
           |$a4ProbeCtes,
           |vec AS (SELECT query_id, nn_id AS doc_id, rank AS vec_rank
           |  FROM (${a4TopkSelect(20)})),
           |fus AS (SELECT coalesce(l.query_id, v.query_id) AS query_id,
           |    coalesce(l.doc_id, v.doc_id) AS doc_id,
           |    round(coalesce(1.0 / (60 + l.lex_rank), 0.0)
           |        + coalesce(1.0 / (60 + v.vec_rank), 0.0), 6) AS rrf,
           |    coalesce(l.lex_rank, 0) AS lex_rank,
           |    coalesce(v.vec_rank, 0) AS vec_rank
           |  FROM lex l FULL OUTER JOIN vec v
           |    ON l.query_id = v.query_id AND l.doc_id = v.doc_id)
           |SELECT query_id, rank, doc_id, rrf, lex_rank, vec_rank FROM (
           |  SELECT query_id, doc_id, rrf, lex_rank, vec_rank,
           |    row_number() OVER (
           |      PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS rank
           |  FROM fus)
           |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

      // a11's lex/vec CTEs, anti-joined: lexical top-20 minus the
      // vector top-20 (the lex CTE re-derived here carrying score_q6)
      "x22_hard_negatives" ->
        s"""WITH ${bm25Ctes(
             "SELECT doc_id AS query_id, w FROM dw WHERE doc_id IN (0, 1, 2, 3, 4)")},
           |lex AS (SELECT query_id, doc_id, score_q6, rank AS lex_rank FROM (
           |    SELECT query_id, doc_id, score_q6, row_number() OVER (
           |      PARTITION BY query_id ORDER BY score_q6 DESC, doc_id) AS rank
           |    FROM bsc WHERE doc_id <> query_id)
           |  WHERE rank <= 20),
           |vsc AS (SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
           |    ${cosSql("q.embedding", "c.embedding")} AS cos
           |  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
           |  WHERE q.vec_id IN (0, 1, 2, 3, 4)),
           |vec AS (SELECT query_id, doc_id FROM (
           |    SELECT query_id, doc_id, row_number() OVER (
           |      PARTITION BY query_id ORDER BY cos DESC, doc_id) AS rank
           |    FROM vsc)
           |  WHERE rank <= 20)
           |SELECT l.query_id, l.doc_id, l.lex_rank, l.score_q6
           |FROM lex l LEFT JOIN vec v
           |  ON v.query_id = l.query_id AND v.doc_id = l.doc_id
           |WHERE v.doc_id IS NULL
           |ORDER BY l.query_id, l.lex_rank""".stripMargin,

      // true IVFPQ = a4's hierarchical probe CTEs × a8's PQ CTEs:
      // coarse-probe a CONSTANT max(12, ⌈cells/50⌉) cells (rank k1
      // level-0 group centroids, keep enough groups to seat 2× the
      // cell budget, rank only their cells — Ann.ivfPqNprobe /
      // hierGroupProbe, same integer arithmetic both engines),
      // ADC-score only the probed cells' candidates (integer
      // micro-distance sums, ties by nn_id), exact-cosine rerank of
      // the top-200 ADC shortlist — every ranking rule identical to
      // the Spark side digit-for-digit
      "a9_ivfpq" ->
        s"""WITH $a9ProbeCtes
          |${a9TopkSelect()} ORDER BY query_id, rank""".stripMargin,

      // recall@10 of the IVFPQ path vs the brute truth — the probe leg
      // is a9's EXACT CTE chain (shared text), the eval the shared
      // truth + recall select a12 uses
      "a14_ivfpq_recall" ->
        s"""WITH $a9ProbeCtes,
          |approx AS (${a9TopkSelect()}),
          |$bruteTruthCte
          |$recallSelect""".stripMargin,

      // SQ8: per-dim exact min/max (order-free), codes/dequant as the
      // same elementwise double formula the Spark zip_withs run
      // (floor(+0.5) clamp [0,255], deq = min + code·step), scored by
      // the shared cosine-rounding; dims hardcoded 64 like a8's slices
      "a15_sq8_recall" ->
        s"""WITH st AS (SELECT i, min(e) AS mn, max(e) AS mx FROM (
          |    SELECT unnest(CAST(embedding AS DOUBLE[])) AS e,
          |           unnest(range(1, len(embedding) + 1)) AS i
          |    FROM embeddings) GROUP BY i),
          |qa AS (SELECT list(mn ORDER BY i) AS mins,
          |    list(CASE WHEN mx > mn THEN (mx - mn) / 255.0 ELSE 1.0 END
          |         ORDER BY i) AS steps
          |  FROM st),
          |dq AS (SELECT vec_id,
          |    [qa.mins[i] + least(255.0, greatest(0.0,
          |        floor((CAST(embedding AS DOUBLE[])[i] - qa.mins[i])
          |          / qa.steps[i] + 0.5))) * qa.steps[i]
          |      for i in range(1, 65)] AS deq
          |  FROM embeddings, qa),
          |approx AS (SELECT query_id, nn_id FROM (
          |    SELECT q.vec_id AS query_id, c.vec_id AS nn_id,
          |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
          |        ${cosSql("q.embedding", "c.deq")} DESC, c.vec_id) AS rank
          |    FROM embeddings q JOIN dq c ON c.vec_id <> q.vec_id
          |    WHERE q.vec_id IN (0, 1, 2, 3, 4))
          |  WHERE rank <= 10),
          |$bruteTruthCte
          |$recallSelect""".stripMargin,

      "a7_kmeans" ->
        s"""WITH kcomp AS (
           |  SELECT vec_id, j AS i, CAST(embedding[j] AS DOUBLE) AS v
           |  FROM embeddings, range(1, 65) t(j)),
           |kc0 AS (SELECT vec_id AS c_cell, CAST(embedding AS DOUBLE[]) AS c_vec
           |  FROM embeddings WHERE vec_id < 8),
           |${kmAssignCte("ka1", "kc0")},
           |${kmUpdateCte("kc1", "ka1")},
           |${kmAssignCte("ka2", "kc1")},
           |${kmUpdateCte("kc2", "ka2")},
           |${kmAssignCte("kaf", "kc2")}
           |SELECT c_cell AS cluster_id, count(*) AS n_members,
           |  min(v_id) AS min_member,
           |  round(CAST(sum(CAST(cos AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6)
           |    AS avg_cos
           |FROM kaf GROUP BY c_cell ORDER BY cluster_id""".stripMargin,

      "x1_langid" ->
        """SELECT doc_id, lang, hits_en, hits_de, hits_es, hits_fr, guess,
          |  CAST(guess = lang AS INT) AS correct
          |FROM (
          |  SELECT doc_id, lang, hits_en, hits_de, hits_es, hits_fr,
          |    CASE WHEN hits_en = greatest(hits_en, hits_de, hits_es, hits_fr) THEN 'en'
          |         WHEN hits_de = greatest(hits_en, hits_de, hits_es, hits_fr) THEN 'de'
          |         WHEN hits_es = greatest(hits_en, hits_de, hits_es, hits_fr) THEN 'es'
          |         ELSE 'fr' END AS guess
          |  FROM (
          |    SELECT doc_id, lang,
          |      len(list_filter(words, w -> w IN ('the','a','of','and','in','to','is'))) AS hits_en,
          |      len(list_filter(words, w -> w IN ('der','die','das','und','ist','ein'))) AS hits_de,
          |      len(list_filter(words, w -> w IN ('el','la','de','y','que','un'))) AS hits_es,
          |      len(list_filter(words, w -> w IN ('le','la','et','les','des','un'))) AS hits_fr
          |    FROM (SELECT doc_id, lang, string_split(text, ' ') AS words FROM documents)))
          |ORDER BY doc_id""".stripMargin,

      "x2_quality_score" ->
        """SELECT doc_id, n_chars, n_words, n_distinct, stop_hits,
          |  round(0.4 * least(n_distinct::DOUBLE / n_words * 2.0, 1.0)
          |      + 0.3 * least(stop_hits::DOUBLE / n_words * 5.0, 1.0)
          |      + 0.3 * least((n_chars::DOUBLE / n_words) / 8.0, 1.0), 6) AS quality
          |FROM (SELECT doc_id, n_chars, len(words) AS n_words,
          |    len(list_distinct(words)) AS n_distinct,
          |    len(list_filter(words, w -> w IN ('the', 'a'))) AS stop_hits
          |  FROM (SELECT doc_id, n_chars, string_split(text, ' ') AS words FROM documents))
          |ORDER BY doc_id""".stripMargin,

      "x3_token_count" ->
        """SELECT source, count(*) AS n_docs,
          |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
          |  CAST(sum(len(regexp_extract_all(text, '[a-z]+|[0-9]+'))) AS BIGINT) AS re_tokens
          |FROM documents GROUP BY source ORDER BY source""".stripMargin,

      // subword-ish tokens per whitespace word per language; the
      // per-doc high-fertility cut is integer cross-multiplication
      "x27_token_fertility" ->
        """WITH d AS (SELECT lang,
          |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ws,
          |    CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS BIGINT) AS re
          |  FROM documents)
          |SELECT lang, count(*) AS n_docs,
          |  CAST(sum(ws) AS BIGINT) AS ws_tokens,
          |  CAST(sum(re) AS BIGINT) AS re_tokens,
          |  CAST(sum(CASE WHEN re * 2 > ws * 3 THEN 1 ELSE 0 END) AS BIGINT) AS high_fert_docs,
          |  round(CAST(sum(re) AS DOUBLE) / CAST(sum(ws) AS BIGINT), 6) AS fertility,
          |  round(CAST(sum(CASE WHEN re * 2 > ws * 3 THEN 1 ELSE 0 END) AS BIGINT)
          |    / CAST(count(*) AS DOUBLE), 6) AS high_fert_frac
          |FROM d GROUP BY lang ORDER BY lang""".stripMargin,

      "x4_fingerprint" ->
        """SELECT doc_id, fp, min(doc_id) OVER (PARTITION BY fp) AS canonical_id
          |FROM (SELECT doc_id,
          |    md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
          |        ' +', ' ', 'g'))) AS fp
          |  FROM documents)
          |ORDER BY doc_id""".stripMargin,

      "d3_simhash" ->
        """WITH w AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS word
          |  FROM documents),
          |h AS (SELECT doc_id, ('0x' || substr(md5(word), 1, 8))::BIGINT AS hv FROM w),
          |b AS (SELECT doc_id, t.i AS i,
          |    sum(CASE WHEN (hv // (2**t.i)::BIGINT) % 2 = 1 THEN 1 ELSE -1 END) AS score
          |  FROM h CROSS JOIN (SELECT unnest(range(32)) AS i) t GROUP BY doc_id, t.i)
          |SELECT doc_id,
          |  sum(CASE WHEN score > 0 THEN (2**i)::BIGINT ELSE 0 END)::BIGINT AS simhash,
          |  (sum(CASE WHEN score > 0 THEN (2**i)::BIGINT ELSE 0 END)::BIGINT // 16777216) AS bucket
          |FROM b GROUP BY doc_id ORDER BY doc_id""".stripMargin,

      "m2_frame_sample" ->
        """SELECT doc_id, len(f)::BIGINT AS n_frames, list_sum(f)::BIGINT AS frame_sum,
          |  array_to_string(f[1:8], ',') AS head_frames
          |FROM (SELECT doc_id,
          |    [ord(substr(text, j, 1)) for j in range(1, length(text)+1) if (j-1) % 7 = 0] AS f
          |  FROM documents)
          |ORDER BY doc_id""".stripMargin,

      "m1_binary_meta" ->
        """SELECT doc_id, octet_length(encode(text)) AS byte_len, md5(text) AS checksum,
          |  octet_length(encode(text)) % 997 AS width,
          |  octet_length(encode(text)) * 7 % 769 AS height,
          |  CAST(ceil((octet_length(encode(text)) % 997) / 64.0) AS BIGINT)
          |    * CAST(ceil((octet_length(encode(text)) * 7 % 769) / 64.0) AS BIGINT) AS n_tiles
          |FROM documents ORDER BY doc_id""".stripMargin,

      // chunking on ASCII text: VARCHAR substr positions == byte offsets
      "m3_chunked_binary" ->
        """SELECT doc_id, i - 1 AS chunk_idx,
          |  octet_length(encode(substr(text, (i - 1) * 256 + 1, 256))) AS chunk_len,
          |  md5(substr(text, (i - 1) * 256 + 1, 256)) AS chunk_md5
          |FROM (SELECT doc_id, text,
          |    unnest(range(1, CAST(ceil(octet_length(encode(text)) / 256.0) AS BIGINT) + 1)) AS i
          |  FROM documents)
          |ORDER BY doc_id, chunk_idx""".stripMargin,

      "m6_cas_stats" ->
        """WITH ch AS (SELECT doc_id, source,
          |    octet_length(encode(substr(text, (i - 1) * 64 + 1, 64))) AS chunk_len,
          |    md5(substr(text, (i - 1) * 64 + 1, 64)) AS chunk_md5
          |  FROM (SELECT doc_id, source, text,
          |      unnest(range(1, CAST(ceil(octet_length(encode(text)) / 64.0) AS BIGINT) + 1)) AS i
          |    FROM documents)),
          |t AS (SELECT source, count(DISTINCT doc_id) AS n_blobs, count(*) AS total_chunks,
          |    CAST(sum(chunk_len) AS BIGINT) AS total_bytes FROM ch GROUP BY 1),
          |u AS (SELECT source, count(*) AS uniq_chunks, CAST(sum(len) AS BIGINT) AS uniq_bytes
          |  FROM (SELECT source, chunk_md5, min(chunk_len) AS len FROM ch GROUP BY 1, 2)
          |  GROUP BY 1)
          |SELECT t.source, n_blobs, total_chunks, total_bytes, uniq_chunks, uniq_bytes,
          |  total_bytes - uniq_bytes AS saved_bytes,
          |  round(CAST(uniq_bytes AS DOUBLE) / CAST(total_bytes AS DOUBLE), 6) AS dedup_ratio
          |FROM t JOIN u USING (source) ORDER BY source""".stripMargin,

      // mirrors the md5-sub-shard decomposition (x7's pattern): local
      // cumsum per (source, hshard), then global shard = running offset
      // over the tiny per-sub-shard bin counts + local bin
      "m7_shard_pack" ->
        s"""WITH t AS (SELECT doc_id, source,
          |    CAST(octet_length(encode(text)) AS BIGINT) AS bytes,
          |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % ${graft.multimodal.Binary.ShardPackHashShards} AS hshard
          |  FROM documents),
          |l AS (SELECT *, CAST(floor(cum_before / 4096.0) AS BIGINT) AS lbin FROM (
          |  SELECT *, CAST(coalesce(sum(bytes) OVER (PARTITION BY source, hshard
          |        ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
          |      0) AS BIGINT) AS cum_before FROM t)),
          |o AS (SELECT source, hshard, CAST(coalesce(sum(n_bins) OVER (PARTITION BY source
          |      ORDER BY hshard ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS bin_off
          |  FROM (SELECT source, hshard, max(lbin) + 1 AS n_bins FROM l GROUP BY 1, 2))
          |SELECT l.source, o.bin_off + l.lbin AS shard,
          |  count(*) AS n_blobs, CAST(sum(bytes) AS BIGINT) AS shard_bytes,
          |  min(doc_id) AS first_id
          |FROM l JOIN o ON l.source = o.source AND l.hshard = o.hshard
          |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

      // the Spark side keys chunks by md5Prefix60(chunk_md5) =
      // conv(substr(md5(md5(chunk)),1,15),16,10) — mirror the double
      // hash; chunk extraction mirrors m3's ASCII substr == byte slice
      "m4_binary_neardup" ->
        """WITH k AS (SELECT DISTINCT doc_id,
          |    ('0x' || substr(md5(md5(substr(text, (i - 1) * 64 + 1, 64))), 1, 15))::BIGINT AS ck
          |  FROM (SELECT doc_id, text,
          |      unnest(range(1, CAST(ceil(octet_length(encode(text)) / 64.0) AS BIGINT) + 1)) AS i
          |    FROM documents)),
          |n AS (SELECT doc_id, count(*) AS n_ck FROM k GROUP BY 1)
          |SELECT id_a, id_b, shared, jaccard FROM (
          |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared,
          |    round(count(*)::DOUBLE / (na.n_ck + nb.n_ck - count(*)), 6) AS jaccard
          |  FROM k a JOIN k b ON a.ck = b.ck AND a.doc_id < b.doc_id
          |  JOIN n na ON na.doc_id = a.doc_id
          |  JOIN n nb ON nb.doc_id = b.doc_id
          |  GROUP BY a.doc_id, b.doc_id, na.n_ck, nb.n_ck)
          |WHERE jaccard >= 0.5
          |ORDER BY id_a, id_b""".stripMargin,

      "t14_asof_trend" ->
        s"""WITH pts AS (SELECT unnest([${TrendTs.map(t => s"'${t.substring(0, 10)}'").mkString(", ")}]) AS checkpoint),
           |av AS (SELECT p.checkpoint, e.user_id, e.value,
           |    row_number() OVER (PARTITION BY p.checkpoint, e.user_id
           |      ORDER BY e.ts DESC, e.event_id DESC) AS rn
           |  FROM events e JOIN pts p ON e.ts <= (p.checkpoint || ' 00:00:00')::TIMESTAMP)
           |SELECT checkpoint, count(*) AS n_records,
           |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
           |  round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS avg_value
           |FROM av WHERE rn = 1 GROUP BY checkpoint ORDER BY checkpoint""".stripMargin,

      // the PAIRWISE formulation (scd2 x scd2 interval-overlap join) —
      // deliberately a different derivation than the Spark window
      // sweep; chains being contiguous makes them provably equal
      "t15_interval_align" ->
        """WITH a AS (SELECT user_id, value AS a_value,
          |    row_number() OVER w AS a_version,
          |    epoch_us(ts) AS a_from, epoch_us(lead(ts) OVER w) AS a_to
          |  FROM events WHERE event_type = 'click'
          |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
          |b AS (SELECT user_id, value AS b_value,
          |    row_number() OVER w AS b_version,
          |    epoch_us(ts) AS b_from, epoch_us(lead(ts) OVER w) AS b_to
          |  FROM events WHERE event_type = 'view'
          |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
          |SELECT a.user_id,
          |  greatest(a_from, b_from) AS iv_from_us,
          |  nullif(least(coalesce(a_to, 9223372036854775807),
          |               coalesce(b_to, 9223372036854775807)),
          |         9223372036854775807) AS iv_to_us,
          |  a_version, a_value, b_version, b_value
          |FROM a JOIN b USING (user_id)
          |WHERE greatest(a_from, b_from)
          |    < least(coalesce(a_to, 9223372036854775807),
          |            coalesce(b_to, 9223372036854775807))
          |ORDER BY user_id, iv_from_us, a_version, b_version""".stripMargin,

      "t16_state_durations" ->
        """WITH iv AS (SELECT event_type,
          |    epoch_us(lead(ts) OVER w) - epoch_us(ts) AS dur_us
          |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
          |a AS (SELECT event_type, count(*) AS n_intervals,
          |    CAST(sum(dur_us) AS BIGINT) AS total_us
          |  FROM iv WHERE dur_us IS NOT NULL GROUP BY 1)
          |SELECT event_type, n_intervals, total_us,
          |  round(CAST(total_us AS DOUBLE) / n_intervals, 6) AS avg_us,
          |  round(CAST(total_us AS DOUBLE)
          |    / (SELECT CAST(sum(total_us) AS DOUBLE) FROM a), 6) AS time_share
          |FROM a ORDER BY event_type""".stripMargin,

      // pre-cutoff versions compact to the single latest carrier per
      // key; conditional counts + a conditional max, one rounded ratio
      "t17_ttl_compaction" ->
        s"""WITH a AS (SELECT user_id, count(*) AS n_versions,
           |    CAST(sum(CASE WHEN ts < TIMESTAMP '$T1' THEN 1 ELSE 0 END) AS BIGINT) AS n_pre,
           |    CAST(sum(CASE WHEN ts >= TIMESTAMP '$T1' THEN 1 ELSE 0 END) AS BIGINT) AS n_post,
           |    epoch_us(max(CASE WHEN ts < TIMESTAMP '$T1' THEN ts END)) AS last_pre_us
           |  FROM events GROUP BY 1),
           |b AS (SELECT *, CASE WHEN n_pre > 0 THEN 1 ELSE 0 END AS kept_pre FROM a)
           |SELECT user_id, n_versions, n_pre, n_post, last_pre_us,
           |  CAST(kept_pre AS BIGINT) AS kept_pre,
           |  CAST(n_pre - kept_pre AS BIGINT) AS dropped,
           |  CAST(kept_pre + n_post AS BIGINT) AS retained,
           |  round(CAST(n_pre - kept_pre AS BIGINT)
           |    / CAST(n_versions AS DOUBLE), 6) AS reclaim_frac
           |FROM b ORDER BY user_id""".stripMargin,

      // t19: t17's planned retained count reconciled against t18's
      // actual output rows, per key
      "t19_retention_audit" ->
        s"""WITH a AS (SELECT user_id, count(*) AS n_versions,
           |    CAST(sum(CASE WHEN ts < TIMESTAMP '$T1' THEN 1 ELSE 0 END) AS BIGINT) AS n_pre,
           |    CAST(sum(CASE WHEN ts >= TIMESTAMP '$T1' THEN 1 ELSE 0 END) AS BIGINT) AS n_post
           |  FROM events GROUP BY 1),
           |p AS (SELECT user_id, n_versions,
           |    CAST(n_pre - CASE WHEN n_pre > 0 THEN 1 ELSE 0 END AS BIGINT) AS dropped,
           |    CAST(CASE WHEN n_pre > 0 THEN 1 ELSE 0 END + n_post AS BIGINT) AS retained
           |  FROM a),
           |live AS (SELECT user_id, count(*) AS c FROM events
           |  WHERE ts >= TIMESTAMP '$T1' GROUP BY 1),
           |carrier AS (SELECT user_id, 1 AS c FROM (SELECT user_id,
           |    row_number() OVER (PARTITION BY user_id
           |      ORDER BY ts DESC, event_id DESC) AS rn
           |  FROM events WHERE ts < TIMESTAMP '$T1') WHERE rn = 1),
           |act AS (SELECT user_id,
           |    CAST(coalesce(l.c, 0) + coalesce(cr.c, 0) AS BIGINT) AS actual_retained
           |  FROM (SELECT DISTINCT user_id FROM events) u
           |  LEFT JOIN live l USING (user_id) LEFT JOIN carrier cr USING (user_id))
           |SELECT p.user_id, p.n_versions, p.dropped, p.retained,
           |  act.actual_retained, p.retained = act.actual_retained AS consistent
           |FROM p JOIN act USING (user_id) ORDER BY p.user_id""".stripMargin,

      // t18: post-cutoff rows verbatim + the per-key latest pre-cutoff
      // carrier — the retained set a vacuum rewrite keeps
      "t18_vacuum" ->
        s"""WITH live AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
           |    event_type, value, 'LIVE' AS row_kind
           |  FROM events WHERE ts >= TIMESTAMP '$T1'),
           |carrier AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
           |    event_type, value, 'CARRIER' AS row_kind
           |  FROM events WHERE ts < TIMESTAMP '$T1'
           |  QUALIFY row_number() OVER (PARTITION BY user_id
           |    ORDER BY ts DESC, event_id DESC) = 1)
           |SELECT * FROM live UNION ALL SELECT * FROM carrier
           |ORDER BY user_id, ts_us, event_id""".stripMargin,

      "t13_bitemporal" ->
        s"""WITH k AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type, value
           |  FROM events WHERE ts <= TIMESTAMP '$T' AND event_id <= $KnownAtSeq
           |  QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1),
           |c AS (SELECT user_id, event_id FROM events WHERE ts <= TIMESTAMP '$T'
           |  QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1)
           |SELECT k.user_id, k.ts_us, k.event_id, k.event_type, k.value,
           |  c.event_id AS current_event_id, (k.event_id <> c.event_id) AS revised
           |FROM k JOIN c USING (user_id) ORDER BY user_id""".stripMargin,

      // same register/finalize math as s1 — the streaming drain is
      // provably batch-equal (max/count merge), so one oracle shape
      // serves both
      "ts27_stream_hll" ->
        """WITH h AS (SELECT epoch_us(date_trunc('day', ts)) AS day, user_id,
          |    ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h
          |  FROM events),
          |r AS (SELECT day, h % 16 AS bucket,
          |    max(CASE WHEN h // 16 = 0 THEN 57 ELSE 57 - length(bin(h // 16)) END) AS m,
          |    count(*) AS n
          |  FROM h GROUP BY 1, 2),
          |s AS (SELECT day, sum(n)::BIGINT AS n_items,
          |    (sum((2**(57 - m))::BIGINT))::BIGINT
          |      + (16 - count(*)) * 144115188075855872 AS sv
          |  FROM r GROUP BY 1),
          |e AS (SELECT epoch_us(date_trunc('day', ts)) AS day,
          |    count(DISTINCT user_id) AS exact_distinct FROM events GROUP BY 1)
          |SELECT e.day, s.n_items, e.exact_distinct,
          |  round(0.673 * 36893488147419103232.0 / sv, 6) AS est_distinct,
          |  round((0.673 * 36893488147419103232.0 / sv) / e.exact_distinct - 1.0, 6)
          |    AS rel_err
          |FROM e JOIN s USING (day) ORDER BY day""".stripMargin,

      // streaming CMS drain == batch grid (sum-merge), so s2's SQL
      // validates the streaming report verbatim
      "ts28_stream_cms" ->
        """WITH h AS (SELECT user_id,
          |    ('0x' || substr(md5('cms:' || user_id), 1, 15))::BIGINT AS h
          |  FROM events),
          |cj AS (SELECT h, unnest(range(4)) AS j FROM h),
          |cells AS (SELECT j, (h % 1073741824 + j * (h // 1073741824)) % 64 AS cell,
          |    count(*) AS c
          |  FROM cj GROUP BY 1, 2),
          |u AS (SELECT user_id, count(*) AS exact FROM events GROUP BY 1),
          |uh AS (SELECT user_id, exact,
          |    ('0x' || substr(md5('cms:' || user_id), 1, 15))::BIGINT AS h FROM u),
          |uj AS (SELECT user_id, exact, h, unnest(range(4)) AS j FROM uh)
          |SELECT user_id, min(c)::BIGINT AS est, min(exact)::BIGINT AS exact
          |FROM uj JOIN cells ON cells.j = uj.j
          |  AND cells.cell = (uj.h % 1073741824 + uj.j * (uj.h // 1073741824)) % 64
          |GROUP BY user_id
          |ORDER BY est DESC, user_id LIMIT 10""".stripMargin,

      "t12_scd2" ->
        """SELECT user_id, version, event_id, valid_from_us, valid_to_us,
          |  (valid_to_us IS NULL) AS is_current, event_type, value
          |FROM (SELECT user_id, event_id, event_type, value,
          |    row_number() OVER w AS version,
          |    epoch_us(ts) AS valid_from_us,
          |    epoch_us(lead(ts) OVER w) AS valid_to_us
          |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
          |ORDER BY user_id, version""".stripMargin,

      // HLL mirrored exactly: 60-bit md5-prefix hash, bucket = h % 16,
      // rho from the remaining 56 bits via length(bin(..)), harmonic sum
      // as BIGINT powers of two (2^57 per empty bucket), one exact
      // double multiply+divide at the end (0.673*2^65 = alpha*m^2*2^57)
      "s1_hll_distinct" ->
        """WITH h AS (SELECT epoch_us(date_trunc('day', ts)) AS day, user_id,
          |    ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h
          |  FROM events),
          |r AS (SELECT day, h % 16 AS bucket,
          |    max(CASE WHEN h // 16 = 0 THEN 57 ELSE 57 - length(bin(h // 16)) END) AS m,
          |    count(*) AS n
          |  FROM h GROUP BY 1, 2),
          |s AS (SELECT day, sum(n)::BIGINT AS n_items,
          |    (sum((2**(57 - m))::BIGINT))::BIGINT
          |      + (16 - count(*)) * 144115188075855872 AS sv
          |  FROM r GROUP BY 1),
          |e AS (SELECT epoch_us(date_trunc('day', ts)) AS day,
          |    count(DISTINCT user_id) AS exact_distinct FROM events GROUP BY 1)
          |SELECT e.day, s.n_items, e.exact_distinct,
          |  round(0.673 * 36893488147419103232.0 / sv, 6) AS est_distinct,
          |  round((0.673 * 36893488147419103232.0 / sv) / e.exact_distinct - 1.0, 6)
          |    AS rel_err
          |FROM e JOIN s USING (day) ORDER BY day""".stripMargin,

      // Kirsch-Mitzenmacher double hashing: cell_j = (h%2^30 + j*(h//2^30)) % w
      // from ONE md5 per row (mirrors Sketch.rowHash/cellOf)
      "s2_cms_topk" ->
        """WITH h AS (SELECT user_id,
          |    ('0x' || substr(md5('cms:' || user_id), 1, 15))::BIGINT AS h
          |  FROM events),
          |cj AS (SELECT h, unnest(range(4)) AS j FROM h),
          |cells AS (SELECT j, (h % 1073741824 + j * (h // 1073741824)) % 64 AS cell,
          |    count(*) AS c
          |  FROM cj GROUP BY 1, 2),
          |u AS (SELECT user_id, count(*) AS exact FROM events GROUP BY 1),
          |uh AS (SELECT user_id, exact,
          |    ('0x' || substr(md5('cms:' || user_id), 1, 15))::BIGINT AS h FROM u),
          |uj AS (SELECT user_id, exact, h, unnest(range(4)) AS j FROM uh)
          |SELECT user_id, min(c)::BIGINT AS est, min(exact)::BIGINT AS exact
          |FROM uj JOIN cells ON cells.j = uj.j
          |  AND cells.cell = (uj.h % 1073741824 + uj.j * (uj.h // 1073741824)) % 64
          |GROUP BY user_id
          |ORDER BY est DESC, user_id LIMIT 10""".stripMargin,

      // KMV/theta: θ = k-th smallest distinct hash (or 2^60 when the
      // sketch is unsaturated), est = |{h < θ}|·2^60/θ — one exact
      // double multiply + one correctly-rounded divide, like s1
      "s3_kmv_setops" ->
        s"""WITH gh AS (
          |  SELECT DISTINCT event_type AS g,
          |    ('0x' || substr(md5(user_id::VARCHAR || '|' || strftime(ts, '%Y-%m-%d')), 1, 15))::BIGINT AS h
          |  FROM events WHERE event_type IN ('click', 'purchase')),
          |rk AS (SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rn FROM gh),
          |sk AS (SELECT g,
          |    coalesce(max(CASE WHEN rn = $KmvK THEN h END), 1152921504606846976) AS theta,
          |    count(*) AS exact
          |  FROM rk GROUP BY g),
          |ret AS (SELECT rk.g, count(*) AS r FROM rk JOIN sk ON sk.g = rk.g
          |  WHERE rk.rn <= $KmvK AND rk.h < sk.theta GROUP BY rk.g),
          |us AS (SELECT DISTINCT h FROM rk WHERE rn <= $KmvK),
          |ur AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM us),
          |tu AS (SELECT least((SELECT min(theta) FROM sk),
          |    coalesce((SELECT max(CASE WHEN rn = $KmvK THEN h END) FROM ur),
          |      1152921504606846976)) AS theta),
          |ru AS (SELECT count(*) AS r FROM us WHERE h < (SELECT theta FROM tu)),
          |ti AS (SELECT min(theta) AS theta FROM sk),
          |cs AS (SELECT h FROM rk WHERE rn <= $KmvK GROUP BY h HAVING count(*) = 2),
          |ri AS (SELECT count(*) AS r FROM cs WHERE h < (SELECT theta FROM ti)),
          |exu AS (SELECT count(DISTINCT h) AS exact_u FROM gh),
          |exi AS (SELECT count(*) AS exact_i FROM (SELECT h FROM gh GROUP BY h HAVING count(*) = 2))
          |SELECT cohort, round(est, 6) AS est_distinct, exact AS exact_distinct,
          |  round(est / CAST(exact AS DOUBLE) - 1.0, 6) AS rel_err
          |FROM (
          |  SELECT '1_click' AS cohort,
          |    CAST(ret.r AS DOUBLE) * 1152921504606846976.0 / CAST(sk.theta AS DOUBLE) AS est,
          |    sk.exact AS exact
          |  FROM sk JOIN ret ON sk.g = ret.g WHERE sk.g = 'click'
          |  UNION ALL SELECT '2_purchase',
          |    CAST(ret.r AS DOUBLE) * 1152921504606846976.0 / CAST(sk.theta AS DOUBLE),
          |    sk.exact
          |  FROM sk JOIN ret ON sk.g = ret.g WHERE sk.g = 'purchase'
          |  UNION ALL SELECT '3_union',
          |    CAST((SELECT r FROM ru) AS DOUBLE) * 1152921504606846976.0
          |      / CAST((SELECT theta FROM tu) AS DOUBLE),
          |    (SELECT exact_u FROM exu)
          |  UNION ALL SELECT '4_intersect',
          |    CAST((SELECT r FROM ri) AS DOUBLE) * 1152921504606846976.0
          |      / CAST((SELECT theta FROM ti) AS DOUBLE),
          |    (SELECT exact_i FROM exi))
          |ORDER BY cohort""".stripMargin,

      "s4_bloom_decontam" ->
        s"""WITH w AS (SELECT doc_id, source, text, string_split(text, ' ') AS words FROM documents),
          |sh AS (SELECT doc_id, source, list_distinct(
          |    CASE WHEN len(words) < 3 THEN [text]
          |         ELSE [array_to_string(words[i:i+2], ' ')
          |               for i in range(1, len(words) - 1)] END) AS shingles
          |  FROM w),
          |e AS (SELECT doc_id, source,
          |    ('0x' || substr(md5(unnest(shingles)), 1, 15))::BIGINT AS shingle FROM sh),
          |b AS (SELECT DISTINCT shingle FROM e WHERE doc_id % 20 = 0),
          |c AS (SELECT doc_id, source, shingle FROM e WHERE doc_id % 20 <> 0),
          |bits AS (SELECT DISTINCT
          |    ('0x' || substr(md5('bloom' || j || ':' || CAST(shingle AS VARCHAR)), 1, 15))::BIGINT % $BloomM AS pos
          |  FROM b, (SELECT unnest(range($BloomHashes)) AS j)),
          |p AS (SELECT c.doc_id, c.source, c.shingle,
          |    ('0x' || substr(md5('bloom' || j || ':' || CAST(c.shingle AS VARCHAR)), 1, 15))::BIGINT % $BloomM AS pos
          |  FROM c, (SELECT unnest(range($BloomHashes)) AS j)),
          |shit AS (SELECT doc_id, source, shingle FROM p JOIN bits USING (pos)
          |  GROUP BY 1, 2, 3 HAVING count(*) = $BloomHashes),
          |bf AS (SELECT source, count(*) AS bloom_flagged FROM (
          |    SELECT doc_id, source FROM shit GROUP BY 1, 2 HAVING count(*) >= 3)
          |  GROUP BY 1),
          |ef AS (SELECT source, count(*) AS exact_flagged FROM (
          |    SELECT doc_id, source FROM c WHERE shingle IN (SELECT shingle FROM b)
          |    GROUP BY 1, 2 HAVING count(*) >= 3)
          |  GROUP BY 1),
          |g AS (SELECT source, count(DISTINCT doc_id) AS n_docs FROM c GROUP BY 1)
          |SELECT g.source, g.n_docs,
          |  coalesce(bf.bloom_flagged, 0) AS bloom_flagged,
          |  coalesce(ef.exact_flagged, 0) AS exact_flagged,
          |  coalesce(bf.bloom_flagged, 0) - coalesce(ef.exact_flagged, 0) AS false_pos
          |FROM g LEFT JOIN bf USING (source) LEFT JOIN ef USING (source)
          |ORDER BY source""".stripMargin,

      "s5_hist_quantiles" ->
        s"""WITH mm AS (SELECT min(value) AS gmin, max(value) AS gmax FROM events),
          |b AS (SELECT event_type,
          |    CAST(CASE WHEN gmax = gmin THEN 0
          |      ELSE least(floor((value - gmin) / (gmax - gmin) * $HistBuckets), ${HistBuckets - 1}) END AS INT) AS bucket
          |  FROM events, mm),
          |c AS (SELECT event_type, bucket, count(*) AS c FROM b GROUP BY 1, 2),
          |w AS (SELECT event_type, bucket,
          |    sum(c) OVER (PARTITION BY event_type ORDER BY bucket) AS cum,
          |    sum(c) OVER (PARTITION BY event_type) AS n
          |  FROM c),
          |s AS (SELECT event_type, CAST(max(n) AS BIGINT) AS n,
          |    min(CASE WHEN cum >= ceil(0.5 * n) THEN bucket END) AS b50,
          |    min(CASE WHEN cum >= ceil(0.9 * n) THEN bucket END) AS b90,
          |    min(CASE WHEN cum >= ceil(0.99 * n) THEN bucket END) AS b99
          |  FROM w GROUP BY 1),
          |ex AS (SELECT event_type,
          |    round(quantile_cont(value, 0.5), 6) AS p50_exact,
          |    round(quantile_cont(value, 0.9), 6) AS p90_exact,
          |    round(quantile_cont(value, 0.99), 6) AS p99_exact
          |  FROM events GROUP BY 1)
          |SELECT s.event_type, s.n,
          |  round(gmin + CAST(b50 + 1 AS DOUBLE) * (gmax - gmin) / $HistBuckets.0, 6) AS p50_est, p50_exact,
          |  round(gmin + CAST(b90 + 1 AS DOUBLE) * (gmax - gmin) / $HistBuckets.0, 6) AS p90_est, p90_exact,
          |  round(gmin + CAST(b99 + 1 AS DOUBLE) * (gmax - gmin) / $HistBuckets.0, 6) AS p99_est, p99_exact
          |FROM s JOIN ex USING (event_type) CROSS JOIN mm
          |ORDER BY event_type""".stripMargin,

      // s6: per-shard sketches summed bucket-wise, then the s5 global
      // quantile-bucket arithmetic over the merged histogram
      "s6_sketch_merge" ->
        s"""WITH mm AS (SELECT min(value) AS gmin, max(value) AS gmax FROM events),
          |b AS (SELECT event_type,
          |    CAST(CASE WHEN gmax = gmin THEN 0
          |      ELSE least(floor((value - gmin) / (gmax - gmin) * $HistBuckets), ${HistBuckets - 1}) END AS INT) AS bucket
          |  FROM events, mm),
          |sk AS (SELECT event_type, bucket, count(*) AS c FROM b GROUP BY 1, 2),
          |m AS (SELECT bucket, CAST(sum(c) AS BIGINT) AS c FROM sk GROUP BY 1),
          |w AS (SELECT bucket,
          |    sum(c) OVER (ORDER BY bucket) AS cum,
          |    sum(c) OVER () AS n FROM m),
          |s AS (SELECT CAST(max(n) AS BIGINT) AS n,
          |    min(CASE WHEN cum >= ceil(0.5 * n) THEN bucket END) AS b50,
          |    min(CASE WHEN cum >= ceil(0.9 * n) THEN bucket END) AS b90,
          |    min(CASE WHEN cum >= ceil(0.99 * n) THEN bucket END) AS b99
          |  FROM w),
          |sh AS (SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS n_shards FROM sk)
          |SELECT n, n_shards,
          |  round(gmin + CAST(b50 + 1 AS DOUBLE) * (gmax - gmin) / $HistBuckets.0, 6) AS p50_est,
          |  round(gmin + CAST(b90 + 1 AS DOUBLE) * (gmax - gmin) / $HistBuckets.0, 6) AS p90_est,
          |  round(gmin + CAST(b99 + 1 AS DOUBLE) * (gmax - gmin) / $HistBuckets.0, 6) AS p99_est
          |FROM s CROSS JOIN mm CROSS JOIN sh""".stripMargin,

      // s8: s1's HLL registers as a cross-shard MERGE — per event_type
      // register tables max-merged into the global distinct estimate;
      // same exact-BIGINT harmonic sum as s1
      "s8_hll_union" ->
        """WITH w AS (SELECT event_type AS g,
          |    user_id::VARCHAR || '|' || strftime(ts, '%Y-%m-%d') AS ud FROM events),
          |h AS (SELECT g, ud, ('0x' || substr(md5(ud), 1, 15))::BIGINT AS h FROM w),
          |r AS (SELECT g, h % 16 AS bucket,
          |    max(CASE WHEN h // 16 = 0 THEN 57 ELSE 57 - length(bin(h // 16)) END) AS m,
          |    count(*) AS n
          |  FROM h GROUP BY 1, 2),
          |s AS (SELECT g, sum(n)::BIGINT AS n_items,
          |    (sum((2**(57 - m))::BIGINT))::BIGINT
          |      + (16 - count(*)) * 144115188075855872 AS sv
          |  FROM r GROUP BY 1),
          |e AS (SELECT g, count(DISTINCT ud) AS exact_distinct FROM w GROUP BY 1),
          |ru AS (SELECT bucket, max(m) AS m, sum(n)::BIGINT AS n FROM r GROUP BY 1),
          |su AS (SELECT sum(n)::BIGINT AS n_items,
          |    (sum((2**(57 - m))::BIGINT))::BIGINT
          |      + (16 - count(*)) * 144115188075855872 AS sv
          |  FROM ru),
          |eu AS (SELECT count(DISTINCT ud) AS exact_distinct FROM w)
          |SELECT cohort, n_items, exact_distinct,
          |  round(0.673 * 36893488147419103232.0 / sv, 6) AS est_distinct,
          |  round((0.673 * 36893488147419103232.0 / sv) / exact_distinct - 1.0, 6) AS rel_err
          |FROM (
          |  SELECT g AS cohort, s.n_items, e.exact_distinct, s.sv
          |  FROM s JOIN e USING (g)
          |  UNION ALL SELECT 'zz_union', su.n_items, eu.exact_distinct, su.sv
          |  FROM su CROSS JOIN eu)
          |ORDER BY cohort""".stripMargin,

      // s7: s3's KMV sketch as a cross-shard MERGE — per event_type
      // bottom-k sketches of distinct (user, day); the union row is
      // computed from the shard samples alone (merged distinct sample
      // + min-theta), exact counts alongside as the error report
      "s7_kmv_union" ->
        s"""WITH gh AS (SELECT DISTINCT event_type AS g,
          |    ('0x' || substr(md5(user_id::VARCHAR || '|' || strftime(ts, '%Y-%m-%d')), 1, 15))::BIGINT AS h
          |  FROM events),
          |rk AS (SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rn FROM gh),
          |sk AS (SELECT g,
          |    coalesce(max(CASE WHEN rn = $KmvK THEN h END), 1152921504606846976) AS theta,
          |    count(*) AS exact
          |  FROM rk GROUP BY g),
          |ret AS (SELECT rk.g, count(*) AS r FROM rk JOIN sk ON sk.g = rk.g
          |  WHERE rk.rn <= $KmvK AND rk.h < sk.theta GROUP BY rk.g),
          |us AS (SELECT DISTINCT h FROM rk WHERE rn <= $KmvK),
          |ur AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM us),
          |tu AS (SELECT least((SELECT min(theta) FROM sk),
          |    coalesce((SELECT max(CASE WHEN rn = $KmvK THEN h END) FROM ur),
          |      1152921504606846976)) AS theta),
          |ru AS (SELECT count(*) AS r FROM us WHERE h < (SELECT theta FROM tu)),
          |exu AS (SELECT count(DISTINCT h) AS exact_u FROM gh)
          |SELECT cohort, round(est, 6) AS est_distinct, exact AS exact_distinct,
          |  round(est / CAST(exact AS DOUBLE) - 1.0, 6) AS rel_err
          |FROM (
          |  SELECT sk.g AS cohort,
          |    CAST(ret.r AS DOUBLE) * 1152921504606846976.0 / CAST(sk.theta AS DOUBLE) AS est,
          |    sk.exact AS exact
          |  FROM sk JOIN ret ON sk.g = ret.g
          |  UNION ALL SELECT 'zz_union',
          |    CAST((SELECT r FROM ru) AS DOUBLE) * 1152921504606846976.0
          |      / CAST((SELECT theta FROM tu) AS DOUBLE),
          |    (SELECT exact_u FROM exu))
          |ORDER BY cohort""".stripMargin,

      "x16_containment" ->
        """WITH w AS (SELECT doc_id, text, string_split(text, ' ') AS words FROM documents),
          |sh AS (SELECT doc_id, list_distinct(
          |    CASE WHEN len(words) < 3 THEN [text]
          |         ELSE [array_to_string(words[i:i+2], ' ')
          |               for i in range(1, len(words) - 1)] END) AS shingles
          |  FROM w),
          |e AS (SELECT doc_id, len(shingles) AS n_sh,
          |    ('0x' || substr(md5(unnest(shingles)), 1, 15))::BIGINT AS shingle FROM sh)
          |SELECT id_a, id_b, shared, n_a, containment FROM (
          |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared,
          |    a.n_sh AS n_a, round(count(*)::DOUBLE / a.n_sh, 6) AS containment
          |  FROM e a JOIN e b USING (shingle)
          |  WHERE a.doc_id <> b.doc_id AND b.n_sh >= 0.6 * a.n_sh
          |  GROUP BY a.doc_id, b.doc_id, a.n_sh)
          |WHERE containment >= 0.6 ORDER BY id_a, id_b""".stripMargin,

      "x20_bm25_search" ->
        s"""WITH ${bm25Ctes(benchProbeSrc)}
           |SELECT query_id, rank, doc_id, score_q6 FROM (
           |  SELECT query_id, doc_id, score_q6, row_number() OVER (
           |    PARTITION BY query_id ORDER BY score_q6 DESC, doc_id) AS rank
           |  FROM bsc)
           |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

      // relative threshold: score >= θ·qmax compared by integer
      // cross-multiplication; qmax = Σ 2200000·idf_bits per probe
      "x21_retrieval_decontam" ->
        s"""WITH ${bm25Ctes(benchProbeSrc)},
           |qmax AS (SELECT query_id, CAST(sum(2200000 * idfb) AS BIGINT) AS qmax_q6
           |  FROM (SELECT DISTINCT q.query_id, q.w,
           |          CAST(length(bin(n.n_docs)) - length(bin(dfq.df)) + 1
           |            AS BIGINT) AS idfb
           |        FROM q JOIN dfq USING (w) CROSS JOIN n) GROUP BY 1),
           |flg AS (SELECT DISTINCT doc_id FROM bsc JOIN qmax USING (query_id)
           |  WHERE score_q6 * $X21ThetaDen >= qmax_q6 * $X21ThetaNum)
           |SELECT source, n_docs, n_flagged,
           |  round(n_flagged / CAST(n_docs AS DOUBLE), 6) AS flag_rate
           |FROM (
           |  SELECT d.source, count(*) AS n_docs,
           |    CAST(sum(CASE WHEN f.doc_id IS NOT NULL THEN 1 ELSE 0 END)
           |      AS BIGINT) AS n_flagged
           |  FROM documents d LEFT JOIN flg f USING (doc_id)
           |  GROUP BY d.source)
           |ORDER BY source""".stripMargin,

      // aHash mirrored exactly: pixel i = ord of byte 1 + floor(i*len/64)
      // (len/64 division by a power of two is EXACT in doubles), bit via
      // integer cross-multiplication, chunks as base-2 folds, candidate
      // stats from the (chunk_idx, chunk_value) equi-join
      "m5_phash_index" ->
        """WITH p AS (SELECT doc_id,
          |    [ord(substr(text, 1 + CAST(floor(i * greatest(length(text), 1) / 64.0) AS BIGINT), 1))
          |     for i in range(0, 64)] AS px
          |  FROM documents),
          |s AS (SELECT doc_id, px, list_sum(px) AS sm FROM p),
          |b AS (SELECT doc_id,
          |    [CASE WHEN px[i] * 64 > sm THEN 1 ELSE 0 END for i in range(1, 65)] AS bits
          |  FROM s),
          |c AS (SELECT doc_id,
          |    [list_sum([bits[c*16 + i] * (2**(16 - i))::BIGINT for i in range(1, 17)])::BIGINT
          |     for c in range(0, 4)] AS ch
          |  FROM b),
          |hx AS (SELECT doc_id, ch,
          |    lpad(hex(ch[1]), 4, '0') || lpad(hex(ch[2]), 4, '0')
          |      || lpad(hex(ch[3]), 4, '0') || lpad(hex(ch[4]), 4, '0') AS ph_hex
          |  FROM c),
          |e2 AS (SELECT doc_id, ch, cc, ch[cc + 1] AS cv
          |  FROM (SELECT doc_id, ch, unnest(range(4)) AS cc FROM c)),
          |prs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
          |    (bit_count(xor(a.ch[1], b.ch[1])) + bit_count(xor(a.ch[2], b.ch[2]))
          |     + bit_count(xor(a.ch[3], b.ch[3])) + bit_count(xor(a.ch[4], b.ch[4]))) AS hamming
          |  FROM e2 a JOIN e2 b ON a.cc = b.cc AND a.cv = b.cv AND a.doc_id < b.doc_id),
          |st AS (SELECT id, count(*) AS n_cand, min(hamming) AS min_ham FROM (
          |    SELECT id_a AS id, hamming FROM prs
          |    UNION ALL SELECT id_b AS id, hamming FROM prs)
          |  GROUP BY id)
          |SELECT hx.doc_id, hx.ph_hex, coalesce(st.n_cand, 0)::BIGINT AS n_cand,
          |  st.min_ham
          |FROM hx LEFT JOIN st ON st.id = hx.doc_id
          |ORDER BY hx.doc_id""".stripMargin,

      // stub-PCM frames: bytes as unsigned 8-bit samples, 256-sample
      // frames, exact integer Σ(s−128)² energies; silence by integer
      // cross-multiplication (e < thr·n)
      "m8_audio_energy" ->
        """WITH b AS (SELECT doc_id, (j - 1) // 256 AS frame,
          |    ord(substr(text, j, 1)) - 128 AS dv
          |  FROM (SELECT doc_id, text, unnest(range(1, length(text) + 1)) AS j
          |    FROM documents)),
          |f AS (SELECT doc_id, frame, count(*) AS n,
          |    CAST(sum(dv * dv) AS BIGINT) AS e
          |  FROM b GROUP BY 1, 2)
          |SELECT doc_id, count(*) AS n_frames,
          |  CAST(sum(e) AS BIGINT) AS total_energy,
          |  CAST(max(e) AS BIGINT) AS peak_energy,
          |  CAST(sum(CASE WHEN e < 2000 * n THEN 1 ELSE 0 END) AS BIGINT) AS silent_frames,
          |  round(CAST(sum(CASE WHEN e < 2000 * n THEN 1 ELSE 0 END) AS BIGINT)
          |    / CAST(count(*) AS DOUBLE), 6) AS silent_frac
          |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin,

      // same 32-sample frame energies; cut by integer
      // cross-multiplication, scenes = running cut sum, two roll-ups
      "m9_scene_cuts" ->
        """WITH b AS (SELECT doc_id, (j - 1) // 32 AS frame,
          |    ord(substr(text, j, 1)) - 128 AS dv
          |  FROM (SELECT doc_id, text, unnest(range(1, length(text) + 1)) AS j
          |    FROM documents)),
          |f AS (SELECT doc_id, frame, count(*) AS n,
          |    CAST(sum(dv * dv) AS BIGINT) AS e
          |  FROM b GROUP BY 1, 2),
          |g AS (SELECT doc_id, frame, e, n,
          |    lag(e) OVER w AS pe, lag(n) OVER w AS pn
          |  FROM f WINDOW w AS (PARTITION BY doc_id ORDER BY frame)),
          |c AS (SELECT doc_id, frame,
          |    CASE WHEN pe IS NOT NULL AND abs(e * pn - pe * n) > 700 * n * pn
          |      THEN 1 ELSE 0 END AS cut
          |  FROM g),
          |sc AS (SELECT doc_id, frame, cut,
          |    sum(cut) OVER (PARTITION BY doc_id ORDER BY frame
          |      ROWS UNBOUNDED PRECEDING) AS scene
          |  FROM c),
          |seg AS (SELECT doc_id, scene, count(*) AS slen,
          |    min(CASE WHEN cut = 1 THEN frame END) AS cutfr
          |  FROM sc GROUP BY 1, 2)
          |SELECT doc_id, CAST(sum(slen) AS BIGINT) AS n_frames,
          |  CAST(count(*) - 1 AS BIGINT) AS n_cuts,
          |  CAST(max(slen) AS BIGINT) AS longest_scene,
          |  CAST(min(cutfr) AS BIGINT) AS first_cut_frame
          |FROM seg GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    )
  }
}
