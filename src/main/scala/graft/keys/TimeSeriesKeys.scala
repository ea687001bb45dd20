package graft.keys

import org.apache.spark.sql.functions._
import graft.operators.TimeSeries

import Shared._

/** ts-keys: windows, sessions, rankings, quantiles and the streaming
  * drains (`ts*_stream_*`). */
object TimeSeriesKeys {
  // ts1's daily per-type aggregate; ts11's streaming drain is
  // batch-equal, so the one oracle serves both
  private def tumblingDaily: String =
    """SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
      |  count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
      |  round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS avg_value
      |FROM events GROUP BY 1, 2 ORDER BY event_type, day""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("ts1_tumbling_agg", () => tumblingDaily)((s, d) =>
      TimeSeries.tumblingDaily(ev(s, d), "event_type", "ts", "value")
        .orderBy("event_type", "day")),

    Key("ts2_sliding_avg", () =>
      """SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
        |        / count(*) OVER w, 6) AS mavg
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, ts_us, event_id""".stripMargin)((s, d) =>
      TimeSeries.slidingAvg(
          ev(s, d).select("user_id", "ts", "event_id", "value"),
          "user_id", "ts", "event_id", "value", 3)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"), col("value"), col("mavg"))
        .orderBy("user_id", "ts_us", "event_id")),

    Key("ts3_lag_delta", () =>
      """SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
        |  lag(value) OVER w AS prev_value,
        |  value - lag(value) OVER w AS delta,
        |  epoch_us(ts) - lag(epoch_us(ts)) OVER w AS elapsed_us
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, ts_us, event_id""".stripMargin)((s, d) =>
      TimeSeries.lagDelta(
          ev(s, d).select("user_id", "ts", "event_id", "value"),
          "user_id", "ts", "event_id", "value")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"), col("value"),
          col("prev_value"), col("delta"), col("elapsed_us"))
        .orderBy("user_id", "ts_us", "event_id")),

    // hot-key-adaptive: identical numbering to the single-window form,
    // but a hot user's timeline shards over day-chunks (skew-safe)
    Key("ts4_sessionize", () =>
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
        |FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin)((s, d) =>
      TimeSeries.sessionizeSkewSafe(
          ev(s, d).select("user_id", "ts", "event_id", "value"),
          "user_id", "ts", "event_id", "value", 1800L)
        .orderBy("user_id", "session_id")),

    Key("ts5_downsample_ohlc", () =>
      """SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
        |  arg_min(value, ts) AS open, max(value) AS high, min(value) AS low,
        |  arg_max(value, ts) AS close, count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY event_type, day""".stripMargin)((s, d) =>
      TimeSeries.downsampleOhlc(ev(s, d), "event_type", "ts", "value")
        .orderBy("event_type", "day")),

    Key("ts6_topk", () =>
      """SELECT row_number() OVER (ORDER BY total_value DESC, user_id) AS rank,
        |  user_id, total_value
        |FROM (SELECT user_id,
        |        CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |      FROM events GROUP BY user_id)
        |ORDER BY total_value DESC, user_id LIMIT 20""".stripMargin)((s, d) =>
      TimeSeries.topkByTotal(ev(s, d), "user_id", "value", 20)
        .select("rank", "user_id", "total_value").orderBy("rank")),

    Key("ts7_asof_join", () =>
      """SELECT p.event_id AS purchase_id, p.user_id,
        |  epoch_us(p.ts) AS purchase_ts_us, c.event_id AS click_id,
        |  epoch_us(c.ts) AS click_ts_us,
        |  epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY purchase_id""".stripMargin)((s, d) => {
      val e = ev(s, d).select("user_id", "ts", "event_id", "event_type")
      val purchases = e.filter(col("event_type") === "purchase").drop("event_type")
      val clicks = e.filter(col("event_type") === "click").drop("event_type")
      // native AsOfJoinExec (spec-checked identical to the brute-force
      // inequality join with max_by and to the union+window composition)
      graft.plans.AsOfJoinDsl.asof(purchases, clicks, "user_id", "ts", "event_id")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          unix_micros(col("ts")).as("purchase_ts_us"),
          col("right_event_id").as("click_id"),
          unix_micros(col("right_ts")).as("click_ts_us"),
          (unix_micros(col("ts")) - unix_micros(col("right_ts"))).as("gap_us"))
        .orderBy("purchase_id")
    }),

    Key("ts8_gap_fill", () =>
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
        |ORDER BY t.event_type, day""".stripMargin)((s, d) =>
      TimeSeries.gapFillDaily(ev(s, d), "event_type", "ts", "value")
        .orderBy("event_type", "day")),

    // exact per-series percentiles off the suite-shared selection memo
    // (QuantileCache: one cutoff selection serves ts9/ts30/s5) — same
    // code path, bit-identical to a direct exactQuantiles run (spec-pinned)
    Key("ts9_percentiles", () =>
      """SELECT event_type, round(quantile_cont(value, 0.5), 6) AS p50,
        |  round(quantile_cont(value, 0.9), 6) AS p90,
        |  round(quantile_cont(value, 0.99), 6) AS p99, count(*) AS n
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin)((s, d) =>
      graft.operators.QuantileCache.percentiles(s, d)
        .orderBy("event_type")),

    // robust per-series anomaly gate (Hampel filter): median/MAD with
    // |v − med| > 3·MAD outlier counts — the robust twin of ts19's
    // z-score, immune to the outliers dragging mean/stddev; both
    // medians 6-dp-rounded exact percentiles so the strict compare is
    // engine-exact (ts9's discipline)
    // off the shared selection memo: cuts + median reused, only the
    // deviation half (3 actions) runs per suite
    // Hampel filter: both medians are 6-dp-rounded exact
    // PERCENTILE_CONT (ts9's cross-engine discipline), deviations and
    // the 3·MAD threshold are identical IEEE doubles on both engines
    Key("ts30_mad_outliers", () =>
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
        |ORDER BY m.event_type""".stripMargin)((s, d) =>
      graft.operators.QuantileCache.madOutliers(s, d, 3)
        .orderBy("event_type")),

    Key("ts10_distinct_users", () =>
      """SELECT event_type, count(DISTINCT user_id) AS n_keys, count(*) AS n_events
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin)((s, d) =>
      TimeSeries.distinctKeys(ev(s, d), "event_type", "user_id")
        .orderBy("event_type")),

    // streaming twin is batch-equivalent -> same oracle as ts1
    Key("ts11_stream_tumbling", () => tumblingDaily)((s, d) =>
      graft.streaming.Streams.tumblingDailyStream(s, d)
        .orderBy("event_type", "day")),

    // streaming sessionize is batch-equivalent -> the ts4 construction
    // without the session ordinal
    Key("ts12_stream_sessionize", () =>
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
        |FROM s GROUP BY user_id, session_id ORDER BY user_id, start_us""".stripMargin)((s, d) =>
      graft.streaming.Streams.sessionizeStream(s, d, "30 minutes")
        .orderBy("user_id", "start_us")),

    Key("ts13_grouped_topk", () =>
      """SELECT event_type, user_id, total_value, rank FROM (
        |  SELECT event_type, user_id, total_value,
        |    row_number() OVER (PARTITION BY event_type
        |                       ORDER BY total_value DESC, user_id) AS rank
        |  FROM (SELECT event_type, user_id,
        |          CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |        FROM events GROUP BY 1, 2))
        |WHERE rank <= 3 ORDER BY event_type, rank""".stripMargin)((s, d) =>
      TimeSeries.groupedTopk(ev(s, d), "event_type", "user_id", "value", 3)
        .orderBy("event_type", "rank")),

    Key("ts14_retention", () =>
      """WITH fs AS (SELECT user_id, CAST(min(ts) AS DATE) AS cohort_day
        |  FROM events GROUP BY 1),
        |act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS active_day FROM events)
        |SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort,
        |  (active_day - cohort_day) AS day_offset,
        |  count(DISTINCT act.user_id) AS n_users
        |FROM act JOIN fs USING (user_id)
        |GROUP BY 1, 2 ORDER BY cohort, day_offset""".stripMargin)((s, d) =>
      TimeSeries.retentionCohorts(ev(s, d), "user_id", "ts")
        .orderBy("cohort", "day_offset")),

    Key("ts15_funnel", () =>
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
        |ORDER BY stage_idx""".stripMargin)((s, d) =>
      TimeSeries.funnel(ev(s, d), "user_id", "ts", "event_type",
        Seq("signup", "click", "purchase"))),

    // stateful flatMapGroupsWithState monitor is batch-equivalent ->
    // row_number + lag over the version order
    Key("ts21_stream_version_monitor", () =>
      """SELECT user_id, row_number() OVER w AS version, epoch_us(ts) AS ts_us,
        |  value, value - lag(value) OVER w AS delta
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, version""".stripMargin)((s, d) =>
      graft.streaming.Streams.versionMonitorStream(s, d)
        .orderBy("user_id", "version")),

    // trailing-1h per-row aggregate as a RANGE window frame (the
    // window-function twin of the ts16 interval JOIN): one sort per
    // key, frame bounds in µs — no self-join at all
    Key("ts25_range_window", () =>
      """SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
        |  count(*) OVER w AS n_1h,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sum_1h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, ts_us, event_id""".stripMargin)((s, d) => {
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

    Key("ts24_counter_rate", () =>
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
        |ORDER BY user_id""".stripMargin)((s, d) =>
      TimeSeries.counterRate(
          ev(s, d).select("user_id", "ts", "event_id", "value"),
          "user_id", "ts", "event_id", "value")
        .orderBy("user_id")),

    // streaming exact dedup: first (user, event_type, day) occurrence
    // passes, duplicates dropped by watermark-bounded keyed state;
    // survivor report aggregated batch-side post-drain (deterministic)
    // the drained survivor set = exactly one row per distinct
    // (user_id, event_type, day); the post-drain report is then
    // count(DISTINCT user_id) per (event_type, day)
    Key("ts26_stream_dedup", () =>
      """SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
        |  count(DISTINCT user_id) AS n_unique
        |FROM events GROUP BY 1, 2
        |ORDER BY event_type, day""".stripMargin)((s, d) =>
      graft.streaming.Streams.streamDedup(s, d)),

    // day × event_type counts as a wide pivot (explicit value list ->
    // deterministic schema; one aggregation, Expand-free)
    Key("ts22_pivot", () =>
      """SELECT strftime(ts, '%Y-%m-%d') AS day,
        |  count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        |  count(CASE WHEN event_type = 'error' THEN 1 END) AS error,
        |  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        |  count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
        |  count(CASE WHEN event_type = 'view' THEN 1 END) AS view
        |FROM events GROUP BY 1 ORDER BY day""".stripMargin)((s, d) => {
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
    Key("ts23_rank_suite", () =>
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
        |ORDER BY user_id""".stripMargin)((s, d) => {
      val totals = ev(s, d).groupBy(col("user_id"))
        .agg(sum(col("value").cast("decimal(18,6)")).cast("double").as("total_value"))
        .withColumn("bucket", floor(col("total_value") / 50))
      graft.operators.TimeSeries.rankSuite(
        totals, "user_id", "total_value", "bucket", 4)
    }),

    Key("ts16_interval_join", () =>
      """SELECT p.event_id AS purchase_id, p.user_id, epoch_us(p.ts) AS ts_us,
        |  (SELECT count(*) FROM events c WHERE c.event_type = 'click'
        |     AND c.user_id = p.user_id
        |     AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts < p.ts) AS n_clicks
        |FROM events p WHERE p.event_type = 'purchase'
        |ORDER BY purchase_id""".stripMargin)((s, d) => {
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

    // stream-stream interval join is batch-equivalent -> plain range join
    Key("ts17_stream_interval_join", () =>
      """SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id,
        |  epoch_us(p.ts) AS p_ts_us, epoch_us(c.ts) AS c_ts_us
        |FROM events p JOIN events c ON c.user_id = p.user_id
        |  AND p.event_type = 'purchase' AND c.event_type = 'click'
        |  AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts < p.ts
        |ORDER BY purchase_id, click_id""".stripMargin)((s, d) =>
      graft.streaming.Streams.intervalJoinStream(s, d)
        .orderBy("purchase_id", "click_id")),

    Key("ts18_ewma", () =>
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
        |ORDER BY user_id, ts_us, event_id""".stripMargin)((s, d) =>
      TimeSeries.ewma(ev(s, d).select("user_id", "ts", "event_id", "value"),
          "user_id", "ts", "event_id", "value", 0.5, 3)
        .orderBy("user_id", "ts_us", "event_id")),

    Key("ts19_zscore", () =>
      """WITH st AS (SELECT event_type,
        |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS mean,
        |    CAST(sum(CAST(value * value AS DECIMAL(28,6))) AS DOUBLE) / count(*) AS ex2
        |  FROM events GROUP BY 1)
        |SELECT e.event_id, e.event_type, e.value,
        |  round((e.value - st.mean) / sqrt(st.ex2 - st.mean * st.mean), 6) AS z
        |FROM events e JOIN st USING (event_type)
        |WHERE sqrt(st.ex2 - st.mean * st.mean) > 0
        |  AND abs(round((e.value - st.mean) / sqrt(st.ex2 - st.mean * st.mean), 6)) >= 2.5
        |ORDER BY event_id""".stripMargin)((s, d) =>
      TimeSeries.zscoreAnomalies(ev(s, d), "event_type", "event_id", "value", 2.5)
        .orderBy("event_id")),

    Key("ts20_twa", () =>
      s"""WITH i AS (SELECT user_id, event_id, epoch_us(ts) AS us, value FROM events
         |  WHERE ts >= TIMESTAMP '$T1' AND ts < TIMESTAMP '$T2'),
         |wt AS (SELECT user_id, value,
         |    coalesce(lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id),
         |             epoch_us(TIMESTAMP '$T2')) - us AS w
         |  FROM i)
         |SELECT user_id, count(*) AS n_events,
         |  round(CAST(sum(CAST(value * w AS DECIMAL(28,6))) AS DOUBLE)
         |        / CAST(sum(w) AS BIGINT), 6) AS twa
         |FROM wt GROUP BY 1 ORDER BY user_id""".stripMargin)((s, d) =>
      TimeSeries.timeWeightedAvg(ev(s, d), "user_id", "ts", "event_id", "value",
          ts(T1), ts(T2))
        .orderBy("user_id")),

    // seasonal-naive anomaly profile (NEW r14): per (series,
    // hour-of-day) decimal-exact baseline + ≥3σ recount — ts19's
    // z-score machinery applied per seasonal slot; the slot table is
    // ≤ series×24 rows and broadcasts back onto the scan
    // ts19's decimal-exact mean/E[x²] applied per (series,
    // hour-of-day) seasonal slot; the z-guard and the 6-dp rounding
    // mirror the Spark expressions operand for operand
    Key("ts31_seasonal_anomaly", () =>
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
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)((s, d) =>
      TimeSeries.seasonalAnomalies(ev(s, d), "event_type", "ts", "value", 3.0)),

    // CUSUM drift ranking (NEW r14): per-user max drawup of the
    // centered cumulative sum (Page's change-detection statistic as a
    // ranking), integer micro-units after the decimal-exact mean; the
    // top-k never leaves TakeOrdered
    // integer micro-unit deviations BEFORE the running sums, so the
    // cumulative path / prefix-min / drawup are exact int64 on both
    // engines; top-20 by (drift DESC, user_id) is a total order
    Key("ts32_cusum_drift", () =>
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
        |ORDER BY drift DESC, user_id LIMIT 20""".stripMargin)((s, d) =>
      TimeSeries.cusumDrift(ev(s, d), "user_id", "ts", "event_id", "value", 20)),

    // seasonality-strength variance ratio (NEW r14): ts31's slot
    // moments rolled up to 1 − SS_resid/SS_total per series; per-slot
    // residuals micro-quantized before the cross-slot sum
    // ts31's slot moments rolled up per series; per-slot residual
    // contributions micro-quantized BEFORE the cross-slot sum so the
    // report is partitioning-independent on both engines
    Key("ts33_seasonal_strength", () =>
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
        |FROM t ORDER BY event_type""".stripMargin)((s, d) =>
      TimeSeries.seasonalStrength(ev(s, d), "event_type", "ts", "value")),

    // heartbeat/SLA uptime report (NEW r14): 12h expected cadence,
    // outages when a gap exceeds 2·expected, downtime = µs beyond
    // cadence — exact int64 until the one rounded uptime ratio
    // exact int64 µs gaps off one lag window; outage/downtime in
    // CASE form so the first row's NULL gap contributes 0 on both
    // engines; one rounded uptime ratio
    Key("ts34_heartbeat_gaps", () =>
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
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin)((s, d) =>
      TimeSeries.heartbeatGaps(ev(s, d), "user_id", "ts", "event_id",
        43200000000L)),

    // lag-{1,2,3} autocorrelation per user (NEW r14): the regularity
    // diagnostic completing ts31-33's decomposition — decimal-exact
    // mean, milli-quantized deviations, exact decimal product sums;
    // keyed on the high-cardinality user column (window parallel by
    // construction), one window + two key-sized aggregates
    // decimal-exact mean, milli-quantized deviations, exact HUGEINT
    // product sums — tail leads contribute 0 via CASE on both engines
    Key("ts35_acf", () =>
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
        |FROM agg ORDER BY user_id""".stripMargin)((s, d) =>
      TimeSeries.acf(ev(s, d), "user_id", "ts", "event_id", "value", 3)),

    // STREAMING HyperLogLog: the stream carries only the register
    // table (state = days x 16, constant at any event volume);
    // registers max-merge so the drain provably equals the batch
    // build and s1's oracle shape validates it verbatim
    // same register/finalize math as s1 — the streaming drain is
    // provably batch-equal (max/count merge), so one oracle shape
    // serves both
    Key("ts27_stream_hll", () => hllDaily)((s, d) =>
      graft.streaming.Streams.hllDistinctStream(s, d)),

    // STREAMING KMV bottom-k distinct: the set-union-truncate third
    // of the mergeable-sketch trio — state = 128 longs per day at any
    // event volume, drained sample supports s3-style set algebra
    // streaming KMV drain == the batch bottom-k sketch (spec-pinned),
    // so the per-day theta estimate is oracle-checkable verbatim
    Key("ts29_stream_kmv", () =>
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
        |ORDER BY day""".stripMargin)((s, d) =>
      graft.streaming.Streams.kmvDistinctStream(s, d, k = KmvK)),

    // STREAMING Count-Min: ts27's sum-merged sibling — the stream
    // folds into a 4x64 counter grid (256 cells of state at any
    // volume); drain provably equals the batch grid, s2's oracle
    // validates the report verbatim
    // streaming CMS drain == batch grid (sum-merge), so s2's SQL
    // validates the streaming report verbatim
    Key("ts28_stream_cms", () => cmsTopk)((s, d) =>
      graft.streaming.Streams.cmsTopKStream(s, d)),
  )
}
