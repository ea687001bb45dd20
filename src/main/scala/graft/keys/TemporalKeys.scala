package graft.keys

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.temporal.Temporal

import Shared._

/** t-keys: the temporal core (as-of, history, rollback, diff, SCD2,
  * bitemporal, retention). The `events` table plays the reference's
  * `temporal_records` (reference app/models.py:7-24): user_id ≈
  * record_id, ts ≈ timestamp, (event_type, value, props) ≈ data. */
object TemporalKeys {
  // t13's transaction-time cutoff: state as known after the first 500
  // appends (event_id is the monotone ingest sequence)
  private val KnownAtSeq = 500L
  // t14's weekly as-of checkpoints (events span 2024-01-01 .. 01-30)
  private val TrendTs = Seq("2024-01-08 00:00:00", "2024-01-15 00:00:00",
    "2024-01-22 00:00:00", "2024-01-29 00:00:00")

  /** Shared by t4/t8: wide-schema state diff between T1 and T2. */
  private def changesDf(s: SparkSession, d: String): DataFrame = {
    val withK = ev(s, d).withColumn("k", get_json_object(col("props"), "$.k"))
      .select("user_id", "ts", "event_id", "event_type", "value", "k")
    Temporal.changesBetween(withK, "user_id", "ts", "event_id",
      ts(T1), ts(T2), Seq("event_type", "value", "k"))
      .select("user_id", "event_type_from", "event_type_to",
        "value_from", "value_to", "k_from", "k_to", "changed_fields")
  }

  private def asofState =
    s"""SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type, value, props
       |FROM events WHERE ts <= TIMESTAMP '$T'
       |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1""".stripMargin

  private def changes =
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

  val keys: Seq[Key] = Seq(
    Key("t1_asof_snapshot", () => s"$asofState\nORDER BY user_id")((s, d) =>
      Temporal.asOf(ev(s, d), "user_id", "ts", "event_id", ts(T))
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), col("event_type"), col("value"), col("props"))
        .orderBy("user_id")),

    Key("t2_version_history", () =>
      s"""SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type, value,
         |  'v' || rn AS version,
         |  CASE WHEN rn = 1 THEN NULL ELSE 'v' || (rn - 1) END AS previous_version
         |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
         |      FROM events WHERE user_id = $RecId)
         |ORDER BY ts_us, event_id""".stripMargin)((s, d) =>
      Temporal.history(ev(s, d), "user_id", "ts", "event_id", lit(RecId))
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_type"), col("value"), col("version"), col("previous_version"))
        .orderBy("ts_us", "event_id")),

    Key("t3_asof_lookup", () =>
      s"""SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type, value, props
         |FROM events WHERE ts <= TIMESTAMP '$T' AND user_id = $RecId
         |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1""".stripMargin)((s, d) =>
      Temporal.asOf(ev(s, d).filter(col("user_id") === RecId),
          "user_id", "ts", "event_id", ts(T))
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), col("event_type"), col("value"), col("props"))),

    Key("t4_compare_diff", () => s"$changes AND user_id = $RecId")((s, d) => changesDf(s, d).filter(col("user_id") === RecId)),

    Key("t5_rollback_set", () =>
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
         |ORDER BY aff.user_id""".stripMargin)((s, d) =>
      Temporal.rollbackSet(ev(s, d), "user_id", "ts", "event_id", ts(T))
        .select(col("user_id"), col("n_after"), col("action"),
          col("event_id").as("restore_event_id"),
          unix_micros(col("ts")).as("restore_ts_us"),
          col("event_type").as("restore_event_type"),
          col("value").as("restore_value"))
        .orderBy("user_id")),

    // record_ids is the BOUNDED sample of the 100 smallest affected ids
    // (string_agg skips the NULLed rows past rank 100); affected_records
    // stays the exact distinct count — mirrors rollbackLog(sampleK = 100)
    Key("t6_rollback_log", () =>
      s"""WITH r AS (SELECT DISTINCT user_id FROM events WHERE ts > TIMESTAMP '$T'),
         |n AS (SELECT user_id, row_number() OVER (ORDER BY user_id) AS rn FROM r)
         |SELECT count(*) AS affected_records,
         |  string_agg(CASE WHEN rn <= 100 THEN CAST(user_id AS VARCHAR) END,
         |             ',' ORDER BY user_id) AS record_ids
         |FROM n""".stripMargin)((s, d) =>
      Temporal.rollbackLog(ev(s, d), "user_id", "ts", ts(T))),

    Key("t7_version_stats", () =>
      s"""SELECT user_id, count(*) AS n_versions, epoch_us(min(ts)) AS first_us,
         |  epoch_us(max(ts)) AS last_us,
         |  epoch_us(max(ts)) - epoch_us(min(ts)) AS lifespan_us
         |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)((s, d) =>
      Temporal.versionStats(ev(s, d), "user_id", "ts")
        .select(col("user_id"), col("n_versions"),
          unix_micros(col("first_ts")).as("first_us"),
          unix_micros(col("last_ts")).as("last_us"),
          (unix_micros(col("last_ts")) - unix_micros(col("first_ts"))).as("lifespan_us"))
        .orderBy("user_id")),

    Key("t8_changes_between", () => s"$changes\nORDER BY user_id")((s, d) => changesDf(s, d).orderBy("user_id")),

    // snapshot+delta replay ≡ plain AS-OF at T
    Key("t9_snapshot_reconstruct", () => s"$asofState\nORDER BY user_id")((s, d) =>
      Temporal.snapshotReconstruct(ev(s, d), "user_id", "ts", "event_id",
          ts("2024-01-15 00:00:00"), ts(T))
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), col("event_type"), col("value"), col("props"))
        .orderBy("user_id")),

    // CDC framing of the state delta: I/U/D per record
    Key("t10_cdc_diff", () =>
      s"""SELECT user_id,
         |  CASE WHEN event_type_from IS NULL AND value_from IS NULL THEN 'I'
         |       WHEN event_type_to IS NULL AND value_to IS NULL THEN 'D'
         |       ELSE 'U' END AS op,
         |  event_type_from, event_type_to, value_from, value_to, changed_fields
         |FROM ($changes)
         |ORDER BY user_id""".stripMargin)((s, d) =>
      changesDf(s, d)
        .withColumn("op",
          when(col("event_type_from").isNull && col("value_from").isNull, lit("I"))
            .when(col("event_type_to").isNull && col("value_to").isNull, lit("D"))
            .otherwise(lit("U")))
        .select("user_id", "op", "event_type_from", "event_type_to",
          "value_from", "value_to", "changed_fields")
        .orderBy("user_id")),

    Key("t11_asof_interp", () =>
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
         |ORDER BY user_id""".stripMargin)((s, d) =>
      Temporal.asOfInterpolate(
          ev(s, d).select("user_id", "ts", "event_id", "value"),
          "user_id", "ts", "event_id", "value", ts(T))
        .orderBy("user_id")),

    // as-of trend: the value metric aggregated over every record's
    // state as of each of 4 weekly checkpoints — ONE scan + ONE
    // key-shuffle for all four (conditional max-aggregates), not
    // four as-of scans
    Key("t14_asof_trend", () =>
      s"""WITH pts AS (SELECT unnest([${TrendTs.map(t => s"'${t.substring(0, 10)}'").mkString(", ")}]) AS checkpoint),
         |av AS (SELECT p.checkpoint, e.user_id, e.value,
         |    row_number() OVER (PARTITION BY p.checkpoint, e.user_id
         |      ORDER BY e.ts DESC, e.event_id DESC) AS rn
         |  FROM events e JOIN pts p ON e.ts <= (p.checkpoint || ' 00:00:00')::TIMESTAMP)
         |SELECT checkpoint, count(*) AS n_records,
         |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
         |  round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS avg_value
         |FROM av WHERE rn = 1 GROUP BY checkpoint ORDER BY checkpoint""".stripMargin)((s, d) =>
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
    // the PAIRWISE formulation (scd2 x scd2 interval-overlap join) —
    // deliberately a different derivation than the Spark window
    // sweep; chains being contiguous makes them provably equal
    Key("t15_interval_align", () =>
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
        |ORDER BY user_id, iv_from_us, a_version, b_version""".stripMargin)((s, d) =>
      Temporal.intervalAlign(
          ev(s, d).select("user_id", "ts", "event_id", "event_type", "value"),
          "user_id", "ts", "event_id",
          col("event_type") === "click", col("event_type") === "view", "value")
        .orderBy("user_id", "iv_from_us", "a_version", "b_version")),

    // state-duration report: each version's validity interval
    // attributed to its event_type state, per-state dwell totals +
    // share of observed time — one lead() shuffle + a broadcast
    // grand-total scalar
    Key("t16_state_durations", () =>
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
        |FROM a ORDER BY event_type""".stripMargin)((s, d) =>
      Temporal.stateDurations(
        ev(s, d).select("user_id", "ts", "event_id", "event_type"),
        "user_id", "ts", "event_id", "event_type")),

    // retention-policy plan (NEW r14): pre-cutoff versions compact to
    // the single latest carrier per key (dropping it would break every
    // post-cutoff AS-OF), the reclaim report a TimescaleDB-style TTL
    // policy publishes before drop_chunks; one conditional aggregate
    // pre-cutoff versions compact to the single latest carrier per
    // key; conditional counts + a conditional max, one rounded ratio
    Key("t17_ttl_compaction", () =>
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
         |FROM b ORDER BY user_id""".stripMargin)((s, d) =>
      Temporal.ttlCompaction(ev(s, d), "user_id", "ts", ts(T1))),

    // the reconciliation audit of the two: t17's planned retained
    // count per key vs the actual row count of t18's output
    // t19: t17's planned retained count reconciled against t18's
    // actual output rows, per key
    Key("t19_retention_audit", () =>
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
         |FROM p JOIN act USING (user_id) ORDER BY p.user_id""".stripMargin)((s, d) =>
      Temporal.retentionAudit(
        ev(s, d).select("user_id", "ts", "event_id", "event_type", "value"),
        "user_id", "ts", "event_id", ts(T1))),

    // the physical reclaim of t17's plan: post-cutoff versions verbatim
    // + per key the latest pre-cutoff version (the AS-OF carrier) —
    // asOf(vacuumed, t) == asOf(full, t) for all t >= cutoff
    // t18: post-cutoff rows verbatim + the per-key latest pre-cutoff
    // carrier — the retained set a vacuum rewrite keeps
    Key("t18_vacuum", () =>
      s"""WITH live AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
         |    event_type, value, 'LIVE' AS row_kind
         |  FROM events WHERE ts >= TIMESTAMP '$T1'),
         |carrier AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
         |    event_type, value, 'CARRIER' AS row_kind
         |  FROM events WHERE ts < TIMESTAMP '$T1'
         |  QUALIFY row_number() OVER (PARTITION BY user_id
         |    ORDER BY ts DESC, event_id DESC) = 1)
         |SELECT * FROM live UNION ALL SELECT * FROM carrier
         |ORDER BY user_id, ts_us, event_id""".stripMargin)((s, d) =>
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
    Key("t13_bitemporal", () =>
      s"""WITH k AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type, value
         |  FROM events WHERE ts <= TIMESTAMP '$T' AND event_id <= $KnownAtSeq
         |  QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1),
         |c AS (SELECT user_id, event_id FROM events WHERE ts <= TIMESTAMP '$T'
         |  QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1)
         |SELECT k.user_id, k.ts_us, k.event_id, k.event_type, k.value,
         |  c.event_id AS current_event_id, (k.event_id <> c.event_id) AS revised
         |FROM k JOIN c USING (user_id) ORDER BY user_id""".stripMargin)((s, d) =>
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
    Key("t12_scd2", () =>
      """SELECT user_id, version, event_id, valid_from_us, valid_to_us,
        |  (valid_to_us IS NULL) AS is_current, event_type, value
        |FROM (SELECT user_id, event_id, event_type, value,
        |    row_number() OVER w AS version,
        |    epoch_us(ts) AS valid_from_us,
        |    epoch_us(lead(ts) OVER w) AS valid_to_us
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |ORDER BY user_id, version""".stripMargin)((s, d) =>
      Temporal.scd2(ev(s, d), "user_id", "ts", "event_id")
        .select(col("user_id"), col("version"), col("event_id"),
          unix_micros(col("ts")).as("valid_from_us"),
          unix_micros(col("valid_to")).as("valid_to_us"),
          col("is_current"), col("event_type"), col("value"))
        .orderBy("user_id", "version")),
  )
}
