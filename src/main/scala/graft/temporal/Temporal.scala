package graft.temporal

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StringType}

/** Spark-native re-expression of the reference's temporal-database core
  * (TemporalVault, reference app/main.py + app/models.py).
  *
  * The reference stores an append-only version chain per `record_id` in
  * PostgreSQL and answers time-travel reads with B-tree index scans
  * (reference app/models.py:22 `idx_record_timestamp`). Here the chain is
  * a parquet-backed DataFrame and every endpoint is a declarative plan:
  *
  *  - AS-OF read  → one hash-shuffle on the record key with map-side
  *    partial `max_by` aggregation (no window sort needed when only the
  *    latest version is wanted). At 100 TB this collapses each scan
  *    partition before the exchange — the shuffle carries ≤ one row per
  *    (key, partition).
  *  - version numbering / history → a single `Window.partitionBy(key)`
  *    (same one shuffle, then a per-key sort that AQE sizes).
  *  - rollback → never rewrites in place: emits the compensation rows to
  *    append (reference does in-place UPDATE, main.py:208; append-only is
  *    the scalable equivalent and preserves the audit chain).
  *
  * All methods are generic over (key, ts, tie-break) so any versioned
  * table works; the test tables use events(user_id, ts, event_id).
  */
object Temporal {

  /** Latest row per `key` with `ts <= at` — the reference's
    * `GET /query?timestamp=` (app/main.py:100-151) over all records.
    * `tie` breaks equal timestamps deterministically (append sequence).
    */
  def asOf(df: DataFrame, key: String, ts: String, tie: String, at: Column): DataFrame = {
    val others = df.columns.filterNot(_ == key)
    val payload = struct(others.map(col): _*)
    // Kept ONE-PASS deliberately (r18 measured negative): the
    // changesBetween-style two-phase (hash-agg max(ts) + join back)
    // LOSES here at both scales — asOf emits the whole payload for
    // every key, so the join back exchanges the entire wide base,
    // while the SortAggregate's map-side partial collapses to
    // keys x partitions rows before its exchange; nested consumers
    // (snapshotReconstruct) additionally re-plan the input per join
    // side. sf1 A/B: t1 0.32 -> 0.67, t3 0.24 -> 0.42,
    // t9 0.54 -> 0.89 under two-phase. changesBetween differs: its
    // output is filtered to changed keys and its payload is three
    // narrow fields.
    df.filter(col(ts) <= at)
      .groupBy(col(key))
      .agg(max_by(payload, struct(col(ts), col(tie))).as("__s"))
      .select(col(key) +: others.map(c => col(s"__s.$c").as(c)): _*)
  }

  /** Interpolated as-of read: state at `at` as the linear interpolation
    * between the latest version ≤ `at` and the earliest version > `at`
    * (the TimescaleDB `interpolate()` flavor of the reference's
    * GET /query). Like `asOf`, a SINGLE conditional-aggregate shuffle
    * on the key — both bracketing versions come out of one pass (max of
    * a (ts, tie, value) struct below the cut, min above), so there is
    * no second scan and no join. Keys with no version ≤ `at` are
    * absent; keys with nothing after it hold their last value. */
  def asOfInterpolate(df: DataFrame, key: String, ts: String, tie: String,
                      value: String, at: Column): DataFrame = {
    val atUs = unix_micros(at)
    val tsUs = unix_micros(col(ts))
    val point = struct(tsUs.as("us"), col(tie).as("tie"),
      col(value).cast("double").as("v"))
    df.groupBy(col(key))
      .agg(
        max(when(col(ts) <= at, point)).as("__p"),
        min(when(col(ts) > at, point)).as("__n"))
      .filter(col("__p").isNotNull)
      .select(col(key),
        col("__p.us").as("t0"), col("__p.v").as("v0"),
        col("__n.us").as("t1"), col("__n.v").as("v1"),
        round(when(col("__n").isNull, col("__p.v"))
          .otherwise(col("__p.v") + (col("__n.v") - col("__p.v")) *
            ((atUs - col("__p.us")).cast("double") / (col("__n.us") - col("__p.us")))),
          6).as("v_interp"))
  }

  /** Version chain with reference-style version labels: `vN` in append
    * order per key plus `previous_version` (app/main.py:79-86 assigns
    * v{latest+1} and links the predecessor).
    */
  def versioned(df: DataFrame, key: String, ts: String, tie: String): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(ts), col(tie))
    df.withColumn("__rn", row_number().over(w))
      .withColumn("version", concat(lit("v"), col("__rn")))
      .withColumn(
        "previous_version",
        when(col("__rn") === 1, lit(null).cast("string"))
          .otherwise(concat(lit("v"), col("__rn") - 1)))
      .drop("__rn")
  }

  /** Full history of one record, versioned — the reference's compare
    * default range / record timeline. */
  def history(df: DataFrame, key: String, ts: String, tie: String, id: Column): DataFrame =
    versioned(df.filter(col(key) === id), key, ts, tie)

  /** AS-OF TREND: a metric aggregated over every record's state as of
    * EACH of k checkpoints — "how did total portfolio value / record
    * count develop week over week", reconstructed from the version
    * chain. The naive plan is k independent as-of scans; this is ONE
    * scan and ONE key-shuffle computing all k bracketing versions as
    * conditional max-aggregates (the [[asOfInterpolate]] trick, k-wide),
    * then a tiny explode+re-aggregate over the per-key row. At 100 TB
    * the scan dominates — k checkpoints for the price of one pass.
    *
    * Returns (checkpoint, n_records, total_value, avg_value), one row
    * per checkpoint; `value` sums through DECIMAL for cross-engine
    * exactness. */
  def asOfTrend(df: DataFrame, key: String, ts: String, tie: String,
                value: String, ats: Seq[(String, Column)]): DataFrame = {
    val aggs = ats.map { case (label, at) =>
      max(when(col(ts) <= at,
        struct(col(ts), col(tie),
          col(value).cast("decimal(18,6)").as("v")))).as(s"__$label")
    }
    val perKey = df.groupBy(col(key)).agg(aggs.head, aggs.tail: _*)
    perKey
      .select(col(key), explode(array(ats.map { case (label, _) =>
        struct(lit(label).as("checkpoint"), col(s"__$label.v").as("v"))
      }: _*)).as("__s"))
      .select(col(key), col("__s.checkpoint").as("checkpoint"), col("__s.v").as("__v"))
      .filter(col("__v").isNotNull)
      .groupBy(col("checkpoint"))
      .agg(
        count(lit(1)).as("n_records"),
        sum(col("__v")).cast("double").as("total_value"))
      .withColumn("avg_value",
        round(col("total_value") / col("n_records"), 6))
  }

  /** BITEMPORAL as-of: state at VALID time `at` as KNOWN at system
    * version `knownAt`. The reference's append-only chain gives every
    * version a monotone ingest sequence (`tie`) — that sequence IS the
    * transaction-time axis, so "what did we believe record X's state
    * at T was, back when only the first V appends had arrived" is an
    * audit/reproducibility query the vault can answer without any
    * extra storage. Also surfaces the CURRENT-knowledge answer and a
    * `revised` flag: versions appended after `knownAt` but valid
    * before `at` (late-arriving corrections) made visible.
    *
    * ONE conditional-aggregate shuffle on the key (the
    * [[asOfInterpolate]] trick): both knowledge horizons come out of a
    * single pass — max of a (ts, tie, payload) struct under each
    * predicate — no second scan, no join. */
  def bitemporalAsOf(df: DataFrame, key: String, ts: String, tie: String,
                     at: Column, knownAt: Column): DataFrame = {
    val others = df.columns.filterNot(_ == key)
    val point = struct(col(ts) +: col(tie) +: others.filterNot(c => c == ts || c == tie)
      .map(col): _*)
    df.groupBy(col(key))
      .agg(
        max(when(col(ts) <= at && col(tie) <= knownAt, point)).as("__k"),
        max(when(col(ts) <= at, point)).as("__c"))
      .filter(col("__k").isNotNull)
      .select(col(key) +:
        others.map(c => col(s"__k.$c").as(c)) :+
        col(s"__c.$tie").as(s"current_$tie") :+
        (col(s"__k.$tie") =!= col(s"__c.$tie")).as("revised"): _*)
  }

  /** SCD Type-2 dimension build: the version chain as half-open validity
    * intervals — each version row gains `valid_to` = the next version's
    * timestamp (NULL on the current row) plus `version` and `is_current`.
    * This is the materialized shape warehouses keep temporal dimensions
    * in, and the one the reference's AS-OF read reduces to a range
    * predicate against (`valid_from <= t < valid_to`) instead of a
    * per-key max — the precomputed twin of [[asOf]].
    *
    * One window (the same single key-shuffle as [[versioned]]): lead()
    * and row_number() share the (key × (ts, tie)) sort, so the whole
    * build is one exchange + one per-key sort at any scale. */
  def scd2(df: DataFrame, key: String, ts: String, tie: String): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(ts), col(tie))
    df.withColumn("version", row_number().over(w))
      .withColumn("valid_to", lead(col(ts), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
  }

  /** Per-record version statistics: version count, first/last timestamp —
    * what `GET /compare` derives when start/end are omitted
    * (app/main.py:276-291). */
  def versionStats(df: DataFrame, key: String, ts: String): DataFrame =
    df.groupBy(col(key)).agg(
      count(lit(1)).as("n_versions"),
      min(col(ts)).as("first_ts"),
      max(col(ts)).as("last_ts"))

  /** TTL-compaction plan — the retention-policy report a versioned
    * store publishes before dropping old versions (the reference runs
    * on TimescaleDB, whose `drop_chunks`/retention policies do exactly
    * this by time cutoff): versions BEFORE `cutoff` compact down to
    * the single latest pre-cutoff version per key (the snapshot
    * carrier — dropping it too would break every AS-OF query at or
    * after its timestamp), everything after is retained verbatim.
    * Reports per key the version counts, the carrier's timestamp, how
    * many rows the policy reclaims, and the reclaimed fraction. ONE
    * map-side-partial aggregate over one scan — conditional counts +
    * a conditional max, no window, no second pass — so the plan costs
    * the same whether a key carries 3 versions or 3 billion. */
  def ttlCompaction(df: DataFrame, key: String, ts: String,
                    cutoff: Column): DataFrame =
    df.groupBy(col(key))
      .agg(
        count(lit(1)).as("n_versions"),
        sum(when(col(ts) < cutoff, lit(1L)).otherwise(lit(0L))).as("n_pre"),
        max(when(col(ts) < cutoff, col(ts))).as("__last_pre"),
        sum(when(col(ts) >= cutoff, lit(1L)).otherwise(lit(0L))).as("n_post"))
      .withColumn("kept_pre", when(col("n_pre") > 0, lit(1L)).otherwise(lit(0L)))
      .withColumn("dropped", col("n_pre") - col("kept_pre"))
      .withColumn("retained", col("kept_pre") + col("n_post"))
      .select(col(key), col("n_versions"), col("n_pre"), col("n_post"),
        unix_micros(col("__last_pre")).as("last_pre_us"),
        col("kept_pre"), col("dropped"), col("retained"),
        round(col("dropped") / col("n_versions").cast("double"), 6)
          .as("reclaim_frac"))
      .orderBy(col(key))

  /** VACUUM — the physical reclaim of [[ttlCompaction]]'s plan (the
    * destructive half of the retention story the reference's stack
    * implies: TimescaleDB `drop_chunks` actually deletes, next to
    * `POST /rollback`'s append-only compensation — app/main.py:152):
    * returns the RETAINED version set a rewrite would keep — every
    * post-cutoff version verbatim (row_kind LIVE) plus, per key, the
    * single latest pre-cutoff version (row_kind CARRIER: the AS-OF
    * snapshot carrier; dropping it too would break every AS-OF read
    * at or after its timestamp). By construction
    * asOf(vacuum(df), t) == asOf(df, t) for every t ≥ cutoff — the
    * invariant the spec pins.
    *
    * Shape: the LIVE branch is a map-only filter (no shuffle at all);
    * the CARRIER branch aggregates ONLY the pre-cutoff rows (max_by
    * over the (ts, tie) order, one shuffle of the pre-cutoff slice) —
    * a retention pass over years of history pays one aggregate on the
    * cold slice and a pass-through on the hot one, never a window
    * over the full chain. */
  def vacuum(df: DataFrame, key: String, ts: String, tie: String,
             cutoff: Column): DataFrame = {
    val others = df.columns.filterNot(_ == key)
    val payload = struct(others.map(col): _*)
    val live = df.filter(col(ts) >= cutoff)
      .select(col(key) +: others.map(col): _*)
      .withColumn("row_kind", lit("LIVE"))
    val carrier = df.filter(col(ts) < cutoff)
      .groupBy(col(key))
      .agg(max_by(payload, struct(col(ts), col(tie))).as("__s"))
      .select(col(key) +: others.map(c => col(s"__s.$c").as(c)): _*)
      .withColumn("row_kind", lit("CARRIER"))
    live.unionByName(carrier)
  }

  /** Retention reconciliation AUDIT — the dry-run diff a destructive
    * retention pass publishes before/after running: per key,
    * [[ttlCompaction]]'s PLANNED retained count next to the ACTUAL
    * row count of [[vacuum]]'s output, with a consistency flag. On
    * correct inputs every row reads consistent=true (the spec pins
    * it, and pins a detected inconsistency on a corrupted vacuum
    * output); at 100 TB this is the audit row a pipeline writes to
    * its run log next to rollback_logs. One aggregate per side +
    * one key-sized join.
    *
    * `actualRows` lets the caller audit a PHYSICAL vacuum output
    * (possibly corrupted) instead of the recomputed plan; the join is
    * LEFT with actual_retained coalesced to 0 so a key whose rows
    * vanished entirely reads consistent=false instead of silently
    * dropping out of the audit. */
  def retentionAudit(df: DataFrame, key: String, ts: String, tie: String,
                     cutoff: Column,
                     actualRows: Option[DataFrame] = None): DataFrame = {
    val plan = ttlCompaction(df, key, ts, cutoff)
      .select(col(key), col("n_versions"), col("dropped"), col("retained"))
    val actual = actualRows.getOrElse(vacuum(df, key, ts, tie, cutoff))
      .groupBy(col(key)).agg(count(lit(1)).as("__ar"))
    plan.join(actual, Seq(key), "left")
      .withColumn("actual_retained", coalesce(col("__ar"), lit(0L)))
      .drop("__ar")
      .withColumn("consistent", col("retained") === col("actual_retained"))
      .orderBy(col(key))
  }

  /** The reference's `POST /rollback` (app/main.py:152-247) as a pure,
    * append-only computation: for every record with versions after `at`,
    * the state to restore (its AS-OF `at` row) or a DELETE marker if the
    * record did not exist at `at`. The caller appends these as new
    * versions; nothing is rewritten in place.
    *
    * Returns (key, n_after, action RESTORE|DELETE, restore payload cols).
    */
  def rollbackSet(df: DataFrame, key: String, ts: String, tie: String, at: Column): DataFrame = {
    val others = df.columns.filterNot(_ == key)
    val payload = struct(others.map(col): _*)
    // ONE scan + ONE shuffle: the after-count and the restore state are
    // two conditional aggregates over the same grouping (max_by ignores
    // rows whose ordering key is null, i.e. versions after `at`).
    df.groupBy(col(key))
      .agg(
        count(when(col(ts) > at, 1)).as("n_after"),
        max_by(payload, when(col(ts) <= at, struct(col(ts), col(tie)))).as("__s"))
      .filter(col("n_after") > 0)
      .select(col(key) +: col("n_after") +: others.map(c => col(s"__s.$c").as(c)): _*)
      .withColumn("action",
        when(col(ts).isNull, lit("DELETE")).otherwise(lit("RESTORE")))
  }

  /** Rollback audit aggregate — the content the reference writes to
    * `rollback_logs` (app/main.py:169-186): affected-record count and the
    * sorted id list. Emitted as one row; ids as a comma-joined string so
    * the artifact is engine-portable.
    *
    * `affected_records` is the EXACT distinct count; `record_ids` is a
    * BOUNDED sample (the `sampleK` smallest ids, via the native
    * CollectMinK aggregate) — a rollback touching billions of records
    * must not materialize a multi-GB id string in the one final-merge
    * task. Every aggregation buffer (map-side partial, shuffle row,
    * final merge) stays ≤ sampleK entries. Same treatment as
    * `Dedup.exact`'s `doc_ids`; the vault's audit row is the same
    * [[auditRow]]. */
  def rollbackLog(df: DataFrame, key: String, ts: String, at: Column,
                  sampleK: Int = 100): DataFrame =
    auditRow(df.filter(col(ts) > at).select(col(key)).distinct(), key, sampleK)

  /** The one rollback audit aggregate, over one row per affected key:
    * (`affected_records` exact count, `record_ids` = the `sampleK`
    * smallest keys in KEY order, comma-joined). CollectMinK orders
    * BIGINT and STRING only, so an integral key widens to bigint (ids
    * 9, 10 list as "9,10", not the string order "10,9") and any other
    * key orders as its string. */
  def auditRow(affected: DataFrame, key: String, sampleK: Int): DataFrame = {
    val ordered = affected.schema(key).dataType match {
      case LongType | StringType => col(key)
      case ByteType | ShortType | IntegerType => col(key).cast(LongType)
      case _ => col(key).cast(StringType)
    }
    affected.agg(
      count(lit(1)).as("affected_records"),
      concat_ws(",",
        graft.dedup.Dedup.collectMinK(ordered, sampleK).cast("array<string>"))
        .as("record_ids"))
  }

  /** Temporal ALIGNMENT join of two version chains over the same key
    * (the adjust/align primitive of temporal-database algebra, e.g.
    * Dignös et al., SIGMOD'12): the piecewise intervals during which
    * BOTH chains had a valid state, each interval carrying both states.
    * This is the join the reference's `GET /compare` generalizes to —
    * "what did record X's A-attribute and B-attribute look like,
    * simultaneously, over time".
    *
    * The naive plan is scd2(A) ⋈ scd2(B) with an interval-overlap
    * predicate — an equi-join on the key whose post-filter work is
    * |A_k|·|B_k| candidate pairs per key (quadratic in chain length).
    * Because SCD2 chains are CONTIGUOUS (each version's valid_to is the
    * next version's valid_from), every alignment boundary is some
    * version's start — so the whole join collapses to ONE window sweep
    * over the interleaved rows: running last-state per chain + lead()
    * for the segment end, all sharing a single (key × (ts, tie)) sort.
    * One shuffle, O(n log n) per key, no pairwise blow-up. The pairwise
    * formulation is kept as the DuckDB oracle — the two derivations
    * agreeing is the correctness argument.
    *
    * `isA` / `isB` pick the two chains out of `df` (rows matching
    * neither are dropped); `value` is the per-version state. Output:
    * (key, iv_from_us, iv_to_us·nullable-open, a_version, a_value,
    * b_version, b_value); zero-length intervals (equal-ts boundaries)
    * are dropped on both sides. */
  def intervalAlign(df: DataFrame, key: String, ts: String, tie: String,
                    isA: Column, isB: Column, value: String): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(ts), col(tie))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // state payload wrapped in a struct so last(ignoreNulls) tracks the
    // chain (a genuinely-null state value must not be skipped over)
    df.filter(isA || isB).withColumn("__a", isA)
      .withColumn("a_version", sum(when(col("__a"), 1L)).over(wRun))
      .withColumn("b_version", sum(when(!col("__a"), 1L)).over(wRun))
      .withColumn("__av",
        last(when(col("__a"), struct(col(value).as("v"))), ignoreNulls = true).over(wRun))
      .withColumn("__bv",
        last(when(!col("__a"), struct(col(value).as("v"))), ignoreNulls = true).over(wRun))
      .withColumn("__to", lead(col(ts), 1).over(w))
      .filter(col("a_version").isNotNull && col("b_version").isNotNull &&
        (col("__to").isNull || col(ts) < col("__to")))
      .select(col(key),
        unix_micros(col(ts)).as("iv_from_us"),
        unix_micros(col("__to")).as("iv_to_us"),
        col("a_version"), col("__av.v").as("a_value"),
        col("b_version"), col("__bv.v").as("b_value"))
  }

  /** State-duration (dwell-time) report from the version chain: how
    * long records spend in each state — each version's validity
    * interval ([[scd2]]'s [ts, next ts)) attributed to its `state`
    * column, rolled up per state: interval count, total/mean dwell
    * micros, and each state's share of all observed time. Open tails
    * (the current state, unbounded) are excluded — that's the as-of
    * report's job. One key-shuffle for the lead() + one small
    * aggregation; the grand total joins back as a broadcast scalar. */
  def stateDurations(df: DataFrame, key: String, ts: String, tie: String,
                     state: String): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(ts), col(tie))
    val agg = df.withColumn("__to", lead(col(ts), 1).over(w))
      .filter(col("__to").isNotNull)
      .select(col(state),
        (unix_micros(col("__to")) - unix_micros(col(ts))).as("dur_us"))
      .groupBy(col(state))
      .agg(count(lit(1)).as("n_intervals"),
        sum(col("dur_us")).cast("long").as("total_us"))
    // grand total via a global window over the states-sized aggregate
    // (bounded by construction — one row per state): the scalar-agg +
    // crossJoin form re-planned the whole scan→window→agg chain for
    // the total (2 input scans, duplicated exchanges)
    val wAll = graft.util.BoundedWindows.globalAgg("<= one row per state")
    agg
      .withColumn("__t", sum(col("total_us")).over(wAll).cast("long"))
      .select(col(state), col("n_intervals"), col("total_us"),
        round(col("total_us").cast("double") / col("n_intervals"), 6).as("avg_us"),
        round(col("total_us").cast("double") / col("__t"), 6).as("time_share"))
      .orderBy(state)
  }

  /** Snapshot + delta-replay read — the reference's `Snapshot` table
    * (app/models.py:27-37) semantics: the state at `at` is the last full
    * snapshot at-or-before `at` plus a replay of the later deltas. At
    * 100 TB this is the point of snapshots: the replay scan touches only
    * partitions in (snapAt, at] (partition pruning on the ts column)
    * instead of the whole history. Result ≡ `asOf(df, at)`.
    */
  def snapshotReconstruct(df: DataFrame, key: String, ts: String, tie: String,
                          snapAt: Column, at: Column): DataFrame = {
    val snapshot = asOf(df, key, ts, tie, snapAt)
    val delta = df.filter(col(ts) > snapAt && col(ts) <= at)
    asOf(snapshot.unionByName(delta), key, ts, tie, at)
  }

  /** State delta between two timestamps across all records — generalizes
    * the reference's single-record `GET /compare` (app/main.py:267-345).
    * Output: key, each payload field as `<f>_from` / `<f>_to`, plus
    * `changed_fields` (comma-joined names whose values differ, the
    * reference's `changes` dict keys). Records absent at one side appear
    * with nulls on that side (created/deleted between the timestamps).
    */
  def changesBetween(
      df: DataFrame, key: String, ts: String, tie: String,
      from: Column, to: Column, fields: Seq[String]): DataFrame = {
    // ONE scan + ONE shuffle (not two AS-OF passes + a join): both
    // states are conditional max_by aggregates over the same grouping;
    // append-only means exists-at-`from` ⊆ exists-at-`to`, so filtering
    // the scan to ts <= `to` loses nothing and reaches the parquet
    // reader as a pushed predicate.
    val payload = struct(fields.map(col): _*)
    val ord = struct(col(ts), col(tie))
    // r18 two-phase (see [[asOf]]): per-key max(ts) per side as a
    // HashAggregate, join back, conditional max_by over the tied
    // residue. __ma <= `from` by construction, so rows with
    // ts <= __ma in the residue are exactly the from-side argmax
    // candidates (a NULL __ma — no from-side rows — NULLs the
    // ordering and max_by returns NULL, as before).
    val base = df.filter(col(ts) <= to)
    val mx = base.groupBy(col(key))
      .agg(max(when(col(ts) <= from, col(ts))).as("__ma"),
        max(col(ts)).as("__mb"))
    val agged = base.join(mx, Seq(key))
      .filter(col(ts) === col("__ma") || col(ts) === col("__mb"))
      .groupBy(col(key))
      .agg(
        max_by(payload, when(col(ts) <= col("__ma"), ord)).as("__a"),
        max_by(payload, ord).as("__b"))
    val changed = fields.map { f =>
      when(not(col(s"__a.$f") <=> col(s"__b.$f")), lit(f))
    }
    agged.select(
        col(key) +:
          (fields.map(f => col(s"__a.$f").as(s"${f}_from")) ++
           fields.map(f => col(s"__b.$f").as(s"${f}_to")) :+
           concat_ws(",", array(changed: _*)).as("changed_fields")): _*)
      .filter(col("changed_fields") =!= "")
  }
}
