package graft.temporal

import scala.collection.mutable
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** User-facing façade over a durable temporal store — the drop-in
  * equivalent of the reference's API surface (reference app/main.py):
  *
  *   reference                      | here
  *   -------------------------------+--------------------------------
  *   POST /records                  | `append(batch)`
  *   GET  /query?timestamp=T        | `query(T)` / `query(T, recordId)`
  *   POST /rollback                 | `rollback(at, rollbackTs)`
  *   GET  /rollback/history         | `rollbackHistory`
  *   GET  /compare                  | `compare(recordId, t1, t2, fields)`
  *   Snapshot table                 | `writeSnapshot(T)` + snapshot-aware reads
  *
  * Storage model: an append-only parquet log under `root/log/` with an
  * internal `_op` column (I=insert/new version, R=rollback-restore,
  * D=rollback-tombstone), optional full-state snapshots under
  * `root/snapshot/at=<ISO instant>/`, and a rollback audit log under
  * `root/rollback_log/`. The reference rewrites rows in place on
  * rollback (app/main.py:208); here rollback appends compensation
  * versions — the scalable, audit-preserving equivalent (object stores
  * don't update in place, and concurrent readers never see torn state).
  *
  * At 100 TB the log is written partitioned by a time bucket of `ts`
  * (AS-OF reads prune partitions via the pushed-down range predicate)
  * and compacted by snapshot: `writeSnapshot` materializes a state,
  * after which reads replay only `last snapshot + log tail`.
  *
  * Batches carry the reference `TemporalRecord`'s fixed columns
  * (`record_id`, `ts` timestamp, `seq` long tie-break; the constants
  * on the companion) plus any payload columns. `clock` is the cache's
  * time source (its TTL test seam).
  *
  * One query-result cache (the reference's Redis layer): AS-OF states
  * persisted per instant, bounded by a TTL and an LRU cap, and dropped
  * by a write exactly where it changes them.
  *
  * Times: any string Spark's timestamp cast accepts, in the session
  * time zone (`2024-01-05`, `2024-01-05 10:00:00`, the `T` form, a `Z`
  * or `±hh:mm` offset), parsed once by the cast's own parser into the
  * instant every bound, cache key and snapshot choice derives from; an
  * unparsable string throws `IllegalArgumentException`. Rollback stamp
  * rule: `rollbackTs` must be after every version stamped after `at`,
  * else `rollback` throws `IllegalArgumentException` before any write —
  * compensations carry tie 0, so at an equal or earlier stamp the
  * version they undo would still win.
  */
class TemporalVault(
    spark: SparkSession, root: String,
    clock: () => Long = () => System.currentTimeMillis()) {
  import TemporalVault._

  private val logDir = s"$root/log"
  private val snapDir = s"$root/snapshot"
  private val rbDir = s"$root/rollback_log"
  private val Op = "_op"
  private val Day = "_day"

  private def zone = DateTimeUtils.getZoneId(spark.sessionState.conf.sessionLocalTimeZone)

  /** Epoch micros of a caller's time string: the parser behind
    * `cast(string as timestamp)`, so the driver and the SQL agree. */
  private def micros(at: String): Long =
    Option(at).flatMap(s => DateTimeUtils.stringToTimestamp(UTF8String.fromString(s), zone))
      .getOrElse(throw new IllegalArgumentException(s"not a timestamp: '$at'"))

  private def instant(m: Long): Column = lit(DateTimeUtils.microsToInstant(m))

  /** The `_day` partition of instant `m`: its date in the session zone,
    * the zone [[writeLog]] buckets by. */
  private def day(m: Long): String =
    java.time.LocalDate.ofEpochDay(DateTimeUtils.microsToDays(m, zone)).toString

  private def logUpTo(m: Long): DataFrame = log.filter(col(Day) <= day(m))

  /** Log writes are hive-partitioned by the day of `ts` so AS-OF reads
    * prune partitions: `query(at)` adds `_day <= day(at)` alongside the
    * (pushed-down) ts range. At 100 TB this is the partition-pruning
    * leg of the reference's (record_id, timestamp) index. */
  private def writeLog(df: DataFrame): Unit =
    df.withColumn(Day, date_format(col(Ts), "yyyy-MM-dd"))
      .write.mode(SaveMode.Append).partitionBy(Day).parquet(logDir)

  private def fs = new Path(root)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def exists(p: String): Boolean = fs.exists(new Path(p))

  /** The full version log, including rollback compensation versions. */
  def log: DataFrame = spark.read.parquet(logDir)

  /** Append a batch of new record versions (POST /records,
    * app/main.py:67-98). Invalidation is precise: a version at t only
    * changes AS-OF reads at `at >= t`, so only those cached states and
    * snapshots go. */
  def append(batch: DataFrame): Unit = graft.Metrics.timedCall(spark, "vault.append") {
    // one materialization: the write and the min-ts probe must see the
    // SAME rows even when the caller's plan is non-deterministic or
    // reads a moving source
    val b = batch.persist()
    try {
      writeLog(b.withColumn(Op, lit("I")))
      val since = b.agg(unix_micros(min(col(Ts)))).head()
      if (!since.isNullAt(0)) invalidateSince(since.getLong(0))
    } finally b.unpersist()
  }

  /** Full history of one record with version labels (`_op` kept for
    * rollback-row transparency). */
  def history(recordId: String): DataFrame =
    graft.Metrics.timedCall(spark, "vault.history")(
      Temporal.history(log, Key, Ts, Tie, lit(recordId)).drop(Day))

  /** State of all records as of `at` (GET /query). Uses the latest
    * snapshot ≤ at when present (replay only the log tail after it),
    * else one pushed-down range scan of the log. Tombstoned records are
    * absent, as after the reference's rollback-delete. */
  def query(at: String): DataFrame =
    graft.Metrics.timedCall(spark, "vault.query")(queryState(micros(at)))

  /** [[query]]'s un-metered core — internal consumers (the cached
    * layer, the per-record filter) route here so one endpoint call
    * never counts vault.query twice. */
  private def queryState(at: Long): DataFrame = {
    // partition pruning on the day bucket + pushed-down ts range
    val pruned = logUpTo(at)
    val state = snapshots.filter(_._1 <= at).maxByOption(_._1) match {
      case Some((snapAt, dir)) =>
        val tail = pruned.filter(col(Ts) > instant(snapAt) && col(Ts) <= instant(at))
        Temporal.asOf(spark.read.parquet(dir).unionByName(tail), Key, Ts, Tie, instant(at))
      case None => Temporal.asOf(pruned, Key, Ts, Tie, instant(at))
    }
    state.filter(col(Op) =!= "D").drop(Op, Day)
  }

  /** Single-record state as of `at`. */
  def query(at: String, recordId: String): DataFrame =
    graft.Metrics.timedCall(spark, "vault.query")(
      queryState(micros(at)).filter(col(Key) === recordId))

  /** Natural-language time-travel read, like the reference's
    * `GET /query?timestamp=yesterday at 4:00 PM` (app/main.py:105);
    * `now` is injected for determinism. */
  def queryAt(phrase: String, now: String): DataFrame =
    query(TimeParse.parse(phrase, now))

  // --- query-result cache (the reference's Redis layer, main.py:60-64:
  // `query:{timestamp}` entries with a 1h TTL, app/main.py:147), keyed
  // by instant.
  private case class Entry(df: DataFrame, bornMs: Long)
  private val cache = mutable.LinkedHashMap.empty[Long, Entry]
  @volatile private var cacheHitCount = 0L
  @volatile private var cacheMissCount = 0L
  @volatile private var cacheEvictCount = 0L
  @volatile private var cacheExpireCount = 0L

  /** The state at instant `at`, through the cache's TTL + LRU
    * bookkeeping: an expired entry is unpersisted on access, a hit
    * re-queues the entry, and an insert past `CacheMaxEntries` evicts
    * and unpersists the least recently used one — executor memory
    * holds at most that many states. */
  private def cachedIn(at: Long): DataFrame =
    cache.synchronized {
      val now = clock()
      cache.get(at) match {
        case Some(e) if now - e.bornMs < CacheTtlMs =>
          cacheHitCount += 1
          cache.remove(at); cache.put(at, e) // LRU touch
          e.df
        case stale =>
          stale.foreach { e =>
            e.df.unpersist(); cache.remove(at); cacheExpireCount += 1
          }
          cacheMissCount += 1
          val df = queryState(at).persist()
          if (cache.size >= CacheMaxEntries) {
            val (oldK, oldE) = cache.head
            oldE.df.unpersist(); cache.remove(oldK); cacheEvictCount += 1
          }
          cache.put(at, Entry(df, now))
          df
      }
    }

  /** AS-OF read memoized per instant: the state is persisted in
    * executor memory on first use (the Spark analog of the reference's
    * Redis `setex(query:{ts}, 3600, ...)`) and served partition-local
    * after that. Unlike the reference's TTL-only Redis, a write through
    * this vault drops exactly the states it can affect; the TTL bounds
    * staleness from writers in other vault instances. */
  def queryCached(at: String): DataFrame =
    graft.Metrics.timedCall(spark, "vault.query")(cachedIn(micros(at)))

  def cacheStats: Map[String, Long] = Map(
    "hits" -> cacheHitCount, "misses" -> cacheMissCount,
    "evictions" -> cacheEvictCount, "expirations" -> cacheExpireCount,
    "entries" -> cache.synchronized(cache.size).toLong)

  /** A write stamped at epoch micros `since` changes the state at every
    * instant ≥ since: drop those cached states and snapshots. */
  private def invalidateSince(since: Long): Unit = {
    cache.synchronized {
      cache.keys.filter(_ >= since).toList.foreach(k => cache.remove(k).foreach(_.df.unpersist()))
    }
    snapshots.filter(_._1 >= since).foreach { case (_, dir) => fs.delete(new Path(dir), true) }
  }

  private def invalidateCache(): Unit =
    cache.synchronized { cache.values.foreach(_.df.unpersist()); cache.clear() }

  /** Field-level diff of one record between two timestamps
    * (GET /compare, app/main.py:267). */
  def compare(recordId: String, from: String, to: String, fields: Seq[String]): DataFrame =
    graft.Metrics.timedCall(spark, "vault.compare")(
      Temporal.changesBetween(log.filter(col(Key) === recordId), Key, Ts, Tie,
        instant(micros(from)), instant(micros(to)), fields))

  /** Roll the store back to its state at `at` (POST /rollback,
    * app/main.py:152): appends one compensation version per record
    * changed after `at` — its at-state (`_op`=R) or a tombstone
    * (`_op`=D) for records that did not exist at `at` or were deleted
    * there (an at-state that is itself a tombstone) — stamped
    * `rollbackTs`, plus the audit entry, which keeps both strings as
    * given. Returns that one audit row. History between `at` and the
    * rollback stays queryable. */
  def rollback(at: String, rollbackTs: String): DataFrame =
      graft.Metrics.timedCall(spark, "vault.rollback") {
    val (atM, stampM) = (micros(at), micros(rollbackTs))
    val log = this.log // one listing and schema read for the whole call
    val latest = log.filter(col(Day) >= day(atM) && col(Ts) > instant(atM))
      .agg(coalesce(unix_micros(max(col(Ts))), lit(Long.MinValue))).head().getLong(0)
    require(stampM > latest, s"rollback stamp '$rollbackTs' is not after " +
      s"${DateTimeUtils.microsToInstant(latest)}, the latest version after '$at'")
    val rset = Temporal.rollbackSet(log, Key, Ts, Tie, instant(atM))
    val payloadCols = log.columns
      .filterNot(c => c == Key || c == Ts || c == Tie || c == Op || c == Day)
    val compensation = rset.select(
      col(Key) +:
        instant(stampM).as(Ts) +:
        lit(0L).as(Tie) +:
        payloadCols.map(col) :+
        when(col("action") === "DELETE" || col(Op) === "D", lit("D"))
          .otherwise(lit("R")).as(Op): _*)
    // exact affected count + a BOUNDED id sample (k smallest): the
    // reference serializes every id into one JSON row (app/main.py:178),
    // which at 100 TB would make the audit row itself a straggler/OOM —
    // CollectMinK keeps every aggregation buffer ≤ AuditSampleK
    val agg = Temporal.auditRow(rset, Key, AuditSampleK).head()
    val audit = spark.createDataFrame(java.util.Collections.singletonList(
      Row(agg.getLong(0), agg.getString(1), at, rollbackTs)), AuditSchema)
    writeLog(compensation)
    audit.write.mode(SaveMode.Append).parquet(rbDir)
    invalidateCache()
    invalidateSince(stampM)
    audit
  }

  /** Rollback audit log, newest rollback instant first
    * (GET /rollback/history, app/main.py:249); a vault that never
    * rolled back returns no rows with the same fields. */
  def rollbackHistory: DataFrame =
    graft.Metrics.timedCall(spark, "vault.rollback_history")(
      if (exists(rbDir))
        spark.read.parquet(rbDir).orderBy(to_timestamp(col("rollback_ts")).desc)
      else spark.createDataFrame(java.util.Collections.emptyList[Row](), AuditSchema))

  /** The reference endpoint's paged form: newest `limit` audit entries
    * (`limit: int = 10`, app/main.py:254). */
  def rollbackHistory(limit: Int): DataFrame = rollbackHistory.limit(limit)

  /** EVERY version with ts ≤ `at` — the literal semantics of the
    * reference's `GET /query?timestamp=T` dump (app/main.py:127-129;
    * `query(at)` is the AS-OF state). Labels on the pruned prefix equal
    * labels over the full log: a label depends only on earlier
    * versions of its key. */
  def versionsAsOf(at: String): DataFrame = {
    val m = micros(at)
    Temporal.versioned(logUpTo(m).filter(col(Ts) <= instant(m)), Key, Ts, Tie).drop(Day)
  }

  /** Materialize the full live state at `at` (the reference's Snapshot
    * table, app/models.py:27) under `snapshot/at=<ISO instant>`; later
    * AS-OF reads replay only the log tail after it. Tombstoned records
    * are simply absent. */
  def writeSnapshot(at: String): Unit = {
    val m = micros(at)
    graft.Metrics.timedCall(spark, "vault.snapshot")(
      Temporal.asOf(logUpTo(m), Key, Ts, Tie, instant(m)).filter(col(Op) =!= "D")
        .write.mode(SaveMode.Overwrite).parquet(s"$snapDir/at=${DateTimeUtils.microsToInstant(m)}"))
  }

  /** (instant, dir) of every snapshot. Names parse with [[micros]], so
    * older `at=yyyy-MM-dd HH:mm:ss` dirs (session zone) still work. */
  private def snapshots: Seq[(Long, String)] =
    if (!exists(snapDir)) Nil
    else fs.listStatus(new Path(snapDir)).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("at="))
      .map(n => micros(n.stripPrefix("at=")) -> s"$snapDir/$n")
}

/** The vault's fixed record columns, those of the reference's
  * `TemporalRecord` (app/models.py), and its fixed sizes: the
  * reference's 1 h query-cache TTL (`setex(key, 3600, ...)`,
  * app/main.py:147), the cache's LRU cap, and the ids sampled into a
  * rollback audit row. */
object TemporalVault {
  val Key = "record_id"
  val Ts = "ts"
  val Tie = "seq"

  val CacheTtlMs: Long = 3600L * 1000L
  val CacheMaxEntries = 64
  val AuditSampleK = 100
  /** One rollback audit row, as `rollback` writes it. */
  val AuditSchema: StructType = StructType(Seq(
    StructField("affected_records", LongType),
    StructField("record_ids", StringType),
    StructField("rollback_to", StringType),
    StructField("rollback_ts", StringType)))
}
