package graft.temporal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

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
  * `root/snapshot/at=T/`, and a rollback audit log under
  * `root/rollback_log/`. The reference rewrites rows in place on
  * rollback (app/main.py:208); here rollback appends compensation
  * versions — the scalable, audit-preserving equivalent (object stores
  * don't update in place, and concurrent readers never see torn state).
  *
  * At 100 TB the log is written partitioned by a time bucket of `ts`
  * (AS-OF reads prune partitions via the pushed-down range predicate)
  * and compacted periodically with `writeSnapshot`, after which reads
  * replay only `last snapshot + log tail`.
  *
  * Batches carry (key, ts timestamp, tie long, payload...) columns.
  */
class TemporalVault(
    spark: SparkSession, root: String,
    key: String = "record_id", ts: String = "ts", tie: String = "seq",
    cacheTtlSeconds: Long = 3600L, cacheMaxEntries: Int = 64,
    auditSampleK: Int = 100,
    invalidateIdCap: Int = 1000,
    clock: () => Long = () => System.currentTimeMillis()) {

  private val logDir = s"$root/log"
  private val snapDir = s"$root/snapshot"
  private val rbDir = s"$root/rollback_log"
  private val Op = "_op"
  private val Day = "_day"

  /** Log writes are hive-partitioned by the day of `ts` so AS-OF reads
    * prune partitions: `query(at)` adds `_day <= day(at)` alongside the
    * (pushed-down) ts range. At 100 TB this is the partition-pruning
    * leg of the reference's (record_id, timestamp) index. */
  private def writeLog(df: DataFrame): Unit =
    df.withColumn(Day, date_format(col(ts), "yyyy-MM-dd"))
      .write.mode(SaveMode.Append).partitionBy(Day).parquet(logDir)

  private def fs = new Path(root)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def exists(p: String): Boolean = fs.exists(new Path(p))

  /** The full version log, including rollback compensation versions. */
  def log: DataFrame = spark.read.parquet(logDir)

  /** Append a batch of new record versions (POST /records,
    * app/main.py:67-98). Cache invalidation is precise, not global:
    * an appended version at time t can only change AS-OF reads at
    * `at >= t`, so cached states strictly before the batch's earliest
    * ts stay valid and stay cached; per-record entries are dropped
    * only for the record ids the batch touches (the reference's
    * `redis_client.delete(f"record:{record_id}")`, app/main.py:94). */
  def append(batch: DataFrame): Unit = graft.Metrics.timedCall(spark, "vault.append") {
    // one materialization: the write, the min-ts probe and the
    // invalidation filter must all see the SAME rows even when the
    // caller's plan is non-deterministic or reads a moving source
    val b = batch.persist()
    try {
      writeLog(b.withColumn(Op, lit("I")))
      val minTs = b.agg(min(col(ts))).head().getTimestamp(0)
      invalidateQueriesSince(if (minTs == null) Long.MinValue else minTs.getTime)
      invalidateRecords(b)
    } finally b.unpersist()
  }

  /** Version labels (v1, v2, ... per record, time order) — computed,
    * not stored, so always consistent with the log (the reference
    * stores them: app/main.py:79-86). */
  def versionedLog: DataFrame = Temporal.versioned(log, key, ts, tie)

  /** Full history of one record with version labels (`_op` kept for
    * rollback-row transparency). */
  def history(recordId: String): DataFrame =
    graft.Metrics.timedCall(spark, "vault.history")(
      Temporal.history(log, key, ts, tie, lit(recordId)).drop(Day))

  /** State of all records as of `at` (GET /query). Uses the latest
    * snapshot ≤ at when present (replay only the log tail after it),
    * else one pushed-down range scan of the log. Tombstoned records are
    * absent, as after the reference's rollback-delete. */
  def query(at: String): DataFrame =
    graft.Metrics.timedCall(spark, "vault.query")(queryState(at))

  /** [[query]]'s un-metered core — internal consumers (the cached
    * layer, the per-record filter) route here so one endpoint call
    * never counts vault.query twice. */
  private def queryState(at: String): DataFrame = {
    val atTs = lit(at).cast("timestamp")
    // partition pruning on the day bucket + pushed-down ts range
    val pruned = log.filter(col(Day) <= at.take(10))
    val state = snapshotAtOrBefore(at) match {
      case Some((snapTs, snap)) =>
        val tail = pruned.filter(
          col(ts) > lit(snapTs).cast("timestamp") && col(ts) <= atTs)
        Temporal.asOf(snap.unionByName(tail), key, ts, tie, atTs)
      case None => Temporal.asOf(pruned, key, ts, tie, atTs)
    }
    state.filter(col(Op) =!= "D").drop(Op, Day)
  }

  /** Single-record state as of `at`. */
  def query(at: String, recordId: String): DataFrame =
    graft.Metrics.timedCall(spark, "vault.query")(
      queryState(at).filter(col(key) === recordId))

  /** Natural-language time-travel read, like the reference's
    * `GET /query?timestamp=yesterday at 4:00 PM` (app/main.py:105);
    * `now` is injected for determinism. */
  def queryAt(phrase: String, now: String): DataFrame =
    query(TimeParse.parse(phrase, now))

  // --- query-result cache (the reference's Redis layer, main.py:60-64:
  // `query:{timestamp}` entries written with `setex(key, 3600, ...)`
  // i.e. a 1h TTL, app/main.py:147; `record:{record_id}` entries
  // deleted individually on write, app/main.py:94) ---------------------
  private case class Entry(df: DataFrame, bornMs: Long, atEpochMs: Option[Long])
  private val cache = scala.collection.mutable.LinkedHashMap.empty[String, Entry]
  private val recordCache =
    scala.collection.mutable.LinkedHashMap.empty[String, Entry]
  @volatile private var cacheHitCount = 0L
  @volatile private var cacheMissCount = 0L
  @volatile private var cacheEvictCount = 0L
  @volatile private var cacheExpireCount = 0L

  /** Epoch of a zone-less timestamp string, interpreted in the SPARK
    * SESSION time zone — the same zone `lit(at).cast("timestamp")`
    * uses inside `query(at)`. Parsing with the JVM default zone would
    * silently mis-window the precise invalidation when the two zones
    * differ (cached states an append affects would survive it). */
  private def parseEpochMs(at: String): Option[Long] = {
    val zone = java.time.ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone)
    def ldt(s: String): java.time.LocalDateTime =
      try java.time.LocalDateTime.parse(s.trim.replace(' ', 'T'))
      catch { case _: java.time.format.DateTimeParseException =>
        java.time.LocalDate.parse(s.trim).atStartOfDay }
    try Some(ldt(at).atZone(zone).toInstant.toEpochMilli)
    catch { case _: Exception => None }
  }

  /** TTL + LRU bookkeeping shared by both caches: expired entries are
    * unpersisted on access; a hit re-queues the entry (LRU order);
    * inserts evict the least-recently-used entry past `cacheMaxEntries`.
    * Eviction/expiry always unpersists — a long-lived session querying
    * many distinct timestamps holds at most `cacheMaxEntries` states
    * in executor memory, mirroring the reference's bounded Redis TTL. */
  private def cachedIn(m: scala.collection.mutable.LinkedHashMap[String, Entry],
                       k: String, atEpoch: Option[Long])(load: => DataFrame): DataFrame =
    m.synchronized {
      val now = clock()
      m.get(k) match {
        case Some(e) if now - e.bornMs < cacheTtlSeconds * 1000L =>
          cacheHitCount += 1
          m.remove(k); m.put(k, e) // LRU touch
          e.df
        case stale =>
          stale.foreach { e =>
            e.df.unpersist(); m.remove(k); cacheExpireCount += 1
          }
          cacheMissCount += 1
          val df = load.persist()
          if (m.size >= cacheMaxEntries) {
            val (oldK, oldE) = m.head
            oldE.df.unpersist(); m.remove(oldK); cacheEvictCount += 1
          }
          m.put(k, Entry(df, now, atEpoch))
          df
      }
    }

  /** AS-OF read memoized per timestamp: the state DataFrame is
    * persisted in executor memory on first use (the Spark analog of
    * the reference's Redis `setex(query:{ts}, 3600, ...)`) and served
    * partition-local after that, with the same 1h TTL and an LRU size
    * cap. Invalidation on write is PRECISE where the reference relies
    * on TTL alone: an append's earliest version ts drops exactly the
    * cached states it can affect (`at >= t`) — never stale, and
    * historical snapshots stay hot across writers. */
  def queryCached(at: String): DataFrame =
    graft.Metrics.timedCall(spark, "vault.query")(
      cachedIn(cache, at, parseEpochMs(at))(queryState(at)))

  /** Latest state of one record, memoized per record id — the
    * reference's `record:{record_id}` Redis entry. Appends drop only
    * the touched ids' entries (app/main.py:94). */
  def recordCached(recordId: String): DataFrame =
    cachedIn(recordCache, recordId, None)(
      Temporal.asOf(log.filter(col(key) === recordId), key, ts, tie,
          lit("9999-12-31 00:00:00").cast("timestamp"))
        .filter(col(Op) =!= "D").drop(Op, Day))

  def cacheHits: Long = cacheHitCount
  def cacheStats: Map[String, Long] = Map(
    "hits" -> cacheHitCount, "misses" -> cacheMissCount,
    "evictions" -> cacheEvictCount, "expirations" -> cacheExpireCount,
    "entries" -> (cache.synchronized(cache.size) +
      recordCache.synchronized(recordCache.size)).toLong)

  /** Drop cached AS-OF states a write at epoch `sinceMs` can affect
    * (at >= since). Entries whose key didn't parse are dropped
    * conservatively. */
  private def invalidateQueriesSince(sinceMs: Long): Unit = cache.synchronized {
    val doomed = cache.collect {
      case (k, e) if e.atEpochMs.forall(_ >= sinceMs) => k
    }.toSeq
    doomed.foreach { k => cache(k).df.unpersist(); cache.remove(k) }
  }

  /** Drop per-record entries for the ids `batch` touches. Driver-side
    * work is BOUNDED twice over, however large the append or the
    * cache: the matched/collected id set is capped at
    * `invalidateIdCap` — past it (a cache configured far above the
    * default 64 entries meeting a massive multi-record append), the
    * precise diff would mean a giant `isin` literal plus an unbounded
    * driver collect, so we flush the whole record cache instead
    * (correct, merely less precise — the rollback path's behavior). */
  private def invalidateRecords(batch: DataFrame): Unit = {
    val cachedIds = recordCache.synchronized(recordCache.keys.toSeq)
    if (cachedIds.nonEmpty) {
      if (cachedIds.size > invalidateIdCap) {
        recordCache.synchronized {
          recordCache.values.foreach(_.df.unpersist()); recordCache.clear()
        }
      } else {
        // touched ⊆ cachedIds, so the collect is ≤ invalidateIdCap rows
        val touched = batch.filter(col(key).cast("string").isin(cachedIds: _*))
          .select(col(key).cast("string")).distinct().collect().map(_.getString(0))
        recordCache.synchronized {
          touched.foreach { k =>
            recordCache.get(k).foreach { e => e.df.unpersist(); recordCache.remove(k) }
          }
        }
      }
    }
  }

  private def invalidateCache(): Unit = {
    cache.synchronized {
      cache.values.foreach(_.df.unpersist()); cache.clear()
    }
    recordCache.synchronized {
      recordCache.values.foreach(_.df.unpersist()); recordCache.clear()
    }
  }

  /** Field-level diff of one record between two timestamps
    * (GET /compare, app/main.py:267). */
  def compare(recordId: String, from: String, to: String, fields: Seq[String]): DataFrame =
    graft.Metrics.timedCall(spark, "vault.compare")(
      Temporal.changesBetween(log.filter(col(key) === recordId), key, ts, tie,
        lit(from).cast("timestamp"), lit(to).cast("timestamp"), fields))

  /** Roll the store back to its state at `at` (POST /rollback,
    * app/main.py:152): appends one compensation version per record
    * changed after `at` — its at-state (`_op`=R) or a tombstone
    * (`_op`=D) for records that did not exist at `at` or were deleted
    * there (an at-state that is itself a tombstone) — stamped
    * `rollbackTs`, plus the audit entry. History between `at` and the
    * rollback stays queryable (append-only). */
  def rollback(at: String, rollbackTs: String): DataFrame =
      graft.Metrics.timedCall(spark, "vault.rollback") {
    val rset = Temporal.rollbackSet(log, key, ts, tie, lit(at).cast("timestamp"))
    val payloadCols = log.columns
      .filterNot(c => c == key || c == ts || c == tie || c == Op || c == Day)
    val compensation = rset.select(
      col(key) +:
        lit(rollbackTs).cast("timestamp").as(ts) +:
        lit(0L).as(tie) +:
        payloadCols.map(col) :+
        when(col("action") === "DELETE" || col(Op) === "D", lit("D"))
          .otherwise(lit("R")).as(Op): _*)
    writeLog(compensation)
    // exact affected count + a BOUNDED id sample (k smallest): the
    // reference serializes every id into one JSON row (app/main.py:178),
    // which at 100 TB would make the audit row itself a straggler/OOM —
    // CollectMinK keeps every aggregation buffer ≤ auditSampleK
    val audit = rset.agg(
        count(lit(1)).as("affected_records"),
        concat_ws(",",
          graft.dedup.Dedup.collectMinK(col(key).cast("string"), auditSampleK))
          .as("record_ids"))
      .withColumn("rollback_to", lit(at))
      .withColumn("rollback_ts", lit(rollbackTs))
    audit.write.mode(SaveMode.Append).parquet(rbDir)
    invalidateCache()
    spark.read.parquet(rbDir).filter(col("rollback_ts") === rollbackTs)
  }

  /** Rollback audit log, newest first (GET /rollback/history,
    * app/main.py:249). */
  def rollbackHistory: DataFrame =
    graft.Metrics.timedCall(spark, "vault.rollback_history")(
      if (exists(rbDir)) spark.read.parquet(rbDir).orderBy(desc("rollback_ts"))
      else spark.emptyDataFrame)

  /** The reference endpoint's paged form: newest `limit` audit entries
    * (`limit: int = 10`, app/main.py:254). */
  def rollbackHistory(limit: Int): DataFrame = rollbackHistory.limit(limit)

  /** EVERY version with ts ≤ `at` — the literal semantics of the
    * reference's `GET /query?timestamp=T` dump (app/main.py:127-129
    * returns all matching versions, not latest-per-record; `query(at)`
    * is the AS-OF state the endpoint is used for). Version labels are
    * computed on the pruned prefix — identical to labels over the full
    * log, since a label depends only on earlier versions of its key. */
  def versionsAsOf(at: String): DataFrame =
    Temporal.versioned(
      log.filter(col(Day) <= at.take(10) && col(ts) <= lit(at).cast("timestamp")),
      key, ts, tie).drop(Day)

  /** Materialize the full live state at `at` (the reference's Snapshot
    * table, app/models.py:27); later AS-OF reads replay only the log
    * tail after it. Tombstoned records are simply absent. */
  def writeSnapshot(at: String): Unit =
    graft.Metrics.timedCall(spark, "vault.snapshot")(
      Temporal.asOf(log, key, ts, tie, lit(at).cast("timestamp"))
        .filter(col(Op) =!= "D")
        .write.mode(SaveMode.Overwrite).parquet(s"$snapDir/at=$at"))

  /** Compact into a fresh vault at `newRoot`: the log prefix ≤ `at`
    * collapses to one surviving version per live record (original ts
    * kept, tombstoned records dropped) and the tail is carried over
    * verbatim. Reads for any T ≥ `at` are unchanged; the small-files
    * and long-replay problems reset. Append-only stores compact by
    * generation switch — the old root stays readable until dropped. */
  def compactTo(newRoot: String, at: String): TemporalVault = {
    val atTs = lit(at).cast("timestamp")
    val compacted = new TemporalVault(spark, newRoot, key, ts, tie)
    val live = Temporal.asOf(log, key, ts, tie, atTs)
      .filter(col(Op) =!= "D").drop(Op, Day)
    compacted.append(live)
    val tail = log.filter(col(ts) > atTs).drop(Day)
    if (!tail.isEmpty) compacted.writeLog(tail)
    if (exists(rbDir))
      spark.read.parquet(rbDir).write.mode(SaveMode.Append)
        .parquet(s"$newRoot/rollback_log")
    compacted
  }

  private def snapshotAtOrBefore(at: String): Option[(String, DataFrame)] = {
    if (!exists(snapDir)) return None
    val snaps = fs.listStatus(new Path(snapDir)).toSeq
      .map(_.getPath.getName).filter(_.startsWith("at="))
      .map(_.stripPrefix("at="))
      .filter(_ <= at) // ISO-8601: lexicographic == chronological
    snaps.sorted.lastOption.map(s => (s, spark.read.parquet(s"$snapDir/at=$s")))
  }
}
