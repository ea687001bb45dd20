package graft.temporal

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{FileAlreadyExistsException, Files, Paths, Path => JPath}
import java.util.UUID
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{ColumnBridge, CommitFiles}
import org.apache.spark.sql.graftbridge.CommitFiles.DataFile
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, parse, render}

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
  * Layout. `root/_commits/<n>.json` is the commit log, n = 1, 2, ...;
  * commit n is the n-th write. Each write puts its parquet files in a
  * fresh directory `root/log/<uuid>/` (appends and rollbacks split by
  * `_day=yyyy-MM-dd` of `ts` in the session zone) and then commits one
  * JSON record of:
  *  - the files it adds (path under root, bytes, rows, min/max `ts`
  *    read from the files' footers), never the cumulative set;
  *  - the schema;
  *  - the op (`append`, `rollback`, `snapshot`) and its stamp range;
  *  - for a snapshot, its instant and the commit it reflects;
  *  - for a rollback, its audit row.
  * The log's rows carry an internal `_op` column (I=insert/new version,
  * R=rollback-restore, D=rollback-tombstone). The reference rewrites
  * rows in place on rollback (app/main.py:208); here rollback appends
  * compensation versions — the scalable, audit-preserving equivalent.
  *
  * Commit protocol. A writer publishes commit n by writing a temp file
  * in `_commits/` and hard-linking it to `<n>.json`; link(2) refuses an
  * existing name (a rename would replace it), so exactly one writer
  * wins each number and a reader never sees a partial commit. The
  * loser loads the newer commits and tries the next number: an append
  * with the same files; a rollback re-checks the stamp rule, deletes
  * its files and recomputes. Files of a writer that crashed before its
  * commit (and its temp file) are never read. Before each call the
  * vault probes for `<head+1>.json` and loads any newer commits, so the
  * writes of another vault instance on the same root are seen at once.
  * The root must be a local path: an object store would need a
  * conditional put (`If-None-Match: *`) in place of the link, which is
  * not built. A root with `log/` but no `_commits/` (the older
  * listing-based layout) is refused.
  *
  * Reads list nothing and infer nothing: each relation is built from
  * the recorded files and schema, with the files chosen on the driver
  * by their recorded `ts` range. Every AS-OF read follows one rule:
  * take the latest anchor at or before the instant, then add the
  * versions the log has beyond it. An anchor is (instant t0, commit c,
  * full state at t0 over commits ≤ c, tombstones and `_op` kept): a
  * snapshot, a cached state, or the empty anchor (−∞, 0). The state at
  * `at` is the AS-OF at `at` of the anchor plus the versions of commits
  * ≤ c with t0 < ts ≤ at plus those of commits after c with ts ≤ at;
  * a late append stamped before an anchor is patched in.
  *
  * One query-result cache (the reference's Redis layer): full states
  * per instant, `localCheckpoint`ed, bounded by a TTL and an LRU cap.
  * Writes never touch it. An entry that commits have passed is patched
  * when it is next read (the rule above with the entry as anchor) and
  * its old blocks are released. A DataFrame a read returns may read a
  * cached state's blocks; act on it before the entry is patched,
  * evicted or expired.
  *
  * Batches carry the reference `TemporalRecord`'s fixed columns
  * (`record_id`, `ts` timestamp, `seq` tie-break; the constants on the
  * companion) plus payload columns, the same set in every batch.
  * `clock` is the cache's time source (its TTL test seam).
  *
  * Times: any string Spark's timestamp cast accepts, in the session
  * time zone (`2024-01-05`, `2024-01-05 10:00:00`, the `T` form, a `Z`
  * or `±hh:mm` offset), parsed once by the cast's own parser into the
  * instant every bound, cache key and anchor choice derives from; an
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

  private val rootDir: JPath = {
    val uri = new org.apache.hadoop.fs.Path(root).toUri
    if (uri.getScheme != null && uri.getScheme != "file")
      throw new UnsupportedOperationException(s"vault root '$root': commits need an " +
        "exclusive create, built only for local paths (an object store needs a conditional put)")
    Paths.get(uri.getPath).toAbsolutePath
  }
  private val commitDir = rootDir.resolve("_commits")
  private val logDir = rootDir.resolve("log")
  private val Op = "_op"
  private val Day = "_day"

  if (!Files.isDirectory(commitDir)) {
    if (Files.isDirectory(logDir))
      throw new IllegalStateException(s"vault root '$root' has a log/ but no _commits/: " +
        "the older listing-based layout is not read")
    Files.createDirectories(commitDir)
  }

  private def zone = DateTimeUtils.getZoneId(spark.sessionState.conf.sessionLocalTimeZone)

  /** Epoch micros of a caller's time string: the parser behind
    * `cast(string as timestamp)`, so the driver and the SQL agree. */
  private def micros(at: String): Long =
    Option(at).flatMap(s => DateTimeUtils.stringToTimestamp(UTF8String.fromString(s), zone))
      .getOrElse(throw new IllegalArgumentException(s"not a timestamp: '$at'"))

  private def instant(m: Long): Column = lit(DateTimeUtils.microsToInstant(m))

  // --- the commit log

  @volatile private var commits = Vector.empty[Commit]

  private def commitFile(n: Long): JPath = commitDir.resolve(s"$n.json")

  /** Load the commits after the head, if any; the probe for the next
    * commit file is the one existence check a call makes. */
  private def sync(): Vector[Commit] = synchronized {
    var next = commitFile(commits.size + 1L)
    while (Files.exists(next)) {
      commits :+= Commit.parse(commits.size + 1L, new String(Files.readAllBytes(next), UTF_8))
      next = commitFile(commits.size + 1L)
    }
    commits
  }

  /** Publish commits built by `attempt` at head + 1 until one wins its
    * number; `attempt` gets the commits loaded so far and returns the
    * commit and what to undo when another writer took the number. */
  private def commitLoop(attempt: Vector[Commit] => (Commit, () => Unit)): Commit = {
    var won: Option[Commit] = None
    while (won.isEmpty) {
      val cs = sync()
      val (c, undo) = attempt(cs)
      val tmp = commitDir.resolve(s"_tmp-${UUID.randomUUID()}.json")
      Files.write(tmp, c.json.getBytes(UTF_8))
      try { Files.createLink(commitFile(c.n), tmp); won = Some(c) }
      catch { case _: FileAlreadyExistsException => undo() }
      finally Files.delete(tmp)
    }
    sync()
    won.get
  }

  /** The vault's schema, that of its first commit. */
  private def schemaOf(cs: Vector[Commit]): StructType =
    cs.headOption.map(_.schema).getOrElse(
      throw new IllegalStateException(s"vault at '$root' has no commits"))

  /** The files of the version log (appends and rollbacks), with the
    * number of the commit that added each. */
  private def logFiles(cs: Vector[Commit]): Seq[(Long, DataFile)] =
    cs.filter(_.op != SnapshotOp).flatMap(c => c.files.map(c.n -> _))

  private def read(cs: Vector[Commit], files: Seq[DataFile]): DataFrame =
    CommitFiles.read(spark, files.map(f => (rootDir.resolve(f.path).toString, f.bytes)),
      schemaOf(cs))

  /** Write `df` into a fresh `log/<uuid>/`; its directory and files,
    * paths relative to root. */
  private def writeFiles(df: DataFrame, byDay: Boolean): (JPath, Seq[DataFile]) = {
    val dir = logDir.resolve(UUID.randomUUID().toString)
    val rel = rootDir.relativize(dir).toString
    val files = CommitFiles.write(
      if (byDay) df.withColumn(Day, date_format(col(Ts), "yyyy-MM-dd")) else df,
      dir.toString, if (byDay) Seq(Day) else Nil, Ts)
    (dir, files.map(f => f.copy(path = s"$rel/${f.path}")))
  }

  private def deleteDir(dir: JPath): Unit =
    scala.reflect.io.Directory(dir.toFile).deleteRecursively()

  /** The full version log, including rollback compensation versions. */
  def log: DataFrame = { val cs = sync(); read(cs, logFiles(cs).map(_._2)) }

  // --- anchors

  /** An anchor: the full state at `at` over commits ≤ `base`. */
  private case class Anchor(at: Long, base: Long, rows: Option[() => DataFrame])

  /** The latest anchor at or before `t`: a snapshot, a cached state or
    * the empty anchor. */
  private def anchor(cs: Vector[Commit], t: Long): Anchor = {
    val snaps = cs.collect { case c if c.op == SnapshotOp && c.stamps._1 <= t =>
      Anchor(c.stamps._1, c.base, Some(() => read(cs, c.files)))
    }
    val cached = cache.synchronized(cache.toSeq.collect { case (at, e) if at <= t =>
      Anchor(at, e.base, Some(() => e.state))
    })
    (Anchor(Long.MinValue, 0L, None) +: (snaps ++ cached)).maxBy(a => (a.at, a.base))
  }

  /** The log's versions beyond anchor `a` up to `upTo`: those of
    * commits ≤ a.base with a.at < ts, those of later commits with any
    * ts, only files whose recorded range can hold one. */
  private def tail(cs: Vector[Commit], a: Anchor, upTo: Long,
      id: Option[Column]): Seq[DataFrame] = {
    val (old, late) = logFiles(cs).partition(_._1 <= a.base)
    def part(files: Seq[DataFile], cond: Column): Option[DataFrame] =
      if (files.isEmpty) None
      else {
        val bounded = if (upTo == Long.MaxValue) cond else cond && col(Ts) <= instant(upTo)
        Some(read(cs, files).filter(id.fold(bounded)(k => bounded && col(Key) === k)))
      }
    val o = if (a.at >= upTo) Nil else old.map(_._2).filter(f => f.maxTs > a.at && f.minTs <= upTo)
    (part(o, col(Ts) > instant(a.at)) ++
      part(late.map(_._2).filter(_.minTs <= upTo), lit(true))).toSeq
  }

  /** Anchor rows plus tail: an AS-OF over them at any instant in
    * [anchor instant, upTo] equals the AS-OF over the whole log. */
  private def versionsFrom(cs: Vector[Commit], from: Long, upTo: Long,
      id: Option[Column]): (Option[DataFrame], Seq[DataFrame]) = {
    val a = anchor(cs, from)
    (a.rows.map(r => id.fold(r())(k => r().filter(col(Key) === k))), tail(cs, a, upTo, id))
  }

  /** The state at `at`, tombstones and `_op` kept, columns in AS-OF
    * order (key first). */
  private def fullState(cs: Vector[Commit], at: Long, id: Option[Column] = None): DataFrame = {
    val schema = schemaOf(cs)
    val order = Key +: schema.fieldNames.toSeq.filterNot(_ == Key)
    versionsFrom(cs, at, at, id) match {
      case (Some(rows), Nil) => rows.select(order.map(col): _*)
      case (None, Nil) => read(cs, Nil).select(order.map(col): _*)
      case (rows, t) => Temporal.asOf((rows.toSeq ++ t).reduce(_ unionByName _), Key, Ts, Tie, instant(at))
    }
  }

  private def live(state: DataFrame): DataFrame = state.filter(col(Op) =!= "D").drop(Op)

  // --- writes

  /** Append a batch of new record versions (POST /records,
    * app/main.py:67-98): one write job, then the commit. */
  def append(batch: DataFrame): Unit = graft.Metrics.timedCall(spark, "vault.append") {
    val rows = batch.withColumn(Op, lit("I"))
    val schema = StructType(rows.schema.map(_.copy(nullable = true)))
    Seq(Key, Ts, Tie).foreach(c => require(schema.fieldNames.contains(c), s"batch has no '$c' column"))
    require(schema(Ts).dataType == TimestampType, s"'$Ts' must be a timestamp")
    def check(cs: Vector[Commit]): Unit = cs.headOption.foreach { c =>
      require(c.schema.map(f => f.name -> f.dataType).toSet == schema.map(f => f.name -> f.dataType).toSet,
        s"batch columns ${schema.simpleString} differ from the vault's ${c.schema.simpleString}")
    }
    check(sync())
    val (dir, files) = writeFiles(rows, byDay = true)
    val stamps = (files.map(_.minTs).minOption.getOrElse(Long.MaxValue),
      files.map(_.maxTs).maxOption.getOrElse(Long.MinValue))
    try commitLoop { cs =>
      check(cs)
      (Commit(cs.size + 1L, AppendOp, schema, files, stamps), () => ())
    } catch { case e: IllegalArgumentException => deleteDir(dir); throw e }
  }

  /** Roll the store back to its state at `at` (POST /rollback,
    * app/main.py:152): appends one compensation version per record
    * changed after `at` — its at-state (`_op`=R) or a tombstone
    * (`_op`=D) for records that did not exist at `at` or were deleted
    * there (an at-state that is itself a tombstone) — stamped
    * `rollbackTs`, and commits them with the audit entry, which keeps
    * both strings as given. Returns that one audit row. History between
    * `at` and the rollback stays queryable. */
  def rollback(at: String, rollbackTs: String): DataFrame =
      graft.Metrics.timedCall(spark, "vault.rollback") {
    val (atM, stampM) = (micros(at), micros(rollbackTs))
    val c = commitLoop { cs =>
      val schema = schemaOf(cs)
      // exact: every file records its max ts
      val latest = logFiles(cs).map(_._2.maxTs).filter(_ > atM).maxOption
      latest.foreach(l => require(stampM > l, s"rollback stamp '$rollbackTs' is not after " +
        s"${DateTimeUtils.microsToInstant(l)}, the latest version after '$at'"))
      val (dir, files) = if (latest.isEmpty) (logDir, Nil) else {
        val (rows, t) = versionsFrom(cs, atM, Long.MaxValue, None)
        val rset = Temporal.rollbackSet((rows.toSeq ++ t).reduce(_ unionByName _),
          Key, Ts, Tie, instant(atM))
        writeFiles(rset.select(schema.fieldNames.toSeq.map {
          case Key => col(Key)
          case Ts => instant(stampM).as(Ts)
          case Tie => lit(0).cast(schema(Tie).dataType).as(Tie)
          case Op => when(col("action") === "DELETE" || col(Op) === "D", lit("D"))
            .otherwise(lit("R")).as(Op)
          case f => col(f)
        }: _*), byDay = true)
      }
      // exact affected count + a BOUNDED id sample (k smallest) over the
      // compensation rows just written, one per affected record: the
      // reference serializes every id into one JSON row (app/main.py:178),
      // which at 100 TB would make the audit row itself a straggler/OOM
      val agg = if (files.isEmpty) Row(0L, "")
        else Temporal.auditRow(read(cs, files).select(Key), Key, AuditSampleK).head()
      (Commit(cs.size + 1L, RollbackOp, schema, files, (stampM, stampM),
        audit = Some(Row(agg.getLong(0), agg.getString(1), at, rollbackTs))),
        () => if (files.nonEmpty) deleteDir(dir))
    }
    spark.createDataFrame(java.util.Collections.singletonList(c.audit.get), AuditSchema)
  }

  /** Materialize the full state at `at` (the reference's Snapshot
    * table, app/models.py:27), tombstones kept, as a snapshot commit;
    * later AS-OF reads at or after `at` start from it. */
  def writeSnapshot(at: String): Unit = graft.Metrics.timedCall(spark, "vault.snapshot") {
    val m = micros(at)
    val cs = sync()
    val (_, files) = writeFiles(fullState(cs, m), byDay = false)
    commitLoop(now => (Commit(now.size + 1L, SnapshotOp, schemaOf(cs), files, (m, m),
      base = cs.size.toLong), () => ()))
  }

  // --- reads

  /** Full history of one record with version labels (`_op` kept for
    * rollback-row transparency). */
  def history(recordId: String): DataFrame =
    graft.Metrics.timedCall(spark, "vault.history")(
      Temporal.history(log, Key, Ts, Tie, lit(recordId)))

  /** State of all records as of `at` (GET /query), by the anchor rule.
    * Tombstoned records are absent, as after the reference's
    * rollback-delete. */
  def query(at: String): DataFrame =
    graft.Metrics.timedCall(spark, "vault.query")(live(fullState(sync(), micros(at))))

  /** Single-record state as of `at`. */
  def query(at: String, recordId: String): DataFrame =
    graft.Metrics.timedCall(spark, "vault.query")(
      live(fullState(sync(), micros(at), Some(lit(recordId)))))

  /** Natural-language time-travel read, like the reference's
    * `GET /query?timestamp=yesterday at 4:00 PM` (app/main.py:105);
    * `now` is injected for determinism. */
  def queryAt(phrase: String, now: String): DataFrame =
    query(TimeParse.parse(phrase, now))

  /** Field-level diff of one record between two timestamps
    * (GET /compare, app/main.py:267). */
  def compare(recordId: String, from: String, to: String, fields: Seq[String]): DataFrame =
      graft.Metrics.timedCall(spark, "vault.compare") {
    val (f, t, cs) = (micros(from), micros(to), sync())
    val (rows, tl) = versionsFrom(cs, math.min(f, t), math.max(f, t), Some(lit(recordId)))
    Temporal.changesBetween((rows.toSeq ++ tl).reduceOption(_ unionByName _)
        .getOrElse(read(cs, Nil)),
      Key, Ts, Tie, instant(f), instant(t), fields)
  }

  /** Rollback audit log, newest rollback instant first
    * (GET /rollback/history, app/main.py:249), from the commits' audit
    * rows; a vault that never rolled back returns no rows with the same
    * fields. */
  def rollbackHistory: DataFrame =
    graft.Metrics.timedCall(spark, "vault.rollback_history")(
      spark.createDataFrame(sync().filter(_.op == RollbackOp)
        .sortBy(c => (c.stamps._1, c.n)).reverse.flatMap(_.audit).asJava, AuditSchema))

  /** The reference endpoint's paged form: newest `limit` audit entries
    * (`limit: int = 10`, app/main.py:254). */
  def rollbackHistory(limit: Int): DataFrame = rollbackHistory.limit(limit)

  /** EVERY version with ts ≤ `at` — the literal semantics of the
    * reference's `GET /query?timestamp=T` dump (app/main.py:127-129;
    * `query(at)` is the AS-OF state). Labels on the prefix equal labels
    * over the full log: a label depends only on earlier versions of its
    * key. */
  def versionsAsOf(at: String): DataFrame = {
    val (m, cs) = (micros(at), sync())
    Temporal.versioned(read(cs, logFiles(cs).map(_._2).filter(_.minTs <= m))
      .filter(col(Ts) <= instant(m)), Key, Ts, Tie)
  }

  // --- query-result cache (the reference's Redis layer, main.py:60-64:
  // `query:{timestamp}` entries with a 1h TTL, app/main.py:147), keyed
  // by instant.
  private case class Entry(state: DataFrame, base: Long, bornMs: Long)
  private val cache = mutable.LinkedHashMap.empty[Long, Entry]
  @volatile private var cacheHitCount = 0L
  @volatile private var cacheMissCount = 0L
  @volatile private var cacheEvictCount = 0L
  @volatile private var cacheExpireCount = 0L

  private def release(e: Entry): Unit = ColumnBridge.unpersistLocalCheckpoint(e.state)

  /** The full state at instant `at`, through the cache's TTL + LRU
    * bookkeeping: a live entry is a hit (patched first when commits
    * have passed it), an expired one is released on access, and an
    * insert past `CacheMaxEntries` evicts and releases the least
    * recently used one — executor memory holds at most that many
    * states. */
  private def cachedIn(at: Long): DataFrame =
    cache.synchronized {
      val cs = sync()
      val now = clock()
      cache.get(at) match {
        case Some(e) if now - e.bornMs < CacheTtlMs =>
          cacheHitCount += 1
          cache.remove(at) // LRU touch
          val t = tail(cs, Anchor(at, e.base, None), at, None)
          val cur = if (t.isEmpty) e.copy(base = cs.size.toLong) else {
            val patched = Temporal.asOf((e.state +: t).reduce(_ unionByName _),
              Key, Ts, Tie, instant(at)).localCheckpoint()
            release(e)
            e.copy(state = patched, base = cs.size.toLong)
          }
          cache.put(at, cur)
          cur.state
        case stale =>
          stale.foreach { e => release(e); cache.remove(at); cacheExpireCount += 1 }
          cacheMissCount += 1
          val state = fullState(cs, at).localCheckpoint()
          if (cache.size >= CacheMaxEntries) {
            val (oldK, oldE) = cache.head
            release(oldE); cache.remove(oldK); cacheEvictCount += 1
          }
          cache.put(at, Entry(state, cs.size.toLong, now))
          state
      }
    }

  /** AS-OF read memoized per instant: the state is checkpointed in
    * executor memory on first use (the Spark analog of the reference's
    * Redis `setex(query:{ts}, 3600, ...)`) and served partition-local
    * after that, patched with whatever commits arrived since. Only this
    * read moves the cache counters. */
  def queryCached(at: String): DataFrame =
    graft.Metrics.timedCall(spark, "vault.query")(live(cachedIn(micros(at))))

  def cacheStats: Map[String, Long] = Map(
    "hits" -> cacheHitCount, "misses" -> cacheMissCount,
    "evictions" -> cacheEvictCount, "expirations" -> cacheExpireCount,
    "entries" -> cache.synchronized(cache.size).toLong)
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

  private val AppendOp = "append"
  private val RollbackOp = "rollback"
  private val SnapshotOp = "snapshot"

  /** Commit `n`: the files it adds, the schema, the op and its stamp
    * range (a rollback's or snapshot's instant, an append's min/max
    * ts), a snapshot's base (the last commit its state reflects) and a
    * rollback's audit row. */
  private final case class Commit(n: Long, op: String, schema: StructType,
      files: Seq[DataFile], stamps: (Long, Long), base: Long = 0L, audit: Option[Row] = None) {
    def json: String = compact(render(
      ("commit" -> n) ~ ("op" -> op) ~ ("stamps" -> List(stamps._1, stamps._2)) ~
        ("schema" -> parse(schema.json)) ~
        ("files" -> files.map(f => ("path" -> f.path) ~ ("bytes" -> f.bytes) ~
          ("rows" -> f.rows) ~ ("min_ts" -> f.minTs) ~ ("max_ts" -> f.maxTs))) ~
        ("base" -> base) ~
        ("audit" -> audit.map(a => ("affected_records" -> a.getLong(0)) ~
          ("record_ids" -> a.getString(1)) ~ ("rollback_to" -> a.getString(2)) ~
          ("rollback_ts" -> a.getString(3))))))
  }

  private object Commit {
    private implicit val formats: Formats = DefaultFormats

    def parse(n: Long, text: String): Commit = {
      val j = org.json4s.jackson.JsonMethods.parse(text)
      require((j \ "commit").extract[Long] == n, s"commit file $n.json holds commit ${j \ "commit"}")
      val List(lo, hi) = (j \ "stamps").extract[List[Long]]
      Commit(n, (j \ "op").extract[String],
        DataType.fromJson(compact(render(j \ "schema"))).asInstanceOf[StructType],
        (j \ "files").children.map(f => DataFile((f \ "path").extract[String],
          (f \ "bytes").extract[Long], (f \ "rows").extract[Long],
          (f \ "min_ts").extract[Long], (f \ "max_ts").extract[Long])),
        (lo, hi), (j \ "base").extract[Long],
        (j \ "audit").toOption.map(a => Row((a \ "affected_records").extract[Long],
          (a \ "record_ids").extract[String], (a \ "rollback_to").extract[String],
          (a \ "rollback_ts").extract[String])))
    }
  }
}
