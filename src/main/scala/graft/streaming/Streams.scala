package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Structured-Streaming twins of the batch time-series operators: same
  * declarative aggregation, incremental execution. The batch parquet dir
  * drives the stream (one AvailableNow-style drain via
  * `processAllAvailable`), so results are provably batch-equivalent —
  * the batch-derived oracle SQL validates the streaming output verbatim.
  *
  * At scale the same plans run against a live source (Kafka/files) with
  * a watermark + append mode; complete-mode-over-memory here is the
  * test harness shape.
  */
object Streams {

  /** events as a stream with the ts normalized by Tables.withEventTs. */
  private def eventStream(spark: SparkSession, sfDir: String): DataFrame = {
    val path = s"$sfDir/events.parquet"
    val schema = spark.read.parquet(path).schema
    // the file source wants a directory. Driver testdata ships events
    // as ONE parquet file — stream its parent dir filtered to that file
    // name; spark-written scales (GenData) ship a directory of part
    // files, which the source takes as-is. (pathGlobFilter matches
    // FILE names, so pointing it at a directory name matches nothing.)
    val raw =
      if (new java.io.File(path).isDirectory)
        spark.readStream.schema(schema).parquet(path)
      else
        spark.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet").parquet(sfDir)
    graft.sources.Tables.withEventTs(raw)
  }

  /** State-store partition count for a drain: a stateful streaming agg
    * materializes one state store per shuffle partition per stateful
    * operator — setup cost is pure overhead when state is small, but
    * too few partitions starves the stateful stage once state grows.
    * No single number is right across operators OR scales, so each
    * drain sizes its own partitions from its expected STATE rows (one
    * partition per ~64k state rows, clamped to [4, 32]):
    * session aggs carry O(sessions) state and win with more partitions
    * as input grows (sf1, 1M events: 16 parts 4.8s vs 4 parts 7.0s;
    * SURVEY.md §6), while watermark-bounded join state stays small and
    * MORE partitions only multiply state-store setup (ts17 sf1: 3.0s at
    * 4 vs 7.2s at 32). At production scale the same rule sizes to
    * state volume (keys × state row), never to scan width. */
  private[graft] def sizedParts(stateRows: Long): Int =
    math.min(32L, math.max(4L, stateRows / 65536L)).toInt

  /** ONE shared cloned session per parent (same SparkContext, own SQL
    * conf) carrying all drains — concurrent batch queries on the parent
    * keep their own setting; nothing global mutates. Shared rather than
    * per-drain because a fresh `newSession()` rebuilds session state
    * and starts with a COLD file-status cache, re-listing the source
    * per drain; one clone amortizes that across the four streaming
    * queries (measured: ~0.3-0.9s saved per drain at sf0.1). The
    * shuffle-partition count is (re)set immediately before each drain
    * is planned — drains are sequential in the harness; a production
    * deployment gives each long-lived stream its own session. */
  private val sharedDrain =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, SparkSession]()
  private def drainSession(spark: SparkSession, stateRows: Long): SparkSession = {
    val s = sharedDrain.computeIfAbsent(spark, p => p.newSession())
    s.conf.set("spark.sql.shuffle.partitions", sizedParts(stateRows).toString)
    // state-store backend: GRAFT_STATE_STORE=rocksdb swaps the
    // default in-heap HDFSBackedStateStoreProvider for RocksDB — the
    // right backend for the O(keys) state families (sessionization,
    // dedup) whose state outgrows executor memory at scale; the
    // default stays in-heap because the harness's states are small
    // and RocksDB pays a per-batch native-store open/commit cost.
    // Set EXPLICITLY both ways (the drain session is shared): a test
    // flipping the property must not leak into later drains.
    val provider = sys.props.get("GRAFT_STATE_STORE")
      .orElse(sys.env.get("GRAFT_STATE_STORE")) match {
      case Some(v) if v.equalsIgnoreCase("rocksdb") =>
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
      case _ =>
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
    }
    s.conf.set("spark.sql.streaming.stateStore.providerClass", provider)
    // a drain has nothing to do in a no-data cycle: none of the drained
    // operators gate EMISSION on the watermark (complete-mode aggs and
    // the inner interval join emit in the data batch; the watermark
    // only bounds state), so the empty finalize micro-batch is a full
    // planning+execution cycle spent evicting state we are about to
    // throw away with the checkpoint
    s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    s
  }

  /** Exact row count from the parquet footers — one cheap metadata-only
    * job at drain-construction time (the streaming twin of ts4's
    * adaptive hot-key probe: spend one small job to pick the plan). */
  private def sourceRows(spark: SparkSession, sfDir: String): Long =
    spark.read.parquet(s"$sfDir/events.parquet").count()

  /** Checkpoint policy: GRAFT_CHECKPOINT_DIR (env, or system property
    * for in-process tests) makes checkpoints DURABLE — a stable
    * per-query path under the given dir (object store/NFS in a
    * deployment), never deleted, so a restarted drain RESUMES from
    * its offsets + state instead of reprocessing
    * (CheckpointResumeSpec pins this). Unset, the harness default: a
    * RAM-backed throwaway path — the drain's offset/commit/state
    * fsyncs are a measurable slice of each micro-batch and the
    * bench's state is rebuilt per drain anyway. Note the memory-sink
    * caveat under durable resume: a resumed AvailableNow drain with
    * NO new source data runs zero batches, so the fresh in-memory
    * sink table stays empty — durable checkpoints pair with durable
    * sinks in production. */
  private[graft] def checkpointConf: (String, Boolean) =
    sys.props.get("GRAFT_CHECKPOINT_DIR")
      .orElse(sys.env.get("GRAFT_CHECKPOINT_DIR")) match {
      case Some(d) if d.nonEmpty => (d, true)
      case _ =>
        (Seq("/dev/shm", System.getProperty("java.io.tmpdir"))
          .find(p => new java.io.File(p).canWrite).get + "/graft_ckpt", false)
    }

  private def drainToTable(spark: SparkSession, agg: DataFrame, name: String,
                           mode: String = "complete"): DataFrame = {
    // the drain session owns the started query — guard there, not on
    // the parent session's StreamingQueryManager
    agg.sparkSession.streams.active.filter(_.name == name).foreach(_.stop())
    val (base, durable) = checkpointConf
    // durable: STABLE path (resume requires the restarted query to
    // find its old checkpoint); throwaway: unique path per drain
    val ckpt =
      if (durable) s"$base/$name" else s"$base/$name-${System.nanoTime()}"
    // AvailableNow: plan all current data, run it, terminate — the
    // query stops itself, so the drain pays no explicit stop() joining
    // a trigger thread that would otherwise idle out a poll interval
    val q = agg.writeStream.format("memory").queryName(name)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .outputMode(mode).start()
    try {
      q.awaitTermination()
    } finally {
      if (!durable)
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    }
    agg.sparkSession.table(name)
  }

  /** The fixed micro-batch machinery FLOOR: a drain of the same events
    * source through the smallest possible stateful plan (global count —
    * ONE state row). What it measures is everything a drain pays that
    * is NOT query work: source listing, micro-batch planning, state
    * store setup, memory-sink + checkpoint commits. Bench runs this
    * once and reports it next to the streaming queries so per-query
    * drain cost decomposes into (machinery floor) + (actual stateful
    * work); the floor is per-DRAIN, so N streaming queries carry
    * ~N × floor of irreducible harness cost at any data size.
    *
    * `stateRows` sizes the drain's state-store partition count the
    * same way the real drains size theirs ([[sizedParts]]): the r10
    * floor ran at the minimum (1 row → 4 partitions) while real
    * drains run at up to 32, understating per-drain state-store setup
    * for larger drains. Bench now measures the floor at the suite's
    * typical 8 partitions (stateRows = 8·65536) and records the
    * partition count in the artifact so the decomposition is read at
    * the right operating point. */
  def drainFloor(spark: SparkSession, sfDir: String,
                 stateRows: Long = 1L): DataFrame =
    drainToTable(spark,
      eventStream(drainSession(spark, stateRows), sfDir)
        .select(col("event_id")).groupBy().agg(count(lit(1)).as("n")),
      "graft_floor")

  /** Streaming daily tumbling aggregate over events (twin of
    * TimeSeries.tumblingDaily). */
  def tumblingDailyStream(spark: SparkSession, sfDir: String): DataFrame = {
    // state = O(windows x event_types) — tiny at any input scale
    val agg = eventStream(drainSession(spark, stateRows = 1L), sfDir)
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
    drainToTable(spark, agg, "graft_ts11")
      .select(col("event_type"),
        date_format(col("window.start"), "yyyy-MM-dd").as("day"),
        col("n"), col("sum_value"),
        round(col("sum_value") / col("n"), 6).as("avg_value"))
  }

  /** Per-record version-chain state for `versionMonitorStream`. */
  case class VersionState(nVersions: Long, lastValue: Double, lastTsUs: Long)

  /** A version-transition event: emitted once per incoming version with
    * the monotone version ordinal and the delta vs the previous one —
    * the reference's POST /records version assignment (app/main.py:79)
    * as an incremental stateful stream instead of a stored column.
    * `delta` is None for a key's first version (SQL NULL — the batch
    * `lag()` twin and the DuckDB oracle agree). */
  case class VersionTransition(
      user_id: Long, version: Long, ts_us: Long,
      value: Double, delta: Option[Double])

  /** Custom-state streaming operator (flatMapGroupsWithState): maintains
    * one small state record per key and emits a transition per event.
    * This is the template for reference-style "current version" caches
    * at scale: state lives in the state store (RocksDB in prod),
    * partitioned by key, O(keys) memory — no reprocessing of history.
    * Batch-driven here (drained synchronously); oracle-checked as
    * ts21, spec-checked equal to the batch window formulation. */
  def versionMonitorStream(spark: SparkSession, sfDir: String): DataFrame = {
    // state = one small record per key (users), not per event
    val ss = drainSession(spark, stateRows = 1L)
    import ss.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val events = eventStream(ss, sfDir)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("value"))
      .as[(Long, Long, Long, Double)]

    def monitor(key: Long, rows: Iterator[(Long, Long, Long, Double)],
                state: GroupState[VersionState]): Iterator[VersionTransition] = {
      // sort the micro-batch slice (ts, then event_id — the total order
      // every batch formulation uses); state carries across batches
      val sorted = rows.toSeq.sortBy(t => (t._2, t._3))
      var st = state.getOption.getOrElse(VersionState(0L, Double.NaN, Long.MinValue))
      val out = sorted.map { case (_, tsUs, _, v) =>
        val delta = if (st.nVersions == 0) None else Some(v - st.lastValue)
        st = VersionState(st.nVersions + 1, v, tsUs)
        VersionTransition(key, st.nVersions, tsUs, v, delta)
      }
      state.update(st)
      out.iterator
    }

    val agg = events.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(monitor)
      .toDF()
    drainToTable(spark, agg, "graft_vmon", "append")
  }

  /** Stream-stream interval join: purchases joined to the same user's
    * clicks in the preceding `windowSql` (exclusive of the purchase
    * instant). Both sides carry watermarks so the join state is
    * bounded — a click is held only until the watermark passes
    * `click.ts + window`, which is exactly the unbounded-source shape;
    * the drain here is one micro-batch so the output is provably equal
    * to the batch interval join and the batch-derived oracle. */
  def intervalJoinStream(spark: SparkSession, sfDir: String): DataFrame = {
    // join state is watermark-bounded (a click lives until the
    // watermark passes click.ts + window) — small regardless of input
    val ss = drainSession(spark, stateRows = 1L)
    val p = eventStream(ss, sfDir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val c = eventStream(ss, sfDir)
      .filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "2 hours")
    val joined = p.join(c,
        col("p_user") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("c_ts") < col("p_ts"))
      .select(col("purchase_id"), col("click_id"), col("p_user").as("user_id"),
        unix_micros(col("p_ts")).as("p_ts_us"), unix_micros(col("c_ts")).as("c_ts_us"))
    drainToTable(spark, joined, "graft_ts17", "append")
  }

  /** Streaming gap-based sessionization (twin of TimeSeries.sessionize)
    * via native `session_window` — incremental per-key session state
    * instead of a batch window sort; at scale this is the stateful-agg
    * path with a watermark evicting closed sessions. Emits the same
    * (user, start, end, n, total) rows as the batch operator. */
  def sessionizeStream(spark: SparkSession, sfDir: String, gap: String): DataFrame = {
    // session state is O(sessions) = O(input keys x activity) — the one
    // drain whose state grows with the corpus; size parts to it
    val agg = eventStream(drainSession(spark, sourceRows(spark, sfDir)), sfDir)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        unix_micros(min(col("ts"))).as("start_us"),
        unix_micros(max(col("ts"))).as("end_us"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("total_value"))
    drainToTable(spark, agg, "graft_ts12")
      .select("user_id", "start_us", "end_us", "n_events", "total_value")
  }

  /** Streaming exact dedup — the ingestion-time dedup stage of a
    * training-data pipeline as a STREAM: the first occurrence of each
    * (user_id, event_type, day) key passes, later duplicates are
    * dropped by keyed state. `dropDuplicatesWithinWatermark` evicts a
    * key's state once the event-time watermark passes it, so state is
    * bounded by keys-per-watermark-horizon, not stream lifetime — the
    * unbounded-source shape (production tunes the delay to the dedup
    * horizon; the AvailableNow drain plans all current files in one
    * batch, where the watermark starts at −∞, so the drain dedups
    * exactly). The survivor report (unique users per event_type × day)
    * is aggregated BATCH-side after the drain, so the result is
    * deterministic whichever physical duplicate arrived first.
    * Streaming twin of the d1/ts10 batch shapes. */
  def streamDedup(spark: SparkSession, sfDir: String): DataFrame = {
    // state = O(distinct keys in the horizon) ≤ source rows; size
    // parts to the key cardinality, like ts12 sizes to sessions
    val deduped = eventStream(drainSession(spark, sourceRows(spark, sfDir) / 2), sfDir)
      .withWatermark("ts", "1 day")
      .select(col("ts"), col("user_id"), col("event_type"),
        to_date(col("ts")).as("day"))
      .dropDuplicatesWithinWatermark("user_id", "event_type", "day")
    drainToTable(spark, deduped, "graft_ts26", mode = "append")
      .groupBy(col("event_type"),
        date_format(col("day"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n_unique"))
      .orderBy("event_type", "day")
  }

  /** Streaming HyperLogLog daily uniques — the ingestion-time shape of
    * s1_hll_distinct: the stream carries only the REGISTER table
    * (state = days × m buckets, constant per day at ANY event volume —
    * the entire point of sketching an unbounded stream), aggregated
    * with max/count which are arrival-order- and duplication-of-
    * partials-insensitive, so the drained registers are provably equal
    * to the batch build and the batch-derived oracle validates the
    * streaming output verbatim. The estimate finalize runs batch-side
    * on the drained (tiny) register table; the exact-count leg is
    * batch too — it exists only for the error report (a production
    * stream would not carry it; that is what the sketch replaces). */
  def hllDistinctStream(spark: SparkSession, sfDir: String): DataFrame = {
    val p = 4
    // state = 30 days x 16 registers — tiny
    val prepped = eventStream(drainSession(spark, stateRows = 1L), sfDir)
      .select(unix_micros(date_trunc("day", col("ts"))).as("day"), col("user_id"))
    val regs = graft.functions.Sketch.hllRegisters(
      prepped, Seq("day"), "user_id", p)
    val drained = drainToTable(spark, regs, "graft_ts27")
    val exact = graft.sources.Tables.events(spark, sfDir)
      .groupBy(unix_micros(date_trunc("day", col("ts"))).as("day"))
      .agg(countDistinct(col("user_id")).as("exact_distinct"))
    graft.functions.Sketch.hllFinalize(drained, Seq("day"), exact, p)
      .orderBy("day")
  }

  /** Streaming KMV bottom-k distinct — the third mergeable-sketch
    * stream (max-merge HLL ts27, sum-merge CMS ts28, and now
    * set-union-truncate KMV): the stream folds each day's user hashes
    * into a ≤128-long ordered set via the bounded native
    * CollectMinKDistinct aggregate — state = k longs per day however
    * many events flow — and the batch-side finalize turns the drained
    * sketch into the θ-estimate with exact counts alongside. Unlike
    * HLL registers, the KMV sample supports SET ALGEBRA downstream
    * (s3's union/intersection over cohorts) — streaming ingest can
    * feed the same sketch store s3 queries. */
  def kmvDistinctStream(spark: SparkSession, sfDir: String,
                        k: Int = 128): DataFrame = {
    val prepped = eventStream(drainSession(spark, stateRows = 30L), sfDir)
      .select(unix_micros(date_trunc("day", col("ts"))).as("day"), col("user_id"))
    val sk = graft.functions.Sketch.kmvSketch(
      prepped, Seq("day"), col("user_id"), k)
    val drained = drainToTable(spark, sk, "graft_ts29")
    val exact = graft.sources.Tables.events(spark, sfDir)
      .groupBy(unix_micros(date_trunc("day", col("ts"))).as("day"))
      .agg(countDistinct(col("user_id")).as("exact_distinct"))
    graft.functions.Sketch.kmvFinalize(drained, Seq("day"), exact, k)
      .orderBy("day")
  }

  /** Streaming Count-Min heavy hitters — ts27's sum-merged sibling:
    * the stream folds every event into a 4×64 counter grid (state =
    * 256 cells, constant at any volume; counters SUM-merge, so partial
    * arrival order is irrelevant and the drain provably equals the
    * batch grid). The top-k probe runs batch-side over the drained
    * grid; the exact-count leg exists only for the error column. */
  def cmsTopKStream(spark: SparkSession, sfDir: String): DataFrame = {
    val (depth, width, k) = (4, 64, 10)
    val grid = graft.functions.Sketch.cmsGrid(
      eventStream(drainSession(spark, stateRows = 1L), sfDir)
        .select(col("user_id")),
      "user_id", depth, width)
    val drained = drainToTable(spark, grid, "graft_ts28")
    val cand = graft.sources.Tables.events(spark, sfDir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("exact"))
    graft.functions.Sketch.cmsFinalize(drained, cand, "user_id", depth, width, k)
  }
}
