package graft

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import graft.temporal.{TemporalVault, TimeParse}

/** Reference-parity extras: NL timestamps, the vault's one query
  * cache (per-instant AS-OF states, checkpointed, with TTL expiry, LRU
  * eviction, and patching by later commits instead of invalidation,
  * observed through `cacheStats`, the checkpoints' blocks and the
  * tasks' input bytes), and the operation metrics counters. */
class ParityExtrasSpec extends SparkSpec {
  import spark.implicits._

  private def batch(rows: (String, String, Long, String)*) =
    rows.toDF("record_id", "ts_s", "seq", "data")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
      .select("record_id", "ts", "seq", "data")

  private def rows(df: DataFrame): Set[(String, String)] =
    df.select("record_id", "data").as[(String, String)].collect().toSet

  /** The id of the checkpointed RDD a cached state reads. */
  private def checkpointOf(df: DataFrame): Int = {
    val rdds = df.queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd }
    assert(rdds.size == 1, "a cached state reads one checkpoint")
    rdds.head.id
  }

  /** Whether the checkpoint under a cached state still holds its blocks. */
  private def held(df: DataFrame): Boolean =
    spark.sparkContext.getPersistentRDDs.contains(checkpointOf(df))

  /** Run `body` and return the input bytes of each task it ran that
    * scanned files (a stage with a `FileScanRDD`), from a listener. */
  private def fileScanBytes(body: => Unit): Seq[Long] = {
    val scanStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val bytes = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]()
    val listener = new SparkListener {
      override def onStageSubmitted(e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        if (e.stageInfo.rddInfos.exists(_.name.contains("FileScanRDD")))
          scanStages.add(e.stageInfo.stageId)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) bytes.add((e.stageId, e.taskMetrics.inputMetrics.bytesRead))
    }
    ColumnBridge.flushListeners(spark)
    spark.sparkContext.addSparkListener(listener)
    try body
    finally {
      ColumnBridge.flushListeners(spark)
      spark.sparkContext.removeSparkListener(listener)
    }
    bytes.asScala.toSeq.collect { case (s, b) if scanStages.contains(s) => b }
  }

  test("natural-language timestamps parse deterministically") {
    val now = "2024-01-20 16:30:00"
    assert(TimeParse.parse("now", now) == now)
    assert(TimeParse.parse("today", now) == "2024-01-20 00:00:00")
    assert(TimeParse.parse("yesterday at 4:00 PM", now) == "2024-01-19 16:00:00")
    assert(TimeParse.parse("2 hours ago", now) == "2024-01-20 14:30:00")
    assert(TimeParse.parse("in 3 days", now) == "2024-01-23 16:30:00")
    assert(TimeParse.parse("2024-01-05", now) == "2024-01-05 00:00:00")
    assert(TimeParse.parse("2024-01-05 10:11:12", now) == "2024-01-05 10:11:12")
  }

  test("query cache serves repeats and invalidates on write") {
    val dir = java.nio.file.Files.createTempDirectory("vault_cache").toString
    val v = new TemporalVault(spark, dir)
    v.append(batch(("u1", "2024-01-01 00:00:00", 1, "a")))

    val t = "2024-01-02 00:00:00"
    assert(v.queryCached(t).count() == 1)
    val hitsBefore = v.cacheStats("hits")
    assert(v.queryCached(t).count() == 1)
    assert(v.cacheStats("hits") == hitsBefore + 1)

    // the write is patched in: the new version must be visible
    v.append(batch(("u2", "2024-01-01 12:00:00", 2, "x")))
    assert(v.queryCached(t).count() == 2)

    // NL phrasing resolves through the same read path
    assert(v.queryAt("yesterday", "2024-01-03 09:00:00").count() == 2)
  }

  test("cache TTL expires entries, LRU cap evicts, both unpersist") {
    val dir = java.nio.file.Files.createTempDirectory("vault_ttl").toString
    var nowMs = 0L
    val v = new TemporalVault(spark, dir, clock = () => nowMs)
    v.append(batch(("u1", "2024-01-01 00:00:00", 1, "a")))

    val df1 = v.queryCached("2024-01-02 00:00:00")
    assert(held(df1))

    // TTL expiry (reference setex 3600): a stale entry is dropped, its
    // checkpoint released, and reloaded as a miss into a new one
    nowMs = TemporalVault.CacheTtlMs + 1L
    val miss0 = v.cacheStats("misses")
    val reloaded = v.queryCached("2024-01-02 00:00:00")
    assert(reloaded.count() == 1)
    assert(v.cacheStats("misses") == miss0 + 1)
    assert(v.cacheStats("expirations") == 1)
    assert(!held(df1) && held(reloaded))

    // LRU cap: the 65th distinct instant releases the eldest
    val df2 = v.queryCached("2024-01-03 00:00:00")
    val df3 = v.queryCached("2024-01-02 00:00:00") // LRU touch — df2 is now eldest
    assert(v.cacheStats("evictions") == 0)
    (1 to TemporalVault.CacheMaxEntries - 1).foreach(i =>
      v.queryCached(f"2024-01-04 ${i / 60}%02d:${i % 60}%02d:00"))
    assert(v.cacheStats("evictions") == 1)
    assert(!held(df2))
    assert(held(df3))
  }

  test("appends patch cached states: only affected instants change") {
    val dir = java.nio.file.Files.createTempDirectory("vault_precise").toString
    val v = new TemporalVault(spark, dir)
    v.append(batch(("u1", "2024-01-01 00:00:00", 1, "a"),
                   ("u2", "2024-01-01 00:00:00", 2, "b")))

    // warm two AS-OF states
    val early = v.queryCached("2024-01-02 00:00:00")
    val late = v.queryCached("2024-01-10 00:00:00")
    val (hits0, misses0) = (v.cacheStats("hits"), v.cacheStats("misses"))

    // append at 01-05: a write touches no cached state
    v.append(batch(("u2", "2024-01-05 00:00:00", 3, "b2")))
    assert(held(early) && held(late))
    // the 01-02 state has nothing to patch: a hit on the same checkpoint
    val early2 = v.queryCached("2024-01-02 00:00:00")
    assert(rows(early2) == Set(("u1", "a"), ("u2", "b")))
    assert(held(early) && checkpointOf(early2) == checkpointOf(early))
    // the 01-10 state is patched on this hit: it sees v2, and its old
    // checkpoint is released for the patched one
    val late2 = v.queryCached("2024-01-10 00:00:00")
    assert(rows(late2) == Set(("u1", "a"), ("u2", "b2")))
    assert(!held(late) && held(late2))
    assert(v.cacheStats("hits") == hits0 + 2 && v.cacheStats("misses") == misses0)
  }

  test("a state cached before a rollback's stamp stays a hit with its pre-rollback rows") {
    val dir = java.nio.file.Files.createTempDirectory("vault_rb_cache").toString
    val v = new TemporalVault(spark, dir)
    v.append(batch(("u1", "2024-01-01 00:00:00", 1, "a"),
                   ("u1", "2024-01-05 00:00:00", 2, "b"),
                   ("u2", "2024-01-04 00:00:00", 3, "x")))
    val before = v.queryCached("2024-01-06 00:00:00")
    assert(rows(before) == Set(("u1", "b"), ("u2", "x")))
    val (hits0, misses0) = (v.cacheStats("hits"), v.cacheStats("misses"))

    // every compensation is stamped 01-10, after the cached instant
    v.rollback("2024-01-02 00:00:00", "2024-01-10 00:00:00")
    assert(rows(v.queryCached("2024-01-06 00:00:00")) == Set(("u1", "b"), ("u2", "x")))
    assert(v.cacheStats("hits") == hits0 + 1 && v.cacheStats("misses") == misses0)
    assert(held(before))
    assert(rows(v.queryCached("2024-01-11 00:00:00")) == Set(("u1", "a")))
  }

  test("a cached state read again after a later-stamped append reads no log file") {
    val dir = java.nio.file.Files.createTempDirectory("vault_noread").toString
    val v = new TemporalVault(spark, dir)
    v.append(batch(("u1", "2024-01-01 00:00:00", 1, "a"),
                   ("u2", "2024-01-02 00:00:00", 2, "x")))
    val t = "2024-01-03 00:00:00"
    assert(rows(v.queryCached(t)) == Set(("u1", "a"), ("u2", "x")))
    v.append(batch(("u1", "2024-01-05 00:00:00", 3, "b")))
    var got = Set.empty[(String, String)]
    val scanned = fileScanBytes { got = rows(v.queryCached(t)) }
    assert(got == Set(("u1", "a"), ("u2", "x")))
    assert(scanned.count(_ > 0) == 0, s"file-scan task input bytes: $scanned")
  }

  test("a second vault on the same root patches its cached state with only the other's commit") {
    val dir = java.nio.file.Files.createTempDirectory("vault_two").toString
    val (a, b) = (new TemporalVault(spark, dir), new TemporalVault(spark, dir))
    a.append(batch((1 to 40).map(i => (f"u$i%02d", "2024-01-01 00:00:00", i.toLong, s"d$i")): _*))
    a.append(batch((1 to 40).map(i => (f"u$i%02d", "2024-01-02 00:00:00", 100L + i, s"e$i")): _*))
    val t = "2024-01-03 00:00:00"
    val cached = b.queryCached(t)
    assert(rows(cached).contains(("u01", "e1")))
    val cachedRdds = cached.queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd.id }
    val blockBytes = spark.sparkContext.getRDDStorageInfo
      .filter(i => cachedRdds.contains(i.id)).map(i => i.memSize + i.diskSize).sum

    def dataFiles: Set[Path] = Files.walk(Path.of(dir, "log")).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSet
    val older = dataFiles
    a.append(batch(("u01", "2024-01-02 12:00:00", 999L, "late")))
    val commitFiles = (dataFiles -- older).toSeq.map(_.toString)
    assert(commitFiles.nonEmpty)
    // every older data file moves away: reading any of them would fail
    val moved = Files.createTempDirectory("vault_two_moved")
    older.zipWithIndex.foreach { case (f, i) => Files.move(f, moved.resolve(s"$i.parquet")) }

    val hits0 = b.cacheStats("hits")
    var got = Set.empty[(String, String)]
    val scanned = fileScanBytes { got = rows(b.queryCached(t)) }
    assert(got.contains(("u01", "late")) && got.contains(("u02", "e2")) && got.size == 40)
    assert(b.cacheStats("hits") == hits0 + 1)
    // the patch's scan stage also reads the old checkpoint's blocks;
    // what is left is at most what reading the commit's files with the
    // same bound costs
    val alone = fileScanBytes {
      spark.read.parquet(commitFiles: _*).filter(col("ts") <= lit(t).cast("timestamp")).collect()
    }
    assert(scanned.sum - blockBytes > 0 && scanned.sum - blockBytes <= alone.sum,
      s"file-scan input bytes $scanned less checkpoint blocks $blockBytes; the commit's files alone $alone")
  }

  test("metrics count operations and accumulate latency") {
    Metrics.install(spark)
    val before = Metrics.count("asof_read")
    Metrics.timed(spark, "asof_read") {
      graft.sources.Tables.events(spark, sfDir).limit(5).count()
    }
    assert(Metrics.count("asof_read") == before + 1)
    assert(Metrics.totalSeconds("asof_read") >= 0.0)
  }

  test("concurrent timed operations attribute counts to their own labels") {
    Metrics.install(spark)
    val beforeA = Metrics.count("conc_a")
    val beforeB = Metrics.count("conc_b")
    // two threads, interleaved actions: labels ride on per-thread job
    // tags, so each execution lands on the operation that launched it
    val ta = new Thread(() => Metrics.timed(spark, "conc_a") {
      (1 to 3).foreach(_ => spark.range(50).count())
    })
    val tb = new Thread(() => Metrics.timed(spark, "conc_b") {
      (1 to 5).foreach(_ => spark.range(50).count())
    })
    ta.start(); tb.start(); ta.join(); tb.join()
    org.apache.spark.sql.graftbridge.ColumnBridge.flushListeners(spark)
    assert(Metrics.count("conc_a") == beforeA + 3)
    assert(Metrics.count("conc_b") == beforeB + 5)
  }

  test("metrics latency histogram is cumulative; source registration is idempotent") {
    Metrics.registerSource(spark)
    Metrics.registerSource(spark) // second call must be a no-op
    Metrics.timed(spark, "hist_op") {
      spark.range(100).count()
      spark.range(100).count()
    }
    val n = Metrics.count("hist_op")
    assert(n >= 2)
    val h = Metrics.histogram("hist_op")
    // prometheus shape: one bucket per default bound plus +Inf,
    // monotone cumulative, +Inf bucket equals the observation count
    assert(h.map(_._1) == (Metrics.BucketBounds :+ Double.PositiveInfinity))
    assert(h.sliding(2).forall(p => p(0)._2 <= p(1)._2))
    assert(h.last._2 == n)
  }

  // ---- vault per-op metrics (the reference's /metrics counters) ----------

  test("TemporalVault ops move the per-endpoint counters and histogram") {
    val root = java.nio.file.Files.createTempDirectory("vault_metrics").toString
    val v = new graft.temporal.TemporalVault(spark, root)
    def c(op: String) = Metrics.count(op)
    val (a0, q0, h0, r0) = (c("vault.append"), c("vault.query"),
      c("vault.history"), c("vault.rollback"))
    val batch = Seq(
      ("alice", "2024-01-01 09:00:00", 1L, "v1"),
      ("alice", "2024-01-10 09:00:00", 2L, "v2"))
      .toDF("record_id", "ts_s", "seq", "data")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
      .select("record_id", "ts", "seq", "data")
    v.append(batch)
    v.query("2024-01-05 00:00:00").collect()
    v.history("alice").collect()
    v.rollback("2024-01-05 00:00:00", "2024-01-15 00:00:00").collect()
    assert(c("vault.append") === a0 + 1)
    assert(c("vault.query") === q0 + 1)
    assert(c("vault.history") === h0 + 1)
    assert(c("vault.rollback") === r0 + 1)
    // histogram: cumulative, final +Inf bucket equals the count
    val hist = Metrics.histogram("vault.append")
    assert(hist.last._1.isPosInfinity && hist.last._2 === c("vault.append"))
    // append is eager (the log write): its inner SQL executions are
    // attributed to the .sql label, not the endpoint
    assert(Metrics.count("vault.append.sql") >= 1L)
    assert(Metrics.totalSeconds("vault.append") > 0.0)
  }
}
