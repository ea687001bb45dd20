package graft

import org.apache.spark.sql.functions._
import graft.temporal.{TemporalVault, TimeParse}

/** Reference-parity extras: NL timestamps, the query cache with
  * write-invalidation, and the operation metrics counters. */
class ParityExtrasSpec extends SparkSpec {
  import spark.implicits._

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
    def batch(rows: (String, String, Long, String)*) =
      rows.toDF("record_id", "ts_s", "seq", "data")
        .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
        .select("record_id", "ts", "seq", "data")
    v.append(batch(("u1", "2024-01-01 00:00:00", 1, "a")))

    val t = "2024-01-02 00:00:00"
    assert(v.queryCached(t).count() == 1)
    val hitsBefore = v.cacheHits
    assert(v.queryCached(t).count() == 1)
    assert(v.cacheHits == hitsBefore + 1)

    // write invalidates: the new version must be visible
    v.append(batch(("u2", "2024-01-01 12:00:00", 2, "x")))
    assert(v.queryCached(t).count() == 2)

    // NL phrasing resolves through the same read path
    assert(v.queryAt("yesterday", "2024-01-03 09:00:00").count() == 2)
  }

  test("cache TTL expires entries, LRU cap evicts, both unpersist") {
    val dir = java.nio.file.Files.createTempDirectory("vault_ttl").toString
    var nowMs = 0L
    val v = new TemporalVault(spark, dir, clock = () => nowMs)
    def batch(rows: (String, String, Long, String)*) =
      rows.toDF("record_id", "ts_s", "seq", "data")
        .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
        .select("record_id", "ts", "seq", "data")
    v.append(batch(("u1", "2024-01-01 00:00:00", 1, "a")))

    val df1 = v.queryCached("2024-01-02 00:00:00")
    assert(df1.storageLevel.useMemory)

    // TTL expiry (reference setex 3600): a stale entry is dropped,
    // unpersisted, and reloaded as a miss. (The reload re-persists the
    // SAME logical plan, and storageLevel is plan-keyed — so the
    // unpersist itself is proven on the eviction path below, whose
    // plan is never re-cached.)
    nowMs = TemporalVault.CacheTtlMs + 1L
    val miss0 = v.cacheStats("misses")
    v.queryCached("2024-01-02 00:00:00").count()
    assert(v.cacheStats("misses") == miss0 + 1)
    assert(v.cacheStats("expirations") == 1)

    // LRU cap: the 65th distinct instant unpersists the eldest
    val df2 = v.queryCached("2024-01-03 00:00:00")
    val df3 = v.queryCached("2024-01-02 00:00:00") // LRU touch — df2 is now eldest
    assert(v.cacheStats("evictions") == 0)
    (1 to TemporalVault.CacheMaxEntries - 1).foreach(i =>
      v.queryCached(f"2024-01-04 ${i / 60}%02d:${i % 60}%02d:00"))
    assert(v.cacheStats("evictions") == 1)
    assert(df2.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
    assert(df3.storageLevel.useMemory)
  }

  test("appends invalidate precisely: only affected timestamps and record ids") {
    val dir = java.nio.file.Files.createTempDirectory("vault_precise").toString
    val v = new TemporalVault(spark, dir)
    def batch(rows: (String, String, Long, String)*) =
      rows.toDF("record_id", "ts_s", "seq", "data")
        .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
        .select("record_id", "ts", "seq", "data")
    v.append(batch(("u1", "2024-01-01 00:00:00", 1, "a"),
                   ("u2", "2024-01-01 00:00:00", 2, "b")))

    // warm two AS-OF states and two record entries
    val early = v.queryCached("2024-01-02 00:00:00")
    val late = v.queryCached("2024-01-10 00:00:00")
    v.recordCached("u1").count(); v.recordCached("u2").count()
    val hits0 = v.cacheStats("hits")

    // append at 01-05: the 01-02 state is untouched (still cached and
    // persisted), the 01-10 state is dropped; only u2's record entry goes
    v.append(batch(("u2", "2024-01-05 00:00:00", 3, "b2")))
    assert(early.storageLevel.useMemory)
    assert(late.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
    assert(v.queryCached("2024-01-02 00:00:00").count() == 2) // hit
    assert(v.cacheStats("hits") == hits0 + 1)
    assert(v.queryCached("2024-01-10 00:00:00").count() == 2) // reload, sees v2

    // record cache: u1 still a hit, u2 reloaded with the new version
    val hits1 = v.cacheStats("hits")
    v.recordCached("u1").count()
    assert(v.cacheStats("hits") == hits1 + 1)
    assert(v.recordCached("u2").select("data").head().getString(0) == "b2")
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
    // append is eager (log write + min-ts probe): its inner SQL
    // executions are attributed to the .sql label, not the endpoint
    assert(Metrics.count("vault.append.sql") >= 1L)
    assert(Metrics.totalSeconds("vault.append") > 0.0)
  }
}
