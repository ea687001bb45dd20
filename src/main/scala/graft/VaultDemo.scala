package graft

import org.apache.spark.sql.functions._
import graft.temporal.TemporalVault

/** Runnable walkthrough of the TemporalVault façade — the reference's
  * API surface end-to-end against a scratch store.
  * Usage: runMain graft.VaultDemo [rootDir]
  */
object VaultDemo {
  def main(args: Array[String]): Unit = {
    val root = args.headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("vault_demo").toString)
    val spark = Session.local()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val v = new TemporalVault(spark, root)
    def batch(rows: (String, String, Long, String)*) =
      rows.toDF("record_id", "ts_s", "seq", "data")
        .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
        .select("record_id", "ts", "seq", "data")

    println(s"store at $root")
    v.append(batch(
      ("alice", "2024-01-01 09:00:00", 1, """{"email":"a@old.com"}"""),
      ("alice", "2024-01-10 09:00:00", 2, """{"email":"a@new.com"}"""),
      ("bob", "2024-01-05 09:00:00", 3, """{"email":"b@x.com"}""")))

    println("\n-- query AS OF 2024-01-06 (GET /query) --")
    v.query("2024-01-06 00:00:00").orderBy("record_id").show(false)

    println("-- history of alice --")
    v.history("alice").select("record_id", "ts", "version", "previous_version", "data").show(false)

    println("-- compare alice between 01-02 and 01-11 (GET /compare) --")
    v.compare("alice", "2024-01-02 00:00:00", "2024-01-11 00:00:00", Seq("data")).show(false)

    println("-- snapshot at 01-12, then rollback to 01-06 (POST /rollback) --")
    v.writeSnapshot("2024-01-12 00:00:00")
    v.rollback("2024-01-06 00:00:00", "2024-01-15 00:00:00").show(false)

    println("-- state now (alice back to old email; post-01-06 bob unchanged) --")
    v.query("2024-01-16 00:00:00").orderBy("record_id").show(false)

    println("-- rollback history (GET /rollback/history) --")
    v.rollbackHistory.show(false)

    println("-- per-operation metrics (the reference's /metrics surface) --")
    val ops = Seq("vault.append", "vault.query", "vault.history",
      "vault.compare", "vault.rollback", "vault.rollback_history",
      "vault.snapshot")
    ops.foreach { op =>
      println(f"$op%-24s count=${Metrics.count(op)}%3d " +
        f"total=${Metrics.totalSeconds(op)}%7.3fs " +
        f"sql_execs=${Metrics.count(op + ".sql")}%3d")
    }
    println("vault.query latency histogram (le_seconds -> n):")
    Metrics.histogram("vault.query").foreach { case (le, n) =>
      if (n > 0) println(f"  le=$le%8.3f  n=$n%d")
    }
    spark.stop()
  }
}
