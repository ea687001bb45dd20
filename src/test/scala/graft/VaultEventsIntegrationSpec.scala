package graft

import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.temporal.{Temporal, TemporalVault}

/** Integration: ingest the synthetic events table into a TemporalVault
  * and check that the durable store's time-travel read reproduces the
  * direct AS-OF over the raw table — the t1_asof_snapshot semantics
  * through the full write path (partitioned log, _op filtering). */
class VaultEventsIntegrationSpec extends SparkSpec {
  import spark.implicits._

  test("vault.query(T) over ingested events == direct AS-OF on the table") {
    val dir = java.nio.file.Files.createTempDirectory("vault_ev").toString
    val v = new TemporalVault(spark, dir)

    // the vault's fixed record columns: user_id is the record id,
    // event_id the tie-break
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id").as("record_id"), col("ts"), col("event_id").as("seq"),
        col("event_type"), col("value"))
    v.append(ev)

    val t = "2024-01-20 00:00:00"
    val got = v.query(t)
      .select("record_id", "seq").as[(Long, Long)].collect().toSet
    val want = Temporal.asOf(ev, "record_id", "ts", "seq",
        lit(t).cast("timestamp"))
      .select("record_id", "seq").as[(Long, Long)].collect().toSet
    assert(got == want && got.nonEmpty)

    // snapshot fast path agrees too
    v.writeSnapshot("2024-01-10 00:00:00")
    val viaSnap = v.query(t)
      .select("record_id", "seq").as[(Long, Long)].collect().toSet
    assert(viaSnap == want)
  }
}
