package graft

import org.apache.spark.sql.functions._
import graft.temporal.{Temporal, TemporalVault}

/** End-to-end lifecycle of the durable store façade: append versions,
  * time-travel, snapshot fast path, append-only rollback with
  * tombstones, the audit row and its id order, audit history — the
  * reference's whole API surface (reference app/main.py) against a
  * temp directory. The cache is ParityExtrasSpec's, the random op
  * sequences VaultModelSpec's. */
class TemporalVaultSpec extends SparkSpec {
  import spark.implicits._

  private def mkVault(): TemporalVault = {
    val dir = java.nio.file.Files.createTempDirectory("vault").toString
    new TemporalVault(spark, dir)
  }

  private def batch(rows: (String, String, Long, String)*) =
    rows.toDF("record_id", "ts_s", "seq", "data")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
      .select("record_id", "ts", "seq", "data")

  test("append + query + history + compare lifecycle") {
    val v = mkVault()
    v.append(batch(
      ("u1", "2024-01-01 00:00:00", 1, "a"),
      ("u1", "2024-01-03 00:00:00", 2, "b"),
      ("u2", "2024-01-02 00:00:00", 3, "x")))

    // time-travel read (GET /query)
    assert(v.query("2024-01-02 12:00:00").select("record_id", "data")
      .as[(String, String)].collect().toSet == Set(("u1", "a"), ("u2", "x")))

    // version labels (POST /records numbering)
    assert(v.history("u1").select("version", "data")
      .as[(String, String)].collect().toSet == Set(("v1", "a"), ("v2", "b")))

    // field diff (GET /compare)
    val diff = v.compare("u1", "2024-01-01 12:00:00", "2024-01-04 00:00:00", Seq("data"))
      .select("data_from", "data_to", "changed_fields")
      .as[(String, String, String)].collect()
    assert(diff.toSeq == Seq(("a", "b", "data")))
  }

  test("rollback appends compensation + tombstones and audits") {
    val v = mkVault()
    v.append(batch(
      ("u1", "2024-01-01 00:00:00", 1, "a"),
      ("u1", "2024-01-05 00:00:00", 2, "b"),   // after rollback point
      ("u3", "2024-01-06 00:00:00", 3, "new"))) // created after rollback point

    val audit = v.rollback("2024-01-02 00:00:00", "2024-01-10 00:00:00")
    assert(audit.select("affected_records", "record_ids")
      .as[(Long, String)].head() == ((2L, "u1,u3")))

    // state after rollback: u1 restored to "a", u3 gone
    val state = v.query("2024-01-10 00:00:00").select("record_id", "data")
      .as[(String, String)].collect().toSet
    assert(state == Set(("u1", "a")))

    // history between rollback point and rollback stays queryable
    val mid = v.query("2024-01-06 00:00:00").select("record_id", "data")
      .as[(String, String)].collect().toSet
    assert(mid == Set(("u1", "b"), ("u3", "new")))

    assert(v.rollbackHistory.count() == 1)
  }

  test("rollback audit lists bigint record ids in numeric order") {
    val v = mkVault()
    v.append(Seq((10L, "2024-01-02 00:00:00", 1L, "a"), (9L, "2024-01-02 00:00:00", 2L, "b"))
      .toDF("record_id", "ts_s", "seq", "data")
      .select(col("record_id"), col("ts_s").cast("timestamp").as("ts"), col("seq"), col("data")))
    val audit = v.rollback("2024-01-01 00:00:00", "2024-01-03 00:00:00")
      .select("affected_records", "record_ids").as[(Long, String)].head()
    assert(audit == ((2L, "9,10")))
  }

  test("rollback to a point where the record was tombstoned keeps it deleted") {
    val v = mkVault()
    v.append(batch(("u1", "2024-01-01 00:00:00", 1, "a")))
    // u1 did not exist yet: the compensation is a tombstone at 01-02
    v.rollback("2023-12-31 00:00:00", "2024-01-02 00:00:00")
    v.append(batch(("u1", "2024-01-05 00:00:00", 2, "b")))
    // the at-state (01-03) is that tombstone, so u1 must end up absent,
    // not restored with a null payload
    v.rollback("2024-01-03 00:00:00", "2024-01-06 00:00:00")
    assert(v.query("2024-01-07 00:00:00").filter(col("record_id") === "u1").count() == 0)
  }

  /** The log's rows, for asserting a rejected call wrote nothing. */
  private def logRows(v: TemporalVault) =
    v.log.select("record_id", "ts", "seq", "data", "_op").collect().map(_.toString).sorted.toSeq

  test("rollback rejects a stamp equal to an affected version's ts, before any write") {
    val v = mkVault()
    v.append(batch(
      ("u1", "2024-01-01 00:00:00", 1, "a"),
      ("u1", "2024-01-05 00:00:00", 7, "b")))
    val before = logRows(v)
    // a compensation at 01-05 with tie 0 would lose to `b` (tie 7)
    val e = intercept[IllegalArgumentException](
      v.rollback("2024-01-02 00:00:00", "2024-01-05 00:00:00"))
    assert(e.getMessage.contains("2024-01-05 00:00:00"))
    assert(logRows(v) == before)
    assert(v.rollbackHistory.count() == 0)
    assert(v.query("2024-01-06 00:00:00").select("data").as[String].collect().toSeq == Seq("b"))
  }

  test("rollback rejects a stamp before a version it would undo, before any write") {
    val v = mkVault()
    v.append(batch(
      ("u1", "2024-01-01 00:00:00", 1, "a"),
      ("u1", "2024-01-20 00:00:00", 2, "z")))
    val before = logRows(v)
    // a compensation at 01-10 would leave `z`@01-20 as the state at 01-25
    intercept[IllegalArgumentException](
      v.rollback("2024-01-02 00:00:00", "2024-01-10 00:00:00"))
    assert(logRows(v) == before)
    assert(v.rollbackHistory.count() == 0)
    // a stamp after every affected version is accepted and restores `a`
    v.rollback("2024-01-02 00:00:00", "2024-01-21 00:00:00")
    assert(v.query("2024-01-25 00:00:00").select("data").as[String].collect().toSeq == Seq("a"))
  }

  test("rollback returns only the audit row it wrote, not an earlier one with the same stamp") {
    val v = mkVault()
    v.append(batch(
      ("u1", "2024-01-01 00:00:00", 1, "a"),
      ("u1", "2024-01-03 00:00:00", 2, "b")))
    assert(v.rollback("2024-01-02", "2024-01-05").count() == 1)
    // nothing is stamped after 01-06, so the same stamp passes the rule
    val second = v.rollback("2024-01-06", "2024-01-05")
      .select("affected_records", "rollback_to", "rollback_ts")
      .as[(Long, String, String)].collect()
    assert(second.toSeq == Seq((0L, "2024-01-06", "2024-01-05")))
    assert(v.rollbackHistory.count() == 2)
  }

  test("rollbackHistory(limit) pages newest-first like the reference endpoint") {
    val v = mkVault()
    v.append(batch(("u1", "2024-01-01 00:00:00", 1, "a")))
    v.append(batch(("u1", "2024-01-02 00:00:00", 2, "b")))
    v.append(batch(("u1", "2024-01-03 00:00:00", 3, "c")))
    v.rollback("2024-01-01 12:00:00", "2024-01-10 00:00:00")
    v.rollback("2024-01-02 12:00:00", "2024-01-11 00:00:00")
    v.rollback("2024-01-03 12:00:00", "2024-01-12 00:00:00")
    assert(v.rollbackHistory.count() == 3)
    val top2 = v.rollbackHistory(2).select("rollback_ts").as[String].collect()
    assert(top2.toSeq == Seq("2024-01-12 00:00:00", "2024-01-11 00:00:00"))
  }

  test("rollbackHistory of a vault that never rolled back has the audit fields") {
    val fresh = mkVault()
    fresh.append(batch(("u1", "2024-01-01 00:00:00", 1, "a")))
    val v = mkVault()
    v.append(batch(("u1", "2024-01-01 00:00:00", 1, "a")))
    v.rollback("2023-12-31 00:00:00", "2024-01-02 00:00:00")
    assert(fresh.rollbackHistory.schema.fieldNames.toSeq ==
      v.rollbackHistory.schema.fieldNames.toSeq)
    assert(fresh.rollbackHistory(2).select("rollback_ts").as[String].collect().isEmpty)
  }

  test("versionsAsOf dumps every version <= at, not latest-per-record") {
    val v = mkVault()
    v.append(batch(
      ("u1", "2024-01-01 00:00:00", 1, "a"),
      ("u1", "2024-01-03 00:00:00", 2, "b"),
      ("u1", "2024-01-05 00:00:00", 3, "c"),
      ("u2", "2024-01-02 00:00:00", 4, "x")))
    // GET /query?timestamp=T literal semantics: ALL versions with
    // ts <= T (app/main.py:127-129) — u1 contributes v1 AND v2
    val dump = v.versionsAsOf("2024-01-04 00:00:00")
      .select("record_id", "version", "data")
      .as[(String, String, String)].collect().toSet
    assert(dump == Set(
      ("u1", "v1", "a"), ("u1", "v2", "b"), ("u2", "v1", "x")))
    // labels on the pruned prefix match labels over the full log
    val full = Temporal.versioned(v.log, "record_id", "ts", "seq").filter($"record_id" === "u1")
      .select("version", "data").as[(String, String)].collect().toSet
    assert(full == Set(("v1", "a"), ("v2", "b"), ("v3", "c")))
  }

  test("snapshot fast path returns the same state as the full-log read") {
    val v = mkVault()
    v.append(batch(
      ("u1", "2024-01-01 00:00:00", 1, "a"),
      ("u2", "2024-01-02 00:00:00", 2, "x")))
    v.writeSnapshot("2024-01-03 00:00:00")
    v.append(batch(
      ("u1", "2024-01-04 00:00:00", 3, "b"),
      ("u4", "2024-01-05 00:00:00", 4, "q")))

    val got = v.query("2024-01-05 12:00:00").select("record_id", "data")
      .as[(String, String)].collect().toSet
    assert(got == Set(("u1", "b"), ("u2", "x"), ("u4", "q")))
    // and before the post-snapshot appends, the snapshot path agrees
    // with a plain log read
    val early = v.query("2024-01-04 12:00:00").select("record_id", "data")
      .as[(String, String)].collect().toSet
    assert(early == Set(("u1", "b"), ("u2", "x")))
  }
}
