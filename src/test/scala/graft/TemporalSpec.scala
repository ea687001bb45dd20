package graft

import org.apache.spark.sql.functions._
import graft.temporal.Temporal
import graft.sources.Tables

class TemporalSpec extends SparkSpec {
  import spark.implicits._

  // A tiny version chain: two records, one deleted-at-T case.
  private lazy val chain = Seq(
    // (record, ts, seq, payload)
    ("r1", "2024-01-01 10:00:00", 1L, "a"),
    ("r1", "2024-01-02 10:00:00", 2L, "b"),
    ("r1", "2024-01-05 10:00:00", 3L, "c"),
    ("r2", "2024-01-04 10:00:00", 4L, "x")
  ).toDF("rid", "ts_s", "eid", "payload")
    .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")

  test("asOf returns exactly the latest version per record at T") {
    val got = Temporal.asOf(chain, "rid", "ts", "eid",
        lit("2024-01-03 00:00:00").cast("timestamp"))
      .select("rid", "payload").as[(String, String)].collect().toMap
    assert(got == Map("r1" -> "b")) // r2 doesn't exist yet at T
  }

  test("versioned assigns reference-style vN labels with previous links") {
    val got = Temporal.versioned(chain, "rid", "ts", "eid")
      .filter($"rid" === "r1")
      .select("payload", "version", "previous_version")
      .as[(String, String, String)].collect().sortBy(_._2)
    assert(got.toSeq == Seq(("a", "v1", null), ("b", "v2", "v1"), ("c", "v3", "v2")))
  }

  test("rollbackSet marks records without state at T as DELETE") {
    val got = Temporal.rollbackSet(chain, "rid", "ts", "eid",
        lit("2024-01-03 00:00:00").cast("timestamp"))
      .select("rid", "action", "payload")
      .as[(String, String, String)].collect().toSet
    // r1 restores to version b; r2 was created after T -> DELETE
    assert(got == Set(("r1", "RESTORE", "b"), ("r2", "DELETE", null)))
  }

  test("rollbackLog keeps the exact count but a bounded id sample") {
    // 250 records all versioned after T: count must be exact (250),
    // the id string must carry only the sampleK smallest, sorted
    val big = spark.range(250)
      .select(col("id").as("rid"),
        lit("2024-02-01 00:00:00").cast("timestamp").as("ts"))
    val got = Temporal.rollbackLog(big, "rid", "ts",
        lit("2024-01-03 00:00:00").cast("timestamp"), sampleK = 10)
      .as[(Long, String)].collect().head
    assert(got._1 == 250L)
    assert(got._2 == (0 until 10).mkString(","))
  }

  test("changesBetween reports created records and changed fields") {
    val got = Temporal.changesBetween(chain, "rid", "ts", "eid",
        lit("2024-01-03 00:00:00").cast("timestamp"),
        lit("2024-01-06 00:00:00").cast("timestamp"), Seq("payload"))
      .select("rid", "payload_from", "payload_to", "changed_fields")
      .as[(String, String, String, String)].collect().toSet
    assert(got == Set(
      ("r1", "b", "c", "payload"),
      ("r2", null, "x", "payload")))
  }

  test("asOf on events equals the window-based reference formulation") {
    val ev = graft.sources.Tables.events(spark, sfDir)
    val at = lit("2024-01-20 00:00:00").cast("timestamp")
    val viaAgg = Temporal.asOf(ev, "user_id", "ts", "event_id", at)
      .select("user_id", "event_id").as[(Long, Long)].collect().toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ts".desc, $"event_id".desc)
    val viaWindow = ev.filter($"ts" <= at)
      .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
      .select("user_id", "event_id").as[(Long, Long)].collect().toSet
    assert(viaAgg == viaWindow && viaAgg.nonEmpty)
  }

  test("snapshot+delta reconstruction equals direct AS-OF") {
    val ev = Tables.events(spark, sfDir)
    val at = lit("2024-01-20 00:00:00").cast("timestamp")
    val snapAt = lit("2024-01-15 00:00:00").cast("timestamp")
    val direct = Temporal.asOf(ev, "user_id", "ts", "event_id", at)
      .select("user_id", "event_id").as[(Long, Long)].collect().toSet
    val recon = Temporal.snapshotReconstruct(ev, "user_id", "ts", "event_id", snapAt, at)
      .select("user_id", "event_id").as[(Long, Long)].collect().toSet
    assert(recon == direct && recon.nonEmpty)
  }

  // ---- t8/t10 two-phase changesBetween -----------------------------------

  test("changesBetween two-phase == one-pass max_by on adversarial keys") {
    import graft.temporal.Temporal
    // keys exercising every edge: created-after-from (NULL __ma),
    // unchanged (filtered out), tie on ts broken by the tie column,
    // a key whose latest row is BEFORE `from` (__ma == __mb), and a
    // key deleted... (append-only: no deletes — absent-at-from only)
    val df = Seq(
      (1L, "2025-01-05 00:00:00", 10L, "a", 1L),  // before from
      (1L, "2025-01-20 00:00:00", 11L, "b", 2L),  // between
      (2L, "2025-01-20 00:00:00", 20L, "c", 3L),  // created after from
      (3L, "2025-01-02 00:00:00", 30L, "d", 4L),  // latest before from
      (4L, "2025-01-05 00:00:00", 40L, "e", 5L),  // tie on ts at from side
      (4L, "2025-01-05 00:00:00", 41L, "f", 6L),
      (4L, "2025-01-25 00:00:00", 42L, "g", 7L),
      (5L, "2025-03-01 00:00:00", 50L, "h", 8L))  // after to: invisible
      .toDF("user_id", "tss", "event_id", "event_type", "value")
      .withColumn("ts", col("tss").cast("timestamp")).drop("tss")
    val from = lit("2025-01-10 00:00:00").cast("timestamp")
    val to = lit("2025-02-10 00:00:00").cast("timestamp")
    val fields = Seq("event_type", "value")
    val now = Temporal.changesBetween(df, "user_id", "ts", "event_id",
      from, to, fields).orderBy("user_id").collect().map(_.toSeq).toSeq
    // the r17 one-pass reference
    val payload = struct(fields.map(col): _*)
    val ord = struct(col("ts"), col("event_id"))
    val agged = df.filter(col("ts") <= to)
      .groupBy(col("user_id"))
      .agg(max_by(payload, when(col("ts") <= from, ord)).as("__a"),
        max_by(payload, ord).as("__b"))
    val changed = fields.map { f =>
      when(not(col(s"__a.$f") <=> col(s"__b.$f")), lit(f))
    }
    val ref = agged.select(
        col("user_id") +:
          (fields.map(f => col(s"__a.$f").as(s"${f}_from")) ++
           fields.map(f => col(s"__b.$f").as(s"${f}_to")) :+
           concat_ws(",", array(changed: _*)).as("changed_fields")): _*)
      .filter(col("changed_fields") =!= "")
      .orderBy("user_id").collect().map(_.toSeq).toSeq
    assert(now === ref)
    // the edges really occur: user 2 (created) and user 4 (tie) report
    assert(now.map(_.head).toSet === Set(1L, 2L, 4L))
  }
}
