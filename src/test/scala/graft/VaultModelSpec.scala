package graft

import java.sql.Timestamp
import java.time.{Instant, LocalDateTime, ZoneId, ZoneOffset}
import java.time.format.DateTimeFormatter
import scala.collection.mutable
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import graft.temporal.TemporalVault

/** Model-based test of the vault façade: ScalaCheck generates short
  * random sequences of append, rollback, writeSnapshot, query,
  * queryCached and versionsAsOf against a tiny fresh vault, with every
  * time spelled in a random format Spark's timestamp cast accepts, and
  * checks each result against [[VaultModelSpec.Model]], an in-memory
  * replay of the documented semantics (the shape of perfbench's
  * `Vault.Model`). Appends may be stamped before earlier snapshots,
  * rollbacks and cached reads. */
class VaultModelSpec extends SparkSpec {
  import VaultModelSpec._
  import spark.implicits._

  private def zone = ZoneId.of(spark.conf.get("spark.sql.session.timeZone"))

  private def mkVault(): (TemporalVault, String) = {
    val dir = java.nio.file.Files.createTempDirectory("vault_model").toString
    (new TemporalVault(spark, dir), dir)
  }

  private def deleteDir(dir: String): Unit =
    scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()

  private def batch(rows: Seq[Ver]) =
    rows.map(v => (v.id, Timestamp.from(Instant.ofEpochSecond(v.ts)), v.tie, v.data))
      .toDF("record_id", "ts", "seq", "data")

  private def state(v: TemporalVault, at: String): Set[(String, String)] =
    v.query(at).select("record_id", "data").as[(String, String)].collect().toSet

  /** Run one sequence on a fresh vault; None when every result matched. */
  private def run(ops: List[Op]): Option[String] = {
    val (v, dir) = mkVault()
    val model = new Model
    val cached = mutable.ArrayBuffer.empty[org.apache.spark.sql.DataFrame]
    val trace = mutable.ArrayBuffer.empty[String]
    var nextTie = 1L
    def check[T](what: String, got: T, want: T): Option[String] =
      if (got == want) None
      else Some((trace :+ s"$what: got $got, want $want").mkString("\n  ", "\n  ", ""))
    try ops.iterator.map {
      case Append(rows) =>
        val vs = rows.map { case (id, t) =>
          val ver = Ver(id, t, nextTie, s"d$nextTie", "I"); nextTie += 1; ver
        }
        trace += s"append ${vs.map(x => s"${x.id}@${Instant.ofEpochSecond(x.ts)}#${x.tie}").mkString(" ")}"
        v.append(batch(vs))
        vs.foreach(model.vs += _)
        None
      case Rollback(at, delta, valid, sp) =>
        val latest = model.latestAfter(at.t)
        val stamp = (latest, valid) match {
          case (Some(m), false) => m - (delta - 1) * 3600L // at or before it
          case (m, _) => m.getOrElse(at.t) + delta * 3600L
        }
        val (atS, stampS) = (at.spell(zone), When(stamp, sp).spell(zone))
        trace += s"rollback($atS, $stampS)"
        if (latest.exists(stamp <= _)) {
          val n = v.log.count()
          val threw =
            try { v.rollback(atS, stampS); false }
            catch { case _: IllegalArgumentException => true }
          check("rejected stamp: (threw, log rows)", (threw, v.log.count()), (true, n))
        } else {
          val audit = v.rollback(atS, stampS)
            .select("affected_records", "record_ids").as[(Long, String)].head()
          val ids = model.rollback(at.t, stamp)
          check("audit", audit, (ids.size.toLong, ids.mkString(",")))
        }
      case Snapshot(at) =>
        trace += s"writeSnapshot(${at.spell(zone)})"
        v.writeSnapshot(at.spell(zone))
        None
      case Query(at) =>
        trace += s"query(${at.spell(zone)})"
        check("query", state(v, at.spell(zone)), model.state(at.t))
      case QueryCached(at) =>
        trace += s"queryCached(${at.spell(zone)})"
        val df = v.queryCached(at.spell(zone))
        cached += df
        check("queryCached",
          df.select("record_id", "data").as[(String, String)].collect().toSet,
          model.state(at.t))
      case VersionsAsOf(at) =>
        trace += s"versionsAsOf(${at.spell(zone)})"
        check("versionsAsOf",
          v.versionsAsOf(at.spell(zone)).select("record_id", "version", "data")
            .as[(String, String, String)].collect().toSet,
          model.versions(at.t))
    }.collectFirst { case Some(e) => e }
    finally {
      cached.foreach(_.unpersist())
      deleteDir(dir)
    }
  }

  test("random op sequences with mixed time spellings match the in-memory model") {
    val t0 = System.nanoTime()
    val params = Test.Parameters.default
      .withMinSuccessfulTests(200).withWorkers(4).withInitialSeed(Seed(20240101L))
    val res = Test.check(params, Prop.forAllNoShrink(opsGen) { ops =>
      val err = run(ops)
      Prop(err.isEmpty) :| err.getOrElse("")
    })
    info(f"${res.succeeded} sequences in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    assert(res.passed, res.status.toString)
  }

  test("a zone-offset time reads the day partition its instant falls in") {
    val (v, _) = mkVault()
    v.append(batch(Seq(
      Ver("u1", epoch("2024-01-01T00:00:00Z"), 1, "a", "I"),
      Ver("u1", epoch("2024-01-03T02:00:00Z"), 2, "b", "I"))))
    // 2024-01-02T23:00-05:00 is 2024-01-03T04:00Z: after `b`, whose
    // day partition is 2024-01-03
    val at = "2024-01-02T23:00:00-05:00"
    assert(state(v, at) == Set(("u1", "b")))
    assert(v.versionsAsOf(at).select("version", "data").as[(String, String)]
      .collect().toSet == Set(("v1", "a"), ("v2", "b")))
  }

  test("a snapshot after the query instant is never chosen, whatever the spelling") {
    val (v, _) = mkVault()
    v.append(batch(Seq(
      Ver("u1", epoch("2024-01-01T00:00:00Z"), 1, "a", "I"),
      Ver("u1", epoch("2024-01-05T11:00:00Z"), 2, "b", "I"))))
    v.writeSnapshot("2024-01-05 12:00:00")
    // as strings, "2024-01-05 12:00:00" < "2024-01-05T10:00:00"
    assert(state(v, "2024-01-05T10:00:00") == Set(("u1", "a")))
    assert(state(v, "2024-01-05T12:30:00") == Set(("u1", "b")))
  }

}

object VaultModelSpec {
  private val T0 = epoch("2024-01-01T00:00:00Z")
  private val Days = 4
  private val Ids = Seq("u1", "u2", "u3")

  def epoch(iso: String): Long = Instant.parse(iso).getEpochSecond

  /** One way of writing an instant: zone-less `yyyy-MM-dd HH:mm:ss`
    * or `T` form (session zone), date-only (midnights only; else the
    * `Z` form), the `Z` form, or a `±hh:mm` offset. */
  final case class Spelling(form: Int, offsetMin: Int)

  final case class When(t: Long, sp: Spelling) {
    def spell(zone: ZoneId): String = {
      val local = LocalDateTime.ofInstant(Instant.ofEpochSecond(t), zone)
      def iso(l: LocalDateTime) = l.format(DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss"))
      sp.form match {
        case 0 => local.format(DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
        case 1 => iso(local)
        case 2 if local.toLocalTime == java.time.LocalTime.MIDNIGHT => local.toLocalDate.toString
        case 2 | 3 => iso(LocalDateTime.ofEpochSecond(t, 0, ZoneOffset.UTC)) + "Z"
        case _ =>
          val off = ZoneOffset.ofTotalSeconds(sp.offsetMin * 60)
          iso(LocalDateTime.ofEpochSecond(t, 0, off)) + off.getId
      }
    }
  }

  sealed trait Op
  /** Rows (record id, epoch seconds); ties and payloads are assigned in order. */
  final case class Append(rows: List[(String, Long)]) extends Op
  /** The stamp is `delta` hours after the latest version after `at`
    * (valid), or `delta - 1` hours before it (rejected). */
  final case class Rollback(at: When, delta: Long, valid: Boolean, sp: Spelling) extends Op
  final case class Snapshot(at: When) extends Op
  final case class Query(at: When) extends Op
  final case class QueryCached(at: When) extends Op
  final case class VersionsAsOf(at: When) extends Op

  val spellingGen: Gen[Spelling] = for {
    form <- Gen.choose(0, 4)
    off <- Gen.oneOf(-300, -660, 330, 540, 840)
  } yield Spelling(form, off)

  /** Hours on the vault's four days, midnights weighted up so the
    * date-only form and day boundaries come up often. */
  val instantGen: Gen[Long] = Gen.frequency(
    3 -> Gen.choose(0, Days * 24).map(h => T0 + h * 3600L),
    1 -> Gen.choose(0, Days).map(d => T0 + d * 86400L))

  val whenGen: Gen[When] = for { t <- instantGen; sp <- spellingGen } yield When(t, sp)

  val appendGen: Gen[Append] =
    Gen.choose(1, 3).flatMap(n => Gen.listOfN(n, Gen.zip(Gen.oneOf(Ids), instantGen)))
      .map(Append(_))

  val opGen: Gen[Op] = Gen.frequency(
    3 -> appendGen,
    2 -> (for {
      at <- whenGen; d <- Gen.choose(1L, 12L); valid <- Gen.frequency(4 -> true, 1 -> false)
      sp <- spellingGen
    } yield Rollback(at, d, valid, sp)),
    1 -> whenGen.map(Snapshot(_)),
    2 -> whenGen.map(Query(_)),
    2 -> whenGen.map(QueryCached(_)),
    1 -> whenGen.map(VersionsAsOf(_)))

  /** An append, 1-3 random ops, then a read: every sequence checks
    * something. */
  val opsGen: Gen[List[Op]] = for {
    first <- appendGen
    n <- Gen.choose(1, 3)
    mid <- Gen.listOfN(n, opGen)
    last <- Gen.oneOf(whenGen.map(Query(_)), whenGen.map(QueryCached(_)))
  } yield first :: mid ::: List(last)

  final case class Ver(id: String, ts: Long, tie: Long, data: String, op: String)

  /** In-memory replay: a version wins by (ts, tie); rollback appends,
    * per record with a version after `at`, its at-state (R, tie 0) or
    * a tombstone (D) at the stamp. */
  final class Model {
    val vs = mutable.ArrayBuffer.empty[Ver]
    private def latest(id: String, at: Long): Option[Ver] =
      vs.filter(v => v.id == id && v.ts <= at).maxByOption(v => (v.ts, v.tie))

    def state(at: Long): Set[(String, String)] =
      vs.map(_.id).distinct.flatMap(latest(_, at)).filter(_.op != "D")
        .map(v => (v.id, v.data)).toSet

    def versions(at: Long): Set[(String, String, String)] =
      vs.filter(_.ts <= at).groupBy(_.id).flatMap { case (id, xs) =>
        xs.sortBy(v => (v.ts, v.tie)).zipWithIndex.map { case (v, i) => (id, s"v${i + 1}", v.data) }
      }.toSet

    def latestAfter(at: Long): Option[Long] = vs.filter(_.ts > at).map(_.ts).maxOption

    /** Apply rollback(at, stamp); the affected ids, sorted. */
    def rollback(at: Long, stamp: Long): Seq[String] = {
      val affected = vs.filter(_.ts > at).map(_.id).distinct.sorted.toSeq
      affected.foreach { id =>
        vs += (latest(id, at) match {
          case Some(v) if v.op != "D" => v.copy(ts = stamp, tie = 0L, op = "R")
          case _ => Ver(id, stamp, 0L, null, "D")
        })
      }
      affected
    }
  }
}
