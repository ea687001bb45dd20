package perfbench

import java.sql.Timestamp
import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import scala.collection.mutable
import scala.util.Random
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import graft.temporal.TemporalVault

/** `vault_api`: the reference's API traffic against a fresh
  * [[TemporalVault]], one client in a closed loop.
  *
  * Every read is checked against [[Model]], an in-memory replay of the
  * version chains; an op that throws or disagrees with the model counts
  * as failed and yields no timing. */
object Vault {
  val Records = 1500
  val SeedVersions = 100000
  val Days = 30
  val BatchSize = 100
  val Fields = Seq("event_type", "value", "props")
  val EventTypes = Array("view", "click", "cart", "purchase", "refund", "login")
  val Start: Long = LocalDateTime.of(2024, 1, 1, 0, 0).toEpochSecond(ZoneOffset.UTC)
  val GridStepS = 300L
  val GridPoints = 256

  private val Fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  def fmt(epochS: Long): String =
    LocalDateTime.ofEpochSecond(epochS, 0, ZoneOffset.UTC).format(Fmt)
  def rid(i: Int): String = f"u$i%04d"

  val Schema: StructType = StructType(Seq(
    StructField("record_id", StringType), StructField("ts", TimestampType),
    StructField("seq", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** One stored version (`op` is the vault's internal I/R marker). */
  final case class Ver(ts: Long, seq: Long, op: String, eventType: String,
      value: java.lang.Double, props: String)

  /** In-memory replay of the vault's documented semantics. Version lists
    * stay sorted by (ts, seq) because the server clock only moves forward. */
  final class Model {
    val chains = mutable.Map.empty[String, mutable.ArrayBuffer[Ver]]
    val audits = mutable.ArrayBuffer.empty[(Long, String, String, String)]
    var userBytes = 0L

    def add(id: String, v: Ver): Unit = {
      val c = chains.getOrElseUpdate(id, mutable.ArrayBuffer.empty)
      require(c.isEmpty || c.last.ts < v.ts || (c.last.ts == v.ts && c.last.seq < v.seq),
        "model versions must arrive in (ts, seq) order")
      c += v
    }

    /** Latest version with ts <= at, tombstones included. */
    def at(id: String, atS: Long): Option[Ver] = chains.get(id).flatMap { c =>
      var lo = 0; var hi = c.length // first index with ts > atS
      while (lo < hi) { val m = (lo + hi) >>> 1; if (c(m).ts <= atS) lo = m + 1 else hi = m }
      if (lo == 0) None else Some(c(lo - 1))
    }
    def live(id: String, atS: Long): Option[Ver] = at(id, atS).filter(_.op != "D")

    def stateRows(atS: Long): Seq[Map[String, Any]] =
      chains.keys.toSeq.flatMap(id => live(id, atS).map(v => row(id, v)))

    def row(id: String, v: Ver): Map[String, Any] = Map(
      "record_id" -> id, "ts" -> new Timestamp(v.ts * 1000L), "seq" -> v.seq,
      "event_type" -> v.eventType, "value" -> v.value, "props" -> v.props)

    def history(id: String): Seq[Map[String, Any]] =
      chains.getOrElse(id, mutable.ArrayBuffer.empty).zipWithIndex.map { case (v, i) =>
        row(id, v) ++ Map("_op" -> v.op, "version" -> s"v${i + 1}",
          "previous_version" -> (if (i == 0) null else s"v$i"))
      }.toSeq

    def compare(id: String, fromS: Long, toS: Long): Seq[Map[String, Any]] = {
      at(id, toS).toSeq.flatMap { b =>
        val a = at(id, fromS)
        def f(v: Option[Ver], name: String): Any = v.map { x => name match {
          case "event_type" => x.eventType
          case "value" => x.value
          case "props" => x.props
        } }.orNull
        val changed = Fields.filter(n => f(a, n) != f(Some(b), n))
        if (changed.isEmpty) Nil
        else Seq(Map[String, Any]("record_id" -> id, "changed_fields" -> changed.mkString(",")) ++
          Fields.map(n => s"${n}_from" -> f(a, n)) ++ Fields.map(n => s"${n}_to" -> f(Some(b), n)))
      }
    }

    /** Apply rollback(at, stamp); returns the expected audit row. */
    def rollback(atS: Long, stampS: Long): (Long, String, String, String) = {
      val affected = chains.keys.toSeq.filter(id => chains(id).last.ts > atS).sorted
      affected.foreach { id =>
        at(id, atS) match {
          case Some(v) if v.op != "D" => add(id, v.copy(ts = stampS, seq = 0L, op = "R"))
          case _ => add(id, Ver(stampS, 0L, "D", null, null, null))
        }
      }
      val a = (affected.size.toLong, affected.take(100).mkString(","), fmt(atS), fmt(stampS))
      audits += a
      a
    }
  }

  /** Expected digest of model rows in the column order of `schema`. */
  def modelDigest(schema: StructType, rows: Seq[Map[String, Any]]): Digest.Result =
    Digest.ofRows(schema, rows.map(m => Row.fromSeq(schema.fieldNames.toSeq.map(m))))

  /** Hash stream `stream` of the seeded log at row `i`: the same 64-bit
    * value in the model (here) and in Spark's `xxhash64` (the log). */
  private def streamBase(seed: Long, stream: Int): Long =
    Math.floorMod(seed, 1000000L) * 1000000000L + stream * 10000000L
  private def h(seed: Long, stream: Int, i: Long): Long =
    org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(streamBase(seed, stream) + i, 42L)

  /** The seeded log: SeedVersions versions of Records records over Days
    * days, strictly increasing ts, seq = event id. Every record gets a
    * version on the first day, so every record exists at any query time.
    * Spark generates it from the seed ([[seedLog]]), so no rows are
    * shipped from the client; [[seedModel]] replays the same formulas. */
  private val SpanS = Days * 86400L

  def seedModel(seed: Long): Model = {
    val model = new Model
    (0L until SeedVersions).foreach { i =>
      val r = if (i < Records) i else Math.floorMod(h(seed, 1, i), Records.toLong)
      val v = Ver(Start + i * SpanS / SeedVersions, i + 1L, "I",
        EventTypes(Math.floorMod(h(seed, 2, i), EventTypes.length.toLong).toInt),
        java.lang.Double.valueOf(Math.floorMod(h(seed, 3, i), 10000000L).toDouble / 100.0),
        s"""{"src":"s${Math.floorMod(h(seed, 4, i), 20L)}","n":${Math.floorMod(h(seed, 5, i), 1000L)}}""")
      model.add(rid(r.toInt), v)
      model.userBytes += userBytes(rid(r.toInt), v)
    }
    model
  }

  def seedLog(spark: SparkSession, seed: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    def hc(stream: Int) = xxhash64(lit(streamBase(seed, stream)) + col("id"))
    spark.range(SeedVersions).select(
      format_string("u%04d", when(col("id") < Records, col("id"))
        .otherwise(pmod(hc(1), lit(Records.toLong)))).as("record_id"),
      // exact: the double quotient is never within an ulp of an integer
      timestamp_seconds(lit(Start) + floor(col("id") * SpanS / SeedVersions)).as("ts"),
      (col("id") + 1L).as("seq"),
      element_at(array(EventTypes.toSeq.map(lit): _*), (pmod(hc(2), lit(EventTypes.length.toLong)) + 1).cast("int"))
        .as("event_type"),
      (pmod(hc(3), lit(10000000L)).cast("double") / lit(100.0)).as("value"),
      concat(lit("{\"src\":\"s"), pmod(hc(4), lit(20L)).cast("string"), lit("\",\"n\":"),
        pmod(hc(5), lit(1000L)).cast("string"), lit("}")).as("props"))
  }

  def userBytes(id: String, v: Ver): Long =
    id.length + 8 + 8 + Option(v.eventType).map(_.length).getOrElse(0) + 8 +
      Option(v.props).map(_.length).getOrElse(0)

  sealed trait Kind { def name: String }
  case object Query extends Kind { val name = "query" }
  case object Lookup extends Kind { val name = "lookup" }
  case object History extends Kind { val name = "history" }
  case object Compare extends Kind { val name = "compare" }
  case object Append extends Kind { val name = "append" }
  case object Rollback extends Kind { val name = "rollback" }
  case object RbHistory extends Kind { val name = "rollback_history" }
  case object Snapshot extends Kind { val name = "snapshot" }
  val Kinds: Seq[Kind] = Seq(Query, Lookup, History, Compare, Append, Rollback, RbHistory, Snapshot)

  /** One deck of 20 ops with the workload's fixed mix (7 cached full-state
    * queries, 4 lookups, 2 histories, 2 compares, 2 appends, one rollback,
    * one rollback-history read and one snapshot: 35/20/10/10/10/5/5/5 %),
    * in an order the seed shuffles. The fixed composition keeps a run's
    * statistics from depending on how the mix fell; which reads hit the
    * cache still depends on the draws. */
  val DeckMix: Seq[(Kind, Int)] = Seq(Query -> 7, Lookup -> 4, History -> 2,
    Compare -> 2, Append -> 2, Rollback -> 1, RbHistory -> 1, Snapshot -> 1)
  def deck(rng: Random): Seq[Kind] =
    rng.shuffle(DeckMix.flatMap { case (k, n) => Seq.fill(n)(k) })

  final case class OpResult(kind: Kind, ok: Boolean, totalS: Double,
      callS: Double, fetchS: Double, cpuS: Double, op: Long, cold: Boolean)

  /** `model` must hold the seeded log of `seed` ([[seedModel]]); it is
    * built once, outside the timed set-up, and replays every write after. */
  final class Runner(spark: SparkSession, trace: Trace, meter: CpuMeter, root: String,
      seed: Long, val model: Model) {
    private val rng = new Random(seed * 7919L + 17L)
    var vault: TemporalVault = _
    var clock: Long = Start + Days * 86400L
    var nextSeq: Long = SeedVersions + 1L
    val results = mutable.ArrayBuffer.empty[OpResult]
    val failures = mutable.ArrayBuffer.empty[String]

    /** Seed the log through the public append path. */
    def setup(): Unit = {
      vault = new TemporalVault(spark, root)
      vault.append(seedLog(spark, seed))
    }

    /** 1-10 s per request: a deck moves the clock a few minutes, so its
      * instants stay near the grid's recent end. */
    private def tick(): Long = { clock += 1 + rng.nextInt(10); clock }

    /** Stratified uniforms for the current deck's instant draws, one list
      * per op kind: a kind that draws m instants per deck gets one value
      * from each of [i/m, (i+1)/m), in shuffled order. Every deck then
      * covers the skewed distribution alike, so a run's cost depends less
      * on how its few draws fell; the distribution itself is unchanged. */
    private val strata = mutable.Map.empty[Kind, List[Double]]
    private val DrawsPerOp: Map[Kind, Int] = Map(Query -> 1, Lookup -> 1, Compare -> 2, Rollback -> 1)

    /** The next deck of ops, with its draws stratified. */
    def newDeck(): Seq[Kind] = {
      DeckMix.foreach { case (k, n) =>
        DrawsPerOp.get(k).foreach { per =>
          val m = n * per
          strata(k) = rng.shuffle((0 until m).map(i => (i + rng.nextDouble()) / m).toList)
        }
      }
      deck(rng)
    }

    /** Cold ops read at fixed offsets 1, 2, 3, ... in call order, so each
      * is a first touch of its path and of its instant whatever the seed
      * (a read at an instant read before costs less: a cold lookup that
      * drew the cold query's instant took a third of the CPU time). */
    private var coldDraws = 0L

    /** Grid offset 0..GridPoints-1 for a draw of `kind`, skewed toward 0
      * (P(d <= 3) ~ 1/2). */
    private def offset(kind: Kind, cold: Boolean): Long =
      if (cold) { coldDraws += 1; coldDraws }
      else {
        val u = strata.get(kind) match {
          case Some(x :: rest) => strata(kind) = rest; x
          case _ => rng.nextDouble()
        }
        math.floor(GridPoints * math.pow(u, 6)).toLong
      }

    /** A query instant on the 5-minute grid, skewed toward the present;
      * offset 0 is the next grid point (the "latest state" read). Appends
      * stamped before it change that state, so they invalidate its cache
      * entry; a rollback clears the whole cache. */
    def instant(kind: Kind, cold: Boolean): Long =
      (clock / GridStepS) * GridStepS + GridStepS - offset(kind, cold) * GridStepS
    /** A past grid instant (at or before the clock): rollback targets. */
    def pastInstant(cold: Boolean): Long =
      (clock / GridStepS) * GridStepS - math.min(offset(Rollback, cold), GridPoints - 2) * GridStepS
    def anyRecord(): String = rid(rng.nextInt(Records))

    def run(kind: Kind, cold: Boolean): OpResult = {
      HostRef.sample()
      val op = trace.newOp()
      val stamp = tick()
      val cpu0 = meter.read()
      val t0 = System.nanoTime()
      var callS = 0.0
      var fetchS = 0.0
      def call[T](b: => T): T = { val (r, s) = trace.phase(op, "call")(b); callS += s; r }
      def fetch(df: DataFrame): Array[Row] = {
        val (r, s) = trace.phase(op, "fetch")(df.collect()); fetchS += s; r
      }
      // each case runs the op (timed) and returns a check (untimed) that
      // also applies a write to the model
      val res: Either[String, () => Option[String]] = try Right(kind match {
        case Query =>
          val at = instant(Query, cold)
          val df = call(vault.queryCached(fmt(at)))
          val got = fetch(df)
          () => same(df.schema, got, model.stateRows(at))
        case Lookup =>
          val at = instant(Lookup, cold); val id = anyRecord()
          val df = call(vault.query(fmt(at), id))
          val got = fetch(df)
          () => same(df.schema, got, model.live(id, at).map(v => model.row(id, v)).toSeq)
        case History =>
          val id = anyRecord()
          val df = call(vault.history(id))
          val got = fetch(df)
          () => same(df.schema, got, model.history(id))
        case Compare =>
          val a = instant(Compare, cold); val b = instant(Compare, cold); val id = anyRecord()
          val (from, to) = (math.min(a, b), math.max(a, b))
          val df = call(vault.compare(id, fmt(from), fmt(to), Fields))
          val got = fetch(df)
          () => same(df.schema, got, model.compare(id, from, to))
        case Append =>
          val vs = (0 until BatchSize).map { _ =>
            val id = anyRecord()
            val v = Ver(stamp, nextSeq, "I", EventTypes(rng.nextInt(EventTypes.length)),
              java.lang.Double.valueOf(math.round(rng.nextDouble() * 100000) / 100.0),
              s"""{"src":"s${rng.nextInt(20)}","n":${rng.nextInt(1000)}}""")
            nextSeq += 1
            (id, v)
          }
          val batch = spark.createDataFrame(java.util.Arrays.asList(vs.map { case (id, v) =>
            Row(id, new Timestamp(v.ts * 1000L), v.seq, v.eventType, v.value, v.props)
          }: _*), Schema)
          call(vault.append(batch))
          () => { vs.foreach { case (id, v) => model.add(id, v); model.userBytes += userBytes(id, v) }; None }
        case Rollback =>
          val at = pastInstant(cold)
          val df = call(vault.rollback(fmt(at), fmt(stamp)))
          val got = fetch(df)
          () => {
            val want = model.rollback(at, stamp)
            same(df.schema, got, Seq(Map("affected_records" -> want._1,
              "record_ids" -> want._2, "rollback_to" -> want._3, "rollback_ts" -> want._4)))
          }
        case RbHistory =>
          val df = call(vault.rollbackHistory)
          val got = fetch(df)
          () => {
            val want = model.audits.reverse.map(a => Row(a._1, a._2, a._3, a._4)).toSeq
            val cols = Seq("affected_records", "record_ids", "rollback_to", "rollback_ts")
            val have = if (model.audits.isEmpty && got.isEmpty) Seq.empty[Row]
              else got.toSeq.map(r => Row.fromSeq(cols.map(c => r.get(r.fieldIndex(c)))))
            if (have == want) None else Some(s"rollback history: ${have.size} rows, want ${want.size}")
          }
        case Snapshot =>
          call(vault.writeSnapshot(fmt(stamp)))
          () => None
      }) catch {
        case e @ (NonFatal(_) | _: StackOverflowError) =>
          Left(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
      }
      val totalS = (System.nanoTime() - t0) / 1e9
      val cpuS = meter.read() - cpu0
      trace.opSpan(op, kind.name, t0, t0 + (totalS * 1e9).toLong)
      val err = res match {
        case Left(e) => Some(e)
        case Right(check) => try check() catch { case NonFatal(e) => Some(s"check: ${e.getMessage}") }
      }
      err.foreach(e => failures += s"${kind.name}#$op: $e")
      val r = OpResult(kind, err.isEmpty, totalS, callS, fetchS, cpuS, op, cold)
      results += r
      r
    }

    private def same(schema: StructType, got: Array[Row], want: Seq[Map[String, Any]]): Option[String] = {
      val g = Digest.ofRows(schema, got.toSeq)
      val w = modelDigest(schema, want)
      if (g == w) None else Some(s"got ${g.rows} rows/${g.digest}, model ${w.rows} rows/${w.digest}")
    }

    def storedBytes(): Long = {
      val p = new org.apache.hadoop.fs.Path(root)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.getContentSummary(p).getLength
    }
    def logFiles(): Long = {
      val p = new org.apache.hadoop.fs.Path(root + "/log")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.getContentSummary(p).getFileCount
    }
  }
}
