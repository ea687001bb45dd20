package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}

/** `suite_sf001`: a fixed sample of `SparkEntry` keys at sf0.01, one cold
  * first-touch pass in sorted order, then warm passes in seed-permuted
  * order. Each key's
  * result is collected whole and digested, so every column is computed,
  * and the digest is checked against the DuckDB-validated reference. */
object Suite {
  /** The measured keys: one per module, chosen for the costs the project's
    * open performance items name. All 158 keys at sf0.01 take ~145 s cold
    * and ~130 s warm on 4 cores, far more than one run may spend, so the
    * workload runs this sample; the reference file covers all 158. A
    * stream drain costs ~7 s cold and ~3.5 s warm at this scale, so the
    * streaming layer is measured in the traced run only, by its fixed
    * per-drain cost (`Streams.drainFloor`).
    *  - ann: a10 (first-consumer memo legs, artifact loads)
    *  - dedup: d4 (adaptive PPJoin route over loaded postings)
    *  - multimodal: m1 (binary metadata scan)
    *  - analytics: q8 (eight schema-inference jobs while building)
    *  - sketch: s1 (HLL distinct counts)
    *  - temporal: t1 (as-of scan)
    *  - timeseries: ts9 (exact quantile selection)
    *  - pipeline: x15 (cold artifact cost) */
  val Keys: Seq[String] = Seq("a10_index_stats", "d4_ngram_jaccard", "m1_binary_meta",
    "q8_market_share", "s1_hll_distinct", "t1_asof_snapshot", "ts9_percentiles",
    "x15_winnow_pairs")

  final case class KeyResult(key: String, ok: Boolean, buildS: Double,
      planS: Double, execS: Double, totalS: Double, cpuS: Double, op: Long, pass: Int,
      traced: Boolean)

  /** Module of a key, by its family prefix (t, ts, ts*_stream_*, q, d, a,
    * x and p, s, m). */
  def module(key: String): String = {
    val fam = key.takeWhile(_.isLetter)
    if (key.contains("_stream_")) "streaming"
    else fam match {
      case "t" => "temporal"
      case "ts" => "operators.timeseries"
      case "q" => "operators.analytics"
      case "d" => "dedup"
      case "a" => "ann"
      case "x" | "p" => "operators.pipeline"
      case "s" => "functions.sketch"
      case "m" => "multimodal"
      case other => other
    }
  }
  val Modules: Seq[String] = Seq("temporal", "operators.timeseries", "operators.analytics",
    "dedup", "ann", "operators.pipeline", "functions.sketch", "multimodal")

  final class Runner(spark: SparkSession, trace: Trace, meter: CpuMeter, dir: String,
      refs: Map[String, Digest.Result]) {
    val results = mutable.ArrayBuffer.empty[KeyResult]
    val failures = mutable.ArrayBuffer.empty[String]

    def runKey(key: String, fn: (SparkSession, String) => DataFrame, pass: Int): KeyResult = {
      HostRef.sample()
      val op = trace.newOp()
      val cpu0 = meter.read()
      val t0 = System.nanoTime()
      var b = 0.0; var p = 0.0; var e = 0.0
      val outcome: Either[String, (org.apache.spark.sql.types.StructType, Array[org.apache.spark.sql.Row])] =
        try {
          val (df, bs) = trace.phase(op, "build")(fn(spark, dir)); b = bs
          val (_, ps) = trace.phase(op, "plan")(df.queryExecution.executedPlan); p = ps
          val (rows, es) = trace.phase(op, "exec")(df.collect()); e = es
          Right((df.schema, rows))
        } catch {
          case x @ (NonFatal(_) | _: StackOverflowError) =>
            Left(s"${x.getClass.getSimpleName}: ${x.getMessage}".take(300))
        }
      val total = (System.nanoTime() - t0) / 1e9
      val cpu = meter.read() - cpu0
      trace.opSpan(op, key, t0, System.nanoTime())
      val err = outcome match {
        case Left(m) => Some(m)
        case Right((schema, rows)) =>
          val got = Digest.ofRows(schema, rows.toSeq)
          refs.get(key) match {
            case None => Some("no reference answer")
            case Some(want) if want != got =>
              Some(s"wrong answer: ${got.rows} rows/${got.digest}, reference ${want.rows} rows/${want.digest}")
            case _ => None
          }
      }
      err.foreach(m => failures += s"$key (pass $pass): $m")
      val r = KeyResult(key, err.isEmpty, b, p, e, total, cpu, op, pass, trace.tracedOps(op))
      results += r
      r
    }
  }
}
