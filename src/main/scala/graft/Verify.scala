package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    if (args.length != 2) {
      System.err.println("usage: graft.Verify <sfDir> <outDir>")
      sys.exit(2)
    }
    val Array(sfDir, outDir) = args
    // dev convenience: GRAFT_VERIFY_ONLY=q1_pricing_summary,ts11_...
    // re-dumps a subset into an existing outDir (oracle json still
    // covers all queries; the driver never sets this)
    val names = SparkEntry.selectKeys(sys.env.get("GRAFT_VERIFY_ONLY"))
    val spark = Session.local()
    spark.sparkContext.setLogLevel("WARN")
    // first-touch index priming: write whichever durable bucketed
    // index artifacts are missing/stale for this corpus, so THIS
    // session's queries share the freshly built artifacts and every
    // later session (the other gates, the bench) loads them. Failure
    // never blocks the gate — getters fall back to building.
    try {
      val primed = graft.sources.IndexStore.primeIfMissing(spark, sfDir)
      if (primed.nonEmpty)
        System.err.println(s"[verify] primed ${primed.length} index tables")
    } catch { case e: Throwable =>
      System.err.println(s"[verify] index priming failed (building per-session): ${e.getMessage}")
    }
    new java.io.File(outDir).mkdirs()
    val queries = SparkEntry.queries
    names.foreach { name =>
      try queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
