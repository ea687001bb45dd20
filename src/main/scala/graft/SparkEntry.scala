package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.keys._

/** Driver contract — one entry per implemented operator from SURVEY.md §2.
  *
  * Each key is one [[graft.keys.Key]] (name, DuckDB oracle, Spark build)
  * declared in the file of its family under `graft/keys/`; this object
  * only concatenates the families. The oracles run on DuckDB views named
  * after the tables. Aliases match the Spark output exactly; sums go
  * through DECIMAL; ratios round to 6dp; timestamps surface as epoch_us
  * BIGINT (SURVEY §5).
  */
object SparkEntry {

  /** Every key, family by family (EntrySpec pins the names unique and
    * each key in the file of its family). */
  val keys: Seq[Key] =
    TemporalKeys.keys ++ TimeSeriesKeys.keys ++ AnalyticsKeys.keys ++
      DedupKeys.keys ++ AnnKeys.keys ++ PipelineKeys.keys ++
      SketchKeys.keys ++ MultimodalKeys.keys

  /** Flagship: AS-OF snapshot (the reference's GET /query). */
  def entry(spark: SparkSession): DataFrame =
    queries("t1_asof_snapshot")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    keys.map(k => k.name -> k.build).toMap

  /** Formats every oracle on each read. */
  def oracleSql: Map[String, String] = keys.map(k => k.name -> k.oracle()).toMap
}
