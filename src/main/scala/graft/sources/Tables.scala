package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loaders for the synthetic star schema + event/document/
  * embedding tables (see TESTDATA.md). One parquet file per table under
  * `sfDir`. All loads are lazy scans — Catalyst pushes filters/pruning
  * into the parquet reader, so callers should select/filter on the
  * returned DataFrame rather than pre-materializing.
  */
object Tables {
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")

  /** The temporal store: plays the role of the reference's
    * `temporal_records` table (reference app/models.py:7-24):
    * user_id ≈ record_id, ts ≈ timestamp, (event_type, value, props) ≈ data.
    *
    * The file's ts physical type has shipped in two forms across
    * driver testdata generations; both are normalized here to a µs
    * TimestampType so every downstream operator sees one type:
    *  - TIMESTAMP(NANOS), which Spark's vectorized reader only
    *    surfaces as a nanosecond long (`spark.sql.legacy.parquet
    *    .nanosAsLong`, set in Verify/Bench/tests) — the synthetic data
    *    is µs-grained, so `div 1000` is lossless (and matches DuckDB's
    *    own ns→µs read);
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false), which loads as
    *    TIMESTAMP_NTZ — cast to TimestampType. Sessions pin
    *    spark.sql.session.timeZone=UTC, so the cast preserves the
    *    micros value exactly and agrees with DuckDB's naive read.
    * In both cases the wrapper would hide ts comparisons from the
    * parquet scan; the NanoTsPushdown rule rewrites them back onto the
    * raw column (pushed row-group pruning).
    */
  def events(s: SparkSession, d: String): DataFrame =
    withEventTs(load(s, d, "events"))

  /** `events` with its `ts` in the one µs TimestampType form, from
    * either physical form above — batch scans ([[events]]) and the
    * streaming source (graft.streaming.Streams) share it. */
  def withEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")

  /** Embedding dimensionality of the synthetic corpus (TESTDATA.md);
    * [[graft.ann.Ann.EmbDims]] aliases this. */
  val EmbDims = 64

  /** The embeddings corpus behind a DEGENERATE-ROW gate: NULL,
    * wrong-dimension (ragged), and zero-norm embeddings are DROPPED at
    * the scan — the vector twin of the text tier's "NULL text
    * tokenizes to nothing" semantics (DegenerateCorpusSpec). Without
    * it a zero-norm vector's cosine is 0/0 = NaN, which sorts ABOVE
    * every real similarity in a descending rank window (NaN is
    * greatest in Spark's double ordering) — silently wrong top-k, not
    * a crash — and a ragged vector fails CosineSim's loud
    * length check mid-query. One fused codegen predicate riding the
    * scan (null/size checks + a self-dot), O(rows·dims) once — noise
    * next to any pairwise consumer. DegenerateVectorSpec pins the
    * drop semantics through the ANN + embedding-dedup production
    * queries. */
  def embeddings(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, size}
    load(s, d, "embeddings").filter(
      col("embedding").isNotNull &&
        size(col("embedding")) === EmbDims &&
        graft.functions.Vec.dotNative(col("embedding"), col("embedding")) > 0)
  }
}
