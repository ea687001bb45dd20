package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Vec
import graft.operators.TimeSeries

/** Direct, unshared forms of operators that the product reaches only
  * through a memo, a shared table or a scaled tier. Specs (and the
  * test-scope probes) compare the product path against them; no key
  * calls them. */
object References {

  /** Robust per-series outlier report (median / MAD / outliers under
    * |v − median| > k·MAD) computed from scratch: value cutoffs, exact
    * median, then the shared post-median half
    * ([[TimeSeries.madReportFromMedian]]). QuantileCache.madOutliers is
    * the same report off the suite-shared selection. Six bounded
    * actions over one persisted (__g, __v) projection. */
  def madOutliers(df: DataFrame, series: String, value: String,
                  k: Int = 3): DataFrame = {
    import scala.jdk.CollectionConverters._
    val spark = df.sparkSession
    val sType = df.schema(series).dataType
    val t = df.select(col(series).as("__g"), col(value).cast("double").as("__v"))
      .filter(col("__v").isNotNull && col("__g").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val cutsByGroup = TimeSeries.quantileCuts(t, "madOutliers", series)
      if (cutsByGroup.isEmpty)
        return spark.createDataFrame(Seq.empty[org.apache.spark.sql.Row].asJava,
          TimeSeries.madReportSchema(series, sType))
      val medRows = TimeSeries.selectQuantiles(t, cutsByGroup, Seq(0.5))
      val med: Map[Any, Double] =
        medRows.map(r => r(0) -> TimeSeries.r6(r(2).asInstanceOf[Double])).toMap
      val n: Map[Any, Long] =
        medRows.map(r => r(0) -> r(1).asInstanceOf[Long]).toMap
      TimeSeries.madReportFromMedian(t, series, sType, cutsByGroup, med, n, k)
    } finally t.unpersist()
  }

  /** Embedding near-dup pairs (cosine ≥ tau) within a FIXED cell
    * column — the exact, unscaled form of
    * Ann.nearDupPairsScaledIndexed. Every cell is sharded into
    * `subBlocks` hash sub-blocks (probe side replicated, build side
    * hashed); each unordered pair still surfaces once. */
  def nearDupPairs(emb: DataFrame, id: String, vec: String, cell: String,
                   tau: Double, subBlocks: Int = 8): DataFrame = {
    val withNorm = emb.select(col(id), col(vec), col(cell),
      Vec.normNative(col(vec)).as("__nrm"))
    val a = withNorm.select(col(id).as("id_a"), col(vec).as("vec_a"),
        col(cell).as("cell"), col("__nrm").as("na"))
      .withColumn("sb", explode(array((0 until subBlocks).map(lit): _*)))
    val b = withNorm.select(col(id).as("id_b"), col(vec).as("vec_b"),
      col(cell).as("cell"), col("__nrm").as("nb"),
      pmod(hash(col(id)), lit(subBlocks)).as("sb"))
    a.join(b, Seq("cell", "sb"))
      .filter(col("id_a") < col("id_b"))
      .select(col("cell"), col("id_a"), col("id_b"),
        Vec.cosinePrenormed(col("vec_a"), col("vec_b"),
          col("na"), col("nb")).as("cos"))
      .filter(col("cos") >= tau)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Duplicate clusters (id, cluster_id): connected components over
    * the MinHash-LSH candidate graph, labeled by the component's
    * minimum id — the build ClusterCache.clusters persists, from
    * scratch over any docs frame. */
  def dupClusters(docs: DataFrame, id: String, text: String,
                  n: Int, perms: Int, bands: Int): DataFrame = {
    val pairs = graft.dedup.Dedup.minhashLshPairs(docs, id, text, n, perms, bands)
      .select("id_a", "id_b")
    graft.dedup.Dedup.connectedComponents(docs.select(col(id)), pairs, id)
      .orderBy(id)
  }

  /** As-of join composed from stock operators: for each left row, the
    * latest right row with the same key and `rightTs <= leftTs`, as
    * union + time-ordered last(ignoreNulls) over one window on `key`.
    * The native AsOfJoinExec is checked against it.
    *
    * `left`/`right` must share (key, ts, tie) columns; `carry` names the
    * right-side columns to attach to each left row as `right_<c>`.
    */
  def asOfJoin(left: DataFrame, right: DataFrame, key: String, ts: String,
               tie: String, carry: Seq[String]): DataFrame = {
    val lCols = left.columns
    val tagged =
      left.withColumn("__side", lit(1))
        .select((lCols.map(col) :+ col("__side")) ++
          carry.map(c => lit(null).cast(right.schema(c).dataType).as(s"__r_$c")): _*)
      .unionByName(
        right.withColumn("__side", lit(0))
          .select((lCols.map(c => if (right.columns.contains(c)) col(c)
                                  else lit(null).cast(left.schema(c).dataType).as(c)) :+
            col("__side")) ++ carry.map(c => col(c).as(s"__r_$c")): _*))
    // right rows sort before left rows at equal (ts, tie) so an exact
    // timestamp match is visible to the left row (ASOF `<=` semantics).
    val w = Window.partitionBy(col(key)).orderBy(col(ts), col("__side"), col(tie))
      .rowsBetween(Window.unboundedPreceding, 0)
    val filled = carry.foldLeft(tagged) { (d, c) =>
      d.withColumn(s"__last_$c", last(col(s"__r_$c"), ignoreNulls = true).over(w))
    }
    filled.filter(col("__side") === 1)
      .select(lCols.map(col) ++ carry.map(c => col(s"__last_$c").as(s"right_$c")): _*)
  }

  /** Build and write every standard artifact of `dir`'s corpus,
    * OVERWRITING any present; returns the table names. Run it in build
    * mode with cleared memos: a getter that already LOADED artifact X
    * would make this overwrite the very table it reads. */
  def writeAll(spark: SparkSession, dir: String): Seq[String] =
    graft.sources.IndexStore.standard.map { a =>
      graft.sources.IndexStore.write(
        graft.sources.IndexStore.get(spark, dir, a), dir, a.name, a.bucketKey)
    }
}
