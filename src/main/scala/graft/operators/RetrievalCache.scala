package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{IndexStore, Tables}

/** One lexical (BM25 top-20) + one vector (exact-cosine top-20)
  * candidate run per (session, corpus) for the canonical query docs,
  * shared by every hybrid-retrieval consumer — a11 fuses the two legs,
  * x22 anti-joins them. Same shape as ClusterCache/CellIndexCache: a
  * real retrieval pipeline materializes its candidate lists once and
  * hangs fusion, negative mining, and evaluation off them instead of
  * re-running both searches per downstream query. The two hybrid-leg
  * tables are bounded at queries × k rows (a few KB); the benchScored
  * table is matching-docs × queries — corpus-order when probe terms
  * are common, which is why it persists MEMORY_AND_DISK rather than
  * assuming it fits in memory. Both builds read the shared
  * ClusterCache.docLengths table, so the per-doc-length aggregate runs
  * once per corpus across the whole retrieval family.
  */
object RetrievalCache {
  /** The canonical query-doc ids a11/x22 retrieve for (vec_id aligns
    * with doc_id in the corpus). */
  val QueryDocs: Seq[Long] = Seq(0L, 1L, 2L, 3L, 4L)
  private val K = 20

  /** Parameter stamp for the durable candidate tables: query-doc set
    * + k ride in the NAME, so a changed configuration is a different
    * table, never silently wrong data — the same rule as the index
    * artifacts. */
  private val qk = s"q${QueryDocs.mkString("_")}_k$K"

  /** The (query_id, doc_id, score_q6) BM25 score table for a fixed
    * probe set, built once per (session, corpus, probe set) — x20
    * ranks it, x21 thresholds it. The probe SEQUENCE is the table's
    * identity (md5-stamped into the name: a DataFrame argument would
    * be probes-blind, and a second caller with different probes would
    * silently get the first caller's scores); the table is bounded by
    * matching docs × queries. */
  def benchScored(spark: SparkSession, dir: String,
                  probes: Seq[(Long, String)]): DataFrame = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(probes.map { case (q, t) => s"$q:$t" }.mkString("|")
        .getBytes("UTF-8"))
      .take(5).map(b => f"$b%02x").mkString
    IndexStore.get(spark, dir, IndexStore.Artifact(s"bscored_$h", None) { (spark, dir) =>
      import spark.implicits._
      Retrieval.bm25Scored(
        graft.dedup.ClusterCache.docWordTf(spark, dir),
        Tables.documents(spark, dir), "doc_id",
        probes.toDF("query_id", "term"),
        Some(graft.dedup.ClusterCache.docLengths(spark, dir)))
    })
  }

  private val lexLeg = IndexStore.Artifact(s"hlex_$qk", None) { (spark, dir) =>
    val dw = graft.dedup.ClusterCache.docWordTf(spark, dir)
    val queries = dw.filter(col("doc_id").isin(QueryDocs: _*))
      .select(col("doc_id").as("query_id"), col("w").as("term"))
    Retrieval.bm25TopK(
      Retrieval.bm25Scored(dw, Tables.documents(spark, dir), "doc_id",
          queries, Some(graft.dedup.ClusterCache.docLengths(spark, dir)))
        .filter(col("doc_id") =!= col("query_id")),
      "doc_id", K)
  }

  private val vecLeg = IndexStore.Artifact(s"hvec_$qk", None) { (spark, dir) =>
    graft.ann.Ann.knnBrute(
        Tables.embeddings(spark, dir), "vec_id", "embedding", QueryDocs, K)
      .select(col("query_id"), col("nn_id").as("doc_id"), col("rank"))
  }

  /** (lexical, vector) top-K candidate tables, both
    * (query_id, doc_id, rank [, score_q6]). */
  def hybridLegs(spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    (IndexStore.get(spark, dir, lexLeg), IndexStore.get(spark, dir, vecLeg))

  private val ivfLegArtifact = IndexStore.Artifact(s"hivf_$qk", None) { (spark, dir) =>
    graft.ann.CellIndexCache.probeTopk(spark, dir, QueryDocs, K)
      .select(col("query_id"), col("nn_id").as("doc_id"), col("rank"))
  }

  /** The IVF-probed dense candidate leg (query_id, doc_id, rank) for
    * the canonical query docs, top-20 via the a4 hierarchical probe
    * (CellIndexCache.probeTopk — the SAME definition a4/a12 run), built
    * once per (session, corpus) like the brute legs above — a13 fuses
    * it against the shared lexical leg. Bounded at queries × 20 rows. */
  def ivfLeg(spark: SparkSession, dir: String): DataFrame =
    IndexStore.get(spark, dir, ivfLegArtifact)
}
