package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.sources.{IndexStore, Tables}
import graft.util.SessionCache

/** One MinHash-LSH + connected-components clustering job per
  * (session, corpus dir, parameters), shared by every consumer —
  * d6 reports the cluster table itself, d7 derives survivorship from
  * it. Same shape as [[graft.ann.CellIndexCache]] for the embedding
  * family: a real curation pipeline materializes its text dup-cluster
  * table once and hangs reports, survivorship, and filtering off it,
  * instead of re-running the LSH band join and the O(log n)
  * star-contraction rounds per downstream query.
  */
object ClusterCache {
  private val statsCache = SessionCache.forValue[(String, Int), Dedup.DfSkewStats]

  /** The shared (doc_id, term, tf) token aggregate over `dir`'s
    * documents — the table x11 (unigram LM), x14 (CCNet buckets) and
    * x17 (tf-idf top-k) all start from. One explode + aggregation per
    * corpus, persisted; each consumer pays only its own downstream
    * (Catalyst cannot share the differently-pruned branches between
    * consumers OR within one — see Pipeline.docWordTable). */
  val docWordTfArtifact: IndexStore.Artifact =
    IndexStore.Artifact("docwordtf", Some("w")) { (spark, dir) =>
      graft.operators.Pipeline.docWordTable(
        Tables.documents(spark, dir), "doc_id", "text")
    }

  def docWordTf(spark: SparkSession, dir: String): DataFrame =
    IndexStore.get(spark, dir, docWordTfArtifact)

  /** The shared per-doc token-length table (doc_id, dl) over
    * [[docWordTf]], plus the corpus token total under `l_total` on
    * every row — ONE doc-sized aggregate per corpus serving every
    * BM25-family consumer (x20/x21's benchScored build and a11/x22's
    * hybrid legs each need dl and L; before this table each cache
    * re-derived both from the shared docWordTf). Doc-count-sized. */
  val docLengthsArtifact: IndexStore.Artifact =
    IndexStore.Artifact("doclengths", Some("doc_id")) { (spark, dir) =>
      import org.apache.spark.sql.functions._
      val dl = docWordTf(spark, dir).groupBy(col("doc_id"))
        .agg(sum(col("tf")).cast("long").as("dl"))
      val lTot = dl.agg(sum(col("dl")).cast("long").as("l_total"))
      dl.crossJoin(broadcast(lTot))
    }

  def docLengths(spark: SparkSession, dir: String): DataFrame =
    IndexStore.get(spark, dir, docLengthsArtifact)

  /** The shared (doc_id, n_sh, shingle-hash) postings table over
    * `dir`'s documents — the input both exact-similarity measures
    * (d4 Jaccard, x16 containment) join on. One shingle + md5 build
    * per corpus; each consumer pays only its own join. */
  def postingsArtifact(n: Int = 3): IndexStore.Artifact =
    IndexStore.Artifact(s"postings_n$n", Some("shingle")) { (spark, dir) =>
      Dedup.shinglePostings(Tables.documents(spark, dir), "doc_id", "text", n)
    }

  def postings(spark: SparkSession, dir: String, n: Int = 3): DataFrame =
    IndexStore.get(spark, dir, postingsArtifact(n))

  /** The shared per-shingle document-frequency table (shingle, __df)
    * over [[postings]] — vocabulary-sized (tiny next to the postings
    * themselves). One postings-wide aggregation serves every df
    * consumer per corpus: both adaptive routers' skew statistics (d4
    * Jaccard, x16 containment), the prefix arms' global (df, shingle)
    * rank order, and the df>=2 unique-shingle prune — without it each
    * of those recomputes the same groupBy from the postings (three
    * full-width aggregations inside one x16 call; measured +1.3s on a
    * 0.3s sf0.1 query). */
  def shingleDfArtifact(n: Int = 3): IndexStore.Artifact =
    IndexStore.Artifact(s"shingledf_n$n", Some("shingle")) { (spark, dir) =>
      Dedup.shingleDf(postings(spark, dir, n))
    }

  def shingleDf(spark: SparkSession, dir: String, n: Int = 3): DataFrame =
    IndexStore.get(spark, dir, shingleDfArtifact(n))

  /** The df-distribution routing statistics over [[shingleDf]] —
    * tau-independent, so ONE two-action computation per corpus serves
    * every adaptive-router consumer (d4 Jaccard, x16 containment):
    * re-running the stats per query costs ~0.3s of pure
    * job-scheduling latency at local[32] even against the persisted
    * df table. Memoized as a plain value (a few longs), not a
    * DataFrame. */
  def dfSkewStats(spark: SparkSession, dir: String,
                  n: Int = 3): Dedup.DfSkewStats =
    statsCache.getOrBuild(spark, (dir, n))(
      Dedup.dfSkewStats(shingleDf(spark, dir, n)))

  /** The shared EXACT n-gram Jaccard verified-pair table
    * (id_a, id_b, shared, jaccard ≥ τ) over [[postings]] — durable and
    * τ-stamped (τ in basis points: 0.12 → t1200; a different τ is a
    * different table, never a silently-reused one), so the adaptive
    * postings join (the costliest dedup computation after the LSH
    * build: 8.4s at sf1 for the τ=0.12 table) runs once per
    * (corpus, τ) and every consumer — d4's pair report, d11's recall
    * truth leg — is a pure reader of the bucketed table. The defaults
    * are d4/d11's parameterization. */
  def jaccardPairsArtifact(n: Int = 3, tau: Double = 0.12): IndexStore.Artifact =
    IndexStore.Artifact(s"jpairs_n${n}_t${math.round(tau * 10000)}", Some("id_a")) {
      (spark, dir) =>
        Dedup.ngramJaccardPairsFrom(postings(spark, dir, n), tau,
          dfcPre = Some(shingleDf(spark, dir, n)),
          statsPre = Some(dfSkewStats(spark, dir, n)))
    }

  def jaccardPairs(spark: SparkSession, dir: String, n: Int = 3,
                   tau: Double = 0.12): DataFrame =
    IndexStore.get(spark, dir, jaccardPairsArtifact(n, tau))

  /** The shared EXACT n-gram CONTAINMENT verified-pair table over
    * [[postings]] — x16's adaptive postings join is the suite's single
    * most expensive computation at sf1 (its documented 21–48s band),
    * and like [[jaccardPairs]] it is a pure function of (corpus, n, τ):
    * durable, τ-stamped (distinct prefix — the measures differ). x16
    * becomes a reader of the bucketed table after first touch; build
    * mode and the INDEX_AB artifacts keep measuring the build itself.
    * The defaults are x16's parameterization. */
  def containmentPairsArtifact(n: Int = 3, tau: Double = 0.6): IndexStore.Artifact =
    IndexStore.Artifact(s"cpairs_n${n}_t${math.round(tau * 10000)}", Some("id_a")) {
      (spark, dir) =>
        Dedup.containmentPairsFrom(postings(spark, dir, n), tau,
          dfcPre = Some(shingleDf(spark, dir, n)),
          statsPre = Some(dfSkewStats(spark, dir, n)))
    }

  def containmentPairs(spark: SparkSession, dir: String, n: Int = 3,
                       tau: Double = 0.6): DataFrame =
    IndexStore.get(spark, dir, containmentPairsArtifact(n, tau))

  /** The shared winnowing-fingerprint pair table over `dir`'s
    * documents — x15's postings equi-join, a pure function of
    * (corpus, k, w, minShared): durable and parameter-stamped like
    * [[jaccardPairs]]. The defaults are x15's parameterization. */
  def winnowPairsArtifact(k: Int = 3, w: Int = 4,
                          minShared: Int = 2): IndexStore.Artifact =
    IndexStore.Artifact(s"wpairs_k${k}_w${w}_m$minShared", Some("id_a")) {
      (spark, dir) =>
        Dedup.winnowPairs(Tables.documents(spark, dir), "doc_id", "text",
          k, w, minShared)
    }

  def winnowPairs(spark: SparkSession, dir: String, k: Int = 3, w: Int = 4,
                  minShared: Int = 2): DataFrame =
    IndexStore.get(spark, dir, winnowPairsArtifact(k, w, minShared))

  /** Predicate stamp for the DSIR artifacts — DERIVED from the
    * predicate's normalized column string (md5 prefix of
    * Column.toString, e.g. "=(lang, 'en')"), never caller-supplied: a
    * caller reusing a label with a different predicate can't silently
    * load the wrong feature table (the fingerprint only invalidates on
    * corpus change, so the name must bind the predicate). NOT the
    * bridge Expression's `.sql` — the lazy ColumnNode wrapper renders
    * every predicate as the same generic "columnnodeexpression()".
    *
    * Column.toString is not a stable public contract across Spark
    * versions: an upgrade that changes the rendering silently RENAMES
    * the artifact, orphaning primed tables. That failure mode is a
    * REBUILD (the new name misses, the getter re-derives and
    * re-primes), never a wrong result — the deliberate trade vs.
    * hand-maintaining a parallel normalizer for every predicate shape,
    * which could drift from the predicate's actual semantics and THAT
    * failure mode would be silently loading the wrong table. Orphans
    * are bounded: delete spark-warehouse/graft_idx_*__dsir* after an
    * upgrade. */
  private def dsirStamp(buckets: Int, pred: Column): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(pred.toString.getBytes("UTF-8")).take(4)
      .map(b => f"${b & 0xff}%02x").mkString
    s"b${buckets}_p$h"
  }

  /** x25's target predicate: English documents. */
  private def English: Column = org.apache.spark.sql.functions.col("lang") === "en"

  /** The shared DSIR hashed-feature aggregate (id, source, target
    * flag, bucket, tf) over `dir`'s documents — x25's dominant cost
    * (the uni+bigram explode + aggregation), durable and stamped by
    * (buckets, predicate hash). The defaults are x25's
    * parameterization. */
  def dsirFeatsArtifact(buckets: Int = 4096,
                        pred: Column = English): IndexStore.Artifact =
    IndexStore.Artifact("dsirfeats_" + dsirStamp(buckets, pred), Some("b")) {
      (spark, dir) =>
        graft.operators.Pipeline.dsirFeatTable(
          Tables.documents(spark, dir), "doc_id", "text", "source",
          pred, buckets)
    }

  def dsirFeats(spark: SparkSession, dir: String, buckets: Int,
                targetPred: Column): DataFrame =
    IndexStore.get(spark, dir, dsirFeatsArtifact(buckets, targetPred))

  /** The per-doc DSIR importance statistics (doc, source, feature
    * mass, target/raw LM bits) as a durable DOC-SIZED artifact — the
    * d8-clusters pattern applied to x25: the LM fold + feature
    * join+aggregate are pure integer functions of (corpus, buckets,
    * predicate), so a warm session reads 1 row per doc and only the
    * source-sized report runs per query. Builds from the (loaded or
    * built) [[dsirFeats]] table; same stamp. */
  def dsirDocStatsArtifact(buckets: Int = 4096,
                           pred: Column = English): IndexStore.Artifact =
    IndexStore.Artifact("dsirdoc_" + dsirStamp(buckets, pred), Some("source")) {
      (spark, dir) =>
        graft.operators.Pipeline.dsirDocStats(
          dsirFeats(spark, dir, buckets, pred), "doc_id", "source")
    }

  def dsirDocStats(spark: SparkSession, dir: String, buckets: Int,
                   targetPred: Column): DataFrame =
    IndexStore.get(spark, dir, dsirDocStatsArtifact(buckets, targetPred))

  /** The shared MinHash-LSH candidate pair table (id_a, id_b) over
    * `dir`'s documents — d2 reports it (plus its orderBy), the cluster
    * build consumes it as the CC edge set. One signature + band-join
    * job, every consumer. */
  def minhashArtifact(n: Int = 3, perms: Int = 16,
                      bands: Int = 4): IndexStore.Artifact =
    IndexStore.Artifact(s"minhash_n${n}_p${perms}_b$bands", Some("id_a")) {
      (spark, dir) =>
        Dedup.minhashLshPairs(Tables.documents(spark, dir), "doc_id", "text",
          n, perms, bands, ordered = false)
    }

  def minhashPairs(spark: SparkSession, dir: String,
                   n: Int = 3, perms: Int = 16, bands: Int = 4): DataFrame =
    IndexStore.get(spark, dir, minhashArtifact(n, perms, bands))

  /** The shared dup-cluster table over `dir`'s documents table
    * (doc_id, cluster_id) — connected components over
    * [[minhashPairs]]' edge set, so the LSH job is shared with d2 and
    * the CC rounds with d7. */
  def clustersArtifact(n: Int = 3, perms: Int = 16,
                       bands: Int = 4): IndexStore.Artifact =
    IndexStore.Artifact(s"clusters_n${n}_p${perms}_b$bands", Some("doc_id")) {
      (spark, dir) =>
        Dedup.connectedComponents(
          Tables.documents(spark, dir).select(org.apache.spark.sql.functions.col("doc_id")),
          minhashPairs(spark, dir, n, perms, bands), "doc_id")
    }

  def documents(spark: SparkSession, dir: String,
                n: Int = 3, perms: Int = 16, bands: Int = 4): DataFrame =
    IndexStore.get(spark, dir, clustersArtifact(n, perms, bands))
}
