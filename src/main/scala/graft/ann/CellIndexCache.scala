package graft.ann

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import graft.sources.{IndexStore, ParquetStats, Tables}
import graft.util.SessionCache

/** Process-wide memo of built [[CoarseIndex]]es, keyed by (session,
  * corpus dir). Four queries share one blocking structure (d5/d8
  * near-dup, a3/a4 IVF); without the memo each ran its own `count()`
  * plus the full n·(k1+k2) anchor assignment — 4× the same job per
  * bench/verify pass (the round-7 a/d-family regression). The
  * assignment is persisted MEMORY_AND_DISK: ≤ 2·probe small rows per
  * corpus row, far under the corpus itself.
  *
  * The corpus row count comes from parquet footers
  * ([[ParquetStats.rowCount]]), not a scan job. Entries are keyed by
  * session (a new session builds its own). The durable vector artifacts
  * (cells, centroids, PQ tables, pairs, ...) are declared below as
  * [[IndexStore.Artifact]]s and read through [[IndexStore.get]]; a
  * changed corpus rebuilds them (IndexStore's fingerprint check), it
  * never patches them. */
object CellIndexCache {
  private val cache = new SessionCache[String, CoarseIndex](ix => { ix.asg.unpersist(); () })

  /** The shared index over `dir`'s embeddings table. */
  def embeddings(spark: SparkSession, dir: String): CoarseIndex =
    cache.getOrBuild(spark, dir) {
      val n = ParquetStats.rowCount(spark, s"$dir/embeddings.parquet")
      val ix = Ann.buildCoarseIndex(Tables.embeddings(spark, dir), "vec_id",
        "embedding", n)
      ix.copy(asg = ix.asg.persist(StorageLevel.MEMORY_AND_DISK))
    }

  /** The base threshold the shared pair table is scored at — d5's
    * reporting tau. Any consumer with tau >= BaseTau is a FILTER of
    * this table: a pair's cosine is constant across its meeting
    * cells, so the tau predicate commutes with the min-cell/max-cos
    * aggregation (spec-checked in CoarseCellSpec). */
  val BaseTau = 0.25

  private val sq8Cache = SessionCache.forValue[String, (Array[Double], Array[Double])]

  /** The SQ8 quantizer's per-dimension (mins, maxs) over `dir`'s
    * embeddings — ONE training scan per (session, corpus), shared by
    * every SQ8 consumer (a15's quantize leg and its recall eval). The
    * cached value is 2·dims doubles (plain data — no session-owned
    * resources to release), keyed by session so two live sessions
    * never share a driver-collected artifact. */
  def sq8Stats(spark: SparkSession, dir: String): (Array[Double], Array[Double]) =
    sq8Cache.getOrBuild(spark, dir) {
      val emb = Tables.embeddings(spark, dir)
      val dims = emb.selectExpr("size(embedding)").head().getInt(0)
      Ann.sq8MinMax(emb, "embedding", dims)
    }

  /** Near-dup pairs over `dir`'s embeddings at [[BaseTau]], built on
    * the shared index — ONE pair-scoring job serves d5 (identity) and
    * d8 (cos >= 0.4 filter + connected components), the way a real
    * curation pipeline materializes its pair table once and derives
    * reports and clusters from it. */
  val pairsArtifact: IndexStore.Artifact =
    IndexStore.Artifact("pairs", Some("id_a")) { (spark, dir) =>
      Ann.nearDupPairsScaledIndexed(Tables.embeddings(spark, dir),
        "vec_id", "embedding", BaseTau, embeddings(spark, dir))
    }

  def scaledPairs(spark: SparkSession, dir: String): DataFrame =
    IndexStore.get(spark, dir, pairsArtifact)

  /** The SEMANTIC dup-cluster assignment (vec_id, cluster_id) —
    * connected components over [[scaledPairs]] filtered at `tau` — as
    * a durable τ-stamped artifact (the dedup ClusterCache pattern
    * applied to the embedding side): the O(log n) star-contraction
    * rounds are the costliest per-session work left in the d8 path
    * and are a pure function of (corpus, τ), so they run once per
    * corpus and every later session loads the bucketed assignment.
    * The default is d8's τ. */
  def semanticClustersArtifact(tau: Double = 0.4): IndexStore.Artifact =
    IndexStore.Artifact(s"sclusters_t${math.round(tau * 10000)}", Some("cluster_id")) {
      (spark, dir) =>
        import org.apache.spark.sql.functions.col
        graft.dedup.Dedup.connectedComponents(
          Tables.embeddings(spark, dir).select(col("vec_id")),
          scaledPairs(spark, dir).filter(col("cos") >= tau)
            .select(col("id_a"), col("id_b")),
          "vec_id")
    }

  def semanticClusters(spark: SparkSession, dir: String,
                       tau: Double = 0.4): DataFrame =
    IndexStore.get(spark, dir, semanticClustersArtifact(tau))

  /** a7's trained Lloyd centroids (c_cell, c_vec) as a durable
    * parameter-stamped artifact: the training is deterministic
    * (seeded, decimal-exact means — [[Ann.kmeansCentroids]]) and
    * corpus-pure, so a warm session loads the k-row table instead of
    * re-running rounds+1 corpus scans (the costliest non-drain batch
    * key at sf1 pre-r16). Plain table (k rows — nothing to bucket).
    * The defaults are a7's parameterization. */
  def kmeansCentroidsArtifact(k: Int = 8, rounds: Int = 2): IndexStore.Artifact =
    IndexStore.Artifact(s"kmcents_k${k}_r$rounds", None) { (spark, dir) =>
      Ann.kmeansCentroids(Tables.embeddings(spark, dir),
        "vec_id", "embedding", k, rounds)
    }

  def kmeansCentroids(spark: SparkSession, dir: String, k: Int = 8,
                      rounds: Int = 2): DataFrame =
    IndexStore.get(spark, dir, kmeansCentroidsArtifact(k, rounds))

  /** The embeddings table with its primary coarse-cell column
    * attached — the (id, vector, cell) table a3/a4 probe, built once
    * per corpus instead of re-running the cellsFromIndex aggregation +
    * join per query. */
  val cellsArtifact: IndexStore.Artifact =
    IndexStore.Artifact("cells", Some("cell")) { (spark, dir) =>
      Ann.withCoarseCellIndexed(Tables.embeddings(spark, dir), "vec_id",
        embeddings(spark, dir))
    }

  def embeddingsWithCell(spark: SparkSession, dir: String): DataFrame =
    IndexStore.get(spark, dir, cellsArtifact)

  /** The shared (id, vec, cell) table when it is already session-warm
    * or loadable as a durable artifact — else None. Callers that do
    * not NEED the cell column (a7's kmeans report scan reads the same
    * rows; the column is unused) fall back to the raw corpus scan
    * instead of paying the full coarse-cell construction in a cold
    * build-mode session (ADVICE r16). In suite context the a-family
    * primes the artifact anyway, so the shared in-RAM table is what
    * this returns. */
  def embeddingsWithCellIfWarm(spark: SparkSession,
                               dir: String): Option[DataFrame] =
    IndexStore.peek(spark, dir, cellsArtifact).orElse {
      if (IndexStore.enabled && IndexStore.exists(spark, dir, cellsArtifact.name))
        Some(embeddingsWithCell(spark, dir))
      else None
    }

  /** Decimal-exact per-cell centroids over [[embeddingsWithCell]] —
    * the IVF coarse structure every a4-style probe shares (one
    * corpus-wide aggregation, many queries). Stored with the level-0
    * group `g_grp` as its bucket key, so a stage-2 probe's
    * `g_grp IN (...)` prunes buckets; [[centroids]] projects it away. */
  val centroidsArtifact: IndexStore.Artifact =
    IndexStore.Artifact("centroids", Some("g_grp")) { (spark, dir) =>
      import org.apache.spark.sql.functions.col
      Ann.ivfCentroids(embeddingsWithCell(spark, dir), "embedding", "cell")
        .select(Ann.cellGroup("c_cell", embeddings(spark, dir).k2).as("g_grp"),
          col("c_cell"), col("c_vec"))
    }

  /** The (c_cell, c_vec) centroid table. */
  def centroids(spark: SparkSession, dir: String): DataFrame =
    IndexStore.get(spark, dir, centroidsArtifact).select("c_cell", "c_vec")

  /** Level-0 GROUP centroids over [[centroids]] (k1 tiny rows) — stage
    * 1 of the hierarchical coarse probe a4/a9 share. Derived from the
    * cell-centroid table (one cells-row aggregation, never a corpus
    * scan). */
  val groupCentroidsArtifact: IndexStore.Artifact =
    IndexStore.Artifact("gcents", None) { (spark, dir) =>
      Ann.groupCentroids(centroids(spark, dir), embeddings(spark, dir).k2)
    }

  def groupCentroids(spark: SparkSession, dir: String): DataFrame =
    IndexStore.get(spark, dir, groupCentroidsArtifact)

  /** The IVFPQ RESIDUAL codebook over `dir`'s embeddings (k·m tiny
    * rows, broadcast at use sites). */
  val pqCodebookArtifact: IndexStore.Artifact =
    IndexStore.Artifact("pqcodebook", None) { (spark, dir) =>
      Ann.ivfPqCodebook(embeddingsWithCell(spark, dir), "vec_id", "embedding",
        "cell", centroids(spark, dir))
    }

  def pqCodebook(spark: SparkSession, dir: String): DataFrame =
    IndexStore.get(spark, dir, pqCodebookArtifact)

  /** The IVFPQ inverted-list code table (c_cell, __vid, __codes) over
    * `dir`'s embeddings — residual-encoded, cell-indexed, the
    * compressed index a9's ADC scoring probes by cell key. ONE
    * corpus-scan encode per corpus: one packed row per vector. */
  val pqCodesArtifact: IndexStore.Artifact =
    IndexStore.Artifact("pqcodes", Some("c_cell")) { (spark, dir) =>
      Ann.ivfPqCodes(embeddingsWithCell(spark, dir), "vec_id", "embedding",
        "cell", centroids(spark, dir), pqCodebook(spark, dir))
    }

  def pqCodes(spark: SparkSession, dir: String): DataFrame =
    IndexStore.get(spark, dir, pqCodesArtifact)

  /** a8's RAW-vector PQ codebook (no coarse cells — standalone PQ). */
  val rawPqCodebookArtifact: IndexStore.Artifact =
    IndexStore.Artifact("rawpqcodebook", None) { (spark, dir) =>
      Ann.pqCodebook(Tables.embeddings(spark, dir), "vec_id", "embedding")
    }

  def rawPqCodebook(spark: SparkSession, dir: String): DataFrame =
    IndexStore.get(spark, dir, rawPqCodebookArtifact)

  /** a8's RAW-vector PQ code table (__vid, __m, __code) — the
    * standalone-PQ compressed index, built ONCE per corpus (index
    * construction vs search, the FAISS split); per-query a8 work is
    * then the distance table + integer ADC join only. */
  val rawPqCodesArtifact: IndexStore.Artifact =
    IndexStore.Artifact("rawpqcodes", Some("__vid")) { (spark, dir) =>
      Ann.pqCodes(Tables.embeddings(spark, dir), "vec_id", "embedding",
        rawPqCodebook(spark, dir))
    }

  def rawPqCodes(spark: SparkSession, dir: String): DataFrame =
    IndexStore.get(spark, dir, rawPqCodesArtifact)

  /** a4's 2-stage hierarchical IVF top-k search over this cache's
    * shared artifacts — the ONE wiring of knnIvfProbeHier to the
    * production cells/centroids/group-centroids, so every consumer
    * (a4's search, a12's recall eval, a13's hybrid dense leg) probes
    * identically. Per-query SEARCH work, deliberately NOT memoized
    * here: callers that want a materialized candidate table cache the
    * bounded result themselves (RetrievalCache.ivfLeg). */
  def probeTopk(spark: SparkSession, dir: String, queryIds: Seq[Long],
                k: Int): DataFrame = {
    val ix = embeddings(spark, dir)
    Ann.knnIvfProbeHier(
      embeddingsWithCell(spark, dir), "vec_id", "embedding", "cell",
      centroids(spark, dir), ix.k2, queryIds, k,
      Ann.recommendedNprobe(ix.cells),
      Ann.recommendedGroupProbe(ix.k1),
      groupCentroids(spark, dir))
  }
}
