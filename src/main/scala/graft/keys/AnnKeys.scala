package graft.keys

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.ann.Ann

import Shared._

/** a-keys: vector search (brute, LSH, IVF, IVFPQ, PQ, SQ8), its recall
  * evaluations, k-means and the hybrid lexical+dense fusions. */
object AnnKeys {
  // a2's multi-table LSH shape: production plane count (65k buckets —
  // the space actually shards a corpus), small per-table probe ball
  // (697/65536 ≈ 1%), recall OR-amplified across 16 independent tables
  // (1-(1-q)^L — ANN_SWEEP_r6: recall@10 0.08→0.78 at sf0.1 and
  // 0.18→0.9+ at sf1 going L=1→16; planted real near-dups reach 1.00
  // from L=4). Shared by the entry and the oracle SQL builder.
  private val A2Planes = 16
  private val A2Probe = 3
  private val A2Tables = 16
  private val A2Seed = 42L
  // a18 MMR constants, shared by the Spark wiring and the oracle SQL
  // (the A2Planes pattern): λ₁₀ splits the integer objective into
  // λ₁₀·rel − (10−λ₁₀)·red on BOTH engines, so changing any of these
  // moves query and oracle together
  private val MmrPoolK = 20
  private val MmrSelectK = 5
  private val MmrLambdaTenths = 7
  private val MmrQueryIds = Seq(0L, 1L, 2L, 3L, 4L)

  /** a4's 2-stage hierarchical IVF probe over the shared CellIndexCache
    * artifacts — ONE definition (CellIndexCache.probeTopk) so a4 (the
    * search), a12 (its recall evaluation against the brute truth) and
    * a13's cached dense leg cannot drift apart. */
  private[graft] def ivfProbeTopk(s: SparkSession, d: String,
                           k: Int = 10): DataFrame =
    graft.ann.CellIndexCache.probeTopk(s, d, Seq(0L, 1L, 2L, 3L, 4L), k)

  /** a9's IVFPQ search over the shared index artifacts — ONE wiring so
    * a9 (the search) and a14 (its recall evaluation) cannot drift. */
  private[graft] def ivfPqTopk(s: SparkSession, d: String): DataFrame = {
    val ix = graft.ann.CellIndexCache.embeddings(s, d)
    val np = Ann.ivfPqNprobe(ix.cells)
    Ann.knnIvfPq(
      graft.ann.CellIndexCache.embeddingsWithCell(s, d),
      "vec_id", "embedding", "cell",
      graft.ann.CellIndexCache.centroids(s, d),
      graft.ann.CellIndexCache.pqCodes(s, d),
      graft.ann.CellIndexCache.pqCodebook(s, d),
      ix.k2, Seq(0L, 1L, 2L, 3L, 4L), 10, np,
      Ann.hierGroupProbe(ix.k1, ix.k2, np),
      graft.ann.CellIndexCache.groupCentroids(s, d))
  }

  // The a-family's three bounded top-k legs, each consumed by several
  // queries per suite pass (brute truth: a1 + the a12/a14/a15/a17
  // evals; hierarchical probe: a4 + a12/a17; IVFPQ: a9 + a14), were
  // re-computed per consumer — 5 brute corpus passes, 3 probe runs, 2
  // ADC runs per pass. Memoize each ONCE per (session, corpus), the
  // same in-session discipline as RetrievalCache's hybrid legs /
  // QuantileCache's selection: queries×k rows persisted, every
  // consumer reads the same table, results bit-identical because it
  // is the same DataFrame (MadRecallSpec pins shared == direct).
  // Nothing survives the session — every run still computes all legs
  // from the parquet corpus.
  private val bruteTruthCache = graft.util.SessionCache.forDf[String]
  private def bruteTruth(s: SparkSession, d: String): DataFrame =
    bruteTruthCache.getOrBuild(s, d) {
      Ann.knnBrute(Tables.embeddings(s, d), "vec_id", "embedding",
          Seq(0L, 1L, 2L, 3L, 4L), 10)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
  private val probeTopkCache = graft.util.SessionCache.forDf[String]
  private def probeTopkShared(s: SparkSession, d: String): DataFrame =
    probeTopkCache.getOrBuild(s, d) {
      ivfProbeTopk(s, d)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
  private val pqTopkCache = graft.util.SessionCache.forDf[String]
  private def pqTopkShared(s: SparkSession, d: String): DataFrame =
    pqTopkCache.getOrBuild(s, d) {
      ivfPqTopk(s, d)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** recall@k of `approx` against `truth` (both (query_id, nn_id)
    * top-k tables) — the bounded eval aggregate a12 and a14 share. */
  private def recallEval(truth: DataFrame, approx: DataFrame): DataFrame =
    truth.join(approx.withColumn("__hit", lit(1L)),
        Seq("query_id", "nn_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_truth"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_hit"))
      .withColumn("recall",
        round(col("n_hit") / col("n_truth").cast("double"), 6))
      .orderBy("query_id")

  // a7 k-means CTE builders: one assignment (argmax 6-dp cosine vs
  // the `cent` centroid CTE, ties -> smaller cluster id) and one
  // decimal-exact centroid update — the same formulas the Spark side
  // runs (Ann.kmeans), digit-for-digit
  private def kmAssignCte(out: String, cent: String): String =
    s"""$out AS (
       |  SELECT v_id, c_cell, cos FROM (
       |    SELECT v_id, c_cell, cos, row_number() OVER (
       |      PARTITION BY v_id ORDER BY cos DESC, c_cell) AS rn
       |    FROM (SELECT e.vec_id AS v_id, c.c_cell,
       |        ${cosSql("e.embedding", "c.c_vec")} AS cos
       |      FROM embeddings e CROSS JOIN $cent c))
       |  WHERE rn = 1)""".stripMargin

  private def kmUpdateCte(out: String, asg: String): String =
    s"""$out AS (
       |  SELECT c_cell, list(cv ORDER BY i) AS c_vec FROM (
       |    SELECT a.c_cell, p.i,
       |      CAST(sum(CAST(p.v AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS cv
       |    FROM $asg a JOIN kcomp p ON p.vec_id = a.v_id
       |    GROUP BY a.c_cell, p.i) GROUP BY c_cell)""".stripMargin

  // a2's per-table bucket bits recomputed in SQL from the SAME seeded
  // planes (deterministic scala.util.Random(seed + table) Gaussians,
  // inlined as literals); both engines accumulate the dot
  // left-to-right in double, so the sign bits — hence the candidate
  // sets — agree. The multi-table candidate UNION is the OR across
  // per-table hamming tests (each pair joins at most once in SQL, so
  // no dedup is needed where the Spark side distincts its union).
  private def a2Sql: String = {
    val bucketCols = (0 until A2Tables).map { t =>
      val ps = graft.ann.Ann.tablePlanes(64, A2Planes, A2Seed, t)
      val e = ps.zipWithIndex.map { case (plane, p) =>
        val lits = plane.map(java.lang.Double.toString).mkString(", ")
        s"CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), [$lits]) > 0 THEN ${1L << p} ELSE 0 END"
      }.mkString("\n      + ")
      s"    ($e)::BIGINT AS b$t"
    }.mkString(",\n")
    val qCols = (0 until A2Tables).map(t => s"b$t AS qb$t").mkString(", ")
    val anyTable = (0 until A2Tables).map(t =>
      s"bit_count(xor(c.b$t, q.qb$t)) <= $A2Probe").mkString("\n        OR ")
    s"""WITH pb AS (SELECT vec_id, embedding,
       |$bucketCols
       |  FROM embeddings),
       |q AS (SELECT vec_id AS query_id, embedding AS q_emb, $qCols
       |  FROM pb WHERE vec_id IN (0, 1, 2, 3, 4))
       |SELECT query_id, nn_id, cos, rank FROM (
       |  SELECT query_id, nn_id, cos,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nn_id) AS rank
       |  FROM (
       |    SELECT q.query_id, c.vec_id AS nn_id,
       |      round(list_dot_product(CAST(q.q_emb AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
       |        / (sqrt(list_dot_product(CAST(q.q_emb AS DOUBLE[]), CAST(q.q_emb AS DOUBLE[])))
       |         * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))), 6) AS cos
       |    FROM q JOIN pb c ON c.vec_id <> q.query_id
       |      AND ($anyTable)))
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
  }

  // a4's full hierarchical-probe CTE chain (decimal-exact cell +
  // group centroids, 2-stage probe) and its final exact-rerank top-10
  // select — factored so the a4 oracle and a12's recall-eval oracle
  // share one definition, digit-for-digit
  private def a4ProbeCtes: String =
    s"""$cellCtes,
       |cells AS (SELECT vec_id, cell FROM pcell WHERE is_primary),
       |comp AS (
       |  SELECT cl.cell, j AS i, CAST(e.embedding[j] AS DOUBLE) AS v
       |  FROM embeddings e JOIN cells cl ON cl.vec_id = e.vec_id,
       |    range(1, 65) t(j)),
       |cvc AS (SELECT cell, i,
       |    CAST(sum(CAST(v AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS cv
       |  FROM comp GROUP BY cell, i),
       |cvec AS (SELECT cell, list(cv ORDER BY i) AS c_vec FROM cvc GROUP BY cell),
       |gvc AS (SELECT cell // (SELECT k2 FROM par) AS grp, i,
       |    CAST(sum(CAST(cv AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS gv
       |  FROM cvc GROUP BY 1, 2),
       |gvec AS (SELECT grp, list(gv ORDER BY i) AS g_vec FROM gvc GROUP BY grp),
       |vq AS (SELECT vec_id AS query_id, embedding AS q_emb
       |  FROM embeddings WHERE vec_id IN (0, 1, 2, 3, 4)),
       |tg AS (
       |  SELECT query_id, grp FROM (
       |    SELECT vq.query_id, g.grp,
       |      row_number() OVER (PARTITION BY vq.query_id ORDER BY
       |        ${cosSql("vq.q_emb", "g.g_vec")} DESC, g.grp) AS gr
       |    FROM vq CROSS JOIN gvec g)
       |  WHERE gr <= (SELECT least(k1, greatest(1,
       |    (${graft.ann.Ann.RecallNprobeNum} * k1 + ${graft.ann.Ann.RecallNprobeDen - 1})
       |      // ${graft.ann.Ann.RecallNprobeDen} + 1)) FROM par)),
       |probed AS (
       |  SELECT query_id, q_emb, cell FROM (
       |    SELECT t.query_id, vq.q_emb, c.cell,
       |      row_number() OVER (PARTITION BY t.query_id ORDER BY
       |        ${cosSql("vq.q_emb", "c.c_vec")} DESC, c.cell) AS cr
       |    FROM tg t JOIN vq ON vq.query_id = t.query_id
       |    JOIN cvec c ON c.cell // (SELECT k2 FROM par) = t.grp)
       |  WHERE cr <= (SELECT least(k1 * k2, greatest(1,
       |    (${graft.ann.Ann.RecallNprobeNum} * k1 * k2 + ${graft.ann.Ann.RecallNprobeDen - 1})
       |      // ${graft.ann.Ann.RecallNprobeDen})) FROM par))""".stripMargin

  private def a4TopkSelect(k: Int = 10): String =
    s"""SELECT query_id, nn_id, cos, rank FROM (
       |  SELECT query_id, nn_id, cos,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nn_id) AS rank
       |  FROM (
       |    SELECT p.query_id, c.vec_id AS nn_id,
       |      ${cosSql("p.q_emb", "c.embedding")} AS cos
       |    FROM probed p
       |    JOIN cells cn ON cn.cell = p.cell
       |    JOIN embeddings c ON c.vec_id = cn.vec_id AND c.vec_id <> p.query_id))
       |WHERE rank <= $k""".stripMargin

  // brute-force truth CTE + recall-eval select, shared by the two
  // recall evaluations (a12 over the IVF probe, a14 over IVFPQ) —
  // one definition, same shape as the Spark-side recallEval helper
  private def bruteTruthCte: String =
    s"truth AS (SELECT query_id, nn_id FROM (${bruteTopk(10)}))"

  // the exact cosine top-k of cosPairs (ties by the smaller id):
  // (query_id, nn_id, cos, rank) — a1 itself, the recall truths, a6's
  // voters, a15's SQ8 search and a18's candidate pool
  private def bruteTopk(k: Int, ids: Seq[Long] = 0L to 4L,
      corpus: String = "embeddings", vec: String = "embedding"): String =
    s"""SELECT query_id, nn_id, cos, rank FROM (
       |  SELECT query_id, nn_id, cos,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nn_id) AS rank
       |  FROM (${cosPairs(ids, corpus = corpus, vec = vec)}))
       |WHERE rank <= $k""".stripMargin

  private def recallSelect: String =
    """SELECT t.query_id, count(*) AS n_truth,
      |  CAST(sum(CASE WHEN a.nn_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
      |  round(CAST(sum(CASE WHEN a.nn_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    / CAST(count(*) AS DOUBLE), 6) AS recall
      |FROM truth t LEFT JOIN approx a
      |  ON a.query_id = t.query_id AND a.nn_id = t.nn_id
      |GROUP BY t.query_id ORDER BY t.query_id""".stripMargin

  // a9's full IVFPQ CTE chain (constant-probe hierarchical coarse,
  // residual PQ encode, per-(query,cell) ADC, bounded shortlist) and
  // its exact-rerank top-k select — factored so the a9 oracle and
  // a14's recall-eval oracle share one definition
  private def a9ProbeCtes: String =
    s"""$cellCtes,
      |a9np AS (SELECT k1, k2, least(k1 * k2, greatest(1,
      |    greatest(${graft.ann.Ann.IvfPqProbeCells},
      |      (k1 * k2 + ${graft.ann.Ann.IvfPqFloorDen - 1})
      |        // ${graft.ann.Ann.IvfPqFloorDen}))) AS np FROM par),
      |a9gp AS (SELECT least(k1, greatest(${graft.ann.Ann.HierGroupFloor},
      |    (2 * np + k2 - 1) // k2)) AS gp FROM a9np),
      |cells AS (SELECT vec_id, cell FROM pcell WHERE is_primary),
      |comp AS (
      |  SELECT cl.cell, j AS i, CAST(e.embedding[j] AS DOUBLE) AS v
      |  FROM embeddings e JOIN cells cl ON cl.vec_id = e.vec_id,
      |    range(1, 65) t(j)),
      |cvc AS (SELECT cell, i,
      |    CAST(sum(CAST(v AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS cv
      |  FROM comp GROUP BY cell, i),
      |cvec AS (SELECT cell, list(cv ORDER BY i) AS c_vec FROM cvc GROUP BY cell),
      |gvc AS (SELECT cell // (SELECT k2 FROM par) AS grp, i,
      |    CAST(sum(CAST(cv AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS gv
      |  FROM cvc GROUP BY 1, 2),
      |gvec AS (SELECT grp, list(gv ORDER BY i) AS g_vec FROM gvc GROUP BY grp),
      |q AS (SELECT vec_id AS query_id, embedding AS q_emb
      |  FROM embeddings WHERE vec_id IN (0, 1, 2, 3, 4)),
      |tg AS (
      |  SELECT query_id, grp FROM (
      |    SELECT q.query_id, g.grp,
      |      row_number() OVER (PARTITION BY q.query_id ORDER BY
      |        ${cosSql("q.q_emb", "g.g_vec")} DESC, g.grp) AS gr
      |    FROM q CROSS JOIN gvec g)
      |  WHERE gr <= (SELECT gp FROM a9gp)),
      |probed AS (
      |  SELECT query_id, cell FROM (
      |    SELECT t.query_id, c.cell,
      |      row_number() OVER (PARTITION BY t.query_id ORDER BY
      |        ${cosSql("q.q_emb", "c.c_vec")} DESC, c.cell) AS cr
      |    FROM tg t JOIN q ON q.query_id = t.query_id
      |    JOIN cvec c ON c.cell // (SELECT k2 FROM par) = t.grp)
      |  WHERE cr <= (SELECT np FROM a9np)),
      |mm AS (SELECT unnest(range(8)) AS m),
      |rv AS (SELECT e.vec_id, cl.cell,
      |    [CAST(e.embedding[j] AS DOUBLE) - cv.c_vec[j] for j in range(1, 65)] AS rvec
      |  FROM embeddings e JOIN cells cl ON cl.vec_id = e.vec_id
      |  JOIN cvec cv ON cv.cell = cl.cell),
      |cb AS (SELECT vec_id AS cid, m, rvec[m*8+1 : m*8+8] AS csub
      |  FROM rv, mm WHERE vec_id < ${graft.ann.Ann.IvfPqCodebookK}),
      |rs AS (SELECT vec_id, cell, m, rvec[m*8+1 : m*8+8] AS sub FROM rv, mm),
      |enc AS (SELECT vec_id, cell, m, cid AS code FROM (
      |    SELECT r.vec_id, r.cell, r.m, b.cid,
      |      row_number() OVER (PARTITION BY r.vec_id, r.m ORDER BY
      |        CAST(round(list_sum([(r.sub[i]-b.csub[i])*(r.sub[i]-b.csub[i])
      |          for i in range(1, 9)]) * 1000000) AS BIGINT), b.cid) AS rn
      |    FROM rs r JOIN cb b USING (m)) WHERE rn = 1),
      |qrv AS (SELECT p.query_id, p.cell,
      |    [CAST(q.q_emb[j] AS DOUBLE) - cv.c_vec[j] for j in range(1, 65)] AS rvec
      |  FROM probed p JOIN q ON q.query_id = p.query_id
      |  JOIN cvec cv ON cv.cell = p.cell),
      |qrs AS (SELECT query_id, cell, m, rvec[m*8+1 : m*8+8] AS sub FROM qrv, mm),
      |dtq AS (SELECT r.query_id, r.cell, r.m, b.cid,
      |    CAST(round(list_sum([(r.sub[i]-b.csub[i])*(r.sub[i]-b.csub[i])
      |      for i in range(1, 9)]) * 1000000) AS BIGINT) AS dmicro
      |  FROM qrs r JOIN cb b USING (m)),
      |ad AS (SELECT d.query_id, e.vec_id AS nn_id,
      |    sum(d.dmicro)::BIGINT AS admicro
      |  FROM enc e
      |  JOIN dtq d ON d.cell = e.cell AND d.m = e.m AND d.cid = e.code
      |  WHERE e.vec_id <> d.query_id
      |  GROUP BY 1, 2),
      |sl AS (SELECT query_id, nn_id, admicro FROM (
      |    SELECT query_id, nn_id, admicro,
      |      row_number() OVER (PARTITION BY query_id ORDER BY admicro, nn_id) AS arn
      |    FROM ad) WHERE arn <= ${graft.ann.Ann.IvfPqRerank})""".stripMargin

  private def a9TopkSelect(k: Int = 10): String =
    s"""SELECT query_id, nn_id, cos, adc_dist, rank FROM (
      |  SELECT sl.query_id, sl.nn_id,
      |    round(sl.admicro / 1000000.0, 6) AS adc_dist,
      |    ${cosSql("qq.embedding", "c.embedding")} AS cos,
      |    row_number() OVER (PARTITION BY sl.query_id ORDER BY
      |      ${cosSql("qq.embedding", "c.embedding")} DESC, sl.nn_id) AS rank
      |  FROM sl JOIN embeddings qq ON qq.vec_id = sl.query_id
      |  JOIN embeddings c ON c.vec_id = sl.nn_id)
      |WHERE rank <= $k""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("a1_knn_brute", () => s"${bruteTopk(10)} ORDER BY query_id, rank")((s, d) => bruteTruth(s, d)),

    // metadata-filtered vector search (NEW r14): the predicate is the
    // JOIN KEY (pre-filtering — exact recall by construction), not a
    // residual filter on an unfiltered top-k; at lake scale the label
    // column is the partition/bucket key and the scan itself prunes
    // a1 with the label predicate as a JOIN condition (pre-filtered
    // search — the filtered twin ranks only same-label candidates)
    Key("a16_filtered_knn", () =>
      """SELECT query_id, label, nn_id, cos, rank FROM (
        |  SELECT query_id, label, nn_id, cos,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nn_id) AS rank
        |  FROM (
        |    SELECT q.vec_id AS query_id, q.label AS label, c.vec_id AS nn_id,
        |      round(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
        |        / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))
        |         * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))), 6) AS cos
        |    FROM embeddings q JOIN embeddings c
        |      ON c.vec_id <> q.vec_id AND c.label = q.label
        |    WHERE q.vec_id IN (0, 1, 2, 3, 4)))
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)((s, d) =>
      Ann.filteredKnn(Tables.embeddings(s, d), "vec_id", "embedding",
        "label", Seq(0L, 1L, 2L, 3L, 4L), 10)),

    // recall@k CURVE over the a4 IVF probe (NEW r14): a12's single
    // recall@10 unrolled to k ∈ {1,5,10} — the operating-curve row a
    // vector index publishes (is the probe good enough at the k the
    // application actually uses?); pure consumer of the two shared
    // bounded top-k legs, output is 3 rows at any corpus size
    // a12 unrolled to the k ∈ {1,5,10} operating curve: truth keeps
    // its rank (trc), hits require BOTH ranks ≤ k; NULL probe ranks
    // fall to the CASE's ELSE 0 on both engines
    Key("a17_recall_curve", () =>
      s"""WITH $a4ProbeCtes,
        |approx AS (${a4TopkSelect()}),
        |trc AS (SELECT query_id, nn_id, rank AS tr FROM (${bruteTopk(10)})),
        |j AS (SELECT t.query_id, t.tr, a.rank AS ar FROM trc t
        |  LEFT JOIN approx a ON a.query_id = t.query_id AND a.nn_id = t.nn_id),
        |ks AS (SELECT unnest([1, 5, 10]) AS k)
        |SELECT k, count(DISTINCT query_id) AS n_queries,
        |  CAST(sum(CASE WHEN ar <= k THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
        |  round(CAST(sum(CASE WHEN ar <= k THEN 1 ELSE 0 END) AS BIGINT)
        |    / CAST(count(DISTINCT query_id) * k AS DOUBLE), 6) AS recall_at_k
        |FROM j CROSS JOIN ks WHERE tr <= k GROUP BY k ORDER BY k""".stripMargin)((s, d) => {
      val truth = bruteTruth(s, d)
        .select(col("query_id"), col("nn_id"), col("rank").as("tr"))
      val probe = probeTopkShared(s, d)
        .select(col("query_id"), col("nn_id"), col("rank").as("ar"))
      val j = truth.join(probe, Seq("query_id", "nn_id"), "left")
      val ks = Seq(1, 5, 10)
      // ONE aggregate with per-k conditional columns, unpivoted to the
      // 3 report rows — the per-k union form re-planned the join+agg
      // subtree once per k (the ts15 duplicated-subtree shape).
      // filter(tr<=k) folds into the conditions: countDistinct skips
      // the NULLed-out query ids, and (tr<=k AND ar<=k) is the
      // filtered sum's predicate (NULL ar → otherwise-0, as before)
      val agg = j.agg(
        countDistinct(when(col("tr") <= ks.head, col("query_id")))
          .as(s"nq_${ks.head}"),
        ks.tail.flatMap(k => Seq(
          countDistinct(when(col("tr") <= k, col("query_id"))).as(s"nq_$k")))
          ++ ks.map(k =>
            sum(when(col("tr") <= k && col("ar") <= k, lit(1L))
              .otherwise(lit(0L))).as(s"nh_$k")): _*)
      agg.select(explode(array(ks.map(k =>
          struct(lit(k).as("k"), col(s"nq_$k").as("n_queries"),
            col(s"nh_$k").as("n_hit"))): _*)).as("__r"))
        .select(col("__r.k"), col("__r.n_queries"), col("__r.n_hit"),
          round(col("__r.n_hit") / (col("__r.n_queries") * col("__r.k"))
            .cast("double"), 6).as("recall_at_k"))
        .orderBy("k")
    }),

    // MMR-diversified top-5 from the exact top-20 pool (NEW r14):
    // Carbonell & Goldstein 1998, λ=0.7 — the diversity re-rank a
    // RAG stack runs so results are not near-copies; integer
    // micro-cosine objective (λ₁₀·rel_µ − 3·red_µ), greedy unrolled
    // into bounded per-query steps, oracle replays the same unroll
    // the SAME unrolled greedy as Ann.mmrDiversify: integer
    // micro-cosine objective mmr10 = λ₁₀·rel − (10−λ₁₀)·max-red,
    // chained CTE steps (pool/pairs once, then selectK−1 argmax
    // stages over the ≤poolK-row per-query pool); final mmr = exact
    // int / 1e7. All constants interpolated from the shared Mmr*
    // vals so the oracle cannot desynchronize from the Spark plan.
    Key("a18_mmr_diversify", () => {
      val lam = MmrLambdaTenths
      val oneMinusLam = 10 - MmrLambdaTenths
      val poolSql =
        s"""pool AS (SELECT query_id, nn_id, cos,
           |    CAST(round(cos * 1000000) AS BIGINT) AS rel
           |  FROM (${bruteTopk(MmrPoolK, MmrQueryIds)})),
           |pairs AS (SELECT a.query_id, a.nn_id AS ai, b.nn_id AS bi,
           |    CAST(round(${cosSql("av.embedding", "bv.embedding")} * 1000000)
           |      AS BIGINT) AS pm
           |  FROM pool a JOIN pool b
           |    ON a.query_id = b.query_id AND a.nn_id <> b.nn_id
           |  JOIN embeddings av ON av.vec_id = a.nn_id
           |  JOIN embeddings bv ON bv.vec_id = b.nn_id)""".stripMargin
      def stepSql(i: Int): String = {
        val prev = (1 until i).map(j => s"SELECT query_id, nn_id FROM s$j")
          .mkString(" UNION ALL ")
        s"""ch$i AS ($prev),
           |s$i AS (SELECT query_id, $i AS pick_rank, nn_id, cos, rel, mmr10
           |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
           |      ORDER BY mmr10 DESC, rel DESC, nn_id) AS rn
           |    FROM (SELECT c.query_id, c.nn_id, c.cos, c.rel,
           |        $lam * c.rel - $oneMinusLam * r.red AS mmr10
           |      FROM pool c
           |      JOIN (SELECT p.query_id, p.ai AS nn_id, max(p.pm) AS red
           |          FROM pairs p JOIN ch$i s
           |            ON p.query_id = s.query_id AND p.bi = s.nn_id
           |          GROUP BY 1, 2) r
           |        ON r.query_id = c.query_id AND r.nn_id = c.nn_id
           |      WHERE NOT EXISTS (SELECT 1 FROM ch$i s
           |        WHERE s.query_id = c.query_id AND s.nn_id = c.nn_id)))
           |  WHERE rn = 1)""".stripMargin
      }
      s"""WITH $poolSql,
         |s1 AS (SELECT query_id, 1 AS pick_rank, nn_id, cos, rel,
         |    $lam * rel AS mmr10
         |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY rel DESC, nn_id) AS rn FROM pool)
         |  WHERE rn = 1),
         |${(2 to MmrSelectK).map(stepSql).mkString(",\n")},
         |allp AS (${(1 to MmrSelectK).map(i => s"SELECT * FROM s$i")
            .mkString(" UNION ALL ")})
         |SELECT query_id, pick_rank, nn_id, cos,
         |  CAST(mmr10 AS DOUBLE) / 1e7 AS mmr
         |FROM allp ORDER BY query_id, pick_rank""".stripMargin
    })((s, d) =>
      Ann.mmrDiversify(Tables.embeddings(s, d), "vec_id", "embedding",
        MmrQueryIds, MmrPoolK, MmrSelectK, MmrLambdaTenths)),

    Key("a2_ann_lsh", () => a2Sql)((s, d) =>
      Ann.knnLsh(Tables.embeddings(s, d), "vec_id", "embedding",
        Seq(0L, 1L, 2L, 3L, 4L), 10, A2Planes, A2Probe, A2Seed, A2Tables)),

    // IVF over the SAME corpus-proportional coarse cells d5/d8 block
    // on (cells-per-corpus rule: k1·k2 ≈ ceil(n/64)) — no query
    // depends on the synthetic fixed-10 `label` column any more
    Key("a3_ivf_coarse", () =>
      s"""WITH $cellCtes,
         |cells AS (SELECT vec_id, cell FROM pcell WHERE is_primary)
         |SELECT query_id, nn_id, cos, rank FROM (
         |  SELECT query_id, nn_id, cos,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nn_id) AS rank
         |  FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS nn_id,
         |      ${cosSql("q.embedding", "c.embedding")} AS cos
         |    FROM embeddings q
         |    JOIN cells cq ON cq.vec_id = q.vec_id
         |    JOIN cells cn ON cn.cell = cq.cell
         |    JOIN embeddings c ON c.vec_id = cn.vec_id AND c.vec_id <> q.vec_id
         |    WHERE q.vec_id IN (0, 1, 2, 3, 4)))
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)((s, d) =>
      Ann.knnBlocked(
        graft.ann.CellIndexCache.embeddingsWithCell(s, d),
        "vec_id", "embedding", "cell", Seq(0L, 1L, 2L, 3L, 4L), 10)),

    // IVF with the nprobe accuracy knob: probe the nearest coarse
    // cells by decimal-exact centroid cosine, exact rerank within
    // them — the (id, vec, cell) table, the centroids, AND the
    // level-0 group centroids are shared corpus-level artifacts
    // (CellIndexCache), not per-query jobs.
    // nprobe is NOT a constant: it follows the recall-targeted rule
    // (⌈0.449·cells⌉ — Ann.recommendedNprobe), so recall@10 holds
    // FLAT (0.76/0.74 at sf0.01/sf0.1 over 25 query ids) as the cell
    // count grows with the corpus instead of decaying the way a fixed
    // probe count does (0.48 → 0.20 in ANN_SWEEP_r8; rule swept in
    // ANN_SWEEP_r11). The coarse stage is the 2-stage HIERARCHICAL
    // probe (rank k1 groups, rank cells only within the top
    // ⌈0.449·k1⌉+1): cell ranking becomes an equi-join on the group
    // key instead of a per-query scan of all k1·k2 centroids
    // (ANN_SWEEP_r12: 0.76 with a bit-equal probed set at sf0.01;
    // 0.736 vs flat 0.740 at sf0.1 — one truth pair of 250)
    // centroid components are DECIMAL-exact means (order-independent,
    // so both engines get bit-identical centroids) over the SHARED
    // corpus-proportional coarse cells; the coarse stage is the
    // 2-stage HIERARCHICAL probe — rank the k1 level-0 GROUP
    // centroids (decimal-exact means of each group's cell
    // centroids), keep the top ⌈0.449·k1⌉+1 groups, rank ONLY those
    // groups' cells, keep the recall-targeted ⌈0.449·cells⌉
    // (Ann.recommendedNprobe / recommendedGroupProbe — SAME integer
    // arithmetic both engines) by rounded cosine (ties by id at
    // both stages), exact rerank within the probed cells
    Key("a4_ivf_nprobe", () =>
      s"""WITH $a4ProbeCtes
        |${a4TopkSelect()} ORDER BY query_id, rank""".stripMargin)((s, d) => probeTopkShared(s, d)),

    // IVF recall evaluation (recall@10 vs the exact brute-force truth):
    // the index-quality report a vector pipeline publishes next to its
    // index-health card (a10) — the recall the ANN_SWEEP_* artifacts
    // record, as a first-class bounded operator (truth and probe legs
    // are both queries×10 rows; the join/aggregate never exceeds that)
    // recall@10 of the a4 hierarchical probe vs the exact brute-force
    // truth — the probe leg is a4's EXACT CTE chain (shared text), the
    // truth leg is a1's construction
    Key("a12_ivf_recall", () =>
      s"""WITH $a4ProbeCtes,
        |approx AS (${a4TopkSelect()}),
        |$bruteTruthCte
        |$recallSelect""".stripMargin)((s, d) => recallEval(
      bruteTruth(s, d).select(col("query_id"), col("nn_id")),
      probeTopkShared(s, d).select(col("query_id"), col("nn_id")))),

    // IVFPQ recall evaluation — a12's twin over the COMPRESSED index
    // path: how much of the exact top-10 the constant-probe ADC +
    // bounded-rerank pipeline recovers. Together with a10 (occupancy)
    // and a12 (coarse-probe recall) this completes the index health
    // card a vector pipeline publishes: structure, probe quality, and
    // quantization cost, each a bounded first-class query.
    // recall@10 of the IVFPQ path vs the brute truth — the probe leg
    // is a9's EXACT CTE chain (shared text), the eval the shared
    // truth + recall select a12 uses
    Key("a14_ivfpq_recall", () =>
      s"""WITH $a9ProbeCtes,
        |approx AS (${a9TopkSelect()}),
        |$bruteTruthCte
        |$recallSelect""".stripMargin)((s, d) => recallEval(
      bruteTruth(s, d).select(col("query_id"), col("nn_id")),
      pqTopkShared(s, d).select(col("query_id"), col("nn_id")))),

    // SQ8 recall evaluation (NEW r14): the cheap compression tier
    // below PQ — per-dimension 8-bit scalar quantization (4×
    // compression, no codebook), asymmetric full-precision-query
    // scoring, recall@10 vs the same brute truth. Completes the
    // compression column of the index health card: a12 (coarse probe),
    // a14 (PQ), a15 (SQ8). The quantizer's (min, max) training scan is
    // ONE session-cached aggregate (CellIndexCache.sq8Stats).
    // SQ8: per-dim exact min/max (order-free), codes/dequant as the
    // same elementwise double formula the Spark zip_withs run
    // (floor(+0.5) clamp [0,255], deq = min + code·step), scored by
    // the shared cosine-rounding; dims hardcoded 64 like a8's slices
    Key("a15_sq8_recall", () =>
      s"""WITH st AS (SELECT i, min(e) AS mn, max(e) AS mx FROM (
        |    SELECT unnest(CAST(embedding AS DOUBLE[])) AS e,
        |           unnest(range(1, len(embedding) + 1)) AS i
        |    FROM embeddings) GROUP BY i),
        |qa AS (SELECT list(mn ORDER BY i) AS mins,
        |    list(CASE WHEN mx > mn THEN (mx - mn) / 255.0 ELSE 1.0 END
        |         ORDER BY i) AS steps
        |  FROM st),
        |dq AS (SELECT vec_id,
        |    [qa.mins[i] + least(255.0, greatest(0.0,
        |        floor((CAST(embedding AS DOUBLE[])[i] - qa.mins[i])
        |          / qa.steps[i] + 0.5))) * qa.steps[i]
        |      for i in range(1, 65)] AS deq
        |  FROM embeddings, qa),
        |approx AS (SELECT query_id, nn_id FROM (
        |    ${bruteTopk(10, corpus = "dq", vec = "deq")})),
        |$bruteTruthCte
        |$recallSelect""".stripMargin)((s, d) => {
      val (mins, maxs) = graft.ann.CellIndexCache.sq8Stats(s, d)
      recallEval(
        bruteTruth(s, d).select(col("query_id"), col("nn_id")),
        Ann.sq8Topk(Tables.embeddings(s, d), "vec_id", "embedding",
            Seq(0L, 1L, 2L, 3L, 4L), 10, mins, maxs)
          .select(col("query_id"), col("nn_id")))
    }),

    // exact cosine RANGE search (radius query): one corpus pass for
    // the whole broadcast query set, per-row norms precomputed
    Key("a5_range_search", () =>
      s"""SELECT query_id, nn_id, cos FROM (${cosPairs()})
         |WHERE cos >= 0.25 ORDER BY query_id, nn_id""".stripMargin)((s, d) =>
      Ann.rangeSearch(Tables.embeddings(s, d),
        "vec_id", "embedding", Seq(0L, 1L, 2L, 3L, 4L), 0.25)),

    // kNN majority-vote classification: exact top-10 neighbors vote
    // with their `label`; plurality wins (ties: bigger vote count,
    // then smaller label) — the label-propagation primitive over a1
    Key("a6_knn_classify", () =>
      s"""WITH nn AS (SELECT query_id, nn_id FROM (${bruteTopk(10, 0L to 9L)})),
         |v AS (SELECT nn.query_id, e.label AS nn_label, count(*) AS votes
         |  FROM nn JOIN embeddings e ON e.vec_id = nn.nn_id
         |  GROUP BY nn.query_id, e.label),
         |p AS (SELECT query_id, nn_label AS pred_label, votes FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY votes DESC, nn_label) AS rn FROM v)
         |  WHERE rn = 1)
         |SELECT p.query_id, q.label AS true_label, p.pred_label,
         |  CAST(p.votes AS BIGINT) AS votes,
         |  CAST(p.pred_label = q.label AS INT) AS correct
         |FROM p JOIN embeddings q ON q.vec_id = p.query_id
         |ORDER BY p.query_id""".stripMargin)((s, d) =>
      Ann.knnClassify(Tables.embeddings(s, d), "vec_id", "embedding",
        "label", (0L until 10L).toSeq, 10)),

    // Lloyd k-means (the SemDeDup-style clustering stage): k=8
    // deterministic seeds (smallest ids), 2 centroid updates, cosine
    // assignment at 6-dp (ties -> smaller cluster id), decimal-exact
    // centroid means — per-cluster size/min-member/mean-cos report
    // the final-report scan reads the session-persisted (id, vec,
    // cell) table the a3/a4/d5 family shares (same rows as the raw
    // embeddings — the cell column is simply unused) WHEN it is
    // already warm or loadable; a cold build-mode session falls back
    // to the raw corpus scan instead of paying the coarse-cell
    // construction for a column kmeans never reads (ADVICE r16)
    Key("a7_kmeans", () =>
      s"""WITH kcomp AS (
         |  SELECT vec_id, j AS i, CAST(embedding[j] AS DOUBLE) AS v
         |  FROM embeddings, range(1, 65) t(j)),
         |kc0 AS (SELECT vec_id AS c_cell, CAST(embedding AS DOUBLE[]) AS c_vec
         |  FROM embeddings WHERE vec_id < 8),
         |${kmAssignCte("ka1", "kc0")},
         |${kmUpdateCte("kc1", "ka1")},
         |${kmAssignCte("ka2", "kc1")},
         |${kmUpdateCte("kc2", "ka2")},
         |${kmAssignCte("kaf", "kc2")}
         |SELECT c_cell AS cluster_id, count(*) AS n_members,
         |  min(v_id) AS min_member,
         |  round(CAST(sum(CAST(cos AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6)
         |    AS avg_cos
         |FROM kaf GROUP BY c_cell ORDER BY cluster_id""".stripMargin)((s, d) =>
      Ann.kmeans(graft.ann.CellIndexCache.embeddingsWithCellIfWarm(s, d)
          .getOrElse(Tables.embeddings(s, d)),
        "vec_id", "embedding", 8, 2,
        centsPre = Some(graft.ann.CellIndexCache.kmeansCentroids(s, d, 8, 2)))),

    // product-quantization ADC (FAISS IVFPQ pattern): vectors stored
    // as 8 one-byte codes, queries score candidates via a broadcast
    // distance table — integer micro-distances end to end, exact
    // cosine of each hit reported alongside the ADC estimate. The
    // codebook + code table are corpus artifacts built once
    // (CellIndexCache — index construction vs search, the FAISS
    // split), like a3/a4/a9's cells and centroids.
    // Lloyd k-means, k=8, 2 decimal-exact centroid updates: seeds =
    // the 8 smallest ids; every assignment orders by the SAME 6-dp
    // rounded cosine (ties -> smaller cluster id) as the Spark side,
    // so the argmax — hence membership, centroids, and the final
    // report — is bit-identical cross-engine
    // PQ/ADC mirrored exactly: 1-based inclusive list slices per
    // subspace, integer micro-distances round(L2^2 * 1e6)::BIGINT so
    // argmin ties and the ADC sum are order-free integer arithmetic
    Key("a8_pq_adc", () =>
      s"""WITH mm AS (SELECT unnest(range(8)) AS m),
         |cb AS (SELECT vec_id AS cid, m,
         |    CAST(embedding AS DOUBLE[])[m*8+1 : m*8+8] AS csub
         |  FROM embeddings, mm WHERE vec_id < 16),
         |cs AS (SELECT vec_id, m,
         |    CAST(embedding AS DOUBLE[])[m*8+1 : m*8+8] AS sub
         |  FROM embeddings, mm),
         |dm AS (SELECT c.vec_id, c.m, b.cid,
         |    CAST(round(list_sum([(c.sub[i]-b.csub[i])*(c.sub[i]-b.csub[i])
         |      for i in range(1, 9)]) * 1000000) AS BIGINT) AS dmicro
         |  FROM cs c JOIN cb b USING (m)),
         |enc AS (SELECT vec_id, m, cid AS code FROM (
         |    SELECT vec_id, m, cid,
         |      row_number() OVER (PARTITION BY vec_id, m ORDER BY dmicro, cid) AS rn
         |    FROM dm) WHERE rn = 1),
         |dt AS (SELECT vec_id AS query_id, m, cid, dmicro FROM dm
         |  WHERE vec_id IN (0, 1, 2, 3, 4)),
         |ad AS (SELECT dt.query_id, e.vec_id AS nn_id,
         |    sum(dt.dmicro)::BIGINT AS admicro
         |  FROM enc e JOIN dt ON dt.m = e.m AND dt.cid = e.code
         |  WHERE e.vec_id <> dt.query_id
         |  GROUP BY 1, 2),
         |rk AS (SELECT query_id, nn_id, admicro,
         |    row_number() OVER (PARTITION BY query_id ORDER BY admicro, nn_id) AS rank
         |  FROM ad)
         |SELECT rk.query_id, rk.nn_id, round(rk.admicro / 1000000.0, 6) AS adc_dist,
         |  ${cosSql("q.embedding", "c.embedding")} AS cos, rk.rank
         |FROM rk JOIN embeddings q ON q.vec_id = rk.query_id
         |JOIN embeddings c ON c.vec_id = rk.nn_id
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)((s, d) =>
      Ann.pqAdcFromIndex(Tables.embeddings(s, d), "vec_id", "embedding",
        graft.ann.CellIndexCache.rawPqCodebook(s, d),
        graft.ann.CellIndexCache.rawPqCodes(s, d),
        Seq(0L, 1L, 2L, 3L, 4L))),

    // true IVFPQ (a4 × a8): coarse-probe a CONSTANT
    // max(12, ⌈cells/50⌉) cells through the 2-stage hierarchical
    // probe (rank k1 level-0 groups, then only the top groups' leaf
    // centroids — O(√cells) coarse cosines per query instead of the
    // flat k1·k2 scan), score the probed cells' PACKED code words
    // via m in-row lookups into the broadcast per-(query,cell) ADC
    // table (one row per candidate — no per-subspace fan-out, no
    // aggregation shuffle), exact-cosine rerank only the top-200
    // shortlist (constant per query — the (codebook=64, rerank=200)
    // knee measured on the planted-cluster corpus (NOTES_r12 §3), where
    // recall saturates by probed fraction ≈0.02 so a constant probe
    // holds ≥0.85; ANN_SWEEP_r12). All structures — cells, centroids,
    // group centroids, PQ codes — are shared corpus artifacts
    // (CellIndexCache), not per-query jobs.
    // true IVFPQ = a4's hierarchical probe CTEs × a8's PQ CTEs:
    // coarse-probe a CONSTANT max(12, ⌈cells/50⌉) cells (rank k1
    // level-0 group centroids, keep enough groups to seat 2× the
    // cell budget, rank only their cells — Ann.ivfPqNprobe /
    // hierGroupProbe, same integer arithmetic both engines),
    // ADC-score only the probed cells' candidates (integer
    // micro-distance sums, ties by nn_id), exact-cosine rerank of
    // the top-200 ADC shortlist — every ranking rule identical to
    // the Spark side digit-for-digit
    Key("a9_ivfpq", () =>
      s"""WITH $a9ProbeCtes
        |${a9TopkSelect()} ORDER BY query_id, rank""".stripMargin)((s, d) => pqTopkShared(s, d)),

    // IVF index-health card (FAISS imbalance_factor analog): occupancy
    // balance over the SAME shared cell table a3/a4/a9/d5/d8 search —
    // the diagnostic that says whether probe-cost estimates hold or
    // hot cells concentrate the work (what d5's adaptive sub-block
    // sharding then absorbs)
    // index-health card over the same primary cell assignment:
    // integer occupancy stats, double division of exact ints, same
    // operand order as the Spark expressions
    Key("a10_index_stats", () =>
      s"""WITH $cellCtes,
        |occ AS (SELECT cell, count(*) AS n FROM pcell
        |  WHERE is_primary GROUP BY 1)
        |SELECT CAST(sum(n) AS BIGINT) AS n_vectors,
        |  count(*) AS n_cells_occupied,
        |  (SELECT k1 * k2 FROM par) AS n_cells_total,
        |  (SELECT k1 * k2 FROM par) - count(*) AS n_cells_empty,
        |  min(n) AS min_occ, max(n) AS max_occ,
        |  round(CAST(sum(n) AS DOUBLE) / count(*), 6) AS avg_occ,
        |  round(CAST(max(n) AS DOUBLE) * count(*) / sum(n), 6) AS imbalance
        |FROM occ""".stripMargin)((s, d) => {
      val ix = graft.ann.CellIndexCache.embeddings(s, d)
      Ann.indexStats(
        graft.ann.CellIndexCache.embeddingsWithCell(s, d),
        "cell", ix.cells)
    }),

    // hybrid lexical+vector retrieval via reciprocal-rank fusion
    // (Cormack et al. 2009): query docs 0..4 retrieve top-20 by BM25
    // over their own terms AND top-20 by exact cosine (vec_id aligns
    // with doc_id in the corpus), fused as sum(1/(60+rank)) over the
    // legs that retrieved each candidate — the standard sparse+dense
    // ensembling a retrieval-based curation pass runs. The fused
    // window is bounded at 2x20 candidates per query at any corpus
    // size; both legs are existing scale paths.
    // hybrid RRF: the bm25 CTEs with query terms = the query docs'
    // own words (self excluded), the a1 cosine leg, both top-20,
    // fused as 1/(60+rank) sums — integer ranks in, one double add,
    // 6-dp display round; rank 0 = leg didn't retrieve the doc
    Key("a11_hybrid_rrf", () =>
      s"""WITH ${bm25Ctes(
           "SELECT doc_id AS query_id, w FROM dw WHERE doc_id IN (0, 1, 2, 3, 4)")},
         |lex AS (SELECT query_id, doc_id, rank AS lex_rank FROM (
         |    SELECT query_id, doc_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY score_q6 DESC, doc_id) AS rank
         |    FROM bsc WHERE doc_id <> query_id)
         |  WHERE rank <= 20),
         |vsc AS (${cosPairs(nn = "doc_id")}),
         |vec AS (SELECT query_id, doc_id, rank AS vec_rank FROM (
         |    SELECT query_id, doc_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY cos DESC, doc_id) AS rank
         |    FROM vsc)
         |  WHERE rank <= 20),
         |fus AS (SELECT coalesce(l.query_id, v.query_id) AS query_id,
         |    coalesce(l.doc_id, v.doc_id) AS doc_id,
         |    round(coalesce(1.0 / (60 + l.lex_rank), 0.0)
         |        + coalesce(1.0 / (60 + v.vec_rank), 0.0), 6) AS rrf,
         |    coalesce(l.lex_rank, 0) AS lex_rank,
         |    coalesce(v.vec_rank, 0) AS vec_rank
         |  FROM lex l FULL OUTER JOIN vec v
         |    ON l.query_id = v.query_id AND l.doc_id = v.doc_id)
         |SELECT query_id, rank, doc_id, rrf, lex_rank, vec_rank FROM (
         |  SELECT query_id, doc_id, rrf, lex_rank, vec_rank,
         |    row_number() OVER (
         |      PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS rank
         |  FROM fus)
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)((s, d) => {
      val (lex, vec) = graft.operators.RetrievalCache.hybridLegs(s, d)
      graft.operators.Retrieval.rrfFuse(lex, vec, "doc_id", 10)
    }),

    // the SCALE-PATH hybrid: a11 with its dense leg swapped from the
    // exact brute scan to a4's hierarchical IVF probe — the
    // configuration you'd run at 10^9 vectors, where a per-query
    // linear scan is off the table. rrfFuse is leg-agnostic by
    // construction (integer ranks in), so the swap is pure wiring over
    // the SHARED index artifacts; the lexical leg comes from the same
    // RetrievalCache candidate run a11/x22 read. Differences vs a11
    // are exactly the probe's recall misses (a12 measures them).
    // a11 with the dense leg from a4's EXACT probe CTE chain (shared
    // text — the bm25 and probe chains have disjoint CTE names), the
    // same fusion arithmetic
    Key("a13_hybrid_rrf_ivf", () =>
      s"""WITH ${bm25Ctes(
           "SELECT doc_id AS query_id, w FROM dw WHERE doc_id IN (0, 1, 2, 3, 4)")},
         |lex AS (SELECT query_id, doc_id, rank AS lex_rank FROM (
         |    SELECT query_id, doc_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY score_q6 DESC, doc_id) AS rank
         |    FROM bsc WHERE doc_id <> query_id)
         |  WHERE rank <= 20),
         |$a4ProbeCtes,
         |vec AS (SELECT query_id, nn_id AS doc_id, rank AS vec_rank
         |  FROM (${a4TopkSelect(20)})),
         |fus AS (SELECT coalesce(l.query_id, v.query_id) AS query_id,
         |    coalesce(l.doc_id, v.doc_id) AS doc_id,
         |    round(coalesce(1.0 / (60 + l.lex_rank), 0.0)
         |        + coalesce(1.0 / (60 + v.vec_rank), 0.0), 6) AS rrf,
         |    coalesce(l.lex_rank, 0) AS lex_rank,
         |    coalesce(v.vec_rank, 0) AS vec_rank
         |  FROM lex l FULL OUTER JOIN vec v
         |    ON l.query_id = v.query_id AND l.doc_id = v.doc_id)
         |SELECT query_id, rank, doc_id, rrf, lex_rank, vec_rank FROM (
         |  SELECT query_id, doc_id, rrf, lex_rank, vec_rank,
         |    row_number() OVER (
         |      PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS rank
         |  FROM fus)
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)((s, d) => {
      val (lex, _) = graft.operators.RetrievalCache.hybridLegs(s, d)
      graft.operators.Retrieval.rrfFuse(lex,
        graft.operators.RetrievalCache.ivfLeg(s, d), "doc_id", 10)
    }),
  )
}
