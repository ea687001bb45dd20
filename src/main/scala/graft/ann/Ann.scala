package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Vec

/** Similarity search over an embedding column (`array<float>`).
  *
  *  - `knnBrute`: exact cosine top-k for an explicit (small) query set —
  *    the query side is broadcast, the corpus side is scanned once,
  *    projected to (id, vector) only; per-query ranking is a window over
  *    the query id. This is the correctness baseline.
  *  - `knnBlocked`: IVF-style — restrict candidates to the query's
  *    coarse cell (here: a precomputed partition/label column). At 100 TB
  *    the cell column is the bucketing key, so a probe touches only its
  *    cell's partitions instead of the full corpus.
  *  - random-hyperplane LSH bucketing (round 2) follows the same shape
  *    with sign-bit bucket keys.
  */
/** A built coarse-cell index: the probe-`CellProbe` anchor assignment
  * (`asg`: id, lvl, idx, rn) and the product dimensions. One index
  * serves every consumer — near-dup blocking (rn ≤ 2 probe cells) and
  * IVF cells (rn = 1 primary) — so the n·(k1+k2) anchor scan runs once
  * per corpus, not once per query. */
final case class CoarseIndex(asg: DataFrame, k1: Int, k2: Int) {
  /** The product cell count k1·k2. */
  def cells: Long = k1.toLong * k2
}

object Ann {

  /** The ONE place the coarse-cell constants live: the Scala plans
    * below and the DuckDB oracle CTEs in graft/keys both interpolate these,
    * so a retune cannot desynchronize the two engines silently. */
  val DefaultTargetCellSize = 64
  val CellSalt = "cells"
  val CellProbe = 2

  /** Primary occupancy above which a coarse cell's in-cell pair work
    * is spread over sub-blocks (below it, ≤ threshold² candidate dots
    * fit one task and replication would only inflate the exchange). */
  val DefaultHotCellThreshold = 4 * DefaultTargetCellSize

  /** Exact top-k cosine neighbors for each id in `queryIds`.
    * Deterministic: ranked by rounded cosine desc, then neighbor id.
    * Norms are precomputed per ROW (O(n)), so the O(n·q) hot loop
    * pays only the dot — bit-equal to full per-pair cosine. */
  def knnBrute(emb: DataFrame, id: String, vec: String,
               queryIds: Seq[Long], k: Int): DataFrame = {
    val corpus = emb.select(col(id).as("nn_id"), col(vec).as("nn_vec"),
      Vec.normNative(col(vec)).as("nn_nrm"))
    val queries = ivfQueries(emb, id, vec, queryIds)
    val scored = corpus.crossJoin(broadcast(queries))
      .filter(col("nn_id") =!= col("query_id"))
      .select(col("query_id"), col("nn_id"),
        Vec.cosinePrenormed(col("q_vec"), col("nn_vec"),
          col("q_nrm"), col("nn_nrm")).as("cos"))
    topK(scored, k)
  }

  /** Metadata-FILTERED exact top-k cosine: each query ranks only the
    * corpus vectors sharing its `meta` value — PRE-filtering, the
    * filtered-vector-search semantics where recall is exact by
    * construction (POST-filtering an unfiltered top-k silently returns
    * < k or misses matches entirely when the filter is selective).
    * The predicate is not a residual filter: it IS the join key
    * (`corpus.meta == query.meta` replaces [[knnBrute]]'s crossJoin),
    * so the scored volume is n·selectivity rows, not n — and at lake
    * scale a corpus partitioned/bucketed by the filter column prunes
    * the scan itself to the matching partitions before a single dot
    * is computed. Same ranking/rounding machinery as [[knnBrute]]. */
  def filteredKnn(emb: DataFrame, id: String, vec: String, meta: String,
                  queryIds: Seq[Long], k: Int): DataFrame = {
    val corpus = emb.select(col(id).as("nn_id"), col(meta).as("__m"),
      col(vec).as("nn_vec"), Vec.normNative(col(vec)).as("nn_nrm"))
    val queries = emb.filter(col(id).isin(queryIds: _*))
      .select(col(id).as("query_id"), col(meta).as("__qm"),
        col(vec).as("q_vec"), Vec.normNative(col(vec)).as("q_nrm"))
    val scored = corpus.join(broadcast(queries), col("__m") === col("__qm"))
      .filter(col("nn_id") =!= col("query_id"))
      .select(col("query_id"), col("__qm").as("label"), col("nn_id"),
        Vec.cosinePrenormed(col("q_vec"), col("nn_vec"),
          col("q_nrm"), col("nn_nrm")).as("cos"))
    topK(scored, k)
  }

  /** MMR-diversified top-k (Carbonell & Goldstein 1998 maximal
    * marginal relevance) — the re-rank every RAG/retrieval stack runs
    * so the k results are not k near-copies: greedily pick, from a
    * relevance pool, the candidate maximizing
    *
    *   mmr(c) = λ·sim(q,c) − (1−λ)·max_{s∈S} sim(c,s)
    *
    * where S is the already-picked set. The pool is [[knnBrute]]'s
    * exact top-`poolK` (any retrieval leg slots in — the pool, not
    * the corpus, is what MMR ever touches), vectors re-attached by a
    * broadcast join.
    *
    * Cross-engine exactness: both similarities are the round-6 cosine
    * lifted to int64 MICRO-units, λ = lambdaTenths/10, and the MMR
    * objective is pure integer cross-multiplication —
    * mmr_µ10 = λ₁₀·rel_µ − (10−λ₁₀)·red_µ — so the greedy argmax
    * (ties: rel_µ DESC, nn_id ASC) is decided on exact integers;
    * the only floats out are the display round(…/1e7, 7).
    *
    * Shape: selection is inherently sequential in `selectK`, but the
    * sequence is FOLDED into one per-query pass: the pool's ≤ poolK²
    * pair similarities collapse to a per-query map, the candidates to
    * a per-query (rel DESC, nn_id ASC)-sorted array, and the greedy
    * runs as a single `aggregate` HOF over the step sequence — the
    * accumulator (picked (index, mmr) list) is a lambda VARIABLE, so
    * the plan carries ONE step expression, not selectK−1 chained
    * subplans. Per-query work is the same bounded
    * selectK·poolK·|picked| integer loop the unrolled form paid, but
    * the job count drops from ~selectK+2 launches to 2 (measured
    * 2.13s → see NOTES_r15; the r14 unrolled form with per-pick
    * localCheckpoints was itself the fix for a 7.3s plan-blowup
    * form). Interpreted-HOF cost is bounded by poolK²·selectK per
    * QUERY — queries-proportional, never corpus-proportional. The
    * DuckDB oracle replays the SAME greedy as chained CTEs: two
    * independent derivations of each pick. */
  def mmrDiversify(emb: DataFrame, id: String, vec: String,
                   queryIds: Seq[Long], poolK: Int, selectK: Int,
                   lambdaTenths: Int): DataFrame = {
    require(selectK >= 1 && selectK <= poolK, s"selectK in [1,$poolK]")
    require(lambdaTenths >= 0 && lambdaTenths <= 10, "λ₁₀ in [0,10]")
    val lam = lit(lambdaTenths.toLong)
    val oml = lit((10 - lambdaTenths).toLong)
    val vecs = emb.select(col(id).as("nn_id"), col(vec).as("__v"),
      Vec.normNative(col(vec)).as("__nrm"))
    // one materialized job: the corpus leg (brute top-poolK + vector
    // re-attach), partitioned by query_id
    val nParts = math.max(1, queryIds.size)
    val pool = knnBrute(emb, id, vec, queryIds, poolK)
      .join(broadcast(vecs), Seq("nn_id"))
      .select(col("query_id"), col("nn_id"), col("cos"),
        round(col("cos") * 1e6).cast("long").as("__rel"),
        col("__v"), col("__nrm"))
      .repartition(nParts, col("query_id"))
      .localCheckpoint()
    val a = pool.select(col("query_id"), col("nn_id").as("__ai"),
      col("__v").as("__av"), col("__nrm").as("__an"))
    val b = pool.select(col("query_id"), col("nn_id").as("__bi"),
      col("__v").as("__bv"), col("__nrm").as("__bn"))
    // ≤ poolK² pair micro-cosines per query, folded to ONE map column
    // (key "ai:bi") — the same codegen'd cosinePrenormed expression as
    // the unrolled form, exactness unchanged
    val pmm = a.join(b, Seq("query_id"))
      .filter(col("__ai") =!= col("__bi"))
      .select(col("query_id"), concat_ws(":", col("__ai"), col("__bi")).as("__k"),
        round(Vec.cosinePrenormed(col("__av"), col("__bv"),
          col("__an"), col("__bn")) * 1e6).cast("long").as("__pm"))
      .groupBy(col("query_id"))
      .agg(map_from_entries(collect_list(struct(col("__k"), col("__pm"))))
        .as("__pmm"))
    // candidates, array-sorted by the argmax tie order (rel DESC,
    // nn_id ASC) so "first strictly-greater wins" over positions IS
    // the unrolled window's (mmr10 DESC, rel DESC, nn_id ASC)
    val cs = pool.groupBy(col("query_id"))
      .agg(array_sort(collect_list(struct((-col("__rel")).as("nr"),
        col("nn_id"), col("__rel").as("rel"), col("cos")))).as("__cs"))
    val joined = cs.join(pmm, Seq("query_id"), "left")
    val csC = col("__cs")
    def cAt(i: Column) = element_at(csC, i + 1)
    val minL = lit(Long.MinValue)
    // one greedy step: argmax over unpicked positions of
    // λ₁₀·rel − (10−λ₁₀)·max_{picked} pm, appended to the accumulator
    // (sentinel i = −1 when no candidate remains: acc unchanged)
    def step(acc: Column): Column = {
      val avail = filter(sequence(lit(0), size(csC) - 1),
        x => !exists(acc, p => p.getField("i") === x))
      val best = aggregate(avail,
        struct(lit(-1).as("i"), minL.as("m")),
        (bst, x) => {
          // a missing pair lookup (possible only if the all-pairs-
          // present pool invariant breaks: duplicate nn_ids, a changed
          // map build) must fail LOUDLY — greatest() would silently
          // skip the NULL, leave red at Long.MinValue and let
          // oml*MinValue wrap into garbage mmr ordering (ADVICE r15)
          val red = aggregate(acc, minL, (r, p) => greatest(r,
            coalesce(element_at(col("__pmm"), concat_ws(":",
              cAt(x).getField("nn_id"), cAt(p.getField("i")).getField("nn_id"))),
              raise_error(concat(lit("mmr pair map missing key "),
                concat_ws(":", cAt(x).getField("nn_id"),
                  cAt(p.getField("i")).getField("nn_id")))).cast("long"))))
          val m = lam * cAt(x).getField("rel") - oml * red
          when(m > bst.getField("m"), struct(x.as("i"), m.as("m")))
            .otherwise(bst)
        })
      when(best.getField("i") === -1, acc)
        .otherwise(concat(acc, array(best)))
    }
    val firstAcc = array(struct(lit(0).as("i"),
      (lam * cAt(lit(0)).getField("rel")).as("m")))
    val picked =
      if (selectK == 1) firstAcc
      else aggregate(sequence(lit(2), lit(selectK)), firstAcc,
        (acc, _) => step(acc))
    joined
      .select(col("query_id"), csC, posexplode(picked).as(Seq("__pos", "__p")))
      .select(col("query_id"), (col("__pos") + 1).as("pick_rank"),
        cAt(col("__p").getField("i")).getField("nn_id").as("nn_id"),
        cAt(col("__p").getField("i")).getField("cos").as("cos"),
        // exact int64 / 1e7 — IEEE-identical on both engines, no round
        (col("__p").getField("m").cast("double") / lit(1e7)).as("mmr"))
      .orderBy(col("query_id"), col("pick_rank"))
  }

  /** Per-dimension (min, max) corpus statistics — the SQ8 scalar
    * quantizer's training pass. ONE aggregate scan with 2·dims
    * map-side-partial min/max expressions (no explode: the exchange is
    * a single combined row); min/max of floats are EXACT, so the
    * trained quantizer is identical at any partitioning. The collected
    * result is 2·dims doubles — the bounded driver-action class of the
    * rank-suite cutoffs. */
  def sq8MinMax(emb: DataFrame, vec: String, dims: Int): (Array[Double], Array[Double]) = {
    val v = col(vec).cast("array<double>")
    val aggs = (0 until dims).flatMap(i => Seq(
      min(element_at(v, i + 1)).as(s"mn$i"),
      max(element_at(v, i + 1)).as(s"mx$i")))
    val r = emb.agg(aggs.head, aggs.tail: _*).head()
    (Array.tabulate(dims)(i => r.getAs[Double](s"mn$i")),
     Array.tabulate(dims)(i => r.getAs[Double](s"mx$i")))
  }

  /** SQ8 (8-bit scalar quantization) asymmetric top-k: the cheap
    * compression tier below PQ (FAISS's SQ8 — one code byte per
    * DIMENSION, a 4× compression of float32 with no codebook
    * training). Codes are `floor((x−min)/step + 0.5)` clamped to
    * [0, 255] with per-dimension (min, step=(max−min)/255) from
    * [[sq8MinMax]]; queries stay full-precision and candidates are
    * scored on their DEQUANTIZED vectors (asymmetric distance — the
    * quantizer's published eval protocol). Every quantize/dequantize
    * step is an order-free elementwise double expression with shared
    * literal stats, so both engines land bit-identical dequantized
    * vectors into the SAME cosine machinery as [[knnBrute]]. At scale
    * the dequantize is a projection fused into the scan (the stored
    * form packs the codes like a9's `__codes`; the eval keeps the
    * arithmetic explicit), and the scoring shape is knnBrute's single
    * linear pass with broadcast queries. */
  def sq8Topk(emb: DataFrame, id: String, vec: String,
              queryIds: Seq[Long], k: Int,
              mins: Array[Double], maxs: Array[Double]): DataFrame = {
    val steps = mins.zip(maxs).map { case (mn, mx) =>
      if (mx > mn) (mx - mn) / 255.0 else 1.0 }
    val mnL = array(mins.map(lit): _*)
    val stL = array(steps.map(lit): _*)
    val vD = col(vec).cast("array<double>")
    val xm = zip_with(vD, mnL, (x, mn) => x - mn)
    val codeTimesStep = zip_with(xm, stL, (dv, st) =>
      least(lit(255.0), greatest(lit(0.0),
        floor(dv / st + lit(0.5)).cast("double"))) * st)
    val deq = zip_with(codeTimesStep, mnL, (cs, mn) => mn + cs)
    val corpus = emb.select(col(id).as("nn_id"), deq.as("nn_vec"))
      .select(col("nn_id"), col("nn_vec"),
        Vec.normNative(col("nn_vec")).as("nn_nrm"))
    val queries = ivfQueries(emb, id, vec, queryIds)
    val scored = corpus.crossJoin(broadcast(queries))
      .filter(col("nn_id") =!= col("query_id"))
      .select(col("query_id"), col("nn_id"),
        Vec.cosinePrenormed(col("q_vec"), col("nn_vec"),
          col("q_nrm"), col("nn_nrm")).as("cos"))
    topK(scored, k)
  }

  /** Exact cosine RANGE search (the radius-query API next to top-k):
    * every corpus vector within cosine ≥ τ of each query vector.
    * Queries are broadcast and the corpus is scanned once for all of
    * them with per-row precomputed norms, so a bounded query set
    * stays one linear pass at any corpus size — no index, no recall
    * caveat (d5's coarse-cell blocking is the corpus×corpus variant
    * of this predicate; this is the per-query exact form). */
  def rangeSearch(emb: DataFrame, id: String, vec: String,
                  queryIds: Seq[Long], tau: Double): DataFrame = {
    val corpus = emb.select(col(id).as("nn_id"), col(vec).as("nn_vec"),
      Vec.normNative(col(vec)).as("nn_nrm"))
    val queries = ivfQueries(emb, id, vec, queryIds)
    corpus.crossJoin(broadcast(queries))
      .filter(col("nn_id") =!= col("query_id"))
      .select(col("query_id"), col("nn_id"),
        Vec.cosinePrenormed(col("q_vec"), col("nn_vec"),
          col("q_nrm"), col("nn_nrm")).as("cos"))
      .filter(col("cos") >= tau)
      .orderBy(col("query_id"), col("nn_id"))
  }

  /** kNN majority-vote classification over the embedding space — the
    * label-propagation primitive on top of exact top-k ([[knnBrute]]):
    * each query's k nearest neighbors vote with their `label`; the
    * prediction is the plurality label (ties: larger vote count, then
    * smaller label — fully deterministic). The neighbor table is
    * queries·k rows, so the label join broadcasts it against the
    * corpus-side (id, label) projection and the vote/argmax windows
    * are over the tiny result — corpus cost stays the single scored
    * scan of the underlying top-k. */
  def knnClassify(emb: DataFrame, id: String, vec: String, label: String,
                  queryIds: Seq[Long], k: Int): DataFrame = {
    val labels = emb.select(col(id), col(label))
    val nn = knnBrute(emb, id, vec, queryIds, k)
    val votes = labels
      .join(broadcast(nn), col(id) === col("nn_id"))
      .groupBy(col("query_id"), col(label).as("nn_label"))
      .agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("votes").desc, col("nn_label").asc)
    val pred = votes.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("query_id"), col("nn_label").as("pred_label"), col("votes"))
    labels
      .select(col(id).as("query_id"), col(label).as("true_label"))
      .join(broadcast(pred), Seq("query_id"))
      .select(col("query_id"), col("true_label"), col("pred_label"),
        col("votes"),
        (col("pred_label") === col("true_label")).cast("int").as("correct"))
      .orderBy("query_id")
  }

  /** Embedding width of the synthetic corpus (documents/embeddings
    * tables); PQ subspace width = EmbDims / m. */
  val EmbDims: Int = graft.sources.Tables.EmbDims

  /** (idAs, __m, __sub) rows: each vector split into `m` contiguous
    * subvectors — the shared decomposition under the PQ codebook, the
    * code table, and the per-query distance table. */
  private def pqSubvectors(df: DataFrame, id: String, idAs: String,
                           vec: String, m: Int): DataFrame = {
    require(EmbDims % m == 0, s"dims $EmbDims not divisible by m=$m")
    val subDim = EmbDims / m
    val dArr = col(vec).cast("array<double>")
    df.select(col(id).as(idAs),
        posexplode(transform(sequence(lit(0), lit(m - 1)),
          i => slice(dArr, i * subDim + 1, lit(subDim)))))
      .select(col(idAs), col("pos").as("__m"), col("col").as("__sub"))
  }

  /** Integer micro-distance round(L2² · 1e6) as BIGINT — exact
    * argmin/sum tie behavior, immune to float summation order. */
  private def pqMicroDist(a: Column, b: Column): Column =
    round(aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, e) => acc + e) * 1e6).cast("long")

  /** PQ codebook (__m, __cid, __csub): the subvectors of the `k`
    * smallest ids per subspace (a pretrained codebook is an INPUT in
    * production FAISS too; [[kmeans]] is the in-engine training
    * extension). k·m tiny rows — always broadcast at use sites. */
  def pqCodebook(emb: DataFrame, id: String, vec: String,
                 m: Int = 8, k: Int = 16): DataFrame =
    pqSubvectors(emb.filter(col(id).isin((0L until k.toLong): _*)),
        id, "__cid", vec, m)
      .withColumnRenamed("__sub", "__csub")

  /** The PQ code table (__vid, __m, __code): argmin-L2 sub-centroid
    * per subspace — n·m narrow integer rows, ~m bytes/vector, the 32×
    * compression that is PQ's reason to exist. ONE corpus scan against
    * the broadcast codebook; a corpus-level artifact shared across
    * queries (memoized in [[CellIndexCache.pqCodes]]). */
  def pqCodes(emb: DataFrame, id: String, vec: String,
              codebook: DataFrame, m: Int = 8): DataFrame =
    pqSubvectors(emb, id, "__vid", vec, m)
      .join(broadcast(codebook), "__m")
      .groupBy(col("__vid"), col("__m"))
      .agg(min(struct(pqMicroDist(col("__sub"), col("__csub")).as("d"),
        col("__cid").as("c"))).as("__best"))
      .select(col("__vid"), col("__m"), col("__best.c").as("__code"))

  /** Per-row RESIDUAL vs the row's own coarse-cell centroid:
    * (id, cell, __rvec = x − c(cell(x))). The quantity IVFPQ encodes
    * instead of the raw vector (Jégou 2011 §IV): within a cell, raw
    * vectors are all near the centroid and quantize to the SAME codes
    * — ADC then cannot rank in-cell candidates at all (measured: the
    * raw-encoded first cut of a9 held recall@10 at 0.12 ≈
    * shortlist/cluster-size on the planted-cluster corpus at EVERY
    * nprobe). Residuals carry exactly the intra-cell variation, which
    * is what the code must discriminate. Centroids are `cells` tiny
    * rows — the join is a broadcast. */
  def pqResiduals(embWithCell: DataFrame, id: String, vec: String,
                  cell: String, centroids: DataFrame): DataFrame =
    embWithCell.join(broadcast(centroids), col(cell) === col("c_cell"))
      .select(col(id), col(cell),
        zip_with(col(vec).cast("array<double>"), col("c_vec"),
          (a, b) => a - b).as("__rvec"))

  /** IVFPQ residual codebook (__m, __cid, __csub): the residual
    * subvectors of the `k` smallest ids — the same pretrained-input
    * convention as [[pqCodebook]], in residual space. */
  def ivfPqCodebook(embWithCell: DataFrame, id: String, vec: String,
                    cell: String, centroids: DataFrame,
                    m: Int = 8, k: Int = IvfPqCodebookK): DataFrame =
    pqSubvectors(
      pqResiduals(embWithCell.filter(col(id).isin((0L until k.toLong): _*)),
        id, vec, cell, centroids),
      id, "__cid", "__rvec", m)
      .withColumnRenamed("__sub", "__csub")

  /** The IVFPQ inverted-list code table (c_cell, __vid, __codes):
    * residual-encoded, cell-indexed, PACKED one row per vector —
    * `__codes` is the m-element array of argmin sub-centroid ids in
    * subspace order, i.e. the FAISS m-byte PQ code word as one value.
    * Packed rather than one row per (vector, subspace): the r11
    * per-subspace layout made the ADC join move m=8 rows per candidate
    * and pay a (query, candidate) aggregation to sum them — 8× the
    * join volume plus a shuffle for what is m integer lookups per
    * candidate (the r11 verdict's named overhead). Probing a cell
    * reads exactly that cell's code rows (a broadcast equi-join on the
    * cell key; at scale the table is bucketed BY CELL, FAISS's
    * inverted-list file layout). ONE corpus scan against the broadcast
    * residual codebook; a corpus-level artifact
    * ([[CellIndexCache.pqCodes]]). */
  def ivfPqCodes(embWithCell: DataFrame, id: String, vec: String,
                 cell: String, centroids: DataFrame, codebook: DataFrame,
                 m: Int = 8): DataFrame = {
    val subDim = EmbDims / m
    val res = pqResiduals(embWithCell, id, vec, cell, centroids)
    res.select(col(id).as("__vid"), col(cell).as("c_cell"),
        posexplode(transform(sequence(lit(0), lit(m - 1)),
          i => slice(col("__rvec"), i * subDim + 1, lit(subDim)))))
      .select(col("__vid"), col("c_cell"),
        col("pos").as("__m"), col("col").as("__sub"))
      .join(broadcast(codebook), "__m")
      .groupBy(col("__vid"), col("c_cell"), col("__m"))
      .agg(min(struct(pqMicroDist(col("__sub"), col("__csub")).as("d"),
        col("__cid").as("c"))).as("__best"))
      .groupBy(col("c_cell"), col("__vid"))
      .agg(transform(
        array_sort(collect_list(struct(col("__m"), col("__best.c").as("c")))),
        s => s.getField("c")).as("__codes"))
  }

  /** Per-(query, probed cell) ADC distance table
    * (query_id, c_cell, __m, __code, __d): the query's residual vs
    * EACH probed cell's centroid, scored against the residual
    * codebook — q·nprobe·m·k small rows, broadcast. This is the
    * per-cell table IVFPQ must build because residuals are
    * cell-relative; scoring a candidate is still m integer lookups. */
  def ivfPqDistanceTable(queries: DataFrame, probed: DataFrame,
                         centroids: DataFrame, codebook: DataFrame,
                         m: Int): DataFrame = {
    val subDim = EmbDims / m
    val qres = probed.join(queries, Seq("query_id"))
      .join(broadcast(centroids), Seq("c_cell"))
      .select(col("query_id"), col("c_cell"),
        zip_with(col("q_vec").cast("array<double>"), col("c_vec"),
          (a, b) => a - b).as("__rvec"))
    qres.select(col("query_id"), col("c_cell"),
        posexplode(transform(sequence(lit(0), lit(m - 1)),
          i => slice(col("__rvec"), i * subDim + 1, lit(subDim)))))
      .select(col("query_id"), col("c_cell"),
        col("pos").as("__m"), col("col").as("__sub"))
      .join(broadcast(codebook), "__m")
      .select(col("query_id"), col("c_cell"), col("__m"),
        col("__cid").as("__code"),
        pqMicroDist(col("__sub"), col("__csub")).as("__d"))
  }

  /** [[ivfPqDistanceTable]] PACKED one row per (query, probed cell):
    * `__dtab` is the m·kCb-long flat lookup table indexed
    * __m·kCb + __code — the layout that lets the ADC join carry ONE
    * row per candidate and score it with m in-row array lookups
    * instead of an 8-way join + aggregation. q·nprobe rows of m·kCb
    * longs (8·64 = 512 per row at the defaults) — broadcast.
    *
    * FAILS LOUDLY on a codebook that does not carry exactly `kCb`
    * codes 0..kCb−1 per subspace: positional element_at indexing
    * assumes a dense table, and a sparse one would silently SHIFT
    * positions — every downstream lookup lands on the wrong
    * micro-distance (or NULL past the end, which sorts NULLS FIRST in
    * the ascending shortlist: plausible-looking wrong top-k). The
    * guard runs on q·nprobe broadcast-sized rows, never the corpus. */
  def ivfPqDistanceTablePacked(queries: DataFrame, probed: DataFrame,
                               centroids: DataFrame, codebook: DataFrame,
                               m: Int, kCb: Int): DataFrame = {
    val packed = ivfPqDistanceTable(queries, probed, centroids, codebook, m)
      .groupBy(col("query_id"), col("c_cell"))
      .agg(array_sort(collect_list(struct(
        (col("__m") * kCb + col("__code")).as("pos"), col("__d")))).as("__p"))
    packed.select(col("query_id"), col("c_cell"),
      when(size(col("__p")) === m * kCb &&
          element_at(col("__p"), 1).getField("pos") === 0 &&
          element_at(col("__p"), m * kCb).getField("pos") === m * kCb - 1,
        transform(col("__p"), s => s.getField("__d")))
        .otherwise(raise_error(concat(
          lit(s"IVFPQ codebook/kCb mismatch: packed distance table needs " +
            s"exactly ${m * kCb} dense entries (m=$m x kCb=$kCb, codes " +
            s"0..${kCb - 1} per subspace), got "),
          size(col("__p")).cast("string"),
          lit(" — rebuild the codebook with k=kCb or pass the codebook's " +
            "actual k")))).as("__dtab"))
  }

  /** Per-query ADC distance table (query_id, __m, __cid, __d):
    * q·m·k rows of precomputed query↔sub-centroid micro-distances —
    * broadcast at use sites; scoring a candidate is then m integer
    * lookups + a sum, no vector arithmetic. */
  def pqDistanceTable(queries: DataFrame, id: String, vec: String,
                      codebook: DataFrame, m: Int = 8): DataFrame =
    pqSubvectors(queries, id, "query_id", vec, m)
      .join(broadcast(codebook), "__m")
      .select(col("query_id"), col("__m"), col("__cid"),
        pqMicroDist(col("__sub"), col("__csub")).as("__d"))

  /** Product-quantization ANN with asymmetric distance computation —
    * the FAISS IVFPQ/ADC pattern (Jégou et al. 2011), the index family
    * that makes billion-vector search fit in memory: each vector is
    * stored as `m` one-byte CODES (argmin-L2 sub-centroid per
    * subspace) instead of `m·subDim` floats, and a query scores a
    * candidate by summing `m` PRECOMPUTED query↔centroid sub-distances
    * (the "distance table") — no candidate vector is ever touched at
    * query time.
    *
    * Scale shape: encoding is ONE corpus scan against the broadcast
    * codebook (k·m sub-centroids, a few KB); the code table — the
    * index — is n·m narrow integer rows (~m bytes/vector, the 32×
    * compression that is PQ's reason to exist); ADC is an equi-join of
    * that table against the broadcast distance table (q·m·k rows) plus
    * one integer-sum aggregation. Nothing wider than ids and codes
    * moves after the scan.
    *
    * Determinism/oracle: codebook = the subvectors of the `k` smallest
    * ids (a pretrained codebook is an INPUT in production FAISS too;
    * [[kmeans]] is the in-engine training extension). All distances
    * are integer MICRO-distances — round(L2²·1e6) as BIGINT — so
    * argmin tie-breaks and the ADC sum are exact integer arithmetic,
    * immune to float summation order. The report carries the exact
    * cosine of each returned neighbor alongside the ADC estimate, so
    * the quantization error is visible in the result itself.
    *
    * Takes a PREBUILT (codebook, code table) — [[pqCodebook]] and
    * [[pqCodes]]; the index is a corpus artifact built once
    * ([[CellIndexCache.rawPqCodes]]), the way FAISS separates index
    * construction from search; per-query work is then the q·m·k
    * distance table + the integer ADC join. */
  def pqAdcFromIndex(emb: DataFrame, id: String, vec: String,
                     codebook: DataFrame, codes: DataFrame,
                     queryIds: Seq[Long], m: Int = 8,
                     topK: Int = 10): DataFrame = {
    // per-query distance table: q·m·k rows, broadcast
    val dt = broadcast(
      pqDistanceTable(emb.filter(col(id).isin(queryIds: _*)), id, vec,
        codebook, m))
    val approx = codes
      .join(dt, codes("__m") === dt("__m") && codes("__code") === dt("__cid"))
      .groupBy(col("query_id"), col("__vid").as("nn_id"))
      .agg(sum(col("__d")).as("__admicro"))
      .filter(col("nn_id") =!= col("query_id"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("__admicro").asc, col("nn_id").asc)
    val ranked = approx.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
    // exact cosine of each returned neighbor — quantization error made
    // visible; 50 rows join the corpus, queries broadcast
    val corpus = emb.select(col(id).as("nn_id"), col(vec).as("__nv"),
      Vec.normNative(col(vec)).as("__nn"))
    val queries = broadcast(emb.filter(col(id).isin(queryIds: _*))
      .select(col(id).as("query_id"), col(vec).as("__qv"),
        Vec.normNative(col(vec)).as("__qn")))
    ranked.join(corpus, "nn_id").join(queries, "query_id")
      .select(col("query_id"), col("nn_id"),
        round(col("__admicro") / 1e6, 6).as("adc_dist"),
        Vec.cosinePrenormed(col("__qv"), col("__nv"),
          col("__qn"), col("__nn")).as("cos"),
        col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Lloyd k-means over the embedding corpus — the clustering stage a
    * semantic-curation pipeline runs before pruning/balancing
    * (SemDeDup-style cluster-then-dedup, topic mixture weighting):
    * deterministic seeds (the k smallest ids), `rounds` centroid
    * updates, cosine assignment with 6-dp rounding so the argmax (and
    * its smaller-cluster-id tie-break) is bit-identical cross-engine.
    *
    * Scale shape: each assignment is ONE corpus scan against the k
    * broadcast centroids (corpus × k, the standard Lloyd join — no
    * shuffle of vectors); each update is a posexplode + decimal-exact
    * per-(cluster, dim) mean (order-independent, so both engines get
    * bit-identical centroids — same formula a4's IVF centroids
    * hash-match with). Per-cluster report from a final assignment
    * against the last centroids; the member-cos mean is a decimal sum
    * of the 6-dp cosines, order-independent. Empty clusters drop out
    * of the update naturally (deterministically in both engines). */
  def kmeans(emb: DataFrame, id: String, vec: String, k: Int,
             rounds: Int, centsPre: Option[DataFrame] = None): DataFrame = {
    val corpus = kmeansCorpus(emb, id, vec)
    // trained centroids: a pure, deterministic function of
    // (corpus, k, rounds) — seeded + decimal-exact, so a session can
    // load them from a durable artifact (centsPre, the
    // CellIndexCache.kmeansCentroids table: doubles round-trip parquet
    // bit-exactly) instead of re-paying `rounds`+1 corpus scans
    val cent = centsPre.getOrElse(kmeansCentroids(emb, id, vec, k, rounds))
    kmeansAssign(corpus, cent)
      .groupBy(col("c_cell").as("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        min(col("v_id")).as("min_member"),
        round(sum(col("cos").cast("decimal(18,6)")).cast("double") /
          count(lit(1)), 6).as("avg_cos"))
      .orderBy(col("cluster_id"))
  }

  /** The Lloyd TRAINING half of [[kmeans]]: `rounds` seeded centroid
    * updates, returned as the (c_cell, c_vec) table. Deterministic
    * (seeds = the k smallest ids; decimal-exact order-independent
    * means), so the result is a corpus-pure index artifact. */
  def kmeansCentroids(emb: DataFrame, id: String, vec: String, k: Int,
                      rounds: Int): DataFrame = {
    val corpus = kmeansCorpus(emb, id, vec)
    var cent = corpus.filter(col("v_id") < k)
      .select(col("v_id").as("c_cell"), col("v").as("c_vec"))
    for (_ <- 1 to rounds) {
      cent = kmeansAssign(corpus, cent)
        .select(col("c_cell"), posexplode(col("v")).as(Seq("i", "cv0")))
        .groupBy(col("c_cell"), col("i"))
        .agg((sum(col("cv0").cast("decimal(38,12)")).cast("double") /
          count(lit(1))).as("cv"))
        .groupBy(col("c_cell"))
        .agg(transform(array_sort(collect_list(struct(col("i"), col("cv")))),
          s => s.getField("cv")).as("c_vec"))
    }
    cent
  }

  private def kmeansCorpus(emb: DataFrame, id: String, vec: String): DataFrame =
    emb.select(col(id).cast("long").as("v_id"),
      col(vec).cast("array<double>").as("v"))

  // argmax as a groupBy max_by, not a window: the per-row window
  // form sorts corpus×k rows (each dragging the 64-double vector
  // through the sort) and cannot partial-aggregate; max_by combines
  // map-side — the exchange carries one row per vector, k× less, no
  // sort (the x4 groupBy-over-window precedent). Ordering key
  // (cos, −c_cell) reproduces the window's (cos DESC, c_cell ASC)
  // argmax with its tie-break exactly, and is unique per candidate
  // (c_cell is distinct within a vector's k rows), so max_by is
  // deterministic and the DuckDB oracle's row_number form matches
  // digit-for-digit.
  private def kmeansAssign(corpus: DataFrame, cent: DataFrame): DataFrame =
    corpus.crossJoin(broadcast(cent))
      .select(col("v_id"), col("v"), col("c_cell"),
        round(Vec.cosine(col("v"), col("c_vec")), 6).as("cos"))
      .groupBy(col("v_id"))
      .agg(max_by(struct(col("c_cell"), col("cos"), col("v")),
        struct(col("cos"), (-col("c_cell")).as("nc"))).as("__b"))
      .select(col("v_id"), col("__b.v").as("v"),
        col("__b.c_cell").as("c_cell"), col("__b.cos").as("cos"))

  /** IVF-style top-k within the query's coarse cell (`cell` column). */
  def knnBlocked(emb: DataFrame, id: String, vec: String, cell: String,
                 queryIds: Seq[Long], k: Int): DataFrame = {
    val corpus = emb.select(col(id).as("nn_id"), col(vec).as("nn_vec"),
      col(cell).as("nn_cell"), Vec.normNative(col(vec)).as("nn_nrm"))
    val queries = emb.filter(col(id).isin(queryIds: _*))
      .select(col(id).as("query_id"), col(vec).as("q_vec"),
        col(cell).as("q_cell"), Vec.normNative(col(vec)).as("q_nrm"))
    val scored = corpus.join(broadcast(queries),
        col("nn_cell") === col("q_cell") && col("nn_id") =!= col("query_id"))
      .select(col("query_id"), col("nn_id"),
        Vec.cosinePrenormed(col("q_vec"), col("nn_vec"),
          col("q_nrm"), col("nn_nrm")).as("cos"))
    topK(scored, k)
  }

  /** IVF index-health report (a10): the occupancy-balance card an
    * ANN operator reads before trusting probe-cost estimates — a
    * balanced index probes nprobe·(n/cells) rows per query, a skewed
    * one concentrates probe cost in hot cells (the exact pathology
    * d5's adaptive hot-cell sharding handles at pair time, surfaced
    * here as a first-class diagnostic the way FAISS's
    * imbalance_factor is). ONE row: corpus size, occupied/empty cell
    * counts, min/max/avg occupancy, and imbalance = max/avg (1.0 =
    * perfectly balanced). One groupBy over the shared (id, vec,
    * cell) table + one single-row aggregate — cells-sized exchange,
    * never a vector-level join; integer inputs keep every derived
    * value engine-exact (double division of exact ints, round 6). */
  def indexStats(embCell: DataFrame, cell: String,
                 cellsTotal: Long): DataFrame = {
    val occ = embCell.groupBy(col(cell)).agg(count(lit(1)).as("n"))
    occ.agg(
      sum(col("n")).cast("long").as("n_vectors"),
      count(lit(1)).as("n_cells_occupied"),
      lit(cellsTotal).as("n_cells_total"),
      (lit(cellsTotal) - count(lit(1))).as("n_cells_empty"),
      min(col("n")).as("min_occ"),
      max(col("n")).as("max_occ"),
      round(sum(col("n")).cast("double") / count(lit(1)), 6).as("avg_occ"),
      round(max(col("n")).cast("double") * count(lit(1)) / sum(col("n")), 6)
        .as("imbalance"))
  }

  /** Decimal-exact per-cell centroids (c_cell, c_vec) — a corpus-level
    * artifact: one posexplode + aggregation over the whole corpus,
    * shared across every IVF probe against the same (corpus, cells)
    * via [[CellIndexCache.centroids]] instead of recomputed per query.
    * Components are DECIMAL-exact means (sum of exact float→double
    * casts in decimal, order-independent across any partitioning — the
    * ts19 trick), so both engines derive bit-identical centroids and
    * the probed-cell choice is deterministic. */
  def ivfCentroids(emb: DataFrame, vec: String, cell: String): DataFrame = {
    val comp = emb
      .select(col(cell).as("c_cell"), posexplode(col(vec).cast("array<double>")))
      .withColumnRenamed("pos", "i")
      .withColumnRenamed("col", "v")
    comp.groupBy(col("c_cell"), col("i"))
      .agg((sum(col("v").cast("decimal(38,12)")).cast("double") /
        count(lit(1))).as("cv"))
      .groupBy(col("c_cell"))
      .agg(transform(array_sort(collect_list(struct(col("i"), col("cv")))),
        s => s.getField("cv")).as("c_vec"))
  }

  /** Level-0 GROUP centroids (g_grp, g_vec): the decimal-exact mean of
    * the group's leaf-cell centroids, grouped by the level-0 anchor
    * component ([[cellGroup]]) of the 2-level product key. A
    * corpus-level artifact like [[ivfCentroids]] itself: k1 rows
    * derived from the cells-sized centroid table (one
    * narrow aggregation — never a corpus scan), cached next to the
    * centroids ([[CellIndexCache.groupCentroids]]). Unweighted mean of
    * cell centroids, not of rows: the group vector only RANKS groups
    * (stage 1 of the hierarchical probe); candidate selection below it
    * is still leaf-centroid-exact. */
  def groupCentroids(centroids: DataFrame, k2: Int): DataFrame =
    centroids
      .select(cellGroup("c_cell", k2).as("g_grp"), posexplode(col("c_vec")))
      .groupBy(col("g_grp"), col("pos"))
      .agg((sum(col("col").cast("decimal(38,12)")).cast("double") /
        count(lit(1))).as("gv"))
      .groupBy(col("g_grp"))
      .agg(transform(array_sort(collect_list(struct(col("pos").as("i"), col("gv")))),
        s => s.getField("gv")).as("g_vec"))

  /** Per-query probed cells via the 2-stage HIERARCHICAL coarse probe —
    * the scale fix for the flat centroid scan (the one remaining
    * linear-in-n query cost at the 10⁹-vector target: k1·k2 ≈ n/64
    * centroids is a ~16M-row broadcast + per-query 16M-row crossJoin
    * there). Stage 1 ranks the k1 level-0 GROUP centroids `gvec`
    * ([[groupCentroids]]) by rounded cosine (ties by group id) and
    * keeps the top `groupProbe`; stage 2 ranks ONLY those groups' leaf
    * centroids — an EQUI-join on the group key, so with the centroid
    * table bucketed by group a query batch reads groupProbe groups'
    * partitions, never the full table. Per-query coarse cost drops
    * from k1·k2 to k1 + groupProbe·k2 ≈ O(√cells) when groupProbe is
    * O(1) (a9's constant-count probe) — the two-level product of
    * [[coarseCellParams]], applied at query time.
    *
    * Same determinism treatment as the flat probe at both stages
    * (6-dp rounded decimal-exact centroid cosines, integer
    * tie-breaks), so the DuckDB oracle reproduces the probed set
    * bit-for-bit. The probed SET can differ from the flat scan's when
    * a top-nprobe cell hides in a group ranked below `groupProbe` —
    * rare by construction (a cell near the query pulls its group mean
    * toward the query); measured (ANN_SWEEP_r12): set bit-equal at
    * sf0.01, one truth pair of 250 at sf0.1 (0.736 vs 0.740), and the
    * clustered op point reads 0.864 == the flat twin == the shortlist
    * ceiling. `groupProbe = k1` probes every group: exactly the flat
    * scan. */
  def probedCellsHier(queries: DataFrame, centroids: DataFrame, k2: Int,
                      nprobe: Int, groupProbe: Int,
                      gvec: DataFrame): DataFrame = {
    val topGroups = queries.crossJoin(broadcast(gvec))
      .select(col("query_id"), col("g_grp"),
        Vec.cosine(col("q_vec"), col("g_vec")).as("g_cos"))
      .withColumn("g_rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("g_cos").desc, col("g_grp").asc)))
      .filter(col("g_rank") <= groupProbe)
      .select(col("query_id"), col("g_grp"))
    val qg = topGroups.join(queries, Seq("query_id"))
    centroids.withColumn("g_grp", cellGroup("c_cell", k2))
      .join(broadcast(qg), Seq("g_grp"))
      .select(col("query_id"), col("c_cell"),
        Vec.cosine(col("q_vec"), col("c_vec")).as("c_cos"))
      .withColumn("c_rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("c_cos").desc, col("c_cell").asc)))
      .filter(col("c_rank") <= nprobe)
      .select(col("query_id"), col("c_cell"))
  }

  /** Stage-1 width for a9's hierarchical probe: enough groups to seat
    * 2× the cell budget (a 2× margin against partially-occupied
    * groups), never fewer than 4 groups, capped at k1. The floor is
    * MEASURED, not a guess: on the planted-cluster sweep corpus the
    * op-point recall reads 0.824 at 2 groups vs the 0.864 shortlist
    * ceiling at 4 (a true cluster's cells straddle 3+ level-0 groups
    * often enough to matter; more groups add nothing —
    * ANN_SWEEP_r12). Pure integer arithmetic — mirrored
    * digit-for-digit by the DuckDB oracle. */
  val HierGroupFloor = 4L

  def hierGroupProbe(k1: Int, k2: Int, nprobe: Int): Int = {
    val need = (2L * nprobe + k2 - 1) / k2
    math.min(k1.toLong, math.max(HierGroupFloor, need)).toInt
  }

  /** Stage-1 width for a4's hierarchical probe: the recall fraction
    * applied at GROUP granularity plus one margin group — top
    * ⌈449·k1/1000⌉+1 groups seat ≈ the ⌈449·cells/1000⌉ cell budget
    * with one group of slack for boundary cells. */
  def recommendedGroupProbe(k1: Int,
                            fracNum: Long = RecallNprobeNum,
                            fracDen: Long = RecallNprobeDen): Int = {
    val frac = (fracNum * k1 + fracDen - 1) / fracDen
    math.min(k1.toLong, math.max(1L, frac + 1L)).toInt
  }

  /** IVF multi-probe top-k — the production a4 path: probe the
    * `nprobe` cells whose centroids are nearest the query through the
    * hierarchical coarse stage ([[probedCellsHier]]: ranked within
    * the top `groupProbe` groups only), then rank exactly within the
    * probed cells' rows. This is the standard IVF accuracy knob
    * `knnBlocked` (nprobe=1, cell given) lacks: a query near a cell
    * boundary recovers its neighbors from the adjacent cell instead of
    * losing them. The probe join is an equi-join on the cell key
    * (broadcast of queries × nprobe); at scale the corpus is
    * partitioned by cell so a probe touches only nprobe cells'
    * partitions. Norms precomputed per row, pairs pay only the dot. */
  def knnIvfProbeHier(emb: DataFrame, id: String, vec: String, cell: String,
                      centroids: DataFrame, k2: Int,
                      queryIds: Seq[Long], k: Int, nprobe: Int,
                      groupProbe: Int, gvec: DataFrame): DataFrame = {
    val queries = ivfQueries(emb, id, vec, queryIds)
    val probed = probedCellsHier(queries, centroids, k2, nprobe, groupProbe, gvec)
    val corpus = emb.select(col(id).as("nn_id"), col(vec).as("nn_vec"),
      col(cell).as("c_cell"), Vec.normNative(col(vec)).as("nn_nrm"))
    val scored = corpus
      .join(broadcast(probed.join(queries, Seq("query_id"))), Seq("c_cell"))
      .filter(col("nn_id") =!= col("query_id"))
      .select(col("query_id"), col("nn_id"),
        Vec.cosinePrenormed(col("q_vec"), col("nn_vec"),
          col("q_nrm"), col("nn_nrm")).as("cos"))
    topK(scored, k)
  }

  /** The broadcast (query_id, q_vec, q_nrm) probe side. */
  private def ivfQueries(emb: DataFrame, id: String, vec: String,
                         queryIds: Seq[Long]): DataFrame =
    emb.filter(col(id).isin(queryIds: _*))
      .select(col(id).as("query_id"), col(vec).as("q_vec"),
        Vec.normNative(col(vec)).as("q_nrm"))

  /** The exact top-k tail over (query_id, nn_id, cos) rows: rank by
    * cosine desc, then neighbor id, keep `rank <= k`, order by
    * (query_id, rank). */
  private def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("nn_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy(col("query_id"), col("rank"))
  }

  /** a9's probed-cell COUNT target: a CONSTANT number of cells, not a
    * corpus fraction. On clustered corpora — a9's use case — recall
    * saturates by probed fraction ≈ 0.02 (ANN_SWEEP_r11 clustered leg:
    * 0.856 at f=0.022, flat to f=1.0), so the r11 ⌈cells/5⌉ rule spent
    * probed work LINEAR in corpus size buying nothing: a query's true
    * neighbors live in its own cluster's handful of cells however big
    * the corpus is. 12 cells ≈ 770 candidate rows at the 64-row cell
    * target — measured ≥ 0.85 recall@10 on the planted-cluster corpus
    * (ANN_SWEEP_r12) at f = 12/324 ≈ 0.037. */
  val IvfPqProbeCells = 12L

  /** The fraction FLOOR under the constant count: ⌈cells/50⌉ = the
    * measured clustered-recall saturation fraction (f ≈ 0.02). It only
    * engages above 600 cells (~38k vectors) and keeps the probe from
    * shrinking to a vanishing fraction on corpora whose clusters are
    * weak — on a truly UNIFORM corpus no sublinear probe holds recall
    * (corpus physics; a4's ⌈0.449·cells⌉ exact-rerank rule is the
    * uniform-corpus answer, documented there). */
  val IvfPqFloorDen = 50L

  /** ADC shortlist width per query before the exact-cosine rerank,
    * and the residual codebook size per subspace. Jointly measured on
    * the planted-cluster corpus at the PRODUCTION operating point
    * (NOTES_r12 §3: hierarchical probe, packed ADC,
    * nprobe=[[ivfPqNprobe]]): (k=16, rerank=50) 0.38, (16,200) 0.70,
    * (64,50) 0.50, (64,200) **0.864** at 1.0s, (256,200) 0.90 at 2.7×
    * the latency — the (64,200) knee is the pinned operating point.
    * Both are CONSTANTS per query (the point of the design): rerank
    * does not grow with cell size, and the codebook stays k·m tiny
    * rows however large the corpus. */
  val IvfPqRerank = 200

  /** Residual sub-centroids per subspace (see [[IvfPqRerank]]). */
  val IvfPqCodebookK = 64

  /** max([[IvfPqProbeCells]], ⌈cells/[[IvfPqFloorDen]]⌉) clamped to
    * [1, cells] (and to Int before narrowing — same overflow guard as
    * [[recommendedNprobe]]). Ceil-div written overflow-free:
    * `cells + den - 1` wraps negative near Long.MaxValue. */
  def ivfPqNprobe(cells: Long): Int = {
    val floorDiv =
      cells / IvfPqFloorDen + (if (cells % IvfPqFloorDen == 0L) 0L else 1L)
    math.min(Int.MaxValue.toLong,
      math.max(1L, math.min(cells, math.max(IvfPqProbeCells, floorDiv)))).toInt
  }

  /** True IVFPQ: IVF coarse probe + PQ/ADC candidate scoring + exact
    * rerank of a bounded shortlist — the composition of
    * [[knnIvfProbeHier]] (which reranks EVERY row of every probed
    * cell with exact cosine) and [[pqAdcFromIndex]] (which ADC-scores
    * the whole corpus). This is the scale shape FAISS ships as IndexIVFPQ +
    * refine: the probe touches nprobe cells' CODE rows (one packed
    * m-int code word per vector — no embedding is read for
    * candidates), ADC scoring is one broadcast equi-join on the cell
    * key with m in-row lookups into the packed distance table, and
    * only the top-[[IvfPqRerank]] shortlist per query ever touches
    * real vectors again. Per query the exact-vector work drops from
    * O(probed rows · dims) to O(rerank · dims) + O(probed rows · m)
    * integer adds — the difference that makes a bounded probe
    * affordable at 10⁹ vectors.
    *
    * Why this closes a4's scale concern: a4's recall-targeted rule
    * must probe ~45% of a UNIFORM corpus (corpus physics — recall is
    * bought with probed fraction when true neighbors are unclustered),
    * and exact-reranking 45% of the corpus per query is a near-scan.
    * On clustered corpora (the real case) a CONSTANT
    * [[IvfPqProbeCells]]-cell probe holds recall ≥ 0.85
    * (ANN_SWEEP_r12 planted-Gaussian leg; recall saturates by
    * f ≈ 0.02 there) and the ADC integer path prices the probed rows
    * at m byte-codes each — with the hierarchical coarse stage, total
    * per-query cost is O(√cells) centroid cosines + O(1) candidate
    * rows.
    *
    * Determinism/oracle: probed-cell choice by 6-dp-rounded
    * decimal-exact centroid cosine (ties by cell id) — a4's rule;
    * ADC sums are exact integer micro-distances (ties by nn_id) —
    * a8's rule; final rank by 6-dp exact cosine (ties by nn_id). The
    * ADC estimate rides along as `adc_dist` so quantization error is
    * visible in the result.
    *
    * `codes`/`codebook` are the RESIDUAL-encoded structures
    * ([[ivfPqCodes]]/[[ivfPqCodebook]]): the ADC sum approximates
    * ‖q − x‖² = ‖(q − c) − (x − c)‖² per probed cell c, which is what
    * lets the code discriminate WITHIN a cell (see [[pqResiduals]]). */
  def knnIvfPq(emb: DataFrame, id: String, vec: String, cell: String,
               centroids: DataFrame, codes: DataFrame, codebook: DataFrame,
               k2: Int, queryIds: Seq[Long], k: Int, nprobe: Int,
               groupProbe: Int, gvec: DataFrame,
               rerank: Int = IvfPqRerank, m: Int = 8,
               kCb: Int = IvfPqCodebookK): DataFrame = {
    require(codes.columns.contains("__codes"),
      "codes must be the PACKED cell-indexed residual table (Ann.ivfPqCodes)")
    val queries = ivfQueries(emb, id, vec, queryIds)
    // 1. coarse probe: nprobe nearest cells by rounded centroid
    //    cosine through the 2-stage hierarchical probe (coarse cost
    //    k1 + groupProbe·k2 ≈ O(√cells) instead of the flat k1·k2 scan)
    val probed = probedCellsHier(queries, centroids, k2, nprobe, groupProbe, gvec)
    // 2. ADC: the per-(query, probed cell) PACKED distance table is
    //    broadcast; joining the inverted-list code table on c_cell
    //    restricts candidates to probed cells, and each candidate is
    //    scored IN-ROW — m integer lookups into the 512-long __dtab
    //    via its packed m-code array — one broadcast equi-join
    //    carrying ONE row per candidate, no per-subspace row fan-out,
    //    no (query, candidate) aggregation shuffle (at scale the code
    //    table is partitioned by cell so only probed partitions are
    //    read)
    val dt = broadcast(
      ivfPqDistanceTablePacked(queries.select(col("query_id"), col("q_vec")),
        probed, centroids, codebook, m, kCb))
    val adc = codes
      .join(dt, Seq("c_cell"))
      .filter(col("__vid") =!= col("query_id"))
      .select(col("query_id"), col("__vid").as("nn_id"),
        aggregate(
          zip_with(col("__codes"), sequence(lit(0), lit(m - 1)),
            (c, i) => element_at(col("__dtab"), (i * kCb + c + 1).cast("int"))),
          lit(0L), (acc, d) => acc + d).as("__admicro"))
    val short = adc.withColumn("arn", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("__admicro").asc, col("nn_id").asc)))
      .filter(col("arn") <= rerank)
    // 3. exact rerank: only the shortlist touches real vectors
    val corpus = emb.select(col(id).as("nn_id"), col(vec).as("__nv"),
      Vec.normNative(col(vec)).as("__nn"))
    short.join(corpus, "nn_id").join(broadcast(queries), "query_id")
      .select(col("query_id"), col("nn_id"),
        Vec.cosinePrenormed(col("q_vec"), col("__nv"),
          col("q_nrm"), col("__nn")).as("cos"),
        round(col("__admicro") / 1e6, 6).as("adc_dist"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cos").desc, col("nn_id").asc)))
      .filter(col("rank") <= k)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Deterministic random-hyperplane set for sign-bit LSH (seeded —
    * identical across executors and runs). */
  def lshPlanes(dims: Int, planes: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(planes)(Array.fill(dims)(rnd.nextGaussian()))
  }

  /** Sign-bit bucket id from the hyperplane set — native expression
    * (the per-plane `aggregate(zip_with(...))` HOF tree it replaces is
    * interpreter-bound); bit-identical accumulation order. */
  def lshBucket(vec: Column, planes: Array[Array[Double]]): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.functions.expressions.LshBucket(
      ColumnBridge.expression(vec), planes.map(_.toIndexedSeq).toIndexedSeq))
  }

  /** All XOR masks with popcount <= `h` over `bits` bit positions —
    * the hamming ball a multi-probe query enumerates:
    * sum of C(bits, 0..h) masks, ascending popcount. */
  def hammingBall(bits: Int, h: Int): Seq[Long] = {
    def combos(start: Int, k: Int): Seq[Long] =
      if (k == 0) Seq(0L)
      else (start to bits - k).flatMap(p => combos(p + 1, k - 1).map(_ | (1L << p)))
    (0 to math.min(h, bits)).flatMap(combos(0, _))
  }

  /** The hyperplane set of table `t` in an OR-amplified multi-table
    * index: an independent seeded draw per table (the d2 band trick —
    * independent hash families whose candidate sets union). */
  def tablePlanes(dims: Int, planes: Int, seed: Long, t: Int): Array[Array[Double]] =
    lshPlanes(dims, planes, seed + t)

  /** ANN top-k via multi-probe, multi-TABLE random-hyperplane LSH:
    * candidates are corpus rows whose sign-bit bucket in ANY of the
    * `tables` independent hyperplane tables is within `probeHamming`
    * of the query's bucket in that same table; ranking is exact cosine
    * over the deduplicated candidate union.
    *
    * Why multi-table: one table's per-neighbor hit probability q is
    * bought only with the probe radius, and at production plane counts
    * (16+, where the bucket space actually shards a corpus) no radius
    * both keeps the ball small and finds moderate-angle neighbors. L
    * independent tables amplify recall as 1-(1-q)^L while the ball per
    * table stays small — the standard OR-amplification construction
    * (same trick d2's MinHash bands use). Measured in ANN_SWEEP_r6:
    * recall@10 goes 0.18 (L=1) to >=0.9 (L=12+) at 16 planes, h=3.
    *
    * The hamming ball is enumerated on the QUERY side — each query
    * explodes into `tables` x C(planes, <=probeHamming) (table,
    * bucket) probes — so the candidate lookup is an EQUI-join on
    * (table, bucket), a BroadcastHashJoin, never a nested-loop over
    * the corpus. At scale the corpus index is written bucketed by
    * (table, bucket) — L tables = L x index storage, the standard
    * multi-table cost — and a probe batch touches only the enumerated
    * buckets' partitions. A pair colliding in several tables surfaces
    * once per table; the distinct() collapses the union before
    * ranking. Recall vs `knnBrute` is spec-checked and the full
    * pipeline is oracle-checked (a2), the seeded planes being
    * deterministic on both engines. */
  def knnLsh(emb: DataFrame, id: String, vec: String, queryIds: Seq[Long],
             k: Int, planes: Int, probeHamming: Int, seed: Long,
             tables: Int = 1): DataFrame = {
    require(planes <= 63, s"at most 63 hyperplanes supported, got $planes")
    require(tables >= 1, s"need at least one hash table, got $tables")
    val dims = 64
    val masks = hammingBall(planes, probeHamming)
    val bucketCols = (0 until tables).map(t =>
      lshBucket(col(vec), tablePlanes(dims, planes, seed, t)).as(s"__b$t"))
    val bucketed = emb.select(
      col(id) +: col(vec) +: Vec.normNative(col(vec)).as("__nrm") +: bucketCols: _*)
    val tableArr = array((0 until tables).map(t => col(s"__b$t")): _*)
    val corpus = bucketed
      .select(col(id).as("nn_id"), col(vec).as("nn_vec"),
        col("__nrm").as("nn_nrm"), posexplode(tableArr))
      .withColumnRenamed("pos", "tbl")
      .withColumnRenamed("col", "bucket")
    val probes = bucketed.filter(col(id).isin(queryIds: _*))
      .select(col(id).as("query_id"), col(vec).as("q_vec"),
        col("__nrm").as("q_nrm"), posexplode(tableArr))
      .withColumnRenamed("pos", "tbl")
      .withColumnRenamed("col", "q_bucket")
      // ONE constant array literal, XOR after the explode: a per-mask
      // array(q_bucket ^ lit(m), ...) inlines every element into the
      // generated code and blows janino's 64KB method cap at
      // C(24, <=3) = 2325 masks
      .withColumn("m", explode(lit(masks.toArray)))
      .withColumn("bucket", col("q_bucket").bitwiseXOR(col("m")))
      .drop("m", "q_bucket")
    val scored = corpus.join(broadcast(probes), Seq("tbl", "bucket"))
      .filter(col("nn_id") =!= col("query_id"))
      .select(col("query_id"), col("nn_id"),
        Vec.cosinePrenormed(col("q_vec"), col("nn_vec"),
          col("q_nrm"), col("nn_nrm")).as("cos"))
      // union across tables: a pair colliding in several tables (or,
      // with tables=1, never — masks are distinct) surfaces once
      .distinct()
    topK(scored, k)
  }

  /** k1/k2 for a 2-level product coarse quantizer with ~`n /
    * targetCellSize` cells: k1 = ceil(sqrt(cells)), k2 = ceil(cells/k1).
    * CELL COUNT GROWS WITH THE CORPUS (the fix for the fixed-10-label
    * blocking that measured 18× wall for 10× data): in-cell pair work
    * stays ~n·targetCellSize = linear, and assignment costs
    * n·(k1+k2) = O(n^1.5/√targetCellSize) — the 2-level product keeps
    * the anchor scan at 2·sqrt(cells) instead of a flat quantizer's
    * `cells`. Deeper products, for when even sqrt(cells) anchors per
    * row is too many, are designed in NOTES_r8 §2/§10; their code is at
    * `git show 94808ac:src/main/scala/graft/ann/Ann.scala`. Mirrored
    * digit-for-digit by the DuckDB oracle (ceil over exact doubles both
    * sides). */
  def coarseCellParams(n: Long, targetCellSize: Int): (Int, Int) = {
    require(targetCellSize > 0)
    val cells = math.max(1L, (n + targetCellSize - 1) / targetCellSize)
    val k1 = math.ceil(math.sqrt(cells.toDouble)).toInt
    val k2 = math.ceil(cells.toDouble / k1).toInt
    // a level with no anchors would leave every row's cell NULL and
    // silently drop it from every cell equi-join — fail loudly instead
    // (only n = 1 can trip this: k1 + k2 ≈ 2·sqrt(n/cellSize) ≪ n)
    require(n == 0 || n >= k1.toLong + k2,
      s"corpus of $n rows cannot seat ${k1 + k2} coarse anchors " +
        s"(targetCellSize=$targetCellSize) — rows would get NULL cells")
    (k1, k2)
  }

  /** The product cell of a (level-0, level-1) anchor pair,
    * idx0·k2 + idx1: the one Scala spelling of the cell number, behind
    * primary cells ([[cellsFromIndex]]) and near-dup probe cells
    * ([[nearDupPairsScaledIndexed]]). */
  private def productCell(idx0: Column, idx1: Column, k2: Int): Column =
    idx0.cast("long") * k2 + idx1.cast("long")

  /** The level-0 group of a product cell, cell div k2: the one Scala
    * spelling of the group key, behind [[groupCentroids]], the second
    * stage of [[probedCellsHier]] and the stored centroid table's
    * bucket column ([[CellIndexCache.centroidsArtifact]]). */
  def cellGroup(cell: String, k2: Int): Column = expr(s"$cell div $k2")

  /** Build the shared coarse index for a corpus of `n` rows: one
    * probe-[[CellProbe]] anchor assignment serving d5/d8 blocking and
    * a3/a4 IVF cells alike. The anchors are the k1+k2 rows with the
    * smallest md5("cells:id") ([[CellSalt]]) — seeded, data-dependent,
    * and reproducible in SQL (QUALIFY row_number); the first k1 are
    * level 0, the rest level 1. Each row ranks each level's anchors by
    * ROUNDED cosine desc (ties by anchor idx), so both engines pick the
    * same anchors (the a4 determinism treatment). The anchor pick is a
    * distributed top-(k1+k2) (TakeOrderedAndProject), the assignment
    * one broadcast join: n·(k1+k2) fused cosines, no shuffle wider than
    * (id, lvl, idx). `n` should come from cheap metadata (parquet
    * footers — [[graft.sources.ParquetStats.rowCount]]), not a
    * `count()` job. The caller decides persistence. */
  def buildCoarseIndex(emb: DataFrame, id: String, vec: String,
                       n: Long): CoarseIndex = {
    val (k1, k2) = coarseCellParams(n, DefaultTargetCellSize)
    val key = md5(concat(lit(CellSalt + ":"), col(id).cast("string")))
    // the window runs over exactly k1+k2 rows (post-limit) — the
    // single-partition sort is k-sized, never corpus-sized
    val anchors = emb
      .select(col(id).as("__aid"), col(vec).as("__avec"), key.as("__akey"))
      .orderBy(col("__akey"), col("__aid")).limit(k1 + k2)
      .withColumn("__rk", row_number().over(
        Window.orderBy(col("__akey"), col("__aid"))))
      .select(
        when(col("__rk") <= k1, lit(0)).otherwise(lit(1)).as("lvl"),
        (when(col("__rk") <= k1, col("__rk") - 1)
          .otherwise(col("__rk") - 1 - k1)).cast("int").as("idx"),
        col("__avec"))
    val asg = emb.select(col(id), col(vec)).crossJoin(broadcast(anchors))
      .select(col(id), col("lvl"), col("idx"),
        Vec.cosine(col(vec), col("__avec")).as("__c"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col(id), col("lvl"))
          .orderBy(col("__c").desc, col("idx").asc)))
      .filter(col("rn") <= CellProbe)
      .select(col(id), col("lvl"), col("idx"), col("rn"))
    CoarseIndex(asg, k1, k2)
  }

  /** Primary cell per row, (id, cell), from a built index: the rn=1
    * anchor of each level, as a [[productCell]]. */
  def cellsFromIndex(ix: CoarseIndex, id: String): DataFrame =
    ix.asg.filter(col("rn") === 1)
      .groupBy(col(id))
      .agg(productCell(max(when(col("lvl") === 0, col("idx"))),
        max(when(col("lvl") === 1, col("idx"))), ix.k2).as("cell"))

  /** `emb` with the primary coarse-cell column from a built index. */
  def withCoarseCellIndexed(emb: DataFrame, id: String, ix: CoarseIndex,
                            cellCol: String = "cell"): DataFrame =
    emb.join(cellsFromIndex(ix, id).withColumnRenamed("cell", cellCol), id)

  /** The probed corpus FRACTION targeting recall@10 ≈ 0.8 on a
    * NEAR-UNIFORM corpus, from the model recall(f) ≈ 1 − (1−f)^2.7
    * (f(0.8) = 1 − 0.2^(1/2.7) ≈ 0.449). Measured (ANN_SWEEP_r11,
    * full nprobe grid at sf0.01/sf0.1 over 25 query ids — the r10
    * sweep's 5-id sample overstated the rule at 0.88/0.72): the
    * ⌈0.449·cells⌉ operating point realizes recall@10 0.76 / 0.74 —
    * FLAT across the 4× corpus-size range where the old fixed
    * nprobe=2 decayed 0.48 → 0.20 (ANN_SWEEP_r8), which is the
    * rule's claim (no size decay), sitting ~0.05 below the model's
    * 0.8 target (the curve overpredicts mid-fractions: max
    * |measured−pred| 0.135/0.082 at 9/36 cells). Pinned as an
    * exact RATIONAL 449/1000, not a float: ⌈f·cells⌉ is then pure
    * integer arithmetic, bit-identical in the JVM and the DuckDB
    * oracle (a double 0.449 literal rounds ABOVE the decimal value,
    * so the two engines' ceil could disagree whenever 449·cells is a
    * multiple of 1000). */
  val RecallNprobeNum = 449L
  val RecallNprobeDen = 1000L

  /** Recall-targeted IVF probe width: nprobe as a FUNCTION of the cell
    * count, replacing the fixed constant whose recall decays as cells
    * grow ∝ n (ANN_SWEEP_r8 measured 0.48→0.20 recall@10 from sf0.01
    * to sf0.1 at nprobe=2). Two regimes, because the right rule
    * depends on what the queries are:
    *
    *  - GENERIC top-k on a near-uniform corpus (this synthetic data;
    *    worst case): a query's true top-10 are mostly unclustered
    *    random directions, so recall is bought with the probed
    *    fraction of the corpus and nothing sublinear can hold it —
    *    corpus physics, not an implementation artifact (the LSH legs
    *    of ANN_SWEEP_r5/r6 document the same collapse). The rule holds
    *    the fraction: nprobe = ⌈f·cells⌉ with f from the measured curve
    *    — swept at sf0.01/sf0.1 over 25 query ids in ANN_SWEEP_r11,
    *    recall at the rule holds 0.76 / 0.74 (flat) across a 4×
    *    corpus where nprobe=2 decayed 0.48 → 0.20; the ~0.05 gap to
    *    the 0.8 target is the curve's fit error (≤0.135/0.082 abs),
    *    not size decay.
    *  - NEAR-DUP queries (the d5/d8 tier — a true high-cos neighbor
    *    exists): the neighbor shares the query's primary or boundary
    *    cell, a CONSTANT nprobe ≈ probe² already reaches it, and the
    *    planted-twin sweep shows no decay. Clustered real-embedding
    *    corpora sit between the two; this fraction rule is the
    *    conservative upper bound for them.
    */
  def recommendedNprobe(cells: Long,
                        fracNum: Long = RecallNprobeNum,
                        fracDen: Long = RecallNprobeDen): Int =
    // clamp to Int.MaxValue BEFORE narrowing: at cells > ~4.78e9 the
    // fraction exceeds Int range and a bare .toInt would wrap negative,
    // silently emptying the c_rank <= nprobe probe filter downstream
    math.min(Int.MaxValue.toLong,
      math.max(1L,
        math.min(cells, (fracNum * cells + fracDen - 1) / fracDen))).toInt

  /** Embedding near-dup pairs: cosine ≥ tau within the same
    * CORPUS-PROPORTIONAL coarse cell (cell-blocked so the pair space
    * never goes quadratic corpus-wide).
    *
    * Blocking: each row's primary product cell (see [[cellsFromIndex]]);
    * candidates = same-cell pairs. Boundary probing: the PROBE side
    * replicates to its top-2 anchors per level (≤4 cells), the build
    * side stays at its primary — a near-identical pair whose argmax
    * flips at one level (the only way a tiny perturbation splits a
    * pair) still meets where the flipped row's 2nd choice is its
    * twin's 1st. Candidate volume is ×(probe cells), still linear in
    * the corpus. Each unordered pair may surface in several (cell,
    * direction)s; the groupBy collapses it to one row with the
    * MINIMUM meeting cell (deterministic, oracle-reproducible).
    *
    * Sub-block sharding: the in-cell pair work of a HOT cell is split
    * into `subBlocks` deterministic hash sub-blocks — the probe side
    * replicates to every sub-block, the build side keeps its own — so
    * its O(n²) candidate work spreads over `subBlocks` tasks instead
    * of serializing in one straggler. ADAPTIVE: only
    * cells whose primary occupancy exceeds `hotCellThreshold` are
    * sharded (probe side exploded ×subBlocks, build side hashed);
    * cells near the target size — the overwhelming majority, since
    * k1·k2 tracks n/targetCellSize — join on a single (cell, 0) key
    * with NO replication. A cold cell's candidate work
    * (≤ threshold² dots) fits one task comfortably; sharding it
    * anyway would multiply the probe leg's vector exchange volume
    * ×subBlocks for nothing — at probe≈4 cells that was a ×32
    * per-row replication of the full vector through the shuffle,
    * now ×probe for cold cells. The per-cell decision is made from
    * the same assignment table (one narrow aggregation, broadcast
    * back onto both legs), and both legs agree on it, so the output
    * pair set is bit-identical to unconditional sharding (spec-pinned).
    *
    * In-cell pair work: ~n·targetCellSize·probeCells = LINEAR in the
    * corpus (the fixed-10-cell form measured 18× wall for 10× data;
    * SCALE_r*.json's embeddings_8x legs measured this one). `ix` is built
    * once per corpus and usually persisted and shared
    * ([[CellIndexCache.embeddings]]), so the d5/d8/a3/a4 family pays
    * the anchor assignment once, not once per query. */
  def nearDupPairsScaledIndexed(emb: DataFrame, id: String, vec: String,
                                tau: Double, ix: CoarseIndex,
                                subBlocks: Int = 8,
                                hotCellThreshold: Int = DefaultHotCellThreshold): DataFrame = {
    val a0 = ix.asg.filter(col("lvl") === 0)
      .select(col(id), col("idx").as("__i0"), col("rn").as("__r0"))
    val a1 = ix.asg.filter(col("lvl") === 1)
      .select(col(id), col("idx").as("__i1"), col("rn").as("__r1"))
    val probeCells = a0.join(a1, id)
      .select(col(id), productCell(col("__i0"), col("__i1"), ix.k2).as("cell"),
        (col("__r0") === 1 && col("__r1") === 1).as("__primary"))
    // cells worth sharding: primary occupancy above the threshold —
    // a narrow (cell, count) aggregate, broadcast onto both legs
    val hotCells = probeCells.filter(col("__primary"))
      .groupBy(col("cell")).agg(count(lit(1)).as("__csz"))
      .filter(col("__csz") > hotCellThreshold)
      .select(col("cell"), lit(true).as("__hot"))
    val flagged = probeCells.join(broadcast(hotCells), Seq("cell"), "left")
      .withColumn("__hot", coalesce(col("__hot"), lit(false)))
    val withNorm = emb.select(col(id), col(vec),
      Vec.normNative(col(vec)).as("__nrm"))
    val p = flagged
      .join(withNorm, id)
      .select(col(id).as("id_p"), col(vec).as("vec_p"), col("__nrm").as("np"),
        col("cell"), col("__hot"))
      .withColumn("sb", explode(
        when(col("__hot"), array((0 until subBlocks).map(lit): _*))
          .otherwise(array(lit(0)))))
      .drop("__hot")
    val b = flagged.filter(col("__primary"))
      .join(withNorm, id)
      .select(col(id).as("id_b"), col(vec).as("vec_b"), col("__nrm").as("nb"),
        col("cell"),
        when(col("__hot"), pmod(hash(col(id)), lit(subBlocks)))
          .otherwise(lit(0)).as("sb"))
    p.join(b, Seq("cell", "sb"))
      .filter(col("id_p") =!= col("id_b"))
      .select(col("cell"),
        least(col("id_p"), col("id_b")).as("id_a"),
        greatest(col("id_p"), col("id_b")).as("id_b"),
        Vec.cosinePrenormed(col("vec_p"), col("vec_b"),
          col("np"), col("nb")).as("cos"))
      .filter(col("cos") >= tau)
      .groupBy(col("id_a"), col("id_b"))
      .agg(min(col("cell")).as("cell"), max(col("cos")).as("cos"))
      .select(col("cell"), col("id_a"), col("id_b"), col("cos"))
      .orderBy(col("id_a"), col("id_b"))
  }
}
