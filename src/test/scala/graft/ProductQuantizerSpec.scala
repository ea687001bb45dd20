package graft

import org.apache.spark.sql.functions._
import graft.ann.Ann

/** a9's IVFPQ over the 2-level product quantizer: the hierarchical
  * probe at full width degenerates to exact search, the ADC shortlist
  * bounds the rerank, the a9 operating point recovers planted twins,
  * the probe-width rules hold, and the hierarchical probe matches the
  * flat reference (`probedCellsFlat`) at the a4/a9 points. */
class ProductQuantizerSpec extends SparkSpec {
  import spark.implicits._

  /** Per-query probed cells (query_id, c_cell) by a FLAT scan of all
    * leaf centroids: rounded centroid cosine desc, ties by cell id —
    * the reference the hierarchical probe is pinned against. */
  private def probedCellsFlat(queries: org.apache.spark.sql.DataFrame,
                              centroids: org.apache.spark.sql.DataFrame,
                              nprobe: Int) =
    queries.crossJoin(broadcast(centroids))
      .select(col("query_id"), col("c_cell"),
        graft.functions.Vec.cosine(col("q_vec"), col("c_vec")).as("c_cos"))
      .withColumn("c_rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
          .orderBy(col("c_cos").desc, col("c_cell").asc)))
      .filter(col("c_rank") <= nprobe)
      .select(col("query_id"), col("c_cell"))

  private val dim = 64
  private val nBase = 320
  private val nTwins = 40
  private lazy val corpus = {
    val rnd = new scala.util.Random(7)
    val base = (0 until nBase).map { i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat))
    }
    val twins = (0 until nTwins).map { i =>
      val src = base(i)._2
      (1000L + i, src.map(v => (v + 0.1 * rnd.nextGaussian()).toFloat))
    }
    (base ++ twins).toDF("vec_id", "embedding").localCheckpoint()
  }
  private val n = (nBase + nTwins).toLong

  // ---- a9 IVFPQ (coarse probe + ADC shortlist + exact rerank) ----

  private lazy val ivfpqStructures = {
    val ix = Ann.buildCoarseIndex(corpus, "vec_id", "embedding", n)
    val withCell = Ann.withCoarseCellIndexed(corpus, "vec_id", ix).localCheckpoint()
    val cents = Ann.ivfCentroids(withCell, "embedding", "cell").localCheckpoint()
    val cb = Ann.ivfPqCodebook(withCell, "vec_id", "embedding", "cell", cents)
      .localCheckpoint()
    val codes = Ann.ivfPqCodes(withCell, "vec_id", "embedding", "cell",
      cents, cb).localCheckpoint()
    (ix, withCell, cents, cb, codes)
  }

  private lazy val gvec = {
    val (ix, _, cents, _, _) = ivfpqStructures
    Ann.groupCentroids(cents, ix.k2).localCheckpoint()
  }

  test("knnIvfPq with nprobe=cells and full-width rerank degenerates to exact knnBrute") {
    val (ix, withCell, cents, cb, codes) = ivfpqStructures
    val qs = Seq(0L, 1L, 2L)
    // groupProbe = k1: every group, so the hierarchical probe is the flat one
    val got = Ann.knnIvfPq(withCell, "vec_id", "embedding", "cell",
        cents, codes, cb, ix.k2, qs, 10, nprobe = ix.cells.toInt,
        groupProbe = ix.k1, gvec = gvec, rerank = n.toInt)
      .select("query_id", "nn_id", "cos", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    val brute = Ann.knnBrute(corpus, "vec_id", "embedding", qs, 10)
      .select("query_id", "nn_id", "cos", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(got == brute)
  }

  test("knnIvfPq shortlist truly bounds the exact rerank (rerank=1 returns the ADC argmin)") {
    val (ix, withCell, cents, cb, codes) = ivfpqStructures
    // k = rerank = n: the UNRERANKED full candidate set — the expected
    // ADC argmin must come from ALL candidates, not the cosine top-10
    // (the ADC argmin can fall outside the exact top-10 under PQ
    // quantization error, which made the old form spuriously fail)
    val full = Ann.knnIvfPq(withCell, "vec_id", "embedding", "cell",
        cents, codes, cb, ix.k2, Seq(0L), n.toInt, nprobe = ix.cells.toInt,
        groupProbe = ix.k1, gvec = gvec, rerank = n.toInt)
      .select("query_id", "nn_id", "adc_dist")
      .as[(Long, Long, Double)].collect()
    val one = Ann.knnIvfPq(withCell, "vec_id", "embedding", "cell",
        cents, codes, cb, ix.k2, Seq(0L), 10, nprobe = ix.cells.toInt,
        groupProbe = ix.k1, gvec = gvec, rerank = 1)
      .select("query_id", "nn_id", "adc_dist")
      .as[(Long, Long, Double)].collect()
    assert(one.length == 1)
    // the one survivor must carry the globally smallest ADC distance
    // among all candidates (ties by nn_id — mirror the shortlist rule)
    val best = full.minBy(r => (r._3, r._2))
    assert(one.head._3 == best._3)
  }

  test("knnIvfPq at the a9 operating point: <=k per query, deterministic, planted twin recovered") {
    val (ix, withCell, cents, cb, codes) = ivfpqStructures
    val np = Ann.ivfPqNprobe(ix.cells)
    assert(np >= 1 && np <= ix.cells)
    val qs = (0L until 10L).toSeq
    def run() = Ann.knnIvfPq(withCell, "vec_id", "embedding", "cell",
        cents, codes, cb, ix.k2, qs, 10, np,
        Ann.hierGroupProbe(ix.k1, ix.k2, np), gvec)
      .select("query_id", "nn_id", "rank")
      .as[(Long, Long, Int)].collect().toSeq
    val got = run()
    assert(got.groupBy(_._1).forall(_._2.length <= 10))
    assert(got == run()) // deterministic, ordered output
    // a planted high-cos twin (1000+i ~ i) shares the query's primary
    // or boundary cell and survives PQ quantization at the top of the
    // ADC shortlist for most queries — require it found for >= 7/10
    val found = qs.count(q => got.exists(r => r._1 == q && r._2 == 1000L + q))
    assert(found >= 7, s"only $found/10 planted twins recovered at nprobe=$np")
  }

  test("ivfPqNprobe: max(const, ceil(cells/50)), clamped, Int-safe at huge cell counts") {
    // small corpora: the constant target, capped at the cell count
    assert(Ann.ivfPqNprobe(1L) == 1)
    assert(Ann.ivfPqNprobe(9L) == 9)
    assert(Ann.ivfPqNprobe(12L) == 12)
    assert(Ann.ivfPqNprobe(36L) == 12)
    assert(Ann.ivfPqNprobe(324L) == 12)
    // the ceil(cells/50) saturation-fraction floor takes over at 600+
    assert(Ann.ivfPqNprobe(600L) == 12)
    assert(Ann.ivfPqNprobe(601L) == 13)
    assert(Ann.ivfPqNprobe(5000L) == 100)
    assert(Ann.ivfPqNprobe(Long.MaxValue) == Int.MaxValue) // no wrap
  }

  test("hierGroupProbe seats 2x the cell budget, floored at 4 groups, capped at k1") {
    assert(Ann.hierGroupProbe(18, 18, 12) == 4)  // measured recall floor
    assert(Ann.hierGroupProbe(18, 18, 54) == 6)  // ceil(108/18) = 6
    assert(Ann.hierGroupProbe(3, 3, 1) == 3)     // floor capped at k1
    assert(Ann.hierGroupProbe(3, 3, 9) == 3)     // capped at k1
  }

  test("hierarchical probe == flat probe on the probed-cell set at the a4/a9 operating points") {
    val (ix, withCell, cents, _, _) = ivfpqStructures
    val cells = ix.cells
    val queries = withCell.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_vec"))
      .localCheckpoint()
    for ((np, gp) <- Seq(
        (Ann.recommendedNprobe(cells), Ann.recommendedGroupProbe(ix.k1)),
        (Ann.ivfPqNprobe(cells), Ann.hierGroupProbe(ix.k1, ix.k2, Ann.ivfPqNprobe(cells))))) {
      val flat = probedCellsFlat(queries, cents, np)
        .as[(Long, Long)].collect().toSet
      val hier = Ann.probedCellsHier(queries, cents, ix.k2, np, gp, gvec)
        .as[(Long, Long)].collect().toSet
      // the sets can differ when a top cell hides in a low-ranked
      // group; on this corpus (and the sweep corpora) they don't —
      // if this ever fails, measure the recall delta (ANN_SWEEP)
      // before deciding whether the divergence matters
      assert(hier == flat, s"np=$np gp=$gp")
    }
  }

  test("packed ADC fails loudly on a codebook whose k differs from kCb") {
    val (ix, withCell, cents, _, codes) = ivfpqStructures
    // codebook trained with k=32 while the scorer assumes the default
    // kCb=64: positional __dtab indexing would silently shift every
    // lookup (or read NULL past the end, which sorts NULLS FIRST in
    // the ascending shortlist) — the guard must throw instead
    val cb32 = Ann.ivfPqCodebook(withCell, "vec_id", "embedding", "cell",
      cents, k = 32).localCheckpoint()
    val e = intercept[Exception] {
      Ann.knnIvfPq(withCell, "vec_id", "embedding", "cell",
        cents, codes, cb32, ix.k2, Seq(0L), 10, nprobe = 4,
        groupProbe = ix.k1, gvec = gvec).count()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("codebook/kCb mismatch")),
      s"unexpected error: $e")
    // and the CONSISTENT pairing (codes re-encoded against the k=32
    // codebook, kCb=32 declared) still works at the same call site
    val codes32 = Ann.ivfPqCodes(withCell, "vec_id", "embedding", "cell",
      cents, cb32).localCheckpoint()
    assert(Ann.knnIvfPq(withCell, "vec_id", "embedding", "cell",
      cents, codes32, cb32, ix.k2, Seq(0L), 10, nprobe = 4,
      groupProbe = ix.k1, gvec = gvec, kCb = 32).count() > 0)
  }
}
