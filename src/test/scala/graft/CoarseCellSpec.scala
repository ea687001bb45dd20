package graft

import org.apache.spark.sql.functions._
import graft.ann.{Ann, CellIndexCache}
import graft.sources.{ParquetStats, Tables}

/** Direct unit coverage for the corpus-proportional coarse-cell tier
  * (the round-7 rework): the DuckDB parity harness mirrors the
  * construction, so these tests ground it INDEPENDENTLY — exact
  * brute-force recall, probe-2 boundary recovery, determinism, and
  * the shared-index/footer-count plumbing. */
class CoarseCellSpec extends SparkSpec {
  import spark.implicits._

  // Deterministic synthetic corpus: 320 seeded Gaussian vectors in
  // R^64 plus 40 planted near-identical twins (cos >= ~0.98) — big
  // enough for 6 product cells (k1=3, k2=2), small enough to brute
  // force the exact pair set.
  private val dim = 64
  private val nBase = 320
  private val nTwins = 40
  private lazy val corpus = {
    val rnd = new scala.util.Random(42)
    val base = (0 until nBase).map { i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat))
    }
    val twins = (0 until nTwins).map { i =>
      val src = base(i)._2
      (1000L + i, src.map(v => (v + 0.15 * rnd.nextGaussian()).toFloat))
    }
    (base ++ twins).toDF("vec_id", "embedding").localCheckpoint()
  }
  private lazy val index =
    Ann.buildCoarseIndex(corpus, "vec_id", "embedding", (nBase + nTwins).toLong)

  /** Exact all-pairs cosine >= tau — every row in one cell, unsharded:
    * the fixed-cell exact tier as the ground truth. */
  private def exactPairs(tau: Double): Set[(Long, Long)] =
    References.nearDupPairs(corpus.withColumn("c", lit(0L)), "vec_id", "embedding",
        "c", tau, subBlocks = 1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet

  private def scaledPairs(tau: Double): Set[(Long, Long)] =
    Ann.nearDupPairsScaledIndexed(corpus, "vec_id", "embedding", tau, index)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet

  test("every row gets exactly one non-NULL cell within the product range") {
    val cells = Ann.cellsFromIndex(index, "vec_id")
    assert(cells.count() == (nBase + nTwins).toLong)
    assert(cells.filter(col("cell").isNull).isEmpty)
    val bad = cells.filter(col("cell") < 0 ||
      col("cell") >= index.cells)
    assert(bad.isEmpty)
    // withCoarseCellIndexed drops no rows (the NULL-cell failure mode)
    assert(Ann.withCoarseCellIndexed(corpus, "vec_id", index).count() ==
      (nBase + nTwins).toLong)
  }

  test("scaled tier recalls every exact high-cosine pair (planted twins included)") {
    val exact = exactPairs(0.9)
    assert(exact.size >= nTwins, s"expected >= $nTwins planted pairs, got ${exact.size}")
    val scaled = scaledPairs(0.25)
    val missed = exact -- scaled
    assert(missed.isEmpty, s"scaled tier missed high-cosine pairs: $missed")
  }

  test("probe-2 recovers twins whose PRIMARY cells differ (boundary flip)") {
    val cells = Ann.cellsFromIndex(index, "vec_id")
    val twinPairs = (0 until nTwins).map(i => (i.toLong, 1000L + i)).toDF("id_a", "id_b")
    val flipped = twinPairs
      .join(cells.withColumnRenamed("vec_id", "id_a").withColumnRenamed("cell", "ca"), "id_a")
      .join(cells.withColumnRenamed("vec_id", "id_b").withColumnRenamed("cell", "cb"), "id_b")
      .filter(col("ca") =!= col("cb"))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // the seed is chosen so the boundary case actually occurs — a
    // same-primary-everywhere corpus would pass the recall test
    // without exercising the probe leg at all
    assert(flipped.nonEmpty, "seed produced no primary-cell flip; probe leg unexercised")
    val scaled = scaledPairs(0.25)
    val lost = flipped -- scaled
    assert(lost.isEmpty, s"probe-2 failed to recover split twins: $lost")
  }

  test("scaled tier is deterministic and sub-block sharding preserves the pair set") {
    val p1 = Ann.nearDupPairsScaledIndexed(corpus, "vec_id", "embedding", 0.25, index)
      .select("cell", "id_a", "id_b", "cos").collect().toSeq
    val p2 = Ann.nearDupPairsScaledIndexed(corpus, "vec_id", "embedding", 0.25, index)
      .select("cell", "id_a", "id_b", "cos").collect().toSeq
    assert(p1 == p2)
    val unsharded = Ann.nearDupPairsScaledIndexed(corpus, "vec_id", "embedding",
        0.25, index, subBlocks = 1)
      .select("cell", "id_a", "id_b", "cos").collect().toSeq
    assert(p1 == unsharded)
    // adaptive hot-cell routing: every cell forced hot (threshold 0)
    // and every cell forced cold (threshold > corpus) must both
    // reproduce the default's pair set exactly
    val allHot = Ann.nearDupPairsScaledIndexed(corpus, "vec_id", "embedding",
        0.25, index, hotCellThreshold = 0)
      .select("cell", "id_a", "id_b", "cos").collect().toSeq
    val allCold = Ann.nearDupPairsScaledIndexed(corpus, "vec_id", "embedding",
        0.25, index, hotCellThreshold = nBase + nTwins)
      .select("cell", "id_a", "id_b", "cos").collect().toSeq
    assert(p1 == allHot && p1 == allCold)
  }

  test("tau filter commutes with the pair aggregation (d8 = filtered d5 pair table)") {
    // a pair's cosine is constant across its meeting cells, so
    // scoring at a low base tau and filtering must equal scoring at
    // the higher tau directly — the identity CellIndexCache.scaledPairs
    // relies on to serve d5 and d8 from one job
    val direct = Ann.nearDupPairsScaledIndexed(corpus, "vec_id", "embedding",
        0.6, index)
      .select("cell", "id_a", "id_b", "cos").collect().toSeq
    val filtered = Ann.nearDupPairsScaledIndexed(corpus, "vec_id", "embedding",
        0.25, index)
      .filter(col("cos") >= 0.6)
      .select("cell", "id_a", "id_b", "cos").collect().toSeq
    assert(direct.nonEmpty && direct == filtered)
  }

  test("shared CellIndexCache matches a from-scratch build and footer count matches count()") {
    val emb = Tables.embeddings(spark, sfDir)
    assert(ParquetStats.rowCount(spark, s"$sfDir/embeddings.parquet") == emb.count())
    val viaCache = Ann.cellsFromIndex(CellIndexCache.embeddings(spark, sfDir), "vec_id")
      .as[(Long, Long)].collect().toSet
    val direct = Ann.cellsFromIndex(
        Ann.buildCoarseIndex(emb, "vec_id", "embedding", emb.count()), "vec_id")
      .as[(Long, Long)].collect().toSet
    assert(viaCache == direct)
  }

  test("degenerate corpora fail loudly instead of dropping rows to NULL cells") {
    intercept[IllegalArgumentException] {
      Ann.coarseCellParams(1L, Ann.DefaultTargetCellSize)
    }
    // n = 2 is the smallest corpus that seats both anchors — fine
    val (k1, k2) = Ann.coarseCellParams(2L, Ann.DefaultTargetCellSize)
    assert(k1 == 1 && k2 == 1)
  }
}
