package graft

import org.apache.spark.sql.functions._
import graft.ann.{Ann, CellIndexCache, CoarseIndex}
import graft.operators.RetrievalCache
import graft.sources.{IndexStore, Tables}
import graft.util.SessionCache

/** Incremental index append (r17): folding a corpus delta into the
  * durable vector index with FROZEN anchors/centroids/codebooks must
  * produce exactly the tables a pinned-structure rebuild over the
  * grown corpus would — and the searches must actually see the delta. */
class AppendIndexSpec extends SparkSpec {
  import spark.implicits._

  private val dims = Tables.EmbDims

  // deterministic unit-ish vectors; i=twinOf copies that row's vector
  private def vec(i: Long): Array[Float] = {
    // non-periodic in i over any realistic corpus size (Knuth mix):
    // exact twins exist ONLY where the test plants them
    val raw = Array.tabulate(dims)(d =>
      (((i * 2654435761L + d * 40503L + 7) % 1013) - 506).toFloat / 506f)
    val n = math.sqrt(raw.map(x => x * x.toDouble).sum).toFloat
    raw.map(_ / n)
  }

  private def writeEmb(dir: String, ids: Seq[Long],
                       twin: Map[Long, Long] = Map.empty): Unit =
    ids.map(i => (i, vec(twin.getOrElse(i, i)), (i % 10).toInt))
      .toDF("vec_id", "embedding", "label")
      .write.mode("append").parquet(s"$dir/embeddings.parquet")

  private def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq.map {
      case a: Seq[_] => a.toList
      case x => x
    }).toSet

  test("appendVectorDelta == pinned-structure rebuild; searches see the delta") {
    val dir = java.nio.file.Files.createTempDirectory("append_ix").toString
    try appendAndCheck(dir)
    finally { SessionCache.clearAll(); dropIndexTables(dir) }
  }

  private def appendAndCheck(dir: String): Unit = {
    writeEmb(dir, 0L until 200L)

    // ---- build + persist the 8 vector artifacts on the BASE corpus ----
    sys.props(IndexStore.EnvFlag) = "0"
    SessionCache.clearAll()
    Seq(CellIndexCache.cellsArtifact, CellIndexCache.anchorsArtifact,
        CellIndexCache.centroidsArtifact,
        CellIndexCache.groupCentroidsArtifact, CellIndexCache.pqCodebookArtifact,
        CellIndexCache.pqCodesArtifact, CellIndexCache.rawPqCodebookArtifact,
        CellIndexCache.rawPqCodesArtifact)
      .foreach(a => IndexStore.write(IndexStore.get(spark, dir, a), dir, a.name, a.bucketKey))
    sys.props.remove(IndexStore.EnvFlag)
    SessionCache.clearAll()

    // results memoized on the base corpus: a4's probe and a1's brute
    // truth (eval legs), a13's IVF leg (a self-primed candidate table)
    // and d8's semantic clusters (a write-through artifact over the
    // pairs artifact). The append must invalidate all of them.
    def twinOf0(df: org.apache.spark.sql.DataFrame, hit: String): Boolean =
      df.filter(col("query_id") === 0L && col(hit) === 500L).count() > 0
    def clusteredWith0(): Boolean = {
      val c = CellIndexCache.semanticClusters(spark, dir)
        .filter(col("vec_id").isin(0L, 500L)).collect()
        .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cluster_id")).toMap
      c.contains(500L) && c(500L) == c(0L)
    }
    def legs(): Seq[(String, Boolean)] = Seq(
      "a4" -> twinOf0(SparkEntry.queries("a4_ivf_nprobe")(spark, dir), "nn_id"),
      "a1" -> twinOf0(SparkEntry.queries("a1_knn_brute")(spark, dir), "nn_id"),
      "ivfLeg" -> twinOf0(RetrievalCache.ivfLeg(spark, dir), "doc_id"),
      "semanticClusters" -> clusteredWith0())
    assert(legs().forall(!_._2))

    // frozen structures, captured for the pinned reference
    val frozenCents = IndexStore.load(spark, dir, "centroids")
      .select(col("c_cell"), col("c_vec")).localCheckpoint()
    val frozenCb = IndexStore.load(spark, dir, "pqcodebook").localCheckpoint()
    val frozenRawCb = IndexStore.load(spark, dir, "rawpqcodebook").localCheckpoint()

    // ---- grow the corpus: 30 new rows, one an exact twin of id 0 ----
    writeEmb(dir, 500L until 530L, twin = Map(500L -> 0L))
    val report = CellIndexCache.appendVectorDelta(spark, dir)
    assert(report.deltaRows === 30L && report.totalRows === 230L)
    assert(!report.structureDrift,
      "230 rows at cell size 64 keeps (k1,k2) = (2,2)")

    // ---- pinned-structure rebuild reference ----
    val grown = Tables.embeddings(spark, dir)
    val base = grown.filter(col("vec_id") < 200L)
    val (k1, k2) = Ann.coarseCellParams(200L, Ann.DefaultTargetCellSize)
    assert((report.k1, report.k2) === ((k1, k2)))
    val anchors = Ann.anchorsOf(base, "vec_id", "embedding", k1, k2, Ann.CellSalt)
      .localCheckpoint()
    // every row of `corpus` with its cell against the BASE anchors
    def pinnedCellsOf(corpus: org.apache.spark.sql.DataFrame) =
      corpus.join(Ann.cellsFromIndex(CoarseIndex(anchors,
          Ann.assignToAnchors(corpus, "vec_id", "embedding", anchors, 1), k1, k2),
        "vec_id"), "vec_id").localCheckpoint()
    val pinnedCells = pinnedCellsOf(grown)

    // the appended tables ARE the pinned rebuild, row for row
    val loadedCells = IndexStore.load(spark, dir, "cells")
      .select(pinnedCells.columns.map(col): _*)
    assert(rows(loadedCells) === rows(pinnedCells))
    val pinnedCodes = Ann.ivfPqCodes(pinnedCells, "vec_id", "embedding",
      "cell", frozenCents, frozenCb)
    assert(rows(IndexStore.load(spark, dir, "pqcodes")
      .select(pinnedCodes.columns.map(col): _*)) === rows(pinnedCodes))
    assert(report.pqSkipped === 0L,
      "every base cell is occupied at 200/4 cells - no centroid-less deltas")
    val pinnedRaw = Ann.pqCodes(grown, "vec_id", "embedding", frozenRawCb)
    assert(rows(IndexStore.load(spark, dir, "rawpqcodes")
      .select(pinnedRaw.columns.map(col): _*)) === rows(pinnedRaw))

    // ---- a3 through the loaded index == a3 over the pinned rebuild,
    //      and the planted twin surfaces at cosine 1 ----
    val a3Loaded = rows(Ann.knnBlocked(
      CellIndexCache.embeddingsWithCell(spark, dir),
      "vec_id", "embedding", "cell", Seq(0L, 1L, 2L), 10))
    val a3Pinned = rows(Ann.knnBlocked(pinnedCells,
      "vec_id", "embedding", "cell", Seq(0L, 1L, 2L), 10))
    assert(a3Loaded === a3Pinned)
    assert(a3Loaded.exists(r => r.head == 0L && r(1) == 500L),
      "query 0's appended exact twin (id 500) must be an a3 hit")

    // a4's hierarchical probe path sees the delta through the frozen
    // coarse structure
    val a4 = CellIndexCache.probeTopk(spark, dir, Seq(0L), 10).collect()
    assert(a4.exists(r => r.getAs[Long]("query_id") == 0L &&
      Seq(r.get(1)).exists(_ == 500L)),
      s"a4 must surface the appended twin; got ${a4.toSeq}")
    // ... and so does every leg memoized before the append
    legs().foreach { case (leg, twin) =>
      assert(twin, s"$leg served its pre-append result") }

    // a9 runs green on the appended artifacts (codebook guards would
    // throw on any structural mismatch)
    assert(SparkEntry.queries("a9_ivfpq")(spark, dir).count() > 0)

    // ---- drift gate: a skewed second delta (20 rows in one cell) ----
    // plus a twin of row 9, whose level-1 anchor flips if the second
    // append re-derives the anchors from the grown cells table (appended
    // row 501 then enters the 4 smallest md5 keys)
    writeEmb(dir, 600L until 621L,
      twin = (600L until 620L).map(_ -> 1L).toMap + (620L -> 9L))
    val r2 = CellIndexCache.appendVectorDelta(spark, dir,
      imbalanceThreshold = 1.5)
    assert(r2.deltaRows === 21L && r2.totalRows === 251L)
    assert(!r2.structureDrift, "251 rows still implies 4 cells")
    assert((r2.k1, r2.k2) === ((k1, k2)))
    assert(r2.imbalance > 1.5 && r2.rebuildRecommended,
      s"20 same-direction rows in one of 4 cells must trip the gate: $r2")
    // the second delta is assigned against the BASE anchors too
    val pinned2 = pinnedCellsOf(Tables.embeddings(spark, dir))
    val loaded2 = IndexStore.load(spark, dir, "cells")
      .select(pinned2.columns.map(col): _*)
    assert(rows(loaded2) === rows(pinned2))
    val cellOf = loaded2.filter(col("vec_id").isin(9L, 620L))
      .select("vec_id", "cell").as[(Long, Long)].collect().toMap
    assert(cellOf(620L) === cellOf(9L), s"row 9's twin left its cell: $cellOf")
    assert(rows(IndexStore.load(spark, dir, "anchors")) === rows(anchors),
      "the stored anchors must stay the base corpus's")
  }
}
