package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ann.Ann

/** The vector tier's degenerate-input envelope (r12 verdict item 4) —
  * the embedding twin of DegenerateCorpusSpec: NULL embeddings, ragged
  * (wrong-dimension) embeddings, zero-norm vectors, and corpora
  * smaller than the coarse-anchor budget, pushed through the
  * PRODUCTION query wiring (SparkEntry.queries over a corpus dir).
  * Pinned semantics: degenerate rows are DROPPED at the scan
  * (Tables.embeddings gate) — never a NaN row (NaN sorts above every
  * real cosine in a desc rank window: silently wrong top-k), never a
  * crash; planted clean twins still surface; n = 1 fails loudly at
  * the anchor-seating guard by design. */
class DegenerateVectorSpec extends SparkSpec {

  private val dim = graft.sources.Tables.EmbDims

  /** A corpus dir whose embeddings.parquet plants every degenerate
    * shape next to a clean core (ids 0..199 + twins 1000..1009). */
  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("degvec").toString
    val rnd = new scala.util.Random(11)
    def v(): Array[Float] = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val base = (0 until 200).map(i => (i.toLong, v(), i % 8))
    val twins = (0 until 10).map { i =>
      (1000L + i, base(i)._2.map(x => (x + 0.05f * rnd.nextGaussian().toFloat)), i % 8)
    }
    val clean = base ++ twins
    val degenerate = Seq(
      (9000L, null.asInstanceOf[Array[Float]], 0),       // NULL embedding
      (9001L, Array.fill(dim - 1)(1.0f), 1),             // ragged (63-dim)
      (9002L, Array.fill(dim)(0.0f), 2),                 // zero norm -> NaN cosine
      (9003L, Array.empty[Float], 3))                    // empty array
    val rows = (clean ++ degenerate).map { case (id, vec, lb) =>
      Row(id, vec, lb)
    }
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType), nullable = true),
      StructField("label", IntegerType, nullable = false)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    d
  }

  private val DegenerateIds = Set(9000L, 9001L, 9002L, 9003L)

  test("the scan gate drops exactly the degenerate rows") {
    val ids = graft.sources.Tables.embeddings(spark, dir)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(ids.intersect(DegenerateIds).isEmpty)
    assert(ids.size == 210) // every clean row survives
  }

  test("embedding-family production queries: no crash, no NaN/NULL scores, twins found") {
    graft.util.SessionCache.clearAll()
    val queries = Seq("a1_knn_brute", "a2_ann_lsh", "a3_ivf_coarse",
      "a4_ivf_nprobe", "a5_range_search", "a6_knn_classify", "a7_kmeans",
      "a8_pq_adc", "a9_ivfpq", "a10_index_stats", "d5_embedding_neardup",
      "d8_semantic_dedup")
    try {
      for (q <- queries) {
        val df = SparkEntry.queries(q)(spark, dir)
        val rows = df.collect()
        assert(rows.nonEmpty, s"$q returned nothing")
        // no degenerate id may surface anywhere, and no double column
        // may carry NaN (drop, not poison) or NULL
        val idCols = df.schema.fields.filter(_.dataType == LongType).map(_.name)
        val dblCols = df.schema.fields.filter(_.dataType == DoubleType).map(_.name)
        rows.foreach { r =>
          idCols.foreach { c =>
            val i = r.fieldIndex(c)
            if (!r.isNullAt(i))
              assert(!DegenerateIds.contains(r.getLong(i)), s"$q leaked $c=${r.getLong(i)}")
          }
          dblCols.foreach { c =>
            val i = r.fieldIndex(c)
            assert(!r.isNullAt(i), s"$q: NULL $c")
            assert(!r.getDouble(i).isNaN, s"$q: NaN $c")
          }
        }
      }
      // recall is intact through the gate: a1's exact top-1 for query i
      // is its planted twin 1000+i
      val a1 = SparkEntry.queries("a1_knn_brute")(spark, dir)
        .filter(col("rank") === 1).select("query_id", "nn_id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      (0L until 5L).foreach(q => assert(a1(q) == 1000L + q, s"twin lost for $q"))
    } finally { graft.util.SessionCache.clearAll(); dropIndexTables(dir) }
  }

  test("degenerate QUERY ids drop out instead of emitting NaN rows") {
    // ids 9000/9002 are gated at the scan, so asking for them yields
    // no result rows — drop semantics, not NaN poisoning
    val got = Ann.knnBrute(graft.sources.Tables.embeddings(spark, dir),
      "vec_id", "embedding", Seq(0L, 9000L, 9002L), 5)
    val byQuery = got.select("query_id").collect().map(_.getLong(0)).toSet
    assert(byQuery == Set(0L))
  }

  test("tiny corpora: below one cell works; n = 1 fails loudly at anchor seating") {
    import spark.implicits._
    val tiny = (0L until 5L).map { i =>
      (i, Array.fill(dim)((i + 1).toFloat / dim))
    }.toDF("vec_id", "embedding").localCheckpoint()
    // 5 rows -> cells = 1, k1 = k2 = 1: single-cell index, no crash
    val ix = Ann.buildCoarseIndex(tiny, "vec_id", "embedding", 5L)
    assert(ix.k1 == 1 && ix.k2 == 1)
    val cells = Ann.cellsFromIndex(ix, "vec_id").collect()
    assert(cells.length == 5 && cells.forall(_.getLong(1) == 0L))
    // n = 1 cannot seat k1 + k2 = 2 anchors: loud, not NULL cells
    val one = tiny.limit(1)
    assertThrows[IllegalArgumentException] {
      Ann.buildCoarseIndex(one, "vec_id", "embedding", 1L)
    }
  }
}
