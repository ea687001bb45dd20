package graft

import org.apache.spark.sql.functions._
import graft.functions.Sketch

/** Round-8 sketch additions: KMV/theta set operations (s3), Bloom
  * decontamination (s4), histogram quantiles (s5). Hand-built corpora
  * where the sketch answer is provably exact, plus the approximation
  * invariants each sketch guarantees by construction. */
class SketchSetOpsSpec extends SparkSpec {
  import spark.implicits._

  // ---- s3 kmvSetOps ------------------------------------------------------

  test("kmvSetOps: unsaturated sketches (k >= distinct) are exact on all four rows") {
    // cohort a = {u1..u6}, cohort b = {u4..u9}: union 9, intersect 3
    val rows = (1 to 6).map(i => ("a", s"u$i")) ++
      (4 to 9).map(i => ("b", s"u$i")) ++
      Seq(("a", "u1"), ("b", "u9"))           // duplicates must not matter
    val df = rows.toDF("g", "k")
    val out = Sketch.kmvSetOps(df, "g", col("k"), "a", "b", k = 64)
      .select($"cohort", $"est_distinct", $"exact_distinct")
      .as[(String, Double, Long)].collect().toList
    assert(out == List(
      ("1_a", 6.0, 6L), ("2_b", 6.0, 6L),
      ("3_union", 9.0, 9L), ("4_intersect", 3.0, 3L)))
  }

  test("kmvSetOps: saturated estimate within KMV error bounds, intersect <= min cohort") {
    val df = ((1 to 3000).map(i => ("a", s"x$i")) ++
      (2001 to 5000).map(i => ("b", s"x$i"))).toDF("g", "k")
    val out = Sketch.kmvSetOps(df, "g", col("k"), "a", "b", k = 128)
      .select($"cohort", $"est_distinct", $"exact_distinct")
      .as[(String, Double, Long)].collect()
      .map(r => r._1 -> r).toMap
    // σ ≈ 1/√(k−2) ≈ 9%; assert a generous 5σ envelope
    for ((_, (c, est, exact)) <- out) {
      assert(math.abs(est / exact - 1.0) < 0.45, s"$c est=$est exact=$exact")
    }
    assert(out("4_intersect")._3 == 1000L)
    assert(out("3_union")._3 == 5000L)
  }

  // ---- s4 bloomDecontaminate --------------------------------------------

  test("bloomDecontaminate: planted bench overlap flagged; no false negatives") {
    val bench = Seq((0L, "the quick brown fox jumps over the lazy dog", "s0"))
    val corpus = Seq(
      (1L, "the quick brown fox runs away from here now", "s1"), // 2 shared 3-grams — below threshold
      (2L, "quick brown fox jumps over the lazy dog too", "s1"), // ≥3 shared — flagged
      (3L, "completely unrelated words in this document body here", "s2"))
    val df = (bench ++ corpus).toDF("doc_id", "text", "source")
    val out = Sketch.bloomDecontaminate(df, "doc_id", "text", "source",
        col("doc_id") === 0, n = 3, minShared = 3)
      .select($"source", $"n_docs", $"bloom_flagged", $"exact_flagged", $"false_pos")
      .as[(String, Long, Long, Long, Long)].collect().toList
    assert(out == List(("s1", 2L, 1L, 1L, 0L), ("s2", 1L, 0L, 0L, 0L)))
  }

  test("bloomDecontaminate: bloom_flagged >= exact_flagged on the driver corpus (no false negatives)") {
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val out = Sketch.bloomDecontaminate(docs, "doc_id", "text", "source",
        pmod(col("doc_id"), lit(20)) === 0)
      .select($"bloom_flagged", $"exact_flagged").as[(Long, Long)].collect()
    assert(out.nonEmpty)
    out.foreach { case (b, e) => assert(b >= e) }
    // a tiny filter must show false positives somewhere or saturate:
    // with the default 2^20 bits on this corpus it should be exact
    assert(out.map(_._1).sum == out.map(_._2).sum)
  }

  // ---- s5 histQuantiles --------------------------------------------------

  test("histQuantiles: estimates land within one bucket width of the exact percentile") {
    val df = (1 to 10000).map(i => ("g" + (i % 3), (i % 997).toDouble))
      .toDF("g", "v")
    val width = (996.0 - 0.0) / 256
    val out = Sketch.histQuantiles(df, "g", "v", buckets = 256)
      .select($"g", $"p50_est", $"p50_exact", $"p90_est", $"p90_exact",
        $"p99_est", $"p99_exact")
      .as[(String, Double, Double, Double, Double, Double, Double)]
      .collect()
    assert(out.length == 3)
    for ((g, e50, x50, e90, x90, e99, x99) <- out;
         (est, exact) <- Seq((e50, x50), (e90, x90), (e99, x99))) {
      assert(est >= exact - 1e-9, s"$g upper-edge estimate below exact")
      assert(est - exact <= 2 * width + 1e-9, s"$g est=$est exact=$exact")
    }
  }

  // ---- ts29 streaming KMV ------------------------------------------------

  test("kmvDistinctStream drain equals the batch bottom-k sketch report") {
    val ev = graft.sources.Tables.events(spark, sfDir)
    val batchSk = Sketch.kmvSketch(
      ev.select(unix_micros(date_trunc("day", col("ts"))).as("day"),
        col("user_id")),
      Seq("day"), col("user_id"), 128)
    val exact = ev
      .groupBy(unix_micros(date_trunc("day", col("ts"))).as("day"))
      .agg(countDistinct(col("user_id")).as("exact_distinct"))
    val batch = Sketch.kmvFinalize(batchSk, Seq("day"), exact, 128)
    val streamed = graft.streaming.Streams.kmvDistinctStream(spark, sfDir)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("collectMinKDistinct: duplicates occupy one slot, result sorted ascending") {
    val df = (Seq.fill(1000)(7L) ++ Seq(3L, 9L, 5L, 3L, 1L)).toDF("v")
    val out = df.agg(Sketch.collectMinKDistinct(col("v"), 4).as("hs"))
      .select($"hs").as[Seq[Long]].head()
    assert(out == Seq(1L, 3L, 5L, 7L))
  }

  // ---- x17 tfidfTopTerms -------------------------------------------------

  test("tfidfTopTerms: rare term outranks common term, tf breaks within-doc order") {
    // "common" appears in all 4 docs (df=4 → bits(4)=3, idf=bits(4)-3+1=1);
    // "rare" only in doc 1 (df=1 → idf = 3-1+1 = 3)
    val docs = Seq(
      (1L, "common rare common common"),  // tf(common)=3·1=3, tf(rare)=1·3=3 → tie, term asc
      (2L, "common x2"), (3L, "common x3"), (4L, "common x4"))
      .toDF("doc_id", "text")
    val out = graft.operators.Pipeline
      .tfidfTopTermsFrom(graft.operators.Pipeline.docWordTable(docs, "doc_id", "text"),
        docs, "doc_id", 2)
      .filter($"doc_id" === 1L)
      .select($"rank", $"term", $"score").as[(Int, String, Long)]
      .collect().toList
    assert(out == List((1, "common", 3L), (2, "rare", 3L)))
  }

  // ---- m6 casStats -------------------------------------------------------

  test("casStats: duplicated chunks save their bytes, unique corpus saves none") {
    val docs = Seq(
      (1L, "a" * 64 + "b" * 64, "s1"),      // chunks A, B
      (2L, "a" * 64 + "c" * 10, "s1"),      // A again + 10-byte tail C
      (3L, "d" * 64, "s2"))
      .toDF("doc_id", "text", "source")
    val carry = Seq("source")
    val out = graft.multimodal.Binary
      .casStatsFrom(graft.multimodal.Binary.chunked(
        graft.multimodal.Binary.withPayload(docs, "doc_id", "text", carry),
        "doc_id", 64, carry), "doc_id", "source")
      .select($"source", $"n_blobs", $"total_chunks", $"total_bytes",
        $"uniq_chunks", $"saved_bytes")
      .as[(String, Long, Long, Long, Long, Long)].collect().toList
    assert(out == List(
      ("s1", 2L, 4L, 202L, 3L, 64L),
      ("s2", 1L, 1L, 64L, 1L, 0L)))
  }

  test("histQuantiles: constant column degenerates to the single bucket") {
    val df = Seq(("a", 5.0), ("a", 5.0), ("b", 5.0)).toDF("g", "v")
    val out = Sketch.histQuantiles(df, "g", "v")
      .select($"g", $"p50_est", $"p50_exact").as[(String, Double, Double)]
      .collect().toList
    // gmax == gmin → bucket 0, est = gmin + (0+1)·0/buckets = gmin
    assert(out == List(("a", 5.0, 5.0), ("b", 5.0, 5.0)))
  }

  // ---- sketch merge on empty input (ADVICE r16) --------------------------

  test("kmv/hll merged distinct on empty input: zz_union row, NULL rel_err") {
    val empty = Seq.empty[(String, Long)].toDF("event_type", "user_id")
    val kmv = graft.functions.Sketch
      .kmvMergedDistinct(empty, "event_type", col("user_id"), k = 4).collect()
    assert(kmv.length === 1 && kmv(0).getString(0) === "zz_union")
    assert(kmv(0).getLong(kmv(0).fieldIndex("exact_distinct")) === 0L)
    assert(kmv(0).isNullAt(kmv(0).fieldIndex("rel_err")),
      "0/0 must surface as NULL, not NaN")
    val hll = graft.functions.Sketch
      .hllMergedDistinct(empty, "event_type", col("user_id")).collect()
    // an empty register table yields no per-shard rows and no union row
    // OR a guarded union row — either way no NaN may appear
    hll.foreach(r => assert(r.isNullAt(r.fieldIndex("rel_err")) ||
      !r.getDouble(r.fieldIndex("rel_err")).isNaN))
  }
}
