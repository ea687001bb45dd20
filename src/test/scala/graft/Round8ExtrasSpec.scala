package graft

import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.ann.Ann
import graft.sources.Tables

/** Round-8 additions still held here: duplicated-span coverage (d9),
  * kNN classification (a6) and winnowing (x15). Small hand-built
  * corpora with arithmetic worked out by hand, plus corpus-level
  * invariants on the driver testdata. */
class Round8ExtrasSpec extends SparkSpec {
  import spark.implicits._

  // ---- d9 spanDedup ------------------------------------------------------

  test("spanDedup: cross-doc shared 5-grams mark merged overlapping spans") {
    val docs = Seq(
      (1L, "a b c d e f g h"),        // grams at 0..3; 0 and 1 shared with doc 2
      (2L, "x a b c d e f y"),        // "a b c d e" @1, "b c d e f" @2
      (3L, "p q r s t u v w")         // all grams unique
    ).toDF("doc_id", "text")
    val out = Dedup.spanDedup(docs, "doc_id", "text", 5)
      .select($"doc_id", $"n_tokens", $"dup_tokens", $"n_spans")
      .as[(Long, Long, Long, Long)].collect().toList
    // doc 1: spans [0,4] ∪ [1,5] = [0,5] → 6 tokens, one island
    // doc 2: spans [1,5] ∪ [2,6] = [1,6] → 6 tokens, one island
    assert(out == List((1L, 8L, 6L, 1L), (2L, 8L, 6L, 1L), (3L, 8L, 0L, 0L)))
  }

  test("spanDedup: within-doc repetition counts, disjoint regions stay separate islands") {
    val docs = Seq(
      // every 5-gram repeats with period 5 → full coverage, one island
      (1L, "m n o p q m n o p q m n o p q"),
      // two shared regions separated by unique filler → two islands
      (2L, "a b c d e z1 z2 z3 z4 z5 z6 f g h i j"),
      (3L, "a b c d e q1 q2 q3 q4 q5 q6 f g h i j")
    ).toDF("doc_id", "text")
    val out = Dedup.spanDedup(docs, "doc_id", "text", 5)
      .select($"doc_id", $"n_tokens", $"dup_tokens", $"n_spans")
      .as[(Long, Long, Long, Long)].collect().toList
    assert(out.head == ((1L, 15L, 15L, 1L)))
    assert(out.tail == List((2L, 16L, 10L, 2L), (3L, 16L, 10L, 2L)))
  }

  test("spanDedup: short docs (< n words) contribute nothing and report zero") {
    val docs = Seq((1L, "a b c"), (2L, "a b c")).toDF("doc_id", "text")
    val out = Dedup.spanDedup(docs, "doc_id", "text", 5)
      .select($"doc_id", $"dup_tokens", $"n_spans")
      .as[(Long, Long, Long)].collect().toList
    assert(out == List((1L, 0L, 0L), (2L, 0L, 0L)))
  }

  test("spanDedup invariants on the driver corpus: coverage bounded by doc length") {
    val out = Dedup.spanDedup(Tables.documents(spark, sfDir), "doc_id", "text", 5)
    val bad = out.filter($"dup_tokens" > $"n_tokens" ||
      ($"n_spans" === 0 && $"dup_tokens" =!= 0) ||
      ($"n_spans" > 0 && $"dup_tokens" < lit(5) * $"n_spans")).count()
    assert(bad == 0)
  }

  // ---- a6 knnClassify ----------------------------------------------------

  test("knnClassify: plurality vote over a clear cluster structure") {
    val emb = Seq(
      (0L, Array(1f, 0.05f), 7),   // query: class-0 side
      (1L, Array(1f, 0f), 0), (2L, Array(1f, 0.1f), 0),
      (3L, Array(0.95f, 0.05f), 0),
      (4L, Array(0f, 1f), 1), (5L, Array(0.1f, 1f), 1)
    ).toDF("vec_id", "embedding", "label")
    val out = Ann.knnClassify(emb, "vec_id", "embedding", "label", Seq(0L), 3)
      .select($"query_id", $"true_label", $"pred_label", $"votes", $"correct")
      .as[(Long, Int, Int, Long, Int)].collect().toList
    // 3 nearest of query 0 are the three class-0 vectors → 3 votes
    assert(out == List((0L, 7L.toInt, 0, 3L, 0)))
  }

  test("knnClassify: vote ties break to the smaller label") {
    val emb = Seq(
      (0L, Array(1f, 1f), 9),
      (1L, Array(1f, 0.99f), 5), (2L, Array(0.99f, 1f), 3),
      (3L, Array(1f, 0.98f), 5), (4L, Array(0.98f, 1f), 3),
      (5L, Array(-1f, 1f), 9)
    ).toDF("vec_id", "embedding", "label")
    val out = Ann.knnClassify(emb, "vec_id", "embedding", "label", Seq(0L), 4)
      .select($"pred_label", $"votes").as[(Int, Long)].collect().toList
    assert(out == List((3, 2L)))
  }

  test("knnClassify agrees with a hand count over knnBrute's neighbor set") {
    val emb = Tables.embeddings(spark, sfDir)
    val qids = Seq(0L, 1L, 2L)
    val nn = Ann.knnBrute(emb, "vec_id", "embedding", qids, 10)
      .select($"query_id", $"nn_id").as[(Long, Long)].collect()
    val labels = emb.select($"vec_id", $"label").as[(Long, Int)]
      .collect().toMap
    val expected = nn.groupBy(_._1).map { case (q, rows) =>
      val votes = rows.map(r => labels(r._2)).groupBy(identity)
        .map { case (l, v) => (l, v.length) }
      val (pred, n) = votes.toList.sortBy { case (l, v) => (-v, l) }.head
      (q, pred, n.toLong)
    }.toSet
    val got = Ann.knnClassify(emb, "vec_id", "embedding", "label", qids, 10)
      .select($"query_id", $"pred_label", $"votes")
      .as[(Long, Int, Long)].collect().toSet
    assert(got == expected)
  }

  // ---- x15 winnowing -----------------------------------------------------

  test("winnowing guarantee: a shared run of >= w+k-1 tokens shares a fingerprint") {
    // k=3, w=4: shared run of 6 tokens ("c1..c6") must yield >= 1
    // shared fingerprint between docs 1 and 2; doc 3 is disjoint
    val docs = Seq(
      (1L, "a1 a2 c1 c2 c3 c4 c5 c6 a3 a4"),
      (2L, "b1 c1 c2 c3 c4 c5 c6 b2 b3 b4"),
      (3L, "d1 d2 d3 d4 d5 d6 d7 d8 d9 d0")
    ).toDF("doc_id", "text")
    val pairs = Dedup.winnowPairs(docs, "doc_id", "text", 3, 4, 1)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("winnowFingerprints: docs with fewer than w grams select nothing") {
    // 5 words -> 3 grams < w=4 windows
    val docs = Seq((1L, "a b c d e"), (2L, "a b")).toDF("doc_id", "text")
    assert(Dedup.winnowFingerprints(docs, "doc_id", "text", 3, 4).count() == 0)
  }

  test("winnowFingerprints: selected set is the per-window min and deduped") {
    // 7 words -> 5 grams -> 2 full windows; identical docs get the
    // identical set, and the set size is bounded by full-window count
    val docs = Seq(
      (1L, "w1 w2 w3 w4 w5 w6 w7"),
      (2L, "w1 w2 w3 w4 w5 w6 w7")
    ).toDF("doc_id", "text")
    val fp = Dedup.winnowFingerprints(docs, "doc_id", "text", 3, 4)
    val byDoc = fp.groupBy($"doc_id").count().as[(Long, Long)].collect().toMap
    assert(byDoc(1L) == byDoc(2L) && byDoc(1L) >= 1 && byDoc(1L) <= 2)
    val sets = fp.as[(Long, Long)].collect().groupBy(_._1)
      .map { case (d, r) => d -> r.map(_._2).toSet }
    assert(sets(1L) == sets(2L))
  }
}
