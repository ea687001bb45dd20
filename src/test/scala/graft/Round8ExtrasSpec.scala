package graft

import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.operators.Pipeline
import graft.ann.Ann
import graft.sources.Tables

/** Round-8 additions: duplicated-span coverage (d9), blocklist density
  * filtering (x13), CCNet quality buckets (x14), kNN classification
  * (a6). Small hand-built corpora with arithmetic worked out by hand,
  * plus corpus-level invariants on the driver testdata. */
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

  // ---- x13 blocklistFilter -----------------------------------------------

  test("blocklistFilter: density threshold, not any-hit") {
    val docs = Seq(
      // 10 words, 1 hit → 1·20 > 10 → flagged
      (1L, "s1", "bad w1 w2 w3 w4 w5 w6 w7 w8 w9"),
      // 10 words, 0 hits → kept
      (2L, "s1", "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9"),
      // 21 words, 1 hit → 20 > 21 is false → kept despite the hit
      (3L, "s2", "bad " + (1 to 20).map(i => s"u$i").mkString(" "))
    ).toDF("doc_id", "source", "text")
    val out = Pipeline.blocklistFilter(docs, "doc_id", "text", "source",
        Seq("bad", "worse"), 20)
      .select($"source", $"n_docs", $"total_hits", $"n_flagged", $"n_kept")
      .as[(String, Long, Long, Long, Long)].collect().toList
    assert(out == List(("s1", 2L, 1L, 1L, 1L), ("s2", 1L, 1L, 0L, 1L)))
  }

  test("blocklistFilter: first_flagged is the min flagged id; rate is exact") {
    val docs = Seq(
      (9L, "s", "bad bad w1 w2"), (4L, "s", "bad bad w1 w2"),
      (5L, "s", "w1 w2 w3 w4")
    ).toDF("doc_id", "source", "text")
    val row = Pipeline.blocklistFilter(docs, "doc_id", "text", "source",
        Seq("bad"), 20)
      .select($"first_flagged", $"flagged_rate")
      .as[(Long, Double)].collect().head
    assert(row == ((4L, 0.666667)))
  }

  // ---- x14 ccnetBuckets --------------------------------------------------

  test("ccnetBuckets: partitions each language; bucket means monotone") {
    val docs = Tables.documents(spark, sfDir)
    val out = Pipeline.ccnetBucketsFrom(
        Pipeline.docWordTable(docs, "doc_id", "text"), docs, "doc_id", "lang", 3)
      .select($"lang", $"bucket", $"n_docs", $"bucket_avg_bits")
      .as[(String, Int, Long, Double)].collect().toList
    val perLang = out.groupBy(_._1)
    val docTotal = Tables.documents(spark, sfDir).count()
    assert(out.map(_._3).sum == docTotal)
    perLang.foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2) == (1 to sorted.length).toList)
      // ntile sizes differ by at most one
      assert(sorted.map(_._3).max - sorted.map(_._3).min <= 1)
      // consecutive blocks of a ratio-sorted sequence: non-decreasing
      // (weighted) means — head buckets are the most-predictable docs
      assert(sorted.map(_._4) == sorted.map(_._4).sorted)
    }
  }

  test("ccnetBuckets: deterministic across recomputation") {
    def buckets() = {
      val docs = Tables.documents(spark, sfDir)
      Pipeline.ccnetBucketsFrom(Pipeline.docWordTable(docs, "doc_id", "text"),
        docs, "doc_id", "lang", 3).collect().toList
    }
    val a = buckets()
    val b = buckets()
    assert(a == b)
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

  // ---- a7 kmeans ---------------------------------------------------------

  test("kmeans: recovers planted clusters around the seed directions") {
    // two tight bundles around orthogonal axes; seeds 0 and 1 land one
    // in each bundle, so Lloyd converges to the planted split
    def v(axis: Int, eps: Double, at: Int): Array[Float] =
      Array.tabulate(4)(i => (if (i == axis) 1.0 else 0.0) +
        (if (i == at) eps else 0.0)).map(_.toFloat)
    val emb = Seq(
      (0L, v(0, 0.00, 1)), (2L, v(0, 0.05, 1)), (3L, v(0, 0.08, 2)),
      (1L, v(1, 0.00, 2)), (4L, v(1, 0.05, 2)), (5L, v(1, 0.07, 3)),
      (6L, v(1, 0.04, 0))
    ).toDF("vec_id", "embedding")
    val out = Ann.kmeans(emb, "vec_id", "embedding", 2, 2)
      .select($"cluster_id", $"n_members", $"min_member")
      .as[(Long, Long, Long)].collect().toList
    assert(out == List((0L, 3L, 0L), (1L, 4L, 1L)))
  }

  test("kmeans: clusters partition the corpus; report is deterministic") {
    val emb = Tables.embeddings(spark, sfDir)
    val n = emb.count()
    val a = Ann.kmeans(emb, "vec_id", "embedding", 8, 2).collect()
    val b = Ann.kmeans(emb, "vec_id", "embedding", 8, 2).collect()
    assert(a.toSeq == b.toSeq)
    assert(a.map(_.getLong(1)).sum == n, "every vector assigned exactly once")
    assert(a.forall(r => r.getDouble(3) <= 1.000001 && r.getDouble(3) >= -1.000001))
  }

  test("kmeans: a lost cluster drops out and members rehome deterministically") {
    // seed 1 is strictly closer to seed 0's bundle than to anything
    // else, so after one update every row sits in one cluster
    val emb = Seq(
      (0L, Array(1f, 0f, 0f, 0f)), (1L, Array(0.99f, 0.1f, 0f, 0f)),
      (2L, Array(0.98f, 0.05f, 0f, 0f)), (3L, Array(0.97f, 0.12f, 0f, 0f))
    ).toDF("vec_id", "embedding")
    val out = Ann.kmeans(emb, "vec_id", "embedding", 2, 2)
    val rows = out.select($"cluster_id", $"n_members")
      .as[(Long, Long)].collect().toList
    assert(rows.map(_._2).sum == 4, "all rows assigned")
  }
}
