package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.operators.Pipeline

/** Adversarial text inputs through the shingle/winnow/tfidf/span
  * paths (r11 verdict item 7): empty docs, one-char docs,
  * punctuation-only docs, and NULL text. These paths assume ≥n tokens
  * in places that are normally guarded only by data shape — the specs
  * pin that each operator completes AND that degenerate rows behave
  * deterministically (dropped or zeroed, never a crash or a phantom
  * pair), alongside a planted twin that must still surface.
  *
  * One corpus serves every test:
  *   0 empty, 1 NULL, 2 one char, 3 punctuation-only, 4 two words,
  *   5/6 identical 8-word twins, 7 whitespace-only, 8 one repeated
  *   word (degenerate n-gram multiplicity).
  */
class DegenerateCorpusSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = {
    val rows = Seq(
      Row(0L, ""),
      Row(1L, null),
      Row(2L, "a"),
      Row(3L, "!!! ??? ... ;;;"),
      Row(4L, "one two"),
      Row(5L, "alpha beta gamma delta epsilon zeta eta theta"),
      Row(6L, "alpha beta gamma delta epsilon zeta eta theta"),
      Row(7L, "   "),
      Row(8L, "spam spam spam spam spam spam"))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2),
      StructType(Seq(StructField("doc_id", LongType, nullable = false),
        StructField("text", StringType, nullable = true))))
      .localCheckpoint()
  }

  test("d4 ngram Jaccard survives degenerate docs and still finds the twin") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.12)
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect()
    assert(pairs.exists(p => p._1 == 5L && p._2 == 6L && p._3 == 1.0))
    // no pair may involve the NULL-text doc (it has no shingles)
    assert(!pairs.exists(p => p._1 == 1L || p._2 == 1L))
    // both exact arms agree on this corpus: invoke each arm DIRECTLY
    // (the routed entry point always takes the same arm here, so
    // calling it twice would pin nothing — mirror the x16 test)
    val posts = docs.repartition(col("doc_id"))
      .select(col("doc_id"), graft.functions.Text.shingles(col("text"), 3).as("sh"))
      .select(col("doc_id"), size(col("sh")).as("n_sh"), explode(col("sh")).as("__s"))
      .select(col("doc_id"), col("n_sh"),
        graft.functions.Text.md5Prefix60(col("__s")).as("shingle"))
    val dfc = Dedup.shingleDf(posts)
    val direct = Dedup.jaccardDirect(posts, 0.12)
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    val prefix = Dedup.jaccardPrefix(posts, dfc, 0.12)
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    assert(direct == prefix)
    assert(direct == pairs.toSet)
  }

  test("x16 containment: both arms complete and agree on the degenerate corpus") {
    val got = Dedup.containmentPairs(docs, "doc_id", "text", 3, 0.6)
      .select("id_a", "id_b", "containment")
      .as[(Long, Long, Double)].collect().toSet
    // identical twins contain each other: both ordered directions
    assert(got.contains((5L, 6L, 1.0)) && got.contains((6L, 5L, 1.0)))
    assert(!got.exists(p => p._1 == 1L || p._2 == 1L))
    // prefix arm produces the identical pair set
    val posts = docs.repartition(col("doc_id"))
      .select(col("doc_id"), graft.functions.Text.shingles(col("text"), 3).as("sh"))
      .select(col("doc_id"), size(col("sh")).as("n_sh"), explode(col("sh")).as("__s"))
      .select(col("doc_id"), col("n_sh"),
        graft.functions.Text.md5Prefix60(col("__s")).as("shingle"))
    val dfc = posts.groupBy(col("shingle")).agg(count(lit(1)).as("__df"))
    val viaPrefix = Dedup.containmentPrefix(posts, dfc, 0.6)
      .select("id_a", "id_b", "containment")
      .as[(Long, Long, Double)].collect().toSet
    assert(viaPrefix == got)
    // the direct arm's df>=2 prune is lossless: this corpus has df=1
    // shingles, and dropping them leaves the pair set unchanged
    assert(dfc.filter(col("__df") === 1).count() > 0)
    def direct(prune: Boolean) =
      Dedup.containmentDirect(posts, 0.6, pruneUnique = prune, dfc = Some(dfc))
        .select("id_a", "id_b", "containment")
        .as[(Long, Long, Double)].collect().toSet
    assert(direct(prune = true) == direct(prune = false))
    assert(direct(prune = true) == got)
  }

  test("x15 winnowing completes; sub-window docs fingerprint nothing; twins pair") {
    val fp = Dedup.winnowFingerprints(docs, "doc_id", "text", 3, 4)
    val perDoc = fp.groupBy("doc_id").agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toMap
    // docs with < k+w-1 = 6 words have no full window: 0,1,2,3,4,7
    for (d <- Seq(0L, 1L, 2L, 3L, 4L, 7L)) assert(!perDoc.contains(d), s"doc $d")
    // the twins fingerprint identically -> they pair
    val pairs = Dedup.winnowPairs(docs, "doc_id", "text", 3, 4, 2)
      .as[(Long, Long, Long)].collect()
    assert(pairs.exists(p => p._1 == 5L && p._2 == 6L))
  }

  test("d9 span dedup completes; empty/NULL docs report zero spans") {
    val byId = Dedup.spanDedup(docs, "doc_id", "text", 5)
      .select("doc_id", "dup_tokens", "n_spans")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // every doc row survives to the report (left join semantics)
    assert(byId.keySet == (0L to 8L).toSet)
    // the 8-word twins share their full text: whole doc covered
    assert(byId(5L) == ((8L, 1L)) && byId(6L) == ((8L, 1L)))
    // degenerate docs: no duplicated 5-gram spans
    for (d <- Seq(0L, 1L, 2L, 3L, 4L, 7L))
      assert(byId(d) == ((0L, 0L)), s"doc $d -> ${byId(d)}")
  }

  test("x17 tf-idf completes; NULL text yields no terms, twins rank identically") {
    val out = Pipeline.tfidfTopTerms(docs, "doc_id", "text", 5)
    val rows = out.select("doc_id", "term", "rank")
      .as[(Long, String, Int)].collect()
    assert(!rows.exists(_._1 == 1L)) // NULL text tokenizes to nothing
    val t5 = rows.filter(_._1 == 5L).map(r => (r._2, r._3)).toSet
    val t6 = rows.filter(_._1 == 6L).map(r => (r._2, r._3)).toSet
    assert(t5 == t6 && t5.nonEmpty)
  }

  test("x19 novelty handles degenerate docs; twins split first-owner/copier") {
    val sh = Dedup.shinglePostings(docs, "doc_id", "text", 3)
    val got = Pipeline.noveltyProfileFrom(sh, Dedup.shingleDf(sh))
      .as[(Long, Int, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    // NULL text has no shingles -> absent from the profile entirely
    assert(!got.contains(1L))
    // every present doc satisfies 0 <= n_copied <= n_sh
    got.values.foreach { case (_, nSh, nCopied, frac) =>
      assert(nCopied >= 0L && nCopied <= nSh)
      assert(frac >= 0.0 && frac <= 1.0)
    }
    // the twins: doc 5 first-owns every shingle, doc 6 copies all
    assert(got(5L)._3 == 0L && got(5L)._4 == 0.0)
    assert(got(6L)._3.toInt == got(6L)._2 && got(6L)._4 == 1.0)
    // one repeated word: distinct-shingle set collapses to one entry,
    // wholly first-owned by doc 8
    assert(got(8L)._2 == 1 && got(8L)._3 == 0L)
  }

  test("d10 source overlap is empty when clusters never span sources") {
    val clusters = Seq((5L, 5L), (6L, 5L)).toDF("doc_id", "cluster_id")
    val same = Seq((5L, "s1"), (6L, "s1")).toDF("doc_id", "source")
    assert(Pipeline.sourceOverlapFrom(clusters, same, "doc_id", "source")
      .isEmpty)
  }

  test("x20/x21 BM25 survives degenerate docs: twins tie, NULL/empty vanish") {
    import graft.operators.Retrieval
    val dw = Pipeline.docWordTable(docs, "doc_id", "text")
    val queries = Seq((0L, "alpha"), (0L, "beta"), (1L, "!!!"))
      .toDF("query_id", "term")
    val scored = Retrieval.bm25Scored(dw, docs, "doc_id", queries)
      .select($"query_id", $"doc_id", $"score_q6")
      .as[(Long, Long, Long)].collect()
    // the NULL-text doc never scores (no tokens); neither do the
    // empty/whitespace docs (their only token "" matches no query term)
    assert(!scored.exists(s => Seq(1L, 0L, 7L).contains(s._2)))
    // identical twin docs tie exactly on every query they match
    val twins = scored.filter(s => s._2 == 5L || s._2 == 6L)
      .groupBy(_._1).values
    assert(twins.nonEmpty && twins.forall(g => g.map(_._3).toSet.size == 1))
    // a punctuation token is a first-class term under whitespace split
    assert(scored.exists(s => s._1 == 1L && s._2 == 3L && s._3 > 0))
    // the contamination report still covers EVERY doc (incl. NULL text)
    val withSrc = docs.withColumn("source", lit("s"))
    val report = Retrieval.retrievalContamination(
        Retrieval.bm25Scored(dw, withSrc, "doc_id", queries),
        Retrieval.bm25QueryMax(dw, withSrc, queries),
        withSrc, "doc_id", "source", 7, 10)
      .select($"n_docs", $"n_flagged").as[(Long, Long)].collect()
    assert(report.map(_._1).sum == 9L)
    assert(report.map(_._2).sum <= 9L)
  }
}
