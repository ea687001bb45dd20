package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Text
import graft.operators.Pipeline

/** x23 (bigram-LM surprisal) and x28 (PMI collocations)
  * hand-derivations + corpus invariants. */
class BigramSurprisalSpec extends SparkSpec {
  import spark.implicits._

  test("bigramSurprisalFrom: hand-derived bits, <2-token and empty docs report 0") {
    // vocab V = {a, b, x, ""} = 4 (the empty doc contributes the ""
    // token under the single-space split — x3's counting semantics).
    // c2("a b") = 3 (twice in d1, once in d2), c2("b a") = 1;
    // C1(a) = 3, C1(b) = 1.
    // surprisal(a->b) = bits(3+4) - bits(3+1) = 3 - 3 = 0
    // surprisal(b->a) = bits(1+4) - bits(1+1) = 3 - 2 = 1
    val docs = Seq(
      (1L, "a b a b"), (2L, "a b"), (3L, "x"), (4L, "")
    ).toDF("doc_id", "text")
    val dw = Pipeline.docWordTable(docs, "doc_id", "text")
    val out = Pipeline.bigramSurprisalFrom(docs, dw, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toList
    assert(out === List(
      (1L, 3L, 1L, 0.333333), // 2x0 + 1x1 bits over 3 bigrams
      (2L, 1L, 0L, 0.0),
      (3L, 0L, 0L, 0.0),
      (4L, 0L, 0L, 0.0)))
  }

  test("bigramSurprisalFrom discriminates structured prose from its shuffled twin") {
    // The synthetic bench corpus is near-uniform word salad, so x23's
    // avg_bits is flat there (NOTES_r13 §15 honesty note) — THIS pins
    // the operator's actual discriminating power: docs built from a
    // repeating 6-token sentence (high-probability transitions) vs
    // docs carrying the SAME token multiset in a scrambled order
    // (transitions the corpus LM has rarely seen). Unigram stats are
    // identical by construction — only the bigram model separates them.
    val sentence = Seq("the", "cat", "sat", "on", "a", "mat")
    def structured(i: Int): String =
      Seq.fill(10)(sentence).flatten.mkString(" ")
    def shuffled(i: Int): String = {
      val toks = Seq.fill(10)(sentence).flatten
      // deterministic seeded scramble (test-only — engine parity is
      // not involved; a stride rotation would be a no-op on a
      // periodic sentence)
      new scala.util.Random(42 + i).shuffle(toks).mkString(" ")
    }
    val docs = ((0 until 20).map(i => (i.toLong, structured(i))) ++
      (100 until 120).map(i => (i.toLong, shuffled(i)))).toDF("doc_id", "text")
    val out = Pipeline.bigramSurprisalFrom(docs,
        Pipeline.docWordTable(docs, "doc_id", "text"), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getDouble(3))).toMap
    val structAvg = (0 until 20).map(i => out(i.toLong)).sum / 20
    val shufAvg = (100 until 120).map(i => out(i.toLong)).sum / 20
    assert(structAvg < shufAvg,
      s"structured $structAvg should score below shuffled $shufAvg")
    // the gap should be decisive, not marginal: the structured docs'
    // transitions dominate the corpus LM, the scrambled ones are rare
    assert(shufAvg - structAvg >= 1.0,
      s"expected >=1 bit separation, got ${shufAvg - structAvg}")
  }

  test("sourceDivergence: hand-derived bits and the mirrored-distribution baseline") {
    // corpus counts: a=3, b=2 -> bits(3)=2, bits(2)=2.
    // source A (docs "a a", "b"): T=3, corpus-bits = 2*2+1*2 = 6 ->
    //   2.0; self-bits = 2*bits(2)+1*bits(1) = 5 -> 1.666667; div 1/3.
    // source B (doc "a b"): T=2, corpus 4 -> 2.0; self 2 -> 1.0; div 1.
    val docs = Seq(
      (1L, "a a", "A"), (2L, "b", "A"), (3L, "a b", "B")
    ).toDF("doc_id", "text", "source")
    val out = Pipeline.sourceDivergence(docs, "doc_id", "text", "source")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getDouble(5), r.getDouble(6)))
      .toList
    assert(out === List(
      ("A", 2L, 3L, 2L, 2.0, 1.666667, 0.333333),
      ("B", 1L, 2L, 2L, 2.0, 1.0, 1.0)))
  }

  test("bigramSurprisalFrom invariants on the real corpus: n_bigrams = n_tokens - 1, bits >= 0") {
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val out = Pipeline.bigramSurprisalFrom(docs,
      Pipeline.docWordTable(docs, "doc_id", "text"), "doc_id", "text")
    val joined = out.join(
        docs.select(col("doc_id"),
          (size(split(col("text"), " ")) - 1).as("expect_bg")),
        Seq("doc_id"))
      .select(col("doc_id"), col("n_bigrams"),
        greatest(col("expect_bg"), lit(0)).cast("long").as("expect_bg"),
        col("sum_bits"), col("avg_bits"))
      .collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      assert(r.getAs[Long]("n_bigrams") === r.getAs[Long]("expect_bg"),
        s"doc ${r.get(0)}")
      assert(r.getAs[Long]("sum_bits") >= 0L)
      assert(r.getAs[Double]("avg_bits") >= 0.0)
    }
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  // ---- x28 PMI collocations and the BigramHashes expression -------------

  /** VERBATIM round-17 pmiCollocations (payload-carrying aggregate +
    * 3×md5 + substring_index projection) — the pre-restructure
    * equality reference for x28. */
  private def pmiR17(docs: DataFrame, docWord: DataFrame,
                     id: String, text: String,
                     minCount: Int, k: Int): DataFrame = {
    val bg = docs.select(explode(Text.bigrams(col(text))).as("bg"))
      .select(Text.md5Prefix60(col("bg")).as("bgh"),
        Text.md5Prefix60(substring_index(col("bg"), " ", 1)).as("ah"),
        Text.md5Prefix60(substring_index(col("bg"), " ", -1)).as("th"),
        col("bg"))
      .groupBy(col("bgh"), col("ah"), col("th"))
      .agg(count(lit(1)).as("n_ab"), min(col("bg")).as("bigram"))
      .filter(col("n_ab") >= minCount)
    val wc = docWord.select(Text.md5Prefix60(col("w")).as("wh"), col("tf"))
      .groupBy(col("wh")).agg(sum(col("tf")).as("cnt"))
    val total = docWord.agg(sum(col("tf")).as("n_tok"))
    bg
      .join(wc.select(col("wh").as("ah"), col("cnt").as("n_a")), Seq("ah"))
      .join(wc.select(col("wh").as("th"), col("cnt").as("n_b")), Seq("th"))
      .crossJoin(broadcast(total))
      .select(col("bigram"), col("n_ab"), col("n_a"), col("n_b"),
        (length(bin(col("n_ab"))) + length(bin(col("n_tok"))) -
          length(bin(col("n_a"))) - length(bin(col("n_b"))))
          .cast("long").as("pmi_bits"))
      .orderBy(col("pmi_bits").desc, col("n_ab").desc, col("bigram").asc)
      .limit(k)
  }

  test("BigramHashes == composed 3xmd5/substring_index pipeline on adversarial texts") {
    // double/leading/trailing spaces (empty tokens), tab and newline
    // INSIDE tokens (the single-space split keeps them), unicode,
    // repeated bigrams, a single word (no bigrams), empty and NULL, and
    // ill-formed UTF-8 (a lone 0xFF byte: "a\xFFb c\nd")
    val docs = Seq(
      Some("a b a b a"), Some("  leading twice"), Some("trailing  "),
      Some("mid  dle double"), Some("tab\tinside and new\nline tokens"),
      Some("héllo wörld héllo wörld"), Some("solo"), Some(""),
      None: Option[String]
    ).zipWithIndex.map { case (t, i) => (i.toLong, t.orNull) }
      .toDF("doc_id", "text")
      .union(spark.range(1).select(lit(9L).as("doc_id"),
        unhex(lit("61FF6220630A64")).cast("string").as("text")))
    val composed = docs
      .select(explode(Text.bigrams(col("text"))).as("bg"))
      .select(Text.md5Prefix60(col("bg")).as("bgh"),
        Text.md5Prefix60(substring_index(col("bg"), " ", 1)).as("ah"),
        Text.md5Prefix60(substring_index(col("bg"), " ", -1)).as("th"))
      .orderBy("bgh", "ah", "th").collect().map(_.toSeq).toSeq
    val native = docs
      .select(explode(Text.bigramHashes(col("text"))).as("b"))
      .select(col("b.bgh"), col("b.ah"), col("b.th"))
      .orderBy("bgh", "ah", "th").collect().map(_.toSeq).toSeq
    assert(native === composed)
    assert(native.nonEmpty)
  }

  test("x28 restructure == r17 form on the real sf0.001 corpus") {
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val dw = graft.dedup.ClusterCache.docWordTf(spark, sfDir)
    // k large enough to exercise deep (pmi, n_ab, bigram) tie-breaks
    val now = rows(Pipeline.pmiCollocations(docs, dw, "doc_id", "text", 2, 100))
    val r17 = rows(pmiR17(docs, dw, "doc_id", "text", 2, 100))
    assert(now === r17)
    assert(now.size === 100)
  }

  test("x28 restructure == r17 form on an adversarial synthetic corpus") {
    // engineered (pmi_bits, n_ab) ties so the bigram-ASC tie-break is
    // load-bearing, double spaces (empty tokens through the join),
    // words shared across head/tail positions, and a hapax tail that
    // the minCount prune must drop identically
    val docs = Seq(
      (0L, "aa bb aa bb aa bb cc dd cc dd cc dd"),
      (1L, "aa bb cc dd ee ff ee ff ee ff"),
      (2L, "bb aa dd cc ff ee zz yy"),
      (3L, "mid  dle mid  dle mid  dle"),
      (4L, "aa bb aa bb cc dd hapax1 hapax2"),
      (5L, "tie1 tie2 tie1 tie2 tie3 tie4 tie3 tie4")
    ).toDF("doc_id", "text")
    val dw = Pipeline.docWordTable(docs, "doc_id", "text")
    val now = rows(Pipeline.pmiCollocations(docs, dw, "doc_id", "text", 2, 50))
    val r17 = rows(pmiR17(docs, dw, "doc_id", "text", 2, 50))
    assert(now === r17)
    assert(now.nonEmpty)
    // the ties really occur: at least two output rows share
    // (pmi_bits, n_ab) so the reconstructed-bigram ordering is proven
    val keyPairs = now.map(r => (r(4), r(1)))
    assert(keyPairs.size !== keyPairs.distinct.size,
      "tie-break never exercised — strengthen the corpus")
  }

  // ---- x28 -----------------------------------------------------------------

  test("pmiCollocations: hand-derived bit PMI, minCount prunes the hapax tail") {
    // corpus: 6 docs "a b", 1 doc "x x x x".
    // N = 16 tokens; n_a = n_b = 6, n_x = 4.
    // bigrams: "a b" ×6, "x x" ×3.
    // pmi("a b") = bits(6)+bits(16)−bits(6)−bits(6) = 3+5−3−3 = 2
    // pmi("x x") = bits(3)+bits(16)−bits(4)−bits(4) = 2+5−3−3 = 1
    val docs = ((1 to 6).map(i => (i.toLong, "a b")) :+ (7L, "x x x x"))
      .toDF("doc_id", "text")
    val dw = Pipeline.docWordTable(docs, "doc_id", "text")
    val strict = Pipeline.pmiCollocations(docs, dw, "doc_id", "text", 5, 20)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toList
    assert(strict === List(("a b", 6L, 6L, 6L, 2L)))
    val loose = Pipeline.pmiCollocations(docs, dw, "doc_id", "text", 2, 20)
      .collect().map(r => (r.getString(0), r.getLong(4))).toList
    assert(loose === List(("a b", 2L), ("x x", 1L)))
  }

  test("pmiCollocations ranks a planted collocation above independent co-occurrences") {
    // "spark shuffle" always adjacent (collocation); "data" and "table"
    // frequent but paired only by chance — PMI must separate them even
    // though raw bigram counts are comparable
    val planted = (0 until 30).map(i =>
      (i.toLong, "spark shuffle data table data table data table"))
    val docs = planted.toDF("doc_id", "text")
    val dw = Pipeline.docWordTable(docs, "doc_id", "text")
    val out = Pipeline.pmiCollocations(docs, dw, "doc_id", "text", 5, 5)
      .collect().map(r => (r.getString(0), r.getLong(4)))
    assert(out.head._1 === "spark shuffle")
    val byBg = out.toMap
    assert(byBg("spark shuffle") > byBg("data table"))
  }
}
