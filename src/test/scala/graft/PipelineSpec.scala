package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.functions.Text
import graft.operators.Pipeline
import graft.sources.Tables

/** Training-data pipeline operators: sequence packing, survivorship
  * dedup, benchmark decontamination and its per-source contamination
  * report, hash sampling, quality and dup drift. */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  test("packSequences conserves documents and packs contiguous bins per shard") {
    val docs = Tables.documents(spark, sfDir)
    val packed = Pipeline.packSequences(docs, "doc_id", "text", 512, 8)
      .select($"shard", $"bin", $"n_docs", $"total_tokens")
      .as[(Long, Long, Long, Long)].collect()
    assert(packed.map(_._3).sum == docs.count())
    // bins are a contiguous 0..max range within each shard
    packed.groupBy(_._1).foreach { case (_, bins) =>
      val ids = bins.map(_._2).sorted
      assert(ids.head == 0L && ids.sameElements(0L until ids.length.toLong))
    }
    // deterministic: identical on recomputation
    val again = Pipeline.packSequences(docs, "doc_id", "text", 512, 8)
      .select($"shard", $"bin", $"n_docs", $"total_tokens")
      .as[(Long, Long, Long, Long)].collect()
    assert(packed.toSet == again.toSet)
  }

  test("packSequences: a bin never starts past the budget boundary mid-document") {
    // cum_before of a bin's first doc is < (bin+1) * budget by
    // construction; equivalently every bin holds >= 1 doc and bins are
    // dense — the overflow case is a single over-budget doc owning its bin
    val docs = Seq((1L, "a " * 600), (2L, "b " * 10), (3L, "c " * 10))
      .toDF("doc_id", "text")
    val packed = Pipeline.packSequences(docs, "doc_id", "text", 512, 1)
      .select($"bin", $"n_docs", $"total_tokens").as[(Long, Long, Long)]
      .collect().sortBy(_._1)
    // doc 1 (600 tokens) overflows bin 0 alone; docs 2+3 land in bin 1
    assert(packed.length == 2)
    assert(packed(0) == ((0L, 1L, 601L)) || packed(0)._2 == 1L)
  }

  test("ClusterCache shared path matches the direct d2/d6/d7 computations") {
    val docs = Tables.documents(spark, sfDir)
    val directPairs = graft.dedup.Dedup
      .minhashLshPairs(docs, "doc_id", "text", 3, 16, 4)
      .as[(Long, Long)].collect().toSet
    val cachedPairs = graft.dedup.ClusterCache.minhashPairs(spark, sfDir)
      .as[(Long, Long)].collect().toSet
    assert(cachedPairs == directPairs)
    val directClusters = References.dupClusters(docs, "doc_id", "text", 3, 16, 4)
    val direct = directClusters
      .select($"doc_id", $"cluster_id").as[(Long, Long)].collect().toSet
    val cached = graft.dedup.ClusterCache.documents(spark, sfDir)
      .select($"doc_id", $"cluster_id").as[(Long, Long)].collect().toSet
    assert(cached == direct)
    val directSurv = Pipeline
      .dedupSurvivorsFrom(directClusters, docs, "doc_id", "n_chars")
      .select($"cluster_id", $"survivor_id", $"n_members", $"saved_chars")
      .as[(Long, Long, Long, Long)].collect().toSet
    val sharedSurv = Pipeline
      .dedupSurvivorsFrom(graft.dedup.ClusterCache.documents(spark, sfDir),
        docs, "doc_id", "n_chars")
      .select($"cluster_id", $"survivor_id", $"n_members", $"saved_chars")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(sharedSurv == directSurv)
    graft.util.SessionCache.clearAll()
  }

  test("dedupSurvivors keeps the longest member (ties to min id) per cluster") {
    val docs = Tables.documents(spark, sfDir)
    val dup = References.dupClusters(docs, "doc_id", "text", 3, 16, 4)
    val survivors = Pipeline
      .dedupSurvivorsFrom(dup, docs, "doc_id", "n_chars")
      .select($"cluster_id", $"survivor_id", $"n_members", $"saved_chars")
      .as[(Long, Long, Long, Long)].collect()
    val clusters = dup
      .join(docs.select($"doc_id", $"n_chars"), "doc_id")
      .select($"cluster_id", $"doc_id", $"n_chars".cast("long"))
      .as[(Long, Long, Long)].collect().groupBy(_._1)
    assert(survivors.length == clusters.size)
    survivors.foreach { case (cid, sid, n, saved) =>
      val members = clusters(cid)
      assert(n == members.length)
      val expect = members.map { case (_, id, ch) => (ch, -id) }.max
      assert(sid == -expect._2, s"cluster $cid")
      assert(saved == members.map(_._3).sum - expect._1)
    }
  }

  test("decontaminate flags a planted benchmark copy and only that") {
    val docs = Seq(
      (20L, "the quick brown fox jumps over the lazy dog today"), // bench
      (1L, "the quick brown fox jumps over the lazy dog today"),  // copy
      (2L, "completely unrelated text about training data pipelines here"),
      (40L, "another benchmark document with its own distinct phrasing")) // bench
      .toDF("doc_id", "text")
    val flagged = Pipeline.decontaminate(docs, "doc_id", "text", 3,
        pmod(col("doc_id"), lit(20)) === 0, 3)
      .select($"doc_id", $"bench_id", $"n_shared").as[(Long, Long, Long)]
      .collect().toList
    assert(flagged.map(f => (f._1, f._2)) == List((1L, 20L)))
    assert(flagged.head._3 >= 3)
  }

  test("repetition signals: planted boilerplate scores, prose near zero") {
    val docs = Seq(
      (1L, "a b a b a b"),               // top bigram "a b" x3 of 5; tri 4 total / 2 distinct
      (2L, "one two three four five six"),  // no repetition at all
      (3L, "x y"))                       // no trigram population -> dropped
      .toDF("doc_id", "text")
    val got = Pipeline.repetitionSignals(docs, "doc_id", "text")
      .as[(Long, Int, String, Long, Double, Double)].collect().toList
    assert(got.map(_._1) == List(1L, 2L))
    val d1 = got.head
    // "a b a b a b": 11 chars, top bigram "a b" (3 hits x 3 chars)
    assert(d1._3 == "a b" && d1._4 == 3L)
    assert(d1._5 == math.rint(3 * 3.0 / 11 * 1e6) / 1e6)
    assert(d1._6 == 0.5) // 4 trigrams, 2 distinct
    val d2 = got(1)
    assert(d2._4 == 1L && d2._6 == 0.0)
  }

  test("unigram LM profile: exact bit-bucket arithmetic on a known corpus") {
    // counts: a=3 ('11', 2 bits), b=1, c=1 (1 bit each)
    val docs = Seq((1L, "a a b"), (2L, "a c")).toDF("doc_id", "text")
    val got = Pipeline.unigramLmProfileFrom(
        Pipeline.docWordTable(docs, "doc_id", "text"), "doc_id")
      .as[(Long, Long, Long, Long, Long, Double)].collect().toList
    //            (id, n_tokens, n_distinct, rare, min_cnt, avg_bits)
    assert(got == List(
      (1L, 3L, 2L, 1L, 1L, math.rint(5.0 / 3 * 1e6) / 1e6), // 2*2 + 1 bits
      (2L, 2L, 2L, 1L, 1L, 1.5)))                           // 2 + 1 bits
  }

  test("unigram LM profile: deterministic and token-conserving on the corpus") {
    val docs = Tables.documents(spark, sfDir)
    val prof = Pipeline.unigramLmProfileFrom(
      Pipeline.docWordTable(docs, "doc_id", "text"), "doc_id")
    val rows = prof.as[(Long, Long, Long, Long, Long, Double)].collect()
    assert(rows.length == docs.count())
    // total tokens equals the whitespace token count of the corpus
    val toks = docs.select(sum(size(split($"text", " ")))).as[Long].head()
    assert(rows.map(_._2).sum == toks)
    val again = Pipeline.unigramLmProfileFrom(
        Pipeline.docWordTable(docs, "doc_id", "text"), "doc_id")
      .as[(Long, Long, Long, Long, Long, Double)].collect()
    assert(rows.sameElements(again))
  }

  test("domain mixture: quota and threshold math, realized sample matches the predicate") {
    val docs = Tables.documents(spark, sfDir)
    val mix = Pipeline.domainMixture(docs, "source", "doc_id", 10000, 3, 10, 20)
    val rows = mix.as[(String, Long, Long, Long, Long, Double)].collect()
    val total = docs.count()
    val quota = math.floor(total * 3 / 200.0).toLong
    rows.foreach { case (_, avail, q, thr, sampled, share) =>
      assert(q == math.min(avail, quota))
      assert(thr == math.floor(q * 10000 / avail.toDouble).toLong)
      assert(sampled >= 0 && sampled <= avail)
      assert(share == math.rint(sampled.toDouble / avail * 1e6) / 1e6)
    }
    assert(rows.map(_._2).sum == total)
    // realized counts equal applying the published predicate to the corpus
    val thrs = rows.map(r => r._1 -> r._4).toMap
    val byPredicate = docs
      .select($"source", graft.functions.Text.hashBucket($"doc_id", 10000).as("b"))
      .collect().groupBy(_.getString(0))
      .map { case (s, rs) => s -> rs.count(_.getLong(1) < thrs(s)).toLong }
    rows.foreach { case (s, _, _, _, sampled, _) => assert(byPredicate(s) == sampled) }
  }

  test("p1 curation pipeline: funnel is sequential, stages agree with their standalone operators") {
    val docs = Tables.documents(spark, sfDir)
    val funnel = SparkEntry.queries("p1_curation_pipeline")(spark, sfDir)
      .as[(String, Long, Long, Long, Long, Long, Long, Long, Long, Option[Long])]
      .collect()
    assert(funnel.nonEmpty)
    // every source of the corpus appears exactly once
    assert(funnel.map(_._1).toSeq.sorted ==
      docs.select($"source").distinct().as[String].collect().toSeq.sorted)
    // the funnel only narrows: docs >= exact >= surv >= clean >= decontam >= sampled
    funnel.foreach { case (s, n, ex, sv, cl, dc, sm, toks, bins, first) =>
      assert(n >= ex && ex >= sv && sv >= cl && cl >= dc && dc >= sm, s)
      assert(sm == 0 || (toks > 0 && bins > 0 && first.nonEmpty), s)
      assert(sm > 0 || (toks == 0 && bins == 0 && first.isEmpty), s)
    }
    // stage cross-checks against the standalone operators:
    // exact survivors == d1's canonical count
    val d1Canon = graft.dedup.Dedup.exact(docs, "doc_id", "text").count()
    assert(funnel.map(_._3).sum == d1Canon)
    // near-dup survivors == d7's cluster count (one survivor per cluster)
    val d7Clusters = graft.dedup.ClusterCache.documents(spark, sfDir)
      .select($"cluster_id").distinct().count()
    assert(funnel.map(_._4).sum == d7Clusters)
    // something must actually survive the whole chain on this corpus
    assert(funnel.map(_._7).sum > 0)
  }

  // ---- p1 curation chain vs its round-17 form ---------------------------

  private val stop = Seq("the", "a")
  private val block = Seq("slow", "dup", "big")

  /** VERBATIM round-17 curationPipelineFrom (the pre-restructure
    * reference: separate flags3 scan + id-join, canon groupBy +
    * __h-left-join, domainMixture threshold detour, kept5 re-joining
    * docs for text). */
  private def curationR17(docs: DataFrame, clusters: DataFrame,
                          postings: DataFrame, id: String, text: String,
                          source: String, nChars: String,
                          stopwords: Seq[String], blockWords: Seq[String],
                          qualityMin: Double = 0.5, denomPer: Int = 20,
                          benchMod: Int = 20, minShared: Int = 3,
                          buckets: Int = 10000, pctNum: Int = 3,
                          pctDen: Int = 10, nStrata: Int = 20,
                          packBudget: Int = 512, packShards: Int = 8): DataFrame = {
    val d0 = docs.select(col(id), col(source), col(text), col(nChars))
    val canon = d0.groupBy(md5(col(text)).as("__h"))
      .agg(min(col(id)).as("__canon"))
    val survivors = Pipeline.dedupSurvivorsFrom(clusters, docs, id, nChars)
      .select(col("survivor_id").as(id), lit(true).as("__surv"))
    val ws = Text.words(col(text))
    val flags3 = d0.select(col(id), col(nChars),
        size(ws).as("__nw"), size(array_distinct(ws)).as("__nd"),
        Text.stopwordHits(ws, stopwords).as("__sh"),
        Text.stopwordHits(ws, blockWords).as("__bh"))
      .select(col(id),
        (Text.qualityScore(col("__nw"), col("__nd"), col("__sh"), col(nChars))
          >= qualityMin).as("__qual"),
        (col("__bh") * denomPer <= col("__nw")).as("__block"))
    val contaminated = Pipeline.decontaminate(docs, id, text, 3,
        pmod(col(id), lit(benchMod)) === 0, minShared, Some(postings))
      .select(col(id), lit(true).as("__cont"))
    val flagged = d0.select(col(id), col(source), col(text))
      .withColumn("__h", md5(col(text)))
      .join(canon, Seq("__h"), "left")
      .withColumn("__exact", coalesce(col(id) === col("__canon"), lit(false)))
      .join(survivors, Seq(id), "left")
      .join(flags3, Seq(id))
      .join(contaminated, Seq(id), "left")
      .select(col(id), col(source), col(text),
        col("__exact"),
        coalesce(col("__surv"), lit(false)).as("__surv"),
        col("__qual"), col("__block"),
        (pmod(col(id), lit(benchMod)) =!= 0 &&
          coalesce(col("__cont"), lit(false)) === false).as("__decon"))
    val clean = col("__surv") && col("__qual") && col("__block")
    val kept4 = flagged.filter(clean && col("__decon"))
    val thresholds = Pipeline.domainMixture(kept4, source, id, buckets, pctNum,
        pctDen, nStrata)
      .select(col(source), col("bucket_threshold"))
    val kept5 = kept4
      .join(broadcast(thresholds), Seq(source))
      .filter(Text.hashBucket(col(id), buckets) < col("bucket_threshold"))
      .select(col(id))
    val packed = Pipeline.packAssignments(
        kept5.join(docs.select(col(id), col(text)), Seq(id)),
        id, text, packBudget, packShards)
      .select(col(id), lit(true).as("__kept"), col("toks"),
        (col("shard") * 1000000L + col("bin")).as("__binkey"))
    flagged
      .join(packed, Seq(id), "left")
      .groupBy(col(source))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("__exact").cast("long")).as("n_exact"),
        sum(col("__surv").cast("long")).as("n_surv"),
        sum(clean.cast("long")).as("n_clean"),
        sum((clean && col("__decon")).cast("long")).as("n_decontam"),
        sum(coalesce(col("__kept"), lit(false)).cast("long")).as("n_sampled"),
        sum(when(col("__kept"), col("toks")).otherwise(0L)).as("kept_tokens"),
        countDistinct(when(col("__kept"), col("__binkey"))).as("n_bins"),
        min(when(col("__kept"), col(id))).as("first_kept"))
      .orderBy(source)
  }

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  test("p1 restructure == r17 form on the real sf0.001 corpus") {
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val clusters = graft.dedup.ClusterCache.documents(spark, sfDir)
    val postings = graft.dedup.ClusterCache.postings(spark, sfDir)
    val now = rows(Pipeline.curationPipelineFrom(docs, clusters, postings,
      "doc_id", "text", "source", "n_chars", stop, block))
    val r17 = rows(curationR17(docs, clusters, postings,
      "doc_id", "text", "source", "n_chars", stop, block))
    assert(now === r17)
  }

  test("p1 restructure == r17 form on an adversarial synthetic corpus") {
    // exact dups (ids 3/23 share text), a NULL text (id 40 — must stay
    // in n_docs and never count as __exact), an empty text (id 41),
    // bench docs (id % 20 == 0), a single-doc source, block-word-heavy
    // docs, and texts long/distinct enough that some survive quality
    val texts = Seq(
      0L -> "the quick brown fox jumps over a lazy dog near the river bank today",
      1L -> "slow dup big slow dup big slow dup big slow dup big slow dup big",
      2L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu",
      3L -> "the quick brown fox jumps over a lazy dog near the river bank today",
      23L -> "the quick brown fox jumps over a lazy dog near the river bank today",
      4L -> "one two three four five six seven eight nine ten eleven twelve",
      20L -> "benchmark document text shared shingles appear here three times over",
      21L -> "benchmark document text shared shingles appear here three times over",
      40L -> null,
      41L -> "",
      42L -> "solo source document with plenty of distinct words in its body text")
    val docs = texts.map { case (i, t) =>
      val src = if (i == 42L) "solo" else if (i % 2 == 0) "web" else "books"
      (i, src, t, Option(t).map(_.length).getOrElse(0))
    }.toDF("doc_id", "source", "text", "n_chars")
    val clusters = References.dupClusters(docs, "doc_id", "text", 3, 16, 4)
    val postings = Dedup.shinglePostings(docs, "doc_id", "text", 3)
    val now = rows(Pipeline.curationPipelineFrom(docs, clusters, postings,
      "doc_id", "text", "source", "n_chars", stop, block,
      qualityMin = 0.2, denomPer = 4, benchMod = 20, minShared = 2,
      buckets = 16, pctNum = 9, pctDen = 10, nStrata = 2,
      packBudget = 8, packShards = 2))
    val r17 = rows(curationR17(docs, clusters, postings,
      "doc_id", "text", "source", "n_chars", stop, block,
      qualityMin = 0.2, denomPer = 4, benchMod = 20, minShared = 2,
      buckets = 16, pctNum = 9, pctDen = 10, nStrata = 2,
      packBudget = 8, packShards = 2))
    assert(now === r17)
    // the funnel actually exercises every stage on this corpus
    val bySrc = Pipeline.curationPipelineFrom(docs, clusters, postings,
        "doc_id", "text", "source", "n_chars", stop, block,
        qualityMin = 0.2, denomPer = 4, benchMod = 20, minShared = 2,
        buckets = 16, pctNum = 9, pctDen = 10, nStrata = 2,
        packBudget = 8, packShards = 2)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(bySrc.keySet === Set("web", "books", "solo"))
    // NULL text stays counted: web has ids 0,2,4,20,40 -> n_docs 5
    assert(bySrc("web").getLong(1) === 5L)
  }

  test("x6: hash sampling is deterministic and monotone under rate changes") {
    val docs = Tables.documents(spark, sfDir)
    def sampled(rate: Int) = docs
      .filter(graft.functions.Text.hashBucket($"doc_id", 100) < rate)
      .select("doc_id").as[Long].collect().toSet
    val s15a = sampled(15)
    val s15b = sampled(15)
    val s40 = sampled(40)
    assert(s15a == s15b)            // reproducible
    assert(s15a.subsetOf(s40))      // tightening a rate never resamples
    val n = docs.count().toDouble
    assert(math.abs(s40.size / n - 0.40) < 0.15) // quota roughly honored
  }

  // ---- x30 quality drift -------------------------------------------------

  // two sources, two docs each, quality hand-derived from the x2
  // formula. Words chosen so every ratio is exact in 6 dp:
  //   d0 "the a the a": n_words 4, n_distinct 2, stop 4, chars 11
  //     q = .4*min(2/4*2,1) + .3*min(4/4*5,1) + .3*min((11/4)/8,1)
  //       = .4*1 + .3*1 + .3*0.34375 = 0.803125 -> round6 0.803125
  //   d1 "x y z w":        n_words 4, n_distinct 4, stop 0, chars 7
  //     q = .4*1 + 0 + .3*((7/4)/8 = 0.21875) = 0.465625
  //   d2 "the the the the": n_words 4, n_distinct 1, stop 4, chars 15
  //     q = .4*min(.5,1)=.2 + .3 + .3*min(15/32,1)=0.140625 -> 0.640625
  //   d3 "a b":             n_words 2, n_distinct 2, stop 1, chars 3
  //     q = .4 + .3*min(.5*5,1)=.3 + .3*min((1.5)/8,1)=0.05625 -> 0.75625
  private val docs = Seq(
    (0L, "the a the a", "s1", 11L),
    (1L, "x y z w", "s1", 7L),
    (2L, "the the the the", "s2", 15L),
    (3L, "a b", "s2", 3L)
  ).toDF("doc_id", "text", "source", "n_chars")

  // 6 events over two ISO weeks (2024-01-01 and 2024-01-08 are both
  // Mondays); doc_id = event_id % 4
  private val events = Seq(
    (0L, "2024-01-01 10:00:00"), // wk1 -> d0 (s1)
    (1L, "2024-01-02 10:00:00"), // wk1 -> d1 (s1)
    (2L, "2024-01-03 10:00:00"), // wk1 -> d2 (s2)
    (5L, "2024-01-09 10:00:00"), // wk2 -> d1 (s1)
    (6L, "2024-01-10 10:00:00"), // wk2 -> d2 (s2)
    (7L, "2024-01-11 10:00:00")  // wk2 -> d3 (s2)
  ).toDF("event_id", "ts_s")
    .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")

  private def quality(df: org.apache.spark.sql.DataFrame) = {
    val ws = graft.functions.Text.words(col("text"))
    df.select(col("doc_id"), col("source"),
      graft.functions.Text.qualityScore(size(ws), size(array_distinct(ws)),
        graft.functions.Text.stopwordHits(ws, Seq("the", "a")),
        col("n_chars")).as("quality"))
  }

  test("qualityDrift: hand-derived weekly means, baseline and drift flag") {
    val out = Pipeline.qualityDrift(quality(docs), "doc_id", "source",
        "quality", events, "event_id", "ts", 4L, threshMicro = 20000L)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getLong(5), r.getBoolean(6)))
      .toList
    // s1 wk1: (d0 .803125 + d1 .465625)/2 = 0.634375; wk2: d1 .465625
    //   drift = .465625 - .634375 = -0.16875 -> -168750 micro, drifted
    // s2 wk1: d2 .640625; wk2: (d2 .640625 + d3 .75625)/2 = 0.6984375
    //   -> round6 0.698438 (round half up); drift micro = 57813
    assert(out == List(
      ("s1", "2024-01-01", 2L, 0.634375, 0.634375, 0L, false),
      ("s1", "2024-01-08", 1L, 0.465625, 0.634375, -168750L, true),
      ("s2", "2024-01-01", 1L, 0.640625, 0.640625, 0L, false),
      ("s2", "2024-01-08", 2L, 0.698438, 0.640625, 57813L, true)))
  }

  test("qualityDrift: a single-week source reads drift 0, not drifted") {
    val ev1 = events.filter(col("event_id") < 3) // week 1 only
    val out = Pipeline.qualityDrift(quality(docs), "doc_id", "source",
        "quality", ev1, "event_id", "ts", 4L, threshMicro = 20000L)
      .collect().map(r => (r.getString(0), r.getLong(5), r.getBoolean(6)))
      .toList
    assert(out == List(("s1", 0L, false), ("s2", 0L, false)))
  }

  // ---- x31 duplicate-serving drift ---------------------------------------

  test("dupServingDrift: hand-derived dup counts; unique corpus reads zero") {
    // d1 and d3 share a fingerprint (same normalized text); canonical
    // is the min id (1), so doc 3 is the only dup
    val dd = Seq(
      (0L, "alpha beta", "s1"),
      (1L, "Dup text!", "s1"),
      (2L, "gamma", "s2"),
      (3L, "dup TEXT", "s2") // normalizes equal to doc 1 -> dup
    ).toDF("doc_id", "text", "source")
    // wk1 serves docs 0,1,2; wk2 serves 3 (event 7 % 4) and 1 (event 5)
    val out = Pipeline.dupServingDrift(dd, "doc_id", "text", "source",
        events, "event_id", "ts", 4L)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toList
    // events: wk1 e0->d0(s1), e1->d1(s1), e2->d2(s2);
    //         wk2 e5->d1(s1), e6->d2(s2), e7->d3(s2 dup)
    assert(out == List(
      ("s1", "2024-01-01", 2L, 0L, 0.0),
      ("s1", "2024-01-08", 1L, 0L, 0.0),
      ("s2", "2024-01-01", 1L, 0L, 0.0),
      ("s2", "2024-01-08", 2L, 1L, 0.5)))
    val unique = Pipeline.dupServingDrift(docs, "doc_id", "text", "source",
        events, "event_id", "ts", 4L)
      .agg(sum(col("dup_served"))).head().getLong(0)
    assert(unique == 0L)
  }

  // ---- x29 contamination report -----------------------------------------

  test("contaminationReport: hand-derived per-source rollup") {
    val docs = Seq(
      // doc 0 is bench (id % 20 == 0); docs 1-2 share its 3 shingles
      (0L, "src_a", "w1 w2 w3 w4 w5"),
      (1L, "src_a", "w1 w2 w3 w4 w5"),          // contaminated, 5 toks
      (2L, "src_b", "x w1 w2 w3 w4 w5"),        // contaminated, 6 toks
      (3L, "src_b", "q r s t u v"),             // clean, 6 toks
      (4L, "src_c", "a b c")                    // clean, 3 toks
    ).toDF("doc_id", "source", "text")
    val bench = pmod(col("doc_id"), lit(20)) === 0
    val hits = Pipeline.decontaminate(docs, "doc_id", "text", 3, bench, 3)
    val out = Pipeline.contaminationReport(
        docs, "doc_id", "text", "source", bench, hits)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5))).toList
    assert(out == List(
      ("src_a", 1L, 1L, 5L, 5L, 1.0),
      ("src_b", 2L, 1L, 12L, 6L, 0.5),
      ("src_c", 1L, 0L, 3L, 0L, 0.0)))
  }
}
