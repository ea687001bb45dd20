package graft

import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.ann.Ann
import graft.functions.{Text, Vec}
import graft.sources.Tables

class DedupAnnTextSpec extends SparkSpec {
  import spark.implicits._

  test("exact dedup groups identical texts under the min id") {
    val docs = Seq((1L, "hello world"), (2L, "hello world"), (3L, "bye"))
      .toDF("doc_id", "text")
    val got = Dedup.exact(docs, "doc_id", "text")
      .select("canonical_id", "n_docs", "doc_ids")
      .as[(Long, Long, String)].collect().toSet
    assert(got == Set((1L, 2L, "1,2"), (3L, 1L, "3")))
  }

  test("collect_min_k bounds the sample and matches slice(sort_array(collect_list))") {
    val n = 1000
    val df = spark.range(n).select(
      (col("id") % 7).as("g"),
      // reversed ids so arrival order != sorted order
      (lit(n.toLong) - col("id")).as("v"))
    val got = df.groupBy("g")
      .agg(Dedup.collectMinK(col("v"), 5).as("k5"),
        slice(sort_array(collect_list(col("v"))), 1, 5).as("ref5"),
        Dedup.collectMinK(col("v"), 10000).as("kAll"),
        sort_array(collect_list(col("v"))).as("refAll"))
    assert(got.filter(col("k5") =!= col("ref5") ||
      col("kAll") =!= col("refAll")).isEmpty)
    // string children too (rollback-audit path)
    val s = df.withColumn("v", concat(lit("id_"), col("v")))
      .groupBy("g")
      .agg(Dedup.collectMinK(col("v"), 3).as("k3"),
        slice(sort_array(collect_list(col("v"))), 1, 3).as("ref3"))
    assert(s.filter(col("k3") =!= col("ref3")).isEmpty)
  }

  test("exact dedup keeps the exact count with a bounded id sample") {
    val docs = spark.range(500).select(col("id").as("doc_id"),
      when(col("id") < 400, lit("same boilerplate text"))
        .otherwise(concat(lit("unique "), col("id"))).as("text"))
    val hot = Dedup.exact(docs, "doc_id", "text", sampleK = 10)
      .filter(col("n_docs") === 400)
      .select("canonical_id", "doc_ids").as[(Long, String)].head()
    assert(hot._1 == 0L)
    assert(hot._2 == (0L until 10L).mkString(","))
  }

  test("ngram jaccard finds a near-identical pair and scores 1.0 for clones") {
    val docs = Seq(
      (1L, "a b c d e f g"),
      (2L, "a b c d e f g"),        // clone -> jaccard 1.0
      (3L, "x y z q w e r")
    ).toDF("doc_id", "text")
    val got = Dedup.ngramJaccardPairsFrom(
        Dedup.shinglePostings(docs, "doc_id", "text", 3), 0.5)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
    assert(got.toSeq == Seq((1L, 2L, 1.0)))
  }

  test("prefix-filtered jaccard equals the unfiltered inverted-index join") {
    import org.apache.spark.sql.DataFrame
    // the pre-PPJoin formulation: full postings self-join, no prefix
    def unfiltered(docs: DataFrame, tau: Double): Set[(Long, Long, Long, Double)] = {
      val sh = docs
        .select(col("doc_id"), graft.functions.Text.shingles(col("text"), 3).as("sh"))
        .select(col("doc_id"), size(col("sh")).as("n_sh"), explode(col("sh")).as("__s"))
        .select(col("doc_id"), col("n_sh"),
          graft.functions.Text.md5Prefix60(col("__s")).as("shingle"))
      val a = sh.select(col("doc_id").as("id_a"), col("n_sh").as("n_a"), col("shingle"))
      val b = sh.select(col("doc_id").as("id_b"), col("n_sh").as("n_b"), col("shingle"))
      a.join(b, Seq("shingle"))
        .filter(col("id_a") < col("id_b"))
        .groupBy(col("id_a"), col("id_b"), col("n_a"), col("n_b"))
        .agg(count(lit(1)).as("shared"))
        .withColumn("jaccard", round(col("shared").cast("double") /
          (col("n_a") + col("n_b") - col("shared")), 6))
        .filter(col("jaccard") >= tau)
        .select("id_a", "id_b", "shared", "jaccard")
        .as[(Long, Long, Long, Double)].collect().toSet
    }
    val docs = graft.sources.Tables.documents(spark, sfDir)
    for (tau <- Seq(0.12, 0.5)) {
      val want = unfiltered(docs, tau)
      assert(want.nonEmpty || tau > 0.12, s"tau=$tau reference found no pairs")
      // force EACH plan through the router: threshold 0 routes to the
      // prefix plan, threshold 1.1 to the direct plan
      for (thr <- Seq(0.0, 1.1)) {
        val got = Dedup.ngramJaccardPairsFrom(
            Dedup.shinglePostings(docs, "doc_id", "text", 3), tau, thr)
          .as[(Long, Long, Long, Double)].collect().toSet
        assert(got == want, s"tau=$tau threshold=$thr plan changed the output")
      }
    }
  }

  test("positional filter cuts verify candidates without changing the pair set") {
    // Deterministic adversarial corpus at tau=0.8 (word-3-shingles,
    // so each doc has 30 distinct shingles and prefixLen = 7):
    //  - 20 NEAR-MISS pairs: 6 unique junk words (-> 6 df=1 shingles,
    //    positions 1-6, excluded by the df>=2 prefix rule), then a
    //    pair-shared 3-word marker (-> df=2 shingles from position 7,
    //    the only prefix survivors), then common boilerplate. The pair
    //    joins at first shared position ra=rb=7: overlap bound
    //    1+min(30-7)=24 < ceil(0.8/1.8*60)=27 -> positionally CUT,
    //    and indeed J=24/36=0.67 < 0.8.
    //  - 10 CLONE pairs (J=1.0): everything pair-shared, first shared
    //    position 1, bound 30 >= 27 -> kept, verified, reported.
    val boiler = (1 to 60).map(j => s"b${j % 21}").mkString(" ")
    val nearMiss = (0 until 40).map { i =>
      val junk = (1 to 6).map(j => s"u${i}_$j").mkString(" ")
      val marker = (1 to 3).map(j => s"m${i / 2}_$j").mkString(" ")
      (i.toLong, s"$junk $marker $boiler")
    }
    val clones = (0 until 20).map { i =>
      val junk = (1 to 6).map(j => s"c${i / 2}_$j").mkString(" ")
      val marker = (1 to 3).map(j => s"k${i / 2}_$j").mkString(" ")
      (100L + i, s"$junk $marker $boiler")
    }
    val docs = (nearMiss ++ clones).toDF("doc_id", "text")
    val sh = Dedup.shinglePostings(docs, "doc_id", "text", 3).localCheckpoint()
    val dfc = sh.groupBy(col("shingle")).agg(count(lit(1)).as("__df"))
      .localCheckpoint()
    val candNo = Dedup.jaccardPrefixCandidates(sh, dfc, 0.8, positional = false)
    val candPos = Dedup.jaccardPrefixCandidates(sh, dfc, 0.8, positional = true)
    val nNo = candNo.count(); val nPos = candPos.count()
    assert(nNo == 30, s"expected 30 unfiltered candidates, got $nNo")
    assert(nPos == 10, s"positional filter should cut the 20 near-miss pairs ($nNo -> $nPos)")
    // lossless: same final pair set as the direct plan = the 10 clones
    val direct = Dedup.jaccardDirect(sh, 0.8)
      .as[(Long, Long, Long, Double)].collect().toSet
    val prefix = Dedup.jaccardPrefix(sh, dfc, 0.8)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(prefix == direct)
    assert(direct.map(p => (p._1, p._2)) ==
      (0 until 10).map(i => (100L + 2 * i, 101L + 2 * i)).toSet)
  }

  test("ngram jaccard returns empty on an empty corpus (no NPE)") {
    val docs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.ngramJaccardPairsFrom(
      Dedup.shinglePostings(docs, "doc_id", "text", 3), 0.5).isEmpty)
  }

  test("dot_product and cosine_sim reject mismatched vector lengths") {
    val df = Seq((Seq(1.0f, 2.0f, 3.0f), Seq(1.0f, 2.0f))).toDF("a", "b")
    for (c <- Seq(Vec.dotNative(col("a"), col("b")),
                  Vec.cosine(col("a"), col("b")))) {
      val e = intercept[Exception] { df.select(c).collect() }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("vector lengths differ")), e.toString)
    }
  }

  test("multi-table LSH amplifies single-table recall at production planes") {
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
    val qs = Seq(0L, 1L, 2L, 3L, 4L)
    def recall(tables: Int): Double = {
      val brute = Ann.knnBrute(emb, "vec_id", "embedding", qs, 10)
        .select("query_id", "nn_id").as[(Long, Long)].collect().toSet
      val got = Ann.knnLsh(emb, "vec_id", "embedding", qs, 10, 16, 3, 42L, tables)
        .select("query_id", "nn_id").as[(Long, Long)].collect().toSet
      (brute intersect got).size.toDouble / brute.size
    }
    val r1 = recall(1)
    val r8 = recall(8)
    assert(r8 >= r1, s"union of 8 tables lost recall: $r1 -> $r8")
    assert(r8 > 0.3, s"recall@10 with 8 tables = $r8")
    // ranks stay contiguous per query after the cross-table dedup
    val ranks = Ann.knnLsh(emb, "vec_id", "embedding", qs, 10, 16, 3, 42L, 8)
      .groupBy("query_id").agg(max("rank").as("mx"), count(lit(1)).as("n"))
      .select("mx", "n").as[(Int, Long)].collect()
    assert(ranks.forall { case (mx, n) => mx.toLong == n })
  }

  test("prenormed cosine is bit-equal to the fused CosineSim on real pairs") {
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"),
        graft.functions.Vec.normNative(col("embedding")).as("nrm"))
      .limit(60)
    val a = emb.select(col("vec_id").as("ia"), col("embedding").as("va"), col("nrm").as("na"))
    val b = emb.select(col("vec_id").as("ib"), col("embedding").as("vb"), col("nrm").as("nb"))
    val diff = a.join(b, col("ia") < col("ib"))
      .select(
        graft.functions.Vec.cosine(col("va"), col("vb")).as("fused"),
        graft.functions.Vec.cosinePrenormed(col("va"), col("vb"),
          col("na"), col("nb")).as("pre"))
      .filter(not(col("fused") <=> col("pre"))).count()
    assert(diff == 0, s"$diff pairs diverged between fused and prenormed cosine")
  }

  test("IVF probing all cells degenerates to exact brute force") {
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
    val qs = Seq(0L, 1L, 2L, 3L, 4L)
    val brute = Ann.knnBrute(emb, "vec_id", "embedding", qs, 10)
      .select("query_id", "nn_id", "rank").as[(Long, Long, Int)].collect().toSet
    // the `label` cells 0..9 form ONE level-0 group at k2 = 10, so a
    // one-group probe ranks every cell, as a flat probe would
    val cents = Ann.ivfCentroids(emb, "embedding", "label")
    val gvec = Ann.groupCentroids(cents, 10)
    def probe(nprobe: Int) = Ann.knnIvfProbeHier(emb, "vec_id", "embedding",
      "label", cents, 10, qs, 10, nprobe, groupProbe = 1, gvec = gvec)
    val all = probe(1000)
      .select("query_id", "nn_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(all == brute)
    // nprobe=2 finds at least as much as probing the single best cell
    val n1 = probe(1).select("query_id", "nn_id").as[(Long, Long)].collect().toSet
    val n2 = probe(2).select("query_id", "nn_id").as[(Long, Long)].collect().toSet
    val r1 = (brute.map(t => (t._1, t._2)) intersect n1).size
    val r2 = (brute.map(t => (t._1, t._2)) intersect n2).size
    assert(r2 >= r1, s"nprobe=2 recall $r2 < nprobe=1 recall $r1")
  }

  test("minhash LSH candidates include exact clones") {
    val docs = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "a b c d e f g h i j"),
      (3L, "completely different words here today friend")
    ).toDF("doc_id", "text")
    val got = Dedup.minhashLshPairs(docs, "doc_id", "text", 3, 16, 4)
      .as[(Long, Long)].collect().toSet
    assert(got.contains((1L, 2L)))
    assert(!got.contains((1L, 3L)))
  }

  test("cosine of a vector with itself is 1; knn excludes self and ranks") {
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
    val self = emb.select(Vec.cosine(col("embedding"), col("embedding")).as("c"))
      .agg(min("c"), max("c")).as[(Double, Double)].head()
    assert(math.abs(self._1 - 1.0) <= 1e-6 && math.abs(self._2 - 1.0) <= 1e-6)

    val knn = Ann.knnBrute(emb, "vec_id", "embedding", Seq(0L), 5)
      .select("query_id", "nn_id", "rank", "cos")
      .as[(Long, Long, Int, Double)].collect()
    assert(knn.length == 5)
    assert(knn.forall(_._2 != 0L))
    assert(knn.map(_._3).toSeq == (1 to 5))
    assert(knn.map(_._4).toSeq == knn.map(_._4).sorted.reverse.toSeq)
  }

  test("blocked knn agrees with brute force when restricted to the cell") {
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
    val cell0 = emb.filter($"vec_id" === 7L).select("label").as[Int].head()
    val blocked = Ann.knnBlocked(emb, "vec_id", "embedding", "label", Seq(7L), 5)
      .select("nn_id").as[Long].collect().toSet
    val brute = Ann.knnBrute(emb.filter($"label" === cell0),
        "vec_id", "embedding", Seq(7L), 5)
      .select("nn_id").as[Long].collect().toSet
    assert(blocked == brute && blocked.size == 5)
  }

  test("fingerprint ignores case, punctuation and extra whitespace") {
    val docs = Seq((1L, "Hello,  World!"), (2L, "hello world"))
      .toDF("doc_id", "text")
    val fps = docs.select(Text.fingerprint(col("text")).as("fp"))
      .as[String].collect()
    assert(fps(0) == fps(1))
  }

  test("native normalize matches the regex chain on real docs and edges") {
    val chain = (t: org.apache.spark.sql.Column) =>
      trim(regexp_replace(regexp_replace(lower(t), "[^a-z0-9 ]", ""), " +", " "))
    val edges = Seq("", "   ", "!!!", "  A  b\tC!! d9 ",
      "ümlaut ÉTÉ 中文 mixedÜcase", "a", " trailing ", "UPPER lower 0123")
      .zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("doc_id", "text")
    val corpus = graft.sources.Tables.documents(spark, sfDir)
      .select("doc_id", "text")
      .unionByName(edges)
    val diff = corpus.select(
        Text.normalized(col("text")).as("native"), chain(col("text")).as("regex"))
      .filter(col("native") =!= col("regex") ||
        col("native").isNull =!= col("regex").isNull)
      .count()
    assert(diff == 0)
  }

  test("shingles: n-gram count and short-text fallback") {
    val df = Seq((1L, "a b c d"), (2L, "a b")).toDF("id", "text")
    val got = df.select(col("id"), Text.shingles(col("text"), 3).as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    assert(got(1L) == Seq("a b c", "b c d"))
    assert(got(2L) == Seq("a b")) // shorter than n -> whole text
  }

  test("range search: agrees with the brute-force predicate and nests by tau") {
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
    val qs = Seq(0L, 1L, 2L)
    val loose = Ann.rangeSearch(emb, "vec_id", "embedding", qs, 0.25)
      .as[(Long, Long, Double)].collect().toSet
    // every reported cosine satisfies the radius, none is a self-pair
    loose.foreach { case (q, nn, cos) => assert(cos >= 0.25 && q != nn) }
    // equals the top-k scorer's pair set restricted to the radius, at
    // k = corpus size (knnBrute is the established exact baseline)
    val n = emb.count().toInt
    val brute = Ann.knnBrute(emb, "vec_id", "embedding", qs, n)
      .filter($"cos" >= 0.25).select($"query_id", $"nn_id", $"cos")
      .as[(Long, Long, Double)].collect().toSet
    assert(loose == brute)
    // tighter radius is a subset
    val tight = Ann.rangeSearch(emb, "vec_id", "embedding", qs, 0.4)
      .as[(Long, Long, Double)].collect().toSet
    assert(tight.subsetOf(loose))
    assert(tight == loose.filter(_._3 >= 0.4))
  }

  test("novelty profile counts shingles first seen in earlier docs") {
    // doc 1 owns all its shingles; doc 2 clones doc 1 (everything
    // copied); doc 3 is half-new: shares the "c d e" tail region with
    // doc 1, contributes fresh shingles of its own
    val docs = Seq(
      (1L, "a b c d e"),
      (2L, "a b c d e"),
      (3L, "c d e x y")
    ).toDF("doc_id", "text")
    val sh = Dedup.shinglePostings(docs, "doc_id", "text", 3)
    val got = graft.operators.Pipeline
      .noveltyProfileFrom(sh, Dedup.shingleDf(sh))
      .as[(Long, Int, Long, Double)].collect().toSeq
    // doc 1: shingles {abc, bcd, cde} all first-owned -> 0 copied
    // doc 2: same 3 shingles, all first seen in doc 1 -> 3 copied
    // doc 3: {cde, dex, exy} -> cde copied, 2 fresh
    assert(got == Seq(
      (1L, 3, 0L, 0.0),
      (2L, 3, 3L, 1.0),
      (3L, 3, 1L, 0.333333)))
  }

  test("source overlap counts clusters spanning each source pair once") {
    val clusters = Seq(
      (1L, 1L), (2L, 1L), (3L, 1L),   // cluster 1 spans s1, s2
      (4L, 4L), (5L, 4L),             // cluster 4 spans s1, s3
      (6L, 6L)                        // singleton -> no pair
    ).toDF("doc_id", "cluster_id")
    val docs = Seq(
      (1L, "s1"), (2L, "s2"), (3L, "s2"),  // two s2 docs, ONE pair row
      (4L, "s1"), (5L, "s3"), (6L, "s9")
    ).toDF("doc_id", "source")
    val got = graft.operators.Pipeline
      .sourceOverlapFrom(clusters, docs, "doc_id", "source")
      .as[(String, String, Long)].collect().toSeq
    assert(got == Seq(("s1", "s2", 1L), ("s1", "s3", 1L)))
  }

  test("index stats report occupancy balance and empty cells exactly") {
    // cells: 0 -> 3 rows, 1 -> 1 row, 7 -> 4 rows; 8 cells total
    val embCell = Seq(
      (0L, 0L), (1L, 0L), (2L, 0L),
      (3L, 1L),
      (4L, 7L), (5L, 7L), (6L, 7L), (7L, 7L)
    ).toDF("vec_id", "cell")
    val got = Ann.indexStats(embCell, "cell", 8L)
      .as[(Long, Long, Long, Long, Long, Long, Double, Double)].head()
    // (n_vectors, occupied, total, empty, min, max, avg, imbalance)
    assert(got == ((8L, 3L, 8L, 5L, 1L, 4L, 2.666667, 1.5)))
  }

  test("x16 prune gate decision follows the measured df=1 postings mass") {
    val sh = graft.dedup.ClusterCache.postings(spark, sfDir, 3)
    val dfc = graft.dedup.ClusterCache.shingleDf(spark, sfDir, 3)
    val st = graft.dedup.ClusterCache.dfSkewStats(spark, sfDir, 3)
    // memoized stats must equal a fresh computation over the df table
    assert(st == Dedup.dfSkewStats(dfc))
    val df1Frac = st.df1.toDouble / math.max(1L, st.postings)
    val plan = Dedup.containmentPairsFrom(sh, 0.6,
        dfcPre = Some(dfc), statsPre = Some(st))
      .queryExecution.optimizedPlan.toString
    // the routed plan contains the df>=2 semi-join prune exactly when
    // the measured df=1 mass clears the gate (pins the gate wiring,
    // not just the constant)
    assert(plan.contains("LeftSemi") == (df1Frac >= Dedup.PruneDf1Fraction))
  }

  test("LSH ANN recall@10 vs brute force is useful (> 0.3)") {
    val emb = Tables.embeddings(spark, sfDir)
    val qs = Seq(0L, 1L, 2L, 3L, 4L)
    val brute = Ann.knnBrute(emb, "vec_id", "embedding", qs, 10)
      .select("query_id", "nn_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val lsh = Ann.knnLsh(emb, "vec_id", "embedding", qs, 10, 8, 3, 42L)
      .select("query_id", "nn_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = qs.map { q =>
      val b = brute(q)
      (b intersect lsh.getOrElse(q, Set.empty)).size.toDouble / b.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean > 0.3, s"mean recall@10 = $mean")
  }

  test("simhash: clones collide at hamming 0, fingerprints are 32-bit") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "one two three four five six")
    ).toDF("doc_id", "text")
    val fp = Dedup.simhashFingerprints(docs, "doc_id", "text", 8)
      .select("doc_id", "simhash").as[(Long, Long)].collect().toMap
    assert(fp(1L) == fp(2L))
    assert(fp.values.forall(v => v >= 0 && v < (1L << 32)))
  }
}
