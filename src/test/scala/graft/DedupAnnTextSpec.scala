package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
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

  test("d6: cluster labels are fixpoint-consistent with the pair graph") {
    val docs = Tables.documents(spark, sfDir)
    val labels = References.dupClusters(docs, "doc_id", "text", 3, 16, 4)
      .as[(Long, Long)].collect().toMap
    val pairs = graft.dedup.Dedup
      .minhashLshPairs(docs, "doc_id", "text", 3, 16, 4)
      .as[(Long, Long)].collect()
    // connected nodes share a label, and each label is its component min
    assert(pairs.forall { case (a, b) => labels(a) == labels(b) })
    assert(labels.forall { case (idv, l) => l <= idv })
    assert(labels.values.toSet.forall(l => labels(l) == l))
  }

  test("simhash/shingles keep trailing empty tokens (Spark split parity)") {
    // the composed HOF formulation SimHash32 replaced — Spark's
    // split(text, ' ') keeps trailing empties, so the native expression
    // must too for texts with trailing/double spaces
    def composed(text: org.apache.spark.sql.Column) = {
      val hashes = transform(array_distinct(split(text, " ")),
        w => conv(substring(md5(w), 1, 8), 16, 10).cast("long"))
      val bitScores = transform(sequence(lit(0), lit(31)), i =>
        aggregate(hashes, lit(0),
          (acc, h) => acc + when(
            (h / pow(lit(2.0), i.cast("double"))).cast("long") % 2 === 1, 1)
            .otherwise(-1)))
      aggregate(reverse(bitScores), lit(0L),
        (acc, s) => acc * 2 + when(s > 0, 1L).otherwise(0L))
    }
    val tricky = Seq("a b ", " a", "a  b", "plain text", "x")
      .toDF("text")
    val bad = tricky.select(
        graft.dedup.Dedup.simhash32($"text").as("native"),
        composed($"text").as("composed"))
      .filter($"native" =!= $"composed").count()
    assert(bad == 0)
    // WordShingles: same split semantics -> "a b " has words [a, b, ""]
    val sh = tricky.filter($"text" === "a b ")
      .select(graft.functions.Text.shingles($"text", 2))
      .as[Seq[String]].head()
    assert(sh == Seq("a b", "b "))
  }

  test("Md5Prefix60 equals the composed conv(substring(md5)) form") {
    val docs = Tables.documents(spark, sfDir)
    val mismatches = docs.select(
        graft.functions.Text.md5Prefix60($"text").as("native"),
        conv(substring(md5($"text"), 1, 15), 16, 10).cast("long").as("composed"))
      .filter($"native" =!= $"composed").count()
    assert(mismatches == 0)
  }

  // ---- connected components vs union-find --------------------------------

  private val graphGen: Gen[(Int, List[(Long, Long)])] = for {
    n <- Gen.choose(2, 30)
    m <- Gen.choose(0, 40)
    edges <- Gen.listOfN(m, for {
      a <- Gen.choose(0, n - 1); b <- Gen.choose(0, n - 1) if a != b
    } yield (math.min(a, b).toLong, math.max(a, b).toLong))
  } yield (n, edges.distinct)

  private def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    (0 until n).map(i => i.toLong -> find(i).toLong).toMap
  }

  test("connectedComponents equals union-find on random graphs") {
    for ((n, edges) <- samples(graphGen, 8)) {
      val ids = (0L until n.toLong).toDF("id")
      val pairs = edges.toDF("id_a", "id_b")
      val got = Dedup.connectedComponents(ids, pairs, "id", maxIter = n + 1)
        .as[(Long, Long)].collect().toMap
      val want = unionFind(n, edges)
      assert(got == want, s"n=$n edges=$edges")
    }
  }

  test("connectedComponents converges in O(log n) rounds on a 300-node path") {
    // min-label propagation would need 299 rounds here; the alternating
    // large-star/small-star contraction must finish within 12
    val n = 300
    val ids = (0L until n.toLong).toDF("id")
    val pairs = (0L until (n - 1).toLong).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(ids, pairs, "id", maxIter = 12)
      .as[(Long, Long)].collect().toMap
    assert(got.size == n && got.values.forall(_ == 0L))
  }

  // ---- a18 -----------------------------------------------------------------

  /** Test-only naive MMR over collected pool+pairs — the independent
    * twin the distributed unrolled greedy must match pick-for-pick. */
  private def naiveMmr(pool: Seq[(Long, Long, Long)],
                       pm: Map[(Long, Long, Long), Long],
                       selectK: Int, lt: Long): Seq[(Long, Int, Long)] =
    pool.map(_._1).distinct.sorted.flatMap { q =>
      val cands = pool.filter(_._1 == q).map(t => (t._2, t._3))
      val picks = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
      (1 to selectK).foreach { _ =>
        val rest = cands.filterNot(c => picks.exists(_._1 == c._1))
        val best = rest.map { case (id, rel) =>
          val red = if (picks.isEmpty) 0L
            else picks.map(p => pm((q, id, p._1))).max
          (lt * rel - (10 - lt) * red, rel, id)
        }.sortBy(t => (-t._1, -t._2, t._3)).head
        picks += ((best._3, best._2))
      }
      picks.zipWithIndex.map { case ((id, _), i) => (q, i + 1, id) }
    }

  test("mmrDiversify matches the naive greedy twin at λ∈{3,7}") {
    val emb = Tables.embeddings(spark, sfDir)
    for (lt <- Seq(3, 7)) {
      val got = Ann.mmrDiversify(emb, "vec_id", "embedding",
          Seq(0L, 1L, 2L), 10, 4, lt)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
      // independent pool + pair sims straight off knnBrute + cosine
      val pool = Ann.knnBrute(emb, "vec_id", "embedding", Seq(0L, 1L, 2L), 10)
        .select(col("query_id"), col("nn_id"),
          round(col("cos") * 1e6).cast("long").as("rel"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      val ids = pool.map(_._2).distinct
      val vecs = emb.filter(col("vec_id").isin(ids: _*))
        .select(col("vec_id"), col("embedding"))
        .collect().map(r => (r.getLong(0),
          r.getSeq[Float](1).map(_.toDouble).toArray)).toMap
      def cos(a: Array[Double], b: Array[Double]): Long = {
        val dot = a.zip(b).map { case (x, y) => x * y }.sum
        val na = math.sqrt(a.map(x => x * x).sum)
        val nb = math.sqrt(b.map(x => x * x).sum)
        math.round(BigDecimal(dot / (na * nb))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble * 1e6)
      }
      val pm = (for {
        (q, ai, _) <- pool; (q2, bi, _) <- pool
        if q2 == q && ai != bi
      } yield ((q, ai, bi), cos(vecs(ai), vecs(bi)))).toMap
      assert(got === naiveMmr(pool, pm, 4, lt),
        s"λ₁₀=$lt greedy mismatch")
    }
  }

  test("mmrDiversify at λ₁₀=10 degenerates to knnBrute's top-selectK") {
    val emb = Tables.embeddings(spark, sfDir)
    val got = Ann.mmrDiversify(emb, "vec_id", "embedding",
        Seq(0L, 1L), 10, 5, 10)
      .select(col("query_id"), col("pick_rank").as("rank"), col("nn_id"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toList
    val want = Ann.knnBrute(emb, "vec_id", "embedding", Seq(0L, 1L), 10)
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("nn_id"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toList
    assert(got === want)
  }

  test("mmrDiversify skips an exact duplicate that pure relevance would keep") {
    // v1 and v2 are identical vectors (both ~aligned with query 0);
    // v3 is distinct but still relevant. Pure top-2 keeps the dup;
    // MMR at λ=0.5 must pick v3 second.
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.9f, 0.1f, 0.0f)),
      (3L, Array(0.7f, 0.0f, 0.5f))
    ).toDF("vec_id", "embedding")
    val pure = Ann.mmrDiversify(emb, "vec_id", "embedding", Seq(0L), 3, 2, 10)
      .collect().map(_.getLong(2)).toList
    val mmr = Ann.mmrDiversify(emb, "vec_id", "embedding", Seq(0L), 3, 2, 5)
      .collect().map(_.getLong(2)).toList
    assert(pure === List(1L, 2L)) // relevance alone keeps the duplicate
    assert(mmr === List(1L, 3L))  // MMR diversifies past it
  }
}
