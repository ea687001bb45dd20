package graft

import org.apache.spark.sql.functions._
import graft.functions.Sketch
import graft.temporal.Temporal
import graft.dedup.Dedup
import graft.multimodal.Binary
import graft.sources.Tables

/** Round-8 additions: sketches (HLL / Count-Min), SCD2, containment,
  * perceptual-hash index. */
class SketchScd2Spec extends SparkSpec {
  import spark.implicits._

  // ---- HyperLogLog -------------------------------------------------------

  test("hllDistinct estimate is within the m=16 error envelope and exact is exact") {
    val df = (1 to 5000).map(i => ("g", i % 700)).toDF("g", "k")
    val row = Sketch.hllDistinct(df, Seq("g"), "k").head()
    assert(row.getAs[Long]("exact_distinct") === 700L)
    assert(row.getAs[Long]("n_items") === 5000L)
    val est = row.getAs[Double]("est_distinct")
    // 1.04/sqrt(16) = 26% std error; 3 sigma bound
    assert(est > 700 * 0.2 && est < 700 * 2.2, s"est $est wildly off 700")
  }

  test("hllDistinct is insensitive to duplication and order (registers are max-merged)") {
    val base = (1 to 300).map(i => ("g", i)).toDF("g", "k")
    val dup = base.union(base).union(base.orderBy(desc("k")))
    val a = Sketch.hllDistinct(base, Seq("g"), "k")
      .select("est_distinct").head().getDouble(0)
    val b = Sketch.hllDistinct(dup, Seq("g"), "k")
      .select("est_distinct").head().getDouble(0)
    assert(a === b)
  }

  test("hllDistinct register table stays at <= m rows per group") {
    val df = (1 to 4000).flatMap(i => Seq(("a", i), ("b", i * 7))).toDF("g", "k")
    val out = Sketch.hllDistinct(df, Seq("g"), "k", p = 4)
    assert(out.count() === 2)
    // the register path never materializes more than 2 groups x 16 buckets
    val regs = df.select(col("g"),
        pmod(graft.functions.Text.md5Prefix60(col("k").cast("string")), lit(16L)).as("b"))
      .distinct().count()
    assert(regs <= 32)
  }

  // ---- Count-Min ---------------------------------------------------------

  test("cmsTopK never under-estimates and finds the planted heavy hitter") {
    val heavy = Seq.fill(500)(42)
    val tail = (1 to 2000).map(_ % 97 + 100)
    val df = (heavy ++ tail).toDF("k")
    val out = Sketch.cmsTopK(df, "k", depth = 4, width = 64, k = 5).collect()
    assert(out.forall(r => r.getAs[Long]("est") >= r.getAs[Long]("exact")),
      "CMS under-estimated")
    assert(out.head.getAs[Int]("k") === 42, "heavy hitter not ranked first")
    assert(out.head.getAs[Long]("exact") === 500L)
  }

  test("cmsTopK output is deterministic") {
    val df = (1 to 3000).map(i => i % 50).toDF("k")
    val a = Sketch.cmsTopK(df, "k").collect().toSeq
    val b = Sketch.cmsTopK(df, "k").collect().toSeq
    assert(a === b)
  }

  // ---- SCD2 --------------------------------------------------------------

  test("scd2 intervals tile each key's timeline with one current row") {
    val df = Seq(
      (1, "2024-01-01 00:00:00", 1, "a"),
      (1, "2024-01-05 00:00:00", 2, "b"),
      (1, "2024-01-09 00:00:00", 3, "c"),
      (2, "2024-01-02 00:00:00", 4, "x")
    ).toDF("k", "ts", "tie", "v").withColumn("ts", col("ts").cast("timestamp"))
    val out = Temporal.scd2(df, "k", "ts", "tie").orderBy("k", "version").collect()
    assert(out.length === 4)
    val k1 = out.filter(_.getInt(0) == 1)
    assert(k1.map(_.getAs[Int]("version")).toSeq === Seq(1, 2, 3))
    // interval chain: valid_to of v_n == valid_from of v_{n+1}
    assert(k1(0).getAs[java.sql.Timestamp]("valid_to") ===
      k1(1).getAs[java.sql.Timestamp]("ts"))
    assert(k1(1).getAs[java.sql.Timestamp]("valid_to") ===
      k1(2).getAs[java.sql.Timestamp]("ts"))
    // exactly one current row per key
    assert(out.count(_.getAs[Boolean]("is_current")) === 2)
    assert(k1(2).getAs[Boolean]("is_current"))
  }

  test("scd2 as-of via interval predicate equals Temporal.asOf") {
    val ev = sources.Tables.events(spark, sfDir)
    val at = lit("2024-01-20 00:00:00").cast("timestamp")
    val viaScd2 = Temporal.scd2(ev, "user_id", "ts", "event_id")
      .filter(col("ts") <= at && (col("valid_to").isNull || col("valid_to") > at))
      // several versions can share the boundary instant; as-of takes the last
      .groupBy(col("user_id"))
      .agg(max_by(col("event_id"), struct(col("ts"), col("event_id"))).as("event_id"))
    val viaAsOf = Temporal.asOf(ev, "user_id", "ts", "event_id", at)
      .select("user_id", "event_id")
    assert(viaScd2.exceptAll(viaAsOf).isEmpty && viaAsOf.exceptAll(viaScd2).isEmpty)
  }

  // ---- bitemporal --------------------------------------------------------

  test("bitemporalAsOf sees late corrections only past their ingest sequence") {
    val df = Seq(
      // key 1: v appended at seq 1 (valid Jan 1), CORRECTION appended at
      // seq 10 but valid back on Jan 2 (late-arriving, before the as-of)
      (1, "2024-01-01 00:00:00", 1L, "orig"),
      (1, "2024-01-02 00:00:00", 10L, "corrected"),
      // key 2: stable
      (2, "2024-01-03 00:00:00", 2L, "stable")
    ).toDF("k", "ts", "seq", "v").withColumn("ts", col("ts").cast("timestamp"))
    val at = lit("2024-01-05 00:00:00").cast("timestamp")
    // knowledge horizon seq<=5: the correction is invisible
    val early = Temporal.bitemporalAsOf(df, "k", "ts", "seq", at, lit(5L))
      .orderBy("k").collect()
    assert(early(0).getAs[String]("v") === "orig")
    assert(early(0).getAs[Boolean]("revised"))
    assert(early(0).getAs[Long]("current_seq") === 10L)
    assert(!early(1).getAs[Boolean]("revised"))
    // full knowledge: equals plain asOf
    val full = Temporal.bitemporalAsOf(df, "k", "ts", "seq", at, lit(Long.MaxValue))
    val asof = Temporal.asOf(df, "k", "ts", "seq", at)
    assert(full.select("k", "v").exceptAll(asof.select("k", "v")).isEmpty)
    assert(full.filter(col("revised")).count() === 0)
  }

  test("asOfTrend single-pass equals k independent asOf aggregates") {
    val ev = sources.Tables.events(spark, sfDir)
      .select("user_id", "ts", "event_id", "value")
    val ats = Seq("2024-01-10 00:00:00", "2024-01-25 00:00:00")
      .map(t => t.substring(0, 10) -> lit(t).cast("timestamp"))
    val trend = Temporal.asOfTrend(ev, "user_id", "ts", "event_id", "value", ats)
    val naive = ats.map { case (label, at) =>
      Temporal.asOf(ev, "user_id", "ts", "event_id", at)
        .agg(count(lit(1)).as("n_records"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("total_value"))
        .select(lit(label).as("checkpoint"), col("n_records"), col("total_value"))
        .withColumn("avg_value", round(col("total_value") / col("n_records"), 6))
    }.reduce(_ union _)
    assert(trend.exceptAll(naive).isEmpty && naive.exceptAll(trend).isEmpty)
  }

  // ---- streaming HLL -----------------------------------------------------

  test("cmsTopKStream drain equals the batch cmsTopK") {
    val batch = Sketch.cmsTopK(
      sources.Tables.events(spark, sfDir).select("user_id"), "user_id")
    val streamed = graft.streaming.Streams.cmsTopKStream(spark, sfDir)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("hllDistinctStream drain equals the batch hllDistinct") {
    val batch = Sketch.hllDistinct(
      sources.Tables.events(spark, sfDir)
        .withColumn("day", unix_micros(date_trunc("day", col("ts"))))
        .select("day", "user_id"),
      Seq("day"), "user_id", p = 4)
    val streamed = graft.streaming.Streams.hllDistinctStream(spark, sfDir)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  // ---- containment -------------------------------------------------------

  test("containmentPairs finds a planted snippet inside a host doc") {
    val host = (1 to 60).map(i => s"w$i").mkString(" ")
    val snippet = (20 to 30).map(i => s"w$i").mkString(" ")
    val other = (100 to 160).map(i => s"u$i").mkString(" ")
    val docs = Seq((1L, host), (2L, snippet), (3L, other)).toDF("doc_id", "text")
    val out = Dedup.containmentPairs(docs, "doc_id", "text", 3, 0.9).collect()
    // snippet (2) contained in host (1); host NOT contained in snippet
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((2L, 1L)))
    assert(out.head.getAs[Double]("containment") === 1.0)
  }

  test("containment of identical docs is 1.0 both directions") {
    val t = (1 to 30).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, t), (2L, t)).toDF("doc_id", "text")
    val out = Dedup.containmentPairs(docs, "doc_id", "text", 3, 0.9)
    assert(out.count() === 2)
    assert(out.select("containment").distinct().head().getDouble(0) === 1.0)
  }

  test("cached postings give identical d4/x16 results to the direct build") {
    val docs = sources.Tables.documents(spark, sfDir)
    val sh = graft.dedup.ClusterCache.postings(spark, sfDir, 3)
    val jd = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.12)
    val js = Dedup.ngramJaccardPairsFrom(sh, 0.12)
    assert(js.exceptAll(jd).isEmpty && jd.exceptAll(js).isEmpty)
    val cd = Dedup.containmentPairs(docs, "doc_id", "text", 3, 0.6)
    val cs = Dedup.containmentPairsFrom(sh, 0.6)
    assert(cs.exceptAll(cd).isEmpty && cd.exceptAll(cs).isEmpty)
  }

  // ---- PQ / ADC ----------------------------------------------------------

  test("pqAdc: an exact twin attains the minimum possible ADC distance") {
    // ADC(q, v) = sum_m dt[m][code_v[m]] and code_q[m] is the argmin of
    // dt[m] — so a vector sharing q's codes (an exact twin shares them
    // trivially) attains the minimum over ALL vectors. Plant a twin of
    // query 20 and assert it ranks first.
    val rnd = new scala.util.Random(7)
    val base = (0L until 40L).map(i =>
      (i, Array.fill(64)(rnd.nextFloat() * 2 - 1)))
    val withTwin = base :+ (99L, base(20)._2.clone())
    val emb = spark.createDataFrame(withTwin).toDF("vec_id", "embedding")
    val out = graft.ann.Ann.pqAdc(emb, "vec_id", "embedding",
      Seq(20L), m = 8, k = 16, topK = 5).collect()
    assert(out.head.getAs[Long]("nn_id") === 99L, "twin must rank first")
    // and everything else's ADC >= the twin's
    assert(out.forall(_.getAs[Double]("adc_dist") >= out.head.getAs[Double]("adc_dist")))
  }

  test("pqAdc is deterministic and returns topK per query") {
    val emb = sources.Tables.embeddings(spark, sfDir)
    val a = graft.ann.Ann.pqAdc(emb, "vec_id", "embedding", Seq(0L, 1L)).collect().toSeq
    val b = graft.ann.Ann.pqAdc(emb, "vec_id", "embedding", Seq(0L, 1L)).collect().toSeq
    assert(a === b)
    assert(a.count(_.getAs[Long]("query_id") == 0L) === 10)
  }

  test("a8's cached PQ index path equals the direct pqAdc build") {
    // SparkEntry wires a8 through CellIndexCache.rawPqCodes (index
    // built once per corpus); the search result must be bit-identical
    // to the self-contained build
    val emb = sources.Tables.embeddings(spark, sfDir)
    val direct = graft.ann.Ann.pqAdc(emb, "vec_id", "embedding",
      Seq(0L, 1L, 2L)).collect().toSeq
    val cached = graft.ann.Ann.pqAdcFromIndex(emb, "vec_id", "embedding",
      graft.ann.CellIndexCache.rawPqCodebook(spark, sfDir),
      graft.ann.CellIndexCache.rawPqCodes(spark, sfDir),
      Seq(0L, 1L, 2L)).collect().toSeq
    assert(cached === direct)
  }

  // ---- perceptual hash ---------------------------------------------------

  test("perceptualHash: identical payloads collide, near payloads land within hamming 3") {
    val a = (1 to 100).map(i => ('a' + i % 26).toChar).mkString
    val docs = Seq((1L, a), (2L, a), (3L, a.reverse.tail + "zz")).toDF("doc_id", "text")
    val ph = Binary.perceptualHash(docs, "doc_id", "text").collect()
    val h = ph.map(r => r.getAs[Long]("c0") :: r.getAs[Long]("c1") ::
      r.getAs[Long]("c2") :: r.getAs[Long]("c3") :: Nil)
    assert(h(0) === h(1), "identical payloads must hash identically")
    val pairs = Binary.perceptualHashPairs(docs, "doc_id", "text", maxHam = 3).collect()
    assert(pairs.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L
      && r.getAs[Long]("hamming") == 0L))
  }

  test("perceptualHashPairs pigeonhole is complete to hamming 3 vs brute force") {
    // payloads = random-ish strings; brute-force all-pairs hamming from
    // the hash table must equal the pigeonhole join's <=3 pair set
    val docs = (1L to 40L).map(i =>
      (i, (1 to 80).map(j => ('a' + (i * 31 + j * 7) % 26).toChar).mkString))
      .toDF("doc_id", "text")
    val ph = Binary.perceptualHash(docs, "doc_id", "text")
    val a = ph.select(col("doc_id").as("id_a"), col("c0").as("a0"),
      col("c1").as("a1"), col("c2").as("a2"), col("c3").as("a3"))
    val b = ph.select(col("doc_id").as("id_b"), col("c0").as("b0"),
      col("c1").as("b1"), col("c2").as("b2"), col("c3").as("b3"))
    val brute = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("hamming",
        bit_count(col("a0").bitwiseXOR(col("b0"))).cast("long") +
        bit_count(col("a1").bitwiseXOR(col("b1"))) +
        bit_count(col("a2").bitwiseXOR(col("b2"))) +
        bit_count(col("a3").bitwiseXOR(col("b3"))))
      .filter(col("hamming") <= 3)
      .select("id_a", "id_b", "hamming")
    val pigeon = Binary.perceptualHashPairs(docs, "doc_id", "text", maxHam = 3)
    assert(pigeon.exceptAll(brute).isEmpty && brute.exceptAll(pigeon).isEmpty)
  }

  test("perceptualHashIndex left-join keeps zero-candidate docs with NULL min_ham") {
    val docs = Seq((1L, "abcdefgh" * 10), (2L, "zyxw" * 25)).toDF("doc_id", "text")
    val out = Binary.perceptualHashIndex(docs, "doc_id", "text").orderBy("doc_id")
    assert(out.count() === 2)
    val rows = out.collect()
    rows.foreach { r =>
      if (r.getAs[Long]("n_cand") == 0L) assert(r.isNullAt(r.fieldIndex("min_ham")))
    }
  }

  test("approx distinct (HLL) is within 5% of exact") {
    val ev = Tables.events(spark, sfDir)
    val (exact, approx) = ev.agg(
      countDistinct($"user_id"), approx_count_distinct($"user_id", 0.01))
      .as[(Long, Long)].head()
    assert(math.abs(approx - exact).toDouble / exact <= 0.05)
  }
}
