package graft

import org.apache.spark.sql.functions._
import graft.ann.Ann
import graft.operators.{Pipeline, TimeSeries}
import graft.sources.Tables

/** Hand-derivations for the r14 closing additions: a16 (filtered
  * vector search), p2 (epoch-capped mixture plan), ts33 (seasonal
  * strength), m8 (stub-PCM frame energy), x27 (token fertility). */
class FilteredMixAudioSpec extends SparkSpec {
  import spark.implicits._

  test("filteredKnn: only same-label candidates rank, and the filtered subset equals brute on it") {
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
    val out = Ann.filteredKnn(emb, "vec_id", "embedding", "label",
      Seq(0L, 1L, 2L), 5).cache()
    // every (query, neighbor) pair shares the query's label
    val lbl = emb.select(col("vec_id").as("nn_id"),
      col("label").as("nn_label"))
    val crossLabel = out.join(lbl, "nn_id")
      .filter(col("label") =!= col("nn_label"))
    assert(crossLabel.count() === 0, "pre-filter must never leak a cross-label candidate")
    // pre-filtering == brute force over the label-restricted corpus
    val q0lbl = emb.filter(col("vec_id") === 0L).head().getAs[Int]("label")
    val restricted = emb.filter(col("label") === q0lbl)
    val brute = Ann.knnBrute(restricted, "vec_id", "embedding", Seq(0L), 5)
      .select("query_id", "nn_id", "cos", "rank")
    val filt = out.filter(col("query_id") === 0L)
      .select("query_id", "nn_id", "cos", "rank")
    assert(filt.exceptAll(brute).count() === 0 &&
      brute.exceptAll(filt).count() === 0,
      "filtered top-k must equal brute top-k over the filtered corpus")
  }

  test("mixEpochs: hand-derived ceiling division, cap, and shares") {
    // A: 10 tokens -> 1 epoch (eff 10); B: 3 -> ceil(10/3)=4 (eff 12);
    // C: 1 -> ceil(10/1)=10 capped at 4 (eff 4). Total eff 26.
    val docs = Seq(
      ("A", "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"),
      ("B", "t1 t2 t3"),
      ("C", "t1")).toDF("source", "text")
    val out = Pipeline.mixEpochs(docs, "source", "text", 4).collect()
    val m = out.map(r => r.getAs[String]("source") ->
      (r.getAs[Long]("tokens"), r.getAs[Long]("epochs"),
       r.getAs[Long]("effective_tokens"), r.getAs[Double]("share"))).toMap
    assert(m("A") === ((10L, 1L, 10L, math.rint(10.0 / 26.0 * 1e6) / 1e6)))
    assert(m("B") === ((3L, 4L, 12L, math.rint(12.0 / 26.0 * 1e6) / 1e6)))
    assert(m("C") === ((1L, 4L, 4L, math.rint(4.0 / 26.0 * 1e6) / 1e6)))
  }

  test("mixEpochs: epochs bounded by cap and >= 1; shares sum to ~1 on real docs") {
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val out = Pipeline.mixEpochs(docs, "source", "text", 4).cache()
    assert(out.filter(col("epochs") < 1 || col("epochs") > 4).count() === 0)
    val s = out.agg(sum(col("share"))).head().getDouble(0)
    assert(math.abs(s - 1.0) < 1e-4, s"shares must sum to ~1, got $s")
  }

  test("seasonalStrength: pure-seasonal series scores 1, flat-slot series scores 0, constant guard nulls") {
    // a: hour 1 = {0,0}, hour 2 = {10,10} -> within-slot resid 0,
    //    SS_total = 200 - 400/4 = 100 -> strength 1.0
    // b: all hour 1 = {0,10} -> resid = total = 50 -> strength 0.0
    // c: constant 5 -> SS_total 0 -> strength NULL
    val rows = Seq(
      ("a", "2024-01-01 01:00:00", 0.0), ("a", "2024-01-01 01:30:00", 0.0),
      ("a", "2024-01-01 02:00:00", 10.0), ("a", "2024-01-01 02:30:00", 10.0),
      ("b", "2024-01-01 01:00:00", 0.0), ("b", "2024-01-01 01:30:00", 10.0),
      ("c", "2024-01-01 01:00:00", 5.0), ("c", "2024-01-01 02:00:00", 5.0))
    val df = rows.toDF("event_type", "ts_s", "value")
      .withColumn("ts", to_timestamp(col("ts_s")))
    val out = TimeSeries.seasonalStrength(df, "event_type", "ts", "value")
      .collect().map(r => r.getAs[String]("event_type") -> r).toMap
    assert(out("a").getAs[Double]("ss_total_r") === 100.0)
    assert(out("a").getAs[Double]("ss_resid_r") === 0.0)
    assert(out("a").getAs[Double]("seasonal_strength") === 1.0)
    assert(out("b").getAs[Double]("seasonal_strength") === 0.0)
    assert(out("b").getAs[Double]("ss_total_r") === 50.0)
    assert(out("c").isNullAt(out("c").fieldIndex("seasonal_strength")))
    assert(out("a").getAs[Long]("n_slots") === 2 &&
      out("b").getAs[Long]("n_slots") === 1)
  }

  test("seasonalStrength: resid never exceeds total (up to quantization) on real events") {
    val ev = graft.sources.Tables.events(spark, sfDir)
    val out = TimeSeries.seasonalStrength(ev, "event_type", "ts", "value")
    // floor-quantization can only LOWER resid; strength stays in [0, 1+eps]
    val bad = out.filter(col("seasonal_strength") < -1e-6 ||
      col("seasonal_strength") > 1.0 + 1e-6)
    assert(bad.count() === 0)
    val total = out.agg(sum(col("n_events"))).head().getLong(0)
    assert(total === ev.count())
  }

  test("audioEnergy: hand-derived frame energies, silence rule, empty-frame split") {
    // frameSize 4: "aaaa" -> one frame, e = 4*(97-128)^2 = 3844;
    // "aaaaaa" -> frames (4, 2 samples): 3844 and 1922.
    // silentMeanEnergy 1000: mean 961 per sample < 1000 -> both silent.
    val docs = Seq((1L, "aaaa"), (2L, "aaaaaa")).toDF("doc_id", "text")
    val out = graft.multimodal.Binary.audioEnergy(docs, "doc_id", "text", 4, 1000)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Long]("n_frames") === 1)
    assert(out(1L).getAs[Long]("total_energy") === 3844L)
    assert(out(1L).getAs[Long]("peak_energy") === 3844L)
    assert(out(1L).getAs[Long]("silent_frames") === 1)
    assert(out(2L).getAs[Long]("n_frames") === 2)
    assert(out(2L).getAs[Long]("total_energy") === 5766L)
    assert(out(2L).getAs[Long]("peak_energy") === 3844L)
    assert(out(2L).getAs[Double]("silent_frac") === 1.0)
  }

  test("audioEnergy: a loud frame beats the threshold; spaces carry the energy") {
    // ' ' = 32 -> dv^2 = 9216 per sample; threshold 2000 -> NOT silent
    val docs = Seq((1L, "    ")).toDF("doc_id", "text")
    val out = graft.multimodal.Binary.audioEnergy(docs, "doc_id", "text", 4, 2000)
      .head()
    assert(out.getAs[Long]("total_energy") === 4 * 9216L)
    assert(out.getAs[Long]("silent_frames") === 0)
    assert(out.getAs[Double]("silent_frac") === 0.0)
  }

  test("ttlCompaction: hand-derived carrier, drop counts, and reclaim fraction") {
    // user 1: two pre-cutoff versions + one post -> carrier kept, one
    // dropped, retained 2; user 2: all post -> nothing reclaimed;
    // user 3: all pre -> compacts to the single carrier.
    val cutoff = lit("2024-01-10 00:00:00").cast("timestamp")
    val rows = Seq(
      (1L, "2024-01-08 00:00:00"), (1L, "2024-01-09 00:00:00"),
      (1L, "2024-01-11 00:00:00"),
      (2L, "2024-01-12 00:00:00"),
      (3L, "2024-01-05 00:00:00"), (3L, "2024-01-06 00:00:00"))
    val df = rows.toDF("user_id", "ts_s")
      .withColumn("ts", to_timestamp(col("ts_s")))
    val out = graft.temporal.Temporal.ttlCompaction(df, "user_id", "ts", cutoff)
      .collect().map(r => r.getAs[Long]("user_id") -> r).toMap
    assert(out(1L).getAs[Long]("n_pre") === 2 &&
      out(1L).getAs[Long]("dropped") === 1 &&
      out(1L).getAs[Long]("retained") === 2)
    assert(out(1L).getAs[Long]("last_pre_us") === 1704758400000000L) // 2024-01-09
    assert(out(2L).getAs[Long]("dropped") === 0 &&
      out(2L).isNullAt(out(2L).fieldIndex("last_pre_us")))
    assert(out(3L).getAs[Long]("retained") === 1 &&
      out(3L).getAs[Double]("reclaim_frac") === 0.5)
  }

  test("heartbeatGaps: hand-derived outage, downtime, uptime; single-sample guard") {
    // E = 10s: user 1 at 0/5/40s -> gaps 5s, 35s; one outage (>2E),
    // downtime 25s, span 40s -> uptime 0.375. user 2: one sample.
    val rows = Seq((1L, 0L, 1L), (1L, 5000000L, 2L), (1L, 40000000L, 3L),
      (2L, 0L, 4L))
    val df = rows.toDF("user_id", "us", "event_id")
      .withColumn("ts", timestamp_micros(col("us")))
    val out = TimeSeries.heartbeatGaps(df, "user_id", "ts", "event_id", 10000000L)
      .collect().map(r => r.getAs[Long]("user_id") -> r).toMap
    assert(out(1L).getAs[Long]("n_outages") === 1)
    assert(out(1L).getAs[Long]("longest_gap_us") === 35000000L)
    assert(out(1L).getAs[Long]("downtime_us") === 25000000L)
    assert(out(1L).getAs[Double]("uptime_frac") === 0.375)
    assert(out(2L).getAs[Long]("n_samples") === 1 &&
      out(2L).getAs[Long]("n_outages") === 0 &&
      out(2L).isNullAt(out(2L).fieldIndex("uptime_frac")))
  }

  test("a17 recall curve: 3 bounded rows, recall in [0,1], and @10 replays a12's mean") {
    val out = SparkEntry.queries("a17_recall_curve")(spark, sfDir)
      .collect().map(r => r.getAs[Int]("k") -> r).toMap
    assert(out.keySet === Set(1, 5, 10))
    out.values.foreach { r =>
      val k = r.getAs[Int]("k"); val nq = r.getAs[Long]("n_queries")
      val hit = r.getAs[Long]("n_hit"); val rec = r.getAs[Double]("recall_at_k")
      assert(hit >= 0 && hit <= nq * k)
      assert(rec >= 0.0 && rec <= 1.0)
    }
    val a12 = SparkEntry.queries("a12_ivf_recall")(spark, sfDir)
      .agg(sum(col("n_hit")), count(lit(1))).head()
    val expected = math.rint(a12.getLong(0).toDouble / (a12.getLong(1) * 10) * 1e6) / 1e6
    assert(out(10).getAs[Double]("recall_at_k") === expected,
      "recall@10 must equal a12's micro-averaged recall")
  }

  test("x27 fertility: entry output replays the integer cross-multiplied cut") {
    val out = SparkEntry.queries("x27_token_fertility")(spark, sfDir).cache()
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val direct = docs.select(col("lang"),
        graft.functions.Text.wsTokenCount(col("text")).cast("long").as("ws"),
        graft.functions.Text.regexTokenCount(col("text")).cast("long").as("re"))
      .groupBy("lang")
      .agg(sum(when(col("re") * 2 > col("ws") * 3, 1L).otherwise(0L)).as("hf"),
        sum(col("re")).as("re_t"), sum(col("ws")).as("ws_t"))
    val j = out.join(direct, "lang")
    assert(j.filter(col("high_fert_docs") =!= col("hf")).count() === 0)
    assert(j.filter(col("re_tokens") =!= col("re_t") ||
      col("ws_tokens") =!= col("ws_t")).count() === 0)
    assert(out.filter(abs(col("fertility") -
      round(col("re_tokens").cast("double") / col("ws_tokens"), 6)) > 1e-12)
      .count() === 0)
  }

  test("frame sampling is deterministic and stride-bounded") {
    val docs = Tables.documents(spark, sfDir).limit(50)
    val a = graft.multimodal.Binary.frameSample(docs, "doc_id", "text", 7)
      .select("doc_id", "frame_sum").as[(Long, Long)].collect().toMap
    val b = graft.multimodal.Binary.frameSample(docs, "doc_id", "text", 7)
      .select("doc_id", "frame_sum").as[(Long, Long)].collect().toMap
    assert(a == b && a.nonEmpty)
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  // ---- m4/m6 over the shared chunk artifact -----------------------------

  test("m4/m6 From-variants over ChunkCache == the direct derivations") {
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val withP = graft.multimodal.Binary.withPayload(docs, "doc_id", "text")
    val shared = graft.multimodal.ChunkCache.chunks(spark, sfDir, 64)

    val m4Direct = rows(graft.multimodal.Binary.chunkDupPairsFrom(
      graft.multimodal.Binary.chunked(withP, "doc_id", 64), "doc_id", 0.5)
      .orderBy("id_a", "id_b"))
    val m4Shared = rows(graft.multimodal.Binary.chunkDupPairsFrom(
      shared, "doc_id", 0.5).orderBy("id_a", "id_b"))
    assert(m4Shared === m4Direct)

    val m6Direct = rows(graft.multimodal.Binary.casStatsFrom(
      graft.multimodal.Binary.chunked(withP, "doc_id", 64)
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id")),
      "doc_id", "source"))
    val m6Shared = rows(graft.multimodal.Binary.casStatsFrom(
      shared, "doc_id", "source"))
    assert(m6Shared === m6Direct)

    // and the chunk table itself is the chunked() derivation plus the
    // doc-keyed tenant column
    val direct = rows(graft.multimodal.Binary.chunked(withP, "doc_id", 64)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .orderBy("doc_id", "chunk_idx"))
    assert(rows(shared.orderBy("doc_id", "chunk_idx")) === direct)
    // ... built from ONE documents scan: `source` rides the payload
    // projection instead of a second scan joined back on doc_id
    val build = graft.multimodal.ChunkCache.chunksArtifact(64).build(spark, sfDir)
    assert(build.columns.toSeq ===
      Seq("doc_id", "chunk_idx", "chunk_len", "chunk_md5", "source"))
    val scans = build.queryExecution.optimizedPlan.collectLeaves()
    assert(scans.size === 1, s"expected one documents scan:\n$scans")
    assert(build.inputFiles.forall(_.contains("documents.parquet")))
  }
}
