package graft.keys

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.functions.Text

import Shared._

/** x- and p-keys: the training-data pipeline operators (language id,
  * quality, tokens, decontamination, LM statistics, retrieval) and the
  * composed curation pipelines. */
object PipelineKeys {
  private val Stopwords = Seq("the", "a")

  // x13's blocklist (all present in the synthetic 31-word vocabulary,
  // so the density test discriminates instead of flagging everything).
  // Shared by the entry and the oracle SQL so a retune cannot
  // desynchronize the engines.
  private val BlockWords = Seq("slow", "dup", "big")

  // x20/x21's benchmark probe set (BM25 query terms). 'dup' is the one
  // genuinely rare vocabulary item at every SF (~5% df vs ~78% for the
  // rest), so idf_bits exercises both the rare and the saturated branch.
  // Shared by the query wiring and the oracle SQL builder below.
  private val BenchProbes: Seq[(Long, String)] = Seq(
    0L -> "dup", 0L -> "merge",
    1L -> "spark", 1L -> "window", 1L -> "agg",
    2L -> "customer", 2L -> "order", 2L -> "line")
  private def benchProbeDf(s: SparkSession): DataFrame = {
    import s.implicits._
    BenchProbes.toDF("query_id", "term")
  }
  private def benchProbeValuesSql: String =
    BenchProbes.map { case (q, t) => s"($q, '$t')" }.mkString(", ")
  // x21's contamination threshold as a fraction of each probe's
  // maximum attainable BM25 mass (Retrieval.bm25QueryMax): θ = 7/10.
  // Relative, because absolute BM25 grows with bits(N) — measured
  // flag rate 8.8% at BOTH sf0.01 and sf0.1 under this rule, where a
  // fixed absolute cut drifted 5% -> 91% across the same two scales.
  private val X21ThetaNum = 7
  private val X21ThetaDen = 10
  // x30's drift flag threshold: |weekly mean − first-week baseline|
  // > 0.02 in integer micro units (both means are 6-dp multiples, so
  // the comparison is exact on both engines)
  private val X30DriftMicro = 20000L

  private def benchProbeSrc =
    s"""SELECT CAST(v.q AS BIGINT) AS query_id, v.t AS w
       |  FROM (VALUES $benchProbeValuesSql) v(q, t)""".stripMargin

  val keys: Seq[Key] = Seq(
    // the whole-corpus curation chain (exact dedup -> near-dup
    // survivorship -> quality+blocklist -> decontamination -> mixture
    // -> pack), every stage a consumer of the SHARED corpus artifacts
    // (d6's cluster table, the d4/x16/x8 shingle postings) — per-source
    // funnel counts + final kept tokens/pack bins. The "does it
    // compose without recomputation" headline query.
    // the composed curation pipeline: the full chain replayed —
    // exact-dedup canon, CC survivors (ccCtes), x2 quality + x13
    // blocklist density, x8 contamination vs the %20 bench set,
    // x12 mixture quotas over the CLEANED pool, x7 packing of the
    // final kept set — reduced to the per-source funnel
    Key("p1_curation_pipeline", () =>
      s"""WITH RECURSIVE $ccCtes,
         |d0 AS (SELECT doc_id, source, text, n_chars FROM documents),
         |ex AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS canon FROM d0),
         |surv AS (SELECT doc_id FROM (
         |    SELECT cl.doc_id, row_number() OVER (PARTITION BY cl.cluster_id
         |      ORDER BY d.n_chars DESC, cl.doc_id) AS rn
         |    FROM cl JOIN d0 d USING (doc_id)) WHERE rn = 1),
         |q3 AS (SELECT doc_id,
         |    round(0.4 * least(n_distinct::DOUBLE / n_words * 2.0, 1.0)
         |        + 0.3 * least(stop_hits::DOUBLE / n_words * 5.0, 1.0)
         |        + 0.3 * least((n_chars::DOUBLE / n_words) / 8.0, 1.0), 6) >= 0.5
         |      AS f_qual,
         |    block_hits * 20 <= n_words AS f_block
         |  FROM (SELECT doc_id, n_chars, len(words) AS n_words,
         |      len(list_distinct(words)) AS n_distinct,
         |      len(list_filter(words, w -> w IN (${Stopwords.map("'" + _ + "'").mkString(", ")}))) AS stop_hits,
         |      len(list_filter(words, w -> w IN (${BlockWords.map("'" + _ + "'").mkString(", ")}))) AS block_hits
         |    FROM (SELECT doc_id, n_chars, string_split(text, ' ') AS words FROM d0))),
         |${shingleCtes("wsh", "shl", "d0")},
         |shp AS (SELECT doc_id, ('0x' || substr(md5(unnest(shingles)), 1, 15))::BIGINT AS shingle FROM shl),
         |cont AS (SELECT DISTINCT doc_id FROM (
         |    SELECT c.doc_id FROM
         |      (SELECT doc_id, shingle FROM shp WHERE doc_id % 20 <> 0) c
         |    JOIN (SELECT doc_id AS bench_id, shingle FROM shp WHERE doc_id % 20 = 0) b
         |      USING (shingle)
         |    GROUP BY c.doc_id, b.bench_id HAVING count(*) >= 3)),
         |flags AS (SELECT d0.doc_id, d0.source,
         |    coalesce(d0.doc_id = ex.canon, FALSE) AS f_exact,
         |    s.doc_id IS NOT NULL AS f_surv,
         |    q3.f_qual AND q3.f_block AS f_qb,
         |    (d0.doc_id % 20 <> 0 AND ct.doc_id IS NULL) AS f_decon
         |  FROM d0 JOIN ex USING (doc_id)
         |  LEFT JOIN surv s ON s.doc_id = d0.doc_id
         |  JOIN q3 USING (doc_id)
         |  LEFT JOIN cont ct ON ct.doc_id = d0.doc_id),
         |k4 AS (SELECT f.doc_id, f.source, d0.text FROM flags f
         |  JOIN d0 USING (doc_id) WHERE f_surv AND f_qb AND f_decon),
         |db AS (SELECT source, doc_id,
         |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10000 AS bucket
         |  FROM k4),
         |ps AS (SELECT source, count(*) AS available FROM db GROUP BY source),
         |tot AS (SELECT CAST(sum(available) AS BIGINT) AS corpus_total FROM ps),
         |qs AS (SELECT source,
         |    CAST(floor(least(available, CAST(floor(corpus_total * 3 / 200.0) AS BIGINT))
         |      * 10000 / CAST(available AS DOUBLE)) AS BIGINT) AS bucket_threshold
         |  FROM ps CROSS JOIN tot),
         |k5 AS (SELECT k4.doc_id, k4.text FROM k4
         |  JOIN db USING (doc_id)
         |  JOIN qs ON qs.source = k4.source
         |  WHERE db.bucket < qs.bucket_threshold),
         |pt AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
         |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 8 AS shard
         |  FROM k5),
         |pk AS (SELECT doc_id, toks,
         |    shard * 1000000 + CAST(floor(CAST(coalesce(sum(toks) OVER (
         |      PARTITION BY shard ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |      / 512.0) AS BIGINT) AS binkey
         |  FROM pt)
         |SELECT f.source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN f_exact THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
         |  CAST(sum(CASE WHEN f_surv THEN 1 ELSE 0 END) AS BIGINT) AS n_surv,
         |  CAST(sum(CASE WHEN f_surv AND f_qb THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
         |  CAST(sum(CASE WHEN f_surv AND f_qb AND f_decon THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_decontam,
         |  CAST(sum(CASE WHEN pk.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_sampled,
         |  CAST(sum(CASE WHEN pk.doc_id IS NOT NULL THEN pk.toks ELSE 0 END) AS BIGINT)
         |    AS kept_tokens,
         |  count(DISTINCT pk.binkey) AS n_bins,
         |  min(CASE WHEN pk.doc_id IS NOT NULL THEN f.doc_id END) AS first_kept
         |FROM flags f LEFT JOIN pk ON pk.doc_id = f.doc_id
         |GROUP BY f.source ORDER BY f.source""".stripMargin)((s, d) =>
      graft.operators.Pipeline.curationPipelineFrom(
        Tables.documents(s, d),
        graft.dedup.ClusterCache.documents(s, d),
        graft.dedup.ClusterCache.postings(s, d),
        "doc_id", "text", "source", "n_chars",
        Stopwords, BlockWords)),

    // the epoch-capped repeat schedule over the CLEANED corpus would
    // compose p1's pool; published here over the raw per-source token
    // counts so the oracle replays one scan (the composed form is
    // p1's mixture stage with this arithmetic)
    // epoch-capped repeat plan: exact ceiling division toward the
    // largest source, cap 4 (Muennighoff 2023); one rounded share
    Key("p2_mix_epochs", () =>
      """WITH per AS (SELECT source, count(*) AS n_docs,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
        |  FROM documents GROUP BY 1),
        |e AS (SELECT source, n_docs, tokens,
        |    CAST(least(4, ((SELECT max(tokens) FROM per) + tokens - 1) // tokens)
        |      AS BIGINT) AS epochs
        |  FROM per),
        |f AS (SELECT source, n_docs, tokens, epochs,
        |    CAST(tokens * epochs AS BIGINT) AS effective_tokens FROM e)
        |SELECT source, n_docs, tokens, epochs, effective_tokens,
        |  round(CAST(effective_tokens AS DOUBLE) /
        |    CAST((SELECT sum(effective_tokens) FROM f) AS DOUBLE), 6) AS share
        |FROM f ORDER BY source""".stripMargin)((s, d) =>
      graft.operators.Pipeline.mixEpochs(
        Tables.documents(s, d), "source", "text", 4)),

    // contrastive hard-negative mining (DPR): a11's lexical top-20
    // anti-joined against its vector top-20 — lexically confusable
    // but semantically distant candidates, the negatives that teach an
    // embedding model; bounded at <= 20 rows/query at any corpus size.
    // Both legs come from the SHARED RetrievalCache candidate run.
    // a11's lex/vec CTEs, anti-joined: lexical top-20 minus the
    // vector top-20 (the lex CTE re-derived here carrying score_q6)
    Key("x22_hard_negatives", () =>
      s"""WITH ${bm25Ctes(
           "SELECT doc_id AS query_id, w FROM dw WHERE doc_id IN (0, 1, 2, 3, 4)")},
         |lex AS (SELECT query_id, doc_id, score_q6, rank AS lex_rank FROM (
         |    SELECT query_id, doc_id, score_q6, row_number() OVER (
         |      PARTITION BY query_id ORDER BY score_q6 DESC, doc_id) AS rank
         |    FROM bsc WHERE doc_id <> query_id)
         |  WHERE rank <= 20),
         |vsc AS (${cosPairs(nn = "doc_id")}),
         |vec AS (SELECT query_id, doc_id FROM (
         |    SELECT query_id, doc_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY cos DESC, doc_id) AS rank
         |    FROM vsc)
         |  WHERE rank <= 20)
         |SELECT l.query_id, l.doc_id, l.lex_rank, l.score_q6
         |FROM lex l LEFT JOIN vec v
         |  ON v.query_id = l.query_id AND v.doc_id = l.doc_id
         |WHERE v.doc_id IS NULL
         |ORDER BY l.query_id, l.lex_rank""".stripMargin)((s, d) => {
      val (lex, vec) = graft.operators.RetrievalCache.hybridLegs(s, d)
      graft.operators.Retrieval.hardNegatives(
        lex, vec.select(col("query_id"), col("doc_id")), "doc_id")
    }),

    Key("x1_langid", () =>
      """SELECT doc_id, lang, hits_en, hits_de, hits_es, hits_fr, guess,
        |  CAST(guess = lang AS INT) AS correct
        |FROM (
        |  SELECT doc_id, lang, hits_en, hits_de, hits_es, hits_fr,
        |    CASE WHEN hits_en = greatest(hits_en, hits_de, hits_es, hits_fr) THEN 'en'
        |         WHEN hits_de = greatest(hits_en, hits_de, hits_es, hits_fr) THEN 'de'
        |         WHEN hits_es = greatest(hits_en, hits_de, hits_es, hits_fr) THEN 'es'
        |         ELSE 'fr' END AS guess
        |  FROM (
        |    SELECT doc_id, lang,
        |      len(list_filter(words, w -> w IN ('the','a','of','and','in','to','is'))) AS hits_en,
        |      len(list_filter(words, w -> w IN ('der','die','das','und','ist','ein'))) AS hits_de,
        |      len(list_filter(words, w -> w IN ('el','la','de','y','que','un'))) AS hits_es,
        |      len(list_filter(words, w -> w IN ('le','la','et','les','des','un'))) AS hits_fr
        |    FROM (SELECT doc_id, lang, string_split(text, ' ') AS words FROM documents)))
        |ORDER BY doc_id""".stripMargin)((s, d) =>
      Text.withLangId(Tables.documents(s, d), "text")
        .select(col("doc_id"), col("lang"), col("hits_en"), col("hits_de"),
          col("hits_es"), col("hits_fr"), col("guess"),
          (col("guess") === col("lang")).cast("int").as("correct"))
        .orderBy("doc_id")),

    Key("x2_quality_score", () =>
      """SELECT doc_id, n_chars, n_words, n_distinct, stop_hits,
        |  round(0.4 * least(n_distinct::DOUBLE / n_words * 2.0, 1.0)
        |      + 0.3 * least(stop_hits::DOUBLE / n_words * 5.0, 1.0)
        |      + 0.3 * least((n_chars::DOUBLE / n_words) / 8.0, 1.0), 6) AS quality
        |FROM (SELECT doc_id, n_chars, len(words) AS n_words,
        |    len(list_distinct(words)) AS n_distinct,
        |    len(list_filter(words, w -> w IN ('the', 'a'))) AS stop_hits
        |  FROM (SELECT doc_id, n_chars, string_split(text, ' ') AS words FROM documents))
        |ORDER BY doc_id""".stripMargin)((s, d) => {
      val ws = Text.words(col("text"))
      Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars"),
          size(ws).as("n_words"),
          size(array_distinct(ws)).as("n_distinct"),
          Text.stopwordHits(ws, Stopwords).as("stop_hits"))
        .withColumn("quality", Text.qualityScore(
          col("n_words"), col("n_distinct"), col("stop_hits"), col("n_chars")))
        .orderBy("doc_id")
    }),

    Key("x3_token_count", () =>
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
        |  CAST(sum(len(regexp_extract_all(text, '[a-z]+|[0-9]+'))) AS BIGINT) AS re_tokens
        |FROM documents GROUP BY source ORDER BY source""".stripMargin)((s, d) =>
      Tables.documents(s, d)
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(Text.wsTokenCount(col("text"))).as("ws_tokens"),
          sum(Text.regexTokenCount(col("text"))).as("re_tokens"))
        .orderBy("source")),

    // tokenizer-fertility report per LANGUAGE (NEW r14): subword-ish
    // tokens per whitespace word — the tokenizer-equity statistic
    // (high-fertility languages pay more compute per word); the
    // per-doc "high fertility" cut (> 1.5) is integer
    // cross-multiplication (2·re > 3·ws), the ratios are the only
    // floats and are rounded once
    // subword-ish tokens per whitespace word per language; the
    // per-doc high-fertility cut is integer cross-multiplication
    Key("x27_token_fertility", () =>
      """WITH d AS (SELECT lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ws,
        |    CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS BIGINT) AS re
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(ws) AS BIGINT) AS ws_tokens,
        |  CAST(sum(re) AS BIGINT) AS re_tokens,
        |  CAST(sum(CASE WHEN re * 2 > ws * 3 THEN 1 ELSE 0 END) AS BIGINT) AS high_fert_docs,
        |  round(CAST(sum(re) AS DOUBLE) / CAST(sum(ws) AS BIGINT), 6) AS fertility,
        |  round(CAST(sum(CASE WHEN re * 2 > ws * 3 THEN 1 ELSE 0 END) AS BIGINT)
        |    / CAST(count(*) AS DOUBLE), 6) AS high_fert_frac
        |FROM d GROUP BY lang ORDER BY lang""".stripMargin)((s, d) =>
      Tables.documents(s, d)
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(Text.wsTokenCount(col("text")).cast("long")).as("ws_tokens"),
          sum(Text.regexTokenCount(col("text")).cast("long")).as("re_tokens"),
          sum(when(Text.regexTokenCount(col("text")) * 2 >
              Text.wsTokenCount(col("text")) * 3, lit(1L))
            .otherwise(lit(0L))).as("high_fert_docs"))
        .withColumn("fertility",
          round(col("re_tokens").cast("double") / col("ws_tokens"), 6))
        .withColumn("high_fert_frac",
          round(col("high_fert_docs") / col("n_docs").cast("double"), 6))
        .orderBy("lang")),

    // groupBy-min + re-join rather than min() OVER (PARTITION BY fp):
    // the aggregate is map-side partial (a hot fingerprint never funnels
    // its members through one window partition) and the per-fp side is
    // tiny — broadcast at this scale, AQE-splittable shuffle join at 100 TB
    Key("x4_fingerprint", () =>
      """SELECT doc_id, fp, min(doc_id) OVER (PARTITION BY fp) AS canonical_id
        |FROM (SELECT doc_id,
        |    md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
        |        ' +', ' ', 'g'))) AS fp
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin)((s, d) => {
      val fps = Tables.documents(s, d)
        .select(col("doc_id"), Text.fingerprint(col("text")).as("fp"))
      val canon = fps.groupBy(col("fp"))
        .agg(min(col("doc_id")).as("canonical_id"))
      fps.join(canon, Seq("fp"))
        .select("doc_id", "fp", "canonical_id")
        .orderBy("doc_id")
    }),

    // deterministic stratified sampling: per-language hash-bucket
    // quotas (en kept at 40%, everything else at 15%) — the decision
    // is a pure function of doc_id, so the sample is reproducible on
    // any cluster size and monotone under rate changes
    Key("x6_stratified_sample", () =>
      """SELECT lang, count(*) AS n_sampled, min(doc_id) AS first_id,
        |  CAST(sum(n_chars) AS BIGINT) AS sampled_chars
        |FROM (SELECT *,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS bucket
        |  FROM documents)
        |WHERE bucket < CASE WHEN lang = 'en' THEN 40 ELSE 15 END
        |GROUP BY 1 ORDER BY lang""".stripMargin)((s, d) => {
      val b = Text.hashBucket(col("doc_id"), 100)
      val quota = when(col("lang") === "en", 40).otherwise(15)
      Tables.documents(s, d)
        .withColumn("bucket", b)
        .filter(col("bucket") < quota)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_sampled"),
          min(col("doc_id")).as("first_id"),
          sum(col("n_chars")).as("sampled_chars"))
        .orderBy("lang")
    }),

    // concat-and-chunk packing: md5-sharded, id-ordered, 512-token bins
    // sharded contiguous packing: same md5 shard + cumsum-before math
    Key("x7_pack_sequences", () =>
      """WITH t AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 8 AS shard
        |  FROM documents),
        |c AS (SELECT *, CAST(coalesce(sum(toks) OVER (PARTITION BY shard ORDER BY doc_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
        |  FROM t)
        |SELECT shard, CAST(floor(cum_before / 512.0) AS BIGINT) AS bin,
        |  count(*) AS n_docs, CAST(sum(toks) AS BIGINT) AS total_tokens,
        |  min(doc_id) AS first_id
        |FROM c GROUP BY 1, 2 ORDER BY shard, bin""".stripMargin)((s, d) =>
      graft.operators.Pipeline.packSequences(Tables.documents(s, d),
        "doc_id", "text", 512, 8)),

    // eval-set decontamination: corpus docs sharing >= 3 distinct
    // 3-shingles with a benchmark doc (bench set = doc_id % 20 == 0)
    // decontamination: distinct-shingle overlap vs the % 20 bench set
    Key("x8_decontamination", () =>
      s"""WITH ${shingleCtes()},
        |e AS (SELECT doc_id, ('0x' || substr(md5(unnest(shingles)), 1, 15))::BIGINT AS shingle FROM sh),
        |b AS (SELECT doc_id AS bench_id, shingle FROM e WHERE doc_id % 20 = 0),
        |c AS (SELECT doc_id, shingle FROM e WHERE doc_id % 20 <> 0),
        |o AS (SELECT c.doc_id, b.bench_id, count(*) AS n_shared
        |  FROM c JOIN b USING (shingle) GROUP BY 1, 2 HAVING count(*) >= 3)
        |SELECT doc_id, bench_id, n_shared FROM (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY n_shared DESC, bench_id) AS rn FROM o)
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin)((s, d) =>
      graft.operators.Pipeline.decontaminate(Tables.documents(s, d),
        "doc_id", "text", 3, pmod(col("doc_id"), lit(20)) === 0, 3,
        postings = Some(graft.dedup.ClusterCache.postings(s, d)))),

    // per-source quality drift over ingest weeks: x2's score joined to
    // the serving log (event -> doc_id = event_id mod |docs|, footer
    // count), weekly mean vs the source's first-week baseline, drift
    // in exact integer micro units with a threshold flag — the
    // curation-monitoring report (the temporal axis applied to the
    // documents pipeline)
    // x30: x2's quality score joined to the serving log
    // (doc_id = event_id mod |documents|), weekly per-source mean
    // vs the source's first-week baseline; drift in exact integer
    // micro units (difference of two 6-dp multiples)
    Key("x30_quality_drift", () =>
      s"""WITH q AS (SELECT doc_id, source,
        |    round(0.4 * least(n_distinct::DOUBLE / n_words * 2.0, 1.0)
        |        + 0.3 * least(stop_hits::DOUBLE / n_words * 5.0, 1.0)
        |        + 0.3 * least((n_chars::DOUBLE / n_words) / 8.0, 1.0), 6) AS quality
        |  FROM (SELECT doc_id, source, n_chars, len(words) AS n_words,
        |      len(list_distinct(words)) AS n_distinct,
        |      len(list_filter(words, w -> w IN ('the', 'a'))) AS stop_hits
        |    FROM (SELECT doc_id, source, n_chars,
        |        string_split(text, ' ') AS words FROM documents))),
        |sv AS (SELECT event_id % (SELECT count(*) FROM documents) AS doc_id,
        |    strftime(date_trunc('week', ts), '%Y-%m-%d') AS week FROM events),
        |a AS (SELECT q.source, sv.week, count(*) AS n_served,
        |    round(CAST(sum(CAST(q.quality AS DECIMAL(18,6))) AS DOUBLE)
        |      / count(*), 6) AS avg_quality
        |  FROM sv JOIN q USING (doc_id) GROUP BY 1, 2),
        |b AS (SELECT source, week, n_served, avg_quality,
        |    first_value(avg_quality) OVER (PARTITION BY source ORDER BY week)
        |      AS baseline_quality
        |  FROM a)
        |SELECT source, week, n_served, avg_quality, baseline_quality,
        |  CAST(round((avg_quality - baseline_quality) * 1e6) AS BIGINT) AS drift_micro,
        |  abs(CAST(round((avg_quality - baseline_quality) * 1e6) AS BIGINT))
        |    > $X30DriftMicro AS drifted
        |FROM b ORDER BY source, week""".stripMargin)((s, d) => {
      val ws = Text.words(col("text"))
      val dq = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          Text.qualityScore(size(ws), size(array_distinct(ws)),
            Text.stopwordHits(ws, Stopwords), col("n_chars")).as("quality"))
      graft.operators.Pipeline.qualityDrift(dq, "doc_id", "source",
        "quality", ev(s, d), "event_id", "ts",
        graft.sources.ParquetStats.rowCount(s, s"$d/documents.parquet"),
        X30DriftMicro)
    }),

    // duplicate-SERVING drift: x30's sibling on the dedup axis — per
    // (source, week) of the serving log, how many served docs are
    // non-canonical exact duplicates (x4's fingerprint canonical);
    // catches a source that starts re-shipping already-ingested data
    // x31: x4's fingerprint canonical joined to the serving log —
    // per (source, week): served count, non-canonical-dup count,
    // dup rate
    Key("x31_dup_drift", () =>
      """WITH fp AS (SELECT doc_id, source,
        |    md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
        |        ' +', ' ', 'g'))) AS f
        |  FROM documents),
        |cn AS (SELECT f, min(doc_id) AS canon FROM fp GROUP BY 1),
        |fl AS (SELECT fp.doc_id, fp.source,
        |    CASE WHEN fp.doc_id <> cn.canon THEN 1 ELSE 0 END AS dup
        |  FROM fp JOIN cn USING (f)),
        |sv AS (SELECT event_id % (SELECT count(*) FROM documents) AS doc_id,
        |    strftime(date_trunc('week', ts), '%Y-%m-%d') AS week FROM events)
        |SELECT fl.source, sv.week, count(*) AS n_served,
        |  CAST(sum(fl.dup) AS BIGINT) AS dup_served,
        |  round(sum(fl.dup)::DOUBLE / count(*), 6) AS dup_rate
        |FROM sv JOIN fl USING (doc_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)((s, d) =>
      graft.operators.Pipeline.dupServingDrift(
        Tables.documents(s, d), "doc_id", "text", "source",
        ev(s, d), "event_id", "ts",
        graft.sources.ParquetStats.rowCount(s, s"$d/documents.parquet"))),

    // x8's hits joined back to sources: which sources ship contaminated
    // data and how much token mass decontamination removes from each
    // x29: x8's hit set (same CTEs) rolled up per source with token
    // mass — which sources ship contaminated data and how much the
    // decontamination pass removes
    Key("x29_contamination_report", () =>
      s"""WITH ${shingleCtes()},
        |e AS (SELECT doc_id, ('0x' || substr(md5(unnest(shingles)), 1, 15))::BIGINT AS shingle FROM sh),
        |b AS (SELECT doc_id AS bench_id, shingle FROM e WHERE doc_id % 20 = 0),
        |c AS (SELECT doc_id, shingle FROM e WHERE doc_id % 20 <> 0),
        |o AS (SELECT c.doc_id, b.bench_id, count(*) AS n_shared
        |  FROM c JOIN b USING (shingle) GROUP BY 1, 2 HAVING count(*) >= 3),
        |hits AS (SELECT DISTINCT doc_id FROM o),
        |base AS (SELECT d.doc_id, d.source,
        |    len(string_split(d.text, ' ')) AS toks,
        |    CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END AS hit
        |  FROM documents d LEFT JOIN hits h USING (doc_id)
        |  WHERE d.doc_id % 20 <> 0)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(hit) AS BIGINT) AS n_contaminated,
        |  CAST(sum(toks) AS BIGINT) AS tokens_total,
        |  CAST(sum(CASE WHEN hit = 1 THEN toks ELSE 0 END) AS BIGINT)
        |    AS tokens_contaminated,
        |  round(sum(hit) / CAST(count(*) AS DOUBLE), 6) AS doc_rate,
        |  CASE WHEN sum(toks) > 0 THEN
        |    round(sum(CASE WHEN hit = 1 THEN toks ELSE 0 END)
        |      / CAST(sum(toks) AS DOUBLE), 6) END AS token_rate
        |FROM base GROUP BY source ORDER BY source""".stripMargin)((s, d) =>
      graft.operators.Pipeline.contaminationReport(
        Tables.documents(s, d), "doc_id", "text", "source",
        pmod(col("doc_id"), lit(20)) === 0,
        graft.operators.Pipeline.decontaminate(Tables.documents(s, d),
          "doc_id", "text", 3, pmod(col("doc_id"), lit(20)) === 0, 3,
          postings = Some(graft.dedup.ClusterCache.postings(s, d))))),

    // Gopher repetition filters: top-bigram char fraction + duplicate
    // trigram fraction (Rae et al. 2021, appendix A1.1)
    Key("x9_repetition", () =>
      """WITH w AS (SELECT doc_id, length(text) AS n_chars,
        |    string_split(text, ' ') AS words FROM documents),
        |bge AS (SELECT doc_id, unnest(CASE WHEN len(words) < 2 THEN []::VARCHAR[]
        |    ELSE [array_to_string(words[i:i+1], ' ')
        |          for i in range(1, len(words))] END) AS g FROM w),
        |bc AS (SELECT doc_id, g, count(*) AS cnt FROM bge GROUP BY 1, 2),
        |bt AS (SELECT doc_id, g AS top_bigram, cnt AS top_bigram_n FROM (
        |    SELECT *, row_number() OVER (PARTITION BY doc_id
        |      ORDER BY cnt DESC, g DESC) AS rn FROM bc) WHERE rn = 1),
        |tge AS (SELECT doc_id, unnest(CASE WHEN len(words) < 3 THEN []::VARCHAR[]
        |    ELSE [array_to_string(words[i:i+2], ' ')
        |          for i in range(1, len(words) - 1)] END) AS g FROM w),
        |tc AS (SELECT doc_id, g, count(*) AS cnt FROM tge GROUP BY 1, 2),
        |tt AS (SELECT doc_id, sum(cnt) AS n_tri,
        |    count(*) AS n_tri_distinct FROM tc GROUP BY 1)
        |SELECT w.doc_id, len(w.words) AS n_words, bt.top_bigram,
        |  bt.top_bigram_n,
        |  round(bt.top_bigram_n * length(bt.top_bigram) / w.n_chars, 6)
        |    AS frac_top_bigram,
        |  round(1.0 - tt.n_tri_distinct / tt.n_tri, 6) AS dup_tri_frac
        |FROM w JOIN bt USING (doc_id) JOIN tt USING (doc_id)
        |ORDER BY doc_id""".stripMargin)((s, d) =>
      graft.operators.Pipeline.repetitionSignals(
        Tables.documents(s, d), "doc_id", "text")),

    // semi-structured metadata extraction: JSON prop pulled with
    // get_json_object in the scan projection (no object barrier, the
    // filter/agg stays declarative) — the metadata-filtering pass every
    // training pipeline runs over crawl/provenance JSON sidecars
    Key("x10_json_extract", () =>
      """SELECT event_type, count(k) AS n, min(k) AS min_k,
        |  max(k) AS max_k, CAST(sum(k) AS BIGINT) AS sum_k,
        |  round(sum(k) / count(k), 6) AS avg_k
        |FROM (SELECT event_type,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |  FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin)((s, d) =>
      Tables.events(s, d)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(col("k")).as("n"), min(col("k")).as("min_k"),
          max(col("k")).as("max_k"), sum(col("k")).as("sum_k"))
        .withColumn("avg_k", round(col("sum_k") / col("n"), 6))
        .orderBy("event_type")),

    // corpus-unigram-LM rarity profile (CCNet-style quality pass),
    // token information quantized to integer bit-buckets so both
    // engines agree bit-for-bit (no float log2 sums)
    // x11/x14/x17 all hang off the ONE shared (doc_id, term, tf)
    // token aggregate (ClusterCache.docWordTf) — the d4/x16/x8/s4
    // shingle-postings sharing pattern applied to the token table
    // token information content quantized to INTEGER bit-buckets
    // (length(bin(cnt)) = floor(log2 cnt)+1) — a float log2 sum
    // would be summation-order- and libm-dependent across engines
    Key("x11_unigram_lm", () =>
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |dw AS (SELECT doc_id, w, count(*) AS tf FROM toks GROUP BY doc_id, w),
        |wc AS (SELECT w, CAST(sum(tf) AS BIGINT) AS cnt FROM dw GROUP BY w)
        |SELECT doc_id, n_tokens, n_distinct, rare_tokens, min_cnt,
        |  round(CAST(sum_bits AS DOUBLE) / n_tokens, 6) AS avg_bits
        |FROM (
        |  SELECT dw.doc_id,
        |    CAST(sum(dw.tf) AS BIGINT) AS n_tokens,
        |    count(*) AS n_distinct,
        |    CAST(sum(dw.tf * CAST(wc.cnt <= 2 AS INT)) AS BIGINT) AS rare_tokens,
        |    CAST(sum(dw.tf * length(bin(wc.cnt))) AS BIGINT) AS sum_bits,
        |    min(wc.cnt) AS min_cnt
        |  FROM dw JOIN wc USING (w) GROUP BY dw.doc_id)
        |ORDER BY doc_id""".stripMargin)((s, d) =>
      graft.operators.Pipeline.unigramLmProfileFrom(
        graft.dedup.ClusterCache.docWordTf(s, d), "doc_id")),

    // corpus-bigram-LM fluency profile (the CCNet perplexity-filter
    // shape, x11 one model order up): add-one-smoothed transition
    // surprisal in integer bits — catches shuffled/generated text
    // whose unigram stats look normal; V from the SHARED vocabulary
    // bigram-LM transition surprisal in integer bits:
    // bits(C1(a)+V) - bits(C2(a,b)+1) per occurrence — same
    // bit-length quantization as x11, all-integer until the final
    // rounded per-doc average; tokens carry no spaces under the
    // single-space split so 'a b' is an unambiguous join key
    Key("x23_bigram_surprisal", () =>
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |bgf AS (SELECT doc_id,
        |    unnest([t[i] || ' ' || t[i+1] for i in range(1, len(t))]) AS bg
        |  FROM w WHERE len(t) >= 2),
        |bgt AS (SELECT doc_id,
        |    ('0x' || substr(md5(bg), 1, 15))::BIGINT AS bgh,
        |    ('0x' || substr(md5(split_part(bg, ' ', 1)), 1, 15))::BIGINT AS ah,
        |    count(*) AS tf2 FROM bgf GROUP BY 1, 2, 3),
        |c2 AS (SELECT bgh, CAST(sum(tf2) AS BIGINT) AS c2 FROM bgt GROUP BY 1),
        |c1 AS (SELECT ah, CAST(sum(tf2) AS BIGINT) AS c1 FROM bgt GROUP BY 1),
        |v AS (SELECT count(DISTINCT w) AS v FROM (SELECT unnest(t) AS w FROM w)),
        |sc AS (SELECT g.doc_id, CAST(sum(g.tf2) AS BIGINT) AS n_bigrams,
        |    CAST(sum(g.tf2 * (length(bin(c1.c1 + v.v))
        |      - length(bin(c2.c2 + 1)))) AS BIGINT) AS sum_bits
        |  FROM bgt g JOIN c2 USING (bgh) JOIN c1 USING (ah) CROSS JOIN v
        |  GROUP BY 1)
        |SELECT d.doc_id, coalesce(sc.n_bigrams, 0) AS n_bigrams,
        |  coalesce(sc.sum_bits, 0) AS sum_bits,
        |  round(coalesce(CAST(sc.sum_bits AS DOUBLE) / sc.n_bigrams, 0.0), 6) AS avg_bits
        |FROM documents d LEFT JOIN sc USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin)((s, d) =>
      graft.operators.Pipeline.bigramSurprisalFrom(
        Tables.documents(s, d),
        graft.dedup.ClusterCache.docWordTf(s, d), "doc_id", "text")),

    // top PMI collocations (NEW r14): bit-quantized pointwise mutual
    // information over adjacent word pairs (Church & Hanks 1990) —
    // bits() taken per operand BEFORE any product so the statistic
    // never overflows at any corpus size; int64-keyed exchanges,
    // unigram counts off the SHARED docWordTf table, bounded top-k
    // bit-quantized PMI: bits() per operand BEFORE any product
    // (overflow-free at any scale); same md5-int64 keys and min(bg)
    // display payload as the Spark plan
    Key("x28_pmi_collocations", () =>
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |toks AS (SELECT unnest(t) AS w FROM w),
        |wc AS (SELECT ('0x' || substr(md5(w), 1, 15))::BIGINT AS wh,
        |    count(*) AS cnt FROM toks GROUP BY 1),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_tok FROM wc),
        |bgf AS (SELECT unnest([t[i] || ' ' || t[i+1] for i in range(1, len(t))]) AS bg
        |  FROM w WHERE len(t) >= 2),
        |bgc AS (SELECT ('0x' || substr(md5(bg), 1, 15))::BIGINT AS bgh,
        |    ('0x' || substr(md5(split_part(bg, ' ', 1)), 1, 15))::BIGINT AS ah,
        |    ('0x' || substr(md5(split_part(bg, ' ', 2)), 1, 15))::BIGINT AS th,
        |    count(*) AS n_ab, min(bg) AS bigram
        |  FROM bgf GROUP BY 1, 2, 3 HAVING count(*) >= 5)
        |SELECT g.bigram, g.n_ab, a.cnt AS n_a, b.cnt AS n_b,
        |  CAST(length(bin(g.n_ab)) + length(bin(tot.n_tok))
        |    - length(bin(a.cnt)) - length(bin(b.cnt)) AS BIGINT) AS pmi_bits
        |FROM bgc g JOIN wc a ON g.ah = a.wh JOIN wc b ON g.th = b.wh
        |CROSS JOIN tot
        |ORDER BY pmi_bits DESC, g.n_ab DESC, g.bigram ASC
        |LIMIT 20""".stripMargin)((s, d) =>
      graft.operators.Pipeline.pmiCollocations(
        Tables.documents(s, d),
        graft.dedup.ClusterCache.docWordTf(s, d), "doc_id", "text", 5, 20)),

    // per-source lexical drift vs the corpus (data-mixing diagnostic):
    // avg per-token rarity under the corpus code vs the source's own
    // code, integer bits end to end; div_bits above the log2(T/T_s)
    // baseline = domain specialization / contaminated shard
    // per-source rarity under the corpus code vs the source's own
    // code — the x11 bit quantization aggregated by source, all
    // integer sums until the final rounded ratios
    Key("x24_source_divergence", () =>
      """WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |sw AS (SELECT source, w, count(*) AS s_cnt FROM toks GROUP BY 1, 2),
        |cw AS (SELECT w, CAST(sum(s_cnt) AS BIGINT) AS cnt FROM sw GROUP BY 1),
        |nd AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
        |agg AS (SELECT sw.source,
        |    CAST(sum(sw.s_cnt) AS BIGINT) AS n_tokens,
        |    count(*) AS vocab,
        |    CAST(sum(sw.s_cnt * length(bin(cw.cnt))) AS BIGINT) AS scb,
        |    CAST(sum(sw.s_cnt * length(bin(sw.s_cnt))) AS BIGINT) AS ssb
        |  FROM sw JOIN cw USING (w) GROUP BY 1)
        |SELECT a.source, nd.n_docs, a.n_tokens, a.vocab,
        |  round(CAST(scb AS DOUBLE) / a.n_tokens, 6) AS avg_corpus_bits,
        |  round(CAST(ssb AS DOUBLE) / a.n_tokens, 6) AS avg_self_bits,
        |  round(CAST(scb - ssb AS DOUBLE) / a.n_tokens, 6) AS div_bits
        |FROM agg a JOIN nd USING (source)
        |ORDER BY a.source""".stripMargin)((s, d) =>
      graft.operators.Pipeline.sourceDivergence(
        Tables.documents(s, d), "doc_id", "text", "source")),

    // DSIR importance weights (NEW r14, Xie et al. 2023): per-source
    // target-vs-raw hashed-ngram LM bit gap + selection counts, target
    // = English docs; both LMs bucket-bounded (4096) whatever the
    // corpus vocabulary — DSIR's own scaling trick
    // DSIR: hashed uni+bi-gram features (md5-60bit mod 4096), both
    // LMs from one feature aggregate, add-one bit rarity, selection
    // by integer cross-multiplication vs the corpus-average gap
    Key("x25_dsir_weights", () =>
      """WITH u AS (SELECT doc_id, source, lang = 'en' AS t,
        |    unnest(string_split(text, ' ')) AS f FROM documents),
        |bg0 AS (SELECT doc_id, source, lang = 'en' AS t,
        |    string_split(text, ' ') AS w FROM documents),
        |bg AS (SELECT doc_id, source, t,
        |    unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS f
        |  FROM bg0 WHERE len(w) >= 2),
        |fe AS (SELECT doc_id, source, t,
        |    (('0x' || substr(md5(f), 1, 15))::BIGINT) % 4096 AS b,
        |    count(*) AS tf
        |  FROM (SELECT * FROM u UNION ALL SELECT * FROM bg)
        |  GROUP BY 1, 2, 3, 4),
        |lm AS (SELECT b, CAST(sum(tf) AS BIGINT) AS raw_cnt,
        |    CAST(sum(CASE WHEN t THEN tf ELSE 0 END) AS BIGINT) AS tgt_cnt
        |  FROM fe GROUP BY 1),
        |pd AS (SELECT fe.doc_id, fe.source,
        |    CAST(sum(fe.tf) AS BIGINT) AS F,
        |    CAST(sum(fe.tf * length(bin(lm.tgt_cnt + 1))) AS BIGINT) AS St,
        |    CAST(sum(fe.tf * length(bin(lm.raw_cnt + 1))) AS BIGINT) AS Sr
        |  FROM fe JOIN lm USING (b) GROUP BY 1, 2),
        |tot AS (SELECT CAST(sum(F) AS BIGINT) AS G,
        |    CAST(sum(St) AS BIGINT) AS Ct, CAST(sum(Sr) AS BIGINT) AS Cr
        |  FROM pd)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(F) AS BIGINT) AS n_feats,
        |  CAST(sum(St - Sr) AS BIGINT) AS gap_bits,
        |  CAST(sum(CASE WHEN (St - Sr) * G > (Ct - Cr) * F THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_selected,
        |  min(CASE WHEN (St - Sr) * G > (Ct - Cr) * F THEN doc_id END)
        |    AS first_sel,
        |  round(CAST(sum(St - Sr) AS DOUBLE) / sum(F), 6) AS avg_gap_bits
        |FROM pd CROSS JOIN tot GROUP BY source ORDER BY source""".stripMargin)((s, d) =>
      graft.operators.Pipeline.dsirWeights(
        Tables.documents(s, d), "doc_id", "text", "source",
        col("lang") === "en",
        featsPre = Some(graft.dedup.ClusterCache.dsirFeats(
          s, d, 4096, col("lang") === "en")),
        docStatsPre = Some(graft.dedup.ClusterCache.dsirDocStats(
          s, d, 4096, col("lang") === "en")))),

    // integer-quantized TF-IDF top terms (keyword extraction): x11's
    // bit-length trick applied to document frequency — score =
    // tf * (bits(N) - bits(df) + 1), integer end to end
    Key("x17_tfidf_terms", () =>
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |dw AS (SELECT doc_id, w, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dfw AS (SELECT w, count(*) AS df FROM dw GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |s AS (SELECT dw.doc_id, dw.w, dw.tf, dfw.df,
        |    CAST(dw.tf * (length(bin(n.n_docs)) - length(bin(dfw.df)) + 1) AS BIGINT) AS score
        |  FROM dw JOIN dfw USING (w) CROSS JOIN n)
        |SELECT doc_id, rank, w AS term, tf, df, score FROM (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score DESC, w) AS rank FROM s)
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin)((s, d) =>
      graft.operators.Pipeline.tfidfTopTermsFrom(
        graft.dedup.ClusterCache.docWordTf(s, d),
        Tables.documents(s, d), "doc_id", 3)),

    // Zipf-law fit of the term-frequency distribution (NEW r14): the
    // corpus-card power-law statistic — least-squares slope/intercept
    // of log-freq vs log-rank over the top 1000 terms off the SHARED
    // (doc, term, tf) table; ln values floor-quantized to micro-units
    // BEFORE the exact int64 moment sums (the x20/x23 discipline)
    // ln values floor-quantized to micro-units before the (exact
    // int64) moment sums; the closing slope/intercept doubles use
    // the same operand order as the Spark columns
    Key("x26_zipf_fit", () =>
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |tc AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_terms,
        |    CAST(sum(cnt) AS BIGINT) AS total_tokens FROM tc),
        |top AS (SELECT w, cnt FROM tc ORDER BY cnt DESC, w LIMIT 1000),
        |q AS (SELECT rank, cnt,
        |    CAST(floor(ln(rank) * 1000000.0) AS BIGINT) AS xq,
        |    CAST(floor(ln(cnt) * 1000000.0) AS BIGINT) AS yq
        |  FROM (SELECT cnt,
        |      row_number() OVER (ORDER BY cnt DESC, w) AS rank FROM top)),
        |f AS (SELECT CAST(count(*) AS BIGINT) AS n_top,
        |    CAST(sum(xq) AS BIGINT) AS sx, CAST(sum(yq) AS BIGINT) AS sy,
        |    CAST(sum(xq * yq) AS BIGINT) AS sxy,
        |    CAST(sum(xq * xq) AS BIGINT) AS sxx,
        |    CAST(max(CASE WHEN rank = 1 THEN cnt END) AS BIGINT) AS top1
        |  FROM q)
        |SELECT tot.n_terms, f.n_top,
        |  round((CAST(f.n_top AS DOUBLE) * CAST(f.sxy AS DOUBLE)
        |        - CAST(f.sx AS DOUBLE) * CAST(f.sy AS DOUBLE))
        |      / (CAST(f.n_top AS DOUBLE) * CAST(f.sxx AS DOUBLE)
        |        - CAST(f.sx AS DOUBLE) * CAST(f.sx AS DOUBLE)), 6) AS zipf_slope,
        |  round((CAST(f.sy AS DOUBLE)
        |      - (CAST(f.n_top AS DOUBLE) * CAST(f.sxy AS DOUBLE)
        |        - CAST(f.sx AS DOUBLE) * CAST(f.sy AS DOUBLE))
        |      / (CAST(f.n_top AS DOUBLE) * CAST(f.sxx AS DOUBLE)
        |        - CAST(f.sx AS DOUBLE) * CAST(f.sx AS DOUBLE))
        |      * CAST(f.sx AS DOUBLE))
        |      / CAST(f.n_top AS DOUBLE) / 1000000.0, 6) AS zipf_intercept,
        |  round(CAST(f.top1 AS DOUBLE) / CAST(tot.total_tokens AS DOUBLE), 6)
        |    AS top1_share
        |FROM f, tot""".stripMargin)((s, d) =>
      graft.operators.Pipeline.zipfFit(
        graft.dedup.ClusterCache.docWordTf(s, d), 1000)),

    // dataset card: per-(source x lang) composition summary at every
    // CUBE granularity in one shuffle (grouping sets partial-aggregate
    // map-side) — the composition table a curated corpus publishes
    // CUBE with the q23 null-group convention (grp bit: source high)
    Key("x18_corpus_card", () =>
      """SELECT (CASE WHEN source IS NULL THEN 2 ELSE 0 END
        |      + CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS grp,
        |  coalesce(source, 'ALL') AS source, coalesce(lang, 'ALL') AS lang,
        |  n_docs, total_chars, total_tokens,
        |  round(CAST(total_chars AS DOUBLE) / n_docs, 6) AS avg_chars
        |FROM (SELECT source, lang, count(*) AS n_docs,
        |    CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
        |  FROM (SELECT coalesce(source, 'unknown') AS source,
        |      coalesce(lang, 'und') AS lang, n_chars, text FROM documents)
        |  GROUP BY CUBE (source, lang))
        |ORDER BY grp, source, lang""".stripMargin)((s, d) =>
      graft.operators.Pipeline.corpusCard(
        Tables.documents(s, d), "source", "lang", "text", "n_chars")),

    // first-seen n-gram novelty: fraction of each doc's shingles whose
    // corpus-wide first occurrence is an EARLIER doc (Lee et al. 2022
    // cross-shard copying signal) — n_copied counted from the
    // vocabulary-sized shared df table's __first column alone, no
    // postings-level join (see Pipeline.noveltyProfileFrom)
    // first-seen novelty: n_copied = n_sh - (shingles first owned),
    // first ownership from the per-shingle min(doc_id) — mirrors
    // Pipeline.noveltyProfileFrom's vocabulary-only derivation
    Key("x19_novelty", () =>
      s"""WITH ${shingleCtes()},
        |e AS (SELECT doc_id, len(shingles) AS n_sh,
        |    ('0x' || substr(md5(unnest(shingles)), 1, 15))::BIGINT AS shingle FROM sh),
        |f AS (SELECT shingle, min(doc_id) AS first_doc FROM e GROUP BY 1),
        |fo AS (SELECT first_doc AS doc_id, count(*) AS n_first FROM f GROUP BY 1),
        |ns AS (SELECT doc_id, max(n_sh) AS n_sh FROM e GROUP BY 1)
        |SELECT ns.doc_id, ns.n_sh,
        |  ns.n_sh - coalesce(fo.n_first, 0) AS n_copied,
        |  round((ns.n_sh - coalesce(fo.n_first, 0))::DOUBLE / ns.n_sh, 6)
        |    AS copied_frac
        |FROM ns LEFT JOIN fo USING (doc_id) ORDER BY doc_id""".stripMargin)((s, d) =>
      graft.operators.Pipeline.noveltyProfileFrom(
        graft.dedup.ClusterCache.postings(s, d, 3),
        graft.dedup.ClusterCache.shingleDf(s, d, 3))),

    // training-mixture construction: uniform target shares over the
    // 20 sources at a 30% global sample rate, deterministic
    // hash-bucket thresholds per source (one scan, reduced to a
    // (source, bucket) count table)
    // mixture construction: every number derives from the
    // (source, bucket) count table; integer / single-division
    // arithmetic end to end (thresholds are floors of one exact
    // IEEE division), so both engines agree bit-for-bit
    Key("x12_domain_mix", () =>
      """WITH db AS (SELECT source,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10000 AS bucket
        |  FROM documents),
        |pb AS (SELECT source, bucket, count(*) AS n FROM db GROUP BY source, bucket),
        |ps AS (SELECT source, CAST(sum(n) AS BIGINT) AS available FROM pb GROUP BY source),
        |tot AS (SELECT CAST(sum(available) AS BIGINT) AS corpus_total FROM ps),
        |qt AS (SELECT source, available,
        |    least(available, CAST(floor(corpus_total * 3 / 200.0) AS BIGINT)) AS target_quota
        |  FROM ps CROSS JOIN tot),
        |qs AS (SELECT *,
        |    CAST(floor(target_quota * 10000 / CAST(available AS DOUBLE)) AS BIGINT)
        |      AS bucket_threshold
        |  FROM qt)
        |SELECT q.source, q.available, q.target_quota, q.bucket_threshold,
        |  CAST(sum(CASE WHEN pb.bucket < q.bucket_threshold THEN pb.n ELSE 0 END) AS BIGINT)
        |    AS n_sampled,
        |  round(CAST(sum(CASE WHEN pb.bucket < q.bucket_threshold THEN pb.n ELSE 0 END) AS BIGINT)
        |    / CAST(q.available AS DOUBLE), 6) AS sampled_share
        |FROM pb JOIN qs q USING (source)
        |GROUP BY q.source, q.available, q.target_quota, q.bucket_threshold
        |ORDER BY q.source""".stripMargin)((s, d) =>
      graft.operators.Pipeline.domainMixture(
        Tables.documents(s, d), "source", "doc_id", 10000, 3, 10, 20)),

    // C4-style blocklist filtering by token DENSITY: flagged when
    // blocklisted tokens exceed 1/20 of the document (integer
    // cross-multiplication — engine-exact); per-source report
    Key("x13_blocklist_filter", () =>
      s"""SELECT source, count(*) AS n_docs,
         |  CAST(sum(hits) AS BIGINT) AS total_hits,
         |  CAST(sum(CASE WHEN hits * 20 > n_words THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_flagged,
         |  CAST(count(*) - sum(CASE WHEN hits * 20 > n_words THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_kept,
         |  round(sum(CASE WHEN hits * 20 > n_words THEN 1 ELSE 0 END)
         |    / CAST(count(*) AS DOUBLE), 6) AS flagged_rate,
         |  min(CASE WHEN hits * 20 > n_words THEN doc_id END) AS first_flagged
         |FROM (SELECT source, doc_id,
         |    len(list_filter(ws, x -> x IN (${BlockWords.map("'" + _ + "'").mkString(", ")})))
         |      AS hits,
         |    len(ws) AS n_words
         |  FROM (SELECT source, doc_id, string_split(text, ' ') AS ws
         |    FROM documents))
         |GROUP BY source ORDER BY source""".stripMargin)((s, d) =>
      graft.operators.Pipeline.blocklistFilter(
        Tables.documents(s, d), "doc_id", "text", "source",
        BlockWords, 20)),

    // CCNet head/middle/tail bucketing: per-language terciles on the
    // corpus-LM bits-per-token score (x11's integer quantization)
    Key("x14_ccnet_bucket", () =>
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |dw AS (SELECT doc_id, w, count(*) AS tf FROM toks GROUP BY doc_id, w),
        |wc AS (SELECT w, CAST(sum(tf) AS BIGINT) AS cnt FROM dw GROUP BY w),
        |per AS (SELECT dw.doc_id, CAST(sum(dw.tf) AS BIGINT) AS n_tokens,
        |    CAST(sum(dw.tf * length(bin(wc.cnt))) AS BIGINT) AS sum_bits
        |  FROM dw JOIN wc USING (w) GROUP BY dw.doc_id),
        |wl AS (SELECT p.doc_id, d.lang, p.n_tokens, p.sum_bits,
        |    ntile(3) OVER (PARTITION BY d.lang
        |      ORDER BY p.sum_bits / CAST(p.n_tokens AS DOUBLE), p.doc_id)
        |      AS bucket
        |  FROM per p JOIN documents d USING (doc_id))
        |SELECT lang, bucket, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS tokens,
        |  round(CAST(sum(sum_bits) AS DOUBLE) / CAST(sum(n_tokens) AS DOUBLE), 6)
        |    AS bucket_avg_bits,
        |  min(doc_id) AS first_id
        |FROM wl GROUP BY lang, bucket ORDER BY lang, bucket""".stripMargin)((s, d) =>
      graft.operators.Pipeline.ccnetBucketsFrom(
        graft.dedup.ClusterCache.docWordTf(s, d),
        Tables.documents(s, d), "doc_id", "lang", 3)),

    // winnowing fingerprints (MOSS SIGMOD'03): min-hash of each
    // 4-window of word-3-gram hashes; pairs sharing >= 2 fingerprints
    // (guarantee: any shared run of >= 6 tokens shares a fingerprint)
    // winnowing (k=3 grams, w=4 windows): per-window min of the
    // 60-bit gram hashes — ties share the hash, so the selected SET
    // needs no positional tie-break and both engines agree exactly;
    // docs with < w grams have no full window and select nothing
    Key("x15_winnow_pairs", () =>
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |g AS (SELECT doc_id, i AS pos,
        |    ('0x' || substr(md5(array_to_string(ws[i:i+2], ' ')), 1, 15))::BIGINT AS h
        |  FROM w, LATERAL (SELECT unnest(range(1, len(ws) - 1)) AS i)
        |  WHERE len(ws) >= 3),
        |sel AS (SELECT DISTINCT doc_id, fp FROM (
        |    SELECT doc_id,
        |      min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |        ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp,
        |      count(*) OVER (PARTITION BY doc_id ORDER BY pos
        |        ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS nw
        |    FROM g) WHERE nw = 4)
        |SELECT id_a, id_b, n_shared FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
        |  FROM sel a JOIN sel b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |WHERE n_shared >= 2 ORDER BY id_a, id_b""".stripMargin)((s, d) =>
      // re-ordered here: the LOADED artifact returns scan order
      graft.dedup.ClusterCache.winnowPairs(s, d)
        .orderBy("id_a", "id_b")),

    // asymmetric n-gram containment (doc-in-doc detection): catches
    // snippet/quote inclusion where Jaccard stays low because the
    // host is much larger than the contained doc
    Key("x16_containment", () =>
      s"""WITH ${shingleCtes()},
        |e AS (SELECT doc_id, len(shingles) AS n_sh,
        |    ('0x' || substr(md5(unnest(shingles)), 1, 15))::BIGINT AS shingle FROM sh)
        |SELECT id_a, id_b, shared, n_a, containment FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared,
        |    a.n_sh AS n_a, round(count(*)::DOUBLE / a.n_sh, 6) AS containment
        |  FROM e a JOIN e b USING (shingle)
        |  WHERE a.doc_id <> b.doc_id AND b.n_sh >= 0.6 * a.n_sh
        |  GROUP BY a.doc_id, b.doc_id, a.n_sh)
        |WHERE containment >= 0.6 ORDER BY id_a, id_b""".stripMargin)((s, d) =>
      graft.dedup.ClusterCache.containmentPairs(s, d)
        .orderBy("id_a", "id_b")),

    // BM25 top-10 retrieval for the benchmark probe set over the SHARED
    // doc-word table — integer-exact scoring (bit-length idf, one IEEE
    // division floor-quantized to a BIGINT micro-score before the sum),
    // bounded CollectMinK top-k (map-side partial — never a per-query
    // window sort over every matching doc)
    Key("x20_bm25_search", () =>
      s"""WITH ${bm25Ctes(benchProbeSrc)}
         |SELECT query_id, rank, doc_id, score_q6 FROM (
         |  SELECT query_id, doc_id, score_q6, row_number() OVER (
         |    PARTITION BY query_id ORDER BY score_q6 DESC, doc_id) AS rank
         |  FROM bsc)
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)((s, d) =>
      graft.operators.Retrieval.bm25TopK(
        graft.operators.RetrievalCache.benchScored(s, d, BenchProbes),
        "doc_id", 10)),

    // retrieval-based decontamination (the fuzzy complement of x8's
    // exact 13-gram rule): per-source rate of docs reaching >= 7/10 of
    // any benchmark probe's maximum attainable BM25 mass — catches
    // paraphrased leaks exact n-grams miss; the relative threshold
    // keeps the flag rate corpus-size-stable
    // relative threshold: score >= θ·qmax compared by integer
    // cross-multiplication; qmax = Σ 2200000·idf_bits per probe
    Key("x21_retrieval_decontam", () =>
      s"""WITH ${bm25Ctes(benchProbeSrc)},
         |qmax AS (SELECT query_id, CAST(sum(2200000 * idfb) AS BIGINT) AS qmax_q6
         |  FROM (SELECT DISTINCT q.query_id, q.w,
         |          CAST(length(bin(n.n_docs)) - length(bin(dfq.df)) + 1
         |            AS BIGINT) AS idfb
         |        FROM q JOIN dfq USING (w) CROSS JOIN n) GROUP BY 1),
         |flg AS (SELECT DISTINCT doc_id FROM bsc JOIN qmax USING (query_id)
         |  WHERE score_q6 * $X21ThetaDen >= qmax_q6 * $X21ThetaNum)
         |SELECT source, n_docs, n_flagged,
         |  round(n_flagged / CAST(n_docs AS DOUBLE), 6) AS flag_rate
         |FROM (
         |  SELECT d.source, count(*) AS n_docs,
         |    CAST(sum(CASE WHEN f.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_flagged
         |  FROM documents d LEFT JOIN flg f USING (doc_id)
         |  GROUP BY d.source)
         |ORDER BY source""".stripMargin)((s, d) =>
      graft.operators.Retrieval.retrievalContamination(
        graft.operators.RetrievalCache.benchScored(s, d, BenchProbes),
        graft.operators.Retrieval.bm25QueryMax(
          graft.dedup.ClusterCache.docWordTf(s, d),
          Tables.documents(s, d), benchProbeDf(s)),
        Tables.documents(s, d), "doc_id", "source", X21ThetaNum, X21ThetaDen)),

    Key("x5_top_bigrams", () =>
      """SELECT lang, bigram, n, rank FROM (
        |  SELECT lang, bigram, n,
        |    row_number() OVER (PARTITION BY lang ORDER BY n DESC, bigram) AS rank
        |  FROM (SELECT lang, bigram, count(*) AS n FROM (
        |      SELECT lang, unnest(CASE WHEN len(w) < 2 THEN []::VARCHAR[]
        |        ELSE [w[i] || ' ' || w[i+1] for i in range(1, len(w))] END) AS bigram
        |      FROM (SELECT lang, string_split(text, ' ') AS w FROM documents))
        |    GROUP BY 1, 2))
        |WHERE rank <= 5 ORDER BY lang, rank""".stripMargin)((s, d) =>
      Tables.documents(s, d)
        .select(col("lang"), explode(Text.bigrams(col("text"))).as("bigram"))
        .groupBy(col("lang"), col("bigram"))
        .agg(count(lit(1)).as("n"))
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
            .orderBy(col("n").desc, col("bigram").asc)))
        .filter(col("rank") <= 5)
        .orderBy("lang", "rank")),
  )
}
