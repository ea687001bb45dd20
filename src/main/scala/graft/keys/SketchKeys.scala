package graft.keys

import org.apache.spark.sql.functions._
import graft.sources.Tables

import Shared._

/** s-keys: HLL, CMS, KMV, Bloom and histogram sketches and their merges. */
object SketchKeys {
  // s3/s4/s5 sketch shapes — interpolated into BOTH the query wiring
  // and the oracle SQL so a retune cannot desynchronize the engines
  private val BloomM = 1 << 20
  private val BloomHashes = 4
  private val HistBuckets = 256

  val keys: Seq[Key] = Seq(
    // HyperLogLog daily uniques: per-group state is 16 registers, not a
    // user set — the exchange carries <= m rows/group/partition at any
    // corpus size; exact count alongside for the error report
    // (the oracle: Shared.hllDaily)
    Key("s1_hll_distinct", () => hllDaily)((s, d) =>
      graft.functions.Sketch.hllDistinct(
          ev(s, d).withColumn("day", unix_micros(date_trunc("day", col("ts"))))
            .select("day", "user_id"),
          Seq("day"), "user_id", p = 4)
        .orderBy("day")),

    // Count-Min heavy hitters: 4x64 counter grid (map-side combined to
    // <= 256 partials per partition), est = min over rows, never
    // under-counts; top-10 by estimate with exact count alongside
    // Kirsch-Mitzenmacher double hashing: cell_j = (h%2^30 + j*(h//2^30)) % w
    // from ONE md5 per row (mirrors Sketch.rowHash/cellOf)
    Key("s2_cms_topk", () => cmsTopk)((s, d) =>
      graft.functions.Sketch.cmsTopK(ev(s, d).select("user_id"),
        "user_id", depth = 4, width = 64, k = 10)),

    // KMV/theta bottom-k sketch with SET OPERATIONS: distinct
    // click- vs purchase-(user, day) cohorts, union and intersection
    // estimated from the two k-long sketches alone — sketch-level set
    // algebra, no second corpus pass
    // KMV/theta: θ = k-th smallest distinct hash (or 2^60 when the
    // sketch is unsaturated), est = |{h < θ}|·2^60/θ — one exact
    // double multiply + one correctly-rounded divide, like s1
    Key("s3_kmv_setops", () =>
      s"""WITH gh AS (
        |  SELECT DISTINCT event_type AS g,
        |    ('0x' || substr(md5(user_id::VARCHAR || '|' || strftime(ts, '%Y-%m-%d')), 1, 15))::BIGINT AS h
        |  FROM events WHERE event_type IN ('click', 'purchase')),
        |rk AS (SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rn FROM gh),
        |sk AS (SELECT g,
        |    coalesce(max(CASE WHEN rn = $KmvK THEN h END), 1152921504606846976) AS theta,
        |    count(*) AS exact
        |  FROM rk GROUP BY g),
        |ret AS (SELECT rk.g, count(*) AS r FROM rk JOIN sk ON sk.g = rk.g
        |  WHERE rk.rn <= $KmvK AND rk.h < sk.theta GROUP BY rk.g),
        |us AS (SELECT DISTINCT h FROM rk WHERE rn <= $KmvK),
        |ur AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM us),
        |tu AS (SELECT least((SELECT min(theta) FROM sk),
        |    coalesce((SELECT max(CASE WHEN rn = $KmvK THEN h END) FROM ur),
        |      1152921504606846976)) AS theta),
        |ru AS (SELECT count(*) AS r FROM us WHERE h < (SELECT theta FROM tu)),
        |ti AS (SELECT min(theta) AS theta FROM sk),
        |cs AS (SELECT h FROM rk WHERE rn <= $KmvK GROUP BY h HAVING count(*) = 2),
        |ri AS (SELECT count(*) AS r FROM cs WHERE h < (SELECT theta FROM ti)),
        |exu AS (SELECT count(DISTINCT h) AS exact_u FROM gh),
        |exi AS (SELECT count(*) AS exact_i FROM (SELECT h FROM gh GROUP BY h HAVING count(*) = 2))
        |SELECT cohort, round(est, 6) AS est_distinct, exact AS exact_distinct,
        |  round(est / CAST(exact AS DOUBLE) - 1.0, 6) AS rel_err
        |FROM (
        |  SELECT '1_click' AS cohort,
        |    CAST(ret.r AS DOUBLE) * 1152921504606846976.0 / CAST(sk.theta AS DOUBLE) AS est,
        |    sk.exact AS exact
        |  FROM sk JOIN ret ON sk.g = ret.g WHERE sk.g = 'click'
        |  UNION ALL SELECT '2_purchase',
        |    CAST(ret.r AS DOUBLE) * 1152921504606846976.0 / CAST(sk.theta AS DOUBLE),
        |    sk.exact
        |  FROM sk JOIN ret ON sk.g = ret.g WHERE sk.g = 'purchase'
        |  UNION ALL SELECT '3_union',
        |    CAST((SELECT r FROM ru) AS DOUBLE) * 1152921504606846976.0
        |      / CAST((SELECT theta FROM tu) AS DOUBLE),
        |    (SELECT exact_u FROM exu)
        |  UNION ALL SELECT '4_intersect',
        |    CAST((SELECT r FROM ri) AS DOUBLE) * 1152921504606846976.0
        |      / CAST((SELECT theta FROM ti) AS DOUBLE),
        |    (SELECT exact_i FROM exi))
        |ORDER BY cohort""".stripMargin)((s, d) =>
      graft.functions.Sketch.kmvSetOps(
        ev(s, d).select(col("event_type"),
          concat(col("user_id").cast("string"), lit("|"),
            date_format(col("ts"), "yyyy-MM-dd")).as("ud")),
        "event_type", col("ud"), "click", "purchase", k = KmvK)),

    // Bloom-filter decontamination — x8's eval-set check with the
    // bench shingle SET replaced by a CONSTANT 2^20-bit filter
    // (doc_id%20=0 bench convention, flagged at >=3 bloom-positive
    // shingles); per-shingle no false negatives, per-source
    // false-positive column keeps the filter honest
    Key("s4_bloom_decontam", () =>
      s"""WITH ${shingleCtes(carry = "source, ")},
        |e AS (SELECT doc_id, source,
        |    ('0x' || substr(md5(unnest(shingles)), 1, 15))::BIGINT AS shingle FROM sh),
        |b AS (SELECT DISTINCT shingle FROM e WHERE doc_id % 20 = 0),
        |c AS (SELECT doc_id, source, shingle FROM e WHERE doc_id % 20 <> 0),
        |bits AS (SELECT DISTINCT
        |    ('0x' || substr(md5('bloom' || j || ':' || CAST(shingle AS VARCHAR)), 1, 15))::BIGINT % $BloomM AS pos
        |  FROM b, (SELECT unnest(range($BloomHashes)) AS j)),
        |p AS (SELECT c.doc_id, c.source, c.shingle,
        |    ('0x' || substr(md5('bloom' || j || ':' || CAST(c.shingle AS VARCHAR)), 1, 15))::BIGINT % $BloomM AS pos
        |  FROM c, (SELECT unnest(range($BloomHashes)) AS j)),
        |shit AS (SELECT doc_id, source, shingle FROM p JOIN bits USING (pos)
        |  GROUP BY 1, 2, 3 HAVING count(*) = $BloomHashes),
        |bf AS (SELECT source, count(*) AS bloom_flagged FROM (
        |    SELECT doc_id, source FROM shit GROUP BY 1, 2 HAVING count(*) >= 3)
        |  GROUP BY 1),
        |ef AS (SELECT source, count(*) AS exact_flagged FROM (
        |    SELECT doc_id, source FROM c WHERE shingle IN (SELECT shingle FROM b)
        |    GROUP BY 1, 2 HAVING count(*) >= 3)
        |  GROUP BY 1),
        |g AS (SELECT source, count(DISTINCT doc_id) AS n_docs FROM c GROUP BY 1)
        |SELECT g.source, g.n_docs,
        |  coalesce(bf.bloom_flagged, 0) AS bloom_flagged,
        |  coalesce(ef.exact_flagged, 0) AS exact_flagged,
        |  coalesce(bf.bloom_flagged, 0) - coalesce(ef.exact_flagged, 0) AS false_pos
        |FROM g LEFT JOIN bf USING (source) LEFT JOIN ef USING (source)
        |ORDER BY source""".stripMargin)((s, d) =>
      graft.functions.Sketch.bloomDecontaminate(
        Tables.documents(s, d), "doc_id", "text", "source",
        pmod(col("doc_id"), lit(20)) === 0, n = 3, minShared = 3,
        m = BloomM, hashes = BloomHashes,
        postings = Some(graft.dedup.ClusterCache.postings(s, d)))),

    // fixed-width histogram quantiles: groups x 256 counters replace
    // ts9's full value sort; upper-edge estimate at ceil(q*n), exact
    // percentiles alongside as the error report
    Key("s5_hist_quantiles", () =>
      s"""WITH mm AS (SELECT min(value) AS gmin, max(value) AS gmax FROM events),
        |b AS (SELECT event_type,
        |    CAST(CASE WHEN gmax = gmin THEN 0
        |      ELSE least(floor((value - gmin) / (gmax - gmin) * $HistBuckets), ${HistBuckets - 1}) END AS INT) AS bucket
        |  FROM events, mm),
        |c AS (SELECT event_type, bucket, count(*) AS c FROM b GROUP BY 1, 2),
        |w AS (SELECT event_type, bucket,
        |    sum(c) OVER (PARTITION BY event_type ORDER BY bucket) AS cum,
        |    sum(c) OVER (PARTITION BY event_type) AS n
        |  FROM c),
        |s AS (SELECT event_type, CAST(max(n) AS BIGINT) AS n,
        |    min(CASE WHEN cum >= ceil(0.5 * n) THEN bucket END) AS b50,
        |    min(CASE WHEN cum >= ceil(0.9 * n) THEN bucket END) AS b90,
        |    min(CASE WHEN cum >= ceil(0.99 * n) THEN bucket END) AS b99
        |  FROM w GROUP BY 1),
        |ex AS (SELECT event_type,
        |    round(quantile_cont(value, 0.5), 6) AS p50_exact,
        |    round(quantile_cont(value, 0.9), 6) AS p90_exact,
        |    round(quantile_cont(value, 0.99), 6) AS p99_exact
        |  FROM events GROUP BY 1)
        |SELECT s.event_type, s.n,
        |  round(gmin + CAST(b50 + 1 AS DOUBLE) * (gmax - gmin) / $HistBuckets.0, 6) AS p50_est, p50_exact,
        |  round(gmin + CAST(b90 + 1 AS DOUBLE) * (gmax - gmin) / $HistBuckets.0, 6) AS p90_est, p90_exact,
        |  round(gmin + CAST(b99 + 1 AS DOUBLE) * (gmax - gmin) / $HistBuckets.0, 6) AS p99_est, p99_exact
        |FROM s JOIN ex USING (event_type) CROSS JOIN mm
        |ORDER BY event_type""".stripMargin)((s, d) =>
      graft.functions.Sketch.histQuantiles(
        graft.operators.QuantileCache.projection(s, d)
          .select(col("__g").as("event_type"), col("__v").as("value")),
        "event_type", "value", buckets = HistBuckets,
        exactLegs = Some(graft.operators.QuantileCache.exactLegs(s, d)))),

    // cross-shard sketch MERGE: per-shard (event_type) fixed-range
    // histograms summed bucket-wise into the global quantile report —
    // the exchange is shards x buckets counters, never values
    // s6: per-shard sketches summed bucket-wise, then the s5 global
    // quantile-bucket arithmetic over the merged histogram
    Key("s6_sketch_merge", () =>
      s"""WITH mm AS (SELECT min(value) AS gmin, max(value) AS gmax FROM events),
        |b AS (SELECT event_type,
        |    CAST(CASE WHEN gmax = gmin THEN 0
        |      ELSE least(floor((value - gmin) / (gmax - gmin) * $HistBuckets), ${HistBuckets - 1}) END AS INT) AS bucket
        |  FROM events, mm),
        |sk AS (SELECT event_type, bucket, count(*) AS c FROM b GROUP BY 1, 2),
        |m AS (SELECT bucket, CAST(sum(c) AS BIGINT) AS c FROM sk GROUP BY 1),
        |w AS (SELECT bucket,
        |    sum(c) OVER (ORDER BY bucket) AS cum,
        |    sum(c) OVER () AS n FROM m),
        |s AS (SELECT CAST(max(n) AS BIGINT) AS n,
        |    min(CASE WHEN cum >= ceil(0.5 * n) THEN bucket END) AS b50,
        |    min(CASE WHEN cum >= ceil(0.9 * n) THEN bucket END) AS b90,
        |    min(CASE WHEN cum >= ceil(0.99 * n) THEN bucket END) AS b99
        |  FROM w),
        |sh AS (SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS n_shards FROM sk)
        |SELECT n, n_shards,
        |  round(gmin + CAST(b50 + 1 AS DOUBLE) * (gmax - gmin) / $HistBuckets.0, 6) AS p50_est,
        |  round(gmin + CAST(b90 + 1 AS DOUBLE) * (gmax - gmin) / $HistBuckets.0, 6) AS p90_est,
        |  round(gmin + CAST(b99 + 1 AS DOUBLE) * (gmax - gmin) / $HistBuckets.0, 6) AS p99_est
        |FROM s CROSS JOIN mm CROSS JOIN sh""".stripMargin)((s, d) =>
      graft.functions.Sketch.histMergedQuantiles(
        ev(s, d).select("event_type", "value"), "event_type", "value",
        buckets = HistBuckets)),

    // cross-shard KMV UNION merge: every event_type shard publishes
    // its bottom-k sketch of distinct (user, day) cohorts; the global
    // distinct estimate is computed from the shard sketches alone
    // (merged sample + min-theta) — s3's sketch as a mergeable op,
    // the s6 pattern; shards x k longs cross the merge, never values
    // s7: s3's KMV sketch as a cross-shard MERGE — per event_type
    // bottom-k sketches of distinct (user, day); the union row is
    // computed from the shard samples alone (merged distinct sample
    // + min-theta), exact counts alongside as the error report
    Key("s7_kmv_union", () =>
      s"""WITH gh AS (SELECT DISTINCT event_type AS g,
        |    ('0x' || substr(md5(user_id::VARCHAR || '|' || strftime(ts, '%Y-%m-%d')), 1, 15))::BIGINT AS h
        |  FROM events),
        |rk AS (SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rn FROM gh),
        |sk AS (SELECT g,
        |    coalesce(max(CASE WHEN rn = $KmvK THEN h END), 1152921504606846976) AS theta,
        |    count(*) AS exact
        |  FROM rk GROUP BY g),
        |ret AS (SELECT rk.g, count(*) AS r FROM rk JOIN sk ON sk.g = rk.g
        |  WHERE rk.rn <= $KmvK AND rk.h < sk.theta GROUP BY rk.g),
        |us AS (SELECT DISTINCT h FROM rk WHERE rn <= $KmvK),
        |ur AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM us),
        |tu AS (SELECT least((SELECT min(theta) FROM sk),
        |    coalesce((SELECT max(CASE WHEN rn = $KmvK THEN h END) FROM ur),
        |      1152921504606846976)) AS theta),
        |ru AS (SELECT count(*) AS r FROM us WHERE h < (SELECT theta FROM tu)),
        |exu AS (SELECT count(DISTINCT h) AS exact_u FROM gh)
        |SELECT cohort, round(est, 6) AS est_distinct, exact AS exact_distinct,
        |  round(est / CAST(exact AS DOUBLE) - 1.0, 6) AS rel_err
        |FROM (
        |  SELECT sk.g AS cohort,
        |    CAST(ret.r AS DOUBLE) * 1152921504606846976.0 / CAST(sk.theta AS DOUBLE) AS est,
        |    sk.exact AS exact
        |  FROM sk JOIN ret ON sk.g = ret.g
        |  UNION ALL SELECT 'zz_union',
        |    CAST((SELECT r FROM ru) AS DOUBLE) * 1152921504606846976.0
        |      / CAST((SELECT theta FROM tu) AS DOUBLE),
        |    (SELECT exact_u FROM exu))
        |ORDER BY cohort""".stripMargin)((s, d) =>
      graft.functions.Sketch.kmvMergedDistinct(
        ev(s, d).select(col("event_type"),
          concat(col("user_id").cast("string"), lit("|"),
            date_format(col("ts"), "yyyy-MM-dd")).as("ud")),
        "event_type", col("ud"), k = KmvK)),

    // cross-shard HLL UNION merge: every event_type shard publishes
    // its 16 registers; the global distinct estimate reads the
    // max-merged register table alone — s1's sketch as a mergeable
    // op, completing the merge trio (s6 histograms, s7 KMV, s8 HLL)
    // s8: s1's HLL registers as a cross-shard MERGE — per event_type
    // register tables max-merged into the global distinct estimate;
    // same exact-BIGINT harmonic sum as s1
    Key("s8_hll_union", () =>
      s"""WITH w AS (SELECT event_type AS g,
        |    user_id::VARCHAR || '|' || strftime(ts, '%Y-%m-%d') AS ud FROM events),
        |h AS (SELECT g, ud, ('0x' || substr(md5(ud), 1, 15))::BIGINT AS h FROM w),
        |${hllCtes("g")},
        |e AS (SELECT g, count(DISTINCT ud) AS exact_distinct FROM w GROUP BY 1),
        |ru AS (SELECT bucket, max(m) AS m, sum(n)::BIGINT AS n FROM r GROUP BY 1),
        |su AS (SELECT sum(n)::BIGINT AS n_items, $hllSv FROM ru),
        |eu AS (SELECT count(DISTINCT ud) AS exact_distinct FROM w)
        |SELECT cohort, n_items, exact_distinct, ${hllEstimates("exact_distinct")}
        |FROM (
        |  SELECT g AS cohort, s.n_items, e.exact_distinct, s.sv
        |  FROM s JOIN e USING (g)
        |  UNION ALL SELECT 'zz_union', su.n_items, eu.exact_distinct, su.sv
        |  FROM su CROSS JOIN eu)
        |ORDER BY cohort""".stripMargin)((s, d) =>
      graft.functions.Sketch.hllMergedDistinct(
        ev(s, d).select(col("event_type"),
          concat(col("user_id").cast("string"), lit("|"),
            date_format(col("ts"), "yyyy-MM-dd")).as("ud")),
        "event_type", col("ud"), p = 4)),
  )
}
