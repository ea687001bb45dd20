package graft.keys

import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.dedup.Dedup

import Shared._

/** d-keys: exact, MinHash, n-gram, embedding and span deduplication. */
object DedupKeys {
  val keys: Seq[Key] = Seq(
    // doc_ids is the BOUNDED sample of the 100 smallest member ids
    // (string_agg skips the NULLed rows past rank 100); n_docs stays
    // the exact group size — mirrors Dedup.exact(sampleK = 100)
    Key("d1_exact_dedup", () =>
      """WITH r AS (SELECT doc_id, md5(text) AS content_hash,
        |    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |  FROM documents)
        |SELECT content_hash, min(doc_id) AS canonical_id,
        |  count(*) AS n_docs,
        |  string_agg(CASE WHEN rn <= 100 THEN CAST(doc_id AS VARCHAR) END,
        |             ',' ORDER BY doc_id) AS doc_ids
        |FROM r GROUP BY 1 ORDER BY canonical_id""".stripMargin)((s, d) =>
      Dedup.exact(Tables.documents(s, d), "doc_id", "text")
        .orderBy("canonical_id")),

    // token-weighted duplication inflation per source (NEW r14): how
    // much of each source's token mass is exact copies — d1's hash
    // exchange with the text reduced to (hash, token count), closed by
    // a source-sized aggregate
    // d1's window-min canonical over the md5 partition; all-integer
    // token sums; the all-duplicate guard mirrors the Spark `when`
    Key("d12_dup_inflation", () =>
      """WITH b AS (SELECT doc_id, source, md5(text) AS fp,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
        |  FROM documents),
        |c AS (SELECT *, min(doc_id) OVER (PARTITION BY fp) AS canonical FROM b)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN doc_id <> canonical THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup_docs,
        |  CAST(sum(toks) AS BIGINT) AS tokens_total,
        |  CAST(sum(CASE WHEN doc_id <> canonical THEN toks ELSE 0 END) AS BIGINT)
        |    AS tokens_dup,
        |  CASE WHEN CAST(sum(toks) AS BIGINT)
        |      > CAST(sum(CASE WHEN doc_id <> canonical THEN toks ELSE 0 END) AS BIGINT)
        |    THEN round(CAST(sum(toks) AS DOUBLE)
        |      / CAST(sum(toks) - sum(CASE WHEN doc_id <> canonical THEN toks ELSE 0 END)
        |             AS DOUBLE), 6)
        |  END AS inflation
        |FROM c GROUP BY source ORDER BY source""".stripMargin)((s, d) =>
      Dedup.dupInflation(Tables.documents(s, d), "doc_id", "text", "source")),

    // candidate pair table built ONCE per (session, dir) and shared
    // with d6/d7's clustering (ClusterCache.minhashPairs)
    Key("d2_minhash_lsh", () =>
      s"""WITH $minhashCtes
         |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
         |  AND a.doc_id < b.doc_id
         |ORDER BY id_a, id_b""".stripMargin)((s, d) =>
      graft.dedup.ClusterCache.minhashPairs(s, d).orderBy("id_a", "id_b")),

    Key("d3_simhash", () =>
      """WITH w AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS word
        |  FROM documents),
        |h AS (SELECT doc_id, ('0x' || substr(md5(word), 1, 8))::BIGINT AS hv FROM w),
        |b AS (SELECT doc_id, t.i AS i,
        |    sum(CASE WHEN (hv // (2**t.i)::BIGINT) % 2 = 1 THEN 1 ELSE -1 END) AS score
        |  FROM h CROSS JOIN (SELECT unnest(range(32)) AS i) t GROUP BY doc_id, t.i)
        |SELECT doc_id,
        |  sum(CASE WHEN score > 0 THEN (2**i)::BIGINT ELSE 0 END)::BIGINT AS simhash,
        |  (sum(CASE WHEN score > 0 THEN (2**i)::BIGINT ELSE 0 END)::BIGINT // 16777216) AS bucket
        |FROM b GROUP BY doc_id ORDER BY doc_id""".stripMargin)((s, d) =>
      Dedup.simhashFingerprints(Tables.documents(s, d), "doc_id", "text", 8)
        .orderBy("doc_id")),

    Key("d4_ngram_jaccard", () =>
      s"""WITH ${shingleCtes()},
        |e AS (SELECT doc_id, len(shingles) AS n_sh,
        |    ('0x' || substr(md5(unnest(shingles)), 1, 15))::BIGINT AS shingle FROM sh)
        |SELECT id_a, id_b, shared, jaccard FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared,
        |    round(count(*)::DOUBLE / (a.n_sh + b.n_sh - count(*)), 6) AS jaccard
        |  FROM e a JOIN e b USING (shingle)
        |  WHERE a.doc_id < b.doc_id
        |    AND least(a.n_sh, b.n_sh) >= 0.12 * greatest(a.n_sh, b.n_sh)
        |  GROUP BY a.doc_id, b.doc_id, a.n_sh, b.n_sh)
        |WHERE jaccard >= 0.12 ORDER BY id_a, id_b""".stripMargin)((s, d) =>
      graft.dedup.ClusterCache.jaccardPairs(s, d)
        .orderBy("id_a", "id_b")),

    // cosine ≥ τ pairs over CORPUS-PROPORTIONAL coarse cells (k ≈ n/64
    // product-quantizer cells, probe-2 boundary recovery) — in-cell
    // pair work stays ~linear in the corpus where the former fixed
    // 10-label blocking measured 18× wall for 10× data. The
    // fixed-cell exact form (Ann.nearDupPairs) remains the
    // correctness-grounding tier, the d4-grounds-d2 pattern.
    // The coarse index (anchor assignment) is built ONCE per corpus
    // via CellIndexCache and shared with d8/a3/a4 — n comes from
    // parquet footers, so no count() job either. The PAIR TABLE is
    // shared too: scored once at BaseTau (= d5's reporting tau) and
    // served to d8 as a filter, the one-pair-table-many-consumers
    // shape of a real curation pipeline.
    Key("d5_embedding_neardup", () =>
      s"""WITH $cellCtes
         |SELECT cell, id_a, id_b, cos FROM cpr
         |WHERE cos >= 0.25 ORDER BY id_a, id_b""".stripMargin)((s, d) =>
      graft.ann.CellIndexCache.scaledPairs(s, d)),

    // cluster table built ONCE per (session, dir) and shared with d7
    // (ClusterCache) — one LSH band join + star-contraction job, two
    // consumers, like d5/d8's shared pair table.
    // connected components over the d2 candidate graph: transitive
    // closure via a recursive CTE, component label = min reachable id
    // (ccCtes is shared with d7's survivorship reduction)
    Key("d6_dup_clusters", () =>
      s"""WITH RECURSIVE $ccCtes
         |SELECT doc_id, cluster_id FROM cl ORDER BY doc_id""".stripMargin)((s, d) =>
      graft.dedup.ClusterCache.documents(s, d).orderBy("doc_id")),

    // survivorship: one kept doc per near-dup cluster (longest text,
    // ties to smallest id) + the bytes the cluster saves — derived
    // from d6's shared cluster table, not a second clustering run
    // survivorship: longest-text doc per cluster (ties -> min id),
    // member/char totals and the chars saved by dropping the rest
    Key("d7_dedup_survivors", () =>
      s"""WITH RECURSIVE $ccCtes,
         |j AS (SELECT cl.cluster_id, cl.doc_id, d.n_chars
         |  FROM cl JOIN documents d USING (doc_id)),
         |r AS (SELECT *, row_number() OVER (PARTITION BY cluster_id
         |        ORDER BY n_chars DESC, doc_id) AS rn FROM j)
         |SELECT cluster_id,
         |  min(CASE WHEN rn = 1 THEN doc_id END) AS survivor_id,
         |  count(*) AS n_members,
         |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
         |  CAST(sum(n_chars) - max(n_chars) AS BIGINT) AS saved_chars
         |FROM r GROUP BY 1 ORDER BY cluster_id""".stripMargin)((s, d) =>
      graft.operators.Pipeline.dedupSurvivorsFrom(
        graft.dedup.ClusterCache.documents(s, d),
        Tables.documents(s, d), "doc_id", "n_chars")),

    // SEMANTIC dedup: connected components over the embedding-cosine
    // near-dup graph (d5's scaled blocking) — per-cluster size + a
    // BOUNDED member sample (CollectMinK, like d1/t6). The text-level
    // twin is d6/d7 over MinHash candidates; this is the
    // embedding-level cluster decision a curation pipeline acts on.
    // The cluster threshold is 0.4 (>3σ of the random-pair cosine),
    // stricter than d5's 0.25 pair report: transitive closure CHAINS
    // edges, and chaining 2σ-of-random cosines welds the corpus into
    // one junk cluster (and makes any engine's closure materialize
    // |component|² reachability) — the edge bar for clustering must
    // sit above the noise band.
    // semantic clusters over the scaled embedding near-dup graph:
    // transitive closure, min-id label, exact size + the BOUNDED
    // 10-smallest member sample (NULLed past rank 10, mirrored by
    // string_agg's null-skipping — the d1/t6 treatment). The cluster
    // threshold is 0.4 (vs d5's 0.25 pair report): transitive
    // chaining welds components, so the edge bar must sit above the
    // random-cosine noise band, not at the exploratory pair threshold
    Key("d8_semantic_dedup", () =>
      s"""WITH RECURSIVE $cellCtes,
        |prs AS (SELECT id_a, id_b FROM cpr WHERE cos >= 0.4),
        |ed AS (SELECT id_a, id_b FROM prs UNION ALL SELECT id_b, id_a FROM prs),
        |reach(s, t) AS (
        |  SELECT id_a, id_b FROM ed
        |  UNION
        |  SELECT r.s, e2.id_b FROM reach r JOIN ed e2 ON r.t = e2.id_a),
        |cl AS (SELECT e.vec_id,
        |    least(e.vec_id, coalesce(mr.mn, e.vec_id)) AS cluster_id
        |  FROM embeddings e
        |  LEFT JOIN (SELECT s, min(t) AS mn FROM reach GROUP BY s) mr
        |    ON mr.s = e.vec_id),
        |r AS (SELECT vec_id, cluster_id,
        |    row_number() OVER (PARTITION BY cluster_id ORDER BY vec_id) AS rn
        |  FROM cl)
        |SELECT cluster_id, count(*) AS n_members,
        |  string_agg(CASE WHEN rn <= 10 THEN CAST(vec_id AS VARCHAR) END,
        |             ',' ORDER BY vec_id) AS member_ids
        |FROM r GROUP BY 1 ORDER BY cluster_id""".stripMargin)((s, d) =>
      // CC over scaledPairs at tau=0.4 (the tau filter commutes with
      // the pair aggregation — CoarseCellSpec pins the equivalence),
      // served from the durable tau-stamped cluster assignment
      graft.ann.CellIndexCache.semanticClusters(s, d)
        .groupBy(col("cluster_id"))
        .agg(
          count(lit(1)).as("n_members"),
          concat_ws(",",
            Dedup.collectMinK(col("vec_id"), 10).cast("array<string>"))
            .as("member_ids"))
        .orderBy(col("cluster_id"))),

    // duplicated-SPAN coverage (Lee et al. 2022 ExactSubstr at word-
    // 5-gram granularity): corpus-repeated n-grams mark their token
    // spans; per-doc interval union -> covered tokens / fraction.
    // Finds the boilerplate that repeats INSIDE otherwise-unique docs,
    // which doc-level d1-d5 cannot see.
    // word-5-gram duplicated-span coverage; DuckDB positions are
    // 1-based vs Spark's 0-based array index — span LENGTHS and the
    // interval-union islands are shift-invariant, so outputs agree
    Key("d9_span_dedup", () =>
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |oc AS (SELECT doc_id, unnest(range(1, len(ws) - 3)) AS p, ws
        |  FROM w WHERE len(ws) >= 5),
        |og AS (SELECT doc_id, p,
        |    ('0x' || substr(md5(array_to_string(ws[p:p+4], ' ')), 1, 15))::BIGINT AS g
        |  FROM oc),
        |dup AS (SELECT g FROM og GROUP BY g HAVING count(*) > 1),
        |sp AS (SELECT doc_id, p AS s, p + 4 AS e FROM og JOIN dup USING (g)),
        |ni AS (SELECT doc_id, s, e,
        |    CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
        |    THEN 1 ELSE 0 END AS ni
        |  FROM sp),
        |isl AS (SELECT doc_id, s, e,
        |    sum(ni) OVER (PARTITION BY doc_id ORDER BY s) AS island FROM ni),
        |agg AS (SELECT doc_id, island, max(e) - min(s) + 1 AS len
        |  FROM isl GROUP BY doc_id, island),
        |per AS (SELECT doc_id, CAST(sum(len) AS BIGINT) AS dup_tokens,
        |    count(*) AS n_spans FROM agg GROUP BY doc_id)
        |SELECT d.doc_id, len(string_split(d.text, ' ')) AS n_tokens,
        |  coalesce(p.dup_tokens, 0) AS dup_tokens,
        |  coalesce(p.n_spans, 0) AS n_spans,
        |  round(coalesce(p.dup_tokens, 0)
        |    / CAST(len(string_split(d.text, ' ')) AS DOUBLE), 6) AS dup_frac
        |FROM documents d LEFT JOIN per p USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin)((s, d) =>
      Dedup.spanDedup(Tables.documents(s, d), "doc_id", "text", 5)),

    // cross-source duplication matrix: near-dup clusters spanning each
    // unordered source pair — derived from d6's SHARED cluster table
    // (one more consumer of the one LSH+CC job), cluster⋈source
    // attach + an output-bounded per-cluster pair fan-out
    // cross-source dup matrix over the d6 cluster labels: distinct
    // (cluster, source) then the unordered source-pair count
    Key("d10_source_overlap", () =>
      s"""WITH RECURSIVE $ccCtes,
         |cs AS (SELECT DISTINCT cl.cluster_id, d.source
         |  FROM cl JOIN documents d USING (doc_id))
         |SELECT a.source AS source_a, b.source AS source_b,
         |  count(*) AS n_clusters
         |FROM cs a JOIN cs b ON a.cluster_id = b.cluster_id
         |  AND a.source < b.source
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)((s, d) =>
      graft.operators.Pipeline.sourceOverlapFrom(
        graft.dedup.ClusterCache.documents(s, d),
        Tables.documents(s, d), "doc_id", "source")),

    // dedup index health card (NEW r14): measured recall of the d2
    // MinHash banding vs the d4 exact-Jaccard truth per similarity
    // band (the LSH s-curve, observed) + the candidate-precision row —
    // the a12/a14 recall-eval pattern for the text-dedup index; pure
    // consumer of the two SHARED pair tables
    // LSH recall bands: d2's banding CTE (cand) scored against d4's
    // exact-Jaccard truth (tr), per 6-dp-rounded similarity band;
    // j_band = -1 is the candidate-precision row
    Key("d11_lsh_recall", () =>
      s"""WITH $minhashCtes,
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bands a JOIN bands b ON a.band = b.band
         |    AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
         |${shingleCtes("w2", "sh2")},
         |e2 AS (SELECT doc_id, len(shingles) AS n_sh,
         |    ('0x' || substr(md5(unnest(shingles)), 1, 15))::BIGINT AS shingle FROM sh2),
         |tr AS (SELECT id_a, id_b, jaccard FROM (
         |    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared,
         |      round(count(*)::DOUBLE / (a.n_sh + b.n_sh - count(*)), 6) AS jaccard
         |    FROM e2 a JOIN e2 b USING (shingle)
         |    WHERE a.doc_id < b.doc_id
         |      AND least(a.n_sh, b.n_sh) >= 0.12 * greatest(a.n_sh, b.n_sh)
         |    GROUP BY a.doc_id, b.doc_id, a.n_sh, b.n_sh)
         |  WHERE jaccard >= 0.12),
         |bnd AS (SELECT CASE WHEN jaccard < 0.25 THEN 0
         |    WHEN jaccard < 0.5 THEN 1 WHEN jaccard < 0.75 THEN 2
         |    ELSE 3 END AS j_band,
         |    count(*) AS n_truth,
         |    CAST(sum(CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
         |  FROM tr LEFT JOIN cand c ON tr.id_a = c.id_a AND tr.id_b = c.id_b
         |  GROUP BY 1),
         |prec AS (SELECT -1 AS j_band, count(*) AS n_truth,
         |    CAST(sum(CASE WHEN t.id_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
         |  FROM cand c LEFT JOIN tr t ON c.id_a = t.id_a AND c.id_b = t.id_b)
         |SELECT j_band, n_truth, n_hit,
         |  round(CAST(n_hit AS DOUBLE) / n_truth, 6) AS recall
         |FROM (SELECT * FROM bnd UNION ALL SELECT * FROM prec)
         |ORDER BY j_band""".stripMargin)((s, d) =>
      Dedup.lshRecallBands(
        graft.dedup.ClusterCache.minhashPairs(s, d),
        graft.dedup.ClusterCache.jaccardPairs(s, d))),
  )
}
