package graft.keys

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.ann.Ann

/** What more than one key family uses: the temporal query points, the
  * KMV width, the `events` reader and the DuckDB fragments several
  * families' oracles interpolate (cosine, coarse cells, MinHash bands
  * and their connected components, BM25, word shingles, the brute
  * cosine top-k, the HLL estimate). Family-only constants live in their
  * family file; nothing here refers to a family object, so no object
  * initialisation cycle can form. */
object Shared {
  // Temporal query points (events span 2024-01-01 .. 2024-01-30).
  private[keys] val T = "2024-01-20 00:00:00"
  private[keys] val T1 = "2024-01-10 00:00:00"
  private[keys] val T2 = "2024-01-25 00:00:00"
  private[keys] val RecId = 42

  // the KMV sketch width — s3/s7 and ts29 interpolate it into BOTH
  // the query wiring and the oracle SQL
  private[keys] val KmvK = 128

  private[keys] def ts(s: String) = lit(s).cast("timestamp")
  private[keys] def ev(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)

  // The word 3-shingle CTE pair: `w` splits each doc's words, `sh`
  // holds its distinct shingles (the whole text when it has < 3 words)
  // — WordShingles' rule. `carry` lists columns kept beside doc_id
  // (e.g. "source, "); `from` is the doc table or CTE.
  private[keys] def shingleCtes(w: String = "w", sh: String = "sh",
      from: String = "documents", carry: String = ""): String =
    s"""$w AS (SELECT doc_id, ${carry}text, string_split(text, ' ') AS words FROM $from),
       |$sh AS (SELECT doc_id, ${carry}list_distinct(
       |    CASE WHEN len(words) < 3 THEN [text]
       |         ELSE [array_to_string(words[i:i+2], ' ')
       |               for i in range(1, len(words) - 1)] END) AS shingles
       |  FROM $w)""".stripMargin

  // MinHash CTE chain shared by d2 (candidate pairs) and d6 (connected
  // components over those pairs) — generated from the same XorSeeds as
  // the Spark side.
  private[keys] def minhashCtes: String = {
    val seeds = graft.dedup.Dedup.XorSeeds.take(16)
    val minCols = seeds.zipWithIndex
      .map { case (s, p) => s"min(xor(b, ${s}::BIGINT)) AS mh$p" }.mkString(",\n    ")
    val bandRows = (0 until 4).map { b =>
      val key = (b * 4 until (b + 1) * 4).map(p => s"mh$p::VARCHAR").mkString(" || '_' || ")
      s"SELECT doc_id, $b AS band, $key AS band_key FROM m"
    }.mkString("\n  UNION ALL ")
    s"""${shingleCtes()},
       |e AS (SELECT doc_id, ('0x' || substr(md5(unnest(shingles)), 1, 15))::BIGINT AS b FROM sh),
       |m AS (SELECT doc_id,
       |    $minCols
       |  FROM e GROUP BY doc_id),
       |bands AS ($bandRows)""".stripMargin
  }

  // connected-component labels over the d2 candidate graph, shared by
  // d6 (raw clusters) and d7 (survivorship reduction)
  private[keys] def ccCtes: String =
    s"""$minhashCtes,
       |prs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
       |    AND a.doc_id < b.doc_id),
       |ed AS (SELECT id_a, id_b FROM prs UNION ALL SELECT id_b, id_a FROM prs),
       |reach(s, t) AS (
       |  SELECT id_a, id_b FROM ed
       |  UNION
       |  SELECT r.s, e2.id_b FROM reach r JOIN ed e2 ON r.t = e2.id_a),
       |cl AS (SELECT d.doc_id,
       |    least(d.doc_id, coalesce(mr.mn, d.doc_id)) AS cluster_id
       |  FROM documents d
       |  LEFT JOIN (SELECT s, min(t) AS mn FROM reach GROUP BY s) mr
       |    ON mr.s = d.doc_id)""".stripMargin

  private[keys] def cosSql(a: String, b: String): String =
    s"""round(list_dot_product(CAST($a AS DOUBLE[]), CAST($b AS DOUBLE[]))
       |          / (sqrt(list_dot_product(CAST($a AS DOUBLE[]), CAST($a AS DOUBLE[])))
       |           * sqrt(list_dot_product(CAST($b AS DOUBLE[]), CAST($b AS DOUBLE[])))), 6)""".stripMargin

  // The brute-force cosine scan: every (query row, other row) pair of
  // `corpus` as (query_id, <nn>, cos) for the query ids `ids`, the
  // 6-dp cosine against the corpus' `vec` column.
  private[keys] def cosPairs(ids: Seq[Long] = 0L to 4L, nn: String = "nn_id",
      corpus: String = "embeddings", vec: String = "embedding"): String =
    s"""SELECT q.vec_id AS query_id, c.vec_id AS $nn,
       |    ${cosSql("q.embedding", s"c.$vec")} AS cos
       |  FROM embeddings q JOIN $corpus c ON c.vec_id <> q.vec_id
       |  WHERE q.vec_id IN (${ids.mkString(", ")})""".stripMargin

  // HLL with 16 registers over a CTE `h(<g>, h)` of 60-bit md5-prefix
  // hashes, mirrored exactly: bucket = h % 16, rho from the remaining
  // 56 bits via length(bin(..)); `sv` is the harmonic sum as BIGINT
  // powers of two (2^57 per empty bucket), and the estimate is one
  // exact double multiply+divide (0.673*2^65 = alpha*m^2*2^57).
  // `hllCtes(g)`: registers `r(g, bucket, m, n)`, sums `s(g, n_items, sv)`.
  private[keys] def hllSv: String =
    "(sum((2**(57 - m))::BIGINT))::BIGINT + (16 - count(*)) * 144115188075855872 AS sv"
  private[keys] def hllCtes(g: String): String =
    s"""r AS (SELECT $g, h % 16 AS bucket,
       |    max(CASE WHEN h // 16 = 0 THEN 57 ELSE 57 - length(bin(h // 16)) END) AS m,
       |    count(*) AS n
       |  FROM h GROUP BY 1, 2),
       |s AS (SELECT $g, sum(n)::BIGINT AS n_items, $hllSv FROM r GROUP BY 1)""".stripMargin
  private[keys] def hllEstimates(exact: String): String =
    s"""round(0.673 * 36893488147419103232.0 / sv, 6) AS est_distinct,
       |  round((0.673 * 36893488147419103232.0 / sv) / $exact - 1.0, 6) AS rel_err""".stripMargin
  // s1's daily distinct-user estimate; ts27's streaming drain is
  // batch-equal, so the one oracle serves both
  private[keys] def hllDaily: String =
    s"""WITH h AS (SELECT epoch_us(date_trunc('day', ts)) AS day, user_id,
       |    ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h
       |  FROM events),
       |${hllCtes("day")},
       |e AS (SELECT epoch_us(date_trunc('day', ts)) AS day,
       |    count(DISTINCT user_id) AS exact_distinct FROM events GROUP BY 1)
       |SELECT e.day, s.n_items, e.exact_distinct, ${hllEstimates("e.exact_distinct")}
       |FROM e JOIN s USING (day) ORDER BY day""".stripMargin

  // s2's Count-Min top-10 (4x64 grid); ts28's streaming drain is
  // batch-equal, so the one oracle serves both
  private[keys] def cmsTopk: String =
    """WITH h AS (SELECT user_id,
      |    ('0x' || substr(md5('cms:' || user_id), 1, 15))::BIGINT AS h
      |  FROM events),
      |cj AS (SELECT h, unnest(range(4)) AS j FROM h),
      |cells AS (SELECT j, (h % 1073741824 + j * (h // 1073741824)) % 64 AS cell,
      |    count(*) AS c
      |  FROM cj GROUP BY 1, 2),
      |u AS (SELECT user_id, count(*) AS exact FROM events GROUP BY 1),
      |uh AS (SELECT user_id, exact,
      |    ('0x' || substr(md5('cms:' || user_id), 1, 15))::BIGINT AS h FROM u),
      |uj AS (SELECT user_id, exact, h, unnest(range(4)) AS j FROM uh)
      |SELECT user_id, min(c)::BIGINT AS est, min(exact)::BIGINT AS exact
      |FROM uj JOIN cells ON cells.j = uj.j
      |  AND cells.cell = (uj.h % 1073741824 + uj.j * (uj.h // 1073741824)) % 64
      |GROUP BY user_id
      |ORDER BY est DESC, user_id LIMIT 10""".stripMargin

  // BM25 CTE chain shared by x20/x21/a11 — the same integer-exact
  // arithmetic Retrieval.bm25Scored runs, digit-for-digit: bit-length
  // idf over N docs, tf saturation as ONE IEEE division of int64
  // products (k1=1.2, b=0.75 multiplied through by 10·L), floored to
  // a BIGINT micro-score per term, integer-summed per (query, doc).
  // `qSrc` supplies the (query_id, w) query-term table.
  private[keys] def bm25Ctes(qSrc: String): String =
    s"""toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
       |  FROM documents),
       |dw AS (SELECT doc_id, w, count(*) AS tf FROM toks GROUP BY 1, 2),
       |q AS (SELECT DISTINCT query_id, w FROM ($qSrc)),
       |filt AS (SELECT dw.* FROM dw
       |  JOIN (SELECT DISTINCT w FROM q) qt USING (w)),
       |dfq AS (SELECT w, count(*) AS df FROM filt GROUP BY 1),
       |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM dw GROUP BY 1),
       |n AS (SELECT count(*) AS n_docs FROM documents),
       |l AS (SELECT CAST(sum(tf) AS BIGINT) AS l_total FROM dw),
       |bterms AS (SELECT q.query_id, f.doc_id,
       |    CAST(floor(1000000.0
       |      * CAST(length(bin(n.n_docs)) - length(bin(dfq.df)) + 1 AS DOUBLE)
       |      * (CAST(22 * f.tf * l.l_total AS DOUBLE)
       |       / CAST(10 * f.tf * l.l_total + 3 * l.l_total
       |              + 9 * dl.dl * n.n_docs AS DOUBLE))) AS BIGINT) AS t6
       |  FROM filt f JOIN q USING (w) JOIN dfq USING (w)
       |    JOIN dl USING (doc_id) CROSS JOIN n CROSS JOIN l),
       |bsc AS (SELECT query_id, doc_id, CAST(sum(t6) AS BIGINT) AS score_q6
       |  FROM bterms GROUP BY 1, 2)""".stripMargin

  // Corpus-proportional coarse cells, shared by d5/d8 (blocking) and
  // a3/a4 (IVF cells) — the same derivation Ann.coarseCellParams/
  // buildCoarseIndex run, digit-for-digit: k1·k2 ≈ ceil(n/64)
  // product cells; anchors = the k1+k2 rows with the smallest
  // md5('cells:'||id), first k1 level 0, rest level 1; assignment =
  // nearest anchor per level by ROUNDED cosine (ties by anchor idx);
  // cell = idx0·k2 + idx1. `asg` keeps the top-2 anchors per level:
  // rn=1 is the primary assignment, rn=2 the boundary probe. `cpr`
  // is the near-dup candidate pair set: probe cells (all ≤4 of a
  // row's top-2×top-2 product) joined against primary cells, each
  // unordered pair reduced to its minimum meeting cell.
  private[keys] def cellCtes: String =
    s"""par AS (
       |  SELECT k1, CAST(ceil(cells / CAST(k1 AS DOUBLE)) AS BIGINT) AS k2 FROM (
       |    SELECT cells, CAST(ceil(sqrt(CAST(cells AS DOUBLE))) AS BIGINT) AS k1 FROM (
       |      SELECT greatest(1, CAST(ceil(count(*) / ${Ann.DefaultTargetCellSize}.0) AS BIGINT)) AS cells
       |      FROM embeddings))),
       |anch AS (
       |  SELECT CASE WHEN rk <= (SELECT k1 FROM par) THEN 0 ELSE 1 END AS lvl,
       |    CAST(CASE WHEN rk <= (SELECT k1 FROM par) THEN rk - 1
       |         ELSE rk - 1 - (SELECT k1 FROM par) END AS INT) AS idx,
       |    embedding AS avec
       |  FROM (SELECT embedding, row_number() OVER (
       |      ORDER BY md5('${Ann.CellSalt}:' || CAST(vec_id AS VARCHAR)), vec_id) AS rk
       |    FROM embeddings)
       |  WHERE rk <= (SELECT k1 FROM par) + (SELECT k2 FROM par)),
       |asg AS (
       |  SELECT vec_id, lvl, idx, rn FROM (
       |    SELECT e.vec_id, a.lvl, a.idx,
       |      row_number() OVER (PARTITION BY e.vec_id, a.lvl ORDER BY
       |        ${cosSql("e.embedding", "a.avec")} DESC, a.idx) AS rn
       |    FROM embeddings e CROSS JOIN anch a)
       |  WHERE rn <= ${Ann.CellProbe}),
       |pcell AS (
       |  SELECT a0.vec_id,
       |    CAST(a0.idx AS BIGINT) * (SELECT k2 FROM par) + a1.idx AS cell,
       |    (a0.rn = 1 AND a1.rn = 1) AS is_primary
       |  FROM asg a0 JOIN asg a1
       |    ON a0.vec_id = a1.vec_id AND a0.lvl = 0 AND a1.lvl = 1),
       |ccand AS (
       |  SELECT least(p.vec_id, b.vec_id) AS id_a,
       |    greatest(p.vec_id, b.vec_id) AS id_b, p.cell
       |  FROM pcell p JOIN pcell b ON p.cell = b.cell AND b.is_primary
       |  WHERE p.vec_id <> b.vec_id),
       |cpr AS (
       |  SELECT c.id_a, c.id_b, c.cell,
       |    ${cosSql("ea.embedding", "eb.embedding")} AS cos
       |  FROM (SELECT id_a, id_b, min(cell) AS cell FROM ccand GROUP BY 1, 2) c
       |  JOIN embeddings ea ON ea.vec_id = c.id_a
       |  JOIN embeddings eb ON eb.vec_id = c.id_b)""".stripMargin
}
