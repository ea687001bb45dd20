package graft

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.Text
import graft.operators.Pipeline
import graft.dedup.Dedup

/** Round-18 pins: the restructured p1 curation chain (flags fused
  * into the base projection, canonical-id via __h window, thresholds
  * from the per-source count, kept5 carrying text into the pack
  * stage) is row-identical to the round-17 form on both the real
  * corpus and an adversarial synthetic one. */
class R18OpsSpec extends SparkSpec {
  import spark.implicits._

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
    val clusters = Dedup.dupClusters(docs, "doc_id", "text", 3, 16, 4)
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

  // ---- m4/m6 over the shared chunk artifact -----------------------------

  test("m4/m6 From-variants over ChunkCache == the direct derivations") {
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val withP = graft.multimodal.Binary.withPayload(docs, "doc_id", "text")
    val shared = graft.multimodal.ChunkCache.chunks(spark, sfDir, 64)

    val m4Direct = rows(graft.multimodal.Binary.chunkDupPairs(
      withP, "doc_id", 64, 0.5).orderBy("id_a", "id_b"))
    val m4Shared = rows(graft.multimodal.Binary.chunkDupPairsFrom(
      shared, "doc_id", 0.5).orderBy("id_a", "id_b"))
    assert(m4Shared === m4Direct)

    val m6Direct = rows(graft.multimodal.Binary.casStats(
      docs, "doc_id", "text", "source", 64))
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

  // ---- t8/t10 two-phase changesBetween -----------------------------------

  test("changesBetween two-phase == one-pass max_by on adversarial keys") {
    import graft.temporal.Temporal
    // keys exercising every edge: created-after-from (NULL __ma),
    // unchanged (filtered out), tie on ts broken by the tie column,
    // a key whose latest row is BEFORE `from` (__ma == __mb), and a
    // key deleted... (append-only: no deletes — absent-at-from only)
    val df = Seq(
      (1L, "2025-01-05 00:00:00", 10L, "a", 1L),  // before from
      (1L, "2025-01-20 00:00:00", 11L, "b", 2L),  // between
      (2L, "2025-01-20 00:00:00", 20L, "c", 3L),  // created after from
      (3L, "2025-01-02 00:00:00", 30L, "d", 4L),  // latest before from
      (4L, "2025-01-05 00:00:00", 40L, "e", 5L),  // tie on ts at from side
      (4L, "2025-01-05 00:00:00", 41L, "f", 6L),
      (4L, "2025-01-25 00:00:00", 42L, "g", 7L),
      (5L, "2025-03-01 00:00:00", 50L, "h", 8L))  // after to: invisible
      .toDF("user_id", "tss", "event_id", "event_type", "value")
      .withColumn("ts", col("tss").cast("timestamp")).drop("tss")
    val from = lit("2025-01-10 00:00:00").cast("timestamp")
    val to = lit("2025-02-10 00:00:00").cast("timestamp")
    val fields = Seq("event_type", "value")
    val now = Temporal.changesBetween(df, "user_id", "ts", "event_id",
      from, to, fields).orderBy("user_id").collect().map(_.toSeq).toSeq
    // the r17 one-pass reference
    val payload = struct(fields.map(col): _*)
    val ord = struct(col("ts"), col("event_id"))
    val agged = df.filter(col("ts") <= to)
      .groupBy(col("user_id"))
      .agg(max_by(payload, when(col("ts") <= from, ord)).as("__a"),
        max_by(payload, ord).as("__b"))
    val changed = fields.map { f =>
      when(not(col(s"__a.$f") <=> col(s"__b.$f")), lit(f))
    }
    val ref = agged.select(
        col("user_id") +:
          (fields.map(f => col(s"__a.$f").as(s"${f}_from")) ++
           fields.map(f => col(s"__b.$f").as(s"${f}_to")) :+
           concat_ws(",", array(changed: _*)).as("changed_fields")): _*)
      .filter(col("changed_fields") =!= "")
      .orderBy("user_id").collect().map(_.toSeq).toSeq
    assert(now === ref)
    // the edges really occur: user 2 (created) and user 4 (tie) report
    assert(now.map(_.head).toSet === Set(1L, 2L, 4L))
  }

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
    // repeated bigrams, a single word (no bigrams), empty and NULL
    val docs = Seq(
      Some("a b a b a"), Some("  leading twice"), Some("trailing  "),
      Some("mid  dle double"), Some("tab\tinside and new\nline tokens"),
      Some("héllo wörld héllo wörld"), Some("solo"), Some(""),
      None: Option[String]
    ).zipWithIndex.map { case (t, i) => (i.toLong, t.orNull) }
      .toDF("doc_id", "text")
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
}
