package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.functions.Text

/** Training-data pipeline operators beyond dedup/ANN: the packing,
  * survivorship and decontamination passes a corpus goes through on the
  * way to a tokenizer. All are deterministic (hash shards, total-order
  * tie-breaks) and oracle-reproducible in ANSI SQL.
  */
object Pipeline {

  /** Deterministic sharded sequence packing: documents are dealt to
    * `shards` md5-hash shards (pure function of the id — reproducible
    * on any cluster size) and packed contiguously in id order into
    * bins of `budgetTokens` whitespace tokens — the concat-and-chunk
    * pass that turns a corpus into fixed-length training sequences.
    * One window + one aggregation per shard; shards bound the
    * sequential dependency, so parallelism is `shards`-wide however
    * large the corpus (a single global cumsum would serialize at
    * 100 TB). A document longer than the budget overflows its own bin
    * (count ≥ 1 per bin), matching streaming packers.
    *
    * `shards <= 0` (the default) resolves to the cluster's
    * `defaultParallelism`, so the cumsum stage scales with the cluster
    * instead of capping at a constant. Pass an explicit count when the
    * output must be reproducible across cluster sizes (the shard id is
    * part of the output). */
  /** Per-DOC pack assignment (id, toks, shard, bin) — the
    * [[packSequences]] cumsum decomposition exposed so composed
    * pipelines (p1) can attach each kept doc's bin without a second
    * token pass. */
  private[graft] def packAssignments(docs: DataFrame, id: String, text: String,
                                     budgetTokens: Int, shards: Int): DataFrame = {
    val w = Window.partitionBy(col("shard")).orderBy(col(id))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs.select(col(id), Text.wsTokenCount(col(text)).cast("long").as("toks"),
        Text.hashBucket(col(id), shards).as("shard"))
      .withColumn("cum_before", coalesce(sum(col("toks")).over(w), lit(0L)))
      .withColumn("bin",
        floor(col("cum_before") / lit(budgetTokens.toDouble)).cast("long"))
  }

  def packSequences(docs: DataFrame, id: String, text: String,
                    budgetTokens: Int, shards: Int = 0): DataFrame = {
    val nShards =
      if (shards > 0) shards
      else docs.sparkSession.sparkContext.defaultParallelism
    packAssignments(docs, id, text, budgetTokens, nShards)
      .groupBy(col("shard"), col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("toks")).cast("long").as("total_tokens"),
        min(col(id)).as("first_id"))
      .orderBy("shard", "bin")
  }

  /** Dataset card: the per-(source × lang) composition summary every
    * curated corpus publishes — doc counts, chars, whitespace tokens,
    * mean doc length — at every grouping granularity at once via CUBE
    * (source×lang, source, lang, grand total). One pass, one shuffle:
    * Spark expands the grouping sets map-side and partial-aggregates
    * before the exchange, so the cube costs the same single shuffle as
    * the finest grouping. `grp` is the grouping_id (source = high bit),
    * null group keys surfaced as 'ALL' — the q23 rollup convention.
    *
    * Data-level NULL `source`/`lang` are materialized as 'unknown' /
    * 'und' (BCP-47's undetermined-language tag) BEFORE the cube, so a
    * NULL in the data can never masquerade as an 'ALL' rollup label:
    * after the coalesce the only NULL group keys are the cube's own
    * rollup slots. (This was a documented precondition until r11; now
    * it's code — the r10 verdict's item 6.) */
  def corpusCard(docs: DataFrame, source: String, lang: String,
                 text: String, nChars: String): DataFrame =
    docs.select(coalesce(col(source), lit("unknown")).as(source),
        coalesce(col(lang), lit("und")).as(lang), col(nChars),
        Text.wsTokenCount(col(text)).cast("long").as("toks"))
      .cube(col(source), col(lang))
      .agg(grouping_id().as("grp"), count(lit(1)).as("n_docs"),
        sum(col(nChars)).cast("long").as("total_chars"),
        sum(col("toks")).cast("long").as("total_tokens"))
      .select(col("grp"),
        coalesce(col(source), lit("ALL")).as(source),
        coalesce(col(lang), lit("ALL")).as(lang),
        col("n_docs"), col("total_chars"), col("total_tokens"),
        round(col("total_chars").cast("double") / col("n_docs"), 6)
          .as("avg_chars"))
      .orderBy("grp", source, lang)

  /** Survivorship dedup: connected-component near-dup clusters (the d6
    * pipeline) reduced to one surviving document per cluster — the doc
    * with the most characters, ties to the smallest id — plus what the
    * cluster saves: member count, total chars, chars dropped by
    * keeping only the survivor. The window and the aggregation share
    * the cluster_id partitioning, so the reduction costs one exchange
    * beyond the clustering itself.
    *
    * Takes a PRE-BUILT cluster table (doc_id, cluster_id) — the
    * shared-table path: d6's clustering job feeds d7 through
    * [[graft.dedup.ClusterCache]] instead of re-running LSH + CC. */
  def dedupSurvivorsFrom(clusters: DataFrame, docs: DataFrame, id: String,
                         nChars: String): DataFrame = {
    val sized = clusters.join(docs.select(col(id), col(nChars)), Seq(id))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col(nChars).desc, col(id).asc)
    sized.withColumn("rn", row_number().over(w))
      .groupBy(col("cluster_id"))
      .agg(
        min(when(col("rn") === 1, col(id))).as("survivor_id"),
        count(lit(1)).as("n_members"),
        sum(col(nChars)).cast("long").as("total_chars"),
        (sum(col(nChars)) - max(col(nChars))).cast("long").as("saved_chars"))
      .orderBy("cluster_id")
  }

  /** First-seen n-gram NOVELTY profile (x19): for each document, the
    * fraction of its distinct n-gram shingles whose corpus-wide FIRST
    * occurrence (minimum doc id) lies in an EARLIER document — the
    * per-doc cross-shard copying signal behind the Lee et al. 2022
    * "Deduplicating Training Data Makes Language Models Better"
    * analyses: a high copied fraction marks near-verbatim reuse of
    * earlier corpus content even when no single pair crosses a d4/d2
    * dedup threshold.
    *
    * Scale shape: NO postings×postings and NO postings×vocabulary
    * join — n_copied = n_sh − (shingles this doc FIRST owns), and
    * first-ownership counts come from the vocabulary-sized df table
    * alone ([[Dedup.shingleDf]]'s __first column rides the same
    * shuffle as the df count), one vocab groupBy + one postings
    * aggregation, both over the shared corpus artifacts
    * (ClusterCache.postings / shingleDf).
    *
    * "EARLIER" means smaller doc id under the id column's native
    * ordering (see [[Dedup.shingleDf]]'s id-ordering note): the
    * copied_frac direction is only meaningful when ids are assigned
    * in ingestion/chronological order — remap non-chronological or
    * string ids to an ingestion-ordered key before reading this as a
    * copying signal. */
  def noveltyProfileFrom(sh: DataFrame, dfc: DataFrame): DataFrame = {
    val id = sh.columns.head
    val perDoc = sh.groupBy(col(id)).agg(max(col("n_sh")).as("n_sh"))
    val firstOwned = dfc.groupBy(col("__first").as(id))
      .agg(count(lit(1)).as("__n_first"))
    perDoc.join(firstOwned, Seq(id), "left")
      .select(col(id), col("n_sh"),
        (col("n_sh") - coalesce(col("__n_first"), lit(0L))).as("n_copied"),
        round((col("n_sh") - coalesce(col("__n_first"), lit(0L)))
          .cast("double") / col("n_sh"), 6).as("copied_frac"))
      .orderBy(id)
  }

  /** Cross-source duplication matrix (d10): for each unordered pair
    * of sources, how many near-dup clusters (d6's shared MinHash+CC
    * table) contain documents from BOTH — the "which sources copy
    * which" report a curator reads before setting mixture weights or
    * deciding which source to drop a duplicate from.
    *
    * Derived entirely from the shared cluster table: distinct
    * (cluster, source) is at most clusters × |sources| rows, and the
    * per-cluster fan-out is C(sources-in-cluster, 2) ≤
    * C(|sources|, 2) — output-bounded, never a document-level join
    * beyond the one cluster⋈source attach. */
  def sourceOverlapFrom(clusters: DataFrame, docs: DataFrame, id: String,
                        source: String): DataFrame = {
    val cs = clusters.join(docs.select(col(id), col(source)), Seq(id))
      .select(col("cluster_id"), col(source)).distinct()
    val a = cs.select(col("cluster_id"), col(source).as("source_a"))
    val b = cs.select(col("cluster_id"), col(source).as("source_b"))
    a.join(b, Seq("cluster_id"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_clusters"))
      .orderBy("source_a", "source_b")
  }

  /** Benchmark decontamination: corpus documents sharing at least
    * `minShared` distinct word n-gram shingles with any document of
    * the (small) benchmark/eval set, each reported against its
    * worst-overlap benchmark doc (ties to the smallest bench id).
    * The benchmark side is broadcast — eval sets are tiny next to the
    * corpus — so the check is one broadcast join over the corpus
    * shingle postings, no shuffle of the corpus at all beyond the
    * per-doc aggregation. */
  def decontaminate(docs: DataFrame, id: String, text: String, n: Int,
                    isBench: Column, minShared: Int,
                    postings: Option[DataFrame] = None): DataFrame = {
    // the bench flag is a pure function of the id column, so the
    // SHARED postings table (ClusterCache.postings — one shingle+md5
    // build serving d4/x16/x8/s4) substitutes without any doc join
    val sh = postings.map(_.select(col(id), col("shingle"))
        .withColumn("__bench", isBench)
        .select(col(id), col("__bench"), col("shingle")))
      .getOrElse(docs.repartition(col(id))
        .select(col(id), isBench.as("__bench"),
          explode(Text.shingles(col(text), n)).as("__s"))
        .select(col(id), col("__bench"), Text.md5Prefix60(col("__s")).as("shingle")))
    val bench = sh.filter(col("__bench"))
      .select(col(id).as("bench_id"), col("shingle"))
    val corpus = sh.filter(!col("__bench")).select(col(id), col("shingle"))
    val overlaps = corpus.join(broadcast(bench), Seq("shingle"))
      .groupBy(col(id), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    val w = Window.partitionBy(col(id))
      .orderBy(col("n_shared").desc, col("bench_id").asc)
    overlaps.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col(id), col("bench_id"), col("n_shared"))
      .orderBy(id)
  }

  /** Contamination REPORT — [[decontaminate]]'s hit set joined back to
    * sources: the per-source accounting a pipeline publishes next to
    * the doc-level hits (which sources ship contaminated data, and how
    * much token mass the decontamination pass removes from each). Per
    * source over the NON-bench corpus: doc and token totals,
    * contaminated docs/tokens, and the two rates. One doc-sized left
    * join of the (already tiny) hit set against a (id, source, token
    * count) projection — the text column collapses to one int before
    * any exchange — then a source-sized aggregate; token_rate is
    * null-guarded like d12's inflation. */
  def contaminationReport(docs: DataFrame, id: String, text: String,
                          source: String, isBench: Column,
                          hits: DataFrame): DataFrame = {
    val base = docs.filter(!isBench)
      .select(col(id), col(source),
        size(Text.words(col(text))).cast("long").as("__toks"))
    base.join(hits.select(col(id), lit(1L).as("__hit")), Seq(id), "left")
      .groupBy(col(source))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(coalesce(col("__hit"), lit(0L))).cast("long").as("n_contaminated"),
        sum(col("__toks")).cast("long").as("tokens_total"),
        sum(when(col("__hit") === 1L, col("__toks")).otherwise(lit(0L)))
          .cast("long").as("tokens_contaminated"))
      .withColumn("doc_rate",
        round(col("n_contaminated") / col("n_docs").cast("double"), 6))
      .withColumn("token_rate",
        when(col("tokens_total") > 0,
          round(col("tokens_contaminated") / col("tokens_total").cast("double"), 6)))
      .orderBy(col(source))
  }

  /** Gopher-style repetition signals (Rae et al. 2021, appendix A1.1):
    * the character fraction covered by the most frequent word bigram
    * and the duplicate word-trigram fraction — the standard repetition
    * filters a corpus passes before quality sampling. Boilerplate and
    * template spam score high; prose scores near zero.
    *
    * Shape: one explode per n-gram order, counts keyed (doc, gram)
    * then doc — map-side partial aggregation throughout, per-doc
    * cardinality bounded by document length, no window over an
    * unbounded partition. The top bigram resolves ties to the
    * lexicographically largest gram via a struct max, so the result is
    * total-order deterministic. Documents shorter than three words
    * have no trigram (or bigram) population and are dropped by the
    * inner joins — mirrored in the oracle. */
  def repetitionSignals(docs: DataFrame, id: String, text: String): DataFrame = {
    val base = docs.select(col(id), length(col(text)).as("n_chars"),
      Text.wsTokenCount(col(text)).as("n_words"))
    val top = docs.select(col(id), explode(Text.bigrams(col(text))).as("g"))
      .groupBy(col(id), col("g")).agg(count(lit(1)).as("cnt"))
      .groupBy(col(id)).agg(
        max(struct(col("cnt"), col("g"))).as("top"),
        sum(col("cnt")).as("n_bigrams"))
      .select(col(id), col("top.g").as("top_bigram"),
        col("top.cnt").as("top_bigram_n"))
    val tri = docs.select(col(id), explode(Text.ngrams(col(text), 3)).as("g"))
      .groupBy(col(id), col("g")).agg(count(lit(1)).as("cnt"))
      .groupBy(col(id)).agg(
        sum(col("cnt")).as("n_tri"),
        count(lit(1)).as("n_tri_distinct"))
    base.join(top, Seq(id)).join(tri, Seq(id))
      .select(col(id), col("n_words"), col("top_bigram"),
        col("top_bigram_n").cast("long").as("top_bigram_n"),
        round(col("top_bigram_n") * length(col("top_bigram")) /
          col("n_chars"), 6).as("frac_top_bigram"),
        round(lit(1.0) - col("n_tri_distinct") / col("n_tri"), 6)
          .as("dup_tri_frac"))
      .orderBy(id)
  }

  /** The (id, term, tf) token aggregate x11/x14/x17 start from — the
    * plan [[graft.dedup.ClusterCache.docWordTf]] persists as the shared
    * corpus artifact. Each of x14/x17 derives a vocabulary aggregate
    * from this table AND joins back to it, and Catalyst cannot reuse
    * the subtree across the two branches (column pruning drops tf on
    * the vocabulary side, so the exchanges differ and ReuseExchange
    * never fires) — left lazy, the token-level explode + aggregation
    * runs TWICE, the dominant cost of those plans (x17 at sf1 measured
    * 4.2s lazy vs 1.5s materialized — NOTES_r11 §7). This is the
    * classic two-pass tf-idf shape: at scale the intermediate is the
    * same volume the exchange writes anyway, and a production pipeline
    * persists it as a table. */
  def docWordTable(docs: DataFrame, id: String, text: String): DataFrame =
    docs.select(col(id), explode(Text.words(col(text))).as("w"))
      .groupBy(col(id), col("w")).agg(count(lit(1)).as("tf"))

  /** Corpus-unigram-LM rarity profile — the CCNet-style "LM quality"
    * pass, with the token information content QUANTIZED to integer
    * bit-buckets so every aggregate is cross-engine exact: a token
    * whose corpus count is c carries bits(c) = length(bin(c)) =
    * floor(log2 c)+1 bits of (inverse) evidence, an integer in both
    * engines, where a float `log2` sum would be summation-order- and
    * libm-dependent. Low avg_bits / high rare_tokens = documents made
    * of corpus-rare vocabulary (OCR noise, codes, other languages);
    * high avg_bits = common-word prose.
    *
    * Shape: one scan → (doc, word) tf aggregation; the corpus word
    * count table is derived from that SAME aggregate (Spark reuses
    * the exchange — no second scan), then an equi-join on `word`
    * (vocabulary ≪ token count; AQE handles hot stopword keys) and a
    * per-doc aggregation. No window, no collect, every sum an
    * integer until the final rounded ratio.
    *
    * Takes a pre-built (id, term, tf) table ([[docWordTable]]): the
    * keys wire the shared warm one, ClusterCache.docWordTf. */
  def unigramLmProfileFrom(docWord: DataFrame, id: String): DataFrame = {
    val wordCnt = docWord.groupBy(col("w")).agg(sum(col("tf")).as("cnt"))
    docWord.join(wordCnt, Seq("w"))
      .groupBy(col(id)).agg(
        sum(col("tf")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(col("tf") * when(col("cnt") <= 2, 1).otherwise(0))
          .as("rare_tokens"),
        sum(col("tf") * length(bin(col("cnt")))).as("sum_bits"),
        min(col("cnt")).as("min_cnt"))
      .select(col(id), col("n_tokens"), col("n_distinct"),
        col("rare_tokens"), col("min_cnt"),
        round(col("sum_bits") / col("n_tokens"), 6).as("avg_bits"))
      .orderBy(id)
  }

  /** Corpus-BIGRAM-LM fluency profile — x11's unigram rarity pass one
    * model order up (the CCNet perplexity-filter shape): per document,
    * the add-one-smoothed conditional surprisal of each adjacent token
    * transition under the corpus bigram LM, QUANTIZED to integer bits
    * (the x11/x17 discipline) so every aggregate is cross-engine exact:
    *
    *   surprisal_bits(a→b) = bits(C1(a) + V) − bits(C2(a,b) + 1)
    *
    * with C2 the corpus count of the bigram, C1(a) = Σ_b C2(a,b) the
    * head's transition mass, V the corpus unigram vocabulary (the
    * add-one denominator), bits(x) = length(bin(x)). Integer ≥ 0 by
    * construction (C1 + V ≥ C2 + 1 always). High avg_bits = improbable
    * transitions (shuffled/generated text, OCR noise — fluency damage
    * x11's order-free unigram stats cannot see); low = common-word
    * prose. A float log P(b|a) sum would be libm/order-dependent.
    *
    * Shape: one scan → bigram strings (tokens carry no spaces under
    * the single-space split, so `a ⊔ b` is unambiguous), immediately
    * NARROWED to int64 keys — `bgh` = md5Prefix60(bigram) and `ah` =
    * md5Prefix60(head token), the d4 postings trick — so the dominant
    * tokens-sized exchange (the per-doc bigram tf aggregate, the
    * d9/x15 postings family) and the join back carry two longs per
    * row instead of a raw `"a b"` string (~4× narrower at corpus
    * scale; 60-bit keys make collisions negligible, and the oracle
    * md5s the same way so both engines agree under any collision).
    * The bigram column itself is the native WordShingles expression
    * (Text.bigrams — codegen'd; the zip_with/slice HOF twin is
    * interpreter-bound). Corpus C2 and C1 derive from the SAME
    * aggregate (bigram-vocabulary-sized, keyed on the int64s); V from
    * the SHARED docWordTf table's vocabulary; one join back on `bgh`
    * (AQE absorbs hot heads) and a per-doc aggregation. No window, no
    * collect; docs with < 2 tokens report n_bigrams = 0 via the final
    * left join. */
  def bigramSurprisalFrom(docs: DataFrame, docWord: DataFrame,
                          id: String, text: String): DataFrame = {
    // one-pass native (bgh, ah) hashing: bit-identical to the
    // explode(bigrams) → md5Prefix60 + substring_index pipeline it
    // replaces (BigramHashesSpec pins the equality), one digest per
    // word position instead of two per bigram
    val bgt = docs
      .select(col(id), explode(Text.bigramHashes(col(text))).as("__b"))
      .select(col(id), col("__b.bgh").as("bgh"), col("__b.ah").as("ah"))
      .groupBy(col(id), col("bgh"), col("ah")).agg(count(lit(1)).as("tf2"))
    val c2 = bgt.groupBy(col("bgh")).agg(sum(col("tf2")).as("c2"))
    val c1 = bgt.groupBy(col("ah")).agg(sum(col("tf2")).as("c1"))
    val v = docWord.agg(countDistinct(col("w")).as("v"))
    val scored = bgt
      .join(c2, Seq("bgh"))
      .join(c1, Seq("ah"))
      .crossJoin(broadcast(v))
      .groupBy(col(id)).agg(
        sum(col("tf2")).as("n_bigrams"),
        sum(col("tf2") *
          (length(bin(col("c1") + col("v"))) - length(bin(col("c2") + 1))))
          .as("sum_bits"))
    docs.select(col(id))
      .join(scored, Seq(id), "left")
      .select(col(id),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("sum_bits"), lit(0L)).as("sum_bits"),
        coalesce(round(col("sum_bits") / col("n_bigrams").cast("double"), 6),
          lit(0.0)).as("avg_bits"))
      .orderBy(id)
  }

  /** Top-k PMI collocations — the keyword/phrase-extraction pass
    * (Church & Hanks 1990) that sits next to x5's raw bigram counts
    * and x23's bigram LM: rank adjacent word pairs by how much more
    * often they co-occur than their unigram frequencies predict,
    *
    *   pmi_bits = bits(n_ab) + bits(N) − bits(n_a) − bits(n_b)
    *
    * the x11/x17 bit-length quantization of log2(n_ab·N/(n_a·n_b))
    * with the corpus token count N as the shared normalizer — each
    * operand takes bits() BEFORE any product, so the statistic is
    * overflow-free pure int addition at ANY corpus size (n_ab·N
    * alone would overflow int64 near 1e13 tokens). A float log PMI
    * would be libm-dependent; the integer form ties coarsely, so the
    * rank order is pinned by (pmi_bits, n_ab DESC, bigram ASC).
    *
    * Shape: one scan → one-pass native bigram hashing
    * ([[graft.functions.expressions.BigramHashes]]: one digest per
    * word position + one per pair, no intermediate strings) → a
    * PAYLOAD-FREE (bgh, ah, th) count aggregate — three int64 keys
    * and a long, so both the hash-map buffers and the exchange after
    * the map-side partial are fixed-width rows (guide §2: shuffle
    * fewer bytes; the display string used to ride this tokens-fed
    * aggregate as a min() payload). Unigram counts derive from the
    * SHARED (id, w, tf) table with min(w) carried on the VOCAB-sized
    * aggregate, so the two int64 equi-joins the operator already does
    * for n_a/n_b also deliver the words that reconstruct the display
    * bigram (`min(w|ah) ⊔ ' ' ⊔ min(w|th)` == the old per-group
    * min(bigram) — each 60-bit word hash names one word, the same
    * no-collision granularity the (bgh, ah, th) keying is already
    * built on; X28Probe + BigramSurprisalSpec pin bit-equality with the
    * payload-carrying form). A 60-bit word-hash collision therefore
    * does not only merge counts: the display string pairs the smaller
    * word of each colliding hash, so it can show a bigram that never
    * occurs in the corpus. One broadcast total, TakeOrdered top-k —
    * the ranked set never leaves a bounded heap. `minCount` prunes
    * the hapax tail (the classic PMI degenerate: two words seen once,
    * together — perfect PMI, zero evidence) before the joins, so the
    * joined volume is the frequent-bigram table, not the bigram
    * vocabulary. Measured sf1: 2.23 → 0.92s (X28Probe, reps=5
    * interleaved medians). */
  def pmiCollocations(docs: DataFrame, docWord: DataFrame,
                      id: String, text: String,
                      minCount: Int, k: Int): DataFrame = {
    val bg = docs.select(explode(Text.bigramHashes(col(text))).as("__b"))
      .select(col("__b.bgh").as("bgh"), col("__b.ah").as("ah"),
        col("__b.th").as("th"))
      .groupBy(col("bgh"), col("ah"), col("th"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minCount)
    // aggregated BY HASH (not by word) so a 60-bit collision merges
    // counts identically on both engines instead of fanning the join;
    // min(w) rides this vocab-sized aggregate (never the tokens-sized
    // one) to rebuild the display bigram after the joins
    val wc = docWord.select(Text.md5Prefix60(col("w")).as("wh"),
        col("w"), col("tf"))
      .groupBy(col("wh"))
      .agg(sum(col("tf")).as("cnt"), min(col("w")).as("wmin"))
    val total = docWord.agg(sum(col("tf")).as("n_tok"))
    bg
      .join(wc.select(col("wh").as("ah"), col("cnt").as("n_a"),
        col("wmin").as("wa")), Seq("ah"))
      .join(wc.select(col("wh").as("th"), col("cnt").as("n_b"),
        col("wmin").as("wb")), Seq("th"))
      .crossJoin(broadcast(total))
      .select(concat(col("wa"), lit(" "), col("wb")).as("bigram"),
        col("n_ab"), col("n_a"), col("n_b"),
        (length(bin(col("n_ab"))) + length(bin(col("n_tok"))) -
          length(bin(col("n_a"))) - length(bin(col("n_b"))))
          .cast("long").as("pmi_bits"))
      .orderBy(col("pmi_bits").desc, col("n_ab").desc, col("bigram").asc)
      .limit(k)
  }

  /** Per-SOURCE lexical-drift report — the data-mixing diagnostic that
    * sits next to x12 (mixture quotas) and x18 (composition counts):
    * for each source, the average per-token rarity of its vocabulary
    * under the CORPUS unigram code vs under its OWN code, in the
    * x11 integer bit quantization:
    *
    *   avg_corpus_bits = Σ_w s_cnt(w)·bits(cnt(w)) / T_s
    *   avg_self_bits   = Σ_w s_cnt(w)·bits(s_cnt(w)) / T_s
    *   div_bits        = avg_corpus_bits − avg_self_bits
    *
    * div_bits ≈ log2(T/T_s) for a source that mirrors the corpus
    * distribution scaled down; a source whose div_bits sits ABOVE that
    * baseline concentrates on corpus-rare vocabulary (domain
    * specialization / drift — the signal that re-weights a mixture or
    * flags a contaminated shard). All sums integer until the final
    * rounded ratios, so both engines agree bit-for-bit.
    *
    * Shape: one scan → (source, w) token aggregate (the postings
    * shuffle family); corpus counts derived from THAT aggregate
    * (vocab-sized second aggregation — never a second scan); one
    * vocab-sized join back; output = sources. No window, no collect. */
  def sourceDivergence(docs: DataFrame, id: String, text: String,
                       source: String): DataFrame = {
    val sw = docs
      .select(col(source), explode(Text.words(col(text))).as("w"))
      .groupBy(col(source), col("w")).agg(count(lit(1)).as("s_cnt"))
      .localCheckpoint() // corpus counts derive from this same aggregate
    val cw = sw.groupBy(col("w")).agg(sum(col("s_cnt")).as("cnt"))
    val nd = docs.groupBy(col(source)).agg(count(lit(1)).as("n_docs"))
    sw.join(cw, Seq("w"))
      .groupBy(col(source)).agg(
        sum(col("s_cnt")).as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(col("s_cnt") * length(bin(col("cnt")))).as("sum_corpus_bits"),
        sum(col("s_cnt") * length(bin(col("s_cnt")))).as("sum_self_bits"))
      .join(nd, Seq(source))
      .select(col(source), col("n_docs"), col("n_tokens"), col("vocab"),
        round(col("sum_corpus_bits") / col("n_tokens").cast("double"), 6)
          .as("avg_corpus_bits"),
        round(col("sum_self_bits") / col("n_tokens").cast("double"), 6)
          .as("avg_self_bits"),
        round((col("sum_corpus_bits") - col("sum_self_bits"))
          / col("n_tokens").cast("double"), 6).as("div_bits"))
      .orderBy(asc_nulls_last(source))
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * via Importance Resampling" — the pretraining data-selection pass
    * that upsamples raw documents resembling a curated TARGET): per
    * document, the integer-bits gap between its rarity under the
    * target hashed-ngram LM and under the raw (whole-corpus) LM,
    * reported per source. DSIR's own scaling trick is kept: features
    * (word unigrams + bigrams) hash into `buckets` fixed buckets, so
    * BOTH language models are `buckets`-bounded tables whatever the
    * corpus vocabulary — broadcastable at any scale.
    *
    * Quantization (the x11/x23 discipline, everything cross-engine
    * exact until the final rounded ratio):
    *
    *   St(d) = Σ_f tf_f · bits(tgt_b(f) + 1)   (rarity, target code)
    *   Sr(d) = Σ_f tf_f · bits(raw_b(f) + 1)   (rarity, raw code)
    *   dsir_gap(d) = (St − Sr) / F(d)          (HIGHER = target-like:
    *       a feature common in the target has a large tgt count, so
    *       bits(tgt+1) approaches bits(raw+1) and the gap approaches
    *       0 from below; a target-foreign feature contributes
    *       1 − bits(raw+1), deeply negative)
    *
    * A document is SELECTED when its gap beats the corpus-average gap
    * by integer cross-multiplication (the x21 trick — no float
    * compare): (St − Sr) · G > (Ct − Cr) · F, with (Ct, Cr, G) the
    * corpus sums. The LM normalizers (feature totals) shift every
    * document's gap by the same per-feature constant, so they cancel
    * OUT of the average-relative selection rule — which is why the
    * unnormalized bit sums suffice. Discrimination regime (inherent
    * to add-one hashed LMs, DSIR's own smoothing): the signal lives
    * in COMMON-mass features (a raw-common, target-absent feature
    * costs bits(raw+1) − 1 per occurrence); per-document hapax junk
    * is smoothing-dominated (bits 2 vs 1) and barely penalized —
    * spec-pinned on a planted three-source corpus. int64 headroom: per-doc sums ≤ tokens·bits(corpus),
    * the cross products ≤ corpus_bits_gap · doc_tokens — renormalize
    * to per-million-feature units before the product at the
    * 10¹²⁺-token scale where they'd approach 2⁶³ (documented, not
    * triggered at any tested scale).
    *
    * Shape: one scan → exploded uni+bi features hashed to int64
    * buckets (the postings exchange family, narrow keys); per-doc
    * (id, bucket) tf aggregate; BOTH LMs derive from that SAME
    * aggregate (bucket-bounded — raw from everything, target from the
    * target-flagged rows); one broadcast join back (buckets rows);
    * per-doc then per-source aggregation. No window, no collect. */
  /** The (id, source, target-flag, bucket, tf) hashed-feature
    * aggregate BOTH of [[dsirWeights]]' language models derive from —
    * factored out so it can be served as a durable artifact
    * ([[graft.dedup.ClusterCache.dsirFeats]]): it is the operator's
    * dominant cost (the uni+bigram explode + aggregation over the
    * corpus) and a pure function of (corpus, buckets, predicate). */
  def dsirFeatTable(docs: DataFrame, id: String, text: String,
                    source: String, targetPred: Column,
                    buckets: Int): DataFrame = {
    val f = explode(Text.words(col(text))).as("f")
    val f2 = explode(Text.bigrams(col(text))).as("f")
    docs.select(col(id), col(source), targetPred.as("__t"), f)
      .unionByName(docs.select(col(id), col(source), targetPred.as("__t"), f2))
      .select(col(id), col(source), col("__t"),
        pmod(Text.md5Prefix60(col("f")), lit(buckets.toLong)).as("b"))
      .groupBy(col(id), col(source), col("__t"), col("b"))
      .agg(count(lit(1)).as("tf"))
  }

  /** The per-doc DSIR importance statistics (id, source, __F feature
    * mass, __St target-LM bits, __Sr raw-LM bits) both report halves
    * of [[dsirWeights]] reduce over — factored out so it can be served
    * as a durable DOC-SIZED artifact
    * ([[graft.dedup.ClusterCache.dsirDocStats]], the d8-clusters
    * pattern): the LM fold and the feature-table join+aggregate are a
    * pure integer function of (corpus, buckets, predicate), and the
    * remaining per-source report is source×1 work. */
  def dsirDocStats(feats: DataFrame, id: String, source: String): DataFrame = {
    val lm = feats.groupBy(col("b")).agg(
      sum(col("tf")).as("raw_cnt"),
      sum(when(col("__t"), col("tf")).otherwise(0L)).as("tgt_cnt"))
    feats
      .join(broadcast(lm), Seq("b"))
      .groupBy(col(id), col(source)).agg(
        sum(col("tf")).as("__F"),
        sum(col("tf") * length(bin(col("tgt_cnt") + 1))).as("__St"),
        sum(col("tf") * length(bin(col("raw_cnt") + 1))).as("__Sr"))
  }

  def dsirWeights(docs: DataFrame, id: String, text: String,
                  source: String, targetPred: Column,
                  buckets: Int = 4096,
                  featsPre: Option[DataFrame] = None,
                  docStatsPre: Option[DataFrame] = None): DataFrame = {
    val perDoc = docStatsPre.getOrElse {
      val feats = featsPre.getOrElse(
        dsirFeatTable(docs, id, text, source, targetPred, buckets)
          .localCheckpoint()) // both LMs derive from this same aggregate
      dsirDocStats(feats, id, source)
    }
    val tot = perDoc.agg(
      sum(col("__F")).as("__G"),
      sum(col("__St")).as("__Ct"),
      sum(col("__Sr")).as("__Cr"))
    perDoc.crossJoin(broadcast(tot))
      .groupBy(col(source)).agg(
        count(lit(1)).as("n_docs"),
        sum(col("__F")).as("n_feats"),
        sum(col("__St") - col("__Sr")).as("gap_bits"),
        sum(when((col("__St") - col("__Sr")) * col("__G") >
          (col("__Ct") - col("__Cr")) * col("__F"), 1L).otherwise(0L))
          .as("n_selected"),
        min(when((col("__St") - col("__Sr")) * col("__G") >
          (col("__Ct") - col("__Cr")) * col("__F"), col(id))).as("first_sel"))
      .withColumn("avg_gap_bits",
        round(col("gap_bits") / col("n_feats").cast("double"), 6))
      .orderBy(source)
  }

  /** Integer-quantized TF-IDF top terms per document — the keyword /
    * salient-term extraction pass (topical indexing, dedup explainers,
    * domain tagging). IDF is the x11 bit-length quantization applied to
    * DOCUMENT frequency: idf_bits(w) = bits(N) − bits(df(w)) + 1 (an
    * integer ≥ 1; halving df adds ~1 bit), so score = tf · idf_bits is
    * integer end to end and both engines rank the identical numbers —
    * where a float log(N/df) sum would be libm-dependent.
    *
    * Shape: the (doc, word) tf aggregate comes in MATERIALIZED (the
    * shared-artifact path, [[graft.dedup.ClusterCache.docWordTf]] —
    * Catalyst cannot share the differently-pruned branches, see
    * [[docWordTable]]); df table derived from that table; N from a
    * scalar count broadcast back; top-k via a BOUNDED CollectMinK
    * aggregate over an order-encoding key — never a per-doc
    * row_number window: the window form re-shuffles and SORTS the
    * whole scored (doc, word) table (≈ every token) to keep k rows
    * per doc, while the bounded aggregate partial-combines map-side
    * so the exchange after the df join carries ≤ k keys per doc (it
    * was the one >2× DuckDB parity entry at sf1 as a window).
    *
    * The key is `lpad(10^12 − score) ⊔ hex(term) ⊔ tf ⊔ df` with
    * ⊔ = ' ': fixed-width zero-padded (10^12 − score) makes
    * lexicographic order equal (score DESC, term ASC). The term rides
    * HEX-ENCODED: hex of the UTF-8 bytes is order-preserving (each
    * byte maps to two chars from the monotone alphabet 0-9A-F, so
    * hex-string order == byte order == Spark/DuckDB binary-collation
    * string order) and its alphabet sits entirely above the ' '
    * separator — so the encoding stays correct even for tokens
    * carrying tab/newline/control chars, which the single-space
    * Text.words split does NOT strip (a raw control char < 0x20 would
    * sort a term before its own prefix). tf/df ride along for
    * parse-back (never compared: (doc, term) is unique). Score bound
    * tf·idf_bits ≤ doc_tokens·64 ≪ 10^12 is ENFORCED: a score ≥ 10^12
    * raises instead of silently misranking (the '-' a negative
    * difference would inject sorts above the digits and would float
    * the highest-scoring terms to the bottom). */
  def tfidfTopTermsFrom(docWord: DataFrame, docs: DataFrame, id: String,
                        topK: Int): DataFrame = {
    val Big = 1000000000000L // 10^12 > any tf·idf_bits
    val dfT = docWord.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = docWord.join(dfT, Seq("w")).crossJoin(broadcast(n))
      .withColumn("score",
        (col("tf") * (length(bin(col("n_docs"))) - length(bin(col("df"))) + 1))
          .cast("long"))
    val invScore = when(col("score") >= lit(Big),
        raise_error(concat(lit("tfidfTopTerms: score >= 10^12 breaks the "
          + "order-encoding key: "), col("score").cast("string"))))
      .otherwise(lit(Big) - col("score"))
    val key = concat_ws(" ",
      lpad(invScore.cast("string"), 13, "0"),
      hex(col("w").cast("binary")), col("tf").cast("string"),
      col("df").cast("string"))
    scored
      .groupBy(col(id))
      .agg(Dedup.collectMinK(key.as("__k"), topK).as("__top"))
      .select(col(id), posexplode(col("__top")).as(Seq("__pos", "__k")))
      .withColumn("__p", split(col("__k"), " "))
      .select(col(id), (col("__pos") + 1).as("rank"),
        unhex(col("__p").getItem(1)).cast("string").as("term"),
        col("__p").getItem(2).cast("long").as("tf"),
        col("__p").getItem(3).cast("long").as("df"),
        (lit(Big) - col("__p").getItem(0).cast("long")).as("score"))
      .orderBy(id, "rank")
  }

  /** Mixture construction over a stratum column (training-data domain
    * weighting): given a global sample fraction and uniform target
    * shares per stratum, derive each stratum's deterministic
    * hash-bucket acceptance threshold and report the realized sample.
    * The selection predicate (`bucket < threshold`) is a pure function
    * of the id — reproducible on any cluster size, monotone under
    * rate changes, and applying it to materialize the sample is a
    * broadcast-join + map-side filter over the corpus scan.
    *
    * Shape: ONE scan reduced to a (stratum, bucket) count table
    * (≤ strata × buckets rows); availability, quotas, thresholds and
    * realized counts all derive from that aggregate. Integer / single-
    * division arithmetic end to end, so both engines agree bit-for-bit. */
  /** Zipf-law fit of the corpus term-frequency distribution — the
    * corpus-card statistic next to x18's composition table: a least-
    * squares slope/intercept of log-frequency vs log-rank over the top
    * `topN` terms. Shape: one term-sized aggregate off the SHARED
    * (id, w, tf) table, a TakeOrdered top-N (never a total-order
    * exchange), then the fit runs over ≤ topN rows (the ts6 bounded-
    * window class — row_number's global window sorts topN rows in one
    * task). Cross-engine exactness: ln values are floor-quantized to
    * 1e-6 micro-units BEFORE any sum (the x20/x23 pattern — the
    * quantized values ARE the fit's definition, shared with the
    * oracle), all five moment sums are exact int64 (|Σxy| ≤
    * topN·ln(topN)·ln(Σtf)·10¹² ≪ 2⁶³), and the closing slope/
    * intercept arithmetic is the same operand-ordered double formula
    * on both engines. */
  def zipfFit(docWord: DataFrame, topN: Int): DataFrame = {
    val tc = docWord.groupBy(col("w"))
      .agg(sum(col("tf")).cast("long").as("cnt"))
    val tot = tc.agg(count(lit(1)).as("n_terms"),
      sum(col("cnt")).cast("long").as("total_tokens"))
    val top = tc.orderBy(col("cnt").desc, col("w")).limit(topN)
    val rw = Window.orderBy(col("cnt").desc, col("w")) // ≤ topN rows
    val q = top.withColumn("rank", row_number().over(rw))
      .select(col("cnt"), col("rank"),
        floor(log(col("rank").cast("double")) * lit(1000000.0))
          .cast("long").as("xq"),
        floor(log(col("cnt").cast("double")) * lit(1000000.0))
          .cast("long").as("yq"))
    val f = q.agg(
      count(lit(1)).cast("long").as("n_top"),
      sum(col("xq")).cast("long").as("sx"),
      sum(col("yq")).cast("long").as("sy"),
      sum(col("xq") * col("yq")).cast("long").as("sxy"),
      sum(col("xq") * col("xq")).cast("long").as("sxx"),
      max(when(col("rank") === 1, col("cnt"))).cast("long").as("top1"))
    val n = col("n_top").cast("double")
    val (sx, sy) = (col("sx").cast("double"), col("sy").cast("double"))
    val slope = (n * col("sxy").cast("double") - sx * sy) /
      (n * col("sxx").cast("double") - sx * sx)
    f.crossJoin(broadcast(tot))
      .select(col("n_terms"), col("n_top"),
        round(slope, 6).as("zipf_slope"),
        round((sy - slope * sx) / n / lit(1000000.0), 6).as("zipf_intercept"),
        round(col("top1") / col("total_tokens").cast("double"), 6)
          .as("top1_share"))
  }

  def domainMixture(docs: DataFrame, stratum: String, id: String,
                    buckets: Int, samplePctNum: Int, samplePctDen: Int,
                    nStrata: Int): DataFrame = {
    val perBucket = docs
      .select(col(stratum), Text.hashBucket(col(id), buckets).as("bucket"))
      .groupBy(col(stratum), col("bucket")).agg(count(lit(1)).as("n"))
    // stratum totals / corpus total / quota as WINDOWS over the
    // strata×buckets aggregate (bounded by construction — `buckets` is
    // a constant): the aggregate-then-crossJoin-then-join-back form
    // re-planned the docs scan three times for a report whose every
    // input past the first aggregation is tiny
    val wS = Window.partitionBy(col(stratum))
    val wAll = graft.util.BoundedWindows.globalAgg(
      "<= nStrata x buckets rows (buckets is a constant)")
    perBucket
      .withColumn("available", sum(col("n")).over(wS))
      .withColumn("corpus_total", sum(col("n")).over(wAll))
      .withColumn("target_quota", least(col("available"),
        floor(col("corpus_total") * samplePctNum /
          lit(samplePctDen.toDouble * nStrata))))
      .withColumn("bucket_threshold",
        floor(col("target_quota") * buckets / col("available").cast("double")))
      .groupBy(col(stratum), col("available"), col("corpus_total"),
        col("target_quota"), col("bucket_threshold"))
      .agg(sum(when(col("bucket") < col("bucket_threshold"), col("n"))
        .otherwise(0)).as("n_sampled"))
      .select(col(stratum), col("available"), col("target_quota"),
        col("bucket_threshold"), col("n_sampled"),
        round(col("n_sampled") / col("available"), 6).as("sampled_share"))
      .orderBy(stratum)
  }

  /** Per-source quality DRIFT over time windows (x30) — the
    * curation-monitoring report a pipeline publishes per ingest
    * window: the reference's temporal axis applied to the documents
    * pipeline. `events` is the serving/ingest log; each event touches
    * document `event_id mod nDocs` (nDocs from parquet footers, never
    * a scan job), weeks come from `date_trunc`, and per (source, week)
    * the report carries the served-doc count, the mean quality score
    * (decimal sum of the 6-dp per-doc scores — order-independent,
    * engine-exact), the source's FIRST-week baseline, and the drift
    * against it in integer micro units (difference of two 6-dp
    * multiples — exact, so the `drifted` threshold flag can never
    * straddle a float boundary).
    *
    * Scale shape: per-doc quality is a map-only projection; the
    * serving join is one doc-keyed equi-join (quality side is
    * doc-sized — broadcast-able when small, AQE shuffle join at
    * 100 TB); the weekly aggregate partial-aggregates map-side; the
    * baseline window runs over the tiny source×week aggregate, never
    * event rows. */
  def qualityDrift(docQuality: DataFrame, id: String, source: String,
                   quality: String, events: DataFrame, eventId: String,
                   ts: String, nDocs: Long, threshMicro: Long): DataFrame = {
    val served = events.select(
      pmod(col(eventId), lit(nDocs)).as(id),
      date_format(date_trunc("week", col(ts)), "yyyy-MM-dd").as("week"))
    val weekly = served
      .join(docQuality.select(col(id), col(source), col(quality)), Seq(id))
      .groupBy(col(source), col("week"))
      .agg(count(lit(1)).as("n_served"),
        round(sum(col(quality).cast("decimal(18,6)")).cast("double") /
          count(lit(1)), 6).as("avg_quality"))
    val w = Window.partitionBy(col(source)).orderBy(col("week"))
    weekly
      .withColumn("baseline_quality", first(col("avg_quality")).over(w))
      .withColumn("drift_micro",
        round((col("avg_quality") - col("baseline_quality")) * 1e6)
          .cast("long"))
      .withColumn("drifted", abs(col("drift_micro")) > threshMicro)
      .orderBy(col(source), col("week"))
  }

  /** Duplicate-SERVING drift over time windows (x31 — the temporal
    * axis applied to exact dedup, x30's sibling): per (source, week)
    * of the serving log, how many served documents are non-canonical
    * exact duplicates (x4's fingerprint → per-fingerprint min-id
    * canonical; a doc is a dup iff its id differs from its
    * fingerprint's canonical). The monitoring row a pipeline watches
    * to catch a source that starts re-shipping already-ingested data.
    * Scale shape: fingerprint is map-only; the canonical aggregate is
    * map-side-partial groupBy-min + equi-join back (the x4 shape, no
    * hot-fingerprint window funnel); the serving join is one doc-keyed
    * equi-join; the weekly rollup partial-aggregates map-side. */
  def dupServingDrift(docs: DataFrame, id: String, text: String,
                      source: String, events: DataFrame, eventId: String,
                      ts: String, nDocs: Long): DataFrame = {
    val fps = docs.select(col(id), col(source),
      Text.fingerprint(col(text)).as("__fp"))
    val canon = fps.groupBy(col("__fp")).agg(min(col(id)).as("__canon"))
    val flags = fps.join(canon, Seq("__fp"))
      .select(col(id), col(source),
        (col(id) =!= col("__canon")).cast("long").as("__dup"))
    val served = events.select(
      pmod(col(eventId), lit(nDocs)).as(id),
      date_format(date_trunc("week", col(ts)), "yyyy-MM-dd").as("week"))
    served.join(flags, Seq(id))
      .groupBy(col(source), col("week"))
      .agg(count(lit(1)).as("n_served"),
        sum(col("__dup")).as("dup_served"))
      .withColumn("dup_rate",
        round(col("dup_served") / col("n_served").cast("double"), 6))
      .orderBy(col(source), col("week"))
  }

  /** Blocklist filtering (the C4 "bad-words" pass): count blocklisted
    * tokens per document and flag documents whose blocklist DENSITY
    * crosses a threshold — flagged ⇔ hits · denomPer > n_words, i.e.
    * more than 1/denomPer of the tokens are blocklisted. The density
    * form (vs "any hit") is what real curation uses, and the integer
    * cross-multiplication makes the decision engine-exact. One scan,
    * reduced map-side to a per-stratum aggregate; the token test is a
    * codegen'd array filter over the in-row word list — no explode,
    * no join, no per-doc shuffle row. */
  def blocklistFilter(docs: DataFrame, id: String, text: String,
                      stratum: String, block: Seq[String],
                      denomPer: Int): DataFrame = {
    val ws = Text.words(col(text))
    val perDoc = docs.select(col(stratum), col(id),
      Text.stopwordHits(ws, block).as("hits"), size(ws).as("n_words"))
    val flagged = col("hits") * denomPer > col("n_words")
    perDoc.groupBy(col(stratum))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("hits")).as("total_hits"),
        sum(when(flagged, 1).otherwise(0)).as("n_flagged"),
        min(when(flagged, col(id))).as("first_flagged"))
      .select(col(stratum), col("n_docs"), col("total_hits"),
        col("n_flagged"), (col("n_docs") - col("n_flagged")).as("n_kept"),
        round(col("n_flagged") / col("n_docs"), 6).as("flagged_rate"),
        col("first_flagged"))
      .orderBy(stratum)
  }

  /** CCNet-style head/middle/tail quality bucketing (Wenzek et al.
    * 2020): per-language `nBuckets`-quantile split on the corpus-LM
    * bits-per-token score (the same integer bit-bucket quantization
    * as [[unigramLmProfileFrom]], so both engines sort the identical
    * IEEE double sum_bits/n_tokens; ties broken by doc id). Bucket 1 =
    * most-predictable ("head") documents.
    *
    * Exact ntile needs a per-language sort — fine per-partition here
    * since languages are few and the window parallelizes across them.
    * At 100 TB the same split is served by approx-quantile CUTOFFS
    * (one pass, no sort) and a map-side comparison against the
    * broadcast cutoff table; exact ntile is kept because the oracle
    * must agree bit-for-bit.
    *
    * Takes a pre-built (id, term, tf) table ([[docWordTable]]). */
  def ccnetBucketsFrom(docWord: DataFrame, docs: DataFrame, id: String,
                       lang: String, nBuckets: Int): DataFrame = {
    val wordCnt = docWord.groupBy(col("w")).agg(sum(col("tf")).as("cnt"))
    val perDoc = docWord.join(wordCnt, Seq("w"))
      .groupBy(col(id)).agg(
        sum(col("tf")).as("n_tokens"),
        sum(col("tf") * length(bin(col("cnt")))).as("sum_bits"))
    val w = Window.partitionBy(col(lang))
      .orderBy((col("sum_bits") / col("n_tokens")).asc, col(id).asc)
    perDoc.join(docs.select(col(id), col(lang)), Seq(id))
      .withColumn("bucket", ntile(nBuckets).over(w))
      .groupBy(col(lang), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("tokens"),
        sum(col("sum_bits")).as("bits"),
        min(col(id)).as("first_id"))
      .select(col(lang), col("bucket"), col("n_docs"), col("tokens"),
        round(col("bits") / col("tokens"), 6).as("bucket_avg_bits"),
        col("first_id"))
      .orderBy(lang, "bucket")
  }

  /** The end-to-end CURATION PIPELINE (p1): the whole-corpus chain a
    * training-data build runs, composed from the suite's own stages —
    * every stage a consumer of the SHARED corpus artifacts (cluster
    * table, shingle postings), nothing recomputed:
    *
    *  1. exact dedup (d1's rule)      — keep the min-id doc per
    *     identical-text group;
    *  2. near-dup survivorship (d6/d7) — keep each MinHash+CC
    *     cluster's survivor (longest text, ties min id; implies 1:
    *     exact dups always share a cluster and tie on length);
    *  3. quality + blocklist (x2/x13) — quality ≥ `qualityMin`,
    *     blocklist density ≤ 1/`denomPer`;
    *  4. decontamination (x8/s4)      — drop the benchmark docs
    *     (id % benchMod = 0) and anything sharing ≥ `minShared`
    *     distinct shingles with one;
    *  5. mixture (x12's rule)         — per-source hash-bucket quota
    *     computed over the CLEANED pool (stage-4 survivors), the
    *     order a real mixture uses;
    *  6. pack (x7)                    — the kept docs' global
    *     (shard, bin) assignment.
    *
    * Output: one row per source — the funnel (docs surviving each
    * stage, SEQUENTIALLY: each count is the previous stage's
    * survivors passing the next gate), final kept whitespace tokens,
    * distinct pack bins touched, first kept id. Engine-exact
    * throughout (counts, integer cross-multiplications, min ids; the
    * quality threshold compares the same rounded IEEE double x2
    * verifies bit-equal), so the DuckDB oracle replays the entire
    * chain.
    *
    * Scale shape: inherits each stage's own scale story — the
    * cluster/postings artifacts are built once per corpus
    * (ClusterCache), stage flags are scan-shaped per-doc columns
    * joined on the id, the mixture reduction is a (source, bucket)
    * aggregate, and packing is x7's bounded-shard cumsum. No new
    * corpus-level join beyond the stages themselves. */
  /** Epoch-capped mixture plan — the repeat schedule a data-constrained
    * training run publishes per source (Muennighoff et al. 2023,
    * "Scaling Data-Constrained Language Models": repeating a source up
    * to ~4 epochs is nearly as good as fresh data; beyond that returns
    * collapse). Each source is repeated toward parity with the LARGEST
    * source: epochs = min(cap, ⌈max_tokens / tokens⌉), effective
    * tokens = tokens·epochs, and the final mixture share is each
    * source's effective fraction. The ceiling division is exact int64
    * ((max + tok − 1) DIV tok — no float path); the only float is the
    * one rounded share. Shape: one map-side-partial token aggregate
    * over the corpus scan, then all planning arithmetic on the
    * sources-sized table with the two scalar totals broadcast back —
    * nothing downstream of the scan exceeds the output size. */
  def mixEpochs(docs: DataFrame, source: String, text: String,
                epochCap: Int): DataFrame = {
    val per = docs.groupBy(col(source))
      .agg(count(lit(1)).as("n_docs"),
        sum(Text.wsTokenCount(col(text)).cast("long")).as("tokens"))
    // the max-tokens anchor and the effective-token total as GLOBAL
    // windows over the sources-sized aggregate (bounded by
    // construction): the two scalar-agg crossJoins re-planned the
    // docs scan + token count four times for a sources-sized report
    val wAll = graft.util.BoundedWindows.globalAgg("<= one row per source")
    per
      .withColumn("__max", max(col("tokens")).over(wAll))
      .withColumn("epochs",
        least(lit(epochCap.toLong),
          expr("CAST((__max + tokens - 1) DIV tokens AS BIGINT)")))
      .withColumn("effective_tokens", col("tokens") * col("epochs"))
      .withColumn("__tot", sum(col("effective_tokens")).over(wAll))
      .select(col(source), col("n_docs"), col("tokens"), col("epochs"),
        col("effective_tokens"),
        round(col("effective_tokens").cast("double") /
          col("__tot").cast("double"), 6).as("share"))
      .orderBy(col(source))
  }

  def curationPipelineFrom(docs: DataFrame, clusters: DataFrame,
                           postings: DataFrame, id: String, text: String,
                           source: String, nChars: String,
                           stopwords: Seq[String], blockWords: Seq[String],
                           qualityMin: Double = 0.5, denomPer: Int = 20,
                           benchMod: Int = 20, minShared: Int = 3,
                           buckets: Int = 10000, pctNum: Int = 3,
                           pctDen: Int = 10, nStrata: Int = 20,
                           packBudget: Int = 512, packShards: Int = 8): DataFrame = {
    val d0 = docs.select(col(id), col(source), col(text), col(nChars))
    // ONE wide corpus projection carrying the exact-dup hash AND the
    // stage-3 flags inline (r18: the r17 form computed flags3 as a
    // SECOND d0 scan joined back on the id, and stage 1's canonical
    // table as a THIRD — every downstream consumer of the chain
    // re-planned all three; the flags are per-row functions of
    // (text, nChars), so they belong in the projection itself)
    val ws = Text.words(col(text))
    val base = d0
      .select(col(id), col(source), col(text), col(nChars),
        md5(col(text)).as("__h"),
        size(ws).as("__nw"), size(array_distinct(ws)).as("__nd"),
        Text.stopwordHits(ws, stopwords).as("__sh"),
        Text.stopwordHits(ws, blockWords).as("__bh"))
      .select(col(id), col(source), col(text), col("__h"),
        (Text.qualityScore(col("__nw"), col("__nd"), col("__sh"), col(nChars))
          >= qualityMin).as("__qual"),
        (col("__bh") * denomPer <= col("__nw")).as("__block"))
    // stage 2: the shared cluster table's survivors (d7's rule)
    val survivors = dedupSurvivorsFrom(clusters, docs, id, nChars)
      .select(col("survivor_id").as(id), lit(true).as("__surv"))
    // stage 4: contaminated ids off the shared postings (x8's rule)
    val contaminated = decontaminate(docs, id, text, 3,
        pmod(col(id), lit(benchMod)) === 0, minShared, Some(postings))
      .select(col(id), lit(true).as("__cont"))
    // per-doc flags WITHOUT the exact-dup verdict: stages 2-6 never
    // read __exact, so only the final report branch pays the __h
    // exchange below
    val flaggedBase = base
      .join(survivors, Seq(id), "left")
      .join(contaminated, Seq(id), "left")
      .select(col(id), col(source), col(text), col("__h"),
        coalesce(col("__surv"), lit(false)).as("__surv"),
        col("__qual"), col("__block"),
        (pmod(col(id), lit(benchMod)) =!= 0 &&
          coalesce(col("__cont"), lit(false)) === false).as("__decon"))
    val clean = col("__surv") && col("__qual") && col("__block")
    val kept4 = flaggedBase.filter(clean && col("__decon"))
    // stage 5: mixture thresholds over the CLEANED pool — x12's exact
    // arithmetic (domainMixture) but from a per-source COUNT: the
    // (source, bucket) granularity there only feeds the n_sampled
    // report column, never the threshold (available = Σ bucket counts
    // = the plain count), so the chain pays a sources-sized aggregate
    // instead of re-planning kept4 through the bucket rollup.
    // Expressions below are verbatim domainMixture's (value-identical
    // or the oracle replay breaks).
    val wAllSrc = graft.util.BoundedWindows.globalAgg(
      "<= one row per source") // bounded: ≤ #sources rows
    val thresholds = kept4.groupBy(col(source))
      .agg(count(lit(1)).as("available"))
      .withColumn("corpus_total", sum(col("available")).over(wAllSrc))
      .withColumn("target_quota", least(col("available"),
        floor(col("corpus_total") * pctNum /
          lit(pctDen.toDouble * nStrata))))
      .withColumn("bucket_threshold",
        floor(col("target_quota") * buckets / col("available").cast("double")))
      .select(col(source), col("bucket_threshold"))
    // r18: kept5 carries (id, text) forward — packAssignments needs
    // exactly those two columns, and the r17 re-join against docs
    // re-planned one more corpus scan to fetch a column kept4 already
    // held
    val kept5 = kept4
      .join(broadcast(thresholds), Seq(source))
      .filter(Text.hashBucket(col(id), buckets) < col("bucket_threshold"))
      .select(col(id), col(text))
    // stage 6: global pack assignment of the final kept set
    val packed = packAssignments(kept5, id, text, packBudget, packShards)
      .select(col(id), lit(true).as("__kept"), col("toks"),
        (col("shard") * 1000000L + col("bin")).as("__binkey"))
    // stage 1 for the report branch: exact canonical (d1's
    // min-id-per-hash rule) as a WINDOW over the same projection —
    // the r17 groupBy+left-join re-planned the corpus scan for a
    // table this exchange already produces. NULL-text rows never
    // match the r17 join (NULL = NULL is false), so the isNotNull
    // guard preserves __exact = false for them.
    val wH = Window.partitionBy(col("__h"))
    flaggedBase
      .withColumn("__exact", coalesce(
        col("__h").isNotNull && (col(id) === min(col(id)).over(wH)),
        lit(false)))
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
}
