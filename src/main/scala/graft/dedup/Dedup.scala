package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Text

/** Document deduplication for training-data curation, at three cost
  * tiers:
  *
  *  1. exact: md5 content hash → groupBy — one shuffle on the hash, the
  *     text column is dropped before the exchange.
  *  2. near-dup, exact Jaccard: inverted-index self-join on shingles —
  *     candidate pairs only where at least one shingle is shared, never
  *     a cross join. Pair count is bounded by shingle co-occurrence.
  *  3. near-dup at scale: MinHash + banded LSH (round 2) — signature is
  *     a fixed small array, pairs come from band-bucket equality joins;
  *     this is the 100 TB path where materializing shingle postings is
  *     too wide.
  *
  * Hashing is md5 (portable to the DuckDB oracle); MinHash compares
  * fixed-width hex strings, whose lexicographic order equals numeric
  * order of the underlying 128-bit value.
  */
object Dedup {

  /** Bounded "k smallest" aggregate (native CollectMinK): every
    * aggregation buffer — map-side partial, shuffle row, final merge —
    * holds ≤ k values, however large the group. The scale-safe twin of
    * `slice(sort_array(collect_list(c)), 1, k)`, which materializes the
    * whole group in one buffer before slicing. */
  def collectMinK(c: Column, k: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(
      graft.functions.expressions.CollectMinK(ColumnBridge.expression(c), k)
        .toAggregateExpression())
  }

  /** Exact-duplicate groups: content hash, canonical (min) id, exact
    * group size, and a BOUNDED id sample (the `sampleK` smallest ids).
    * On a dup-heavy corpus (billions of empty/boilerplate docs sharing
    * one content hash) an unbounded member list is a single multi-GB
    * row in one task; the count stays exact, the list is a sample. */
  def exact(docs: DataFrame, id: String, text: String,
            sampleK: Int = 100): DataFrame =
    docs.select(col(id), md5(col(text)).as("content_hash"))
      .groupBy(col("content_hash"))
      .agg(
        min(col(id)).as("canonical_id"),
        count(lit(1)).as("n_docs"),
        concat_ws(",", collectMinK(col(id), sampleK).cast("array<string>"))
          .as("doc_ids"))

  /** Per-source duplication-inflation report over the EXACT duplicate
    * groups — the token-weighted answer to "how much of each source is
    * redundant copies": every doc that is not its md5 group's canonical
    * (min id) counts its tokens as duplicate mass, and the inflation
    * factor is total / kept tokens. The canonical flag is a window min
    * over the hash partition (ONE shuffle on the uniform md5 key — the
    * d1 exchange; the text column is dropped to a hash + a token count
    * before it), and the report is a source-sized aggregate on top.
    * All-integer arithmetic; a source that is nothing but duplicates
    * of other sources' canonicals reports NULL inflation (0 kept
    * tokens) rather than a division by zero, mirrored in the oracle. */
  def dupInflation(docs: DataFrame, id: String, text: String,
                   source: String): DataFrame = {
    val base = docs.select(col(id), col(source),
      md5(col(text)).as("__fp"),
      size(Text.words(col(text))).cast("long").as("__toks"))
    val canon = base.withColumn("__canonical",
      min(col(id)).over(Window.partitionBy(col("__fp"))))
    canon.groupBy(col(source))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col(id) =!= col("__canonical"), lit(1L)).otherwise(lit(0L)))
          .as("n_dup_docs"),
        sum(col("__toks")).cast("long").as("tokens_total"),
        sum(when(col(id) =!= col("__canonical"), col("__toks"))
          .otherwise(lit(0L))).cast("long").as("tokens_dup"))
      .withColumn("inflation",
        when(col("tokens_total") > col("tokens_dup"),
          round(col("tokens_total").cast("double") /
            (col("tokens_total") - col("tokens_dup")).cast("double"), 6)))
      .orderBy(col(source))
  }

  /** (id, n_sh, shingle-hash) postings — the shared input of both
    * exact-Jaccard plans. Joining on the 59-bit md5 prefix, not the
    * raw shingle string: the exchange carries (id, int64) instead of
    * (id, ~30B text) and the join compares longs — same md5 derivation
    * as the oracle, so any (vanishingly rare) collision is mirrored
    * there. */
  private[graft] def shinglePostings(docs: DataFrame, id: String, text: String,
                                     n: Int): DataFrame =
    docs.repartition(col(id))
      .select(col(id), Text.shingles(col(text), n).as("sh"))
      .select(col(id), size(col("sh")).as("n_sh"),
        explode(col("sh")).as("__s"))
      .select(col(id), col("n_sh"),
        Text.md5Prefix60(col("__s")).as("shingle"))

  /** Per-shingle document frequency AND first-occurrence doc over a
    * postings table — the vocabulary-sized table every df consumer
    * (router statistics, prefix ranks, the df>=2 prune, x19's
    * first-seen novelty) derives from. `__first` rides in the same
    * shuffle as the count for free. Build it ONCE per corpus and
    * share ([[ClusterCache.shingleDf]]): recomputing it is a full
    * postings-wide aggregation each time.
    *
    * ID-ORDERING ASSUMPTION: `__first` = min(doc id) under the id
    * column's NATIVE ordering, and "first" is only chronological when
    * doc ids are assigned in ingestion order (true for the synthetic
    * corpus's monotone longs). The id column is generic
    * (`sh.columns.head`), so with STRING ids "first" degrades to
    * lexicographic, and with non-chronological ids
    * [[graft.operators.Pipeline.noveltyProfileFrom]]'s copied_frac
    * direction is meaningless — callers with such ids must remap to
    * an ingestion-ordered key first (the df/prune/router consumers
    * only use `__df` and are ordering-agnostic). */
  def shingleDf(sh: DataFrame): DataFrame =
    sh.groupBy(col("shingle")).agg(count(lit(1)).as("__df"),
      min(col(sh.columns.head)).as("__first"))

  /** The df-distribution statistics both adaptive routers decide on —
    * tau-INDEPENDENT, so one computation serves d4 Jaccard and x16
    * containment (and any future postings consumer) per corpus:
    * memoized next to the df table itself
    * ([[ClusterCache.dfSkewStats]]; the two driver actions here cost
    * ~0.3s of pure job-scheduling latency at local[32] when re-run
    * per query). `empty` marks a corpus with no shingles at all. */
  final case class DfSkewStats(empty: Boolean, q999: Long, totDf2: Double,
                               hotDf2: Double, postings: Long, df1: Long)

  def dfSkewStats(dfc: DataFrame): DfSkewStats = {
    // df² in double: at corpus scale df can reach 1e9+ and Σdf² would
    // overflow a long; the routing decision only needs a ratio
    val df2 = (col("__df") * col("__df")).cast("double")
    val q = dfc.agg(
        expr("approx_percentile(__df, 0.999)").as("q999"),
        sum(df2).as("tot"),
        sum(col("__df")).as("postings"),
        count(when(col("__df") === 1, 1)).as("df1"))
      .head()
    if (q.isNullAt(0)) return DfSkewStats(empty = true, 0L, 0.0, 0.0, 0L, 0L)
    val q999 = q.getLong(0)
    val hot = dfc.filter(col("__df") > q999)
      .agg(coalesce(sum(df2), lit(0.0))).head().getDouble(0)
    DfSkewStats(empty = false, q999, q.getDouble(1), hot,
      q.getLong(2), q.getLong(3))
  }

  /** Exact n-gram Jaccard near-dup pairs (id_a < id_b, jaccard ≥ tau),
    * ADAPTIVE between two exact plans (same output either way):
    *
    *  - DIRECT inverted-index self-join (+ size bound): one join, one
    *    aggregation. Join volume is Σdf² over shingle document
    *    frequencies — optimal when df is FLAT (no shingle is hot), as
    *    in vocabularies where no boilerplate repeats across the corpus.
    *  - PPJoin-style PREFIX-FILTERED join (Xiao/Wang/Lin/Yu, WWW'08 —
    *    public method) when df is SKEWED: under any global total order
    *    of shingles, two sets with |A∩B| ≥ o share an element among
    *    their first |set|−o+1 elements, and J ≥ tau implies |A∩B| ≥
    *    ceil(tau·max(|A|,|B|)); each doc indexes only its
    *    floor((1−tau)·|d|)+1 RAREST shingles (global df asc), so hot
    *    boilerplate shingles — where the Σdf² blowup lives — never
    *    enter the join. Candidates are then verified with the exact
    *    overlap count (the prefix lemma is lossless; the prefix length
    *    carries +1e-6 slack so float rounding can only LENGTHEN it,
    *    covering the round-6 boundary of the final J filter too).
    *
    * The router measures df-skew with one cheap vocabulary-sized
    * aggregation (the AQE-style runtime-stats pattern ts4's sessionize
    * uses): the share of Σdf² carried by shingles above the p99.9 df.
    * Flat distribution → that share is ~0.1% and the prefix would cut
    * almost nothing while paying an extra dedup + verify pass
    * (measured 2.4× slower at sf0.1); Zipf-ish boilerplate → the top
    * shingles carry most of Σdf² and the prefix excises them
    * (SCALE_r*.json's hot_shingle legs measured the win). Note the prefix
    * plan's leverage also grows with tau (prefix fraction ≈ 1−tau):
    * at high thresholds it indexes only the rare tail of each doc; at
    * tau ≈ 0.1 it indexes ~90% of every doc and candidate volume
    * approaches the direct join's, with extra passes on top — PPJoin
    * is a high-threshold design (its paper sweeps 0.8–0.95).
    * Exactness does not depend on the routing decision.
    *
    * Takes a PREBUILT (possibly cached/persisted) postings table
    * ([[shinglePostings]]) — the one-postings-table-many-consumers
    * shape: d4 and x16 share one shingle+hash build per corpus
    * ([[ClusterCache.postings]]). `dfcPre`/`statsPre` accept the
    * corpus-shared df table and routing statistics
    * ([[ClusterCache.shingleDf]]/[[ClusterCache.dfSkewStats]]);
    * omitted, both derive from `sh` here (one extra postings-wide
    * aggregation + two driver actions per call). */
  def ngramJaccardPairsFrom(sh: DataFrame, tau: Double,
                            skewThreshold: Double = 0.5,
                            dfcPre: Option[DataFrame] = None,
                            statsPre: Option[DfSkewStats] = None): DataFrame = {
    val dfc = dfcPre.getOrElse(shingleDf(sh))
    val st = statsPre.getOrElse(dfSkewStats(dfc))
    // empty corpus: no shingles at all → either plan returns the
    // empty pair set — take the direct one
    if (st.empty || st.totDf2 == 0.0 || st.hotDf2 / st.totDf2 < skewThreshold)
      jaccardDirect(sh, tau)
    else jaccardPrefix(sh, dfc, tau)
  }

  /** Minimum fraction of postings rows that must be corpus-unique
    * (df=1) before the direct arm's unique-shingle prune engages: the
    * prune costs one extra semi-join pass over the postings PER
    * self-join leg and repays by shrinking both shuffle legs by
    * exactly the df=1 row fraction (join OUTPUT is untouched — df=1
    * rows never meet a partner). On natural text df=1 dominates
    * postings (typically 60–90% of rows) and the prune is a large
    * win; on the zero-df=1 synthetic bench corpus it removed nothing
    * and its two passes measured +0.9s on a 0.34s sf0.1 query — so
    * it is gated on the measured df=1 mass, piggybacked on the
    * router's existing one-row statistics aggregation (no extra
    * driver action). */
  val PruneDf1Fraction = 0.25

  /** N-gram CONTAINMENT pairs — the asymmetric companion of
    * [[ngramJaccardPairsFrom]]: C(A→B) = |sh(A) ∩ sh(B)| / |sh(A)|, the
    * measure that catches "A is inside B" (quoted snippets, benchmark
    * questions embedded in crawl pages, doc-in-doc contamination) where
    * Jaccard stays low because |B| ≫ |A|. Output is ORDERED pairs
    * (id_a ≠ id_b, containment of a in b ≥ tau) — a full inclusion
    * reports in both directions, a snippet only as (snippet → host).
    *
    * Same postings plan as d4's direct tier: candidates only where a
    * shingle is shared, with the asymmetric size bound n_b ≥ tau·n_a
    * (shared ≤ n_b, so C ≥ tau is impossible below it) pruning before
    * the aggregation.
    *
    * Takes a prebuilt postings table (see [[ngramJaccardPairsFrom]]) and
    * is ADAPTIVE between the direct postings join and the asymmetric
    * PREFIX-FILTERED plan (identical output): the same df-skew router
    * (one vocabulary-sized aggregation), and the routing margin is WIDER
    * here than for Jaccard — the prefix arm's verify join fans each
    * candidate × n_a, and the one-sided size bound keeps every
    * (small a, larger b) candidate the two-sided Jaccard bound would
    * drop, so on a flat-df corpus the arm is not merely slower but
    * explosive (sf1: >60 GB of shuffle spill, DNF, NOTES_r12 §4 — see
    * [[containmentDirect]]). It repays only when hot shingles
    * dominate Σdf² AND their excision collapses the candidate set,
    * which is the regime the router gates on. Exactness does not
    * depend on the routing decision (both arms spec-pinned equal on
    * the degenerate corpus). */
  def containmentPairsFrom(sh: DataFrame, tau: Double,
                           skewThreshold: Double = 0.5,
                           dfcPre: Option[DataFrame] = None,
                           statsPre: Option[DfSkewStats] = None): DataFrame = {
    val dfc = dfcPre.getOrElse(shingleDf(sh))
    val st = statsPre.getOrElse(dfSkewStats(dfc))
    if (st.empty)
      return containmentDirect(sh, tau, pruneUnique = false, dfc = Some(dfc))
    // each df=1 shingle contributes exactly one postings row, so the
    // df=1 SHINGLE count is also the df=1 postings-row mass
    val doPrune =
      st.df1.toDouble / math.max(1L, st.postings) >= PruneDf1Fraction
    if (st.totDf2 == 0.0 || st.hotDf2 / st.totDf2 < skewThreshold)
      containmentDirect(sh, tau, pruneUnique = doPrune, dfc = Some(dfc))
    else containmentPrefix(sh, dfc, tau)
  }

  /** The direct containment plan: full postings self-join with the
    * one-sided size bound (shared ≤ n_b, so C ≥ tau needs
    * n_b ≥ tau·n_a) — the measured-optimal arm on flat-df corpora,
    * where the prefix arm LOSES CATASTROPHICALLY (NOTES_r12 §4, sf1:
    * the prefix verify join fans candidates × n_a under the one-sided
    * bound and exhausted >60 GB of shuffle spill before finishing —
    * vs ~35s direct; the asymmetric bound keeps every (small a,
    * larger b) candidate the two-sided Jaccard bound would drop, so
    * PPJoin's candidate cut cannot pay for the verify fan-out here).
    * Direct at sf1 is already 0.79× DuckDB (PARITY_SF1_r11) — the
    * Σdf² join (234M rows at sf1) is the exact tier's intrinsic
    * price; d2 MinHash / s3 KMV intersection remain the designated
    * 100 TB siblings (SURVEY §6). */
  private[graft] def containmentDirect(sh: DataFrame, tau: Double,
                                       pruneUnique: Boolean = true,
                                       dfc: Option[DataFrame] = None): DataFrame = {
    val id = sh.columns.head
    // corpus-UNIQUE shingles (df=1) can never meet a second document:
    // semi-join both legs down to df>=2 shingles before the self-join.
    // Lossless (every shared shingle has df>=2; n_sh was computed
    // before the prune); on natural text df=1 dominates postings so
    // the prune cuts most of the join input. The ROUTER decides
    // pruneUnique from the measured df=1 postings mass
    // ([[PruneDf1Fraction]]): on the zero-df=1 synthetic bench corpus
    // (29.8k-shingle vocabulary, mean df 88) the two semi-join passes
    // removed nothing and cost +0.9s on a 0.34s sf0.1 query. The df
    // table comes prebuilt from the router / ClusterCache when
    // available — recomputing it here is another postings-wide
    // aggregation.
    val pruned =
      if (!pruneUnique) sh
      else sh.join(
        dfc.getOrElse(shingleDf(sh))
          .filter(col("__df") >= 2).select("shingle"),
        Seq("shingle"), "left_semi")
    val a = pruned.select(col(id).as("id_a"), col("n_sh").as("n_a"), col("shingle"))
    val b = pruned.select(col(id).as("id_b"), col("n_sh").as("n_b"), col("shingle"))
    a.join(b, Seq("shingle"))
      .filter(col("id_a") =!= col("id_b") &&
        col("n_b") >= lit(tau) * col("n_a"))
      .groupBy(col("id_a"), col("id_b"), col("n_a"))
      .agg(count(lit(1)).as("shared"))
      .withColumn("containment",
        round(col("shared").cast("double") / col("n_a"), 6))
      .filter(col("containment") >= tau)
      .select("id_a", "id_b", "shared", "n_a", "containment")
  }

  /** The asymmetric prefix-filtered containment plan — the
    * [[jaccardPrefix]] analog for C(A→B) ≥ tau. The prefix lemma
    * applies on the PROBE side only: C ≥ tau forces overlap
    * o ≥ tau·n_a, so A must share one of its ⌊(1−tau)·n_a⌋+1
    * globally-RAREST shingles (same (df, shingle) total order, same
    * +1e-6 round-6 slack) with B — hot boilerplate shingles never
    * enter the candidate join from the probe side. The BUILD side
    * has no usable prefix: o depends on n_a, not n_b, and the only
    * per-pair-independent bound (o ≥ 1) is vacuous — so B joins with
    * its full postings and the candidate volume is
    * Σ_s df_prefix(s)·df(s) instead of Σ_s df(s)². df=1 probe-prefix
    * entries only ever meet A itself and are dropped (lossless: if
    * ALL of A's prefix is corpus-unique, no B shares the required
    * overlap). Candidates are verified with the exact overlap count,
    * as in [[jaccardPrefix]]. */
  private[graft] def containmentPrefix(sh: DataFrame, dfc: DataFrame,
                                       tau: Double): DataFrame = {
    val id = sh.columns.head
    val wDoc = Window.partitionBy(col(id)).orderBy(col("__df"), col("shingle"))
    val prefixLen = floor(lit(1.0 - tau + 1e-6) * col("n_sh")) + 1
    val pa = sh.join(dfc, "shingle")
      .withColumn("__rn", row_number().over(wDoc))
      .filter(col("__rn") <= prefixLen && col("__df") >= 2)
      .select(col(id).as("id_a"), col("n_sh").as("n_a"), col("shingle"))
    val b = sh.select(col(id).as("id_b"), col("n_sh").as("n_b"), col("shingle"))
    val cand = pa.join(b, Seq("shingle"))
      .filter(col("id_a") =!= col("id_b") &&
        col("n_b") >= lit(tau) * col("n_a"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(min(col("n_a")).as("n_a"))
    val ea = sh.select(col(id).as("id_a"), col("shingle"))
    val eb = sh.select(col(id).as("id_b"), col("shingle"))
    cand.join(ea, "id_a")
      .join(eb, Seq("id_b", "shingle"))
      .groupBy(col("id_a"), col("id_b"), col("n_a"))
      .agg(count(lit(1)).as("shared"))
      .withColumn("containment",
        round(col("shared").cast("double") / col("n_a"), 6))
      .filter(col("containment") >= tau)
      .select("id_a", "id_b", "shared", "n_a", "containment")
  }

  /** The direct postings self-join — optimal on flat-df corpora. */
  private[graft] def jaccardDirect(sh: DataFrame, tau: Double): DataFrame = {
    val a = sh.select(col(sh.columns.head).as("id_a"), col("n_sh").as("n_a"), col("shingle"))
    val b = sh.select(col(sh.columns.head).as("id_b"), col("n_sh").as("n_b"), col("shingle"))
    a.join(b, Seq("shingle"))
      .filter(col("id_a") < col("id_b") &&
        // size bound: J(A,B) <= min/max, so pairs violating
        // min >= tau*max can never reach tau — prune before the
        // aggregation (exact-semantics preserving)
        least(col("n_a"), col("n_b")) >= lit(tau) * greatest(col("n_a"), col("n_b")))
      .groupBy(col("id_a"), col("id_b"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).as("shared"))
      .withColumn("jaccard",
        round(col("shared").cast("double") /
          (col("n_a") + col("n_b") - col("shared")), 6))
      .filter(col("jaccard") >= tau)
      .select("id_a", "id_b", "shared", "jaccard")
  }

  /** Candidate pairs of the prefix plan, optionally with PPJoin's
    * POSITIONAL filter (Xiao et al. WWW'08 §3.2). Both docs order
    * their shingles by the same global (df, shingle) key, so a shared
    * shingle sits at consistent relative positions: the pair's
    * globally-FIRST shared shingle is `(min ra, min rb)` over the
    * joined prefix matches (ordering consistency makes the two mins
    * coincide on one shingle, and the prefix being a PREFIX of the
    * global order means no earlier shared shingle can hide outside
    * it). Overlap is then ≤ 1 + min(n_a − ra, n_b − rb), while J ≥ τ
    * requires overlap ≥ τ/(1+τ)·(n_a+n_b) — candidates whose bound
    * falls short are provably below τ and never reach the verify
    * join (the 1e-6 slack keeps float rounding on the keep side, as
    * with the prefix length). Lossless: only pairs with a proven
    * overlap deficit are cut. */
  private[graft] def jaccardPrefixCandidates(sh: DataFrame, dfc: DataFrame,
                                             tau: Double,
                                             positional: Boolean = true): DataFrame = {
    val id = sh.columns.head
    // global df → rarest-first rank within each doc → prefix
    val wDoc = Window.partitionBy(col(id)).orderBy(col("__df"), col("shingle"))
    val prefixLen = floor(lit(1.0 - tau + 1e-6) * col("n_sh")) + 1
    val prefix = sh.join(dfc, "shingle")
      .withColumn("__rn", row_number().over(wDoc))
      // df=1 prefix entries only ever self-join — drop them
      .filter(col("__rn") <= prefixLen && col("__df") >= 2)
      .select(col(id), col("n_sh"), col("shingle"), col("__rn"))
    val pa = prefix.select(col(id).as("id_a"), col("n_sh").as("n_a"),
      col("shingle"), col("__rn").as("__ra"))
    val pb = prefix.select(col(id).as("id_b"), col("n_sh").as("n_b"),
      col("shingle"), col("__rn").as("__rb"))
    val joined = pa.join(pb, Seq("shingle"))
      .filter(col("id_a") < col("id_b") &&
        least(col("n_a"), col("n_b")) >= lit(tau) * greatest(col("n_a"), col("n_b")))
    // the groupBy doubles as the old .distinct()
    val cand = joined.groupBy(col("id_a"), col("id_b"), col("n_a"), col("n_b"))
      .agg(min(col("__ra")).as("__ra"), min(col("__rb")).as("__rb"))
    val pruned =
      if (!positional) cand
      else cand.filter(
        lit(1) + least(col("n_a") - col("__ra"), col("n_b") - col("__rb")) >=
          lit(tau / (1.0 + tau)) * (col("n_a") + col("n_b")) - lit(1e-6))
    pruned.select("id_a", "id_b", "n_a", "n_b")
  }

  /** The prefix-filtered plan — pays when hot shingles dominate Σdf². */
  private[graft] def jaccardPrefix(sh: DataFrame, dfc: DataFrame,
                                   tau: Double): DataFrame = {
    val id = sh.columns.head
    val cand = jaccardPrefixCandidates(sh, dfc, tau)
    // exact verify: count the full shared-shingle overlap per candidate
    val ea = sh.select(col(id).as("id_a"), col("shingle"))
    val eb = sh.select(col(id).as("id_b"), col("shingle"))
    cand.join(ea, "id_a")
      .join(eb, Seq("id_b", "shingle"))
      .groupBy(col("id_a"), col("id_b"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).as("shared"))
      .withColumn("jaccard",
        round(col("shared").cast("double") /
          (col("n_a") + col("n_b") - col("shared")), 6))
      .filter(col("jaccard") >= tau)
      .select("id_a", "id_b", "shared", "jaccard")
  }

  /** Deterministic 59-bit XOR seeds for the MinHash permutation family
    * (shared with the DuckDB oracle, which derives the same values). */
  val XorSeeds: IndexedSeq[Long] = {
    val r = new scala.util.Random(0x5eed)
    IndexedSeq.fill(64)(r.nextLong() & ((1L << 59) - 1))
  }

  /** MinHash signatures, computed shuffle-native rather than per-row:
    * shingles are exploded to (id, shingle) rows, each shingle is hashed
    * ONCE (md5 → first 15 hex chars → int64, portable to the oracle),
    * and the `perms` permutations are XORs with fixed seeds — a cheap
    * 1-universal permutation family, so the whole signature costs one
    * digest + `perms` codegen'd `min()` aggregates with map-side partial
    * aggregation. The repartition by id parallelizes the explode stage
    * on single-file inputs. */
  def minhashSignatures(docs: DataFrame, id: String, text: String,
                        n: Int, perms: Int): DataFrame = {
    require(perms <= XorSeeds.length)
    val sh = docs.repartition(col(id))
      .select(col(id), explode(Text.shingles(col(text), n)).as("shingle"))
      .select(col(id), Text.md5Prefix60(col("shingle")).as("__b"))
    val minCols = (0 until perms).map(p =>
      min(col("__b").bitwiseXOR(lit(XorSeeds(p)))).as(s"__mh$p"))
    sh.groupBy(col(id)).agg(minCols.head, minCols.tail: _*)
  }

  /** 32-bit SimHash fingerprint from md5-derived word hashes: bit i of
    * the fingerprint is the sign of the sum over distinct words of
    * (±1 by the word hash's bit i). Native expression (one pass per
    * document, exact integer scores); no shuffle at all until
    * fingerprints are bucketed. */
  def simhash32(text: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.functions.expressions.SimHash32(
      ColumnBridge.expression(text)))
  }

  /** Per-doc SimHash + coarse bucket (top `bucketBits` bits). Near-dup
    * candidates are same-bucket pairs within small hamming distance. */
  def simhashFingerprints(docs: DataFrame, id: String, text: String,
                          bucketBits: Int): DataFrame =
    docs.select(col(id), simhash32(col(text)).as("simhash"))
      .withColumn("bucket", shiftright(col("simhash"), 32 - bucketBits))

  /** Banded-LSH candidate pairs: docs sharing ≥1 identical band of the
    * MinHash signature. `perms` must be divisible by `bands`. One
    * explode to (band_idx, band_key) then a self-equi-join per bucket —
    * the scalable path: no pairwise comparison outside buckets. */
  def minhashLshPairs(docs: DataFrame, id: String, text: String,
                      n: Int, perms: Int, bands: Int,
                      ordered: Boolean = true): DataFrame = {
    val rows = perms / bands
    val sig = minhashSignatures(docs, id, text, n, perms)
    val bandKeys = (0 until bands).map(b =>
      concat_ws("_",
        (b * rows until (b + 1) * rows).map(p => col(s"__mh$p").cast("string")): _*))
    val banded = sig.select(col(id), posexplode(array(bandKeys: _*)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_key")
    val a = banded.select(col(id).as("id_a"), col("band"), col("band_key"))
    val b = banded.select(col(id).as("id_b"), col("band"), col("band_key"))
    val pairs = a.join(b, Seq("band", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    // ordered=false skips the global range exchange for cached /
    // CC-consumed pair tables (ClusterCache) — joins never need it
    if (ordered) pairs.orderBy("id_a", "id_b") else pairs
  }

  /** Connected components over an undirected pair list (`id_a`,`id_b`):
    * every node labeled with its component's minimum id.
    *
    * Alternating large-star/small-star contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14 — public):
    * each round, every node first hangs its LARGER neighbors off its
    * minimum neighbor (large-star), then itself and its SMALLER
    * neighbors off their minimum (small-star). Distances to the
    * component minimum roughly halve per round, so convergence takes
    * O(log n) rounds even on adversarial chain/path graphs — where
    * plain min-label propagation needs diameter rounds. At fixpoint the
    * edge set is a star per component, centered at the component min.
    * Each phase is one aggregation + one equi-join on the (small,
    * ≪ corpus) candidate edge set; `localCheckpoint` cuts the per-round
    * lineage. Hitting `maxIter` without a fixpoint throws — silently
    * returning non-minimal labels would corrupt downstream dedup.
    * Property-tested against a union-find reference, including a
    * 300-node path graph. */
  def connectedComponents(ids: DataFrame, pairs: DataFrame, id: String,
                          maxIter: Int = 64): DataFrame = {
    def canon(e: DataFrame): DataFrame =
      e.filter(col("u") =!= col("v"))
        .select(least(col("u"), col("v")).as("u"),
          greatest(col("u"), col("v")).as("v"))
        .distinct()
    import org.apache.spark.sql.graftbridge.ColumnBridge
    var edges = canon(pairs.select(col("id_a").cast("long").as("u"),
        col("id_b").cast("long").as("v")))
      .localCheckpoint()
    var iter = 0
    var converged = edges.isEmpty
    while (iter < maxIter && !converged) {
      // large-star: every neighbor v > u re-links to u's min (or u)
      val sym = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val large = canon(sym.filter(col("v") > col("u")).join(mins, "u")
          .select(col("v").as("u"), col("m").as("v")))
        .localCheckpoint()
      // small-star: u and its smaller neighbors re-link to their min
      val sym2 = large.union(large.select(col("v").as("u"), col("u").as("v")))
      val smaller = sym2.filter(col("v") < col("u"))
      val mins2 = smaller.groupBy("u").agg(min("v").as("m"))
      val small = canon(
          smaller.join(mins2, "u").select(col("v").as("u"), col("m").as("v"))
            .union(mins2.select(col("u"), col("m").as("v"))))
        .localCheckpoint()
      converged = small.count() == edges.count() && small.except(edges).isEmpty
      // free the superseded rounds' checkpoint blocks — dense graphs
      // run many rounds and the leaked blocks otherwise sit in the
      // block manager for the session's lifetime, degrading every
      // query that runs after this one (only `small` must survive)
      ColumnBridge.unpersistLocalCheckpoint(edges)
      ColumnBridge.unpersistLocalCheckpoint(large)
      edges = small
      iter += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter rounds")
    // fixpoint edges are (center=min, member) stars; centers and
    // singletons label themselves
    ids.select(col(id))
      .join(edges.select(col("u").as("__cc_min"), col("v").as("__cc_id")),
        col(id).cast("long") === col("__cc_id"), "left_outer")
      .select(col(id),
        coalesce(col("__cc_min"), col(id).cast("long")).as("cluster_id"))
  }

  /** Duplicated-SPAN coverage (substring-level dedup, the ExactSubstr
    * pass of Lee et al. 2022 "Deduplicating Training Data Makes
    * Language Models Better", restated at word-n-gram granularity):
    * every word n-gram occurring more than once in the corpus —
    * within OR across documents — marks its n-token span as
    * duplicated; per document the marked spans are merged (interval
    * union via one ordered window) and the covered-token count /
    * fraction reported. Doc-level dedup (d1–d5) misses boilerplate
    * that repeats INSIDE otherwise-unique documents; this is the
    * operator that finds it.
    *
    * Shape: posexplode of the native n-gram expression gives (start,
    * gram) — the array index IS the token offset; grams reduce to an
    * md5-prefix int64 before the exchange (16 bytes/occurrence, not
    * the gram text); the duplicated-gram set is a count>1 aggregate
    * (map-side partial, a hot gram never funnels raw occurrences);
    * occurrences re-join it on the hash (equi-join, postings shape —
    * never all-pairs). Interval union is a per-document window —
    * partitioned by doc id, so 100 TB parallelizes across documents
    * with no global order. */
  def spanDedup(docs: DataFrame, id: String, text: String,
                n: Int): DataFrame = {
    val occ = docs
      .select(col(id), posexplode(Text.ngrams(col(text), n)).as(Seq("pos", "gram")))
      .select(col(id), col("pos"), Text.md5Prefix60(col("gram")).as("g"))
    val dup = occ.groupBy(col("g")).agg(count(lit(1)).as("occ_n"))
      .filter(col("occ_n") > 1)
    val spans = occ.join(dup.select("g"), Seq("g"))
      .select(col(id), col("pos").as("s"), (col("pos") + n - 1).as("e"))
    val w = Window.partitionBy(col(id)).orderBy(col("s"))
    val prevMax = max(col("e")).over(w.rowsBetween(Window.unboundedPreceding, -1))
    val perIsland = spans
      .withColumn("ni", when(col("s") > coalesce(prevMax, lit(-1)), 1).otherwise(0))
      .withColumn("island",
        sum(col("ni")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(id), col("island"))
      .agg((max(col("e")) - min(col("s")) + 1).as("len"))
    val perDoc = perIsland.groupBy(col(id))
      .agg(sum(col("len")).as("dup_tokens"), count(lit(1)).as("n_spans"))
    docs.select(col(id), size(Text.words(col(text))).cast("long").as("n_tokens"))
      .join(perDoc, Seq(id), "left")
      .select(col(id), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        round(coalesce(col("dup_tokens"), lit(0L)) / col("n_tokens"), 6)
          .as("dup_frac"))
      .orderBy(id)
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken SIGMOD'03, the
    * MOSS local-fingerprinting scheme): hash every word k-gram, then
    * in each sliding window of `w` consecutive gram hashes select the
    * minimum — the selected set is a position-robust document
    * fingerprint with the winnowing guarantee that any shared run of
    * ≥ w+k−1 tokens contributes at least one SHARED fingerprint.
    * (The classic rightmost-tie rule only disambiguates which
    * occurrence is reported; tied candidates share the same hash, so
    * the fingerprint SET — all downstream work — is tie-free. That is
    * what makes one `min` over an ordered per-doc window sufficient,
    * and cross-engine exact.)
    *
    * Shape: grams reduce to md5-prefix int64 before anything wide
    * moves; selection is a per-document ROWS window (parallel across
    * docs, no global order); docs with fewer than w grams select
    * nothing (no full window). Returns (id, fp) distinct. */
  def winnowFingerprints(docs: DataFrame, id: String, text: String,
                         k: Int, w: Int): DataFrame = {
    val grams = docs
      .select(col(id), posexplode(Text.ngrams(col(text), k)).as(Seq("pos", "gram")))
      .select(col(id), col("pos"), Text.md5Prefix60(col("gram")).as("h"))
    val win = Window.partitionBy(col(id)).orderBy(col("pos"))
      .rowsBetween(-(w - 1), 0)
    grams
      .withColumn("nw", count(lit(1)).over(win))
      .withColumn("fp", min(col("h")).over(win))
      .filter(col("nw") === w)
      .select(col(id), col("fp"))
      .distinct()
  }

  /** Winnowing near-dup candidate pairs: docs sharing ≥ `minShared`
    * winnow fingerprints, with the shared count. The pair plan is the
    * postings equi-join (candidates only where a fingerprint is
    * shared — never all-pairs); winnow fingerprints are min-hashes of
    * near-unique k-grams, so posting lists stay short on natural
    * corpora, and a boilerplate-hot fingerprint shards the same way
    * d4's hot postings do (excision/prefix routing is the documented
    * escalation; d2 MinHash-LSH remains the designated 100 TB tier
    * this grounds). */
  def winnowPairs(docs: DataFrame, id: String, text: String,
                  k: Int, w: Int, minShared: Int): DataFrame = {
    val fp = winnowFingerprints(docs, id, text, k, w)
    val a = fp.select(col(id).as("id_a"), col("fp"))
    val b = fp.select(col(id).as("id_b"), col("fp"))
    a.join(b, Seq("fp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** d11: the DEDUP index health card — measured recall of the
    * MinHash banding's candidate pairs against the EXACT n-gram
    * Jaccard truth, per similarity band, plus the candidate-precision
    * row — the a12/a14 recall-eval pattern applied to the text-dedup
    * index (Broder 1997's estimator under Indyk–Motwani banding: the
    * expected candidate probability is the s-curve 1 − (1 − s^r)^b,
    * so recall must RISE with the Jaccard band; the measured table is
    * that curve, and a flat or inverted curve means the banding is
    * misconfigured for the corpus).
    *
    * Rows: one per truth band (j_band 0..3 over the 6-dp-rounded
    * jaccard — identical IEEE double both engines, d4's discipline —
    * edges 0.25/0.5/0.75) with n_truth / n_hit / recall, plus the
    * j_band = -1 row where the columns read (n_cand, n_true_cand,
    * precision): the banding's total candidate volume and how much of
    * it survives exact verification. Engine-exact throughout (counts
    * + one rounded ratio).
    *
    * Scale shape: pure consumer of two SHARED artifacts (the cached /
    * persisted minhash candidate table and the exact pair table) —
    * two bounded equi-joins on (id_a, id_b), band-sized output. */
  def lshRecallBands(cand: DataFrame, truth: DataFrame): DataFrame = {
    val c = cand.select(col("id_a"), col("id_b"))
    val t = truth.select(col("id_a"), col("id_b"), col("jaccard"))
    val bandC = when(col("jaccard") < 0.25, 0)
      .when(col("jaccard") < 0.5, 1)
      .when(col("jaccard") < 0.75, 2).otherwise(3)
    val perBand = t
      .join(c.withColumn("__hit", lit(1L)), Seq("id_a", "id_b"), "left")
      .groupBy(bandC.as("j_band"))
      .agg(count(lit(1)).as("n_truth"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_hit"))
    val precisionRow = c
      .join(t.select(col("id_a"), col("id_b"), lit(1L).as("__true")),
        Seq("id_a", "id_b"), "left")
      .agg(count(lit(1)).as("n_truth"),
        sum(coalesce(col("__true"), lit(0L))).as("n_hit"))
      .select(lit(-1).as("j_band"), col("n_truth"), col("n_hit"))
    perBand.unionByName(precisionRow)
      .withColumn("recall",
        round(col("n_hit") / col("n_truth").cast("double"), 6))
      .orderBy("j_band")
  }
}
