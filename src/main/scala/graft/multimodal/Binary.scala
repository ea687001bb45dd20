package graft.multimodal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: opaque `binary` payloads + typed metadata,
  * decode / feature-extract stages as pure column expressions.
  *
  * The container ships no image/audio codecs, so the DECODE STEP IS A
  * DETERMINISTIC STUB (clearly marked below) — the Spark-side plumbing
  * (binary column handling, schema, partition-batched mapPartitions,
  * metadata extraction) is real and tested. In production the stub body
  * is replaced by the actual codec call; nothing else changes.
  */
object Binary {

  /** md5 sub-shards per source in [[shardPack]]'s parallel decomposition.
    * The m7 DuckDB oracle interpolates the SAME constant into its
    * `% N` — change it here and both engines move together. */
  val ShardPackHashShards = 8

  /** Attach a binary payload column (here: utf-8 bytes of the text —
    * the stand-in for image/audio bytes loaded via `binaryFile` source),
    * keeping `carry` columns after it. */
  def withPayload(docs: DataFrame, id: String, text: String,
                  carry: Seq[String] = Nil): DataFrame =
    docs.select(col(id) +: col(text).cast("binary").as("payload") +:
      carry.map(col): _*)

  /** Pure-SQL metadata + stub-decoded dimensions: everything here is a
    * codegen'd expression (no UDF) and oracle-reproducible. The
    * width/height are the STUB — deterministic functions of the byte
    * length standing in for the real decoded dimensions. */
  def decodeMeta(withPayload: DataFrame, id: String): DataFrame =
    withPayload.select(
      col(id),
      octet_length(col("payload")).as("byte_len"),
      md5(col("payload")).as("checksum"),
      (octet_length(col("payload")) % 997).as("width"),     // STUB decode
      (octet_length(col("payload")) * 7 % 769).as("height") // STUB decode
    ).withColumn("n_tiles",
      ceil(col("width") / 64.0).cast("long") * ceil(col("height") / 64.0).cast("long"))

  /** Fixed-size chunking of a binary payload: (id, chunk_idx, bytes,
    * md5) rows, the shipping shape for large blobs (upload parts,
    * shard-to-GPU batches). Pure codegen'd expressions — `substr` on
    * the binary column inside a `transform(sequence(...))`, then
    * posexplode; the payload column itself is projected away before
    * any exchange, so only chunk-sized slices move. `carry` columns
    * (per-payload metadata) ride along after the chunk columns. */
  def chunked(withPayload: DataFrame, id: String, chunkSize: Int,
              carry: Seq[String] = Nil): DataFrame = {
    val nChunks = ceil(octet_length(col("payload")).cast("double") / chunkSize)
      .cast("int")
    // nChunks=0 must yield NO rows — an unguarded sequence(0, -1) would
    // count DOWN and posexplode two phantom chunks for an empty payload
    val idxs = when(nChunks <= 0, array().cast("array<int>"))
      .otherwise(sequence(lit(0), nChunks - 1))
    withPayload
      .select(col(id) +: carry.map(col) :+ posexplode(transform(idxs,
        i => substring(col("payload"), (i * chunkSize) + 1, lit(chunkSize)))): _*)
      .select(Seq(col(id), col("pos").as("chunk_idx"),
        octet_length(col("col")).as("chunk_len"), md5(col("col")).as("chunk_md5")) ++
        carry.map(col): _*)
  }

  /** Chunk-level near-dup pairs over binary payloads — the STORAGE
    * dedup a multimodal lake runs on opaque blobs (image/video/audio
    * files whose bytes, not semantics, repeat): payloads are cut into
    * fixed `chunkSize`-byte chunks (the aligned-store case; a
    * content-defined rolling-hash chunker is the unaligned extension
    * with the same downstream plan), each chunk keyed by its md5, and
    * two payloads pair when the Jaccard overlap of their DISTINCT
    * chunk-key sets reaches `tau`. The pair plan IS the d4 postings
    * machinery ([[graft.dedup.Dedup.jaccardDirect]]) over chunk keys
    * instead of shingles — candidates only where a chunk is shared,
    * never all-pairs, and the payload bytes never enter the exchange
    * (only 64-bit key prefixes and counts do). */
  def chunkDupPairs(withPayload: DataFrame, id: String,
                    chunkSize: Int, tau: Double): DataFrame =
    chunkDupPairsFrom(chunked(withPayload, id, chunkSize), id, tau)

  /** [[chunkDupPairs]] over a PRE-BUILT chunk table (id, chunk_idx,
    * chunk_len, chunk_md5) — the shared-artifact path: m4 consumes
    * [[ChunkCache.chunks]] instead of re-exploding the corpus payloads
    * (the chunk table appears twice in the pair plan — the key
    * distinct and the per-doc counts — so the artifact saves repeated
    * payload passes, the r18 m4/m6 restructure). */
  def chunkDupPairsFrom(chunks: DataFrame, id: String, tau: Double): DataFrame = {
    // distinct keys + a count join, never a per-payload buffer: a
    // single blob can carry millions of chunks at lake scale, so no
    // collect_set / window may materialize one payload's key set
    val keys = chunks
      .select(col(id), graft.functions.Text.md5Prefix60(col("chunk_md5")).as("__ck"))
      .distinct()
    val counts = keys.groupBy(col(id)).agg(count(lit(1)).as("n_sh"))
    val postings = keys.join(counts, id)
      .select(col(id), col("n_sh"), col("__ck").as("shingle"))
    graft.dedup.Dedup.jaccardDirect(postings, tau)
  }

  /** Content-addressed-store accounting — the dedup-savings report a
    * chunked blob store tracks per tenant: payloads cut into fixed
    * chunks ([[chunked]]), keyed by md5; a chunk stored once serves
    * every referencing blob, so savings = total chunk bytes − bytes of
    * DISTINCT chunks. This is m4's sibling at the STORAGE layer: m4
    * reports which blobs pair, this reports what the CAS layout saves —
    * the number a 100 TB media lake actually budgets by. The tenant
    * column attaches via a doc-level join (never token/chunk-level
    * metadata fan-out); dedup is scoped per source, the common tenancy
    * boundary. Integer arithmetic throughout; one rounded ratio. */
  def casStats(docs: DataFrame, id: String, text: String, source: String,
               chunkSize: Int): DataFrame =
    casStatsFrom(chunked(withPayload(docs, id, text), id, chunkSize)
        .join(docs.select(col(id), col(source)), Seq(id)),
      id, source)

  /** [[casStats]] over a PRE-BUILT chunk table that already carries
    * the tenant column (see [[chunkDupPairsFrom]]): the totals and
    * distinct-chunk legs both consume the chunk explode AND the
    * doc-level tenant join, so m6 reads [[ChunkCache.chunks]] instead
    * of re-deriving both twice. */
  def casStatsFrom(chunks: DataFrame, id: String,
                   source: String): DataFrame = {
    val sch = chunks
    val totals = sch.groupBy(col(source)).agg(
      countDistinct(col(id)).as("n_blobs"),
      count(lit(1)).as("total_chunks"),
      sum(col("chunk_len")).as("total_bytes"))
    val uniq = sch.groupBy(col(source), col("chunk_md5"))
      .agg(min(col("chunk_len")).as("__len"))
      .groupBy(col(source)).agg(
        count(lit(1)).as("uniq_chunks"),
        sum(col("__len")).as("uniq_bytes"))
    totals.join(uniq, Seq(source))
      .select(col(source), col("n_blobs"), col("total_chunks"),
        col("total_bytes"), col("uniq_chunks"), col("uniq_bytes"),
        (col("total_bytes") - col("uniq_bytes")).as("saved_bytes"),
        round(col("uniq_bytes").cast("double") / col("total_bytes").cast("double"), 6)
          .as("dedup_ratio"))
      .orderBy(source)
  }

  /** Frame-energy profile over a stub-decoded PCM payload — the
    * audio-side sibling of [[decodeMeta]]/[[frameSample]]: the payload's
    * bytes are read as unsigned 8-bit PCM samples (THE STUB — in
    * production this is the codec's sample buffer; nothing downstream
    * changes), cut into fixed `frameSize`-sample frames, and each frame
    * scores the integer energy Σ(s−128)² — the RMS-energy statistic a
    * speech pipeline silence-trims and VAD-filters by. A frame is
    * "silent" when its MEAN energy is below `silentMeanEnergy`, decided
    * by integer cross-multiplication (energy < thr·n — no division).
    * Shape: one positions explode (the tokens-sized postings family —
    * sample values, never payload blobs, enter the exchange), a
    * map-side-partial (doc, frame) aggregate, then a doc-sized rollup.
    * All energies are exact int64 at any partitioning; the only float
    * is the final rounded silent fraction. */
  def audioEnergy(docs: DataFrame, id: String, text: String,
                  frameSize: Int, silentMeanEnergy: Int): DataFrame = {
    val frames = frameEnergies(docs, id, text, frameSize)
    frames.groupBy(col(id))
      .agg(
        count(lit(1)).as("n_frames"),
        sum(col("__e")).as("total_energy"),
        max(col("__e")).as("peak_energy"),
        sum(when(col("__e") < lit(silentMeanEnergy.toLong) * col("__n"),
          lit(1L)).otherwise(lit(0L))).as("silent_frames"))
      .withColumn("silent_frac",
        round(col("silent_frames") / col("n_frames").cast("double"), 6))
      .orderBy(col(id))
  }

  /** The (id, frame, __n, __e) frame-energy table [[audioEnergy]] and
    * [[sceneCuts]] both roll up: stub-PCM samples (bytes as unsigned
    * 8-bit, centered at 128 — THE STUB; production swaps in the
    * codec's sample/pixel buffer) cut into `frameSize`-sample frames,
    * each carrying its exact integer energy Σ(s−128)² and sample
    * count. One positions explode (sample values, never payload
    * blobs, enter the exchange) + a map-side-partial aggregate. */
  private def frameEnergies(docs: DataFrame, id: String, text: String,
                            frameSize: Int): DataFrame = {
    val len = length(col(text))
    // len=0 must yield no rows (sequence(1,0) would count DOWN)
    val idxs = when(len <= 0, array().cast("array<int>"))
      .otherwise(sequence(lit(1), len))
    val samples = docs
      .select(col(id), col(text).as("__t"), explode(idxs).as("__j"))
      .select(col(id),
        ((col("__j") - 1) / frameSize).cast("long").as("frame"),
        (ascii(col("__t").substr(col("__j"), lit(1))) - 128).as("__dv"))
    samples.groupBy(col(id), col("frame"))
      .agg(count(lit(1)).as("__n"),
        sum((col("__dv") * col("__dv")).cast("long")).as("__e"))
  }

  /** Scene-cut detection over stub-decoded frame energies — the
    * content-detector shape every video curation pipeline runs
    * (FFmpeg `scdet` / PySceneDetect: a cut where the mean inter-frame
    * delta jumps past a threshold), here over [[frameEnergies]]'s
    * stub frames so the plumbing — per-payload ordered frame pass,
    * cut flags, scene segmentation, per-asset report — is real and
    * oracle-checkable while the decode stays the documented stub.
    *
    * A frame opens a new scene when its MEAN energy moved more than
    * `meanDeltaThr` from the previous frame's, decided by integer
    * cross-multiplication (|e·n_prev − e_prev·n| > thr·n·n_prev — no
    * division, exact under the ragged last frame). Scene ids are the
    * running cut-flag sum; the longest-scene length needs the
    * (id, scene) roll-up before the per-asset one.
    *
    * Shape: the frame table (tokens-family explode + partial agg),
    * TWO windows partitioned by the asset id (lag + running sum —
    * frames-per-asset is bounded by payload size, and the partition
    * key is the high-cardinality id, so every window task holds one
    * asset's frames), then two bounded aggregates. Single-frame
    * assets report zero cuts and a 1-frame scene. */
  def sceneCuts(docs: DataFrame, id: String, text: String,
                frameSize: Int, meanDeltaThr: Int): DataFrame = {
    val w = Window.partitionBy(col(id)).orderBy(col("frame"))
    val flagged = frameEnergies(docs, id, text, frameSize)
      .withColumn("__pe", lag(col("__e"), 1).over(w))
      .withColumn("__pn", lag(col("__n"), 1).over(w))
      .withColumn("__cut",
        when(col("__pe").isNotNull &&
          abs(col("__e") * col("__pn") - col("__pe") * col("__n")) >
            lit(meanDeltaThr.toLong) * col("__n") * col("__pn"), lit(1L))
          .otherwise(lit(0L)))
      .withColumn("__scene",
        sum(col("__cut")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    val scenes = flagged.groupBy(col(id), col("__scene"))
      .agg(count(lit(1)).as("__slen"),
        min(when(col("__cut") === 1, col("frame"))).as("__cutfr"))
    scenes.groupBy(col(id))
      .agg(sum(col("__slen")).as("n_frames"),
        (count(lit(1)) - 1).as("n_cuts"),
        max(col("__slen")).as("longest_scene"),
        min(col("__cutfr")).as("first_cut_frame"))
      .orderBy(col(id))
  }

  /** WebDataset-style shard packing: assign each blob to a ~targetBytes
    * output shard by cumulative byte budget, per source — the manifest
    * build that turns a blob lake into the fixed-size tar shards a
    * training loader streams. The byte-budget twin of the token-budget
    * sequence packer (Pipeline.packSequences), and it uses the SAME
    * md5-shard decomposition: a single per-source cumulative window
    * would sort an entire source's blobs in ONE task (with ~20 sources
    * at 100 TB that is a multi-billion-row straggler partition per
    * source), so instead
    *
    *  1. blobs are dealt to `hashShards` md5 sub-shards WITHIN their
    *     source (pure function of the id — reproducible on any cluster
    *     size), and the cumulative-bytes-before window runs per
    *     (source, sub-shard): parallelism is sources × hashShards wide
    *     however large any one source is;
    *  2. each sub-shard packs locally — local bin = ⌊cum_before/target⌋;
    *  3. local bins are stitched into GLOBAL per-source shard ids with a
    *     running offset over the tiny (source, sub-shard) bin-count
    *     table (≤ sources × hashShards rows; that window is the only
    *     sequential dependency left and it runs over a few hundred rows).
    *
    * The payload bytes never move — only their lengths do, straight off
    * the binary column. A blob larger than targetBytes overflows its own
    * bin and advances the running budget past itself (so later blobs
    * skip budget-exhausted shard ids); it does NOT claim an exclusive
    * shard — preceding small blobs of the same bin stay with it, which
    * is what a streaming tar writer produces when an oversize sample
    * arrives mid-shard. */
  def shardPack(docs: DataFrame, id: String, text: String, source: String,
                targetBytes: Int, hashShards: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wLocal = Window.partitionBy(col(source), col("hshard")).orderBy(col(id))
      .rowsBetween(Window.unboundedPreceding, -1)
    val binned = docs.select(col(id), col(source),
        octet_length(col(text).cast("binary")).cast("long").as("bytes"),
        graft.functions.Text.hashBucket(col(id), hashShards).as("hshard"))
      .withColumn("cum_before", coalesce(sum(col("bytes")).over(wLocal), lit(0L)))
      .withColumn("lbin",
        floor(col("cum_before") / lit(targetBytes.toDouble)).cast("long"))
    // tiny stitch table: bins opened per (source, sub-shard), offset by a
    // running sum in sub-shard order — global shard = offset + local bin
    val wOff = Window.partitionBy(col(source)).orderBy(col("hshard"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = binned.groupBy(col(source), col("hshard"))
      .agg((max(col("lbin")) + 1).as("n_bins"))
      .withColumn("bin_off", coalesce(sum(col("n_bins")).over(wOff), lit(0L)))
      .select(col(source), col("hshard"), col("bin_off"))
    binned.join(broadcast(offsets), Seq(source, "hshard"))
      .withColumn("shard", col("bin_off") + col("lbin"))
      .groupBy(col(source), col("shard"))
      .agg(count(lit(1)).as("n_blobs"),
        sum(col("bytes")).cast("long").as("shard_bytes"),
        min(col(id)).as("first_id"))
      .orderBy(source, "shard")
  }

  /** 64-bit average-hash ("aHash") perceptual fingerprint over a payload,
    * as FOUR 16-bit pigeonhole chunks: 64 pixels sampled at evenly
    * spaced offsets (pixel i = byte at 1 + ⌊i·len/64⌋ — the stride
    * arithmetic a real thumbnail-resample reduces to), bit i set iff
    * pixel_i·64 > Σpixels (the integer form of "above the mean" — no
    * division, engine-exact). STUB decode as everywhere in this module:
    * pixels come from the payload bytes directly; a real codec replaces
    * the sampling line with decoded luma and NOTHING downstream changes.
    *
    * Chunking is d3's Manku-pigeonhole shape: hamming ≤ 3 over 64 bits
    * forces ≥ 1 of the 4 chunks to match exactly, so near-dup search is
    * an EQUI-join on (chunk_idx, chunk_value) — never an all-pairs
    * hamming scan. Returns (id, c0..c3, ph_hex). */
  def perceptualHash(docs: DataFrame, id: String, text: String): DataFrame = {
    val len = greatest(length(col(text)), lit(1))
    val px = transform(sequence(lit(0), lit(63)),
      i => ascii(col(text).substr(
        (floor(i * len / lit(64.0)) + 1).cast("int"), lit(1))))
    val bits = transform(col("__px"), p =>
      when(p * 64 > col("__sum"), lit(1L)).otherwise(lit(0L)))
    val chunk = (c: Int) => aggregate(
      slice(col("__bits"), c * 16 + 1, 16), lit(0L), (acc, b) => acc * 2 + b)
    docs.select(col(id), px.as("__px"))
      .withColumn("__sum", aggregate(col("__px"), lit(0L), (acc, x) => acc + x))
      .withColumn("__bits", bits)
      .select(col(id) +: (0 until 4).map(c => chunk(c).as(s"c$c")): _*)
      .withColumn("ph_hex", concat((0 until 4).map(c =>
        lpad(hex(col(s"c$c")), 4, "0")): _*))
  }

  /** Near-dup candidate stats per payload from the pigeonhole index:
    * docs sharing ≥ 1 of the 4 hash chunks are candidates; the report
    * carries each doc's hash, candidate count and minimum hamming
    * distance among candidates (NULL when no chunk collides). The
    * full pair set at `maxHam` is [[perceptualHashPairs]]; the report
    * shape keeps the query non-degenerate on corpora with no
    * byte-identical payloads (true hamming twins are spec-planted). */
  def perceptualHashIndex(docs: DataFrame, id: String, text: String): DataFrame = {
    val ph = perceptualHash(docs, id, text)
    // one explode, not a union of two selects — a union re-executes the
    // candidate join once per leg
    val stats = phashCandidates(ph, id)
      .select(explode(array(col("id_a"), col("id_b"))).as("__id"), col("hamming"))
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_cand"), min(col("hamming")).as("min_ham"))
    ph.join(stats, ph(id) === stats("__id"), "left")
      .select(col(id), col("ph_hex"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"), col("min_ham"))
  }

  /** Buckets (one (chunk_idx, chunk_value) key) above this occupancy get
    * sub-block sharded in [[phashCandidates]]. Low enough that any bucket
    * whose quadratic candidate set could straggle a task is spread;
    * high enough that normal corpora (bucket sizes ~n/65536 per chunk)
    * never pay the probe-side replication. */
  val PhashHotBucketThreshold = 1024

  /** Sub-block fan-out for hot phash buckets (d5's pattern,
    * Ann.nearDupPairsScaledIndexed): build side hashed into this many blocks,
    * probe side replicated to all of them. */
  val PhashSubBlocks = 8

  /** Distinct candidate pairs (id_a < id_b, ≥ 1 chunk equal) with exact
    * hamming distance — the pigeonhole equi-join.
    *
    * Hot-bucket sharding (semantics-preserving — the m5 oracle defines
    * candidates as "≥ 1 chunk equal", so the pair SET must not shrink):
    * a degenerate chunk value on a real media lake (flat/dark frames all
    * aHash-chunking to 0x0000) makes one (chunk_idx, chunk_value) bucket
    * hold a large fraction of the corpus, and the self-equi-join then
    * runs that bucket's quadratic candidate set in ONE task. Buckets
    * above `hotThreshold` (flagged from a cheap occupancy aggregate,
    * broadcast back) are split d5-style: the build side lands in
    * `subBlocks` deterministic hash sub-blocks, the probe side
    * replicates to all of them — the same pair set, spread over
    * `subBlocks` tasks with per-task candidate work cut ×subBlocks.
    * Cold buckets join exactly as before (one sub-block key 0) and pay
    * no replication. Each surviving pair still surfaces once per
    * matching chunk (the build row lives in exactly one sub-block), so
    * the trailing `distinct()` is unchanged. Before/after: PHASH_AB
    * (planted 30%-constant-chunk corpus). */
  private[graft] def phashCandidates(ph: DataFrame, id: String,
      hotThreshold: Int = PhashHotBucketThreshold,
      subBlocks: Int = PhashSubBlocks): DataFrame = {
    val chunkCols = (0 until 4).map(c => col(s"c$c"))
    val legs = ph.select(col(id), array(chunkCols: _*).as("__ch"),
        posexplode(array(chunkCols: _*)))
      .select(col(id), col("__ch"), col("pos").as("__cc"), col("col").as("__cv"))
    // occupancy per bucket; the hot list is ≤ 4n/hotThreshold rows by
    // construction — always broadcastable
    val hot = legs.groupBy("__cc", "__cv").count()
      .filter(col("count") > hotThreshold)
      .select(col("__cc"), col("__cv"), lit(true).as("__hot"))
    val flagged = legs.join(broadcast(hot), Seq("__cc", "__cv"), "left")
      .withColumn("__hot", coalesce(col("__hot"), lit(false)))
    val a = flagged.select(col(id).as("id_a"), col("__ch").as("__cha"),
      col("__cc"), col("__cv"),
      explode(when(col("__hot"), sequence(lit(0), lit(subBlocks - 1)))
        .otherwise(array(lit(0)))).as("__sb"))
    val b = flagged.select(col(id).as("id_b"), col("__ch").as("__chb"),
      col("__cc"), col("__cv"),
      when(col("__hot"), pmod(hash(col(id)), lit(subBlocks)))
        .otherwise(lit(0)).as("__sb"))
    a.join(b, Seq("__cc", "__cv", "__sb"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        aggregate(zip_with(col("__cha"), col("__chb"),
          (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
          lit(0L), (acc, x) => acc + x).as("hamming"))
      .distinct()
  }

  /** Near-dup pairs at `maxHam` (≤ 3 for the 4-chunk guarantee to be
    * complete — Manku et al. WWW'07 pigeonhole): the candidate join
    * filtered to the exact hamming bound. */
  def perceptualHashPairs(docs: DataFrame, id: String, text: String,
                          maxHam: Int = 3): DataFrame = {
    require(maxHam <= 3, s"4-chunk pigeonhole is only complete to hamming 3, got $maxHam")
    phashCandidates(perceptualHash(docs, id, text), id)
      .filter(col("hamming") <= maxHam)
  }

  /** Frame sampling: every `stride`-th byte as a "frame", with count /
    * sum / head-of-stream per document. STUB: a real impl decodes
    * containers and samples frames; the sampling arithmetic, schema and
    * per-doc aggregation shape are the real plumbing.
    *
    * Expressed entirely as array expressions (sequence → transform →
    * aggregate, the m3 pattern) rather than `mapPartitions`: no
    * Dataset[T] round-trip, so the plan has no
    * SerializeFromObject/DeserializeToObject barrier and the operator
    * composes with pushdown/pruning like any other projection. ASCII
    * payloads make `substr` on the text column byte-accurate (same
    * convention as `chunked`). */
  def frameSample(docs: DataFrame, id: String, text: String,
                  stride: Int): DataFrame = {
    val nFrames = ceil(length(col(text)).cast("double") / stride).cast("int")
    // nFrames=0 must yield an EMPTY frame list (sequence(0,-1) counts down)
    val idxs = when(nFrames <= 0, array().cast("array<int>"))
      .otherwise(sequence(lit(0), nFrames - 1))
    val frames = transform(idxs,
      i => ascii(col(text).substr(i * stride + lit(1), lit(1))))
    docs.select(col(id).cast("long").as(id),
        frames.as("__frames"))
      .select(col(id),
        size(col("__frames")).cast("long").as("n_frames"),
        aggregate(col("__frames"), lit(0L), (acc, x) => acc + x).as("frame_sum"),
        concat_ws(",", slice(col("__frames"), 1, 8)).as("head_frames"))
  }
}
