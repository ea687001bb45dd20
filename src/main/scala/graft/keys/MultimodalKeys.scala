package graft.keys

import org.apache.spark.sql.functions._
import graft.sources.Tables

import Shared._

/** m-keys: binary-payload plumbing (metadata, frames, chunks, CAS,
  * shards, perceptual hashes, audio energy, scene cuts). */
object MultimodalKeys {
  val keys: Seq[Key] = Seq(
    Key("m1_binary_meta", () =>
      """SELECT doc_id, octet_length(encode(text)) AS byte_len, md5(text) AS checksum,
        |  octet_length(encode(text)) % 997 AS width,
        |  octet_length(encode(text)) * 7 % 769 AS height,
        |  CAST(ceil((octet_length(encode(text)) % 997) / 64.0) AS BIGINT)
        |    * CAST(ceil((octet_length(encode(text)) * 7 % 769) / 64.0) AS BIGINT) AS n_tiles
        |FROM documents ORDER BY doc_id""".stripMargin)((s, d) =>
      graft.multimodal.Binary.decodeMeta(
        graft.multimodal.Binary.withPayload(Tables.documents(s, d), "doc_id", "text"),
        "doc_id").orderBy("doc_id")),

    Key("m2_frame_sample", () =>
      """SELECT doc_id, len(f)::BIGINT AS n_frames, list_sum(f)::BIGINT AS frame_sum,
        |  array_to_string(f[1:8], ',') AS head_frames
        |FROM (SELECT doc_id,
        |    [ord(substr(text, j, 1)) for j in range(1, length(text)+1) if (j-1) % 7 = 0] AS f
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin)((s, d) =>
      graft.multimodal.Binary.frameSample(Tables.documents(s, d),
        "doc_id", "text", 7).orderBy("doc_id")),

    // chunking on ASCII text: VARCHAR substr positions == byte offsets
    Key("m3_chunked_binary", () =>
      """SELECT doc_id, i - 1 AS chunk_idx,
        |  octet_length(encode(substr(text, (i - 1) * 256 + 1, 256))) AS chunk_len,
        |  md5(substr(text, (i - 1) * 256 + 1, 256)) AS chunk_md5
        |FROM (SELECT doc_id, text,
        |    unnest(range(1, CAST(ceil(octet_length(encode(text)) / 256.0) AS BIGINT) + 1)) AS i
        |  FROM documents)
        |ORDER BY doc_id, chunk_idx""".stripMargin)((s, d) =>
      graft.multimodal.Binary.chunked(
        graft.multimodal.Binary.withPayload(Tables.documents(s, d), "doc_id", "text"),
        "doc_id", 256).orderBy("doc_id", "chunk_idx")),

    // storage-level dedup for opaque blobs: Jaccard over 64-byte
    // chunk-key sets (the d4 postings plan on chunk hashes — payload
    // bytes never enter the exchange)
    // the Spark side keys chunks by md5Prefix60(chunk_md5) =
    // conv(substr(md5(md5(chunk)),1,15),16,10) — mirror the double
    // hash; chunk extraction mirrors m3's ASCII substr == byte slice
    Key("m4_binary_neardup", () =>
      """WITH k AS (SELECT DISTINCT doc_id,
        |    ('0x' || substr(md5(md5(substr(text, (i - 1) * 64 + 1, 64))), 1, 15))::BIGINT AS ck
        |  FROM (SELECT doc_id, text,
        |      unnest(range(1, CAST(ceil(octet_length(encode(text)) / 64.0) AS BIGINT) + 1)) AS i
        |    FROM documents)),
        |n AS (SELECT doc_id, count(*) AS n_ck FROM k GROUP BY 1)
        |SELECT id_a, id_b, shared, jaccard FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared,
        |    round(count(*)::DOUBLE / (na.n_ck + nb.n_ck - count(*)), 6) AS jaccard
        |  FROM k a JOIN k b ON a.ck = b.ck AND a.doc_id < b.doc_id
        |  JOIN n na ON na.doc_id = a.doc_id
        |  JOIN n nb ON nb.doc_id = b.doc_id
        |  GROUP BY a.doc_id, b.doc_id, na.n_ck, nb.n_ck)
        |WHERE jaccard >= 0.5
        |ORDER BY id_a, id_b""".stripMargin)((s, d) =>
      graft.multimodal.Binary.chunkDupPairsFrom(
        graft.multimodal.ChunkCache.chunks(s, d),
        "doc_id", 0.5).orderBy("id_a", "id_b")),

    // content-addressed-store accounting: per-source storage savings
    // from chunk-level dedup (m4's sibling at the storage layer — the
    // number a media lake budgets by)
    Key("m6_cas_stats", () =>
      """WITH ch AS (SELECT doc_id, source,
        |    octet_length(encode(substr(text, (i - 1) * 64 + 1, 64))) AS chunk_len,
        |    md5(substr(text, (i - 1) * 64 + 1, 64)) AS chunk_md5
        |  FROM (SELECT doc_id, source, text,
        |      unnest(range(1, CAST(ceil(octet_length(encode(text)) / 64.0) AS BIGINT) + 1)) AS i
        |    FROM documents)),
        |t AS (SELECT source, count(DISTINCT doc_id) AS n_blobs, count(*) AS total_chunks,
        |    CAST(sum(chunk_len) AS BIGINT) AS total_bytes FROM ch GROUP BY 1),
        |u AS (SELECT source, count(*) AS uniq_chunks, CAST(sum(len) AS BIGINT) AS uniq_bytes
        |  FROM (SELECT source, chunk_md5, min(chunk_len) AS len FROM ch GROUP BY 1, 2)
        |  GROUP BY 1)
        |SELECT t.source, n_blobs, total_chunks, total_bytes, uniq_chunks, uniq_bytes,
        |  total_bytes - uniq_bytes AS saved_bytes,
        |  round(CAST(uniq_bytes AS DOUBLE) / CAST(total_bytes AS DOUBLE), 6) AS dedup_ratio
        |FROM t JOIN u USING (source) ORDER BY source""".stripMargin)((s, d) =>
      graft.multimodal.Binary.casStatsFrom(
        graft.multimodal.ChunkCache.chunks(s, d),
        "doc_id", "source")),

    // WebDataset-style shard packing: blobs assigned to ~4 KiB output
    // shards by cumulative byte budget per source (the manifest build
    // for fixed-size training tar shards) — byte-budget twin of
    // x7_pack_sequences and it reuses x7's md5-shard decomposition:
    // the cumulative window runs per (source, sub-shard), never over a
    // whole source in one task; global shard ids stitch via a running
    // offset on the tiny per-sub-shard bin-count table
    // mirrors the md5-sub-shard decomposition (x7's pattern): local
    // cumsum per (source, hshard), then global shard = running offset
    // over the tiny per-sub-shard bin counts + local bin
    Key("m7_shard_pack", () =>
      s"""WITH t AS (SELECT doc_id, source,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS bytes,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % ${graft.multimodal.Binary.ShardPackHashShards} AS hshard
        |  FROM documents),
        |l AS (SELECT *, CAST(floor(cum_before / 4096.0) AS BIGINT) AS lbin FROM (
        |  SELECT *, CAST(coalesce(sum(bytes) OVER (PARTITION BY source, hshard
        |        ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      0) AS BIGINT) AS cum_before FROM t)),
        |o AS (SELECT source, hshard, CAST(coalesce(sum(n_bins) OVER (PARTITION BY source
        |      ORDER BY hshard ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS bin_off
        |  FROM (SELECT source, hshard, max(lbin) + 1 AS n_bins FROM l GROUP BY 1, 2))
        |SELECT l.source, o.bin_off + l.lbin AS shard,
        |  count(*) AS n_blobs, CAST(sum(bytes) AS BIGINT) AS shard_bytes,
        |  min(doc_id) AS first_id
        |FROM l JOIN o ON l.source = o.source AND l.hshard = o.hshard
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)((s, d) =>
      graft.multimodal.Binary.shardPack(
        Tables.documents(s, d), "doc_id", "text", "source", 4096,
        graft.multimodal.Binary.ShardPackHashShards)),

    // perceptual-hash index: per-payload 64-bit aHash (stub-decoded
    // pixels) split into 4 pigeonhole chunks + candidate-neighborhood
    // stats from the chunk equi-join (hamming <= 3 twins are found
    // THROUGH this join; spec plants them — this corpus has none)
    // aHash mirrored exactly: pixel i = ord of byte 1 + floor(i*len/64)
    // (len/64 division by a power of two is EXACT in doubles), bit via
    // integer cross-multiplication, chunks as base-2 folds, candidate
    // stats from the (chunk_idx, chunk_value) equi-join
    Key("m5_phash_index", () =>
      """WITH p AS (SELECT doc_id,
        |    [ord(substr(text, 1 + CAST(floor(i * greatest(length(text), 1) / 64.0) AS BIGINT), 1))
        |     for i in range(0, 64)] AS px
        |  FROM documents),
        |s AS (SELECT doc_id, px, list_sum(px) AS sm FROM p),
        |b AS (SELECT doc_id,
        |    [CASE WHEN px[i] * 64 > sm THEN 1 ELSE 0 END for i in range(1, 65)] AS bits
        |  FROM s),
        |c AS (SELECT doc_id,
        |    [list_sum([bits[c*16 + i] * (2**(16 - i))::BIGINT for i in range(1, 17)])::BIGINT
        |     for c in range(0, 4)] AS ch
        |  FROM b),
        |hx AS (SELECT doc_id, ch,
        |    lpad(hex(ch[1]), 4, '0') || lpad(hex(ch[2]), 4, '0')
        |      || lpad(hex(ch[3]), 4, '0') || lpad(hex(ch[4]), 4, '0') AS ph_hex
        |  FROM c),
        |e2 AS (SELECT doc_id, ch, cc, ch[cc + 1] AS cv
        |  FROM (SELECT doc_id, ch, unnest(range(4)) AS cc FROM c)),
        |prs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
        |    (bit_count(xor(a.ch[1], b.ch[1])) + bit_count(xor(a.ch[2], b.ch[2]))
        |     + bit_count(xor(a.ch[3], b.ch[3])) + bit_count(xor(a.ch[4], b.ch[4]))) AS hamming
        |  FROM e2 a JOIN e2 b ON a.cc = b.cc AND a.cv = b.cv AND a.doc_id < b.doc_id),
        |st AS (SELECT id, count(*) AS n_cand, min(hamming) AS min_ham FROM (
        |    SELECT id_a AS id, hamming FROM prs
        |    UNION ALL SELECT id_b AS id, hamming FROM prs)
        |  GROUP BY id)
        |SELECT hx.doc_id, hx.ph_hex, coalesce(st.n_cand, 0)::BIGINT AS n_cand,
        |  st.min_ham
        |FROM hx LEFT JOIN st ON st.id = hx.doc_id
        |ORDER BY hx.doc_id""".stripMargin)((s, d) =>
      graft.multimodal.Binary.perceptualHashIndex(
        Tables.documents(s, d), "doc_id", "text").orderBy("doc_id")),

    // stub-PCM frame energy (NEW r14): payload bytes as unsigned 8-bit
    // samples, 256-sample frames, integer Σ(s−128)² energies; silence
    // by integer cross-multiplication — the VAD/silence-trim report
    // stub-PCM frames: bytes as unsigned 8-bit samples, 256-sample
    // frames, exact integer Σ(s−128)² energies; silence by integer
    // cross-multiplication (e < thr·n)
    Key("m8_audio_energy", () =>
      """WITH b AS (SELECT doc_id, (j - 1) // 256 AS frame,
        |    ord(substr(text, j, 1)) - 128 AS dv
        |  FROM (SELECT doc_id, text, unnest(range(1, length(text) + 1)) AS j
        |    FROM documents)),
        |f AS (SELECT doc_id, frame, count(*) AS n,
        |    CAST(sum(dv * dv) AS BIGINT) AS e
        |  FROM b GROUP BY 1, 2)
        |SELECT doc_id, count(*) AS n_frames,
        |  CAST(sum(e) AS BIGINT) AS total_energy,
        |  CAST(max(e) AS BIGINT) AS peak_energy,
        |  CAST(sum(CASE WHEN e < 2000 * n THEN 1 ELSE 0 END) AS BIGINT) AS silent_frames,
        |  round(CAST(sum(CASE WHEN e < 2000 * n THEN 1 ELSE 0 END) AS BIGINT)
        |    / CAST(count(*) AS DOUBLE), 6) AS silent_frac
        |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin)((s, d) =>
      graft.multimodal.Binary.audioEnergy(
        Tables.documents(s, d), "doc_id", "text", 256, 2000)),

    // scene-cut detection over stub frame energies (NEW r14): the
    // PySceneDetect/scdet content-detector shape — a cut where the
    // mean frame energy jumps past the threshold (integer
    // cross-multiplication, exact under the ragged last frame);
    // 32-sample frames, per-asset windows on the high-cardinality id
    // same 32-sample frame energies; cut by integer
    // cross-multiplication, scenes = running cut sum, two roll-ups
    Key("m9_scene_cuts", () =>
      """WITH b AS (SELECT doc_id, (j - 1) // 32 AS frame,
        |    ord(substr(text, j, 1)) - 128 AS dv
        |  FROM (SELECT doc_id, text, unnest(range(1, length(text) + 1)) AS j
        |    FROM documents)),
        |f AS (SELECT doc_id, frame, count(*) AS n,
        |    CAST(sum(dv * dv) AS BIGINT) AS e
        |  FROM b GROUP BY 1, 2),
        |g AS (SELECT doc_id, frame, e, n,
        |    lag(e) OVER w AS pe, lag(n) OVER w AS pn
        |  FROM f WINDOW w AS (PARTITION BY doc_id ORDER BY frame)),
        |c AS (SELECT doc_id, frame,
        |    CASE WHEN pe IS NOT NULL AND abs(e * pn - pe * n) > 700 * n * pn
        |      THEN 1 ELSE 0 END AS cut
        |  FROM g),
        |sc AS (SELECT doc_id, frame, cut,
        |    sum(cut) OVER (PARTITION BY doc_id ORDER BY frame
        |      ROWS UNBOUNDED PRECEDING) AS scene
        |  FROM c),
        |seg AS (SELECT doc_id, scene, count(*) AS slen,
        |    min(CASE WHEN cut = 1 THEN frame END) AS cutfr
        |  FROM sc GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(slen) AS BIGINT) AS n_frames,
        |  CAST(count(*) - 1 AS BIGINT) AS n_cuts,
        |  CAST(max(slen) AS BIGINT) AS longest_scene,
        |  CAST(min(cutfr) AS BIGINT) AS first_cut_frame
        |FROM seg GROUP BY doc_id ORDER BY doc_id""".stripMargin)((s, d) =>
      graft.multimodal.Binary.sceneCuts(
        Tables.documents(s, d), "doc_id", "text", 32, 700)),
  )
}
