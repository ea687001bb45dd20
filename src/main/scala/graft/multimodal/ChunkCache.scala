package graft.multimodal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.{IndexStore, Tables}

/** The shared fixed-size chunk table (doc_id, chunk_idx, chunk_len,
  * chunk_md5) over `dir`'s documents' binary payloads — the input both
  * storage-layer dedup reports start from (m4's chunk-key Jaccard
  * pairs, m6's CAS accounting). One payload explode per (corpus,
  * chunkSize), durable and size-stamped like ClusterCache.postings:
  * at lake scale each re-derivation is a full corpus pass over the
  * payload bytes, and the r17 localCheckpoint negative rules out
  * fixing the repeat with a query-path materialization action — the
  * durable-artifact path is the one that leaves the bench honest
  * (build mode re-derives everything; the BUILD gate stays green).
  */
object ChunkCache {
  /** Size-stamped (chunkSize is part of the identity — a different
    * chunking is a different table). The tenant column rides the
    * artifact (doc-keyed 1:1): m6's per-source accounting would
    * otherwise re-join a documents projection per consuming leg; m4
    * prunes it at the bucketed scan. `source` is carried through the
    * one documents projection, so the build scans documents once. The
    * default is m4/m6's chunk size. */
  def chunksArtifact(chunkSize: Int = 64): IndexStore.Artifact =
    IndexStore.Artifact(s"chunks_c$chunkSize", Some("doc_id")) { (spark, dir) =>
      val carry = Seq("source")
      Binary.chunked(
        Binary.withPayload(Tables.documents(spark, dir), "doc_id", "text", carry),
        "doc_id", chunkSize, carry)
    }

  def chunks(spark: SparkSession, dir: String, chunkSize: Int = 64): DataFrame =
    IndexStore.get(spark, dir, chunksArtifact(chunkSize))
}
