package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ingest.PersistedIndex

/** Incrementally-maintained CHUNK-dedup index — the delta form of
  * [[Sampling.dedupChunks]], extending the delta family (minhash, IVF,
  * PQ, semantic, vocabulary, gram, perceptual) to the retrieval-store
  * grain: a weekly delivery finds which of ITS chunks are copies of
  * already-stored content WITHOUT re-chunking the base corpus.
  *
  * Store: the base corpus's chunk-digest table at DIGEST grain —
  * (chunk_md5, canon_doc_id, canon_chunk_idx), the corpus-first
  * occurrence of every distinct digest — committed v0; each delivery
  * appends ITS digest table (delivery-first occurrences) as one
  * O(delta) manifest commit. First-occurrence merges exactly across
  * commits (min of mins), so the chain serves any number of
  * deliveries; the probe side re-minimizes per digest on read.
  *
  * Duplicate rule for a DELIVERY chunk (provably the batch
  * [[Sampling.dedupChunks]] canonical rule evaluated on delta rows —
  * the DuckDB oracle states it as the full-corpus re-run restricted
  * to delivery rows, and ChunkIndexSpec pins it):
  *   - digest PRESENT in the store → duplicate; the canonical location
  *     is the store's (base doc_ids all precede delivery doc_ids, so
  *     the corpus-first occurrence is always the base one);
  *   - digest ABSENT → duplicate iff it occurs ≥ 2 times in the
  *     delivery; the delivery-first occurrence is the corpus-first
  *     (canonical, kept — not emitted as a duplicate).
  *
  * Scale shape: the delivery is chunked once (O(delta) rows), its
  * per-digest first-occurrence folded in one map-side-combinable
  * `min(struct(doc_id, chunk_idx))`, and hash-joined against the
  * digest-grain store (distinct-chunk-sized, not occurrence-sized).
  * No base text is read; no Window operators anywhere. */
object ChunkIndex {

  private val Index = new PersistedIndex[DataFrame]("chunks", "C1",
    "documents", "doc_id", PersistedIndex.Store("chunks", 2))

  /** Per-digest corpus-first occurrence of a docs frame — the
    * [[Sampling.dedupChunks]] canonical stage at digest grain; also
    * the streamed maintainer's base commit and the spec's store-free
    * equivalence harness. */
  private[graft] def digestsOf(docs: DataFrame, win: Int = 64,
      stride: Int = 32): DataFrame =
    digestsOfChunks(Sampling.chunkOf(docs, win, stride))

  /** The digest-grain collapse over an already-chunked frame — shared
    * with the STREAMING maintainer ([[graft.streaming.DeliveryStore.chunk]]),
    * which chunks each delivery once and feeds both its stores. */
  private[graft] def digestsOfChunks(chunks: DataFrame): DataFrame =
    chunks
      .groupBy("chunk_md5")
      .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("c"))
      .select(col("chunk_md5"), col("c.doc_id").as("canon_doc_id"),
        col("c.chunk_idx").as("canon_chunk_idx"))

  /** Build-or-load the persisted digest store (base digests v0, the
    * delivery's appended for FUTURE deliveries) and return the
    * PRE-delivery digest table the current delivery probes,
    * re-minimized per digest (a digest first seen in an older commit
    * wins — min of firsts is the first). */
  private def ensureStore(spark: SparkSession, dir: String, win: Int,
      stride: Int): DataFrame =
    Index.ensure(spark, dir, win, stride)(
      _.baseDelivery()(d => Seq(digestsOf(d, win, stride))))(
      _.previous("chunks")
        .groupBy("chunk_md5")
        .agg(min(struct(col("canon_doc_id"), col("canon_chunk_idx")))
          .as("c"))
        .select(col("chunk_md5"), col("c.canon_doc_id"),
          col("c.canon_chunk_idx"))
        .localCheckpoint())

  /** Driver key `dedup_chunks_delta`: every DELIVERY chunk (doc_id ≥
    * the standard cutoff) that duplicates an earlier chunk in
    * full-corpus (doc_id, chunk_idx) order, with its canonical
    * location — [[Sampling.dedupChunks]]'s keep-first rule served from
    * the persisted base store at O(delta) cost. */
  def dedupChunksDelta(spark: SparkSession, dir: String,
      win: Int = 64, stride: Int = 32): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val cut = Tables.deltaCutoff(docs, "doc_id")
    dupsAgainst(
      Sampling.chunkOf(docs.filter(col("doc_id") >= cut), win, stride),
      ensureStore(spark, dir, win, stride))
  }

  /** The probe core over any delta chunk frame and base digest table —
    * shared by [[dedupChunksDelta]] and the ChunkIndexSpec equivalence
    * tests (which feed it frame-built digests, no store). */
  private[query] def dupsAgainst(deltaChunks0: DataFrame,
      baseDigests: DataFrame): DataFrame = {
    val deltaChunks =
      deltaChunks0.select("doc_id", "chunk_idx", "chunk_md5")
    val internalFirst = deltaChunks
      .groupBy("chunk_md5")
      .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("d"))
    // base canon wins when present: base doc_ids < cut ≤ delivery's
    val canon = internalFirst
      .join(baseDigests, Seq("chunk_md5"), "left")
      .select(col("chunk_md5"),
        coalesce(col("canon_doc_id"), col("d.doc_id"))
          .as("canon_doc_id"),
        coalesce(col("canon_chunk_idx"), col("d.chunk_idx"))
          .as("canon_chunk_idx"))
    deltaChunks.join(canon, Seq("chunk_md5"))
      .filter(col("doc_id") =!= col("canon_doc_id") ||
        col("chunk_idx") =!= col("canon_chunk_idx"))
      .select("doc_id", "chunk_idx", "chunk_md5", "canon_doc_id",
        "canon_chunk_idx")
      .orderBy("doc_id", "chunk_idx")
  }
}
