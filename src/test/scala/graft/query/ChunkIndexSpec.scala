package graft.query

import org.apache.spark.sql.functions._
import graft.{SparkSuite, TestSpark}
import graft.core.Tables

/** O(delta) chunk dedup ([[ChunkIndex]]): the load-bearing claim is
  * that probing the delivery's chunks against the base DIGEST table
  * reproduces the full-corpus keep-first rule ([[Sampling.dedupChunks]]
  * canonical order) restricted to delivery rows — exactly, for every
  * rule branch. */
class ChunkIndexSpec extends SparkSuite {

  import spark.implicits._

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toString).sorted.toSeq

  /** The batch reference: full-corpus per-digest canonical, delivery
    * rows that are not their digest's canonical. */
  private def deltaViaBatch(docs: org.apache.spark.sql.DataFrame,
      cut: Long) = {
    val all = Sampling.chunkOf(docs)
      .select("doc_id", "chunk_idx", "chunk_md5")
    val canon = all.groupBy("chunk_md5")
      .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("c"))
      .select(col("chunk_md5"), col("c.doc_id").as("canon_doc_id"),
        col("c.chunk_idx").as("canon_chunk_idx"))
    all.join(canon, Seq("chunk_md5"))
      .filter(col("doc_id") >= cut &&
        (col("doc_id") =!= col("canon_doc_id") ||
          col("chunk_idx") =!= col("canon_chunk_idx")))
      .select("doc_id", "chunk_idx", "chunk_md5", "canon_doc_id",
        "canon_chunk_idx")
  }

  private def deltaViaIndex(docs: org.apache.spark.sql.DataFrame,
      cut: Long) =
    ChunkIndex.dupsAgainst(
      Sampling.chunkOf(docs.filter(col("doc_id") >= cut)),
      ChunkIndex.digestsOf(docs.filter(col("doc_id") < cut)))

  test("planted corpus: every rule branch matches the batch form") {
    val passage = (1 to 64).map(i => s"p$i").mkString(" ")
    val shared = (1 to 64).map(i => s"s$i").mkString(" ")
    // base: doc 1 carries `passage` at chunk 0
    // delta: doc 10 repeats `passage` (base-seen ⇒ dup to base canon);
    // docs 11+12 share `shared` (delta-new dup ⇒ 11 kept as canon, 12
    // emitted pointing at 11); doc 13 is all-fresh (never emitted)
    val docs = Seq(
      (1L, s"$passage ${(1 to 32).map(i => s"a$i").mkString(" ")}"),
      (10L, s"$passage ${(1 to 32).map(i => s"x$i").mkString(" ")}"),
      (11L, s"$shared ${(1 to 32).map(i => s"y$i").mkString(" ")}"),
      (12L, s"$shared ${(1 to 32).map(i => s"z$i").mkString(" ")}"),
      (13L, (1 to 96).map(i => s"u$i").mkString(" ")))
      .toDF("doc_id", "text")
    val cut = 10L
    val viaIndex = rows(deltaViaIndex(docs, cut))
    assert(viaIndex === rows(deltaViaBatch(docs, cut)))
    val m = deltaViaIndex(docs, cut).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(3), r.getLong(4))).toMap
    assert(m((10L, 0L)) === ((1L, 0L)), "base-seen chunk must point " +
      s"at the base canonical: $m")
    assert(m((12L, 0L)) === ((11L, 0L)), "delta-internal second " +
      s"occurrence must point at the delta-first: $m")
    assert(!m.contains((11L, 0L)), "delta-first occurrence of a " +
      "delta-new digest is canonical — must not be emitted")
    assert(m.keys.forall(_._1 != 13L), "all-fresh doc surfaced")
  }

  test("fixture: index form == batch form on the delta slice") {
    val docs = graft.core.Tables.load(spark, TestSpark.sfDir, "documents")
    val cut = Tables.deltaCutoff(docs, "doc_id")
    assert(rows(deltaViaIndex(docs, cut)) ===
      rows(deltaViaBatch(docs, cut)))
  }

  test("driver key: store-backed form == batch form on the fixture") {
    val docs = graft.core.Tables.load(spark, TestSpark.sfDir, "documents")
    val cut = Tables.deltaCutoff(docs, "doc_id")
    assert(rows(ChunkIndex.dedupChunksDelta(spark, TestSpark.sfDir)) ===
      rows(deltaViaBatch(docs, cut)))
  }
}
