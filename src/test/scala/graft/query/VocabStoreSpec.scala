package graft.query

import org.apache.spark.sql.functions._
import graft.{SparkSuite, TestSpark}
import graft.core.Tables

/** Persisted, incrementally-maintained tokenizer vocabulary
  * ([[VocabStore]] — r14 verdict gap #2). The exactness argument is
  * count additivity: per-delivery (w, n) partials groupBy-sum to the
  * full-corpus counts bit-exactly, so the capped vocabulary — and
  * every model trained from it — is identical to a from-scratch
  * corpus scan at any number of deliveries. */
class VocabStoreSpec extends SparkSuite {

  import spark.implicits._

  private val dir = TestSpark.sfDir

  test("two-delivery count merge == full-corpus counts (additivity)") {
    val docs = graft.core.Tables.load(spark, dir, "documents")
    val cut = Tables.deltaCutoff(docs, "doc_id")
    val merged = VocabStore.countsOf(docs.filter(col("doc_id") < cut))
      .unionByName(VocabStore.countsOf(docs.filter(col("doc_id") >= cut)))
      .groupBy("w").agg(sum("n").as("n"))
      .collect().map(_.toString).sorted.toSeq
    val full = VocabStore.countsOf(docs)
      .collect().map(_.toString).sorted.toSeq
    assert(merged === full)
    assert(full.nonEmpty)
  }

  test("persisted store serves the full-corpus counts and cap order") {
    val docs = graft.core.Tables.load(spark, dir, "documents")
    val served = VocabStore.mergedCounts(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    val direct = VocabStore.countsOf(docs)
      .collect().map(_.toString).sorted.toSeq
    assert(served === direct)
    val cappedStore = VocabStore.cappedVocab(spark, dir, 50).toSeq
    val cappedDirect = VocabStore.countsOf(docs)
      .orderBy(col("n").desc, col("w").asc).limit(50)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(cappedStore === cappedDirect)
  }

  test("store-backed BPE retrain == from-scratch retrain (merge table)") {
    val docs = graft.core.Tables.load(spark, dir, "documents")
    assert(Bpe.merges(spark, dir, numMerges = 60) ===
      Bpe.trainMerges(docs, numMerges = 60))
  }

  test("store-backed unigram retrain == from-scratch retrain " +
      "(pieces, floor, LL history)") {
    val docs = graft.core.Tables.load(spark, dir, "documents")
    val viaStore = Unigram.model(spark, dir)
    val direct = Unigram.train(docs)
    assert(viaStore.pieces === direct.pieces)
    assert(viaStore.floor === direct.floor)
    assert(viaStore.llHistory === direct.llHistory)
  }

  test("a synthetic second delivery merges without touching base " +
      "counts (the O(delta) append semantics)") {
    // store semantics modeled in-memory: base commit + TWO delivery
    // appends must equal one scan of the concatenated corpus
    val base = Seq((1L, "alpha beta beta"), (2L, "beta gamma"))
      .toDF("doc_id", "text")
    val d1 = Seq((3L, "alpha alpha")).toDF("doc_id", "text")
    val d2 = Seq((4L, "gamma beta")).toDF("doc_id", "text")
    val merged = VocabStore.countsOf(base)
      .unionByName(VocabStore.countsOf(d1))
      .unionByName(VocabStore.countsOf(d2))
      .groupBy("w").agg(sum("n").as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(merged === Map("alpha" -> 3L, "beta" -> 4L, "gamma" -> 2L))
  }
}
