package graft.streaming

import org.apache.spark.sql.functions._

import graft.TestSpark
import graft.query.EmbeddingIndex

/** Streaming maintenance of the persisted embedding-LSH bucket store
  * ([[DeliveryStore.ann]]): replay safety via appendOnce — duplicated
  * bucket rows would silently inflate the mass the `maxBucket` skew cap reads
  * — plus micro-batch boundary independence and streamed == batch of
  * the served delta pairs, and the planted-twin recall contract
  * through the STREAMED path. */
class AnnMaintainSpec extends DeliveryStoreSpec(DeliveryStore.ann(),
    "the bucket store") {

  private val dir = TestSpark.sfDir

  test("streamed maintenance == the batch-built delta operator, and " +
      "boundaries do not matter") {
    val batch = EmbeddingIndex.dedupEmbeddingAnnDelta(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    val two = DeliveryStore.ann().drive(spark, dir, chunks = 2)
      .collect().map(_.toString).sorted.toSeq
    val four = DeliveryStore.ann().drive(spark, dir, chunks = 4)
      .collect().map(_.toString).sorted.toSeq
    assert(two === batch,
      "stream-maintained ANN delta diverges from the batch form")
    assert(four === batch)
  }

  test("planted twins all surface through the streamed store (the " +
      "stream_ann_delta_recall contract)") {
    val caught = graft.query.Contracts.streamAnnDeltaRecall(spark, dir)
    assert(caught.count() === 50L)
    assert(caught.filter(!col("caught")).count() === 0L,
      "a planted twin escaped the stream-maintained index")
  }
}
