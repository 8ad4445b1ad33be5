package graft.streaming

import graft.TestSpark

/** Streaming maintenance of the persisted chunk-digest store
  * ([[DeliveryStore.chunk]]): replay safety via appendOnce (both stores
  * and the served dups) and micro-batch-boundary independence. */
class ChunkMaintainSpec extends DeliveryStoreSpec(DeliveryStore.chunk(),
    "both stores", served = true) {

  private val dir = TestSpark.sfDir

  test("streamed maintenance == the batch-built delta operator") {
    val streamed = DeliveryStore.chunk().drive(spark, dir)
      .collect().map(_.toString).toSet
    val batch = graft.query.ChunkIndex.dedupChunksDelta(spark, dir)
      .collect().map(_.toString).toSet
    assert(streamed === batch,
      "stream-maintained chunk store diverges from the batch build")
    assert(streamed.nonEmpty)
  }

  test("micro-batch boundaries do not change the served result") {
    val two = DeliveryStore.chunk().drive(spark, dir, chunks = 2)
      .collect().map(_.toString).toSet
    val four = DeliveryStore.chunk().drive(spark, dir, chunks = 4)
      .collect().map(_.toString).toSet
    assert(two === four)
  }
}
