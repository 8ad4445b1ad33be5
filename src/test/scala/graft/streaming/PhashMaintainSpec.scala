package graft.streaming

import graft.TestSpark

/** Streaming maintenance of the persisted perceptual-fingerprint
  * store ([[DeliveryStore.phash]]): replay safety via appendOnce (a
  * replayed delivery would double its items' store rows and skew
  * every occupancy numerator; the shared replay test checks the panel
  * too) and boundary independence of the served gauge panel. */
class PhashMaintainSpec extends DeliveryStoreSpec(DeliveryStore.phash,
    "the store and the panel", served = true) {

  private val dir = TestSpark.sfDir

  test("streamed maintenance == the batch gauge, and boundaries " +
      "do not matter") {
    val batch = graft.multimodal.Phash.phashDriftCheck(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    val two = DeliveryStore.phash.drive(spark, dir, chunks = 2)
      .collect().map(_.toString).sorted.toSeq
    val four = DeliveryStore.phash.drive(spark, dir, chunks = 4)
      .collect().map(_.toString).sorted.toSeq
    assert(two === batch,
      "stream-maintained fingerprint gauge diverges from the batch form")
    assert(four === batch)
    assert(batch.nonEmpty)
  }
}
