package graft.streaming

import graft.TestSpark

/** Streaming maintenance of the persisted vocabulary-count store
  * ([[DeliveryStore.vocab]]): replay safety via appendOnce — additive
  * counts are exactly where an at-least-once replay corrupts
  * SILENTLY (numbers wrong, structure fine), so the shared replay test
  * checks the served panel too — and micro-batch boundary independence
  * of the served gauge panel. */
class VocabMaintainSpec extends DeliveryStoreSpec(DeliveryStore.vocab(),
    "the counts and the panel", served = true) {

  private val dir = TestSpark.sfDir

  test("streamed maintenance == the batch gauge, and boundaries " +
      "do not matter") {
    val batch = graft.query.TextQuality.vocabDriftCheck(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    val two = DeliveryStore.vocab().drive(spark, dir, chunks = 2)
      .collect().map(_.toString).sorted.toSeq
    val four = DeliveryStore.vocab().drive(spark, dir, chunks = 4)
      .collect().map(_.toString).sorted.toSeq
    assert(two === batch,
      "stream-maintained vocabulary gauge diverges from the batch form")
    assert(four === batch)
    assert(batch.nonEmpty)
  }
}
