package graft.streaming

import graft.TestSpark
import graft.multimodal.AudioFp

/** Streaming maintenance of the persisted audio-fingerprint store
  * ([[DeliveryStore.audio]]): replay safety via appendOnce (a replayed
  * delivery would duplicate its doc_ids and double-count every pair
  * they anchor) and boundary independence / streamed == batch of the
  * served near-dup pairs. */
class AudioMaintainSpec extends DeliveryStoreSpec(DeliveryStore.audio(),
    "the fingerprint store", oneRowPerItem = true) {

  private val dir = TestSpark.sfDir

  test("streamed maintenance == the batch delta pairs, and " +
      "boundaries do not matter") {
    val batch = AudioFp.dedupAudioDelta(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    val two = DeliveryStore.audio().drive(spark, dir, chunks = 2)
      .collect().map(_.toString).sorted.toSeq
    val four = DeliveryStore.audio().drive(spark, dir, chunks = 4)
      .collect().map(_.toString).sorted.toSeq
    assert(batch.nonEmpty, "vacuous: the delivery introduced no pairs")
    assert(two === batch,
      "stream-maintained audio pairs diverge from the batch form")
    assert(four === batch)
  }
}
