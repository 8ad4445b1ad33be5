package graft.streaming

import graft.TestSpark
import graft.multimodal.VideoFp

/** Streaming maintenance of the persisted video-sequence store
  * ([[DeliveryStore.video]]): replay safety via appendOnce (a replayed
  * delivery would duplicate its doc_ids and double-count every
  * exact-match pair they anchor) and boundary independence /
  * streamed == batch of the served duplicate-footage pairs. */
class VideoMaintainSpec extends DeliveryStoreSpec(DeliveryStore.video,
    "the sequence store", oneRowPerItem = true) {

  private val dir = TestSpark.sfDir

  test("streamed maintenance == the batch delta pairs, and " +
      "boundaries do not matter") {
    val batch = VideoFp.dedupVideoDelta(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    val two = DeliveryStore.video.drive(spark, dir, chunks = 2)
      .collect().map(_.toString).sorted.toSeq
    val four = DeliveryStore.video.drive(spark, dir, chunks = 4)
      .collect().map(_.toString).sorted.toSeq
    assert(batch.nonEmpty, "vacuous: the delivery introduced no pairs")
    assert(two === batch,
      "stream-maintained video pairs diverge from the batch form")
    assert(four === batch)
  }
}
