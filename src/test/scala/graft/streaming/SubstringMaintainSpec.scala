package graft.streaming

import org.apache.spark.sql.functions._

import graft.TestSpark
import graft.core.Tables
import graft.query.SubstringIndex

/** Streaming maintenance of the persisted substring gram store
  * ([[DeliveryStore.substring]]): replay safety via appendOnce (replayed
  * counts double and silently flip the next delivery's
  * primary-occurrence rule), additivity of the streamed chain
  * (streamed counts == the batch chain's delta commit at any
  * boundary choice), and streamed == batch of the served clean. */
class SubstringMaintainSpec extends DeliveryStoreSpec(
    DeliveryStore.substring(), "the gram store") {

  private val dir = TestSpark.sfDir

  test("the streamed chain's total counts == the batch one-shot " +
      "counts at any boundary choice (additivity)") {
    withTmpDir { tmp =>
      val docs = graft.core.Tables.load(spark, dir, "documents")
        .select("doc_id", "text")
      val cut = Tables.deltaCutoff(docs, "doc_id")
      val delivery = docs.filter(col("doc_id") >= cut)
      val oneShot = SubstringIndex.gramsOf(delivery, 5)
        .groupBy("gh").agg(count(lit(1)).as("occ"))
        .collect().map(_.toString).sorted.toSeq
      val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
      for (chunks <- Seq(2, 4)) {
        val f = DeliveryStore.substring()
        val run = DeliveryStore.Run(spark,
          f.storesAt(tmp.resolve(s"chain-$chunks")), cut, "", docs)
        val span = DriveSupport.deliverySpan(maxId, cut, chunks)
        (0 until chunks).foreach { c =>
          f.append(run, delivery.filter(
            col("doc_id") >= cut + c * span &&
            col("doc_id") < cut + (c + 1) * span), c.toLong)
        }
        // counts are additive at gram grain: summing the chain's
        // per-delivery rows must reproduce the one-shot counts
        val chained = run.read("grams").get
          .groupBy("gh").agg(sum(col("occ")).as("occ"))
          .collect().map(_.toString).sorted.toSeq
        assert(chained === oneShot,
          s"$chunks-chunk streamed counts diverge from one-shot")
      }
    }
  }

  test("streamed maintenance == the batch delta clean, and " +
      "boundaries do not matter") {
    val batch = SubstringIndex.dedupSubstringDelta(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    val two = DeliveryStore.substring().drive(spark, dir, chunks = 2)
      .collect().map(_.toString).sorted.toSeq
    val four = DeliveryStore.substring().drive(spark, dir, chunks = 4)
      .collect().map(_.toString).sorted.toSeq
    assert(batch.nonEmpty, "vacuous: empty delivery clean")
    assert(two === batch,
      "stream-maintained substring clean diverges from the batch form")
    assert(four === batch)
  }
}
