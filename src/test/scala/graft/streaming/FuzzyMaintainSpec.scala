package graft.streaming

import org.apache.spark.sql.functions._

import graft.TestSpark
import graft.core.Tables
import graft.query.{FuzzyIndex, FuzzyJoin}

/** Streaming maintenance of the persisted deletion-signature store
  * ([[DeliveryStore.fuzzy]]): replay safety via appendOnce — duplicated
  * signature rows silently inflate the candidate mass the equality
  * join pays — and micro-batch boundary independence / streamed ==
  * batch of the served fuzzy matches. */
class FuzzyMaintainSpec extends DeliveryStoreSpec(DeliveryStore.fuzzy(),
    "the signature store") {

  private val dir = TestSpark.sfDir

  test("streamed maintenance == the batch-built index's delta join, " +
      "and boundaries do not matter") {
    val batch = FuzzyIndex.joinFuzzyDelta(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    val two = DeliveryStore.fuzzy().drive(spark, dir, chunks = 2)
      .collect().map(_.toString).sorted.toSeq
    val four = DeliveryStore.fuzzy().drive(spark, dir, chunks = 4)
      .collect().map(_.toString).sorted.toSeq
    assert(batch.nonEmpty, "vacuous: no delivery probes matched")
    assert(two === batch,
      "stream-maintained fuzzy join diverges from the batch form")
    assert(four === batch)
  }

  test("full lifecycle (N-delivery chain + compact + replay) serves " +
      "the same matches as the one-shot index") {
    val batch = FuzzyIndex.joinFuzzyDelta(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    val lifecycle = DeliveryStore.fuzzyCompactCheck(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    assert(batch.nonEmpty, "vacuous: no delivery probes matched")
    assert(lifecycle === batch,
      "compacted-chain-served fuzzy join diverges from the one-shot " +
        "index — compaction or the post-compaction replay corrupted " +
        "the signature store")
  }

  test("compact folds the delivery tags into the sidecar and the " +
      "post-compaction replay is a no-op") {
    withTmpDir { tmp =>
      val parts = graft.core.Tables.load(spark, dir, "part")
        .select(col("p_partkey"), col("p_name"))
      val cut = Tables.deltaCutoff(parts, "p_partkey")
      val f = DeliveryStore.fuzzy()
      val run = DeliveryStore.Run(spark, f.storesAt(tmp), cut, "", parts)
      val store = run("sig")
      store.overwrite(FuzzyJoin.signaturesOf(
        parts.filter(col("p_partkey") < cut), 2))
      val maxId = parts.agg(max(col("p_partkey"))).head().getLong(0)
      val span = DriveSupport.deliverySpan(maxId, cut, 4)
      (0 until 4).foreach { c =>
        f.append(run, parts.filter(
          col("p_partkey") >= cut + c * span &&
          col("p_partkey") < cut + (c + 1) * span), c.toLong)
      }
      def liveDirs(): Int = store.read(spark).get.inputFiles
        .map(p => p.substring(0, p.lastIndexOf('/'))).distinct.length
      assert(liveDirs() === 5,
        "expected a base + four-delivery dir chain")
      val want = store.read(spark).get.count()
      store.compact(spark)
      assert(liveDirs() === 1,
        "compact must collapse the chain to one dir")
      assert(store.read(spark).get.count() === want,
        "compaction must be content-preserving")
      // every delivery's tag survived the dir collapse via the sidecar
      (0 until 4).foreach { c =>
        f.append(run, parts.filter(
          col("p_partkey") >= cut + c * span &&
          col("p_partkey") < cut + (c + 1) * span), c.toLong)
      }
      assert(store.read(spark).get.count() === want,
        "a post-compaction replay re-appended its signatures")
      assert(liveDirs() === 1,
        "post-compaction replays must not extend the chain")
    }
  }
}
