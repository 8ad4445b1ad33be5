package graft.query

import org.apache.spark.sql.functions._

import graft.{SparkSuite, TestSpark}

/** The production composition's O(delta) leg and its retrain
  * combination rule ([[Pq.similarityIvfPqDelta]] /
  * [[Pq.similarityIvfPqRetrain]], r19 verdict tasks 2 + 5): IVF-PQ
  * served from BOTH incrementally-maintained layers — the persisted
  * base-trained coarse chain and the frozen-codebook codes — must (a)
  * cover the merged corpus in both layers, (b) equal a one-shot
  * composition query over the same frozen models (store-served ==
  * inline-built), and (c) under the per-layer gauge rule serve the
  * frozen chains bit-for-bit when both gauges are quiet and the
  * retrained models when the planted shift fires them. */
class IvfPqDeltaSpec extends SparkSuite {

  private val dir = TestSpark.sfDir

  test("both delta layers cover the merged corpus exactly") {
    val e = graft.core.Tables.load(spark, dir, "embeddings")
    val n = e.count()
    val (_, cells) = Ivf.ensureDeltaIndex(spark, dir)
    assert(cells.select("vec_id").distinct().count() === n,
      "coarse delta chain lost or duplicated vectors")
    val (_, codes) = Pq.ensureDeltaIndex(spark, dir)
    assert(codes.count() === n * Pq.M,
      "delta codes must carry one code per (vector, subspace)")
  }

  test("delta-served composition == one-shot composition over the " +
      "same frozen models (store-served == inline-built)") {
    val e = graft.core.Tables.load(spark, dir, "embeddings")
    val cut = e.agg(max(col("vec_id"))).head().getLong(0) * 4 / 5 + 1
    // inline frozen coarse layer: base-trained centroids + frozen
    // assignments, no store and no gauge — ensureDeltaIndex's content
    val inline = Pq.similarityIvfPqOf(spark, e,
        Ivf.deltaLayerOf(e.filter(col("vec_id") < cut),
          e.filter(col("vec_id") >= cut)),
        Pq.ensureDeltaIndex(spark, dir), 5, Ivf.HighRecallNprobe,
        Pq.Rerank, Pq.M)
      .collect().map(_.toString).sorted.toSeq
    val served = Pq.similarityIvfPqDelta(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    assert(served.nonEmpty, "vacuous: composition returned no rows")
    assert(served === inline,
      "store-served delta composition diverges from the inline-built " +
        "composition over the same frozen models")
  }

  test("per-layer rule: retrain serving == the composition over the " +
      "layers each gauge actually chose (mixed decisions included)") {
    // compute both gauges' decisions DIRECTLY, then assert the retrain
    // path serves exactly the correspondingly-chosen layers — on the
    // 500-row fixture the small-sample IVF gauge can legitimately fire
    // while the PQ gauge stays quiet, so this exercises the per-layer
    // independence (one layer retrained, the other frozen), not just
    // the both-quiet case
    val e = graft.core.Tables.load(spark, dir, "embeddings")
    val cut = e.agg(max(col("vec_id"))).head().getLong(0) * 4 / 5 + 1
    val coarseFired = DriftGauge.fired(IndexDrift.indexDriftOf(
      e.filter(col("vec_id") < cut), e.filter(col("vec_id") >= cut)),
      "index_retrain")
    val pqFired =
      DriftGauge.fired(PqDrift.pqDriftCheck(spark, dir), "pq_retrain")
    info(s"gauge decisions on this fixture: coarse=$coarseFired, " +
      s"pq=$pqFired")
    val coarse = if (coarseFired) Ivf.ensureIndex(spark, dir)
      else Ivf.ensureDeltaIndex(spark, dir)
    val pq = if (pqFired) Pq.ensureIndex(spark, dir)
      else Pq.ensureDeltaIndex(spark, dir)
    val expected = Pq.similarityIvfPqOf(spark, e, coarse, pq, 5,
        Ivf.HighRecallNprobe, Pq.Rerank, Pq.M)
      .collect().map(_.toString).sorted.toSeq
    val viaRetrain = Pq.similarityIvfPqRetrain(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    assert(viaRetrain === expected,
      "retrain serving diverged from the per-layer gauge decisions")
  }

  test("quiet gauges (control corpus): retrain serving == the frozen " +
      "delta chains bit-for-bit") {
    withTmpDir { tmp =>
      val d = DriftFixtures.writeCorpus(spark, tmp, shifted = false)
      val e = graft.core.Tables.load(spark, d, "embeddings")
      val cut = e.agg(max(col("vec_id"))).head().getLong(0) * 4 / 5 + 1
      assert(!DriftGauge.fired(IndexDrift.indexDriftOf(
        e.filter(col("vec_id") < cut), e.filter(col("vec_id") >= cut)),
        "index_retrain"), "control corpus must keep the IVF gauge quiet")
      assert(!DriftGauge.fired(PqDrift.pqDriftCheck(spark, d), "pq_retrain"),
        "control corpus must keep the PQ gauge quiet")
      val viaRetrain = Pq.similarityIvfPqRetrain(spark, d)
        .collect().map(_.toString).sorted.toSeq
      val viaDelta = Pq.similarityIvfPqDelta(spark, d)
        .collect().map(_.toString).sorted.toSeq
      assert(viaRetrain.nonEmpty)
      assert(viaRetrain === viaDelta,
        "quiet gauges must not change the composed serving state")
    }
  }

  test("planted shift: both gauges fire and the composition serves " +
      "the retrained models (== the one-shot full-corpus composition)") {
    withTmpDir { tmp =>
      val d = DriftFixtures.writeCorpus(spark, tmp, shifted = true)
      // per-layer decisions, computed directly from each gauge
      val e = graft.core.Tables.load(spark, d, "embeddings")
      val cut = e.agg(max(col("vec_id"))).head().getLong(0) * 4 / 5 + 1
      val (_, _, coarseFired) = Ivf.retrainIfDrifted(
        e.filter(col("vec_id") < cut), e.filter(col("vec_id") >= cut))
      assert(coarseFired, "planted shift must flip the IVF gauge")
      assert(DriftGauge.fired(PqDrift.pqDriftCheck(spark, d), "pq_retrain"),
        "planted shift must flip the PQ gauge")
      // both fired ⇒ both layers retrain on the full corpus ⇒ the
      // serving state IS the one-shot composition's
      val viaRetrain = Pq.similarityIvfPqRetrain(spark, d)
        .collect().map(_.toString).sorted.toSeq
      val oneShot = Pq.similarityIvfPq(spark, d)
        .collect().map(_.toString).sorted.toSeq
      assert(viaRetrain.nonEmpty)
      assert(viaRetrain === oneShot,
        "fired gauges must serve the full-corpus-retrained composition")
    }
  }
}
