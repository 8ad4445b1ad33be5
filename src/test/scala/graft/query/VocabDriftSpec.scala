package graft.query

import org.apache.spark.sql.functions._

import graft.{SparkSuite, TestSpark}

/** The tokenizer-vocabulary drift gauge
  * ([[TextQuality.vocabDriftCheck]]): a planted OOV-heavy delivery
  * must flip `vocab_retrain` through the oov arm, a planted head-token
  * migration through the occ_shift arm, and an in-distribution
  * delivery must stay quiet. The ACTION re-runs the [[Bpe]]/[[Unigram]]
  * trainers from [[VocabStore.mergedCounts]] — already incremental
  * (O(vocab) merge, VocabStoreSpec); its oracle-checkable face is
  * [[TextQuality.vocabRetrainApply]], whose post-state is
  * [[DriftGauge]]'s apply step. */
class VocabDriftSpec extends SparkSuite {

  import spark.implicits._

  private def docsOf(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  test("OOV-heavy delivery flips vocab_retrain via the oov arm") {
    val base = docsOf((0L until 20L).map(i =>
      i -> "alpha beta gamma delta"): _*)
    // >1% of delivery occurrences are tokens the base never saw
    val delta = docsOf(100L -> "alpha beta zzz-novel qqq-novel")
    val panel = TextQuality.vocabDriftOf(base, delta).collect()
    assert(panel.forall(_.getAs[Boolean]("vocab_retrain")),
      "planted OOV mass must flip the decision")
    assert(panel.head.getAs[Boolean]("oov_drift"))
    assert(panel.head.getAs[Long]("new_tokens") === 2L)
    assert(panel.head.getAs[Double]("oov_rate") === 0.5)
  }

  test("head-token share migration flips via the occ_shift arm " +
      "with zero OOV") {
    val base = docsOf((0L until 20L).map(i =>
      i -> "alpha beta"): _*)
    // delivery re-uses ONLY base vocabulary but all mass moves to one
    // token: alpha's share 0.5 -> 1.0, a 50-point migration
    val delta = docsOf((100L until 110L).map(i => i -> "alpha"): _*)
    val panel = TextQuality.vocabDriftOf(base, delta).collect()
    assert(panel.head.getAs[Double]("oov_rate") === 0.0)
    assert(panel.exists(_.getAs[Boolean]("occ_shift")))
    assert(panel.forall(_.getAs[Boolean]("vocab_retrain")))
  }

  test("in-distribution delivery stays quiet on the fixture") {
    val panel = TextQuality
      .vocabDriftCheck(spark, TestSpark.sfDir).collect()
    assert(panel.nonEmpty)
    assert(panel.forall(!_.getAs[Boolean]("vocab_retrain")),
      "fixture delivery is same-generator: the gauge must stay quiet")
  }

  test("retrain apply, quiet arm: the post panel IS the pre panel") {
    val pre = TextQuality.vocabDriftCheck(spark, TestSpark.sfDir)
      .collect().map(_.toString).sorted
    val post = TextQuality.vocabRetrainApply(spark, TestSpark.sfDir)
      .collect()
    assert(post.forall(!_.getAs[Boolean]("retrained")),
      "fixture gauge is quiet: the decision must be false")
    assert(post.map(r => org.apache.spark.sql.Row(
        r.toSeq.dropRight(1): _*).toString).sorted.toSeq
      === pre.toSeq)
  }

  test("retrain apply, fired arm: the post panel reads all-quiet") {
    val tmp = java.nio.file.Files.createTempDirectory("vocab-retrain")
    try {
      // doc_ids 0..99 => cutoff 80; the delivery is OOV-heavy (50% of
      // its occurrences are base-unseen), firing the oov arm
      (0L until 80L).map(i => i -> "alpha beta gamma delta")
        .++((80L until 100L).map(i =>
          i -> s"alpha beta novel${i}x novel${i}y"))
        .toDF("doc_id", "text")
        .coalesce(1).write.parquet(s"$tmp/documents.parquet")
      val post = TextQuality.vocabRetrainApply(spark, tmp.toString)
        .collect()
      assert(post.nonEmpty)
      assert(post.forall(_.getAs[Boolean]("retrained")),
        "planted OOV delivery must fire the decision")
      post.foreach { r =>
        assert(r.getAs[Long]("n_delta") === 0L)
        assert(r.getAs[Boolean]("occ_shift") === false)
        assert(r.getAs[Boolean]("oov_drift") === false)
        assert(r.getAs[Boolean]("vocab_retrain") === false)
        assert(r.getAs[Double]("oov_rate") === 0.0)
        assert(r.getAs[Long]("new_tokens") === 0L)
      }
      // the retrained base holds the merged vocabulary: the novel
      // tokens now live in n_base via the head panel's source counts
      assert(post.map(_.getAs[Long]("n_base")).sum >
        80L * 4, "merged corpus must be the post base")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
  }
}
