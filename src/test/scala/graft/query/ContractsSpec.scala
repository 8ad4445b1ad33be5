package graft.query

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.BooleanType

import graft.{SparkSuite, SparkEntry}

/** The contract keys ([[Contracts]]) hold on the driver's fixtures
  * BEFORE the driver runs them: every boolean assertion column is
  * non-null TRUE at sf0.01 (the driver's verify SF) and the row grain
  * matches the oracle's. Thresholds/floors were MEASURED on the
  * fixtures in round 11 (by a one-off measurement main, retired after
  * commit 42bc2f6):
  *  - minhash banding misses zero organic n-gram pairs even at
  *    j ≥ 0.3 (all fixture pairs sit in deciles 8–9); the key's 0.8
  *    bar has ≥ 0.97 collision probability per pair and measured 0/25
  *    misses;
  *  - LSH per-query hits: min 4/5 at sf0.001, 5/5 at sf0.01 → floor 4;
  *  - IVF per-query hits at nprobe=12: min 3/5 at sf0.001, 4/5 at
  *    sf0.01 (overall 0.92) → floor 4 at the driver SF, 3 at sf0.001;
  *  - planted ANN twins, percentile bands, distinct bound, simhash
  *    completeness: zero violations at every SF measured. */
class ContractsSpec extends SparkSuite {

  private val sf001 = "/root/testdata/sf0.001"
  private val sf01 = "/root/testdata/sf0.01"

  private def assertAllTrue(df: DataFrame, key: String,
      expectRows: Option[Long] = None): Unit = {
    val boolCols = df.schema.fields
      .filter(_.dataType == BooleanType).map(_.name)
    assert(boolCols.nonEmpty, s"$key: contract key without a boolean")
    val n = df.count()
    assert(n > 0, s"$key: empty contract result is vacuous")
    expectRows.foreach(e => assert(n === e, s"$key: row grain"))
    boolCols.foreach { c =>
      val bad = df.filter(col(c).isNull || !col(c)).count()
      assert(bad === 0, s"$key: $bad row(s) violate $c")
    }
  }

  test("every contract key is all-TRUE at the driver's verify SF " +
      "(sf0.01), on the oracle's row grain") {
    for (key <- SparkEntry.contractKeys) {
      val df = SparkEntry.queries(key)(spark, sf01)
      val grain = key match {
        case "dedup_simhash_complete" => Some(500L)     // documents
        case "dedup_embedding_ann_recall" => Some(50L)  // planted twins
        case "similarity_lsh_recall" => Some(10L)       // queries
        case "similarity_ivf_recall" => Some(1L)        // overall bar
        case "similarity_ivf_recall_q" => Some(10L)     // per-query grain
        case "agg_approx_distinct_bound" => Some(5L)    // priorities
        case "agg_percentile_approx_bound" => Some(5L)  // event types
        case _ => None
      }
      assertAllTrue(df, key, grain)
    }
  }

  test("the probabilistic floors hold at sf0.001 too (ivf per-query " +
      "at its measured small-fixture floor, overall bar unchanged)") {
    assertAllTrue(Contracts.minhashRecall(spark, sf001),
      "dedup_minhash_recall@sf0.001")
    assertAllTrue(Contracts.lshRecall(spark, sf001),
      "similarity_lsh_recall@sf0.001", Some(10L))
    assertAllTrue(Contracts.ivfRecall(spark, sf001),
      "similarity_ivf_recall@sf0.001", Some(1L))
    // per-query floor at the small fixture: min 3/5 measured (the
    // corpus is 500 uniform-random rows — the worst case's worst SF)
    assertAllTrue(Contracts.recallVsTopk(
      TextSim.similarityTopk(spark, sf001, 5),
      Ivf.similarityIvf(spark, sf001, 5, nprobe = Ivf.HighRecallNprobe),
      floor = 3), "ivf per-query floor@sf0.001", Some(10L))
    // and the driver key's corpus-size-derived floor lands on exactly
    // that regime here (3 below 1000 vectors, 4 at the driver SF)
    assertAllTrue(Contracts.ivfRecallPerQuery(spark, sf001),
      "similarity_ivf_recall_q@sf0.001", Some(10L))
  }

  test("a broken approximation actually flips the boolean (the gate " +
      "is falsifiable): an IVF bar above the measured recall fails") {
    val df = Contracts.ivfRecall(spark, sf001, bar = 1.01) // unreachable
    assert(df.filter(!col("recall_ok")).count() === 1L)
  }
}
