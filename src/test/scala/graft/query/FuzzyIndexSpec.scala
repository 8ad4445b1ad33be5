package graft.query

import org.apache.spark.sql.functions._
import graft.{SparkSuite, TestSpark}
import graft.core.Tables

/** The persisted deletion-signature index ([[FuzzyIndex]]) — the r18
  * verdict's top task made code: the load-bearing claims are
  * (1) index-served == inline-built, PAIR FOR PAIR (the maintained
  * store must be bit-equivalent to re-exploding the reference per
  * query — the exact-maintenance argument), (2) the store chain is
  * base commit + ONE exactly-once delivery append whose replay is a
  * no-op, and (3) the delta key equals the unblocked brute force on
  * the delivery probes (blocking completeness through the store). */
class FuzzyIndexSpec extends SparkSuite {

  private val dir = TestSpark.sfDir

  private def parts = graft.core.Tables.load(spark, dir, "part")
    .select(col("p_partkey"), col("p_name"))

  test("index-served delta join == inline-built, pair for pair") {
    val p = parts
    val cut = Tables.deltaCutoff(p, "p_partkey")
    val probes = FuzzyJoin.probesOf(p.filter(col("p_partkey") >= cut), 20)
    val inline = FuzzyJoin.matchProbes(
        probes, FuzzyJoin.signaturesOf(p, 2), p, 2)
      .collect().map(_.toString).sorted.toSeq
    val served = FuzzyIndex.joinFuzzyDelta(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    assert(served.nonEmpty, "vacuous: no delivery probes matched")
    assert(served === inline)
  }

  test("index-served delta join == unblocked brute force on the " +
      "delivery probes") {
    val p = parts
    val cut = Tables.deltaCutoff(p, "p_partkey")
    val truth = FuzzyJoin.probesOf(p.filter(col("p_partkey") >= cut), 20)
      .crossJoin(p)
      .withColumn("dist",
        levenshtein(col("probe_name"), col("p_name")).cast("long"))
      .filter(col("dist") <= 2)
      .groupBy("probe_id", "probe_name")
      .agg(min(struct(col("dist"), col("p_partkey"), col("p_name")))
        .as("m"))
      .select(col("probe_id"), col("probe_name"),
        col("m.p_partkey").as("match_key"),
        col("m.p_name").as("match_name"), col("m.dist").as("dist"))
      .collect().map(_.toString).sorted.toSeq
    assert(FuzzyIndex.joinFuzzyDelta(spark, dir)
      .collect().map(_.toString).sorted.toSeq === truth)
  }

  test("store chain: base commit + one delivery append; the replayed " +
      "delivery is a no-op and every probe surfaces") {
    FuzzyIndex.joinFuzzyDelta(spark, dir) // build-or-load
    // scoped to THIS (dir, k) layout's root — iterating every root
    // under target/graft-fuzzy would also sweep up stores left by
    // other fixture dirs or earlier sessions whose chain shape may
    // legitimately differ (order/environment sensitivity)
    val root = new java.io.File(FuzzyIndex.indexRoot(spark, dir))
    assert(root.isDirectory, s"no published fuzzy index root at $root")
    val store = new graft.ingest.SnapshotStore(s"${root.getPath}/sig")
    assert(store.versions(spark).size === 2,
      s"${root.getName}: expected base + one delivery append")
    val before = store.read(spark).get.count()
    // a replayed delivery must find its tag in the live manifest
    assert(!store.appendOnce(
      store.read(spark).get.limit(1), "delivery-1"),
      "replayed delivery re-appended")
    assert(store.read(spark).get.count() === before)
    // density guard: the delta probe rule must cover the delivery
    val p = parts
    val cut = Tables.deltaCutoff(p, "p_partkey")
    val nProbes = p.filter(
      col("p_partkey") >= cut && col("p_partkey") % 20 === 0).count()
    assert(nProbes > 0, "fixture yields no delivery probes")
    assert(FuzzyIndex.joinFuzzyDelta(spark, dir).count() === nProbes,
      "every delivery probe must find its source within distance 1")
  }
}
