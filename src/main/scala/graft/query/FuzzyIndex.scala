package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ingest.PersistedIndex

/** Persisted FastSS deletion-signature index for the fuzzy join — the
  * store [[FuzzyJoin]]'s scaladoc promised and r18 shipped as prose
  * (the r18 verdict's top task): at 100 TB the reference-side variant
  * table cannot be re-exploded per query, it is built ONCE and
  * maintained O(delta), exactly like every other store family here
  * ([[MinhashIndex]], [[ChunkIndex]], [[EmbeddingIndex]]…).
  *
  * Layout: one [[graft.ingest.SnapshotStore]] holding the signature
  * table (p_partkey, r_len, vh) — [[FuzzyJoin.signaturesOf]]'s exact
  * row shape. The base slice of `part` (p_partkey below the standard
  * 4/5-cutoff — the newest ~20 % of keys model the un-indexed weekly
  * delivery, the [[graft.core.Tables.deltaCutoff]] rule) is committed v0;
  * the delivery slice is appended as ONE O(delta) manifest commit via
  * [[graft.ingest.SnapshotStore.appendOnce]] (exactly-once per
  * delivery tag: a replayed delivery's signatures must not land twice
  * — a duplicated signature row cannot change the match, the verify
  * is exact, but it doubles the candidate mass the join pays for).
  * Build is single-publish across processes via
  * [[graft.ingest.PersistedIndex]].
  *
  * Maintenance is EXACT forever (the minhash argument, not the IVF
  * one): a deletion neighborhood is a PER-STRING computation, so the
  * incrementally-built signature table is bit-identical to a
  * from-scratch rebuild at any number of deliveries — no drift, no
  * retrain rule, and the `join_fuzzy_delta` key runs under the same
  * UNBLOCKED exact oracle as `join_fuzzy` (full levenshtein over
  * probes × part restricted to delivery probes; the hash gate proves
  * blocking completeness of the index-served path end-to-end).
  * FuzzyIndexSpec additionally pins index-served == inline-built
  * pair-for-pair and the replay no-op. */
object FuzzyIndex {

  private val Index = new PersistedIndex[DataFrame]("fuzzy", "Z1",
    "part", "p_partkey", PersistedIndex.Store("sig", 2))

  /** The published index root for (dir, k) — exposed so the lifecycle
    * spec can scope its chain-shape assertions to THIS layout's store
    * rather than iterating every root an earlier session (or another
    * fixture dir) left under target/graft-fuzzy. */
  private[graft] def indexRoot(spark: SparkSession, dir: String,
      k: Int = 2): String =
    Index.root(spark, dir, k)

  /** Build-or-load the maintained signature index over base ∪ delta
    * (base commit + one exactly-once O(delta) append). Disk-persistent
    * across JVMs, memoized within a session. */
  def ensureIndex(spark: SparkSession, dir: String, k: Int = 2)
      : DataFrame =
    Index.ensure(spark, dir, k)(
      _.baseDelivery(_.select(col("p_partkey"), col("p_name")),
        deliveryTag = Some("delivery-1"))(
        p => Seq(FuzzyJoin.signaturesOf(p, k))))(
      _.read("sig"))

  /** Driver key `join_fuzzy_delta`: the weekly regime — dirty probes
    * derived from the DELIVERY slice only (every 20th delivery part's
    * name with its 3rd character deleted; denser than join_fuzzy's
    * 1-in-50 because the delivery is a 1/5 slice) matched against the
    * PERSISTED signature index covering base ∪ delivery. Only the
    * dirty delivery is exploded at query time; the reference side is
    * served from the store. */
  def joinFuzzyDelta(spark: SparkSession, dir: String, k: Int = 2)
      : DataFrame = {
    val parts = Tables.load(spark, dir, "part")
      .select(col("p_partkey"), col("p_name"))
    val cut = Tables.deltaCutoff(parts, "p_partkey")
    val probes = FuzzyJoin.probesOf(
      parts.filter(col("p_partkey") >= cut), 20)
    FuzzyJoin.matchProbes(probes, ensureIndex(spark, dir, k), parts, k)
  }
}
