package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.simhash64

/** Driver-gated CONTRACT keys for the approximate operator families
  * whose internals are engine-specific (sketches, minhash/simhash
  * signatures, hyperplane buckets, IVF centroids) and therefore have no
  * value-level DuckDB twin. Their base keys run rows-only in the
  * driver's gate; these companion keys put the approximation CONTRACT
  * itself — error bound, pigeonhole completeness, recall floor —
  * under the driver's hash compare:
  *
  * each key emits a row grain the oracle can reproduce exactly (groups,
  * documents, exact-Jaccard pairs, planted twins, query ids) plus
  * boolean assertion columns whose oracle value is literal TRUE. A
  * regression in a sketch, banding, signature, or probe path flips a
  * boolean, the hash diverges, and the round's CORRECTNESS artifact
  * goes red — the same hard gate every exact key lives under, instead
  * of a ScalaTest-only suite.
  *
  * Scale note: the ground-truth sides here are deliberately
  * VERIFICATION-scale (an all-pairs simhash sweep, a brute-force top-k)
  * — they gate the scalable operators, they are not themselves the
  * 100 TB path, exactly like the DuckDB oracle itself. They are
  * excluded from the bench artifact for the same reason the restart
  * key is (correctness gates, not throughput surfaces).
  */
object Contracts {

  /** approx_count_distinct (HLL++, rsd 2%) per-group estimate within 5%
    * of the exact distinct count (~2.5σ; the ApproxSpec bound, now
    * hash-gated). Sketches are deterministic for a given input set, so
    * the boolean is stable run-to-run. */
  def approxDistinctBound(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(approx_count_distinct(col("o_custkey"), 0.02).as("approx"),
        countDistinct(col("o_custkey")).as("exact"))
      .select(col("o_orderpriority"),
        (abs(col("approx") - col("exact")) <= col("exact") * 0.05)
          .as("within_5pct"))
      .orderBy("o_orderpriority")

  /** approx_percentile (accuracy 10000 ⇒ rank error ≤ n/10000) returns
    * a data value whose quantile lies inside ±0.02 of the target —
    * loose enough for the returned-element discreteness at small group
    * sizes (the element at the true median rank sits inside a ±2%
    * quantile band whenever the group has ≳50 rows; fixture groups are
    * hundreds at every driver SF), tight enough that a broken sketch
    * (wrong quantile, wrong group) flips the boolean. */
  def approxPercentileBound(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .groupBy("event_type")
      .agg(
        expr("approx_percentile(value, 0.5D, 10000)").as("p50a"),
        expr("approx_percentile(value, 0.9D, 10000)").as("p90a"),
        expr("percentile(value, 0.48D)").as("p48"),
        expr("percentile(value, 0.52D)").as("p52"),
        expr("percentile(value, 0.88D)").as("p88"),
        expr("percentile(value, 0.92D)").as("p92"))
      .select(col("event_type"),
        col("p50a").between(col("p48"), col("p52")).as("p50_in_band"),
        col("p90a").between(col("p88"), col("p92")).as("p90_in_band"))
      .orderBy("event_type")

  /** MinHash+LSH recall contract: every exact n-gram Jaccard pair at or
    * above `hi` (computed by [[TextSim.dedupNgram]], whose pair set the
    * oracle reproduces value-for-value in SQL) must be CAUGHT by the
    * banding path. With 8 bands × 4 rows the collision probability at
    * j ≥ hi is 1-(1-j⁴)⁸ (≥ 0.97 at j = 0.8) and the signatures are
    * deterministic, so the fixture's outcome is fixed — a banding or
    * signature regression flips `caught` to false and the hash gate
    * goes red. The emitted jaccard column doubles as a value check of
    * the truth side. */
  def minhashRecall(spark: SparkSession, dir: String, hi: Double = 0.8)
      : DataFrame = {
    val truth = TextSim.dedupNgram(spark, dir, threshold = hi)
    val found = TextSim.dedupMinhash(spark, dir)
      .select(col("d1"), col("d2"), lit(true).as("__hit"))
    truth.join(found, Seq("d1", "d2"), "left")
      .select(col("d1"), col("d2"), col("jaccard"),
        coalesce(col("__hit"), lit(false)).as("caught"))
      .orderBy("d1", "d2")
  }

  /** SimHash chunk-LSH completeness contract (the pigeonhole THEOREM,
    * hash-gated): with 4 chunks of 16 bits, hamming ≤ 3 forces some
    * chunk equal, so the candidate stage can never miss a true pair.
    * Ground truth is a deliberate all-pairs sweep over the 64-bit
    * signatures (verification-scale; the operator under test stays
    * bucketed). One row per document: true iff none of its hamming ≤ 3
    * partners was missed by [[TextSim.dedupSimhash]]. */
  def simhashComplete(spark: SparkSession, dir: String, maxHamming: Int = 3)
      : DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    // pinned: the all-pairs sweep references the signature frame twice
    // (both self-join sides) — un-pinned, each branch re-ran the fold
    // plus a constraint-pushed third evaluation (dedupSimhash rationale)
    val sigs = docs.withColumn("toks", TextSim.tokens(col("text")))
      .select(col("doc_id"), simhash64(col("toks")).as("sig"))
      .localCheckpoint()
    val truth = sigs.select(col("doc_id").as("d1"), col("sig").as("s1"))
      .join(sigs.select(col("doc_id").as("d2"), col("sig").as("s2")),
        col("d1") < col("d2"))
      .filter(bit_count(col("s1").bitwiseXOR(col("s2"))) <= maxHamming)
      .select("d1", "d2")
    val found = TextSim.dedupSimhash(spark, dir, maxHamming)
      .select("d1", "d2")
    val missed = truth.join(found, Seq("d1", "d2"), "left_anti")
      .select(explode(array(col("d1"), col("d2"))).as("doc_id"))
      .distinct()
      .withColumn("__miss", lit(true))
    docs.select("doc_id").join(missed, Seq("doc_id"), "left")
      .select(col("doc_id"), col("__miss").isNull.as("lsh_complete"))
      .orderBy("doc_id")
  }

  /** Multi-probe LSH recall contract: per query, at least `floor` of
    * the brute-force top-5 neighbors (the hash-green
    * [[TextSim.similarityTopk]] baseline) retrieved. The fixture is
    * uniform-random — LSH's hard case (LshRecallSpec's curve) — and
    * signatures are seed-deterministic, so per-query hit counts are
    * fixed; the floor is the measured fixture minimum (see
    * ContractsSpec), below the default config only on regression. */
  def lshRecall(spark: SparkSession, dir: String, floor: Int = 4)
      : DataFrame =
    recallVsTopk(TextSim.similarityTopk(spark, dir, 5),
      TextSim.similarityLsh(spark, dir, 5), floor)

  /** IVF recall contract at the documented high-recall probe budget
    * ([[Ivf.HighRecallNprobe]]): OVERALL recall@5 across the query set
    * ≥ `bar` — exactly the claim HighRecallNprobe is documented with.
    * Single-row grain (oracle: literal one-row TRUE) because per-query
    * minima on the uniform worst-case fixture vary with corpus size
    * (measured: 3/5 at sf0.001, 4/5 at sf0.01 and sf0.1) while the
    * overall bar holds at every SF (0.92+); ContractsSpec gates the
    * per-SF per-query floors separately. Training is
    * engine-deterministic (seeded pick + exact decimal means), so the
    * outcome is fixed for the fixture. */
  def ivfRecall(spark: SparkSession, dir: String, bar: Double = 0.9)
      : DataFrame =
    TextSim.similarityTopk(spark, dir, 5)
      .select("query_id", "neighbor_id")
      .join(Ivf.similarityIvf(spark, dir, 5, nprobe = Ivf.HighRecallNprobe)
        .select(col("query_id"), col("neighbor_id"),
          lit(true).as("__hit")),
        Seq("query_id", "neighbor_id"), "left")
      .agg(((count(col("__hit")).cast("double") / count(lit(1))) >= bar)
        .as("recall_ok"))

  /** IVF recall contract at the PER-QUERY grain — the same strength as
    * the LSH key: every query individually retrieves at least the
    * measured floor of the brute-force top-5 at the documented
    * high-recall probe budget. The floors are the MEASURED fixture
    * minima per scale regime (round 11; the one-off measurement main
    * was retired after commit 42bc2f6): 4/5 at the
    * driver's verify SF and above (sf0.01, sf0.1), 3/5 on the tiny
    * sf0.001 fixture (500 uniform-random rows — the worst case's worst
    * SF, where top-5 distinctions are noise-scale). Corpus-size
    * derived so the key is green at every SF while keeping the
    * driver-SF strength; ContractsSpec pins both regimes explicitly.
    * Complements [[ivfRecall]]'s 1-row overall bar. */
  def ivfRecallPerQuery(spark: SparkSession, dir: String): DataFrame = {
    val floor =
      if (Tables.load(spark, dir, "embeddings").count() < 1000) 3 else 4
    recallVsTopk(TextSim.similarityTopk(spark, dir, 5),
      Ivf.similarityIvf(spark, dir, 5, nprobe = Ivf.HighRecallNprobe),
      floor)
  }

  /** The [[ivfRecallPerQuery]] contract re-checked over the
    * INCREMENTALLY-MAINTAINED index ([[Ivf.ensureDeltaIndex]]): after
    * the delta delivery is assigned to frozen base-trained centroids
    * and appended, every query must still retrieve the same measured
    * floor of the brute-force top-5 over the MERGED corpus — the
    * post-delivery serving guarantee. Same floors as the base key: the
    * fixture delta is distribution-identical to the training slice, so
    * assignment quality (and recall) cannot degrade; a drop below the
    * floor means the append path lost or mis-assigned rows. */
  def ivfDeltaRecallPerQuery(spark: SparkSession, dir: String): DataFrame = {
    val floor =
      if (Tables.load(spark, dir, "embeddings").count() < 1000) 3 else 4
    recallVsTopk(TextSim.similarityTopk(spark, dir, 5),
      Ivf.similarityIvfDelta(spark, dir, 5, nprobe = Ivf.HighRecallNprobe),
      floor)
  }

  /** PQ-ADC recall contract at the per-query grain: every query's
    * PQ top-5 ([[Pq.similarityPq]] — 10-byte codes (m=16 × 5-bit) +
    * exact rerank of the top-[[Pq.Rerank]]=128 ADC candidates)
    * retrieves at least the measured floor
    * of the brute-force top-5. Same per-SF floors as the IVF family
    * (4/5 at the driver SFs, 3/5 on the 500-row sf0.001 fixture where
    * top-5 distinctions are noise-scale); PqSpec pins the measured
    * fixture recall itself, this key pins the serving guarantee. */
  def pqRecallPerQuery(spark: SparkSession, dir: String): DataFrame = {
    val floor =
      if (Tables.load(spark, dir, "embeddings").count() < 1000) 3 else 4
    recallVsTopk(TextSim.similarityTopk(spark, dir, 5),
      Pq.similarityPq(spark, dir, 5), floor)
  }

  /** IVF-PQ recall contract at the per-query grain: the composed
    * index ([[Pq.similarityIvfPq]] — cell pruning, then ADC, then
    * exact rerank) holds the same measured per-SF floors as its
    * component operators. Composition can only lose candidates the
    * IVF stage prunes, so at the high-recall probe budget the floor
    * transfers; a drop below it means the cell filter and the codes
    * table disagree about membership. */
  def ivfPqRecallPerQuery(spark: SparkSession, dir: String): DataFrame = {
    val floor =
      if (Tables.load(spark, dir, "embeddings").count() < 1000) 3 else 4
    recallVsTopk(TextSim.similarityTopk(spark, dir, 5),
      Pq.similarityIvfPq(spark, dir, 5), floor)
  }

  /** The [[pqRecallPerQuery]] contract re-checked over the
    * incrementally-maintained codes ([[Pq.ensureDeltaIndex]]):
    * base-trained codebooks, frozen-assigned delta, merged serving.
    * Same floors — the iid fixture delta cannot degrade quantization
    * ([[ivfDeltaRecallPerQuery]]'s argument); a drop means the append
    * path lost or mis-coded rows. */
  def pqDeltaRecallPerQuery(spark: SparkSession, dir: String): DataFrame = {
    val floor =
      if (Tables.load(spark, dir, "embeddings").count() < 1000) 3 else 4
    recallVsTopk(TextSim.similarityTopk(spark, dir, 5),
      Pq.similarityPqDelta(spark, dir, 5), floor)
  }

  /** The [[ivfPqRecallPerQuery]] contract re-checked over BOTH
    * incrementally-maintained layers ([[Pq.similarityIvfPqDelta]]:
    * persisted base-trained coarse chain + frozen-assigned codes) —
    * the post-delivery serving state of the production composition.
    * Same floors by the composition argument PLUS the two delta
    * arguments ([[ivfDeltaRecallPerQuery]], [[pqDeltaRecallPerQuery]]:
    * the iid fixture delta degrades neither frozen model); a drop
    * means one of the delta legs lost, mis-assigned or mis-coded
    * delivery rows. */
  def ivfPqDeltaRecallPerQuery(spark: SparkSession, dir: String)
      : DataFrame = {
    val floor =
      if (Tables.load(spark, dir, "embeddings").count() < 1000) 3 else 4
    recallVsTopk(TextSim.similarityTopk(spark, dir, 5),
      Pq.similarityIvfPqDelta(spark, dir, 5), floor)
  }

  /** Per-query hit counts vs the brute-force top-5 (ContractsSpec's
    * per-SF floor gates; also the lsh key's shape). */
  private[query] def recallVsTopk(truth: DataFrame, approx: DataFrame,
      floor: Int): DataFrame =
    truth.select("query_id", "neighbor_id")
      .join(approx.select(col("query_id"), col("neighbor_id"),
        lit(true).as("__hit")), Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg((count(col("__hit")) >= floor).as("recall_ok"))
      .orderBy("query_id")

  /** Hyperplane-LSH near-dup recall contract on PLANTED twins: augment
    * the corpus with an exact copy of each vec_id < 50 (twin id =
    * vec_id + 1000000) and require the unblocked ANN path to emit every
    * (original, twin) pair. An exact duplicate has an identical
    * signature in EVERY table — same bucket by construction — so a miss
    * is impossible while the signature → bucket → postings → verify
    * pipeline is intact (the fixture's organic pairs top out near the
    * 0.35 threshold, where LSH recall is legitimately probabilistic;
    * the cos → 1 regime is where the recall-approaches-1 claim lives,
    * and the twins pin exactly that regime). */
  def dedupEmbeddingAnnRecall(spark: SparkSession, dir: String)
      : DataFrame = {
    val e = Tables.load(spark, dir, "embeddings")
    val originals = e.filter(col("vec_id") < 50)
    val twins = originals.select((col("vec_id") + 1000000L).as("vec_id"),
      col("embedding"), col("label"))
    val found = TextSim.dedupEmbeddingAnnOf(e.unionByName(twins))
      .select(col("v1"), col("v2"), lit(true).as("__hit"))
    originals
      .select(col("vec_id").as("v1"), (col("vec_id") + 1000000L).as("v2"))
      .join(found, Seq("v1", "v2"), "left")
      .select(col("v1"), col("v2"),
        coalesce(col("__hit"), lit(false)).as("caught"))
      .orderBy("v1")
  }

  /** Delta-ANN recall contract on PLANTED twins: twin ids (vec_id +
    * 1000000) land ABOVE the delta cutoff by construction, so every
    * twin arrives as delivery mass; an identical vector hashes to the
    * identical bucket in EVERY table (collision probability exactly 1
    * at cosine 1.0), so the pair (original, twin) must surface from
    * the delta-vs-index probe — a miss can only mean the bucket
    * store, the delta candidate join or the verify stage broke. */
  def dedupEmbeddingAnnDeltaRecall(spark: SparkSession, dir: String)
      : DataFrame = {
    val e = Tables.load(spark, dir, "embeddings")
    val originals = e.filter(col("vec_id") < 50)
    val twins = originals.select((col("vec_id") + 1000000L).as("vec_id"),
      col("embedding"), col("label"))
    val found = EmbeddingIndex
      .dedupEmbeddingAnnDeltaOf(e.unionByName(twins))
      .select(col("v1"), col("v2"), lit(true).as("__hit"))
    originals
      .select(col("vec_id").as("v1"), (col("vec_id") + 1000000L).as("v2"))
      .join(found, Seq("v1", "v2"), "left")
      .select(col("v1"), col("v2"),
        coalesce(col("__hit"), lit(false)).as("caught"))
      .orderBy("v1")
  }

  /** The STREAMED maintainer gated by the same planted-twin oracle as
    * the batch delta ([[dedupEmbeddingAnnDeltaRecall]]): the twins ride
    * the augmented corpus's delivery slice (twin id = vec_id + 1000000
    * is the corpus maximum, so the cutoff rule routes every twin into
    * the stream), the bucket store is maintained micro-batch by
    * micro-batch through `foreachBatch` + `appendOnce`, and every twin
    * must surface from the PERSISTED store — the hash gate the r18
    * ledger said this family couldn't have
    * ([[graft.streaming.DeliveryStore.ann]]). */
  def streamAnnDeltaRecall(spark: SparkSession, dir: String)
      : DataFrame = {
    val e = Tables.load(spark, dir, "embeddings")
    val originals = e.filter(col("vec_id") < 50)
    val twins = originals.select((col("vec_id") + 1000000L).as("vec_id"),
      col("embedding"), col("label"))
    val found = graft.streaming.DeliveryStore
      .annStreamPairsOf(e.unionByName(twins))
      .select(col("v1"), col("v2"), lit(true).as("__hit"))
    originals
      .select(col("vec_id").as("v1"), (col("vec_id") + 1000000L).as("v2"))
      .join(found, Seq("v1", "v2"), "left")
      .select(col("v1"), col("v2"),
        coalesce(col("__hit"), lit(false)).as("caught"))
      .orderBy("v1")
  }

  /** K-means SemDeDup recall contract on PLANTED twins: augment the
    * corpus with an exact copy of each vec_id < 50 (twin id = vec_id +
    * 1000000) and require every twin to be FLAGGED a duplicate by the
    * trained-centroid path. An identical vector gets the identical
    * rounded-cosine argmax under ANY centroid model — same cell as its
    * original by construction — and cos = 1.0 clears any sane
    * threshold, so a missed twin can only mean the assignment →
    * in-cell pairing → keep-first flag pipeline broke (the trained
    * centroids themselves are deterministic but SQL-inexpressible,
    * which is why the main key is rows-only and THIS key is the hash
    * gate). */
  def dedupSemanticRecall(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(spark, dir, "embeddings")
    val originals = e.filter(col("vec_id") < 50)
    val twins = originals.select((col("vec_id") + 1000000L).as("vec_id"),
      col("embedding"), col("label"))
    val flagged = TextSim.dedupSemanticKmeansOf(e.unionByName(twins))
      .filter(col("is_dup"))
      .select(col("vec_id").as("v2"), lit(true).as("__hit"))
    originals
      .select(col("vec_id").as("v1"), (col("vec_id") + 1000000L).as("v2"))
      .join(flagged, Seq("v2"), "left")
      .select(col("v1"), col("v2"),
        coalesce(col("__hit"), lit(false)).as("caught"))
      .orderBy("v1")
  }

  /** O(delta) SemDeDup recall contract ([[SemanticIndex]]): plant an
    * exact twin (vec_id + 1000000) of each base doc vec_id < 50 — the
    * twin ids land ABOVE the delta cutoff, so every twin arrives as
    * delivery mass and is flagged by the frozen-model incremental
    * path, never by the base build. An identical vector gets the
    * identical rounded-cosine argmax under ANY centroid model (same
    * cell as its original) and cos = 1.0 clears any sane threshold,
    * so a missed twin can only mean the frozen-assign → store-probe →
    * flag pipeline broke. Oracle: literal-TRUE rows — the
    * dedup_semantic_recall pattern applied to the delta form. */
  def dedupSemanticDeltaRecall(spark: SparkSession, dir: String)
      : DataFrame = {
    val e = Tables.load(spark, dir, "embeddings")
    val originals = e.filter(col("vec_id") < 50)
    val twins = originals.select((col("vec_id") + 1000000L).as("vec_id"),
      col("embedding"), col("label"))
    val flagged = SemanticIndex
      .dedupSemanticDeltaOf(e.unionByName(twins))
      .filter(col("is_dup"))
      .select(col("vec_id").as("v2"), lit(true).as("__hit"))
    originals
      .select(col("vec_id").as("v1"), (col("vec_id") + 1000000L).as("v2"))
      .join(flagged, Seq("v2"), "left")
      .select(col("v1"), col("v2"),
        coalesce(col("__hit"), lit(false)).as("caught"))
      .orderBy("v1")
  }
}
