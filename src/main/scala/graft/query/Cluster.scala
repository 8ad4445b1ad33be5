package graft.query

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Near-duplicate CLUSTERING: the step after pairwise dedup. MinHash /
  * n-gram stages emit similar PAIRS; a curation pipeline needs the
  * transitive closure — connected components — so each group of mutual
  * near-dups keeps exactly one canonical document.
  *
  * Algorithm: alternating large-star/small-star rounds (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14 — the public
  * MapReduce CC algorithm). Each round contracts the graph toward a star
  * forest rooted at component minima; convergence is O(log n) ROUNDS
  * REGARDLESS OF DIAMETER — an adversarially long dup-chain that would
  * take diameter-many rounds under naive label propagation collapses in
  * ~log₂(chain length) rounds (ClusterSpec proves a 1000-node path).
  * Both star operations are one hash shuffle (window-min keyed on the
  * star center) plus a distinct; no collect, no driver-side graph.
  */
object Cluster {

  /** One large-star round: every node attaches its LARGER neighbors to
    * the minimum of its neighborhood (Kiveris §3). Emitted edges point
    * big→small (src > dst), connectivity is preserved, and strictly
    * smaller labels propagate two hops per round.
    *
    * NOT distinct: [[smallStar]]'s window-min is duplicate-invariant
    * and its own terminal distinct canonicalizes the round's edge set,
    * so a distinct here bought nothing but a fourth full shuffle per
    * round (guide §2.4 — remove shuffles outright). The duplicate mass
    * that rides into smallStar is bounded by the pre-distinct row
    * count (one row per directed input edge), so the per-round shuffle
    * volume class is unchanged at any scale. */
  private def largeStar(e: DataFrame): DataFrame = {
    val bidir = e.select(col("src"), col("dst"))
      .union(e.select(col("dst").as("src"), col("src").as("dst")))
    val w = Window.partitionBy("src")
    bidir
      .withColumn("m", least(col("src"), min("dst").over(w)))
      .filter(col("dst") > col("src"))
      .select(col("dst").as("src"), col("m").as("dst"))
  }

  /** One small-star round: every node attaches its SMALLER neighbors
    * (and itself) to the minimum of those — flattening chains of
    * big→small edges into stars. */
  private def smallStar(e: DataFrame): DataFrame = {
    val oriented = e.select(greatest(col("src"), col("dst")).as("src"),
      least(col("src"), col("dst")).as("dst"))
    val w = Window.partitionBy("src")
    val withMin = oriented.withColumn("m", min("dst").over(w))
    withMin.select(col("dst").as("src"), col("m").as("dst"))
      .union(withMin.select(col("src"), col("m").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  /** Materialize an edge set (localCheckpoint) and compute its
    * (count, hash-xor) convergence signature IN the same job:
    * `Dataset.observe` plants a CollectMetrics pass-through above the
    * plan, so the signature aggregates ride the checkpoint
    * materialization's own tasks as accumulators instead of a separate
    * per-round `head()` action (r21, guide §1.2/§2.4 — one driver
    * round-trip per round, not two). Exactly-once: CollectMetricsExec
    * resets its per-task buffer on task start and the scheduler merges
    * successful tasks only, so the values equal the old separate-agg
    * ones. XOR (not sum) — order-independent AND overflow-free under
    * ANSI mode; the edge set is distinct, so no self-cancellation. */
  private def checkpointWithSignature(e: DataFrame)
      : (DataFrame, (Long, Long)) = {
    val obs = Observation()
    val ck = e.observe(obs, count(lit(1)).as("n"),
      coalesce(bit_xor(xxhash64(col("src"), col("dst"))), lit(0L)).as("x"))
      .localCheckpoint()
    val m = obs.get // already complete: localCheckpoint was the action
    (ck, (m("n").asInstanceOf[Long], m("x").asInstanceOf[Long]))
  }

  /** Shuffle width for one loop round over `edges` edge rows — derived
    * from the just-measured input size (guide §2.5: scale-adaptive, not
    * a constant tuned to either regime): at least the session
    * parallelism (the star stages are CPU-bound on tiny BYTES — hash +
    * window-min per row — so AQE's byte-based coalescing
    * under-parallelizes them: r20 profiled 12 tasks on a 32-core box),
    * growing once the edge set outruns ~4M rows per task (~100 MB of
    * (long, long) shuffle pairs — the guide's 100 MB–1 GB band). Sized
    * on 2×edges: the widest per-round shuffles process the
    * BIDIRECTIONAL union (largeStar) / the self union (smallStar),
    * each double the measured edge count (r20 advice). */
  private def loopPartitions(spark: SparkSession, edges: Long): Int = {
    val par = spark.sparkContext.defaultParallelism
    math.max(par, (2L * edges / 4000000L).toInt)
  }

  /** Connected components over an undirected pair set (columns src, dst):
    * returns (doc_id, cluster = component minimum) for every node that
    * appears in `pairs`. Exposed for direct testing on synthetic graphs.
    *
    * Session constraint (r20 advice): the loop mutates session-global
    * conf (AQE off, shuffle width) for its own rounds and restores on
    * exit — callers must not plan OTHER queries on the same
    * SparkSession concurrently with this loop (the bench/verify surface
    * runs keys sequentially; parallel suites use separate sessions). */
  def connectedComponents(pairs: DataFrame, maxRounds: Int = 30)
      : DataFrame = {
    val spark = pairs.sparkSession
    // truncate caller lineage before iterating
    var (e, sig) = checkpointWithSignature(
      pairs.toDF("src", "dst").filter(col("src") =!= col("dst")))
    var converged = false
    var round = 0
    // The loop rounds opt OUT of AQE (restored on exit): each round is
    // a fixed 3-shuffle chain over an edge set whose exact row count
    // the previous signature just measured, so runtime re-planning has
    // nothing to discover and costs ~3 extra driver round-trips per
    // round (one job per materialized query stage — r20 profiled
    // dedup_cluster at 36 jobs for ~5 rounds) plus byte-based
    // coalescing that under-parallelizes the CPU-bound star stages.
    // The shuffle width is derived per round from the signature's edge
    // count instead ([[loopPartitions]]). Content is partitioning-
    // independent (window-min per key + distinct), so the round edge
    // SETS, the convergence signature and the final star forest are
    // unchanged — ClusterSpec's property tests and the five consumer
    // hash gates pin that.
    val spKey = "spark.sql.shuffle.partitions"
    graft.streaming.DriveSupport.withConfs(spark,
        "spark.sql.adaptive.enabled" -> "false",
        spKey -> loopPartitions(spark, sig._1).toString) {
      while (!converged && round < maxRounds) {
        // ONE star round per materialization+signature. r20 measured the
        // tempting batching of TWO rounds per checkpoint (half the driver
        // round-trips) at ×1.15-1.36 SLOWER: both star ops reference
        // their input twice (the bidirectional/self unions), so an
        // un-materialized intermediate round recomputes everything
        // between its exchanges twice — the checkpoint per round is
        // load-bearing, not overhead. localCheckpoint also keeps the
        // next round's plan flat (no O(rounds)-deep lineage). The
        // convergence signature rides the SAME job via observe
        // ([[checkpointWithSignature]]) — one action per round.
        val (ne, next) = checkpointWithSignature(smallStar(largeStar(e)))
        e = ne
        converged = next == sig
        sig = next
        round += 1
        spark.conf.set(spKey, loopPartitions(spark, sig._1).toString)
      }
    }
    // log-round convergence means maxRounds=30 covers any real graph; a
    // silent non-fixpoint would break the transitive-closure contract
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge within $maxRounds rounds")
    // fixpoint edge set is a star forest big→small: each node's single
    // dst IS its component minimum; roots label themselves
    e.select(col("src").as("doc_id"), col("dst").as("cluster"))
      .union(e.select(col("dst").as("doc_id"), col("dst").as("cluster")))
      .groupBy("doc_id").agg(min("cluster").as("cluster"))
  }

  /** doc_id → cluster (= min doc_id of its component) + component size.
    * Singletons cluster to themselves. Oracle twin: DuckDB recursive CTE
    * transitive closure over the identical pair set.
    *
    * Edges come from the STAR-BOUNDED shingle-posting form
    * ([[TextSim.dedupNgramStarOf]]) — clustering consumes
    * connectivity, not the pair set, so an at-cap boilerplate shingle
    * (df up to the 1000 DF cap) contributes O(df) spanning candidates
    * instead of ~df²/2 pairs, the same bound [[dedupClusterMinhash]]
    * rides ([[TextSim.starEdges]]). At fixture document frequencies
    * (max 25 < the 32 all-pair cap) the edge set is pair-identical to
    * [[TextSim.dedupNgram]]'s, so the closure — and the DuckDB hash —
    * is unchanged (StarShingleSpec pins both halves). */
  def dedupCluster(spark: SparkSession, dir: String,
      threshold: Double = 0.3, maxRounds: Int = 30): DataFrame =
    dedupClusterOf(spark, dir,
      TextSim.dedupNgramStar(spark, dir, threshold), maxRounds)

  /** [[dedupCluster]] with BANDED-MINHASH candidate edges — the scale
    * path (SCALE.md): n-gram postings' candidate fan-out is bounded by
    * the DF cap, which a fixed-vocabulary corpus outgrows (the ×10
    * decade audit shows the cap binding); banding bounds fan-out BY
    * CONSTRUCTION — a pair is ever considered only if some 4-row band
    * of their 32-slot signatures collides, so the candidate count
    * tracks true near-dup mass at any corpus size and no cap knob
    * exists to mistune. Edges are [[TextSim.dedupMinhash]]'s VERIFIED
    * pairs (exact Jaccard over the full shingle space ≥ `threshold`).
    *
    * Default threshold 0.8 — the near-identical regime transitive
    * dedup exists for, and the regime where 8×4 banding is measured
    * complete on the fixtures: per-pair collision probability is
    * 1−(1−j⁴)⁸ ≥ 0.985 at j = 0.8 and exactly 1 at j = 1 (identical
    * signatures), and the hash-green `dedup_minhash_recall` contract
    * pins catch = ALL at every driver SF — which is what lets this
    * key run under the full DuckDB hash gate (oracle: closure over
    * the exact-Jaccard ≥ 0.8 pair set) rather than rows-only.
    *
    * Candidate stage is the STAR-BOUNDED form
    * ([[TextSim.dedupMinhashStar]]): clustering consumes connectivity,
    * not the pair set, so degenerate buckets emit O(B) spanning edges
    * instead of O(B²) pairs — identical output at fixture bucket
    * sizes, linear instead of quadratic on a boilerplate-heavy corpus
    * (DegenerateBucketSpec plants a 10k-doc bucket and counts). */
  def dedupClusterMinhash(spark: SparkSession, dir: String,
      threshold: Double = 0.8, maxRounds: Int = 30): DataFrame =
    // pairs served from the PERSISTED minhash index (bit-identical by
    // the per-doc-rows guarantee — MinhashIndex.starPairsAll) instead
    // of re-shingling the corpus per run
    dedupClusterOf(spark, dir,
      MinhashIndex.starPairsAll(spark, dir, threshold), maxRounds)

  /** Edge-source-parameterized core: transitive closure over `pairs`
    * (columns d1, d2), singletons projected from the full corpus. */
  def dedupClusterOf(spark: SparkSession, dir: String, pairs: DataFrame,
      maxRounds: Int = 30): DataFrame = {
    // component-find runs over the LINKED subgraph only — near-dup pairs
    // are a vanishing fraction of the corpus; unlinked docs become
    // singletons in one final projection instead of shuffling every
    // doc_id through every round
    val labels = connectedComponents(
      pairs.select(col("d1").as("src"), col("d2").as("dst")), maxRounds)

    val docs = Tables.load(spark, dir, "documents").select("doc_id")
    val mapping = docs.join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster"), col("doc_id")).as("cluster"))
    val sizes = mapping.groupBy("cluster")
      .agg(count(lit(1)).as("cluster_size"))
    mapping.join(sizes, "cluster")
      .select(col("doc_id"), col("cluster"), col("cluster_size"),
        (col("doc_id") === col("cluster")).as("is_canonical"))
      .orderBy("doc_id")
  }

  /** dedup_keep_best: quality-aware representative selection — the
    * RefinedWeb/FineWeb curation step that [[dedupClusterMinhash]]'s
    * arbitrary min-id canonical is not: within each near-dup cluster,
    * KEEP the highest-quality member and mark the rest for dropping.
    * Quality here is the exact token count (longest member wins, ties
    * to the lowest doc_id) — the deterministic core of the "keep the
    * most complete variant" heuristic; any scalar quality column slots
    * into the same max_by.
    *
    * Output is the LINKED subgraph only (every member of a cluster of
    * size ≥ 2, with its cluster, the chosen keep_id, and a kept flag):
    * the drop list a curation pipeline anti-joins against. Singletons
    * never enter the component-find or the output — at crawl scale the
    * near-dup mass is a small fraction of the corpus, so every stage
    * here is sized by dup mass, not corpus size.
    *
    * Edges are the star-bounded banded-minhash verified pairs (exact
    * Jaccard ≥ `threshold`; O(B) per degenerate bucket), so the whole
    * operator is linear-shuffle end to end. Oracle: transitive closure
    * over the exact-Jaccard pair set + the same window rule in DuckDB
    * (full hash gate — same licensing as dedup_cluster_minhash). */
  def dedupKeepBest(spark: SparkSession, dir: String,
      threshold: Double = 0.8, maxRounds: Int = 30): DataFrame = {
    // index-backed pair stage — the dedupClusterMinhash rationale
    val pairs = MinhashIndex.starPairsAll(spark, dir, threshold)
    val labels = connectedComponents(
      pairs.select(col("d1").as("src"), col("d2").as("dst")), maxRounds)
    val quality = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        size(TextSim.tokens(col("text"))).cast("long").as("n_toks"))
    val members = labels.join(quality, Seq("doc_id"))
    // single pass over the linked members: one cluster-keyed exchange
    // serves both the ordered first() (the keep rule) and the size
    // count — a groupBy+self-join twin re-ran the quality join twice
    // (measured 4.5 s vs 2.9 s at sf0.1)
    val ordW = Window.partitionBy("cluster")
      .orderBy(col("n_toks").desc, col("doc_id").asc)
    val wholeW = Window.partitionBy("cluster")
    members
      .withColumn("keep_id", first(col("doc_id")).over(ordW))
      .withColumn("cluster_size", count(lit(1)).over(wholeW))
      .select(col("doc_id"), col("cluster"), col("keep_id"),
        (col("doc_id") === col("keep_id")).as("kept"),
        col("cluster_size"))
      .orderBy("doc_id")
  }
}
