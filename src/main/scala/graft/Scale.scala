package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.core.Tables.dec2

/** Scaling experiment: the same operators at ×1 / ×4 / ×16 the base
  * fixture volume, so the "would this hold at 100×?" question gets a
  * measured curve instead of an argument. Scaled copies replicate
  * lineitem/orders with the join key remapped per replica (stride =
  * max key + 1): join selectivity and per-key fan-out are preserved
  * while rows grow linearly — the shape a growing warehouse actually
  * has. Group-BY cardinality: Q1's stays constant (groups absorb more
  * rows), the top-k groups stay constant while their contents grow —
  * which is exactly the regime where the bounded-heap aggregate's
  * ≤k-rows-per-group shuffle should pull away from the sort-everything
  * window form.
  *
  * Prints one JSON line per factor; SCALE.md records the findings.
  */
object Scale {

  private val Replicated = Seq("lineitem", "orders", "documents",
    "embeddings")

  // tagged over EVERY replicated source: a regenerated
  // documents.parquet must invalidate the cache even when lineitem's
  // name/len/mtime are unchanged
  private def ensureScaled(spark: SparkSession, sfDir: String, factor: Int)
      : String =
    Tables.ensureDerived(spark, "scale",
        sfDir +: Replicated.map(Tables.fingerprint(spark, sfDir, _)),
        sub = s"/f$factor", parts = Replicated) { path =>
      val li = Tables.load(spark, sfDir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
          "l_quantity", "l_extendedprice", "l_discount", "l_returnflag",
          "l_linestatus")
      val ord = Tables.load(spark, sfDir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice",
          "o_orderpriority")
      val stride = ord.agg(max(col("o_orderkey"))).head().getLong(0) + 1L
      def rep(df: DataFrame, key: String): DataFrame =
        (0 until factor).map(i =>
          df.withColumn(key, col(key) + lit(i * stride)))
          .reduce(_.unionByName(_))
      rep(li, "l_orderkey").write.mode("overwrite")
        .parquet(s"$path/lineitem")
      rep(ord, "o_orderkey").write.mode("overwrite")
        .parquet(s"$path/orders")
      // documents: replicas keep their TEXT (only doc_id shifts) — the
      // crawl-duplication regime, where dedup must collapse factor-many
      // byte-identical copies instead of sailing past disjoint ids
      val docs = Tables.load(spark, sfDir, "documents")
        .select("doc_id", "source", "text")
      val dStride = docs.agg(max(col("doc_id"))).head().getLong(0) + 1L
      (0 until factor).map(i =>
          docs.withColumn("doc_id", col("doc_id") + lit(i * dStride)))
        .reduce(_.unionByName(_))
        .write.mode("overwrite").parquet(s"$path/documents")
      // embeddings: same crawl-duplication regime as documents — each
      // replica keeps its VECTOR (only vec_id shifts), so semantic
      // dedup must collapse factor-many byte-identical copies
      val emb = Tables.load(spark, sfDir, "embeddings")
        .select("vec_id", "embedding")
      val eStride = emb.agg(max(col("vec_id"))).head().getLong(0) + 1L
      (0 until factor).map(i =>
          emb.withColumn("vec_id", col("vec_id") + lit(i * eStride)))
        .reduce(_.unionByName(_))
        .write.mode("overwrite").parquet(s"$path/embeddings")
    }

  private def ops(spark: SparkSession, path: String)
      : Seq[(String, () => Long)] = {
    def li = spark.read.parquet(s"$path/lineitem")
    def ord = spark.read.parquet(s"$path/orders")
    Seq(
      "agg_q1" -> (() => li.groupBy("l_returnflag", "l_linestatus")
        .agg(sum(dec2(col("l_quantity"))).as("q"),
          sum(dec2(col("l_extendedprice")) *
            (lit(1) - dec2(col("l_discount")))).as("rev"),
          count(lit(1)).as("n"))
        .count()),
      "join_agg" -> (() => li
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(sum(dec2(col("l_extendedprice"))).as("s"),
          count(lit(1)).as("n"))
        .count()),
      "sort_limit" -> (() => ord
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(50).count()),
      // the head-to-head: per-customer top-3, window vs bounded heap.
      // groups (customers) are constant; rows per group grow with the
      // factor — the window sorts every group's slice, the aggregate
      // ships at most 3 rows per (task, group).
      "topk_window" -> (() => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        ord.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3).count()
      }),
      "topk_agg" -> (() => ord.groupBy("o_custkey")
        .agg(graft.functions.top_k(col("o_totalprice").cast("double"),
          col("o_orderkey"), 3).as("top"))
        .select(explode(col("top"))).count()),
      // the composed curation pipeline on a corpus with factor-many
      // byte-identical replicas: quality gate scales with rows, the
      // canonical-dedup window collapses the replication (its groups
      // grow with factor), decontamination's broadcast side grows too
      // (every replica of an eval doc contributes shingles) — the
      // operator mix a real crawl actually stresses
      "curate_dedup" -> (() => graft.query.TextQuality
        .curateE2eOf(spark.read.parquet(s"$path/documents")).count()),
      // boilerplate-share: shingle-DF agg + shingle-grain join + doc
      // rollup — should stay linear in total shingle count
      "novelty" -> (() => graft.query.TextSim
        .textNoveltyOf(spark.read.parquet(s"$path/documents")).count()),
      // edit-distance near-dup, 100 TB recipe: canonical dedup FIRST
      // (collapses the factor-many byte-identical replicas), THEN the
      // postings-candidate + DP stage over the survivors. Raw lev on
      // the replicated corpus is deliberately NOT timed at high
      // factors: its candidate set grows with C(factor,2) per base doc
      // (quadratic in duplication — measured by the lev_cand_raw
      // column), which is exactly why curate_e2e orders the stages
      // this way.
      "lev_after_canon" -> (() =>
        graft.query.TextSim.dedupLevenshteinOf(
          canonSurvivors(spark.read.parquet(s"$path/documents"))).count()),
      // DSIR importance weights: explode + 64-group bucket table +
      // doc-grain fold — should stay linear in total token count
      "dsir" -> (() => graft.query.Sampling
        .sampleImportanceOf(spark.read.parquet(s"$path/documents"))
        .count()),
      // SemDeDup with the paper's own scale control, k ∝ corpus: cell
      // population stays ~constant while cell COUNT grows with the
      // factor, so in-cell pair work (O(C²) per cell) stays linear in
      // total rows. Assignment is N×k broadcast cosines — the term to
      // watch in the curve (the paper amortizes it with real k-means +
      // nearest-centroid pruning; here it is the honest brute form).
      "semdedup_kprop" -> (() => {
        val emb = spark.read.parquet(s"$path/embeddings")
        val f = (emb.count() / 500L).toInt max 1
        graft.query.TextSim.dedupSemanticOf(emb, k = 8 * f).count()
      }),
      // PQ end-to-end (train + encode + ADC query + rerank): training
      // is iters × (N×m subvectors vs m×ks broadcast codebooks) and
      // encoding is one more assignment pass — both linear in N; the
      // ADC query is one scan of the N×m codes table. Nothing here is
      // pairwise, so the curve should track N.
      "pq_e2e" -> (() => {
        val emb = spark.read.parquet(s"$path/embeddings")
        graft.query.Pq.similarityPqOf(emb,
          graft.query.Pq.buildIndexOf(emb)).count()
      }))
  }

  private def canonSurvivors(docs: DataFrame): DataFrame =
    graft.query.TextSim.canonicalSurvivors(docs)

  def main(args: Array[String]): Unit = {
    val sfDir = Sessions.sfDir("sf0.1")
    val spark = Sessions.local(Sessions.cpus)
    Sessions.factors.foreach { f =>
      val path = ensureScaled(spark, sfDir, f)
      val results = ops(spark, path).map { case (name, run) =>
        run() // warmup: codegen + footer caches
        val times = (1 to 2).map { _ =>
          val t0 = System.nanoTime(); run()
          (System.nanoTime() - t0) / 1e9
        }
        name -> times.min
      }
      val rows = spark.read.parquet(s"$path/lineitem").count()
      val qs = results.map { case (k, v) => s"\"$k\":$v" }
        .mkString("{", ",", "}")
      // candidate-count audit for the levenshtein stage (generation
      // only — no DP): raw pairs on the replicated corpus (grows with
      // C(factor,2) per base doc), pairs surviving the ≥3-shared
      // floor, and pairs after the canonical pre-pass — the number the
      // timed lev_after_canon shape actually verifies
      val docs = spark.read.parquet(s"$path/documents")
      // one pass over the (expensive) candidate self-join: counting the
      // raw and ≥3-floor populations separately would recompute it
      val candCounts = graft.query.TextSim.levCandidates(docs)
        .agg(count(lit(1)).as("raw"),
          count_if(col("n_shared") >= 3).as("floor")).head()
      val candRaw = candCounts.getLong(0)
      val candFloor = candCounts.getLong(1)
      val candCanon = graft.query.TextSim
        .levCandidates(canonSurvivors(docs))
        .filter(col("n_shared") >= 3).count()
      println(s"""{"factor":$f,"lineitem_rows":$rows,"queries":$qs,""" +
        s""""lev_cand_raw":$candRaw,"lev_cand_floor":$candFloor,""" +
        s""""lev_cand_after_canon":$candCanon}""")
    }
    spark.stop()
  }
}
