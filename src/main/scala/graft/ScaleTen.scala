package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Decade-up fixture generator: a ×10 **sf0.1-SHAPED** documents/events
  * pair for extrapolating the SCALE.md candidate-audit curves one more
  * decade of wall-clock ([[Scale]] covers the other regime — byte-
  * identical crawl duplication, where dedup must collapse factor-many
  * replicas).
  *
  * Here every generated document is a FRESH draw from the base
  * corpus's own distributions — vocabulary, word-count range, language
  * mix, source count and exact-duplicate rate are all *measured from
  * the base fixture at generation time*, not hardcoded — so the
  * natural shingle-collision structure that drives the dedup keys'
  * candidate counts grows the way a 10× delivery of the same corpus
  * would, and a driver-regenerated fixture reshapes the decade-up
  * automatically. Events are replicated with event/user ids strided
  * per replica over the SAME time span (the r9 StreamScale rate
  * regime: per-day density ×10, key cardinality ×10).
  *
  * Determinism: every generated value is a pure function of
  * `xxhash64(tag, id[, pos])` — no RNG state, no Date.now, identical
  * parquet content on every run; the output is cached under a
  * fingerprint tag of the base tables (the [[Scale]] pattern) with
  * _SUCCESS markers so a torn write rebuilds instead of serving debris.
  *
  * Generation is one declarative plan per table — `sequence` →
  * `transform` → `element_at` → `array_join`, all codegen'd native
  * functions, no UDFs, no driver-side row loops (the only collects are
  * the ~31-word vocabulary and the 5-row language mix).
  *
  * Output: prints the decade dir (feed it to a narrowed [[Bench]] via
  * SPARK_GRAFT_SF_DIR: `SPARK_GRAFT_BENCH_ONLY=… SPARK_GRAFT_BENCH_OUT=
  * target/bench-only.json runMain graft.Bench`) and one JSON audit line
  * per corpus with the SCALE.md candidate-audit columns — raw
  * shared-shingle pairs, pairs at the ≥3 floor, pairs after the
  * canonical pre-pass — plus the same
  * counts under a 10× tighter DF cap (maxShingleDf=100), the knob that
  * bounds candidate growth when a fixed-vocabulary corpus outgrows the
  * default cap.
  */
object ScaleTen {
  val Factor = 10
  /** Bump on any generator-semantics change: the output cache keys on
    * (base fingerprints, factor, GenVersion) — without it a code change
    * would silently serve the previous corpus. */
  val GenVersion = 5 // v5: + relational constellation (part fresh-named)

  /** Fresh-draw documents: n docs shaped like `base`. Planted exact
    * duplicates at the base corpus's measured rate via contentId
    * collapse (a duplicate id derives its text from its predecessor's
    * id — same bytes, no self-join), and planted NEAR-duplicates at
    * the base corpus's measured edit-distance pair rate (a near-dup id
    * derives its words from its predecessor, then substitutes ~10% of
    * word slots — a within-20% edit that keeps most shingles, the
    * small-patch duplication regime dedup_levenshtein/dedup_cluster
    * exist for). */
  private[graft] def genDocuments(base: DataFrame, n: Long): DataFrame = {
    val vocab = base.select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "").distinct().orderBy("w")
      .collect().map(_.getString(0))
    val langCounts = base.groupBy("lang").count().orderBy("lang")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val langTotal = langCounts.map(_._2).sum.toDouble
    val nSources = base.select("source").distinct().count().toInt
    val wc = base.select(size(split(col("text"), " ")).as("nw"))
      .agg(min("nw").as("lo"), max("nw").as("hi")).head()
    val (minW, maxW) = (wc.getInt(0), wc.getInt(1))
    val baseRows = base.count()
    val dupExtras = baseRows - base.select("text").distinct().count()
    // near-dup pair rate: edit-distance pairs that are NOT byte-exact
    // (exact pairs surface in the lev output at dist 0)
    val levPairs = graft.query.TextSim.dedupLevenshteinOf(base)
      .filter(col("dist") > 0).count()

    def h(tag: String, cols: Column*): Column =
      xxhash64((lit(tag) +: cols): _*)
    val vocabArr = array(vocab.toIndexedSeq.map(lit): _*)

    // planted duplicates at the base corpus's measured rates (one per
    // mod ids; exact takes precedence); a dup-free base stays dup-free
    def plantMod(extras: Long): Option[Int] =
      if (extras == 0) None
      else Some(math.max(2, (baseRows / extras).toInt))
    def plantedAt(tag: String, extras: Long, idCol: Column): Column =
      plantMod(extras).map(m =>
        idCol > 0 && pmod(h(tag, idCol), lit(m)) === 0)
        .getOrElse(lit(false))
    // a planted id derives its content from id-1 — but if id-1 is
    // ITSELF planted, the derived text equals the hypothetical fresh
    // doc id-1, which no real doc carries, so the copy would be unique
    // and the measured dup/near rates would drift low. Skip planting
    // when the predecessor is planted (plant rates are ~1/mod², so the
    // skipped mass is negligible vs the target rate).
    val prevPlanted = plantedAt("dup", dupExtras, col("id") - 1) ||
      plantedAt("near", levPairs, col("id") - 1)
    val isDup = plantedAt("dup", dupExtras, col("id")) && !prevPlanted
    val isNear =
      !isDup && plantedAt("near", levPairs, col("id")) && !prevPlanted
    val contentId = when(isDup || isNear, col("id") - 1).otherwise(col("id"))
    val nWords =
      (pmod(h("len", col("cid")), lit(maxW - minW + 1)) + lit(minW))
        .cast("int")
    // near-dups substitute ~10% of word slots, keyed by the REPLICA id
    // so each near copy differs from its source; the rest of the doc
    // keeps the source's shingles
    val words = transform(sequence(lit(0), col("nw") - 1), p =>
      when(col("near") && pmod(h("pm", col("id"), p), lit(10)) === 0,
        element_at(vocabArr,
          (pmod(h("pw", col("id"), p), lit(vocab.length)) + 1).cast("int")))
        .otherwise(element_at(vocabArr,
          (pmod(h("w", col("cid"), p), lit(vocab.length)) + 1).cast("int"))))
    // language thresholds from the measured mix (cumulative shares)
    val cum = langCounts.scanLeft(0.0) { case (a, (_, c)) =>
      a + c / langTotal }.tail
    val r = pmod(h("lang", col("id")), lit(1000000)).cast("double") / 1e6
    val langCol = langCounts.zip(cum).init
      .foldRight(lit(langCounts.last._1): Column) {
        case (((name, _), cw), acc) =>
          when(r < lit(cw), lit(name)).otherwise(acc)
      }

    base.sparkSession.range(n).repartition(32)
      .withColumn("near", isNear)
      .withColumn("cid", contentId)
      .withColumn("nw", nWords)
      .withColumn("text", array_join(words, " "))
      .select(
        col("id").as("doc_id"),
        col("text"),
        langCol.as("lang"),
        concat(lit("src"), pmod(col("id"), lit(nSources))).as("source"),
        length(col("text")).cast("long").as("n_chars"))
  }

  /** Fresh-draw embeddings: n vectors shaped like `base` — same
    * dimension and element type, per-DIMENSION mean/std preserved
    * (each coordinate is a CLT-3 hash draw — the sum of three
    * uniform[-1,1) draws has unit variance — scaled to the base's
    * measured per-dim moments), labels redrawn over the base's label
    * set. Bit-deterministic like [[genDocuments]]; the shape that
    * matters downstream (sign-quadrant occupancy for the drift gauge,
    * hyperplane bucket balance for ANN-LSH) follows the per-dim
    * moments. */
  private[graft] def genEmbeddings(base: DataFrame, n: Long): DataFrame = {
    val dim = base.select(size(col("embedding")).as("d")).head().getInt(0)
    val stats = base
      .select(posexplode(col("embedding")).as(Seq("d", "v")))
      .groupBy("d").agg(avg("v").as("m"), stddev_pop("v").as("s"))
      .orderBy("d").collect()
    val mArr = array(stats.map(r => lit(r.getDouble(1))).toIndexedSeq: _*)
    val sArr = array(stats.map(r => lit(r.getDouble(2))).toIndexedSeq: _*)
    val nLabels = base.select("label").distinct().count().toInt
    def u(salt: String, i: Column) =
      pmod(xxhash64(lit(salt), col("id"), i), lit(2000001))
        .cast("double") / lit(1000000.0) - lit(1.0)
    base.sparkSession.range(n).repartition(32)
      .select(
        col("id").as("vec_id"),
        transform(sequence(lit(0), lit(dim - 1)), i =>
          (element_at(mArr, i + 1) + element_at(sArr, i + 1) *
            (u("e1", i) + u("e2", i) + u("e3", i)))
            .cast("float")).as("embedding"),
        pmod(xxhash64(lit("lab"), col("id")), lit(nLabels))
          .cast("int").as("label"))
  }

  /** Events ×factor: ids strided per replica, identical time span —
    * ×factor daily density and user cardinality, per-user history
    * shape preserved. */
  private[graft] def genEvents(base: DataFrame, factor: Int): DataFrame = {
    val m = base.agg(max("event_id").as("e"), max("user_id").as("u")).head()
    val (eStride, uStride) = (m.getLong(0) + 1L, m.getLong(1) + 1L)
    (0 until factor).map(i => base
        .withColumn("event_id", col("event_id") + lit(i * eStride))
        .withColumn("user_id", col("user_id") + lit(i * uStride)))
      .reduce(_.unionByName(_))
  }

  /** Part ×factor with FRESH names (r17 verdict task #6 — the
    * join_fuzzy decade row needs name mass, not name replicas):
    * replica 0 is the base verbatim; replicas stride p_partkey (so the
    * strided lineitem's l_partkey references stay exact) and redraw
    * p_name from the base's measured name-word vocabulary and
    * words-per-name range — name-signature mass grows the way a 10×
    * catalog's would, instead of every signature's frequency inflating
    * ×10 with zero new names. Other columns ride the replica unchanged
    * (shape-preserved). `stride` is the p_partkey KEY-SPACE stride the
    * caller also hands the lineitem replication — one derivation, per
    * [[replicateKeyed]]'s owning-table rule. */
  private[graft] def genPart(base: DataFrame, factor: Int,
      stride: Long): DataFrame = {
    val vocab = base.select(explode(split(col("p_name"), " ")).as("w"))
      .filter(col("w") =!= "").distinct().orderBy("w")
      .collect().map(_.getString(0))
    val wc = base.select(size(split(col("p_name"), " ")).as("nw"))
      .agg(min("nw").as("lo"), max("nw").as("hi")).head()
    val (minW, maxW) = (wc.getInt(0), wc.getInt(1))
    val vocabArr = array(vocab.toIndexedSeq.map(lit): _*)
    def h(tag: String, cols: Column*): Column =
      xxhash64((lit(tag) +: cols): _*)
    (0 until factor).map { i =>
      if (i == 0) base
      else {
        val keyed = base
          .withColumn("p_partkey", col("p_partkey") + lit(i * stride))
        val nWords = (pmod(h("pnlen", col("p_partkey")),
          lit(maxW - minW + 1)) + lit(minW)).cast("int")
        keyed.withColumn("p_name", array_join(
          transform(sequence(lit(0), nWords - 1), p =>
            element_at(vocabArr, (pmod(h("pnw", col("p_partkey"), p),
              lit(vocab.length)) + 1).cast("int"))), " "))
      }
    }.reduce(_.unionByName(_))
  }

  /** Key-strided ×factor replication (the [[genEvents]] regime for the
    * relational constellation): every replica shifts the named key
    * columns by replica × stride, so join fan-outs, per-order line
    * counts and value/time distributions are preserved exactly while
    * key cardinality and per-day density grow ×factor. Strides are
    * passed in (one per KEY SPACE, computed from that key's OWNING
    * table) — deriving them per referencing table would desynchronize
    * a foreign key from its dimension the moment their maxima differ
    * (an order with no lineitems, a part never ordered). */
  private[graft] def replicateKeyed(base: DataFrame, factor: Int,
      strides: Seq[(String, Long)]): DataFrame =
    (0 until factor).map { i =>
      strides.foldLeft(base) { case (df, (c, s)) =>
        df.withColumn(c, col(c) + lit(i * s)) }
    }.reduce(_.unionByName(_))

  private val DecadeTables = Seq("documents", "events", "embeddings",
    "part", "orders", "lineitem", "customer", "supplier", "nation",
    "region")

  /** Build (or reuse) the decade-up dir; returns its path. Layout
    * matches the driver fixture (`<dir>/<table>.parquet`) — the FULL
    * table set, so every `SparkEntry.queries` entry (relational keys
    * included) runs against it unchanged. */
  def ensure(spark: SparkSession, sfDir: String): String =
    Tables.ensureDerived(spark, "scale10",
        Seq(sfDir, s"x$Factor", s"v$GenVersion") ++
          DecadeTables.map(Tables.fingerprint(spark, sfDir, _)),
        parts = DecadeTables.map(t => s"$t.parquet")) { path =>
      def write(df: DataFrame, t: String): Unit =
        df.write.mode("overwrite").parquet(s"$path/$t.parquet")
      val baseDocs = Tables.load(spark, sfDir, "documents")
      write(genDocuments(baseDocs, baseDocs.count() * Factor),
        "documents")
      write(genEvents(Tables.load(spark, sfDir, "events"), Factor),
        "events")
      val baseEmb = Tables.load(spark, sfDir, "embeddings")
      write(genEmbeddings(baseEmb, baseEmb.count() * Factor),
        "embeddings")
      // one stride per KEY SPACE, from the key's owning table
      def strideOf(t: String, k: String): Long =
        Tables.load(spark, sfDir, t).agg(max(col(k)))
          .head().getLong(0) + 1L
      val (pkS, okS, ckS, skS) = (strideOf("part", "p_partkey"),
        strideOf("orders", "o_orderkey"),
        strideOf("customer", "c_custkey"),
        strideOf("supplier", "s_suppkey"))
      write(genPart(Tables.load(spark, sfDir, "part"), Factor, pkS),
        "part")
      write(replicateKeyed(Tables.load(spark, sfDir, "orders"), Factor,
        Seq("o_orderkey" -> okS, "o_custkey" -> ckS)), "orders")
      write(replicateKeyed(Tables.load(spark, sfDir, "lineitem"),
        Factor, Seq("l_orderkey" -> okS, "l_partkey" -> pkS,
          "l_suppkey" -> skS)), "lineitem")
      write(replicateKeyed(Tables.load(spark, sfDir, "customer"),
        Factor, Seq("c_custkey" -> ckS)), "customer")
      write(replicateKeyed(Tables.load(spark, sfDir, "supplier"),
        Factor, Seq("s_suppkey" -> skS)), "supplier")
      // fixed dimension tables ride along verbatim: nation/region key
      // spaces are part of the data model, not the scale
      write(Tables.load(spark, sfDir, "nation"), "nation")
      write(Tables.load(spark, sfDir, "region"), "region")
    }

  private def audit(spark: SparkSession, label: String, dir: String): Unit = {
    import graft.query.TextSim
    val docs = Tables.load(spark, dir, "documents")
    val rows = docs.count()
    def counts(cap: Int): (Long, Long, Long) = {
      val c = TextSim.levCandidates(docs, cap)
        .agg(count(lit(1)).as("raw"),
          count_if(col("n_shared") >= 3).as("floor")).head()
      val canon = TextSim.levCandidates(
          TextSim.canonicalSurvivors(docs), cap)
        .filter(col("n_shared") >= 3).count()
      (c.getLong(0), c.getLong(1), canon)
    }
    val (raw, floor, canon) = counts(1000)
    val (rawT, floorT, canonT) = counts(100)
    // the r15 star row: the SAME capped shingle space expanded through
    // the double-star bound (the dedup_cluster / cluster-consumer
    // path) vs the all-pairs raw count above — the ratio is the
    // measured fan-out saving at this decade
    def starCount(cap: Int): Long =
      TextSim.arrayStarPairs(TextSim.cappedPostings(docs, cap),
        allPairCap = 32).count()
    val star = starCount(1000)
    val starT = starCount(100)
    println(s"""{"corpus":"$label","doc_rows":$rows,""" +
      s""""cap1000":{"lev_cand_raw":$raw,"lev_cand_floor":$floor,""" +
      s""""lev_cand_after_canon":$canon,"ngram_cand_star":$star},""" +
      s""""cap100":{"lev_cand_raw":$rawT,"lev_cand_floor":$floorT,""" +
      s""""lev_cand_after_canon":$canonT,"ngram_cand_star":$starT}}""")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = Sessions.sfDir("sf0.1")
    val spark = Sessions.local(Sessions.cpus)
    val path = ensure(spark, sfDir)
    println(s"""{"decade_dir":"$path"}""")
    audit(spark, "base", sfDir)
    audit(spark, "x10", path)
    spark.stop()
  }
}
