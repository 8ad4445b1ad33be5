package graft.query

import org.apache.spark.sql.functions._

import graft.{SparkSuite, TestSpark}
import graft.core.Tables

/** Incremental curation of the weekly delivery (curate_delta): the
  * delta-only pipeline must admit exactly the docs the from-scratch
  * rules admit. The driver fixture exercises the near-dup stage (the
  * sf corpora plant near-dups into the delta) but happens to contain
  * no delta canonical twin — so stage ATTRIBUTION is proven on a
  * planted corpus where each dedup stage uniquely drops one delivery
  * doc (a punctuated canonical twin is invisible to shingle banding;
  * an appended-token near-dup has a distinct canonical form). */
class CurateDeltaSpec extends SparkSuite {

  private val dir = TestSpark.sfDir

  test("fixture: delta-only output, near-dup newer members excluded") {
    val docs = graft.core.Tables.load(spark, dir, "documents")
    val cut = Tables.deltaCutoff(docs, "doc_id")
    val out = TextQuality.curateDelta(spark, dir)
    val ids = out.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids.nonEmpty, "vacuous: empty delivery shard")
    assert(ids.forall(_ >= cut), "non-delta doc in the delivery shard")
    val newer = TextSim.dedupMinhash(spark, dir, threshold = 0.8)
      .filter(col("d2") >= cut)
      .select("d2").collect().map(_.getLong(0)).toSet
    assert(newer.nonEmpty, "vacuous: no delta near-dup pair in fixture")
    assert(ids.intersect(newer).isEmpty,
      "near-dup newer member admitted to the delivery shard")
    // bins bounded like curate_full's
    assert(out.filter(col("bin_offset") < 0 ||
      col("bin_offset") >= 2048).count() === 0L)
  }

  test("stage 1 via the persisted canon store == full-corpus rank-1") {
    import org.apache.spark.sql.expressions.Window
    val docs = graft.core.Tables.load(spark, dir, "documents")
    val cut = Tables.deltaCutoff(docs, "doc_id")
    val viaStore = TextQuality.canonKeptDelta(spark, dir, docs, cut)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val w = Window.partitionBy("canon_md5").orderBy(col("doc_id").asc)
    val viaRank = docs
      .withColumn("canon_md5", TextSim.canonicalMd5(col("text")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("doc_id") >= cut)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(viaStore === viaRank)
    assert(viaStore.nonEmpty, "vacuous: empty delta")
  }

  test("plan: stage 1 reads no full-corpus text — documents scans are " +
      "delta-pruned, the corpus side is the canon posting store") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val docs = graft.core.Tables.load(spark, dir, "documents")
    val cut = Tables.deltaCutoff(docs, "doc_id")
    val stage1 = TextQuality.canonKeptDelta(spark, dir, docs, cut)
    stage1.collect()
    val scans = graft.PlanNodes.all(stage1)
      .collect { case f: FileSourceScanExec => f }
    val (docScans, storeScans) = scans.partition(
      _.metadata.get("Location").exists(_.contains("documents.parquet")))
    assert(docScans.nonEmpty && storeScans.nonEmpty,
      s"expected both scan kinds, got ${scans.map(_.metadata.get("Location"))}")
    // every documents scan carries the delta pushdown — the base
    // corpus' text is never read at query time
    docScans.foreach { s =>
      val pushed = s.metadata.getOrElse("PushedFilters", "")
      assert(pushed.contains(s"GreaterThanOrEqual(doc_id,$cut)"),
        s"documents scan not delta-pruned: $pushed")
    }
    // the store side reads only the 2-column canon postings
    storeScans.foreach { s =>
      assert(s.metadata.get("Location").exists(_.contains("canon")),
        s"unexpected store scan: ${s.metadata.get("Location")}")
      val schema = s.metadata.getOrElse("ReadSchema", "")
      assert(!schema.contains("text"),
        s"canon store scan reads text?! $schema")
    }
  }

  test("planted corpus: each dedup stage uniquely drops its doc") {
    import spark.implicits._
    def toks(tag: String) =
      (1 to 24).map(i => f"$tag$i%02d").mkString(" ")
    val base = (1L to 8L).map(id =>
      (id, toks(s"w$id"), "en", "s3"))
    val planted = Seq(
      // doc 9: canonical twin of doc 1 — punctuation only, so every
      // TOKEN differs and no shingle collides (invisible to banding)
      (9L, toks("w1").split(" ").map(_ + ",").mkString(" "), "en", "s3"),
      // doc 10: near-dup of doc 2 — one appended token, jaccard 22/23
      (10L, toks("w2") + " extra99", "en", "s3"),
      // doc 11: fresh, quality-ok, passes the s3 mixture threshold
      (11L, toks("fresh"), "en", "s3"))
    val docs = (base ++ planted)
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))

    val tmp = java.nio.file.Files.createTempDirectory("graft-cd").toString
    try {
      docs.coalesce(1).write.parquet(s"$tmp/documents.parquet")
      // cut = 11*4/5+1 = 9: the delivery is {9, 10, 11}
      assert(Tables.deltaCutoff(docs, "doc_id") === 9L)
      // attribution preconditions: 9 is NOT a banded pair member...
      val pairs = TextSim.dedupMinhash(spark, tmp, threshold = 0.8)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(!pairs.exists(p => p._1 == 9L || p._2 == 9L),
        "planted canonical twin unexpectedly shingle-collides")
      // ...but IS a canonical twin; 10 is a banded pair, not a twin
      assert(pairs.contains((2L, 10L)), "planted near-dup pair missing")
      val out = TextQuality.curateDelta(spark, tmp)
      val ids = out.select("doc_id").collect().map(_.getLong(0)).toSet
      assert(ids === Set(11L),
        s"delivery shard $ids: canonical stage must drop 9, " +
          "near-dup stage must drop 10, quality doc 11 admitted")
    } finally
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(tmp))
  }
}
