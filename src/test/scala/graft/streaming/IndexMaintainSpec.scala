package graft.streaming

import org.apache.spark.sql.functions._

import graft.TestSpark
import graft.ingest.SnapshotStore

/** Streaming maintenance of the persisted minhash index
  * ([[DeliveryStore.minhash]]): the foreachBatch replay-safety that
  * [[SnapshotStore.appendOnce]] exists for (the shared replay test
  * checks the stores and the served pairs), and the
  * chunking-independence that makes the drive's result bit-equal to
  * the batch-built index's. */
class IndexMaintainSpec extends DeliveryStoreSpec(DeliveryStore.minhash(),
    "the index", served = true) {

  import spark.implicits._

  private val dir = TestSpark.sfDir

  test("appendOnce: first call commits, replay is a no-op; distinct " +
      "tags append") {
    withTmpDir { tmp =>
      val st = new SnapshotStore(tmp.resolve("s").toString)
      st.overwrite(Seq(("base", 1L)).toDF("k", "v"))
      assert(st.appendOnce(Seq(("b7", 2L)).toDF("k", "v"), "7"))
      val afterFirst = st.versions(spark)
      // the REPLAY: same tag, same content — must not commit
      assert(!st.appendOnce(Seq(("b7", 2L)).toDF("k", "v"), "7"))
      assert(st.versions(spark) === afterFirst)
      assert(st.read(spark).get.count() === 2L)
      // the next delivery appends normally
      assert(st.appendOnce(Seq(("b8", 3L)).toDF("k", "v"), "8"))
      assert(st.read(spark).get.count() === 3L)
      // and a replay of an OLDER delivery is still a no-op (the whole
      // chain is visible in the live manifest)
      assert(!st.appendOnce(Seq(("b7", 2L)).toDF("k", "v"), "7"))
      assert(st.read(spark).get.count() === 3L)
    }
  }

  test("appendOnce: a tag that is a dir-name SUFFIX of another tag " +
      "does not read as its replay") {
    withTmpDir { tmp =>
      val st = new SnapshotStore(tmp.resolve("s").toString)
      st.overwrite(Seq(("base", 1L)).toDF("k", "v"))
      // dir name becomes …-ta-t5; a suffix check would see tag "5"'s
      // marker "-t5" at its end and suppress the NEXT delivery — the
      // exact shared-slot hazard rejecting dirty tags was meant to end
      assert(st.appendOnce(Seq(("d1", 2L)).toDF("k", "v"), "a-t5"))
      assert(st.appendOnce(Seq(("d2", 3L)).toDF("k", "v"), "5"),
        "distinct tag '5' read as a replay of 'a-t5'")
      assert(st.read(spark).get.count() === 3L)
      // both replays still no-op under the exact parse
      assert(!st.appendOnce(Seq(("d1", 2L)).toDF("k", "v"), "a-t5"))
      assert(!st.appendOnce(Seq(("d2", 3L)).toDF("k", "v"), "5"))
      assert(st.read(spark).get.count() === 3L)
    }
  }

  test("streamed maintenance == the batch-built delta operator") {
    val streamed = DeliveryStore.minhash().drive(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    val batch = graft.query.MinhashIndex.dedupMinhashDelta(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(streamed === batch,
      "stream-maintained index diverges from the batch build")
    assert(streamed.nonEmpty)
  }

  test("the final store chain carries one append per delivery chunk") {
    withTmpDir { tmp =>
      val docs = graft.core.Tables.load(spark, dir, "documents")
      val cut = docs.agg(max(col("doc_id"))).head().getLong(0) * 4 / 5 + 1
      val f = DeliveryStore.minhash()
      val run = DeliveryStore.Run(spark, f.storesAt(tmp), cut, "", docs)
      val (bS, pS) = (run("buckets"), run("postings"))
      bS.overwrite(graft.query.TextSim.bandBucketsOf(
        graft.query.TextSim.shingleHashesOf(
          docs.filter(col("doc_id") < cut)), 32, 8))
      pS.overwrite(graft.query.TextSim.shingleHashesOf(
        docs.filter(col("doc_id") < cut)))
      val delta = docs.filter(col("doc_id") >= cut)
      val ids = delta.select("doc_id").collect().map(_.getLong(0)).sorted
      val (lo, hi) = (ids.head, ids.last)
      val mid = lo + (hi - lo) / 2
      f.append(run, delta.filter(col("doc_id") <= mid), 0L)
      f.append(run, delta.filter(col("doc_id") > mid), 1L)
      // the LIVE manifest references base + one dir PER delivery (the
      // O(delta) append shape); retention keeps live + previous
      // manifests only, so count dirs, not retained versions
      val liveDirs = pS.read(spark).get.inputFiles
        .map(f => f.substring(0, f.lastIndexOf('/'))).distinct
      assert(liveDirs.length === 3,
        s"expected base + 2 delivery dirs, got ${liveDirs.length}")
      val fresh = graft.query.TextSim.shingleHashesOf(docs)
      assert(pS.read(spark).get.count() === fresh.count())
      assert(pS.read(spark).get.except(fresh).count() === 0L)
    }
  }

  test("compact: content bit-preserved, chain collapsed to one dir, " +
      "and a replayed delivery stays a no-op via the tags sidecar") {
    withTmpDir { tmp =>
      val st = new SnapshotStore(tmp.resolve("s").toString)
      st.overwrite(Seq(("base", 1L)).toDF("k", "v"))
      assert(st.appendOnce(Seq(("d7", 2L)).toDF("k", "v"), "7"))
      assert(st.appendOnce(Seq(("d8", 3L)).toDF("k", "v"), "8"))
      val before = st.read(spark).get.collect()
        .map(_.toString).sorted.toSeq
      st.compact(spark)
      assert(st.read(spark).get.collect()
        .map(_.toString).sorted.toSeq === before,
        "compaction changed content")
      val liveDirs = st.read(spark).get.inputFiles
        .map(f => f.substring(0, f.lastIndexOf('/'))).distinct
      assert(liveDirs.length === 1,
        s"expected one compacted dir, got ${liveDirs.length}")
      // the replay beat: the tag-bearing dirs are gone; only the
      // sidecar can stop the re-append
      assert(st.sidecarTags(spark) === Set("7", "8"))
      assert(!st.appendOnce(Seq(("d7", 2L)).toDF("k", "v"), "7"),
        "replay re-appended after compaction")
      assert(st.read(spark).get.count() === 3L)
      // and a genuinely NEW delivery still lands
      assert(st.appendOnce(Seq(("d9", 4L)).toDF("k", "v"), "9"))
      assert(st.read(spark).get.count() === 4L)
      // a second compaction folds the new tag in too
      st.compact(spark)
      assert(st.sidecarTags(spark) === Set("7", "8", "9"))
      assert(!st.appendOnce(Seq(("d9", 4L)).toDF("k", "v"), "9"))
    }
  }

  test("a plain overwrite starts a NEW generation: tags consumed " +
      "against the replaced content must not suppress a re-delivery") {
    withTmpDir { tmp =>
      val st = new SnapshotStore(tmp.resolve("s").toString)
      st.overwrite(Seq(("base", 1L)).toDF("k", "v"))
      assert(st.appendOnce(Seq(("d7", 2L)).toDF("k", "v"), "7"))
      st.compact(spark) // tag 7 now lives only in the sidecar
      assert(st.sidecarTags(spark) === Set("7"))
      // a rebuild-from-scratch: the overwrite retires the chain AND
      // its tag memory with it (the r17-advice hazard — a root-level
      // sidecar would survive here and silently DROP the re-delivery)
      st.overwrite(Seq(("base2", 9L)).toDF("k", "v"))
      assert(st.sidecarTags(spark) === Set.empty)
      assert(st.appendOnce(Seq(("d7", 2L)).toDF("k", "v"), "7"),
        "stale previous-generation tag suppressed a legitimate append")
      assert(st.read(spark).get.count() === 2L)
    }
  }

  test("a pre-r18 ROOT-level _applied_tags file makes appendOnce and " +
      "compact refuse loudly; an overwrite retires it") {
    withTmpDir { tmp =>
      val st = new SnapshotStore(tmp.resolve("s").toString)
      st.overwrite(Seq(("base", 1L)).toDF("k", "v"))
      // plant the legacy artifact the old compact() wrote at the root
      java.nio.file.Files.writeString(
        tmp.resolve("s").resolve("_applied_tags"), "7\n")
      // both silent choices are wrong (honor = cross-generation
      // suppression, ignore = re-append) — the API must refuse
      intercept[IllegalArgumentException] {
        st.appendOnce(Seq(("d8", 2L)).toDF("k", "v"), "8")
      }
      intercept[IllegalArgumentException] { st.compact(spark) }
      // the sanctioned migration: a generation reset retires the file
      st.overwrite(Seq(("base2", 9L)).toDF("k", "v"))
      assert(!java.nio.file.Files.exists(
        tmp.resolve("s").resolve("_applied_tags")))
      assert(st.appendOnce(Seq(("d8", 2L)).toDF("k", "v"), "8"))
    }
  }

  test("compact on a single-dir store is a no-op") {
    withTmpDir { tmp =>
      val st = new SnapshotStore(tmp.resolve("s").toString)
      st.overwrite(Seq(("base", 1L)).toDF("k", "v"))
      val vs = st.versions(spark)
      st.compact(spark)
      assert(st.versions(spark) === vs)
    }
  }

  test("driver key flow: compacted stores serve the exact delta " +
      "pairs and the post-compact replay does not double-count") {
    val got = DeliveryStore.indexCompactCheck(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = graft.query.MinhashIndex.dedupMinhashDelta(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === want)
    assert(got.nonEmpty, "vacuous: no delta pairs on the fixture")
  }
}
