package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.core.Tables
import graft.query.TextSim

/** Streaming near-dup detection: MinHash-LSH dedup as an ONLINE state
  * machine — each arriving document is checked against everything that
  * arrived before it, emitting verified near-dup pairs as they appear.
  * The streaming twin of [[graft.query.TextSim.dedupMinhash]] (and the
  * online form of the persisted index, [[graft.query.MinhashIndex]]):
  * an ingest pipeline flags duplicates AT ARRIVAL instead of in a
  * nightly batch pass.
  *
  * Construction: each doc fans out to its 8 LSH band rows (the batch
  * operator's banding, [[TextSim.bandBucketsOf]]), each carrying the
  * doc's sorted shingle-hash set; state lives per (band, bucket-hash)
  * group — the SAME sharding as the persisted index's bucket table,
  * which is what makes this the online twin: each group's state is
  * that bucket's posting list, hash-partitioned across executors by
  * the group key. A new arrival in a bucket is exact-Jaccard-verified
  * (sorted-merge intersection over the carried shingle sets) against
  * the bucket's members, then appended to the bucket. Pairs are
  * emitted as (min, max) doc_id, so the UNION over buckets equals the
  * batch operator's candidate∘verify set exactly — arrival order and
  * micro-batch boundaries cannot change the result, only WHEN each
  * pair surfaces (MinhashStreamSpec pins batch-equality under a
  * multi-batch drive; a pair colliding in several bands is emitted by
  * each, deduplicated by the drive's batch-side distinct like the
  * batch operator's).
  *
  * State at scale: the bucket posting lists ARE the dedup index — for
  * a dedup service, state legitimately grows with the accepted corpus
  * (this is the one streaming machine here whose state is the product,
  * not a window); the shingle sets dominate it, ~doc tokens × 8 bands.
  * Bounding options at 100 TB are the same as the batch path's: shard
  * by (band, bh) — already the group key — and TTL out buckets whose
  * sources age beyond the dedup horizon. NoTimeout here: the fixture
  * corpus is the horizon. */
object MinhashStream {

  /** One banded arrival: doc `doc_id` in bucket (band, bh), carrying
    * its sorted distinct shingle-hash set. */
  case class BandArrival(doc_id: Long, band: Int, bh: Long,
      sh: Array[Long])

  /** An emitted verified pair (d1 < d2, exact Jaccard ≥ threshold). */
  case class DupHit(d1: Long, d2: Long, jaccard: Double)

  /** The state machine: per-bucket posting list, exact-verify on
    * arrival. Emits every ≥-threshold pair once per colliding bucket. */
  def machine(rows: Dataset[BandArrival], threshold: Double)
      : Dataset[DupHit] = {
    val spark = rows.sparkSession
    import spark.implicits._

    // local defs: the update closure must not capture MinhashStream
    // (NotSerializableException on the executor otherwise)
    def jaccard(a: Array[Long], b: Array[Long]): Double = {
      var i = 0; var j = 0; var c = 0
      while (i < a.length && j < b.length) {
        if (a(i) == b(j)) { c += 1; i += 1; j += 1 }
        else if (a(i) < b(j)) i += 1
        else j += 1
      }
      // HALF_UP at 6 digits — the batch verify stage's round(x, 6)
      BigDecimal(c.toDouble / (a.length + b.length - c))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }

    def update(key: (Int, Long), it: Iterator[BandArrival],
        state: GroupState[List[(Long, Array[Long])]])
        : Iterator[DupHit] = {
      var members = state.getOption.getOrElse(Nil)
      val out = scala.collection.mutable.ListBuffer[DupHit]()
      // doc_id order within the batch: emission order deterministic
      // (the SET emitted is order-free regardless — (min, max) keying)
      it.toSeq.sortBy(_.doc_id).foreach { r =>
        // at-least-once regime: a replayed/duplicate delivery of a doc
        // already in the bucket is a no-op — re-inserting would double
        // its postings and re-emit its pairs (the drive's batch-side
        // distinct would hide the re-emission, but the STATE bloat
        // would be real and permanent)
        if (!members.exists(_._1 == r.doc_id)) {
          members.foreach { case (id, sh) =>
            val j = jaccard(sh, r.sh)
            if (j >= threshold)
              out += DupHit(math.min(id, r.doc_id),
                math.max(id, r.doc_id), j)
          }
          members = (r.doc_id, r.sh) :: members
        }
      }
      state.update(members)
      out.iterator
    }

    rows.groupByKey(r => (r.band, r.bh))
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(update)
  }

  /** The documents table as banded arrivals (batch frame — the drive
    * stages it to parquet and streams it back): one row per (doc,
    * band), carrying the doc's sorted shingle-hash set. */
  private[streaming] def bandedDocs(spark: SparkSession, dir: String)
      : DataFrame = {
    val sh = TextSim.shingleHashesOf(Tables.load(spark, dir, "documents"))
    val shArr = sh.groupBy("doc_id")
      .agg(array_sort(collect_set(col("sh_h"))).as("sh"))
    TextSim.bandBucketsOf(sh).join(shArr, "doc_id")
      .select(col("doc_id"), col("band").cast("int").as("band"),
        col("bh"), col("sh"))
  }

  /** Stage the banded arrival files once per (session, dir) — the
    * shingle+band pass and the staged files are immutable, so only
    * the STREAM belongs in the measured path
    * ([[DriveSupport.stagedOnce]]); each drive run keeps its own
    * checkpoint and sink. */
  private def stagedArrivals(spark: SparkSession, dir: String)
      : (String, org.apache.spark.sql.types.StructType) =
    DriveSupport.stagedOnce(spark, s"mhstream|$dir") { ws =>
      val rows = bandedDocs(spark, dir)
      val inDir = ws.resolve("arrivals").toString
      // range-partitioned staging: four files ≈ four arrival cohorts,
      // so near-dup pairs genuinely straddle trigger boundaries
      rows.repartitionByRange(4, col("doc_id"))
        .write.parquet(inDir)
      (inDir, rows.schema)
    }

  /** Oracle-checked drive (stream_dedup_minhash): stage the banded
    * docs into FOUR doc_id-range files, stream them one file per
    * trigger (state must carry buckets across micro-batches), distinct
    * the per-bucket emissions batch-side, and return the verified
    * pair set — equal to the batch operator's, so the oracle is the
    * full exact-Jaccard ≥ 0.8 pair sweep (the same
    * banding-completeness license as dedup_cluster_minhash). */
  def dedup(spark: SparkSession, dir: String, threshold: Double = 0.8)
      : DataFrame = {
    import spark.implicits._
    val (inDir, schema) = stagedArrivals(spark, dir)
    DriveSupport.memoryDrive(spark, "mhstream", "append") { _ =>
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir)
      machine(stream.as[BandArrival], threshold).toDF()
    } { sink =>
      DriveSupport.pin(spark,
        sink.select("d1", "d2", "jaccard").distinct()
          .orderBy("d1", "d2"))
    }
  }
}
