package graft.ingest

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.MapType

/** Keyed upsert — the reference's core operator (SURVEY.md §2 A8):
  * `UpdateOne({code}, {$set: doc}, upsert=True)` per record, last writer
  * wins (app/processing/data_processor.py:95-113).
  *
  * Spark has no mutable store, so upsert is a set-based merge: one shuffle
  * of `delta ∪ snapshot` hash-partitioned by key, `row_number` per key,
  * keep the winner. At 100 TB the snapshot side would be bucketed by key so
  * the merge is a co-partitioned window with no snapshot shuffle; deltas
  * (weekly 50k-record deliveries) are tiny relative to the snapshot and
  * shuffle cheaply.
  *
  * Two flavors:
  *  - [[merge]]: whole-row last-writer-wins (classic dedup-merge);
  *  - [[mergeFields]]: field-level `$set` parity — a field ABSENT (null) in
  *    the winning delta record keeps its old snapshot value
  *    (data_processor.py:103-110 sets only the new doc's fields). This is
  *    the subtle reference semantic SURVEY.md §7 calls out.
  */
object Upsert {

  private val precedenceCol = "__graft_precedence"
  private val rankCol = "__graft_rn"

  /** Whole-row last-writer-wins merge of `delta` into `snapshot` on `key`,
    * ordering winners by `version` (descending) then delta-over-snapshot.
    * Schemas may differ — union is by name with missing columns null. */
  def merge(snapshot: DataFrame, delta: DataFrame, key: String,
      version: Seq[Column] = Nil): DataFrame = {
    val tagged = delta.withColumn(precedenceCol, lit(1))
      .unionByName(snapshot.withColumn(precedenceCol, lit(0)),
        allowMissingColumns = true)
    // final content-hash tiebreak: deterministic under any partitioning
    val tiebreak = md5(to_json(struct(
      tagged.columns.filterNot(_ == precedenceCol).map(col).toIndexedSeq: _*)))
    val w = Window.partitionBy(col(key))
      .orderBy((col(precedenceCol).desc +: version.map(_.desc)) :+
        tiebreak.desc: _*)
    tagged.withColumn(rankCol, row_number().over(w))
      .filter(col(rankCol) === 1)
      .drop(precedenceCol, rankCol)
  }

  /** Field-level `$set` merge — the reference applies each record's
    * `$set` sequentially (data_processor.py:103-110), so the merged row
    * per key composes ALL contributions in version order: each field
    * takes its last non-null value, map fields (`extras`) merge
    * version-ascending with later keys overwriting, and `mergeWholly`
    * columns (provenance stamps) come from the winning record even when
    * null there.
    *
    * Ordering is the vector (`version`…, delta-over-snapshot,
    * content-hash): the caller's `version` (the streaming path passes
    * the upload-timestamp-prefixed file name) dominates, so a delivery
    * replayed or delivered OUT OF ORDER across micro-batches cannot
    * overwrite a newer snapshot — the merge is commutative over batch
    * boundaries, idempotent under replay, and (via the content-hash
    * tiebreak, never a partition-layout artifact) deterministic even
    * with no version at all. Implemented as one field-level collapse
    * over the tagged union: one hash shuffle on the key, collect_list
    * bounded by records-per-key (snapshot contributes exactly one). */
  def mergeFields(snapshot: DataFrame, delta: DataFrame, key: String,
      version: Seq[Column] = Nil,
      mergeWholly: Set[String] = Set("file_id", "last_modified_at_company"))
      : DataFrame = {
    val tagged = delta.withColumn(precedenceCol, lit(1))
      .unionByName(snapshot.withColumn(precedenceCol, lit(0)),
        allowMissingColumns = true)
    val dataCols = tagged.columns.filterNot(c =>
      c == key || c == precedenceCol)
    val contentTiebreak =
      md5(to_json(struct(dataCols.map(col).toIndexedSeq: _*)))
    val vCol = struct(
      (version :+ col(precedenceCol)) :+ contentTiebreak: _*)
    val collapsed = dataCols.map { c =>
      // array_sort with a comparator on v only — sort_array would demand
      // the whole struct be orderable, which map-typed fields are not
      val sorted = array_sort(
        collect_list(struct(vCol.as("v"), col(c).as("x"))), versionCmp)
      extractField(c, tagged.schema(c).dataType, sorted, mergeWholly)
    }
    tagged.groupBy(col(key)).agg(collapsed.head, collapsed.tail: _*)
  }

  /** Comparator over the version struct only — sort_array would demand
    * the whole element be orderable, which map-typed payloads are not. */
  private val versionCmp: (Column, Column) => Column = (l, r) =>
    when(l.getField("v") < r.getField("v"), -1)
      .when(l.getField("v") > r.getField("v"), 1).otherwise(0)

  /** Field collapse over a version-sorted (v, x) array — the single
    * source of truth for `$set` semantics, shared by the union-form
    * [[mergeFields]] and the join-form [[mergeFieldsJoin]]. */
  private def extractField(c: String,
      dt: org.apache.spark.sql.types.DataType, sorted: Column,
      mergeWholly: Set[String]): Column = dt match {
    case _ if mergeWholly.contains(c) =>
      // provenance: the value AT the max version, nulls included
      get(sorted, size(sorted) - 1).getField("x").as(c)
    case mt: MapType =>
      aggregate(sorted, lit(null).cast(mt), (acc, e) => {
        val m = e.getField("x")
        when(m.isNull, acc).when(acc.isNull, m)
          .otherwise(map_concat(
            map_filter(acc, (k, _) => !map_contains_key(m, k)), m))
      }).as(c)
    case _ =>
      // get() (not element_at): null, not an ANSI error, when every
      // value for the field is null and the filtered array is empty
      get(filter(reverse(sorted), e => e.getField("x").isNotNull),
        lit(0)).getField("x").as(c)
  }

  /** Join-form field-level merge: bit-identical semantics to
    * [[mergeFields]] (BucketedUpsertSpec property-ties them on random
    * inputs) PROVIDED (1) the snapshot is key-unique — which the output
    * of any previous merge is by construction (a snapshot with
    * duplicate keys would fan each duplicate out against the collapsed
    * delta where the union form collapses them) — and (2) the key is
    * non-null, which ingest validation guarantees (null-key rows would
    * pass the equi-join unmatched; see the join-site comment for why
    * `<=>` is not an option). With the 100 TB plan shape
    * — the DELTA alone is collapsed (one
    * small shuffle), then full-outer-joined against the snapshot and the
    * snapshot's contribution spliced into each field's version-sorted
    * array AFTER the join. When the snapshot is a bucketed table on
    * `key` ([[SnapshotStore]] bucketed mode), its side of the join needs
    * NO exchange: the nightly merge reads 100 TB in place and shuffles
    * only the weekly delivery (BucketedUpsertSpec asserts the plan). */
  def mergeFieldsJoin(snapshot: DataFrame, delta: DataFrame, key: String,
      version: Seq[Column] = Nil,
      mergeWholly: Set[String] = Set("file_id", "last_modified_at_company"))
      : DataFrame = {
    // align both sides to the union-form's column universe and ORDER
    // (delta's columns, then snapshot-only ones) — the content-hash
    // tiebreak serializes this struct, so order parity matters
    val snapTypes = snapshot.schema.map(f => f.name -> f.dataType).toMap
    val deltaTypes = delta.schema.map(f => f.name -> f.dataType).toMap
    val allCols = delta.columns ++
      snapshot.columns.filterNot(delta.columns.contains)
    val dataCols = allCols.filterNot(_ == key)
    def aligned(df: DataFrame): DataFrame = {
      val have = df.columns.toSet
      df.select(allCols.map(c => (if (have(c)) col(c)
        else lit(null).cast(deltaTypes.getOrElse(c, snapTypes(c))))
        .as(c)).toIndexedSeq: _*)
    }
    val contentTiebreak =
      md5(to_json(struct(dataCols.map(col).toIndexedSeq: _*)))
    def vOf(precedence: Int) =
      struct((version :+ lit(precedence)) :+ contentTiebreak: _*)

    // collapse the delta only: per field a version-sorted (v, x) array,
    // bounded by records-per-key within the delivery
    val dAligned = aligned(delta).withColumn("__v", vOf(1))
    val arrCols = dataCols.map(c => array_sort(
      collect_list(struct(col("__v").as("v"), col(c).as("x"))), versionCmp)
      .as(s"__arr_$c"))
    val collapsed = dAligned.groupBy(col(key))
      .agg(arrCols.head, arrCols.tail: _*)
      .withColumn("__d_present", lit(true))

    val sAligned = aligned(snapshot)
      .withColumn("__sv", vOf(0))
      .withColumn("__s_present", lit(true))
    val sRenamed = sAligned.select((col(key).as("__s_key") +:
      dataCols.map(c => col(c).as(s"__s_$c")) :+
      col("__sv") :+ col("__s_present")).toIndexedSeq: _*)

    // plain equality, deliberately: null-safe `<=>` would make Spark
    // hash-partition on coalesce(key), which a bucketed snapshot's
    // layout cannot satisfy — the whole no-snapshot-shuffle point dies.
    // The PRECONDITION (scaladoc) is a non-null key, which the pipeline
    // guarantees: records without `code` fail validation and never
    // reach a merge. (The union form tolerates null keys; this form
    // would emit a null-key snapshot row and delta row unmerged.)
    val joined = collapsed
      .join(sRenamed, col(key) === col("__s_key"), "full_outer")
    val merged = dataCols.map { c =>
      val dt = deltaTypes.getOrElse(c, snapTypes(c))
      val snapElem = array(struct(col("__sv").as("v"),
        col(s"__s_$c").as("x")))
      // splice the snapshot row into the delta's sorted array — the
      // version struct (not blanket snapshot-loses) decides its rank,
      // so out-of-order redelivery cannot clobber a newer snapshot
      val full = when(col("__s_present").isNull, col(s"__arr_$c"))
        .when(col("__d_present").isNull, snapElem)
        .otherwise(array_sort(
          concat(col(s"__arr_$c"), snapElem), versionCmp))
      extractField(c, dt, full, mergeWholly)
    }
    joined.select(coalesce(col(key), col("__s_key")).as(key) +:
      merged.toIndexedSeq: _*)
  }

  /** Bucket-grain copy-on-write delivery commit — the O(delta)-write
    * nightly merge: restrict the join-form field merge to the buckets
    * the delta actually TOUCHES (bucket id = Spark's own bucketBy
    * assignment, `pmod(hash(key), n)` — Murmur3, the same expression
    * HashPartitioning derives; the CoW spec's read-back-equality check
    * is the canary if that pairing ever drifted), then publish via
    * [[SnapshotStore.overwriteCow]], which inherits every untouched
    * bucket's files from the live version unrewritten. A bucket the
    * delta does not hash into cannot contain a delta key, so its
    * post-merge content is its current content — exactness, not an
    * approximation. Idempotent under replay like the full-merge path
    * (re-merging an already-applied delivery converges: the version
    * vector decides winners, not arrival order). Returns the touched
    * bucket ids (observability; ≤ n by construction — the collect is
    * bucket-count-bounded, never data-bounded). */
  def commitDeltaCow(store: SnapshotStore, snapshot: DataFrame,
      delta: DataFrame, key: String, version: Seq[Column] = Nil,
      mergeWholly: Set[String] = Set("file_id", "last_modified_at_company"),
      tags: Set[String] = Set.empty): Set[Int] = {
    val (bKey, n) = store.bucket.getOrElse(sys.error(
      "commitDeltaCow requires a bucketed store"))
    require(bKey == key,
      s"merge key $key must be the store's bucket key $bKey")
    val bucketOf = pmod(hash(col(key)), lit(n))
    val touched = delta.select(bucketOf.as("__b")).distinct()
      .collect().map(_.getInt(0)).toSet
    val merged = mergeFieldsJoin(
      snapshot.filter(bucketOf.isin(touched.toSeq: _*)), delta, key,
      version, mergeWholly)
    store.overwriteCow(merged, touched, tags)
    touched
  }

  /** [[commitDeltaCow]] EXACTLY ONCE per `tag` — the bucketed store's
    * [[SnapshotStore.appendOnce]], closing the lifecycle gap the
    * append-mode stores closed in r17: the CoW merge is idempotent
    * under an IMMEDIATE replay (the version vector decides winners),
    * but a delivery replayed AFTER a newer delivery merged the same
    * keys would re-rank against the now-older version column and is
    * only safe when every caller threads a total version order — the
    * tag memory removes that obligation entirely. The tag lands in
    * the new version dir's [[SnapshotStore.sidecarTags]] sidecar
    * (single-dir manifests, so the sidecar is THE carrier — there are
    * no tag-named dirs to fall back on), atomic with the commit, and
    * EVERY CoW commit — tagged or plain — carries the generation's
    * accumulated tags forward ([[SnapshotStore.overwriteCow]]), so a
    * replayed delivery finds its tag in the live sidecar and commits
    * nothing even across interleaved plain deliveries. A plain
    * [[SnapshotStore.overwrite]] starts a new generation and retires
    * the memory with the content it guarded. Returns Some(touched
    * bucket ids) iff this call committed, None on a replay.
    *
    * Tags must already be `[A-Za-z0-9_-]+` — REJECTED otherwise, not
    * sanitized: a lossy rewrite would let two distinct caller tags
    * ('wk 01' / 'wk:01') share one memory slot and silently suppress a
    * legitimate second delivery as a phantom replay. Refuses to run
    * next to a pre-r18 root-level `_applied_tags` file, like every
    * exactly-once operation ([[SnapshotStore.appendOnce]]'s guard).
    *
    * Concurrency: single writer per store is the documented model
    * (compact's scaladoc), and the entry read here is only a fast-path
    * replay skip — the closing check lives INSIDE
    * [[SnapshotStore.overwriteCow]], which re-checks the tag against
    * the SAME manifest snapshot its sequence number derives from: a
    * concurrent committer publishing in between either surfaces the
    * tag there (loud lost-race refusal) or bumps the sequence (the
    * rename-to-fresh-name refusal). Exactly one side commits; the
    * loser's retry lands on the None fast path. */
  def commitDeltaCowOnce(store: SnapshotStore, snapshot: DataFrame,
      delta: DataFrame, key: String, tag: String,
      version: Seq[Column] = Nil,
      mergeWholly: Set[String] = Set("file_id", "last_modified_at_company"))
      : Option[Set[Int]] = {
    val spark = delta.sparkSession
    SnapshotStore.requireCleanTag(tag)
    store.requireNoLegacyTags(spark)
    if (store.sidecarTags(spark).contains(tag)) None
    else Some(commitDeltaCow(store, snapshot, delta, key, version,
      mergeWholly, tags = Set(tag)))
  }
}

/** Key-level change classification between two snapshot versions — the
  * audit [[SnapshotStore]]'s bounded retention window exists for:
  * "what did this delivery actually do?" One full-outer join on the
  * key; null-safe comparison over the chosen columns. At 100 TB both
  * sides are bucketed versions of the SAME store, so the join is
  * bucket-aligned (no exchange on either side). */
object SnapshotDiff {

  /** One row per key present in either frame, with `change` ∈
    * added | removed | changed | unchanged (w.r.t. `compare` columns). */
  def diff(before: DataFrame, after: DataFrame, key: String,
      compare: Seq[String]): DataFrame = {
    require(compare.nonEmpty, "diff needs at least one compare column")
    val b = before.select(col(key).as("__bk") +:
      compare.map(c => col(c).as(s"__b_$c")): _*)
    val a = after.select(col(key).as("__ak") +:
      compare.map(c => col(c).as(s"__a_$c")): _*)
    val changed = compare.map(c => !(col(s"__a_$c") <=> col(s"__b_$c")))
      .reduce(_ || _)
    a.join(b, col("__ak") === col("__bk"), "full_outer")
      .select(coalesce(col("__ak"), col("__bk")).as(key),
        when(col("__bk").isNull, "added")
          .when(col("__ak").isNull, "removed")
          .when(changed, "changed")
          .otherwise("unchanged").as("change"))
  }
}

/** Atomic snapshot table via a manifest-pointer swap (the Iceberg/Delta-
  * style public pattern) — readers never observe a partial upsert, the
  * property MongoDB gave the reference for free, and there is NO window in
  * which no snapshot is referenced (a rename(dst→old);rename(tmp→dst)
  * two-step has one).
  *
  * Layout under `path`:
  *   MANIFEST-<seq>   one-line pointer file naming the live version dir
  *   v-<seq>-<uuid>/  immutable parquet version dirs
  *
  * Commit = rename of a fully-written tmp manifest to a NEW
  * `MANIFEST-<seq>` name (rename-to-fresh-name is atomic on HDFS and
  * local FS). Readers resolve max-seq manifest → version dir. The
  * previous version is retained through one commit (in-flight readers
  * finish against it); older versions and manifests are GC'd.
  * Idempotent under replay (Structured Streaming at-least-once + this =
  * effective exactly-once, SURVEY.md §2 A15).
  *
  * `bucket = Some((key, n))` writes every version BUCKETED on the merge
  * key (hash-bucket files + a catalog table entry whose location is the
  * version dir). Readers then get a bucket-aware scan, so the nightly
  * [[Upsert.mergeFieldsJoin]] joins the snapshot WITHOUT shuffling it —
  * the 100 TB shape: pay hash-layout once per commit, read in place
  * forever after. If the catalog entry is gone (fresh JVM — the
  * in-memory catalog dies with the session) the same files read as
  * plain parquet: correctness never depends on the catalog, only the
  * exchange-free plan does.
  *
  * `partition = Some(col)` writes every version `partitionBy(col)` —
  * the directory layout queries prune by (`PartitionFilters` at the
  * scan). Directory-derived partition values are TYPE-INFERRED on
  * read (a long cid would come back int), so each partitioned version
  * dir carries a `_graft_schema.json` sidecar pinning the writer's
  * exact schema; readers apply it, making the partition column's type
  * and position bit-stable across JVMs. Underscore prefix = parquet
  * metadata convention, invisible to any plain reader of the dir.
  *
  * A manifest names one or more data dirs (newline-separated):
  * [[overwrite]] publishes a single-dir manifest; [[append]] publishes
  * the previous manifest's dirs PLUS one new delta dir — an
  * Iceberg-style fast append whose write cost is O(delta), not
  * O(table): existing files are never rewritten, the new manifest just
  * references more of them. Readers union the listed dirs in one
  * multi-root scan (partition pruning still applies per root).
  *
  * `schema = Some(s)` reads every version of a plain-layout store with
  * the writer's known schema instead of inferring it: a parquet schema
  * inference is a Spark job, paid on every read of the store. Only for
  * the plain layout (bucketed reads take the catalog's schema,
  * partitioned ones their sidecar); `s` must be the schema parquet
  * reads back, so every column nullable.
  *
  * @param staleTmpMs age after which an orphaned `.manifest-tmp-*`
  *   (a committer killed between tmp write and rename) is GC'd by the
  *   next successful commit. Age-gated because a CONCURRENT committer's
  *   in-flight tmp — written moments ago — must survive another
  *   commit's sweep; deleting it would turn that committer's rename
  *   into a spurious lost-race failure. Orphans are inert meanwhile:
  *   readers only resolve `MANIFEST-<seq>` names, never tmp files, so
  *   a torn or complete leftover tmp can never be taken for a
  *   manifest (SnapshotCrashSpec pins all of this with staleTmpMs=0). */
class SnapshotStore(val path: String,
    val bucket: Option[(String, Int)] = None,
    val partition: Option[String] = None,
    val staleTmpMs: Long = 3600000L,
    val schema: Option[org.apache.spark.sql.types.StructType] = None) {
  require(bucket.isEmpty || partition.isEmpty,
    "bucketed and partitioned layouts are mutually exclusive")
  require(schema.isEmpty || (bucket.isEmpty && partition.isEmpty),
    "a known schema applies to the plain layout only")

  private val manifestRe = "MANIFEST-(\\d+)".r

  private def fs(spark: SparkSession) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // table name derived from the VERSION DIR name (which carries a
  // uuid), not the sequence number: two racing committers at the same
  // seq then register DISTINCT catalog entries, and the loser's entry
  // can never shadow the winner's committed data — the manifest names
  // the dir, the dir names the table. md5 (not hashCode): recomputable
  // and collision-safe across stores.
  private def tableName(versionDir: String): String =
    "graft_snap_" + graft.core.Caches.md5Tag(s"$path|$versionDir", 16)

  /** (seq, data dirs) pairs of committed manifests, ascending. A
    * manifest body is one dir name per line — single-dir for
    * [[overwrite]] commits, multi-dir for [[append]] chains. */
  private def manifests(spark: SparkSession): Seq[(Long, Seq[String])] = {
    val f = fs(spark)
    val root = new Path(path)
    if (!f.exists(root)) return Nil
    f.listStatus(root).toIndexedSeq.flatMap { st =>
      st.getPath.getName match {
        case manifestRe(seq) =>
          val in = f.open(st.getPath)
          try {
            val dirs = new String(
              org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
              .split("\n").map(_.trim).filter(_.nonEmpty).toIndexedSeq
            if (dirs.nonEmpty) Some(seq.toLong -> dirs) else None
          } finally in.close()
        case _ => None
      }
    }.sortBy(_._1)
  }

  /** Read the sidecar-pinned schema of a partitioned version dir. */
  private def sidecarSchema(spark: SparkSession, v: String)
      : org.apache.spark.sql.types.StructType = {
    val f = fs(spark)
    val in = f.open(new Path(s"$path/$v/_graft_schema.json"))
    val json = try new String(
        org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
      finally in.close()
    org.apache.spark.sql.types.DataType.fromJson(json)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
  }

  /** Bucket-aware read when the catalog still has the version's table;
    * schema-pinned multi-root read for partitioned layouts; plain
    * parquet otherwise. */
  private def readVersion(spark: SparkSession, seq: Long, dirs: Seq[String])
      : DataFrame = {
    val paths = dirs.map(v => s"$path/$v")
    if (bucket.isDefined &&
        spark.catalog.tableExists(tableName(dirs.head)))
      spark.table(tableName(dirs.head))
    else if (partition.isDefined) {
      // newest dir's sidecar: all dirs in one manifest share the
      // schema. One read PER root, unioned — a single multi-path read
      // would make partition discovery hunt for a common base dir and
      // reject the version-dir layout; filters (including partition
      // filters) push through the union into every branch's scan.
      val schema = sidecarSchema(spark, dirs.last)
      paths.map(p => spark.read.schema(schema).parquet(p))
        .reduce(_.unionByName(_))
        // Spark surfaces the partition column LAST regardless of the
        // given schema; re-select into the writer's recorded order so
        // readers get back exactly what was written
        .select(schema.fieldNames.map(
          org.apache.spark.sql.functions.col).toIndexedSeq: _*)
    } else schema.fold(spark.read)(spark.read.schema).parquet(paths: _*)
  }

  def exists(spark: SparkSession): Boolean = manifests(spark).nonEmpty

  def read(spark: SparkSession): Option[DataFrame] =
    manifests(spark).lastOption.map { case (seq, v) =>
      readVersion(spark, seq, v)
    }

  /** The live head from ONE manifest listing: its `seq` and a reader
    * that resolves exactly that version, or None before the first
    * commit. A seq names one immutable version (dirs are never
    * rewritten, and a commit only ever adds a higher seq), so a caller
    * may key anything it derives from the reader on the seq and reuse it
    * for as long as the seq stays live — the serving memo in
    * [[graft.Graft]] does. The reader resolves lazily: a caller whose
    * seq is already memoized pays for the listing only. */
  def live(spark: SparkSession): Option[(Long, () => DataFrame)] =
    manifests(spark).lastOption.map { case (seq, v) =>
      seq -> (() => readVersion(spark, seq, v))
    }

  /** Retained snapshot sequence numbers, ascending. Retention keeps the
    * live and previous versions — a bounded time-travel window (enough
    * to diff a delivery against the pre-delivery state, the audit a
    * weekly pipeline actually needs; widen the GC in [[overwrite]] for
    * a longer horizon). */
  def versions(spark: SparkSession): Seq[Long] = manifests(spark).map(_._1)

  /** Read a specific retained version; None once GC'd. */
  def readAt(spark: SparkSession, seq: Long): Option[DataFrame] =
    manifests(spark).find(_._1 == seq).map { case (s, v) =>
      readVersion(spark, s, v)
    }

  /** Test seam: runs after the version dir and tmp manifest are fully
    * written, immediately before the atomic manifest rename — lets the
    * concurrent-commit race test hold two committers at the exact
    * commit point so both target the same sequence number, and the
    * crash test SIGKILL one there. No-op in production. */
  protected def beforePublish(seq: Long): Unit = ()

  /** Test seam: runs at the top of [[commit]], immediately before its
    * manifest read — lets the tagged-append race test plant a
    * concurrent same-tag publish in the window between
    * [[appendOnce]]'s pre-check and the commit's own snapshot, proving
    * the commit-side tag re-check refuses loudly. No-op in
    * production. */
  protected def beforeCommitRead(): Unit = ()

  /** Test seam: the tmp-manifest body write — the crash test overrides
    * it to park a committer MID-write (bytes flushed, stream open) for
    * a SIGKILL, proving a torn tmp file is inert. Production behavior
    * is the plain one-line write. */
  protected def writeManifestBody(out: java.io.OutputStream,
      body: String): Unit =
    out.write(body.getBytes("UTF-8"))

  /** Atomically publish `df` as the new live snapshot. */
  def overwrite(df: DataFrame): Unit = commit(df, appendMode = false)

  /** Atomically publish base∪`df` — the previous manifest's dirs plus
    * one fresh delta dir — as the new live snapshot. Write cost is
    * O(delta): no existing file is touched, the new manifest simply
    * references one more dir. Same crash/race story as [[overwrite]]
    * (tmp-manifest + rename-to-fresh-name); a replayed append after a
    * mid-commit kill re-derives the same base dirs and re-publishes.
    * On an empty store, append == overwrite. Unsupported for bucketed
    * stores (a bucketed table is one catalog entry per dir). */
  def append(df: DataFrame): Unit = {
    require(bucket.isEmpty, "append is not supported on bucketed stores")
    commit(df, appendMode = true)
  }

  /** Append exactly once per `tag` — the idempotence a streaming
    * `foreachBatch` replay needs: the tag is embedded in the version
    * DIR name, so a committed delivery is visible in the live
    * manifest's own dir list and a replayed micro-batch re-appends
    * nothing. Tags must already be `[A-Za-z0-9_-]+` — REJECTED
    * otherwise, not sanitized: a lossy rewrite would let two distinct
    * caller tags collapse into one memory slot and silently suppress
    * the second delivery as a phantom replay. Returns true iff this
    * call committed. A blind [[append]] is NOT replay-safe (each retry
    * would re-reference a fresh delta dir); an index maintained from a
    * stream must append through this. */
  def appendOnce(df: DataFrame, tag: String): Boolean = {
    require(bucket.isEmpty, "appendOnce is not supported on bucketed stores")
    SnapshotStore.requireCleanTag(tag)
    val spark = df.sparkSession
    requireNoLegacyTags(spark)
    // dirTags parses the FULL embedded tag (uuids are hex, so the
    // leftmost `-t` is always the marker) — an endsWith check here
    // would let tag 'a-t5' shadow a later tag '5' (dir …-ta-t5 ends
    // with -t5), re-opening the shared-memory-slot hazard
    // requireCleanTag closed for the sanitizer
    val committed = manifests(spark).lastOption
      .exists(m => dirTags(m._2).contains(tag)) ||
      sidecarTags(spark).contains(tag)
    if (committed) false
    else { commit(df, appendMode = true, nameTag = Some(tag)); true }
  }

  /** The durable applied-tags memory, scoped to the LIVE manifest's
    * GENERATION: [[appendOnce]] embeds each tag in its version DIR
    * name, but [[compact]] collapses those dirs away — without a
    * sidecar a delivery REPLAYED after a compaction would no longer
    * find its tag in the live manifest and would re-append, exactly
    * the cross-commit corruption appendOnce exists to prevent. The
    * memory lives in an `_applied_tags` file INSIDE a version dir
    * (underscore prefix — invisible to Spark's file listing, like
    * `_SUCCESS`), so it is atomic with the commit that wrote it (the
    * dir is fully written before the manifest rename) and is RETIRED
    * with the data it guards: a plain [[overwrite]] publishes a fresh
    * dir with no sidecar, starting a new generation with no tag
    * residue — a tag consumed against content a later overwrite
    * replaced must not suppress a legitimate re-delivery against the
    * new content. Reads are the union over the live manifest's dirs
    * (an append chain keeps its compacted head dir referenced, so the
    * folded tags stay visible until the next overwrite/compact). */
  private[graft] def sidecarTags(spark: SparkSession): Set[String] =
    sidecarTagsOf(fs(spark),
      manifests(spark).lastOption.map(_._2).getOrElse(Nil))

  /** [[sidecarTags]] over an explicit dir list — so a committer can
    * derive the live tag memory from the SAME manifest snapshot its
    * sequence number comes from (one read, no window between the two;
    * see [[overwriteCow]]). */
  private def sidecarTagsOf(f: org.apache.hadoop.fs.FileSystem,
      dirs: Seq[String]): Set[String] =
    dirs.flatMap { d =>
      val p = new Path(s"$path/$d/_applied_tags")
      if (!f.exists(p)) Nil
      else {
        val in = f.open(p)
        try new String(
            org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
          .split("\n").map(_.trim).filter(_.nonEmpty).toSeq
        finally in.close()
      }
    }.toSet

  /** Write `tags` as `version`'s in-dir sidecar — must run after the
    * dir's data files and before [[publish]], so the memory is atomic
    * with the commit (a crash pre-publish leaves both as one
    * age-swept orphan; there is no window where the tags and the data
    * they guard disagree). */
  private def writeTagsSidecar(f: org.apache.hadoop.fs.FileSystem,
      version: String, tags: Set[String]): Unit = {
    val out = f.create(new Path(s"$path/$version/_applied_tags"), true)
    try out.write(tags.toSeq.sorted.mkString("\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Pre-r18 stores kept the tag memory in a ROOT-level
    * `_applied_tags` file, which outlived the generations it guarded
    * (the r17-advice data-loss hazard the in-dir design fixes). The
    * exactly-once operations REFUSE to run next to one — silent
    * choices here are both wrong (honoring it re-introduces the
    * cross-generation suppression; ignoring it re-appends deliveries
    * it recorded). A plain [[overwrite]] retires it with the
    * generation, which is the sanctioned migration: rebuild, or fold
    * the file's lines into the live dir by hand. */
  private def legacyTagsPath = new Path(s"$path/_applied_tags")

  private[ingest] def requireNoLegacyTags(spark: SparkSession): Unit =
    require(!fs(spark).exists(legacyTagsPath),
      s"$path carries a pre-r18 ROOT-level _applied_tags file; " +
        "overwrite the store (retiring the old generation's memory) " +
        "or fold its tags into the live version dir's _applied_tags " +
        "before using appendOnce/compact")

  private def dirTags(dirs: Seq[String]): Set[String] =
    dirs.flatMap("-t([A-Za-z0-9_-]+)$".r
      .findFirstMatchIn(_).map(_.group(1))).toSet

  /** COMPACT the live snapshot: rewrite its content (a chain of N
    * version dirs after N deliveries) as ONE fresh commit — the
    * maintenance pass a long-lived delta chain needs so reads stop
    * paying an N-way union. Content is bit-preserved (the new commit
    * is written FROM the live read), and the exactly-once memory
    * survives: the compacted-away dirs' `-t` tags (plus any
    * previously-folded sidecar) are folded into the new dir's own
    * [[sidecarTags]] sidecar, written WITH the dir before the manifest
    * flip — atomic with the commit, no sidecar-vs-data ordering window
    * at all. NOT unsupported-bucketed by accident: a bucketed store's
    * manifests are single-dir by construction ([[append]] is
    * disallowed; [[overwrite]]/[[overwriteCow]] both publish one dir),
    * so a union chain can never form — compaction is unnecessary
    * there, not missing. A writer racing the compaction commits
    * through the same manifest protocol: the loser's rename fails
    * LOUDLY, no torn state and no lost tag in either interleaving
    * (CompactAppendRaceSpec holds both at the commit point
    * cross-process and audits the survivor state), and the loser's
    * retry re-derives from the winner's manifest — which [[compact]]
    * and [[appendOnce]] both do by construction on entry. */
  def compact(spark: SparkSession): Unit = {
    require(bucket.isEmpty, "compact is not supported on bucketed stores")
    requireNoLegacyTags(spark)
    manifests(spark).lastOption.foreach { case (seq, dirs) =>
      if (dirs.size > 1)
        commit(readVersion(spark, seq, dirs), appendMode = false,
          tagsSidecar = sidecarTags(spark) ++ dirTags(dirs))
    }
  }

  /** Bucket-grain COPY-ON-WRITE commit (bucketed stores only) — the
    * Mongo-parity write cost the reference's per-record upsert gets for
    * free (data_processor.py:95-113): a weekly delivery must not
    * rewrite the whole corpus. `merged` carries the full post-merge
    * content of the `touched` buckets ONLY (the caller restricts the
    * merge to them — untouched buckets contain no delta key by the
    * bucket-hash definition, so their post-merge content IS their
    * current content); it is freshly written, while every untouched
    * bucket's files are INHERITED from the live version — hard-linked
    * on a local filesystem (O(1) metadata per file, byte-identical by
    * inode), copied as the fallback where links are unsupported. Write
    * volume is O(delta-touched buckets) ≈ O(delta × corpus/n), never
    * O(corpus). On an object store / HDFS at 100 TB the same move is a
    * manifest-level file reference (the Iceberg copy-on-write pattern:
    * a new snapshot lists old data files it did not rewrite); linking
    * into one directory is the local-FS rendering that keeps Spark's
    * builtin bucketed-table reader — one catalog entry per version
    * dir — and therefore the exchange-free merge join.
    *
    * Bucket membership is parsed from file names by Spark's OWN rule
    * (graftbridge.Bridge.bucketId), so the commit cannot disagree with
    * the reader about which files it inherited. GC of the previous
    * version dir is link-safe: the inherited names in the new dir hold
    * their inodes live. Same crash/race story as [[overwrite]] — the
    * version dir is fully written (links included) before the atomic
    * manifest rename publishes it. On an empty store this IS
    * [[overwrite]].
    *
    * `tags` — this delivery's exactly-once memory
    * ([[Upsert.commitDeltaCowOnce]] passes its tag). The previous
    * generation's [[sidecarTags]] are carried forward UNCONDITIONALLY
    * and written into the new version dir's sidecar: a CoW commit is
    * a content UPDATE within the generation (the untouched buckets'
    * files are literally inherited), so the replay memory guarding
    * that content must ride along even when the committer itself is a
    * plain tag-less [[Upsert.commitDeltaCow]] — otherwise one plain
    * delivery between two exactly-once ones would silently erase the
    * memory while keeping the data it guards live. Only a plain
    * [[overwrite]] — full content replacement — retires the tags. */
  def overwriteCow(merged: DataFrame, touched: Set[Int],
      tags: Set[String] = Set.empty): Unit = {
    val (key, n) = bucket.getOrElse(sys.error(
      "overwriteCow requires a bucketed store"))
    require(touched.forall(b => b >= 0 && b < n),
      s"touched bucket ids must be in [0, $n)")
    val spark = merged.sparkSession
    val f = fs(spark)
    val committed = manifests(spark)
    // the live tag memory, derived from the SAME manifest read the
    // commit's sequence number comes from: a concurrent committer that
    // published our tag before this read surfaces HERE (loud refusal);
    // one that publishes after it bumps the sequence and the
    // rename-to-fresh-name in publish() refuses. No interleaving lets
    // two committers both land one tag (the r18-advice window between
    // a separate sidecarTags read and a later manifests read is gone).
    val live = sidecarTagsOf(f,
      committed.lastOption.map(_._2).getOrElse(Nil))
    val dup = tags.intersect(live)
    if (dup.nonEmpty)
      throw new java.io.IOException(
        s"delivery tag(s) ${dup.mkString(",")} already applied to " +
          s"$path — lost exactly-once commit race")
    val carried = tags ++ live
    if (committed.isEmpty) {
      commit(merged, appendMode = false, tagsSidecar = carried); return
    }
    val seq = committed.last._1 + 1
    // bucketed manifests are single-dir by construction (append is
    // disallowed; overwrite and cow both publish one dir)
    val prevDir = committed.last._2.head
    val version = s"v-$seq-${java.util.UUID.randomUUID()}"
    merged.write.mode("overwrite")
      .option("path", s"$path/$version")
      .bucketBy(n, key).sortBy(key)
      .saveAsTable(tableName(version))
    f.listStatus(new Path(s"$path/$prevDir")).foreach { st =>
      val name = st.getPath.getName
      org.apache.spark.sql.graftbridge.Bridge.bucketId(name) match {
        case Some(b) if !touched.contains(b) =>
          inherit(f, st.getPath, new Path(s"$path/$version/$name"))
        case _ => () // touched bucket or non-data file (_SUCCESS)
      }
    }
    if (carried.nonEmpty) writeTagsSidecar(f, version, carried)
    publish(spark, committed, seq, version, version)
  }

  /** Zero-copy file inheritance: hard link where the filesystem
    * supports it, byte copy as the fallback. Local-only optimization
    * by design — see [[overwriteCow]] for the 100 TB equivalent. */
  private def inherit(f: org.apache.hadoop.fs.FileSystem,
      src: Path, dst: Path): Unit = {
    val linked = f.getScheme == "file" && {
      try {
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(dst.toUri.getPath),
          java.nio.file.Paths.get(src.toUri.getPath))
        true
      } catch { case _: Exception => false }
    }
    if (!linked)
      org.apache.hadoop.fs.FileUtil.copy(f, src, f, dst, false, f.getConf)
  }

  private def commit(df: DataFrame, appendMode: Boolean,
      nameTag: Option[String] = None,
      tagsSidecar: Set[String] = Set.empty): Unit = {
    val spark = df.sparkSession
    val f = fs(spark)
    beforeCommitRead()
    val committed = manifests(spark)
    // tagged appends re-check the exactly-once memory against the SAME
    // manifest read the sequence number derives from (the overwriteCow
    // rule): [[appendOnce]]'s own pre-check and this read are separate
    // filesystem reads, so a concurrent same-tag committer publishing
    // between them would otherwise be seen here as just a new head and
    // the tag would land twice. With the re-check, a publish before
    // this read surfaces HERE (loud refusal); one after it bumps the
    // sequence and the rename-to-fresh-name in publish() refuses. No
    // interleaving lets two committers both land one tag.
    nameTag.foreach { t =>
      val liveDirs = committed.lastOption.map(_._2).getOrElse(Nil)
      if (dirTags(liveDirs).contains(t) ||
          sidecarTagsOf(f, liveDirs).contains(t))
        throw new java.io.IOException(
          s"delivery tag $t already applied to $path — lost " +
            "exactly-once commit race")
    }
    val seq = committed.lastOption.map(_._1 + 1).getOrElse(0L)
    val version = s"v-$seq-${java.util.UUID.randomUUID()}" +
      nameTag.map(t => s"-t$t").getOrElse("")
    bucket match {
      case Some((key, n)) =>
        // bucketed layout rides the catalog: an external table entry at
        // the version dir. The name derives from the uuid'd dir, so it
        // is fresh by construction and cannot collide with (or shadow)
        // a concurrent committer's entry.
        df.write.mode("overwrite")
          .option("path", s"$path/$version")
          .bucketBy(n, key).sortBy(key)
          .saveAsTable(tableName(version))
      case None =>
        partition match {
          case Some(pcol) =>
            df.write.mode("overwrite").partitionBy(pcol)
              .parquet(s"$path/$version")
            // sidecar pins the writer's schema (partition-col type and
            // position survive directory-based type inference)
            val sc = f.create(
              new Path(s"$path/$version/_graft_schema.json"), true)
            try sc.write(df.schema.json.getBytes("UTF-8"))
            finally sc.close()
          case None =>
            df.write.mode("overwrite").parquet(s"$path/$version")
        }
    }
    if (tagsSidecar.nonEmpty) writeTagsSidecar(f, version, tagsSidecar)
    val body =
      if (appendMode)
        (committed.lastOption.map(_._2).getOrElse(Nil) :+ version)
          .mkString("\n")
      else version
    publish(spark, committed, seq, version, body)
    // a generation reset retires the legacy root-level memory too —
    // AFTER the flip: deleting it pre-publish would drop the memory
    // while the old generation's content is still live (a crash
    // between the two re-opens the pre-r18 hazard); post-flip, a
    // crash before the delete just leaves the file for the loud
    // requireNoLegacyTags guard / the next overwrite to retire
    if (!appendMode) f.delete(legacyTagsPath, false)
  }

  /** Publish `version` (its data dir fully written) as MANIFEST-`seq`
    * with `body`, then GC — the shared commit tail of [[commit]] and
    * [[overwriteCow]]: tmp-manifest write, atomic rename-to-fresh-name,
    * retention sweep. */
  private def publish(spark: SparkSession,
      committed: Seq[(Long, Seq[String])], seq: Long, version: String,
      body: String): Unit = {
    val f = fs(spark)
    val tmp = new Path(s"$path/.manifest-tmp-${java.util.UUID.randomUUID()}")
    val out = f.create(tmp, true)
    try writeManifestBody(out, body) finally out.close()
    beforePublish(seq)
    // FileContext rename with default Options.Rename.NONE refuses an
    // existing destination — FileSystem.rename on RawLocalFileSystem
    // delegates to POSIX rename(2), which silently REPLACES it, so two
    // concurrent committers could both "win" and one commit vanish.
    val dst = new Path(s"$path/MANIFEST-$seq")
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      f.getUri, spark.sparkContext.hadoopConfiguration)
    try fc.rename(tmp, dst)
    catch {
      case e: Exception =>
        f.delete(tmp, false)
        throw new java.io.IOException(
          s"snapshot commit lost race for $dst", e)
    }
    // GC, three dir classes with different safety arguments:
    //  - SUPERSEDED dirs (referenced only by the manifests this commit
    //    retires) — past the one-commit retention window, deleted now;
    //  - dirs referenced by any manifest STILL PRESENT — re-listed
    //    AFTER our rename, so a concurrent committer that published
    //    between our snapshot of the manifests and now protects its
    //    dirs (an append chain shares dirs across manifests —
    //    reference-kept, never age-kept);
    //  - everything else is either a crashed committer's orphan or a
    //    CONCURRENT committer's written-but-not-yet-published dir —
    //    indistinguishable from outside, so it is AGE-GATED like the
    //    tmp-manifest sweep (deleting a moments-old dir could yank the
    //    data out from under a manifest about to publish; a stale one
    //    is unambiguously dead). Catalog entries of deleted bucketed
    //    versions go with their dirs.
    val keep = (committed.takeRight(1).flatMap(_._2) :+ version).toSet
    val superseded = committed.dropRight(1).flatMap(_._2).toSet -- keep
    committed.dropRight(1).foreach { case (s, _) =>
      f.delete(new Path(s"$path/MANIFEST-$s"), false)
    }
    val referenced = manifests(spark).flatMap(_._2).toSet ++ keep
    def dropDir(st: org.apache.hadoop.fs.FileStatus): Unit = {
      if (bucket.isDefined)
        spark.sql(s"DROP TABLE IF EXISTS ${tableName(st.getPath.getName)}")
      f.delete(st.getPath, true)
    }
    f.listStatus(new Path(path)).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith("v-") && !referenced.contains(n)) {
        if (superseded.contains(n)) dropDir(st)
        else if (st.getModificationTime <
            System.currentTimeMillis() - staleTmpMs) dropDir(st)
      } else if (n.startsWith(".manifest-tmp") &&
          st.getModificationTime < System.currentTimeMillis() - staleTmpMs) {
        // a committer killed between tmp write and rename leaves its tmp
        // behind — inert (readers never resolve tmp names) but it would
        // accumulate forever; sweep it once it is unambiguously stale
        // (see the staleTmpMs scaladoc for why age-gated)
        f.delete(st.getPath, false)
      }
    }
  }
}

object SnapshotStore {
  /** Exactly-once tags must be `[A-Za-z0-9_-]+` — REJECTED otherwise,
    * never sanitized: a lossy rewrite maps distinct caller tags ('wk
    * 01' and 'wk:01') onto one memory slot, so the second delivery
    * would read as a phantom replay and silently vanish. The alphabet
    * is what a `-t<tag>` dir-name suffix and a newline-separated
    * sidecar line can both carry verbatim. */
  private[ingest] def requireCleanTag(tag: String): Unit =
    require(tag.matches("[A-Za-z0-9_-]+"),
      s"exactly-once tag '$tag' is not [A-Za-z0-9_-]+ — encode it " +
        "losslessly at the call site; lossy sanitization would let two " +
        "distinct tags share one replay-memory slot")
}
