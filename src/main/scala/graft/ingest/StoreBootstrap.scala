package graft.ingest

import org.apache.hadoop.fs.{FileContext, Path}
import org.apache.spark.sql.SparkSession

/** Single-publish bootstrap for the build-or-load delta indexes — the
  * publish step of [[PersistedIndex]], which every persisted index
  * builds through the first time a (corpus, params) tag is seen: one
  * shared code path for their multi-commit (base overwrite + delta
  * append) sequences.
  *
  * Why it exists: each [[SnapshotStore]] COMMIT is atomic (tmp
  * manifest + rename-to-fresh-name), but a build is a SEQUENCE of
  * commits, and the rename guard only detects two committers landing
  * on the SAME sequence number. Two processes interleaving a
  * two-commit build at DIFFERENT offsets can publish a chain that
  * references the delta dir twice (A:overwrite→seq0, B:overwrite→seq1,
  * A:append→seq2 = [B-base, A-delta], B:append→seq3 = [B-base,
  * A-delta, B-delta]) — double-counted delta rows that no
  * `versions.size` check can see, the exact cross-process hazard the
  * per-commit protocol cannot close because the hazard spans commits.
  *
  * The fix is to make the whole BUILD atomic the same way a commit is:
  * `build` runs against a uuid'd STAGING root (so concurrent builders
  * can never observe — or extend — each other's half-built chains),
  * and the staged root is then renamed into place with the
  * refuse-existing-destination `FileContext` rename. Exactly one
  * builder's rename succeeds; a loser deletes its staging root and
  * loads the winner's. A builder that dies mid-build leaves only an
  * orphaned staging dir (age-swept like SnapshotStore's tmp
  * manifests), never a half-published root — so `root exists ∧
  * complete(root)` is the load condition and the IllegalStateException
  * fallbacks the call sites used to carry are gone.
  *
  * `complete` guards the residual case the protocol itself can no
  * longer produce: a LEGACY root built by the pre-bootstrap code
  * (crash window between its commits) or external damage. Such a root
  * is renamed ASIDE (atomic, single winner — the source vanishes for
  * every other recoverer) and rebuilt fresh, preserving the
  * rebuild-never-double-appends recovery property the index specs pin.
  *
  * At 100 TB the same shape holds on HDFS (directory rename is an
  * atomic namenode op); on S3-like stores the rename becomes a
  * manifest-level pointer swap — the Iceberg commit pattern already
  * documented on [[SnapshotStore.overwriteCow]]. */
class StoreBootstrap(val root: String, val staleMs: Long = 3600000L) {

  /** Test seam: runs after the staging root is fully built and
    * verified complete, immediately before the publish rename — lets
    * the cross-process race spec park two builders at the exact
    * publish point. No-op in production. */
  protected def beforePublish(): Unit = ()

  /** Build-or-load: returns true iff THIS call published the root.
    * `complete(base)` must answer "does `base` hold a fully-committed
    * chain?" for both the live root and a staging candidate; `build`
    * receives the staging root path and must leave it complete. */
  def ensure(spark: SparkSession)(complete: String => Boolean)
      (build: String => Unit): Boolean = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(root).getFileSystem(conf)
    val qRoot = fs.makeQualified(new Path(root))
    def published: Boolean =
      fs.exists(qRoot) && complete(qRoot.toUri.getPath)
    if (published) return false
    val parent = qRoot.getParent
    fs.mkdirs(parent)
    sweepStale(fs, parent)
    def side(kind: String) = new Path(parent,
      s".$kind-${qRoot.getName}-${java.util.UUID.randomUUID()}")
    val staging = side("staging")
    try {
      build(staging.toUri.getPath)
      if (!complete(staging.toUri.getPath))
        throw new IllegalStateException(
          s"store bootstrap for $root: build left an incomplete " +
          s"staging chain under $staging")
      beforePublish()
      // a legacy/damaged root blocks the publish rename — move it
      // aside atomically (one recoverer wins; the others' source is
      // gone and they fall through to the normal publish race)
      if (fs.exists(qRoot) && !complete(qRoot.toUri.getPath)) {
        try FileContext.getFileContext(fs.getUri, conf)
          .rename(qRoot, side("broken"))
        catch { case _: Exception => () }
      }
      val fc = FileContext.getFileContext(fs.getUri, conf)
      try { fc.rename(staging, qRoot); true }
      catch {
        case e: Exception =>
          fs.delete(staging, true)
          if (!published) throw new IllegalStateException(
            s"store bootstrap lost the publish race for $root but no " +
            "complete root exists — concurrent builder did not commit", e)
          false
      }
    } catch {
      case e: Throwable =>
        fs.delete(staging, true)
        throw e
    }
  }

  /** Age-gated sweep of crashed builders' leftovers next to the root —
    * the SnapshotStore tmp-manifest rule: a moments-old dir may belong
    * to a builder about to publish; a stale one is unambiguously
    * dead. */
  private def sweepStale(fs: org.apache.hadoop.fs.FileSystem,
      parent: Path): Unit = {
    val cut = System.currentTimeMillis() - staleMs
    fs.listStatus(parent).foreach { st =>
      val n = st.getPath.getName
      if ((n.startsWith(".staging-") || n.startsWith(".broken-")) &&
          st.getModificationTime < cut)
        fs.delete(st.getPath, true)
    }
  }
}

object StoreBootstrap {
  /** Completeness-predicate factory: every `(subdir, minVersions)`
    * chain under the candidate root has committed at least that many
    * manifests — the per-module "both commits landed" check. */
  def chains(spark: SparkSession, need: (String, Int)*)
      : String => Boolean =
    base => need.forall { case (sub, n) =>
      new SnapshotStore(s"$base/$sub").versions(spark).size >= n
    }
}
