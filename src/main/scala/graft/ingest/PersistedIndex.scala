package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.{Caches, Tables}

/** One build-or-load delta index over a source table — the skeleton
  * every persisted batch index (AudioFp, VideoFp, Phash, VocabStore,
  * EmbeddingIndex, ChunkIndex, SubstringIndex, MinhashIndex,
  * FuzzyIndex, Ivf, SemanticIndex) runs the first time a (corpus,
  * params) pair is seen, and reuses for every later query of the
  * session.
  *
  * It owns the decisions those builds share:
  *   - the tag: md5 over the name, the corpus dir, the content-shaping
  *     params, the layout version and the source table's
  *     [[Tables.fingerprint]] — a regenerated table at the same dir, a
  *     changed param or a bumped layout misses the old root instead of
  *     misreading it;
  *   - the root, `target/graft-<name>/<tag>`;
  *   - the single-publish build through [[StoreBootstrap]], complete
  *     when every declared store has committed its minimum number of
  *     versions;
  *   - the per-session memo: a session builds or loads each root once.
  *
  * Each store is declared once ([[PersistedIndex.Store]]): its name,
  * the versions a complete build commits, and its partition column.
  * The build (on the staging root) and the read-back (on the published
  * root) both address the stores through [[PersistedIndex.Stores]], so
  * a store's layout cannot differ between the two. */
final class PersistedIndex[V](name: String, layout: String,
    table: String, idCol: String, stores: PersistedIndex.Store*) {

  private val memo = new Caches.Keyed[String, V]

  /** The published root for `dir` under `params`. */
  def root(spark: SparkSession, dir: String, params: Any*): String =
    s"target/graft-$name/" + Caches.md5Tag((Seq(name, dir) ++ params ++
      Seq(layout, Tables.fingerprint(spark, dir, table))).mkString("|"))

  /** The session's value for this root: `load` over the published
    * root, after `build` has staged and published it if no complete
    * root exists yet. */
  def ensure(spark: SparkSession, dir: String, params: Any*)
      (build: PersistedIndex.Stores => Unit)
      (load: PersistedIndex.Stores => V): V = {
    val r = root(spark, dir, params: _*)
    def at(base: String) =
      new PersistedIndex.Stores(spark, dir, base, table, idCol, stores)
    memo.get(spark, r) {
      new StoreBootstrap(r).ensure(spark)(StoreBootstrap.chains(spark,
        stores.map(s => s.name -> s.minVersions): _*))(b => build(at(b)))
      load(at(r))
    }
  }
}

object PersistedIndex {

  /** One store of an index: `minVersions` is what a complete build
    * commits (2 for base + delivery, 1 for a single build). */
  final case class Store(name: String, minVersions: Int,
      partition: Option[String] = None)

  /** The declared stores under one root (staging or published), plus
    * the index's source table and its delivery split. */
  final class Stores private[ingest] (val spark: SparkSession,
      dir: String, base: String, table: String, idCol: String,
      decl: Seq[Store]) {
    private val byName = decl.map(s => s.name ->
      new SnapshotStore(s"$base/${s.name}", partition = s.partition)).toMap

    def apply(store: String): SnapshotStore = byName(store)

    /** The store's live content. */
    def read(store: String): DataFrame = byName(store).read(spark).get

    /** The version before the live one: in a base + delivery chain,
      * the pre-delivery state the delivery probes (retention always
      * keeps live + previous). */
    def previous(store: String): DataFrame = {
      val vs = byName(store).versions(spark)
      byName(store).readAt(spark, vs(vs.size - 2)).get
    }

    def source: DataFrame = Tables.load(spark, dir, table)

    /** (base, delivery) slices of `src` at the standard delivery cut
      * ([[Tables.deltaSlices]]) on the index's id column. */
    def split(src: DataFrame): (DataFrame, DataFrame) =
      Tables.deltaSlices(src, idCol)

    /** The common build: `frames` maps a slice of `select(source)` to
      * one frame per declared store, in declaration order. Every store
      * commits its base frame, then every store appends its delivery
      * frame — exactly once per `deliveryTag` when one is given. */
    def baseDelivery(select: DataFrame => DataFrame = identity,
        deliveryTag: Option[String] = None)
        (frames: DataFrame => Seq[DataFrame]): Unit = {
      val (b, d) = split(select(source))
      def each(slice: DataFrame)(commit: (SnapshotStore, DataFrame) => Unit) = {
        val fs = frames(slice)
        require(fs.size == decl.size,
          s"$base: ${fs.size} frames for ${decl.size} stores")
        decl.zip(fs).foreach { case (s, f) => commit(byName(s.name), f) }
      }
      each(b)(_.overwrite(_))
      each(d)((st, f) => deliveryTag match {
        case Some(t) => st.appendOnce(f, t)
        case None => st.append(f)
      })
    }
  }
}
