package graft

import java.io.InputStream

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ingest.{SnapshotStore, Upload}
import graft.query.Finders
import graft.streaming.IngestStream

/** The reference's user-facing API as one object — a user of
  * pcustic/data-pipeline-challenge maps each HTTP endpoint to one
  * method here (reference routes at app/api/main.py:59-184):
  *
  *   POST /upload                         → [[Graft.upload]]
  *   (async queue pipeline)               → [[Graft.processAvailable]]
  *     or [[Graft.startStream]] for a long-running continuous pipeline
  *   GET /upload/status/{file_id}         → [[Graft.uploadStatus]]
  *   GET /product/find/code/{code}        → [[Graft.findByCode]]
  *   GET /product/find/name/partial/{t}   → [[Graft.findPartial]]
  *   GET /product/find/name/exact/{t}     → [[Graft.findExact]]
  *
  * "404" semantics are an empty DataFrame (the HTTP layer, which the
  * reference implements in FastAPI, is out of engine scope by design —
  * SURVEY.md §2 A1).
  *
  * Every read serves the store's live committed snapshot (manifest-
  * pointer atomicity), so a reader never observes a partial upsert —
  * the property MongoDB gave the reference for free. Each read lists the
  * store's manifests once; the version at that `seq` is resolved and
  * `persist()`ed on the first read that sees it, and every later read at
  * the same `seq` builds its plan on that one pinned relation (the
  * reference's warm collection). The first read after a commit pins the
  * new version and unpersists the superseded copy, so a pin lives from
  * the first read at its `seq` to the first read after the next commit,
  * or to [[close]]. A DataFrame obtained earlier keeps its own snapshot:
  * once its pin is dropped it rescans that version's immutable dir,
  * which retention keeps through one further commit. Only reads pin —
  * the ingest writer's own read of the live snapshot may be served from
  * the pin (same immutable content); a `Graft` that is dropped without
  * [[close]] keeps its last pins until the session stops.
  */
class Graft(spark: SparkSession, cfg: IngestStream.Config)
    extends AutoCloseable {

  /** Land a delivery (1 MiB chunked, atomic visibility); returns the
    * file_id used by [[uploadStatus]] — the reference returns the same
    * identifier in its `status_url`. */
  def upload(originalName: String, in: InputStream): String =
    Upload.land(cfg.landingDir, originalName, in).getFileName.toString

  def uploadString(originalName: String, body: String): String =
    Upload.landString(cfg.landingDir, originalName, body)
      .getFileName.toString

  /** Drain everything currently landed through the checkpointed
    * pipeline (the batch twin of the reference's always-on workers). */
  def processAvailable(): Unit = IngestStream.runAvailable(spark, cfg)

  /** Continuous form: returns the running StreamingQuery. */
  def startStream(): org.apache.spark.sql.streaming.StreamingQuery =
    IngestStream.start(spark, cfg)

  /** One store's serving memo: the relation pinned for `seq`. Reads may
    * come from several threads (an HTTP layer, [[startStream]]), so the
    * swap is synchronized; the manifest listing stays outside the lock.
    * A read whose listing predates a concurrent swap to a newer seq
    * resolves its own (older) version unpinned rather than swap back. */
  private final class Pin(store: SnapshotStore, empty: => DataFrame) {
    private var seq = -1L
    private var pinned: Option[DataFrame] = None

    // schemaful empty: a pre-first-ingest lookup must return the "404"
    // empty DataFrame, not fail column resolution on a 0-column frame
    def apply(): DataFrame = store.live(spark) match {
      case None => empty
      case Some((s, reader)) => synchronized {
        if (pinned.isEmpty || s > seq) {
          val next = reader().persist()
          drop()
          seq = s
          pinned = Some(next)
        }
        if (s == seq) pinned.get else reader()
      }
    }

    def drop(): Unit = synchronized {
      pinned.foreach(_.unpersist(blocking = false))
      pinned = None
    }
  }

  private val products = new Pin(IngestStream.productsStore(cfg),
    IngestStream.emptyProducts(spark))
  private val control = new Pin(IngestStream.controlStore(cfg),
    IngestStream.emptyControl(spark))

  /** Unpersist both stores' pinned relations. Later reads pin afresh. */
  def close(): Unit = { products.drop(); control.drop() }

  def uploadStatus(fileId: String): DataFrame =
    Finders.statusLookup(control(), fileId)

  def findByCode(code: String): DataFrame =
    products().filter(org.apache.spark.sql.functions.col("code") === code)

  /** `regex = false` (default) treats the term literally — what most
    * callers mean. `regex = true` reproduces the reference's EXACT
    * endpoint semantics: the term is wrapped `.*term.*` case-insensitive
    * with metacharacters interpreted (app/api/main.py:157-160), so a
    * ported query like `b.lt` keeps matching bolt AND belt. */
  def findPartial(term: String, limit: Int = 20,
      regex: Boolean = false): DataFrame =
    if (regex) Finders.searchRegex(products(), "product_name", term,
      "code", limit)
    else Finders.searchPartial(products(), "product_name", term, "code",
      limit)

  def findExact(term: String): DataFrame =
    Finders.searchExact(products(), "product_name", term, "code")
}
