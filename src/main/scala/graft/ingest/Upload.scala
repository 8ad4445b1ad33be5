package graft.ingest

import java.io.{InputStream, OutputStream}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** A1: the upload sink — land a delivery stream in the ingest landing
  * directory (the reference's FastAPI upload endpoint,
  * app/api/main.py:59-103): constant-memory chunked copy (1 MiB chunks,
  * main.py:73-75) to a unique, TIMESTAMP-PREFIXED name
  * `{epochMillis}_{token}_{originalName}` (main.py:65-69). The prefix is
  * load-bearing downstream: [[Upsert.commitDeltaCow]] orders same-key
  * records by file name, so lexicographic order == arrival order.
  *
  * Deliberately out of Spark: upload is a byte-stream boundary, not a
  * dataflow operator (SURVEY.md §2 A1). The landing directory itself is
  * the streaming source; a file APPEARING there is the queue signal the
  * reference publishes to RabbitMQ (the [[graft.streaming.IngestStream]]
  * checkpoint replaces the broker). Files are written to a hidden `.tmp`
  * name and atomically moved into place so the discovery stream never
  * picks up a half-written delivery.
  */
object Upload {

  val ChunkBytes: Int = 1024 * 1024

  /** Land `in` as a new delivery file; returns the landed path (its file
    * name is the `file_id` the control table will key on). */
  def land(landingDir: String, originalName: String, in: InputStream,
      clock: () => Long = System.currentTimeMillis): Path = {
    val dir = Paths.get(landingDir)
    Files.createDirectories(dir)
    val token = java.util.UUID.randomUUID().toString.take(8)
    val name = s"${clock()}_${token}_" +
      Paths.get(originalName).getFileName.toString
    val tmp = dir.resolve(s".$name.tmp")
    val out: OutputStream = Files.newOutputStream(tmp)
    try {
      val buf = new Array[Byte](ChunkBytes)
      var n = in.read(buf)
      while (n >= 0) {
        if (n > 0) out.write(buf, 0, n)
        n = in.read(buf)
      }
    } finally out.close()
    val dst = dir.resolve(name)
    Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
    dst
  }

  /** Convenience: land in-memory JSON (tests / small deliveries). */
  def landString(landingDir: String, originalName: String, body: String,
      clock: () => Long = System.currentTimeMillis): Path =
    land(landingDir, originalName,
      new java.io.ByteArrayInputStream(body.getBytes("UTF-8")), clock)
}
