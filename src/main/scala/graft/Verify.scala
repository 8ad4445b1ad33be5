package graft

import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // SPARK_GRAFT_VERIFY_ONLY=k1,k2 narrows the dump to named keys —
    // local iteration on a new key without the full surface. Unset for
    // driver runs (all keys).
    val only = Sessions.parseOnly("SPARK_GRAFT_VERIFY_ONLY",
      sys.env.get("SPARK_GRAFT_VERIFY_ONLY"), SparkEntry.queries.keySet)
    val spark = Sessions.local(Sessions.cpus)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // narrow the oracle map to the same key subset as the dump, so a
    // checker can treat "oracle present but no dump dir" as a FAILED
    // query (a thrown query would otherwise vanish from the compare)
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_(k)) }
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** JSON string literal: escapes backslash, quote, and ALL control
    * chars (<0x20) — a tab or CR in builder-authored SQL (or in an
    * exception message Bench records) would otherwise make a reader's
    * json.load fail and silently zero the artifact. */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
