package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, MapType, StringType,
  StructField, StructType}
import graft.core.Schemas

/** Ingest normalization (SURVEY.md §2 A2/A5/A6/A7).
  *
  * The reference streams a top-level JSON array per delivery file
  * (app/processing/file_splitter.py:117-118), drops external id/_id,
  * stamps provenance + ingest timestamp
  * (app/processing/data_processor.py:82-93), and drops records lacking a
  * `code` while counting them as failed (data_processor.py:56-73).
  *
  * Spark mapping: `spark.read.json(multiLine=true)` distributes across
  * delivery files (one task per file for array-JSON; JSONL scales within a
  * file too); normalization is pure column algebra so it stays inside
  * whole-stage codegen; validation is a filter with the failure set
  * recoverable as the complement (no side-channel mutation — the tracker
  * aggregates it per file).
  */
object Ingest {

  /** Read one or more delivery files into a raw inferred-schema DataFrame
    * with per-record provenance. Files named `*.jsonl`/`*.ndjson` are
    * read as JSON-lines (record-per-line — the format a 100 TB pipeline
    * actually wants: splittable WITHIN a file, so one huge delivery
    * parallelizes across tasks); `*.csv` as header CSV, read ONE FILE
    * PER CALL (a multi-path CSV read takes column names from the FIRST
    * file and maps every other file positionally, ignoring their
    * headers — reordered columns would silently mis-column; per-file
    * reads + unionByName merge by NAME like the JSON arms; all columns
    * arrive as strings — [[prepare]] stringifies everything anyway, and CSV type
    * inference would double-scan); everything else as the reference's
    * top-level JSON arrays (one task per file, parallel across files —
    * ijson streaming parse in the reference, file_splitter.py:117-118).
    *
    * Corrupt handling differs by format, honestly so: the JSON arms are
    * PERMISSIVE with a `_corrupt_record` side channel (unparseable
    * ARRAY file → whole-file `failed`, A17). CSV has no document-level
    * syntax to break — malformed rows surface as null-padded records
    * that fail `code` validation and count as RECORD failures, not file
    * poison.
    *
    * A JSON arm that infers no data column (only poison files, `[]`
    * arrays or garbage lines) is re-read with the schema
    * ([[ProbeCol]], `_corrupt_record`): Spark refuses a JSON scan whose
    * only column is `_corrupt_record`, so the always-null [[ProbeCol]]
    * keeps the result cacheable and filterable like a healthy batch's.
    * Callers drop [[ProbeCol]] before [[prepare]]. */
  def readDeliveries(spark: SparkSession, paths: Seq[String]): DataFrame = {
    // loud precondition — the trailing reduce would otherwise surface an
    // unrelated UnsupportedOperationException on an empty path list
    require(paths.nonEmpty,
      "readDeliveries requires at least one delivery path")
    val (csv, rest) = paths.partition(_.endsWith(".csv"))
    val (jsonl, arrays) = rest.partition(p =>
      p.endsWith(".jsonl") || p.endsWith(".ndjson"))
    def readJson(ps: Seq[String], multiLine: Boolean): Option[DataFrame] =
      if (ps.isEmpty) None
      else {
        def reader = spark.read
          .option("multiLine", multiLine.toString)
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_corrupt_record")
        val inferred = reader.json(ps: _*)
        val df =
          if (inferred.columns.forall(_ == "_corrupt_record"))
            reader.schema(probeSchema).json(ps: _*)
          else inferred
        Some(df.withColumn("_source_file", input_file_name()))
      }
    val csvDfs = csv.map(p => spark.read
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      // RFC-4180 quoting ("" escapes a quote) — Spark's default escape
      // is backslash, which mangles standard CSV from external producers
      .option("escape", "\"")
      .csv(p)
      .withColumn("_source_file", input_file_name()))
    (readJson(arrays, multiLine = true).toSeq ++
      readJson(jsonl, multiLine = false).toSeq ++ csvDfs)
      .reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** The always-null data column of a JSON arm that inferred none. */
  val ProbeCol = "_graft_probe"

  private val probeSchema = StructType(Seq(
    StructField(ProbeCol, StringType),
    StructField("_corrupt_record", StringType)))

  /** Normalize an arbitrary-schema record DataFrame into the canonical
    * product shape: core columns + `extras` map + retained `raw` JSON +
    * provenance stamps. `fileId` defaults to the source file name. */
  def prepare(raw: DataFrame, fileId: Option[String] = None): DataFrame = {
    val cols = raw.schema.fields.map(f => f.name -> f.dataType).toMap
    def has(c: String) = cols.contains(c)

    def asString(name: String): Column = cols(name) match {
      case _: StructType | _: ArrayType | _: MapType => to_json(col(name))
      case StringType => col(name)
      case _ => col(name).cast("string")
    }

    val reserved = (Schemas.productCoreFields ++ Schemas.droppedFields ++
      Seq("_corrupt_record", "_source_file")).toSet
    val extraNames = raw.schema.fieldNames.filterNot(reserved.contains).sorted

    // extras: every non-core field as k→stringified v, null-valued keys
    // kept out (a missing key and a null key are both "absent" for $set
    // merge). An EMPTY result is normalized to null so a record's extras
    // don't depend on which other files happened to share its batch's
    // inferred schema (batching invariance).
    val extrasCol =
      if (extraNames.isEmpty) lit(null).cast(MapType(StringType, StringType))
      else {
        val m = map_filter(
          map(extraNames.flatMap(n => Seq(lit(n), asString(n))): _*),
          (_, v) => v.isNotNull)
        when(size(m) > 0, m)
      }

    val dataCols = raw.schema.fieldNames
      .filterNot(n => n == "_corrupt_record" || n == "_source_file")
    val rawJson = to_json(struct(dataCols.map(col): _*))

    val fileIdCol = fileId.map(lit).getOrElse(
      if (has("_source_file")) col("_source_file") else lit(null))

    raw.select(
      (if (has("code")) asString("code") else lit(null).cast("string"))
        .as("code"),
      (if (has("product_name")) asString("product_name")
       else lit(null).cast("string")).as("product_name"),
      extrasCol.as("extras"),
      rawJson.as("raw"),
      fileIdCol.cast("string").as("file_id"),
      current_timestamp().as("last_modified_at_company"))
  }

  /** Validation predicate: reference requires a non-empty string `code`
    * (app/models.py:8 via pydantic; failures at data_processor.py:60-70). */
  def isValid: Column = col("code").isNotNull && trim(col("code")) =!= ""

  /** Valid records (the insert set). */
  def valid(prepared: DataFrame): DataFrame = prepared.filter(isValid)

  /** Failed records (the `records_failed` side-channel, per file). */
  def failed(prepared: DataFrame): DataFrame = prepared.filter(!isValid)
}
