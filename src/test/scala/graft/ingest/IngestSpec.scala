package graft.ingest

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** A2/A5/A6/A7 normalization semantics: external-id drop
  * (data_processor.py:84-88), provenance stamps (:90-91), validation
  * (:60-70), open-schema extras folding (SURVEY.md §1.2 decision (b)+(c)). */
class IngestSpec extends SparkSuite {

  import spark.implicits._

  private def prep(lines: Seq[String]) =
    Ingest.prepare(spark.read.json(lines.toDS), fileId = Some("f1"))

  test("drops external id/_id, keeps them out of extras and raw") {
    val out = prep(Seq(
      """{"code":"1","product_name":"A","id":"x","_id":"y"}"""))
    val row = out.collect().head
    assert(out.columns.toSet ===
      Set("code", "product_name", "extras", "raw", "file_id",
        "last_modified_at_company"))
    val extras = row.getAs[Map[String, String]]("extras")
    assert(extras == null || !extras.keySet.exists(Set("id", "_id")))
  }

  test("arbitrary extra fields fold into the extras map, stringified") {
    val out = prep(Seq(
      """{"code":"1","quantity":"500 g","nutriments":{"fat":1.5},"tags":["a","b"]}"""))
    val extras = out.collect().head.getAs[Map[String, String]]("extras")
    assert(extras("quantity") === "500 g")
    assert(extras("nutriments").contains("1.5"))   // nested → JSON string
    assert(extras("tags").contains("a"))           // array → JSON string
  }

  test("format equivalence: json array, jsonl and csv deliveries of the " +
      "same records normalize identically") {
    withTmpDir { tmp =>
      // string-valued fields only: JSON would type numerics, CSV cannot —
      // within the string domain all three arms must agree exactly
      val recs = Seq(
        ("a1", "Oat Milk", "Acme"),
        ("a2", "Rye, \"Dark\" Bread", "Mill & Co"))
      val jsonArray = recs.map { case (c, p, b) =>
        s"""{"code":"$c","product_name":${ujson(p)},"brands":${ujson(b)}}"""
      }.mkString("[", ",", "]")
      val jsonl = recs.map { case (c, p, b) =>
        s"""{"code":"$c","product_name":${ujson(p)},"brands":${ujson(b)}}"""
      }.mkString("\n")
      val csv = "code,product_name,brands\n" + recs.map { case (c, p, b) =>
        s"""$c,"${p.replace("\"", "\"\"")}","${b.replace("\"", "\"\"")}""""
      }.mkString("\n")

      def normalized(name: String, body: String) = {
        val f = tmp.resolve(name)
        java.nio.file.Files.writeString(f, body)
        Ingest.prepare(
          Ingest.readDeliveries(spark, Seq(f.toString)),
          fileId = Some("f"))
          .select("code", "product_name", "extras")
          .collect().map(_.toString).sorted.toSeq
      }
      val a = normalized("d.json", jsonArray)
      val b = normalized("d.jsonl", jsonl)
      val c = normalized("d.csv", csv)
      assert(a === b, "json array vs jsonl disagree")
      assert(a === c, "json vs csv disagree")
    }
  }

  private def ujson(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  test("validation: missing or blank code fails, anything else passes") {
    val out = prep(Seq(
      """{"code":"ok1","product_name":"A"}""",
      """{"product_name":"no code"}""",
      """{"code":"   ","product_name":"blank code"}"""))
    assert(Ingest.valid(out).count() === 1)
    assert(Ingest.failed(out).count() === 2)
  }

  test("provenance: explicit fileId stamps every record; ingest ts is set") {
    val out = prep(Seq("""{"code":"1"}""", """{"code":"2"}"""))
    assert(out.select("file_id").as[String].collect().toSet === Set("f1"))
    assert(out.filter(col("last_modified_at_company").isNull).count() === 0)
  }

  test("readDeliveries: a malformed JSON-array file yields corrupt-marker rows") {
    withTmpDir { dir =>
      val good = dir.resolve("good.json")
      val bad = dir.resolve("bad.json")
      java.nio.file.Files.writeString(good, """[{"code":"1"}]""")
      java.nio.file.Files.writeString(bad, """[{"code": oops""")
      val raw = Ingest.readDeliveries(spark,
        Seq(good.toString, bad.toString)).cache()
      try {
        assert(raw.columns.contains("_corrupt_record"))
        val corruptFiles = raw
          .filter(col("_corrupt_record").isNotNull)
          .select(regexp_extract(col("_source_file"), "[^/]+$", 0))
          .as[String].collect().toSet
        assert(corruptFiles === Set("bad.json"))
      } finally raw.unpersist()
    }
  }

  test("readDeliveries: poison-only and empty-array files can be cached and filtered on _corrupt_record") {
    withTmpDir { dir =>
      val poison = dir.resolve("poison.json")
      val empty = dir.resolve("empty.json")
      java.nio.file.Files.writeString(poison, """[{"code": oops""")
      java.nio.file.Files.writeString(empty, "[]")
      def corruptFiles(p: java.nio.file.Path): Set[String] = {
        val raw = Ingest.readDeliveries(spark, Seq(p.toString)).cache()
        try raw.filter(col("_corrupt_record").isNotNull)
          .select(regexp_extract(col("_source_file"), "[^/]+$", 0))
          .as[String].collect().toSet
        finally raw.unpersist()
      }
      assert(corruptFiles(poison) === Set("poison.json"))
      assert(corruptFiles(empty) === Set.empty)
    }
  }
}
