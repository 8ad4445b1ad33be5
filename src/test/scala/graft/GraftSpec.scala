package graft

import graft.streaming.IngestStream

/** The reference's one real user journey (upload → status → find),
  * driven end to end through the [[Graft]] facade — the concrete form
  * of README's migration table. */
class GraftSpec extends SparkSuite {

  test("upload -> process -> status/find journey through the facade") {
    withTmpDir { ws =>
      val g = new Graft(spark, IngestStream.Config(
        landingDir = ws.resolve("landing").toString,
        warehouseDir = ws.resolve("wh").toString,
        checkpointDir = ws.resolve("ckpt").toString))
      try {
        // pre-first-ingest: every read endpoint returns the empty "404"
        assert(g.findByCode("a1").isEmpty)
        assert(g.uploadStatus("nothing").isEmpty)
        assert(g.findPartial("x").isEmpty && g.findExact("x").isEmpty)

        val f1 = g.uploadString("week1.json",
          """[{"code":"a1","product_name":"Oat Milk"},
            |{"code":"a2","product_name":"Rye Bread"},
            |{"product_name":"no code -> failed"}]""".stripMargin)
        g.processAvailable()

        // status endpoint: processed_with_errors (1 invalid record)
        val st = g.uploadStatus(f1).collect()
        assert(st.length === 1)
        assert(st(0).getAs[String]("status") === "processed_with_errors")
        assert(st(0).getAs[Long]("records_processed") === 2L)
        assert(st(0).getAs[Long]("records_failed") === 1L)
        // miss → empty (the endpoint's 404)
        assert(g.uploadStatus("nope.json").isEmpty)

        // second delivery overwrites a1 (last-writer-wins, $set merge)
        g.uploadString("week2.json",
          """[{"code":"a1","product_name":"Oat Milk Deluxe"}]""")
        g.processAvailable()

        assert(g.findByCode("a1").collect()
          .map(_.getAs[String]("product_name")).toSeq ===
          Seq("Oat Milk Deluxe"))
        assert(g.findPartial("oat").count() === 1)
        assert(g.findPartial("zzz").isEmpty)
        assert(g.findExact("Rye Bread").count() === 1)
        // reference endpoint parity: regex=true interprets metacharacters
        // ('o.t' matches Oat via the wildcard), literal default does not
        assert(g.findPartial("o.t", regex = true).count() === 1)
        assert(g.findPartial("o.t").isEmpty)
      } finally g.close()
    }
  }

  test("csv deliveries flow through the same pipeline as json") {
    withTmpDir { ws =>
      val g = new Graft(spark, IngestStream.Config(
        landingDir = ws.resolve("landing").toString,
        warehouseDir = ws.resolve("wh").toString,
        checkpointDir = ws.resolve("ckpt").toString))
      try {
        val f = g.uploadString("batch.csv",
          "code,product_name,brands\nc1,Choc Bar,Acme\n,missing code,\n")
        // same batch, REORDERED header — must map by name, not position
        g.uploadString("batch2.csv",
          "product_name,code\nGum Drops,c2\n")
        g.processAvailable()
        assert(g.findByCode("c1").collect()
          .map(_.getAs[String]("product_name")).toSeq === Seq("Choc Bar"))
        assert(g.findByCode("c2").collect()
          .map(_.getAs[String]("product_name")).toSeq === Seq("Gum Drops"))
        val st = g.uploadStatus(f).collect()(0)
        assert(st.getAs[Long]("records_processed") === 1L)
        assert(st.getAs[Long]("records_failed") === 1L)
        assert(st.getAs[String]("status") === "processed_with_errors")
      } finally g.close()
    }
  }
}
