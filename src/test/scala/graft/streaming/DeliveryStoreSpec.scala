package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.{SparkSuite, TestSpark}
import graft.core.Tables

/** The replay contract every [[DeliveryStore]] family keeps, as one
  * generated test per family: the delivery appended once, then replayed
  * verbatim under the same batch id (the at-least-once redelivery
  * `foreachBatch` makes), must leave every store's full sorted content
  * and its retained versions unchanged — and, for `served` families,
  * the served result too. Each family's spec extends this with its row
  * (the family and the test's subject), so the generated test runs
  * under the family's own suite. `oneRowPerItem` families keep one row
  * per source item in every store, so the first append must leave the
  * stores covering base + delivery exactly — a producer that silently
  * dropped items would still move the content. */
abstract class DeliveryStoreSpec(family: DeliveryStore.Family,
    subject: String, served: Boolean = false,
    oneRowPerItem: Boolean = false) extends SparkSuite {

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test(s"a replayed delivery leaves $subject bit-unchanged") {
    withTmpDir { tmp =>
      val src = family.load(spark, TestSpark.sfDir)
      val cut = Tables.deltaCutoff(src, family.idCol)
      val run = DeliveryStore.Run(spark, family.storesAt(tmp), cut,
        tmp.resolve("deliveries").toString, src)
      family.base(src.filter(col(family.idCol) < cut)).foreach {
        case (s, df) => run(s).overwrite(df)
      }
      // content, and the retained manifest seqs: retention caps their
      // count, so a commit shows as a moved live seq
      def stores(): Seq[(String, Seq[String], Seq[Long])] =
        family.stores.map(s =>
          (s, run.read(s).map(rows).getOrElse(Nil), run(s).versions(spark)))
      def serve(): Seq[String] = if (served) rows(family.serve(run)) else Nil
      val before = stores()
      val delivery = src.filter(col(family.idCol) >= cut)
      family.append(run, delivery, batchId = 0L)
      val want = stores()
      val wantServed = serve()
      val appended = want != before
      assert(appended, "vacuous: the delivery appended nothing")
      if (oneRowPerItem) {
        val items = src.count()
        want.foreach { case (s, content, _) =>
          assert(content.size === items,
            s"store '$s' must cover base + delivery")
        }
      }
      assert(!served || wantServed.nonEmpty,
        "vacuous: empty served result on the fixture")
      // the at-least-once replay: the SAME batch body, verbatim
      family.append(run, delivery, batchId = 0L)
      stores().zip(want).foreach {
        case ((s, content, versions), (_, wantContent, wantVersions)) =>
          val sameContent = content == wantContent
          assert(sameContent, s"replay changed store '$s': ${content.size} " +
            s"rows, want ${wantContent.size}")
          assert(versions === wantVersions, s"replay committed to '$s'")
      }
      val sameServed = serve() == wantServed
      assert(sameServed, "replay changed the served result")
    }
  }
}
