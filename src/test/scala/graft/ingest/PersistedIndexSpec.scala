package graft.ingest

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.SparkSuite
import PersistedIndex.Store

/** The build-or-load primitive every persisted index declares itself
  * through, on tiny synthetic `items` tables in a temp dir: the tag
  * follows the source table, a published root is loaded without
  * building, and a root missing a commit is rebuilt clean. */
class PersistedIndexSpec extends SparkSuite {

  private def writeItems(dir: String, n: Int): Unit = {
    val s = spark
    import s.implicits._
    (1 to n).map(i => (i.toLong, s"item-$i")).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$dir/items.parquet")
  }

  /** A fresh index name (so its roots are this test's alone) and a
    * temp corpus dir; the index's roots are removed afterwards. */
  private def withIndex[A](f: (String, String) => A): A = withTmpDir { tmp =>
    val name = "spec-" + java.util.UUID.randomUUID()
    try f(name, tmp.toString)
    finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"target/graft-$name"))
  }

  private def ids(st: PersistedIndex.Stores, store: String): Seq[Long] =
    st.read(store).select("id").collect().map(_.getLong(0)).sorted.toSeq

  test("a regenerated source table at the same dir gets a new root and reruns the build") {
    withIndex { (name, dir) =>
      val index = new PersistedIndex[Seq[Long]](name, "T1", "items", "id",
        Store("rows", 2))
      var builds = 0
      def ensure(s: SparkSession) = index.ensure(s, dir) { st =>
        builds += 1
        st.baseDelivery()(d => Seq(d))
      }(ids(_, "rows"))
      writeItems(dir, 10)
      val s1 = spark.newSession()
      assert(ensure(s1) === (1L to 10L))
      assert(ensure(s1) === (1L to 10L))
      assert(builds === 1, "the session memo must serve the second call")
      val before = index.root(s1, dir)
      // a regenerated table: same dir, new content — a new session, as
      // the table loader memoizes per session
      writeItems(dir, 20)
      val s2 = spark.newSession()
      assert(index.root(s2, dir) !== before,
        "the source fingerprint must be part of the tag")
      assert(ensure(s2) === (1L to 20L))
      assert(builds === 2, "the regenerated table must rebuild")
    }
  }

  test("a fresh session loads a published root without running the build") {
    withIndex { (name, dir) =>
      val index = new PersistedIndex[Seq[Long]](name, "T1", "items", "id",
        Store("rows", 2))
      writeItems(dir, 10)
      val built = index.ensure(spark.newSession(), dir)(
        _.baseDelivery()(d => Seq(d)))(ids(_, "rows"))
      val loaded = index.ensure(spark.newSession(), dir)(
        _ => fail("a published root must be loaded, not rebuilt"))(
        ids(_, "rows"))
      assert(loaded === built)
      assert(loaded === (1L to 10L))
    }
  }

  test("a two-store index missing its second commit rebuilds clean, never double-appends") {
    withIndex { (name, dir) =>
      val index = new PersistedIndex[(Seq[Long], Seq[Long], Seq[Int])](
        name, "T1", "items", "id", Store("a", 2), Store("b", 2))
      var builds = 0
      def ensure(s: SparkSession) = index.ensure(s, dir) { st =>
        builds += 1
        st.baseDelivery()(d =>
          Seq(d.select("id"), d.select((col("id") * 10).as("id"))))
      } { st =>
        (ids(st, "a"), ids(st, "b"),
          Seq("a", "b").map(st(_).versions(st.spark).size))
      }
      writeItems(dir, 10)
      val s1 = spark.newSession()
      val clean = ensure(s1)
      assert(clean === ((1L to 10L), (10L to 100L by 10L), Seq(2, 2)))
      // the crash window: store b's delivery append never committed
      val b = new java.io.File(index.root(s1, dir), "b")
      val manifests = b.listFiles()
        .filter(_.getName.startsWith("MANIFEST-")).sortBy(_.getName)
      assert(manifests.length === 2, "precondition: base + delivery")
      assert(manifests.last.delete(), "could not stage the crash state")
      // the local FS keeps a checksum sidecar per file
      new java.io.File(b, s".${manifests.last.getName}.crc").delete()
      assert(ensure(spark.newSession()) === clean,
        "the rebuilt index must equal the clean build")
      assert(builds === 2, "an incomplete root must be rebuilt")
    }
  }
}
