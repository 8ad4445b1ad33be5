package graft

/** Plan-audit utility: print the formatted physical plan for the named
  * queries (or all of them) — the `.explain("formatted")` loop the scale
  * review runs after every operator change (builder directive). Usage:
  *   runMain graft.Explain <sfDir> [query ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = Sessions.local(Sessions.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      try SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"explain failed: $e") }
    }
    spark.stop()
  }
}
