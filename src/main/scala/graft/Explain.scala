package graft

/** Plan auditor: prints the formatted physical plan of one or more
  * SparkEntry queries (default: all). Used to keep the §6 scale claims
  * honest — check PushedFilters/ReadSchema on scans, broadcast vs
  * shuffle joins, and WholeStageCodegen spans.
  *
  * Usage: runMain graft.Explain [sfDir] [queryName ...] — an unknown
  * name fails before any work.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = SparkEntry.selectKeys(Some(args.drop(1).mkString(",")))
    val spark = Session.local()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
