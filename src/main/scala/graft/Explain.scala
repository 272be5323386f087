package graft

/** Plan-inspection utility: prints `explain("formatted")` for the named
  * queries (or all). Usage:
  *   runMain graft.Explain <sfDir> [query ...]
  * Used to audit the physical plans: broadcast joins on dimensions,
  * PushedFilters/ReadSchema at the parquet scans, WholeStageCodegen
  * coverage, and no unexpected shuffles. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = Launch.session()
    names.foreach { name =>
      println(s"\n========== $name ==========")
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
