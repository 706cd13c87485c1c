package graft
/** Prints each named query's formatted physical plan, on the same
  * `GraftSession.local(SPARK_GRAFT_CPUS)` session Bench and Verify use.
  * Usage: sbt "runMain graft.Explain q131_pagerank q256_ppr" */
object Explain {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.local(cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")
    val d = "/root/testdata/sf0.001"
    for (q <- args) {
      println(s"===== $q =====")
      println(SparkEntry.queries(q)(spark, d).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
