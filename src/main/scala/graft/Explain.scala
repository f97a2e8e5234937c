package graft

/** Plan inspection: prints the formatted physical plan for the named
  * queries (or all). Usage: runMain graft.Explain <sfDir> [name ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = BenchHarness.session(defaultCpus = 4, sfDir)
    names.foreach { n =>
      SparkEntry.queries.get(n).foreach { fn =>
        println(s"\n===== $n =====")
        try println(fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        catch { case e: Throwable => println(s"failed: ${e.getMessage}") }
      }
    }
    spark.stop()
  }
}
