package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated name-prefix filter for fast local
    // iteration on a few queries (the driver always calls with 2 args)
    val prefixes = args.lift(2).map(_.split(",").toSeq)
    def selected(name: String): Boolean =
      prefixes.forall(_.exists(name.startsWith))
    val spark = BenchHarness.session(defaultCpus = 4, sfDir)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (selected(name)) {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      BenchHarness.oracleSqlJson(SparkEntry.oracleSql))
    spark.stop()
  }
}
