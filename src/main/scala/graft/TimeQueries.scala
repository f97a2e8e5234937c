package graft

import org.apache.spark.sql.SparkSession

/** Ad-hoc per-query timing against an arbitrary fixture dir (the heavy
  * dir included): `runMain graft.TimeQueries <dir> <name,name,...>
  * [runs]`. Same execution basis as Bench (`BenchHarness.executeFully`
  * — full output drained through `toRdd.count()`), printed per run so
  * plan-warmup vs steady-state is visible. Measurement scratch tool;
  * the committed artifacts always come from Bench/BenchHeavy.
  */
object TimeQueries {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val names = args(1).split(",").toSeq
    val runs = args.lift(2).map(_.toInt).getOrElse(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // match BenchHeavy's protocol-v2 split grain when timing against the
    // heavy dir (its 1 MB row groups only split under a small bound):
    // SPARK_GRAFT_MAX_PARTITION_BYTES=131072
    val maxPart = sys.env.getOrElse("SPARK_GRAFT_MAX_PARTITION_BYTES",
      (128L * 1024 * 1024).toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.files.maxPartitionBytes", maxPart)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for (n <- names; i <- 1 to runs) {
      val t0 = System.nanoTime()
      BenchHarness.executeFully(SparkEntry.queries(n)(spark, dir))
      println(f"TIME $n run$i ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    spark.stop()
  }
}
