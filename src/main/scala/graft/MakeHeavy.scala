package graft

import java.nio.file.Paths

/** Scaling-curve fixture builder (r9, verdict #7): replicate the sf0.1
  * tables at an arbitrary factor into an arbitrary dir — protocol-v2
  * splittable row groups, same layout as the BenchHeavy dir — so
  * `graft.TimeQueries <dir> <names>` can measure time-vs-factor points
  * for the dedup/CC family without running the whole heavy tier.
  *
  *   runMain graft.MakeHeavy <targetDir> <factor> [<baseSfDir>]
  *
  * Measurement scratch tool; curve points are recorded in BASELINE.md.
  */
object MakeHeavy {
  def main(args: Array[String]): Unit = {
    val target = Paths.get(args(0))
    val factor = args(1).toInt
    val base = args.lift(2).getOrElse("/root/testdata/sf0.1")
    val spark = BenchHarness.session(defaultCpus = 32, base)
    val stamp = BenchHeavy.ensureHeavyDir(spark, base, factor, target)
    println(s"heavy dir ready: $target ($stamp)")
    spark.stop()
  }
}
