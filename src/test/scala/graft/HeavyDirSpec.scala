package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the heavy-dir builder shared by BenchHeavy and MakeHeavy, and the
  * split grain every measurement session derives from the dir it reads.
  */
class HeavyDirSpec extends AnyFunSuite with SparkTestBase with TempDirs {

  private val base = "/root/testdata/sf0.001"
  private val tables = Seq("documents" -> "doc_id", "embeddings" -> "vec_id",
    "events" -> "event_id", "lineitem" -> "l_orderkey")

  test("ensureHeavyDir replicates four tables with distinct ids, stamps once, and sets the heavy grain") {
    val target = tempDir("graft_heavy_spec")
    val stamp = BenchHeavy.ensureHeavyDir(spark, base, 2, target)
    assert(stamp == s"base=$base factor=2 v=4")
    assert(Files.readString(target.resolve(BenchHeavy.ManifestName)) == stamp)

    // replica ids never collide: distinct ids double too (lineitem's
    // l_orderkey repeats per order line, so its ids are not a row key)
    def census(path: String, idCol: String): (Long, Long) = {
      val r = spark.read.parquet(path)
        .agg(count(lit(1)), countDistinct(col(idCol))).head()
      (r.getLong(0), r.getLong(1))
    }
    for ((table, idCol) <- tables) {
      val (baseRows, baseIds) = census(s"$base/$table.parquet", idCol)
      val (rows, ids) = census(target.resolve(s"$table.parquet").toString, idCol)
      assert(rows == 2 * baseRows, table)
      assert(ids == 2 * baseIds, s"$table ids must be distinct across replicas")
    }

    def mtimes(): Seq[(Path, java.nio.file.attribute.FileTime)] =
      (tables.map { case (t, _) => target.resolve(s"$t.parquet") } :+
        target.resolve(BenchHeavy.ManifestName))
        .map(p => p -> Files.getLastModifiedTime(p))
    val before = mtimes()
    assert(BenchHeavy.ensureHeavyDir(spark, base, 2, target) == stamp)
    assert(mtimes() == before, "a matching stamp must rewrite nothing")

    assert(BenchHeavy.splitGrain(target.toString) == 128L * 1024)
    assert(BenchHeavy.splitGrain(base) == 128L * 1024 * 1024)
  }
}
