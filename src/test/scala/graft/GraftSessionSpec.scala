package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class GraftSessionSpec extends AnyFunSuite with SparkTestBase {

  test("configure yields a session with the scale confs and graft functions injected") {
    spark // materialize the shared session (and its SparkContext) first
    val prev = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = GraftSession.getOrCreate(SparkSession.builder(),
        shufflePartitions = 7)
      assert(s ne spark)
      assert(s.conf.get("spark.sql.shuffle.partitions") == "7")
      assert(s.conf.get("spark.sql.adaptive.enabled") == "true")
      assert(s.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true")
      assert(s.conf.get("spark.sql.parquet.compression.codec") == "zstd")
      assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
      assert(s.conf.get("spark.sql.codegen.cache.maxEntries") ==
        GraftSession.CodegenCacheEntries.toString)
      assert(s.conf.get("spark.sql.artifact.isolation.enabled") == "false")
      // extensions injected the whole function family — resolvable from SQL
      assert(s.sql("SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
        .head.getDouble(0) == 11.0)
      assert(s.sql("SELECT graft_nfc('café') AS n")
        .head.getString(0) == "café")
      assert(s.sql("SELECT element_at(graft_minhash(array('a b'), 2), 1) AS m")
        .head.getString(0).length == 32)
      assert(s.sql("SELECT graft_shingles('a b c') AS sh")
        .head.getSeq[String](0) == Seq("a b", "b c"))
    } finally {
      prev.foreach(SparkSession.setDefaultSession)
      prev.foreach(SparkSession.setActiveSession)
    }
  }
}
