package graft.medbench

import java.nio.file.Files
import java.sql.Date
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

/** The traced copies against the real runs, on small inputs. */
class ChainsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession.getOrCreate(SparkSession.builder()
    .master("local[2]").config("spark.ui.enabled", "false"), shufflePartitions = 2)

  override def afterAll(): Unit = spark.stop()

  test("the traced medallion run writes what X12Pipeline.run writes") {
    val work = Files.createTempDirectory("medbench-medallion")
    val landing = work.resolve("landing")
    val g = Gen.dailyBatch(landing, 3L, "d1", nFiles = 12, nPairs = 2)
    val b = LandedBatch(landing, "D1", Date.valueOf("2025-09-02"), g)
    val (real, traced) = (work.resolve("real"), work.resolve("traced"))
    Medallion.run(spark, b, real)
    assert(Medallion.check(spark, b, real).isEmpty)
    Main.hygiene(spark)
    val t = new Tracer("m", spark.sparkContext)
    Medallion.traced(spark, b, traced, t)
    assert(Medallion.check(spark, b, traced).isEmpty)
    assert(Medallion.digest(spark, traced) == Medallion.digest(spark, real))
    val names = t.spans.map(_.name).toSet
    assert(Catalog.x12Spans.toSet.subsetOf(names))
    assert(Catalog.marts.map("gold." + _).toSet.subsetOf(names))
    Main.hygiene(spark)
  }

  test("the curation chain's mix is pinned for a fixed seed, traced or not") {
    import spark.implicits._
    val docs = Gen.documents(1L, nBase = 120, variants = 5).toDF()
    val real = CurationChain.run(spark, docs)
    assert(CurationChain.check(real, docs).isEmpty)
    val pinned = CurationChain.digest(real)
    assert(pinned == "76:f2123ba3")
    val t = new Tracer("c", spark.sparkContext)
    val f = CurationChain.traced(spark, docs, t)
    assert(CurationChain.digest(f.mix) == pinned)
    assert(t.spans.map(_.name) == Catalog.curationSpans)
    Main.hygiene(spark)
  }
}
