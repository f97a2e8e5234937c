package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

/** Every text operator that runs a native `graft_*` kernel registers the
  * functions itself. Each runs here on its own `spark.newSession()` —
  * functions registered on one session are absent from a new one, and
  * the test session injects no extensions — with no `register` call
  * first, so an operator that forgot its registration fails to resolve.
  */
class SelfRegistrationSpec extends AnyFunSuite with SparkTestBase {

  private val rows = Seq(
    (1L, "a", "the quick brown fox jumps over the lazy dog"),
    (2L, "a", "the quick brown fox jumps over the lazy dog"),
    (3L, "a", "the quick brown fox jumps over the lazy cat"),
    (4L, "b", "an entirely different document with other words"))

  private val operators: Seq[(String, DataFrame => DataFrame)] = Seq(
    "ngramJaccardPairs" -> (d => TextDedup.ngramJaccardPairs(d, "doc_id",
      "text", blockCol = "source", threshold = 0.5)),
    "ngramContainmentPairs" -> (d => TextDedup.ngramContainmentPairs(d,
      "doc_id", "text", blockCol = "source", threshold = 0.5)),
    "minhashSignatures" -> (d => TextDedup.minhashSignatures(d, "doc_id",
      "text", k = 4)),
    "minhashSignaturesUniversal" -> (d => TextDedup
      .minhashSignaturesUniversal(d, "doc_id", "text", k = 4)),
    "bandPostings" -> (d => TextDedup.bandPostings(d, "doc_id", "text",
      bands = 2, rowsPerBand = 2)),
    "mergeClusters" -> { d =>
      import d.sparkSession.implicits._
      val (labels, _) = TextDedup.mergeClusters(
        Seq.empty[(Long, Long)].toDF("doc_id", "cluster_id"),
        Seq.empty[(Long, String)].toDF("doc_id", "bucket"), d, "doc_id",
        "text", bands = 2, rowsPerBand = 2)
      labels
    },
    "minhashLshPairs" -> (d => TextDedup.minhashLshPairs(d, "doc_id", "text",
      bands = 2, rowsPerBand = 2)),
    "minhashLshBucketStats" -> (d => TextDedup.minhashLshBucketStats(d,
      "doc_id", "text", bands = 2, rowsPerBand = 2, maxBucketSize = 0L)),
    "nearDedupPipeline" -> (d => TextDedup.nearDedupPipeline(d, "doc_id",
      "text", bands = 2, rowsPerBand = 2, threshold = 0.5)),
    "dedupAgainstReference" -> (d => TextDedup.dedupAgainstReference(
      d.filter(col("doc_id") === 1), d.filter(col("doc_id") =!= 1),
      "doc_id", "text", bands = 2, rowsPerBand = 2, threshold = 0.5)),
    "substringDedup" -> (d => TextDedup.substringDedup(d, "doc_id", "text",
      n = 3)),
    "splitLeakageAudit" -> (d => TextDedup.splitLeakageAudit(
      d.withColumn("split",
        when(col("doc_id") % 2 === 0, "train").otherwise("test")),
      "doc_id", "text", "split")),
    "familiarity" -> (d => TextAnalysis.familiarity(d, "doc_id", "text",
      d, "text")),
    "contamination" -> (d => TextAnalysis.contamination(d, "doc_id", "text",
      d.filter(col("doc_id") === 4), "text")),
    "repetition" -> (d => TextAnalysis.repetition(d, "doc_id", "text")),
    "fingerprints" -> (d => TextAnalysis.fingerprints(d, "doc_id", "text")),
    "gopherScreen" -> (d => TextAnalysis.gopherScreen(d, "doc_id", "text")),
    "curationPipeline" -> (d => TextAnalysis.curationPipeline(d, "doc_id",
      "text")))

  test("each kernel-backed text operator returns rows on a fresh session " +
      "with no prior register call") {
    for ((name, op) <- operators) withClue(s"$name: ") {
      val s = spark.newSession()
      // precondition: the fresh session really lacks the graft functions
      assert(!s.sessionState.functionRegistry
        .functionExists(FunctionIdentifier("graft_shingles")))
      import s.implicits._
      val docs = rows.toDF("doc_id", "source", "text")
      assert(op(docs).count() > 0, "no rows")
    }
  }
}
