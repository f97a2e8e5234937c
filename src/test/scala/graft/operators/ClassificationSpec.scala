package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

class ClassificationSpec extends AnyFunSuite with SparkTestBase {

  private def lq(x: Double): Long =
    math.floor(math.log(x) / math.log(2.0) * 1024).toLong

  test("nbClassify separates two classes on disjoint vocabulary") {
    import spark.implicits._
    val train = Seq(
      (0L, "apple banana apple", "fruit"),
      (2L, "banana apple banana", "fruit"),
      (4L, "bolt nut bolt", "hardware"),
      (6L, "nut bolt nut", "hardware")).toDF("doc_id", "text", "label")
    val test = Seq(
      (1L, "apple apple banana"),
      (3L, "bolt nut")).toDF("doc_id", "text")
    val out = Classification
      .nbClassify(train, test, "doc_id", "text", "label")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(out == Map(1L -> "fruit", 3L -> "hardware"))
  }

  test("fused graft_nb_seen scoring is row-identical to the lookup-join " +
      "path — duplicates, unseen tokens, ties, dropped null-text docs") {
    import spark.implicits._
    val train = Seq(
      (0L, "aa bb aa cc", "x"),
      (2L, "bb bb dd", "y"),
      (4L, "cc dd dd ee", "z"),
      (6L, "aa ee", "y")).toDF("doc_id", "text", "label")
    val test = Seq(
      (1L, "aa aa bb zz"),      // duplicates + an unseen token
      (3L, "zz qq"),            // fully unseen — prior + length penalty
      (5L, "bb dd"),            // cross-label evidence
      (7L, "")).toDF("doc_id", "text") // one empty token
      .unionByName(Seq(9L).toDF("doc_id")
        .withColumn("text", org.apache.spark.sql.functions
          .lit(null).cast("string"))) // dropped by BOTH paths
    val fusedOut = Classification.nbClassify(train, test,
      "doc_id", "text", "label", fused = Some(true))
    val joinOut = Classification.nbClassify(train, test,
      "doc_id", "text", "label", fused = Some(false))
    assert(fusedOut.except(joinOut).count() == 0 &&
      joinOut.except(fusedOut).count() == 0,
      s"fused/join divergence:\n${fusedOut.collect().toSeq}\n" +
        s"${joinOut.collect().toSeq}")
    assert(fusedOut.filter(org.apache.spark.sql.functions.col("doc_id") === 9L)
      .count() == 0, "null-text doc must be dropped on both paths")
    assert(fusedOut.count() == 4)
  }

  test("nbClassify: all-unseen tokens fall back to prior + length penalty") {
    import spark.implicits._
    // priors: a=2/3 docs, b=1/3; vocab V=2, T_a=2, T_b=1 → rate terms
    // log2(4) vs log2(3). For an unseen-token doc the score is
    // prior_q − n_d·rate_q exactly (seen sum empty).
    val train = Seq(
      (0L, "x x", "a"), (2L, "x", "a"), (4L, "y", "b"))
      .toDF("doc_id", "text", "label")
    // T_a = 3 (x x + x), T_b = 1, V = 2
    val test = Seq((1L, "zz qq")).toDF("doc_id", "text")
    val r = Classification
      .nbClassify(train, test, "doc_id", "text", "label").head()
    val scoreA = lq(2.0 / 3) - 2 * lq(5.0) // prior 2/3, T_a+V = 5
    val scoreB = lq(1.0 / 3) - 2 * lq(3.0) // prior 1/3, T_b+V = 3
    val expected = if (scoreA >= scoreB) ("a", scoreA) else ("b", scoreB)
    assert((r.getString(1), r.getLong(2)) == expected)
  }

  test("merged census partials classify identically to one-shot training") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val train = docs.filter(col("doc_id") % 2 === 0)
    val oneShot = Classification
      .nbClassify(train, docs, "doc_id", "text", "lang")
    // split the train half arbitrarily, census each part, merge — the
    // st61 maintenance identity as a unit assertion
    val parts = Seq(col("doc_id") % 4 === 0, col("doc_id") % 4 === 2)
      .map(p => train.filter(p))
    val counts = parts.map(Classification.nbCensus(_, "text", "lang"))
      .reduce(_ unionByName _)
      .groupBy("label", "token").agg(sum(col("c")).as("c"))
    val stats = parts.map(Classification.nbLabelStats(_, "text", "lang"))
      .reduce(_ unionByName _)
      .groupBy("label").agg(sum(col("docs_l")).as("docs_l"),
        sum(col("tok_l")).as("tok_l"))
    val merged = Classification.nbClassifyFromModel(counts, stats,
      train.count(), docs, "doc_id", "text")
    assert(oneShot.collect().toSet == merged.collect().toSet)
  }

  test("nbClassify tiebreak: equal scores pick the ascending label") {
    import spark.implicits._
    // perfectly symmetric classes → identical scores for a symmetric doc
    val train = Seq(
      (0L, "p", "l1"), (2L, "q", "l2")).toDF("doc_id", "text", "label")
    val test = Seq((1L, "p q")).toDF("doc_id", "text")
    val r = Classification
      .nbClassify(train, test, "doc_id", "text", "label").head()
    assert(r.getString(1) == "l1")
  }

  test("the census collect is bounded before it runs: in the band " +
      "maxFusedVocabRows < vocab <= maxFusedVocabRows x labels the join " +
      "form is chosen and the census never reaches the driver") {
    import spark.implicits._
    // 3 labels, census of 6 (label, token) rows over a 5-token vocabulary
    val train = Seq(
      (0L, "aa bb cc", "x"),
      (2L, "aa dd", "y"),
      (4L, "ee ee", "z")).toDF("doc_id", "text", "label")
    val test = Seq(
      (1L, "aa bb"), (3L, "dd ee ee"), (5L, "cc zz")).toDF("doc_id", "text")
    def classify(bound: Long, fused: Option[Boolean] = None) =
      executionsOf {
        val out = Classification.nbClassifyFromModel(
          Classification.nbCensus(train, "text", "label"),
          Classification.nbLabelStats(train, "text", "label"), 3L, test,
          "doc_id", "text", fused = fused, maxFusedVocabRows = bound)
        (out.queryExecution.executedPlan.toString, out.collect().toSet)
      }
    def censusCollects(runs: Seq[(String, org.apache.spark.sql.execution.QueryExecution)]) =
      runs.count { case (f, qe) =>
        f == "collect" && qe.analyzed.output.map(_.name) == Seq("label", "token", "c") }
    val ((_, joinRows), _) = classify(1000L, fused = Some(false))
    // 3 < vocab 5 <= 9 (and census 6 <= 9, which once collected it)
    val ((plan, rows), runs) = classify(3L)
    assert(plan.contains("Join") && !plan.contains("graft_nb_seen"), plan)
    assert(censusCollects(runs) == 0,
      s"the census was collected: ${runs.map(_._1)}")
    assert(rows == joinRows)
    // past the bound with the vocabulary inside it, the distinct count
    // decides and the census collects once — the detection is not vacuous
    // (the fused projection over this local test frame folds to a
    // LocalTableScan, so its plan shows no join)
    val ((fusedPlan, fusedRows), fusedRuns) = classify(5L)
    assert(!fusedPlan.contains("Join"), fusedPlan)
    assert(censusCollects(fusedRuns) == 1)
    assert(fusedRows == joinRows)
  }
}
