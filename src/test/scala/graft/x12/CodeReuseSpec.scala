package graft.x12

import java.sql.{Date, Timestamp}
import java.time.LocalDateTime
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.codegen.CodeFormatter
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.{BenchHarness, SparkTestBase, TempDirs}

/** Spark caches compiled classes by their generated source, so a plan
  * rebuilt later reuses its code only if nothing in that source changed.
  * The gold marts and 997 acks stamp the time they were built; that stamp
  * must not reach the generated source.
  */
class CodeReuseSpec extends AnyFunSuite with SparkTestBase with TempDirs {

  test("gold marts and 997 acks built twice compile to the same " +
      "whole-stage code") {
    val corpus = tempDir("graft_reuse_corpus").toString
    X12TestDataGen.writeCorpus(corpus, 9, seed = 42L)
    val date = Date.valueOf("2025-09-01")
    val now = LocalDateTime.of(2025, 9, 1, 12, 0, 0)
    val silver = X12Silver.parse(X12Silver.readFiles(spark, corpus), "B1",
      date, Timestamp.valueOf("2025-09-01 12:00:00")).toDF()
    def build(): Seq[DataFrame] =
      X12Gold.allMarts(silver.filter(col("is_valid")), date).toSeq
        .sortBy(_._1).map(_._2) ++
        Seq(Ack997.acknowledgments(silver, "B1", now),
          Ack997.acknowledgments(silver, "B1", now, qualityDrivenAckCode = true))
    // the code of each executed plan, without the comments that name
    // expression ids
    def code(frames: Seq[DataFrame]): Seq[String] = frames.flatMap { df =>
      BenchHarness.executeFully(df)
      codegenStringSeq(df.queryExecution.executedPlan)
        .map(c => CodeFormatter.stripExtraNewLinesAndComments(c._2))
    }
    val first = code(build())
    Thread.sleep(5)
    val second = code(build())
    assert(first.size >= 14 && second.size == first.size)
    val differ = first.indices.count(i => first(i) != second(i))
    assert(differ == 0,
      s"$differ of ${first.size} whole-stage classes differ between the builds")
  }
}
