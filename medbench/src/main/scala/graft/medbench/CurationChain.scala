package graft.medbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.BenchHarness
import graft.operators.{Curation, Sampling, TextAnalysis, TextDedup}

/** The composed curation run: crawl front door → near-dedup → model gate
  * → token-budgeted mix, read-only, drained the way the sweep drains
  * entries ([[BenchHarness.executeFully]]).
  */
object CurationChain {

  val Budgets: Map[String, Long] = Map("src0" -> 600L, "src1" -> 200L)
  val DefaultBudget: Long = 400L
  val PerDomainK: Int = 2000
  val Blocked: Seq[String] = Seq("src3.example.com", "src7.example.com", "blocked.invalid")

  /** The gate's rule text carries the stopword tail the sweep's q40 entry
    * injects on even ids: the generated words hold no Gopher stopwords, and
    * without it the rule screen admits nothing and the mix does no work.
    */
  val ruleText: Column =
    concat(col("text"), when(col("doc_id") % 2 === 0,
      lit(" and so that was the end of it all")).otherwise(lit("")))

  def frontDoor(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    Curation.crawlFrontDoor(docs, "url", "doc_id", "text",
      Blocked.toDF("domain"), PerDomainK)
  }

  def dedup(df: DataFrame): DataFrame =
    TextDedup.nearDedupPipeline(df, "doc_id", "text", bands = 4,
      rowsPerBand = 4, threshold = 0.5, fast = true)

  /** Gate columns per document; `admitted` is the conjunction. */
  def gate(df: DataFrame): DataFrame =
    TextAnalysis.modelGate(train = df.filter(col("doc_id") % 2 === 0),
      docs = df, idCol = "doc_id", textCol = "text", ruleText = ruleText,
      labelCol = "lang", extra = Seq("source" -> col("source"),
        "n_tokens" -> size(split(col("text"), " "))))
      .withColumn("lm_ok", col("sum_lpq") >= lit(-5632L) * col("n_bigrams"))
      .withColumn("lang_ok", col("pred_label") === col("lang"))
      .withColumn("admitted", col("keep") && col("lm_ok") && col("lang_ok"))

  /** The admission barrier and filter of the sweep's curated-mix entry. */
  def mix(gated: DataFrame): DataFrame =
    Sampling.tokenBudget(
      gated.localCheckpoint(false).filter(col("admitted"))
        .select("doc_id", "source", "n_tokens"),
      "source", "doc_id", "n_tokens", Budgets, DefaultBudget)

  /** The chain as one lazy plan, drained once. The mix is cached by that
    * drain, so the output check reads it without running the chain again.
    */
  def run(spark: SparkSession, docs: DataFrame): DataFrame = {
    val out = mix(gate(dedup(frontDoor(spark, docs)))).persist()
    BenchHarness.executeFully(out)
    out
  }

  /** Layer outputs of a traced run, for the layer counts. */
  final case class Frames(frontDoor: DataFrame, dedup: DataFrame,
      gate: DataFrame, mix: DataFrame)

  /** The same chain with each layer materialized inside its own span, so
    * stage work lands on the layer that did it. The materializations are
    * the tracing cost that `trace.overhead_s` reports.
    */
  def traced(spark: SparkSession, docs: DataFrame, t: Tracer): Frames = {
    val fd = t.span("front_door")(frontDoor(spark, docs).localCheckpoint(true))
    val dd = t.span("dedup")(dedup(fd).localCheckpoint(true))
    val g = t.span("gate")(gate(dd).localCheckpoint(true))
    val m = t.span("mix") {
      val m = mix(g).persist()
      BenchHarness.executeFully(m)
      m
    }
    Frames(fd, dd, g, m)
  }

  /** Sorted survivor ids, the run's output digest. */
  def digest(mix: DataFrame): String = {
    val ids = mix.select("doc_id").collect().map(_.getLong(0)).sorted
    f"${ids.length}:${java.util.Arrays.hashCode(ids)}%08x"
  }

  /** Output check: the mix is non-empty, every survivor is an input
    * document, and no source exceeds its token budget.
    */
  def check(mix: DataFrame, docs: DataFrame): Seq[String] = {
    val n = mix.count()
    val strangers = mix.join(docs, Seq("doc_id"), "left_anti").count()
    val over = mix.groupBy("source").agg(sum("n_tokens").as("t")).collect()
      .filter(r => r.getLong(1) > Budgets.getOrElse(r.getString(0), DefaultBudget))
      .map(r => s"${r.getString(0)}=${r.getLong(1)}")
    Seq(
      Option.when(n == 0)("the mix is empty"),
      Option.when(strangers > 0)(s"$strangers mix ids are not input documents"),
      Option.when(over.nonEmpty)(s"sources over budget: ${over.mkString(",")}")
    ).flatten
  }
}
