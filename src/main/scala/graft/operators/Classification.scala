package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** In-engine text classification — the fastText-style document classifier
  * a curation pipeline uses for language ID, quality gating, and domain
  * tagging at corpus scale. Multinomial Naive Bayes with Laplace
  * smoothing: training IS counting (one token-keyed census per corpus
  * pass — integer-exact, mergeable, incrementally maintainable), and
  * scoring is a per-token log-likelihood sum — no gradient loop, no
  * float accumulation hazard, which is what makes the whole path
  * hash-oracle-able cross-engine.
  *
  * Arithmetic contract: with Laplace smoothing,
  *   score(d, l) = log₂ P(l) + Σ_t tf_t · log₂ (c(l,t)+1)/(T_l+V)
  * decomposes as
  *   log₂ P(l)  +  Σ_t tf_t · log₂(c(l,t)+1)  −  n_d · log₂(T_l+V)
  * so unseen (token, label) pairs contribute log₂ 1 = 0 and the score
  * needs ONLY the seen (token, label) count rows — the sparse join a
  * 100 TB corpus requires anyway. Every log₂ argument is an exact
  * integer or integer ratio; each term is floor-quantized at
  * `quantScale` into a long, so per-document totals are integer sums
  * (partition-order-proof) and the argmax is exact.
  *
  * Scale: the label set is model-sized — the L (prior, rate) rows are
  * collected to the driver (the BPE-rules precedent) and the census
  * pivots into one finished-lpq column per label, so the scoring side
  * is ONE token-keyed vocabulary lookup join plus ONE per-document
  * aggregate: no L-way row expansion, no (doc, label) exchange, and
  * the argmax is a codegen struct-`greatest` in the same projection.
  * The count census shuffles the (vocab × labels) frame
  * partial-aggregated. No collect of anything corpus-sized.
  */
object Classification {

  /** Train on `train` (labelCol supplies the class) and predict a label
    * for every `test` document.
    *
    * @return (doc_id, pred_label, score_q) — score_q is the winning
    *         quantized joint log-likelihood; ties break on label
    *         ascending (deterministic in any engine)
    */
  def nbClassify(train: DataFrame, test: DataFrame, idCol: String,
      textCol: String, labelCol: String,
      quantScale: Long = 1024L,
      maxBroadcastVocabRows: Long = 4000000L,
      fused: Option[Boolean] = None): DataFrame = {
    val counts = nbCensus(train, textCol, labelCol)
    val labelStats = nbLabelStats(train, textCol, labelCol)
    val nTrain = train.count()
    nbClassifyFromModel(counts, labelStats, nTrain, test, idCol, textCol,
      quantScale, maxBroadcastVocabRows, fused)
  }

  /** The per-label (token, count) census — train tf pre-aggregated per
    * doc by `graft_tf`, then one (label, token)-keyed exchange. MERGEABLE
    * state: two censuses union + re-sum to the census of the combined
    * corpus, which is what makes NB training incrementally maintainable
    * (the st56 partials idiom; st61 runs it across micro-batches).
    */
  def nbCensus(train: DataFrame, textCol: String,
      labelCol: String): DataFrame = {
    graft.functions.GraftFunctions.register(train.sparkSession)
    val F = graft.functions.GraftFunctions
    train.select(col(labelCol).as("label"),
        explode(F.termFreq(split(col(textCol), " "))).as("t"))
      .groupBy(col("label"), col("t.token").as("token"))
      .agg(sum(col("t.tf")).as("c"))
  }

  /** Per-label doc and token totals — the census's companion state,
    * mergeable the same way (sum/sum).
    */
  def nbLabelStats(train: DataFrame, textCol: String,
      labelCol: String): DataFrame =
    train.select(col(labelCol).as("label"),
        size(split(col(textCol), " ")).cast("long").as("n"))
      .groupBy("label")
      .agg(count(lit(1)).as("docs_l"), sum(col("n")).as("tok_l"))

  /** Scoring against a PREBUILT model — `counts` = [[nbCensus]] frame,
    * `labelStats` = [[nbLabelStats]] frame, `nTrain` the train doc
    * count. Same output contract as [[nbClassify]]; how the model frames
    * were accumulated (one shot or merged micro-batch partials) is
    * invisible here, which is exactly what st61's streaming-maintenance
    * parity asserts.
    */
  def nbClassifyFromModel(counts: DataFrame, labelStats: DataFrame,
      nTrain: Long, test: DataFrame, idCol: String, textCol: String,
      quantScale: Long = 1024L,
      maxBroadcastVocabRows: Long = 4000000L,
      fused: Option[Boolean] = None,
      maxFusedVocabRows: Long = 1000000L): DataFrame = {
    graft.functions.GraftFunctions.register(test.sparkSession)
    val F = graft.functions.GraftFunctions
    val spark = test.sparkSession
    // raw label stats collect FIRST (label-sized longs; the quantized
    // priors/rates finish driver-side once vocab is known — r16, one
    // round-trip instead of the r15 form's frame-side quantization)
    val lsRows = labelStats.select(col("label"), col("docs_l"), col("tok_l"))
      .orderBy("label").collect()
    require(lsRows.nonEmpty, "nbClassify: empty training corpus")
    val cCounts = counts.localCheckpoint(false)
    val cnt = cCounts.count()
    // test side, two plan shapes with IDENTICAL integer output
    // (spec-pinned; the oracled td52/td55 hashes hold on either):
    //  - FUSED (r10 verdict #5, the graft_gopher_stats precedent): the
    //    census collects to the driver (vocabulary-bounded — it IS the
    //    model; r16: ONE collect of the raw census replaces the distinct
    //    count + frame pivot + pivoted collect, with the quantized logs
    //    finished through log2qLocal — same Catalyst bits) and inlines
    //    into one graft_nb_seen codegen loop, so scoring is a pure
    //    projection: no per-token rows, no lookup join, no per-doc
    //    re-aggregate;
    //  - JOIN (the 100 TB-vocabulary path; `fused = Some(false)` pins
    //    it): per-doc tf frame (shuffle-free off the scan), ONE
    //    token-keyed lookup join (broadcast under the bound, else
    //    key-bounded shuffle-hash), ONE per-doc aggregate (partial
    //    aggregation collapses per doc map-side).
    val (collected, vocab) =
      censusRows(cCounts, cnt, fused.getOrElse(true), maxFusedVocabRows)
    val useFused = fused match {
      case Some(true) =>
        // fail-loud, not OOM, when the fused path is FORCED past the
        // bound (the requireSmallQuerySet convention)
        require(vocab <= maxFusedVocabRows,
          s"nbClassifyFromModel: fused scoring collects the $vocab-token " +
            s"vocabulary to the driver, above maxFusedVocabRows " +
            s"($maxFusedVocabRows) — use the join form or raise the bound")
        true
      case Some(false) => false
      case None => vocab <= maxFusedVocabRows
    }
    val labelRows = nbLabelRows(spark, lsRows, nTrain, vocab, quantScale)
    val labels = labelRows.map(_._1)
    val perDoc = if (useFused) {
      val lut = nbLut(spark, collected.get, labels, quantScale)
      val sc = F.nbSeen(split(col(textCol), " "), lut, labels.size)
      test.select(col(idCol).as("doc_id"), sc.as("__sc"))
        // the join form drops docs whose token array explodes to nothing
        // (null text) — reproduce the row set exactly
        .filter(col("__sc").isNotNull && col("__sc.n_d") > 0)
        .select(col("doc_id") +: col("__sc.n_d").as("n_d") +:
          labels.indices.map(i => col("__sc.seen")(i).as(s"seen_$i")): _*)
    } else {
      // pivot the census into one finished lpq column per label — one
      // row per token (vocabulary-sized), indexed columns so label
      // VALUES never become identifier text
      def log2q(x: Column) = floor(log2(x) * quantScale).cast("long")
      val liCol = labels.zipWithIndex.tail.foldLeft(
        when(col("label") === labels.head, 0)) { case (acc, (l, i)) =>
          acc.when(col("label") === l, i) }
      val pivoted = cCounts
        .withColumn("li", liCol)
        .withColumn("lpq_c", log2q((col("c") + 1).cast("double")))
        .groupBy("token")
        .pivot("li", labels.indices)
        .agg(first(col("lpq_c")))
        .select(col("token") +: labels.indices.map(i =>
          coalesce(col(s"`$i`"), lit(0L)).as(s"lpq_$i")): _*)
        .localCheckpoint(false)
      val tf = test.select(col(idCol).as("doc_id"),
          explode(F.termFreq(split(col(textCol), " "))).as("t"))
        .select(col("doc_id"), col("t.token").as("token"),
          col("t.tf").as("tf"), col("t.n_terms").as("n_d"))
      val seenCols = labels.indices.map(i =>
        sum(col("tf") * coalesce(col(s"lpq_$i"), lit(0L))).as(s"seen_$i"))
      val vocabLk =
        if (vocab <= maxBroadcastVocabRows) broadcast(pivoted)
        else pivoted.hint("shuffle_hash")
      tf.join(vocabLk, Seq("token"), "left")
        .groupBy("doc_id")
        .agg(max(col("n_d")).as("n_d"), seenCols: _*)
    }
    val best = nbArgmax(labelRows, col("n_d"), i => col(s"seen_$i"))
    perDoc.withColumn("best", best)
      .select(col("doc_id"), col("best.l").as("pred_label"),
        col("best.s").as("score_q"))
  }

  /** Exact integer argmax as a struct max: (score, -index) compares
    * score first, then index ASCENDING = label ascending (the label
    * list is sorted) — deterministic in any engine. Shared by
    * [[nbClassifyFromModel]] and [[TextAnalysis.modelGate]]'s fused
    * scoring, so both build the SAME comparison structs.
    */
  private[operators] def nbArgmax(labelRows: Seq[(String, Long, Long)],
      nD: Column, seen: Int => Column): Column = {
    val scoreStructs = labelRows.zipWithIndex.map { case ((l, prior, rate), i) =>
      struct(
        (lit(prior) - nD * lit(rate) + seen(i)).as("s"),
        lit(-i).as("ni"), lit(l).as("l"))
    }
    if (scoreStructs.size == 1) scoreStructs.head
    else greatest(scoreStructs: _*)
  }

  /** (label, prior_q, rate_q) rows from RAW collected label stats — the
    * quantized logs finish through [[TextAnalysis.log2qLocal]] (same
    * Catalyst Log2/Floor bits as the r15 frame-side construction: the
    * double inputs are the identical long→double casts and one IEEE
    * division). THE MODEL IS LABEL-SIZED: L rows on the driver, the
    * BPE-rules precedent.
    */
  private def nbLabelRows(spark: org.apache.spark.sql.SparkSession,
      lsRows: Array[org.apache.spark.sql.Row], nTrain: Long, vocab: Long,
      quantScale: Long): Seq[(String, Long, Long)] = {
    val priorVals = lsRows.map(_.getLong(1).toDouble / nTrain.toDouble)
    val rateVals = lsRows.map(r => (r.getLong(2) + vocab).toDouble)
    val qs = TextAnalysis.log2qLocal(spark,
      (priorVals ++ rateVals).toIndexedSeq, quantScale)
    lsRows.toIndexedSeq.zipWithIndex.map { case (r, i) =>
      (r.getString(0), qs(i), qs(lsRows.length + i)) }
  }

  /** The vocabulary lpq LUT from the collected raw census — one finished
    * `log2q(c + 1)` per (token, label), absent pairs 0L, exactly the
    * r15 pivoted frame's coalesce semantics; the quantization routes the
    * DISTINCT counts through [[TextAnalysis.log2qLocal]] once.
    */
  private def nbLut(spark: org.apache.spark.sql.SparkSession,
      rows: Array[org.apache.spark.sql.Row], labels: Seq[String],
      quantScale: Long): Map[String, Seq[Long]] = {
    val li = labels.zipWithIndex.toMap
    val distinctC = rows.map(_.getLong(2)).distinct
    val qs = TextAnalysis.log2qLocal(spark,
      distinctC.map(c => (c + 1).toDouble).toIndexedSeq, quantScale)
    val cMap = distinctC.zip(qs).toMap
    val lut = new java.util.HashMap[String, Array[Long]]()
    rows.foreach { r =>
      val arr = lut.computeIfAbsent(r.getString(1),
        _ => new Array[Long](labels.size))
      arr(li(r.getString(0))) = cMap(r.getLong(2))
    }
    import scala.jdk.CollectionConverters._
    lut.asScala.view.mapValues(_.toIndexedSeq).toMap
  }

  /** The inline NB model of [[nbClassifyFromModel]]'s fused path —
    * (label rows (label, prior_q, rate_q), vocabulary lpq LUT) from ONE
    * label-stats collect + ONE census collect, or None when the
    * vocabulary exceeds the fused bound (the caller then composes
    * [[nbClassify]] itself). nTrain is the label stats' own docs_l mass
    * (= train.count(): every train row lands in exactly one label
    * group). Consumed by [[TextAnalysis.modelGate]]'s single-pass
    * scoring, which therefore inlines the SAME constants as td52's
    * fused classifier.
    */
  def nbInlineModel(train: DataFrame, textCol: String, labelCol: String,
      quantScale: Long = 1024L, maxFusedVocabRows: Long = 1000000L)
    : Option[(Seq[(String, Long, Long)], Map[String, Seq[Long]])] = {
    val spark = train.sparkSession
    val lsRows = nbLabelStats(train, textCol, labelCol)
      .select(col("label"), col("docs_l"), col("tok_l"))
      .orderBy("label").collect()
    require(lsRows.nonEmpty, "nbClassify: empty training corpus")
    val nTrain = lsRows.map(_.getLong(1)).sum
    val cCounts = nbCensus(train, textCol, labelCol).localCheckpoint(false)
    val cnt = cCounts.count()
    // cnt ≤ vocab × L: past this bound the vocabulary provably exceeds
    // the fused bound — not even its size is needed
    if (cnt > maxFusedVocabRows * lsRows.length) return None
    val (collected, vocab) =
      censusRows(cCounts, cnt, collect = true, maxFusedVocabRows)
    collected.map { rows =>
      val labelRows = nbLabelRows(spark, lsRows, nTrain, vocab, quantScale)
      (labelRows, nbLut(spark, rows, labelRows.map(_._1), quantScale))
    }
  }

  /** The checkpointed census `cCounts` (`cnt` rows) and its vocabulary
    * size, the census collected only when `collect` and the vocabulary
    * fits `maxFusedVocabRows`. The bound holds BEFORE the collect runs:
    * cnt ≥ vocab, so at cnt ≤ the bound the collect is safe and yields
    * the vocabulary; past it the distinct-token count decides first.
    */
  private def censusRows(cCounts: DataFrame, cnt: Long, collect: Boolean,
      maxFusedVocabRows: Long): (Option[Array[org.apache.spark.sql.Row]], Long) =
    if (collect && cnt <= maxFusedVocabRows) {
      val rows = cCounts.collect()
      val seen = new java.util.HashSet[String]()
      rows.foreach(r => seen.add(r.getString(1)))
      (Some(rows), seen.size.toLong)
    } else {
      val vocab = cCounts.select("token").distinct().count()
      (Option.when(collect && vocab <= maxFusedVocabRows)(cCounts.collect()),
        vocab)
    }
}
