package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

class RetrievalSpec extends AnyFunSuite with SparkTestBase {

  /** The join-shaped BM25 reference: [[Retrieval.bm25RankFromIndex]] over
    * the corpus' own postings and df census, with the corpus scalars
    * computed as [[Retrieval.bm25Rank]] computes them.
    */
  private def bm25ViaIndex(docs: DataFrame, query: DataFrame,
      topK: Int): DataFrame = {
    val postings = Retrieval.bm25Postings(docs, "doc_id", "text")
    val census = postings.groupBy("token").agg(count(lit(1)).as("df"))
    val dl = size(split(col("text"), " ")).cast("long")
    val r = docs.agg(count(lit(1)), sum(dl), max(dl)).head
    Retrieval.bm25RankFromIndex(postings, census, r.getLong(0),
      r.getLong(1), r.getLong(2), query, topK)
  }

  /** Per-query reference for [[Retrieval.bm25RankQueries]]: `rank` run on
    * each query_id's tokens alone, unioned.
    */
  private def perQuery(queries: DataFrame, topK: Int)(
      rank: (DataFrame, Int) => DataFrame): DataFrame =
    queries.select("query_id").distinct().collect().map(_.get(0))
      .map(qid => rank(queries.filter(col("query_id") === lit(qid))
          .select("token"), topK)
        .select(lit(qid).as("query_id"), col("rank"), col("doc_id"),
          col("bm25q")))
      .reduce(_ unionByName _)

  test("bm25Rank ranks the rare-term match above the common-term match") {
    import spark.implicits._
    // "zebra" appears in one doc, "the" in all four; a query containing
    // both must rank the zebra doc first (idf dominates), and a doc
    // matching neither must be absent
    val docs = Seq(
      (0L, "the zebra runs"),
      (1L, "the the the the cat"),
      (2L, "the dog sits"),
      (3L, "fox jumps high")).toDF("doc_id", "text")
    val query = Seq("the", "zebra").toDF("token")
    val out = Retrieval.bm25Rank(docs, "doc_id", "text", query, topK = 10)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toList
    assert(out.map(_._2).head == 0L, s"zebra doc should rank first: $out")
    assert(!out.map(_._2).contains(3L), "no-match doc must be absent")
    assert(out.map(_._1) == (1 to out.size).toList, "ranks are dense from 1")
  }

  test("fused graft_bm25q path is row-identical to the candidate-join " +
      "path — ranks, quantized scores, and the absent no-match docs") {
    import spark.implicits._
    val docs = Seq(
      (0L, "the zebra runs and runs the zebra"),
      (1L, "the the the the cat naps"),
      (2L, "the dog sits on the zebra rug"),
      (3L, "fox jumps high"),           // matches nothing — absent
      (4L, "zebra zebra zebra"),
      (5L, "cat dog zebra the a an")).toDF("doc_id", "text")
      .unionByName(Seq(9L).toDF("doc_id")
        .withColumn("text", lit(null).cast("string"))) // null text
    val query = Seq("the", "zebra", "cat", "unicorn").toDF("token")
    val joinOut = bm25ViaIndex(docs, query, topK = 10)
    val fusedOut = Retrieval.bm25Rank(docs, "doc_id", "text", query,
      topK = 10)
    assert(joinOut.except(fusedOut).count() == 0 &&
      fusedOut.except(joinOut).count() == 0,
      s"fused/join divergence:\n${joinOut.collect().toSeq}\n" +
        s"${fusedOut.collect().toSeq}")
    val ids = fusedOut.collect().map(_.getLong(1)).toSet
    assert(!ids.contains(3L) && !ids.contains(9L),
      "no-match and null-text docs must be absent on both paths")
  }

  test("graft_query_hits rejects a negative query slot at PLAN BUILD on " +
      "the driver (r11 advice: executor-time AIOOBE otherwise)") {
    graft.functions.GraftFunctions.register(spark)
    val e = intercept[Exception] {
      spark.sql("SELECT graft_query_hits(array('a'), map('a', -1))")
        .collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    assert(msgs(e).exists(m => m != null && m.contains("must be >= 0")),
      s"expected the driver-side slot-range message, got: $e")
  }

  test("bm25Rank length normalization: same tf ranks the shorter doc higher") {
    import spark.implicits._
    val docs = Seq(
      (0L, "apple pie"),
      (1L, "apple " + ("filler " * 40).trim),
      (2L, "nothing here")).toDF("doc_id", "text")
    val query = Seq("apple").toDF("token")
    val out = Retrieval.bm25Rank(docs, "doc_id", "text", query, topK = 10)
      .collect().map(_.getLong(1)).toList
    assert(out == List(0L, 1L))
  }

  test("bm25RankQueries on one query equals bm25Rank exactly") {
    import spark.implicits._
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val terms = docs.filter(col("doc_id") === 0)
      .select(explode(split(col("text"), " ")).as("token")).distinct()
    val single = Retrieval.bm25Rank(docs, "doc_id", "text", terms, topK = 10)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val multi = Retrieval.bm25RankQueries(docs, "doc_id", "text",
        terms.withColumn("query_id", lit(0L)), topK = 10)
      .select("rank", "doc_id", "bm25q")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(single == multi)
  }

  test("retrievalEval: first-rank/quantized-RR/hits@k from a hand " +
      "fixture — multi-relevant, miss, and partial-recall queries all " +
      "keep exact-integer rows") {
    import spark.implicits._
    // q1: relevant {10, 11}, ranked hits at 1 and 7 → first 1, rr 65536
    // q2: relevant {20}, ranked hit at 3 → rr = 65536 DIV 3 = 21845
    // q3: relevant {30}, never retrieved → miss row, zeros + null rank
    val ranked = Seq(
      (1L, 1, 10L), (1L, 2, 99L), (1L, 7, 11L),
      (2L, 1, 98L), (2L, 2, 97L), (2L, 3, 20L),
      (3L, 1, 96L)).toDF("query_id", "rank", "doc_id")
    // the q2 label repeats — a dirty label set must not inflate n_rel
    val relevant = Seq((1L, 10L), (1L, 11L), (2L, 20L), (2L, 20L),
        (3L, 30L))
      .toDF("query_id", "doc_id")
    val out = Retrieval.retrievalEval(ranked, relevant)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), if (r.isNullAt(2)) -1 else r.getInt(2),
          r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    assert(out(1L) == ((2L, 1, 65536L, 1L, 1L, 2L)), out(1L))
    assert(out(2L) == ((1L, 3, 21845L, 0L, 1L, 1L)), out(2L))
    assert(out(3L) == ((1L, -1, 0L, 0L, 0L, 0L)), out(3L))
    // dials fail loud: unsorted cutoffs and a zero scale
    intercept[IllegalArgumentException] {
      Retrieval.retrievalEval(ranked, relevant, ks = Seq(5, 1))
    }
    intercept[IllegalArgumentException] {
      Retrieval.retrievalEval(ranked, relevant, rrScale = 0L)
    }
  }

  test("retrievalEvalSummary: one-row gate — integer sums, MRR and " +
      "recall@k each one division of exact longs") {
    import spark.implicits._
    val ranked = Seq(
      (1L, 1, 10L), (1L, 2, 99L), (1L, 7, 11L),
      (2L, 1, 98L), (2L, 2, 97L), (2L, 3, 20L),
      (3L, 1, 96L)).toDF("query_id", "rank", "doc_id")
    val relevant = Seq((1L, 10L), (1L, 11L), (2L, 20L), (3L, 30L))
      .toDF("query_id", "doc_id")
    val r = Retrieval.retrievalEvalSummary(
      Retrieval.retrievalEval(ranked, relevant)).collect()
    assert(r.length == 1)
    val row = r(0)
    // n_queries 3, n_rel 4, Σrr_q = 65536 + 21845 + 0
    assert(row.getLong(0) == 3L && row.getLong(1) == 4L &&
      row.getLong(2) == 87381L, row)
    assert(row.getDouble(3) == 87381.0 / (3.0 * 65536.0), row)
    // hits: @1 = 1, @5 = 2, @10 = 3 (q1's second relevant at rank 7)
    assert(row.getLong(4) == 1L && row.getDouble(5) == 1.0 / 4.0, row)
    assert(row.getLong(6) == 2L && row.getDouble(7) == 2.0 / 4.0, row)
    assert(row.getLong(8) == 3L && row.getDouble(9) == 3.0 / 4.0, row)
    // a non-eval frame fails loud instead of summing garbage
    intercept[IllegalArgumentException] {
      Retrieval.retrievalEvalSummary(ranked)
    }
  }

  test("bm25RankQueries Q-routing (fused <= 4 < multi) never changes " +
      "results: routed, fused and join outputs are row-identical past " +
      "the threshold") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    // 33 distinct query ids — past FusedQueryRouteMax, so the default
    // routes the MULTI kernel; the per-query kernel and the join-shaped
    // index scorer, run one query at a time, must agree with it
    val qs = docs.filter(col("doc_id") < 33)
      .select(col("doc_id").as("query_id"),
        explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0).distinct()
    assert(Retrieval.FusedQueryRouteMax == 4L)
    val routed = Retrieval.bm25RankQueries(docs, "doc_id", "text", qs,
      topK = 3)
    val fusedR = perQuery(qs, topK = 3)(
      Retrieval.bm25Rank(docs, "doc_id", "text", _, _))
    val joinR = perQuery(qs, topK = 3)(bm25ViaIndex(docs, _, _))
    assert(routed.except(joinR).count() == 0 &&
      joinR.except(routed).count() == 0)
    assert(fusedR.except(joinR).count() == 0 &&
      joinR.except(fusedR).count() == 0)
  }

  test("single-pass multi kernel (r15 default) is row-identical to the " +
      "fused and join shapes — shared-token queries, a no-match query, " +
      "and per-query tie-breaks") {
    import spark.implicits._
    val docs = Seq(
      (0L, "the zebra runs fast"),
      (1L, "the the cat naps"),
      (2L, "zebra zebra stripes"),
      (3L, "dog sits by the door"),
      (4L, "fox jumps over the dog"),
      (5L, "quiet quiet quiet")).toDF("doc_id", "text")
    // q10/q11 share tokens ("the", "dog"); q12 matches nothing; q13-q15
    // are single-token — six queries, past FusedQueryRouteMax (4), so the
    // default routes the MULTI kernel
    val qs = Seq(
      (10L, "the"), (10L, "zebra"),
      (11L, "dog"), (11L, "the"),
      (12L, "unicorn"),
      (13L, "quiet"),
      (14L, "fox"),
      (15L, "stripes")).toDF("query_id", "token")
    val multi = Retrieval.bm25RankQueries(docs, "doc_id", "text", qs,
      topK = 3) // routed = the multi kernel
    val fusedR = perQuery(qs, topK = 3)(
      Retrieval.bm25Rank(docs, "doc_id", "text", _, _))
    val joinR = perQuery(qs, topK = 3)(bm25ViaIndex(docs, _, _))
    assert(multi.except(fusedR).count() == 0 &&
      fusedR.except(multi).count() == 0)
    assert(multi.except(joinR).count() == 0 &&
      joinR.except(multi).count() == 0)
    // the default plans the single-pass kernel over a real scan: one
    // graft_bm25q_multi projection, no per-query graft_bm25q passes, no
    // termFreq explode, and the per-query top-k gets map-side
    // WindowGroupLimit (a LocalRelation input constant-folds the
    // projection away, hence the parquet frame here)
    val pdocs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val pqs = pdocs.filter(col("doc_id") < 8)
      .select(col("doc_id").as("query_id"),
        explode(split(col("text"), " ")).as("token")).distinct()
    val plan = Retrieval.bm25RankQueries(pdocs, "doc_id", "text", pqs,
      topK = 3).queryExecution.executedPlan.toString
    assert(plan.contains("graft_bm25q_multi"), plan)
    assert(!plan.contains("graft_tf"), plan)
    assert(plan.contains("WindowGroupLimit"), plan)
    // the no-match query contributes no rows; matched queries keep dense
    // ranks from 1
    val byQ = multi.collect().groupBy(_.getLong(0))
    assert(!byQ.contains(12L))
    assert(byQ(13L).map(_.getInt(1)).sorted.toSeq == Seq(1))
    assert(byQ(10L).map(_.getInt(1)).sorted.toSeq == Seq(1, 2, 3))
  }

  test("bm25RankQueries(fused) on an EMPTY query set returns an empty " +
      "typed frame, matching the join form (r13 advice)") {
    import spark.implicits._
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val none = Seq.empty[(Long, String)].toDF("query_id", "token")
    val f = Retrieval.bm25RankQueries(docs, "doc_id", "text", none,
      topK = 5)
    assert(f.count() == 0)
    assert(f.columns.toSeq == Seq("query_id", "rank", "doc_id", "bm25q"))
    assert(f.schema("query_id").dataType == none.schema("query_id").dataType)
    assert(f.schema("rank").dataType ==
      org.apache.spark.sql.types.IntegerType)
    assert(f.schema("doc_id").dataType == docs.schema("doc_id").dataType)
  }

  test("bm25RankFromIndex on merged batch partials equals bm25Rank one-shot") {
    import spark.implicits._
    // the st66 property at unit grain: postings APPEND, the df census and
    // scalars MERGE by re-summing, and the index-scored ranking is
    // row-identical to scoring the assembled corpus from scratch
    val all = Seq(
      (0L, "the zebra runs fast"),
      (1L, "the the cat naps"),
      (2L, "zebra zebra stripes"),
      (3L, "dog sits by the door"),
      (4L, "fox jumps over the dog")).toDF("doc_id", "text")
    val query = Seq("the", "zebra", "dog").toDF("token")
    val oneShot = Retrieval.bm25Rank(all, "doc_id", "text", query, topK = 5)
    val batches = Seq(all.filter(col("doc_id") < 2),
      all.filter(col("doc_id") >= 2 && col("doc_id") < 4),
      all.filter(col("doc_id") >= 4))
    var postings: org.apache.spark.sql.DataFrame = null
    var census: org.apache.spark.sql.DataFrame = null
    var nDocs = 0L; var totTok = 0L; var maxDl = 0L
    batches.foreach { b =>
      val p = Retrieval.bm25Postings(b, "doc_id", "text")
      val c = p.groupBy("token").agg(count(lit(1)).as("df"))
      postings = if (postings == null) p else postings.unionByName(p)
      census = if (census == null) c
        else census.unionByName(c).groupBy("token")
          .agg(sum(col("df")).as("df"))
      val r = b.agg(count(lit(1)),
        sum(size(split(col("text"), " ")).cast("long")),
        max(size(split(col("text"), " ")).cast("long"))).head
      nDocs += r.getLong(0); totTok += r.getLong(1)
      maxDl = math.max(maxDl, r.getLong(2))
    }
    val fromIndex = Retrieval.bm25RankFromIndex(postings, census,
      nDocs, totTok, maxDl, query, topK = 5)
    assert(oneShot.except(fromIndex).count() == 0 &&
      fromIndex.except(oneShot).count() == 0,
      "merged-partials index ranking must equal the one-shot ranking")
  }

  test("bm25 Int64 overflow guard fails loud instead of wrap-mis-ranking") {
    import spark.implicits._
    val docs = Seq((0L, "a b c"), (1L, "a a a")).toDF("doc_id", "text")
    val query = Seq("a").toDF("token")
    // 22 * totTok(6) * maxDl(3) * quantScale must exceed Long.MaxValue
    val e = intercept[IllegalArgumentException](Retrieval.bm25Rank(
      docs, "doc_id", "text", query, topK = 5,
      quantScale = Long.MaxValue / 300L))
    assert(e.getMessage.contains("overflow"))
    val e2 = intercept[IllegalArgumentException](Retrieval.bm25RankQueries(
      docs, "doc_id", "text",
      query.withColumn("query_id", lit(0L)), topK = 5,
      quantScale = Long.MaxValue / 300L))
    assert(e2.getMessage.contains("overflow"))
    // the default scale on the same corpus stays comfortably inside
    assert(Retrieval.bm25Rank(docs, "doc_id", "text", query, topK = 5)
      .count() == 2L)
  }

  test("rrfFuse: both-list ids beat single-list ids; absent side contributes 0") {
    import spark.implicits._
    val a = Seq((10L, 1), (11L, 2), (12L, 3)).toDF("id", "rank")
    val b = Seq((11L, 1), (13L, 2)).toDF("id", "rank")
    val out = Retrieval.rrfFuse(a, b, topK = 10)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toList
    val m = out.toMap
    // 11 is rank 2 + rank 1 = 1/62 + 1/61 — the only both-list id, top
    assert(out.head._1 == 11L)
    assert(math.abs(m(11L) - (1.0 / 62 + 1.0 / 61)) < 1e-15)
    assert(math.abs(m(10L) - 1.0 / 61) < 1e-15)
    assert(math.abs(m(13L) - 1.0 / 62) < 1e-15)
    assert(out.size == 4)
  }

  test("lmDocScore: seen / backoff / unseen paths produce the hand-computed quantized logs") {
    import spark.implicits._
    // train: "a b a b" + "a c" → T = 6, ucnt: a=3, b=2, c=1
    // bigrams: "a b"×2, "b a"×1, "a c"×1
    val train = Seq((0L, "a b a b"), (2L, "a c")).toDF("doc_id", "text")
    // test doc 1 "a b" : seen bigram, P = c(a b)/c(a) = 2/3
    // test doc 3 "b c" : unseen bigram, seen word c, P = 2*1/(5*6) = 1/15
    // test doc 5 "a z" : unseen word z, P = 1/(5*6) = 1/30
    val test = Seq((1L, "a b"), (3L, "b c"), (5L, "a z"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.lmDocScore(train, test, "doc_id", "text")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    def lpq(num: Double, den: Double): Long =
      math.floor(math.log(num / den) / math.log(2.0) * 1024).toLong
    assert(out(1L) == ((1L, lpq(2, 3))))
    assert(out(3L) == ((1L, lpq(2, 30))))
    assert(out(5L) == ((1L, lpq(1, 30))))
  }

  test("lmDocScore fast (inline-model) and general (join) paths are row-identical") {
    import spark.implicits._
    val train = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("doc_id") % 2 === 0)
    val test0 = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val fast = TextAnalysis.lmDocScore(train, test0, "doc_id", "text")
    // maxInlineModelEntries = 0 forces the vocabulary-keyed join path
    val general = TextAnalysis.lmDocScore(train, test0, "doc_id", "text",
      maxInlineModelEntries = 0L)
    assert(fast.collect().toSet == general.collect().toSet)
    // and the shuffle-hash tier (no broadcast either) is identical too
    val shuffled = TextAnalysis.lmDocScore(train, test0, "doc_id", "text",
      maxInlineModelEntries = 0L, maxBroadcastModelRows = 0L)
    assert(fast.collect().toSet == shuffled.collect().toSet)
  }

  test("lmCensusRatios: the census split of the inline model; a bigram " +
      "without its prev unigram fails loudly") {
    // the hand-computed census of "a b a b" + "a c": T = 6
    val census = Seq("a" -> 3L, "a b" -> 2L, "b" -> 2L, "b a" -> 1L,
      "c" -> 1L, "a c" -> 1L)
    val (bi, w, unseen) = TextAnalysis.lmCensusRatios(census)
    assert(bi == Seq("a b" -> 2.0 / 3, "b a" -> 1.0 / 2, "a c" -> 1.0 / 3))
    assert(w == Seq("a" -> 6.0 / 30, "b" -> 4.0 / 30, "c" -> 2.0 / 30))
    assert(unseen == 1.0 / 30)
    val e = intercept[IllegalArgumentException](
      TextAnalysis.lmCensusRatios(census.filterNot(_._1 == "b")))
    assert(e.getMessage.contains("'b a'"), e.getMessage)
  }

  test("lmDocScore: multi-position docs integer-sum per-position quantized logs") {
    import spark.implicits._
    val train = Seq((0L, "a b a b"), (2L, "a c")).toDF("doc_id", "text")
    // "a b a" = positions (a b), (b a): P = 2/3 and 1/2
    val test = Seq((1L, "a b a")).toDF("doc_id", "text")
    val r = TextAnalysis.lmDocScore(train, test, "doc_id", "text")
      .head()
    def lpq(num: Double, den: Double): Long =
      math.floor(math.log(num / den) / math.log(2.0) * 1024).toLong
    assert(r.getLong(1) == 2L)
    assert(r.getLong(2) == lpq(2, 3) + lpq(1, 2))
    assert(math.abs(r.getDouble(3) -
      BigDecimal((lpq(2, 3) + lpq(1, 2)) / 1024.0 / 2)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-12)
  }
}
