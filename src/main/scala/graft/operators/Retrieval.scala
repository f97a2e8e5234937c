package graft.operators

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Keyword and hybrid retrieval over a document corpus — the search-side
  * complement of the embedding stack in [[Ann]] (dense retrieval) and the
  * pairwise TF-IDF similarity in [[TextAnalysis.tfidfPairsFromCounts]].
  * A training-data pipeline needs exactly this pair for corpus QA and for
  * RAG-style evaluation sets: score documents against a keyword query
  * (BM25), and fuse the keyword ranking with a dense-vector ranking
  * (reciprocal-rank fusion) into one list.
  *
  * Scale contracts (100 TB stance):
  *  - [[bm25Rank]] runs ZERO corpus-wide exchanges (r9) on the FUSED
  *    kernel (the wide-vocabulary A/B winner since r12 — see the
  *    in-method note): the census is a `graft_query_hits` matched-slot
  *    explode (candidate-sized from the first row) and the score ONE
  *    `graft_bm25q` codegen projection — no joins at all. The final
  *    top-k is `TakeOrderedAndProject` — per-partition heaps, no global
  *    sort. [[bm25RankFromIndex]] keeps the join shape for a maintained
  *    index: the broadcast query-term cut lands on the postings, and the
  *    ≤|query| (token, df) census rows broadcast back onto them.
  *  - BM25 arithmetic is INTEGER-exact, not float: with k1 = 1.2 and
  *    b = 0.75 the score term
  *    `idf · tf(k1+1) / (tf + k1(1 − b + b·dl/avgdl))` clears to the
  *    rational `[22·T·tf / (10·T·tf + 3·T + 9·N·dl)] · [(2N−2df+1) /
  *    (2df+1)]` (avgdl = T/N multiplied through; idf is the
  *    Robertson–Sparck-Jones form without the log, exact as a ratio), and
  *    each factor is floor-quantized at `quantScale` in 64-bit integer
  *    division. Identical longs in any engine — the DuckDB oracle
  *    hash-matches bit-for-bit, and no float summation-order hazard
  *    exists at any partitioning.
  *  - [[rrfFuse]] consumes two RANKED lists (k-sized by construction), so
  *    its join is trivially small; `1/(K+rank)` on integer ranks is one
  *    correctly-rounded IEEE division per side and a fixed-order two-term
  *    sum — deterministic across engines without quantization.
  */
object Retrieval {

  /** Largest distinct-query count [[bm25RankQueries]] routes to the FUSED
    * (Q-pass) kernel by default; above it the r15 single-pass MULTI
    * kernel takes over. Measured crossover (BASELINE r15: bigram
    * 931-token vocabulary, factor 30, best-of-5): Q=2 fused 2.57 s vs
    * multi 2.90; Q=4 2.92 vs 2.96 (wash); Q=8 multi ahead 3.13 vs 3.36
    * and the lead grows with Q (Q=64: 7.41 vs 11.15). Was 32 in r13/r14
    * when the choice was fused-vs-join.
    */
  val FusedQueryRouteMax: Long = 4L

  /** The quantized BM25 factors are Int64 arithmetic in non-ANSI Spark, so
    * an out-of-range corpus would WRAP silently and mis-rank instead of
    * erroring. Bound both worst-case terms up front (tf ≤ dl ≤ maxDl):
    * numerator `22·T·tf·q` and denominator `10·T·tf + 3·T + 9·N·dl`, plus
    * the idf numerator `(2N+1)·q`. At the documented 100 TB stance
    * (T ~ 1e13) this fires loud and names the knob to turn.
    */
  private def requireNoBm25Overflow(op: String, nDocs: Long, totTok: Long,
      maxDl: Long, quantScale: Long): Unit = {
    val t = BigInt(totTok); val n = BigInt(nDocs)
    val d = BigInt(math.max(maxDl, 1L)); val q = BigInt(quantScale)
    val worst = Seq(
      BigInt(22) * t * d * q,
      BigInt(10) * t * d + BigInt(3) * t + BigInt(9) * n * d,
      (BigInt(2) * n + 1) * q)
    require(worst.forall(_ <= Long.MaxValue),
      s"$op: quantized BM25 arithmetic would overflow Int64 " +
        s"(nDocs=$nDocs, totTok=$totTok, maxDl=$maxDl, quantScale=" +
        s"$quantScale); reduce quantScale or shard the corpus")
  }

  /** BM25 top-k document retrieval for one keyword query.
    *
    * @param docs   corpus; one row per document
    * @param query  single-column frame of query terms (column `token`);
    *               must be model-sized (it is broadcast)
    * @param topK   result depth
    * @param quantScale fixed-point scale for each of the two quantized
    *               factors (score resolution ~ quantScale², default 1024)
    * @return (rank, doc_id, bm25q) — bm25q is the quantized integer score
    */
  def bm25Rank(docs: DataFrame, idCol: String, textCol: String,
      query: DataFrame, topK: Int, quantScale: Long = 1024L): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val F = graft.functions.GraftFunctions
    val toks = split(col(textCol), " ")
    // N and T are corpus scalars (two model-sized driver values, the
    // nDocs-precedent of tfidfPairsFromCounts)
    val row = docs.agg(count(lit(1)).as("n"),
      sum(size(toks).cast("long")).as("t"),
      max(size(toks).cast("long")).as("maxdl")).head
    val nDocs = row.getLong(0)
    val totTok = row.getLong(1)
    require(nDocs >= 1, "bm25Rank: empty corpus")
    requireNoBm25Overflow("bm25Rank", nDocs, totTok, row.getLong(2),
      quantScale)
    val qdist = query.select("token").distinct()
    Ann.requireSmallQuerySet(qdist, "bm25Rank query", Ann.DefaultMaxQueryRows)
    // the query set collects (query-sized — already the broadcast bound
    // above) and inlines into two codegen expressions. Census pass:
    // graft_query_hits emits only the MATCHED slots per document, so the
    // explode is candidate-sized from the start; its counts ARE the df
    // values (query-sized driver array). Scoring pass: graft_bm25q
    // computes the whole quantized score per document in one projection
    // — no per-token rows, no joins, no per-doc re-aggregate. The r12
    // same-session A/B against the r9 candidate-cut join shape (BASELINE
    // r12, factor 30) read unigram join 2.69 s vs fused 2.68 s (wash:
    // the fixture's 31-word universe lets a one-doc query cover ~80% of
    // all tokens) but bigram — 931 tokens, query covering ~6%, the
    // direction every real vocabulary goes — join 2.68 s vs fused 2.09 s
    // best-of-5: the fusion's saved explode volume GROWS with the
    // vocabulary, which is the 100 TB regime.
    val qTokens = qdist.collect().map(_.getString(0)).sorted
    val qIdx = qTokens.zipWithIndex.toMap
    val dfRows = docs.select(F.queryHits(toks, qIdx).as("__h"))
      .filter(col("__h").isNotNull)
      .select(explode(col("__h")).as("__i"))
      .groupBy("__i").agg(count(lit(1)).as("df"))
      .collect()
    val dfArr = new Array[Long](qTokens.length)
    dfRows.foreach(r => dfArr(r.getInt(0)) = r.getLong(1))
    val scored = docs.select(col(idCol).as("doc_id"),
        F.bm25q(toks, qIdx, dfArr.toSeq, nDocs, totTok, quantScale)
          .as("bm25q"))
      .filter(col("bm25q").isNotNull)
    rankTail(scored, topK)
  }

  /** Shared top-k tail: TakeOrderedAndProject + the k-sized rank window. */
  private def rankTail(scored: DataFrame, topK: Int): DataFrame = {
    val top = scored
      .orderBy(col("bm25q").desc, col("doc_id").asc).limit(topK)
    top.withColumn("rank",
        row_number().over(Window.orderBy(col("bm25q").desc,
          col("doc_id").asc)))
      .select(col("rank"), col("doc_id"), col("bm25q"))
  }

  /** Empty (query_id, rank, doc_id, bm25q) frame typed from the caller's
    * inputs — the empty-query-set result of [[bm25RankQueries]] (r13
    * advice).
    */
  private def emptyRanked(docs: DataFrame, idCol: String,
      qTerms: DataFrame): DataFrame = {
    val s = docs.sparkSession
    s.createDataFrame(
      s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("query_id",
          qTerms.schema("query_id").dataType),
        org.apache.spark.sql.types.StructField("rank",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("doc_id",
          docs.schema(idCol).dataType),
        org.apache.spark.sql.types.StructField("bm25q",
          org.apache.spark.sql.types.LongType))))
  }

  /** The BM25 inverted-index postings of a document frame: one row per
    * (document, distinct token) carrying its term frequency and the
    * document length — the structure a search index MAINTAINS as
    * documents arrive. Postings are per-document facts, so batches over
    * disjoint documents APPEND (no merge arithmetic); the df census is
    * `groupBy(token).count` over them, and per-batch censuses merge by
    * re-summing — counting is mergeable, the st61 property, which is
    * what lets st66 keep a continuously-current index without ever
    * re-scanning history.
    */
  def bm25Postings(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val F = graft.functions.GraftFunctions
    val toks = split(col(textCol), " ")
    docs.select(col(idCol).as("doc_id"),
        explode(F.termFreq(toks)).as("t"))
      .select(col("doc_id"), col("t.token").as("token"),
        col("t.tf").as("tf"), col("t.n_terms").as("dl"))
  }

  /** [[bm25Rank]] scored from a PREBUILT / MAINTAINED index instead of
    * the raw corpus: `postings` as produced by [[bm25Postings]] (possibly
    * accumulated across many batches), `census` the full-vocabulary
    * (token, df) frame, and the corpus scalars. The census is cut to the
    * query's terms BEFORE broadcasting (vocabulary-sized state, but only
    * a query-sized frame ever travels), the query cut lands on the
    * postings scan map-side, and the score arithmetic is byte-identical
    * to [[bm25Rank]]'s — merged counts equal one-shot counts exactly, so
    * the ranking from a maintained index is row-identical to ranking the
    * assembled corpus from scratch (st66's parity `require`).
    */
  def bm25RankFromIndex(postings: DataFrame, census: DataFrame,
      nDocs: Long, totTok: Long, maxDl: Long, query: DataFrame,
      topK: Int, quantScale: Long = 1024L): DataFrame = {
    require(nDocs >= 1, "bm25RankFromIndex: empty index")
    requireNoBm25Overflow("bm25RankFromIndex", nDocs, totTok, maxDl,
      quantScale)
    // fail-loud broadcast contract (Ann's guard, r10): the query cut and
    // the census-at-query frame both force-broadcast below — an oversized
    // caller frame must error, not OOM the driver
    val qcut = query.select("token").distinct()
    Ann.requireSmallQuerySet(qcut, "bm25RankFromIndex query",
      Ann.DefaultMaxQueryRows)
    val censusAtQuery = census.join(broadcast(qcut), Seq("token"))
    val q = quantScale
    val scored = postings.join(broadcast(qcut), Seq("token"))
      .join(broadcast(censusAtQuery), Seq("token"))
      .withColumn("tfq",
        expr(s"(22L * ${totTok}L * tf * ${q}L) DIV " +
          s"(10L * ${totTok}L * tf + 3L * ${totTok}L + 9L * ${nDocs}L * dl)"))
      .withColumn("idfq",
        expr(s"((2L * ${nDocs}L - 2L * df + 1L) * ${q}L) DIV (2L * df + 1L)"))
      .groupBy("doc_id")
      .agg(sum(col("tfq") * col("idfq")).as("bm25q"))
    rankTail(scored, topK)
  }

  /** [[bm25Rank]] for a BATCH of queries — the production retrieval
    * shape (an evaluation set, a deduplication probe set, a RAG query
    * log): one corpus df census serves EVERY query; the query set
    * (query_id, token) collects and inlines into the scoring kernels,
    * and the per-query top-k never globally sorts (a per-query
    * TakeOrderedAndProject, or past [[FusedQueryRouteMax]] queries a
    * query-partitioned window). Same integer-exact arithmetic as the
    * single-query form.
    *
    * @param queries (query_id, token) frame; model-sized (collected)
    * @return (query_id, rank, doc_id, bm25q)
    */
  def bm25RankQueries(docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, topK: Int,
      quantScale: Long = 1024L): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val F = graft.functions.GraftFunctions
    val toks = split(col(textCol), " ")
    val row = docs.agg(count(lit(1)).as("n"),
      sum(size(toks).cast("long")).as("t"),
      max(size(toks).cast("long")).as("maxdl")).head
    val nDocs = row.getLong(0)
    val totTok = row.getLong(1)
    require(nDocs >= 1, "bm25RankQueries: empty corpus")
    requireNoBm25Overflow("bm25RankQueries", nDocs, totTok, row.getLong(2),
      quantScale)
    val qTerms = queries.select(col("query_id"), col("token")).distinct()
    Ann.requireSmallQuerySet(qTerms, "bm25RankQueries query set",
      Ann.DefaultMaxQueryRows)
    // two kernels with byte-identical output (the bm25Rank A/B
    // discipline, extended to the multi-query kernel — r12 verdict #6):
    //  - MULTI — the r15 kernel, past Q = 4: ONE graft_query_hits census
    //    pass over the UNION token set, then ONE graft_bm25q_multi
    //    projection scoring EVERY query in the same pass (per-slot
    //    contributions computed once and shared across queries,
    //    thread-local slot tallies — see Bm25FusedUtil), explode of the
    //    candidate-sized (query, score) hits, and the query-partitioned
    //    top-k window (WindowGroupLimit keeps per-partition heaps, so the
    //    exchange carries ~topK rows per query per partition). Two corpus
    //    passes at ANY Q.
    //  - FUSED (the r13/r14 default): the census pass, then per query
    //    one graft_bm25q projection + its own TakeOrderedAndProject —
    //    Q corpus map passes, zero joins, no partitionBy window.
    // Routing (BASELINE r15, bigram 931-token vocab, factor 30,
    // best-of-5): fused still wins the tiny-Q end — Q=2 fused 2.57 s vs
    // multi 2.90 vs the r9 join shape 3.59; Q=4 fused 2.92 vs multi
    // 2.96 — while the multi kernel wins everywhere past it and grows its
    // lead with Q: Q=8 multi 3.13 vs fused 3.36, Q=16 multi 3.69 vs
    // fused 4.39 vs join 5.60, Q=64 multi 7.41 vs fused 11.15 vs join
    // 10.43. So: fused at Q ≤ FusedQueryRouteMax (= 4), multi above. Q
    // comes from the collected query rows (no extra job). Both kernels
    // are byte-identical (parity-asserted in the routing spec), so
    // routing never changes results; decisions in BASELINE.md
    // r13/r14/r15.
    // The query table collects ONCE — query-sized, already inside the
    // broadcast bound checked above.
    val qRows = qTerms.collect()
      .map(r => (r.get(0), r.getString(1)))
    // empty query set → empty typed frame (r13 advice: a require() here
    // was a silent API behavior change for library callers)
    if (qRows.isEmpty) return emptyRanked(docs, idCol, qTerms)
    val qGroups = qRows.groupBy(_._1).toSeq.sortBy(_._1.toString)
    // shared census: one graft_query_hits pass over the union token set
    // serves every query in either kernel
    val unionTokens = qRows.map(_._2).distinct.sorted
    val qIdx = unionTokens.zipWithIndex.toMap
    val dfRows = docs.select(F.queryHits(toks, qIdx).as("__h"))
      .filter(col("__h").isNotNull)
      .select(explode(col("__h")).as("__i"))
      .groupBy("__i").agg(count(lit(1)).as("df"))
      .collect()
    val dfArr = new Array[Long](unionTokens.length)
    dfRows.foreach(r => dfArr(r.getInt(0)) = r.getLong(1))
    if (qGroups.length > FusedQueryRouteMax) {
      val querySlots: Seq[Seq[Int]] = qGroups
        .map { case (_, rows) => rows.map(r => qIdx(r._2)).distinct.sorted }
      val qids = qGroups.map(_._1)
      val scored = docs.select(col(idCol).as("doc_id"),
          F.bm25qMulti(toks, qIdx, dfArr.toSeq, querySlots, nDocs, totTok,
            quantScale).as("__qs"))
        .filter(col("__qs").isNotNull)
        .select(col("doc_id"), explode(col("__qs")).as("__e"))
        .select(col("__e.q").as("__qi"), col("doc_id"),
          col("__e.bm25q").as("bm25q"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("__qi")
        .orderBy(col("bm25q").desc, col("doc_id").asc)
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= topK)
        .withColumn("query_id",
          element_at(array(qids.map(lit(_)): _*), col("__qi") + 1))
        .select(col("query_id"), col("rank"), col("doc_id"), col("bm25q"))
    } else {
      qGroups
        .map { case (qid, rows) =>
          val qTok = rows.map(_._2).distinct.sorted
          val qIdxQ = qTok.zipWithIndex.toMap
          val dfQ = qTok.map(t => dfArr(qIdx(t))).toSeq
          val scored = docs.select(col(idCol).as("doc_id"),
              F.bm25q(toks, qIdxQ, dfQ, nDocs, totTok, quantScale)
                .as("bm25q"))
            .filter(col("bm25q").isNotNull)
          rankTail(scored, topK)
            .withColumn("query_id", lit(qid))
            .select(col("query_id"), col("rank"), col("doc_id"),
              col("bm25q"))
        }
        .reduce(_ unionByName _)
    }
  }

  /** Retrieval-quality evaluation (r14): per-query IR metrics over a
    * ranked result set and a relevance-label set — the EVALUATION step a
    * retrieval/dedup/contamination pipeline needs before its rankings are
    * trusted. Per query: `n_rel` (labeled relevant docs), `first_rank`
    * (rank of the first relevant hit, null on a miss), `rr_q` (the
    * reciprocal rank QUANTIZED as `rrScale DIV first_rank` — an exact
    * long, so MRR aggregates by integer sum + ONE division instead of
    * order-dependent float summation: the q62 discipline), and
    * `hits_at_k` COUNTS for each cutoff (consumers divide by `n_rel` for
    * recall@k — emitting exact counts keeps every row engine-exact).
    * Queries with no relevant hit in the ranking keep their row (miss =
    * zeros, never a dropped query silently inflating the mean).
    *
    * Scale: `ranked` is Q·k rows by construction (it comes out of a
    * top-k) and `relevant` is label-set-sized — every join here is
    * trivially small at any corpus scale; the corpus cost lives in the
    * upstream ranking.
    *
    * @param ranked   (query_id, rank, doc_id) — rank 1-based
    * @param relevant (query_id, doc_id) relevance labels
    * @return (query_id, n_rel, first_rank, rr_q, hits_at_k...)
    */
  def retrievalEval(ranked: DataFrame, relevant: DataFrame,
      ks: Seq[Int] = Seq(1, 5, 10), rrScale: Long = 65536L): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1) && ks == ks.sorted,
      s"ks must be non-empty ascending positive cutoffs, got $ks")
    require(rrScale >= 1, s"rrScale must be >= 1, got $rrScale")
    // dedup the label set ONCE and use it for both the spine and the
    // hit join — a dirty label set with repeated (query, doc) pairs must
    // not inflate n_rel while the hit side deduplicates
    val rel = relevant.select("query_id", "doc_id").distinct()
    val nrel = rel.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_rel"))
    val hits = ranked.select("query_id", "doc_id", "rank")
      .join(rel, Seq("query_id", "doc_id"))
    val perQ = hits.groupBy(col("query_id"))
      .agg(min(col("rank")).as("first_rank"),
        ks.map(k => sum(when(col("rank") <= k, 1L).otherwise(0L))
          .as(s"hits_at_$k")): _*)
    nrel
      .join(perQ, Seq("query_id"), "left")
      .withColumn("rr_q",
        coalesce(expr(s"${rrScale}L DIV first_rank"), lit(0L)))
      .select(col("query_id") +: col("n_rel") +: col("first_rank") +:
        col("rr_q") +:
        ks.map(k => coalesce(col(s"hits_at_$k"), lit(0L))
          .as(s"hits_at_$k")): _*)
  }

  /** Corpus-level retrieval-eval gate row (r15, the r14 verdict's "an
    * eval regression is ONE oracled number"): [[retrievalEval]]'s
    * per-query frame reduced to a single row — query/label counts and
    * the integer metric sums, with MRR and recall@k each ONE double
    * division of two exact longs (the q62 no-float-summation
    * discipline: `mrr = Σrr_q / (n_queries · rrScale)`, `recall@k =
    * Σhits_at_k / Σn_rel` — engine-exact, never an order-dependent
    * float mean). Input is Q-sized, so this is driver-trivial at any
    * corpus scale.
    */
  def retrievalEvalSummary(evalDf: DataFrame,
      ks: Seq[Int] = Seq(1, 5, 10), rrScale: Long = 65536L): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1) && ks == ks.sorted,
      s"ks must be non-empty ascending positive cutoffs, got $ks")
    require(rrScale >= 1, s"rrScale must be >= 1, got $rrScale")
    for (c <- Seq("n_rel", "rr_q") ++ ks.map(k => s"hits_at_$k"))
      require(evalDf.columns.contains(c),
        s"retrievalEvalSummary: input must be a retrievalEval frame — " +
          s"missing column '$c'")
    val aggs = Seq(sum(col("n_rel")).as("n_rel_total"),
      sum(col("rr_q")).as("sum_rr_q")) ++
      ks.map(k => sum(col(s"hits_at_$k")).as(s"sum_hits_at_$k"))
    evalDf
      .agg(count(lit(1)).as("n_queries"), aggs: _*)
      .withColumn("mrr", col("sum_rr_q").cast("double")
        / (col("n_queries") * lit(rrScale)).cast("double"))
      .select(col("n_queries") +: col("n_rel_total") +: col("sum_rr_q") +:
        col("mrr") +:
        ks.flatMap(k => Seq(col(s"sum_hits_at_$k"),
          (col(s"sum_hits_at_$k").cast("double")
            / col("n_rel_total").cast("double")).as(s"recall_at_$k"))): _*)
  }

  /** Reciprocal-rank fusion of two ranked lists (Cormack 2009):
    * `score(id) = Σ_lists 1/(rrfK + rank)`, absent-from-a-list
    * contributing 0. Inputs are (id, rank) frames — k-sized by
    * construction (they come out of top-k searches), so the full-outer
    * join is trivially small at any corpus scale; the fusion constant
    * rrfK = 60 is the published default.
    *
    * @return (rank, id, rrf) — rrf is the fused double score
    */
  def rrfFuse(a: DataFrame, b: DataFrame, topK: Int,
      rrfK: Int = 60): DataFrame = {
    val fa = a.select(col("id"), col("rank").as("rank_a"))
    val fb = b.select(col("id"), col("rank").as("rank_b"))
    val fused = fa.join(fb, Seq("id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(rrfK) + col("rank_a")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("rank_b")), lit(0.0)))
    val top = fused.orderBy(col("rrf").desc, col("id").asc).limit(topK)
    top.withColumn("rank",
        row_number().over(Window.orderBy(col("rrf").desc, col("id").asc)))
      .select(col("rank"), col("id"), col("rrf"))
  }
}
