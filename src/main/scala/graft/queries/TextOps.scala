package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline over the `documents`
  * table: tokenization, quality scoring, language-ID heuristic, document
  * fingerprinting, plus the string/array scalar families from SURVEY.md
  * §2.9 (X1-X9, X22-X23).
  *
  * Everything is a narrow per-row projection (no shuffle): at 100 TB these
  * run as a single map stage fused into whole-stage codegen, bounded by scan
  * throughput.
  */
object TextOps extends QuerySet {

  private def tokens: Column = split(col("text"), " ")

  /** X1-X9, X23 — string scalar family (ref: silver_x12_parsing.py:81-86
    * split; bronze_x12_ingestion.py:86-192 startswith/substr/len/ascii).
    */
  def q20(s: SparkSession, dir: String): DataFrame =
    Q.t(s, dir, "documents")
      .select(
        col("doc_id"),
        size(tokens).as("n_tokens"),
        element_at(tokens, 1).as("first_token"),
        substring(col("text"), 1, 10).as("prefix10"),
        upper(col("lang")).as("up_lang"),
        concat_ws("-", col("lang"), col("source")).as("lang_source"),
        rpad(col("lang"), 8, "_").as("padded"),
        col("text").contains("spark").as("has_spark"),
        col("text").startsWith("the").as("starts_the"),
        length(col("text")).as("n_chars_calc"),
        regexp_like(col("text"), lit("^[\\x00-\\x7F]*$")).as("ascii_ok"))

  /** X22/A19 — higher-order array functions (ref: gold_x12_analytics.py
    * nested-array reductions → aggregate/filter/exists/transform).
    */
  def q25(s: SparkSession, dir: String): DataFrame =
    Q.t(s, dir, "documents")
      .select(
        col("doc_id"),
        aggregate(tokens, lit(0), (acc, x) => acc + length(x)).as("total_len"),
        size(filter(tokens, x => length(x) > 4)).as("n_long_tokens"),
        exists(tokens, x => x === "query").as("has_query"),
        size(array_distinct(tokens)).as("n_distinct_tokens"),
        array_max(transform(tokens, x => length(x))).as("max_token_len"))

  // td26-td29 are the oracle-checked instantiations of the reusable
  // operators in graft.operators.TextAnalysis.
  import graft.operators.{Curation, TextAnalysis}

  /** Token counting — whitespace tokens + char stats (training-data op). */
  def q26(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokenStats(Q.t(s, dir, "documents"), "doc_id", "text",
      extraCols = Seq("lang"))

  /** Quality scoring — length / stopword-ratio heuristics (training-data op;
    * shape mirrors the reference's 0-100 quality score,
    * silver_x12_parsing.py:1068-1073).
    */
  def q27(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.qualityScore(Q.t(s, dir, "documents"), "doc_id", "text",
      stopwords = Seq("the", "a", "of", "and", "to"))

  /** Language-ID — marker-token voting with deterministic tie order
    * (training-data op; n-gram-heuristic class).
    */
  def q28(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.langId(Q.t(s, dir, "documents"), "doc_id", "text", Seq(
      "en" -> Seq("the", "a", "of"),
      "fr" -> Seq("le", "la", "et"),
      "es" -> Seq("el", "los", "y")))

  /** Document fingerprinting — md5 content hash + order-independent token
    * min-hash (training-data op; the md5-based min over token hashes is the
    * same primitive MinHash builds on).
    */
  def q29(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    TextAnalysis.fingerprints(Q.t(s, dir, "documents"), "doc_id", "text")
  }

  /** Benchmark-contamination screen — distinct-shingle overlap of every
    * document against a (broadcast) benchmark corpus; the pseudo-benchmark
    * here is every 50th document (training-data op: eval-leakage check).
    */
  def q30(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val docs = Q.t(s, dir, "documents")
    TextAnalysis.contamination(docs, "doc_id", "text",
      docs.filter(col("doc_id") % 50 === 0), "text")
  }

  /** Canonical normalization (NFC + lower + whitespace collapse) via the
    * native graft_nfc expression — the pre-hash curation step.
    */
  def q31(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    TextAnalysis.normalize(Q.t(s, dir, "documents"), "doc_id", "text")
  }

  /** Within-document repetition screens (Gopher-style): distinct-token
    * ratio and top token/bigram shares.
    */
  def q32(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    TextAnalysis.repetition(Q.t(s, dir, "documents"), "doc_id", "text")
  }

  /** BPE-style pre-token counting next to the whitespace count — the two
    * token-budget currencies; Java-regex/RE2 parity is the point of the
    * oracle check (the pattern is lookahead-free by design).
    */
  def q33(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.bpeTokenStats(Q.t(s, dir, "documents"), "doc_id", "text")

  /** PII redaction. The fixture text carries no PII, so the query injects
    * deterministic shapes (an email, an IP, a phone) into a rotating fifth
    * of the corpus — the SAME construction in both engines — and the
    * operator must find and redact exactly those.
    */
  def q34(s: SparkSession, dir: String): DataFrame = {
    val injected = Q.t(s, dir, "documents").select(
      col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 5 === 0,
          concat(lit(" reach me at user"), col("doc_id").cast("string"),
            lit("@example.com")))
          .when(col("doc_id") % 5 === 1,
            concat(lit(" server 10.0."), (col("doc_id") % 256).cast("string"),
              lit(".7 down")))
          .when(col("doc_id") % 5 === 2, lit(" call +1 555-123-4567 now"))
          .otherwise(lit(""))).as("text"))
    TextAnalysis.redactPii(injected, "doc_id", "text")
  }

  /** URL canonicalization + per-domain cap (td35) — the screen a crawl
    * curation run starts with. The fixture has no URL column, so the query
    * derives one deterministically (the td34 injection pattern — the SAME
    * construction in both engines) carrying every kind of noise the
    * canonicalizer must strip: uppercase scheme/host, utm/gclid/fbclid
    * tracking params (alone and mixed with real params), fragments, and a
    * trailing slash. 20 sources → 20 domains, so the k=5 cap engages at
    * every SF.
    */
  def q35(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id").cast("string")
    val withUrl = Q.t(s, dir, "documents").select(
      col("doc_id"), col("source"),
      concat(lit("HTTPS://WWW."), col("source"), lit(".Example.COM/Path/"), id,
        when(col("doc_id") % 4 === 0,
          concat(lit("?utm_source=feed&id="), id, lit("&utm_campaign=x")))
          .when(col("doc_id") % 4 === 1, lit("/?gclid=abc123"))
          .when(col("doc_id") % 4 === 2, lit("#section2"))
          .otherwise(lit("?page=2&fbclid=zz&sort=asc"))).as("url"))
    Curation.perDomainCap(withUrl, "url", "doc_id", k = 5)
      .select("doc_id", "source", "canonical_url", "domain")
  }

  /** Corpus vocabulary census (td36): top-500 tokens by corpus frequency
    * with document frequency riding the same shuffle; the deterministic
    * (freq desc, token asc) cut is the oracle check.
    */
  def q36(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.vocab(Q.t(s, dir, "documents"), "doc_id", "text", topK = 500)

  /** Gopher quality-signal screen (td37). The fixture text is single-line
    * and symbol-free, so the query appends deterministic noise to a
    * rotating sixth of the corpus (the td34 injection pattern — SAME
    * construction in both engines) so every screen engages: a mildly
    * bulleted tail (passes), a 9-of-10 bullet-line tail (fails the <0.9
    * rule), an ellipsis-heavy tail (fails <0.3), a `#`/`…` symbol tail
    * (fails short docs on symbol ratio, passes long ones), and a 20-number
    * tail (fails short docs on the alphabetic-word rule). Word-count and
    * stopword screens engage on the base corpus itself (10-99 tokens).
    */
  def q37(s: SparkSession, dir: String): DataFrame = {
    val injected = Q.t(s, dir, "documents").select(
      col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 6 === 0,
          lit("\n- alpha beta\n- gamma delta\n* epsilon zeta\nplain tail line"))
          .when(col("doc_id") % 6 === 1,
            lit("\n- a1\n- b2\n- c3\n- d4\n- e5\n- f6\n- g7\n- h8\n- i9"))
          .when(col("doc_id") % 6 === 2,
            lit("\nwait for it...\nnot yet…\nstill loading..."))
          .when(col("doc_id") % 6 === 3, lit(" ### tag # list … end"))
          .when(col("doc_id") % 6 === 4,
            lit(" 100 200 300 400 500 600 700 800 900 1000" +
              " 1100 1200 1300 1400 1500 1600 1700 1800 1900 2000"))
          .otherwise(lit(""))).as("text"))
    TextAnalysis.gopherScreen(injected, "doc_id", "text")
  }

  /** Composed crawl front door (td38): canonicalize → blocklist →
    * per-URL collapse → per-domain cap → exact content dedup, as ONE
    * operator call. The derived URL reuses the td35 noise construction
    * but keys the path (and the kept `id` param) on `doc_id % 50`, so
    * tracking-variant and re-fetch collapse actually engages: docs
    * sharing (source, page, variant class) canonicalize to one URL and
    * only the lowest doc_id survives to face the domain cap. Two real
    * domains are blocklisted (plus one absent — a no-op entry must not
    * drop anything).
    */
  def q38(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val page = (col("doc_id") % 50).cast("string")
    val withUrl = Q.t(s, dir, "documents").select(
      col("doc_id"), col("source"), col("text"),
      concat(lit("HTTPS://WWW."), col("source"), lit(".Example.COM/Page/"), page,
        when(col("doc_id") % 4 === 0,
          concat(lit("?utm_source=feed&id="), page, lit("&utm_campaign=x")))
          .when(col("doc_id") % 4 === 1, lit("/?gclid=abc123"))
          .when(col("doc_id") % 4 === 2, lit("#section2"))
          .otherwise(lit("?page=2&fbclid=zz&sort=asc"))).as("url"))
    val blocked = Seq("src3.example.com", "src7.example.com",
      "blocked.invalid").toDF("domain")
    Curation.crawlFrontDoor(withUrl, "url", "doc_id", "text", blocked,
      perDomainK = 5)
      .select("doc_id", "source", "canonical_url", "domain")
  }

  /** N-gram familiarity score (td39): CCNet's LM-quality filter in its
    * parity-safe rational form — every doc's bigrams looked up in a
    * census of the every-10th-doc pseudo-reference; score = mean
    * reference count per bigram (integer sums, one division, no logs).
    */
  def q39(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val docs = Q.t(s, dir, "documents")
    TextAnalysis.familiarity(docs, "doc_id", "text",
      docs.filter(col("doc_id") % 10 === 0), "text")
  }

  /** Composed per-document curation pipeline (td40): normalize → Gopher
    * screen → repetition screen → PII redact as ONE fused projection —
    * the td-family's parts-to-pipeline entry (dd45/td38 pattern). The
    * oracle composes the proven td31/td37/td32/td34 SQL forms over the
    * normalized text in one CTE chain.
    */
  /** q40's stopword-injection (td34/td37 convention): the fixture's
    * random words carry no Gopher stopwords, so the even half gets a
    * deterministic stopword-bearing tail — SAME construction in both
    * engines. Shared with mm51's caption cut so the two sides can never
    * drift.
    */
  /** The q40 injection as a bare column — shared by [[q40Injected]] and
    * the composed gate's single-pass rule screen (r16).
    */
  private[queries] def q40InjectedText: Column =
    concat(col("text"),
      when(col("doc_id") % 2 === 0,
        lit(" and so that was the end of it all"))
        .otherwise(lit("")))

  private[queries] def q40Injected(docs: DataFrame): DataFrame = docs.select(
    col("doc_id"), q40InjectedText.as("text"))

  def q40(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    // injected docs face the remaining screens; the odd half pins the
    // stopword-floor rejection
    TextAnalysis.curationPipeline(q40Injected(Q.t(s, dir, "documents")),
      "doc_id", "text")
  }

  /** BPE pair census (td41): the top-10 adjacent character pairs over the
    * whitespace-word census, weighted by word counts — one training
    * round's shuffle, isolated and fully oracled (deterministic
    * cnt-desc/l/r cut via TakeOrderedAndProject, never a global sort).
    */
  def q41(s: SparkSession, dir: String): DataFrame = {
    TextAnalysis.bpePairCensus(TextAnalysis.bpeInitWords(
      TextAnalysis.bpeWordCensus(Q.t(s, dir, "documents"), "text")))
      .orderBy(col("cnt").desc, col("l").asc, col("r").asc)
      .limit(10)
  }

  /** BPE merge training (td42): three Sennrich merge rounds learned
    * in-engine over the word census — the tokenizer-training step that
    * closes the census (td36) / token-counting (td33) loop. Fixed k keeps
    * the DuckDB oracle an unrolled three-round CTE chain computing the
    * SAME census → top pair → literal-replace merge per round, so the
    * learned rules hash-match bit-for-bit.
    */
  def q42(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.bpeTrain(Q.t(s, dir, "documents"), "text", merges = 3)

  /** BPE encode (td43): tokenize the corpus with the td42-trained rules —
    * train → encode closes the tokenizer loop end-to-end in-engine. The
    * oracle re-derives the same three rules and replays the same replace
    * chain per word, so the per-document symbol counts hash-match.
    */
  def q43(s: SparkSession, dir: String): DataFrame = {
    val docs = Q.t(s, dir, "documents")
    val rules = TextAnalysis.bpeTrain(docs, "text", merges = 3)
      .orderBy("iteration").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    TextAnalysis.bpeEncode(docs, "doc_id", "text", rules)
  }

  /** Count-min heavy hitters (td44): the exact top-20 tokens (td36's
    * census cut) probed against the distributed count-min sketch, with
    * both sketch guarantees emitted as oracle-checked booleans — est ≥
    * true always, est ≤ true + eps·N at the sketch's confidence (the q28
    * sketch-verification idiom: the oracle's TRUE literals fail the gate
    * if the sketch drifts). The report is K driver rows; the corpus work
    * — census + sketch — is two distributed passes whose shuffles carry
    * the vocabulary and the fixed-size sketch respectively.
    */
  def q44(s: SparkSession, dir: String): DataFrame = {
    val docs = Q.t(s, dir, "documents")
    val top = TextAnalysis.vocab(docs, "doc_id", "text", topK = 20)
      .select("token", "freq").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val sketch = TextAnalysis.cmsTokenSketch(docs, "text",
      eps = 0.0001, confidence = 0.999, seed = 42)
    val slack = math.ceil(0.0001 * sketch.totalCount()).toLong
    import s.implicits._
    top.toSeq.map { case (tok, freq) =>
      val est = sketch.estimateCount(tok)
      (tok, freq, est >= freq, est <= freq + slack)
    }.toDF("token", "freq", "est_at_least_true", "est_within_eps")
  }

  /** TF-IDF bigram-cosine pairs (td45): document pairs whose RARE shared
    * word-bigrams (df ≤ 20) give weighted cosine ≥ 0.15 — the IR-weighted
    * similarity where one shared rare phrase outweighs any amount of
    * boilerplate. Fully hash-oracled: the quantized fixed-point weights
    * make every sum integer-exact in both engines.
    */
  def q45(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val F = graft.functions.GraftFunctions
    val docs = Q.t(s, dir, "documents")
    // tf and n_tokens are per-DOCUMENT quantities, so both corpus frames
    // reach the operator core shuffle-free: the tf frame is one fused
    // projection (graft_bigrams → graft_tf, subexpression-eliminated
    // inside one whole-stage span) + explode — the (doc_id, token)
    // pre-aggregation exchange of the generic front-end never exists —
    // and the df census rides graft_shingles (distinct bigrams per doc,
    // so a plain count IS the document frequency) through a single
    // token-keyed partial-aggregated exchange.
    val tfRows = docs
      .select(col("doc_id"),
        explode(F.termFreq(F.bigrams(col("text")))).as("t"))
      .select(col("doc_id"), col("t.token").as("token"),
        col("t.tf").as("tf"), col("t.n_terms").as("n_tokens"))
    val census = docs
      .select(explode(F.shingles(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("df"))
    TextAnalysis.tfidfPairsFromCounts(tfRows, census, docs.count(),
      maxDf = 20, threshold = 0.15)
  }

  /** Overlapping document chunking (td46): 64-token windows with a
    * 16-token overlap over every document — the pre-embedding splitter.
    * Fully oracled: window starts, ids, short-tail lengths and the joined
    * chunk text are all exact list arithmetic in both engines.
    */
  def q46(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.chunkDocuments(Q.t(s, dir, "documents"), "doc_id", "text",
      chunkTokens = 64, overlap = 16)

  /** RAG ingestion (td47): the text → vector loop closed in-engine —
    * overlapping 64/16 chunks (td46's splitter) → deterministic
    * hash-projection embeddings (`graft_hash_embed`, the model-free
    * encoder stand-in) → IVF cell assignment against 8 centroid chunks
    * (each doc < 8's chunk 0). Every stage is existing verified
    * machinery; the composition is what a vector-ingest pipeline runs,
    * and the DuckDB oracle recomputes chunking, the 16 md5-byte integer
    * sums AND the argmax assignment from scratch. Chunk key
    * cid = doc_id·100000 + chunk_id (chunk ids are bounded far below
    * 100000 — a 4.8M-token document — at every fixture SF).
    */
  def ragIngest(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val embedded = ragEmbedded(s, dir)
    val cents = embedded
      .filter(col("cid") < 800000 && col("cid") % 100000 === 0)
      .select(col("cid").as("centroid_id"), col("emb").as("c_emb"),
        col("norm").as("c_norm"))
    graft.operators.Ann.ivfAssign(embedded, "cid", "emb", cents)
      .select(col("vec_id").as("cid"), col("centroid_id"), col("cos"))
  }

  /** RAG retrieval (td48): the query side of td47 — doc 0/1's chunks
    * probe their own cell for the top-3 nearest chunks (nprobe=1 IVF,
    * sim40's machinery, over the hash-embedded chunk corpus). Fully
    * oracled end-to-end: DuckDB re-runs chunk → embed → assign → probe.
    */
  def ragRetrieve(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val embedded = ragEmbedded(s, dir)
    val cents = embedded
      .filter(col("cid") < 800000 && col("cid") % 100000 === 0)
      .select(col("cid").as("centroid_id"), col("emb").as("c_emb"),
        col("norm").as("c_norm"))
    val assigned = graft.operators.Ann.ivfAssign(embedded, "cid", "emb", cents)
    graft.operators.Ann.ivfProbe(assigned, cents,
      queryPred = col("vec_id") < 200000, k = 3)
  }

  /** Shared td47/td48 frame: chunk, hash-embed, drop zero vectors (a
    * zero norm cannot cosine — mirrored WHERE in the oracles).
    * Checkpoint-shared: the frame feeds the centroid cut, the corpus
    * side, the query cut AND the small-set broadcast guards — each a
    * separate consumer that would otherwise re-run chunk+embed from the
    * raw scan (profiled: SIX full scans, ~0.3 s each, on a frame that is
    * ~2 chunks/doc × 17 doubles).
    */
  private def ragEmbedded(s: SparkSession, dir: String): DataFrame = {
    val chunks = TextAnalysis.chunkDocuments(Q.t(s, dir, "documents"),
      "doc_id", "text", chunkTokens = 64, overlap = 16)
      .select((col("doc_id") * 100000 + col("chunk_id")).as("cid"),
        col("chunk_text"))
    TextAnalysis.hashEmbed(chunks, "cid", "chunk_text")
      .filter(col("norm") > 0)
      .localCheckpoint(false)
  }

  /** BM25 keyword retrieval (td49): doc 0's distinct tokens as the query,
    * top-10 documents by integer-exact quantized BM25 (k1 = 1.2, b = 0.75
    * cleared to the 22/10/3/9 rational — see `Retrieval.bm25Rank`). The
    * whole score path is 64-bit integer arithmetic, so the DuckDB oracle
    * hash-matches without any float tolerance.
    */
  def bm25TopK(s: SparkSession, dir: String): DataFrame = {
    val docs = Q.t(s, dir, "documents")
    val query = docs.filter(col("doc_id") === 0)
      .select(explode(tokens).as("token")).distinct()
    graft.operators.Retrieval.bm25Rank(docs, "doc_id", "text", query,
      topK = 10)
  }

  /** Hybrid retrieval via reciprocal-rank fusion (td50): the td49 keyword
    * ranking (depth 50) fused with a dense cosine ranking (vec_id 0's
    * embedding against the embeddings corpus, sim36's machinery, depth
    * 50) — `1/(60+rank)` summed per id, top-10. Rank lists are integer
    * and the fusion is two correctly-rounded IEEE divisions in fixed
    * order, so the fused doubles are engine-exact.
    */
  def hybridRrf(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val docs = Q.t(s, dir, "documents")
    val query = docs.filter(col("doc_id") === 0)
      .select(explode(tokens).as("token")).distinct()
    val keyword = graft.operators.Retrieval
      .bm25Rank(docs, "doc_id", "text", query, topK = 50)
      .select(col("doc_id").as("id"), col("rank"))
    val emb = Q.vecEmb(Q.t(s, dir, "embeddings"))
    val dense = graft.operators.Ann
      .cosineTopK(emb, "vec_id", "emb", col("vec_id") === 0, k = 50)
      .select(col("neighbor_id").as("id"), col("rank"))
    graft.operators.Retrieval.rrfFuse(keyword, dense, topK = 10)
  }

  /** Multi-query BM25 (td53): doc 0's and doc 1's token sets as TWO
    * queries through ONE census/tf pass (`Retrieval.bm25RankQueries`) —
    * the evaluation-set / probe-batch shape of production retrieval;
    * per-query top-5, integer-exact, hash-oracled.
    */
  def bm25Multi(s: SparkSession, dir: String): DataFrame = {
    val docs = Q.t(s, dir, "documents")
    val queries = docs.filter(col("doc_id") < 2)
      .select(col("doc_id").as("query_id"), explode(tokens).as("token"))
      .distinct()
    graft.operators.Retrieval.bm25RankQueries(docs, "doc_id", "text",
      queries, topK = 5)
  }

  /** Retrieval-quality evaluation (td60, r14): the self-retrieval
    * sanity eval — 16 queries, query q = doc q's token set, relevant =
    * the seed doc itself — through
    * [[graft.operators.Retrieval.retrievalEval]]: per query the
    * first-relevant rank, quantized reciprocal rank, and hits@{1,5,10}
    * counts over the BM25 top-10. The fixture's duplicate texts make
    * this non-trivial: a seed doc whose twin has a smaller id ranks
    * BELOW the twin (identical bm25q, id-ascending tiebreak), so
    * first_rank > 1 rows appear naturally. All-integer output; the
    * oracle replays td53's BM25 CTE at Q=16 and the same metric
    * arithmetic.
    */
  def retrievalEvalSelf(s: SparkSession, dir: String): DataFrame = {
    val docs = Q.t(s, dir, "documents")
    val queries = docs.filter(col("doc_id") < 16)
      .select(col("doc_id").as("query_id"), explode(tokens).as("token"))
      .distinct()
    val ranked = graft.operators.Retrieval.bm25RankQueries(docs, "doc_id",
      "text", queries, topK = 10)
    val relevant = docs.filter(col("doc_id") < 16)
      .select(col("doc_id").as("query_id"), col("doc_id"))
    graft.operators.Retrieval.retrievalEval(ranked, relevant)
  }

  /** Corpus-level retrieval-eval gate (td61, r15): td60's per-query
    * frame reduced to ONE row via
    * [[graft.operators.Retrieval.retrievalEvalSummary]] — integer
    * metric sums with MRR and recall@k each a single division of two
    * exact longs, so an eval regression is one oracled number instead
    * of Q rows a reader has to eyeball.
    */
  def retrievalEvalAgg(s: SparkSession, dir: String): DataFrame =
    graft.operators.Retrieval.retrievalEvalSummary(retrievalEvalSelf(s, dir))

  /** Model-scored curriculum (td62, r15): q67 tiers by LENGTH; the
    * production curriculum tiers by model-scored difficulty. This is
    * the composition proof the r14 verdict asked for — zero new
    * operator code: td51's quantized LM score (exact longs) becomes the
    * tier (mean negative quantized log₂-prob in whole bits,
    * `((-sum_lpq) DIV n_bigrams) DIV 1024`, capped at 9 — all
    * non-negative integer division, engine-exact), and
    * [[graft.operators.Sampling.curriculumShuffle]] lays every shard
    * out easiest-first under the seed's permutation. Only documents
    * td51 scores (≥ 2 tokens) participate — same frame on both sides.
    */
  def qualityCurriculum(s: SparkSession, dir: String): DataFrame = {
    val tiers = lmQuality(s, dir).select(col("doc_id"),
      least(expr("((-sum_lpq) DIV greatest(n_bigrams, 1L)) DIV 1024L"),
        lit(9L)).as("tier"))
    graft.operators.Sampling.curriculumShuffle(tiers, "doc_id", "tier",
      seed = 9L, nShards = 8)
  }

  /** Model-gated curation (td54): the parts-to-pipeline entry for the
    * round's model operators — a document is ADMITTED to the training
    * mix iff it passes the td40 rule screen (Gopher keep), the td51 LM
    * gate (mean quantized log₂-prob ≥ −5.5 per position, evaluated as
    * the INTEGER inequality sum_lpq ≥ −5632·n_bigrams — no float
    * threshold boundary), and the td52 classifier agreement (predicted
    * language = labeled language). Three oracled pipelines joined on
    * doc_id; the oracle composes the three oracle texts verbatim, so
    * any drift in a component breaks this entry too.
    *
    * Downstream-consumer contract: a consumer that FILTERS on the gate
    * booleans must materialize this frame first (lazy localCheckpoint —
    * see q60). The filter's conjuncts otherwise split and push INTO the
    * component branches as raw predicates, where the single-evaluation
    * projections collapse and the signal expressions re-evaluate once
    * per comparison (`graft_gopher_stats` ~14× per row — measured 2.4 s
    * → 13 s on the heavy tier before q60's barrier).
    */
  /** The composed gate frame every chain entry consumes — ONE
    * [[graft.operators.TextAnalysis.modelGate]] pass per entry (r16):
    * the r15 form built the rule/LM/NB frames separately and 4-way
    * joined them on doc_id, re-scanning documents three times per entry.
    */
  private def curationGate(s: SparkSession, dir: String,
      extra: Seq[(String, Column)] = Nil): DataFrame = {
    val docs = Q.t(s, dir, "documents")
    graft.operators.TextAnalysis.modelGate(
      train = docs.filter(col("doc_id") % 2 === 0), docs = docs,
      idCol = "doc_id", textCol = "text", ruleText = q40InjectedText,
      labelCol = "lang", extra = extra)
  }

  def modelGatedCuration(s: SparkSession, dir: String): DataFrame =
    curationGate(s, dir)
      .withColumn("lm_ok", col("sum_lpq") >= lit(-5632L) * col("n_bigrams"))
      .withColumn("lang_match", col("pred_label") === col("lang"))
      .withColumn("admitted",
        col("keep") && col("lm_ok") && col("lang_match"))
      .select("doc_id", "keep", "lm_ok", "lang_match", "admitted")

  /** NB-gate confusion matrix (td55): the model-EVALUATION step a
    * curation pipeline runs before trusting its classifier gate —
    * per (labeled lang, predicted lang) document counts over td52's
    * classifier output. Integer-exact; the oracle composes the td52
    * oracle text verbatim, so classifier drift breaks this entry too.
    * Shape note (r10, measured): the doc_id-keyed join back to documents
    * to recover the label costs +0.2-0.45 s over td52 alone at the
    * f10/f30 tiers; the tempting alternative — carrying lang THROUGH the
    * scoring aggregate — was A/B'd strictly worse (+1.3 s: the string
    * rides every (doc, token) row of the tf frame instead of one
    * corpus-sized join), so the join form stands. The entry's tier ratio
    * tracks td52's own engine-constant gap and falls with scale
    * (BASELINE r10: 3.2x f10 -> 2.2x f30, td52's curve class).
    */
  def nbConfusion(s: SparkSession, dir: String): DataFrame = {
    val nb = nbLangClassify(s, dir).select(col("doc_id"), col("pred_label"))
    val docs = Q.t(s, dir, "documents").select(col("doc_id"), col("lang"))
    nb.join(docs, Seq("doc_id"))
      .groupBy("lang", "pred_label")
      .agg(count(lit(1)).as("n_docs"))
  }

  /** LM-gate threshold sweep (td58, r10): the tuning loop for td54's
    * quality gate — the sim55 sweep idiom applied to the curation
    * pipeline. td54 admits at the fixed per-position cutoff −5.5
    * (`sum_lpq ≥ −5632·n_bigrams`); before trusting that dial a pipeline
    * measures the retention curve around it: for each quantized cutoff
    * thr_q ∈ {−7168..−4096} (−7.0 to −4.0 per position), how many
    * documents pass the LM gate alone and how many survive the FULL
    * admission (rule screen ∧ LM(thr) ∧ classifier agreement). The gate
    * frame evaluates ONCE (lazy localCheckpoint — the q60 barrier) and
    * the sweep explodes thresholds over its five narrow columns, so the
    * dial costs |T| conditional sums, never |T| corpus passes. Stricter
    * thresholds can only shrink both counts — emitted as oracle-pinned
    * monotonicity booleans (the q28/sim55 contract idiom). The oracle
    * composes the td40/td51/td52 texts verbatim (td54's drift chain).
    */
  def lmGateSweep(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val thresholds = Seq(-7168L, -6144L, -5632L, -5120L, -4096L)
    val gate = curationGate(s, dir)
      .withColumn("lang_match", col("pred_label") === col("lang"))
      .select("keep", "n_bigrams", "sum_lpq", "lang_match")
      .localCheckpoint(false)
    val swept = gate
      .select(col("keep"), col("n_bigrams"), col("sum_lpq"),
        col("lang_match"), explode(array(thresholds.map(lit): _*)).as("thr_q"))
      .withColumn("lm_ok", col("sum_lpq") >= col("thr_q") * col("n_bigrams"))
      .groupBy("thr_q")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("lm_ok"), 1L).otherwise(0L)).as("n_lm_pass"),
        sum(when(col("keep") && col("lm_ok") && col("lang_match"), 1L)
          .otherwise(0L)).as("n_admitted"))
    // the sweep summary is |T| rows — the ordering window is model-sized
    val w = Window.orderBy(col("thr_q").asc)
    swept
      .withColumn("pass_non_increasing",
        coalesce(col("n_lm_pass") <= lag(col("n_lm_pass"), 1).over(w),
          lit(true)))
      .withColumn("admitted_non_increasing",
        coalesce(col("n_admitted") <= lag(col("n_admitted"), 1).over(w),
          lit(true)))
  }

  /** Curated training mix (q60): the END-TO-END assembly the whole
    * pipeline exists for — td54's composed model gate admits documents,
    * then the per-source token budget (q33's operator) cuts the admitted
    * set into the final reproducible mix. The gate frame materializes
    * ONCE through a lazy localCheckpoint before the admission filter:
    * without the barrier the filter's conjuncts push into the td54
    * component branches, the single-evaluation projections collapse,
    * and `graft_gopher_stats` re-evaluates ~14× per row inside the
    * inlined predicate (heavy tier measured 13 s vs 5 s — the same
    * failure class as lmDocScore's pushed-down `n_bigrams > 0` filter,
    * caught by q60's own heavy row). The oracle composes the td54
    * oracle verbatim under the q33 window.
    */
  def curatedMix(s: SparkSession, dir: String): DataFrame = {
    // source and the token count ride the gate's single scan (r16) — the
    // r15 form re-joined documents to recover them; the lazy
    // localCheckpoint barrier BEFORE the admission filter is unchanged
    // (see modelGatedCuration's downstream-consumer contract)
    val admitted = curationGate(s, dir, extra = Seq(
        "source" -> col("source"),
        "n_tokens" -> size(split(col("text"), " "))))
      .withColumn("admitted",
        col("keep") && (col("sum_lpq") >= lit(-5632L) * col("n_bigrams"))
          && (col("pred_label") === col("lang")))
      .localCheckpoint(false)
      .filter(col("admitted"))
      .select("doc_id", "source", "n_tokens")
    graft.operators.Sampling.tokenBudget(
      admitted, "source", "doc_id", "n_tokens",
      budgets = Map("src0" -> 800L, "src1" -> 400L), defaultBudget = 500L)
  }

  /** Tokenizer fertility by language (td57): the per-language
    * tokenizer-quality metric a multilingual pipeline reads after
    * training a vocabulary — whitespace words vs encoded BPE symbols per
    * language (fertility = symbols/words; a language the merges serve
    * poorly fragments into more symbols per word). Exact integer sums
    * over td43's train→encode chain joined to the language column; the
    * oracle composes the td43 oracle verbatim (drift detection).
    */
  def tokenizerFertility(s: SparkSession, dir: String): DataFrame = {
    val enc = q43(s, dir)
    val docs = Q.t(s, dir, "documents").select(col("doc_id"), col("lang"))
    enc.join(docs, Seq("doc_id"))
      .groupBy("lang")
      .agg(sum(col("n_words")).as("n_words"),
        sum(col("n_bpe_symbols")).as("n_bpe_symbols"))
  }

  /** Vocabulary coverage / OOV-rate curve (td59, r11): the
    * tokenizer-sizing dial — for each candidate vocab size k, the share
    * of corpus word occurrences the k most frequent words cover and the
    * residual OOV rate (the number that decides how large a trained
    * vocabulary must be before rare-word fragmentation stops hurting).
    * See [[graft.operators.TextAnalysis.vocabCoverage]] for the scale
    * shape (count-of-counts occupancy arithmetic — no vocabulary-sized
    * sort/rank/window). Dials follow the sim59/td58 sweep idiom.
    */
  def vocabCoverageCurve(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.vocabCoverage(Q.t(s, dir, "documents"), "text",
      Seq(100L, 1000L, 4000L, 16000L))

  /** Curation funnel report (q61): the drop-off accounting a pipeline
    * operator reads before trusting its gates — per-gate pass counts over
    * td54's composed admission (rule screen, LM gate, classifier
    * agreement), each gate's count alongside the total and the final
    * admitted count, as ONE aggregate row of exact integers. The oracle
    * composes the td54 oracle verbatim (drift detection).
    */
  def curationFunnel(s: SparkSession, dir: String): DataFrame = {
    modelGatedCuration(s, dir).agg(
      count(lit(1)).as("n_docs"),
      sum(when(col("keep"), 1L).otherwise(0L)).as("n_rule_pass"),
      sum(when(col("lm_ok"), 1L).otherwise(0L)).as("n_lm_pass"),
      sum(when(col("lang_match"), 1L).otherwise(0L)).as("n_lang_pass"),
      sum(when(col("admitted"), 1L).otherwise(0L)).as("n_admitted"))
  }

  /** Perplexity-bucketed corpus split (td56, CCNet §4.3-style): every
    * LM-scored document lands in a per-language quality tertile by mean
    * quantized log₂-probability — bucket 1 = head (most like the training
    * distribution), 3 = tail. The bucket is the sampling key a CCNet-style
    * pipeline draws its head/middle/tail mix from. Ordering uses td51's
    * hash-oracled `avg_lp` (engine-identical doubles) with a doc_id
    * tiebreak, so the tertile cut is deterministic on any engine; the
    * oracle composes the td51 oracle text verbatim (the td54
    * drift-detection idiom) and keeps its window `ntile(3)` form — the
    * engine side computes the SAME buckets via
    * [[graft.operators.Sampling.ntileDescBucketed]] (r10): language
    * cardinality is small and fixed, so `ntile.over(partitionBy(lang))`
    * is a single-task sort per language at corpus scale (terabytes
    * through one task for the head languages); the bucketed-rank form
    * keeps every task bounded by the coarse score bucket while staying
    * byte-identical to the window ntile (hash unchanged, spec-pinned).
    */
  def pplBuckets(s: SparkSession, dir: String): DataFrame = {
    val lm = lmQuality(s, dir).select(col("doc_id"), col("avg_lp"))
    val docs = Q.t(s, dir, "documents").select(col("doc_id"), col("lang"))
    graft.operators.Sampling.ntileDescBucketed(
        lm.join(docs, Seq("doc_id")), "lang", "avg_lp", "doc_id",
        n = 3, outCol = "ppl_bucket")
      .select("doc_id", "lang", "avg_lp", "ppl_bucket")
  }

  /** Bigram-LM quality scoring (td51): stupid-backoff LM trained on the
    * even-doc_id half, every document scored by mean quantized
    * log₂-probability — the KenLM-style perplexity rank a CCNet curation
    * pipeline sorts a crawl by. Odd documents exercise the real backoff
    * paths (unseen bigrams and unseen words against the train censuses).
    */
  def lmQuality(s: SparkSession, dir: String): DataFrame = {
    val docs = Q.t(s, dir, "documents")
    graft.operators.TextAnalysis.lmDocScore(
      train = docs.filter(col("doc_id") % 2 === 0), test = docs,
      "doc_id", "text")
  }

  /** Naive Bayes text classification (td52): a multinomial NB language
    * classifier trained on the even-doc_id half (label = the `lang`
    * column) predicts a language for EVERY document — the fastText-style
    * classifier gate of a curation pipeline, fully in-engine and fully
    * hash-oracled (training is integer counting, scoring is quantized
    * integer log-likelihood sums, the argmax is exact).
    */
  def nbLangClassify(s: SparkSession, dir: String): DataFrame = {
    val docs = Q.t(s, dir, "documents")
    graft.operators.Classification.nbClassify(
      train = docs.filter(col("doc_id") % 2 === 0), test = docs,
      "doc_id", "text", "lang")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q20_string_functions" -> (q20 _),
    "q25_array_hof" -> (q25 _),
    "td26_token_stats" -> (q26 _),
    "td27_quality_score" -> (q27 _),
    "td28_lang_id" -> (q28 _),
    "td29_fingerprint" -> (q29 _),
    "td30_contamination" -> (q30 _),
    "td31_normalize" -> (q31 _),
    "td32_repetition" -> (q32 _),
    "td33_bpe_tokens" -> (q33 _),
    "td34_redact_pii" -> (q34 _),
    "td35_domain_cap" -> (q35 _),
    "td36_vocab" -> (q36 _),
    "td37_gopher_screen" -> (q37 _),
    "td38_crawl_front_door" -> (q38 _),
    "td39_familiarity" -> (q39 _),
    "td40_curation_pipeline" -> (q40 _),
    "td41_bpe_pair_census" -> (q41 _),
    "td42_bpe_train" -> (q42 _),
    "td43_bpe_encode" -> (q43 _),
    "td44_cms_heavy_hitters" -> (q44 _),
    "td45_tfidf_pairs" -> (q45 _),
    "td46_chunking" -> (q46 _),
    "td47_rag_ingest" -> (ragIngest _),
    "td48_rag_retrieve" -> (ragRetrieve _),
    "td49_bm25_topk" -> (bm25TopK _),
    "td50_hybrid_rrf" -> (hybridRrf _),
    "td51_lm_quality" -> (lmQuality _),
    "td52_nb_classify" -> (nbLangClassify _),
    "td53_bm25_multi" -> (bm25Multi _),
    "td54_model_gated_curation" -> (modelGatedCuration _),
    "td55_nb_confusion" -> (nbConfusion _),
    "td56_ppl_buckets" -> (pplBuckets _),
    "td57_tokenizer_fertility" -> (tokenizerFertility _),
    "td58_gate_threshold_sweep" -> (lmGateSweep _),
    "td59_vocab_coverage" -> (vocabCoverageCurve _),
    "td60_retrieval_eval" -> (retrievalEvalSelf _),
    "td61_retrieval_eval_agg" -> (retrievalEvalAgg _),
    "td62_quality_curriculum" -> (qualityCurriculum _),
    "q60_curated_mix" -> (curatedMix _),
    "q61_curation_funnel" -> (curationFunnel _))

  /** One BPE round's census/top-pair/merge as DuckDB CTEs (shared by the
    * td41/td42 oracles): `wn` = the (w, cnt) state, producing pair census
    * `pn` and its deterministic winner `tn`.
    */
  private def bpeRoundSql(wn: String, pn: String, tn: String): String =
    s"""$pn AS (SELECT sy[i] AS l, sy[i+1] AS r, CAST(SUM(cnt) AS BIGINT) AS cnt FROM
       |  (SELECT string_split(w, chr(1)) AS sy, cnt FROM $wn) t,
       |  generate_series(1, 128) g(i) WHERE i <= len(sy) - 1 GROUP BY 1, 2),
       |$tn AS (SELECT l, r, cnt FROM $pn ORDER BY cnt DESC, l, r LIMIT 1)""".stripMargin

  /** One merge-rule application as a DuckDB expression — the SAME greedy
    * leftmost non-overlapping whole-symbol fold `graft_bpe_merge` runs
    * (a merged symbol never re-serves as LEFT because l||r ≠ l for
    * non-empty r), as a `list_reduce` lambda. `acc`/`x` are the lambda
    * parameter names — nested applications must use distinct names.
    */
  private def bpeApplySql(w: String, l: String, r: String,
      acc: String, x: String): String =
    s"""(CASE WHEN NOT contains($w, chr(1)) THEN $w ELSE
       | list_reduce(string_split($w, chr(1)), ($acc, $x) ->
       |  CASE WHEN (CASE WHEN contains($acc, chr(1))
       |     THEN string_split($acc, chr(1))[-1] ELSE $acc END) = $l AND $x = $r
       |   THEN (CASE WHEN contains($acc, chr(1))
       |     THEN $acc[1 : len($acc) - len($l)] ELSE '' END) || $l || $r
       |   ELSE $acc || chr(1) || $x END) END)""".stripMargin

  private val bpeBaseSql =
    """wd AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
      |c AS (SELECT word, count(*) AS cnt FROM wd WHERE len(word) >= 1 GROUP BY 1),
      |w0 AS (SELECT array_to_string(string_split(word, ''), chr(1)) AS w, cnt FROM c)""".stripMargin

  /** Shared td47/td48 oracle prefix: chunk → 16-dim md5-byte integer-sum
    * embedding → norm (zero vectors dropped, mirroring the Spark filter)
    * → centroid set → argmax cell assignment carrying (e, norm).
    */
  private val ragBaseSql =
    """d AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
      |ch AS (SELECT doc_id * 100000 + (s - 1) // 48 AS cid,
      |  array_to_string(sp[s : s + 63], ' ') AS chunk_text
      | FROM d, unnest(range(1, greatest(len(sp) - 16, 1) + 1, 48)) g(s)),
      |tok AS (SELECT cid, unnest(string_split(chunk_text, ' ')) AS t FROM ch),
      |comp AS (SELECT cid, g.i AS i,
      |  SUM(CAST('0x' || substr(md5(t), 2 * g.i - 1, 2) AS BIGINT) - 128) AS sv
      | FROM tok, generate_series(1, 16) g(i) GROUP BY 1, 2),
      |emb AS (SELECT cid, list(CAST(sv AS DOUBLE) ORDER BY i) AS e
      | FROM comp GROUP BY cid),
      |wv AS (SELECT * FROM (SELECT cid, e,
      |  sqrt(list_sum([v * v for v in e])) AS norm FROM emb) WHERE norm > 0),
      |c AS (SELECT cid AS centroid_id, e AS c_emb, norm AS c_norm FROM wv
      | WHERE cid < 800000 AND cid % 100000 = 0),
      |scored AS (SELECT wv.cid, c.centroid_id, wv.e, wv.norm,
      |  list_sum([wv.e[i] * c.c_emb[i] for i in range(1, 17)])
      |    / (wv.norm * c.c_norm) AS cos_full
      | FROM wv, c),
      |asg AS (SELECT cid, centroid_id, e, norm, cos_full FROM (
      |  SELECT *, row_number() OVER
      |   (PARTITION BY cid ORDER BY cos_full DESC, centroid_id ASC) AS rn
      |  FROM scored) WHERE rn = 1)""".stripMargin

  /** Shared td49/td50 oracle prefix: whitespace tf + corpus scalars + df
    * census + doc-0 query terms + the integer-quantized BM25 contribution
    * (the same 22/10/3/9 rational and two `//` floors as
    * `Retrieval.bm25Rank`) summed per document.
    */
  private val bm25BaseSql =
    """d AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS nd,
      |  CAST(sum(len(sp)) AS BIGINT) AS tt FROM d),
      |tok AS (SELECT doc_id, unnest(sp) AS token, len(sp) AS dl FROM d),
      |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf,
      |  max(dl) AS dl FROM tok GROUP BY 1, 2),
      |dfc AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      |qt AS (SELECT DISTINCT unnest(sp) AS token FROM d WHERE doc_id = 0),
      |sc AS (SELECT tf.doc_id,
      |  ((22 * nn.tt * tf.tf * 1024) //
      |    (10 * nn.tt * tf.tf + 3 * nn.tt + 9 * nn.nd * tf.dl))
      |  * (((2 * nn.nd - 2 * dfc.df + 1) * 1024) // (2 * dfc.df + 1)) AS contrib
      | FROM tf JOIN qt USING (token) JOIN dfc USING (token), nn),
      |agg AS (SELECT doc_id, CAST(SUM(contrib) AS BIGINT) AS bm25q
      | FROM sc GROUP BY 1)""".stripMargin

  private val baseOracles: Map[String, String] = Map(
    "td53_bm25_multi" ->
      s"""WITH $bm25BaseSql,
         |qt2 AS (SELECT DISTINCT doc_id AS query_id, unnest(sp) AS token
         | FROM d WHERE doc_id < 2),
         |sc2 AS (SELECT qt2.query_id, tf.doc_id,
         |  ((22 * nn.tt * tf.tf * 1024) //
         |    (10 * nn.tt * tf.tf + 3 * nn.tt + 9 * nn.nd * tf.dl))
         |  * (((2 * nn.nd - 2 * dfc.df + 1) * 1024) // (2 * dfc.df + 1))
         |    AS contrib
         | FROM tf JOIN qt2 USING (token) JOIN dfc USING (token), nn),
         |agg2 AS (SELECT query_id, doc_id, CAST(SUM(contrib) AS BIGINT)
         |  AS bm25q FROM sc2 GROUP BY 1, 2)
         |SELECT query_id, rank, doc_id, bm25q FROM (
         |  SELECT query_id, CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY bm25q DESC, doc_id ASC) AS INTEGER) AS rank,
         |   doc_id, bm25q FROM agg2)
         |WHERE rank <= 5""".stripMargin,
    "td49_bm25_topk" ->
      s"""WITH $bm25BaseSql
         |SELECT rank, doc_id, bm25q FROM (
         |  SELECT CAST(row_number() OVER
         |    (ORDER BY bm25q DESC, doc_id ASC) AS INTEGER) AS rank,
         |   doc_id, bm25q FROM agg)
         |WHERE rank <= 10""".stripMargin,
    // td60: td53's multi-query BM25 CTE at Q=16 + the all-integer metric
    // arithmetic (quantized reciprocal rank, hits@k counts)
    "td60_retrieval_eval" ->
      s"""WITH $bm25BaseSql,
         |qt2 AS (SELECT DISTINCT doc_id AS query_id, unnest(sp) AS token
         | FROM d WHERE doc_id < 16),
         |sc2 AS (SELECT qt2.query_id, tf.doc_id,
         |  ((22 * nn.tt * tf.tf * 1024) //
         |    (10 * nn.tt * tf.tf + 3 * nn.tt + 9 * nn.nd * tf.dl))
         |  * (((2 * nn.nd - 2 * dfc.df + 1) * 1024) // (2 * dfc.df + 1))
         |    AS contrib
         | FROM tf JOIN qt2 USING (token) JOIN dfc USING (token), nn),
         |agg2 AS (SELECT query_id, doc_id, CAST(SUM(contrib) AS BIGINT)
         |  AS bm25q FROM sc2 GROUP BY 1, 2),
         |topk AS (SELECT query_id, doc_id, rank FROM (
         |  SELECT query_id, doc_id, CAST(row_number() OVER
         |    (PARTITION BY query_id ORDER BY bm25q DESC, doc_id ASC)
         |    AS INTEGER) AS rank FROM agg2) WHERE rank <= 10),
         |rel AS (SELECT DISTINCT doc_id AS query_id, doc_id
         | FROM documents WHERE doc_id < 16),
         |nrel AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_rel
         | FROM rel GROUP BY 1),
         |hit AS (SELECT r.query_id, t.rank FROM rel r
         | JOIN topk t ON t.query_id = r.query_id AND t.doc_id = r.doc_id),
         |per AS (SELECT query_id, CAST(min(rank) AS INTEGER) AS first_rank,
         |  CAST(SUM(CASE WHEN rank <= 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS hits_at_1,
         |  CAST(SUM(CASE WHEN rank <= 5 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS hits_at_5,
         |  CAST(SUM(CASE WHEN rank <= 10 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS hits_at_10
         | FROM hit GROUP BY 1)
         |SELECT nrel.query_id, nrel.n_rel, per.first_rank,
         | CAST(coalesce(65536 // per.first_rank, 0) AS BIGINT) AS rr_q,
         | CAST(coalesce(per.hits_at_1, 0) AS BIGINT) AS hits_at_1,
         | CAST(coalesce(per.hits_at_5, 0) AS BIGINT) AS hits_at_5,
         | CAST(coalesce(per.hits_at_10, 0) AS BIGINT) AS hits_at_10
         |FROM nrel LEFT JOIN per USING (query_id)""".stripMargin,
    "td50_hybrid_rrf" ->
      s"""WITH $bm25BaseSql,
         |bm AS (SELECT doc_id AS id, CAST(row_number() OVER
         |   (ORDER BY bm25q DESC, doc_id ASC) AS INTEGER) AS rank_a
         |  FROM agg ORDER BY bm25q DESC, doc_id ASC LIMIT 50),
         |e AS (SELECT vec_id,
         |  list_transform(embedding, v -> CAST(v AS DOUBLE)) AS emb
         | FROM embeddings),
         |w AS (SELECT vec_id, emb,
         |  sqrt(list_sum([v * v for v in emb])) AS norm FROM e),
         |qv AS (SELECT emb AS q_emb, norm AS q_norm FROM w WHERE vec_id = 0),
         |scored AS (SELECT w.vec_id,
         |  list_sum([w.emb[i] * qv.q_emb[i] for i in range(1, 65)])
         |    / (w.norm * qv.q_norm) AS cos_full
         | FROM w, qv WHERE w.vec_id <> 0),
         |vr AS (SELECT vec_id AS id, CAST(row_number() OVER
         |   (ORDER BY cos_full DESC, vec_id ASC) AS INTEGER) AS rank_b
         |  FROM scored ORDER BY cos_full DESC, vec_id ASC LIMIT 50),
         |f AS (SELECT COALESCE(bm.id, vr.id) AS id,
         |  COALESCE(CAST(1.0 AS DOUBLE) / (60 + bm.rank_a), CAST(0 AS DOUBLE))
         |  + COALESCE(CAST(1.0 AS DOUBLE) / (60 + vr.rank_b), CAST(0 AS DOUBLE))
         |    AS rrf
         | FROM bm FULL OUTER JOIN vr ON bm.id = vr.id)
         |SELECT rank, id, rrf FROM (
         |  SELECT CAST(row_number() OVER
         |    (ORDER BY rrf DESC, id ASC) AS INTEGER) AS rank, id, rrf FROM f)
         |WHERE rank <= 10""".stripMargin,
    "td52_nb_classify" ->
      """WITH tr AS (SELECT lang AS label, string_split(text, ' ') AS sp
        | FROM documents WHERE doc_id % 2 = 0),
        |cnt AS (SELECT label, t AS token, CAST(count(*) AS BIGINT) AS c
        | FROM (SELECT label, unnest(sp) AS t FROM tr) GROUP BY 1, 2),
        |ls AS (SELECT label, CAST(count(*) AS BIGINT) AS docs_l,
        |  CAST(sum(len(sp)) AS BIGINT) AS tok_l FROM tr GROUP BY 1),
        |nt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tr),
        |v AS (SELECT CAST(count(DISTINCT token) AS BIGINT) AS v FROM cnt),
        |lbl AS (SELECT label,
        |  CAST(floor(log2(CAST(docs_l AS DOUBLE) / nt.n) * 1024) AS BIGINT)
        |    AS prior_q,
        |  CAST(floor(log2(CAST(tok_l + v.v AS DOUBLE)) * 1024) AS BIGINT)
        |    AS rate_q
        | FROM ls, nt, v),
        |te AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
        |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf,
        |  max(nd) AS n_d
        | FROM (SELECT doc_id, unnest(sp) AS token, len(sp) AS nd FROM te)
        | GROUP BY 1, 2),
        |seen AS (SELECT tf.doc_id, cnt.label,
        |  CAST(SUM(tf.tf * CAST(floor(log2(CAST(cnt.c + 1 AS DOUBLE)) * 1024)
        |    AS BIGINT)) AS BIGINT) AS seen_q
        | FROM tf JOIN cnt USING (token) GROUP BY 1, 2),
        |nd AS (SELECT doc_id, max(n_d) AS n_d FROM tf GROUP BY 1),
        |base AS (SELECT nd.doc_id, lbl.label,
        |  lbl.prior_q - nd.n_d * lbl.rate_q AS base_q FROM nd, lbl),
        |sc AS (SELECT b.doc_id, b.label,
        |  b.base_q + COALESCE(s.seen_q, 0) AS score_q
        | FROM base b LEFT JOIN seen s
        |  ON b.doc_id = s.doc_id AND b.label = s.label)
        |SELECT doc_id, label AS pred_label, score_q FROM (
        |  SELECT *, row_number() OVER
        |   (PARTITION BY doc_id ORDER BY score_q DESC, label ASC) AS rn
        |  FROM sc)
        |WHERE rn = 1""".stripMargin,
    "td51_lm_quality" ->
      """WITH tr AS (SELECT string_split(text, ' ') AS sp
        |  FROM documents WHERE doc_id % 2 = 0),
        |u AS (SELECT t AS token, CAST(count(*) AS BIGINT) AS ucnt
        | FROM (SELECT unnest(sp) AS t FROM tr) GROUP BY 1),
        |ttok AS (SELECT CAST(sum(len(sp)) AS BIGINT) AS tot FROM tr),
        |b AS (SELECT sp[i] || ' ' || sp[i+1] AS bg,
        |  CAST(count(*) AS BIGINT) AS bcnt
        | FROM tr, unnest(range(1, len(sp))) g(i) GROUP BY 1),
        |te AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
        |dbg AS (SELECT doc_id, sp[i] AS prev, sp[i+1] AS w,
        |  CAST(len(sp) - 1 AS BIGINT) AS nbg
        | FROM te, unnest(range(1, len(sp))) g(i)),
        |j AS (SELECT d.doc_id, d.nbg,
        |  CASE WHEN bb.bcnt IS NOT NULL THEN bb.bcnt
        |       WHEN uw.ucnt IS NOT NULL THEN 2 * uw.ucnt ELSE 1 END AS num,
        |  CASE WHEN bb.bcnt IS NOT NULL THEN up.ucnt
        |       ELSE 5 * ttok.tot END AS den
        | FROM dbg d
        | LEFT JOIN b bb ON d.prev || ' ' || d.w = bb.bg
        | LEFT JOIN u up ON d.prev = up.token
        | LEFT JOIN u uw ON d.w = uw.token, ttok),
        |lq AS (SELECT doc_id, nbg,
        |  CAST(floor(log2(CAST(num AS DOUBLE) / CAST(den AS DOUBLE)) * 1024)
        |    AS BIGINT) AS lpq FROM j)
        |SELECT doc_id, max(nbg) AS n_bigrams,
        |  CAST(SUM(lpq) AS BIGINT) AS sum_lpq,
        |  round(CAST(SUM(lpq) AS BIGINT) / CAST(1024.0 AS DOUBLE)
        |    / max(nbg), 4) AS avg_lp
        |FROM lq GROUP BY doc_id""".stripMargin,
    "td47_rag_ingest" ->
      s"""WITH $ragBaseSql
         |SELECT cid, centroid_id, round(cos_full, 4) AS cos FROM asg""".stripMargin,
    "td48_rag_retrieve" ->
      s"""WITH $ragBaseSql,
         |q AS (SELECT cid AS query_id, centroid_id AS q_cell, e AS q_emb,
         |  norm AS q_norm FROM asg WHERE cid < 200000),
         |cand AS (SELECT q.query_id, a.cid, a.centroid_id,
         |  list_sum([a.e[i] * q.q_emb[i] for i in range(1, 17)])
         |    / (a.norm * q.q_norm) AS cand_cos
         | FROM asg a JOIN q ON a.centroid_id = q.q_cell AND a.cid <> q.query_id)
         |SELECT query_id, CAST(rank AS INTEGER) AS rank, cid AS neighbor_id,
         | centroid_id AS cell, round(cand_cos, 4) AS cos
         |FROM (SELECT *, row_number() OVER
         |  (PARTITION BY query_id ORDER BY cand_cos DESC, cid ASC) AS rank
         | FROM cand)
         |WHERE rank <= 3""".stripMargin,
    "td46_chunking" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
        |c AS (SELECT doc_id, s,
        |  CAST((s - 1) // 48 AS INTEGER) AS chunk_id,
        |  array_to_string(sp[s : s + 63], ' ') AS chunk_text,
        |  CAST(least(64, len(sp) - s + 1) AS INTEGER) AS n_chunk_tokens
        | FROM d, unnest(range(1, greatest(len(sp) - 16, 1) + 1, 48)) g(s))
        |SELECT doc_id, chunk_id, chunk_text, n_chunk_tokens FROM c""".stripMargin,
    "td45_tfidf_pairs" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
        |t0 AS (SELECT doc_id, sp[i] || ' ' || sp[i+1] AS token
        |  FROM d, unnest(range(1, len(sp))) g(i)),
        |terms AS (SELECT doc_id, token, count(*) AS tf FROM t0 GROUP BY 1, 2),
        |ntok AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens FROM terms GROUP BY 1),
        |census AS (SELECT token, count(*) AS df FROM terms GROUP BY 1),
        |wted AS (SELECT t.doc_id, t.token, c.df,
        |  CAST(floor(((CAST(t.tf AS DOUBLE) / nt.n_tokens)
        |    * ((SELECT count(*) FROM documents) / CAST(c.df AS DOUBLE)))
        |    * 1024) AS BIGINT) AS wq
        | FROM terms t JOIN ntok nt ON t.doc_id = nt.doc_id
        | JOIN census c ON t.token = c.token),
        |norms AS (SELECT doc_id, CAST(SUM(wq*wq) AS BIGINT) AS n2 FROM wted GROUP BY 1),
        |inv AS (SELECT token, doc_id, wq FROM wted WHERE df <= 20),
        |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(SUM(a.wq*b.wq) AS BIGINT) AS dotq
        | FROM inv a JOIN inv b ON a.token = b.token AND a.doc_id < b.doc_id
        | GROUP BY 1, 2)
        |SELECT doc_a, doc_b, cos FROM (
        | SELECT doc_a, doc_b,
        |  round(dotq / (sqrt(na.n2) * sqrt(nb.n2)), 6) AS cos
        | FROM pairs JOIN norms na ON doc_a = na.doc_id
        | JOIN norms nb ON doc_b = nb.doc_id)
        |WHERE cos >= 0.15""".stripMargin,
    "td44_cms_heavy_hitters" ->
      """SELECT token, CAST(count(*) AS BIGINT) AS freq,
        | TRUE AS est_at_least_true, TRUE AS est_within_eps
        |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |WHERE len(token) > 0
        |GROUP BY token
        |ORDER BY freq DESC, token ASC
        |LIMIT 20""".stripMargin,
    "td41_bpe_pair_census" ->
      s"""WITH $bpeBaseSql,
         |${bpeRoundSql("w0", "p1", "t1")}
         |SELECT l, r, cnt FROM p1
         |ORDER BY cnt DESC, l, r LIMIT 10""".stripMargin,
    "td42_bpe_train" ->
      s"""WITH $bpeBaseSql,
         |${bpeRoundSql("w0", "p1", "t1")},
         |w1 AS (SELECT ${bpeApplySql("w", "t.l", "t.r", "a1", "x1")} AS w,
         |  w0.cnt AS cnt FROM w0, t1 t),
         |${bpeRoundSql("w1", "p2", "t2")},
         |w2 AS (SELECT ${bpeApplySql("w", "t.l", "t.r", "a1", "x1")} AS w,
         |  w1.cnt AS cnt FROM w1, t2 t),
         |${bpeRoundSql("w2", "p3", "t3")}
         |SELECT CAST(1 AS INTEGER) AS iteration, l, r, cnt FROM t1
         |UNION ALL SELECT 2, l, r, cnt FROM t2
         |UNION ALL SELECT 3, l, r, cnt FROM t3""".stripMargin,
    "td43_bpe_encode" ->
      s"""WITH $bpeBaseSql,
         |${bpeRoundSql("w0", "p1", "t1")},
         |w1 AS (SELECT ${bpeApplySql("w", "t.l", "t.r", "a1", "x1")} AS w,
         |  w0.cnt AS cnt FROM w0, t1 t),
         |${bpeRoundSql("w1", "p2", "t2")},
         |w2 AS (SELECT ${bpeApplySql("w", "t.l", "t.r", "a1", "x1")} AS w,
         |  w1.cnt AS cnt FROM w1, t2 t),
         |${bpeRoundSql("w2", "p3", "t3")},
         |rr AS (SELECT t1.l AS l1, t1.r AS r1, t2.l AS l2, t2.r AS r2,
         |  t3.l AS l3, t3.r AS r3 FROM t1, t2, t3),
         |d AS (SELECT doc_id, list_filter(string_split(text, ' '),
         |  w -> len(w) >= 1) AS ws FROM documents)
         |SELECT doc_id, CAST(len(ws) AS INTEGER) AS n_words,
         | CAST(COALESCE(list_sum(list_transform(ws, w ->
         |  len(string_split(
         |   ${bpeApplySql(
               bpeApplySql(
                 bpeApplySql("array_to_string(string_split(w, ''), chr(1))",
                   "l1", "r1", "a1", "x1"),
                 "l2", "r2", "a2", "x2"),
               "l3", "r3", "a3", "x3")},
         |   chr(1))))), 0) AS BIGINT) AS n_bpe_symbols
         |FROM d, rr""".stripMargin,
    "q20_string_functions" ->
      """SELECT doc_id,
        | CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
        | string_split(text, ' ')[1] AS first_token,
        | substring(text, 1, 10) AS prefix10,
        | upper(lang) AS up_lang,
        | lang || '-' || source AS lang_source,
        | rpad(lang, 8, '_') AS padded,
        | contains(text, 'spark') AS has_spark,
        | starts_with(text, 'the') AS starts_the,
        | CAST(length(text) AS INTEGER) AS n_chars_calc,
        | regexp_matches(text, '^[\x00-\x7F]*$') AS ascii_ok
        |FROM documents""".stripMargin,
    "q25_array_hof" ->
      """SELECT doc_id,
        | CAST(list_sum(list_transform(string_split(text, ' '), x -> length(x))) AS INTEGER) AS total_len,
        | CAST(len(list_filter(string_split(text, ' '), x -> length(x) > 4)) AS INTEGER) AS n_long_tokens,
        | len(list_filter(string_split(text, ' '), x -> x = 'query')) > 0 AS has_query,
        | CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_distinct_tokens,
        | CAST(list_max(list_transform(string_split(text, ' '), x -> length(x))) AS INTEGER) AS max_token_len
        |FROM documents""".stripMargin,
    "td26_token_stats" ->
      """SELECT doc_id, lang,
        | CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
        | CAST(length(text) AS INTEGER) AS n_chars_calc,
        | round(CAST(list_sum(list_transform(string_split(text, ' '), x -> length(x))) AS DOUBLE)
        |       / len(string_split(text, ' ')), 4) AS avg_token_len
        |FROM documents""".stripMargin,
    "td27_quality_score" ->
      """WITH t AS (
        | SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
        |  CAST(len(list_filter(string_split(text, ' '),
        |       x -> x IN ('the','a','of','and','to'))) AS INTEGER) AS n_stop
        | FROM documents)
        |SELECT doc_id, n_tokens, n_stop,
        | round(CAST(n_stop AS DOUBLE) / n_tokens, 6) AS stop_ratio,
        | greatest(0.0, least(100.0, round(
        |   100.0 - abs(round(CAST(n_stop AS DOUBLE) / n_tokens, 6) - 0.08) * 200.0
        |         - CASE WHEN n_tokens < 20 THEN 30.0 ELSE 0.0 END, 4))) AS quality_score
        |FROM t""".stripMargin,
    "td28_lang_id" ->
      """WITH t AS (
        | SELECT doc_id,
        |  CAST(len(list_filter(string_split(text,' '), x -> x IN ('the','a','of'))) AS INTEGER) AS c_en,
        |  CAST(len(list_filter(string_split(text,' '), x -> x IN ('le','la','et'))) AS INTEGER) AS c_fr,
        |  CAST(len(list_filter(string_split(text,' '), x -> x IN ('el','los','y'))) AS INTEGER) AS c_es
        | FROM documents)
        |SELECT doc_id, c_en, c_fr, c_es,
        | CASE WHEN c_en >= c_fr AND c_en >= c_es THEN 'en'
        |      WHEN c_fr >= c_es THEN 'fr' ELSE 'es' END AS lang_guess
        |FROM t""".stripMargin,
    "td29_fingerprint" ->
      """SELECT doc_id,
        | md5(lower(text)) AS content_fp,
        | list_min(list_transform(string_split(text, ' '), x -> md5(x))) AS token_min_hash,
        | md5(array_to_string(string_split(text, ' ')[1:5], '|')) AS head_fp
        |FROM documents""".stripMargin,
    "td30_contamination" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
        |g AS (SELECT doc_id,
        |  list_distinct([sp[i] || ' ' || sp[i+1] for i in range(1, len(sp))]) AS bg FROM d),
        |bench AS (SELECT DISTINCT unnest(bg) AS shingle FROM g WHERE doc_id % 50 = 0),
        |sh AS (SELECT doc_id, unnest(bg) AS shingle FROM g),
        |shared AS (SELECT doc_id, count(*) AS n_shared
        |           FROM sh JOIN bench USING (shingle) GROUP BY doc_id)
        |SELECT g.doc_id,
        | CAST(len(bg) AS INTEGER) AS n_shingles,
        | CAST(COALESCE(n_shared, 0) AS BIGINT) AS n_shared,
        | round(CAST(COALESCE(n_shared, 0) AS DOUBLE) / len(bg), 6) AS contamination_ratio
        |FROM g LEFT JOIN shared ON g.doc_id = shared.doc_id""".stripMargin,
    "td31_normalize" ->
      """SELECT doc_id,
        | trim(regexp_replace(lower(nfc_normalize(text)), '\s+', ' ', 'g')) AS norm_text,
        | CAST(length(trim(regexp_replace(lower(nfc_normalize(text)), '\s+', ' ', 'g'))) AS INTEGER) AS n_chars_norm
        |FROM documents""".stripMargin,
    "td32_repetition" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |b AS (SELECT doc_id, t,
        |  [t[i] || ' ' || t[i+1] for i in range(1, len(t))] AS bg FROM d)
        |SELECT doc_id,
        | CAST(len(t) AS INTEGER) AS n_tokens,
        | round(CAST(len(list_distinct(t)) AS DOUBLE) / len(t), 6) AS distinct_token_ratio,
        | round(CAST(list_max(list_transform(list_distinct(t),
        |   x -> len(list_filter(t, y -> y = x)))) AS DOUBLE) / len(t), 6) AS top_token_share,
        | round(CAST(list_max(list_transform(list_distinct(bg),
        |   x -> len(list_filter(bg, y -> y = x)))) AS DOUBLE) / len(bg), 6) AS top_bigram_share
        |FROM b""".stripMargin,
    // whitespace written as an explicit class on both sides — Java \s and
    // RE2 \s disagree on U+000B (see TextAnalysis.BpePattern)
    "td33_bpe_tokens" ->
      """SELECT doc_id,
        | CAST(len(string_split(text, ' ')) AS INTEGER) AS n_ws_tokens,
        | CAST(len(regexp_extract_all(text,
        |   ' ?\p{L}+| ?\p{N}+| ?[^\t\n\f\r \p{L}\p{N}]+|[\t\n\f\r ]+')) AS INTEGER) AS n_bpe_tokens
        |FROM documents""".stripMargin,
    "td34_redact_pii" ->
      """WITH d AS (SELECT doc_id, text ||
        |  CASE CAST(doc_id % 5 AS INTEGER)
        |   WHEN 0 THEN ' reach me at user' || CAST(doc_id AS VARCHAR) || '@example.com'
        |   WHEN 1 THEN ' server 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7 down'
        |   WHEN 2 THEN ' call +1 555-123-4567 now'
        |   ELSE '' END AS text FROM documents)
        |SELECT doc_id,
        | regexp_replace(regexp_replace(regexp_replace(text,
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |   '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g'),
        |   '\+?\d{3}[ .-]\d{3}[ .-]\d{4}', '[PHONE]', 'g') AS redacted_text,
        | CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        | CAST(len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
        | CAST(len(regexp_extract_all(text, '\+?\d{3}[ .-]\d{3}[ .-]\d{4}')) AS BIGINT) AS n_phones
        |FROM d""".stripMargin,
    "td35_domain_cap" ->
      """WITH u AS (SELECT doc_id, source,
        |  'HTTPS://WWW.' || source || '.Example.COM/Path/' || CAST(doc_id AS VARCHAR) ||
        |  CASE CAST(doc_id % 4 AS INTEGER)
        |   WHEN 0 THEN '?utm_source=feed&id=' || CAST(doc_id AS VARCHAR) || '&utm_campaign=x'
        |   WHEN 1 THEN '/?gclid=abc123'
        |   WHEN 2 THEN '#section2'
        |   ELSE '?page=2&fbclid=zz&sort=asc' END AS url
        | FROM documents),
        |sp AS (SELECT doc_id, source, url,
        |  string_split(string_split(url, '#')[1], '?') AS bp FROM u),
        |pr AS (SELECT doc_id, source, url, bp[1] AS preq,
        |  CASE WHEN len(bp) > 1
        |   THEN array_to_string(list_slice(bp, 2, len(bp)), '?') END AS qs
        | FROM sp),
        |lo AS (SELECT doc_id, source, url, qs,
        |  regexp_replace(
        |   lower(regexp_extract(preq, '^([^/]*//[^/]*)', 1))
        |    || regexp_extract(preq, '^[^/]*//[^/]*(.*)$', 1),
        |   '/$', '') AS noslash
        | FROM pr),
        |cn AS (SELECT doc_id, source,
        |  noslash || CASE WHEN kept IS NOT NULL AND len(kept) > 0
        |   THEN '?' || kept ELSE '' END AS canonical_url,
        |  regexp_replace(regexp_extract(lower(url), '//(?:[^/@]*@)?([^/:?#]+)', 1),
        |   '^www\.', '') AS domain
        | FROM (SELECT *, array_to_string(list_filter(string_split(qs, '&'),
        |    p -> NOT regexp_matches(p, '^(utm_[^=&]*|gclid|fbclid|msclkid|ref)(=|$)')),
        |   '&') AS kept FROM lo))
        |SELECT doc_id, source, canonical_url, domain FROM (
        | SELECT *, row_number() OVER (PARTITION BY domain
        |   ORDER BY md5(domain || '|' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
        | FROM cn) WHERE rn <= 5""".stripMargin,
    "td40_curation_pipeline" ->
      """WITH d AS (SELECT doc_id, text ||
        |  CASE WHEN doc_id % 2 = 0
        |   THEN ' and so that was the end of it all' ELSE '' END AS text
        | FROM documents),
        |n AS (SELECT doc_id,
        |  trim(regexp_replace(lower(nfc_normalize(text)), '\s+', ' ', 'g')) AS norm
        | FROM d),
        |m AS (SELECT doc_id, norm,
        |  string_split_regex(norm, '[ \t\n]+') AS w,
        |  string_split(norm, chr(10)) AS l,
        |  string_split(norm, ' ') AS t FROM n),
        |r AS (SELECT doc_id, norm, t,
        |  CAST(len(w) AS INTEGER) AS n_words,
        |  CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) / len(w) AS mean_word_len,
        |  CAST(len(regexp_extract_all(norm, '#'))
        |       + len(regexp_extract_all(norm, '\.\.\.|…')) AS DOUBLE) / len(w) AS symbol_ratio,
        |  CAST(len(list_filter(l, x -> regexp_matches(x, '^[ \t]*[-*•]'))) AS DOUBLE) / len(l) AS bullet_ratio,
        |  CAST(len(list_filter(l, x -> regexp_matches(x, '(\.\.\.|…)[ \t]*$'))) AS DOUBLE) / len(l) AS ellipsis_ratio,
        |  CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / len(w) AS alpha_ratio,
        |  CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
        |       s -> list_contains(w, s))) AS INTEGER) AS n_stop_hits
        | FROM m),
        |rr AS (SELECT doc_id, norm, n_words,
        |  round(CAST(len(list_distinct(t)) AS DOUBLE) / len(t), 6) AS distinct_token_ratio,
        |  round(CAST(list_max(list_transform(list_distinct(t),
        |    x -> len(list_filter(t, y -> y = x)))) AS DOUBLE) / len(t), 6) AS top_token_share,
        |  (n_words BETWEEN 10 AND 100000
        |   AND mean_word_len BETWEEN 3.0 AND 10.0
        |   AND symbol_ratio < 0.1 AND bullet_ratio < 0.9
        |   AND ellipsis_ratio < 0.3 AND alpha_ratio > 0.8
        |   AND n_stop_hits >= 2) AS gopher_keep
        | FROM r)
        |SELECT doc_id, n_words, distinct_token_ratio, top_token_share,
        | (gopher_keep AND top_token_share <= 0.2
        |  AND distinct_token_ratio >= 0.3) AS keep,
        | regexp_replace(regexp_replace(regexp_replace(norm,
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |   '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g'),
        |   '\+?\d{3}[ .-]\d{3}[ .-]\d{4}', '[PHONE]', 'g') AS clean_text,
        | CAST(len(regexp_extract_all(norm, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |  + len(regexp_extract_all(norm, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))
        |  + len(regexp_extract_all(norm, '\+?\d{3}[ .-]\d{3}[ .-]\d{4}')) AS BIGINT) AS n_redactions
        |FROM rr""".stripMargin,
    "td39_familiarity" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |wj AS (SELECT doc_id, unnest(range(1, greatest(len(tk) - 1, 0) + 1)) AS j FROM t),
        |w AS (SELECT wj.doc_id, md5(t.tk[j] || ' ' || t.tk[j + 1]) AS h
        |      FROM wj JOIN t USING (doc_id)),
        |census AS (SELECT h, count(*) AS rc FROM w WHERE doc_id % 10 = 0 GROUP BY h),
        |sc AS (SELECT w.doc_id, count(*) AS n_bigrams,
        |  sum(CASE WHEN c.rc IS NOT NULL THEN 1 ELSE 0 END) AS n_known,
        |  sum(coalesce(c.rc, 0)) AS tot
        | FROM w LEFT JOIN census c USING (h) GROUP BY w.doc_id)
        |SELECT t.doc_id,
        | CAST(coalesce(sc.n_bigrams, 0) AS BIGINT) AS n_bigrams,
        | CAST(coalesce(sc.n_known, 0) AS BIGINT) AS n_known,
        | CASE WHEN coalesce(sc.n_bigrams, 0) > 0
        |  THEN CAST(sc.tot AS DOUBLE) / CAST(sc.n_bigrams AS DOUBLE) END AS familiarity
        |FROM t LEFT JOIN sc USING (doc_id)""".stripMargin,
    "td38_crawl_front_door" ->
      """WITH u AS (SELECT doc_id, source, text,
        |  'HTTPS://WWW.' || source || '.Example.COM/Page/' || CAST(doc_id % 50 AS VARCHAR) ||
        |  CASE CAST(doc_id % 4 AS INTEGER)
        |   WHEN 0 THEN '?utm_source=feed&id=' || CAST(doc_id % 50 AS VARCHAR) || '&utm_campaign=x'
        |   WHEN 1 THEN '/?gclid=abc123'
        |   WHEN 2 THEN '#section2'
        |   ELSE '?page=2&fbclid=zz&sort=asc' END AS url
        | FROM documents),
        |sp AS (SELECT doc_id, source, text, url,
        |  string_split(string_split(url, '#')[1], '?') AS bp FROM u),
        |pr AS (SELECT doc_id, source, text, url, bp[1] AS preq,
        |  CASE WHEN len(bp) > 1
        |   THEN array_to_string(list_slice(bp, 2, len(bp)), '?') END AS qs
        | FROM sp),
        |lo AS (SELECT doc_id, source, text, url, qs,
        |  regexp_replace(
        |   lower(regexp_extract(preq, '^([^/]*//[^/]*)', 1))
        |    || regexp_extract(preq, '^[^/]*//[^/]*(.*)$', 1),
        |   '/$', '') AS noslash
        | FROM pr),
        |cn AS (SELECT doc_id, source, text,
        |  noslash || CASE WHEN kept IS NOT NULL AND len(kept) > 0
        |   THEN '?' || kept ELSE '' END AS canonical_url,
        |  regexp_replace(regexp_extract(lower(url), '//(?:[^/@]*@)?([^/:?#]+)', 1),
        |   '^www\.', '') AS domain
        | FROM (SELECT *, array_to_string(list_filter(string_split(qs, '&'),
        |    p -> NOT regexp_matches(p, '^(utm_[^=&]*|gclid|fbclid|msclkid|ref)(=|$)')),
        |   '&') AS kept FROM lo)),
        |flt AS (SELECT * FROM cn
        | WHERE domain NOT IN ('src3.example.com', 'src7.example.com', 'blocked.invalid')),
        |pg AS (SELECT doc_id, source, text, canonical_url, domain FROM (
        |  SELECT *, row_number() OVER
        |   (PARTITION BY canonical_url ORDER BY doc_id) AS rn FROM flt)
        | WHERE rn = 1),
        |cap AS (SELECT doc_id, source, text, canonical_url, domain FROM (
        |  SELECT *, row_number() OVER (PARTITION BY domain
        |    ORDER BY md5(domain || '|' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM pg) WHERE rn <= 5)
        |SELECT doc_id, source, canonical_url, domain FROM (
        | SELECT *, row_number() OVER
        |  (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM cap)
        |WHERE rn = 1""".stripMargin,
    "td36_vocab" ->
      """SELECT token, CAST(count(*) AS BIGINT) AS freq,
        | CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |      FROM documents)
        |WHERE len(token) > 0
        |GROUP BY token
        |ORDER BY freq DESC, token ASC
        |LIMIT 500""".stripMargin,
    // ratios are integer/integer divisions emitted UNROUNDED on both
    // sides — bit-identical IEEE, immune to the round-at-tie divergence
    "td37_gopher_screen" ->
      """WITH d AS (SELECT doc_id, text ||
        |  CASE CAST(doc_id % 6 AS INTEGER)
        |   WHEN 0 THEN replace('<NL>- alpha beta<NL>- gamma delta<NL>* epsilon zeta<NL>plain tail line', '<NL>', chr(10))
        |   WHEN 1 THEN replace('<NL>- a1<NL>- b2<NL>- c3<NL>- d4<NL>- e5<NL>- f6<NL>- g7<NL>- h8<NL>- i9', '<NL>', chr(10))
        |   WHEN 2 THEN replace('<NL>wait for it...<NL>not yet…<NL>still loading...', '<NL>', chr(10))
        |   WHEN 3 THEN ' ### tag # list … end'
        |   WHEN 4 THEN ' 100 200 300 400 500 600 700 800 900 1000 1100 1200 1300 1400 1500 1600 1700 1800 1900 2000'
        |   ELSE '' END AS text FROM documents),
        |m AS (SELECT doc_id, text,
        |  string_split_regex(text, '[ \t\n]+') AS w,
        |  string_split(text, chr(10)) AS l FROM d),
        |r AS (SELECT doc_id,
        |  CAST(len(w) AS INTEGER) AS n_words,
        |  CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) / len(w) AS mean_word_len,
        |  CAST(len(regexp_extract_all(text, '#'))
        |       + len(regexp_extract_all(text, '\.\.\.|…')) AS DOUBLE) / len(w) AS symbol_ratio,
        |  CAST(len(list_filter(l, x -> regexp_matches(x, '^[ \t]*[-*•]'))) AS DOUBLE) / len(l) AS bullet_ratio,
        |  CAST(len(list_filter(l, x -> regexp_matches(x, '(\.\.\.|…)[ \t]*$'))) AS DOUBLE) / len(l) AS ellipsis_ratio,
        |  CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / len(w) AS alpha_ratio,
        |  CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
        |       s -> list_contains(w, s))) AS INTEGER) AS n_stop_hits
        | FROM m)
        |SELECT *, (n_words BETWEEN 50 AND 100000
        |  AND mean_word_len BETWEEN 3.0 AND 10.0
        |  AND symbol_ratio < 0.1 AND bullet_ratio < 0.9
        |  AND ellipsis_ratio < 0.3 AND alpha_ratio > 0.8
        |  AND n_stop_hits >= 2) AS keep FROM r""".stripMargin)

  /** td54 composes the three component oracle texts VERBATIM (each as a
    * subquery-local WITH block), so a drift in any component oracle
    * breaks the composed entry too; the LM gate is the integer
    * inequality sum_lpq >= -5632 * n_bigrams (mean log2-prob >= -5.5).
    */
  private val td54Oracle: String =
    s"""SELECT a.doc_id, a.keep,
       |  (b.sum_lpq >= -5632 * b.n_bigrams) AS lm_ok,
       |  (c.pred_label = dd.lang) AS lang_match,
       |  (a.keep AND b.sum_lpq >= -5632 * b.n_bigrams
       |   AND c.pred_label = dd.lang) AS admitted
       |FROM (${baseOracles("td40_curation_pipeline")}) a
       |JOIN (${baseOracles("td51_lm_quality")}) b ON a.doc_id = b.doc_id
       |JOIN (${baseOracles("td52_nb_classify")}) c ON a.doc_id = c.doc_id
       |JOIN documents dd ON a.doc_id = dd.doc_id""".stripMargin

  val oracles: Map[String, String] = baseOracles ++ Map(
    "td54_model_gated_curation" -> td54Oracle,
    // td61: the td60 text verbatim, reduced to the one-row gate — MRR
    // and recall@k each ONE division of two exact integer sums (the q62
    // discipline; a float mean would be summation-order-dependent)
    "td61_retrieval_eval_agg" ->
      s"""SELECT CAST(count(*) AS BIGINT) AS n_queries,
         | CAST(SUM(n_rel) AS BIGINT) AS n_rel_total,
         | CAST(SUM(rr_q) AS BIGINT) AS sum_rr_q,
         | CAST(SUM(rr_q) AS DOUBLE)
         |   / CAST(count(*) * 65536 AS DOUBLE) AS mrr,
         | CAST(SUM(hits_at_1) AS BIGINT) AS sum_hits_at_1,
         | CAST(SUM(hits_at_1) AS DOUBLE)
         |   / CAST(SUM(n_rel) AS DOUBLE) AS recall_at_1,
         | CAST(SUM(hits_at_5) AS BIGINT) AS sum_hits_at_5,
         | CAST(SUM(hits_at_5) AS DOUBLE)
         |   / CAST(SUM(n_rel) AS DOUBLE) AS recall_at_5,
         | CAST(SUM(hits_at_10) AS BIGINT) AS sum_hits_at_10,
         | CAST(SUM(hits_at_10) AS DOUBLE)
         |   / CAST(SUM(n_rel) AS DOUBLE) AS recall_at_10
         |FROM (${baseOracles("td60_retrieval_eval")})""".stripMargin,
    // td62: the td51 text verbatim as the tier source, then the q67
    // curriculum rank idiom (the oracle pays the plain per-shard
    // (tier, hash) sort; the Spark side must not)
    "td62_quality_curriculum" ->
      s"""WITH d AS (SELECT doc_id,
         |  least(((-sum_lpq) // greatest(n_bigrams, 1)) // 1024, 9)
         |   AS tier
         | FROM (${baseOracles("td51_lm_quality")})),
         |h AS (SELECT doc_id, tier,
         |  md5('curr9|' || CAST(doc_id AS VARCHAR)) AS hk FROM d),
         |s AS (SELECT doc_id, tier, hk,
         |  CAST('0x' || substr(hk, 1, 4) AS INTEGER) % 8 AS shard FROM h)
         |SELECT doc_id, CAST(tier AS BIGINT) AS tier,
         | CAST(shard AS BIGINT) AS shard,
         | CAST(row_number() OVER (PARTITION BY shard
         |   ORDER BY tier, hk, doc_id) AS BIGINT) AS pos
         |FROM s""".stripMargin,
    // td55/q60 compose their component oracle texts VERBATIM (the td54
    // idiom): classifier or gate drift breaks these entries too
    "td55_nb_confusion" ->
      s"""SELECT d.lang, c.pred_label, CAST(count(*) AS BIGINT) AS n_docs
         |FROM (${baseOracles("td52_nb_classify")}) c
         |JOIN documents d ON c.doc_id = d.doc_id
         |GROUP BY d.lang, c.pred_label""".stripMargin,
    "td56_ppl_buckets" ->
      s"""SELECT doc_id, lang, avg_lp,
         |  CAST(ntile(3) OVER (PARTITION BY lang
         |   ORDER BY avg_lp DESC, doc_id) AS INTEGER) AS ppl_bucket
         |FROM (SELECT b.doc_id, b.avg_lp, d.lang
         |  FROM (${baseOracles("td51_lm_quality")}) b
         |  JOIN documents d ON b.doc_id = d.doc_id)""".stripMargin,
    "td57_tokenizer_fertility" ->
      s"""SELECT d.lang, CAST(SUM(e.n_words) AS BIGINT) AS n_words,
         |  CAST(SUM(e.n_bpe_symbols) AS BIGINT) AS n_bpe_symbols
         |FROM (${baseOracles("td43_bpe_encode")}) e
         |JOIN documents d ON e.doc_id = d.doc_id
         |GROUP BY d.lang""".stripMargin,
    // td58 composes the td40/td51/td52 texts verbatim (the td54 drift
    // chain) and sweeps the LM gate's quantized cutoff; the monotonicity
    // booleans are the q28/sim55 oracle-pinned contract
    "td58_gate_threshold_sweep" ->
      s"""WITH g AS (SELECT a.keep, b.n_bigrams, b.sum_lpq,
         |  (c.pred_label = dd.lang) AS lang_match
         | FROM (${baseOracles("td40_curation_pipeline")}) a
         | JOIN (${baseOracles("td51_lm_quality")}) b ON a.doc_id = b.doc_id
         | JOIN (${baseOracles("td52_nb_classify")}) c ON a.doc_id = c.doc_id
         | JOIN documents dd ON a.doc_id = dd.doc_id),
         |s AS (SELECT CAST(t.thr_q AS BIGINT) AS thr_q,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(*) FILTER (g.sum_lpq >= t.thr_q * g.n_bigrams)
         |    AS BIGINT) AS n_lm_pass,
         |  CAST(count(*) FILTER (g.keep
         |    AND g.sum_lpq >= t.thr_q * g.n_bigrams AND g.lang_match)
         |    AS BIGINT) AS n_admitted
         | FROM g, (SELECT unnest([-7168, -6144, -5632, -5120, -4096])
         |   AS thr_q) t
         | GROUP BY t.thr_q)
         |SELECT thr_q, n_docs, n_lm_pass, n_admitted,
         | coalesce(n_lm_pass <= lag(n_lm_pass)
         |   OVER (ORDER BY thr_q ASC), TRUE) AS pass_non_increasing,
         | coalesce(n_admitted <= lag(n_admitted)
         |   OVER (ORDER BY thr_q ASC), TRUE) AS admitted_non_increasing
         |FROM s""".stripMargin,
    // td59 mirrors the count-of-counts occupancy arithmetic: coverage at
    // a rank-k cut inside a frequency tie class = occurrences of every
    // class strictly above it plus (k - tokens_before)·cnt — exact longs;
    // oov_rate is the single IEEE division of identical longs
    "td59_vocab_coverage" ->
      """WITH c AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt
        |  FROM (SELECT unnest(string_split(text, ' ')) AS token
        |        FROM documents)
        |  WHERE len(token) > 0 GROUP BY token),
        |cc AS (SELECT cnt, CAST(count(*) AS BIGINT) AS ntok,
        |    CAST(cnt * count(*) AS BIGINT) AS occ FROM c GROUP BY cnt),
        |cum AS (SELECT cnt, ntok, occ,
        |    CAST(COALESCE(SUM(ntok) OVER (ORDER BY cnt DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS tok_before,
        |    CAST(COALESCE(SUM(occ) OVER (ORDER BY cnt DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS occ_before
        |  FROM cc),
        |tot AS (SELECT CAST(SUM(ntok) AS BIGINT) AS nw,
        |    CAST(SUM(occ) AS BIGINT) AS total_occ FROM cc),
        |ks AS (SELECT CAST(unnest([100, 1000, 4000, 16000]) AS BIGINT)
        |    AS vocab_k)
        |SELECT k.vocab_k,
        |  CAST(COALESCE(c2.occ_before
        |    + (k.vocab_k - c2.tok_before) * c2.cnt, t.total_occ)
        |    AS BIGINT) AS covered_occ,
        |  t.total_occ AS total_occ, t.nw AS n_distinct_words,
        |  CAST(t.total_occ - COALESCE(c2.occ_before
        |    + (k.vocab_k - c2.tok_before) * c2.cnt, t.total_occ)
        |    AS DOUBLE) / t.total_occ AS oov_rate
        |FROM ks k CROSS JOIN tot t
        |LEFT JOIN cum c2 ON c2.tok_before < k.vocab_k
        |  AND k.vocab_k <= c2.tok_before + c2.ntok""".stripMargin,
    "q61_curation_funnel" ->
      s"""SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(*) FILTER (keep) AS BIGINT) AS n_rule_pass,
         |  CAST(count(*) FILTER (lm_ok) AS BIGINT) AS n_lm_pass,
         |  CAST(count(*) FILTER (lang_match) AS BIGINT) AS n_lang_pass,
         |  CAST(count(*) FILTER (admitted) AS BIGINT) AS n_admitted
         |FROM ($td54Oracle)""".stripMargin,
    "q60_curated_mix" ->
      s"""WITH adm AS (SELECT doc_id FROM ($td54Oracle) WHERE admitted),
         |d AS (SELECT doc_id, source,
         |  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens
         |  FROM documents WHERE doc_id IN (SELECT doc_id FROM adm)),
         |c AS (SELECT *, SUM(CAST(n_tokens AS BIGINT)) OVER (PARTITION BY source
         |  ORDER BY md5(source || '|' || CAST(doc_id AS VARCHAR)), doc_id
         |  ROWS UNBOUNDED PRECEDING) AS cum FROM d)
         |SELECT doc_id, source, n_tokens FROM c
         |WHERE cum <= CASE source WHEN 'src0' THEN 800 WHEN 'src1' THEN 400
         |  ELSE 500 END""".stripMargin)
}
