package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Reusable text-analysis operators for training-data curation (library
  * form of the td26-td29 query surface; graft.queries.TextOps holds the
  * oracle-checked instantiations). All narrow per-row projections — no
  * shuffle, scan-bound, fully inside whole-stage codegen.
  */
object TextAnalysis {

  private def toks(text: Column): Column = split(text, " ")

  /** Token/character statistics. */
  def tokenStats(docs: DataFrame, idCol: String, textCol: String,
      extraCols: Seq[String] = Seq.empty): DataFrame = {
    val t = toks(col(textCol))
    docs.select((Seq(col(idCol)) ++ extraCols.map(col) ++ Seq(
      size(t).as("n_tokens"),
      length(col(textCol)).as("n_chars_calc"),
      round(aggregate(t, lit(0), (a, x) => a + length(x)).cast("double")
        / size(t), 4).as("avg_token_len"))): _*)
  }

  /** BPE-style pre-tokenization count alongside the whitespace count — the
    * two token-budget currencies a training mix is planned in. The pattern
    * is the GPT-2 pre-tokenizer family (optional leading space + letter
    * run / digit run / punctuation run, else whitespace run) WITHOUT the
    * trailing-space lookahead: RE2 has no lookahead, and dropping it keeps
    * Java regex (Spark codegen'd regexp_count) and RE2 (SQL engines)
    * counting identically — parity is oracle-verified. Whitespace is an
    * EXPLICIT class, not `\s`: Java's `\s` includes U+000B vertical tab
    * while RE2's does not, so `\s` would count differently across engines
    * on real crawl text. A real BPE vocab merges within these pre-tokens,
    * so this count upper-bounds true BPE tokens the way budget planning
    * uses it.
    */
  private val Ws = "\\t\\n\\f\\r "
  val BpePattern = s" ?\\p{L}+| ?\\p{N}+| ?[^$Ws\\p{L}\\p{N}]+|[$Ws]+"

  def bpeTokenStats(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
      size(toks(col(textCol))).as("n_ws_tokens"),
      regexp_count(col(textCol), lit(BpePattern)).as("n_bpe_tokens"))

  /** Heuristic 0-100 quality score from length and stopword-ratio distance
    * (shape mirrors the reference's deduction scoring,
    * silver_x12_parsing.py:1068-1073).
    */
  def qualityScore(docs: DataFrame, idCol: String, textCol: String,
      stopwords: Seq[String], targetStopRatio: Double = 0.08,
      minTokens: Int = 20): DataFrame = {
    val t = toks(col(textCol))
    docs
      .withColumn("n_tokens", size(t))
      .withColumn("n_stop",
        size(filter(t, x => x.isin(stopwords.map(lit(_)): _*))))
      .withColumn("stop_ratio",
        round(col("n_stop").cast("double") / col("n_tokens"), 6))
      .withColumn("quality_score",
        greatest(lit(0.0), least(lit(100.0), round(
          lit(100.0)
            - abs(col("stop_ratio") - targetStopRatio) * 200.0
            - when(col("n_tokens") < minTokens, 30.0).otherwise(0.0), 4))))
      .select(idCol, "n_tokens", "n_stop", "stop_ratio", "quality_score")
  }

  /** Marker-token language voting; `markers` order defines the
    * deterministic tie-break (earlier wins ties).
    */
  def langId(docs: DataFrame, idCol: String, textCol: String,
      markers: Seq[(String, Seq[String])]): DataFrame = {
    val t = toks(col(textCol))
    val counted = markers.foldLeft(docs) { case (df, (lang, words)) =>
      df.withColumn(s"c_$lang",
        size(filter(t, x => x.isin(words.map(lit(_)): _*))))
    }
    // lang i wins when its count >= every later lang's count (ties go to
    // the earliest entry)
    val guess = markers.indices.init.foldRight(
      lit(markers.last._1): Column) { case (i, rest) =>
      val (lang, _) = markers(i)
      val beatsLater = markers.drop(i + 1)
        .map { case (other, _) => col(s"c_$lang") >= col(s"c_$other") }
        .reduce(_ && _)
      when(beatsLater, lang).otherwise(rest)
    }
    counted.withColumn("lang_guess", guess)
      .select((Seq(idCol) ++ markers.map(m => s"c_${m._1}") ++ Seq("lang_guess")).map(col): _*)
  }

  /** Benchmark-contamination check: for every document, how many of its
    * distinct word-bigram shingles appear anywhere in a benchmark corpus —
    * the standard eval-leakage screen a training-data pipeline runs before
    * a corpus ships. The benchmark's distinct shingle set is broadcast
    * (benchmarks are tiny next to a 100 TB corpus), so the operator is one
    * scan over the corpus: explode shingles → broadcast-join → count per
    * doc; documents with zero overlap are preserved via the final right
    * join back onto the corpus (a contamination report must show clean
    * docs as clean, not omit them).
    */
  /** N-gram familiarity score — the parity-safe form of the CCNet-style
    * LM-perplexity quality filter (Wenzek et al. 2019 score documents by a
    * KenLM trained on a trusted corpus; log-prob arithmetic is not
    * bit-reproducible across engines, so this uses the rational proxy):
    * each document's word-bigrams are looked up in a bigram census of a
    * REFERENCE corpus, and the score is the mean reference-count per
    * bigram — integer counts and ONE unguarded-by-rounding division, so
    * both engines agree bit-for-bit. High score = prose made of bigrams
    * the trusted corpus uses constantly; gibberish and boilerplate-free
    * junk score near zero. Returns every doc:
    * (doc_id, n_bigrams, n_known, familiarity — null when no bigrams).
    *
    * Scale shape: the census is one digest-keyed shuffle of the reference
    * (built once per reference version in production — persist it); the
    * doc side explodes to digests and joins the census UNHINTED (it is
    * O(reference vocabulary), unbounded — AQE broadcasts only when the
    * runtime size fits), then one partial-aggregated groupBy per doc.
    * Bigrams travel as 16-byte digests, never text
    * (digest-equality-as-content-equality, the TextDedup stance).
    */
  def familiarity(docs: DataFrame, idCol: String, textCol: String,
      ref: DataFrame, refTextCol: String): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    def windows(c: Column): Column =
      graft.functions.GraftFunctions.ngramDigests(c, 2)
    val census = ref.select(explode(windows(col(refTextCol))).as("__h"))
      .groupBy("__h").agg(count(lit(1)).as("__rc"))
    val scored = docs
      .select(col(idCol).as("doc_id"), explode(windows(col(textCol))).as("__h"))
      .join(census, Seq("__h"), "left")
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_bigrams"),
        sum(when(col("__rc").isNotNull, 1).otherwise(0)).cast("long")
          .as("n_known"),
        sum(coalesce(col("__rc"), lit(0L))).as("__tot"))
    docs.select(col(idCol).as("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_known"), lit(0L)).as("n_known"),
        when(coalesce(col("n_bigrams"), lit(0L)) > 0,
          col("__tot").cast("double") / col("n_bigrams").cast("double"))
          .as("familiarity"))
  }

  def contamination(docs: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, benchTextCol: String): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val F = graft.functions.GraftFunctions
    // ONE corpus pass (r16, guide §1.2): the r15 form computed each
    // document's shingles TWICE over two scans (one exploded branch for
    // the shared-count join, one size() branch re-joined by doc_id).
    // Now the shingle array projects once, n_shingles rides the explode
    // (explode_outer keeps zero-shingle documents in the row set), the
    // broadcast join turns LEFT so unmatched rows count as zero in the
    // same per-doc aggregate — values and row set identical to the
    // two-scan form (spec + oracle pinned), at one scan, one shingle
    // evaluation and one join fewer.
    val benchSh = benchmark
      .select(explode(F.shingles(col(benchTextCol))).as("shingle"))
      .distinct()
    docs.select(col(idCol).as("doc_id"),
        F.shingles(col(textCol)).as("__sh"))
      .select(col("doc_id"), size(col("__sh")).as("n_shingles"),
        explode_outer(col("__sh")).as("shingle"))
      .join(broadcast(benchSh.withColumn("__hit", lit(1))),
        Seq("shingle"), "left")
      .groupBy("doc_id")
      .agg(max(col("n_shingles")).as("n_shingles"),
        sum(when(col("__hit").isNotNull, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("contamination_ratio",
        round(col("n_shared").cast("double") / col("n_shingles"), 6))
  }

  /** Canonical text normalization — the step that runs BEFORE any hashing
    * or dedup so visually-identical text fingerprints identically:
    * Unicode NFC (native `graft_nfc` expression — requires
    * `GraftFunctions.register`; DuckDB's nfc_normalize computes the same
    * canonical form), lowercasing, whitespace collapse, trim. Pure per-row
    * projection, no shuffle.
    */
  def normalize(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
      trim(regexp_replace(
        lower(graft.functions.GraftFunctions.nfc(col(textCol))),
        "\\s+", " ")).as("norm_text"))
      .withColumn("n_chars_norm", length(col("norm_text")))

  // PII patterns, written to the Java-regex/RE2 COMMON SUBSET (no
  // backreferences, no lookaround) so Spark's codegen'd regexp and the
  // DuckDB oracle match byte-identically — the same parity discipline as
  // the BPE pre-tokenizer. Phone is deliberately the unambiguous
  // separated-triplet shape: a greedier digit-span pattern would disagree
  // across engines on boundary cases and eat IPs.
  private val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  private val phoneRe = "\\+?\\d{3}[ .-]\\d{3}[ .-]\\d{4}"

  /** PII redaction pass (the scrub a curation pipeline runs before
    * training): emails, IPv4 addresses and separated-triplet phone numbers
    * are replaced with [EMAIL]/[IP]/[PHONE] tags, applied in that order;
    * per-document match counts (on the ORIGINAL text — the audit metric)
    * ride along. Pure per-row projection — no shuffle, regex inside
    * whole-stage codegen; patterns are RE2-safe so the oracle reproduces
    * every match.
    */
  def redactPii(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    docs.select(col(idCol),
      regexp_replace(regexp_replace(regexp_replace(t,
        emailRe, "[EMAIL]"), ipv4Re, "[IP]"), phoneRe, "[PHONE]")
        .as("redacted_text"),
      regexp_count(t, lit(emailRe)).cast("long").as("n_emails"),
      regexp_count(t, lit(ipv4Re)).cast("long").as("n_ips"),
      regexp_count(t, lit(phoneRe)).cast("long").as("n_phones"))
  }

  /** Within-document repetition metrics (the Gopher-style repetition
    * screens): distinct-token ratio, the most frequent token's share, and
    * the most frequent word-bigram's share. The top frequencies are one
    * codegen'd O(n) hash-count pass each (`graft_top_freq`). No shuffle.
    */
  def repetition(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val t = toks(col(textCol))
    // Tokens are counted raw; bigram multiplicity counts the native window
    // DIGESTS (graft_ngram_digests n=2) — digest-equality-as-content-
    // equality, the same stance as every digest screen in TextDedup. The
    // bigram denominator size(t)-1 is the window count; a 1-token doc
    // divides 0 by 0 (error under ANSI, engine default otherwise).
    val nTok = size(t)
    val f = graft.functions.GraftFunctions
    docs.select(col(idCol),
      nTok.as("n_tokens"),
      round(size(array_distinct(t)).cast("double") / nTok, 6)
        .as("distinct_token_ratio"),
      round(f.topFreq(t).cast("double") / nTok, 6).as("top_token_share"),
      round(f.topFreq(f.ngramDigests(col(textCol), 2)).cast("double")
        / (nTok - 1), 6).as("top_bigram_share"))
  }

  /** Content fingerprints: normalized md5, token min-hash, head shingle. */
  def fingerprints(docs: DataFrame, idCol: String, textCol: String,
      headTokens: Int = 5): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val t = toks(col(textCol))
    // a 1-token window's space-joined content IS the token, so the native
    // n-gram digest loop computes md5 of every token with no interpreted
    // lambda or per-token UTF8String round-trip
    val tokenHashes =
      graft.functions.GraftFunctions.ngramDigests(col(textCol), 1)
    docs.select(
      col(idCol),
      md5(lower(col(textCol))).as("content_fp"),
      array_min(tokenHashes).as("token_min_hash"),
      md5(concat_ws("|", slice(t, 1, headTokens))).as("head_fp"))
  }

  /** The Gopher quality-signal screen (Rae et al. 2021, "Scaling Language
    * Models: ... Gopher", table A1 — the published heuristic filter every
    * large pre-training corpus runs): word-count bounds, mean-word-length
    * band, symbol-to-word ratio (`#` and ellipsis), bullet-line and
    * ellipsis-line fractions, alphabetic-word fraction, and a
    * mandatory-stopword floor, folded into one `keep` verdict. Together
    * with [[repetition]] (the Gopher repetition rules) and [[qualityScore]]
    * this completes the standard pre-training quality filter.
    *
    * Engine-parity notes (same discipline as [[BpePattern]]/[[redactPii]]):
    * words split on the EXPLICIT class `[ \t\n]+` (Java `\s` and RE2 `\s`
    * disagree on U+000B); "alphabetic" is ASCII `[A-Za-z]` so Java and RE2
    * count identically on crawl text; every ratio divides by a count that
    * is >= 1 by construction (split never returns an empty array); and
    * every ratio is an exact integer/integer division emitted UNROUNDED —
    * bit-identical IEEE in both engines, immune to the round-at-tie
    * divergence Spark's shortest-decimal `round` is known to hit. The
    * `keep` conjunction compares the emitted ratio columns, so the verdict
    * is a pure function of the output. Pure per-row projection — no
    * shuffle, scan-bound, inside whole-stage codegen.
    */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** The Gopher signal expressions plus the keep conjunction, as raw
    * columns over a pre-projected `graft_gopher_stats` struct column
    * `statsCol` (all eight counters in one fused pass) — shared by
    * [[gopherScreen]] and the fused [[curationPipeline]] / [[modelGate]]
    * projections. The caller MUST project the struct in its own select so
    * the expression evaluates once; CollapseProject keeps the boundary
    * because the non-cheap struct is referenced by every signal. The keep
    * conjunction is built from the same raw expressions as the named
    * signals (identical values, so the td37 oracle is unaffected by where
    * keep is computed).
    */
  private def gopherExprs(statsCol: String,
      minWords: Int, maxWords: Int,
      minMeanWordLen: Double, maxMeanWordLen: Double,
      maxSymbolRatio: Double, maxBulletRatio: Double,
      maxEllipsisRatio: Double, minAlphaRatio: Double,
      minStopHits: Int): (Seq[Column], Column) = {
    val g = col(statsCol)
    val nWords = g.getField("n_words")
    val nLines = g.getField("n_lines")
    val stopHits = g.getField("stop_hits")
    val meanWordLen = g.getField("word_len_sum").cast("double") / nWords
    val symbolRatio = g.getField("symbol_hits").cast("double") / nWords
    val bulletRatio = g.getField("bullet_hits").cast("double") / nLines
    val ellipsisRatio = g.getField("ellipsis_hits").cast("double") / nLines
    val alphaRatio = g.getField("alpha_words").cast("double") / nWords
    val keep = nWords.between(minWords, maxWords) &&
      meanWordLen.between(minMeanWordLen, maxMeanWordLen) &&
      symbolRatio < maxSymbolRatio &&
      bulletRatio < maxBulletRatio &&
      ellipsisRatio < maxEllipsisRatio &&
      alphaRatio > minAlphaRatio &&
      stopHits >= minStopHits
    (Seq(nWords.as("n_words"),
      meanWordLen.as("mean_word_len"),
      symbolRatio.as("symbol_ratio"),
      bulletRatio.as("bullet_ratio"),
      ellipsisRatio.as("ellipsis_ratio"),
      alphaRatio.as("alpha_ratio"),
      stopHits.as("n_stop_hits")), keep)
  }

  def gopherScreen(docs: DataFrame, idCol: String, textCol: String,
      minWords: Int = 50, maxWords: Int = 100000,
      minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1, maxBulletRatio: Double = 0.9,
      maxEllipsisRatio: Double = 0.3, minAlphaRatio: Double = 0.8,
      stopwords: Seq[String] = GopherStopwords,
      minStopHits: Int = 2): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val (signals, keep) = gopherExprs("__g", minWords, maxWords,
      minMeanWordLen, maxMeanWordLen, maxSymbolRatio, maxBulletRatio,
      maxEllipsisRatio, minAlphaRatio, minStopHits)
    docs.withColumn("__g",
        graft.functions.GraftFunctions.gopherStats(col(textCol), stopwords))
      .select(col(idCol) +: signals :+ keep.as("keep"): _*)
  }

  /** Canonical normalization column (NFC + lower + whitespace collapse) —
    * the same form [[normalize]] emits; shared by [[curationPipeline]]
    * and [[modelGate]].
    */
  private def normCol(text: Column): Column = trim(regexp_replace(
    lower(graft.functions.GraftFunctions.nfc(text)), "\\s+", " "))

  /** Thresholds of the composed rule screen: [[curationPipeline]]'s
    * defaults, and the fixed rule arm of [[modelGate]] in both its shapes.
    */
  private val RuleMinWords = 10
  private val RuleMaxTopTokenShare = 0.2
  private val RuleMinDistinctRatio = 0.3

  /** The composed rule screen — the Gopher screen over normalized text ∧
    * the repetition screen — as (n_words, distinct_token_ratio,
    * top_token_share, keep) over pre-bound `__norm` / `__g` projection
    * columns, so [[curationPipeline]] and [[modelGate]] build the
    * IDENTICAL expression. Callers must project `__norm` (the normalized
    * text) and `__g` (`graft_gopher_stats` over it) as their own columns
    * first so the stats struct evaluates once (the q60 barrier
    * discipline).
    */
  private def ruleScreen(minWords: Int, maxTopTokenShare: Double,
      minDistinctRatio: Double): (Column, Column, Column, Column) = {
    val (signals, gopherKeep) = gopherExprs("__g", minWords, 100000,
      3.0, 10.0, 0.1, 0.9, 0.3, 0.8, 2)
    val t = toks(col("__norm"))
    val nTok = size(t)
    val distinctRatio =
      round(size(array_distinct(t)).cast("double") / nTok, 6)
    val topTokenShare =
      round(graft.functions.GraftFunctions.topFreq(t).cast("double") / nTok, 6)
    (signals.head, distinctRatio, topTokenShare,
      gopherKeep && topTokenShare <= maxTopTokenShare &&
        distinctRatio >= minDistinctRatio)
  }

  /** The composed text-curation front door — normalize → Gopher quality
    * screen → repetition screen → PII redaction as ONE operator, the
    * [[TextDedup.nearDedupPipeline]] / [[Curation.crawlFrontDoor]]
    * parts-to-pipeline pattern applied to per-document text curation.
    * All four stages are row-wise, so the composition is a SINGLE fused
    * projection — no joins, no shuffle, one corpus pass (plan-contract
    * pinned): normalization feeds every downstream signal, the keep
    * verdict is the conjunction of the Gopher screen (over normalized
    * text) and the repetition screen (rounded top-token share ≤
    * `maxTopTokenShare`, distinct-token ratio ≥ `minDistinctRatio`), and
    * the emitted `clean_text` is the PII-redacted normalized text with
    * the redaction count riding along. Run content dedup (dd45/dd50)
    * before or after — those are the shuffling stages and compose at the
    * frame level.
    */
  def curationPipeline(docs: DataFrame, idCol: String, textCol: String,
      minWords: Int = RuleMinWords,
      maxTopTokenShare: Double = RuleMaxTopTokenShare,
      minDistinctRatio: Double = RuleMinDistinctRatio): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    // the seven Gopher counters fuse into one pass over the normalized
    // text (graft_gopher_stats, its own projection so it evaluates once)
    val n = docs.select(col(idCol), normCol(col(textCol)).as("__norm"))
      .withColumn("__g", graft.functions.GraftFunctions
        .gopherStats(col("__norm"), GopherStopwords))
    val (nWords, distinctRatio, topTokenShare, keep) =
      ruleScreen(minWords, maxTopTokenShare, minDistinctRatio)
    val tn = col("__norm")
    val clean = regexp_replace(regexp_replace(regexp_replace(tn,
      emailRe, "[EMAIL]"), ipv4Re, "[IP]"), phoneRe, "[PHONE]")
    val nRedactions = (regexp_count(tn, lit(emailRe))
      + regexp_count(tn, lit(ipv4Re))
      + regexp_count(tn, lit(phoneRe))).cast("long")
    n.select(col(idCol),
      nWords,
      distinctRatio.as("distinct_token_ratio"),
      topTokenShare.as("top_token_share"),
      keep.as("keep"),
      clean.as("clean_text"),
      nRedactions.as("n_redactions"))
  }

  /** The composed model gate (rule screen ∧ LM quality ∧ classifier
    * agreement) of td54/td58/q60/q61 in ONE corpus pass (r16, guide
    * §1.2 "the distributed algorithm"): all three signals are pure
    * projections once their models inline (`graft_gopher_stats` /
    * `graft_lm_score` / `graft_nb_seen`), so the gate needs NO join at
    * all — the r15 form's three scoring scans + 4-way doc_id join
    * collapse into one scan projecting every signal side by side, with
    * the same kernels and the same model constants the component
    * operators collect. Row set: documents with ≥ 2 whitespace tokens —
    * exactly the old inner-join intersection (the LM side's own domain;
    * the NB side's null/empty-text drop is implied by it, and the rule
    * screen and label frames cover all documents).
    *
    * `ruleText` is the column the RULE screen reads (td54's injected
    * text), independent of `textCol` that the models score. `extra`
    * passthrough columns are evaluated against `docs` in the same scan
    * (q60 rides `source` and its token count here instead of re-joining
    * documents).
    *
    * Falls back to the r15 join composition — component operators,
    * verbatim — when either model exceeds its inline bound at 100 TB
    * vocabularies (`fused = Some(false)` pins the fallback; parity is
    * spec-pinned and the td54/td58/q60/q61 oracles ride both shapes).
    */
  def modelGate(train: DataFrame, docs: DataFrame, idCol: String,
      textCol: String, ruleText: Column, labelCol: String,
      extra: Seq[(String, Column)] = Nil,
      fused: Option[Boolean] = None): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val F = graft.functions.GraftFunctions
    val useFused = fused.getOrElse(true)
    val lmM = if (useFused) lmInlineModel(train, textCol) else None
    val nbM =
      if (useFused) Classification.nbInlineModel(train, textCol, labelCol)
      else None
    (lmM, nbM) match {
      case (Some((biM, wM, lpq0V)), Some((labelRows, lut))) =>
        val (_, _, _, ruleKeep) = ruleScreen(RuleMinWords,
          RuleMaxTopTokenShare, RuleMinDistinctRatio)
        docs
          .filter(size(toks(col(textCol))) >= 2)
          .select(col(idCol) +: col(labelCol) +: col(textCol) +:
            normCol(ruleText).as("__norm") +:
            extra.map { case (nm, c) => c.as(nm) }: _*)
          .withColumn("__g", F.gopherStats(col("__norm"), GopherStopwords))
          .withColumn("__s", F.lmScore(toks(col(textCol)), biM, wM, lpq0V))
          .withColumn("__sc", F.nbSeen(toks(col(textCol)), lut, labelRows.size))
          .select(col(idCol) +:
            ruleKeep.as("keep") +:
            col("__s.n_bigrams").as("n_bigrams") +:
            col("__s.sum_lpq").as("sum_lpq") +:
            Classification.nbArgmax(labelRows, col("__sc.n_d"),
              i => col("__sc.seen")(i)).getField("l").as("pred_label") +:
            col(labelCol) +: extra.map { case (nm, _) => col(nm) }: _*)
      case _ =>
        val cur = curationPipeline(
            docs.select(col(idCol), ruleText.as("__rt")), idCol, "__rt")
          .select(col(idCol), col("keep"))
        val lm = lmDocScore(train, docs, idCol, textCol)
          .select(col("doc_id").as(idCol), col("n_bigrams"), col("sum_lpq"))
        val nb = Classification.nbClassify(train, docs, idCol, textCol,
            labelCol)
          .select(col("doc_id").as(idCol), col("pred_label"))
        val lbl = docs.select(col(idCol) +: col(labelCol) +:
          extra.map { case (nm, c) => c.as(nm) }: _*)
        cur.join(lm, Seq(idCol)).join(nb, Seq(idCol)).join(lbl, Seq(idCol))
          .select(col(idCol) +: col("keep") +: col("n_bigrams") +:
            col("sum_lpq") +: col("pred_label") +: col(labelCol) +:
            extra.map { case (nm, _) => col(nm) }: _*)
    }
  }

  /** Corpus vocabulary census — the precursor to tokenizer training and
    * the TF/DF side of any IDF-weighted screen: per distinct token, the
    * corpus frequency and the document frequency, truncated to the `topK`
    * most frequent (ties broken by token, so the cut is deterministic).
    *
    * Scale shape: explode to (doc, token) pairs, ONE shuffle keyed on the
    * token — partial aggregation absorbs each task's repeats map-side, and
    * the per-document dedup for `df` rides the same exchange
    * (count(DISTINCT doc_id) expands to a two-phase plan over the token
    * key, never a second corpus pass). The top-K truncation is a
    * TakeOrderedAndProject (per-partition heap + merge on the driver of
    * K rows per partition), NEVER a global sort of the vocabulary — at
    * web scale the distinct-token universe is billions of rows and a full
    * sort would shuffle all of it to order the top thousand.
    */
  def vocab(docs: DataFrame, idCol: String, textCol: String,
      topK: Int): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    docs
      .select(col(idCol).as("__doc"),
        explode(toks(col(textCol))).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("token")
      .agg(count(lit(1)).as("freq"),
        countDistinct(col("__doc")).as("df"))
      .orderBy(col("freq").desc, col("token").asc)
      .limit(topK)
  }

  /** Vocabulary coverage / OOV-rate curve (r11) — the tokenizer-SIZING
    * dial read before committing to a vocab size: for each candidate
    * size k, the share of corpus token OCCURRENCES the k most frequent
    * words cover (rank order: count desc, token asc), and the residual
    * OOV rate. The sim59/td58 sweep idiom applied to vocabulary choice.
    *
    * Scale shape — NO vocabulary-sized sort, rank, or window anywhere:
    * the corpus collapses into a word census (one partial-aggregated
    * exchange), the census into a COUNT-OF-COUNTS frame (one row per
    * distinct frequency value — O(√occurrences) rows under any Zipf-ish
    * law, model-sized), and every coverage value is occupancy arithmetic
    * on that tiny frame's cumulative sums: a rank-k cut inside a
    * frequency tie class is unambiguous because each of the first
    * (k − tokens_before) words of the class contributes exactly `cnt`
    * occurrences WHICHEVER words they are. All counts are exact longs;
    * `oov_rate` is one IEEE division of identical longs on any engine.
    *
    * @return one row per k: (vocab_k, covered_occ, total_occ,
    *         n_distinct_words, oov_rate)
    */
  def vocabCoverage(docs: DataFrame, textCol: String,
      ks: Seq[Long]): DataFrame =
    vocabCoverageFromCensus(wordCensus(docs, textCol), ks)

  /** The (token, cnt) word census [[vocabCoverage]] ranks — exposed
    * because counting is MERGEABLE state (two censuses union + re-sum to
    * the census of the combined corpus, the st61/st66 property), which
    * is what lets a streaming maintenance loop keep a continuously
    * current coverage curve without re-scanning history (st70).
    */
  def wordCensus(docs: DataFrame, textCol: String): DataFrame = docs
    .select(explode(toks(col(textCol))).as("token"))
    .filter(length(col("token")) > 0)
    .groupBy("token").agg(count(lit(1)).as("cnt"))

  /** [[vocabCoverage]]'s occupancy arithmetic over a prebuilt census —
    * how the census was accumulated (one shot or merged micro-batch
    * partials) is invisible here, exactly as `nbClassifyFromModel` is to
    * its counts (st70's restart parity rides that).
    *
    * The count-of-counts frame is model-sized under any Zipf-ish corpus
    * (one row per DISTINCT frequency value — O(√occurrences)), but a
    * pathological census with near-all-distinct counts (pre-scaled or
    * synthetic frequencies) would make the global window single-task
    * sort and the broadcast below vocabulary-sized — so the frame is
    * fail-loud bounded by `maxBucketFrameRows` BEFORE either runs (the
    * `ntileDescBucketed` idiom, same default; r11 verdict #2).
    */
  def vocabCoverageFromCensus(census: DataFrame,
      ks: Seq[Long], maxBucketFrameRows: Long = 4000000L): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1), s"vocab sizes must be >= 1, got $ks")
    val s = census.sparkSession
    // materialized before the count so the guard probe and the window
    // read the same tiny frame — never the corpus-sized census twice
    val cc = census.groupBy("cnt").agg(count(lit(1)).as("ntok"))
      .withColumn("occ", col("cnt") * col("ntok"))
      .localCheckpoint(false)
    require(cc.count() <= maxBucketFrameRows,
      s"vocabCoverageFromCensus: count-of-counts frame exceeds " +
        s"$maxBucketFrameRows rows — it is globally windowed and " +
        "broadcast; such a census is not count-of-counts-compressible " +
        "(near-all-distinct frequencies); raise maxBucketFrameRows only " +
        "if the frame genuinely fits the driver")
    val wBefore = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val cum = cc
      .withColumn("tok_before", coalesce(sum(col("ntok")).over(wBefore), lit(0L)))
      .withColumn("occ_before", coalesce(sum(col("occ")).over(wBefore), lit(0L)))
      .localCheckpoint(false)
    val t = cum.agg(sum(col("ntok")).as("nw"), sum(col("occ")).as("to")).head
    val nWords = t.getLong(0)
    val totalOcc = t.getLong(1)
    s.range(1).select(explode(array(ks.map(lit): _*)).as("vocab_k"))
      .join(broadcast(cum),
        col("tok_before") < col("vocab_k") &&
          col("vocab_k") <= col("tok_before") + col("ntok"), "left")
      .select(col("vocab_k"),
        // k beyond the distinct-word count covers everything (no bucket
        // holds that rank — the left join's null arm)
        when(col("cnt").isNull, lit(totalOcc))
          .otherwise(col("occ_before") +
            (col("vocab_k") - col("tok_before")) * col("cnt"))
          .as("covered_occ"))
      .withColumn("total_occ", lit(totalOcc))
      .withColumn("n_distinct_words", lit(nWords))
      .withColumn("oov_rate",
        (col("total_occ") - col("covered_occ")).cast("double") /
          col("total_occ"))
  }

  // ---- BPE merge training ------------------------------------------------

  /** Symbol separator inside the SEP-joined word representation. A control
    * character that never appears in text symbols, so symbol boundaries
    * survive any number of merges (merged symbols are plain
    * concatenations).
    */
  private val BpeSep = "\u0001"

  /** Whitespace word census: (word, corpus count). THE scale move of BPE
    * training: every later stage runs over the DISTINCT-WORD frame
    * (vocabulary-sized) weighted by these counts, never over the corpus
    * again — the classic Sennrich 2016 formulation. One corpus shuffle.
    */
  def bpeWordCensus(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(toks(col(textCol))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** Initial symbol state for BPE training: each census word split to
    * characters, SEP-joined → (w, cnt). The frame [[bpePairCensus]] and
    * the [[bpeTrain]] loop operate on.
    */
  def bpeInitWords(census: DataFrame): DataFrame =
    census.select(array_join(split(col("word"), ""), BpeSep).as("w"),
      col("cnt"))

  /** Adjacent symbol-pair census over a (w = SEP-joined symbols, cnt)
    * frame → (l, r, cnt). The one shuffle per training round, keyed on
    * the pair — O(vocab × avg symbols/word) rows in, pair-vocabulary rows
    * out, partial aggregation collapsing map-side.
    */
  def bpePairCensus(words: DataFrame): DataFrame = {
    val s = split(col("w"), BpeSep)
    words
      .select(s.as("s"), col("cnt"))
      .filter(size(col("s")) >= 2)
      .select(explode(transform(slice(col("s"), lit(1), size(col("s")) - 1),
        (x, i) => struct(x.as("l"), element_at(col("s"), i + 2).as("r"))))
        .as("p"), col("cnt"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("cnt")).cast("long").as("cnt"))
  }

  /** In-engine BPE merge training (Sennrich et al. 2016): learn `merges`
    * merge rules over the whitespace-word census — the census (td36) and
    * token counting (td33) side of the tokenizer loop gets its training
    * step. Each round: pair census → highest-count pair (deterministic
    * tiebreak cnt desc / l asc / r asc) → apply the merge to every word.
    * The merge application is `graft_bpe_merge` — greedy leftmost
    * non-overlapping SYMBOL-exact pair merging ("aaa" + (a,a) →
    * [aa, a]), the exact Sennrich semantics. (The r7 form used a literal
    * substring `replace` of `l SEP r`, which fuses across symbol
    * boundaries once multi-char symbols exist — [x, aa] + (x, a) →
    * "xaa" — and whose consumed separators drop merges between adjacent
    * disjoint occurrences; both engines now run the same whole-symbol
    * greedy fold, the oracle as a `list_reduce` lambda, so a fixed-k run
    * stays fully hash-oracled — td42 unrolls the same three rounds in
    * DuckDB.) Returns (iteration, l, r, cnt), one row per learned rule;
    * stops early when no pair remains. Tokens must not contain the
    * U+0001 separator.
    *
    * Scale shape: after the one corpus shuffle in [[bpeWordCensus]],
    * every round touches only the vocabulary frame (checkpointed per
    * round — the iterative-frame discipline of dupClusters/kmeansFit);
    * the per-round driver collect is ONE row — the learned rule, i.e.
    * the model, not data. k merges are inherently sequential (each
    * census depends on the prior merge), so k rounds = k vocab-sized
    * jobs, corpus-independent.
    */
  def bpeTrain(docs: DataFrame, textCol: String, merges: Int): DataFrame = {
    require(merges >= 1, s"merges must be >= 1, got $merges")
    val spark = docs.sparkSession
    graft.functions.GraftFunctions.register(spark)
    var words = bpeInitWords(bpeWordCensus(docs, textCol))
      .localCheckpoint(false)
    val rules = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    var it = 1
    var exhausted = false
    while (it <= merges && !exhausted) {
      val top = bpePairCensus(words)
        .orderBy(col("cnt").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val l = top(0).getString(0)
        val r = top(0).getString(1)
        rules += ((it, l, r, top(0).getLong(2)))
        words = words.select(
          graft.functions.GraftFunctions.bpeMerge(col("w"), l, r).as("w"),
          col("cnt")).localCheckpoint(false)
        it += 1
      }
    }
    import spark.implicits._
    rules.toSeq.toDF("iteration", "l", "r", "cnt")
  }

  /** Distributed count-min token sketch — the mergeable approximate
    * counterpart of [[vocab]] for when the distinct-token universe is too
    * wide to census exactly (billions of tokens at web scale): per-task
    * partial sketches merge map-side into ONE fixed-size array (width
    * ceil(2/eps) × depth ln(1/(1-confidence)) counters), so the shuffle
    * carries kilobytes regardless of corpus size, and any token's count
    * is answerable afterwards without touching the corpus again. Rides
    * Spark's own `CountMinSketchAgg` (the machinery behind
    * df.stat.countMinSketch); deterministic for a fixed seed. The
    * returned sketch guarantees estimate ≥ true count always, and
    * estimate ≤ true + eps·N with probability `confidence` per query —
    * the td44 entry pins both bounds as oracle-checked booleans.
    */
  def cmsTokenSketch(docs: DataFrame, textCol: String, eps: Double,
      confidence: Double, seed: Int): org.apache.spark.util.sketch.CountMinSketch = {
    require(eps > 0 && eps < 1, s"eps must be in (0,1), got $eps")
    require(confidence > 0 && confidence < 1,
      s"confidence must be in (0,1), got $confidence")
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val bytes = docs.select(explode(toks(col(textCol))).as("token"))
      .filter(length(col("token")) > 0)
      .agg(graft.functions.GraftFunctions
        .cmsAgg(col("token"), eps, confidence, seed).as("__s"))
      .head().getAs[Array[Byte]]("__s")
    org.apache.spark.util.sketch.CountMinSketch.readFrom(bytes)
  }

  /** Overlapping-window document chunking — the context-window splitter a
    * RAG/embedding pipeline runs before vectorizing (long docs exceed the
    * encoder's window; overlap keeps boundary sentences retrievable in
    * both neighbors): token windows of `chunkTokens` at stride
    * `chunkTokens − overlap`, last chunk short, single chunk for short
    * docs. One pure projection + explode — no shuffle, no UDF; every
    * output column is deterministic list arithmetic, so the chunk layout
    * hash-oracles exactly. Emits (id, chunk_id, chunk_text,
    * n_chunk_tokens).
    */
  def chunkDocuments(docs: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int, overlap: Int): DataFrame = {
    require(chunkTokens >= 1, s"chunkTokens must be >= 1, got $chunkTokens")
    require(overlap >= 0 && overlap < chunkTokens,
      s"overlap must be in [0, chunkTokens), got $overlap")
    val stride = chunkTokens - overlap
    val t = toks(col(textCol))
    val n = size(t)
    val starts = sequence(lit(1), greatest(n - overlap, lit(1)), lit(stride))
    docs.select(col(idCol),
      explode(transform(starts, s => struct(
        ((s - 1) / stride).cast("int").as("chunk_id"),
        array_join(slice(t, s, lit(chunkTokens)), " ").as("chunk_text"),
        least(lit(chunkTokens), n - s + 1).as("n_chunk_tokens")))).as("__c"))
      .select(col(idCol), col("__c.chunk_id"), col("__c.chunk_text"),
        col("__c.n_chunk_tokens"))
  }

  /** TF-IDF pairwise cosine similarity — the weighted sparse-vector IR
    * similarity next to the set-based families (Jaccard dd31, MinHash,
    * SimHash): rare shared terms dominate, boilerplate terms vanish.
    * Input is a (doc_id, token) term-occurrence frame (the caller picks
    * the term grain — td45 uses word bigrams); weights are
    * (tf/n_tokens)·(N/df) quantized to 2^-10 fixed-point longs, so the
    * pair dot products and norms are EXACT integer sums (the
    * Graphs.pageRank determinism stance — partition order can never move
    * a score) with one final sqrt/divide.
    *
    * Scale shape: the inverted index joins only terms with df ≤ `maxDf`
    * (the dd31/dd41 hub-term cap — an unfiltered web-scale "the" would
    * be a df² pair bomb), so candidate pairs are Σ df² over RARE terms;
    * norms still use every term. The DAG is branch-minimal so nothing
    * needs a materialization barrier (Catalyst shares a subtree across
    * branches only when the exchanges canonicalize identically, which
    * branch-specific column pruning defeats — the r7 form paid that four
    * times over): the per-doc token total AND the per-doc squared norm
    * are two chained doc-partitioned windows riding ONE exchange+sort
    * (partition width is bounded by document length — never a hub-key
    * task; the df census stays a partial-aggregated groupBy precisely
    * because a hub TOKEN would overload a token-partitioned window), the
    * norm travels WITH each inverted-index row so the former two
    * doc-keyed norm joins vanish (recovered per pair via max — n2 is
    * functionally dependent on the doc id), and the candidate self-join
    * is hinted to shuffle so both sides read ONE ReusedExchange instead
    * of AQE broadcast-rebuilding the whole pipeline for the build side.
    * Only the df census duplicates the term-generation scan — the single
    * remaining branch.
    */
  def tfidfPairs(termRows: DataFrame, nDocs: Long, maxDf: Long,
      threshold: Double, quantScale: Long = 1024L): DataFrame = {
    require(nDocs >= 1, s"nDocs must be >= 1, got $nDocs")
    require(maxDf >= 1, s"maxDf must be >= 1, got $maxDf")
    val wDoc = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    val terms = termRows.groupBy("doc_id", "token")
      .agg(count(lit(1)).as("tf"))
    val tfRows = terms.withColumn("n_tokens", sum(col("tf")).over(wDoc))
    val census = terms.groupBy("token").agg(count(lit(1)).as("df"))
    tfidfPairsFromCounts(tfRows, census, nDocs, maxDf, threshold, quantScale)
  }

  /** [[tfidfPairs]]'s core over PRE-COUNTED inputs: `tfRows` = (doc_id,
    * token, tf, n_tokens) and `census` = (token, df). Exposed because tf
    * and n_tokens are per-DOCUMENT quantities — when the term grain is
    * derived per row (td45's word bigrams via `graft_tf`/`graft_bigrams`)
    * they can be computed in a projection, making the whole corpus frame
    * shuffle-free until this core's inverted-index join; the generic
    * front-end pays the (doc_id, token) pre-aggregation exchange instead.
    * Plan shape here: census join hinted shuffle-hash with the census as
    * build side (an exploded tf frame's size ESTIMATE is its parquet
    * scan bytes, so AQE would pick the corpus-sized side as the
    * broadcast build — measured: a 2.5 s single-threaded broadcast
    * serialization; the shuffle form is also the only shape that
    * survives an unbounded vocabulary), ONE doc-partitioned window
    * for the squared norm (bounded partitions — document length caps
    * them), the norm travels WITH each inverted-index row (pair-level
    * recovery via max — n2 is functionally dependent on the doc id) so
    * no norm joins, and the candidate self-join is hinted to shuffle so
    * both sides read ONE ReusedExchange instead of AQE
    * broadcast-rebuilding the pipeline for the build side.
    */
  def tfidfPairsFromCounts(tfRows: DataFrame, census: DataFrame,
      nDocs: Long, maxDf: Long, threshold: Double,
      quantScale: Long = 1024L): DataFrame = {
    require(nDocs >= 1, s"nDocs must be >= 1, got $nDocs")
    require(maxDf >= 1, s"maxDf must be >= 1, got $maxDf")
    val wDoc = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    val wted = tfRows.join(census.hint("shuffle_hash"), "token")
      .withColumn("wq", floor(
        (col("tf").cast("double") / col("n_tokens"))
          * (lit(nDocs.toDouble) / col("df")) * quantScale).cast("long"))
      .withColumn("n2", sum(col("wq") * col("wq")).over(wDoc))
    val inv = wted.filter(col("df") <= maxDf)
      .select("token", "doc_id", "wq", "n2")
    val invB = inv.select(col("token"), col("doc_id").as("doc_b"),
      col("wq").as("wq_b"), col("n2").as("n2_b"))
    inv.hint("shuffle_hash").join(invB.hint("shuffle_hash"), Seq("token"))
      .filter(col("doc_id") < col("doc_b"))
      .groupBy("doc_id", "doc_b")
      .agg(sum(col("wq") * col("wq_b")).as("dotq"),
        max(col("n2")).as("n2_a"), max(col("n2_b")).as("n2_b"))
      .withColumn("cos",
        round(col("dotq") / (sqrt(col("n2_a")) * sqrt(col("n2_b"))), 6))
      .filter(col("cos") >= threshold)
      .select(col("doc_id").as("doc_a"), col("doc_b"), col("cos"))
  }

  /** Deterministic hash-projection embeddings for a text column — the
    * MODEL-FREE encoder stand-in (`graft_hash_embed`: 16 dims, component
    * i = Σ over tokens of (md5 byte i − 128), integer-exact in any
    * engine) plus the L2 norm the vector operators consume. This closes
    * the text → vector loop IN-ENGINE: chunk ([[chunkDocuments]]) →
    * embed (here) → index/search (`Ann.ivfAssign`/`ivfProbe`/`knnGraph`)
    * runs and ORACLES end-to-end with zero external models; a production
    * pipeline swaps this one projection for an encoder UDF and every
    * downstream stage is unchanged. One codegen projection — no shuffle,
    * no UDF. Returns (idCol, emb array<double>, norm).
    */
  def hashEmbed(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val e = graft.functions.GraftFunctions.hashEmbed(col(textCol))
    docs.select(col(idCol), e.as("emb"),
      sqrt(graft.functions.GraftFunctions.dot(e, e)).as("norm"))
  }

  /** Tokenize with learned merges — the apply side of [[bpeTrain]]: per
    * document, every whitespace word is char-split and the merge rules
    * replay IN TRAINING ORDER (the same `graft_bpe_merge` greedy
    * whole-symbol fold the trainer used, so encode(train corpus)
    * reproduces training's final symbol state); output is the whitespace
    * word count next to the BPE symbol count — the real token-budget
    * currency once a tokenizer is trained (td33's regex count is the
    * upper-bound proxy). Rules arrive as driver values (they ARE the
    * model, k entries) and inline into one fused projection: no join, no
    * shuffle, no UDF — a k-deep merge chain inside whole-stage codegen.
    */
  def bpeEncode(docs: DataFrame, idCol: String, textCol: String,
      rules: Seq[(String, String)]): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    def wordSymbols(w: Column): Column = {
      val joined = array_join(split(w, ""), BpeSep)
      val merged = rules.foldLeft(joined) { case (acc, (l, r)) =>
        graft.functions.GraftFunctions.bpeMerge(acc, l, r)
      }
      size(split(merged, BpeSep))
    }
    val words = filter(toks(col(textCol)), w => length(w) > 0)
    docs.select(col(idCol),
      size(words).as("n_words"),
      aggregate(words, lit(0), (acc, w) => acc + wordSymbols(w))
        .cast("long").as("n_bpe_symbols"))
  }

  /** Bigram language-model quality scoring with stupid backoff (Brants
    * 2007, α = 0.4) — the KenLM-perplexity stand-in a CCNet-style
    * curation pipeline ranks documents with, trained and applied fully
    * in-engine. `train` supplies the counts; every `test` document gets
    * its mean per-position log₂-probability under
    *   P(w|prev) = c(prev,w)/c(prev)          if the bigram was seen,
    *             = 0.4·c(w)/T                 backoff to the unigram,
    *             = 0.4·(1/2)/T = 1/(5T)       unseen word (half-count),
    * every case an EXACT integer rational. The per-position value is
    * floor-quantized (`floor(log₂(num/den)·quantScale)` — num/den is one
    * correctly-rounded IEEE division, so both engines hash-match) and the
    * per-document total is an integer sum: no float summation-order
    * hazard at any partitioning.
    *
    * Scale: the train side is two token-keyed partial-aggregated censuses
    * (shuffles carry the vocabulary/bigram vocabulary, not the token
    * stream — the `graft_tf` projection pre-aggregates per document),
    * and the per-case log quantization runs on the MODEL, not the
    * corpus: the bigram census is enriched with its prev's unigram
    * count (a vocabulary-sized join) so it carries a finished `lpq`,
    * the unigram census carries its finished backoff `lpq`, and the
    * unseen-word value constant-folds. Scoring is tiered on model size
    * (a language's bigram vocabulary saturates, so the fast tiers are
    * the common case): under `maxInlineModelEntries` the model inlines
    * as hash tables into `graft_lm_score` and scoring is a PURE
    * PROJECTION over the test scan — two hash probes and a long add per
    * position, no joins, no aggregate, no per-position float work
    * (the bpeEncode inline-the-model idiom); above it, vocabulary-keyed
    * lookup joins (broadcast under `maxBroadcastModelRows`, key-bounded
    * shuffle-hash beyond) plus one per-document aggregate. All tiers are
    * row-identical (spec-pinned); a hot vocabulary key is a count row,
    * not a row set.
    *
    * Inline-tier closure size (the complement Skew.scala documents for
    * its salting bound): the collected model maps are inlined as
    * LITERALS in the `graft_lm_score` expression, so they ride every
    * task closure — at the default `maxInlineModelEntries` = 131,072
    * that is ≤ ~2-8 MB serialized (strings + longs; bigram keys
    * dominate), broadcast-class weight shipped once per task binary
    * rather than once per executor. Raising the bound raises EVERY
    * task's deserialization cost linearly; past a few hundred MB the
    * closure path loses to the broadcast tier even though the per-row
    * probe is cheaper, which is why the bound sits where a saturated
    * natural-language bigram vocabulary ends rather than at broadcast
    * capacity.
    *
    * @return (doc_id, n_bigrams, sum_lpq, avg_lp) — avg_lp is
    *         sum_lpq/quantScale/n_bigrams rounded to 4 decimals; docs
    *         with fewer than 2 tokens have no bigrams and are absent
    */
  def lmDocScore(train: DataFrame, test: DataFrame, idCol: String,
      textCol: String, quantScale: Long = 1024L,
      maxInlineModelEntries: Long = 131072L,
      maxBroadcastModelRows: Long = 4000000L): DataFrame = {
    graft.functions.GraftFunctions.register(train.sparkSession)
    val F = graft.functions.GraftFunctions
    val m = new LmModel(train, textCol, quantScale)
    val (biL, wL, lpq0) = (m.biL, m.wL, m.lpq0)
    val modelEntries = m.entries
    val scored =
      if (modelEntries <= maxInlineModelEntries) {
        // FAST PATH — the model inlines (the bpeEncode-rules idiom) and
        // scoring becomes `graft_lm_score`: a PURE PROJECTION over the
        // test scan — two hash probes and a long add per position, no
        // joins, no aggregate, no per-position float work
        val (biM, wM, lpq0V) = lmCollectInline(train.sparkSession, m,
          quantScale)
        // the no-bigram drop (n_bigrams > 0 ⇔ >= 2 tokens, LmScoreUtil's
        // own definition) is expressed on the CHEAP token count: a filter
        // on s.n_bigrams pushes below the projection and inlines the whole
        // model scoring into its condition — the score would evaluate
        // twice per row (measured in the td54 stage profile)
        test.filter(size(toks(col(textCol))) >= 2)
          .select(col(idCol).as("doc_id"),
            F.lmScore(toks(col(textCol)), biM, wM, lpq0V).as("s"))
          .select(col("doc_id"), col("s.n_bigrams").as("n_bigrams"),
            col("s.sum_lpq").as("sum_lpq"))
      } else {
        // GENERAL PATH — vocabulary-keyed lookups (broadcast under the
        // bound, key-bounded shuffle-hash above it) + one per-doc
        // aggregate; row-identical to the fast path (spec-pinned)
        val fits = modelEntries <= maxBroadcastModelRows
        def lk(m: DataFrame): DataFrame =
          if (fits) broadcast(m) else m.hint("shuffle_hash")
        test.select(col(idCol).as("doc_id"),
            explode(F.termFreq(F.bigrams(col(textCol)))).as("t"))
          .select(col("doc_id"), col("t.token").as("bg"),
            col("t.tf").as("tf"), col("t.n_terms").as("nbg"))
          .withColumn("w", substring_index(col("bg"), " ", -1))
          .join(lk(biL), Seq("bg"), "left")
          .join(lk(wL), Seq("w"), "left")
          .withColumn("lpq", coalesce(col("lpq_bg"), col("lpq_w"), lpq0))
          .groupBy("doc_id")
          .agg(max(col("nbg")).as("n_bigrams"),
            sum(col("tf") * col("lpq")).as("sum_lpq"))
      }
    scored.withColumn("avg_lp",
      round(col("sum_lpq") / lit(quantScale.toDouble) / col("n_bigrams"), 4))
  }

  /** [[lmDocScore]]'s train-side model, shared with [[lmInlineModel]]:
    * BOTH train censuses ride ONE corpus scan and ONE vocabulary-sized
    * shuffle — unigrams and bigrams census together (a unigram token can
    * never contain a space, a bigram always does — collision-free
    * split), checkpointed once; `entries` (the one cheap count on the
    * checkpointed census) bounds the strategy cuts. The general-path
    * frames (biL/wL/lpq0 — FINISHED quantized logs: seen-bigram lpq
    * needs prev's unigram count, a census-census join; the per-word
    * backoff lpq; the unseen-word fallback constant-folds through the
    * same Log2 expression) are LAZY: the inline path never pays their
    * totTok probe job.
    */
  private final class LmModel(train: DataFrame, textCol: String,
      quantScale: Long) {
    private def log2q(c: Column): Column =
      floor(log2(c) * quantScale).cast("long")
    val census: DataFrame = train
      .select(explode(graft.functions.GraftFunctions.termFreq(
        concat(toks(col(textCol)),
          graft.functions.GraftFunctions.bigrams(col(textCol))))).as("t"))
      .groupBy(col("t.token").as("token"))
      .agg(sum(col("t.tf")).as("cnt"))
      .localCheckpoint(false)
    val entries: Long = census.count()
    lazy val totTok: Long = {
      val r = census.filter(!col("token").contains(" "))
        .agg(sum(col("cnt"))).head
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    private lazy val uni = census.filter(!col("token").contains(" "))
      .select(col("token"), col("cnt").as("ucnt"))
    lazy val biL: DataFrame = census.filter(col("token").contains(" "))
      .select(col("token").as("bg"), col("cnt").as("bcnt"))
      .withColumn("prev", substring_index(col("bg"), " ", 1))
      .join(uni.select(col("token").as("prev"), col("ucnt").as("pcnt"))
        .hint("shuffle_hash"), Seq("prev"))
      .select(col("bg"),
        log2q(col("bcnt").cast("double") / col("pcnt").cast("double"))
          .as("lpq_bg"))
    lazy val wL: DataFrame = uni.select(col("token").as("w"),
      log2q((col("ucnt") * 2).cast("double")
        / lit(5L * totTok).cast("double")).as("lpq_w"))
    lazy val lpq0: Column =
      log2q(lit(1L).cast("double") / lit(5L * totTok).cast("double"))
  }

  /** Quantized log₂ of each value through ONE LocalRelation projection:
    * Catalyst folds the deterministic Project driver-side
    * (ConvertToLocalRelation), so the bits are the SAME Log2/Multiply/
    * Floor/Cast evaluation the frame-side model expressions produce — at
    * zero cluster jobs. Inputs must be positive (model counts/ratios are
    * by construction); fail-loud otherwise.
    */
  private[operators] def log2qLocal(spark: org.apache.spark.sql.SparkSession,
      values: Seq[Double], quantScale: Long): Array[Long] = {
    if (values.isEmpty) return Array.empty
    import spark.implicits._
    values.toDF("v")
      .select(floor(log2(col("v")) * quantScale).cast("long").as("q"))
      .collect().map { r =>
        require(!r.isNullAt(0), "log2qLocal: non-positive model value")
        r.getLong(0)
      }
  }

  /** Collect the inline form of an [[LmModel]] — the quantized-log maps
    * `graft_lm_score` takes as plan constants — from ONE census collect
    * (r16; the r15 form paid ~5 driver round-trips per model: the totTok
    * probe, the biL census-census join collect, the wL collect and the
    * lpq0 literal job). The census splits driver-side
    * ([[lmCensusRatios]]) and the log₂ quantization routes through
    * [[log2qLocal]].
    */
  private def lmCollectInline(spark: org.apache.spark.sql.SparkSession,
      m: LmModel, quantScale: Long)
    : (Map[String, Long], Map[String, Long], Long) = {
    val (bi, w, unseen) = lmCensusRatios(
      m.census.collect().toSeq.map(r => r.getString(0) -> r.getLong(1)))
    val qs = log2qLocal(spark,
      (bi.map(_._2) ++ w.map(_._2)).toIndexedSeq :+ unseen, quantScale)
    val biM = bi.iterator.zipWithIndex
      .map { case ((g, _), i) => g -> qs(i) }.toMap
    val wM = w.iterator.zipWithIndex
      .map { case ((t, _), i) => t -> qs(bi.length + i) }.toMap
    (biM, wM, qs.last)
  }

  /** The census split of [[lmCollectInline]], over (gram, count) rows in
    * census order: each bigram's ratio to its `prev` unigram's count, each
    * unigram's backoff ratio `2·count / 5·totTok`, and the unseen ratio
    * `1 / 5·totTok`. A unigram never contains a space. The double ratios
    * match the frame expressions bit-for-bit (long→double casts of counts,
    * one IEEE division). A bigram whose `prev` unigram is missing breaks
    * the census invariant and fails loudly, naming the bigram.
    */
  private[operators] def lmCensusRatios(census: Seq[(String, Long)])
    : (Seq[(String, Double)], Seq[(String, Double)], Double) = {
    val (bigrams, unigrams) = census.partition(_._1.indexOf(' ') >= 0)
    val den = (5L * unigrams.map(_._2).sum).toDouble
    val uni = unigrams.toMap
    val bi = bigrams.map { case (bg, n) =>
      val prev = bg.substring(0, bg.indexOf(' '))
      require(uni.contains(prev),
        s"LM census has bigram '$bg' without its prev unigram '$prev'")
      bg -> n.toDouble / uni(prev).toDouble
    }
    (bi, unigrams.map { case (t, n) => t -> (n * 2).toDouble / den }, 1L.toDouble / den)
  }

  /** The inline bigram-LM model of [[lmDocScore]]'s fast path — (bigram
    * lpq map, word-backoff lpq map, unseen lpq) — or None when the
    * census exceeds the inline bound (the caller then composes the
    * general path). Consumed by [[lmDocScore]] and [[modelGate]]'s
    * single-pass scoring, so both inline the SAME constants.
    */
  def lmInlineModel(train: DataFrame, textCol: String,
      quantScale: Long = 1024L, maxInlineModelEntries: Long = 131072L)
    : Option[(Map[String, Long], Map[String, Long], Long)] = {
    graft.functions.GraftFunctions.register(train.sparkSession)
    val m = new LmModel(train, textCol, quantScale)
    if (m.entries > maxInlineModelEntries) None
    else Some(lmCollectInline(train.sparkSession, m, quantScale))
  }
}
