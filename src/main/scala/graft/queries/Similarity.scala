package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over the `embeddings` table.
  *
  * Two paths:
  *  - brute-force cosine top-k for a small query set: broadcast the query
  *    vectors, one scan over candidates, per-partition top-k heap
  *    (row_number over a bounded group) — at 100 TB this is
  *    scan-bound and embarrassingly parallel;
  *  - random-hyperplane LSH bucketing: 8 md5-derived ±1 hyperplanes map each
  *    vector to a 8-bit bucket; search compares only within-bucket, so the
  *    pair space shrinks ~256× and the bucket groupBy is the only shuffle.
  *
  * All arithmetic is folded in double with the same association order as the
  * DuckDB oracle, and hyperplane signs are md5-derived, so both engines
  * compute identical buckets/scores.
  */
object Similarity extends QuerySet {

  // sim36-sim40 are the oracle-checked instantiations of the reusable ANN
  // operators in graft.operators.Ann (see that object's scaladoc for scale
  // contracts); parameters here pin the fixture schema: 64-dim float
  // embeddings cast to double, 8 hyperplanes / 8 fixed centroids.
  import graft.operators.Ann

  private def withDot(s: SparkSession): SparkSession = {
    graft.functions.GraftFunctions.register(s); s
  }

  private def embD(s: SparkSession, dir: String): DataFrame =
    Q.t(s, dir, "embeddings").select(col("vec_id"), col("label"), Q.embDouble)

  /** Brute-force cosine top-k: queries = vec_id < 10, k = 5. */
  def sim36(s0: SparkSession, dir: String): DataFrame =
    Ann.cosineTopK(embD(withDot(s0), dir), "vec_id", "emb",
      queryPred = col("vec_id") < 10, k = 5)

  /** Hyperplane-LSH bucketing: vec -> 8-bit bucket + bucket population. */
  def sim37(s0: SparkSession, dir: String): DataFrame =
    Ann.lshBuckets(embD(withDot(s0), dir), "vec_id", "emb",
      planes = 8, dim = 64, extraCols = Seq("label"))

  /** LSH-accelerated near-neighbor pairs: within-bucket cosine >= 0.25. */
  def sim38(s0: SparkSession, dir: String): DataFrame =
    Ann.lshNearPairs(embD(withDot(s0), dir), "vec_id", "emb",
      planes = 8, dim = 64, threshold = 0.25)

  private def centroids(s: SparkSession, dir: String): DataFrame =
    Q.fixedCentroids(embD(s, dir))

  /** IVF coarse assignment to the nearest of 8 fixed centroids. */
  def sim39(s0: SparkSession, dir: String): DataFrame = {
    val s = withDot(s0)
    Ann.ivfAssign(embD(s, dir), "vec_id", "emb", centroids(s, dir))
      .select("vec_id", "centroid_id", "cos")
  }

  /** IVF probe (nprobe=1): queries vec_id<5 search only their own cell. */
  def sim40(s0: SparkSession, dir: String): DataFrame = {
    val s = withDot(s0)
    Ann.ivfProbe(
      Ann.ivfAssign(embD(s, dir), "vec_id", "emb", centroids(s, dir)),
      queryPred = col("vec_id") < 5, k = 3)
  }

  /** IVF probe with nprobe=2: each query searches its two nearest cells —
    * the recall knob a production IVF index actually runs with (nprobe=1
    * misses neighbors just across a cell boundary).
    */
  def sim41(s0: SparkSession, dir: String): DataFrame = {
    val s = withDot(s0)
    Ann.ivfProbe(
      Ann.ivfAssign(embD(s, dir), "vec_id", "emb", centroids(s, dir)),
      centroids(s, dir),
      queryPred = col("vec_id") < 5, k = 3, nprobe = 2)
  }

  /** sim38 with the bucket cap ENGAGED (buckets over 6 vectors dropped
    * before the within-bucket self-join — the degenerate-bucket guard,
    * here oracle-verified: the oracle computes the same skip semantics).
    */
  def sim42(s0: SparkSession, dir: String): DataFrame =
    Ann.lshNearPairs(embD(withDot(s0), dir), "vec_id", "emb",
      planes = 8, dim = 64, threshold = 0.25, maxBucketSize = 6L)

  /** Per-vector int8 scalar quantization — the 4× index-memory cut an ANN
    * deployment applies before the corpus fits storage budgets. The raw
    * `array<int>` qvec is ","-joined for the gate because the driver's
    * pandas canonicalizer cannot sort raw array columns (same convention
    * as q09/q17/x12_65 — see Relational.scala q09 scaladoc); AnnSpec pins
    * the unserialized ±127 mapping and reconstruction bound.
    */
  def sim43(s0: SparkSession, dir: String): DataFrame =
    Ann.quantizeInt8(embD(s0, dir), "vec_id", "emb")
      .select(col("vec_id"),
        concat_ws(",", transform(col("qvec"), _.cast("string"))).as("qvec"),
        col("scale"))

  /** Product-quantization encode: 64 dims → 4 subspaces × 8 deterministic
    * codebook centroids (see Ann.pqCodebook — the oracle inlines the same
    * dyadic literals, so distances and argmins match bit-for-bit).
    */
  def sim44(s0: SparkSession, dir: String): DataFrame =
    Ann.pqEncode(embD(s0, dir), "vec_id", "emb",
      subspaces = 4, centroidsPerSub = 8, dim = 64)

  /** PQ asymmetric-distance top-5 for 3 query vectors over the 4×8
    * codebook — corpus touched through codes only; adc emitted unrounded
    * (bit-identical dyadic-literal arithmetic on both engines).
    */
  def sim45(s0: SparkSession, dir: String): DataFrame =
    Ann.pqTopK(embD(s0, dir), "vec_id", "emb", queryPred = col("vec_id") < 3,
      k = 5, subspaces = 4, centroidsPerSub = 8, dim = 64)

  /** k-means fit (k=8, 2 Lloyd's rounds, ~half the fixture via an
    * md5-prefix sample) — the ANN family's self-containment step: fitted
    * centroids feed ivfAssign/semanticDedup instead of caller-supplied
    * ones. Deterministic in both engines (hash seeding, exact quantized
    * mean sums — see Ann.kmeansFit), so fully hash-oracled; the
    * `array<double>` centroid is emitted as 64 scalar columns because the
    * driver canonicalizer cannot sort raw arrays (q09 convention), and
    * the components are bit-identical doubles, not strings.
    */
  def sim46(s0: SparkSession, dir: String): DataFrame = {
    val s = withDot(s0)
    val fit = Ann.kmeansFit(embD(s, dir), "vec_id", "emb", k = 8, iters = 2,
      dim = 64,
      samplePred = substring(md5(col("vec_id").cast("string")), 1, 1) < "8")
    fit.select(col("centroid_id") +: col("n") +:
      (0 until 64).map(i => element_at(col("c_emb"), i + 1).as(s"c$i")): _*)
  }

  /** IVF-PQ composed search (Jégou 2011 IVFADC): nprobe=2 cells over the
    * 8 fixed centroids, PQ 4×8 ADC within candidates, top-5 for 3 queries
    * — the parts-to-pipeline step for ANN (dd45's pattern). Candidates
    * are touched through codes only; adc unrounded (dyadic-literal
    * arithmetic is bit-identical across engines).
    */
  def sim47(s0: SparkSession, dir: String): DataFrame = {
    val s = withDot(s0)
    Ann.ivfPqTopK(embD(s, dir), "vec_id", "emb", centroids(s, dir),
      queryPred = col("vec_id") < 3, k = 5, nprobe = 2,
      subspaces = 4, centroidsPerSub = 8, dim = 64)
  }

  /** PQ codebook fit (sim48): Lloyd's per 16-dim subspace over the whole
    * fixture, k=8 / 2 rounds — the codebook-training companion of sim46
    * (missing-item #3 closure: IVF centroids AND PQ codebooks now both
    * trainable in-engine). Same determinism machinery, fully hash-oracled.
    */
  def sim48(s0: SparkSession, dir: String): DataFrame = {
    val s = withDot(s0)
    val fit = Ann.pqFit(embD(s, dir), "vec_id", "emb", subspaces = 4,
      centroidsPerSub = 8, iters = 2, dim = 64)
    fit.select(col("subspace") +: col("centroid_id") +: col("n") +:
      (0 until 16).map(i => element_at(col("c_emb"), i + 1).as(s"c$i")): _*)
  }

  /** Quantized exact-scan top-k (sim49): brute-force cosine over the
    * int8-quantized vectors — closes the loop on sim43 (quantize) by
    * actually SEARCHING the compressed representation; per-vector scales
    * cancel in cosine, and quantized components are exact small
    * integers, so every score is bit-identical across engines.
    */
  def sim49(s0: SparkSession, dir: String): DataFrame =
    Ann.quantizedTopK(embD(withDot(s0), dir), "vec_id", "emb",
      queryPred = col("vec_id") < 5, k = 5)

  /** ANN recall@k evaluation (sim50): recall of the nprobe=1 IVF probe
    * (sim40's exact configuration) against the brute-force cosine top-3
    * ground truth — the measurement that justifies (or rejects) an index's
    * recall knobs before a production rollout. Fully oracled: DuckDB
    * recomputes both result sets and the same hits/k division.
    */
  def sim50(s0: SparkSession, dir: String): DataFrame = {
    val s = withDot(s0)
    val e = embD(s, dir)
    val approx = Ann.ivfProbe(
      Ann.ivfAssign(e, "vec_id", "emb", centroids(s, dir)),
      queryPred = col("vec_id") < 5, k = 3)
    val exact = Ann.cosineTopK(e, "vec_id", "emb",
      queryPred = col("vec_id") < 5, k = 3)
    Ann.recallAtK(approx, exact, "query_id", "neighbor_id")
  }

  /** Residual IVF-PQ search (sim51): sim47's configuration but with PQ
    * over residuals (`x − c(x)`, per-probed-cell query LUTs) — the
    * faithful Jégou 2011 IVFADC, and the form whose quantization error a
    * production index actually ships. Fully oracled: DuckDB recomputes
    * the residuals, codes and ADC sums with identical arithmetic.
    */
  def sim51(s0: SparkSession, dir: String): DataFrame = {
    val s = withDot(s0)
    Ann.ivfPqResidualTopK(embD(s, dir), "vec_id", "emb", centroids(s, dir),
      queryPred = col("vec_id") < 3, k = 5, nprobe = 2,
      subspaces = 4, centroidsPerSub = 8, dim = 64)
  }

  /** Bulk kNN graph (sim52): the whole embeddings table is the query set —
    * top-3 same-cell neighbors for EVERY vector via the cell self-join
    * (no broadcast anywhere; the shape a corpus-wide kNN graph build
    * needs at 100 TB). Fully oracled: DuckDB runs the same
    * assign-join-rank chain over all vectors.
    */
  def sim52(s0: SparkSession, dir: String): DataFrame = {
    val s = withDot(s0)
    Ann.knnGraph(embD(s, dir), "vec_id", "emb", centroids(s, dir), k = 3)
  }

  /** Two-stage retrieval (sim53): the int8 quantized scan proposes 20
    * candidates per query (sim49's machinery), the exact full-precision
    * rerank cuts them to 5 — the compressed-retrieve / exact-rerank shape
    * every production vector search runs. Fully oracled end-to-end.
    */
  def sim53(s0: SparkSession, dir: String): DataFrame = {
    val s = withDot(s0)
    val e = embD(s, dir)
    val coarse = Ann.quantizedTopK(e, "vec_id", "emb",
      queryPred = col("vec_id") < 5, k = 20)
    Ann.rerankTopK(e, "vec_id", "emb",
      coarse.select(col("query_id"), col("neighbor_id")), k = 5)
  }

  /** Incremental kNN-graph maintenance (sim54): the even half's graph is
    * the pre-existing state, the odd half arrives as a batch, and only
    * the batch-touched cells re-run the self-join — cost proportional to
    * the batch's cell footprint. Because assignment is per-vector and
    * neighbor lists are within-cell, the maintained graph is
    * ROW-IDENTICAL to a full rebuild, so the oracle is sim52's
    * full-graph SQL verbatim — the hash-match IS the proof that
    * incremental maintenance loses nothing.
    */
  def sim54(s0: SparkSession, dir: String): DataFrame = {
    val s = withDot(s0)
    val e = embD(s, dir)
    val c = centroids(s, dir)
    val old = Ann.knnGraph(e.filter(col("vec_id") % 2 === 0),
      "vec_id", "emb", c, k = 3)
    Ann.knnGraphIncremental(old, e, "vec_id", "emb", c, k = 3,
      batchPred = col("vec_id") % 2 === 1)
  }

  /** nprobe recall sweep (sim55): the recall@k tuning loop run for
    * nprobe ∈ {1, 2, 3} over the sim50 configuration, with the
    * MONOTONICITY contract — recall can never drop as nprobe grows,
    * provable under consistent (cos desc, id asc) tiebreaks — emitted as
    * a boolean the oracle pins to TRUE (the q28 sketch-verification
    * idiom: DuckDB recomputes the recalls exactly; a tiebreak drift
    * between probe and ground truth turns the gate red).
    */
  def sim55(s0: SparkSession, dir: String): DataFrame = {
    val s = withDot(s0)
    Ann.nprobeSweep(embD(s, dir), "vec_id", "emb", centroids(s, dir),
      queryPred = col("vec_id") < 5, k = 3, maxNprobe = 3)
  }

  /** Cluster-balanced diversity sampling (sim56): the embedding-space
    * counterpart of the per-domain cap (td35) — a training-data subsample
    * that preserves semantic diversity by capping how many vectors any one
    * region of embedding space contributes. ivfAssign's cell id is the
    * diversity key (the same broadcast-centroid projection argmin every
    * sim3x/dd47 entry rides — no corpus×centroids expansion) and
    * `Sampling.perKeyCap` keeps at most 50 vectors per cell in the
    * deterministic md5 hash order, so the sample is reproducible on any
    * engine and any partitioning. At 100 TB the cap window partitions by
    * cell — the centroid count is the parallelism/balance knob exactly as
    * in the knnGraph family.
    */
  def sim56(s0: SparkSession, dir: String): DataFrame = {
    val s = withDot(s0)
    val assigned = Ann
      .ivfAssign(embD(s, dir), "vec_id", "emb", centroids(s, dir))
      .select("vec_id", "centroid_id", "cos")
    graft.operators.Sampling.perKeyCap(assigned, "centroid_id", "vec_id",
      k = 50)
  }

  /** Random-projection coarse search with exact rerank (sim57): the
    * fourth cheap-space candidate path next to int8 (sim49/53), IVF
    * (sim40) and PQ (sim45) — embeddings project 64 → 16 dims through
    * the deterministic ±1 matrix (`Ann.randomProject`, a pure codegen
    * projection), the coarse top-20 runs brute-force cosine in the
    * 4×-cheaper space, and `Ann.rerankTopK` restores exact full-precision
    * ranking on the candidate frame only. At 100 TB the projected corpus
    * is a quarter of the scan bytes and flops; the rerank joins carry
    * queries×20 rows.
    */
  def sim57(s0: SparkSession, dir: String): DataFrame = {
    val s = withDot(s0)
    val e = embD(s, dir)
    val proj = Ann.randomProject(e, "vec_id", "emb", dim = 64, outDim = 16)
    val coarse = Ann.cosineTopK(proj, "vec_id", "proj",
      queryPred = col("vec_id") < 5, k = 20)
    Ann.rerankTopK(e, "vec_id", "emb",
      coarse.select(col("query_id"), col("neighbor_id")), k = 5)
  }

  /** Random-projection recall@k (sim58): sim50's evaluation loop applied
    * to the sim57 coarse path — the top-3 in the 16-dim projected space
    * measured against the exact full-precision top-3 per query, hits/k.
    * This is the measured Johnson-Lindenstrauss quality knob for the
    * sim57 pipeline (outDim is the dial — sim59 sweeps it across
    * {8, 16, 32} from one shared projection pass); the join and
    * aggregate are result-frame-sized, never corpus-sized.
    */
  def sim58(s0: SparkSession, dir: String): DataFrame = {
    val s = withDot(s0)
    val e = embD(s, dir)
    val proj = Ann.randomProject(e, "vec_id", "emb", dim = 64, outDim = 16)
    val approx = Ann.cosineTopK(proj, "vec_id", "proj",
      queryPred = col("vec_id") < 5, k = 3)
    val exact = Ann.cosineTopK(e, "vec_id", "emb",
      queryPred = col("vec_id") < 5, k = 3)
    Ann.recallAtK(approx, exact, "query_id", "neighbor_id")
  }

  /** Projection-dimension recall sweep (sim59): sim58's measurement run
    * for outDim ∈ {8, 16, 32} — the Johnson-Lindenstrauss quality/cost
    * dial of the sim57 pipeline MEASURED, the sim55 sweep idiom applied
    * to the projection family. One corpus projection pass at the widest
    * dial serves every setting (narrower projections are prefix slices
    * of the widest — the signs stream is row-independent), so the sweep
    * costs one projection + one exact scan + three result-sized rank/
    * join rounds. Fully oracled: DuckDB recomputes each projection,
    * both rankings and the aggregate hit counts exactly.
    */
  def sim59(s0: SparkSession, dir: String): DataFrame = {
    val s = withDot(s0)
    Ann.projectionDimSweep(embD(s, dir), "vec_id", "emb",
      queryPred = col("vec_id") < 5, k = 3, dim = 64,
      outDims = Seq(8, 16, 32))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim36_cosine_topk" -> (sim36 _),
    "sim37_lsh_buckets" -> (sim37 _),
    "sim38_lsh_neardup_pairs" -> (sim38 _),
    "sim39_ivf_assign" -> (sim39 _),
    "sim40_ivf_probe" -> (sim40 _),
    "sim41_ivf_probe_nprobe2" -> (sim41 _),
    "sim42_lsh_neardup_capped" -> (sim42 _),
    "sim43_quantize_int8" -> (sim43 _),
    "sim44_pq_encode" -> (sim44 _),
    "sim45_pq_topk" -> (sim45 _),
    "sim46_kmeans_fit" -> (sim46 _),
    "sim47_ivf_pq_topk" -> (sim47 _),
    "sim48_pq_fit" -> (sim48 _),
    "sim49_quantized_topk" -> (sim49 _),
    "sim50_recall_at_k" -> (sim50 _),
    "sim51_ivf_pq_residual_topk" -> (sim51 _),
    "sim52_knn_graph" -> (sim52 _),
    "sim53_rerank_two_stage" -> (sim53 _),
    "sim54_knn_graph_incremental" -> (sim54 _),
    "sim55_nprobe_sweep" -> (sim55 _),
    "sim56_cluster_balanced_sample" -> (sim56 _),
    "sim57_random_projection_rerank" -> (sim57 _),
    "sim58_projection_recall" -> (sim58 _),
    "sim59_projection_dim_sweep" -> (sim59 _))

  private def planeDotSql(j: Int): String =
    s"""list_sum([emb[i] * (CASE WHEN substr(md5('$j-' || i), 1, 1) < '8'
       | THEN 1.0 ELSE -1.0 END) for i in range(1, 65)])""".stripMargin.replace("\n", " ")

  private val bucketSql = (0 until 8)
    .map(j => s"(CASE WHEN ${planeDotSql(j)} > 0 THEN ${1 << j} ELSE 0 END)")
    .mkString(" + ")

  /** Per-subspace PQ code expression: squared-L2 distances to the 8
    * codebook centroids (same literals as Ann.pqCodebook, left-associated
    * sums → bit-identical doubles), argmin via list_position of the min.
    */
  /** Per-centroid squared-L2 distance array for subspace `s`, with the
    * vector referenced as `embRef` — shared between the code argmin
    * (sim44) and the query lookup tables (sim45).
    */
  private def pqDistsSql(s: Int, embRef: String): String = {
    val book = graft.operators.Ann.pqCodebook(4, 8, 16)
    (0 until 8).map { c =>
      (0 until 16).map { i =>
        val w = book(s)(c)(i)
        s"($embRef[${s * 16 + i + 1}] - ($w)) * ($embRef[${s * 16 + i + 1}] - ($w))"
      }.mkString("(", " + ", ")")
    }.mkString("[", ", ", "]")
  }

  private def pqCodeSql(s: Int, embRef: String = "emb"): String = {
    val ds = pqDistsSql(s, embRef)
    s"CAST(list_position($ds, list_min($ds)) - 1 AS INTEGER) AS c$s"
  }

  // --- sim46 k-means oracle SQL generators -------------------------------
  // Mirrors Ann.kmeansFit's deterministic construction term-for-term:
  // every dot is the same left-associated sum ArrayDot folds, means are
  // exact integer sums of 2^20-quantized components divided once, and the
  // seed order is (md5(id), id) — so both engines produce bit-identical
  // centroid doubles with no rounding anywhere.

  /** Left-associated dot of the (absolute-indexed) vector slice vs
    * centroid scalar cols; `off`/`d` select the subspace slice (0/64 =
    * whole vector).
    */
  private[queries] def kmEc(eRef: String, cRef: String, off: Int, d: Int): String =
    (0 until d).map(i => s"$eRef[${off + i + 1}] * $cRef.c$i").mkString(" + ")

  /** Left-associated dot(c, c) over centroid scalar columns. */
  private[queries] def kmCc(cRef: String, d: Int): String =
    (0 until d).map(i => s"$cRef.c$i * $cRef.c$i").mkString(" + ")

  /** Sample CTE for one fit chain: slice quantization + slice self-dot;
    * `p` prefixes every CTE name so chains compose (sim48 runs four).
    */
  private[queries] def kmSample(p: String, off: Int, d: Int, where: String): String =
    s"""${p}s AS (SELECT vec_id, emb,
       |  list_sum([emb[i] * emb[i] for i in range(${off + 1}, ${off + d + 1})]) AS ee,
       |  [CAST(floor(emb[i] * 1048576.0 + 0.5) AS BIGINT) for i in range(${off + 1}, ${off + d + 1})] AS q
       | FROM e$where),
       |${p}k0 AS (SELECT
       |  CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC) - 1 AS INTEGER) AS centroid_id,
       |  ${(0 until d).map(i => s"emb[${off + i + 1}] AS c$i").mkString(", ")}
       | FROM ${p}s ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC LIMIT 8)""".stripMargin

  /** One Lloyd's round: assign (argmin d2, id tiebreak) then exact-sum
    * mean update; `prev` is the previous centroid CTE name.
    */
  private[queries] def kmRound(p: String, t: Int, prev: String, off: Int, d: Int): String =
    s"""${p}a$t AS (SELECT vec_id, q, centroid_id FROM (
       |  SELECT s.vec_id, s.q, c.centroid_id,
       |   row_number() OVER (PARTITION BY s.vec_id ORDER BY
       |    (s.ee - 2 * (${kmEc("s.emb", "c", off, d)}) + (${kmCc("c", d)})) ASC,
       |    c.centroid_id ASC) AS rn
       |  FROM ${p}s s, $prev c) WHERE rn = 1),
       |${p}g$t AS (SELECT centroid_id, count(*) AS n,
       |  ${(0 until d).map(i => s"sum(q[${i + 1}]) AS s$i").mkString(", ")}
       | FROM ${p}a$t GROUP BY 1),
       |${p}k$t AS (SELECT centroid_id, n,
       |  ${(0 until d).map(i =>
            s"CAST(s$i AS DOUBLE) / (CAST(n AS DOUBLE) * 1048576.0) AS c$i")
           .mkString(", ")}
       | FROM ${p}g$t)""".stripMargin

  /** Full two-round fit chain for one slice, ending in CTE `${p}k2`. */
  private[queries] def kmChain(p: String, off: Int, d: Int, where: String): String =
    s"""${kmSample(p, off, d, where)},
       |${kmRound(p, 1, s"${p}k0", off, d)},
       |${kmRound(p, 2, s"${p}k1", off, d)}""".stripMargin

  private def sim46Sql: String =
    s"""WITH e AS (SELECT vec_id,
       |  list_transform(embedding, v -> CAST(v AS DOUBLE)) AS emb FROM embeddings),
       |${kmChain("", 0, 64,
          " WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) < '8'")}
       |SELECT centroid_id, CAST(n AS BIGINT) AS n,
       | ${(0 until 64).map(i => s"c$i").mkString(", ")}
       |FROM k2""".stripMargin

  /** sim48: four independent 16-dim fit chains (one per PQ subspace),
    * unioned with the subspace tag — the exact mirror of Ann.pqFit.
    */
  private def sim48Sql: String =
    s"""WITH e AS (SELECT vec_id,
       |  list_transform(embedding, v -> CAST(v AS DOUBLE)) AS emb FROM embeddings),
       |${(0 until 4).map(s => kmChain(s"p$s", s * 16, 16, "")).mkString(",\n")}
       |${(0 until 4).map(s =>
          s"""SELECT CAST($s AS INTEGER) AS subspace, centroid_id,
             | CAST(n AS BIGINT) AS n,
             | ${(0 until 16).map(i => s"c$i").mkString(", ")}
             |FROM p${s}k2""".stripMargin).mkString("\nUNION ALL\n")}""".stripMargin

  private val sim52Sql: String =
    """WITH e AS (SELECT vec_id,
        |  list_transform(embedding, v -> CAST(v AS DOUBLE)) AS emb FROM embeddings),
        |w AS (SELECT vec_id, emb, sqrt(list_sum([v * v for v in emb])) AS norm FROM e),
        |c AS (SELECT vec_id AS centroid_id, emb AS c_emb, norm AS c_norm FROM w WHERE vec_id < 8),
        |scored AS (SELECT w.vec_id, c.centroid_id, w.emb, w.norm,
        |  list_sum([w.emb[i] * c.c_emb[i] for i in range(1, 65)]) / (w.norm * c.c_norm) AS cos_full
        | FROM w, c),
        |a AS (SELECT vec_id, centroid_id, emb, norm FROM (
        |  SELECT *, row_number() OVER
        |   (PARTITION BY vec_id ORDER BY cos_full DESC, centroid_id ASC) AS rn FROM scored)
        | WHERE rn = 1),
        |cand AS (SELECT q.vec_id AS query_id, x.vec_id, x.centroid_id,
        |  list_sum([x.emb[i] * q.emb[i] for i in range(1, 65)]) / (x.norm * q.norm) AS cand_cos
        | FROM a x JOIN a q ON x.centroid_id = q.centroid_id
        |  AND x.vec_id <> q.vec_id)
        |SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id AS neighbor_id,
        | centroid_id AS cell, round(cand_cos, 4) AS cos
        |FROM (SELECT *, row_number() OVER
        |  (PARTITION BY query_id ORDER BY cand_cos DESC, vec_id ASC) AS rank FROM cand)
        |WHERE rank <= 3""".stripMargin

  /** Projected component j of the rp-salted ±1 random-projection matrix
    * (mirrors `Ann.projectionSigns` — same md5 convention as planeDotSql
    * under the independent "rp" salt).
    */
  private def rpDotSql(j: Int): String =
    s"""list_sum([emb[i] * (CASE WHEN substr(md5('rp-$j-' || i), 1, 1) < '8'
       | THEN 1.0 ELSE -1.0 END) for i in range(1, 65)])""".stripMargin.replace("\n", " ")

  private val rpProjSql: String =
    (0 until 16).map(rpDotSql).mkString("[", ", ", "]")

  private def rpProjSqlN(n: Int): String =
    (0 until n).map(rpDotSql).mkString("[", ", ", "]")

  /** One outDim's CTE chunk for the sim59 sweep: project at `od` dims
    * (the same rp sign stream — a prefix of the widest projection),
    * rank the projected top-3, and count hits against the shared exact
    * ground truth (`ext`). Mirrors the sim58 oracle body per dial.
    */
  private def rpSweepChunk(od: Int): String =
    s"""p$od AS (SELECT vec_id, ${rpProjSqlN(od)} AS emb FROM e),
       |pw$od AS (SELECT vec_id, emb, sqrt(list_sum([v * v for v in emb])) AS norm FROM p$od),
       |pq$od AS (SELECT vec_id AS query_id, emb AS q_emb, norm AS q_norm FROM pw$od WHERE vec_id < 5),
       |ax$od AS (SELECT pq.query_id, pw.vec_id,
       |  list_sum([pw.emb[i] * pq.q_emb[i] for i in range(1, ${od + 1})]) / (pw.norm * pq.q_norm) AS ccos
       | FROM pw$od pw, pq$od pq WHERE pw.vec_id <> pq.query_id),
       |apx$od AS (SELECT query_id, vec_id FROM (SELECT *, row_number() OVER
       |  (PARTITION BY query_id ORDER BY ccos DESC, vec_id ASC) AS rank FROM ax$od)
       | WHERE rank <= 3),
       |r$od AS (SELECT CAST($od AS INTEGER) AS out_dim,
       |  CAST(count(apx.vec_id) AS BIGINT) AS sum_hits,
       |  CAST(count(*) AS BIGINT) AS sum_k,
       |  CAST(count(apx.vec_id) AS DOUBLE) / count(*) AS recall
       | FROM ext LEFT JOIN apx$od apx
       |  ON ext.query_id = apx.query_id AND ext.vec_id = apx.vec_id)""".stripMargin

  /** sim39's oracle text, shared verbatim by the sim56 composition. */
  private val sim39Oracle: String =
    """WITH e AS (SELECT vec_id,
      |  list_transform(embedding, v -> CAST(v AS DOUBLE)) AS emb FROM embeddings),
      |w AS (SELECT vec_id, emb, sqrt(list_sum([v * v for v in emb])) AS norm FROM e),
      |c AS (SELECT vec_id AS centroid_id, emb AS c_emb, norm AS c_norm FROM w WHERE vec_id < 8),
      |scored AS (SELECT w.vec_id, c.centroid_id,
      |  list_sum([w.emb[i] * c.c_emb[i] for i in range(1, 65)]) / (w.norm * c.c_norm) AS cos_full
      | FROM w, c),
      |r AS (SELECT *, row_number() OVER
      |  (PARTITION BY vec_id ORDER BY cos_full DESC, centroid_id ASC) AS rn FROM scored)
      |SELECT vec_id, centroid_id, round(cos_full, 4) AS cos FROM r WHERE rn = 1""".stripMargin

  val oracles: Map[String, String] = Map(
    "sim46_kmeans_fit" -> sim46Sql,
    "sim53_rerank_two_stage" ->
      """WITH e AS (SELECT vec_id,
        |  list_transform(embedding, v -> CAST(v AS DOUBLE)) AS emb FROM embeddings),
        |m AS (SELECT vec_id, emb,
        |  list_max(list_transform(emb, x -> abs(x))) AS ma FROM e),
        |qv AS (SELECT vec_id,
        |  CASE WHEN ma = 0 THEN list_transform(emb, x -> CAST(0 AS DOUBLE))
        |   ELSE list_transform(emb,
        |    x -> CAST(CAST(floor(x * 127.0 / ma + 0.5) AS INTEGER) AS DOUBLE))
        |  END AS emb FROM m),
        |w AS (SELECT vec_id, emb, sqrt(list_sum([v * v for v in emb])) AS norm FROM qv),
        |q AS (SELECT vec_id AS query_id, emb AS q_emb, norm AS q_norm FROM w WHERE vec_id < 5),
        |scored AS (SELECT q.query_id, w.vec_id,
        |  list_sum([w.emb[i] * q.q_emb[i] for i in range(1, 65)]) / (w.norm * q.q_norm) AS qcos
        | FROM w, q WHERE w.vec_id <> q.query_id),
        |cand AS (SELECT query_id, vec_id AS neighbor_id
        | FROM (SELECT *, row_number() OVER
        |   (PARTITION BY query_id ORDER BY qcos DESC, vec_id ASC) AS rank FROM scored)
        | WHERE rank <= 20),
        |fw AS (SELECT vec_id, emb, sqrt(list_sum([v * v for v in emb])) AS norm FROM e),
        |fq AS (SELECT vec_id AS query_id, emb AS q_emb, norm AS q_norm FROM fw),
        |rer AS (SELECT c.query_id, c.neighbor_id,
        |  list_sum([n.emb[i] * fq.q_emb[i] for i in range(1, 65)]) / (n.norm * fq.q_norm) AS cos_full
        | FROM cand c
        | JOIN fw n ON c.neighbor_id = n.vec_id
        | JOIN fq ON c.query_id = fq.query_id)
        |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id,
        | round(cos_full, 4) AS cos
        |FROM (SELECT *, row_number() OVER
        |  (PARTITION BY query_id ORDER BY cos_full DESC, neighbor_id ASC) AS rank FROM rer)
        |WHERE rank <= 5""".stripMargin,
    "sim54_knn_graph_incremental" -> sim52Sql,
    "sim55_nprobe_sweep" ->
      """WITH e AS (SELECT vec_id,
        |  list_transform(embedding, v -> CAST(v AS DOUBLE)) AS emb FROM embeddings),
        |w AS (SELECT vec_id, emb, sqrt(list_sum([v * v for v in emb])) AS norm FROM e),
        |c AS (SELECT vec_id AS centroid_id, emb AS c_emb, norm AS c_norm FROM w WHERE vec_id < 8),
        |scored AS (SELECT w.vec_id, c.centroid_id, w.emb, w.norm,
        |  list_sum([w.emb[i] * c.c_emb[i] for i in range(1, 65)]) / (w.norm * c.c_norm) AS cos_full
        | FROM w, c),
        |a AS (SELECT vec_id, centroid_id, emb, norm FROM (
        |  SELECT *, row_number() OVER
        |   (PARTITION BY vec_id ORDER BY cos_full DESC, centroid_id ASC) AS rn FROM scored)
        | WHERE rn = 1),
        |q AS (SELECT vec_id AS query_id, emb AS q_emb, norm AS q_norm
        | FROM a WHERE vec_id < 5),
        |p AS (SELECT np, query_id, q_emb, q_norm, centroid_id AS q_cell FROM (
        |  SELECT g.np, q.query_id, q.q_emb, q.q_norm, c.centroid_id,
        |   row_number() OVER (PARTITION BY g.np, q.query_id ORDER BY
        |    list_sum([q.q_emb[i] * c.c_emb[i] for i in range(1, 65)]) / (q.q_norm * c.c_norm) DESC,
        |    c.centroid_id ASC) AS cell_rank
        |  FROM q, c, generate_series(1, 3) g(np)) WHERE cell_rank <= np),
        |cand AS (SELECT p.np, p.query_id, a.vec_id,
        |  list_sum([a.emb[i] * p.q_emb[i] for i in range(1, 65)]) / (a.norm * p.q_norm) AS cand_cos
        | FROM a JOIN p ON a.centroid_id = p.q_cell AND a.vec_id <> p.query_id),
        |apx AS (SELECT np, query_id, vec_id FROM (SELECT *, row_number() OVER
        |  (PARTITION BY np, query_id ORDER BY cand_cos DESC, vec_id ASC) AS rank FROM cand)
        | WHERE rank <= 3),
        |ex0 AS (SELECT q.query_id, w.vec_id,
        |  list_sum([w.emb[i] * q.q_emb[i] for i in range(1, 65)]) / (w.norm * q.q_norm) AS cos_full
        | FROM w, q WHERE w.vec_id <> q.query_id),
        |ext AS (SELECT query_id, vec_id FROM (SELECT *, row_number() OVER
        |  (PARTITION BY query_id ORDER BY cos_full DESC, vec_id ASC) AS rank FROM ex0)
        | WHERE rank <= 3),
        |rec AS (SELECT g.np AS nprobe,
        |  CAST(count(apx.vec_id) AS BIGINT) AS sum_hits,
        |  count(*) AS sum_k
        | FROM generate_series(1, 3) g(np)
        | CROSS JOIN ext
        | LEFT JOIN apx ON apx.np = g.np AND ext.query_id = apx.query_id
        |  AND ext.vec_id = apx.vec_id
        | GROUP BY 1)
        |SELECT CAST(nprobe AS INTEGER) AS nprobe, sum_hits, sum_k,
        | CAST(sum_hits AS DOUBLE) / sum_k AS recall,
        | TRUE AS recall_non_decreasing
        |FROM rec""".stripMargin,
    "sim52_knn_graph" -> sim52Sql,
    "sim50_recall_at_k" ->
      """WITH e AS (SELECT vec_id,
        |  list_transform(embedding, v -> CAST(v AS DOUBLE)) AS emb FROM embeddings),
        |w AS (SELECT vec_id, emb, sqrt(list_sum([v * v for v in emb])) AS norm FROM e),
        |c AS (SELECT vec_id AS centroid_id, emb AS c_emb, norm AS c_norm FROM w WHERE vec_id < 8),
        |scored AS (SELECT w.vec_id, c.centroid_id, w.emb, w.norm,
        |  list_sum([w.emb[i] * c.c_emb[i] for i in range(1, 65)]) / (w.norm * c.c_norm) AS cos_full
        | FROM w, c),
        |a AS (SELECT vec_id, centroid_id, emb, norm FROM (
        |  SELECT *, row_number() OVER
        |   (PARTITION BY vec_id ORDER BY cos_full DESC, centroid_id ASC) AS rn FROM scored)
        | WHERE rn = 1),
        |q AS (SELECT vec_id AS query_id, centroid_id AS q_cell, emb AS q_emb, norm AS q_norm
        | FROM a WHERE vec_id < 5),
        |cand AS (SELECT q.query_id, a.vec_id,
        |  list_sum([a.emb[i] * q.q_emb[i] for i in range(1, 65)]) / (a.norm * q.q_norm) AS cand_cos
        | FROM a JOIN q ON a.centroid_id = q.q_cell AND a.vec_id <> q.query_id),
        |apx AS (SELECT query_id, vec_id FROM (SELECT *, row_number() OVER
        |  (PARTITION BY query_id ORDER BY cand_cos DESC, vec_id ASC) AS rank FROM cand)
        | WHERE rank <= 3),
        |ex0 AS (SELECT q.query_id, w.vec_id,
        |  list_sum([w.emb[i] * q.q_emb[i] for i in range(1, 65)]) / (w.norm * q.q_norm) AS cos_full
        | FROM w, q WHERE w.vec_id <> q.query_id),
        |ext AS (SELECT query_id, vec_id FROM (SELECT *, row_number() OVER
        |  (PARTITION BY query_id ORDER BY cos_full DESC, vec_id ASC) AS rank FROM ex0)
        | WHERE rank <= 3)
        |SELECT ext.query_id,
        | CAST(count(apx.vec_id) AS BIGINT) AS hits,
        | count(*) AS k,
        | CAST(count(apx.vec_id) AS DOUBLE) / count(*) AS recall
        |FROM ext LEFT JOIN apx
        | ON ext.query_id = apx.query_id AND ext.vec_id = apx.vec_id
        |GROUP BY ext.query_id""".stripMargin,
    "sim49_quantized_topk" ->
      """WITH e AS (SELECT vec_id,
        |  list_transform(embedding, v -> CAST(v AS DOUBLE)) AS emb FROM embeddings),
        |m AS (SELECT vec_id, emb,
        |  list_max(list_transform(emb, x -> abs(x))) AS ma FROM e),
        |qv AS (SELECT vec_id,
        |  CASE WHEN ma = 0 THEN list_transform(emb, x -> CAST(0 AS DOUBLE))
        |   ELSE list_transform(emb,
        |    x -> CAST(CAST(floor(x * 127.0 / ma + 0.5) AS INTEGER) AS DOUBLE))
        |  END AS emb FROM m),
        |w AS (SELECT vec_id, emb, sqrt(list_sum([v * v for v in emb])) AS norm FROM qv),
        |q AS (SELECT vec_id AS query_id, emb AS q_emb, norm AS q_norm FROM w WHERE vec_id < 5),
        |scored AS (SELECT q.query_id, w.vec_id,
        |  list_sum([w.emb[i] * q.q_emb[i] for i in range(1, 65)]) / (w.norm * q.q_norm) AS cos_full
        | FROM w, q WHERE w.vec_id <> q.query_id)
        |SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id AS neighbor_id,
        | round(cos_full, 4) AS cos
        |FROM (SELECT *, row_number() OVER
        |  (PARTITION BY query_id ORDER BY cos_full DESC, vec_id ASC) AS rank FROM scored)
        |WHERE rank <= 5""".stripMargin,
    "sim48_pq_fit" -> sim48Sql,
    "sim51_ivf_pq_residual_topk" ->
      s"""WITH e AS (SELECT vec_id,
         |  list_transform(embedding, v -> CAST(v AS DOUBLE)) AS emb FROM embeddings),
         |w AS (SELECT vec_id, emb, sqrt(list_sum([v * v for v in emb])) AS norm FROM e),
         |c AS (SELECT vec_id AS centroid_id, emb AS c_emb, norm AS c_norm FROM w WHERE vec_id < 8),
         |scored AS (SELECT w.vec_id, c.centroid_id, w.emb, w.norm,
         |  list_sum([w.emb[i] * c.c_emb[i] for i in range(1, 65)]) / (w.norm * c.c_norm) AS cos_full
         | FROM w, c),
         |a AS (SELECT vec_id, centroid_id, emb, norm FROM (
         |  SELECT *, row_number() OVER
         |   (PARTITION BY vec_id ORDER BY cos_full DESC, centroid_id ASC) AS rn FROM scored)
         | WHERE rn = 1),
         |rr AS (SELECT a.vec_id, a.centroid_id,
         |  [a.emb[i] - c.c_emb[i] for i in range(1, 65)] AS res
         | FROM a JOIN c ON a.centroid_id = c.centroid_id),
         |cd AS (SELECT vec_id, centroid_id,
         |  ${(0 until 4).map(s => pqCodeSql(s, "res")).mkString(",\n ")}
         | FROM rr),
         |q AS (SELECT vec_id AS query_id, emb AS q_emb, norm AS q_norm
         | FROM a WHERE vec_id < 3),
         |p AS (SELECT query_id, q_res, q_cell FROM (
         |  SELECT q.query_id, c.centroid_id AS q_cell,
         |   [q.q_emb[i] - c.c_emb[i] for i in range(1, 65)] AS q_res,
         |   row_number() OVER (PARTITION BY q.query_id ORDER BY
         |    list_sum([q.q_emb[i] * c.c_emb[i] for i in range(1, 65)]) / (q.q_norm * c.c_norm) DESC,
         |    c.centroid_id ASC) AS cell_rank
         |  FROM q, c) WHERE cell_rank <= 2),
         |d AS (SELECT p.query_id, cd.vec_id, cd.centroid_id,
         |  ${(0 until 4).map(s => s"(${pqDistsSql(s, "p.q_res")})[cd.c$s + 1]")
                .mkString(" + ")} AS adc
         | FROM cd JOIN p ON cd.centroid_id = p.q_cell AND cd.vec_id <> p.query_id)
         |SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id AS neighbor_id,
         | centroid_id AS cell, adc
         |FROM (SELECT *, row_number() OVER
         |  (PARTITION BY query_id ORDER BY adc ASC, vec_id ASC) AS rank FROM d)
         |WHERE rank <= 5""".stripMargin,
    "sim47_ivf_pq_topk" ->
      s"""WITH e AS (SELECT vec_id,
         |  list_transform(embedding, v -> CAST(v AS DOUBLE)) AS emb FROM embeddings),
         |w AS (SELECT vec_id, emb, sqrt(list_sum([v * v for v in emb])) AS norm FROM e),
         |c AS (SELECT vec_id AS centroid_id, emb AS c_emb, norm AS c_norm FROM w WHERE vec_id < 8),
         |scored AS (SELECT w.vec_id, c.centroid_id, w.emb, w.norm,
         |  list_sum([w.emb[i] * c.c_emb[i] for i in range(1, 65)]) / (w.norm * c.c_norm) AS cos_full
         | FROM w, c),
         |a AS (SELECT vec_id, centroid_id, emb, norm FROM (
         |  SELECT *, row_number() OVER
         |   (PARTITION BY vec_id ORDER BY cos_full DESC, centroid_id ASC) AS rn FROM scored)
         | WHERE rn = 1),
         |cd AS (SELECT vec_id, centroid_id, ${(0 until 4).map(s => pqCodeSql(s)).mkString(",\n ")}
         | FROM a),
         |q AS (SELECT vec_id AS query_id, emb AS q_emb, norm AS q_norm
         | FROM a WHERE vec_id < 3),
         |p AS (SELECT query_id, q_emb, centroid_id AS q_cell FROM (
         |  SELECT q.query_id, q.q_emb, c.centroid_id,
         |   row_number() OVER (PARTITION BY q.query_id ORDER BY
         |    list_sum([q.q_emb[i] * c.c_emb[i] for i in range(1, 65)]) / (q.q_norm * c.c_norm) DESC,
         |    c.centroid_id ASC) AS cell_rank
         |  FROM q, c) WHERE cell_rank <= 2),
         |d AS (SELECT p.query_id, cd.vec_id, cd.centroid_id,
         |  ${(0 until 4).map(s => s"(${pqDistsSql(s, "p.q_emb")})[cd.c$s + 1]")
                .mkString(" + ")} AS adc
         | FROM cd JOIN p ON cd.centroid_id = p.q_cell AND cd.vec_id <> p.query_id)
         |SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id AS neighbor_id,
         | centroid_id AS cell, adc
         |FROM (SELECT *, row_number() OVER
         |  (PARTITION BY query_id ORDER BY adc ASC, vec_id ASC) AS rank FROM d)
         |WHERE rank <= 5""".stripMargin,
    "sim45_pq_topk" ->
      s"""WITH e AS (SELECT vec_id,
         |  list_transform(embedding, v -> CAST(v AS DOUBLE)) AS emb FROM embeddings),
         |c AS (SELECT vec_id, ${(0 until 4).map(s => pqCodeSql(s)).mkString(",\n ")}
         | FROM e),
         |q AS (SELECT vec_id AS query_id, emb AS q_emb FROM e WHERE vec_id < 3),
         |d AS (SELECT q.query_id, c.vec_id,
         |  ${(0 until 4).map(s => s"(${pqDistsSql(s, "q.q_emb")})[c.c$s + 1]")
                .mkString(" + ")} AS adc
         | FROM c, q WHERE c.vec_id <> q.query_id)
         |SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id AS neighbor_id, adc
         |FROM (SELECT *, row_number() OVER
         |  (PARTITION BY query_id ORDER BY adc ASC, vec_id ASC) AS rank FROM d)
         |WHERE rank <= 5""".stripMargin,
    "sim44_pq_encode" ->
      s"""WITH e AS (SELECT vec_id,
         |  list_transform(embedding, v -> CAST(v AS DOUBLE)) AS emb FROM embeddings)
         |SELECT vec_id, ${(0 until 4).map(s => pqCodeSql(s)).mkString(",\n ")}
         |FROM e""".stripMargin,
    "sim36_cosine_topk" ->
      """WITH e AS (SELECT vec_id,
        |  list_transform(embedding, v -> CAST(v AS DOUBLE)) AS emb FROM embeddings),
        |w AS (SELECT vec_id, emb, sqrt(list_sum([v * v for v in emb])) AS norm FROM e),
        |q AS (SELECT vec_id AS query_id, emb AS q_emb, norm AS q_norm FROM w WHERE vec_id < 10),
        |scored AS (SELECT q.query_id, w.vec_id,
        |  list_sum([w.emb[i] * q.q_emb[i] for i in range(1, 65)]) / (w.norm * q.q_norm) AS cos_full
        | FROM w, q WHERE w.vec_id <> q.query_id)
        |SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id AS neighbor_id,
        | round(cos_full, 4) AS cos
        |FROM (SELECT *, row_number() OVER
        |  (PARTITION BY query_id ORDER BY cos_full DESC, vec_id ASC) AS rank FROM scored)
        |WHERE rank <= 5""".stripMargin,
    "sim37_lsh_buckets" ->
      s"""WITH e AS (SELECT vec_id, label,
         |  list_transform(embedding, v -> CAST(v AS DOUBLE)) AS emb FROM embeddings),
         |b AS (SELECT vec_id, label, CAST($bucketSql AS INTEGER) AS bucket FROM e)
         |SELECT vec_id, label, bucket,
         | count(*) OVER (PARTITION BY bucket) AS bucket_size
         |FROM b""".stripMargin,
    "sim38_lsh_neardup_pairs" ->
      s"""WITH e AS (SELECT vec_id,
         |  list_transform(embedding, v -> CAST(v AS DOUBLE)) AS emb FROM embeddings),
         |b AS (SELECT vec_id, emb, sqrt(list_sum([v * v for v in emb])) AS norm,
         |  CAST($bucketSql AS INTEGER) AS bucket FROM e)
         |SELECT x.vec_id AS vec_a, y.vec_id AS vec_b, x.bucket AS bucket,
         | round(list_sum([x.emb[i] * y.emb[i] for i in range(1, 65)]) / (x.norm * y.norm), 4) AS cos
         |FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
         |WHERE round(list_sum([x.emb[i] * y.emb[i] for i in range(1, 65)]) / (x.norm * y.norm), 4) >= 0.25""".stripMargin,
    "sim39_ivf_assign" -> sim39Oracle,
    // sim56 composes the sim39 oracle text VERBATIM (the td54
    // drift-detection idiom) under the q34 deterministic-cap window
    "sim56_cluster_balanced_sample" ->
      s"""SELECT vec_id, centroid_id, cos FROM (
         | SELECT *, row_number() OVER (PARTITION BY centroid_id
         |  ORDER BY md5(CAST(centroid_id AS VARCHAR) || '|' ||
         |   CAST(vec_id AS VARCHAR)), vec_id) AS rn
         | FROM ($sim39Oracle) a) WHERE rn <= 50""".stripMargin,
    // sim58 measures the projected-space top-3 against the exact top-3
    // (the sim50 recall idiom over the rp projection)
    "sim58_projection_recall" ->
      s"""WITH e AS (SELECT vec_id,
         |  list_transform(embedding, v -> CAST(v AS DOUBLE)) AS emb FROM embeddings),
         |p AS (SELECT vec_id, $rpProjSql AS emb FROM e),
         |pw AS (SELECT vec_id, emb, sqrt(list_sum([v * v for v in emb])) AS norm FROM p),
         |pq AS (SELECT vec_id AS query_id, emb AS q_emb, norm AS q_norm FROM pw WHERE vec_id < 5),
         |ax0 AS (SELECT pq.query_id, pw.vec_id,
         |  list_sum([pw.emb[i] * pq.q_emb[i] for i in range(1, 17)]) / (pw.norm * pq.q_norm) AS ccos
         | FROM pw, pq WHERE pw.vec_id <> pq.query_id),
         |apx AS (SELECT query_id, vec_id FROM (SELECT *, row_number() OVER
         |  (PARTITION BY query_id ORDER BY ccos DESC, vec_id ASC) AS rank FROM ax0)
         | WHERE rank <= 3),
         |w AS (SELECT vec_id, emb, sqrt(list_sum([v * v for v in emb])) AS norm FROM e),
         |q AS (SELECT vec_id AS query_id, emb AS q_emb, norm AS q_norm FROM w WHERE vec_id < 5),
         |ex0 AS (SELECT q.query_id, w.vec_id,
         |  list_sum([w.emb[i] * q.q_emb[i] for i in range(1, 65)]) / (w.norm * q.q_norm) AS cos_full
         | FROM w, q WHERE w.vec_id <> q.query_id),
         |ext AS (SELECT query_id, vec_id FROM (SELECT *, row_number() OVER
         |  (PARTITION BY query_id ORDER BY cos_full DESC, vec_id ASC) AS rank FROM ex0)
         | WHERE rank <= 3)
         |SELECT ext.query_id,
         | CAST(count(apx.vec_id) AS BIGINT) AS hits,
         | count(*) AS k,
         | CAST(count(apx.vec_id) AS DOUBLE) / count(*) AS recall
         |FROM ext LEFT JOIN apx
         | ON ext.query_id = apx.query_id AND ext.vec_id = apx.vec_id
         |GROUP BY ext.query_id""".stripMargin,
    // sim59 re-runs the sim58 measurement per outDim dial against ONE
    // shared exact ground truth (the sim55 sweep idiom)
    "sim59_projection_dim_sweep" ->
      s"""WITH e AS (SELECT vec_id,
         |  list_transform(embedding, v -> CAST(v AS DOUBLE)) AS emb FROM embeddings),
         |w AS (SELECT vec_id, emb, sqrt(list_sum([v * v for v in emb])) AS norm FROM e),
         |q AS (SELECT vec_id AS query_id, emb AS q_emb, norm AS q_norm FROM w WHERE vec_id < 5),
         |ex0 AS (SELECT q.query_id, w.vec_id,
         |  list_sum([w.emb[i] * q.q_emb[i] for i in range(1, 65)]) / (w.norm * q.q_norm) AS cos_full
         | FROM w, q WHERE w.vec_id <> q.query_id),
         |ext AS (SELECT query_id, vec_id FROM (SELECT *, row_number() OVER
         |  (PARTITION BY query_id ORDER BY cos_full DESC, vec_id ASC) AS rank FROM ex0)
         | WHERE rank <= 3),
         |${Seq(8, 16, 32).map(rpSweepChunk).mkString(",\n")}
         |SELECT * FROM r8 UNION ALL SELECT * FROM r16 UNION ALL SELECT * FROM r32""".stripMargin,
    // sim57 recomputes the ±1 projection, the 16-dim coarse ranking and
    // the full-precision rerank from scratch
    "sim57_random_projection_rerank" ->
      s"""WITH e AS (SELECT vec_id,
         |  list_transform(embedding, v -> CAST(v AS DOUBLE)) AS emb FROM embeddings),
         |p AS (SELECT vec_id, $rpProjSql AS emb FROM e),
         |pw AS (SELECT vec_id, emb, sqrt(list_sum([v * v for v in emb])) AS norm FROM p),
         |pq AS (SELECT vec_id AS query_id, emb AS q_emb, norm AS q_norm FROM pw WHERE vec_id < 5),
         |coarse AS (SELECT pq.query_id, pw.vec_id AS neighbor_id,
         |  list_sum([pw.emb[i] * pq.q_emb[i] for i in range(1, 17)]) / (pw.norm * pq.q_norm) AS ccos
         | FROM pw, pq WHERE pw.vec_id <> pq.query_id),
         |cand AS (SELECT query_id, neighbor_id FROM (SELECT *, row_number() OVER
         |  (PARTITION BY query_id ORDER BY ccos DESC, neighbor_id ASC) AS rn FROM coarse)
         | WHERE rn <= 20),
         |w AS (SELECT vec_id, emb, sqrt(list_sum([v * v for v in emb])) AS norm FROM e),
         |q AS (SELECT vec_id AS query_id, emb AS q_emb, norm AS q_norm FROM w WHERE vec_id < 5),
         |rer AS (SELECT c.query_id, c.neighbor_id,
         |  list_sum([w.emb[i] * q.q_emb[i] for i in range(1, 65)]) / (w.norm * q.q_norm) AS cos_full
         | FROM cand c JOIN w ON w.vec_id = c.neighbor_id JOIN q ON q.query_id = c.query_id)
         |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, round(cos_full, 4) AS cos
         |FROM (SELECT *, row_number() OVER
         |  (PARTITION BY query_id ORDER BY cos_full DESC, neighbor_id ASC) AS rank FROM rer)
         |WHERE rank <= 5""".stripMargin,
    "sim40_ivf_probe" ->
      """WITH e AS (SELECT vec_id,
        |  list_transform(embedding, v -> CAST(v AS DOUBLE)) AS emb FROM embeddings),
        |w AS (SELECT vec_id, emb, sqrt(list_sum([v * v for v in emb])) AS norm FROM e),
        |c AS (SELECT vec_id AS centroid_id, emb AS c_emb, norm AS c_norm FROM w WHERE vec_id < 8),
        |scored AS (SELECT w.vec_id, c.centroid_id, w.emb, w.norm,
        |  list_sum([w.emb[i] * c.c_emb[i] for i in range(1, 65)]) / (w.norm * c.c_norm) AS cos_full
        | FROM w, c),
        |a AS (SELECT vec_id, centroid_id, emb, norm FROM (
        |  SELECT *, row_number() OVER
        |   (PARTITION BY vec_id ORDER BY cos_full DESC, centroid_id ASC) AS rn FROM scored)
        | WHERE rn = 1),
        |q AS (SELECT vec_id AS query_id, centroid_id AS q_cell, emb AS q_emb, norm AS q_norm
        | FROM a WHERE vec_id < 5),
        |cand AS (SELECT q.query_id, a.vec_id, a.centroid_id,
        |  list_sum([a.emb[i] * q.q_emb[i] for i in range(1, 65)]) / (a.norm * q.q_norm) AS cand_cos
        | FROM a JOIN q ON a.centroid_id = q.q_cell AND a.vec_id <> q.query_id)
        |SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id AS neighbor_id,
        | centroid_id AS cell, round(cand_cos, 4) AS cos
        |FROM (SELECT *, row_number() OVER
        |  (PARTITION BY query_id ORDER BY cand_cos DESC, vec_id ASC) AS rank FROM cand)
        |WHERE rank <= 3""".stripMargin,
    "sim41_ivf_probe_nprobe2" ->
      """WITH e AS (SELECT vec_id,
        |  list_transform(embedding, v -> CAST(v AS DOUBLE)) AS emb FROM embeddings),
        |w AS (SELECT vec_id, emb, sqrt(list_sum([v * v for v in emb])) AS norm FROM e),
        |c AS (SELECT vec_id AS centroid_id, emb AS c_emb, norm AS c_norm FROM w WHERE vec_id < 8),
        |scored AS (SELECT w.vec_id, c.centroid_id, w.emb, w.norm,
        |  list_sum([w.emb[i] * c.c_emb[i] for i in range(1, 65)]) / (w.norm * c.c_norm) AS cos_full
        | FROM w, c),
        |a AS (SELECT vec_id, centroid_id, emb, norm FROM (
        |  SELECT *, row_number() OVER
        |   (PARTITION BY vec_id ORDER BY cos_full DESC, centroid_id ASC) AS rn FROM scored)
        | WHERE rn = 1),
        |q AS (SELECT vec_id AS query_id, emb AS q_emb, norm AS q_norm
        | FROM a WHERE vec_id < 5),
        |p AS (SELECT query_id, q_emb, q_norm, centroid_id AS q_cell FROM (
        |  SELECT q.query_id, q.q_emb, q.q_norm, c.centroid_id,
        |   row_number() OVER (PARTITION BY q.query_id ORDER BY
        |    list_sum([q.q_emb[i] * c.c_emb[i] for i in range(1, 65)]) / (q.q_norm * c.c_norm) DESC,
        |    c.centroid_id ASC) AS cell_rank
        |  FROM q, c) WHERE cell_rank <= 2),
        |cand AS (SELECT p.query_id, a.vec_id, a.centroid_id,
        |  list_sum([a.emb[i] * p.q_emb[i] for i in range(1, 65)]) / (a.norm * p.q_norm) AS cand_cos
        | FROM a JOIN p ON a.centroid_id = p.q_cell AND a.vec_id <> p.query_id)
        |SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id AS neighbor_id,
        | centroid_id AS cell, round(cand_cos, 4) AS cos
        |FROM (SELECT *, row_number() OVER
        |  (PARTITION BY query_id ORDER BY cand_cos DESC, vec_id ASC) AS rank FROM cand)
        |WHERE rank <= 3""".stripMargin,
    "sim42_lsh_neardup_capped" ->
      s"""WITH e AS (SELECT vec_id,
         |  list_transform(embedding, v -> CAST(v AS DOUBLE)) AS emb FROM embeddings),
         |b AS (SELECT vec_id, emb, sqrt(list_sum([v * v for v in emb])) AS norm,
         |  CAST($bucketSql AS INTEGER) AS bucket FROM e),
         |ok AS (SELECT bucket FROM (SELECT bucket, count(*) AS n FROM b GROUP BY 1)
         |       WHERE n <= 6),
         |bb AS (SELECT b.* FROM b JOIN ok USING (bucket))
         |SELECT x.vec_id AS vec_a, y.vec_id AS vec_b, x.bucket AS bucket,
         | round(list_sum([x.emb[i] * y.emb[i] for i in range(1, 65)]) / (x.norm * y.norm), 4) AS cos
         |FROM bb x JOIN bb y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
         |WHERE round(list_sum([x.emb[i] * y.emb[i] for i in range(1, 65)]) / (x.norm * y.norm), 4) >= 0.25""".stripMargin,
    "sim43_quantize_int8" ->
      """WITH e AS (SELECT vec_id,
        |  list_transform(embedding, v -> CAST(v AS DOUBLE)) AS emb FROM embeddings),
        |m AS (SELECT vec_id, emb,
        |  list_max(list_transform(emb, x -> abs(x))) AS ma FROM e)
        |SELECT vec_id,
        | array_to_string(CASE WHEN ma = 0 THEN list_transform(emb, x -> 0)
        |  ELSE list_transform(emb, x -> CAST(floor(x * 127.0 / ma + 0.5) AS INTEGER))
        |  END, ',') AS qvec,
        | CAST(ma / 127.0 AS DOUBLE) AS scale
        |FROM m""".stripMargin)
}
