package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Jobs
import graft.functions.GraftFunctions

/** Reusable approximate-nearest-neighbor operators over an embedding column
  * (library form of the sim36-sim40 query surface; see
  * graft.queries.Similarity for the oracle-checked instantiations).
  *
  * Inputs are frames with an id column and an `array<double>` embedding
  * column (cast upstream); all dot products run through the codegen'd
  * `graft_dot` expression — callers must have run
  * `GraftFunctions.register(spark)` once per session (every public method
  * here assumes it; the query layer does it via `withDot`).
  *
  * Top-k contract (every search here, one helper — `topK`): per query,
  * candidates rank by score — cosine descending, or PQ asymmetric distance
  * ascending — with ties broken by candidate id ascending; rank is 1..k,
  * the candidate id is emitted as `neighbor_id`, and a cosine score is
  * emitted as `cos` rounded to 4 places (`adc` is emitted raw). The
  * sim* oracles hash against exactly this ordering.
  *
  * Scale contracts:
  *  - brute-force top-k broadcasts the query set and runs one scan with a
  *    per-group heap (row_number window) — embarrassingly parallel;
  *  - LSH buckets/pairs and IVF cells confine quadratic work to bounded
  *    groups after a single shuffle; the bucket/cell id is the layout key a
  *    100 TB table is partitioned or bucketed by.
  */
object Ann {

  private def dot(a: Column, b: Column): Column = GraftFunctions.dot(a, b)

  /** (vec_id, emb, norm) over a caller's id and embedding columns. */
  private def normed(emb: DataFrame, idCol: String, embCol: String): DataFrame =
    emb.select(col(idCol).as("vec_id"), col(embCol).as("emb"))
      .withColumn("norm", sqrt(dot(col("emb"), col("emb"))))

  /** Cosine of a candidate (emb, norm) against its query (q_emb, q_norm). */
  private def candCos: Column =
    dot(col("emb"), col("q_emb")) / (col("norm") * col("q_norm"))

  /** The per-query top-k every search ends in (contract in the header).
    * `cands` holds one row per (query_id, vec_id) candidate; `score` is
    * its cosine, or its PQ distance when `adc`. With `cell` the
    * candidate's centroid_id is kept as `cell`.
    */
  private def topK(cands: DataFrame, score: Column, adc: Boolean, k: Int,
      cell: Boolean): DataFrame = {
    val s = col("__score")
    val w = Window.partitionBy("query_id")
      .orderBy(if (adc) s.asc else s.desc, col("vec_id").asc)
    val out = Seq(col("query_id"), col("rank"), col("vec_id").as("neighbor_id")) ++
      (if (cell) Seq(col("centroid_id").as("cell")) else Nil) :+
      (if (adc) s.as("adc") else round(s, 4).as("cos"))
    cands.withColumn("__score", score)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(out: _*)
  }

  /** Default ceiling on a forced-broadcast query set (rows). 100k rows of
    * 64-dim doubles is a ~60-80 MB broadcast — already generous for a
    * "small query set"; anything larger is almost certainly a misuse of
    * brute-force/probe search and should fail loud, not OOM the driver.
    */
  val DefaultMaxQueryRows: Long = 100000L

  /** Fail-loud guard in front of every forced broadcast of a
    * caller-supplied frame (query sets, centroid sets, blocklists): the
    * "small frame" caller contract, enforced instead of assumed. Costs
    * one `limit(max+1).count()` job — CollectLimit executes partitions
    * incrementally and stops as soon as max+1 rows exist, so an oversized
    * set is rejected early and a small set pays ~one filtered scan, noise
    * next to the search it precedes. Shared across operator objects
    * (Curation's blocklist guard rides it too). The probe limit clamps to
    * Int.MaxValue WITHOUT computing maxRows+1 first — maxRows =
    * Long.MaxValue must mean "effectively unbounded", not an overflow
    * that wraps to limit(0) and silently disables the guard.
    */
  private[operators] def requireSmallQuerySet(q: DataFrame, what: String,
      maxRows: Long): Unit = {
    require(maxRows >= 1, s"maxQueryRows must be >= 1, got $maxRows")
    val probe =
      if (maxRows >= Int.MaxValue.toLong) Int.MaxValue
      else (maxRows + 1).toInt
    val n = q.limit(probe).count()
    require(n <= maxRows,
      s"$what: frame has > $maxRows rows (found at least $n) — this " +
        "operator broadcasts it to every executor; tighten the input or " +
        "raise the bound if the broadcast is truly intended")
  }

  /** Brute-force cosine top-k of `k` neighbors for each row matching
    * `queryPred`. `maxQueryRows` bounds the forced query-set broadcast
    * (fail-loud contract, not a sampling knob).
    */
  def cosineTopK(emb: DataFrame, idCol: String, embCol: String,
      queryPred: Column, k: Int,
      maxQueryRows: Long = DefaultMaxQueryRows): DataFrame = {
    val e = normed(emb, idCol, embCol)
    val q = e.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"),
        col("norm").as("q_norm"))
    requireSmallQuerySet(q, "cosineTopK", maxQueryRows)
    topK(e.join(broadcast(q), col("vec_id") =!= col("query_id")), candCos,
      adc = false, k, cell = false)
  }

  /** md5-seeded ±1 sign matrix (reproducible in SQL engines): row j's
    * i-th component is +1 iff the first hex digit of md5(salt + "j-i")
    * < '8'. Precomputed once — inlining the digests into the row
    * expression costs rows×dim md5 calls per row.
    */
  private def md5Signs(salt: String, rows: Int,
      dim: Int): IndexedSeq[IndexedSeq[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until rows).map(j => (1 to dim).map { i =>
      val h = md.digest(s"$salt$j-$i".getBytes("UTF-8"))
      if (((h(0) >> 4) & 0xf) < 8) 1.0 else -1.0
    })
  }

  /** LSH hyperplane signs: [[md5Signs]] unsalted, md5("j-i"). */
  def hyperplaneSigns(planes: Int, dim: Int): IndexedSeq[IndexedSeq[Double]] =
    md5Signs("", planes, dim)

  /** Random-projection signs: [[md5Signs]] under the "rp-" salt,
    * md5("rp-j-i"), so projections and LSH planes draw independent signs.
    */
  def projectionSigns(outDim: Int, dim: Int): IndexedSeq[IndexedSeq[Double]] =
    md5Signs("rp-", outDim, dim)

  /** Deterministic random-projection dimensionality reduction (the ±1
    * matrix of Achlioptas 2003 — JL-style distance preservation at
    * outDim ≪ dim): each vector maps to `outDim` signed sums, a pure
    * codegen projection (no shuffle, no UDF, corpus never touched
    * twice). The cheap-space candidate-generation path that complements
    * IVF/PQ/int8: coarse search in the projected space costs
    * outDim/dim of the flops and memory, then [[rerankTopK]] restores
    * exact ranking on the candidate frame only (sim57). Signs inline as
    * literals — the matrix is outDim×dim doubles, never a join input.
    */
  def randomProject(emb: DataFrame, idCol: String, embCol: String,
      dim: Int, outDim: Int, outCol: String = "proj"): DataFrame = {
    require(dim >= 1 && outDim >= 1 && outDim <= dim,
      s"need 1 <= outDim <= dim, got outDim=$outDim dim=$dim")
    val signs = projectionSigns(outDim, dim)
    emb.select(col(idCol).as("vec_id"),
      array((0 until outDim).map(j =>
        dot(col(embCol), array(signs(j).map(lit): _*))): _*).as(outCol))
  }

  /** Random-hyperplane LSH bucket id (0 until 2^planes) for `embCol`. */
  def lshBucket(embCol: String, planes: Int, dim: Int): Column = {
    val signs = hyperplaneSigns(planes, dim)
    (0 until planes)
      .map(j => when(dot(col(embCol), array(signs(j).map(lit): _*)) > 0,
        lit(1 << j)).otherwise(lit(0)))
      .reduce(_ + _)
  }

  /** Vectors with their LSH bucket and bucket population. */
  def lshBuckets(emb: DataFrame, idCol: String, embCol: String,
      planes: Int, dim: Int, extraCols: Seq[String] = Seq.empty): DataFrame = {
    val e = emb.select((Seq(col(idCol).as("vec_id"), col(embCol).as("emb")) ++
        extraCols.map(col)): _*)
      .withColumn("bucket", lshBucket("emb", planes, dim).cast("int"))
    val sizes = e.groupBy("bucket").agg(count(lit(1)).as("bucket_size"))
    e.join(broadcast(sizes), "bucket")
      .select((Seq("vec_id") ++ extraCols ++ Seq("bucket", "bucket_size")).map(col): _*)
  }

  /** Within-bucket near-neighbor pairs above a cosine threshold.
    *
    * `maxBucketSize` (0 = off) caps the quadratic within-bucket self-join —
    * the 100 TB guard against a degenerate bucket (all-similar embeddings
    * hashing to one cell) turning into a single straggler task. Oversize
    * buckets are dropped before the self-join by the shared cap
    * ([[TextDedup.dropOversize]], contract in the TextDedup header); audit
    * them via [[lshBuckets]]' bucket_size.
    */
  def lshNearPairs(emb: DataFrame, idCol: String, embCol: String,
      planes: Int, dim: Int, threshold: Double, maxBucketSize: Long = 0L): DataFrame = {
    // with the cap on, the norm + plane-dot bucket projection is consumed
    // three times (oversize aggregate + both self-join sides) — cache it
    // instead of recomputing planes×dim dot products per consumer. cache()
    // not eager localCheckpoint: laziness means constructing the frame
    // launches no job, and lineage survives executor loss
    val e1 = normed(emb, idCol, embCol)
      .withColumn("bucket", lshBucket("emb", planes, dim).cast("int"))
    val e0 = if (maxBucketSize > 0) e1.cache() else e1
    val e = TextDedup.dropOversize(e0, "bucket", lit(1), maxBucketSize)
    val cosine = dot(col("x.emb"), col("y.emb")) / (col("x.norm") * col("y.norm"))
    e.as("x").join(e.as("y"),
        col("x.bucket") === col("y.bucket") && col("x.vec_id") < col("y.vec_id"))
      .withColumn("cos", round(cosine, 4))
      .filter(col("cos") >= threshold)
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"),
        col("x.bucket").as("bucket"), col("cos"))
  }

  /** The one cell ranking, which [[ivfAssign]] (rank 1) and [[probeCells]]
    * (ranks 1..nprobe) read: every centroid of the frame (centroid_id,
    * c_emb, c_norm) scored against each row's `emb`/`norm` as
    * `__cells`, an array of struct(cos, -id, c). Struct order is the
    * ranking — cos desc, then centroid_id asc, with Spark's NaN-greatest
    * double order — so centroid ids must be numeric (the tiebreak negates
    * them); both fixture families use long ids.
    *
    * Plan shape (the 100 TB contract, pinned in PlanContractsSpec): the
    * centroid frame is collapsed to a single-row `array<struct>` (one tiny
    * single-partition aggregate over k centroid rows) and
    * nested-loop-broadcast onto the rows (one array column per row, NO row
    * expansion). The rows never pass through an exchange at rows×k width;
    * a crossJoin+window form shuffles that expanded frame, which
    * at SemDeDup-scale centroid counts (~100k clusters) is a 100,000× row
    * amplification through a hash exchange.
    */
  private def scoreCells(rows: DataFrame, centroids: DataFrame, emb: String,
      norm: String): DataFrame = {
    val cents = centroids.agg(collect_list(
      struct(col("centroid_id"), col("c_emb"), col("c_norm"))).as("__cents"))
    // collect_list order is nondeterministic — irrelevant: every reader
    // ranks the scored structs by value
    rows.crossJoin(broadcast(cents))
      .withColumn("__cells", transform(col("__cents"), c => struct(
        (dot(col(emb), c("c_emb")) / (col(norm) * c("c_norm"))).as("cos_full"),
        (-c("centroid_id")).as("__neg_id"),
        c.as("c"))))
  }

  /** IVF coarse assignment against a broadcast centroid frame
    * (centroid_id, c_emb, c_norm): each vector's rank-1 cell of
    * [[scoreCells]], picked with `array_max` — a PURE PROJECTION argmin.
    * Keeps emb/norm columns for downstream probing.
    *
    * `maxCentroids` bounds the forced broadcast of the centroid array
    * (same fail-loud stance as [[requireSmallQuerySet]] — 100k × 64-dim
    * doubles ≈ 51 MB is the sane ceiling, not a sampling knob).
    */
  def ivfAssign(emb: DataFrame, idCol: String, embCol: String,
      centroids: DataFrame, maxCentroids: Long = DefaultMaxQueryRows): DataFrame =
    nearestCell(normed(emb, idCol, embCol), centroids, maxCentroids)
      .select("vec_id", "centroid_id", "emb", "norm", "cos")

  /** [[ivfAssign]] over a [[normed]] frame, keeping its other columns and
    * adding the cell's centroid as `c_emb`.
    */
  private def nearestCell(e: DataFrame, centroids: DataFrame,
      maxCentroids: Long = DefaultMaxQueryRows): DataFrame = {
    requireSmallQuerySet(centroids, "ivfAssign centroids", maxCentroids)
    scoreCells(e, centroids, "emb", "norm")
      .withColumn("__best", array_max(col("__cells")))
      .filter(col("__best").isNotNull) // empty centroid set assigns nothing
      .withColumn("centroid_id", col("__best.c.centroid_id"))
      .withColumn("c_emb", col("__best.c.c_emb"))
      .withColumn("cos", round(col("__best.cos_full"), 4))
      .drop("__cents", "__cells", "__best")
  }

  /** Each query's `nprobe` nearest cells: ranks 1..nprobe of
    * [[scoreCells]], so cell rank 1 is the query's own [[ivfAssign]] cell.
    * `q` is (query_id, q_emb, q_norm); the result adds the cell's
    * centroid_id and c_emb, one row per probed cell. The broadcast side of
    * the probe join is queries × nprobe rows, so the guard bounds that
    * product.
    */
  private def probeCells(q: DataFrame, centroids: DataFrame, nprobe: Int,
      what: String, maxQueryRows: Long): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    requireSmallQuerySet(q, what, math.max(1L, maxQueryRows / nprobe))
    scoreCells(q, centroids, "q_emb", "q_norm")
      .withColumn("__cell",
        explode(slice(sort_array(col("__cells"), asc = false), 1, nprobe)))
      .withColumn("centroid_id", col("__cell.c.centroid_id"))
      .withColumn("c_emb", col("__cell.c.c_emb"))
  }

  /** IVF probe: each query searches its `nprobe` nearest centroid cells
    * ([[probeCells]]) for its top-k. nprobe is the production recall knob
    * — nprobe=1 (the query's own cell) misses neighbors that sit just
    * across a cell boundary; candidates stay bounded at nprobe × mean cell
    * size. The probe-cell expansion is one broadcast join: probe rows =
    * queries × nprobe, tiny next to the candidate table.
    */
  def ivfProbe(assigned: DataFrame, centroids: DataFrame, queryPred: Column,
      k: Int, nprobe: Int = 1,
      maxQueryRows: Long = DefaultMaxQueryRows): DataFrame = {
    val q = assigned.filter(queryPred).select(
      col("vec_id").as("query_id"), col("emb").as("q_emb"),
      col("norm").as("q_norm"))
    val probe = probeCells(q, centroids, nprobe, "ivfProbe", maxQueryRows)
      .select(col("query_id"), col("q_emb"), col("q_norm"),
        col("centroid_id").as("q_cell"))
    topK(assigned.join(broadcast(probe),
        col("centroid_id") === col("q_cell") && col("vec_id") =!= col("query_id")),
      candCos, adc = false, k, cell = true)
  }

  /** Fixed-point scale for [[kmeansFit]] mean updates: components are
    * quantized to `round(x * 2^20)` longs so per-cluster component sums
    * are EXACT integer arithmetic — order-independent, hence identical
    * across Spark's partition-dependent aggregation order and any SQL
    * engine. 2^20 is dyadic (the quantization itself introduces no
    * binary rounding beyond the grid) and leaves 2^43 of long headroom
    * above any realistic cluster mass.
    */
  val KmeansQuantScale: Double = 1048576.0

  /** Lloyd's k-means over an embedding column — closes the ANN family's
    * self-containment gap: [[ivfAssign]]/[[semanticDedup]]/[[pqTopK]]
    * consume centroids as given data; this fits them from the corpus
    * itself. Returns one row per surviving centroid:
    * `(centroid_id int, n long, c_emb array<double>)` after exactly
    * `iters` assign→update rounds (an empty cluster simply drops out).
    *
    * Deterministic by construction, in BOTH engines, which is what makes
    * it oracle-able (sim46):
    *  - seeding: the k sample vectors ranked first by
    *    `(md5(cast(id as string)), id)` — a reproducible pseudo-random
    *    draw with no RNG state (both engines produce identical lowercase
    *    hex md5);
    *  - assignment: nearest centroid by squared L2 expanded as
    *    `dot(e,e) - 2*dot(e,c) + dot(c,c)` (every dot the same
    *    left-associated [[graft.functions.ArrayDot]] fold as the SQL
    *    oracle's sum), tiebreak centroid_id asc, argmin as the same
    *    no-expansion projection shape as [[ivfAssign]];
    *  - update: component means from EXACT long sums of
    *    [[KmeansQuantScale]]-quantized components divided once at the
    *    end — double summation order (which differs between engines and
    *    between Spark partitions) never touches the result.
    *
    * Scale shape: per round, one broadcast of the k-centroid array, one
    * projection argmin over the (sampled) corpus, and one
    * partial-aggregated groupBy carrying O(k × dim) longs through the
    * exchange; round frames are lazily checkpointed (the dd36 iterative
    * discipline) so lineage stays flat across iterations. `samplePred`
    * is the production knob: fit on a hash-seeded sample, then assign
    * the full corpus once with [[ivfAssign]].
    */
  def kmeansFit(emb: DataFrame, idCol: String, embCol: String, k: Int,
      iters: Int, dim: Int, samplePred: Column = lit(true)): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val sample = emb.filter(samplePred)
      .select(col(idCol).as("vec_id"), col(embCol).as("emb"))
      .withColumn("__ee", dot(col("emb"), col("emb")))
      .withColumn("__q", transform(col("emb"), x =>
        floor(x * lit(KmeansQuantScale) + lit(0.5)).cast("long")))
    // seed: TakeOrderedAndProject (no global sort) down to k rows, then a
    // one-task window over those k rows for the dense 0..k-1 ids
    val seedW = Window.orderBy(col("__h"), col("vec_id"))
    val init = sample
      .withColumn("__h", md5(col("vec_id").cast("string")))
      .orderBy(col("__h"), col("vec_id")).limit(k)
      .withColumn("centroid_id", (row_number().over(seedW) - 1).cast("int"))
      .select(col("centroid_id"), col("emb").as("c_emb"))
    def step(cents: DataFrame): DataFrame = {
      val one = cents
        .withColumn("c_dot", dot(col("c_emb"), col("c_emb")))
        .agg(collect_list(
          struct(col("centroid_id"), col("c_emb"), col("c_dot"))).as("__cents"))
      val best = array_min(transform(col("__cents"), c =>
        struct(
          (col("__ee") - lit(2.0) * dot(col("emb"), c("c_emb")) + c("c_dot"))
            .as("d2"),
          c("centroid_id").as("centroid_id"))))
      val sums = (0 until dim).map(i =>
        sum(element_at(col("__q"), i + 1)).as(s"__s$i"))
      sample.crossJoin(broadcast(one))
        .withColumn("__best", best)
        .select(col("__best.centroid_id").as("centroid_id"), col("__q"))
        .groupBy("centroid_id")
        .agg(count(lit(1)).as("n"), sums: _*)
        .select(col("centroid_id"), col("n"),
          array((0 until dim).map(i =>
            col(s"__s$i").cast("double") /
              (col("n").cast("double") * lit(KmeansQuantScale))): _*).as("c_emb"))
        .localCheckpoint(false)
    }
    (1 to iters).foldLeft(init.select(col("centroid_id"),
        lit(0L).as("n"), col("c_emb")))((c, _) => step(c))
  }

  /** [[kmeansFit]] output shaped as the centroid frame [[ivfAssign]] /
    * [[semanticDedup]] consume: (centroid_id, c_emb, c_norm).
    */
  def kmeansCentroids(fit: DataFrame): DataFrame =
    fit.select(col("centroid_id"), col("c_emb"),
      sqrt(dot(col("c_emb"), col("c_emb"))).as("c_norm"))

  /** PQ codebook training — the companion gap-closer to [[kmeansFit]]:
    * [[pqEncode]]/[[pqTopK]] consume a codebook as given data; this fits
    * one from the corpus, running the SAME deterministic Lloyd's rounds
    * independently on each contiguous `dim/subspaces`-component slice
    * (product quantization trains per-subspace quantizers by definition —
    * Jégou et al. 2011 §III). Returns one row per (subspace, surviving
    * centroid): `(subspace int, centroid_id int, n long, c_emb
    * array<double> of subDim)`. Every determinism property of
    * [[kmeansFit]] carries over verbatim (same seeding, same exact
    * quantized mean sums), so the fit is fully hash-oracle-able (sim48).
    *
    * Scale shape: `subspaces` independent fits, each one slice-projection
    * pass per round over the (sampled) corpus — work grows with
    * subspaces × iters but every stage is the kmeansFit plan (no new
    * shuffle shapes). A production pipeline feeds the result into a
    * codebook literal for [[pqEncode]] (the encode side needs plan-time
    * constants for codegen; the fit side is data).
    */
  def pqFit(emb: DataFrame, idCol: String, embCol: String, subspaces: Int,
      centroidsPerSub: Int, iters: Int, dim: Int,
      samplePred: Column = lit(true)): DataFrame = {
    require(dim % subspaces == 0,
      s"dim $dim must divide evenly into $subspaces subspaces")
    val subDim = dim / subspaces
    // the per-subspace fits are INDEPENDENT chains of lazily checkpointed
    // rounds, so a sequential map would serialize subspaces × iters rounds
    // of driver planning + round jobs; they are built overlapped, and the
    // union is assembled in subspace order, so output order (and every
    // fit's arithmetic — the subspaces never interact) is unchanged.
    Jobs.inParallel(emb.sparkSession)((0 until subspaces).map { s => () =>
      val sub = emb.select(col(idCol),
        slice(col(embCol), s * subDim + 1, subDim).as("__sub"))
      kmeansFit(sub, idCol, "__sub", centroidsPerSub, iters, subDim,
        samplePred)
        .select(lit(s).as("subspace"), col("centroid_id"), col("n"),
          col("c_emb"))
    }: _*).reduce(_ unionByName _)
  }

  /** Deterministic PQ codebook: centroid value for (subspace, centroid,
    * component) = firstHexDigit(md5("pq-s-c-i")) / 8 - 1 — dyadic rationals
    * in [-1, 0.875], exactly representable in double and printing short, so
    * the SQL oracle can inline the SAME literals and match bit-for-bit.
    * (A production codebook comes from k-means; the operator is agnostic —
    * it takes the codebook as data.)
    */
  def pqCodebook(subspaces: Int, centroidsPerSub: Int,
      subDim: Int): IndexedSeq[IndexedSeq[IndexedSeq[Double]]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until subspaces).map(s => (0 until centroidsPerSub).map(c =>
      (0 until subDim).map { i =>
        val h = md.digest(s"pq-$s-$c-$i".getBytes("UTF-8"))
        ((h(0) >> 4) & 0xf) / 8.0 - 1.0
      }))
  }

  /** The PQ codebook as the nested literal the fused kernels inline. */
  private def bookSeq(subspaces: Int, centroidsPerSub: Int,
      dim: Int): Seq[Seq[Seq[Double]]] = {
    require(dim % subspaces == 0,
      s"dim $dim must divide evenly into $subspaces subspaces")
    pqCodebook(subspaces, centroidsPerSub, dim / subspaces)
      .map(_.map(_.toSeq).toSeq).toSeq
  }

  /** All-subspace PQ code array for an embedding column — shared by
    * [[pqEncode]], [[pqTopK]] and [[ivfPqTopK]]. One `graft_pq_codes`
    * node (r15): the former per-column expansion built subspaces ×
    * centroids × subDim squared-difference Catalyst nodes per call — the
    * expression SIZE, not the arithmetic, was the measured cost (~2 s of
    * driver planning + codegen compile per sim4x/sim5x run against a
    * 0.9 s execution stage). Values are bit-identical (left-associated
    * sums, first-index argmin — the parity contract in
    * [[graft.functions.PqOpsUtil]], spec-pinned against the expanded
    * form in AnnSpec).
    */
  private def pqCodesArr(embCol: String, subspaces: Int,
      centroidsPerSub: Int, dim: Int): Column =
    graft.functions.GraftFunctions.pqCodes(col(embCol),
      bookSeq(subspaces, centroidsPerSub, dim))

  /** Per-query ADC sum against the code array — one `graft_pq_adc` node
    * (see [[pqCodesArr]] for why).
    */
  private def pqAdcExpr(qEmbCol: String, codesCol: String, subspaces: Int,
      centroidsPerSub: Int, dim: Int): Column =
    graft.functions.GraftFunctions.pqAdc(col(qEmbCol), col(codesCol),
      bookSeq(subspaces, centroidsPerSub, dim))

  /** Product quantization encode — the OTHER standard ANN index
    * compression next to [[quantizeInt8]]: the vector is split into
    * `subspaces` contiguous blocks and each block is replaced by the id of
    * its nearest codebook centroid (squared L2, first-index tiebreak), so
    * a 64-dim float vector compresses to `subspaces` small ints + a shared
    * codebook. Pure per-row projection — no shuffle; the codes come from
    * one `graft_pq_codes` node ([[pqCodesArr]]), left-associated sums in
    * the SQL oracle's evaluation order, so distances are bit-identical
    * across engines.
    */
  def pqEncode(emb: DataFrame, idCol: String, embCol: String,
      subspaces: Int, centroidsPerSub: Int, dim: Int): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    emb.select(col(idCol),
        pqCodesArr(embCol, subspaces, centroidsPerSub, dim).as("__codes"))
      .select(col(idCol) +: (0 until subspaces).map(s =>
        element_at(col("__codes"), s + 1).as(s"c$s")): _*)
  }

  /** PQ asymmetric-distance (ADC) top-k search — the companion of
    * [[pqEncode]] and the way a PQ index is actually queried: the corpus
    * side is touched ONLY through its codes (`subspaces` small ints per
    * vector — the 4-byte-per-vector scan that makes 100 TB of embeddings
    * searchable), while each query builds a per-subspace lookup table of
    * exact distances to the codebook centroids and sums table entries
    * selected by the codes. Approximate by construction (distances are to
    * centroids, not original vectors) — the standard IVF-PQ recall/memory
    * trade.
    *
    * Plan shape: codes are a pure projection of the corpus; the query set
    * is guarded ([[DefaultMaxQueryRows]]) then broadcast; the lookup is
    * `element_at` on a per-query distance array built by codegen'd
    * arithmetic — no shuffle of the corpus beyond the final per-query
    * top-k window. Distances are left-associated sums of products of
    * dyadic codebook literals and the query's doubles — bit-identical in
    * any engine evaluating the same order.
    */
  def pqTopK(emb: DataFrame, idCol: String, embCol: String,
      queryPred: Column, k: Int, subspaces: Int, centroidsPerSub: Int,
      dim: Int, maxQueryRows: Long = DefaultMaxQueryRows): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val codes = emb.select(col(idCol).as("vec_id"),
      pqCodesArr(embCol, subspaces, centroidsPerSub, dim).as("__codes"))
    val q = emb.filter(queryPred)
      .select(col(idCol).as("query_id"), col(embCol).as("q_emb"))
    requireSmallQuerySet(q, "pqTopK", maxQueryRows)
    // per subspace: the query's exact distance to each of the centroids,
    // looked up by the corpus row's code
    topK(codes.join(broadcast(q), col("vec_id") =!= col("query_id")),
      pqAdcExpr("q_emb", "__codes", subspaces, centroidsPerSub, dim),
      adc = true, k, cell = false)
  }

  /** IVF-PQ top-k — the production ANN index shape (Jégou et al. 2011's
    * IVFADC), composed from the verified parts the way [[TextDedup
    * .nearDedupPipeline]] composes the dedup stages: [[ivfAssign]] (the
    * no-expansion projection argmin) partitions the corpus into cells,
    * each query ranks the broadcast centroid frame to pick its `nprobe`
    * cells, and candidates inside probed cells are scored by PQ
    * asymmetric distance over their CODES only ([[pqTopK]]'s LUT form).
    * So the corpus is touched exactly twice, both times shuffle-free: one
    * projection pass to (cell, codes) — the 4-byte-per-vector index a
    * 100 TB embedding table persists, bucketed by cell — and one
    * broadcast-join scan of the probed cells; the only exchange is the
    * per-query top-k window over candidate rows (nprobe × mean cell size
    * per query). Approximate on two axes by construction: cell recall
    * (nprobe) and code quantization (ADC) — the standard speed/recall
    * trade, both knobs explicit.
    */
  def ivfPqTopK(emb: DataFrame, idCol: String, embCol: String,
      centroids: DataFrame, queryPred: Column, k: Int, nprobe: Int,
      subspaces: Int, centroidsPerSub: Int, dim: Int,
      maxQueryRows: Long = DefaultMaxQueryRows): DataFrame =
    ivfPq(emb, idCol, embCol, centroids, queryPred, k, nprobe, subspaces,
      centroidsPerSub, dim, maxQueryRows, residual = false)

  /** The one IVF-PQ search behind [[ivfPqTopK]] and [[ivfPqResidualTopK]]:
    * they differ only in what is PQ-coded — the vector, or its residual
    * `x − c(x)` — and what builds each probed cell's lookup table — the
    * query, or its per-cell residual `q − c`.
    */
  private def ivfPq(emb: DataFrame, idCol: String, embCol: String,
      centroids: DataFrame, queryPred: Column, k: Int, nprobe: Int,
      subspaces: Int, centroidsPerSub: Int, dim: Int, maxQueryRows: Long,
      residual: Boolean): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val assigned = nearestCell(normed(emb, idCol, embCol), centroids)
    // the vector, or its residual against the cell's centroid `c_emb`
    def resid(v: String): Column =
      if (residual) zip_with(col(v), col("c_emb"), (x, c) => x - c) else col(v)
    // corpus index: cell + codes ONLY — raw embeddings never leave the
    // projection that encodes them
    val codes = assigned.withColumn("__pq", resid("emb")).select(
      col("vec_id"), col("centroid_id"),
      pqCodesArr("__pq", subspaces, centroidsPerSub, dim).as("__codes"))
    val q = assigned.filter(queryPred).select(col("vec_id").as("query_id"),
      col("emb").as("q_emb"), col("norm").as("q_norm"))
    val probe = probeCells(q, centroids, nprobe,
      if (residual) "ivfPqResidualTopK" else "ivfPqTopK", maxQueryRows)
      .select(col("query_id"), resid("q_emb").as("__q_lut"),
        col("centroid_id").as("q_cell"))
    topK(codes.join(broadcast(probe),
        col("centroid_id") === col("q_cell") && col("vec_id") =!= col("query_id")),
      pqAdcExpr("__q_lut", "__codes", subspaces, centroidsPerSub, dim),
      adc = true, k, cell = true)
  }

  /** Bulk kNN graph over the WHOLE corpus — every vector is a query. The
    * top-k searches above broadcast a GUARDED small query frame; a corpus
    * that needs its full kNN graph (SemDeDup's per-cluster neighbor
    * structure, graph-based clustering, dedup-by-nearest-neighbor) cannot
    * broadcast anything: this is the join form. Both sides of the
    * self-join are the [[ivfAssign]] cell assignment (one projection pass,
    * checkpoint-shared), joined on the cell id — a plain hash-partitioned
    * equi-join whose exchange carries O(corpus) rows, never a broadcast
    * and never an all-pairs product; candidate volume is Σ cell², so the
    * centroid count is the scale knob exactly as in [[semanticDedup]],
    * and `maxCellSize` (0 = off) skips degenerate cells through the
    * shared cap [[TextDedup.dropOversize]] (recall-for-boundedness,
    * audit via the absent rows). Neighbors
    * within the same cell only — nprobe>1 bulk form would union shifted
    * assignments; compose if needed. Output: (query_id, rank,
    * neighbor_id, cell, cos).
    */
  def knnGraph(emb: DataFrame, idCol: String, embCol: String,
      centroids: DataFrame, k: Int, maxCellSize: Long = 0L): DataFrame =
    knnGraphFromAssigned(
      ivfAssign(emb, idCol, embCol, centroids)
        .select("vec_id", "centroid_id", "emb", "norm")
        .localCheckpoint(false),
      k, maxCellSize)

  /** [[knnGraph]]'s core over a prebuilt (vec_id, centroid_id, emb, norm)
    * assignment frame — exposed so [[knnGraphIncremental]] and st69 can run
    * it over the batch-touched cells only.
    */
  def knnGraphFromAssigned(assigned0: DataFrame, k: Int,
      maxCellSize: Long = 0L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val assigned = TextDedup.dropOversize(assigned0, "centroid_id", lit(1),
      maxCellSize)
    val q = assigned.select(col("centroid_id"),
      col("vec_id").as("query_id"), col("emb").as("q_emb"),
      col("norm").as("q_norm"))
    topK(assigned.join(q, Seq("centroid_id"))
        .filter(col("vec_id") =!= col("query_id")),
      candCos, adc = false, k, cell = true)
  }

  /** Incremental kNN-graph maintenance — the dd46/dd51 ingest pattern
    * applied to the graph: when a batch of new vectors arrives, only the
    * CELLS the batch lands in can change (a vector's neighbor list is a
    * within-cell computation), so the existing graph's rows for untouched
    * cells are kept verbatim and only the touched cells re-run the
    * self-join — cost proportional to the batch's cell footprint, never
    * the corpus. `oldGraph` is a prior [[knnGraph]] output over `corpus`,
    * the pre-batch vector set; `batch` is the arriving one, as a frame —
    * the form a streaming maintenance loop needs (`foreachBatch` hands
    * the batch ROWS); corpus ∪ batch is assigned once with its batch rows
    * tagged, and the touched cells are the tagged rows' cells. Returns
    * the graph over corpus ∪ batch, row-identical to a full rebuild
    * (sim54's oracle is sim52's full graph; st57 parity-requires it
    * across micro-batch partitionings).
    * `maxCellSize` must match the value the old graph was built with —
    * recomputed touched cells apply the same degenerate-cell skip, so
    * the row-identity contract holds for capped builds too (0 = off,
    * the default, matching [[knnGraph]]'s).
    */
  def knnGraphIncremental(oldGraph: DataFrame, corpus: DataFrame,
      batch: DataFrame, idCol: String, embCol: String,
      centroids: DataFrame, k: Int, maxCellSize: Long = 0L): DataFrame = {
    def tagged(df: DataFrame, fresh: Boolean): DataFrame =
      normed(df, idCol, embCol).withColumn("__fresh", lit(fresh))
    val assigned = nearestCell(
        tagged(corpus, fresh = false).unionByName(tagged(batch, fresh = true)),
        centroids)
      .select("vec_id", "centroid_id", "emb", "norm", "__fresh")
      .localCheckpoint(false)
    val touched = assigned.filter(col("__fresh"))
      .select(col("centroid_id")).distinct().localCheckpoint(false)
    val kept = oldGraph.join(
      touched.withColumnRenamed("centroid_id", "cell"), Seq("cell"),
      "left_anti")
    val recomputed = knnGraphFromAssigned(
      assigned.join(touched, Seq("centroid_id"), "left_semi"), k, maxCellSize)
    kept.select("query_id", "rank", "neighbor_id", "cell", "cos")
      .unionByName(recomputed)
  }

  /** nprobe recall sweep — the tuning loop that sizes an IVF deployment's
    * recall knob: for each nprobe in 1..`maxNprobe`, probe with
    * [[ivfProbe]] and score against the brute-force ground truth with
    * [[recallAtK]], reporting the aggregate recall plus the MONOTONICITY
    * contract (`recall_non_decreasing`). The contract is provable given
    * consistent (cos desc, id asc) tiebreaks: growing the probed cell
    * set only ever displaces a top-k hit with a candidate that ranks
    * above it globally — itself a hit — so per-query hits cannot drop.
    * The oracle pins the booleans as q28-style TRUE literals: a
    * violation (a tiebreak drift between probe and ground truth) turns
    * the gate red. Corpus work: ONE cell assignment, `maxNprobe` probe
    * scans + one exact scan, all over the checkpointed assignment; the
    * sweep summary is maxNprobe rows, so the ordering window is
    * model-sized.
    */
  def nprobeSweep(emb: DataFrame, idCol: String, embCol: String,
      centroids: DataFrame, queryPred: Column, k: Int,
      maxNprobe: Int): DataFrame = {
    require(maxNprobe >= 1, s"maxNprobe must be >= 1, got $maxNprobe")
    // the two checkpointed corpus passes are independent: build them
    // overlapped (see Jobs.inParallel)
    val Seq(assigned, exact) = Jobs.inParallel(emb.sparkSession)(
      () => ivfAssign(emb, idCol, embCol, centroids).localCheckpoint(false),
      () => cosineTopK(emb, idCol, embCol, queryPred, k).localCheckpoint(false))
    val per = (1 to maxNprobe).map { np =>
      recallAtK(ivfProbe(assigned, centroids, queryPred, k, np), exact,
        "query_id", "neighbor_id")
        .agg(sum(col("hits")).as("sum_hits"), sum(col("k")).as("sum_k"))
        .select(lit(np).as("nprobe"), col("sum_hits"), col("sum_k"))
    }.reduce(_ unionByName _)
    val w = Window.orderBy(col("nprobe").asc)
    per
      .withColumn("recall",
        col("sum_hits").cast("double") / col("sum_k"))
      .withColumn("recall_non_decreasing",
        coalesce(col("recall") >= lag(col("recall"), 1).over(w), lit(true)))
  }

  /** Random-projection outDim sweep — the Johnson-Lindenstrauss
    * quality/cost dial measured, the [[nprobeSweep]] idiom applied to the
    * sim57 coarse path: for each `outDim`, search top-k in the projected
    * space and score recall against the full-precision ground truth.
    *
    * Corpus work: ONE projection pass at the WIDEST outDim plus one exact
    * scan, both checkpointed. [[projectionSigns]] row `j` depends only on
    * `(j, i)`, so every narrower projection is a PREFIX SLICE of the
    * widest — the sweep never re-touches the corpus per dial setting
    * (slicing the checkpointed projected frame is a cheap projection).
    * Unlike nprobe, recall is NOT provably monotone in outDim (each row
    * is an independent JL draw), so the sweep reports the measured
    * trade-off without a monotonicity gate.
    *
    * @return one row per outDim: (out_dim, sum_hits, sum_k, recall)
    */
  def projectionDimSweep(emb: DataFrame, idCol: String, embCol: String,
      queryPred: Column, k: Int, dim: Int, outDims: Seq[Int]): DataFrame = {
    require(outDims.nonEmpty && outDims.forall(d => d >= 1 && d <= dim),
      s"outDims must be non-empty within [1, $dim], got $outDims")
    // independent corpus passes, built overlapped (the nprobeSweep note)
    val Seq(proj, exact) = Jobs.inParallel(emb.sparkSession)(
      () => randomProject(emb, idCol, embCol, dim, outDims.max)
        .localCheckpoint(false),
      () => cosineTopK(emb, idCol, embCol, queryPred, k).localCheckpoint(false))
    outDims.sorted.map { od =>
      val sliced = proj.select(col("vec_id"),
        slice(col("proj"), 1, od).as("proj"))
      recallAtK(cosineTopK(sliced, "vec_id", "proj", queryPred, k), exact,
        "query_id", "neighbor_id")
        .agg(sum(col("hits")).as("sum_hits"), sum(col("k")).as("sum_k"))
        .select(lit(od).as("out_dim"), col("sum_hits"), col("sum_k"))
    }.reduce(_ unionByName _)
      .withColumn("recall", col("sum_hits").cast("double") / col("sum_k"))
  }

  /** Residual IVF-PQ top-k — the faithful IVFADC of Jégou et al. 2011
    * §IV: PQ encodes the RESIDUAL `x − c(x)` (each vector minus its
    * assigned cell's centroid) instead of the raw vector, and each query
    * builds its lookup tables from `q − c` PER PROBED CELL — residuals
    * concentrate around 0 far more tightly than raw vectors, so the same
    * codebook budget quantizes them with much lower distortion (the
    * reason production IVFADC always encodes residuals). The search and
    * its plan shape are [[ivfPqTopK]]'s. Distances stay bit-identical
    * cross-engine: the residual is an element-wise double subtraction and
    * the ADC terms are the same left-associated sums over it.
    */
  def ivfPqResidualTopK(emb: DataFrame, idCol: String, embCol: String,
      centroids: DataFrame, queryPred: Column, k: Int, nprobe: Int,
      subspaces: Int, centroidsPerSub: Int, dim: Int,
      maxQueryRows: Long = DefaultMaxQueryRows): DataFrame =
    ivfPq(emb, idCol, embCol, centroids, queryPred, k, nprobe, subspaces,
      centroidsPerSub, dim, maxQueryRows, residual = true)

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the corpus by nearest centroid, then inside
    * each cluster drop every vector that has a LOWER-id neighbor above the
    * cosine threshold — one deterministic representative survives per
    * ε-ball. The removal rule is the dominated-by-any-lower-id screen (an
    * EXISTS, not a transitive closure): order-independent, one-pass, and
    * exactly reproducible in SQL; it can remove slightly more than a greedy
    * sequential sweep when similarity is non-transitive, which is the
    * conservative direction for a training-data dedup.
    *
    * Scale shape: the centroid assignment is [[ivfAssign]] (broadcast
    * centroids); the quadratic screen is confined within cells, so the
    * caller's centroid count is the scale knob — size k so cells fit a
    * task (SemDeDup runs ~100k clusters at web scale). `maxClusterSize`
    * (0 = off) guards the degenerate-cell case: oversize cells SKIP the
    * screen and keep all members (recall-for-boundedness, the same trade
    * as the other capped families; audit via the returned cell sizes).
    * The assignment frame feeds three consumers (both self-join sides and
    * the survivor anti-join) — cached lazily, columnar and spillable, so
    * the window job runs once. The dup set is anti-joined UNHINTED: AQE
    * broadcasts it when its runtime size fits.
    */
  def semanticDedup(emb: DataFrame, idCol: String, embCol: String,
      centroids: DataFrame, threshold: Double,
      maxClusterSize: Long = 0L): DataFrame = {
    val assigned = ivfAssign(emb, idCol, embCol, centroids)
      .select("vec_id", "centroid_id", "emb", "norm").cache()
    val screened = TextDedup.dropOversize(assigned, "centroid_id", lit(1),
      maxClusterSize)
    val cosine = dot(col("x.emb"), col("y.emb")) / (col("x.norm") * col("y.norm"))
    val dups = screened.as("x").join(screened.as("y"),
        col("x.centroid_id") === col("y.centroid_id")
          && col("x.vec_id") < col("y.vec_id"))
      .filter(round(cosine, 4) >= threshold)
      .select(col("y.vec_id").as("vec_id")).distinct()
    assigned.join(dups, Seq("vec_id"), "left_anti")
      .select("vec_id", "centroid_id")
  }

  /** Brute-force cosine top-k over the int8-QUANTIZED vectors — the
    * memory-tight exact-scan path that closes the loop on
    * [[quantizeInt8]] (which compresses but, alone, searches nothing):
    * a deployment holding 4×-compressed vectors scans THEM, not the
    * original floats. Cosine is scale-invariant, so each vector's
    * dequantization scale cancels and ranking quantized vectors directly
    * approximates the full-precision ranking with only quantization
    * error — no dequantization multiply anywhere in the scan.
    * Deterministic across engines by construction: quantized components
    * are exact small integers (|q| ≤ 127), so every dot is an exact
    * integer-valued double sum. Composed from the verified parts:
    * [[quantizeInt8]] feeding [[cosineTopK]] — same guarded broadcast,
    * same per-query top-k window.
    */
  def quantizedTopK(emb: DataFrame, idCol: String, embCol: String,
      queryPred: Column, k: Int,
      maxQueryRows: Long = DefaultMaxQueryRows): DataFrame = {
    val q8 = quantizeInt8(emb, idCol, embCol)
      .select(col(idCol),
        transform(col("qvec"), x => x.cast("double")).as("__qemb"))
    cosineTopK(q8, idCol, "__qemb", queryPred, k, maxQueryRows)
  }

  /** Prebuilt reference-side cell index for [[semanticScreen]] — the
    * embedding-space analogue of [[TextDedup.buildReferenceIndex]],
    * applying the same one-scan lesson from the start: the reference
    * corpus is cell-assigned ONCE (the [[ivfAssign]] projection, lazily
    * checkpoint-materialized) and every screened batch — including every
    * stream micro-batch (st51) — reads the materialized cells instead of
    * re-assigning a 100 TB reference per call. A production pipeline
    * persists this frame as parquet bucketed by centroid_id.
    */
  def buildSemanticIndex(refEmb: DataFrame, idCol: String, embCol: String,
      centroids: DataFrame): DataFrame =
    ivfAssign(refEmb, idCol, embCol, centroids)
      .select(col("vec_id").as("r_id"), col("centroid_id"),
        col("emb").as("r_emb"), col("norm").as("r_norm"))
      .localCheckpoint(false)

  /** Incremental SemDeDup-style screen of a NEW batch against an
    * existing REFERENCE corpus — the embedding-space twin of
    * [[TextDedup.dedupAgainstIndex]], and the production ingest form of
    * [[semanticDedup]] (which dedups a corpus against itself): a batch
    * vector is dropped iff SOME reference vector in its assigned cell has
    * cosine ≥ `threshold` (an EXISTS against the reference, no closure,
    * no batch-internal comparison — run [[semanticDedup]] on the
    * survivors for that). Returns surviving batch rows as
    * (vec_id, centroid_id).
    *
    * Scale shape: batch assignment is the no-expansion projection argmin;
    * the screen joins the O(batch) assigned frame to the index on the
    * cell id, so candidates are batch × mean-cell-size — proportional to
    * the BATCH, never the reference; the dominated-id set anti-joins
    * back unhinted.
    */
  def semanticScreen(index: DataFrame, batch: DataFrame, idCol: String,
      embCol: String, centroids: DataFrame, threshold: Double): DataFrame = {
    val b = ivfAssign(batch, idCol, embCol, centroids)
      .select("vec_id", "centroid_id", "emb", "norm")
    val cosine = dot(col("emb"), col("r_emb")) / (col("norm") * col("r_norm"))
    val dominated = b.join(index, Seq("centroid_id"))
      .filter(round(cosine, 4) >= threshold)
      .select(col("vec_id")).distinct()
    b.join(dominated, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("centroid_id"))
  }

  /** Exact rerank of a candidate list — the second stage of two-stage
    * retrieval: a compressed index (int8 scan, PQ ADC, IVF cells) returns
    * a generous candidate set cheaply, then only those candidates are
    * rescored against the FULL-precision vectors and cut to the final k.
    * `candidates` is (query_id, neighbor_id) — result-frame-sized, so
    * both vector joins here carry O(queries × candidateK) rows; the
    * corpus is touched only through those lookups (at 100 TB: a
    * broadcast-hash or shuffled-hash join against the id-keyed vector
    * table, AQE's call). Output matches the cosineTopK shape
    * (query_id, rank, neighbor_id, cos).
    */
  def rerankTopK(emb: DataFrame, idCol: String, embCol: String,
      candidates: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val full = normed(emb, idCol, embCol)
    val q = full.select(col("vec_id").as("query_id"),
      col("emb").as("q_emb"), col("norm").as("q_norm"))
    topK(candidates.select(col("query_id"), col("neighbor_id").as("vec_id"))
        .join(full, Seq("vec_id"))
        .join(q, Seq("query_id")),
      candCos, adc = false, k, cell = false)
  }

  /** Symmetric per-vector int8 scalar quantization — the 4× memory
    * compression an ANN index applies before a 100 TB corpus fits in
    * executor/SSD budgets. Each vector is scaled by its own max-abs so
    * values land in [-127, 127] (round-half-up via floor(x + 0.5) — one
    * branch-free expression both engines evaluate identically); `scale` =
    * max_abs/127 rides along for dequantization (`x ≈ q * scale`).
    * All-zero vectors quantize to zeros with scale 0. Pure per-row
    * projection — no shuffle, whole-stage codegen; arithmetic runs in
    * double with the same promotion order as the SQL oracle.
    */
  def quantizeInt8(emb: DataFrame, idCol: String, embCol: String): DataFrame =
    emb
      .withColumn("__ma", array_max(transform(col(embCol), x => abs(x))))
      .select(col(idCol),
        when(col("__ma") === 0, transform(col(embCol), _ => lit(0)))
          .otherwise(transform(col(embCol), x =>
            floor(x * lit(127.0) / col("__ma") + lit(0.5)).cast("int")))
          .as("qvec"),
        (col("__ma") / lit(127.0)).cast("double").as("scale"))

  /** Recall@k of an approximate ANN result against the exact one — the
    * evaluation loop every index deployment runs before choosing its
    * nprobe/bands/threshold knobs. Both inputs are result frames of
    * (queryCol, idCol) rows (anything else is ignored); output is one row
    * per query with `hits` (approx ∩ exact), `k` (exact result size) and
    * `recall` = hits/k. Queries absent from `exact` produce no row;
    * queries absent from `approx` score 0.
    *
    * Scale shape: both frames are O(queries × k) — result-sized, never
    * corpus-sized — so the one join + one aggregate here shuffle only
    * result rows; the division is a single double op on two small exact
    * integers (IEEE-correctly-rounded, so cross-engine deterministic).
    */
  def recallAtK(approx: DataFrame, exact: DataFrame,
      queryCol: String, idCol: String): DataFrame = {
    val a = approx.select(col(queryCol), col(idCol)).distinct()
      .withColumn("__hit", lit(1L))
    exact.select(col(queryCol), col(idCol)).distinct()
      .join(a, Seq(queryCol, idCol), "left")
      .groupBy(queryCol)
      .agg(
        coalesce(sum(col("__hit")), lit(0L)).as("hits"),
        count(lit(1)).as("k"))
      .select(col(queryCol), col("hits"), col("k"),
        (col("hits").cast("double") / col("k")).as("recall"))
  }
}
