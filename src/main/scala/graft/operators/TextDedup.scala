package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Reusable document-deduplication operators (library form of the dd30-dd35
  * query surface; see graft.queries.Dedup for the oracle-checked
  * instantiations over the fixture tables).
  *
  * Scale contract shared by every operator here:
  *  - exact dedup shuffles a 32-byte digest, never the document body;
  *  - every near-dup candidate generator is BLOCKED (caller-chosen blocking
  *    column, LSH band bucket) so no all-pairs join exists;
  *  - hashes are md5-based, reproducible in any engine.
  *
  * Generators split into one candidate filter ([[bucketPairs]]) and one
  * exact verify ([[jaccardVerify]]), the REPOSE / incremental top-k shape.
  *
  * Oversize-key cap ([[dropOversize]]; every `maxDocFreq`/`maxBucketSize`
  * here and in [[Ann]]): a key whose summed weight exceeds the cap loses
  * all its rows. The weight counts DOCUMENTS (a collapsed group weighs its
  * member count), so capped results equal the uncollapsed form's; 0 is
  * off; the anti-join is unhinted because the heavy set is O(rows/cap),
  * unbounded on boilerplate — AQE broadcasts it only when its runtime size
  * fits (the [[applyDedup]] stance); pairs inside a dropped key are lost by
  * design (audit: [[minhashLshBucketStats]]).
  *
  * Read-once ([[nearDedupPipeline]], the composed operator a curation run
  * calls): it reads its input once and returns its survivors lazily
  * materialized, so its lineage is truncated there and no consumer re-runs
  * the plan above it.
  */
object TextDedup {

  private def toks(text: Column): Column = split(text, " ")

  /** Local expansion of a sorted array into its C(n,2) ordered element
    * pairs — the task-local pair generator every blocked candidate path
    * shares (`slice(arr, i + 2, ...)` pairs element i with every LATER
    * element, so (a, b) is emitted exactly once with a before b in array
    * order). Wrap in `explode(...)`.
    */
  private def pairwise(arr: Column, f: (Column, Column) => Column): Column =
    flatten(transform(arr, (x, i) =>
      transform(slice(arr, i + 2, size(arr)), y => f(x, y))))

  /** Exploded (doc_a, doc_b) pairs of one group's sorted member ids. */
  private def idPairs(ids: Column): Column =
    explode(pairwise(ids, (x, y) => struct(x.as("doc_a"), y.as("doc_b"))))

  /** In-bucket pair expansion: ONE shuffle collects each `key` bucket's
    * `item`s sorted, and its pairs explode locally as `f(x, y)` into `__p`
    * — no self-join (graft.queries.Dedup.dd33 says why that matters). */
  private def bucketPairs(rows: DataFrame, key: String, item: Column,
      f: (Column, Column) => Column): DataFrame =
    rows.groupBy(key).agg(sort_array(collect_list(item)).as("__xs"))
      .filter(size(col("__xs")) > 1)
      .select(explode(pairwise(col("__xs"), f)).as("__p"))

  /** Every member of group A against every member of group B (`ids_a` ×
    * `ids_b`), normalized to doc_a < doc_b, with `carry` riding along. */
  private def crossMembers(pairs: DataFrame, carry: String*): DataFrame = {
    val rest = carry.map(col)
    pairs.select(Seq(explode(col("ids_a")).as("__x"), col("ids_b")) ++ rest: _*)
      .select(Seq(col("__x"), explode(col("ids_b")).as("__y")) ++ rest: _*)
      .select(Seq(least(col("__x"), col("__y")).as("doc_a"),
        greatest(col("__x"), col("__y")).as("doc_b")) ++ rest: _*)
  }

  /** Member pairs of a collapsed (bucket, `gkey`, ids) frame: cross-group
    * pairs from co-bucketed groups, within-group pairs from each surviving
    * bucket row (so a cap gates them as in the uncollapsed form). Returns
    * (doc_a, doc_b, key_a, key_b); repeats across buckets — distinct(). */
  private def memberPairs(buckets: DataFrame, gkey: String): DataFrame = {
    val cross = crossMembers(
      bucketPairs(buckets, "bucket", struct(col(gkey), col("ids")), (x, y) =>
        struct(x.getField("ids").as("ids_a"), y.getField("ids").as("ids_b"),
          x.getField(gkey).as("key_a"), y.getField(gkey).as("key_b")))
        .select("__p.*"),
      "key_a", "key_b")
    val within = buckets.filter(size(col("ids")) >= 2)
      .select(idPairs(col("ids")).as("__p"),
        col(gkey).as("key_a"), col(gkey).as("key_b"))
      .select("__p.doc_a", "__p.doc_b", "key_a", "key_b")
    cross.unionByName(within)
  }

  /** The Jaccard score every verifier here emits: round(common/union, 6). */
  private def jaccard(common: Column, union: Column): Column =
    round(common.cast("double") / union, 6)

  /** Exact Jaccard verify of candidate pairs carrying both sides' shingle
    * arrays in `a` and `b`, intersected locally: [[jaccard]] >= threshold. */
  private def jaccardVerify(cand: DataFrame, a: String, b: String,
      threshold: Double): DataFrame =
    cand.withColumn("__common", size(array_intersect(col(a), col(b))))
      .withColumn("__union", size(col(a)) + size(col(b)) - col("__common"))
      .filter(col("__union") > 0 &&
        jaccard(col("__common"), col("__union")) >= threshold)

  /** The cap's census: (key, `__n` = summed `weight`, `__dropped`). */
  private[operators] def keyCensus(rows: DataFrame, key: String,
      weight: Column, max: Long): DataFrame =
    rows.groupBy(key).agg(sum(weight).as("__n"))
      .withColumn("__dropped", lit(max > 0) && col("__n") > max)

  /** The keys a cap of `max` drops, censused over `census` (which may span
    * more than the capped frame: [[dedupAgainstIndex]]'s two sides). */
  private[operators] def oversizeKeys(census: DataFrame, key: String,
      weight: Column, max: Long): DataFrame =
    keyCensus(census, key, weight, max).filter(col("__dropped")).select(key)

  /** `rows` minus the `oversize` keys: the cap's one, unhinted anti-join. */
  private[operators] def dropOversize(rows: DataFrame, key: String,
      oversize: DataFrame): DataFrame =
    rows.join(oversize, Seq(key), "left_anti")

  /** The cap over one frame; the identity when `max <= 0`. It never
    * checkpoints or caches: callers materialize where their plan needs. */
  private[operators] def dropOversize(rows: DataFrame, key: String,
      weight: Column, max: Long): DataFrame =
    if (max <= 0) rows
    else dropOversize(rows, key, oversizeKeys(rows, key, weight, max))

  /** One row per DISTINCT text: representative id (the minimum), the
    * sorted member-id array, and the text itself — the exact-duplicate
    * collapse the round-5 candidate generators score once and expand back.
    *
    * Texts (and lines, in [[lineDedup]]'s census) are equated by
    * md5(content), the same stance as [[exactDedup]]: a collision would
    * merge two distinct texts into one group. At 2^64 texts the birthday
    * bound on a 128-bit digest puts that probability near 2^-1; at any
    * plausible corpus (2^40 documents) it is under 2^-47 — accepted, and
    * cheaper than shuffling text bodies just to break ties the digest
    * already breaks.
    */
  private def textGroups(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"), col(textCol).as("__text"))
      .groupBy(md5(col("__text")).as("__tkey"))
      .agg(min(col("doc_id")).as("rep"),
        sort_array(collect_list(col("doc_id"))).as("ids"),
        first(col("__text")).as("__text"))

  /** Exact content dedup: groups by md5(text); canonical row = min id. */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("fp"))
      .agg(count(lit(1)).as("cnt"), min(col(idCol)).as("canonical_id"))

  /** Boilerplate-line removal (the CCNet/RefinedWeb line-level dedup):
    * drop every line whose document frequency — the number of DISTINCT
    * documents containing it — reaches `minDocFreq`, and reassemble each
    * document's surviving lines in their original order. Cookie banners,
    * nav menus and footers repeat across a site's pages; removing them
    * line-by-line preserves the unique prose that document-level dedup
    * would keep verbatim.
    *
    * Returns (idCol, textCol, n_removed): the cleaned text (empty string
    * when every line was boilerplate — rows are never dropped) plus the
    * per-document removed-line count, the audit metric a curation run
    * monitors. Only the id and rebuilt text are returned — at corpus
    * scale the caller joins back by id rather than riding every
    * passthrough column through the explode.
    *
    * Scale shape: the census groups by a 16-byte line digest, so the
    * shuffle carries digests + ids, never line bodies; the boilerplate
    * set joins back UNHINTED (it is O(lines/minDocFreq), unbounded on a
    * template-heavy corpus — AQE broadcasts it only when its runtime size
    * fits, the applyDedup stance); the exploded line frame feeds both the
    * census and the rebuild, so it is lazily checkpoint-materialized once
    * (the ngramJaccardPairs posting-frame pattern). Reassembly is one
    * partial-aggregated groupBy on the id; a document's lines fit in its
    * task by the same argument its text column does.
    */
  def lineDedup(docs: DataFrame, idCol: String, textCol: String,
      minDocFreq: Long, sep: String = "\n"): DataFrame = {
    require(minDocFreq >= 2, s"minDocFreq must be >= 2, got $minDocFreq")
    graft.functions.GraftFunctions.register(docs.sparkSession)
    // null text reads as empty (one '' line): posexplode of a null array
    // emits NO rows, which would silently drop the document and break the
    // rows-are-never-dropped contract
    val base = docs.select(col(idCol),
      coalesce(col(textCol), lit("")).as("__text"))
    // the checkpointed frame carries (id, pos, digest) ONLY — line text
    // never enters a shuffle: the census and the hot semi-join move
    // 32-char digests, the rebuild moves int positions, and the final
    // per-doc strip re-splits the original text in one sweep
    // (graft_strip_spans at n=1, the dd50 idiom at line grain; the r8
    // form shuffled every (pos, line-text) struct through the groupBy
    // and array_sorted them per doc)
    val lines = base
      .select(col(idCol), posexplode(split(col("__text"),
        java.util.regex.Pattern.quote(sep)))
        .as(Seq("__pos", "__line")))
      .select(col(idCol), col("__pos"), md5(col("__line")).as("__lh"))
      .localCheckpoint(false)
    val hot = lines.groupBy(col("__lh"))
      .agg(countDistinct(col(idCol)).as("__df"))
      .filter(col("__df") >= minDocFreq)
      .select(col("__lh"))
    val starts = lines.join(hot, Seq("__lh"), "left_semi")
      .groupBy(col(idCol)).agg(collect_list(col("__pos")).as("__starts"))
    val stripped = graft.functions.GraftFunctions.stripSpans(col("__text"),
      coalesce(col("__starts"), array().cast("array<int>")), 1, sep)
    base.join(starts, Seq(idCol), "left")
      .select(col(idCol), stripped.as("__s"))
      .select(col(idCol),
        col("__s.text").as(textCol),
        col("__s.n_removed").as("n_removed"))
  }

  /** N-gram Jaccard near-dup pairs via a blocked inverted index:
    * |A∩B| / |A∪B| >= threshold, candidates restricted to equal blockCol.
    * `maxDocFreq` (0 = off) drops shingles whose CORPUS-GLOBAL document
    * frequency exceeds the cap (not per block — a boilerplate shingle is
    * noise wherever it appears) — the 100 TB knob: ultra-frequent shingles
    * create quadratic posting-list blowups while contributing no
    * discrimination.
    *
    * Shape (round-5 upgrade): EXACT duplicates are collapsed before any
    * pairwise scoring. Identical (block, text) documents share every
    * shingle, so each distinct text is scored ONCE through the inverted
    * index (posting frame + codegen'd equi-self-join on (shingle, block)),
    * then group members are expanded back afterwards — cross-group pairs
    * inherit the group pair's (common, jaccard) verbatim, within-group
    * pairs are J=1.0 by construction. On a corpus with duplication factor
    * d this cuts the join's quadratic blowup by d² (measured 116 s → see
    * BASELINE.md on the 10x-duplicated heavy corpus) while being
    * output-identical on any corpus; exact dedup BEFORE near-dup scoring
    * is also the production ordering, so the collapsed path is the shape
    * a 100 TB run takes anyway. `maxDocFreq` keeps its corpus-global
    * semantics: document frequency is the SUM OF GROUP SIZES per shingle,
    * not the distinct-text count. A pathological group (10⁶ identical
    * docs) still implies C(m,2) output pairs — that is the operator's
    * contract; route exact duplicates to [[exactDedup]] first at scale.
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      blockCol: String, threshold: Double, maxDocFreq: Long = 0L,
      reliable: Boolean = false): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    // materialized frames are each consumed 2-3 times — rebuilding beats
    // nothing here, and plan truncation keeps the self-join analyzable.
    // Local checkpoints die with their executors, so on a real cluster
    // where the surrounding pipeline cannot simply re-run this stage, pass
    // reliable=true (and set spark.sparkContext.setCheckpointDir) to
    // persist to the checkpoint dir instead (the dupClusters trade-off, as
    // a knob). Storage caveat: unlike local checkpoints (ContextCleaner-
    // reclaimed), reliable checkpoint files are NOT auto-deleted unless
    // spark.cleaner.referenceTracking.cleanCheckpoints=true — a recurring
    // pipeline must set that or clean the dir per batch, or the persisted
    // frames accumulate at O(batches x corpus shingles).
    def materialize(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint(true) else df.localCheckpoint(true)
    // 1. collapse exact duplicates: one representative per (block, text)
    val groups = materialize(docs
      .select(col(idCol).as("doc_id"), col(blockCol).as("block"),
        col(textCol).as("__text"))
      .groupBy(col("block"), md5(col("__text")).as("__tkey"))
      .agg(min(col("doc_id")).as("rep"),
        sort_array(collect_list(col("doc_id"))).as("ids"),
        count(lit(1)).as("gsize"),
        first(col("__text")).as("__text")))
    // 2. inverted index over representatives only
    val sh0 = groups.select(col("rep").as("doc_id"), col("block"),
      col("gsize"), explode(graft.functions.GraftFunctions.shingles(col("__text")))
        .as("shingle"))
    // the hot-shingle cap weighs each posting by its group size, so
    // document frequency keeps counting DOCUMENTS
    val sh = materialize(dropOversize(sh0, "shingle", col("gsize"), maxDocFreq))
    val n = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val repPairs = sh.as("a")
      .join(sh.as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.block") === col("b.block") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("rep_a"), col("b.doc_id").as("rep_b"))
      .agg(count(lit(1)).as("common"))
      .join(n.select(col("doc_id").as("rep_a"), col("n_sh").as("n_a")), "rep_a")
      .join(n.select(col("doc_id").as("rep_b"), col("n_sh").as("n_b")), "rep_b")
      .withColumn("jaccard",
        jaccard(col("common"), col("n_a") + col("n_b") - col("common")))
      .filter(col("jaccard") >= threshold)
    // 3a. expand cross-group pairs; (common, jaccard) carry over since
    // members are byte-identical to their representative
    val cross = crossMembers(repPairs
      .join(groups.select(col("rep").as("rep_a"), col("ids").as("ids_a")), "rep_a")
      .join(groups.select(col("rep").as("rep_b"), col("ids").as("ids_b")), "rep_b"),
      "common", "jaccard")
    // 3b. within-group pairs: J = 1.0 exactly; the join with n drops groups
    // whose representative has no (surviving) shingles — identical to the
    // uncollapsed formulation, where such docs never enter the index
    if (threshold > 1.0) return cross
    val within = groups.filter(col("gsize") >= 2)
      .join(n.select(col("doc_id").as("rep"), col("n_sh")), "rep")
      .select(idPairs(col("ids")).as("p"), col("n_sh"))
      .select(col("p.doc_a"), col("p.doc_b"), col("n_sh").as("common"),
        lit(1.0).as("jaccard"))
    cross.unionByName(within).select("doc_a", "doc_b", "common", "jaccard")
  }

  /** k seeded-md5 MinHash signature columns mh1..mhk: signature i is the
    * minimum of md5(i || shingle) over the document's bigram shingles, all
    * k computed in ONE traversal of the shingle array by the native
    * `graft_minhash` expression (graft.functions.MinHashSigs).
    */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
      k: Int, extraCols: Seq[String] = Nil): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val sig = graft.functions.GraftFunctions.minhash(
      graft.functions.GraftFunctions.shingles(col(textCol)), k)
    docs.select(col(idCol).as("doc_id") +: extraCols.map(col) ++:
      (1 to k).map(i => element_at(sig, lit(i)).as(s"mh$i")): _*)
  }

  /** Production-scale MinHash (Broder's estimator): ONE md5 digest per
    * shingle, k universal-hash permutations of the truncated digest —
    * k× fewer digest computations than the seeded-md5 form, the version a
    * 100 TB dedup runs at k = 64-128. Signature values are longs (cheaper
    * to band/compare than 32-char hex strings). Coefficients are
    * deterministic and engine-reproducible
    * (graft.functions.MinHashUtil.aCoef/bCoef).
    */
  def minhashSignaturesUniversal(docs: DataFrame, idCol: String,
      textCol: String, k: Int): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val sig = graft.functions.GraftFunctions.minhashU(
      graft.functions.GraftFunctions.shingles(col(textCol)), k)
    docs.select(col(idCol).as("doc_id") +:
      (1 to k).map(i => element_at(sig, lit(i)).as(s"mh$i")): _*)
  }

  /** (doc_id, bucket) rows: one banded-minhash bucket id per band per doc. */
  private def lshBandBuckets(docs: DataFrame, idCol: String, textCol: String,
      bands: Int, rowsPerBand: Int,
      extraCols: Seq[String] = Nil): DataFrame = {
    val k = bands * rowsPerBand
    val sigs = minhashSignatures(docs, idCol, textCol, k, extraCols)
    val bandCols = (0 until bands).map { b =>
      val parts = (1 to rowsPerBand).map(r => col(s"mh${b * rowsPerBand + r}"))
      concat(lit(s"${b + 1}:"), md5(concat(parts: _*)))
    }
    // a doc with <2 tokens has no shingles → null signatures → null band
    // buckets; NULL is a groupBy key, so without this filter every
    // signature-less doc would collapse into one bogus bucket and pair
    // with all the others (the SQL oracle's equi-join drops NULL keys)
    sigs.select(col("doc_id") +: extraCols.map(col) :+
        explode(array(bandCols: _*)).as("bucket"): _*)
      .filter(col("bucket").isNotNull)
  }

  /** Band-bucket postings of a document frame — (doc_id, bucket), one row
    * per band per shingled document: the SIGNATURE STORE incremental
    * cluster maintenance persists between batches (see [[mergeClusters]]).
    * Bucket ids are band-prefixed, so equal buckets always mean the same
    * band — identical to the pairing key [[minhashLshPairs]] uses.
    * Signature-less docs (< 2 tokens) emit no rows, mirroring the
    * NULL-key drop of the SQL oracle's equi-join.
    */
  def bandPostings(docs: DataFrame, idCol: String, textCol: String,
      bands: Int, rowsPerBand: Int): DataFrame =
    lshBandBuckets(docs, idCol, textCol, bands, rowsPerBand)

  /** Incremental duplicate-cluster maintenance (r13) — the operator that
    * makes dd56's "clusters are maintained, never rebuilt per split"
    * production shape real: fold ONE new batch of documents into an
    * existing (doc_id, cluster_id) label store + its [[bandPostings]]
    * signature store, and get back labels IDENTICAL to a from-scratch
    * [[dupClusters]] over everything ingested so far (set-exact, because
    * LSH bucket membership is per-document arithmetic — a pair exists iff
    * the two docs share a band bucket, regardless of WHEN each arrived, so
    * batch-internal pairs + batch-cross-store pairs over all batches
    * enumerate exactly the full run's pair set).
    *
    * Per-batch cost is BATCH-proportional, never corpus-proportional:
    *  - the batch's postings probe the signature store with one
    *    bucket-keyed join (the inverted-index probe — only co-bucketed
    *    rows survive);
    *  - prior connectivity enters as STAR edges (member → canonical) of
    *    AFFECTED clusters only — clusters incident to a new pair — so the
    *    pointer-jumping relabel runs on new pairs + touched members, a
    *    graph the size of the batch's blast radius. Untouched clusters'
    *    labels pass through without a shuffle beyond the anti-join cut.
    *  - label correctness needs no global pass: every affected cluster
    *    contributes all its members via stars, so the merged component's
    *    minimum id is the global minimum.
    *
    * @param existingLabels   (doc_id, cluster_id) from prior batches
    *                         (empty frame for the first)
    * @param existingPostings (doc_id, bucket) signature store of ALL
    *                         prior docs
    * @param batch            the new documents (ids disjoint from prior)
    * @return (updated labels over everything ingested, the batch's
    *         postings — append them to the store)
    */
  def mergeClusters(existingLabels: DataFrame, existingPostings: DataFrame,
      batch: DataFrame, idCol: String, textCol: String,
      bands: Int, rowsPerBand: Int,
      maxIter: Int = 20): (DataFrame, DataFrame) = {
    // three consumers (internal pairs, cross probe, the returned store
    // rows) — materialize so the k-digest signature stage runs once
    val newPost = bandPostings(batch, idCol, textCol, bands, rowsPerBand)
      .localCheckpoint(false)
    val internal = newPost.select(col("doc_id").as("doc_a"), col("bucket"))
      .join(newPost.select(col("doc_id").as("doc_b"), col("bucket")),
        "bucket")
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
    val cross = newPost
      .join(existingPostings.select(col("doc_id").as("doc_o"),
        col("bucket")), "bucket")
      .filter(col("doc_id") =!= col("doc_o"))
      .select(least(col("doc_id"), col("doc_o")).as("doc_a"),
        greatest(col("doc_id"), col("doc_o")).as("doc_b"))
    val pairs = internal.union(cross).distinct().localCheckpoint(false)
    // blast radius: clusters incident to any pair endpoint; their FULL
    // membership re-labels, everything else passes through. The joins are
    // deliberately unhinted (the applyDedup economics — the touched set is
    // batch-bounded but adversarially could be large; AQE decides).
    val ends = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id"))).distinct()
    val touched = existingLabels.join(ends, "doc_id")
      .select("cluster_id").distinct()
    val affected = existingLabels.join(touched, "cluster_id")
    val starEdges = affected.filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as("doc_a"), col("cluster_id").as("doc_b"))
    val relabeled = dupClusters(pairs.unionByName(starEdges), maxIter)
    val untouched = existingLabels.join(touched, Seq("cluster_id"),
      "left_anti")
    (untouched.select("doc_id", "cluster_id").unionByName(relabeled),
      newPost)
  }

  /** LSH candidate pairs from banded minhash signatures: signatures are
    * computed once, exploded to (band, bucket) rows, and pairs expand
    * LOCALLY inside each bucket group after one shuffle (no self-join — see
    * graft.queries.Dedup.dd33 scaladoc for why that shape matters).
    * `rowsPerBand` consecutive signature columns hash into one band bucket.
    *
    * `maxBucketSize` (0 = off) caps a band bucket's population in
    * documents: a degenerate bucket (boilerplate-heavy corpus collapsing to
    * one signature) would otherwise accumulate an unbounded id list in one
    * task and expand quadratically. Oversize buckets are dropped BEFORE the
    * collect, never materialized (cap contract: object header).
    */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
      bands: Int, rowsPerBand: Int, maxBucketSize: Long = 0L): DataFrame = {
    // round-5 collapse (the simhashNearPairs treatment): identical texts
    // share every signature and hence every band bucket, so signatures —
    // k digests per shingle, the dominant cost — are computed once per
    // DISTINCT text, with the member-id array riding through the banding
    // into [[memberPairs]]; the final distinct() dedups multi-band
    // emissions. No join is introduced.
    // the banding frame feeds two consumers (cross + within; three with
    // the cap census) under different shuffle boundaries — lazily
    // checkpoint-materialize so the signature stage (k digests per
    // shingle) runs once, not once per branch (the tokenBudget pattern)
    val bandsDf = lshBandBuckets(textGroups(docs, idCol, textCol), "rep",
      "__text", bands, rowsPerBand, extraCols = Seq("ids"))
      .localCheckpoint(false)
    val capped =
      if (maxBucketSize > 0)
        dropOversize(bandsDf, "bucket", size(col("ids")), maxBucketSize)
          .localCheckpoint(false)
      else bandsDf
    memberPairs(capped, "doc_id").select("doc_a", "doc_b").distinct()
  }

  /** Duplicate-cluster formation: connected components over a near-dup
    * pair frame (doc_a, doc_b), labeling every member with the minimum doc
    * id reachable through the pair graph — the cluster's canonical id.
    * This is the step that turns pairwise candidates into the actual dedup
    * decision (keep canonical, drop the rest). Ids must be bigint (every
    * id column in the registry is); any other type fails loud.
    *
    * Algorithm: iterative min-label propagation WITH pointer jumping —
    * each round a node takes the min of its own label, its neighbors'
    * labels (the round's one pass over the edges), and its label's label
    * (the path-halving step). Neighbor propagation alone needs
    * O(diameter) rounds — a 4000-node near-dup chain would blow any
    * iteration budget; the label-of-label shortcut doubles the jump
    * distance per round, giving O(log diameter) convergence (the
    * hash-to-min construction). Round 1 is fused into initialization,
    * and convergence is counted every second round (both explained in
    * the loop). The loop is driver-controlled like every iterative graph
    * algorithm on Spark (GraphX Pregel does the same); per-round work is
    * fully distributed, the driver only checks the convergence counter.
    * `maxIter` bounds adversarial graphs. The fixed point is pinned by a
    * union-find property test (CurationSpec) and the dd36/dd58 oracles.
    *
    * The rounds run on raw RDDs: a DataFrame round re-plans an identical
    * three-join tree through Catalyst every time, measured at 0.6-1.3 s
    * of driver planning per round against a 0.15-0.25 s count job (sf0.1,
    * BASELINE r15); an RDD round builds its DAG in microseconds.
    *
    * Edge layout, sized for the 100 TB point where edges >> nodes: edges
    * are `partitionBy(HashPartitioner(n))`-ed ONCE and packed into
    * primitive long[] pairs per partition (16 bytes/edge resident, zero
    * per-round deserialization); every round resolves labels against
    * them via positional zipPartitions (narrow by construction — pinned
    * in PlanContractsSpec by dependency type), so the edge side never
    * moves again. Per round the distributed work is three node-sized
    * exchanges: neighbor-min with map-side combine, the jump request
    * re-key, the jump reply re-key home. Duplicate edges are NOT removed:
    * min is insensitive to them and the map-side combine absorbs them.
    * The loop grain is scale-adaptive: the partition count derives from
    * the measured edge count (2M edges, ~32 MB packed, per task), capped
    * at spark.sql.shuffle.partitions.
    *
    * Fault tolerance: edges and label generations are persisted, so a
    * lost block recomputes from lineage back to `pairs`. When the
    * surrounding pipeline cannot re-run the stage (e.g. `pairs` hangs off
    * local checkpoints, which die with their executors), pass
    * `reliable = true` with `SparkContext.setCheckpointDir` set — it
    * fails loud without one. The packed edges and the label generations
    * are then RDD-checkpointed to that dir, which truncates the loop's
    * lineage there. Storage caveat (as [[ngramJaccardPairs]]): reliable
    * checkpoint files are NOT auto-deleted unless
    * spark.cleaner.referenceTracking.cleanCheckpoints=true.
    */
  def dupClusters(pairs: DataFrame, maxIter: Int = 20,
      reliable: Boolean = false): DataFrame =
    dupClustersAt(pairs, maxIter, reliable, EdgesPerTask)

  /** The cluster loop's grain: 2M edges (~32 MB packed) per task. */
  private val EdgesPerTask = 2000000L

  /** [[dupClusters]] at an explicit loop grain of `edgesPerTask` edges per
    * task; a spec reaches a multi-partition loop on a small graph here.
    */
  private[operators] def dupClustersAt(pairs: DataFrame, maxIter: Int,
      reliable: Boolean, edgesPerTask: Long): DataFrame = {
    require(maxIter >= 1, s"maxIter must be >= 1, got $maxIter")
    val idTypes = Seq("doc_a", "doc_b").map(pairs.schema(_).dataType)
    require(idTypes.forall(_ == org.apache.spark.sql.types.LongType),
      "dupClusters: doc_a/doc_b must be bigint, got " +
        idTypes.map(_.simpleString).mkString("/"))
    val spark = pairs.sparkSession
    require(!reliable || spark.sparkContext.getCheckpointDir.isDefined,
      "dupClusters(reliable = true) needs a checkpoint dir: call " +
        "SparkContext.setCheckpointDir first")
    import org.apache.spark.HashPartitioner
    import org.apache.spark.rdd.RDD
    import org.apache.spark.storage.StorageLevel
    import spark.implicits._
    // reliable mode marks each generation before the job that first
    // computes it; Spark writes it to the checkpoint dir once that job
    // ends (a generation first computed inside a LATER generation's job
    // is skipped — the later write truncates the lineage past it)
    def mark[T](rdd: RDD[T]): RDD[T] = { if (reliable) rdd.checkpoint(); rdd }
    // SCALE-ADAPTIVE loop grain (r16; guide §2.2 "fewer, larger reduce
    // partitions"): the loop's stage count is fixed (~3 exchanges × rounds)
    // but every stage pays a per-task scheduling floor, so running a
    // few-thousand-edge graph at `spark.sql.shuffle.partitions` tasks is
    // pure overhead — measured at sf0.1/32 partitions as ~0.5 s per
    // convergence-check job against ~3k live label rows.
    // The partition count therefore derives from the MEASURED edge count
    // (`edgesPerTask` edges per task), capped at the session's shuffle
    // partitions — a big graph on a real cluster still gets the full
    // configured parallelism, a small one stops paying 32× floors. The
    // count job materializes the raw edge RDD (the upstream candidate
    // pipeline runs exactly once, same as before — it previously ran inside
    // round 1's first stage), and the partitioned copy replaces it
    // immediately.
    val raw: RDD[(Long, Long)] = pairs
      .select(col("doc_a"), col("doc_b")).as[(Long, Long)].rdd
      .flatMap { case (a, b) => Iterator((a, b), (b, a)) }
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    val edgeCnt = raw.count()
    val confN = spark.sessionState.conf.numShufflePartitions
    val n = math.max(1L, math.min(confN.toLong,
      (edgeCnt + edgesPerTask - 1) / edgesPerTask)).toInt
    val part = new HashPartitioner(n)
    // PACKED edge storage (r16; guide §1.2 per-task work): every round
    // re-reads the whole edge set, and the r15 form paid ~150 ms/round at
    // sf0.1 re-deserializing the MEMORY_AND_DISK_SER boxed (Long, Long)
    // tuples through the join's cogroup (TimeQueries stage table — the
    // `map at TextDedup` stages reading input=50k). The edges now persist
    // DESERIALIZED but packed as two primitive long[] per partition:
    // 16 bytes/edge — SMALLER than the serialized-tuple form (which the
    // r15 loop chose for footprint) — with ZERO per-round deserialization
    // and no cogroup on the edge side. Rounds align to the labels
    // positionally via zipPartitions: partition i of every label
    // generation holds exactly the ids with hash(id) % n == i (round 1
    // emits them from the src-partitioned edges; each merge re-emits its
    // input partition's keys), so no partitioner object is needed and no
    // round moves an edge.
    val edges: RDD[(Array[Long], Array[Long])] = raw
      .partitionBy(part)
      .mapPartitions({ it =>
        var srcs = new Array[Long](1024)
        var dsts = new Array[Long](1024)
        var m = 0
        while (it.hasNext) {
          val e = it.next()
          if (m == srcs.length) {
            srcs = java.util.Arrays.copyOf(srcs, m * 2)
            dsts = java.util.Arrays.copyOf(dsts, m * 2)
          }
          srcs(m) = e._1; dsts(m) = e._2; m += 1
        }
        Iterator.single((java.util.Arrays.copyOf(srcs, m),
          java.util.Arrays.copyOf(dsts, m)))
      }, preservesPartitioning = false)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // materialize the packed copy, then drop the raw one — the loop
    // never holds two edge generations past this point
    mark(edges).foreachPartition(_ => ())
    raw.unpersist(false)
    // fused round 1 (identity labels ⇒ neighbor-min is min(dst) by src,
    // pointer-jump is the identity): src-partitioned edges make it a
    // LOCAL min-by-src — no shuffle at all, and labels come out
    // co-located with the edge partitions for every later zipPartitions
    var withOld: RDD[(Long, (Long, Long))] = mark(edges.mapPartitions({ it =>
      val acc = new LongLongMap()
      it.foreach { case (srcs, dsts) =>
        var j = 0
        while (j < srcs.length) { acc.mergeMin(srcs(j), dsts(j)); j += 1 }
      }
      acc.iterator.map { case (id, m) => (id, (id, math.min(id, m))) }
    }, preservesPartitioning = false)
      .persist(StorageLevel.MEMORY_AND_DISK))
    var labels: RDD[(Long, Long)] =
      withOld.mapValues(_._2)
    val superseded = scala.collection.mutable.Buffer[RDD[_]]()
    var converged = false
    var i = 1
    while (!converged && i < maxIter) {
      val prev = labels
      // neighbor-min: label(src) resolves LOCALLY against the co-located
      // label partition (zipPartitions + primitive map — no cogroup, no
      // edge movement), then ONE combine-shuffle keyed by dst
      val nbrMin = edges.zipPartitions(prev) { (eIt, lIt) =>
        val lab = new LongLongMap()
        lIt.foreach(kv => lab.put(kv._1, kv._2))
        eIt.flatMap { case (srcs, dsts) =>
          new Iterator[(Long, Long)] {
            private var j = 0
            def hasNext: Boolean = j < srcs.length
            def next(): (Long, Long) = {
              val r = (dsts(j), lab.getOrError(srcs(j))); j += 1; r
            }
          }
        }
      }.reduceByKey(part, (a: Long, b: Long) => math.min(a, b))
      // pointer jump: label's label — requests re-key by label value
      // (one shuffle), resolve locally against the label partition that
      // OWNS that id, and the replies re-key home by id (one shuffle; at
      // most one reply per id, so plain partitionBy — no combine needed)
      val jump = prev.map { case (id, lbl) => (lbl, id) }
        .partitionBy(part)
        .zipPartitions(prev) { (rIt, lIt) =>
          val lab = new LongLongMap()
          lIt.foreach(kv => lab.put(kv._1, kv._2))
          rIt.map { case (lbl, id) => (id, lab.getOrError(lbl)) }
        }
        .partitionBy(part)
      // merge: both candidate streams are home-partitioned, so the
      // three-way min is one positional pass re-emitting prev's keys;
      // carrying (old, new) per node keeps the convergence count a
      // narrow filter
      val updated = mark(prev.zipPartitions(nbrMin, jump) { (pIt, nIt, rIt) =>
        val inc = new LongLongMap()
        nIt.foreach(kv => inc.mergeMin(kv._1, kv._2))
        rIt.foreach(kv => inc.mergeMin(kv._1, kv._2))
        pIt.map { case (id, o) =>
          (id, (o, math.min(o, inc.get(id, Long.MaxValue)))) }
      }.persist(StorageLevel.MEMORY_AND_DISK))
      i += 1
      // convergence is checked every SECOND round: the count is the round's
      // only job (it is what materializes `updated`), so skipping it on odd
      // rounds folds two rounds of pointer-jumping into one job and halves
      // the per-round scheduling floor. Correct because label updates are
      // monotone: a round with zero changes is a fixed point, so "the last
      // round changed nothing" remains an exact stop condition whenever it
      // is evaluated; the price is at most one redundant round.
      if (i % 2 == 0 || i >= maxIter) {
        val changed = updated.filter { case (_, (o, nw)) => nw < o }.count()
        converged = changed == 0
        // the count materialized `updated`, so everything older is dead —
        // unpersist the superseded rounds (async) to keep the loop's
        // working set at one label generation
        superseded.foreach(_.unpersist(false))
        superseded.clear()
      }
      superseded += withOld
      withOld = updated
      labels = updated.mapValues(_._2)
    }
    edges.unpersist(false)
    // persist hygiene (r15 verdict #2): at exit the buffer still holds the
    // penultimate label generation — the final labels read from the FINAL
    // generation's materialized cache, so the older one is dead weight and
    // unpersists here. The final generation itself stays persisted for the
    // caller's consumption (a recompute after block loss falls back to
    // lineage, standard semantics); the bench frees it between entries via
    // BenchHarness.unpersistLeaked.
    superseded.foreach(_.unpersist(false))
    superseded.clear()
    spark.createDataset(labels).toDF("doc_id", "cluster_id")
  }

  /** Apply the dedup decision: drop every cluster member except its
    * canonical (minimum-id) representative; documents in no cluster pass
    * through. The anti-join side is deliberately UNHINTED: web-scale dedup
    * routinely removes 30-50% of a corpus, so the duplicate-id set is
    * O(corpus) in the worst case and a forced broadcast would OOM the
    * driver at 100 TB. Left to the planner, AQE broadcasts when the dup
    * set's runtime size fits `spark.sql.autoBroadcastJoinThreshold` and
    * falls back to a shuffled anti-join otherwise — one exchange of bare
    * ids, never of document bodies.
    */
  def applyDedup(docs: DataFrame, idCol: String, clusters: DataFrame): DataFrame = {
    val dupIds = clusters.filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as(idCol))
    docs.join(dupIds, Seq(idCol), "left_anti")
  }

  /** Eval→train shingle-leakage audit for a split assignment (r12) —
    * the QA read-out that tells you whether a split actually separates:
    * for every eval (non-train) document, how many of its distinct
    * bigram shingles also occur anywhere in the train half, aggregated
    * to one row: eval doc count, docs whose shingle overlap reaches
    * `contaminatedAt` (the memorization-risk class — a near-twin in
    * train), and the corpus-level leak ratio. Run against
    * [[clusterSafeSplit]] vs a naive doc-hash split it quantifies
    * exactly what cluster-unit assignment buys.
    *
    * Scale shape: the train shingle set is CORPUS-sized, so unlike the
    * benchmark-contamination screen (whose benchmark side broadcasts)
    * the eval↔train shingle join is deliberately UNHINTED — AQE
    * broadcasts only if the train set's runtime size fits, else a
    * shuffled join on the shingle key; one exchange of bare shingles.
    * Everything after the per-doc counts is a single aggregate row.
    * The shingled frame is deliberately NOT materialized even though
    * three consumers re-tokenize (the bm25Rank candidate-frame
    * decision): the shingle arrays are corpus-sized, so storing them
    * trades three cheap codegen map passes for a corpus-scale resident
    * intermediate — at 100 TB re-scanning keeps memory flat.
    *
    * Every row is audited on exactly one side: a NULL split value — a
    * partial assignment joined in, corrupt input — is NEVER train and
    * counts as eval (the null-safe `<=>` arm; a null-rejecting `=!=`
    * would silently drop such rows from BOTH sides and a leaky split
    * could audit clean). Conservative by construction: an unassigned
    * document cannot leak INTO train, and it stays in the audited
    * denominator.
    */
  def splitLeakageAudit(split: DataFrame, idCol: String, textCol: String,
      splitCol: String, contaminatedAt: Double = 0.5): DataFrame = {
    require(contaminatedAt > 0 && contaminatedAt <= 1,
      s"contaminatedAt must be in (0, 1], got $contaminatedAt")
    graft.functions.GraftFunctions.register(split.sparkSession)
    val shingles = graft.functions.GraftFunctions.shingles(col(textCol))
    // explode_OUTER on both sides: a plain explode lets the optimizer
    // infer `size(arr) > 0 AND isnotnull(arr)` from the generator and
    // push it below the projection, evaluating the shingle kernel twice
    // more per row inside a Filter; the null shingle rows it emits
    // instead never match the inner equi-join on `shingle`
    val trainSh = split.filter(col(splitCol) === "train")
      .select(explode_outer(shingles).as("shingle"))
      .distinct()
    val evalDocs = split.filter(!(col(splitCol) <=> "train"))
      .select(col(idCol).as("doc_id"), shingles.as("__sh"))
    val shared = evalDocs
      .select(col("doc_id"), explode_outer(col("__sh")).as("shingle"))
      .join(trainSh, Seq("shingle"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    // null/missing text audits as ZERO shingles (it contributes no rows to
    // the overlap join either) — bare size() would yield -1 (legacy
    // sizeOfNull) or NULL (ANSI) for a null shingle array and DECREMENT
    // eval_shingles, while the oracle's SUM(len(bg)) drops the NULL: the
    // two sides would diverge on any corpus with null text (r12 advice)
    evalDocs.select(col("doc_id"),
        greatest(coalesce(size(col("__sh")), lit(0)), lit(0)).as("n_shingles"))
      .join(shared, Seq("doc_id"), "left")
      .withColumn("n_shared", coalesce(col("n_shared"), lit(0L)))
      .agg(
        count(lit(1)).as("n_eval_docs"),
        sum(when(col("n_shingles") > 0 &&
            col("n_shared").cast("double") >=
              lit(contaminatedAt) * col("n_shingles").cast("double"),
          lit(1L)).otherwise(lit(0L))).as("n_contaminated"),
        sum(col("n_shared")).as("shared_shingles"),
        sum(col("n_shingles").cast("long")).as("eval_shingles"))
      .withColumn("leak_ratio",
        round(col("shared_shingles").cast("double") /
          col("eval_shingles").cast("double"), 6))
  }

  /** Leakage-safe train/val/test split (r12): assign each duplicate
    * CLUSTER — not each document — to a split by the deterministic hash
    * of its canonical id, so near-duplicates can never straddle the
    * train/eval boundary. A document-level random split leaks: with a
    * 10× duplication rate, ~all eval documents have a near-twin in
    * train and the eval loss measures memorization, not generalization
    * — the contamination vector [[dupClusters]] exists to close.
    * Documents in no cluster are their own unit (their id hashes
    * directly), so the split is defined for the whole corpus.
    *
    * The assignment is the [[Sampling.stratified]] 16-bit md5 bucket on
    * the SPLIT KEY (canonical cluster id): stateless, engine-exact,
    * mergeable — re-running after new documents arrive never moves an
    * existing cluster between splits, which is what makes incremental
    * corpus refreshes eval-stable. Scale shape: one key-join of the
    * corpus against the data-sized cluster frame (the [[applyDedup]]
    * economics — AQE broadcasts when the cluster set fits, shuffles
    * bare ids otherwise) plus a stateless projection; no window, no
    * sort, no driver state.
    *
    * @param clusters (doc_id, cluster_id) as produced by [[dupClusters]]
    * @return docs' columns + (split_key, split) where split ∈
    *         {train, val, test}
    */
  def clusterSafeSplit(docs: DataFrame, idCol: String, clusters: DataFrame,
      trainPct: Double, valPct: Double): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct <= 1,
      s"invalid split fractions: train=$trainPct val=$valPct")
    // the output columns would silently SHADOW caller data (withColumn
    // replaces by name), and a caller-side cluster_id would both make the
    // join key ambiguous and be swallowed by a drop-by-name — fail loud
    // instead of corrupting either (r12 advice); the cluster frame's
    // column rides an internal alias so only internal names are dropped
    for (c <- Seq("split_key", "split", "__csplit_cid", "__bkt"))
      require(!docs.columns.contains(c),
        s"clusterSafeSplit: docs already has a '$c' column — rename it " +
          "(the split output and its internals would shadow caller data)")
    val trainThr = (trainPct * 65536).toInt
    val valThr = ((trainPct + valPct) * 65536).toInt
    docs
      .join(clusters.select(col("doc_id").as(idCol),
          col("cluster_id").as("__csplit_cid")),
        Seq(idCol), "left")
      .withColumn("split_key", coalesce(col("__csplit_cid"), col(idCol)))
      .withColumn("__bkt",
        conv(substring(md5(concat(lit("split|"),
          col("split_key").cast("string"))), 1, 4), 16, 10).cast("int"))
      .withColumn("split",
        when(col("__bkt") < trainThr, lit("train"))
          .when(col("__bkt") < valThr, lit("val"))
          .otherwise(lit("test")))
      .drop("__bkt", "__csplit_cid")
  }

  /** The production near-dedup PIPELINE — the composed whole a curation run
    * actually calls: MinHash-LSH candidates → exact Jaccard verification on
    * ONLY the candidate pairs → connected-component clusters → apply.
    * Returns `docs` minus every non-canonical cluster member (the
    * [[applyDedup]] end state, all caller columns preserved). Semantically
    * identical to hand-wiring [[minhashLshPairs]] → Jaccard-filter →
    * [[dupClusters]] → [[applyDedup]] (spec-pinned equality, including
    * under an engaged bucket cap), but with the composition economics a
    * 100 TB run needs:
    *
    *  - ONE [[textGroups]] pass feeds BOTH stages: signatures (k digests
    *    per shingle, the candidate stage's dominant cost) and the
    *    verification shingle sets are computed per DISTINCT text, never per
    *    document. At duplication factor d that is d× less hashing and d²
    *    less verification work than running the stages on raw documents.
    *  - Verification touches CANDIDATES ONLY: each candidate rep pair joins
    *    the two representatives' shingle arrays (two key joins on the
    *    O(candidates) frame) and intersects them locally. Unlike the full
    *    [[ngramJaccardPairs]] inverted index — which scores every
    *    co-blocked pair in the corpus — the scored set here is bounded by
    *    LSH fan-out (bands × bucket population, capped via
    *    `maxBucketSize`), the candidates ≪ corpus regime LSH exists to buy.
    *  - Clustering runs on the REPRESENTATIVE graph (nodes = distinct
    *    texts, edges = verified rep pairs), not the expanded member graph:
    *    byte-identical members share every signature, so their cluster is
    *    their representative's cluster. The member-level labels fall out
    *    join-free afterwards (explode of the member-id arrays already
    *    riding on `groups`), and the canonical id is preserved exactly —
    *    each representative is its group's minimum id, so the component's
    *    minimum representative IS the component's minimum document id.
    *
    * Exact duplicates collapse only when their group survives ≥1 band
    * bucket (with `maxBucketSize = 0` that is always), mirroring the
    * hand-wired chain where within-group J=1 pairs are emitted from
    * surviving buckets — this is what makes the equality exact rather than
    * approximate. A run that wants unconditional exact dedup composes
    * [[exactDedup]] upstream.
    *
    * Read-once contract: the operator reads `docs` ONCE — one lazy
    * checkpoint of the input feeds both the collapse and the final
    * anti-join — and its result is itself lazily materialized, so its
    * lineage is truncated there. A consumer that runs driver jobs on the
    * survivors ([[TextAnalysis.modelGate]]'s model collects) re-runs
    * neither the upstream plan nor the dedup; the curation chain's
    * front door runs once.
    *
    * `reliable` hardens the iterative clustering stage's checkpoints (the
    * [[dupClusters]] knob and caveats) and makes the input and result
    * checkpoints reliable too; the candidate/verify frames use lazy local
    * checkpoints as in [[minhashLshPairs]].
    */
  def nearDedupPipeline(docs: DataFrame, idCol: String, textCol: String,
      bands: Int, rowsPerBand: Int, threshold: Double,
      maxBucketSize: Long = 0L, maxIter: Int = 20, fast: Boolean = false,
      reliable: Boolean = false): DataFrame = {
    // `fast` is ignored; medbench's CurationChain passes it by name
    graft.functions.GraftFunctions.register(docs.sparkSession)
    def materialize(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint(false) else df.localCheckpoint(false)
    // the input is read ONCE: the collapse below and the final anti-join
    // both read this copy, so an upstream plan never runs twice
    val in = materialize(docs)
    // stage 0: the shared exact-duplicate collapse — one scan of the corpus
    val groups = textGroups(in, idCol, textCol).localCheckpoint(false)
    // stage 1: banding over representatives only; `ids` rides along unused
    // so the frame is shared with minhashLshPairs' shape (and the bucket
    // cap keeps counting DOCUMENTS via member counts, not groups)
    val bandsDf = lshBandBuckets(groups, "rep", "__text", bands, rowsPerBand,
      extraCols = Seq("ids")).localCheckpoint(false)
    val capped =
      if (maxBucketSize > 0)
        dropOversize(bandsDf, "bucket", size(col("ids")), maxBucketSize)
          .localCheckpoint(false)
      else bandsDf
    // candidate REP pairs: in-bucket expansion of the representative ids
    // only (no member arrays, no join), distinct across multi-band emissions
    val cand = bucketPairs(capped, "bucket", col("doc_id"), (x, y) =>
        struct(x.as("rep_a"), y.as("rep_b")))
      .select(col("__p.rep_a"), col("__p.rep_b")).distinct()
    // stage 2: exact verification on candidates only — ship each side's
    // shingle array to the pair (bounded by LSH fan-out)
    val shArr = groups.select(col("rep"),
      graft.functions.GraftFunctions.shingles(col("__text")).as("__sh"))
    val verified = jaccardVerify(cand
      .join(shArr.select(col("rep").as("rep_a"), col("__sh").as("__sh_a")), "rep_a")
      .join(shArr.select(col("rep").as("rep_b"), col("__sh").as("__sh_b")), "rep_b"),
      "__sh_a", "__sh_b", threshold)
      .select(col("rep_a").as("doc_a"), col("rep_b").as("doc_b"))
    // stage 3: connected components over the rep graph (nodes = distinct
    // texts — the d²-smaller graph)
    val repClusters = dupClusters(verified, maxIter, reliable)
    // stage 4: member-level canonical = the rep's cluster label (or the rep
    // itself when unclustered), for groups with >= 1 surviving bucket row;
    // groups fully dropped by the cap produced no pairs and pass through
    val survivors = capped.select(col("doc_id").as("rep")).distinct()
    val canon = survivors
      .join(repClusters.withColumnRenamed("doc_id", "rep"), Seq("rep"), "left")
      .select(col("rep"), coalesce(col("cluster_id"), col("rep")).as("__canon"))
    val dupIds = groups.join(canon, Seq("rep"))
      .select(explode(col("ids")).as(idCol), col("__canon"))
      .filter(col(idCol) =!= col("__canon"))
      .select(col(idCol))
    // unhinted anti-join: the duplicate-id set is O(corpus) (applyDedup);
    // materialized, so every consumer reads the survivors, not the chain
    materialize(in.join(dupIds, Seq(idCol), "left_anti"))
  }

  /** Incremental dedup of a NEW batch against an existing REFERENCE corpus
    * — the production ingest path: the reference is already deduplicated
    * and indexed; each arriving batch must drop documents that are exact
    * or near duplicates OF THE REFERENCE, without re-scoring the reference
    * against itself. Returns the surviving batch rows (all caller
    * columns). Batch-internal duplicates are deliberately NOT collapsed
    * here — run [[nearDedupPipeline]] on the surviving batch for that;
    * separating the two keeps this operator's cost proportional to the
    * BATCH, not the corpus.
    *
    * Stages (each stage only ever shuffles digests/ids/shingle arrays of
    * the BATCH side; the reference side contributes the three
    * [[ReferenceDedupIndex]] frames, built from one textGroups pass within
    * this call — callers screening MANY batches must build the index once
    * with [[buildReferenceIndex]] and call [[dedupAgainstIndex]] per batch,
    * which is what st50's ingest loop does):
    *
    *  1. exact screen — anti-join of batch md5 digests against reference
    *     digests (unhinted: the reference digest set is O(corpus));
    *  2. LSH candidates — band buckets for both sides' DISTINCT texts
    *     ([[textGroups]] collapse on each side), joined on the bucket id.
    *     Unlike the within-corpus generators (which expand pairs inside a
    *     bucket group and need no join), the cross-corpus candidate set IS
    *     a join — batch buckets against reference buckets — and stays
    *     bounded by bucket populations (`maxBucketSize` caps the COMBINED
    *     population, counting documents on both sides);
    *  3. exact Jaccard verify on candidates only ([[jaccardVerify]]);
    *  4. expand — drop every member of a batch group whose representative
    *     matched any reference representative.
    *
    * Null-text rows survive (they never digest-match and never band); a
    * null-text reference row likewise screens nothing.
    */
  def dedupAgainstReference(ref: DataFrame, batch: DataFrame, idCol: String,
      textCol: String, bands: Int, rowsPerBand: Int, threshold: Double,
      maxBucketSize: Long = 0L): DataFrame =
    dedupAgainstIndex(
      buildReferenceIndex(ref, idCol, textCol, bands, rowsPerBand),
      batch, idCol, textCol, threshold, maxBucketSize)

  /** Prebuilt reference-side index for [[dedupAgainstIndex]]: the three
    * frames the screen consumes (content digests, LSH band buckets,
    * per-representative shingle arrays), each derived from ONE
    * [[textGroups]] pass over the reference and lazily local-checkpointed
    * — so the reference corpus is scanned and its grouping shuffle paid
    * ONCE when the first batch materializes the index, and every later
    * batch (and every stream micro-batch — st50) reads the materialized
    * partitions instead of re-grouping a 100 TB corpus per call (r6
    * verdict #2: the previous form rebuilt all three per invocation).
    * Banding parameters ride along so a batch cannot be screened with a
    * mismatched banding scheme. A production pipeline would persist these
    * frames as parquet and rebuild on corpus compaction; the checkpoint
    * form is the in-session equivalent.
    */
  final case class ReferenceDedupIndex(digests: DataFrame,
      bandBuckets: DataFrame, shingles: DataFrame,
      bands: Int, rowsPerBand: Int)

  /** Build the [[ReferenceDedupIndex]] for a reference corpus. Lazy: no
    * job runs until the first screening batch needs a frame.
    */
  def buildReferenceIndex(ref: DataFrame, idCol: String, textCol: String,
      bands: Int, rowsPerBand: Int): ReferenceDedupIndex = {
    graft.functions.GraftFunctions.register(ref.sparkSession)
    val rGroups = textGroups(ref, idCol, textCol).localCheckpoint(false)
    // distinct digests fall out of the grouping — and the grouping KEY
    // (__tkey) already IS md5(__text), so reuse it instead of re-hashing
    // every distinct text's full body; the null-text group carries a null
    // key, which an equi-join can never match — same semantics as the
    // md5+distinct this replaces
    val digests = rGroups.select(col("__tkey").as("__fp"))
      .localCheckpoint(false)
    val rBands = lshBandBuckets(rGroups, "rep", "__text", bands, rowsPerBand,
      extraCols = Seq("ids"))
      .select(col("doc_id").as("r_rep"),
        col("ids").as("__r_ids"), col("bucket"))
      .localCheckpoint(false)
    val rSh = rGroups.select(col("rep").as("r_rep"),
      graft.functions.GraftFunctions.shingles(col("__text")).as("__sh_r"))
      .localCheckpoint(false)
    ReferenceDedupIndex(digests, rBands, rSh, bands, rowsPerBand)
  }

  /** [[dedupAgainstReference]] against a prebuilt [[ReferenceDedupIndex]]
    * — the form a streaming ingest loop calls per micro-batch: only the
    * BATCH side is scanned, grouped and banded per call.
    */
  def dedupAgainstIndex(index: ReferenceDedupIndex, batch: DataFrame,
      idCol: String, textCol: String, threshold: Double,
      maxBucketSize: Long = 0L): DataFrame = {
    graft.functions.GraftFunctions.register(batch.sparkSession)
    val bands = index.bands; val rowsPerBand = index.rowsPerBand
    // 1. exact screen on content digests
    val fresh = batch.withColumn("__fp", md5(col(textCol)))
      .join(index.digests, Seq("__fp"), "left_anti").drop("__fp")
    // 2. band buckets over the batch side's distinct texts; the reference
    //    side's buckets come prebuilt from the index
    val bGroups = textGroups(fresh, idCol, textCol).localCheckpoint(false)
    val bBands = lshBandBuckets(bGroups, "rep", "__text", bands, rowsPerBand,
      extraCols = Seq("ids"))
      .select(col("doc_id").as("b_rep"), col("ids"), col("bucket"))
    val rBands = index.bandBuckets
    val (bCapped, rCapped) =
      if (maxBucketSize > 0) {
        // one census over the COMBINED population (member counts on both
        // sides), applied to each side
        val oversize = oversizeKeys(
          bBands.select(col("bucket"), size(col("ids")).as("__w"))
            .unionByName(rBands.select(col("bucket"), size(col("__r_ids")).as("__w"))),
          "bucket", col("__w"), maxBucketSize)
        (dropOversize(bBands, "bucket", oversize),
          dropOversize(rBands, "bucket", oversize))
      } else (bBands, rBands)
    val cand = bCapped.join(rCapped, "bucket")
      .select("b_rep", "r_rep").distinct()
    // 3. verify on candidates only; reference shingles come from the index
    val bSh = bGroups.select(col("rep").as("b_rep"),
      graft.functions.GraftFunctions.shingles(col("__text")).as("__sh_b"))
    val matchedReps = jaccardVerify(
        cand.join(bSh, "b_rep").join(index.shingles, "r_rep"),
        "__sh_b", "__sh_r", threshold)
      .select(col("b_rep")).distinct()
    // 4. expand matched groups to member ids, anti-join (unhinted — the
    // near-dup id set is O(batch) on a redundant feed)
    val dupIds = bGroups.join(matchedReps, col("rep") === col("b_rep"))
      .select(explode(col("ids")).as(idCol))
    fresh.join(dupIds, Seq(idCol), "left_anti")
  }

  /** Cross-document exact-substring span removal (the Spark-native form
    * of Lee et al. 2021, arXiv:2107.06499 "Deduplicating Training Data
    * Makes Language Models Better", which removes repeated ≥50-token
    * substrings via a corpus suffix array): every token covered by an
    * `n`-token window whose content appears in at least `minDocs`
    * DISTINCT documents is dropped, and each document's surviving tokens
    * are reassembled in order. The granularity the other dedup operators
    * miss — document-level ([[exactDedup]]/[[nearDedupPipeline]]) keeps a
    * whole near-copy, line-level ([[lineDedup]]) only catches repeats
    * that align to line boundaries; this catches boilerplate SPANS inside
    * otherwise-unique prose. Returns (idCol, textCol cleaned — empty
    * string when everything was repeated, rows never dropped,
    * n_removed).
    *
    * Note the Lee semantics: ALL copies of a repeated span are removed
    * (there is no canonical keeper) — run [[exactDedup]] first, as a
    * production pipeline does, so full-document duplicates don't vaporize
    * both copies.
    *
    * Scale shape (the [[lineDedup]] economics at token-window grain): ONE
    * prep frame per document — (doc_id, digest array, text), the
    * whole-text split and the window digesting each computed exactly once
    * — is lazily checkpoint-materialized and feeds every downstream pass;
    * the hot-window set is O(windows/minDocs), unbounded on
    * template-heavy corpora, so it joins back UNHINTED (AQE broadcasts
    * only when the runtime size fits); each document's hot-window START
    * positions collect into one int array (partial-aggregated map-side,
    * O(hits) ints total), and the coverage arithmetic + reassembly run as
    * ONE per-document two-pointer sweep ([[graft.functions.StripSpans]]
    * — registered by this call, spec-pinned identical to the relational
    * explode/anti-join/rebuild form it replaces, which shuffled hits×n
    * position rows plus every surviving token: ≈1.2B intermediate rows
    * and the measured memory-band thrash at the factor-30 heavy corpus).
    * Total: two corpus-token-linear shuffles (census, hot semi-join) plus
    * two doc-count-row exchanges (starts groupBy, prep join).
    */
  def substringDedup(docs: DataFrame, idCol: String, textCol: String,
      n: Int, minDocs: Long = 2L): DataFrame = {
    require(n >= 1, s"window length must be >= 1 token, got $n")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    graft.functions.GraftFunctions.register(docs.sparkSession)
    // the window digests come from one fused codegen loop
    // (graft_ngram_digests): an interpreted per-window lambda allocating a
    // slice + joined string PER WINDOW was the dominant cost of the whole
    // operator at corpus scale
    val prep = docs.select(col(idCol).as("doc_id"),
        graft.functions.GraftFunctions.ngramDigests(col(textCol), n).as("__ws"),
        col(textCol).as("__text"))
      .localCheckpoint(false)
    val win = prep
      .select(col("doc_id"), posexplode(col("__ws")).as(Seq("__p0", "__h")))
    val hot = win.groupBy("__h")
      .agg(countDistinct(col("doc_id")).as("__df"))
      .filter(col("__df") >= minDocs).select("__h")
    val starts = win.join(hot, Seq("__h"), "left_semi")
      .groupBy("doc_id").agg(collect_list(col("__p0")).as("__starts"))
    val stripped = graft.functions.GraftFunctions.stripSpans(col("__text"),
      coalesce(col("__starts"), array().cast("array<int>")), n)
    prep.join(starts, Seq("doc_id"), "left")
      .select(col("doc_id"), stripped.as("__s"))
      .select(col("doc_id").as(idCol),
        col("__s.text").as(textCol),
        col("__s.n_removed").as("n_removed"))
  }

  /** Audit companion to [[minhashLshPairs]]: per-bucket population and
    * whether the cap would drop it — the "dropped bucket" metric a 100 TB
    * run monitors (dropped buckets ⇒ candidate recall loss on boilerplate).
    * It is the cap's own census ([[keyCensus]]) over the same collapsed
    * banding, so the audit cannot drift from the cap it audits.
    */
  def minhashLshBucketStats(docs: DataFrame, idCol: String, textCol: String,
      bands: Int, rowsPerBand: Int, maxBucketSize: Long): DataFrame =
    keyCensus(lshBandBuckets(textGroups(docs, idCol, textCol), "rep", "__text",
        bands, rowsPerBand, extraCols = Seq("ids")),
      "bucket", size(col("ids")), maxBucketSize)
      .select(col("bucket"), col("__n").as("bucket_size"),
        col("__dropped").as("dropped"))

  /** SimHash fingerprint: per-token md5-derived `bits`-bit hash, each bit
    * votes ±1 weighted by token frequency. Token hashes come from the
    * first max(4, ceil(bits/4)) hex chars of md5 — the 4-char floor keeps
    * every width <= 16 bit-identical to the original 16-bit-only
    * implementation (a narrower prefix would re-map bit j to different
    * md5 bits and silently change persisted fingerprints). At the
    * production width (64) the hash is assembled from two 32-bit halves
    * into a SIGNED long — bit 63 is the sign bit, exactly the wire format
    * `bit_count(a ^ b)` Hamming arithmetic expects; the SQL oracle
    * reproduces the same signed value.
    */
  def simhash(docs: DataFrame, idCol: String, textCol: String, bits: Int): DataFrame = {
    require(bits >= 1 && bits <= 64, s"simhash supports 1..64 bits, got $bits")
    val hexChars = math.max(4, (bits + 3) / 4)
    val tok = docs.select(col(idCol).as("doc_id"), explode(toks(col(textCol))).as("t"))
      .withColumn("__md5", md5(col("t")))
    val th =
      if (hexChars <= 15) // fits a signed long directly
        conv(substring(col("__md5"), 1, hexChars), 16, 10).cast("long")
      else { // 16 hex chars = 64 bits: conv-to-string would overflow the
        // signed cast, so assemble from two 32-bit halves (shiftleft wraps
        // into the sign bit, which is the intended two's-complement value)
        val hi = conv(substring(col("__md5"), 1, 8), 16, 10).cast("long")
        val lo = conv(substring(col("__md5"), 9, 8), 16, 10).cast("long")
        shiftleft(hi, 32).bitwiseOR(lo)
      }
    val hashed = tok.withColumn("th", th)
    val sums = (0 until bits).map(j =>
      sum(when(shiftright(col("th"), j).bitwiseAND(lit(1L)) === 1, 1).otherwise(-1))
        .as(s"s$j"))
    val fingerprint = (0 until bits)
      .map(j => when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    val out = if (bits <= 16) fingerprint.cast("int") else fingerprint.cast("long")
    hashed.groupBy("doc_id")
      .agg(sums.head, sums.tail: _*)
      .select(col("doc_id"), out.as("simhash"))
  }

  /** SimHash Hamming near-dup pairs at the production 64-bit width,
    * blocked Manku-style: the fingerprint splits into four 16-bit chunks;
    * by pigeonhole any pair within Hamming distance `maxHamming` <= 3
    * agrees on at least one chunk, so candidates are generated per
    * (chunk index, chunk value) bucket — ONE shuffle, local pair expansion
    * inside each bucket (the minhashLshPairs shape), never an all-pairs
    * join — then exact-filtered with `bit_count(a ^ b)`. At 100 TB the
    * chunk id is the layout key, and `maxBucketSize` (0 = off) caps a
    * chunk bucket's population in documents — the same degenerate-bucket
    * guard as minhashLshPairs' (cap contract: object header); members of a
    * dropped bucket belong in exact dedup on the fingerprint instead.
    */
  def simhashNearPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucketSize: Long = 0L): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4x16-bit chunking guarantees recall only for maxHamming <= 3, got $maxHamming")
    // round-5 collapse (the ngramJaccardPairs treatment): identical texts
    // share a fingerprint and identical fingerprints share every chunk
    // bucket, so each DISTINCT fingerprint goes through the chunk-blocked
    // index once, with its member-id array riding along into
    // [[memberPairs]] — on a corpus with duplication factor d the in-bucket
    // quadratic expansion shrinks d². The final distinct() dedups
    // multi-bucket emissions.
    val groups = simhash(docs, idCol, textCol, bits = 64)
      .groupBy(col("simhash"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
    val chunks = (0 until 4).map(i =>
      concat(lit(s"$i:"),
        shiftright(col("simhash"), i * 16).bitwiseAND(lit(0xFFFFL))))
    // two consumers (cross + within; three with the cap census) — lazily
    // checkpoint-materialize so the per-token fingerprint aggregation runs
    // once, not once per branch
    val buckets0 = groups.select(col("simhash"), col("ids"),
      explode(array(chunks: _*)).as("bucket"))
      .localCheckpoint(false)
    val buckets =
      if (maxBucketSize > 0)
        dropOversize(buckets0, "bucket", size(col("ids")), maxBucketSize)
          .localCheckpoint(false)
      else buckets0
    // hamming from the two fingerprints: a within-group pair's fp ^ fp
    // (not a 0 literal) leaves a null fingerprint group null, filtered —
    // byte-identical to the uncollapsed form's null semantics
    memberPairs(buckets, "simhash")
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("key_a").bitwiseXOR(col("key_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Directional n-gram CONTAINMENT pairs — the quote/subset detector
    * resemblance misses: containment(A→B) = |A∩B| / |A| is high when A's
    * shingles live inside B even if B is far larger (a doc quoting
    * another, a page embedding a boilerplate block), exactly where
    * Jaccard collapses toward |A|/|B|. Emits both directions per pair
    * plus the shared count, keeping pairs where EITHER direction clears
    * `threshold`. Same blocked inverted-index economics as
    * [[ngramJaccardPairs]] (block column + optional `maxDocFreq` hot-
    * shingle cap); denominators are each side's FULL distinct-shingle
    * count even when the cap trims the index, so a capped run can only
    * UNDER-report containment (recall-for-boundedness, never a false
    * positive).
    */
  def ngramContainmentPairs(docs: DataFrame, idCol: String, textCol: String,
      blockCol: String, threshold: Double,
      maxDocFreq: Long = 0L): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val sh0 = docs.select(col(idCol).as("doc_id"), col(blockCol).as("block"),
      explode(graft.functions.GraftFunctions.shingles(col(textCol)))
        .as("shingle"))
      .localCheckpoint(true)
    val n = sh0.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val sh = dropOversize(sh0, "shingle", lit(1), maxDocFreq)
    sh.as("a")
      .join(sh.as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.block") === col("b.block") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("common"))
      .join(n.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")), Seq("doc_a"))
      .join(n.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")), Seq("doc_b"))
      .withColumn("containment_a",
        round(col("common").cast("double") / col("n_a"), 6))
      .withColumn("containment_b",
        round(col("common").cast("double") / col("n_b"), 6))
      .filter(greatest(col("containment_a"), col("containment_b")) >= threshold)
      .select("doc_a", "doc_b", "common", "containment_a", "containment_b")
  }

  /** Bloom-pruned exact-content screen of a small BATCH against a huge
    * REFERENCE digest set — the runtime-row-filter pattern made explicit:
    * the exact screen in [[dedupAgainstIndex]] anti-joins batch digests
    * against O(corpus) reference digests, which shuffles the full
    * reference digest frame on every exchange-less-miss; here a Bloom
    * sketch of the BATCH digests (bounded — fail-loud `maxBatchDigests`)
    * is embedded in the plan as a literal, so the reference scan drops
    * every definitely-not-in-batch digest MAP-SIDE via Spark's native
    * codegen'd `might_contain` before anything shuffles. Only true
    * duplicates plus an fpp-fraction of the reference cross the exchange:
    * at 1 B reference digests and fpp=0.01, ~10 M rows shuffle instead of
    * 1 B. False positives are removed by the exact confirm join (the
    * sketch is built and probed over xxhash64 of the md5 digest, and a
    * Bloom filter has no false negatives), so the result is EXACTLY the
    * plain anti-join's.
    *
    * `refDigests` is a one-column `__fp` frame of distinct reference md5
    * digests — [[ReferenceDedupIndex.digests]] is exactly this frame, so
    * a prebuilt dd46 index plugs in directly. Returns surviving batch
    * rows (all caller columns); null-text rows survive, as everywhere in
    * this family. Building the sketch runs one eager job over the batch
    * digests (the same contract as Spark's own `df.stat.bloomFilter`,
    * which this rides) — batch-proportional, the frame the operator must
    * bound anyway.
    */
  def bloomScreen(refDigests: DataFrame, batch: DataFrame, textCol: String,
      fpp: Double = 0.01, maxBatchDigests: Long = 4L * 1000 * 1000): DataFrame = {
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1), got $fpp")
    val b = batch.withColumn("__fp", md5(col(textCol)))
    val bDig = b.select("__fp").filter(col("__fp").isNotNull).distinct()
      .localCheckpoint(false)
    val n = bDig.count()
    require(n <= maxBatchDigests,
      s"bloomScreen: batch has $n distinct digests > $maxBatchDigests — " +
        "the sketch (and the confirm join's small side) must stay " +
        "driver/broadcast-sized; screen a bounded batch or raise the limit")
    if (n == 0) return b.drop("__fp") // all-null batch: nothing can match
    graft.functions.GraftFunctions.register(batch.sparkSession)
    val numBits = math.max(64L,
      org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(n, fpp))
    // distributed sketch build (partial sketches OR-merge map-side); the
    // single binary row materializes here — bounded bytes, the same
    // driver-holds-sketch contract as Spark's df.stat.bloomFilter
    val sketchBytes = bDig
      .agg(graft.functions.GraftFunctions
        .bloomAgg(xxhash64(col("__fp")), n, numBits).as("__sketch"))
      .head().getAs[Array[Byte]]("__sketch")
    val mightContain = graft.functions.GraftFunctions.bloomContains(
      lit(sketchBytes), xxhash64(col("__fp")))
    // map-side prune of the reference scan; only bloom hits reach the join
    val dupFps = refDigests.filter(mightContain)
      .join(bDig, Seq("__fp"), "left_semi")
    b.join(dupFps, Seq("__fp"), "left_anti").drop("__fp")
  }
}

/** Minimal open-addressing long→long hash map for the cluster loop's
  * per-partition label lookups (r16) — the hot path touches every edge
  * every round, and a java.util.HashMap would box two Longs per access.
  * Linear probing, power-of-two capacity, grows at 50% load. Instances
  * are created inside task closures (never serialized).
  */
private[operators] final class LongLongMap(initialCapacity: Int = 1 << 10) {
  private var cap = Integer.highestOneBit(math.max(16, initialCapacity))
  if (cap < initialCapacity) cap <<= 1
  private var keys = new Array[Long](cap)
  private var vals = new Array[Long](cap)
  private var used = new Array[Boolean](cap)
  private var n = 0

  private def slot(k: Long): Int = {
    var h = (k ^ (k >>> 32)).toInt * 0x9E3779B9
    h ^= (h >>> 16)
    var i = h & (cap - 1)
    while (used(i) && keys(i) != k) i = (i + 1) & (cap - 1)
    i
  }

  private def grow(): Unit = {
    val ok = keys; val ov = vals; val ou = used; val oc = cap
    cap <<= 1
    keys = new Array[Long](cap); vals = new Array[Long](cap)
    used = new Array[Boolean](cap)
    var i = 0
    while (i < oc) {
      if (ou(i)) { val s = slot(ok(i)); keys(s) = ok(i); vals(s) = ov(i); used(s) = true }
      i += 1
    }
  }

  private def insert(i: Int, k: Long, v: Long): Unit = {
    keys(i) = k; vals(i) = v; used(i) = true; n += 1
    if (n * 2 > cap) grow()
  }

  def put(k: Long, v: Long): Unit = {
    val i = slot(k)
    if (used(i)) vals(i) = v else insert(i, k, v)
  }

  /** vals(k) = min(vals(k), v), inserting v when absent. */
  def mergeMin(k: Long, v: Long): Unit = {
    val i = slot(k)
    if (used(i)) { if (v < vals(i)) vals(i) = v } else insert(i, k, v)
  }

  def get(k: Long, dflt: Long): Long = {
    val i = slot(k)
    if (used(i)) vals(i) else dflt
  }

  /** Fail-loud lookup for keys the loop's alignment invariant guarantees
    * to exist — a miss means partition misalignment, never valid data. */
  def getOrError(k: Long): Long = {
    val i = slot(k)
    if (!used(i)) throw new IllegalStateException(
      s"dupClusters loop: label for id $k not in its home partition")
    vals(i)
  }

  def iterator: Iterator[(Long, Long)] = new Iterator[(Long, Long)] {
    private var i = 0
    private def advance(): Unit = { while (i < cap && !used(i)) i += 1 }
    advance()
    def hasNext: Boolean = i < cap
    def next(): (Long, Long) = { val r = (keys(i), vals(i)); i += 1; advance(); r }
  }
}
