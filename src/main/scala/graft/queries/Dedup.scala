package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for a training-data pipeline over `documents` /
  * `embeddings`: exact (hash groupBy), n-gram Jaccard, MinHash signatures +
  * LSH banding, SimHash, and embedding-cosine near-dup.
  *
  * Scale design:
  *  - exact dedup is one hash-shuffle on a 32-byte digest, never on the
  *    document body;
  *  - candidate generation is always *blocked* (shingle match + source, LSH
  *    band buckets, embedding label) so the pair space is bounded — a naive
  *    all-pairs join is quadratic and does not survive 100 TB;
  *  - all hashes are md5-based so the DuckDB oracle computes bit-identical
  *    values.
  */
object Dedup extends QuerySet {

  private def toks: Column = split(col("text"), " ")

  /** Distinct bigram shingles per document (the MinHash/Jaccard unit). */
  private def bigrams: Column =
    array_distinct(zip_with(
      slice(toks, lit(1), size(toks) - 1),
      slice(toks, lit(2), size(toks) - 1),
      (x, y) => concat(x, lit(" "), y)))

  private val bigramsSql =
    "list_distinct([sp[i] || ' ' || sp[i+1] for i in range(1, len(sp))])"

  // dd30-dd34 are the oracle-checked instantiations of the reusable
  // operators in graft.operators.TextDedup (see that object's scaladoc for
  // the scale contracts); parameters here pin the fixture schema.
  import graft.operators.TextDedup

  /** Exact dedup: content-hash groupBy; canonical row = min doc_id. */
  def dd30(s: SparkSession, dir: String): DataFrame =
    TextDedup.exactDedup(Q.t(s, dir, "documents"), "doc_id", "text")

  /** N-gram Jaccard near-dup: blocked inverted index, threshold 0.5
    * (posting frame built by the fused native `graft_shingles` loop).
    */
  def dd31(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    TextDedup.ngramJaccardPairs(Q.t(s, dir, "documents"),
      "doc_id", "text", blockCol = "source", threshold = 0.5)
  }

  /** MinHash signature per document: k=4 seeded-md5 permutations, computed
    * by the one-pass native `graft_minhash` expression (byte-parity with
    * the composable HOF form is spec-pinned in ArrayDotSpec).
    */
  def dd32(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    TextDedup.minhashSignatures(Q.t(s, dir, "documents"), "doc_id", "text",
      k = 4)
  }

  /** MinHash LSH candidate pairs: 2 bands × 2 rows per band (signatures
    * via the native one-pass expression).
    */
  def dd33(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    TextDedup.minhashLshPairs(Q.t(s, dir, "documents"),
      "doc_id", "text", bands = 2, rowsPerBand = 2)
  }

  /** SimHash (16-bit) fingerprints. */
  def dd34(s: SparkSession, dir: String): DataFrame =
    TextDedup.simhash(Q.t(s, dir, "documents"), "doc_id", "text", bits = 16)

  /** Embedding-cosine near-dup: label-blocked pairs above a cosine
    * threshold. Dot/norm use the native codegen'd graft_dot expression —
    * the same left fold in double as the oracle's list_sum, bit-identical.
    */
  def dd35(s0: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s0)
    val s = s0
    val e = Q.t(s, dir, "embeddings").select(
      col("vec_id"), col("label"), Q.embDouble)
    import graft.functions.GraftFunctions.{dot => gdot}
    val withNorm = e.withColumn("norm", sqrt(gdot(col("emb"), col("emb"))))
    val cosine = gdot(col("x.emb"), col("y.emb")) / (col("x.norm") * col("y.norm"))
    withNorm.as("x")
      .join(withNorm.as("y"),
        col("x.label") === col("y.label") && col("x.vec_id") < col("y.vec_id"))
      .withColumn("cos", round(cosine, 4))
      .filter(col("cos") >= 0.3)
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"),
        col("x.label").as("label"), col("cos"))
  }

  /** Duplicate clusters from the LSH candidate pairs: connected components
    * via iterative min-label propagation, each member labeled with its
    * cluster's canonical (minimum) doc id — the frame a dedup pass actually
    * acts on. The oracle recomputes the same components with a recursive
    * CTE, so the distributed iteration is checked against a direct
    * transitive closure.
    */
  def dd36(s: SparkSession, dir: String): DataFrame =
    TextDedup.dupClusters(dd33(s, dir))

  /** One-digest universal-hash MinHash (k=4): the production estimator —
    * md5 once per shingle, k int64 permutations; the oracle recomputes the
    * same coefficients and modulus in SQL.
    */
  def dd37(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    TextDedup.minhashSignaturesUniversal(Q.t(s, dir, "documents"),
      "doc_id", "text", k = 4)
  }

  /** The dedup END STATE: corpus minus non-canonical cluster members —
    * what actually ships to training after candidates → clusters → apply.
    */
  def dd38(s: SparkSession, dir: String): DataFrame =
    TextDedup.applyDedup(
      Q.t(s, dir, "documents").select("doc_id", "source", "lang"),
      "doc_id", dd36(s, dir))

  /** SimHash at the production 64-bit width (signed long fingerprint,
    * two-half assembly — the oracle reproduces the same two's-complement
    * value).
    */
  def dd39(s: SparkSession, dir: String): DataFrame =
    TextDedup.simhash(Q.t(s, dir, "documents"), "doc_id", "text", bits = 64)

  /** SimHash Hamming near-dup pairs: 4×16-bit chunk blocking (pigeonhole
    * recall guarantee for distance <= 3), exact bit_count(xor) filter.
    */
  def dd40(s: SparkSession, dir: String): DataFrame =
    TextDedup.simhashNearPairs(Q.t(s, dir, "documents"), "doc_id", "text",
      maxHamming = 3)

  /** dd31 with the corpus-global document-frequency cap ENGAGED (df > 40
    * shingles dropped — the 100 TB anti-boilerplate knob, here
    * oracle-verified rather than spec-only: the oracle computes the same
    * skip semantics).
    */
  def dd41(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    TextDedup.ngramJaccardPairs(Q.t(s, dir, "documents"),
      "doc_id", "text", blockCol = "source", threshold = 0.5,
      maxDocFreq = 40L)
  }

  /** dd33 with the LSH bucket cap ENGAGED (buckets over 4 docs dropped
    * before pair expansion — oracle-verified skip-and-count).
    */
  def dd42(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    TextDedup.minhashLshPairs(Q.t(s, dir, "documents"),
      "doc_id", "text", bands = 2, rowsPerBand = 2, maxBucketSize = 4L)
  }

  /** dd40 with the chunk-bucket cap ENGAGED (buckets over 8 docs dropped
    * before pair expansion — oracle-verified skip semantics, completing
    * the capped-oracle family dd41/dd42/sim42).
    */
  def dd43(s: SparkSession, dir: String): DataFrame =
    TextDedup.simhashNearPairs(Q.t(s, dir, "documents"), "doc_id", "text",
      maxHamming = 3, maxBucketSize = 8L)

  /** CCNet-style boilerplate-line removal. The fixture text has no line
    * structure, so the query derives one deterministically (both engines
    * build the identical corpus): first-10-words line, a per-source footer
    * line shared by every document of the source, last-10-words line. The
    * footer's document frequency is the per-source doc count (>= 25 at
    * every SF), over the threshold, so the operator must strip the middle
    * line everywhere while keeping the prose lines in order.
    */
  def dd44(s: SparkSession, dir: String): DataFrame = {
    // coalesce guards: a NULL source/text must still yield all three lines
    // (string concat with NULL nulls the whole derived text in SQL
    // engines, and concat_ws would silently SKIP a null piece where the
    // oracle keeps an empty line)
    val structured = Q.t(s, dir, "documents").select(
      col("doc_id"),
      concat_ws("\n",
        coalesce(array_join(slice(toks, 1, 10), " "), lit("")),
        concat(lit("footer "), coalesce(col("source"), lit("none"))),
        coalesce(array_join(slice(toks, 11, 10), " "), lit(""))).as("text"))
    // threshold 12 sits between the heavy tier's 10x replication (prose
    // lines reach df = 10 and must be KEPT — a threshold at 10 would empty
    // every document and benchmark only the degenerate all-removed path)
    // and the per-source footer frequency (>= 25 docs/source at every SF)
    TextDedup.lineDedup(structured, "doc_id", "text", minDocFreq = 12L)
  }

  /** The composed near-dedup PIPELINE end state (dd45): one operator call
    * wiring candidates (dd33's banding params) → exact Jaccard verification
    * on ONLY the candidate pairs (dd31's scorer semantics, threshold 0.5) →
    * clusters (dd36's connected components) → apply (dd38's anti-join),
    * with the exact-duplicate collapse shared across all stages. The oracle
    * recomputes the identical chain document-level: LSH candidates, a
    * list_intersect Jaccard filter, the recursive-CTE closure, anti-join.
    */
  def dd45(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    TextDedup.nearDedupPipeline(
      Q.t(s, dir, "documents").select("doc_id", "text", "source", "lang"),
      "doc_id", "text", bands = 2, rowsPerBand = 2, threshold = 0.5)
      .select("doc_id", "source", "lang")
  }

  /** Incremental dedup of a new batch against an existing reference corpus
    * (dd46): even doc_ids play the already-ingested reference, odd doc_ids
    * the arriving batch; survivors are the odd documents that are neither
    * byte-identical nor Jaccard-0.5 near-dups of any even document. The
    * oracle recomputes the same exact screen + cross-corpus LSH candidates
    * + list_intersect verification — no recursive CTE needed, since no
    * clustering happens in this path.
    */
  def dd46(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val all = Q.t(s, dir, "documents")
    TextDedup.dedupAgainstReference(
      all.filter(col("doc_id") % 2 === 0),
      all.filter(col("doc_id") % 2 === 1),
      "doc_id", "text", bands = 2, rowsPerBand = 2, threshold = 0.5)
      .select("doc_id", "source", "lang")
  }

  /** Shared fixture parameters for the semantic-dedup pair (dd47/dd48):
    * the sim39 centroid convention (vec_id < 8 embeddings as the fixed,
    * SQL-joinable centroid set) over the embeddings table.
    */
  private def semanticDedupQ(s0: SparkSession, dir: String,
      maxClusterSize: Long): DataFrame = {
    graft.functions.GraftFunctions.register(s0)
    val e = Q.vecEmb(Q.t(s0, dir, "embeddings"))
    graft.operators.Ann.semanticDedup(e, "vec_id", "emb", Q.fixedCentroids(e),
      threshold = 0.3, maxClusterSize = maxClusterSize)
  }

  /** SemDeDup semantic dedup end state (dd47): survivors after the
    * within-cell dominated-by-lower-id cosine screen at threshold 0.3 —
    * 8 fixed centroids, ~60-vector cells, ~38% of the fixture removed.
    */
  def dd47(s: SparkSession, dir: String): DataFrame =
    semanticDedupQ(s, dir, maxClusterSize = 0L)

  /** dd47 with the oversize-cell cap ENGAGED (cells over 60 vectors skip
    * the screen and keep all members — oracle-verified skip semantics,
    * the same recall-for-boundedness trade as dd41/dd42/dd43/sim42).
    */
  def dd48(s: SparkSession, dir: String): DataFrame =
    semanticDedupQ(s, dir, maxClusterSize = 60L)

  /** Self-contained semantic dedup (dd49): the dd47 screen driven by
    * centroids FITTED in-engine (`Ann.kmeansFit`, k=8, 2 Lloyd's rounds
    * over the full fixture) instead of the fixed vec_id<8 convention —
    * the end-to-end SemDeDup pipeline with no caller-supplied index
    * input anywhere, oracled as one hash (the kmeans CTE chain feeding
    * the dd47 screen CTEs). Composition previously only spec-pinned
    * (AnnSpec); this makes it oracle-proven.
    */
  def dd49(s0: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s0)
    val e = Q.vecEmb(Q.t(s0, dir, "embeddings"))
    val fitted = graft.operators.Ann.kmeansCentroids(
      graft.operators.Ann.kmeansFit(e, "vec_id", "emb", k = 8, iters = 2,
        dim = 64))
    graft.operators.Ann.semanticDedup(e, "vec_id", "emb", fitted,
      threshold = 0.3)
  }

  /** Exact-substring span dedup (dd50, Lee 2021-style): tokens covered by
    * any 5-token window repeated across >= 2 distinct documents are
    * removed. A third of the corpus gets a SHARED 12-token boilerplate
    * tail (the td34 injection pattern, same construction in both
    * engines), so in-tail windows go hot and exactly the tail strips —
    * windows straddling the splice point stay unique per doc and pin the
    * partial-coverage boundary; pre-existing exact-duplicate texts
    * vaporize on all copies, the documented Lee semantics.
    */
  def dd50(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val injected = Q.t(s, dir, "documents").select(
      col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 3 === 0,
          lit(" subscribe to our newsletter for daily updates and exclusive offers today"))
          .otherwise(lit(""))).as("text"))
    graft.operators.TextDedup.substringDedup(injected, "doc_id", "text",
      n = 5)
  }

  /** Incremental semantic screen vs a reference corpus (dd51): the odd
    * half of the embeddings arrives as the batch and is screened against
    * the even half (the dd46/st50 split convention) inside the sim39
    * centroid cells at threshold 0.3 — a batch vector drops iff some
    * same-cell reference vector dominates it. The index is prebuilt
    * (`Ann.buildSemanticIndex`), so the reference is assigned once;
    * st51 is the streaming twin.
    */
  def dd51(s0: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s0)
    val e = Q.vecEmb(Q.t(s0, dir, "embeddings"))
    val centroids = Q.fixedCentroids(e)
    val index = graft.operators.Ann.buildSemanticIndex(
      e.filter(col("vec_id") % 2 === 0), "vec_id", "emb", centroids)
    graft.operators.Ann.semanticScreen(index,
      e.filter(col("vec_id") % 2 === 1), "vec_id", "emb", centroids,
      threshold = 0.3)
  }

  /** Bloom-pruned incremental exact screen (dd52): the dd46 split (odd
    * doc_ids = arriving batch, even = reference), but the reference
    * digest scan is pruned MAP-SIDE by a Bloom sketch of the batch
    * digests before anything shuffles — the explicit form of Spark's
    * runtime row-level filter, and the shape that keeps a 100 TB
    * reference's exact screen exchange batch-proportional. The result is
    * exactly the plain anti-join's (the confirm join removes the sketch's
    * false positives), which is what the oracle computes.
    */
  def dd52(s: SparkSession, dir: String): DataFrame = {
    val all = Q.t(s, dir, "documents")
    val refDigests = all.filter(col("doc_id") % 2 === 0)
      .select(md5(col("text")).as("__fp"))
      .filter(col("__fp").isNotNull).distinct()
    TextDedup.bloomScreen(refDigests, all.filter(col("doc_id") % 2 === 1),
      "text")
      .select("doc_id", "source", "lang")
  }

  /** Directional containment pairs (dd53): either direction's
    * shingle-containment ≥ 0.3 within the source block — catches the
    * short-doc-quoted-in-long-doc pairs dd31's Jaccard form suppresses.
    */
  def dd53(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    TextDedup.ngramContainmentPairs(Q.t(s, dir, "documents"),
      "doc_id", "text", blockCol = "source", threshold = 0.3)
  }

  /** Leakage-safe train/val/test split (dd54, r12): dd36's duplicate
    * clusters assign as UNITS — the canonical cluster id hashes to the
    * split, so near-duplicates never straddle the train/eval boundary;
    * singletons hash on their own id. 90/5/5 at the q32 16-bit md5
    * thresholds; the oracle recomputes the clusters with its recursive
    * CTE and the identical bucket arithmetic, so the hash-match checks
    * BOTH halves (cluster equality and the stateless assignment).
    */
  def dd54(s: SparkSession, dir: String): DataFrame =
    TextDedup.clusterSafeSplit(
      Q.t(s, dir, "documents").select("doc_id", "source"),
      "doc_id", dd36(s, dir), trainPct = 0.9, valPct = 0.05)

  /** Split-leakage audit (dd55, r12): the eval→train shingle-overlap
    * read-out for dd54's cluster-safe split NEXT TO the naive doc-hash
    * split (the latter is [[TextDedup.clusterSafeSplit]] against an
    * EMPTY cluster frame — every document its own unit, same bucket
    * arithmetic), one row per strategy. The cluster-safe row's
    * memorization-risk count (eval docs ≥50% covered by train shingles)
    * is what cluster-unit assignment buys; the oracle recomputes both
    * strategies end-to-end, clusters included.
    */
  def dd55(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Q.t(s, dir, "documents").select("doc_id", "text")
    val noClusters = Seq.empty[(Long, Long)].toDF("doc_id", "cluster_id")
    def audit(clusters: DataFrame, label: String): DataFrame =
      TextDedup.splitLeakageAudit(
        TextDedup.clusterSafeSplit(docs, "doc_id", clusters,
          trainPct = 0.9, valPct = 0.05),
        "doc_id", "text", "split")
        .withColumn("strategy", lit(label))
    audit(dd36(s, dir), "cluster_safe")
      .unionByName(audit(noClusters, "doc_hash"))
      .select(col("strategy"), col("n_eval_docs"), col("n_contaminated"),
        col("shared_shingles"), col("eval_shingles"), col("leak_ratio"))
  }

  /** The dd36 cluster frame persisted once per fixture dir (manifest-
    * stamped, BenchHeavy's reuse idiom) — the PRODUCTION shape for
    * split/audit consumers: duplicate clusters are maintained
    * incrementally by the dedup pipeline, never rebuilt per split, so
    * dd56's warm timing isolates the split+audit term dd55's tier row
    * buries under the ~20-tiny-job pointer-jumping recompute (r12
    * verdict #4). First call per dir pays the build; the result on disk
    * is byte-stable, so correctness is unchanged either way.
    */
  /** Recursive source fingerprint for the dd56 store stamp. A Spark-
    * written fixture is a DIRECTORY of part files whose own size/mtime
    * does not track content (r13 advice) — fingerprint the children
    * recursively (sorted name+size+mtime per regular file), and fold the
    * directory's OWN name into the directory branch (r14 verdict #2: a
    * renamed partition subdirectory, e.g. key=a -> key=b, with
    * byte-identical children used to yield an identical stamp, so the
    * store served clusters computed under the old layout).
    */
  private[graft] def storeFingerprint(p: java.nio.file.Path): String = {
    import java.nio.file.Files
    if (Files.isDirectory(p)) {
      val st = Files.list(p)
      val kids = try st.toArray.map(_.asInstanceOf[java.nio.file.Path])
        .sortBy(_.getFileName.toString) finally st.close()
      s"${p.getFileName}/[" + kids.map(storeFingerprint).mkString(";") + "]"
    } else s"${p.getFileName}:${Files.size(p)}:" +
      s"${Files.getLastModifiedTime(p).toMillis}"
  }

  private def prebuiltClusters(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val key = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val loc = Paths.get(
      s"${System.getProperty("java.io.tmpdir")}/graft_dd56_clusters_$key")
    val marker = loc.resolve("_manifest.txt")
    // the stamp fingerprints the SOURCE file (size + mtime), not just its
    // path: a regenerated fixture at the same path must invalidate the
    // persisted clusters, or the entry would serve stale ones and the
    // oracle (which always recomputes from the live table) would diverge
    val src = Paths.get(s"$dir/documents.parquet")
    val stamp = s"src=$dir v=3 " +
      s"h=${java.util.UUID.nameUUIDFromBytes(storeFingerprint(src).getBytes("UTF-8"))}"
    if (!Files.exists(marker) || Files.readString(marker) != stamp) {
      dd36(s, dir).write.mode("overwrite").parquet(loc.toString)
      Files.writeString(marker, stamp)
    }
    s.read.parquet(loc.toString)
  }

  /** Split + leakage audit over PREBUILT clusters (dd56, r13): dd55's
    * cluster_safe row computed the production way — the cluster frame is
    * read from its maintained store instead of recomputed, so the entry's
    * cost IS the split's one key-join plus the audit's two shingle
    * passes. The oracle still recomputes the clusters from scratch
    * (recursive CTE), so the hash-match checks the persisted frame
    * against a from-scratch rebuild end-to-end.
    */
  def dd56(s: SparkSession, dir: String): DataFrame = {
    val docs = Q.t(s, dir, "documents").select("doc_id", "text")
    TextDedup.splitLeakageAudit(
      TextDedup.clusterSafeSplit(docs, "doc_id", prebuiltClusters(s, dir),
        trainPct = 0.9, valPct = 0.05),
      "doc_id", "text", "split")
      .withColumn("strategy", lit("cluster_safe"))
      .select(col("strategy"), col("n_eval_docs"), col("n_contaminated"),
        col("shared_shingles"), col("eval_shingles"), col("leak_ratio"))
  }

  /** Split-strategy divergence on a WIDE-vocabulary twin corpus (dd57,
    * r13): dd55's fixture saturates both strategies' leak ratios near 1.0
    * (a 31-word vocabulary makes every bigram common), so its oracle row
    * cannot show what cluster-unit assignment buys. This entry
    * synthesizes the adversarial real-world shape deterministically from
    * doc_ids alone: consecutive ids form twin PAIRS sharing 21 md5-hex
    * tokens unique to the pair — an effectively unbounded vocabulary, the
    * wide-vocabulary direction BASELINE r12 measured for BM25 — with the analytic cluster frame (pair
    * minimum) standing in for dd36. Cluster-safe assignment keeps every
    * twin pair on one side of the boundary: its contamination count MUST
    * read 0 while the naive doc-hash split strands ~90% of eval docs'
    * twins in train at 100% shingle overlap — the two oracle rows
    * finally DIVERGE, which is the entry's point. Same audit operator,
    * same bucket arithmetic, both recomputed end-to-end by DuckDB
    * (md5-exact, no recursive CTE — the clusters are analytic).
    */
  def dd57(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ids = Q.t(s, dir, "documents").select("doc_id")
      .withColumn("__k", expr("doc_id DIV 2"))
    val docs = ids.withColumn("text",
        concat_ws(" ", transform(sequence(lit(0), lit(20)),
          p => substring(md5(concat(col("__k").cast("string"), lit(":"),
            p.cast("string"))), 1, 8))))
      .select("doc_id", "text")
    val twinClusters = ids
      .select(col("doc_id"), (col("__k") * 2).as("cluster_id"))
    val noClusters = Seq.empty[(Long, Long)].toDF("doc_id", "cluster_id")
    def audit(clusters: DataFrame, label: String): DataFrame =
      TextDedup.splitLeakageAudit(
        TextDedup.clusterSafeSplit(docs, "doc_id", clusters,
          trainPct = 0.9, valPct = 0.05),
        "doc_id", "text", "split")
        .withColumn("strategy", lit(label))
    audit(twinClusters, "cluster_safe")
      .unionByName(audit(noClusters, "doc_hash"))
      .select(col("strategy"), col("n_eval_docs"), col("n_contaminated"),
        col("shared_shingles"), col("eval_shingles"), col("leak_ratio"))
  }

  /** Incremental cluster maintenance (dd58, r13): the corpus arrives as
    * TWO batches (even doc_ids, then odd) and
    * [[TextDedup.mergeClusters]] folds each into the maintained label +
    * signature stores; the final labels must be IDENTICAL to dd36's
    * from-scratch run over the whole corpus — the oracle IS dd36's
    * recursive CTE verbatim, so the hash-match pins the incremental
    * algebra (batch pairs + cross-store probes + star-edge relabeling of
    * the blast radius) against the direct transitive closure.
    */
  def dd58(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.functions.GraftFunctions.register(s)
    val all = Q.t(s, dir, "documents")
    val emptyLabels = Seq.empty[(Long, Long)].toDF("doc_id", "cluster_id")
    val emptyPost = Seq.empty[(Long, String)].toDF("doc_id", "bucket")
    val (l1, p1) = TextDedup.mergeClusters(emptyLabels, emptyPost,
      all.filter(col("doc_id") % 2 === 0), "doc_id", "text",
      bands = 2, rowsPerBand = 2)
    val (l2, _) = TextDedup.mergeClusters(l1, p1,
      all.filter(col("doc_id") % 2 === 1), "doc_id", "text",
      bands = 2, rowsPerBand = 2)
    l2
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dd30_exact_dedup" -> (dd30 _),
    "dd31_ngram_jaccard" -> (dd31 _),
    "dd32_minhash_signatures" -> (dd32 _),
    "dd33_minhash_lsh_pairs" -> (dd33 _),
    "dd34_simhash" -> (dd34 _),
    "dd35_embedding_neardup" -> (dd35 _),
    "dd36_dup_clusters" -> (dd36 _),
    "dd37_minhash_universal" -> (dd37 _),
    "dd38_dedup_applied" -> (dd38 _),
    "dd39_simhash64" -> (dd39 _),
    "dd40_simhash_hamming_pairs" -> (dd40 _),
    "dd41_ngram_jaccard_capped" -> (dd41 _),
    "dd42_lsh_pairs_capped" -> (dd42 _),
    "dd43_simhash_hamming_capped" -> (dd43 _),
    "dd44_line_dedup" -> (dd44 _),
    "dd45_neardedup_pipeline" -> (dd45 _),
    "dd46_dedup_incremental" -> (dd46 _),
    "dd47_semantic_dedup" -> (dd47 _),
    "dd48_semantic_dedup_capped" -> (dd48 _),
    "dd49_semantic_dedup_selftrained" -> (dd49 _),
    "dd50_substring_dedup" -> (dd50 _),
    "dd51_semantic_screen_incremental" -> (dd51 _),
    "dd52_bloom_screen" -> (dd52 _),
    "dd53_containment_pairs" -> (dd53 _),
    "dd54_cluster_safe_split" -> (dd54 _),
    "dd55_split_leakage_audit" -> (dd55 _),
    "dd56_split_audit_prebuilt" -> (dd56 _),
    "dd57_split_divergence" -> (dd57 _),
    "dd58_clusters_incremental" -> (dd58 _))

  private val simhashSumsSql = (0 until 16)
    .map(j => s"SUM(CASE WHEN (th >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS s$j")
    .mkString(", ")
  private val simhashBitsSql = (0 until 16)
    .map(j => s"(CASE WHEN s$j > 0 THEN ${1 << j} ELSE 0 END)")
    .mkString(" + ")

  private val cosSql =
    """list_sum([x.emb[i] * y.emb[i] for i in range(1, 65)]) / (x.norm * y.norm)"""

  // sim39's centroid-assignment scaffolding (fixed vec_id<8 centroids,
  // deterministic tiebreak), shared by the semantic-dedup oracles
  private val ivfAssignCte =
    """e AS (SELECT vec_id,
      |  list_transform(embedding, v -> CAST(v AS DOUBLE)) AS emb FROM embeddings),
      |w AS (SELECT vec_id, emb, sqrt(list_sum([v * v for v in emb])) AS norm FROM e),
      |c AS (SELECT vec_id AS centroid_id, emb AS c_emb, norm AS c_norm FROM w WHERE vec_id < 8),
      |scored AS (SELECT w.vec_id, c.centroid_id, w.emb, w.norm,
      |  list_sum([w.emb[i] * c.c_emb[i] for i in range(1, 65)]) / (w.norm * c.c_norm) AS cos_full
      | FROM w, c),
      |a AS (SELECT vec_id, centroid_id, emb, norm FROM (
      |  SELECT *, row_number() OVER
      |   (PARTITION BY vec_id ORDER BY cos_full DESC, centroid_id ASC) AS rn FROM scored)
      | WHERE rn = 1)""".stripMargin

  // 64-bit simhash oracle scaffolding: the signed fingerprint is assembled
  // from two 32-bit md5 halves ((hi - 2^32·sign) · 2^32 + lo stays inside
  // BIGINT); the j=63 term is written -9223372036854775807 - 1 because the
  // bare literal -2^63 parses as HUGEINT in DuckDB
  private val simhash64ThSql =
    """(CAST('0x' || substr(md5(t), 1, 8) AS BIGINT)
      | - CASE WHEN CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) >= 2147483648
      |   THEN 4294967296 ELSE 0 END) * 4294967296
      | + CAST('0x' || substr(md5(t), 9, 8) AS BIGINT)"""
      .stripMargin.replace("\n", " ")
  private val simhash64SumsSql = (0 until 64)
    .map(j => s"SUM(CASE WHEN (th >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS s$j")
    .mkString(", ")
  private val simhash64BitsSql = (0 until 64).map { j =>
    val term = if (j == 63) "-9223372036854775807 - 1" else (1L << j).toString
    s"(CASE WHEN s$j > 0 THEN $term ELSE 0 END)"
  }.mkString(" + ")
  private val simhash64FpCte =
    s"""tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
       |h AS (SELECT doc_id, $simhash64ThSql AS th FROM tok),
       |s AS (SELECT doc_id, $simhash64SumsSql FROM h GROUP BY doc_id),
       |fp AS (SELECT doc_id, CAST($simhash64BitsSql AS BIGINT) AS simhash FROM s)""".stripMargin

  /** Same coefficient formulas as graft.functions.MinHashUtil — generated
    * from one definition so Spark and the oracle cannot drift.
    */
  private val minhashUSql = (1 to 4).map { i =>
    val a = graft.functions.MinHashUtil.aCoef(i)
    val b = graft.functions.MinHashUtil.bCoef(i)
    val p = graft.functions.MinHashUtil.P
    s"""list_min(list_transform(bg, s -> ($a * CAST('0x' || substr(md5(s), 1, 8) AS BIGINT) + $b) % $p)) AS mh$i"""
  }.mkString(",\n ")

  val oracles: Map[String, String] = Map(
    "dd30_exact_dedup" ->
      """SELECT md5(text) AS fp, count(*) AS cnt, min(doc_id) AS canonical_id
        |FROM documents GROUP BY 1""".stripMargin,
    "dd31_ngram_jaccard" ->
      s"""WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS sp FROM documents),
         |sh AS (SELECT doc_id, source, unnest($bigramsSql) AS shingle FROM d),
         |n AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
         |      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source = b.source
         |       AND a.doc_id < b.doc_id GROUP BY 1, 2)
         |SELECT doc_a, doc_b, common,
         | round(CAST(common AS DOUBLE) / (na.n_sh + nb.n_sh - common), 6) AS jaccard
         |FROM p JOIN n na ON p.doc_a = na.doc_id JOIN n nb ON p.doc_b = nb.doc_id
         |WHERE round(CAST(common AS DOUBLE) / (na.n_sh + nb.n_sh - common), 6) >= 0.5""".stripMargin,
    "dd32_minhash_signatures" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
         |g AS (SELECT doc_id, $bigramsSql AS bg FROM d)
         |SELECT doc_id,
         | list_min(list_transform(bg, x -> md5('1' || x))) AS mh1,
         | list_min(list_transform(bg, x -> md5('2' || x))) AS mh2,
         | list_min(list_transform(bg, x -> md5('3' || x))) AS mh3,
         | list_min(list_transform(bg, x -> md5('4' || x))) AS mh4
         |FROM g""".stripMargin,
    "dd33_minhash_lsh_pairs" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
         |g AS (SELECT doc_id, $bigramsSql AS bg FROM d),
         |sigs AS (SELECT doc_id,
         |  md5(list_min(list_transform(bg, x -> md5('1' || x)))
         |   || list_min(list_transform(bg, x -> md5('2' || x)))) AS b1,
         |  md5(list_min(list_transform(bg, x -> md5('3' || x)))
         |   || list_min(list_transform(bg, x -> md5('4' || x)))) AS b2
         | FROM g)
         |SELECT DISTINCT doc_a, doc_b FROM (
         | SELECT x.doc_id AS doc_a, y.doc_id AS doc_b FROM sigs x JOIN sigs y
         |  ON x.b1 = y.b1 AND x.doc_id < y.doc_id
         | UNION ALL
         | SELECT x.doc_id, y.doc_id FROM sigs x JOIN sigs y
         |  ON x.b2 = y.b2 AND x.doc_id < y.doc_id)""".stripMargin,
    "dd34_simhash" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
         |h AS (SELECT doc_id, CAST('0x' || substr(md5(t), 1, 4) AS INTEGER) AS th FROM tok),
         |s AS (SELECT doc_id, $simhashSumsSql FROM h GROUP BY doc_id)
         |SELECT doc_id, CAST($simhashBitsSql AS INTEGER) AS simhash FROM s""".stripMargin,
    "dd35_embedding_neardup" ->
      s"""WITH e AS (SELECT vec_id, label,
         |  list_transform(embedding, v -> CAST(v AS DOUBLE)) AS emb FROM embeddings),
         |w AS (SELECT vec_id, label, emb,
         |  sqrt(list_sum([v * v for v in emb])) AS norm FROM e)
         |SELECT x.vec_id AS vec_a, y.vec_id AS vec_b, x.label AS label,
         | round($cosSql, 4) AS cos
         |FROM w x JOIN w y ON x.label = y.label AND x.vec_id < y.vec_id
         |WHERE round($cosSql, 4) >= 0.3""".stripMargin,
    "dd36_dup_clusters" ->
      s"""WITH RECURSIVE d AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
         |g AS (SELECT doc_id, $bigramsSql AS bg FROM d),
         |sigs AS (SELECT doc_id,
         |  md5(list_min(list_transform(bg, x -> md5('1' || x)))
         |   || list_min(list_transform(bg, x -> md5('2' || x)))) AS b1,
         |  md5(list_min(list_transform(bg, x -> md5('3' || x)))
         |   || list_min(list_transform(bg, x -> md5('4' || x)))) AS b2
         | FROM g),
         |p AS (SELECT DISTINCT doc_a, doc_b FROM (
         | SELECT x.doc_id AS doc_a, y.doc_id AS doc_b FROM sigs x JOIN sigs y
         |  ON x.b1 = y.b1 AND x.doc_id < y.doc_id
         | UNION ALL
         | SELECT x.doc_id, y.doc_id FROM sigs x JOIN sigs y
         |  ON x.b2 = y.b2 AND x.doc_id < y.doc_id)),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM p
         |          UNION SELECT doc_b, doc_a FROM p),
         |walk(id, label) AS (
         | SELECT src, src FROM edges
         | UNION
         | SELECT e.src, w.label FROM edges e JOIN walk w ON e.dst = w.id)
         |SELECT id AS doc_id, min(label) AS cluster_id FROM walk GROUP BY id""".stripMargin,
    // dd58: incremental maintenance must equal the from-scratch closure —
    // the oracle is dd36's verbatim (arrival order cannot matter: bucket
    // co-membership is per-doc arithmetic, so the union of batch-internal
    // and cross-store pairs is exactly the full run's pair set)
    "dd58_clusters_incremental" ->
      s"""WITH RECURSIVE d AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
         |g AS (SELECT doc_id, $bigramsSql AS bg FROM d),
         |sigs AS (SELECT doc_id,
         |  md5(list_min(list_transform(bg, x -> md5('1' || x)))
         |   || list_min(list_transform(bg, x -> md5('2' || x)))) AS b1,
         |  md5(list_min(list_transform(bg, x -> md5('3' || x)))
         |   || list_min(list_transform(bg, x -> md5('4' || x)))) AS b2
         | FROM g),
         |p AS (SELECT DISTINCT doc_a, doc_b FROM (
         | SELECT x.doc_id AS doc_a, y.doc_id AS doc_b FROM sigs x JOIN sigs y
         |  ON x.b1 = y.b1 AND x.doc_id < y.doc_id
         | UNION ALL
         | SELECT x.doc_id, y.doc_id FROM sigs x JOIN sigs y
         |  ON x.b2 = y.b2 AND x.doc_id < y.doc_id)),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM p
         |          UNION SELECT doc_b, doc_a FROM p),
         |walk(id, label) AS (
         | SELECT src, src FROM edges
         | UNION
         | SELECT e.src, w.label FROM edges e JOIN walk w ON e.dst = w.id)
         |SELECT id AS doc_id, min(label) AS cluster_id FROM walk GROUP BY id""".stripMargin,
    "dd37_minhash_universal" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
         |g AS (SELECT doc_id, $bigramsSql AS bg FROM d)
         |SELECT doc_id,
         | $minhashUSql
         |FROM g""".stripMargin,
    "dd38_dedup_applied" ->
      s"""WITH RECURSIVE d AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
         |g AS (SELECT doc_id, $bigramsSql AS bg FROM d),
         |sigs AS (SELECT doc_id,
         |  md5(list_min(list_transform(bg, x -> md5('1' || x)))
         |   || list_min(list_transform(bg, x -> md5('2' || x)))) AS b1,
         |  md5(list_min(list_transform(bg, x -> md5('3' || x)))
         |   || list_min(list_transform(bg, x -> md5('4' || x)))) AS b2
         | FROM g),
         |p AS (SELECT DISTINCT doc_a, doc_b FROM (
         | SELECT x.doc_id AS doc_a, y.doc_id AS doc_b FROM sigs x JOIN sigs y
         |  ON x.b1 = y.b1 AND x.doc_id < y.doc_id
         | UNION ALL
         | SELECT x.doc_id, y.doc_id FROM sigs x JOIN sigs y
         |  ON x.b2 = y.b2 AND x.doc_id < y.doc_id)),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM p
         |          UNION SELECT doc_b, doc_a FROM p),
         |walk(id, label) AS (
         | SELECT src, src FROM edges
         | UNION
         | SELECT e.src, w.label FROM edges e JOIN walk w ON e.dst = w.id),
         |dups AS (SELECT id AS doc_id FROM walk GROUP BY id
         |         HAVING id <> min(label))
         |SELECT doc_id, source, lang FROM documents
         |WHERE doc_id NOT IN (SELECT doc_id FROM dups)""".stripMargin,
    "dd39_simhash64" ->
      s"""WITH $simhash64FpCte
         |SELECT doc_id, simhash FROM fp""".stripMargin,
    "dd40_simhash_hamming_pairs" ->
      s"""WITH $simhash64FpCte,
         |ch AS (SELECT doc_id, simhash, i, (simhash >> (i * 16)) & 65535 AS cv
         |       FROM fp CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i)),
         |p AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
         |       x.simhash AS fa, y.simhash AS fb
         |      FROM ch x JOIN ch y ON x.i = y.i AND x.cv = y.cv
         |       AND x.doc_id < y.doc_id)
         |SELECT doc_a, doc_b, CAST(bit_count(xor(fa, fb)) AS INTEGER) AS hamming
         |FROM p WHERE bit_count(xor(fa, fb)) <= 3""".stripMargin,
    "dd43_simhash_hamming_capped" ->
      s"""WITH $simhash64FpCte,
         |ch AS (SELECT doc_id, simhash, i, (simhash >> (i * 16)) & 65535 AS cv
         |       FROM fp CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i)),
         |ok AS (SELECT i, cv FROM (SELECT i, cv, count(*) AS n FROM ch GROUP BY 1, 2)
         |       WHERE n <= 8),
         |cc AS (SELECT ch.* FROM ch JOIN ok USING (i, cv)),
         |p AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
         |       x.simhash AS fa, y.simhash AS fb
         |      FROM cc x JOIN cc y ON x.i = y.i AND x.cv = y.cv
         |       AND x.doc_id < y.doc_id)
         |SELECT doc_a, doc_b, CAST(bit_count(xor(fa, fb)) AS INTEGER) AS hamming
         |FROM p WHERE bit_count(xor(fa, fb)) <= 3""".stripMargin,
    "dd41_ngram_jaccard_capped" ->
      s"""WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS sp FROM documents),
         |sh0 AS (SELECT doc_id, source, unnest($bigramsSql) AS shingle FROM d),
         |hot AS (SELECT shingle FROM (SELECT shingle, count(*) AS df FROM sh0 GROUP BY 1)
         |        WHERE df > 40),
         |sh AS (SELECT * FROM sh0 WHERE shingle NOT IN (SELECT shingle FROM hot)),
         |n AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
         |      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source = b.source
         |       AND a.doc_id < b.doc_id GROUP BY 1, 2)
         |SELECT doc_a, doc_b, common,
         | round(CAST(common AS DOUBLE) / (na.n_sh + nb.n_sh - common), 6) AS jaccard
         |FROM p JOIN n na ON p.doc_a = na.doc_id JOIN n nb ON p.doc_b = nb.doc_id
         |WHERE round(CAST(common AS DOUBLE) / (na.n_sh + nb.n_sh - common), 6) >= 0.5""".stripMargin,
    "dd42_lsh_pairs_capped" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
         |g AS (SELECT doc_id, $bigramsSql AS bg FROM d),
         |sigs AS (SELECT doc_id,
         |  md5(list_min(list_transform(bg, x -> md5('1' || x)))
         |   || list_min(list_transform(bg, x -> md5('2' || x)))) AS b1,
         |  md5(list_min(list_transform(bg, x -> md5('3' || x)))
         |   || list_min(list_transform(bg, x -> md5('4' || x)))) AS b2
         | FROM g),
         |b AS (SELECT doc_id, '1:' || b1 AS bucket FROM sigs WHERE b1 IS NOT NULL
         |      UNION ALL SELECT doc_id, '2:' || b2 FROM sigs WHERE b2 IS NOT NULL),
         |ok AS (SELECT bucket FROM (SELECT bucket, count(*) AS n FROM b GROUP BY 1)
         |       WHERE n <= 4),
         |bb AS (SELECT b.* FROM b JOIN ok USING (bucket))
         |SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |FROM bb x JOIN bb y ON x.bucket = y.bucket AND x.doc_id < y.doc_id""".stripMargin,
    "dd44_line_dedup" ->
      s"""WITH d AS (SELECT doc_id,
         |  coalesce(array_to_string(list_slice(string_split(text, ' '), 1, 10), ' '), '')
         |   || chr(10) || 'footer ' || coalesce(source, 'none')
         |   || chr(10) || coalesce(array_to_string(list_slice(string_split(text, ' '), 11, 20), ' '), '')
         |   AS text FROM documents),
         |lines AS (SELECT doc_id,
         |  unnest(string_split(text, chr(10))) AS line,
         |  generate_subscripts(string_split(text, chr(10)), 1) AS pos FROM d),
         |hot AS (SELECT line FROM lines GROUP BY line
         |        HAVING count(DISTINCT doc_id) >= 12)
         |SELECT l.doc_id,
         | coalesce(string_agg(CASE WHEN h.line IS NULL THEN l.line END,
         |   chr(10) ORDER BY l.pos), '') AS text,
         | CAST(count(CASE WHEN h.line IS NOT NULL THEN 1 END) AS BIGINT)
         |   AS n_removed
         |FROM lines l LEFT JOIN hot h ON l.line = h.line
         |GROUP BY l.doc_id""".stripMargin,
    "dd45_neardedup_pipeline" ->
      s"""WITH RECURSIVE d AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
         |g AS (SELECT doc_id, $bigramsSql AS bg FROM d),
         |sigs AS (SELECT doc_id,
         |  md5(list_min(list_transform(bg, x -> md5('1' || x)))
         |   || list_min(list_transform(bg, x -> md5('2' || x)))) AS b1,
         |  md5(list_min(list_transform(bg, x -> md5('3' || x)))
         |   || list_min(list_transform(bg, x -> md5('4' || x)))) AS b2
         | FROM g),
         |p AS (SELECT DISTINCT doc_a, doc_b FROM (
         | SELECT x.doc_id AS doc_a, y.doc_id AS doc_b FROM sigs x JOIN sigs y
         |  ON x.b1 = y.b1 AND x.doc_id < y.doc_id
         | UNION ALL
         | SELECT x.doc_id, y.doc_id FROM sigs x JOIN sigs y
         |  ON x.b2 = y.b2 AND x.doc_id < y.doc_id)),
         |v AS (SELECT doc_a, doc_b FROM p
         |  JOIN g ga ON p.doc_a = ga.doc_id
         |  JOIN g gb ON p.doc_b = gb.doc_id
         |  WHERE len(ga.bg) + len(gb.bg) - len(list_intersect(ga.bg, gb.bg)) > 0
         |   AND round(CAST(len(list_intersect(ga.bg, gb.bg)) AS DOUBLE)
         |    / (len(ga.bg) + len(gb.bg) - len(list_intersect(ga.bg, gb.bg))), 6) >= 0.5),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM v
         |          UNION SELECT doc_b, doc_a FROM v),
         |walk(id, label) AS (
         | SELECT src, src FROM edges
         | UNION
         | SELECT e.src, w.label FROM edges e JOIN walk w ON e.dst = w.id),
         |dups AS (SELECT id AS doc_id FROM walk GROUP BY id
         |         HAVING id <> min(label))
         |SELECT doc_id, source, lang FROM documents
         |WHERE doc_id NOT IN (SELECT doc_id FROM dups)""".stripMargin,
    "dd46_dedup_incremental" ->
      s"""WITH d AS (SELECT doc_id, text, source, lang,
         |  string_split(text, ' ') AS sp FROM documents),
         |g AS (SELECT doc_id, text, source, lang, $bigramsSql AS bg FROM d),
         |sigs AS (SELECT doc_id,
         |  md5(list_min(list_transform(bg, x -> md5('1' || x)))
         |   || list_min(list_transform(bg, x -> md5('2' || x)))) AS b1,
         |  md5(list_min(list_transform(bg, x -> md5('3' || x)))
         |   || list_min(list_transform(bg, x -> md5('4' || x)))) AS b2
         | FROM g),
         |bk AS (SELECT doc_id, '1:' || b1 AS bucket FROM sigs WHERE b1 IS NOT NULL
         |       UNION ALL SELECT doc_id, '2:' || b2 FROM sigs WHERE b2 IS NOT NULL),
         |ex AS (SELECT doc_id FROM g WHERE doc_id % 2 = 1 AND md5(text) IN
         |       (SELECT md5(text) FROM g WHERE doc_id % 2 = 0)),
         |cand AS (SELECT DISTINCT b.doc_id AS b_id, r.doc_id AS r_id
         |         FROM bk b JOIN bk r ON b.bucket = r.bucket
         |         WHERE b.doc_id % 2 = 1 AND r.doc_id % 2 = 0),
         |m AS (SELECT DISTINCT c.b_id FROM cand c
         |      JOIN g gb ON c.b_id = gb.doc_id
         |      JOIN g gr ON c.r_id = gr.doc_id
         |      WHERE len(gb.bg) + len(gr.bg) - len(list_intersect(gb.bg, gr.bg)) > 0
         |       AND round(CAST(len(list_intersect(gb.bg, gr.bg)) AS DOUBLE)
         |        / (len(gb.bg) + len(gr.bg) - len(list_intersect(gb.bg, gr.bg))), 6) >= 0.5)
         |SELECT doc_id, source, lang FROM g
         |WHERE doc_id % 2 = 1
         | AND doc_id NOT IN (SELECT doc_id FROM ex)
         | AND doc_id NOT IN (SELECT b_id FROM m)""".stripMargin,
    "dd52_bloom_screen" ->
      """SELECT doc_id, source, lang FROM documents
        |WHERE doc_id % 2 = 1 AND (text IS NULL OR md5(text) NOT IN
        | (SELECT md5(text) FROM documents
        |  WHERE doc_id % 2 = 0 AND text IS NOT NULL))""".stripMargin,
    "dd53_containment_pairs" ->
      s"""WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS sp FROM documents),
         |sh AS (SELECT doc_id, source, unnest($bigramsSql) AS shingle FROM d),
         |n AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
         |      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source = b.source
         |       AND a.doc_id < b.doc_id GROUP BY 1, 2),
         |sc AS (SELECT doc_a, doc_b, common,
         |  round(CAST(common AS DOUBLE) / na.n_sh, 6) AS containment_a,
         |  round(CAST(common AS DOUBLE) / nb.n_sh, 6) AS containment_b
         | FROM p JOIN n na ON doc_a = na.doc_id JOIN n nb ON doc_b = nb.doc_id)
         |SELECT doc_a, doc_b, common, containment_a, containment_b FROM sc
         |WHERE greatest(containment_a, containment_b) >= 0.3""".stripMargin,
    // dd54: dd36's cluster CTE + the q32 md5-bucket arithmetic on the
    // canonical id (singletons fall back to their own doc_id);
    // 90/5/5 thresholds floor(p*65536) = 58982 / 62259
    "dd54_cluster_safe_split" ->
      s"""WITH RECURSIVE d AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
         |g AS (SELECT doc_id, $bigramsSql AS bg FROM d),
         |sigs AS (SELECT doc_id,
         |  md5(list_min(list_transform(bg, x -> md5('1' || x)))
         |   || list_min(list_transform(bg, x -> md5('2' || x)))) AS b1,
         |  md5(list_min(list_transform(bg, x -> md5('3' || x)))
         |   || list_min(list_transform(bg, x -> md5('4' || x)))) AS b2
         | FROM g),
         |p AS (SELECT DISTINCT doc_a, doc_b FROM (
         | SELECT x.doc_id AS doc_a, y.doc_id AS doc_b FROM sigs x JOIN sigs y
         |  ON x.b1 = y.b1 AND x.doc_id < y.doc_id
         | UNION ALL
         | SELECT x.doc_id, y.doc_id FROM sigs x JOIN sigs y
         |  ON x.b2 = y.b2 AND x.doc_id < y.doc_id)),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM p
         |          UNION SELECT doc_b, doc_a FROM p),
         |walk(id, label) AS (
         | SELECT src, src FROM edges
         | UNION
         | SELECT e.src, w.label FROM edges e JOIN walk w ON e.dst = w.id),
         |cl AS (SELECT id AS doc_id, min(label) AS cluster_id FROM walk GROUP BY id),
         |k AS (SELECT doc.doc_id, doc.source,
         |  COALESCE(cl.cluster_id, doc.doc_id) AS split_key
         | FROM documents doc LEFT JOIN cl ON doc.doc_id = cl.doc_id),
         |b AS (SELECT *, CAST('0x' || substr(md5('split|' ||
         |  CAST(split_key AS VARCHAR)), 1, 4) AS INTEGER) AS bkt FROM k)
         |SELECT doc_id, source, split_key,
         | CASE WHEN bkt < 58982 THEN 'train'
         |      WHEN bkt < 62259 THEN 'val' ELSE 'test' END AS split
         |FROM b""".stripMargin,
    // dd55: both strategies recomputed end-to-end — dd54's cluster CTE
    // feeds the cluster_safe split keys, doc_hash keys are the ids; the
    // shingle frames reuse g's distinct bigrams
    "dd55_split_leakage_audit" ->
      s"""WITH RECURSIVE d AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
         |g AS (SELECT doc_id, $bigramsSql AS bg FROM d),
         |sigs AS (SELECT doc_id,
         |  md5(list_min(list_transform(bg, x -> md5('1' || x)))
         |   || list_min(list_transform(bg, x -> md5('2' || x)))) AS b1,
         |  md5(list_min(list_transform(bg, x -> md5('3' || x)))
         |   || list_min(list_transform(bg, x -> md5('4' || x)))) AS b2
         | FROM g),
         |p AS (SELECT DISTINCT doc_a, doc_b FROM (
         | SELECT x.doc_id AS doc_a, y.doc_id AS doc_b FROM sigs x JOIN sigs y
         |  ON x.b1 = y.b1 AND x.doc_id < y.doc_id
         | UNION ALL
         | SELECT x.doc_id, y.doc_id FROM sigs x JOIN sigs y
         |  ON x.b2 = y.b2 AND x.doc_id < y.doc_id)),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM p
         |          UNION SELECT doc_b, doc_a FROM p),
         |walk(id, label) AS (
         | SELECT src, src FROM edges
         | UNION
         | SELECT e.src, w.label FROM edges e JOIN walk w ON e.dst = w.id),
         |cl AS (SELECT id AS doc_id, min(label) AS cluster_id FROM walk GROUP BY id),
         |keys AS (
         | SELECT 'cluster_safe' AS strategy, doc.doc_id,
         |  COALESCE(cl.cluster_id, doc.doc_id) AS split_key
         | FROM documents doc LEFT JOIN cl ON doc.doc_id = cl.doc_id
         | UNION ALL
         | SELECT 'doc_hash', doc_id, doc_id FROM documents),
         |sp2 AS (SELECT strategy, doc_id,
         |  CASE WHEN CAST('0x' || substr(md5('split|' ||
         |    CAST(split_key AS VARCHAR)), 1, 4) AS INTEGER) < 58982
         |   THEN 'train' ELSE 'eval' END AS half FROM keys),
         |train_sh AS (SELECT DISTINCT s.strategy, u.shingle
         | FROM sp2 s JOIN g USING (doc_id), unnest(g.bg) AS u(shingle)
         | WHERE s.half = 'train'),
         |ev AS (SELECT s.strategy, s.doc_id, len(g.bg) AS n_shingles
         | FROM sp2 s JOIN g USING (doc_id) WHERE s.half <> 'train'),
         |ev_sh AS (SELECT s.strategy, s.doc_id, u.shingle
         | FROM sp2 s JOIN g USING (doc_id), unnest(g.bg) AS u(shingle)
         | WHERE s.half <> 'train'),
         |shared AS (SELECT e.strategy, e.doc_id, count(*) AS n_shared
         | FROM ev_sh e JOIN train_sh t
         |  ON e.strategy = t.strategy AND e.shingle = t.shingle
         | GROUP BY 1, 2),
         |per AS (SELECT ev.strategy, ev.doc_id, ev.n_shingles,
         |  COALESCE(s.n_shared, 0) AS n_shared
         | FROM ev LEFT JOIN shared s
         |  ON ev.strategy = s.strategy AND ev.doc_id = s.doc_id)
         |SELECT strategy, CAST(count(*) AS BIGINT) AS n_eval_docs,
         | CAST(SUM(CASE WHEN n_shingles > 0
         |   AND n_shared >= 0.5 * n_shingles THEN 1 ELSE 0 END) AS BIGINT)
         |  AS n_contaminated,
         | CAST(SUM(n_shared) AS BIGINT) AS shared_shingles,
         | CAST(SUM(n_shingles) AS BIGINT) AS eval_shingles,
         | round(CAST(SUM(n_shared) AS DOUBLE) / SUM(n_shingles), 6)
         |  AS leak_ratio
         |FROM per GROUP BY 1""".stripMargin,
    // dd56: the cluster_safe strategy alone, clusters recomputed from
    // scratch by the same recursive CTE — the Spark side reads a
    // PERSISTED cluster frame, so the hash-match pins persisted == rebuilt
    "dd56_split_audit_prebuilt" ->
      s"""WITH RECURSIVE d AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
         |g AS (SELECT doc_id, $bigramsSql AS bg FROM d),
         |sigs AS (SELECT doc_id,
         |  md5(list_min(list_transform(bg, x -> md5('1' || x)))
         |   || list_min(list_transform(bg, x -> md5('2' || x)))) AS b1,
         |  md5(list_min(list_transform(bg, x -> md5('3' || x)))
         |   || list_min(list_transform(bg, x -> md5('4' || x)))) AS b2
         | FROM g),
         |p AS (SELECT DISTINCT doc_a, doc_b FROM (
         | SELECT x.doc_id AS doc_a, y.doc_id AS doc_b FROM sigs x JOIN sigs y
         |  ON x.b1 = y.b1 AND x.doc_id < y.doc_id
         | UNION ALL
         | SELECT x.doc_id, y.doc_id FROM sigs x JOIN sigs y
         |  ON x.b2 = y.b2 AND x.doc_id < y.doc_id)),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM p
         |          UNION SELECT doc_b, doc_a FROM p),
         |walk(id, label) AS (
         | SELECT src, src FROM edges
         | UNION
         | SELECT e.src, w.label FROM edges e JOIN walk w ON e.dst = w.id),
         |cl AS (SELECT id AS doc_id, min(label) AS cluster_id FROM walk GROUP BY id),
         |keys AS (SELECT doc.doc_id,
         |  COALESCE(cl.cluster_id, doc.doc_id) AS split_key
         | FROM documents doc LEFT JOIN cl ON doc.doc_id = cl.doc_id),
         |sp2 AS (SELECT doc_id,
         |  CASE WHEN CAST('0x' || substr(md5('split|' ||
         |    CAST(split_key AS VARCHAR)), 1, 4) AS INTEGER) < 58982
         |   THEN 'train' ELSE 'eval' END AS half FROM keys),
         |train_sh AS (SELECT DISTINCT u.shingle
         | FROM sp2 s JOIN g USING (doc_id), unnest(g.bg) AS u(shingle)
         | WHERE s.half = 'train'),
         |ev AS (SELECT s.doc_id, len(g.bg) AS n_shingles
         | FROM sp2 s JOIN g USING (doc_id) WHERE s.half <> 'train'),
         |ev_sh AS (SELECT s.doc_id, u.shingle
         | FROM sp2 s JOIN g USING (doc_id), unnest(g.bg) AS u(shingle)
         | WHERE s.half <> 'train'),
         |shared AS (SELECT e.doc_id, count(*) AS n_shared
         | FROM ev_sh e JOIN train_sh t ON e.shingle = t.shingle
         | GROUP BY 1),
         |per AS (SELECT ev.doc_id, ev.n_shingles,
         |  COALESCE(s.n_shared, 0) AS n_shared
         | FROM ev LEFT JOIN shared s ON ev.doc_id = s.doc_id)
         |SELECT 'cluster_safe' AS strategy,
         | CAST(count(*) AS BIGINT) AS n_eval_docs,
         | CAST(SUM(CASE WHEN n_shingles > 0
         |   AND n_shared >= 0.5 * n_shingles THEN 1 ELSE 0 END) AS BIGINT)
         |  AS n_contaminated,
         | CAST(SUM(n_shared) AS BIGINT) AS shared_shingles,
         | CAST(SUM(n_shingles) AS BIGINT) AS eval_shingles,
         | round(CAST(SUM(n_shared) AS DOUBLE) / SUM(n_shingles), 6)
         |  AS leak_ratio
         |FROM per""".stripMargin,
    // dd57: the synthesized twin-pair corpus and the analytic cluster
    // frame (pair minimum) recomputed end-to-end — md5-exact, no
    // recursive CTE, so this one stays ORACLED even at the heavy tier
    "dd57_split_divergence" ->
      """WITH tw AS (SELECT doc_id, doc_id // 2 AS k FROM documents),
        |txt AS (SELECT doc_id, k,
        |  list_transform(range(0, 21), p ->
        |    substr(md5(CAST(k AS VARCHAR) || ':' || CAST(p AS VARCHAR)), 1, 8)) AS tk
        | FROM tw),
        |g AS (SELECT doc_id, k,
        |  list_distinct([tk[i] || ' ' || tk[i+1] for i in range(1, len(tk))]) AS bg
        | FROM txt),
        |keys AS (
        | SELECT 'cluster_safe' AS strategy, doc_id, k * 2 AS split_key, bg FROM g
        | UNION ALL
        | SELECT 'doc_hash', doc_id, doc_id, bg FROM g),
        |sp2 AS (SELECT strategy, doc_id, bg,
        |  CASE WHEN CAST('0x' || substr(md5('split|' ||
        |    CAST(split_key AS VARCHAR)), 1, 4) AS INTEGER) < 58982
        |   THEN 'train' ELSE 'eval' END AS half FROM keys),
        |train_sh AS (SELECT DISTINCT strategy, u.shingle
        | FROM sp2, unnest(sp2.bg) AS u(shingle) WHERE half = 'train'),
        |ev AS (SELECT strategy, doc_id, len(bg) AS n_shingles
        | FROM sp2 WHERE half <> 'train'),
        |ev_sh AS (SELECT strategy, doc_id, u.shingle
        | FROM sp2, unnest(sp2.bg) AS u(shingle) WHERE half <> 'train'),
        |shared AS (SELECT e.strategy, e.doc_id, count(*) AS n_shared
        | FROM ev_sh e JOIN train_sh t
        |  ON e.strategy = t.strategy AND e.shingle = t.shingle
        | GROUP BY 1, 2),
        |per AS (SELECT ev.strategy, ev.doc_id, ev.n_shingles,
        |  COALESCE(s.n_shared, 0) AS n_shared
        | FROM ev LEFT JOIN shared s
        |  ON ev.strategy = s.strategy AND ev.doc_id = s.doc_id)
        |SELECT strategy, CAST(count(*) AS BIGINT) AS n_eval_docs,
        | CAST(SUM(CASE WHEN n_shingles > 0
        |   AND n_shared >= 0.5 * n_shingles THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_contaminated,
        | CAST(SUM(n_shared) AS BIGINT) AS shared_shingles,
        | CAST(SUM(n_shingles) AS BIGINT) AS eval_shingles,
        | round(CAST(SUM(n_shared) AS DOUBLE) / SUM(n_shingles), 6)
        |  AS leak_ratio
        |FROM per GROUP BY 1""".stripMargin,
    "dd51_semantic_screen_incremental" ->
      s"""WITH $ivfAssignCte,
         |r AS (SELECT * FROM a WHERE vec_id % 2 = 0),
         |b AS (SELECT * FROM a WHERE vec_id % 2 = 1),
         |dom AS (SELECT DISTINCT b.vec_id FROM b JOIN r
         |  ON b.centroid_id = r.centroid_id
         |  WHERE round(list_sum([b.emb[i] * r.emb[i] for i in range(1, 65)])
         |    / (b.norm * r.norm), 4) >= 0.3)
         |SELECT vec_id, centroid_id FROM b
         |WHERE vec_id NOT IN (SELECT vec_id FROM dom)""".stripMargin,
    "dd50_substring_dedup" ->
      """WITH d AS (SELECT doc_id, text ||
        |  CASE WHEN doc_id % 3 = 0
        |   THEN ' subscribe to our newsletter for daily updates and exclusive offers today'
        |   ELSE '' END AS text FROM documents),
        |t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM d),
        |wj AS (SELECT doc_id, unnest(range(1, greatest(len(tk) - 5 + 1, 0) + 1)) AS j FROM t),
        |w AS (SELECT wj.doc_id, j,
        |  md5(array_to_string(list_slice(t.tk, j, j + 4), ' ')) AS h
        | FROM wj JOIN t USING (doc_id)),
        |hot AS (SELECT h FROM w GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
        |ks AS (SELECT unnest(range(0, 5)) AS k),
        |cov AS (SELECT DISTINCT w.doc_id, w.j + ks.k AS p
        | FROM w JOIN hot USING (h) CROSS JOIN ks),
        |pos AS (SELECT doc_id, unnest(range(1, len(tk) + 1)) AS p FROM t),
        |tok AS (SELECT pos.doc_id, p, t.tk[p] AS token
        | FROM pos JOIN t USING (doc_id)),
        |kept AS (SELECT tok.doc_id, tok.p, tok.token
        | FROM tok LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.p = cov.p
        | WHERE cov.p IS NULL),
        |reb AS (SELECT doc_id, array_to_string(list(token ORDER BY p), ' ') AS text,
        |  count(*) AS n_kept FROM kept GROUP BY doc_id)
        |SELECT t.doc_id, coalesce(reb.text, '') AS text,
        | CAST(len(t.tk) AS BIGINT) - CAST(coalesce(reb.n_kept, 0) AS BIGINT) AS n_removed
        |FROM t LEFT JOIN reb USING (doc_id)""".stripMargin,
    "dd49_semantic_dedup_selftrained" ->
      s"""WITH e AS (SELECT vec_id,
         |  list_transform(embedding, v -> CAST(v AS DOUBLE)) AS emb FROM embeddings),
         |${Similarity.kmChain("f", 0, 64, "")},
         |w AS (SELECT vec_id, emb, sqrt(list_sum([v * v for v in emb])) AS norm FROM e),
         |c AS (SELECT centroid_id,
         |  [${(0 until 64).map(i => s"c$i").mkString(", ")}] AS c_emb,
         |  sqrt(${(0 until 64).map(i => s"c$i * c$i").mkString(" + ")}) AS c_norm
         | FROM fk2),
         |scored AS (SELECT w.vec_id, c.centroid_id, w.emb, w.norm,
         |  list_sum([w.emb[i] * c.c_emb[i] for i in range(1, 65)]) / (w.norm * c.c_norm) AS cos_full
         | FROM w, c),
         |a AS (SELECT vec_id, centroid_id, emb, norm FROM (
         |  SELECT *, row_number() OVER
         |   (PARTITION BY vec_id ORDER BY cos_full DESC, centroid_id ASC) AS rn FROM scored)
         | WHERE rn = 1),
         |dup AS (SELECT DISTINCT y.vec_id FROM a x JOIN a y
         |  ON x.centroid_id = y.centroid_id AND x.vec_id < y.vec_id
         |  WHERE round($cosSql, 4) >= 0.3)
         |SELECT vec_id, centroid_id FROM a
         |WHERE vec_id NOT IN (SELECT vec_id FROM dup)""".stripMargin,
    "dd47_semantic_dedup" ->
      s"""WITH $ivfAssignCte,
         |dup AS (SELECT DISTINCT y.vec_id FROM a x JOIN a y
         |  ON x.centroid_id = y.centroid_id AND x.vec_id < y.vec_id
         |  WHERE round($cosSql, 4) >= 0.3)
         |SELECT vec_id, centroid_id FROM a
         |WHERE vec_id NOT IN (SELECT vec_id FROM dup)""".stripMargin,
    "dd48_semantic_dedup_capped" ->
      s"""WITH $ivfAssignCte,
         |ok AS (SELECT centroid_id FROM
         |  (SELECT centroid_id, count(*) AS n FROM a GROUP BY 1) WHERE n <= 60),
         |aa AS (SELECT a.* FROM a JOIN ok USING (centroid_id)),
         |dup AS (SELECT DISTINCT y.vec_id FROM aa x JOIN aa y
         |  ON x.centroid_id = y.centroid_id AND x.vec_id < y.vec_id
         |  WHERE round($cosSql, 4) >= 0.3)
         |SELECT vec_id, centroid_id FROM a
         |WHERE vec_id NOT IN (SELECT vec_id FROM dup)""".stripMargin)
}
