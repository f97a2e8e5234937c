package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Work-dominated bench tier (r3 verdict item 6).
  *
  * The per-round sf0.1 bench is floor-dominated for ~57 of its entries
  * (Spark's fixed ~0.1-0.3 s per-job cost vs an in-process oracle answering
  * in milliseconds), so regressions in the heavy operators hide inside the
  * floor. This main replicates the sf0.1 documents/embeddings tables by a
  * factor (default 10 — a corpus with a 10x duplication rate, exactly the
  * dedup workload shape) into a heavy dir laid out like a sf dir, then runs
  * ONLY the work-dominated operators over it, best-of-2, with the same
  * DuckDB oracle-timing sidecar as graft.Bench.
  *
  * dd36 (dup clusters) is timed Spark-side but EXCLUDED from the oracle
  * sidecar: its oracle is a recursive-CTE transitive closure that already
  * needs 62 s at sf0.1 (BASELINE.md) and is quadratic-ish in pair count —
  * infeasible at 10x, which is itself the scale point.
  *
  * Output: ONE JSON line {"metric":"heavy_total",...} — recorded as
  * BENCH_heavy.json and summarized in BASELINE.md.
  */
object BenchHeavy {

  private val heavySpark = Seq(
    "dd30_exact_dedup",
    "dd31_ngram_jaccard",
    "dd33_minhash_lsh_pairs",
    "dd36_dup_clusters",
    "dd45_neardedup_pipeline",
    "dd46_dedup_incremental",
    "dd40_simhash_hamming_pairs",
    "sim38_lsh_neardup_pairs",
    "q33_token_budget",
    "q35_weighted_mix",
    "dd44_line_dedup",
    "dd50_substring_dedup",
    "dd52_bloom_screen",
    "sim51_ivf_pq_residual_topk",
    "td29_fingerprint",
    // r8: the round's two rebuilt work-dominated operators join the tier
    // (the r7 verdict's td45 done-bar asks for a heavy row explicitly) —
    // the 10x duplication is adversarial for both: replicated documents
    // multiply each rare term's df against the maxDf cap (td45) and the
    // per-pair document counts (q51)
    "td45_tfidf_pairs",
    "q51_cooccurrence",
    // r8 late additions: the two corpus-proportional model operators —
    // LM scoring joins every test bigram against the train censuses and
    // NB classification scores every (doc, seen-token) pair, so both
    // scale with the replicated corpus, not the query
    "td51_lm_quality",
    "td52_nb_classify",
    // r9 (verdict Next #4): the remaining second-session operators get
    // measured heavy rows instead of plan-shape arguments — retrieval
    // (census + tf frames scale with the corpus), the RAG chain (chunk +
    // embed every replica), the composed admission gate (three full
    // corpus passes), and the two Extended additions (q58's window rides
    // every event; q59's wedge volume rides the replicated edge list)
    "td49_bm25_topk",
    "td53_bm25_multi",
    "td54_model_gated_curation",
    "td47_rag_ingest",
    "td48_rag_retrieve",
    "q58_rolling_anomaly",
    "q59_triangle_counts",
    // r9 late: the end-to-end curated-mix assembly — td54's admission
    // composed with the per-source token budget; measures the full
    // screen → gate → budget chain on the replicated corpus (its first
    // tier row caught the fully-lazy form's predicate-pushdown collapse
    // — see BASELINE)
    "q60_curated_mix",
    // r9 late: the two sampling/bucketing compositions — sim56 rides
    // ivfAssign over every replicated vector + the per-cell cap window,
    // td56 rides the full td51 LM scoring + a per-lang ntile window;
    // both corpus-proportional
    "sim56_cluster_balanced_sample",
    "td56_ppl_buckets",
    // r9 late: random-projection coarse search + exact rerank — the
    // projection and the 16-dim coarse scan both ride every replicated
    // vector
    "sim57_random_projection_rerank",
    // r10 (verdict Next #4): the r9 entries that lacked measured heavy
    // rows. td55 re-runs td52's corpus-proportional scoring plus a tiny
    // confusion aggregate; td57 rides the full BPE encode over every
    // replica; q61 composes td54's three corpus passes into one
    // aggregate row; mm51 composes the q40 rule screen + td52 classifier
    // (both corpus-proportional here) with the mm47 perceptual dedup
    // (fixture-bounded: the synthetic image set is the 64 originals —
    // replicas carry offset ids — so the media gate stays constant-sized
    // while the text gates scale; documented in BASELINE);
    // sim58/sim59 ride the projection + coarse scan over every vector,
    // sim59 at three dial settings from one projection pass
    "td55_nb_confusion",
    "td57_tokenizer_fertility",
    // r10 late: the LM-gate threshold sweep — the full td54 gate chain
    // evaluated once, |T| conditional sums over the materialized frame
    "td58_gate_threshold_sweep",
    "q61_curation_funnel",
    "mm51_pair_curation",
    "sim58_projection_recall",
    "sim59_projection_dim_sweep",
    // r11 (verdict Next #3): the compressed-media metadata walks, made
    // corpus-proportional (one synthesized stream per document — the cap
    // that froze them at 64 streams removed), so the tier measures the
    // per-row synthesize+walk kernel against DuckDB's formula recompute
    // (the Spark side does strictly more work: it builds and walks the
    // actual bytes; the oracle never touches bytes — documented on the
    // BASELINE rows)
    "mm52_mp3_frame_walk",
    "mm53_h264_nal_walk",
    // r11 late: the vocabulary-sizing coverage curve — one corpus word
    // census, then occupancy arithmetic on the count-of-counts frame
    "td59_vocab_coverage",
    // r12: sequence packing — the global-layout two-pass prefix sum over
    // every replicated document (the q33 machinery at corpus-global key)
    "q36_pack_sequences",
    // r12: the split-leakage audit — dd36's clusters + the cluster-unit
    // split + two corpus-shingle joins per strategy (eval vs train);
    // oracle-excluded like dd36/dd45 (the recursive-CTE closure is
    // infeasible at the 10x tier, which is itself the scale point)
    "dd55_split_leakage_audit",
    // r13 (r12 verdict #4/#5): dd56 isolates the split+audit term over
    // PREBUILT clusters (run1 pays the dd36 build into the manifest-
    // stamped store; warm best-of measures the production shape —
    // oracle-excluded, its oracle recomputes the recursive CTE); dd57's
    // synthesized wide-vocabulary twin corpus has an ANALYTIC cluster
    // frame, so it stays fully oracled even here
    "dd56_split_audit_prebuilt",
    "dd57_split_divergence",
    // r13: the epoch shuffle — one hash projection + the (shard, bucket)
    // bounded window over every replicated document; the oracle pays a
    // plain per-shard sort (q64 epoch allocation stays OUT of the tier:
    // the q62 census engine-constant class, documented)
    "q63_epoch_shuffle",
    // r14 (added after the round's paired draws, so r15's tier is the
    // first to carry them): q66 composes allocation -> materialization ->
    // shuffle over the replicated corpus (instances scale with the
    // budget, the census+explode with the corpus); q67 rides the same
    // corpus window as q63 under the tier-major bucket (q65 epoch
    // materialization stays OUT: the q64/q62 census engine-constant
    // class — its f10 TimeQueries floor is recorded in BASELINE)
    "q66_epoch_stream",
    "q67_curriculum_order",
    // r14 late: the retrieval eval — 16 fused corpus passes (the routed
    // default at Q=16), corpus-proportional; the eval joins themselves
    // are top-k-sized
    "td60_retrieval_eval")
  // lineitem is replicated into the heavy dir (v4) for the Decimal-sum
  // class evidence recorded in BASELINE.md (q01 cents-long vs Decimal at
  // 6M rows, 2 MB grain: 0.78-0.80 s vs 1.07-1.20 s) and for scaling-curve
  // runs — q01/q08 are not tier rows: their residual vs DuckDB is the
  // engine-constant difference between a vectorized single-pass C++ agg
  // and the JVM row pipeline (duck 0.1 s at 6M rows), not plan shape,
  // and the tier exists to measure plan shape.
  // dd45 composes the same recursive-CTE closure as dd36 — both oracles
  // are infeasible at the 10x tier (which is itself the scale point)
  private val oracleExcluded = Set("dd36_dup_clusters",
    "dd45_neardedup_pipeline", "dd55_split_leakage_audit",
    "dd56_split_audit_prebuilt")

  /** The heavy dir's manifest; its presence marks a dir [[ensureHeavyDir]]
    * built.
    */
  val ManifestName = "_manifest.txt"

  /** Scan split grain (`spark.sql.files.maxPartitionBytes`) for `dir`: a
    * heavy dir (it carries [[ManifestName]]) splits at 128 KiB, matching
    * [[replicate]]'s ~1 MB uncompressed row groups so a 32-core session
    * scans with 32 tasks; any other dir keeps [[GraftSession]]'s 128 MiB.
    */
  def splitGrain(dir: String): Long =
    if (Files.exists(Paths.get(dir, ManifestName))) 128L * 1024
    else 128L * 1024 * 1024

  /** Replicate `base`'s documents, embeddings, events and lineitem tables
    * `factor`x into `target` and stamp its manifest. A target whose
    * manifest already carries this stamp is left untouched. Returns the
    * stamp.
    */
  def ensureHeavyDir(spark: SparkSession, base: String, factor: Int,
      target: java.nio.file.Path): String = {
    Files.createDirectories(target)
    val manifest = target.resolve(ManifestName)
    // v3 (r9): events joins the replicated set for q58's heavy row —
    // same ts/user_id per replica, offset event_ids, so every user's
    // rolling window runs factor× deeper. v4 (r9): lineitem joins for the
    // q01/q08 rows — offset orderkeys keep the countDistinct cardinality
    // scaling with the corpus.
    val stamp = s"base=$base factor=$factor v=4"
    if (!Files.exists(manifest) || Files.readString(manifest) != stamp) {
      for ((table, idCol) <- Seq("documents" -> "doc_id",
          "embeddings" -> "vec_id", "events" -> "event_id",
          "lineitem" -> "l_orderkey"))
        replicate(spark, s"$base/$table.parquet",
          target.resolve(s"$table.parquet"), idCol, factor)
      Files.writeString(manifest, stamp)
    }
    stamp
  }

  /** Replicate a table `factor`x with offset ids, written as ONE parquet
    * file so the DuckDB sidecar's `FROM 'path.parquet'` view works — but
    * with SMALL ROW GROUPS (protocol v2): a coalesce(1) default write
    * produces a single ~1 MB-compressed row group, which parquet cannot
    * split, so every heavy corpus scan ran as ONE task on a 32-core
    * session — the tier was measuring single-thread scan starvation, not
    * operator shape, for scan-bound entries. Small row groups plus the
    * matching [[splitGrain]] make the same single
    * file splittable for BOTH engines (DuckDB parallelizes by row group
    * too), which is the honest stand-in for a real multi-file corpus.
    */
  private[graft] def replicate(spark: SparkSession, src: String, dst: java.nio.file.Path,
      idCol: String, factor: Int): Unit = {
    val base = spark.read.parquet(src)
    val n = base.agg(max(col(idCol))).head.getLong(0) + 1
    val rep = base
      .withColumn("__r", explode(sequence(lit(0), lit(factor - 1))))
      .withColumn(idCol, col(idCol) + col("__r").cast("long") * n)
      .drop("__r")
    val staging = Files.createTempDirectory("graft_heavy_stage").toFile
    try {
      rep.coalesce(1).write.mode("overwrite")
        .option("parquet.block.size", (1 << 20).toString)
        .parquet(staging.toString)
      val part = staging.listFiles()
        .find(_.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no parquet part written under $staging"))
      Files.move(part.toPath, dst, StandardCopyOption.REPLACE_EXISTING)
    } finally FileUtils.deleteQuietly(staging)
  }

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val factor = sys.env.getOrElse("SPARK_GRAFT_HEAVY_FACTOR", "10").toInt
    val heavyDir = Paths.get(
      s"${System.getProperty("java.io.tmpdir")}/graft_sfheavy_v1")
    val spark = BenchHarness.session(defaultCpus = 32, base)
    ensureHeavyDir(spark, base, factor, heavyDir)
    val dir = heavyDir.toString
    BenchHarness.fitSplitGrain(spark, dir)

    // warm codegen/session paths off the clock
    try spark.read.parquet(s"$dir/documents.parquet").agg(count(lit(1))).collect()
    catch { case e: Throwable =>
      System.err.println(s"[bench-heavy] warmup FAILED: ${e.getMessage}") }
    // drift canary (r13 verdict #2) — same pinned query as graft.Bench,
    // over the heavy documents table
    val canaryStart = try BenchHarness.canaryWarm(spark, dir)
      catch { case _: Throwable => -1.0 }

    // per-entry storage hygiene, same as graft.Bench (r15 verdict #2):
    // nothing is persisted sweep-shared at this point, so the snapshot is
    // whatever the warmup left (normally empty)
    val keepIds = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val results = heavySpark.map { name =>
      def once(): Double = {
        val t0 = System.nanoTime()
        BenchHarness.executeFully(SparkEntry.queries(name)(spark, dir))
        (System.nanoTime() - t0) / 1e9
      }
      val t = try math.min(once(), once())
        catch { case e: Throwable =>
          System.err.println(s"[bench-heavy] $name FAILED: ${e.getMessage}"); -1.0 }
      BenchHarness.unpersistLeaked(spark, keepIds)
      name -> t
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum

    // heavier distributed-parse throughput point: 4x the standard bench
    // corpus. Measured on a CLEAN cache (r12): 42 tier entries leave
    // persisted edge frames and localCheckpoint blocks behind, and the
    // parse's wholetext read competes with that leftover storage for
    // executor memory — the r12 draws read the same parse at half the
    // bench_local rate until the eviction pressure was removed; the
    // throughput point exists to measure the parse, not the tier's
    // residue
    // clearCache drops catalog-registered cached relations only; the
    // tier's localCheckpoint blocks live as persisted RDDs outside the
    // catalog and are otherwise freed only when the ContextCleaner GCs
    // them — unpersist those explicitly too
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    val txPerSec = BenchHarness.txParseThroughput(spark,
      s"${System.getProperty("java.io.tmpdir")}/graft_x12_heavy_corpus",
      nFiles = 2400, seed = 7L)

    // end canary before the oracle child loads the machine
    val canaryEnd = try BenchHarness.canarySteady(spark, dir)
      catch { case _: Throwable => -1.0 }

    // DuckDB oracle sidecar over the SAME heavy tables (timing only)
    val oracleJson = BenchHarness.runOracleSidecar(dir,
      SparkEntry.oracleSql.filter { case (k, _) =>
        heavySpark.contains(k) && !oracleExcluded(k) },
      qs, timeoutMinutes = 30)

    BenchHarness.emit(
      s"""{"metric":"heavy_total","value":$total,"unit":"sec","factor":$factor,"canary_start_s":$canaryStart,"canary_end_s":$canaryEnd,"queries":$qs,"x12_parse_tx_per_sec":$txPerSec,"oracle":$oracleJson,"base":"$base"}""",
      "graft_bench_heavy_latest.json")
    spark.stop()
  }
}
