package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

/** Physical-plan contracts for the curation operators — the 100 TB claims
  * in the scaladocs, pinned as assertions so a refactor that silently adds
  * a shuffle or drops a broadcast fails the suite (same idiom as
  * BucketingSpec and the nested-schema-pruning pin).
  */
class PlanContractsSpec extends AnyFunSuite with SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  private def countOf(hay: String, needle: String): Int =
    hay.sliding(needle.length).count(_ == needle)

  // same type-adaptive ts read shim as queries.Q.t
  private def events = graft.queries.Q.t(spark, dir, "events")

  test("sessionStats plans exactly one shuffle, shared by windows and aggregate") {
    val ev = events
    val stats = Sessions.sessionStats(ev, "user_id", "ts", "event_id", 1800L)
    val plan = stats.queryExecution.executedPlan.toString
    // one hash-partitioning exchange on user_id: lag window, running-sum
    // window and the (user_id, session_seq) aggregate all reuse it —
    // HashPartitioning(user_id) satisfies the superset grouping
    assert(countOf(plan, "Exchange hashpartitioning") == 1,
      s"expected exactly one shuffle:\n$plan")
    assert(stats.count() > 0)
  }

  test("stratified sampling plans with no shuffle at all") {
    val sampled = Sampling.stratified(events, "event_type", "event_id",
      Map("purchase" -> 1.0), 0.25)
    val plan = sampled.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"sampling must be a pure map stage:\n$plan")
    assert(sampled.count() > 0)
  }

  test("contamination joins the benchmark shingles by broadcast, never SMJ on the corpus") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val c = TextAnalysis.contamination(docs, "doc_id", "text",
      docs.filter(col("doc_id") % 50 === 0), "text")
    val plan = c.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"benchmark shingle set must broadcast:\n$plan")
    assert(c.count() == docs.count())
  }

  test("tokenBudget never windows a whole source in one task; perKeyCap gets map-side WindowGroupLimit") {
    import spark.implicits._
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val docs = (1L to 100L).map(i => (i, s"s${i % 5}", 10)).toDF("id", "src", "n")
    // AQE wraps stages in leaf nodes, hiding the join from tree traversal —
    // the static plan has the same shape and is what this contract pins
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val tb = Sampling.tokenBudget(docs, "src", "id", "n", Map.empty, 500L)
      // the window that consumes the CORPUS (downstream of the broadcast
      // offset join) must partition by (source, hash-prefix bucket) — a
      // partition spec of just the source would put a 40 TB source through
      // one task; the only single-column window allowed is the one over the
      // tiny per-bucket subtotal aggregate
      val corpusWindows = tb.queryExecution.executedPlan.collect {
        case w: WindowExec
            if w.find(_.isInstanceOf[BroadcastHashJoinExec]).isDefined => w
      }
      assert(corpusWindows.nonEmpty, "expected a window over the joined corpus")
      corpusWindows.foreach { w =>
        assert(w.partitionSpec.size == 2,
          s"corpus window must partition by (source, bucket):\n${tb.queryExecution.executedPlan}")
      }
      assert(tb.count() > 0)
      // weightedMix rides the same bucketed-rank machinery: its corpus
      // window must also partition by (source, bucket), never source alone
      val wm = Sampling.weightedMix(docs, "src", "id", Map("s1" -> 2.0),
        defaultWeight = 1.0, n = 50)
      val wmWindows = wm.queryExecution.executedPlan.collect {
        case w: WindowExec
            if w.find(_.isInstanceOf[BroadcastHashJoinExec]).isDefined => w
      }
      assert(wmWindows.nonEmpty && wmWindows.forall(_.partitionSpec.size == 2),
        s"weightedMix corpus window must partition by (source, bucket):\n${wm.queryExecution.executedPlan}")
      assert(wm.count() == 50)
      // packSequences' order is corpus-GLOBAL, so its corpus window must
      // still partition by the hash bucket (one column) — an empty
      // partition spec would put the whole corpus through one task
      val ps = Sampling.packSequences(docs, "id", "n", seqLen = 64L)
      val psWindows = ps.queryExecution.executedPlan.collect {
        case w: WindowExec
            if w.find(_.isInstanceOf[BroadcastHashJoinExec]).isDefined => w
      }
      assert(psWindows.nonEmpty && psWindows.forall(_.partitionSpec.size == 1),
        s"packSequences corpus window must partition by bucket:\n${ps.queryExecution.executedPlan}")
      assert(ps.count() == 100)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    val cap = Sampling.perKeyCap(docs, "src", "id", k = 3)
    val capPlan = cap.queryExecution.executedPlan.toString
    assert(countOf(capPlan, "Exchange hashpartitioning") == 1)
    // Spark's rank-limit pushdown prunes each map side to k rows per key
    // BEFORE the shuffle — the plan shape that survives hot keys at scale
    assert(countOf(capPlan, "WindowGroupLimit") >= 2,
      s"expected partial + final WindowGroupLimit:\n$capPlan")
  }

  test("epoch/curriculum shuffle: the corpus rank window partitions by " +
      "(shard, bucket), never shard alone") {
    import spark.implicits._
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val docs = (1L to 200L).map(i => (i, i % 3)).toDF("id", "tier")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      // a partition spec of just the shard would sort ~100 GB per task at
      // 100 TB / 1024 shards — the bucket column must stay in the spec
      for (df <- Seq(
          Sampling.epochShuffle(docs, "id", seed = 7L, nShards = 4),
          Sampling.curriculumShuffle(docs, "id", "tier", seed = 5L,
            nShards = 4))) {
        val ws = df.queryExecution.executedPlan.collect {
          case w: WindowExec
              if w.find(_.isInstanceOf[BroadcastHashJoinExec]).isDefined => w
        }
        assert(ws.nonEmpty, "expected a window over the joined corpus")
        ws.foreach(w => assert(w.partitionSpec.size == 2,
          s"corpus window must partition by (shard, bucket):\n" +
            df.queryExecution.executedPlan))
        assert(df.count() == 200)
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("packStream: the prefix-sum window partitions by (key, block), " +
      "never the key alone — packing stays shard-local and block-bounded") {
    import spark.implicits._
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val manifest = (0L until 300L)
      .map(i => (i % 4, i / 4 + 1, (i % 7 + 1).toInt))
      .toDF("shard", "pos", "n_tok")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      // a (shard)-only partition spec would run each shard's FULL
      // manifest prefix sum on one task — the q68 trainer path at 100 TB
      // has ~100 GB per shard; the range block must stay in the spec
      val df = Sampling.packStream(manifest, "shard", "pos", "n_tok",
        seqLen = 16L, blockRows = 8L)
      val ws = df.queryExecution.executedPlan.collect {
        case w: WindowExec
            if w.find(_.isInstanceOf[BroadcastHashJoinExec]).isDefined => w
      }
      assert(ws.nonEmpty, "expected a window over the joined manifest")
      ws.foreach(w => assert(w.partitionSpec.size == 2,
        s"packStream window must partition by (key, block):\n" +
          df.queryExecution.executedPlan))
      assert(df.count() == 300)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("rdd cluster loop: the partitioner-aligned edge join is narrow — " +
      "no shuffle dependency between the persisted edges and a round's " +
      "neighbor join (the r15 dupClustersRdd contract)") {
    // the cluster loop's edge-layout contract: edges partitionBy(part)
    // once, labels come out of reduceByKey(part), so every round's
    // edges.join(labels) must be a narrow cogroup — the
    // multi-billion-row edge side never reshuffles. Pinned by dependency
    // TYPE: walking the join's DAG down to the persisted parents must
    // cross zero ShuffleDependency edges.
    val sc = spark.sparkContext
    val part = new org.apache.spark.HashPartitioner(
      spark.sessionState.conf.numShufflePartitions)
    val edges = sc.parallelize((1L to 2000L).flatMap(i =>
        Seq((i, i + 1), (i + 1, i))))
      .partitionBy(part).persist()
    val labels = edges
      .reduceByKey(part, (a: Long, b: Long) => math.min(a, b))
      .mapPartitions(_.map { case (id, m) => (id, math.min(id, m)) },
        preservesPartitioning = true)
    val joined = edges.join(labels)
    def shuffles(r: org.apache.spark.rdd.RDD[_],
        stopAt: Set[Int]): Seq[org.apache.spark.Dependency[_]] =
      if (stopAt.contains(r.id)) Nil
      else r.dependencies.flatMap {
        case s: org.apache.spark.ShuffleDependency[_, _, _] => Seq(s)
        case d => shuffles(d.rdd, stopAt)
      }
    val stop = Set(edges.id, labels.id)
    assert(shuffles(joined, stop).isEmpty,
      "edges.join(labels) must be partitioner-aligned (narrow)")
    assert(joined.count() == 4000L)
    edges.unpersist(false)
  }

  test("pqTopK touches the corpus through codes only: one broadcast, one window exchange") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    // the ADC scale claim: the corpus side is a pure code projection — the
    // only exchange in the whole plan is the per-query top-k window, and
    // the only join is the guarded query broadcast. A refactor that
    // shuffles the corpus (SortMergeJoin) or re-reads raw embeddings on
    // the corpus side must fail here.
    val emb = (0L until 200L)
      .map(i => (i, Array.tabulate(64)(d => ((i * 7 + d) % 13).toDouble / 13)))
      .toDF("vec_id", "emb")
    val top = Ann.pqTopK(emb, "vec_id", "emb", col("vec_id") < 2, k = 3,
      subspaces = 4, centroidsPerSub = 8, dim = 64)
    // string counts, not tree traversal: under AQE the unexecuted
    // AdaptiveSparkPlan wrapper exposes no children to collect(), and this
    // plan has no cached-relation repr to miscount
    val plan = top.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"), plan)
    assert(!plan.contains("SortMergeJoin"),
      s"corpus side must not shuffle into a join:\n$plan")
    assert(countOf(plan, "Exchange hashpartitioning") == 1,
      s"expected only the query_id window exchange:\n$plan")
    assert(top.count() == 6) // 2 queries x k=3
  }

  test("LSH and simhash pair generation is local expansion — no join operator at all") {
    graft.functions.GraftFunctions.register(spark)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    // the scale claim behind minhashLshPairs/simhashNearPairs: candidates
    // expand INSIDE bucket groups after one shuffle — a refactor that
    // reintroduces a self-join (or worse, a cartesian product) must fail
    for (pairs <- Seq(
        TextDedup.minhashLshPairs(docs, "doc_id", "text", bands = 2,
          rowsPerBand = 2),
        TextDedup.simhashNearPairs(docs, "doc_id", "text", maxHamming = 3))) {
      val plan = pairs.queryExecution.executedPlan.toString
      assert(!plan.contains("Join") && !plan.contains("CartesianProduct"),
        s"pair generation must not join:\n$plan")
    }
  }

  test("cap anti-joins are unhinted: no BroadcastExchange once the heavy-hitter set exceeds the threshold") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    // degenerate corpus: 80% of rows sit in oversize buckets / hot shingles,
    // so the cap-side relation is O(rows/cap) — the shape where a forced
    // broadcast(oversize) ships an unbounded set to every executor (or OOMs
    // the driver building the relation) at 100 TB. With the broadcast
    // threshold disabled, a BroadcastExchange in these plans can only come
    // from a hint — r4 removed them; this pins that they stay gone.
    val docs = ((0L until 400L).map(i =>
        (i, s"src${i % 4}", s"boilerplate block ${i % 20} repeated again and again")) ++
      (400L until 500L).map(i =>
        (i, s"src${i % 4}", s"unique document number $i with its own words")))
      .toDF("doc_id", "source", "text")
    val emb = (0L until 300L)
      .map(i => (i, Array.tabulate(8)(d => ((i % 10) + d).toDouble + 1d)))
      .toDF("vec_id", "emb")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // the shared cap itself, both forms: the LSH generators run it under
      // a lazy localCheckpoint, so their returned plans end at a scan and
      // cannot show its anti-join — its own plan must
      val keyed = docs.select(col("doc_id"), col("text").as("bucket"))
      val heavy = TextDedup.oversizeKeys(keyed.unionByName(keyed), "bucket",
        lit(1), 8L)
      for ((name, capped) <- Seq(
          "dropOversize" -> TextDedup.dropOversize(keyed, "bucket", lit(1), 8L),
          "dropOversize(key set)" -> TextDedup.dropOversize(keyed, "bucket",
            heavy))) {
        val plan = capped.queryExecution.executedPlan.toString
        assert(plan.contains("LeftAnti") && !plan.contains("BroadcastExchange"),
          s"$name must anti-join the oversize keys unhinted:\n$plan")
        assert(capped.count() == 100L) // the 400 boilerplate rows are dropped
      }
      for ((name, capped) <- Seq(
          "minhashLshPairs" -> TextDedup.minhashLshPairs(docs, "doc_id", "text",
            bands = 2, rowsPerBand = 2, maxBucketSize = 8L),
          "simhashNearPairs" -> TextDedup.simhashNearPairs(docs, "doc_id", "text",
            maxHamming = 3, maxBucketSize = 8L),
          "lshNearPairs" -> Ann.lshNearPairs(emb, "vec_id", "emb",
            planes = 4, dim = 8, threshold = 0.25, maxBucketSize = 8L),
          // dd46: the reference digest set, the combined-bucket oversize
          // set, and the matched-member id set are ALL O(corpus-or-batch)
          // on this boilerplate-heavy shape — every screen must stay
          // unhinted so AQE (not a hint) decides the join strategy
          "dedupAgainstReference" -> TextDedup.dedupAgainstReference(
            docs.filter(col("doc_id") % 2 === 0),
            docs.filter(col("doc_id") % 2 === 1), "doc_id", "text",
            bands = 2, rowsPerBand = 2, threshold = 0.5,
            maxBucketSize = 8L),
          "ngramContainmentPairs" -> TextDedup.ngramContainmentPairs(docs,
            "doc_id", "text", blockCol = "source", threshold = 0.5,
            maxDocFreq = 8L))) {
        val plan = capped.queryExecution.executedPlan.toString
        assert(!plan.contains("BroadcastExchange"),
          s"$name cap side over threshold must not broadcast:\n$plan")
        capped.count() // and the shuffled anti-join actually executes
      }
      // ngramJaccardPairs and nearDedupPipeline run their anti-joins inside
      // checkpoints, so the returned frames' plans end at an RDD scan and
      // cannot show them — assert on the executed plans instead, keyed by
      // the anti-join's key so neither assertion can hold vacuously
      val antiKey = """Join \[(\w+)#\d+L?\], \[\w+#\d+L?\], LeftAnti""".r
      def antiJoins(name: String, body: => Unit): Map[String, Seq[String]] = {
        val plans = executionsOf(body)._2.map(_._2.executedPlan.toString)
        val byKey = plans.flatMap(p => antiKey.findAllMatchIn(p)
          .map(m => m.group(1) -> p)).groupMap(_._1)(_._2)
        byKey.values.flatten.foreach(p =>
          assert(!p.contains("BroadcastExchange"),
            s"$name: an anti-join over threshold must not broadcast:\n$p"))
        byKey
      }
      val ngram = antiJoins("ngramJaccardPairs",
        TextDedup.ngramJaccardPairs(docs, "doc_id", "text", blockCol = "source",
          threshold = 0.5, maxDocFreq = 8L).count())
      assert(ngram.contains("shingle"),
        s"expected the hot-shingle anti-join to run, saw keys ${ngram.keySet}")
      // the bucket cap and the final duplicate-id anti-join
      val near = antiJoins("nearDedupPipeline",
        TextDedup.nearDedupPipeline(docs, "doc_id", "text", bands = 2,
          rowsPerBand = 2, threshold = 0.5, maxBucketSize = 8L).count())
      assert(near.contains("bucket") && near.contains("doc_id"),
        s"expected the cap and duplicate-id anti-joins to run, saw keys ${near.keySet}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("ivfAssign is a projection argmin: the corpus never crosses an exchange at corpus-times-centroids width") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    // the SemDeDup-scale claim (r6 verdict #1): assignment against k
    // centroids must never expand the corpus k-fold through a shuffle —
    // the old crossJoin+row_number form exchanged the EXPANDED frame,
    // a 100,000x row amplification at SemDeDup's ~100k clusters. The fix
    // folds the whole centroid set into ONE broadcast array row and takes
    // the argmax as a per-row projection, so the only allowed exchange is
    // the O(k) single-partition collect_list over the centroid frame.
    val emb = (0L until 500L)
      .map(i => (i, Array.tabulate(16)(d => ((i * 11 + d) % 17).toDouble / 17 + 0.1)))
      .toDF("vec_id", "emb")
    val centroids = emb.filter(col("vec_id") < 50)
      .select(col("vec_id").as("centroid_id"), col("emb").as("c_emb"),
        sqrt(graft.functions.GraftFunctions.dot(col("emb"), col("emb"))).as("c_norm"))
    val assigned = Ann.ivfAssign(emb, "vec_id", "emb", centroids)
    val plan = assigned.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"assignment must not hash-exchange anything (the old form shuffled corpus x k):\n$plan")
    assert(!plan.contains("Window"),
      s"argmin must be a projection, not a window over the expanded frame:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"centroid array must reach the corpus as a one-row broadcast:\n$plan")
    assert(assigned.count() == 500L)
    // and the winner is the true argmax with the (cos desc, id asc) tiebreak
    val cents = centroids.as[(Long, Array[Double], Double)].collect()
    val brute = emb.as[(Long, Array[Double])].collect().map { case (id, v) =>
      val cs = cents.map { case (cid, cv, cn) =>
        val cos = v.zip(cv).map { case (a, b) => a * b }.sum /
          (math.sqrt(v.map(x => x * x).sum) * cn)
        (cid, cos)
      }
      val bestCos = cs.map(_._2).max
      (id, cs.filter(_._2 == bestCos).map(_._1).min)
    }.toMap
    assigned.select("vec_id", "centroid_id").as[(Long, Long)].collect()
      .foreach { case (id, cid) => assert(brute(id) == cid, s"vec $id") }
  }

  test("bloomScreen prunes the reference scan map-side: might_contain below any exchange") {
    graft.functions.GraftFunctions.register(spark)
    val all = graft.queries.Q.t(spark, dir, "documents")
    val refDigests = all.filter(col("doc_id") % 2 === 0)
      .select(md5(col("text")).as("__fp"))
      .filter(col("__fp").isNotNull).distinct()
    val out = TextDedup.bloomScreen(refDigests,
      all.filter(col("doc_id") % 2 === 1), "text")
    val plan = out.queryExecution.executedPlan.toString
    val lines = plan.linesIterator.toVector
    val fis = lines.indices.filter(i => lines(i).contains("might_contain")
      && lines(i).contains("Filter"))
    // Catalyst pushes the prune onto the reference scan AND (via equi-join
    // constraint propagation) onto the sketch-side frame — every instance
    // must sit directly on its scan: the lines between a prune filter and
    // its child scan contain NO exchange, so definite-non-matches die
    // before anything shuffles
    assert(fis.nonEmpty, s"expected a might_contain prune in the plan:\n$plan")
    fis.foreach { fi =>
      val below = lines.drop(fi + 1).takeWhile(l => !l.contains("Scan"))
      assert(!below.exists(_.contains("Exchange")),
        s"bloom prune at line $fi must sit directly on the scan side, " +
          s"found exchange between filter and scan:\n$plan")
    }
    assert(out.count() > 0)
  }

  test("knnGraph self-join shuffles on the cell id only — no query-side broadcast at scale") {
    graft.functions.GraftFunctions.register(spark)
    val e = graft.queries.Q.t(spark, dir, "embeddings").select(
      col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("emb"))
    val cents = e.filter(col("vec_id") < 8).select(
      col("vec_id").as("centroid_id"), col("emb").as("c_emb"),
      sqrt(graft.functions.GraftFunctions.dot(col("emb"), col("emb")))
        .as("c_norm"))
    // at fixture size AQE would broadcast the self-join side; disable the
    // threshold to see the plan a corpus-scale build takes
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val g = Ann.knnGraph(e, "vec_id", "emb", cents, k = 3)
      assert(g.count() > 0) // materialize with AQE final plan
      val plan = g.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin") ||
        countOf(plan, "BroadcastHashJoin") == countOf(plan, "__cents"),
        s"the corpus self-join must not broadcast a corpus side " +
          s"(the only allowed broadcast is ivfAssign's one-row centroid " +
          s"array):\n$plan")
      // every hash exchange keys on centroid_id (the join) or query_id
      // (the top-k window) — never an expanded or all-pairs frame
      val exchanges = plan.linesIterator
        .filter(_.contains("Exchange hashpartitioning")).toVector
      assert(exchanges.nonEmpty)
      exchanges.foreach { l =>
        assert(l.contains("centroid_id") || l.contains("query_id"),
          s"unexpected exchange key: $l")
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("curationPipeline is one fused projection: no exchange, no join") {
    graft.functions.GraftFunctions.register(spark)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val out = TextAnalysis.curationPipeline(docs, "doc_id", "text")
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"four row-wise stages must compose into one map stage:\n$plan")
    assert(!plan.contains("Join"), s"no id-joins between stages:\n$plan")
    assert(out.count() == docs.count())
  }

  test("q08 global KPIs never Expand the corpus (multi-distinct decomposition)") {
    // three countDistincts in one Aggregate would plan an Expand that
    // replicates every input row once per distinct group — the r7 rewrite
    // decomposes them into single-distinct subtrees joined as 1-row frames
    val df = graft.queries.Relational.q08(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"),
      s"multi-distinct aggregate must not replicate the corpus:\n$plan")
    assert(df.count() == 1)
  }

  test("q01 grouped aggregate never Expands the fact (mixed-distinct decomposition)") {
    // a countDistinct mixed with plain aggregates plans an Expand that
    // doubles the fact through the exchange — the r8 rewrite decomposes
    // into a plain + a single-distinct grouped aggregate joined on keys
    val df = graft.queries.Relational.q01(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"),
      s"mixed-distinct aggregate must not replicate the fact:\n$plan")
    assert(df.count() > 0)
  }

  test("tfidfPairs fast path: corpus side never broadcasts; self-join and census join shuffle-hash") {
    // AQE sizes an exploded frame by its parquet scan bytes and would
    // broadcast-serialize the CORPUS-sized tf side single-threaded
    // (measured: a 2.5 s BroadcastExchange stage on the td45 frame) —
    // the hints pin the shuffle form, which is also the only shape that
    // survives an unbounded vocabulary
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    graft.functions.GraftFunctions.register(spark)
    val F = graft.functions.GraftFunctions
    val tfRows = docs.select(col("doc_id"),
        explode(F.termFreq(F.bigrams(col("text")))).as("t"))
      .select(col("doc_id"), col("t.token").as("token"),
        col("t.tf").as("tf"), col("t.n_terms").as("n_tokens"))
    val census = docs.select(explode(F.shingles(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("df"))
    val pairs = TextAnalysis.tfidfPairsFromCounts(tfRows, census,
      nDocs = docs.count(), maxDf = 20, threshold = 0.0)
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastHashJoin"),
      s"no frame of this pipeline may broadcast (corpus-sized or vocab-sized):\n$plan")
    assert(countOf(plan, "ShuffledHashJoin") >= 2,
      s"census join and candidate self-join must be shuffle-hash:\n$plan")
    assert(pairs.count() > 0)
  }

  test("q51 pair mining: doc-keyed shuffle-hash self-join, pairs stream into the aggregate") {
    // pairs come off the codegen'd join straight into the partial
    // aggregate — no per-document C(k,2) array, no broadcast rebuild of
    // one side (the shuffle-hash hints; both sides read one reused
    // exchange), and the top-20 cut is a TakeOrderedAndProject
    val df = graft.queries.Extended.q51(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"),
      s"pair generation must be the doc-keyed shuffle-hash self-join:\n$plan")
    assert(!plan.contains("BroadcastHashJoin"),
      s"AQE must not broadcast-rebuild a side:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), s"top-k cut must not global-sort:\n$plan")
    assert(df.count() == 20)
  }

  test("bm25Rank: fused default scores as a pure projection (no join); " +
      "the join fallback broadcasts query-sized sides only; both " +
      "top-k via TakeOrderedAndProject") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val query = docs.filter(col("doc_id") === 0)
      .select(explode(split(col("text"), " ")).as("token")).distinct()
    // FUSED (the r12 default — the wide-vocabulary A/B winner): the
    // whole quantized score is one graft_bm25q projection over the
    // corpus scan — no joins anywhere, and the top-k cut never
    // global-sorts
    val fusedOut = Retrieval.bm25Rank(docs, "doc_id", "text", query,
      topK = 10)
    val fusedPlan = fusedOut.queryExecution.executedPlan.toString
    assert(fusedPlan.contains("graft_bm25q"),
      s"fused scoring expression missing:\n$fusedPlan")
    assert(!fusedPlan.contains("Join"),
      s"fused scoring must not join:\n$fusedPlan")
    assert(fusedPlan.contains("TakeOrderedAndProject"),
      s"top-k must not global-sort:\n$fusedPlan")
    assert(fusedOut.count() > 0)
  }

  test("lmDocScore fast path scores as a pure projection: no exchange, no join") {
    graft.functions.GraftFunctions.register(spark)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val out = TextAnalysis.lmDocScore(
      docs.filter(col("doc_id") % 2 === 0), docs, "doc_id", "text")
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"inline-model scoring must be one map stage:\n$plan")
    assert(!plan.contains("Join"),
      s"inline-model scoring must not join:\n$plan")
    assert(plan.contains("graft_lm_score"),
      s"fast path must ride the native expression:\n$plan")
    assert(out.count() > 0)
  }

  test("nbClassify: fused scoring is one projection (no join, no " +
      "Expand, no Window); the join fallback broadcasts the vocab") {
    graft.functions.GraftFunctions.register(spark)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val train = docs.filter(col("doc_id") % 2 === 0)
    // FUSED (the model-sized-vocab default): scoring must be a pure
    // graft_nb_seen projection — no per-token rows, no lookup join, no
    // per-doc re-aggregate, and as before no label Expand and no window
    val fusedOut = Classification.nbClassify(
      train, docs, "doc_id", "text", "lang", fused = Some(true))
    val fusedPlan = fusedOut.queryExecution.executedPlan.toString
    assert(fusedPlan.contains("graft_nb_seen"),
      s"fused scoring expression missing:\n$fusedPlan")
    assert(!fusedPlan.contains("Join"),
      s"fused scoring must not join (the model is inlined):\n$fusedPlan")
    assert(!fusedPlan.contains("Expand") && !fusedPlan.contains("Window"),
      s"no label expansion, no window argmax:\n$fusedPlan")
    assert(fusedOut.count() > 0)
    // JOIN (the 100 TB-vocabulary fallback): the pivoted vocab broadcasts
    // onto the tf frame; the argmax is a projection, so no window/sort
    // over (doc, label) rows and no L-way expansion of the test frame
    val out = Classification.nbClassify(
      train, docs, "doc_id", "text", "lang", fused = Some(false))
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"vocab lookup must broadcast under the bound:\n$plan")
    assert(!plan.contains("Expand"),
      s"no label-wise row expansion:\n$plan")
    assert(!plan.contains("Window"),
      s"argmax must be the struct-greatest projection, not a window:\n$plan")
    assert(out.count() > 0)
  }

  test("sim56 cluster-balanced sample: one exchange total (the cap window's)") {
    val out = graft.queries.Similarity.sim56(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    // ivfAssign is a projection argmin (its own contract above), so the
    // ONLY shuffle a diversity subsample needs is the per-cell cap
    // window's centroid_id exchange — a second exchange means the
    // assignment regressed to a join/window form
    assert(countOf(plan, "Exchange hashpartitioning") == 1,
      s"expected exactly one shuffle (the cap window):\n$plan")
    assert(out.count() > 0)
  }

  test("td56 ppl buckets: no single-task per-language sort — corpus " +
      "windows partition by (lang, coarse bucket)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val out = graft.queries.TextOps.pplBuckets(spark, dir)
    val plan = out.queryExecution.optimizedPlan
    // the r9 form ran ntile over Window.partitionBy(lang): language
    // cardinality is small and fixed, so each language's FULL document
    // set sorted on one task at corpus scale. The bucketed-rank rewrite
    // must leave no ntile anywhere...
    assert(!plan.toString.contains("ntile("),
      s"ntile reappeared — the single-task per-language sort:\n$plan")
    val windows = plan.collect { case w: LWindow => w }
    // ...and every window the CORPUS flows through partitions by at
    // least (lang, __cb) — bounded tasks (r11 adds the tie-refinement
    // sub-bucket as a third partition column). Windows partitioned by
    // lang alone are allowed only on the tiny per-(lang, bucket) counts
    // frame — since r11 that frame localCheckpoints after its windows,
    // so they normally don't appear here at all; the Aggregate check
    // remains for the un-checkpointed form.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, UnaryNode}
    def overAggregate(p: LogicalPlan): Boolean = p match {
      case _: Aggregate => true
      case u: UnaryNode => overAggregate(u.child)
      case _ => false
    }
    assert(windows.exists(_.partitionSpec.size >= 2),
      "expected the (lang, coarse-bucket) local-rank window")
    windows.filter(_.partitionSpec.size < 2).foreach { w =>
      assert(overAggregate(w.child),
        s"a corpus window partitions by a bounded-cardinality key " +
          s"alone (single task per key at scale):\n$w")
    }
    assert(out.count() > 0)
  }

  test("q12 top-k per bounded key: the global rank window consumes the " +
      "salted pre-cut, never the corpus") {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, UnaryNode, Window => LWindow}
    val out = graft.queries.EventsAnalytics.q12(spark, dir)
    val plan = out.queryExecution.optimizedPlan
    val wins = plan.collect { case w: LWindow => w }
    assert(wins.exists(_.partitionSpec.size == 2),
      "expected the (event_type, salt) local top-k window")
    def hasLocalCut(p: LogicalPlan): Boolean = p match {
      case f: Filter if f.condition.toString.contains("__lrn") => true
      case u: UnaryNode => hasLocalCut(u.child)
      case _ => false
    }
    wins.filter(_.partitionSpec.size < 2).foreach { w =>
      assert(hasLocalCut(w.child),
        s"a window partitioned by the bounded-cardinality key alone " +
          s"reads the CORPUS (single task per event_type at scale) — it " +
          s"must consume the __lrn pre-cut survivors:\n$w")
    }
  }

  test("td59 vocab coverage: no vocabulary-sized sort/rank — the only " +
      "window rides the count-of-counts aggregate") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, UnaryNode, Window => LWindow}
    val out = graft.queries.TextOps.vocabCoverageCurve(spark, dir)
    val plan = out.queryExecution.optimizedPlan
    // the census is vocabulary-sized and the coverage arithmetic must
    // never rank it: the cumulative-sum window may only consume the
    // COUNT-OF-COUNTS aggregate (one row per distinct frequency), and
    // nothing in the plan may sort or window the token-keyed frame
    def overAggregate(p: LogicalPlan): Boolean = p match {
      case _: Aggregate => true
      case u: UnaryNode => overAggregate(u.child)
      case _ => false
    }
    plan.collect { case w: LWindow => w }.foreach { w =>
      assert(overAggregate(w.child),
        s"a window consumes a non-aggregated frame (vocabulary-sized " +
          s"rank at corpus scale):\n$w")
    }
    assert(out.count() == 4)
  }

  test("q13 exact percentiles: no full-buffer percentile aggregate; " +
      "corpus windows partition by (key, coarse bucket)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, UnaryNode, Window => LWindow}
    val out = graft.queries.EventsAnalytics.q13(spark, dir)
    val plan = out.queryExecution.optimizedPlan
    // Spark's exact percentile aggregate holds every (value, count) of a
    // group in one task's hash map — the bounded-key version of the td56
    // class. The bucketed-rank rewrite must leave none anywhere.
    assert(!plan.toString.contains("percentile("),
      s"exact percentile aggregate reappeared:\n$plan")
    val wins = plan.collect { case w: LWindow => w }
    assert(wins.exists(_.partitionSpec.size == 2),
      "expected the (event_type, coarse-bucket) local-rank window")
    def overAggregate(p: LogicalPlan): Boolean = p match {
      case _: Aggregate => true
      case u: UnaryNode => overAggregate(u.child)
      case _ => false
    }
    wins.filter(_.partitionSpec.size < 2).foreach { w =>
      assert(overAggregate(w.child),
        s"a corpus window partitions by the bounded-cardinality key " +
          s"alone:\n$w")
    }
    assert(out.count() > 0)
  }

  test("q60 admission filter rides the materialized gate, not the component branches") {
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    val out = graft.queries.TextOps.curatedMix(spark, dir)
    // the gate frame localCheckpoints BEFORE the admitted filter; without
    // the barrier the conjuncts push into the td54 component branches and
    // the signal expressions re-evaluate once per comparison
    // (graft_gopher_stats ~14x per row — q60's first heavy row, BASELINE)
    val filters = out.queryExecution.optimizedPlan.collect {
      case f: Filter => f.condition.toString
    }
    filters.foreach { c =>
      assert(!c.contains("graft_gopher_stats") && !c.contains("graft_lm_score"),
        s"gate signals leaked into a pushed-down filter:\n$c")
    }
    assert(out.count() > 0)
  }

  test("registry sweep: expensive signal expressions never ride a Filter condition") {
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    // the q60 failure class, pinned registry-wide: when a consumer filter
    // collapses a signal projection, the expensive expression re-evaluates
    // once per pushed conjunct (graft_gopher_stats read ~14x per row on
    // q60's first heavy draw). The operators keep these in projections and
    // filter on their cheap outputs, so the registry-wide count inside
    // Filter conditions is ZERO — any future composition that leaks one
    // into a predicate fails here before it reaches a bench.
    val expensive = Seq("graft_gopher_stats", "graft_lm_score",
      "graft_top_freq", "graft_minhash", "graft_minhash_u",
      "graft_strip_spans", "graft_hash_embed", "graft_ngram_digests",
      "graft_shingles", "graft_tf", "graft_bigrams", "graft_bpe_merge",
      "graft_nfc")
    // batch entries only: st* run their feeds at construction, x12* parse
    // their corpus — both out of scope for this static-plan sweep
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
      .filterNot(n => n.startsWith("st") || n.startsWith("x12"))
    // self-check (r10 advice): the sweep matches on each expression's
    // prettyName rendering `fn(`; a silent rename would turn the whole
    // contract into a no-op pass. Track where each swept name appears in
    // ANY plan expression and require every name to show up somewhere —
    // a rename now breaks THIS assertion loudly instead of neutering the
    // Filter assertion silently.
    val seenAnywhere = scala.collection.mutable.Set.empty[String]
    names.foreach { n =>
      val df = graft.SparkEntry.queries(n)(spark, dir)
      val plan = df.queryExecution.optimizedPlan
      // piggyback contract (r10): no entry may physically plan a
      // CartesianProduct — every cross-shaped join in the registry is a
      // broadcast of a single-row/centroid frame (BroadcastNestedLoop),
      // and a real cartesian at 100 TB is always a bug
      assert(!df.queryExecution.executedPlan.toString
          .contains("CartesianProduct"),
        s"$n plans a CartesianProduct — a corpus-scale cross join")
      val allExprs = plan.collect { case p =>
        p.expressions.map(_.toString).mkString("\n")
      }.mkString("\n")
      expensive.foreach { fn =>
        if (allExprs.contains(fn + "(")) seenAnywhere += fn
      }
      val filters = plan.collect {
        case f: Filter => f.condition.toString
      }
      for (c <- filters; fn <- expensive) {
        val cnt = countOf(c, fn + "(")
        assert(cnt == 0,
          s"$n: $fn appears $cnt time(s) inside one Filter condition — " +
            s"the q60 pushdown-collapse class; materialize the signal " +
            s"frame before filtering:\n${c.take(600)}")
      }
    }
    // graft_hash_embed is structurally absent from every optimized batch
    // plan: its only consumers (td47/td48's ragEmbedded) checkpoint the
    // embedded frame, which replaces the lineage with a LogicalRDD. Pin
    // its prettyName directly so a rename still fails loudly.
    graft.functions.GraftFunctions.register(spark)
    val hePlan = spark.range(1)
      .select(org.apache.spark.sql.functions
        .call_function("graft_hash_embed", lit("x").cast("string")))
      .queryExecution.analyzed.expressions.map(_.toString).mkString
    assert(hePlan.contains("graft_hash_embed("),
      s"graft_hash_embed prettyName no longer renders as expected:\n$hePlan")
    val missing = expensive.filterNot(seenAnywhere)
      .filterNot(_ == "graft_hash_embed")
    assert(missing.isEmpty,
      s"swept names never seen in any registry plan — renamed prettyName " +
        s"or dead entry would make the Filter sweep a silent no-op: $missing")
  }

  test("filter + projection reach the parquet scan (pushdown contract)") {
    val orders = spark.read.parquet(s"$dir/orders.parquet")
      .filter(col("o_orderstatus") === "O")
      .select("o_orderkey", "o_orderdate")
    val scan = orders.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(scan.contains("EqualTo(o_orderstatus,O)"), s"filter not pushed:\n$scan")
    val schemaLine = orders.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!schemaLine.contains("o_totalprice"),
      s"projection must prune unused columns:\n$schemaLine")
  }
}
