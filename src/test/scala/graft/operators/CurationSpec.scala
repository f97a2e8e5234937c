package graft.operators

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkTestBase, TempDirs}

/** Unit specs for the curation operators: sessionization, deterministic
  * sampling, dup-cluster formation, benchmark contamination.
  */
class CurationSpec extends AnyFunSuite with SparkTestBase with TempDirs {

  test("sessionize: a new session starts exactly past the gap, not at it") {
    import spark.implicits._
    def t(s: String) = Timestamp.valueOf(s)
    val events = Seq(
      ("u1", t("2025-09-01 10:00:00"), 1L),
      ("u1", t("2025-09-01 10:30:00"), 2L), // gap 1800 = limit → same session
      ("u1", t("2025-09-01 11:00:01"), 3L), // gap 1801 > limit → new session
      ("u2", t("2025-09-01 10:05:00"), 4L))
      .toDF("user_id", "ts", "event_id")
    val stats = Sessions.sessionStats(events, "user_id", "ts", "event_id", 1800L)
      .collect().map(r => (r.getString(0), r.getAs[Long]("session_seq")) ->
        (r.getAs[Long]("n_events"), r.getAs[Long]("duration_seconds"))).toMap
    assert(stats(("u1", 1L)) == (2L, 1800L))
    assert(stats(("u1", 2L)) == (1L, 0L))
    assert(stats(("u2", 1L)) == (1L, 0L))
  }

  test("stratified sampling is deterministic, rate-ordered, exact at the extremes") {
    import spark.implicits._
    val rows = (1L to 2000L).map(i => (i, if (i % 2 == 0) "x" else "y"))
      .toDF("id", "stratum")
    def sampled(rx: Double, ry: Double) =
      Sampling.stratified(rows, "stratum", "id", Map("x" -> rx, "y" -> ry), 0.0)
    // extremes are exact
    assert(sampled(1.0, 0.0).count() == 1000)
    assert(sampled(0.0, 0.0).count() == 0)
    // rate ~ fraction kept (hash-uniform, generous tolerance)
    val half = sampled(0.5, 0.0).count()
    assert(half > 400 && half < 600, s"0.5 rate kept $half of 1000")
    // monotone: a higher rate keeps a superset
    val lo = sampled(0.2, 0.0).select("id")
    val hi = sampled(0.6, 0.0).select("id")
    assert(lo.join(hi, Seq("id"), "left_anti").count() == 0)
    // deterministic across invocations
    assert(sampled(0.5, 0.3).collect().map(_.getLong(0)).sorted
      .sameElements(sampled(0.5, 0.3).collect().map(_.getLong(0)).sorted))
  }

  test("dupClusters: transitive chains collapse to the minimum id") {
    import spark.implicits._
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L))
      .toDF("doc_a", "doc_b")
    val m = TextDedup.dupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(m(_) == 1L))
    assert(Seq(10L, 11L).forall(m(_) == 10L))
    assert(Seq(20L, 21L, 22L).forall(m(_) == 20L))
    assert(m.size == 9)
  }

  test("tokenBudget admits in hash order and never exceeds the budget") {
    import spark.implicits._
    val docs = (1L to 100L).map(i => (i, if (i <= 50) "a" else "b", 10))
      .toDF("doc_id", "source", "n_tokens")
    val picked = Sampling.tokenBudget(docs, "source", "doc_id", "n_tokens",
      Map("a" -> 95L), defaultBudget = 40L).cache()
    // budget 95 at 10 tokens/doc admits exactly 9 (the 10th would cross)
    assert(picked.filter(col("source") === "a").count() == 9)
    assert(picked.filter(col("source") === "b").count() == 4)
    // deterministic: the same call selects the same documents
    val again = Sampling.tokenBudget(docs, "source", "doc_id", "n_tokens",
      Map("a" -> 95L), defaultBudget = 40L)
    assert(picked.select("doc_id").collect().map(_.getLong(0)).sorted
      .sameElements(again.select("doc_id").collect().map(_.getLong(0)).sorted))
    // a zero budget admits nothing
    assert(Sampling.tokenBudget(docs, "source", "doc_id", "n_tokens",
      Map.empty, defaultBudget = 0L).count() == 0)
  }

  test("weightedMix matches a brute-force weighted interleave and its proportions") {
    import java.security.MessageDigest
    import spark.implicits._
    val docs = (1L to 400L).map(i => (i, s"s${i % 4}")).toDF("doc_id", "source")
    val weights = Map("s0" -> 4.0, "s1" -> 2.0)
    val got = Sampling.weightedMix(docs, "source", "doc_id", weights,
      defaultWeight = 1.0, n = 160)
      .collect().map(_.getLong(0)).toSet
    assert(got.size == 160)
    // brute force the same total order on the driver
    def h(src: String, id: Long): String =
      MessageDigest.getInstance("MD5").digest(s"$src|$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val ranked = (1L to 400L).map { i =>
      val src = s"s${i % 4}"; (i, src, h(src, i))
    }.groupBy(_._2).values.flatMap { grp =>
      grp.sortBy { case (id, _, hh) => (hh, id) }.zipWithIndex.map {
        case ((id, src, hh), r) =>
          (id, (r + 1).toDouble / weights.getOrElse(src, 1.0), hh)
      }
    }.toSeq.sortBy { case (id, k, hh) => (k, hh, id) }.take(160).map(_._1).toSet
    assert(got == ranked)
    // a weight-4 source gets ~4x the rows of a weight-1 source in any prefix
    val bySrc = Sampling.weightedMix(docs, "source", "doc_id", weights,
      defaultWeight = 1.0, n = 160)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc("s0") == 80 && bySrc("s1") == 40 &&
      bySrc("s2") == 20 && bySrc("s3") == 20)
  }

  test("packSequences lays out a contiguous token stream and spans boundaries correctly") {
    import spark.implicits._
    val docs = (1L to 200L).map(i => (i, 1 + (i % 7).toInt)).toDF("doc_id", "n")
    val packed = Sampling.packSequences(docs, "doc_id", "n", seqLen = 16L)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(packed.length == 200)
    // contiguous, gap-free layout: sorted by offset, each doc starts where
    // the previous one ended, starting at zero
    val byOffset = packed.sortBy(_._3)
    assert(byOffset.head._3 == 0L)
    byOffset.sliding(2).foreach { case Array(a, b) =>
      assert(b._3 == a._3 + a._2, s"gap between $a and $b")
    }
    // seq arithmetic: floor bounds and span count
    packed.foreach { case (_, n, start, first, last, nSeqs) =>
      assert(first == start / 16)
      assert(last == (start + n - 1) / 16)
      assert(nSeqs == last - first + 1)
    }
    // a doc crossing a 16-token boundary spans > 1 sequence
    assert(packed.exists(_._6 > 1))
  }

  test("epochShuffle: bucketed rank equals the single-window form, shard " +
      "assignment is growth-stable, a new seed is a new permutation") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val docs = (0L until 500L).map(i => (i, s"s${i % 3}")).toDF("doc_id", "src")
    val out = Sampling.epochShuffle(docs, "doc_id", seed = 7L, nShards = 4)
    // parity with the naive per-shard window (the form the operator
    // exists to avoid at scale), bucket grain included
    val hk = md5(concat(lit("epoch7|"), col("doc_id").cast("string")))
    val expected = docs
      .withColumn("__hk", hk)
      .withColumn("shard",
        conv(substring(col("__hk"), 1, 4), 16, 10).cast("long") % 4L)
      .withColumn("pos", row_number().over(
        Window.partitionBy("shard").orderBy(col("__hk"), col("doc_id")))
        .cast("long"))
      .select("doc_id", "src", "shard", "pos")
    assert(out.except(expected).count() == 0 &&
      expected.except(out).count() == 0)
    // positions are a contiguous 1..n_shard enumeration per shard
    val perShard = out.groupBy("shard")
      .agg(count(lit(1)).as("n"), min("pos").as("mn"), max("pos").as("mx"),
        countDistinct("pos").as("nd")).collect()
    assert(perShard.nonEmpty && perShard.forall(r =>
      r.getLong(2) == 1L && r.getLong(3) == r.getLong(1) &&
        r.getLong(4) == r.getLong(1)))
    // growth stability: doubling the corpus never moves an existing
    // document's shard, and surviving docs keep their relative order
    val grown = (0L until 1000L).map(i => (i, s"s${i % 3}"))
      .toDF("doc_id", "src")
    val out2 = Sampling.epochShuffle(grown, "doc_id", seed = 7L, nShards = 4)
    val joined = out.select(col("doc_id"), col("shard").as("sh1"),
        col("pos").as("p1"))
      .join(out2.select(col("doc_id"), col("shard").as("sh2"),
        col("pos").as("p2")), "doc_id")
    assert(joined.filter(col("sh1") =!= col("sh2")).count() == 0,
      "growth moved a document between shards")
    val orderFlips = joined.as("a").join(joined.as("b"),
        col("a.sh1") === col("b.sh1") && col("a.p1") < col("b.p1") &&
          col("a.p2") >= col("b.p2"))
    assert(orderFlips.count() == 0, "growth reordered surviving documents")
    // a different seed is a genuinely different permutation
    val reseeded = Sampling.epochShuffle(docs, "doc_id", seed = 8L,
      nShards = 4)
    assert(out.select("doc_id", "shard", "pos")
      .except(reseeded.select("doc_id", "shard", "pos")).count() > 0)
    // fail-loud dials
    intercept[IllegalArgumentException] {
      Sampling.epochShuffle(docs, "doc_id", 7L, nShards = 0)
    }
  }

  test("curriculumShuffle: tier-major within-shard order equals the " +
      "single-window form; tiers ramp monotonically along pos; bounds " +
      "fail loud") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val docs = (0L until 500L).map(i => (i, i % 4)).toDF("doc_id", "tier")
    val out = Sampling.curriculumShuffle(docs, "doc_id", "tier",
      seed = 5L, nShards = 4)
    // parity with the naive per-shard (tier, hash) window
    val hk = md5(concat(lit("curr5|"), col("doc_id").cast("string")))
    val expected = docs
      .withColumn("__hk", hk)
      .withColumn("shard",
        conv(substring(col("__hk"), 1, 4), 16, 10).cast("long") % 4L)
      .withColumn("pos", row_number().over(
        Window.partitionBy("shard")
          .orderBy(col("tier"), col("__hk"), col("doc_id")))
        .cast("long"))
      .select("doc_id", "tier", "shard", "pos")
    assert(out.except(expected).count() == 0 &&
      expected.except(out).count() == 0)
    // the curriculum ramp: along pos within a shard, tier never decreases
    val wPrev = Window.partitionBy("shard").orderBy("pos")
    assert(out.withColumn("__pt", lag(col("tier"), 1).over(wPrev))
      .filter(col("__pt").isNotNull && col("tier") < col("__pt"))
      .count() == 0, "tier decreased along pos inside a shard")
    // every shard sees every tier (the ramp is per-shard, not global)
    assert(out.select("shard", "tier").distinct().count() == 16)
    // bounds fail loud: negative and > 9999 tiers break the zero-pad
    // string order and must never pass silently
    intercept[IllegalArgumentException] {
      Sampling.curriculumShuffle(
        docs.withColumn("tier", col("tier") - 1), "doc_id", "tier", 5L, 4)
    }
    intercept[IllegalArgumentException] {
      Sampling.curriculumShuffle(
        docs.withColumn("tier", col("tier") + 10000L), "doc_id", "tier",
        5L, 4)
    }
  }

  test("curriculumShuffle: fractional and null tiers fail loud (the " +
      "bucket would truncate or null-route them)") {
    import spark.implicits._
    // a DoubleType tier of 1.5 passes a min/max range check after the
    // long cast but silently truncates in the order bucket (r14 advice)
    val frac = Seq((1L, 0.0), (2L, 1.5), (3L, 2.0)).toDF("doc_id", "tier")
    val exF = intercept[IllegalArgumentException] {
      Sampling.curriculumShuffle(frac, "doc_id", "tier", 5L, 2)
    }
    assert(exF.getMessage.contains("non-integral"), exF.getMessage)
    // a null tier among valid ones used to slip past the min/max guard
    // (aggregates skip nulls) and land in a null bucket
    val withNull = Seq((1L, Some(0L)), (2L, None), (3L, Some(2L)))
      .toDF("doc_id", "tier")
    val exN = intercept[IllegalArgumentException] {
      Sampling.curriculumShuffle(withNull, "doc_id", "tier", 5L, 2)
    }
    assert(exN.getMessage.contains("null"), exN.getMessage)
    // integral non-long types stay accepted (the cast is lossless)
    val ints = Seq((1L, 0), (2L, 1), (3L, 2)).toDF("doc_id", "tier")
    assert(Sampling.curriculumShuffle(ints, "doc_id", "tier", 5L, 2)
      .count() == 3)
  }

  test("curriculumShuffle never re-scans the source for its tier " +
      "validation: no construction-time action plans a FileScan (r14 " +
      "verdict #1)") {
    import spark.implicits._
    val dir = tempDir("graft_curr_scan")
    val n = 2000L
    (0L until n).map(i => (i, i % 4)).toDF("doc_id", "tier")
      .coalesce(1).write.mode("overwrite").parquet(dir.toString)
    val docs = spark.read.parquet(dir.toString)
    // the old form ran a dedicated `df.agg(min, max)` before the real
    // work — an action whose plan scans the parquet directly. The
    // validation now rides the offsets count pass: every construction-
    // time action (the frame guard count, the tier head) runs over the
    // already-checkpointed corpus, so NO construction-time plan may
    // contain a file scan. (The one real file read happens inside the
    // checkpoint RDD's lineage, invisible to these plans — exactly the
    // point: it is the shared pass.)
    // construction is eager (guard count + validation head)
    val (out, runs) = executionsOf(
      Sampling.curriculumShuffle(docs, "doc_id", "tier", 5L, 4))
    val plans = runs.map(_._2.executedPlan.toString)
    assert(plans.size >= 2,
      "expected the offsets guard count + tier validation to run at " +
        s"construction, saw ${plans.size} executions")
    // the checkpoint materialization itself legitimately scans the file
    // (a pure Project — the shared pass); what must NOT exist is an
    // AGGREGATE directly over the file scan (the old standalone
    // min/max dial check)
    val scans = plans.filter(p => p.contains("FileScan") &&
      p.contains("Aggregate"))
    assert(scans.isEmpty,
      "a construction-time aggregate re-scanned the source instead of " +
        s"riding the offsets pass:\n${scans.headOption.getOrElse("")}")
    assert(out.count() == n)
  }

  test("packStream: per-shard packing in manifest order equals the " +
      "naive per-key window across block boundaries; order-contract " +
      "violations fail loud") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // 2 shards x 50 positions with varying token counts, blockRows = 8
    // so the prefix sum crosses multiple range blocks per shard
    val manifest = (0L until 100L)
      .map(i => (i % 2, i / 2 + 1, (i * 7 % 13 + 1).toInt))
      .toDF("shard", "pos", "n_tok")
    val out = Sampling.packStream(manifest, "shard", "pos", "n_tok",
      seqLen = 16L, blockRows = 8L)
    val w = Window.partitionBy("shard").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    val expected = manifest
      .withColumn("start_offset",
        coalesce(sum(col("n_tok").cast("long")).over(w), lit(0L)))
      .withColumn("first_seq", floor(col("start_offset") / lit(16.0)))
      .withColumn("last_seq",
        floor((col("start_offset") + col("n_tok") - 1) / lit(16.0)))
      .withColumn("n_seqs", col("last_seq") - col("first_seq") + 1)
    assert(out.except(expected).count() == 0 &&
      expected.except(out).count() == 0)
    // packing is gapless per shard: the final offset + tokens equals the
    // shard's token total
    val ends = out.groupBy("shard")
      .agg(max(col("start_offset") + col("n_tok")).as("end"),
        sum(col("n_tok")).as("tot"))
      .filter(col("end") =!= col("tot")).count()
    assert(ends == 0, "per-shard packing left a gap")
    // duplicate positions within a shard → nondeterministic running sum
    val exDup = intercept[IllegalArgumentException] {
      Sampling.packStream(
        manifest.withColumn("pos", lit(1L)), "shard", "pos", "n_tok", 16L)
    }
    assert(exDup.getMessage.contains("duplicate"), exDup.getMessage)
    // 0-based positions alias block 0 → fail loud, never silent
    val exZero = intercept[IllegalArgumentException] {
      Sampling.packStream(
        manifest.withColumn("pos", col("pos") - 1), "shard", "pos",
        "n_tok", 16L)
    }
    assert(exZero.getMessage.contains(">= 1"), exZero.getMessage)
    // output-name collisions fail loud (the clusterSafeSplit discipline)
    intercept[IllegalArgumentException] {
      Sampling.packStream(
        manifest.withColumnRenamed("n_tok", "start_offset"), "shard",
        "pos", "start_offset", 16L)
    }
  }

  test("epochMaterialize: whole epochs for every document, remainder as " +
      "a deterministic hash subset; collision guards fail loud") {
    import spark.implicits._
    // the epochAllocation fixture with ids: targets a=200/n_tok=100
    // (whole 2, rem 0), b=400/400 (1, 0), c=1000/2500 (0, 1000)
    val docs = ((0L until 4L).map(i => (i, "a", 25)) ++
      (4L until 8L).map(i => (i, "b", 100)) ++
      (8L until 12L).map(i => (i, "c", 625))).toDF("id", "src", "n")
    val out = Sampling.epochMaterialize(docs, "src", "id", "n",
      budgetTokens = 1600L)
    assert(out.columns.toSeq == Seq("id", "src", "n", "repeats"))
    val rep = out.collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    // rem = 0 sources get exactly their whole epochs, no hash extras
    assert((0L until 4L).forall(rep(_) == 2L), rep)
    assert((4L until 8L).forall(rep(_) == 1L), rep)
    // source c: whole = 0, extra iff h16 · 2500 < 1000 · 2^16 —
    // recompute the identical md5 decision test-side
    def h16(id: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"mat7|$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(4), 16)
    }
    (8L until 12L).foreach { id =>
      val expect = if (h16(id) * 2500L < 1000L * 65536L) 1L else 0L
      assert(rep(id) == expect, s"doc $id: got ${rep(id)}, want $expect")
    }
    // and the subset is non-trivial on a wider corpus: some-but-not-all
    // of a fractional source's documents get the extra repeat
    val wide = (0L until 200L).map(i => (i, "c", 625)).toDF("id", "src", "n")
    val extras = Sampling.epochMaterialize(wide, "src", "id", "n",
        budgetTokens = 50000L) // n_tok=125k, target=50k: whole 0, rem 50k
      .agg(sum(col("repeats"))).head.getLong(0)
    assert(extras > 0 && extras < 200, s"extras=$extras")
    // a mis-set budget (>1e6 whole epochs for a source) fails loud
    // before a downstream explode can go arbitrarily wide
    val exBudget = intercept[IllegalArgumentException] {
      Sampling.epochMaterialize(docs, "src", "id", "n",
        budgetTokens = 10000000000L) // source a: 1.25e7 whole epochs
    }
    assert(exBudget.getMessage.contains("whole"), exBudget.getMessage)
    // collision guards (r13 advice): output/internal names fail loud in
    // epochMaterialize, epochShuffle AND epochAllocation
    intercept[IllegalArgumentException] {
      Sampling.epochMaterialize(docs.withColumnRenamed("n", "repeats"),
        "src", "id", "repeats", 100L)
    }
    intercept[IllegalArgumentException] {
      Sampling.epochShuffle(docs.withColumnRenamed("n", "shard"), "id",
        7L, nShards = 4)
    }
    intercept[IllegalArgumentException] {
      Sampling.epochAllocation(docs.withColumnRenamed("src", "wq"),
        "wq", "n", 100L)
    }
  }

  test("epochAllocation: integer-exact budget split, epochs arithmetic, " +
      "overflow and empty-corpus guards fail loud") {
    import spark.implicits._
    // perfect-square token totals make the quantized weights exact:
    // sqrt ratios 10 : 20 : 50
    val docs = Seq.fill(4)(("a", 25)) ++ Seq.fill(4)(("b", 100)) ++
      Seq.fill(4)(("c", 625))
    val df = docs.toDF("src", "n")
    val out = Sampling.epochAllocation(df, "src", "n", budgetTokens = 1600L)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
          r.getBoolean(5))).toMap
    // wq = sqrt(n_tok) * 2^20 exactly; targets = 1600 * wq / 80*2^20
    assert(out("a") == ((100L, 10L << 20, 200L, 2.0, true)), out("a"))
    assert(out("b") == ((400L, 20L << 20, 400L, 1.0, false)), out("b"))
    assert(out("c") == ((2500L, 50L << 20, 1000L, 0.4, false)), out("c"))
    // the floor allocation never exceeds the budget
    assert(out.values.map(_._3).sum <= 1600L)
    // overflow guard: a budget x max-weight product past Int64 fails loud
    val exOver = intercept[IllegalArgumentException] {
      Sampling.epochAllocation(df, "src", "n",
        budgetTokens = Long.MaxValue / 4)
    }
    assert(exOver.getMessage.contains("overflow"), exOver.getMessage)
    // empty corpus fails loud, never an NPE
    val exEmpty = intercept[IllegalArgumentException] {
      Sampling.epochAllocation(df.filter(col("n") < 0), "src", "n", 100L)
    }
    assert(exEmpty.getMessage.contains("empty"), exEmpty.getMessage)
  }

  test("tokenBudget matches the single-window reference on a 90%-skewed corpus") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // one source owns 90% of the rows — the shape that serialized the old
    // single-window form into one task; the bucketed two-pass must select
    // the EXACT same documents the naive global running sum would
    val docs = ((1L to 900L).map(i => (i, "crawl", (i % 7 + 1).toInt)) ++
      (901L to 1000L).map(i => (i, s"s${i % 4}", 5)))
      .toDF("doc_id", "source", "n_tokens")
    val budgets = Map("crawl" -> 1200L, "s1" -> 40L)
    val picked = Sampling.tokenBudget(docs, "source", "doc_id", "n_tokens",
      budgets, defaultBudget = 60L, bucketChars = 1)
    // naive reference: the one-task-per-source window the operator replaced
    val hashKey = md5(concat(col("source"), lit("|"), col("doc_id").cast("string")))
    val w = Window.partitionBy("source").orderBy(hashKey, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val budgetCol = when(col("source") === "crawl", 1200L)
      .when(col("source") === "s1", 40L).otherwise(60L)
    val expected = docs
      .withColumn("cum", sum(col("n_tokens").cast("long")).over(w))
      .filter(col("cum") <= budgetCol).select("doc_id")
    assert(picked.count() == expected.count())
    assert(picked.select("doc_id").except(expected).count() == 0)
    // the skewed source really is split across buckets (bounded task input)
    val bucketsUsed = docs.filter(col("source") === "crawl")
      .select(substring(md5(concat(col("source"), lit("|"),
        col("doc_id").cast("string"))), 1, 1)).distinct().count()
    assert(bucketsUsed > 1, "skewed source must span multiple hash buckets")
  }

  test("tokenBudget keeps null-keyed rows (single-window parity)") {
    import spark.implicits._
    // null source/id hash to a null bucket; the single-window form kept
    // such rows (nulls form their own window partition under the default
    // budget), so the bucketed offset join must be null-safe, not drop them
    val docs = Seq(
      (Option(1L), Option("a"), 10),
      (Option(2L), Option.empty[String], 10),  // null source
      (Option.empty[Long], Option("a"), 10),   // null id
      (Option(3L), Option("a"), 10))
      .toDF("doc_id", "source", "n_tokens")
    val all = Sampling.tokenBudget(docs, "source", "doc_id", "n_tokens",
      Map.empty, defaultBudget = 1000L)
    assert(all.count() == 4, "ample budget admits every row, nulls included")
    val none = Sampling.tokenBudget(docs, "source", "doc_id", "n_tokens",
      Map.empty, defaultBudget = 0L)
    assert(none.count() == 0)
  }

  test("perKeyCap keeps at most k per key, deterministically") {
    import spark.implicits._
    val rows = (1L to 300L).map(i => (i, s"u${i % 7}")).toDF("id", "key")
    val capped = Sampling.perKeyCap(rows, "key", "id", k = 5).cache()
    val perKey = capped.groupBy("key").count().collect()
    assert(perKey.forall(_.getLong(1) == 5))
    val again = Sampling.perKeyCap(rows, "key", "id", k = 5)
    assert(capped.select("id").collect().map(_.getLong(0)).sorted
      .sameElements(again.select("id").collect().map(_.getLong(0)).sorted))
    // k above the population keeps everything
    assert(Sampling.perKeyCap(rows, "key", "id", k = 1000).count() == 300)
  }

  test("dupClusters converges on a 300-node chain inside the default budget") {
    import spark.implicits._
    // a path graph is the worst case for plain min-propagation (needs
    // O(n) rounds); pointer jumping must close it in O(log n)
    val chain = (1L until 300L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val labels = TextDedup.dupClusters(chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(labels.length == 300)
    assert(labels.forall(_._2 == 1L), "every chain member labels to the min id")
  }

  test("dupClusters rejects non-bigint ids, naming the type it got") {
    import spark.implicits._
    val pairs = Seq(("a", "b"), ("b", "c")).toDF("doc_a", "doc_b")
    val e = intercept[IllegalArgumentException](TextDedup.dupClusters(pairs))
    assert(e.getMessage.contains("string"), e.getMessage)
  }

  test("dupClusters storage hygiene: the loop leaves at most one persisted " +
      "generation and the bench's between-entry sweep frees it (r16)") {
    import spark.implicits._
    // drain any leftovers from earlier tests so the baseline is this test's
    val keep = Set.empty[Int]
    graft.BenchHarness.unpersistLeaked(spark, keep)
    val before = spark.sparkContext.getPersistentRDDs.size
    assert(before == 0, s"expected a clean slate, found $before persisted RDDs")
    val chain = (1L until 300L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    // two back-to-back operator calls, each fully consumed (the bench shape)
    (1 to 2).foreach { _ =>
      assert(TextDedup.dupClusters(chain).count() == 300)
      // the operator itself frees everything but the final label
      // generation, which the caller is still reading from
      val left = spark.sparkContext.getPersistentRDDs.size
      assert(left <= 1,
        s"dupClusters leaked $left persisted RDDs (expected <= 1)")
      graft.BenchHarness.unpersistLeaked(spark, keep)
      assert(spark.sparkContext.getPersistentRDDs.isEmpty,
        "unpersistLeaked must return storage to the baseline")
    }
  }

  test("dupClusters scale-adaptive loop grain: a small graph runs the loop " +
      "at few partitions with the fixed point unchanged (r16)") {
    import spark.implicits._
    // two components + a chain; the adaptive grain (derived from the edge
    // count) must not change the hand-computed components below
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L), (12L, 13L),
      (20L, 21L)).toDF("doc_a", "doc_b")
    val got = TextDedup.dupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L,
      20L -> 20L, 21L -> 20L), got)
    // and a 2-edge grain runs the loop over several partitions
    val again = TextDedup.dupClustersAt(pairs, 20, reliable = false,
      edgesPerTask = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == got, "partition grain must not change the fixed point")
    graft.BenchHarness.unpersistLeaked(spark, Set.empty)
  }

  test("LongLongMap (the r16 packed-loop lookup): growth, collisions, " +
      "mergeMin and fail-loud lookup against a reference map") {
    val rnd = new scala.util.Random(7)
    val ref = scala.collection.mutable.Map[Long, Long]()
    val m = new LongLongMap(4) // tiny start forces many growth rounds
    (1 to 20000).foreach { _ =>
      val k = rnd.nextLong() % 5000 // dense keyspace forces collisions
      val v = rnd.nextLong()
      if (rnd.nextBoolean()) {
        m.put(k, v); ref(k) = v
      } else {
        m.mergeMin(k, v); ref(k) = math.min(ref.getOrElse(k, Long.MaxValue), v)
      }
    }
    ref.foreach { case (k, v) =>
      assert(m.get(k, Long.MinValue) == v, s"key $k")
      assert(m.getOrError(k) == v)
    }
    assert(m.iterator.toMap == ref.toMap)
    assert(m.get(999999999L, -7L) == -7L)
    intercept[IllegalStateException](m.getOrError(999999999L))
  }

  test("dupClusters fused round 1: maxIter=1 equals exactly one " +
      "neighbor-min propagation (the r15 init-fused round)") {
    import spark.implicits._
    // on a path 1-2-3-4, one round of least(id, min(neighbor)) gives
    // 1→1, 2→1, 3→2, 4→3 — pinning that the fused initialization IS
    // round 1, not zero rounds (labels = ids) and not two
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("doc_a", "doc_b")
    val one = TextDedup.dupClusters(chain, maxIter = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(one == Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 3L), one)
  }

  test("property: dupClusters matches an in-memory union-find on random graphs") {
    import spark.implicits._
    // reference implementation: classic union-find with path compression
    def unionFind(n: Long, edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      // canonical = min id in component; roots under min-union are the min
      edges.flatMap(e => Seq(e._1, e._2)).distinct.map(x => x -> find(x)).toMap
    }
    (1 to 5).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val n = 60 + rnd.nextInt(60)
      val edges = (1 to (n / 2 + rnd.nextInt(n)))
        .map(_ => (1L + rnd.nextInt(n), 1L + rnd.nextInt(n)))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .distinct
      val expected = unionFind(n, edges)
      val got = TextDedup.dupClusters(edges.toDF("doc_a", "doc_b")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"seed $seed: components diverge from union-find")
    }
  }

  test("applyDedup keeps cluster canonicals and untouched docs, drops the rest") {
    import spark.implicits._
    val docs = (1L to 10L).map(i => (i, s"doc$i")).toDF("doc_id", "name")
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("doc_a", "doc_b")
    val kept = TextDedup.applyDedup(docs, "doc_id",
      TextDedup.dupClusters(pairs))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // clusters {1,2,3}→1 and {7,8}→7; 4,5,6,9,10 untouched
    assert(kept == Set(1L, 4L, 5L, 6L, 7L, 9L, 10L))
  }

  test("applyDedup on a majority-duplicate corpus takes the non-broadcast path") {
    import spark.implicits._
    // 80% duplicates: the dup-id set is O(corpus) — the shape where the old
    // unconditional broadcast(dupIds) would OOM at 100 TB; with the
    // broadcast threshold disabled the planner must pick a shuffled
    // anti-join and still produce the right survivors
    val docs = (1L to 500L).map(i => (i, s"doc$i")).toDF("doc_id", "name")
    // chain docs 1..400 into one cluster (canonical = 1)
    val pairs = (1L until 400L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val clusters = TextDedup.dupClusters(pairs).cache()
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val kept = TextDedup.applyDedup(docs, "doc_id", clusters)
      val plan = kept.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastExchange"),
        s"dup-id set over threshold must not broadcast:\n$plan")
      val ids = kept.select("doc_id").collect().map(_.getLong(0)).toSet
      assert(ids == (Set(1L) ++ (401L to 500L)))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    }
  }

  test("redactPii replaces emails, IPs and phones with tags and counts them") {
    import spark.implicits._
    val rows = Seq(
      (1L, "mail a.b+c%d@sub.example.org or x@y.io today"),
      (2L, "host 192.168.001.1 and 10.0.0.7 up"),
      (3L, "call 555-123-4567 or +1 555.987.6543 x"),
      (4L, "clean text, no pii at all"),
      (5L, "ver 1.2.3 is not an ip, nor is 1.2.3.4.5 a clean one"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.redactPii(rows, "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    assert(got(1L) == (("mail [EMAIL] or [EMAIL] today", 2L, 0L, 0L)))
    assert(got(2L) == (("host [IP] and [IP] up", 0L, 2L, 0L)))
    // '+1 555.987.6543' redacts from the 555 triplet on (the +1 prefix is
    // a country code outside the separated-triplet shape)
    assert(got(3L) == (("call [PHONE] or +1 [PHONE] x", 0L, 0L, 2L)))
    assert(got(4L) == (("clean text, no pii at all", 0L, 0L, 0L)))
    // 1.2.3 has three octets (no match); 1.2.3.4.5 contains a 4-octet run
    assert(got(5L)._3 == 1L)
  }

  test("bpeTokenStats: GPT-2-style pre-token counts on known strings") {
    import spark.implicits._
    val docs = Seq(
      (1L, "hello world"),            // 2 pre-tokens
      (2L, "it's 2x faster!"),        // it | ' | s | " 2" | x | " faster" | !
      (3L, "don't stop-me now... 42"),
      (4L, "a  b"),                   // a | "  " (double-space run) | b
      (5L, "x.\u000By")               // U+000B is NOT whitespace in either
                                      // engine's class: x | "." | y
    ).toDF("doc_id", "text")
    val m = TextAnalysis.bpeTokenStats(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    assert(m(1L) == ((2, 2)))
    assert(m(2L) == ((3, 7)))
    assert(m(3L) == ((4, 9)))
    assert(m(4L) == ((3, 3)))
    assert(m(5L) == ((1, 3)))
  }

  test("contamination counts shared shingles and reports clean docs as zero") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "nothing in common here")).toDF("doc_id", "text")
    val bench = Seq((99L, "alpha beta gamma")).toDF("doc_id", "text")
    val r = TextAnalysis.contamination(docs, "doc_id", "text", bench, "text")
      .collect().map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Int]("n_shingles"), x.getAs[Long]("n_shared"),
          x.getAs[Double]("contamination_ratio"))).toMap
    // doc 1 shingles: "alpha beta","beta gamma","gamma delta"; bench has 2
    assert(r(1L) == ((3, 2L, 0.666667)))
    assert(r(2L) == ((3, 0L, 0.0)))
  }

  test("vocab: exact counts, deterministic top-K cut, TakeOrdered plan (no global sort)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a c"),
      (2L, "a b b"),
      (3L, "c a")).toDF("doc_id", "text")
    val v = TextAnalysis.vocab(docs, "doc_id", "text", topK = 2)
    val rows = v.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // a: freq 4 df 3; b: freq 3 df 2; c: freq 2 df 2 — top-2 cut after b
    assert(rows.toSeq == Seq(("a", 4L, 3L), ("b", 3L, 2L)))
    // tie at the cut breaks on token asc: x and y both freq 1
    val tied = TextAnalysis.vocab(
      Seq((1L, "y x")).toDF("doc_id", "text"), "doc_id", "text", topK = 1)
    assert(tied.collect().map(_.getString(0)).toSeq == Seq("x"))
    // the truncation must be a TakeOrderedAndProject heap, not a global sort
    val plan = v.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("canonicalizeUrl: fragments, tracking params, case, trailing slash") {
    import spark.implicits._
    val cases = Seq(
      // host case folds, path case survives
      ("HTTPS://WWW.Example.COM/Path/A", "https://www.example.com/Path/A"),
      // tracking-only query drops its '?', trailing slash stripped
      ("https://a.com/x/?gclid=abc123", "https://a.com/x"),
      // mixed params keep the survivors in order
      ("https://a.com/x?page=2&fbclid=zz&sort=asc", "https://a.com/x?page=2&sort=asc"),
      // utm_* family matches any suffix; bare param (no '=') matches too
      ("https://a.com/x?utm_medium&keep=1", "https://a.com/x?keep=1"),
      // 'ref' strips, but a param merely PREFIXED ref... does not
      ("https://a.com/x?ref=here&refresh=1", "https://a.com/x?refresh=1"),
      // fragment goes, even with a query present
      ("http://A.com/p?id=3#frag", "http://a.com/p?id=3"),
      // bare authority root: one trailing slash collapses
      ("https://B.com/", "https://b.com"),
      // port and userinfo ride along in the authority, lowercased
      ("https://User@B.com:8443/P", "https://user@b.com:8443/P"))
      .toDF("url", "expected")
    val got = cases.withColumn("canon", Curation.canonicalizeUrl(col("url")))
      .filter(col("canon") =!= col("expected"))
      .select("url", "canon", "expected").collect()
    assert(got.isEmpty, got.mkString("\n"))
  }

  test("urlDomain lowercases, strips www/userinfo/port, stops at path") {
    import spark.implicits._
    val cases = Seq(
      ("HTTPS://WWW.Sub.Example.COM/p?x=1", "sub.example.com"),
      ("https://user@Host.com:8443/p", "host.com"),
      ("http://plain.org#f", "plain.org"),
      ("http://wwwx.org/", "wwwx.org")) // only a literal 'www.' label strips
      .toDF("url", "expected")
    val got = cases.withColumn("d", Curation.urlDomain(col("url")))
      .filter(col("d") =!= col("expected")).collect()
    assert(got.isEmpty, got.mkString("\n"))
  }

  test("perDomainCap: k per domain, tracking noise does not split a domain's count") {
    import spark.implicits._
    // 40 docs on one host behind per-click tracking ids + 2 on another:
    // canonicalization must not matter for the DOMAIN key (raw host), and
    // the cap must see ONE bigdoc.com population of 40, not 40 singletons
    val docs = (1L to 40L).map(i =>
        (i, s"https://WWW.BigDoc.com/page/$i?utm_source=click$i"))
      .++(Seq((98L, "https://small.org/a"), (99L, "https://small.org/b")))
      .toDF("doc_id", "url")
    val capped = Curation.perDomainCap(docs, "url", "doc_id", k = 3)
    val byDomain = capped.groupBy("domain").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byDomain == Map("bigdoc.com" -> 3L, "small.org" -> 2L))
    // canonical_url rides along with tracking stripped
    val sample = capped.filter(col("domain") === "bigdoc.com")
      .select("canonical_url").collect().map(_.getString(0))
    assert(sample.forall(u => u.startsWith("https://www.bigdoc.com/page/")
      && !u.contains("utm_")))
    // same single-shuffle rank-limit plan as perKeyCap (map-side prune)
    val plan = capped.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  /** Composable top share — the reference graft_top_freq is pinned
    * against: the longest equal run of the SORTED array over its size,
    * one interpreted fold.
    */
  private def topRunShare(arr: org.apache.spark.sql.Column) = {
    val folded = aggregate(array_sort(arr),
      struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"),
          acc.getField("run") + 1).otherwise(lit(1))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      })
    round(folded.getField("best").cast("double") / size(arr), 6)
  }

  test("repetition fast path (graft_top_freq) is output-identical to the sorted-run fold") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    // no sub-2-token docs: a zero-bigram doc divides by zero under ANSI in
    // BOTH forms (identical behavior, and the documents fixture is 10-99
    // tokens throughout)
    val docs = Seq(
      (1L, "a a a b b c"),                       // clear top token
      (2L, "x y x y x y x y"),                   // repeated bigram "x y"/"y x"
      (5L, "all distinct tokens right here now"),
      (6L, "t t t t t t t t t t")                // degenerate repetition
    ).toDF("doc_id", "text")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getDouble(2),
          r.getDouble(3), Option(r.get(4)).map(_.toString))).toMap
    // the composable reference (sorted-run top shares)
    val t = split(col("text"), " ")
    // NON-distinct bigrams — repetition needs multiplicity
    val bg = zip_with(slice(t, lit(1), size(t) - 1),
      slice(t, lit(2), size(t) - 1), (x, y) => concat(x, lit(" "), y))
    val slow = canon(docs.select(col("doc_id"),
      size(t).as("n_tokens"),
      round(size(array_distinct(t)).cast("double") / size(t), 6)
        .as("distinct_token_ratio"),
      topRunShare(t).as("top_token_share"),
      topRunShare(bg).as("top_bigram_share")))
    val fast = canon(TextAnalysis.repetition(docs, "doc_id", "text"))
    assert(fast.keySet == slow.keySet)
    // NaN != NaN under ==, so compare via the stringified option
    fast.keys.foreach { k =>
      assert(fast(k).toString == slow(k).toString, s"doc $k: ${fast(k)} vs ${slow(k)}")
    }
  }

  test("crawlFrontDoor: blocklist drops, URL variants collapse to first fetch, mirrors dedup, guard fails loud") {
    import spark.implicits._
    val docs = Seq(
      // one page fetched three times behind tracking noise → doc 1 survives
      (1L, "https://A.com/p1?utm_source=x", "unique page one body"),
      (2L, "https://a.com/p1#frag", "unique page one body"),
      (3L, "https://a.com/p1/", "unique page one body"),
      // distinct page, same host
      (4L, "https://a.com/p2", "page two body"),
      // blocklisted host — dropped regardless of content
      (5L, "https://bad.com/x", "whatever"),
      // mirror of page two on ANOTHER domain → content dedup keeps doc 4
      (6L, "https://b.org/mirror", "page two body"),
      // novel content on b.org
      (7L, "https://b.org/own", "b's own content")
    ).toDF("doc_id", "url", "text")
    val blocked = Seq("bad.com", "absent.example").toDF("domain")
    val kept = Curation.crawlFrontDoor(docs, "url", "doc_id", "text",
      blocked, perDomainK = 5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 4L, 7L))
    // the cap engages on collapsed PAGES, not raw fetches: 3 fetches of p1
    // + p2 under k=2 keep both pages (collapse happens before the cap)
    val capped = Curation.crawlFrontDoor(docs, "url", "doc_id", "text",
      blocked, perDomainK = 2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(capped == Set(1L, 4L, 7L))
    // an oversized "blocklist" must fail loud before the forced broadcast
    val big = (1L to 20L).map(i => s"host$i.com").toDF("domain")
    val e = intercept[IllegalArgumentException] {
      Curation.crawlFrontDoor(docs, "url", "doc_id", "text", big,
        perDomainK = 5, maxBlocklistRows = 10L)
    }
    assert(e.getMessage.contains("crawlFrontDoor"))
  }

  test("the composed curation chain reads its input once: front door -> " +
      "nearDedupPipeline -> modelGate -> tokenBudget") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    // 500 fixture documents plus 100 re-fetches behind tracking noise (the
    // front door collapses them) on 20 source domains, one blocklisted
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text", "lang", "source")
      .withColumn("url", concat(lit("https://"), col("source"),
        lit(".example.com/p"), col("doc_id").cast("string")))
    val raw = base.unionByName(base.filter(col("doc_id") % 5 === 0)
      .withColumn("url", concat(col("url"), lit("?utm_source=x")))
      .withColumn("doc_id", col("doc_id") + 100000L))
    val nIn = raw.count()
    val blocked = Seq("src3.example.com").toDF("domain")
    def frontDoor(docs: org.apache.spark.sql.DataFrame) =
      Curation.crawlFrontDoor(docs, "url", "doc_id", "text", blocked,
        perDomainK = 20)
    // every evaluation of an input row bumps the accumulator; the UDF is
    // nondeterministic, so no plan may fold or duplicate it away
    val reads = spark.sparkContext.longAccumulator("chain input reads")
    val bump = udf { (id: Long) => reads.add(1L); id }.asNondeterministic()
    val dedup = TextDedup.nearDedupPipeline(
      frontDoor(raw.withColumn("doc_id", bump(col("doc_id")))),
      "doc_id", "text", bands = 2, rowsPerBand = 2, threshold = 0.5)
    val ruleText = concat(col("text"),
      when(col("doc_id") % 2 === 0, lit(" and so that was the end of it all"))
        .otherwise(lit("")))
    val gated = TextAnalysis.modelGate(dedup.filter(col("doc_id") % 2 === 0),
        dedup, "doc_id", "text", ruleText, "lang",
        Seq("source" -> col("source"),
          "n_tokens" -> size(split(col("text"), " "))))
      .filter(col("keep") && col("pred_label") === col("lang"))
    val mix = Sampling.tokenBudget(gated.select("doc_id", "source", "n_tokens"),
      "source", "doc_id", "n_tokens", Map.empty, 400L)
    graft.BenchHarness.executeFully(mix)
    assert(reads.value == nIn,
      s"the chain evaluated ${reads.value} input rows for $nIn inputs")
    // the chain did real work at every layer
    val survivors = dedup.select("doc_id").collect().map(_.getLong(0)).toSet
    val fd = frontDoor(raw)
    assert(fd.count() < nIn && survivors.size < fd.count())
    assert(mix.count() > 0)
    // and its dedup layer keeps exactly the hand-wired chain's survivors
    assert(survivors == TextDedupSpec.handWired(fd, bands = 2,
      rowsPerBand = 2, threshold = 0.5))
    graft.BenchHarness.unpersistLeaked(spark, Set.empty)
  }

  test("gopherScreen: each signal trips on its own fixture, keep is the conjunction") {
    import spark.implicits._
    val passing = (Seq.fill(15)("alpha beta gamma delta").mkString(" ")
      + " the with") // 62 words, mean len ~4.7, 2 stopwords, clean lines
    val docs = Seq(
      (1L, passing),
      (2L, "the cat with hat"), // fails word-count floor only
      (3L, "- a\n- b\n- c\n- d\n- e\n- f\n- g\n- h\n- i\nz"), // 9/10 bullets
      (4L, "one...\ntwo…\nthree"), // 2/3 ellipsis lines
      (5L, "# x … y ..."), // 1 hash + 2 ellipses over 5 words
      (6L, "abc 123 456 789"), // 1/4 alphabetic words
      (7L, passing.replace(" the with", " the the")) // 1 distinct stopword
    ).toDF("doc_id", "text")
    val got = TextAnalysis.gopherScreen(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(got(1L).getAs[Boolean]("keep"))
    assert(got(2L).getAs[Int]("n_words") == 4
      && got(2L).getAs[Int]("n_stop_hits") == 2
      && !got(2L).getAs[Boolean]("keep"))
    assert(got(3L).getAs[Double]("bullet_ratio") == 0.9) // == max → fails <
    assert(got(4L).getAs[Double]("ellipsis_ratio") == 2.0 / 3)
    assert(got(5L).getAs[Double]("symbol_ratio") == 3.0 / 5)
    assert(got(6L).getAs[Double]("alpha_ratio") == 0.25)
    assert(got(7L).getAs[Int]("n_stop_hits") == 1
      && !got(7L).getAs[Boolean]("keep"))
    // the screen is a pure projection: no exchange in the plan
    val plan = TextAnalysis.gopherScreen(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("modelGate fused single-pass gate is row-identical to the join " +
      "composition and evaluates each scoring kernel once (r16)") {
    graft.functions.GraftFunctions.register(spark)
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val train = docs.filter(col("doc_id") % 2 === 0)
    val ruleText = concat(col("text"),
      when(col("doc_id") % 2 === 0, lit(" and so that was the end of it all"))
        .otherwise(lit("")))
    val extra = Seq("source" -> col("source"),
      "n_tokens" -> size(split(col("text"), " ")))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.toList).sortBy(_.head.toString).toList
    val fusedG = TextAnalysis.modelGate(train, docs, "doc_id", "text",
      ruleText, "lang", extra, fused = Some(true))
    val joinG = TextAnalysis.modelGate(train, docs, "doc_id", "text",
      ruleText, "lang", extra, fused = Some(false))
    assert(rows(fusedG) == rows(joinG),
      "fused gate must be byte-identical to the r15 join composition")
    // the fused gate is ONE pass: no join, no exchange, and each scoring
    // kernel appears exactly once in the plan
    val plan = fusedG.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan.take(2000))
    assert(!plan.contains("Exchange"), plan.take(2000))
    for (k <- Seq("graft_gopher_stats", "graft_lm_score", "graft_nb_seen"))
      assert(plan.sliding(k.length).count(_ == k) == 1,
        s"$k must evaluate exactly once:\n${plan.take(3000)}")
    graft.BenchHarness.unpersistLeaked(spark, Set.empty)
  }

  test("gopherScreen/curationPipeline fast path (graft_gopher_stats) is output-identical to the composable form") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val passing = (Seq.fill(15)("alpha beta gamma delta").mkString(" ")
      + " the with")
    // every signal's trip fixture, plus tab/newline separators, astral
    // codepoints (length = codepoints, not UTF-16 units), multi-space
    // (empty tokens), unicode bullets/ellipses, and the empty string
    val docs = Seq(
      (1L, passing),
      (2L, "the cat with hat"),
      (3L, "- a\n- b\n- c\n- d\n- e\n- f\n- g\n- h\n- i\nz"),
      (4L, "one...\ntwo…\nthree"),
      (5L, "# x … y ..."),
      (6L, "abc 123 456 789"),
      (7L, passing.replace(" the with", " the the")),
      (8L, "tab\tsep\nline two\t end"),
      (9L, "emoji 🎉🎉 wide 𝔘𝔫𝔦 chars"),
      (10L, "double  space   gaps"),
      (11L, " \t leading and trailing \n "),
      (12L, "• bullet dot\n * star\n… lone ellipsis …\t"),
      (13L, "")
    ).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.toSeq.toList).toList.sortBy(_.head.toString)
    // the composable reference: every counter from its own split, the
    // HOF lambdas interpreted; ratio arithmetic and the keep conjunction
    // as in the operator (gopherScreen's default thresholds but minWords)
    def gopherSlow(text: org.apache.spark.sql.Column, minWords: Int) = {
      val words = split(text, "[ \\t\\n]+")
      val lines = split(text, "\n")
      val nWords = size(words)
      val nLines = size(lines)
      val stopHits = size(filter(array(TextAnalysis.GopherStopwords
        .map(lit(_)): _*), w => array_contains(words, w)))
      val meanWordLen =
        aggregate(words, lit(0), (a, x) => a + length(x)).cast("double") /
          nWords
      val symbolRatio = (regexp_count(text, lit("#"))
        + regexp_count(text, lit("\\.\\.\\.|…"))).cast("double") / nWords
      val bulletRatio = size(filter(lines,
        l => regexp_like(l, lit("^[ \\t]*[-*•]")))).cast("double") / nLines
      val ellipsisRatio = size(filter(lines,
        l => regexp_like(l, lit("(\\.\\.\\.|…)[ \\t]*$")))).cast("double") /
          nLines
      val alphaRatio = size(filter(words,
        w => regexp_like(w, lit("[A-Za-z]")))).cast("double") / nWords
      val keep = nWords.between(minWords, 100000) &&
        meanWordLen.between(3.0, 10.0) && symbolRatio < 0.1 &&
        bulletRatio < 0.9 && ellipsisRatio < 0.3 && alphaRatio > 0.8 &&
        stopHits >= 2
      (Seq(nWords.as("n_words"), meanWordLen.as("mean_word_len"),
        symbolRatio.as("symbol_ratio"), bulletRatio.as("bullet_ratio"),
        ellipsisRatio.as("ellipsis_ratio"), alphaRatio.as("alpha_ratio"),
        stopHits.as("n_stop_hits")), keep)
    }
    val (signalsG, keepG) = gopherSlow(col("text"), 50)
    val slowG = rows(docs.select(col("doc_id") +: signalsG :+
      keepG.as("keep"): _*))
    val fastG = rows(TextAnalysis.gopherScreen(docs, "doc_id", "text"))
    assert(fastG == slowG)
    // curationPipeline's reference: the Gopher screen (minWords 10) and the
    // sorted-run repetition screen over the normalized text, PII redaction
    // of the same text
    val norm = TextAnalysis.normalize(docs, "doc_id", "text")
    val (signalsP, keepP) = gopherSlow(col("norm_text"), 10)
    val t = split(col("norm_text"), " ")
    val distinctRatio = round(size(array_distinct(t)).cast("double") /
      size(t), 6)
    val topTokenShare = topRunShare(t)
    val pii = TextAnalysis.redactPii(norm, "doc_id", "norm_text")
      .select(col("doc_id"), col("redacted_text").as("clean_text"),
        (col("n_emails") + col("n_ips") + col("n_phones")).as("n_redactions"))
    val slowP = rows(norm.select(col("doc_id"), signalsP.head,
        distinctRatio.as("distinct_token_ratio"),
        topTokenShare.as("top_token_share"),
        (keepP && topTokenShare <= 0.2 && distinctRatio >= 0.3).as("keep"))
      .join(pii, "doc_id"))
    val fastP = rows(TextAnalysis.curationPipeline(docs, "doc_id", "text"))
    assert(fastP == slowP)
    // the fused pass stays a pure projection and the stats struct is
    // evaluated ONCE (a collapsed plan would inline graft_gopher_stats
    // into every derived signal); a parquet scan keeps Catalyst from
    // constant-folding the local fixture away
    val pdocs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = TextAnalysis.gopherScreen(pdocs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert("graft_gopher_stats".r.findAllIn(plan).length == 1, plan)
  }

  test("bpeEncode replays merges in training order; counts shrink as merges grow") {
    import spark.implicits._
    val docs = Seq((1L, "aab aab aaaa"), (2L, "aab")).toDF("doc_id", "text")
    // rules from the bpeTrain spec's hand computation
    val rules = Seq(("a", "a"), ("aa", "b"), ("aa", "aa"))
    val got = TextAnalysis.bpeEncode(docs, "doc_id", "text", rules)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    // doc 1: aab->[aab](1), aab->[aab](1), aaaa->[aaaa](1) = 3 symbols
    assert(got(1L) == ((3, 3L)))
    assert(got(2L) == ((1, 1L)))
    // fewer rules -> strictly more symbols: only (a,a) leaves
    // aab->[aa,b] (2) x2 words + aaaa->[aa,aa] (2) = 6
    val partial = TextAnalysis.bpeEncode(docs, "doc_id", "text", rules.take(1))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(partial(1L) == 6L)
    assert(partial(2L) == 2L)
  }

  test("chunkDocuments: exact multiples, short docs, overlap windows") {
    import spark.implicits._
    val docs = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")), // 10 tokens
      (2L, "only three words"),                       // shorter than chunk
      (3L, (1 to 4).map(i => s"x$i").mkString(" "))   // exactly chunk size
    ).toDF("doc_id", "text")
    val got = TextAnalysis.chunkDocuments(docs, "doc_id", "text",
      chunkTokens = 4, overlap = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        ((r.getString(2), r.getInt(3)))).toMap
    // doc 1: stride 3, starts 1,4,7 (10-1=9 >= 7); chunks 4,4,4 tokens
    assert(got((1L, 0)) == (("w1 w2 w3 w4", 4)))
    assert(got((1L, 1)) == (("w4 w5 w6 w7", 4)))
    assert(got((1L, 2)) == (("w7 w8 w9 w10", 4)))
    assert(!got.contains((1L, 3)))
    // doc 2: single short chunk
    assert(got((2L, 0)) == (("only three words", 3)))
    // doc 3: 4 tokens = exactly one chunk, start 4 excluded (4 > 4-1)
    assert(got((3L, 0)) == (("x1 x2 x3 x4", 4)))
    assert(!got.contains((3L, 1)))
  }

  test("tfidfPairs: rare shared terms score, hub terms capped out, quantized-exact") {
    import spark.implicits._
    // term frame directly: docs 1,2 share rare term R; everyone has hub H
    val terms = Seq(
      (1L, "R"), (1L, "H"),
      (2L, "R"), (2L, "H"),
      (3L, "H"), (4L, "H")).toDF("doc_id", "token")
    val got = TextAnalysis.tfidfPairs(terms, nDocs = 4L, maxDf = 2L,
      threshold = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // only (1,2) pair via R (H has df=4 > cap); replicate the arithmetic
    val q = 1024L
    def wq(tf: Long, n: Long, df: Long): Long =
      math.floor((tf.toDouble / n) * (4.0 / df) * q).toLong
    val wR = wq(1, 2, 2); val wH = wq(1, 2, 4)
    val n2 = wR * wR + wH * wH
    val expect = BigDecimal(wR * wR / (math.sqrt(n2.toDouble) * math.sqrt(n2.toDouble)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.keySet == Set((1L, 2L)))
    assert(math.abs(got((1L, 2L)) - expect) < 1e-9, s"${got((1L, 2L))} vs $expect")
  }

  test("bpeTrain learns composite merges with greedy left-to-right application") {
    import spark.implicits._
    // census: "aab"×3, "aaaa"×1.
    // round 1: (a,a) = 3 (from aab) + 3 (from aaaa) = 6 beats (a,b) = 3
    // round 2: aab → [aa,b], aaaa → [aa,aa] (GREEDY: "aaa" would be [aa,a]),
    //          so (aa,b) = 3 beats (aa,aa) = 1 — a COMPOSITE symbol merges
    // round 3: only (aa,aa) = 1 remains
    val docs = Seq((1L, "aab aab aaaa"), (2L, "aab")).toDF("doc_id", "text")
    val rules = TextAnalysis.bpeTrain(docs, "text", merges = 3)
      .collect().map(r =>
        (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toList
    assert(rules == List((1, "a", "a", 6L), (2, "aa", "b", 3L),
      (3, "aa", "aa", 1L)))
    // exhaustion: asking for more merges than exist stops early
    val fewer = TextAnalysis.bpeTrain(docs, "text", merges = 10).count()
    assert(fewer == 3) // after (aab) and (aaaa) fuse there are no pairs left
  }

  test("graft_bpe_merge is symbol-exact: no cross-boundary fusing, adjacent pairs all merge") {
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    val S = "\u0001"
    val cases = Seq(
      // the r7 replace-BPE bug: symbols [x, aa] + rule (x, a) must NOT
      // fuse x with half of "aa" (replace gave "xaa")
      (s"x${S}aa", "x", "a", s"x${S}aa"),
      // a symbol merely ENDING in l must not trigger a false merge
      (s"cx${S}a", "x", "a", s"cx${S}a"),
      // adjacent disjoint occurrences all merge (replace's consumed
      // separator dropped the middle one)
      (s"a${S}b${S}a${S}b${S}a${S}b", "a", "b", s"ab${S}ab${S}ab"),
      // greedy leftmost on runs: aaaa + (a,a) -> [aa, aa]; aaa -> [aa, a]
      (s"a${S}a${S}a${S}a", "a", "a", s"aa${S}aa"),
      (s"a${S}a${S}a", "a", "a", s"aa${S}a"),
      // a freshly merged symbol is never the LEFT of another merge
      (s"x${S}a${S}a", "x", "a", s"xa${S}a"),
      ("single", "a", "b", "single"))
    val got = cases.zipWithIndex.map { case ((w, l, r, _), i) => (i, w, l, r) }
      .toDF("i", "w", "l", "r")
      .select(col("i"), call_function("graft_bpe_merge",
        col("w"), col("l"), col("r")).as("m"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    cases.zipWithIndex.foreach { case ((w, l, r, want), i) =>
      assert(got(i) == want, s"case $i: merge($w, $l, $r) = ${got(i)}, want $want")
    }
    // END-TO-END collision coverage: round 1 learns (a,a) — forming the
    // multi-char symbol "aa" inside "xaa" → [x, aa] — and round 2 learns
    // (x, a), which must NOT touch [x, aa] (symbols differ). The r7
    // substring replace fused it to the single corrupt symbol "xaa"
    // ("x␁aa".replace("x␁a", "xa")), which would have erased round 3's
    // (x, aa) pair entirely — training would stop at 2 rules.
    // census: aa×5 → (a,a)=5+1(from xaa)=6; xa×3 → (x,a)=3+1=4.
    val docs2 = Seq((1L, "aa aa aa aa aa xa xa xa xaa")).toDF("doc_id", "text")
    val rules2 = TextAnalysis.bpeTrain(docs2, "text", merges = 4)
      .collect().map(r =>
        (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toList
    assert(rules2 == List((1, "a", "a", 6L), (2, "x", "a", 3L),
      (3, "x", "aa", 1L)), s"got $rules2")
    // encode with the learned rules: every word collapses to ONE symbol
    val enc = TextAnalysis.bpeEncode(docs2, "doc_id", "text",
      rules2.map(t => (t._2, t._3)))
      .head
    assert(enc.getInt(1) == 9 && enc.getLong(2) == 9L,
      "each of the 9 words must encode to exactly one symbol")
  }

  test("vocabCoverage: occupancy arithmetic matches the brute-force " +
      "rank cut — including a k that lands inside a frequency tie class") {
    import spark.implicits._
    // word frequencies: a=5, b=3, c=3, d=3, e=1, f=1 → total 16 occ,
    // 6 distinct. Rank order (count desc, token asc): a,b,c,d,e,f.
    // k=1 → 5; k=3 cuts INSIDE the freq-3 tie class → 5+3+3 = 11;
    // k=4 → 14; k=5 → 15; k=99 > 6 distinct → all 16.
    val docs = Seq(
      (0L, "a a b c d"),
      (1L, "a b c d e"),
      (2L, "a a b c d f")).toDF("doc_id", "text")
    val got = TextAnalysis
      .vocabCoverage(docs, "text", Seq(1L, 3L, 4L, 5L, 99L))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got == Map(
      1L -> ((5L, 16L, 6L)), 3L -> ((11L, 16L, 6L)),
      4L -> ((14L, 16L, 6L)), 5L -> ((15L, 16L, 6L)),
      99L -> ((16L, 16L, 6L))), s"coverage diverged: $got")
  }

  test("ntileDescBucketed is byte-identical to the window ntile — " +
      "every remainder class, ties, tiny keys, any coarseScale") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // per-key sizes cover N % 3 = 0/1/2, N < n, and heavy score ties
    // (all of key "t" shares one score, so bucketing rides the id
    // tiebreak across a single coarse bucket)
    val rows =
      (1L to 99L).map(i => ("a", i, -math.sin(i.toDouble) * 7.0)) ++
      (1L to 100L).map(i => ("b", i, -(i % 13).toDouble / 3.0)) ++
      (1L to 101L).map(i => ("c", i, -math.cos(i.toDouble) * 2.0)) ++
      (1L to 2L).map(i => ("d", i, -1.0)) ++
      (1L to 40L).map(i => ("t", i, -2.5))
    // null scores must reproduce the window form's DESC default (NULLS
    // LAST — the dedicated max-long bucket)
    val df = rows.toDF("k", "id", "score")
      .unionByName((200L to 212L).map(i => ("a", i)).toDF("k", "id")
        .withColumn("score", lit(null).cast("double")))
    val w = Window.partitionBy("k").orderBy(col("score").desc, col("id"))
    val expected = df.withColumn("nt", ntile(3).over(w))
    for (scale <- Seq(0.5, 16.0, 1000.0)) {
      val got = Sampling.ntileDescBucketed(df, "k", "score", "id",
        n = 3, outCol = "nt", coarseScale = scale)
      assert(expected.except(got).count() == 0 &&
        got.except(expected).count() == 0,
        s"bucketed ntile diverged from the window form at scale=$scale")
    }
    // n > 3 and n = 1 degenerate forms
    for (nb <- Seq(1, 7)) {
      val exp = df.withColumn("nt", ntile(nb).over(w))
      val got = Sampling.ntileDescBucketed(df, "k", "score", "id",
        n = nb, outCol = "nt")
      assert(exp.except(got).count() == 0 && got.except(exp).count() == 0,
        s"bucketed ntile diverged at n=$nb")
    }
  }

  test("ntileDescBucketed degenerate ties: an all-tied key refines into " +
      "id sub-buckets byte-identically; NaN scores sort first; the " +
      "broadcast count frame is fail-loud bounded") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("k").orderBy(col("score").desc, col("id"))
    // zero score spread — the r10 verdict watch case: every row of the
    // key shares ONE score, so without refinement the whole key ranks in
    // a single (key, coarse-bucket) task. tieIdScale = 16 forces the id
    // refinement (300 > 16 → ~19 sub-buckets of ≤16 rows); ranks inside a
    // tied bucket are pure id order, which any monotone-in-id split
    // preserves — output must stay byte-identical to the window ntile.
    val tied = (1L to 300L).map(i => ("k", i, 0.25)).toDF("k", "id", "score")
    val exp = tied.withColumn("nt", ntile(7).over(w))
    val got = Sampling.ntileDescBucketed(tied, "k", "score", "id",
      n = 7, outCol = "nt", tieIdScale = 16L)
    assert(exp.except(got).count() == 0 && got.except(exp).count() == 0,
      "refined all-tied ntile diverged from the window form")
    // NaN scores: Spark's double ordering puts NaN above every real —
    // FIRST under DESC, before all real scores and before nulls; the
    // dedicated min-long bucket must reproduce that (r10 advice:
    // floor(NaN·scale) casts to 0, interleaving NaN with real scores)
    val withNan = ((1L to 50L).map(i =>
        ("k", i, if (i % 5 == 0) Double.NaN else math.sin(i.toDouble))) ++
        (60L to 65L).map(i => ("k", i, Double.NaN)))
      .toDF("k", "id", "score")
    val expN = withNan.withColumn("nt", ntile(3).over(w))
    val gotN = Sampling.ntileDescBucketed(withNan, "k", "score", "id",
      n = 3, outCol = "nt")
    assert(expN.except(gotN).count() == 0 && gotN.except(expN).count() == 0,
      "NaN scores diverged from the window form's first-under-DESC order")
    // the NaN bucket is itself tied (Spark NaN = NaN), so the refinement
    // applies inside it too
    val gotN2 = Sampling.ntileDescBucketed(withNan, "k", "score", "id",
      n = 3, outCol = "nt", tieIdScale = 4L)
    assert(expN.except(gotN2).count() == 0 && gotN2.except(expN).count() == 0,
      "refined NaN bucket diverged from the window form")
    // a key holding BOTH an oversized tied bucket and mixed-score
    // buckets: the refinement must split only the tied one (mixed
    // buckets keep __ib = 0 — an id split would not respect
    // (order DESC, id) there) and stay byte-identical end to end
    val mixed = ((1L to 200L).map(i => ("k", i, 0.5)) ++           // tied
        (201L to 260L).map(i => ("k", i, math.sin(i.toDouble))) ++ // mixed
        (301L to 310L).map(i => ("k", i, 0.5 + (i % 3) * 1e-6)))   // near-tied
      .toDF("k", "id", "score")
    val expM = mixed.withColumn("nt", ntile(5).over(w))
    val gotM = Sampling.ntileDescBucketed(mixed, "k", "score", "id",
      n = 5, outCol = "nt", tieIdScale = 32L)
    assert(expM.except(gotM).count() == 0 && gotM.except(expM).count() == 0,
      "mixed tied/untied buckets diverged from the window form")
    // the per-(key, bucket) count frames broadcast — bounded fail-loud
    // instead of OOMing the driver (r10 advice)
    val err = intercept[IllegalArgumentException] {
      Sampling.ntileDescBucketed(tied, "k", "score", "id", n = 3,
        outCol = "nt", maxBucketFrameRows = 0L).collect()
    }
    assert(err.getMessage.contains("broadcast"),
      s"expected the broadcast-bound message, got: ${err.getMessage}")
  }

  test("ntileDescBucketed with a NON-integral id: the tie refinement is " +
      "gated off and the fallback stays byte-identical to the window " +
      "form (r11 advice: a double split is not monotone in string order)") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // numeric-VALUED string ids where lexical order ("10" < "9") diverges
    // from numeric order — the refinement's floor(cast(id as double)/s)
    // split would break the id tiebreak; the dataType gate must fall
    // back to the unrefined rank even though the bucket is fully tied
    // and oversized (300 > tieIdScale 16)
    val tied = (1L to 300L).map(i => ("k", i.toString, 0.25))
      .toDF("k", "id", "score")
    val w = Window.partitionBy("k").orderBy(col("score").desc, col("id"))
    val exp = tied.withColumn("nt", ntile(7).over(w))
    val got = Sampling.ntileDescBucketed(tied, "k", "score", "id",
      n = 7, outCol = "nt", tieIdScale = 16L)
    assert(exp.except(got).count() == 0 && got.except(exp).count() == 0,
      "string-id fallback diverged from the window ntile")
    // null ids inside an oversized tied bucket with an INTEGRAL id: the
    // refinement engages, null ids ride the null sub-bucket and the <=>
    // join (r11 advice: === silently dropped them)
    val withNullIds = (1L to 120L).map(i => ("k", i, 0.5)).toDF("k", "id", "score")
      .unionByName(Seq(("k", 0.5), ("k", 0.5)).toDF("k", "score")
        .withColumn("id", lit(null).cast("long"))
        .select("k", "id", "score"))
    val expN = withNullIds.withColumn("nt", ntile(4).over(w))
    val gotN = Sampling.ntileDescBucketed(withNullIds, "k", "score", "id",
      n = 4, outCol = "nt", tieIdScale = 16L)
    assert(expN.except(gotN).count() == 0 && gotN.except(expN).count() == 0,
      "null ids must survive the refinement join and rank NULLS FIRST")
    assert(gotN.count() == withNullIds.count(),
      "the refinement join dropped null-id rows")
  }

  test("vocabCoverageFromCensus: an adversarial all-distinct-counts " +
      "census trips the fail-loud frame bound before the global window") {
    import spark.implicits._
    // every token has a DISTINCT frequency -> the count-of-counts frame
    // is vocabulary-sized, not Zipf-compressed; the guard must fire
    // instead of single-task-sorting and broadcasting it (r11 verdict #2)
    val census = (1L to 100L).map(i => (s"t$i", i)).toDF("token", "cnt")
    val err = intercept[IllegalArgumentException] {
      TextAnalysis.vocabCoverageFromCensus(census, Seq(10L),
        maxBucketFrameRows = 50L).collect()
    }
    assert(err.getMessage.contains("count-of-counts"),
      s"expected the frame-bound message, got: ${err.getMessage}")
    // the same census under the default bound still computes exactly
    val ok = TextAnalysis.vocabCoverageFromCensus(census, Seq(10L))
      .head
    // top 10 counts: 100..91 -> 955 of total 5050
    assert(ok.getAs[Long]("covered_occ") == 955L &&
      ok.getAs[Long]("total_occ") == 5050L)
  }

  test("temperatureWeights: empty and all-null corpora reach the " +
      "friendly require, not an NPE (r11 advice)") {
    import spark.implicits._
    val empty = Seq.empty[(String, Long)].toDF("source", "n_tokens")
    val e1 = intercept[IllegalArgumentException] {
      Sampling.temperatureWeights(empty, "source", "n_tokens").collect()
    }
    assert(e1.getMessage.contains("empty corpus"))
    val allNull = Seq("a", "b").toDF("source")
      .withColumn("n_tokens", lit(null).cast("long"))
    val e2 = intercept[IllegalArgumentException] {
      Sampling.temperatureWeights(allNull, "source", "n_tokens").collect()
    }
    assert(e2.getMessage.contains("empty corpus"))
  }
}
