package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

class TextDedupSpec extends AnyFunSuite with SparkTestBase {

  private lazy val docs =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  test("df-capped Jaccard pairs are a subset of the uncapped pairs") {
    val full = TextDedup.ngramJaccardPairs(docs, "doc_id", "text", "source", 0.3)
      .select("doc_a", "doc_b").cache()
    val capped = TextDedup.ngramJaccardPairs(docs, "doc_id", "text", "source", 0.3,
      maxDocFreq = 3)
      .select("doc_a", "doc_b").cache()
    // dropping hot shingles can only remove candidates/overlap, never add
    assert(capped.join(full, Seq("doc_a", "doc_b"), "left_anti").count() == 0)
    assert(capped.count() <= full.count())
    // the fixture corpus has shingles above the cap, so the knob engages
    val hotShingles = docs
      .select(col("doc_id"),
        explode(graft.functions.GraftFunctions.shingles(col("text"))).as("s"))
      .groupBy("s").count().filter(col("count") > 3)
    assert(hotShingles.count() > 0)
  }

  test("lineDedup strips boilerplate lines, keeps order, never drops rows") {
    import spark.implicits._
    val rows = Seq(
      (1L, "alpha prose one\nCOOKIE BANNER\nbeta prose two"),
      (2L, "COOKIE BANNER\ngamma text\nNAV MENU"),
      (3L, "NAV MENU\nCOOKIE BANNER"),            // all boilerplate
      (4L, "delta solo\nNAV MENU\ndelta encore"),
      (5L, "COOKIE BANNER\nNAV MENU\nepsilon end"),
      (6L, "unique only line"))
      .toDF("doc_id", "text")
    // COOKIE BANNER in 4 docs, NAV MENU in 4 docs, threshold 3 strips both
    val got = TextDedup.lineDedup(rows, "doc_id", "text", minDocFreq = 3)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got(1L) == (("alpha prose one\nbeta prose two", 1L)))
    assert(got(2L) == (("gamma text", 2L)))
    assert(got(3L) == (("", 2L)))                 // row kept, text emptied
    assert(got(4L) == (("delta solo\ndelta encore", 1L)))
    assert(got(5L) == (("epsilon end", 2L)))
    assert(got(6L) == (("unique only line", 0L)))
    assert(got.size == 6)
    // document frequency is DISTINCT docs: a line repeated inside one doc
    // only counts once, so it survives a threshold equal to its doc count
    val rep = Seq((1L, "x\nx\nx\ny"), (2L, "x\nz")).toDF("doc_id", "text")
    val kept = TextDedup.lineDedup(rep, "doc_id", "text", minDocFreq = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(kept(1L) == "x\nx\nx\ny" && kept(2L) == "x\nz")
    // a NULL text reads as empty and the row survives (never dropped)
    val withNull = Seq((1L, Some("a\nb")), (2L, None))
      .toDF("doc_id", "text")
    val outRows = TextDedup.lineDedup(withNull, "doc_id", "text",
      minDocFreq = 2).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(outRows(2L) == (("", 0L)) && outRows.size == 2)
  }

  test("property: lineDedup matches an in-memory reference on random corpora") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val pool = (1 to 12).map(i => s"line pool entry $i")
    for (trial <- 1 to 4) {
      val docs = (1L to 30L).map { id =>
        val nLines = 1 + rng.nextInt(5)
        (id, Seq.fill(nLines)(pool(rng.nextInt(pool.size))).mkString("\n"))
      }
      val k = 2 + rng.nextInt(4)
      val got = TextDedup.lineDedup(docs.toDF("doc_id", "text"),
        "doc_id", "text", minDocFreq = k)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      val df = docs.flatMap { case (id, t) => t.split("\n").distinct.map(_ -> id) }
        .groupBy(_._1).map { case (l, xs) => l -> xs.map(_._2).distinct.size }
      val hot = df.filter(_._2 >= k).keySet
      val expected = docs.map { case (id, t) =>
        val lines = t.split("\n", -1)
        (id, lines.filterNot(hot).mkString("\n"), lines.count(hot).toLong)
      }.toSet
      assert(got == expected, s"trial $trial (k=$k)")
    }
  }

  test("exact-duplicate collapse is output-identical to brute-force Jaccard") {
    import spark.implicits._
    // the parquet fixtures contain no exact duplicates, so this pins the
    // collapse/expansion paths: duplicate groups (within-group J=1.0),
    // a near-dup of a duplicated text (cross-group pairs inherit the
    // group-level score), different-block identical texts (never pair),
    // and identical one-token texts (no shingles -> never pair)
    val rows = Seq(
      (1L, "s1", "alpha beta gamma delta"),
      (2L, "s1", "alpha beta gamma delta"),   // dup of 1
      (3L, "s1", "alpha beta gamma delta"),   // dup of 1
      (4L, "s1", "alpha beta gamma epsilon"), // near-dup of group {1,2,3}
      (5L, "s1", "alpha beta gamma epsilon"), // dup of 4
      (6L, "s2", "alpha beta gamma delta"),   // same text, other block
      (7L, "s1", "totally different words entirely"),
      (8L, "s1", "x"), (9L, "s1", "x"))       // identical, zero shingles
      .toDF("doc_id", "source", "text")
    val got = TextDedup.ngramJaccardPairs(rows, "doc_id", "text", "source", 0.3)
      .select("doc_a", "doc_b", "common", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    // brute force over the same semantics: distinct bigram shingles,
    // candidates within equal block, J = |A∩B| / |A∪B| >= 0.3
    def shingles(t: String): Set[String] =
      t.split("\\s+").filter(_.nonEmpty).sliding(2).filter(_.length == 2)
        .map(_.mkString(" ")).toSet
    val docs = rows.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val expected = (for {
      (a, ba, ta) <- docs; (b, bb, tb) <- docs
      if a < b && ba == bb
      sa = shingles(ta); sb = shingles(tb)
      common = (sa intersect sb).size
      if common > 0
      j = BigDecimal(common.toDouble / (sa ++ sb).size)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if j >= 0.3
    } yield (a, b, common.toLong, j)).toSet
    assert(got == expected)
    // the duplicate groups actually exercised both expansion paths
    assert(got.exists { case (a, b, _, j) => Set(a, b) == Set(1L, 2L) && j == 1.0 })
    assert(got.exists { case (a, b, _, _) => Set(a, b) == Set(3L, 4L) })
    assert(!got.exists { case (a, b, _, _) => b == 6L || a == 6L })
    assert(!got.exists { case (a, b, _, _) => a >= 8L })
  }

  test("reliable checkpoint mode: identical pairs with a reliable checkpoint dir") {
    // on a real cluster local checkpoints die with their executors — the
    // reliable knob persists the posting frame to the checkpoint dir
    // instead; results must be identical either way
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toFile
    val ccDir = java.nio.file.Files.createTempDirectory("graft-ckpt-cc").toFile
    try {
      spark.sparkContext.setCheckpointDir(dir.toString)
      val local = TextDedup.ngramJaccardPairs(docs, "doc_id", "text", "source",
        0.3, maxDocFreq = 3)
      val reliable = TextDedup.ngramJaccardPairs(docs, "doc_id", "text", "source",
        0.3, maxDocFreq = 3, reliable = true)
      assert(reliable.collect().toSet == local.collect().toSet)
      // the reliable checkpoint actually landed in the configured dir
      assert(dir.listFiles().nonEmpty)
      // dupClusters carries the same knob through its iterative loop; it
      // runs under its own fresh dir, so what lands there is the loop's
      val pairs = local.select("doc_a", "doc_b")
      val localClusters = TextDedup.dupClusters(pairs).collect().toSet
      assert(ccDir.listFiles().isEmpty)
      spark.sparkContext.setCheckpointDir(ccDir.toString)
      val ccRoot = new java.io.File(
        java.net.URI.create(spark.sparkContext.getCheckpointDir.get))
      val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
      val reliableClusters = TextDedup.dupClusters(pairs, reliable = true)
        .collect().toSet
      assert(reliableClusters == localClusters)
      assert(ccRoot.listFiles().nonEmpty,
        "reliable dupClusters wrote no checkpoint")
      // the storage-hygiene bound holds in reliable mode too: the loop
      // leaves at most its final label generation persisted
      val leaked =
        spark.sparkContext.getPersistentRDDs.keySet -- persistedBefore
      assert(leaked.size <= 1,
        s"reliable dupClusters leaked ${leaked.size} persisted RDDs")
      // nearDedupPipeline's input and result checkpoints take the knob too
      def near(reliable: Boolean) = TextDedup.nearDedupPipeline(docs, "doc_id",
        "text", bands = 2, rowsPerBand = 2, threshold = 0.5, reliable = reliable)
        .select("doc_id").collect().toSet
      assert(near(true) == near(false))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(dir)
      org.apache.commons.io.FileUtils.deleteDirectory(ccDir)
    }
  }

  test("minhash banding generalizes: 4 bands x 1 row recalls at least as much as 2x2") {
    val b22 = TextDedup.minhashLshPairs(docs, "doc_id", "text", 2, 2).cache()
    val b41 = TextDedup.minhashLshPairs(docs, "doc_id", "text", 4, 1).cache()
    // fewer rows per band = looser buckets = recall can only grow for the
    // same signature family (bands 4x1 bucket on single minhashes)
    assert(b41.count() >= b22.count())
    // exact duplicates (identical text) are always candidates in both
    val exactDups = TextDedup.exactDedup(docs, "doc_id", "text")
      .filter(col("cnt") > 1)
    if (exactDups.count() > 0) {
      assert(b22.count() > 0 && b41.count() > 0)
    }
  }

  test("LSH bucket cap: degenerate all-identical corpus completes and yields no pairs") {
    import spark.implicits._
    // 500 identical docs collapse to one bucket per band — uncapped that is
    // a 500-id collect_list plus ~125k expanded pairs in one task; the cap
    // anti-joins the oversize buckets away before any list materializes
    val degenerate = (1 to 500)
      .map(i => (i.toLong, "the same boilerplate text repeated for every document in this corpus"))
      .toDF("doc_id", "text")
    val capped = TextDedup.minhashLshPairs(degenerate, "doc_id", "text",
      bands = 2, rowsPerBand = 2, maxBucketSize = 50)
    assert(capped.count() == 0)
    // the audit stats surface exactly what was dropped
    val stats = TextDedup.minhashLshBucketStats(degenerate, "doc_id", "text",
      2, 2, maxBucketSize = 50)
    assert(stats.filter(col("dropped")).count() > 0)
    assert(stats.filter(col("dropped")).agg(max("bucket_size")).head.getLong(0) == 500L)
  }

  test("signature-less docs (under 2 tokens) never pair via the NULL bucket") {
    import spark.implicits._
    val mixed = Seq(
      (1L, "one"), (2L, "single"), (3L, "word"), // no bigrams → null sigs
      (4L, "shared text body here"), (5L, "shared text body here"))
      .toDF("doc_id", "text")
    val pairs = TextDedup.minhashLshPairs(mixed, "doc_id", "text", 2, 2).collect()
    // only the two real near-dups pair; the three signature-less docs
    // must not collapse into one bogus NULL bucket
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((4L, 5L)))
  }

  test("LSH bucket cap above every bucket equals the uncapped result") {
    val base = TextDedup.minhashLshPairs(docs, "doc_id", "text", 2, 2)
    val capped = TextDedup.minhashLshPairs(docs, "doc_id", "text", 2, 2,
      maxBucketSize = 1000000)
    assert(base.collect().toSet == capped.collect().toSet)
  }

  test("simhash hamming pairs: bucket cap drops degenerate buckets, subset of uncapped") {
    import spark.implicits._
    // 30 identical docs collapse to one fingerprint → four buckets of 30;
    // a cap below that must drop them all (no quadratic expansion), while
    // two distinct near-ish docs in small buckets are unaffected
    val docs = ((1L to 30L).map(i => (i, "same boilerplate text everywhere")) ++
      Seq((100L, "rare doc alpha beta"), (101L, "rare doc alpha gamma")))
      .toDF("doc_id", "text")
    val uncapped = TextDedup.simhashNearPairs(docs, "doc_id", "text", 3)
    val capped = TextDedup.simhashNearPairs(docs, "doc_id", "text", 3,
      maxBucketSize = 10L)
    assert(uncapped.filter(col("doc_a") < 100L).count() == 29 * 30 / 2)
    assert(capped.filter(col("doc_a") < 100L).count() == 0,
      "oversize boilerplate buckets must be dropped, not expanded")
    // capped pairs are a subset of the uncapped pairs
    assert(capped.join(uncapped, Seq("doc_a", "doc_b"), "left_anti").count() == 0)
  }

  test("containment df cap: subset of uncapped, containment never rises, a hot shingle alone pairs nothing") {
    import spark.implicits._
    type Pair = (Long, Long)
    def pairs(d: org.apache.spark.sql.DataFrame, cap: Long): Map[Pair, (Double, Double)] =
      TextDedup.ngramContainmentPairs(d, "doc_id", "text", "source", 0.3,
        maxDocFreq = cap).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getDouble(3), r.getDouble(4))))
        .toMap
    // docs 1-4 share only "hot phrase" (containment 1/3 each way); 5 and 6
    // also share two cold shingles; "hot phrase" sits in all six, over a
    // cap of 3
    val rows = Seq(
      (1L, "hot phrase alpha one"), (2L, "hot phrase beta two"),
      (3L, "hot phrase gamma three"), (4L, "hot phrase delta four"),
      (5L, "hot phrase shared tail end"), (6L, "hot phrase shared tail stop"))
      .map { case (id, t) => (id, "s1", t) }.toDF("doc_id", "source", "text")
    for ((corpus, cap) <- Seq(rows -> 3L, docs -> 3L)) {
      val full = pairs(corpus, 0L)
      val capped = pairs(corpus, cap)
      // (1) dropping hot shingles can only remove pairs
      assert(capped.keySet.subsetOf(full.keySet))
      // (2) denominators stay full counts, so containment can only fall
      capped.foreach { case (p, (ca, cb)) =>
        assert(ca <= full(p)._1 && cb <= full(p)._2, s"pair $p rose under the cap")
      }
    }
    val full = pairs(rows, 0L)
    val capped = pairs(rows, 3L)
    assert(full.contains((1L, 2L)) && full((5L, 6L)) == ((0.75, 0.75)))
    // (3) the hot shingle alone yields no pair; 5-6 keep their two cold
    // shingles over their FULL four-shingle denominators
    assert(capped == Map((5L, 6L) -> ((0.5, 0.5))))
  }

  test("simhash64: identical texts share a fingerprint; hamming pairs find them at distance 0") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "completely unrelated words about spark catalyst plans engine"),
      (4L, "the quick brown fox jumps over the lazy cat")).toDF("doc_id", "text")
    val fp = TextDedup.simhash(docs, "doc_id", "text", bits = 64).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) == fp(2L))
    assert(fp(1L) != fp(3L))
    // 64-bit fingerprints actually use the high bits (a 16-bit-wide bug
    // would leave bits 16..63 constant across unrelated docs)
    assert((fp(1L) >>> 16) != (fp(3L) >>> 16))
    val pairs = TextDedup.simhashNearPairs(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.contains((1L, 2L, 0)))
    // unrelated docs are far in hamming space and never pair
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("nearDedupPipeline equals the hand-wired candidates -> verify -> clusters -> apply chain") {
    graft.functions.GraftFunctions.register(spark)
    val corpus = docs.select("doc_id", "text", "source", "lang")
    def handWired(cap: Long): Set[Long] =
      TextDedupSpec.handWired(corpus, bands = 2, rowsPerBand = 2,
        threshold = 0.5, maxBucketSize = cap)
    def pipeline(cap: Long): Set[Long] =
      TextDedup.nearDedupPipeline(corpus, "doc_id", "text",
        bands = 2, rowsPerBand = 2, threshold = 0.5, maxBucketSize = cap)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val uncapped = handWired(0L)
    assert(pipeline(0L) == uncapped)
    // the fixture must actually dedup something, or the equality is vacuous
    assert(uncapped.size < corpus.count())
    // equality holds with the bucket cap ENGAGED too (within-group collapse
    // gated on surviving buckets, exactly like the hand-wired chain)
    val capped = handWired(4L)
    assert(pipeline(4L) == capped)
    assert(capped.size >= uncapped.size) // dropping buckets only loses merges
  }

  test("dedupAgainstReference: exact + near dups of the reference drop, batch-internal dups stay") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val ref = Seq(
      (100L, "the quick brown fox jumps over the lazy dog tonight"),
      (101L, "completely different reference content lives here now")
    ).toDF("doc_id", "text")
    val batch = Seq(
      // exact duplicate of ref 100 -> dropped by the digest screen
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      // near-dup of ref 100 (one word changed) -> dropped by verify
      (2L, "the quick brown fox jumps over the lazy dog today"),
      // unrelated -> kept
      (3L, "an entirely novel batch document with fresh words"),
      // batch-internal duplicates of each other, NOT of ref -> both kept
      (4L, "twin batch content appearing twice in this feed exactly"),
      (5L, "twin batch content appearing twice in this feed exactly")
    ).toDF("doc_id", "text")
    val kept = TextDedup.dedupAgainstReference(ref, batch, "doc_id", "text",
      bands = 2, rowsPerBand = 2, threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(3L, 4L, 5L))
    // the cap can only KEEP more (dropped buckets lose candidate recall)
    val capped = TextDedup.dedupAgainstReference(ref, batch, "doc_id", "text",
      bands = 2, rowsPerBand = 2, threshold = 0.5, maxBucketSize = 1L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept.subsetOf(capped))
    // exact screen is cap-independent: doc 1 drops even at cap 1
    assert(!capped.contains(1L))
  }

  test("buildReferenceIndex scans the reference exactly once across many screened batches") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    // the r6 verdict-#2 contract: the old per-call form re-grouped the ref
    // corpus (3 scans per call — digest screen + banding + shingles); the
    // index form pays ONE scan ever, however many batches it screens. The
    // accumulator counts actual ref-row reads through every materialization.
    val acc = spark.sparkContext.longAccumulator("refRowReads")
    val refRows = (0L until 60L)
      .map(i => (i * 2, s"reference document number ${i % 20} with shared boilerplate text"))
    val ref = refRows.toDF("doc_id", "text").as[(Long, String)]
      .map { r => acc.add(1); r }.toDF("doc_id", "text")
    val index = TextDedup.buildReferenceIndex(ref, "doc_id", "text",
      bands = 2, rowsPerBand = 2)
    val batch1 = Seq(
      (1L, s"reference document number 3 with shared boilerplate text"), // exact dup
      (3L, "a genuinely new arrival with its own wording")
    ).toDF("doc_id", "text")
    val batch2 = Seq(
      (5L, s"reference document number 7 with shared boilerplate text"), // exact dup
      (7L, "another novel batch row unrelated to anything prior")
    ).toDF("doc_id", "text")
    val kept1 = TextDedup.dedupAgainstIndex(index, batch1, "doc_id", "text",
      threshold = 0.5).select("doc_id").collect().map(_.getLong(0)).toSet
    val kept2 = TextDedup.dedupAgainstIndex(index, batch2, "doc_id", "text",
      threshold = 0.5).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept1 == Set(3L))
    assert(kept2 == Set(7L))
    assert(acc.value == refRows.size,
      s"reference scanned ${acc.value} row-reads for ${refRows.size} rows — " +
        "the index must materialize from ONE pass and be reused by later batches")
  }

  test("bloomScreen equals the plain anti-join at any fpp, prunes map-side, bounds the batch") {
    import spark.implicits._
    val ref = (0L until 50L)
      .map(i => s"reference corpus document number $i with its own body")
    val refDigests = ref.toDF("text").select(md5(col("text")).as("__fp")).distinct()
    val batch = Seq(
      (1L, "reference corpus document number 7 with its own body"),  // dup
      (2L, "reference corpus document number 33 with its own body"), // dup
      (3L, "a brand new arrival the reference has never seen"),
      (4L, null.asInstanceOf[String])                                // null survives
    ).toDF("doc_id", "text")

    def kept(fpp: Double): Set[Long] =
      TextDedup.bloomScreen(refDigests, batch, "text", fpp = fpp)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    // exact at a tight fpp AND at one so loose the sketch passes nearly
    // everything — false positives must die in the confirm join
    assert(kept(0.01) == Set(3L, 4L))
    assert(kept(0.9) == Set(3L, 4L))

    // the might_contain prune sits in the plan (map-side, native codegen)
    val plan = TextDedup.bloomScreen(refDigests, batch, "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), s"expected bloom prune:\n$plan")

    // fail-loud batch bound: the sketch side must stay small
    intercept[IllegalArgumentException] {
      TextDedup.bloomScreen(refDigests, batch, "text", maxBatchDigests = 1L)
    }
  }

  test("substringDedup removes exactly the cross-doc repeated span, all copies, short docs safe") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c one two three four five x"),
      (2L, "p q one two three four five y z"),
      (3L, "completely unrelated words only here now"),
      (4L, "four tokens only here") // < n, no windows, untouched
    ).toDF("doc_id", "text")
    val out = TextDedup.substringDedup(docs, "doc_id", "text", n = 5)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    // the shared 5-gram strips from BOTH docs (Lee semantics — no keeper);
    // straddling windows are unique per doc, so surrounding prose survives
    assert(out(1L) == ("a b c x", 5L))
    assert(out(2L) == ("p q y z", 5L))
    assert(out(3L) == ("completely unrelated words only here now", 0L))
    assert(out(4L) == ("four tokens only here", 0L))
    // a fully-repeated doc pair vaporizes on both sides, rows kept
    val dup = Seq(
      (1L, "same text appears twice in this corpus body"),
      (2L, "same text appears twice in this corpus body")
    ).toDF("doc_id", "text")
    val gone = TextDedup.substringDedup(dup, "doc_id", "text", n = 5)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(gone(1L) == ("", 8L) && gone(2L) == ("", 8L))
  }

  test("substringDedup fast path (graft_ngram_digests) is output-identical to the composable form") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    // edge shapes: repeated spans, multi-space (empty tokens), short docs,
    // empty text, unicode
    val docs = Seq(
      (1L, "a b c one two three four five x"),
      (2L, "p q one two three four five y z"),
      (3L, "double  space  tokens  here repeated body tail one"),
      (4L, "double  space  tokens  here repeated body tail two"),
      (5L, "tiny doc"),
      (6L, ""),
      (7L, "naïve café über one two three four five emoji 🎉 end")
    ).toDF("doc_id", "text")
    // the composable reference: substringDedup with each window digested
    // by an interpreted lambda (sequence(1, m) DESCENDS when m < 1 —
    // short docs are guarded to no windows)
    val words = split(col("text"), " ")
    val prep = docs.select(col("doc_id"),
      when(size(words) >= 5,
        transform(sequence(lit(1), size(words) - 4),
          j => md5(array_join(slice(words, j, lit(5)), " "))))
        .otherwise(array().cast("array<string>")).as("__ws"),
      col("text").as("__text"))
    val win = prep
      .select(col("doc_id"), posexplode(col("__ws")).as(Seq("__p0", "__h")))
    val hot = win.groupBy("__h").agg(countDistinct(col("doc_id")).as("__df"))
      .filter(col("__df") >= 2).select("__h")
    val starts = win.join(hot, Seq("__h"), "left_semi")
      .groupBy("doc_id").agg(collect_list(col("__p0")).as("__starts"))
    val slow = prep.join(starts, Seq("doc_id"), "left")
      .select(col("doc_id"), graft.functions.GraftFunctions.stripSpans(
        col("__text"), coalesce(col("__starts"), array().cast("array<int>")),
        5).as("__s"))
      .select(col("doc_id"), col("__s.text"), col("__s.n_removed"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val fast = TextDedup.substringDedup(docs, "doc_id", "text", n = 5)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(fast == slow)
    // and the raw digest arrays agree window-for-window
    val a = docs.select(col("doc_id"),
      graft.functions.GraftFunctions.ngramDigests(col("text"), 3).as("d"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val tk = col("text")
    val b = docs.select(col("doc_id"),
      when(size(split(tk, " ")) >= 3,
        transform(sequence(lit(1), size(split(tk, " ")) - 2),
          j => md5(array_join(slice(split(tk, " "), j, lit(3)), " "))))
        .otherwise(array().cast("array<string>")).as("d"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(a == b)
    // n=1 windows ARE the tokens — the td29 token_min_hash fast path
    val a1 = docs.select(col("doc_id"),
      graft.functions.GraftFunctions.ngramDigests(col("text"), 1).as("d"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val b1 = docs.select(col("doc_id"),
      transform(split(col("text"), " "), x => md5(x)).as("d"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(a1 == b1)
  }

  test("substringDedup's strip-spans sweep matches the relational explode/anti-join form") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    // overlapping hot spans, span at doc start, span at doc end, multi-space
    // tokens, a doc whose every token is covered, unsorted multi-hit docs
    val docs = Seq(
      (1L, "one two three four five six seven tail one two three four five"),
      (2L, "one two three four five six seven head one two three four five"),
      (3L, "double  space one two three four five  mid body"),
      (4L, "double  space one two three four five  mid body"),
      (5L, "all covered one two three four five"),
      (6L, "all covered one two three four five"),
      (7L, "nothing shared in this document at all")
    ).toDF("doc_id", "text")
    val n = 5
    // the pre-r9 relational pipeline, verbatim
    val base = docs.select(col("doc_id"), col("text").as("__text"))
      .withColumn("__tk", split(col("__text"), " "))
    val prep = base.select(col("doc_id"),
      graft.functions.GraftFunctions.ngramDigests(col("__text"), n).as("__ws"),
      col("__tk"))
    val win = prep.select(col("doc_id"),
      posexplode(col("__ws")).as(Seq("__p0", "__h")))
    val hot = win.groupBy("__h").agg(countDistinct(col("doc_id")).as("__df"))
      .filter(col("__df") >= 2).select("__h")
    val covered = win.join(hot, Seq("__h"))
      .select(col("doc_id"),
        explode(sequence(col("__p0") + 1, col("__p0") + n)).as("__p"))
      .distinct()
    val tok = prep.select(col("doc_id"),
        posexplode(col("__tk")).as(Seq("__tp0", "__token")))
      .select(col("doc_id"), (col("__tp0") + 1).as("__p"), col("__token"))
    val kept = tok.join(covered, Seq("doc_id", "__p"), "left_anti")
    val rebuilt = kept.groupBy("doc_id").agg(
      array_join(transform(
        array_sort(collect_list(struct(col("__p"), col("__token")))),
        s => s("__token")), " ").as("__newtext"),
      count(lit(1)).as("__kept"))
    val relational = prep
      .select(col("doc_id"), size(col("__tk")).cast("long").as("__ntok"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("__newtext"), lit("")).as("text"),
        (col("__ntok") - coalesce(col("__kept"), lit(0L))).as("n_removed"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val sweep = TextDedup.substringDedup(docs, "doc_id", "text", n = n)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(sweep == relational)
    // interpreted eval agrees with codegen (the NgramDigestUtil idiom both
    // paths share): unsorted starts, overlap merge, out-of-range tolerated
    val sp = java.util.regex.Pattern.compile(java.util.regex.Pattern.quote(" "))
    val row = graft.functions.StripSpansUtil.strip(
      org.apache.spark.unsafe.types.UTF8String.fromString("a b c d e f g"),
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
        Array(4, 0, 1)), 2, sp, " ")
    // starts {4,0,1}, n=2 → covered {0,1,2,4,5} → kept "d g"
    assert(row.getUTF8String(0).toString == "d g" &&
      row.getLong(1) == 5L)
    // non-space separator (the lineDedup grain): strip item 1 of 3
    val nl = java.util.regex.Pattern.compile(java.util.regex.Pattern.quote("\n"))
    val row2 = graft.functions.StripSpansUtil.strip(
      org.apache.spark.unsafe.types.UTF8String.fromString("k\ndup\nm"),
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
        Array(1)), 1, nl, "\n")
    assert(row2.getUTF8String(0).toString == "k\nm" &&
      row2.getLong(1) == 1L)
    // a null start slot is corrupt input (would silently cover [0, n-1]
    // if read as 0) — the contract is fail-loud
    val ex = intercept[IllegalArgumentException] {
      graft.functions.StripSpansUtil.strip(
        org.apache.spark.unsafe.types.UTF8String.fromString("a b c"),
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
          Array[java.lang.Integer](1, null)), 1, sp, " ")
    }
    assert(ex.getMessage.contains("null start position"))
  }

  test("simhash of identical texts is identical") {
    val sh = TextDedup.simhash(docs, "doc_id", "text", 16)
    val joined = docs.select(col("doc_id").as("id_a"), md5(col("text")).as("fp"))
      .join(docs.select(col("doc_id").as("id_b"), md5(col("text")).as("fp")), "fp")
      .filter(col("id_a") < col("id_b"))
    val withHashes = joined
      .join(sh.withColumnRenamed("doc_id", "id_a").withColumnRenamed("simhash", "sh_a"), "id_a")
      .join(sh.withColumnRenamed("doc_id", "id_b").withColumnRenamed("simhash", "sh_b"), "id_b")
    assert(withHashes.filter(col("sh_a") =!= col("sh_b")).count() == 0)
  }

  test("clusterSafeSplit: a cluster never straddles splits, singletons " +
      "hash on their own id, and the split survives corpus growth") {
    import spark.implicits._
    val corpus = (0L to 199L).map(i => (i, s"src${i % 3}"))
      .toDF("doc_id", "source")
    // clusters: {0,1,2} -> 0, {10,11} -> 10, everything else singleton
    val clusters = Seq((0L, 0L), (1L, 0L), (2L, 0L), (10L, 10L), (11L, 10L))
      .toDF("doc_id", "cluster_id")
    val out = TextDedup.clusterSafeSplit(corpus, "doc_id", clusters,
      trainPct = 0.6, valPct = 0.2)
    assert(out.count() == 200)
    // every cluster member shares its canonical's split (zero straddle)
    val perCluster = out.groupBy("split_key")
      .agg(countDistinct(col("split")).as("nsplits"))
    assert(perCluster.filter(col("nsplits") > 1).count() == 0,
      "a cluster straddled the train/eval boundary")
    assert(out.filter(col("doc_id").isin(0L, 1L, 2L))
      .select("split").distinct().count() == 1)
    // all three splits are populated at 60/20/20 over 200 units-ish
    val bySplit = out.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySplit.keySet == Set("train", "val", "test"), s"got $bySplit")
    assert(bySplit("train") > bySplit("val") &&
      bySplit("train") > bySplit("test"), s"got $bySplit")
    // growth stability: re-running over a BIGGER corpus (new singleton
    // docs) never moves an existing unit between splits — the property
    // that keeps eval sets stable across corpus refreshes
    val grown = (0L to 399L).map(i => (i, s"src${i % 3}"))
      .toDF("doc_id", "source")
    val out2 = TextDedup.clusterSafeSplit(grown, "doc_id", clusters,
      trainPct = 0.6, valPct = 0.2)
    val moved = out.select(col("doc_id"), col("split").as("s1"))
      .join(out2.select(col("doc_id"), col("split").as("s2")), "doc_id")
      .filter(col("s1") =!= col("s2"))
    assert(moved.count() == 0, "existing units moved splits on growth")
    // fail-loud on nonsense fractions
    intercept[IllegalArgumentException] {
      TextDedup.clusterSafeSplit(corpus, "doc_id", clusters, 0.9, 0.2)
    }
  }

  test("splitLeakageAudit: a near-twin straddling the boundary is the " +
      "memorization-risk class; twins kept together audit clean") {
    import spark.implicits._
    // docs 0/1 are near-twins (share almost all bigrams); 2 and 3 are
    // unrelated. Hand-assigned splits isolate the audit's semantics from
    // hash luck: split A keeps the twins together in train, split B
    // straddles them across the boundary.
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta"),
      (1L, "alpha beta gamma delta epsilon zeta eta iota"),
      (2L, "one two three four five six"),
      (3L, "seven eight nine ten eleven twelve"))
      .toDF("doc_id", "text")
    def withSplit(train: Set[Long]) = docs.withColumn("split",
      when(col("doc_id").isin(train.toSeq: _*), "train").otherwise("test"))
    // twins together in train; eval = {2, 3}, zero shared shingles
    val together = TextDedup.splitLeakageAudit(
      withSplit(Set(0L, 1L)), "doc_id", "text", "split").head
    assert(together.getAs[Long]("n_eval_docs") == 2 &&
      together.getAs[Long]("n_contaminated") == 0 &&
      together.getAs[Long]("shared_shingles") == 0,
      s"clean split must audit clean: $together")
    // twin 1 in eval while twin 0 trains: 6 of its 7 bigrams leak -> the
    // >= 50% contaminated class catches exactly it
    val straddle = TextDedup.splitLeakageAudit(
      withSplit(Set(0L, 2L)), "doc_id", "text", "split").head
    assert(straddle.getAs[Long]("n_eval_docs") == 2 &&
      straddle.getAs[Long]("n_contaminated") == 1 &&
      straddle.getAs[Long]("shared_shingles") == 6,
      s"straddling twin must be flagged: $straddle")
    // the threshold dial: at contaminatedAt = 1.0 the 6/7 twin is below
    // the bar
    val strict = TextDedup.splitLeakageAudit(
      withSplit(Set(0L, 2L)), "doc_id", "text", "split",
      contaminatedAt = 1.0).head
    assert(strict.getAs[Long]("n_contaminated") == 0, s"got $strict")
    // a NULL split value (corrupt/partial assignment) is audited as
    // EVAL, never dropped — a null-rejecting filter would exclude the
    // straddling twin from both sides and the leaky split would audit
    // clean
    val withNull = docs.withColumn("split",
      when(col("doc_id") === 0L, "train")
        .when(col("doc_id") === 2L, "train")
        .otherwise(lit(null).cast("string")))
    val nullAudit = TextDedup.splitLeakageAudit(
      withNull, "doc_id", "text", "split").head
    assert(nullAudit.getAs[Long]("n_eval_docs") == 2 &&
      nullAudit.getAs[Long]("n_contaminated") == 1,
      s"null-split docs must be audited as eval: $nullAudit")
  }

  test("property: chained mergeClusters equals the from-scratch LSH " +
      "clusters on random corpora, including cross-batch merges") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    var sawCrossBatchCluster = false
    for (_ <- 1 to 3) {
      // a 5-word pool makes identical/near-identical texts common, so
      // clusters routinely span the batch boundaries below
      val words = Vector("aa", "bb", "cc", "dd", "ee")
      val docs = (0L until 60L).map { i =>
        val n = 2 + rnd.nextInt(4)
        (i, Seq.fill(n)(words(rnd.nextInt(words.length))).mkString(" "))
      }.toDF("doc_id", "text")
      val full = TextDedup.dupClusters(
        TextDedup.minhashLshPairs(docs, "doc_id", "text",
          bands = 2, rowsPerBand = 2))
      var labels = Seq.empty[(Long, Long)].toDF("doc_id", "cluster_id")
      var store = Seq.empty[(Long, String)].toDF("doc_id", "bucket")
      for (b <- 0 until 3) {
        val batch = docs.filter(col("doc_id") >= b * 20L &&
          col("doc_id") < (b + 1) * 20L)
        val (l2, p2) = TextDedup.mergeClusters(labels, store, batch,
          "doc_id", "text", bands = 2, rowsPerBand = 2)
        labels = l2.localCheckpoint(true)
        store = store.unionByName(p2).localCheckpoint(true)
      }
      assert(labels.except(full).count() == 0 &&
        full.except(labels).count() == 0,
        "incremental labels diverged from the from-scratch clusters")
      // no singletons, canonical = component minimum (inherited contract)
      val perCluster = labels.groupBy("cluster_id")
        .agg(count(lit(1)).as("n"), min("doc_id").as("mn"))
      assert(perCluster.filter(col("n") < 2).count() == 0)
      assert(perCluster.filter(col("mn") =!= col("cluster_id")).count() == 0)
      if (labels.filter(col("cluster_id") < 20L && col("doc_id") >= 20L)
          .count() > 0) sawCrossBatchCluster = true
    }
    // the equality above is only a strong check if batches actually merge
    assert(sawCrossBatchCluster,
      "fixture never exercised a cross-batch cluster merge")
  }

  test("splitLeakageAudit: null text audits as ZERO shingles — never a " +
      "negative eval_shingles contribution (r12 advice)") {
    import spark.implicits._
    val docs = Seq(
      (0L, "alpha beta gamma delta", "train"),
      (1L, "alpha beta gamma iota", "test"),
      (2L, null.asInstanceOf[String], "test"))
      .toDF("doc_id", "text", "split")
    val row = TextDedup.splitLeakageAudit(docs, "doc_id", "text", "split").head
    // doc 1 has 3 bigrams (2 shared with train); the null-text doc 2 is
    // counted in the denominator docs but contributes 0 shingles — under
    // the raw size() it contributed -1 and skewed eval_shingles to 2
    assert(row.getAs[Long]("n_eval_docs") == 2, s"got $row")
    assert(row.getAs[Long]("eval_shingles") == 3, s"got $row")
    assert(row.getAs[Long]("shared_shingles") == 2, s"got $row")
    // and the zero-shingle doc can never be "contaminated"
    assert(row.getAs[Long]("n_contaminated") == 1, s"got $row")
  }

  test("clusterSafeSplit fails loud when docs carries a column the split " +
      "would shadow or swallow (r12 advice)") {
    import spark.implicits._
    val clusters = Seq((0L, 0L), (1L, 0L)).toDF("doc_id", "cluster_id")
    val base = (0L to 9L).map(i => (i, s"t$i")).toDF("doc_id", "text")
    // a pre-existing split/split_key would be shadowed by withColumn —
    // loud failure naming the column
    for (c <- Seq("split", "split_key")) {
      val ex = intercept[IllegalArgumentException] {
        TextDedup.clusterSafeSplit(base.withColumn(c, lit(42L)),
          "doc_id", clusters, trainPct = 0.6, valPct = 0.2)
      }
      assert(ex.getMessage.contains(c), s"expected loud failure naming $c")
    }
    // a pre-existing cluster_id used to be silently SWALLOWED by the
    // trailing drop-by-name (drop removes every match); the cluster
    // frame's column now rides an internal alias, so caller data survives
    val withCid = TextDedup.clusterSafeSplit(
      base.withColumn("cluster_id", lit(42L)),
      "doc_id", clusters, trainPct = 0.6, valPct = 0.2)
    assert(withCid.columns.count(_ == "cluster_id") == 1 &&
      withCid.filter(col("cluster_id") =!= 42L).count() == 0,
      "caller's cluster_id column must pass through untouched")
    // and the collision-free caller is untouched: the output still has
    // exactly docs' columns + (split_key, split)
    val out = TextDedup.clusterSafeSplit(base, "doc_id", clusters, 0.6, 0.2)
    assert(out.columns.toSeq == Seq("doc_id", "text", "split_key", "split"))
  }
}

object TextDedupSpec {

  /** Survivor ids of the hand-wired near-dedup chain — dd33-style
    * candidates, dd31's scorer on ONLY those pairs, dd36 clustering, dd38
    * apply: the sequence [[TextDedup.nearDedupPipeline]] composes.
    */
  def handWired(corpus: DataFrame, bands: Int, rowsPerBand: Int,
      threshold: Double, maxBucketSize: Long = 0L): Set[Long] = {
    val cand = TextDedup.minhashLshPairs(corpus, "doc_id", "text",
      bands = bands, rowsPerBand = rowsPerBand, maxBucketSize = maxBucketSize)
    val sh = corpus.select(col("doc_id"),
      graft.functions.GraftFunctions.shingles(col("text")).as("sh"))
    val verified = cand
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("common", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("u", size(col("sh_a")) + size(col("sh_b")) - col("common"))
      .filter(col("u") > 0 &&
        round(col("common").cast("double") / col("u"), 6) >= threshold)
      .select("doc_a", "doc_b")
    val clusters = TextDedup.dupClusters(verified)
    TextDedup.applyDedup(corpus, "doc_id", clusters)
      .select("doc_id").collect().map(_.getLong(0)).toSet
  }
}
