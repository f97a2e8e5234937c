package graft.streaming

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkTestBase, TempDirs}

/** The append-mode sink's compaction commit protocol: a crash at ANY
  * point of `compact` must never lose rows or double-count them, and
  * `gc` must converge when re-run (st68 exercises the happy lifecycle
  * end-to-end against the td49 oracle twin; these cases cut the crash
  * windows open by hand).
  */
class PostingsStoreSpec extends AnyFunSuite with SparkTestBase with TempDirs {

  import spark.implicits._

  private def freshStore(n: Int): String = {
    val root = tempDir("graft_pstore_spec").toString
    (0 until n).foreach { b =>
      PostingsStore.write(
        Seq((b.toLong, s"tok$b", 1L)).toDF("doc_id", "token", "tf"),
        root, b.toLong)
    }
    root
  }

  test("cell-partitioned batches: a touched-cell read prunes untouched " +
      "partitions at the FILE level (st69's corpus layout)") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.execution.FileSourceScanExec
    val root = tempDir("graft_pstore_cells").toString
    (0 until 2).foreach { b =>
      PostingsStore.write(
        (0 until 40).map(i => ((b * 100 + i).toLong, (i % 4).toLong, i.toDouble))
          .toDF("vec_id", "cell_id", "x"),
        root, b.toLong, partitionColumns = Seq("cell_id"))
    }
    def diskFiles(pred: String => Boolean): Int =
      Files.walk(Paths.get(root)).toArray.map(_.toString)
        .count(p => p.endsWith(".parquet") && pred(p))
    val totalFiles = diskFiles(_ => true)
    val touchedFiles = diskFiles(p =>
      p.contains("cell_id=1/") || p.contains("cell_id=3/"))
    assert(touchedFiles > 0 && touchedFiles < totalFiles)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      // sibling batch_id= dirs need the store root as basePath (Spark
      // otherwise rejects them as conflicting partition roots); the
      // listing still covers ONLY the given live paths
      val read = spark.read.option("basePath", root)
        .parquet(PostingsStore.livePaths(root): _*)
        .withColumn("cell_id", col("cell_id").cast("long"))
        .filter(col("cell_id").isin(1L, 3L))
      val rows = read.collect()
      assert(rows.length == 40 &&
        rows.forall(r => Set(1L, 3L)(r.getAs[Long]("cell_id"))))
      // the scan must LIST only the touched cells' directories — the
      // partition filter cuts files before any opens, which is what makes
      // st69's per-trigger IO proportional to touched cells, not corpus
      val scanned = read.queryExecution.executedPlan
        .collect { case f: FileSourceScanExec => f.metrics("numFiles").value }
      assert(scanned.nonEmpty && scanned.sum == touchedFiles,
        s"scan read ${scanned.sum} files; the touched cells hold " +
          s"$touchedFiles of $totalFiles")

      // a tiered fold with partitionColumns PRESERVES the layout (r12):
      // add a third batch, fold the two smallest keeping cell_id=, and
      // the touched-cell read over {segment, remaining batch} must still
      // prune at the FILE level — a layout-losing fold would read every
      // file of the segment
      PostingsStore.write(
        (0 until 20).map(i => ((300 + i).toLong, (i % 4).toLong, i.toDouble))
          .toDF("vec_id", "cell_id", "x"),
        root, 2L, partitionColumns = Seq("cell_id"))
      val ev = PostingsStore.compact(spark, root, mergeWidth = 2,
        partitionColumns = Seq("cell_id"))
        .getOrElse(fail("3 live partitions at width 2 must fold"))
      assert(ev.folded.size == 2)
      val live = PostingsStore.livePaths(root)
      assert(live.size == 2 && live.count(_.contains("batch_id=-")) == 1)
      val segTouched = diskFiles(p =>
        p.contains("cell_id=1/") || p.contains("cell_id=3/"))
      val segTotal = diskFiles(_ => true)
      assert(segTouched < segTotal, "the fold must keep cell_id= dirs")
      val read2 = spark.read.option("basePath", root).parquet(live: _*)
        .withColumn("cell_id", col("cell_id").cast("long"))
        .filter(col("cell_id").isin(1L, 3L))
      // collect through read2's OWN query execution so its scan metrics
      // populate (count() would plan a separate execution)
      assert(read2.collect().length == 50) // 2x20 original + 10 of batch 2
      val scanned2 = read2.queryExecution.executedPlan
        .collect { case f: FileSourceScanExec => f.metrics("numFiles").value }
      assert(scanned2.nonEmpty && scanned2.sum == segTouched,
        s"post-fold scan read ${scanned2.sum} files; the touched cells " +
          s"hold $segTouched of $segTotal")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("compact validates partitionColumns against the fold sources' " +
      "actual dir layout — fail loud, never silently inline (r12 advice)") {
    val root = tempDir("graft_pstore_layoutval").toString
    (0 until 2).foreach { b =>
      PostingsStore.write(
        (0 until 8).map(i => ((b * 10 + i).toLong, (i % 2).toLong, i.toDouble))
          .toDF("vec_id", "cell_id", "x"),
        root, b.toLong, partitionColumns = Seq("cell_id"))
    }
    // omitting the columns on a sub-partitioned store would inline
    // cell_id= into the segment's rows and downgrade every later
    // touched-cell read to a full scan — the hazard is now enforced
    val exOmit = intercept[IllegalArgumentException] {
      PostingsStore.compact(spark, root)
    }
    assert(exOmit.getMessage.contains("cell_id"), exOmit.getMessage)
    // wrong names fail the same check, naming both sides
    val exWrong = intercept[IllegalArgumentException] {
      PostingsStore.compact(spark, root, mergeWidth = 2,
        partitionColumns = Seq("vec_id"))
    }
    assert(exWrong.getMessage.contains("cell_id") &&
      exWrong.getMessage.contains("vec_id"), exWrong.getMessage)
    // the store is untouched by the rejected folds: both writers live,
    // no segment dir committed or leaked
    assert(PostingsStore.livePaths(root).size == 2)
    // and the correctly-named fold still proceeds
    val ev = PostingsStore.compact(spark, root,
      partitionColumns = Seq("cell_id"))
      .getOrElse(fail("the matching fold must proceed"))
    assert(ev.folded.size == 2)
  }

  test("a non-uniform partition layout under a fold source fails loud — " +
      "every '='-branch is validated, not just the first (r13 advice)") {
    val root = tempDir("graft_pstore_mixed").toString
    (0 until 2).foreach { b =>
      PostingsStore.write(
        (0 until 8).map(i => ((b * 10 + i).toLong, (i % 2).toLong, i.toDouble))
          .toDF("vec_id", "cell_id", "x"),
        root, b.toLong, partitionColumns = Seq("cell_id"))
    }
    // corrupt ONE sibling branch — a mixed writer / partial copy that
    // encoded a different partition column; the r13 first-branch descent
    // passed this whenever listing order served cell_id= first
    val bdir = Paths.get(root, "batch_id=0")
    Files.move(bdir.resolve("cell_id=1"), bdir.resolve("bucket=1"))
    val ex = intercept[IllegalArgumentException] {
      PostingsStore.compact(spark, root, partitionColumns = Seq("cell_id"))
    }
    assert(ex.getMessage.contains("non-uniform") &&
      ex.getMessage.contains("bucket") && ex.getMessage.contains("cell_id"),
      ex.getMessage)
    // nothing was folded or consumed by the rejected compaction
    assert(PostingsStore.livePaths(root).size == 2)
  }

  test("readBatch/batchBytes resolve one writer batch through the store " +
      "layout and fail loud on a missing id (r13 verdict #5)") {
    val root = tempDir("graft_pstore_readbatch").toString
    PostingsStore.write(
      Seq((1L, "a", 1L), (2L, "b", 2L)).toDF("doc_id", "token", "tf"),
      root, 3L)
    assert(PostingsStore.readBatch(spark, root, 3L).count() == 2)
    assert(PostingsStore.batchBytes(root, 3L) > 0L)
    val ex = intercept[RuntimeException] {
      PostingsStore.readBatch(spark, root, 4L)
    }
    assert(ex.getMessage.contains("no batch_id=4"), ex.getMessage)
  }

  test("a writer batch COMMITTED between the compactor's snapshot and " +
      "its _SOURCES commit stays live — reads exactly-once throughout") {
    val root = freshStore(3)
    val before = PostingsStore.read(spark, root).orderBy("doc_id")
      .collect().toSeq
    PostingsStore.compact(spark, root, betweenSnapshotAndCommit = () => {
      // the concurrent writer lands batch 3 INSIDE the compactor's
      // snapshot->commit window — the live-interleaving the scaladoc
      // contract claims is safe
      PostingsStore.write(Seq((3L, "tok3", 1L)).toDF("doc_id", "token", "tf"),
        root, 3L)
      // mid-window read: the segment is uncommitted (no _SOURCES yet),
      // every source still live -> old rows exactly once + the new batch
      assert(PostingsStore.read(spark, root).count() == before.size + 1,
        "mid-compaction read lost or double-counted rows")
    })
    // the interleaved batch was absent from the snapshot, so absent from
    // the manifest: it stays live NEXT TO the committed segment
    val live = PostingsStore.livePaths(root)
    assert(live.size == 2 && live.count(_.contains("batch_id=-")) == 1,
      s"interleaved batch must stay live next to the segment: $live")
    val after = PostingsStore.read(spark, root).orderBy("doc_id")
      .collect().toSeq
    assert(after.size == before.size + 1 &&
      after.map(_.getLong(0)).toSet ==
        (before.map(_.getLong(0)).toSet + 3L),
      "post-compaction read must be old rows exactly once + the batch")
    // the next maintenance pass folds the straggler too
    PostingsStore.compact(spark, root)
    assert(PostingsStore.livePaths(root).size == 1 &&
      PostingsStore.read(spark, root).count() == before.size + 1)
  }

  test("compact(beforeBatch) leaves the in-flight batch a writer " +
      "partition; its replay converges (the maintenance-loop bound)") {
    val root = freshStore(4) // ids 0..3; 3 = the not-yet-committed batch
    PostingsStore.compact(spark, root, beforeBatch = 3L)
    val live = PostingsStore.livePaths(root)
    assert(live.size == 2 && live.exists(_.endsWith("batch_id=3")) &&
      live.count(_.contains("batch_id=-")) == 1,
      s"ids >= beforeBatch must not be consumed: $live")
    // the in-flight batch replays after a crash: same id, overwrite —
    // converges instead of double-counting (it was never in a manifest)
    PostingsStore.write(Seq((3L, "tok3b", 1L)).toDF("doc_id", "token", "tf"),
      root, 3L)
    assert(PostingsStore.read(spark, root).count() == 4)
  }

  test("compact folds the live set into one negative-id segment, " +
      "row-identical, and gc removes the sources") {
    val root = freshStore(3)
    val before = PostingsStore.read(spark, root).orderBy("doc_id").collect().toSeq
    PostingsStore.compact(spark, root)
    val live = PostingsStore.livePaths(root)
    assert(live.size == 1 && live.head.contains("batch_id=-"), live)
    assert(PostingsStore.read(spark, root).orderBy("doc_id")
      .collect().toSeq == before)
    // the consumed writer partitions are gone from disk
    assert(!Files.exists(Paths.get(root).resolve("batch_id=0")))
    // compacting a single-partition store is a no-op
    PostingsStore.compact(spark, root)
    assert(PostingsStore.livePaths(root) == live)
  }

  test("a crash BEFORE the _SOURCES manifest leaves the segment " +
      "invisible; gc sweeps the remnant") {
    val root = freshStore(2)
    val before = PostingsStore.read(spark, root).count()
    // simulate: segment parquet fully written (_SUCCESS present) but the
    // manifest — the commit — never landed
    Seq((9L, "ghost", 1L)).toDF("doc_id", "token", "tf")
      .write.parquet(s"$root/batch_id=-7")
    assert(PostingsStore.read(spark, root).count() == before,
      "an uncommitted segment must be invisible to reads")
    assert(PostingsStore.livePaths(root).size == 2)
    PostingsStore.gc(root)
    assert(!Files.exists(Paths.get(root).resolve("batch_id=-7")),
      "gc must sweep the crashed segment remnant")
    assert(PostingsStore.read(spark, root).count() == before)
  }

  test("a crash AFTER segment commit but BEFORE source gc never " +
      "double-counts; gc converges") {
    val root = freshStore(3)
    val before = PostingsStore.read(spark, root).orderBy("doc_id").collect().toSeq
    // commit a segment by hand (parquet + manifest) and CRASH before gc:
    // both the segment and its sources are on disk
    val all = PostingsStore.read(spark, root)
    all.write.parquet(s"$root/batch_id=-4")
    Files.write(Paths.get(root).resolve("batch_id=-4").resolve("_SOURCES"),
      "batch_id=0\nbatch_id=1\nbatch_id=2\n".getBytes("UTF-8"))
    assert(Files.exists(Paths.get(root).resolve("batch_id=0")))
    assert(PostingsStore.read(spark, root).orderBy("doc_id")
      .collect().toSeq == before,
      "segment + not-yet-gc'd sources must not double-count")
    PostingsStore.gc(root)
    assert(!Files.exists(Paths.get(root).resolve("batch_id=1")))
    assert(PostingsStore.read(spark, root).orderBy("doc_id")
      .collect().toSeq == before)
    PostingsStore.gc(root) // idempotent
    assert(PostingsStore.read(spark, root).orderBy("doc_id")
      .collect().toSeq == before)
  }

  // --- size-tiered compaction (r11 verdict #1) --------------------------

  // the REAL compaction cost unit, not a drifting copy
  private def dirBytes(path: String): Long =
    PostingsStore.dirBytes(Paths.get(path))

  test("tiered compact folds exactly the mergeWidth SMALLEST live " +
      "partitions; no-op below the width") {
    val root = tempDir("graft_pstore_tier").toString
    // batch 0 is deliberately FAT (it must never be in a 2-wide tier
    // while thinner partitions exist)
    PostingsStore.write(
      (0 until 400).map(i => (i.toLong, s"t$i", 1L))
        .toDF("doc_id", "token", "tf"), root, 0L)
    PostingsStore.write(Seq((1000L, "a", 1L)).toDF("doc_id", "token", "tf"),
      root, 1L)
    // two live partitions below a width-3 tier -> no-op, nothing folded
    assert(PostingsStore.compact(spark, root, mergeWidth = 3).isEmpty)
    assert(PostingsStore.livePaths(root).size == 2)
    PostingsStore.write(Seq((1001L, "b", 1L)).toDF("doc_id", "token", "tf"),
      root, 2L)
    val sizes = PostingsStore.livePaths(root).map(p => p -> dirBytes(p)).toMap
    val ev = PostingsStore.compact(spark, root, mergeWidth = 2)
      .getOrElse(fail("3 live partitions at width 2 must fold"))
    // the tier is the two thin batches — independently recomputed sizes
    // agree with the evidence, and the fat batch 0 was not touched
    val expected = sizes.toSeq.sortBy { case (p, b) => (b, p) }.take(2)
    assert(ev.folded.sorted == expected.map(_._1).sorted)
    assert(ev.foldedBytes == expected.map(_._2).sum)
    assert(ev.liveCount == 3 && ev.foldedBytes < ev.liveBytes)
    val live = PostingsStore.livePaths(root)
    assert(live.exists(_.endsWith("batch_id=0")),
      "the fat partition must survive a tiered fold untouched")
    assert(live.size == 2 && PostingsStore.read(spark, root).count() == 402)
  }

  test("a 16-batch tiered drain: every fold reads its tier (never the " +
      "live total), cumulative volume is O(N log N), live count bounded") {
    val root = tempDir("graft_pstore_drain").toString
    val w = 4
    val evs = scala.collection.mutable.ArrayBuffer.empty[PostingsStore.Compaction]
    var written = 0L
    (0 until 16).foreach { b =>
      PostingsStore.write(
        (0 until 50).map(i => ((b * 100 + i).toLong, s"tok$i", 1L))
          .toDF("doc_id", "token", "tf"), root, b.toLong)
      written += dirBytes(s"$root/batch_id=$b")
      // the st66 loop shape: every 2nd batch, fold one tier bounded by
      // the in-flight id
      if (b > 0 && b % 2 == 0) {
        PostingsStore.compact(spark, root, beforeBatch = b.toLong,
          mergeWidth = w).foreach { ev =>
          // tier-proportional: the fold read never approaches the live
          // total once the index outgrows one tier
          assert(ev.folded.size == w)
          assert(ev.liveCount <= w || ev.foldedBytes < ev.liveBytes,
            s"fold read the whole live set: $ev")
          evs += ev
        }
      }
      val liveN = PostingsStore.livePaths(root).size
      assert(liveN <= w + 2,
        s"live partition count $liveN escaped the mergeWidth+compactEvery " +
          s"bound after batch $b")
    }
    assert(PostingsStore.read(spark, root).count() == 16L * 50)
    assert(evs.nonEmpty)
    // O(N log N): cumulative fold read volume across the whole drain
    // stays within ceil(log_4 16) = 2x the data written (a full-fold
    // policy at the same cadence pays ~4.4x here and grows with N)
    val foldTotal = evs.map(_.foldedBytes).sum
    assert(foldTotal < 2L * written,
      s"tiered drain re-read $foldTotal bytes for $written written")
  }

  test("a crash before a TIERED fold's _SOURCES leaves every partition " +
      "live; after it, reads exclude exactly the tier (non-tier intact)") {
    val root = freshStore(5)
    val before = PostingsStore.read(spark, root).orderBy("doc_id")
      .collect().toSeq
    // crash window A: tier segment parquet landed, manifest did not
    val tier = PostingsStore.livePaths(root).take(3)
    spark.read.parquet(tier: _*).write.parquet(s"$root/batch_id=-9")
    assert(PostingsStore.read(spark, root).orderBy("doc_id")
      .collect().toSeq == before,
      "an uncommitted tier segment must be invisible")
    PostingsStore.gc(root)
    assert(!Files.exists(Paths.get(root).resolve("batch_id=-9")))
    // crash window B: manifest committed, gc not yet run — the tier is
    // excluded (exactly-once), the non-tier partitions stay live
    spark.read.parquet(tier: _*).write.parquet(s"$root/batch_id=-10")
    Files.write(Paths.get(root).resolve("batch_id=-10").resolve("_SOURCES"),
      tier.map(p => Paths.get(p).getFileName.toString)
        .mkString("", "\n", "\n").getBytes("UTF-8"))
    assert(PostingsStore.read(spark, root).orderBy("doc_id")
      .collect().toSeq == before,
      "a committed tier fold must read exactly-once pre-gc")
    val live = PostingsStore.livePaths(root)
    assert(live.count(_.contains("batch_id=-")) == 1 && live.size == 3,
      s"non-tier partitions must stay live next to the tier segment: $live")
    PostingsStore.gc(root)
    assert(PostingsStore.read(spark, root).orderBy("doc_id")
      .collect().toSeq == before)
  }

  test("gc deletes a consumed segment only AFTER the dirs its manifest " +
      "names — a crash between any two deletions stays exactly-once") {
    // tiered folds make segment-consuming-segment chains routine: build
    // S1 <- {b0,b1} (gc CRASHED: S1's sources still on disk) then fold
    // S2 <- {S1, b2}. If gc removed S1 before b0/b1, a crash in between
    // would resurrect them (S1's manifest was their only exclusion) and
    // double-count against S2.
    val root = freshStore(3)
    val before = PostingsStore.read(spark, root).orderBy("doc_id")
      .collect().toSeq
    val s1Input = Seq(s"$root/batch_id=0", s"$root/batch_id=1")
    spark.read.parquet(s1Input: _*).write.parquet(s"$root/batch_id=-1")
    Files.write(Paths.get(root).resolve("batch_id=-1").resolve("_SOURCES"),
      "batch_id=0\nbatch_id=1\n".getBytes("UTF-8"))
    // S2 folds {S1, b2} — compact's own gc is what we're testing, so
    // commit S2 by hand too
    spark.read.parquet(s"$root/batch_id=-1", s"$root/batch_id=2")
      .write.parquet(s"$root/batch_id=-2")
    Files.write(Paths.get(root).resolve("batch_id=-2").resolve("_SOURCES"),
      "batch_id=-1\nbatch_id=2\n".getBytes("UTF-8"))
    assert(PostingsStore.read(spark, root).orderBy("doc_id")
      .collect().toSeq == before)
    // drive gc one deletion at a time: every run deletes exactly the
    // next victim in gc's order and CRASHES (exception); after every
    // such partial prefix the store must read exactly-once, and the
    // re-run must converge
    val deleted = scala.collection.mutable.ArrayBuffer.empty[String]
    var done = false
    while (!done) {
      try {
        PostingsStore.gc(root, afterDelete = name => {
          deleted += name
          throw new RuntimeException("injected gc crash")
        })
        done = true // no victims left: gc converged
      } catch {
        case e: RuntimeException if e.getMessage == "injected gc crash" =>
          assert(PostingsStore.read(spark, root).orderBy("doc_id")
            .collect().toSeq == before,
            s"rows lost/duplicated after gc crash (deleted: $deleted)")
      }
    }
    // the topological order: writer partitions strictly before the
    // segments that name them, S1 (older) before S2's manifest is gone...
    // S1 must come after b0/b1 which its manifest names
    val s1Pos = deleted.indexOf("batch_id=-1")
    assert(s1Pos > deleted.indexOf("batch_id=0") &&
      s1Pos > deleted.indexOf("batch_id=1"),
      s"gc deleted S1 before its named sources: $deleted")
    assert(PostingsStore.read(spark, root).orderBy("doc_id")
      .collect().toSeq == before)
    assert(PostingsStore.livePaths(root) == Seq(s"$root/batch_id=-2"))
  }

  test("a second compaction consumes the first segment plus newer " +
      "writer batches") {
    val root = freshStore(2)
    PostingsStore.compact(spark, root)
    PostingsStore.write(Seq((5L, "tok5", 1L)).toDF("doc_id", "token", "tf"),
      root, 5L)
    val before = PostingsStore.read(spark, root).orderBy("doc_id").collect().toSeq
    PostingsStore.compact(spark, root)
    val live = PostingsStore.livePaths(root)
    assert(live.size == 1 && live.head.contains("batch_id=-"), live)
    assert(PostingsStore.read(spark, root).orderBy("doc_id")
      .collect().toSeq == before)
  }
}
