package graft.streaming

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Durable mergeable-state store for `foreachBatch` model maintenance.
  *
  * A `localCheckpoint`-held state frame survives micro-batches but not
  * a query restart — the checkpoint recovers source offsets while the
  * accumulated model silently restarts empty. This store versions the
  * state frames on disk, keyed by the batch id Spark hands
  * `foreachBatch`. A maintenance loop calls [[fold]] once per trigger
  * and reads the result back with [[newest]]. The fold's contract:
  *
  *  - batch `b` MERGES with the newest committed version with id
  *    STRICTLY below `b` ([[latestBefore]]), never its own, and
  *    overwrites `v<b>`. `foreachBatch` is at-least-once: after an
  *    unclean stop the last batch can replay with the same id, and
  *    because the replay re-reads the same prior version and recomputes
  *    the same deterministic merge, the overwrite converges instead of
  *    double-counting;
  *  - it then prunes with keep = 2 — keep must be >= 2, or the prune
  *    evicts the version a replaying batch merges from ([[prune]]);
  *  - a version is visible only after its `_COMMIT` marker, written
  *    after every part frame has fully landed — a crash mid-write
  *    leaves an uncommitted dir the next attempt overwrites.
  *
  * At 100 TB the state frames here are MODEL-sized (vocabulary censuses,
  * label stats — the mergeable-partials contract), so a version write is
  * a model-sized parquet job per trigger, not a data copy.
  */
object DurableState {

  private def versionDir(root: String, v: Long): Path =
    Paths.get(root).resolve(f"v$v%09d")

  /** Newest committed version with id strictly below `beforeBatch`
    * (None before the first commit).
    */
  def latestBefore(root: String, beforeBatch: Long): Option[Long] = {
    val d = Paths.get(root)
    if (!Files.isDirectory(d)) return None
    // v\d{9,}: versionDir's %09d is a MINIMUM width — batch ids >= 1e9
    // format with 10+ digits, and an anchored 9-digit match would make
    // such versions invisible here (state silently regressing to an old
    // version) and immune to prune (r10 advice)
    val vs = d.toFile.listFiles().toSeq
      .filter(f => f.isDirectory && f.getName.matches("v\\d{9,}") &&
        Files.exists(f.toPath.resolve("_COMMIT")))
      .map(_.getName.drop(1).toLong)
      .filter(_ < beforeBatch)
    if (vs.isEmpty) None else Some(vs.max)
  }

  def read(s: SparkSession, root: String, v: Long, part: String): DataFrame =
    s.read.parquet(versionDir(root, v).resolve(part).toString)

  /** One replay-idempotent maintenance step for `batchId`: `step` gets the
    * parts of the newest committed version strictly below `batchId` (None
    * before the first commit) and returns the merged parts, which commit
    * as `v<batchId>`; then [[prune]] with keep = 2. Call it from the
    * single-writer `foreachBatch` that owns `root`.
    */
  def fold(s: SparkSession, root: String, batchId: Long)(
      step: Option[String => DataFrame] => Seq[(String, DataFrame)]): Unit = {
    val prior = latestBefore(root, batchId)
      .map(v => (part: String) => read(s, root, v, part))
    commit(root, batchId, step(prior))
    prune(root, keep = 2)
  }

  /** The parts of the newest committed version; fails loudly when nothing
    * under `root` has committed yet.
    */
  def newest(s: SparkSession, root: String): String => DataFrame = {
    val v = latestBefore(root, Long.MaxValue)
      .getOrElse(sys.error(s"no committed state under $root"))
    part => read(s, root, v, part)
  }

  /** Write every part frame under `v<batchId>`, then commit atomically
    * enough for the single-writer foreachBatch contract (the marker is
    * the last write).
    */
  def commit(root: String, batchId: Long,
      parts: Seq[(String, DataFrame)]): Unit = {
    val d = versionDir(root, batchId)
    Files.createDirectories(d)
    Files.deleteIfExists(d.resolve("_COMMIT"))
    parts.foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(d.resolve(name).toString)
    }
    Files.writeString(d.resolve("_COMMIT"), "")
  }

  /** Retention: keep the newest `keep` COMMITTED versions, delete every
    * older version dir (committed or crash-orphaned). Without this a
    * long-running maintenance query accumulates one model-sized version
    * per trigger forever. Call from the same single-writer foreachBatch
    * that commits — right after [[commit]] — so no concurrent write can
    * be pruned.
    *
    * KEEP-FLOOR CONTRACT (r11 verdict #5, spec-cut in
    * StreamingRecoverySpec): when prune runs with batch `b` as the
    * newest committed version, the floor is the `keep`-th newest
    * committed id — with `keep >= 2` that floor is at most `b − 1`, so
    * `latestBefore(b)` survives ANY replay Spark can issue. foreachBatch
    * replays at most the single newest batch id after an unclean stop
    * (the one whose checkpoint commit never landed; everything below it
    * is checkpoint-committed and never re-fires), and that replay merges
    * from `latestBefore(b) = v(b−1)` — which the commit-then-prune done
    * inside batch `b` itself provably kept. Hence the `keep >= 2`
    * require below: `keep = 1` would evict the replay's merge source in
    * exactly the crash window that needs it.
    */
  def prune(root: String, keep: Int): Unit = {
    require(keep >= 2,
      s"keep must be >= 2 (a replaying batch reads the previous version), got $keep")
    val d = Paths.get(root)
    if (!Files.isDirectory(d)) return
    val versioned = d.toFile.listFiles().toSeq
      .filter(f => f.isDirectory && f.getName.matches("v\\d{9,}"))
    val committed = versioned
      .filter(f => Files.exists(f.toPath.resolve("_COMMIT")))
      .map(_.getName.drop(1).toLong).sorted
    if (committed.size <= keep) return
    val floor = committed.takeRight(keep).head
    versioned.filter(_.getName.drop(1).toLong < floor).foreach { f =>
      def rm(p: java.io.File): Unit = {
        Option(p.listFiles()).foreach(_.foreach(rm))
        p.delete(); ()
      }
      rm(f)
    }
  }
}
