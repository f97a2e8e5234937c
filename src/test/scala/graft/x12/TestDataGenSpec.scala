package graft.x12

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.TempDirs

/** Corpus-reuse contract: writeCorpus is idempotent per (dir, seed, n,
  * generator version) via a manifest file — NOT per file count alone. A
  * same-sized corpus from a different seed or an older generator must
  * regenerate, or golden pins would silently run against stale data.
  */
class TestDataGenSpec extends AnyFunSuite with TempDirs {

  test("corpus reuse is manifest-keyed: same key reuses, wrong key regenerates") {
    val dir = tempDir("x12gen").toString
    val probe = Paths.get(dir, "test_x12_837_000.x12")
    X12TestDataGen.writeCorpus(dir, 9, seed = 3L)
    val original = Files.readString(probe)
    val mtime = Files.getLastModifiedTime(probe)

    // same (seed, n, version): reused, not rewritten
    X12TestDataGen.writeCorpus(dir, 9, seed = 3L)
    assert(Files.getLastModifiedTime(probe) == mtime, "matching manifest must reuse")

    // different seed, same file count: must regenerate with new content
    X12TestDataGen.writeCorpus(dir, 9, seed = 4L)
    assert(Files.readString(probe) != original,
      "same-sized corpus from another seed must regenerate")

    // tampered manifest: regenerates back to the requested seed's content
    Files.writeString(Paths.get(dir, "_corpus_manifest.txt"), "seed=999 n=9 version=0")
    X12TestDataGen.writeCorpus(dir, 9, seed = 3L)
    assert(Files.readString(probe) == original,
      "wrong manifest must trigger regeneration, deterministically")
  }
}
