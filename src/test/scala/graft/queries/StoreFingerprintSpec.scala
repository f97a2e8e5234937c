package graft.queries

import java.nio.file.{Files, StandardCopyOption}
import java.nio.file.attribute.FileTime
import org.scalatest.funsuite.AnyFunSuite
import graft.TempDirs

/** The dd56 store-stamp fingerprint (r14 verdict #2): renaming a
  * partition subdirectory with byte-identical children must change the
  * stamp — the store would otherwise serve clusters computed under the
  * old layout after a layout-only regeneration.
  */
class StoreFingerprintSpec extends AnyFunSuite with TempDirs {

  private def fixture(): java.nio.file.Path = {
    val root = tempDir("graft_fp_spec")
    val sub = Files.createDirectories(root.resolve("key=a"))
    val f = sub.resolve("part-000.parquet")
    Files.writeString(f, "payload")
    // pin mtimes so only the structural change under test moves the stamp
    Files.setLastModifiedTime(f, FileTime.fromMillis(1700000000000L))
    root
  }

  test("renaming a subdirectory with identical children changes the " +
      "fingerprint (store invalidated)") {
    val root = fixture()
    val before = Dedup.storeFingerprint(root)
    Files.move(root.resolve("key=a"), root.resolve("key=b"),
      StandardCopyOption.ATOMIC_MOVE)
    // re-pin the child mtime (the move itself must not be what differs)
    Files.setLastModifiedTime(root.resolve("key=b/part-000.parquet"),
      FileTime.fromMillis(1700000000000L))
    val after = Dedup.storeFingerprint(root)
    assert(before != after,
      s"rename key=a -> key=b left the stamp unchanged: $before")
  }

  test("a leaf moved between identically-shaped subdirectories changes " +
      "the fingerprint; a content (size) change under a pinned mtime " +
      "still invalidates") {
    val root = fixture()
    val other = Files.createDirectories(root.resolve("key=z"))
    Files.writeString(other.resolve("part-001.parquet"), "other")
    Files.setLastModifiedTime(other.resolve("part-001.parquet"),
      FileTime.fromMillis(1700000000000L))
    val before = Dedup.storeFingerprint(root)
    // moving a leaf into a sibling subdir (path change, byte-identical
    // file set overall) must move the stamp — the directory-qualified
    // encoding sees which directory owns which leaf
    Files.move(root.resolve("key=a/part-000.parquet"),
      root.resolve("key=z/part-000.parquet"))
    Files.setLastModifiedTime(root.resolve("key=z/part-000.parquet"),
      FileTime.fromMillis(1700000000000L))
    val moved = Dedup.storeFingerprint(root)
    assert(moved != before, "leaf move between subdirs left the stamp unchanged")
    // content change under an unchanged name+path+mtime: size → stamp
    Files.writeString(root.resolve("key=z/part-000.parquet"),
      "payload-grown")
    Files.setLastModifiedTime(root.resolve("key=z/part-000.parquet"),
      FileTime.fromMillis(1700000000000L))
    assert(Dedup.storeFingerprint(root) != moved,
      "content (size) change under a pinned mtime left the stamp unchanged")
  }
}
