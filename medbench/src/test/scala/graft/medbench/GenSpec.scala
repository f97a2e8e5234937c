package graft.medbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.x12.X12Parser

class GenSpec extends AnyFunSuite {

  private def contents(dir: Path): Map[String, String] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(p => p.getFileName.toString -> Files.readString(p)).toMap
    finally s.close()
  }

  private def tmp(): Path = Files.createTempDirectory("medbench-gen")

  test("a fixed seed writes the same landing files; another seed does not") {
    val (a, b, c) = (tmp(), tmp(), tmp())
    val ga = Gen.bulkBatch(a, 7L, "d1", nFiles = 3, txPerFile = 20)
    val gb = Gen.bulkBatch(b, 7L, "d1", nFiles = 3, txPerFile = 20)
    Gen.bulkBatch(c, 8L, "d1", nFiles = 3, txPerFile = 20)
    assert(ga == gb && contents(a) == contents(b))
    assert(contents(a) != contents(c))
    val (d, e) = (tmp(), tmp())
    assert(Gen.dailyBatch(d, 3L, "d2", 20, 2) == Gen.dailyBatch(e, 3L, "d2", 20, 2))
    assert(contents(d) == contents(e))
  }

  test("bulk files are one envelope and the parser finds every spliced set") {
    val dir = tmp()
    val g = Gen.bulkBatch(dir, 11L, "d1", nFiles = 2, txPerFile = 30)
    assert(g == Gen.Batch(2, 60L))
    contents(dir).values.foreach { content =>
      assert(content.split('~').count(_.startsWith("ISA*")) == 1)
      val (_, _, txs) = X12Parser.parseFile(content)
      assert(txs.length == 30)
    }
  }

  test("daily batches carry the batch prefix and count every transaction") {
    val dir = tmp()
    val g = Gen.dailyBatch(dir, 5L, "day9", nFiles = 18, nPairs = 2)
    val files = contents(dir)
    assert(files.size == g.files && files.keys.forall(_.startsWith("day9_")))
    val parsed = files.values.map(c => X12Parser.parseFile(c)._3.length).sum
    assert(parsed == g.tx)
  }

  test("documents are reproducible and variants are near, not exact, copies") {
    val d1 = Gen.documents(4L, nBase = 50, variants = 5)
    assert(d1 == Gen.documents(4L, nBase = 50, variants = 5))
    assert(d1 != Gen.documents(5L, nBase = 50, variants = 5))
    assert(d1.map(_.doc_id).distinct.length == 250)
    d1.grouped(5).foreach { g =>
      assert(g.map(_.text).distinct.length > 1)
      assert(g.map(_.lang).distinct.length == 1)
    }
  }
}
