package graft.medbench

import java.nio.file.{Files, Path}
import scala.util.Random
import graft.x12.X12TestDataGen

/** Seeded input generators. The seed is a benchmark argument; the program
  * under test only ever sees the files and tables written here.
  */
object Gen {

  private val partners = Seq(
    ("ACMECLAIMS", "BIGPAYER"), ("NORTHCLINIC", "BIGPAYER"),
    ("ACMECLAIMS", "STATEHEALTH"), ("WESTLAB", "UNIONPAYER"),
    ("EASTHOSP", "BIGPAYER"))

  private val types =
    Seq("837", "835", "834", "270", "271", "276", "277", "278", "279")

  /** What a landing batch holds: file count and the transaction sets the
    * parser must find in it.
    */
  final case class Batch(files: Int, tx: Long)

  /** The ST..SE sets of one generated interchange, without its envelope. */
  private[medbench] def transactionSets(content: String): Seq[String] = {
    val segs = content.split('~').toSeq
    segs.drop(2).takeWhile(s => !s.startsWith("GE*")).mkString("", "~", "~")
      .split("(?=ST\\*)").toSeq.filter(_.nonEmpty)
  }

  /** Clearinghouse batch shape: `nFiles` files, each one ISA/GS envelope
    * carrying about `txPerFile` ST..SE sets spliced from
    * [[X12TestDataGen.generateFile]] bodies. File names carry `prefix` so
    * batches of different days never collide in the file-name ledger.
    */
  def bulkBatch(dir: Path, seed: Long, prefix: String, nFiles: Int,
      txPerFile: Int): Batch = {
    Files.createDirectories(dir)
    val rnd = new Random(seed)
    var tx = 0L
    (0 until nFiles).foreach { i =>
      val (sender, receiver) = partners(rnd.nextInt(partners.length))
      val sets = Iterator.continually {
        val ttype = types(rnd.nextInt(types.length))
        val defect = rnd.nextDouble() < 0.15
        transactionSets(
          X12TestDataGen.generateFile(rnd, ttype, sender, receiver, defect)._1)
      }.flatten.take(txPerFile).toSeq
      val (head, _, _, _) = X12TestDataGen.generateFile(rnd, "837", sender, receiver)
      val envelope = head.split('~')
      val icn = envelope(0).split('*')(13)
      val gcn = envelope(1).split('*')(6)
      val content = envelope(0) + "~" + envelope(1) + "~" + sets.mkString +
        s"GE*${sets.length}*$gcn~IEA*1*$icn~"
      Files.writeString(dir.resolve(f"${prefix}_bulk_$i%04d.x12"), content)
      tx += sets.length
    }
    Batch(nFiles, tx)
  }

  /** Daily drop shape, as [[X12TestDataGen.writeCorpus]] lays it out: small
    * single-interchange files round-robin over the transaction types
    * (~15% defective), correlated request/response pairs, and one non-X12
    * file that bronze must quarantine. Names are prefixed per batch: with
    * the corpus writer's index-based names every later day would be
    * skipped whole by the file-name ledger.
    */
  def dailyBatch(dir: Path, seed: Long, prefix: String, nFiles: Int,
      nPairs: Int): Batch = {
    Files.createDirectories(dir)
    val rnd = new Random(seed)
    var tx = 0L
    (0 until nFiles).foreach { i =>
      val ttype = types(i % types.length)
      val (sender, receiver) = partners(rnd.nextInt(partners.length))
      val defect = rnd.nextDouble() < 0.15
      val (content, _, _, tcns) =
        X12TestDataGen.generateFile(rnd, ttype, sender, receiver, defect)
      Files.writeString(dir.resolve(f"${prefix}_${ttype}_$i%04d.x12"), content)
      tx += tcns.length
    }
    (0 until nPairs).foreach { i =>
      val reqType = if (i % 2 == 0) "276" else "270"
      val (sender, receiver) = partners(rnd.nextInt(partners.length))
      val (req, resp) = X12TestDataGen.generateCorrelatedPair(rnd, reqType,
        sender, receiver, s"CORR${prefix}$i")
      Files.writeString(dir.resolve(f"${prefix}_pair${i}_req.x12"), req)
      Files.writeString(dir.resolve(f"${prefix}_pair${i}_resp.x12"), resp)
      tx += 2
    }
    Files.writeString(dir.resolve(s"${prefix}_garbage.x12"), "this is not an x12 file")
    Batch(nFiles + 2 * nPairs + 1, tx)
  }

  final case class Doc(doc_id: Long, text: String, lang: String,
      source: String, url: String)

  private val commonWords = Seq("batch", "part", "spark", "line", "column",
    "order", "small", "sort", "fast", "value", "scan", "hash", "slow",
    "group", "agg", "filter", "query", "big", "key", "window", "row",
    "table", "stream", "merge", "data", "vector", "join", "customer")

  /** A few marker words per language, so the classifier gate has signal. */
  private val langWords = Map(
    "en" -> Seq("the", "of", "with", "from"),
    "de" -> Seq("der", "und", "mit", "von"),
    "fr" -> Seq("le", "et", "avec", "pour"),
    "es" -> Seq("el", "y", "con", "para"),
    "zh" -> Seq("de0", "shi", "zai", "you"))

  private val langs = Seq("en", "en", "de", "fr", "es", "zh")

  /** Curation corpus: `nBase` documents in the shape of the `documents`
    * fixture (random words, five languages, twenty sources), each followed
    * by `variants - 1` near duplicates that differ in a few words. Every
    * variant has its own URL, except that every fourth one re-fetches the
    * base document's URL with tracking parameters, which the front door's
    * URL collapse removes. Ids are `base * variants + v`.
    */
  def documents(seed: Long, nBase: Int, variants: Int): Seq[Doc] = {
    val rnd = new Random(seed)
    (0 until nBase).flatMap { b =>
      val lang = langs(rnd.nextInt(langs.length))
      val source = s"src${rnd.nextInt(20)}"
      val marks = langWords(lang)
      val n = 12 + rnd.nextInt(60)
      val base = Vector.fill(n)(
        if (rnd.nextInt(5) == 0) marks(rnd.nextInt(marks.length))
        else commonWords(rnd.nextInt(commonWords.length)))
      val page = s"https://www.$source.example.com/page/$b"
      (0 until variants).map { v =>
        val words =
          if (v == 0) base
          else (0 until 1 + rnd.nextInt(3)).foldLeft(base) { (w, _) =>
            w.updated(rnd.nextInt(w.length),
              commonWords(rnd.nextInt(commonWords.length)) + v)
          }
        val url =
          if (v > 0 && v % 4 == 0) s"HTTPS://WWW.$source.Example.COM/page/$b/?utm_source=feed&gclid=$v"
          else if (v == 0) page
          else s"$page-$v"
        Doc(b.toLong * variants + v, words.mkString(" "), lang, source, url)
      }
    }
  }
}
