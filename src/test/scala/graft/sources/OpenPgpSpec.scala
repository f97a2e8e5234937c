package graft.sources

import java.nio.file.{Files, Path}
import scala.sys.process._
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkTestBase, TempDirs}

/** GnuPG-interop specs for the pure-JDK OpenPGP decryptor: every fixture
  * is generated by REAL gpg 2.2 at test time (key generation, binary and
  * armored encryption, forced cipher/compression variants, a large
  * payload that forces partial body lengths), so the parser/crypto path
  * is verified against the producer the reference deployment actually
  * uses — not against our own encoder.
  */
class OpenPgpSpec extends AnyFunSuite with SparkTestBase with TempDirs {

  private lazy val gpgAvailable = scala.util.Try(
    Seq("gpg", "--version").!!(ProcessLogger(_ => ()))).isSuccess

  private val homeDir = Files.createTempDirectory("graft_gpg_home")

  override def afterAll(): Unit =
    try FileUtils.deleteQuietly(homeDir.toFile) finally super.afterAll()

  private lazy val home: Path = {
    val h = homeDir
    Files.setPosixFilePermissions(h,
      java.nio.file.attribute.PosixFilePermissions.fromString("rwx------"))
    val gen = h.resolve("gen")
    Files.write(gen,
      """%no-protection
        |Key-Type: RSA
        |Key-Length: 2048
        |Name-Real: Graft Spec
        |Name-Email: graft-spec@test.local
        |Expire-Date: 0
        |%commit
        |""".stripMargin.getBytes)
    gpg(h, Seq("--batch", "--gen-key", gen.toString))
    h
  }

  private def gpg(h: Path, args: Seq[String]): Unit = {
    val cmd = Seq("gpg", "--homedir", h.toString, "--batch", "--yes",
      "--trust-model", "always") ++ args
    val rc = cmd.!(ProcessLogger(_ => ()))
    require(rc == 0, s"gpg failed: ${cmd.mkString(" ")}")
  }

  private lazy val secretKey: Array[Byte] = {
    val f = home.resolve("sec.gpg")
    gpg(home, Seq("-o", f.toString, "--export-secret-keys", "graft-spec@test.local"))
    Files.readAllBytes(f)
  }

  private def encrypt(plain: Array[Byte], extra: Seq[String] = Nil): Array[Byte] = {
    val in = Files.createTempFile(home, "pt", ".bin")
    val out = Files.createTempFile(home, "ct", ".pgp")
    Files.write(in, plain)
    gpg(home, Seq("-o", out.toString, "-r", "graft-spec@test.local") ++
      extra ++ Seq("-e", in.toString))
    Files.readAllBytes(out)
  }

  private val x12Sample =
    ("ISA*00*          *00*          *ZZ*SENDER01       *ZZ*RECEIVER01     " +
      "*250901*1200*^*00501*000000001*0*T*:~GS*HC*S*R*20250901*1200*1*X*005010~" +
      "ST*837*0001~SE*2*0001~GE*1*1~IEA*1*000000001~").getBytes("UTF-8")

  test("decrypts real gpg binary output (default AES256+ZLIB)") {
    assume(gpgAvailable, "gpg not installed")
    val keys = OpenPgp.parseSecretKeys(secretKey)
    assert(keys.nonEmpty)
    val got = OpenPgp.decrypt(encrypt(x12Sample), keys)
    assert(java.util.Arrays.equals(got, x12Sample))
  }

  test("decrypts armored output, CRC-24 verified") {
    assume(gpgAvailable, "gpg not installed")
    val keys = OpenPgp.parseSecretKeys(secretKey)
    val ct = encrypt(x12Sample, Seq("-a"))
    assert(new String(ct, "US-ASCII").startsWith("-----BEGIN PGP MESSAGE-----"))
    assert(java.util.Arrays.equals(OpenPgp.decrypt(ct, keys), x12Sample))
  }

  test("decrypts every cipher/compression variant gpg can force") {
    assume(gpgAvailable, "gpg not installed")
    val keys = OpenPgp.parseSecretKeys(secretKey)
    for (cipher <- Seq("AES", "AES192", "AES256");
         z <- Seq("0", "1", "2")) {
      val ct = encrypt(x12Sample,
        Seq("--cipher-algo", cipher, "--compress-algo", z))
      assert(java.util.Arrays.equals(OpenPgp.decrypt(ct, keys), x12Sample),
        s"cipher=$cipher compress=$z")
    }
  }

  test("decrypts a payload large enough to force partial body lengths") {
    assume(gpgAvailable, "gpg not installed")
    val keys = OpenPgp.parseSecretKeys(secretKey)
    // low-entropy repetitive text still compresses, random tail defeats
    // compression so the SEIPD body is genuinely large (> one partial chunk)
    val rng = new scala.util.Random(7)
    val big = (Array.fill(40000)("SEG*A*B~").mkString.getBytes("UTF-8") ++
      Array.fill(120000)(rng.nextInt(256).toByte))
    val got = OpenPgp.decrypt(encrypt(big), keys)
    assert(java.util.Arrays.equals(got, big))
  }

  test("wrong key and tampered ciphertext fail loud, never garbage") {
    assume(gpgAvailable, "gpg not installed")
    val keys = OpenPgp.parseSecretKeys(secretKey)
    // a second, unrelated key cannot decrypt
    val other = tempDir("graft_gpg_other")
    Files.setPosixFilePermissions(other,
      java.nio.file.attribute.PosixFilePermissions.fromString("rwx------"))
    val gen = other.resolve("gen")
    Files.write(gen,
      """%no-protection
        |Key-Type: RSA
        |Key-Length: 2048
        |Name-Real: Other
        |Name-Email: other@test.local
        |Expire-Date: 0
        |%commit
        |""".stripMargin.getBytes)
    gpg(other, Seq("--gen-key", gen.toString))
    val fOther = other.resolve("sec.gpg")
    gpg(other, Seq("-o", fOther.toString, "--export-secret-keys", "other@test.local"))
    val otherKeys = OpenPgp.parseSecretKeys(Files.readAllBytes(fOther))
    val ct = encrypt(x12Sample)
    val e1 = intercept[IllegalArgumentException](OpenPgp.decrypt(ct, otherKeys))
    assert(e1.getMessage.contains("no session key recoverable"))
    // flip a ciphertext byte inside the SEIPD body → MDC/prefix failure
    val tampered = ct.clone()
    tampered(tampered.length - 5) = (tampered(tampered.length - 5) ^ 0x41).toByte
    val e2 = intercept[Exception](OpenPgp.decrypt(tampered, keys))
    assert(e2.getMessage != null)
  }

  test("withDecryption: ciphertext rows decrypt and parseable/quarantine split correctly") {
    assume(gpgAvailable, "gpg not installed")
    import spark.implicits._
    val ct = encrypt(x12Sample)
    val rows = Seq(
      ("enc.pgp", ct),
      ("plain.x12", "ISA*00*PLAIN~IEA*1*1~".getBytes("UTF-8")),
      ("null.bin", null.asInstanceOf[Array[Byte]]),
      ("junk.pgp", Array[Byte](0x85.toByte, 0, 3, 1, 2, 3)) // framed but bogus
    ).toDF("name", "payload")
    val out = PgpEnvelope.withDecryption(rows, "payload", secretKey)
      .collect().map(r => r.getString(0) ->
        ((r.getAs[String]("decrypt_status"), Option(r.getAs[String]("plaintext"))))).toMap
    assert(out("enc.pgp")._1 == "decrypted")
    assert(out("enc.pgp")._2.get == new String(x12Sample, "UTF-8"))
    assert(out("plain.x12") == (("plaintext", Some("ISA*00*PLAIN~IEA*1*1~"))))
    assert(out("null.bin") == (("missing_payload", None)))
    assert(out("junk.pgp")._1.startsWith("decrypt_failed:"))
    val classified = PgpEnvelope.withDecryption(rows, "payload", secretKey)
    assert(PgpEnvelope.parseable(classified).count() == 2)
    assert(PgpEnvelope.quarantine(classified).count() == 2)
  }

  test("passphrase-protected keys are rejected with a clear reason") {
    assume(gpgAvailable, "gpg not installed")
    val prot = tempDir("graft_gpg_prot")
    Files.setPosixFilePermissions(prot,
      java.nio.file.attribute.PosixFilePermissions.fromString("rwx------"))
    val gen = prot.resolve("gen")
    Files.write(gen,
      """Key-Type: RSA
        |Key-Length: 2048
        |Name-Real: Protected
        |Name-Email: prot@test.local
        |Expire-Date: 0
        |Passphrase: s3cret
        |%commit
        |""".stripMargin.getBytes)
    gpg(prot, Seq("--gen-key", gen.toString))
    val f = prot.resolve("sec.gpg")
    val rc = (Seq("gpg", "--homedir", prot.toString, "--batch", "--yes",
      "--pinentry-mode", "loopback", "--passphrase", "s3cret",
      "-o", f.toString, "--export-secret-keys", "prot@test.local"))
      .!(ProcessLogger(_ => ()))
    assume(rc == 0, "gpg export failed")
    val e = intercept[IllegalArgumentException](
      OpenPgp.parseSecretKeys(Files.readAllBytes(f)))
    assert(e.getMessage.contains("passphrase-protected"))
  }

  test("truncated packet stream fails loud AT THE PARSE, not downstream") {
    // hand-built frames — no gpg needed, this is pure framing arithmetic
    def truncated(bytes: Array[Byte]): Unit = {
      val e = intercept[IllegalArgumentException](OpenPgp.parsePackets(bytes))
      assert(e.getMessage.contains("truncated"),
        s"expected a truncated-packet error, got: ${e.getMessage}")
    }
    // new-format (0xC0|tag) one-octet length 10, only 3 body bytes present
    truncated(Array[Byte](0xC1.toByte, 10, 1, 2, 3))
    // new-format two-octet length (192..8383), body absent
    truncated(Array[Byte](0xC1.toByte, 0xC0.toByte, 0x10, 1, 2))
    // new-format five-octet length, header itself cut short
    truncated(Array[Byte](0xC1.toByte, 0xFF.toByte, 0, 0))
    // new-format partial length 2^1 = 2 with 1 byte present
    truncated(Array[Byte](0xC1.toByte, 0xE1.toByte, 9))
    // old-format (0x80|tag<<2|lenType) one-octet length past end
    truncated(Array[Byte](0x84.toByte, 9, 1))
    // old-format two-octet length past end
    truncated(Array[Byte](0x85.toByte, 0, 9, 1))
    // old-format four-octet length past end
    truncated(Array[Byte](0x86.toByte, 0, 0, 0, 9, 1))
    // an exact-length packet still parses
    val ok = OpenPgp.parsePackets(Array[Byte](0xC1.toByte, 3, 7, 8, 9))
    assert(ok.size == 1 && ok.head.tag == 1 &&
      ok.head.body.toSeq == Seq[Byte](7, 8, 9))
  }
}
