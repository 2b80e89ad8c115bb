package graft

import java.io.{ByteArrayOutputStream, FileOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.Files
import java.util.zip.Deflater
import javax.crypto.spec.{PBEKeySpec, SecretKeySpec}
import javax.crypto.{Cipher, Mac, SecretKeyFactory}
import graft.ingest.EncryptedZip

/** S3 full — encrypted-zip extraction.
  * ZipCrypto is validated against an EXTERNAL ground truth (a fixture
  * written by /usr/bin/zip -e); WinZip AES against a spec-faithful local
  * writer (pyzipper isn't available here), plus wrong-password and
  * tamper rejection.
  */
class EncryptedZipSpec extends SparkTestBase {

  private def tmpDir() = Files.createTempDirectory("graft-ezip").toFile

  test("ZipCrypto: decrypts an archive written by the system zip tool") {
    val zipBin = new java.io.File("/usr/bin/zip")
    assume(zipBin.exists(), "system zip not available")
    val dir = tmpDir()
    val payload = "time,heartRate\n2021-05-01 10:00:00,64\n" * 50
    val src = new java.io.File(dir, "HEARTRATE.csv")
    Files.write(src.toPath, payload.getBytes("UTF-8"))
    val zf = new java.io.File(dir, "zepp.zip")
    val p = new ProcessBuilder("/usr/bin/zip", "-j", "-e", "-P", "s3cret!",
      zf.getPath, src.getPath).redirectErrorStream(true).start()
    assert(p.waitFor() == 0, "zip -e failed")

    val out = EncryptedZip.extract(zf.getPath, new java.io.File(dir, "x").getPath,
      "s3cret!")
    assert(out.size == 1)
    val read = new String(Files.readAllBytes(java.nio.file.Paths.get(out.head)), "UTF-8")
    assert(read == payload)

    intercept[IllegalArgumentException] {
      EncryptedZip.extract(zf.getPath, new java.io.File(dir, "y").getPath, "wrong")
    }
  }

  test("ZipCrypto: a wrong password that passes the check byte fails the CRC-32") {
    assume(new java.io.File("/usr/bin/zip").exists(), "system zip not available")
    val dir = tmpDir()
    val src = new java.io.File(dir, "HEARTRATE.csv")
    Files.write(src.toPath, ("time,heartRate\n2021-05-01 10:00:00,64\n" * 50).getBytes("UTF-8"))
    val zf = new java.io.File(dir, "zepp.zip")
    val p = new ProcessBuilder("/usr/bin/zip", "-j", "-e", "-P", "s3cret!",
      zf.getPath, src.getPath).redirectErrorStream(true).start()
    assert(p.waitFor() == 0, "zip -e failed")
    // about one wrong password in 256 matches the header's check byte
    val past = Iterator.from(0).take(5000).map { i =>
      intercept[IllegalArgumentException] {
        EncryptedZip.extract(zf.getPath, new java.io.File(dir, s"x$i").getPath, s"wrong$i")
      }.getMessage
    }.find(!_.contains("check byte"))
    assert(past === Some("requirement failed: wrong password (ZipCrypto CRC-32 mismatch)"))
  }

  // ---- spec-faithful WinZip AES (AE-2) writer, test-local ----
  private def writeAesZip(dest: java.io.File, name: String, plain: Array[Byte],
                          password: String, strength: Int,
                          corruptAuth: Boolean = false): Unit = {
    val keyLen = Seq(0, 16, 24, 32)(strength)
    val salt = Array.tabulate[Byte](keyLen / 2)(i => (i * 7 + 3).toByte) // fixed
    val skf = SecretKeyFactory.getInstance("PBKDF2WithHmacSHA1")
    val dk = skf.generateSecret(new PBEKeySpec(
      password.toCharArray, salt, 1000, (2 * keyLen + 2) * 8)).getEncoded
    val aesKey = dk.slice(0, keyLen)
    val macKey = dk.slice(keyLen, 2 * keyLen)
    val verifier = dk.slice(2 * keyLen, 2 * keyLen + 2)

    val deflater = new Deflater(Deflater.DEFAULT_COMPRESSION, true)
    deflater.setInput(plain); deflater.finish()
    val cbuf = new ByteArrayOutputStream()
    val tmp = new Array[Byte](8192)
    while (!deflater.finished()) cbuf.write(tmp, 0, deflater.deflate(tmp))
    val compressed = cbuf.toByteArray

    val ecb = Cipher.getInstance("AES/ECB/NoPadding")
    ecb.init(Cipher.ENCRYPT_MODE, new SecretKeySpec(aesKey, "AES"))
    val cipherText = new Array[Byte](compressed.length)
    val counter = new Array[Byte](16)
    var block = 0
    while (block * 16 < compressed.length) {
      var i = 0; var carry = 1
      while (i < 16 && carry > 0) {
        val v = (counter(i) & 0xff) + carry
        counter(i) = (v & 0xff).toByte; carry = v >> 8; i += 1
      }
      val ks = ecb.doFinal(counter)
      val start = block * 16
      val end = math.min(start + 16, compressed.length)
      var j = start
      while (j < end) { cipherText(j) = (compressed(j) ^ ks(j - start)).toByte; j += 1 }
      block += 1
    }
    val mac = Mac.getInstance("HmacSHA1")
    mac.init(new SecretKeySpec(macKey, "HmacSHA1"))
    val auth = mac.doFinal(cipherText).take(10)
    if (corruptAuth) auth(0) = (auth(0) ^ 0x55).toByte

    val nameB = name.getBytes("UTF-8")
    val dataLen = salt.length + 2 + cipherText.length + 10
    def aesExtraField(bb: ByteBuffer): Unit =
      bb.putShort(0x9901.toShort).putShort(7).putShort(2) // AE-2
        .put('A'.toByte).put('E'.toByte).put(strength.toByte).putShort(8)
    val localLen = 30 + nameB.length + 11 + dataLen
    val centralLen = 46 + nameB.length + 11
    val bb = ByteBuffer.allocate(localLen + centralLen + 22)
      .order(ByteOrder.LITTLE_ENDIAN)
    // local header
    bb.putInt(0x04034b50).putShort(51).putShort(0x0001).putShort(99)
      .putShort(0).putShort(0) // time, date
      .putInt(0)               // crc (AE-2: zero)
      .putInt(dataLen).putInt(plain.length)
      .putShort(nameB.length.toShort).putShort(11)
    bb.put(nameB)
    aesExtraField(bb)
    bb.put(salt).put(verifier).put(cipherText).put(auth)
    // central directory
    bb.putInt(0x02014b50).putShort(51).putShort(51).putShort(0x0001).putShort(99)
      .putShort(0).putShort(0).putInt(0)
      .putInt(dataLen).putInt(plain.length)
      .putShort(nameB.length.toShort).putShort(11).putShort(0)
      .putShort(0).putShort(0).putInt(0).putInt(0) // disk, attrs, local offset 0
    bb.put(nameB)
    aesExtraField(bb)
    // EOCD
    bb.putInt(0x06054b50).putShort(0).putShort(0).putShort(1).putShort(1)
      .putInt(centralLen).putInt(localLen).putShort(0)
    val fos = new FileOutputStream(dest)
    try fos.write(bb.array()) finally fos.close()
  }

  test("WinZip AES: roundtrip at all 3 strengths; wrong password and tamper rejected") {
    val dir = tmpDir()
    val plain = ("date,deep_min,light_min\n" +
      (1 to 200).map(i => s"2021-05-01,$i,${i * 2}").mkString("\n")).getBytes("UTF-8")
    for (strength <- 1 to 3) {
      val zf = new java.io.File(dir, s"aes$strength.zip")
      writeAesZip(zf, "SLEEP.csv", plain, "zepp-pw", strength)
      val out = EncryptedZip.extract(zf.getPath,
        new java.io.File(dir, s"o$strength").getPath, "zepp-pw")
      assert(out.size == 1)
      assert(java.util.Arrays.equals(
        Files.readAllBytes(java.nio.file.Paths.get(out.head)), plain))
    }
    val zf = new java.io.File(dir, "aes.zip")
    writeAesZip(zf, "SLEEP.csv", plain, "zepp-pw", 3)
    intercept[IllegalArgumentException] {
      EncryptedZip.extract(zf.getPath, new java.io.File(dir, "w").getPath, "nope")
    }
    val tampered = new java.io.File(dir, "bad.zip")
    writeAesZip(tampered, "SLEEP.csv", plain, "zepp-pw", 3, corruptAuth = true)
    intercept[IllegalArgumentException] {
      EncryptedZip.extract(tampered.getPath, new java.io.File(dir, "t").getPath, "zepp-pw")
    }
  }

  test("zip-slip still refused on the encrypted path") {
    val dir = tmpDir()
    val zf = new java.io.File(dir, "evil.zip")
    writeAesZip(zf, "../escape.csv", "x".getBytes, "pw", 3)
    intercept[IllegalArgumentException] {
      EncryptedZip.extract(zf.getPath, new java.io.File(dir, "s").getPath, "pw")
    }
  }
}
