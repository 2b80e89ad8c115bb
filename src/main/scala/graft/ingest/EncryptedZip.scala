package graft.ingest

import java.io.{ByteArrayOutputStream, File, FileOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}
import java.util.zip.Inflater
import javax.crypto.spec.{PBEKeySpec, SecretKeySpec}
import javax.crypto.{Cipher, Mac, SecretKeyFactory}

/** S3 full — password-protected ZIP extraction, closing the reference's
  * encrypted-Zepp-export path (`src/io/zip_extractor.py:144-233`):
  * pyzipper's WinZip AES (AE-1/AE-2, the format Zepp cloud exports use)
  * plus the traditional PKWARE ZipCrypto stream cipher (the standard
  * zipfile fallback). Implemented from the published formats on
  * javax.crypto only:
  *
  *  - WinZip AES (extra field 0x9901): PBKDF2-HMAC-SHA1, 1000 iterations,
  *    dk = AES key ++ HMAC-SHA1 key ++ 2-byte password verifier; payload =
  *    salt (keyLen/2) ++ verifier ++ AES-CTR ciphertext (LITTLE-endian
  *    128-bit counter starting at 1 — not JCE's big-endian CTR, hence the
  *    per-block ECB loop) ++ 10-byte truncated HMAC over the ciphertext.
  *  - ZipCrypto: the 3-key CRC32 keystream with a 12-byte header whose
  *    last byte checks against crc32 >> 24.
  *
  * AES verifies before inflating; ZipCrypto checks its header byte
  * before and the entry's CRC-32 after, so a wrong password fails loudly
  * (like pyzipper). Driver-side pre-step like plain [[ZipExtract]]; entry paths
  * are zip-slip-sanitized the same way.
  */
object EncryptedZip {

  private val CentralHeader = 0x02014b50
  private val Eocd = 0x06054b50

  /** Extract an encrypted (or mixed) zip; returns extracted file paths.
    * Entries are driven from the CENTRAL directory — Info-ZIP writes
    * encrypted entries with the streaming flag (bit 3), so the local
    * header may carry zero sizes; the central record always has the real
    * sizes/crc, and with bit 3 set the ZipCrypto check byte switches to
    * the DOS-time high byte. */
  def extract(zipPath: String, destDir: String, password: String): Seq[String] = {
    val dest = new File(destDir).getCanonicalFile
    dest.mkdirs()
    val bytes = Files.readAllBytes(Paths.get(zipPath))
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    // locate end-of-central-directory (scan back over the trailing comment)
    var eocd = bytes.length - 22
    while (eocd >= 0 && bb.getInt(eocd) != Eocd) eocd -= 1
    require(eocd >= 0, "no end-of-central-directory record")
    val nEntries = bb.getShort(eocd + 10) & 0xffff
    var pos = bb.getInt(eocd + 16) // central directory offset
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    for (_ <- 0 until nEntries) {
      require(bb.getInt(pos) == CentralHeader, "corrupt central directory")
      val flag = bb.getShort(pos + 8) & 0xffff
      val method = bb.getShort(pos + 10) & 0xffff
      val dosTime = bb.getShort(pos + 12) & 0xffff
      val crc = bb.getInt(pos + 16)
      val compSize = bb.getInt(pos + 20)
      val nameLen = bb.getShort(pos + 28) & 0xffff
      val extraLen = bb.getShort(pos + 30) & 0xffff
      val commentLen = bb.getShort(pos + 32) & 0xffff
      val localOff = bb.getInt(pos + 42)
      val name = new String(bytes, pos + 46, nameLen, "UTF-8")
      // the LOCAL header's own name/extra lengths decide the data offset
      val lNameLen = bb.getShort(localOff + 26) & 0xffff
      val lExtraLen = bb.getShort(localOff + 28) & 0xffff
      val dataOff = localOff + 30 + lNameLen + lExtraLen
      val data = java.util.Arrays.copyOfRange(bytes, dataOff, dataOff + compSize)

      val target = new File(dest, name).getCanonicalFile
      require(target.getPath.startsWith(dest.getPath + File.separator) ||
        target.getPath == dest.getPath, s"zip entry escapes destination: $name")
      if (name.endsWith("/")) target.mkdirs()
      else {
        val (decrypted, realMethod) =
          if (method == 99)
            aesExtra(bytes, pos + 46 + nameLen, extraLen) match {
              case (strength, actual) => (decryptAes(data, password, strength), actual)
            }
          else if ((flag & 0x1) != 0) {
            // bit 3 set -> check byte is the DOS-time high byte, else crc>>24
            val checkByte =
              if ((flag & 0x8) != 0) (dosTime >>> 8) & 0xff else (crc >>> 24) & 0xff
            (decryptZipCrypto(data, password, checkByte), method)
          } else (data, method)
        def decoded = realMethod match {
          case 0 => decrypted
          case 8 => inflateRaw(decrypted)
          case m => throw new IllegalArgumentException(s"unsupported method $m")
        }
        // ZipCrypto's check byte passes one wrong password in 256, and
        // nothing authenticates the payload, so the entry's CRC-32 does
        val plain =
          if (method == 99 || (flag & 0x1) == 0) decoded
          else {
            val p = scala.util.Try(decoded).toOption
            val sum = new java.util.zip.CRC32()
            p.foreach(sum.update)
            require(p.isDefined && sum.getValue.toInt == crc,
              "wrong password (ZipCrypto CRC-32 mismatch)")
            p.get
          }
        target.getParentFile.mkdirs()
        val fos = new FileOutputStream(target)
        try fos.write(plain) finally fos.close()
        out += target.getPath
      }
      pos += 46 + nameLen + extraLen + commentLen
    }
    out.toSeq
  }

  /** Parse the 0x9901 WinZip AES extra field: (strength 1|2|3, actual method). */
  private def aesExtra(bytes: Array[Byte], off: Int, len: Int): (Int, Int) = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    var p = off
    while (p + 4 <= off + len) {
      val id = bb.getShort(p) & 0xffff
      val sz = bb.getShort(p + 2) & 0xffff
      if (id == 0x9901) {
        val strength = bytes(p + 8) & 0xff
        val actual = bb.getShort(p + 9) & 0xffff
        return (strength, actual)
      }
      p += 4 + sz
    }
    throw new IllegalArgumentException("method 99 entry without AES extra field")
  }

  /** WinZip AES payload -> decrypted (still compressed) bytes. */
  private def decryptAes(payload: Array[Byte], password: String,
                         strength: Int): Array[Byte] = {
    val keyLen = strength match {
      case 1 => 16
      case 2 => 24
      case 3 => 32
      case s => throw new IllegalArgumentException(s"bad AES strength $s")
    }
    val saltLen = keyLen / 2
    val salt = payload.slice(0, saltLen)
    val verifier = payload.slice(saltLen, saltLen + 2)
    val auth = payload.slice(payload.length - 10, payload.length)
    val cipherText = payload.slice(saltLen + 2, payload.length - 10)

    val skf = SecretKeyFactory.getInstance("PBKDF2WithHmacSHA1")
    val dk = skf.generateSecret(new PBEKeySpec(
      password.toCharArray, salt, 1000, (2 * keyLen + 2) * 8)).getEncoded
    val aesKey = dk.slice(0, keyLen)
    val macKey = dk.slice(keyLen, 2 * keyLen)
    val check = dk.slice(2 * keyLen, 2 * keyLen + 2)
    require(java.util.Arrays.equals(check, verifier),
      "wrong password (AES verifier mismatch)")

    val mac = Mac.getInstance("HmacSHA1")
    mac.init(new SecretKeySpec(macKey, "HmacSHA1"))
    val computed = mac.doFinal(cipherText).take(10)
    require(java.util.Arrays.equals(computed, auth),
      "AES-zip authentication failed (HMAC mismatch)")

    // AES-CTR with LITTLE-endian counter starting at 1
    val ecb = Cipher.getInstance("AES/ECB/NoPadding")
    ecb.init(Cipher.ENCRYPT_MODE, new SecretKeySpec(aesKey, "AES"))
    val outBytes = new Array[Byte](cipherText.length)
    val counter = new Array[Byte](16)
    var block = 0
    while (block * 16 < cipherText.length) {
      // increment LE counter (counter value = block + 1)
      var i = 0
      var carry = 1
      while (i < 16 && carry > 0) {
        val v = (counter(i) & 0xff) + carry
        counter(i) = (v & 0xff).toByte
        carry = v >> 8
        i += 1
      }
      val ks = ecb.doFinal(counter)
      val start = block * 16
      val end = math.min(start + 16, cipherText.length)
      var j = start
      while (j < end) {
        outBytes(j) = (cipherText(j) ^ ks(j - start)).toByte
        j += 1
      }
      block += 1
    }
    outBytes
  }

  // ---- traditional PKWARE ZipCrypto ----

  private val crcTable: Array[Int] = {
    val t = new Array[Int](256)
    var n = 0
    while (n < 256) {
      var c = n
      var k = 0
      while (k < 8) {
        c = if ((c & 1) != 0) 0xedb88320 ^ (c >>> 1) else c >>> 1
        k += 1
      }
      t(n) = c
      n += 1
    }
    t
  }

  private def crc32byte(crc: Int, b: Int): Int =
    (crc >>> 8) ^ crcTable((crc ^ b) & 0xff)

  /** ZipCrypto payload (12-byte header + ciphertext) -> compressed bytes.
    * `checkByte` = crc32 >> 24, or the DOS-time high byte for streaming
    * entries (caller decides from flag bit 3). */
  private def decryptZipCrypto(payload: Array[Byte], password: String,
                               checkByte: Int): Array[Byte] = {
    var k0 = 0x12345678
    var k1 = 0x23456789
    var k2 = 0x34567890
    def update(b: Int): Unit = {
      k0 = crc32byte(k0, b)
      k1 = (k1 + (k0 & 0xff)) * 134775813 + 1
      k2 = crc32byte(k2, k1 >>> 24)
    }
    password.getBytes("UTF-8").foreach(b => update(b & 0xff))
    def decryptByte(c: Int): Int = {
      val temp = (k2 | 2) & 0xffff
      val p = c ^ (((temp * (temp ^ 1)) >> 8) & 0xff)
      update(p)
      p
    }
    val header = payload.take(12).map(b => decryptByte(b & 0xff))
    require((header(11) & 0xff) == (checkByte & 0xff),
      "wrong password (ZipCrypto check byte mismatch)")
    payload.drop(12).map(b => decryptByte(b & 0xff).toByte)
  }

  private def inflateRaw(data: Array[Byte]): Array[Byte] = {
    val inf = new Inflater(true)
    inf.setInput(data)
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](64 * 1024)
    while (!inf.finished()) {
      val n = inf.inflate(buf)
      if (n == 0 && inf.needsInput()) {
        require(inf.finished(), "truncated deflate stream")
      } else out.write(buf, 0, n)
    }
    inf.end()
    out.toByteArray
  }
}
