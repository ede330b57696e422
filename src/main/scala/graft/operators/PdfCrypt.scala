package graft.operators

import javax.crypto.Cipher
import javax.crypto.spec.{IvParameterSpec, SecretKeySpec}

/** PDF standard security handler (PDF 32000-1:2008 §7.6.3) for the
  * EMPTY-user-password case — the "encrypted but freely openable"
  * documents crawled corpora are full of (generators that set only an
  * owner password encrypt every stream; a reader opens them without
  * prompting). Pure JDK: MD5/RC4(ARCFOUR)/AES-CBC all ship in
  * java.security / javax.crypto.
  *
  * Supported: /Filter /Standard with V 1/2 (RC4, 40..128-bit), V 4
  * crypt filters /V2 (RC4) or /AESV2 (AES-128-CBC, 16-byte IV
  * prefix) — R 2/3/4 — and V 5 /AESV3 (AES-256-CBC, R 5 legacy and
  * R 6 with the ISO 32000-2 Algorithm 2.B hardened hash). NOT
  * handled (documented seam): documents with a real (non-empty) user
  * password — the /U gate fails them closed before any ciphertext
  * could flow.
  *
  * Honesty note (the Mp3Layer3 discipline): no independent encrypted
  * fixture generator exists in this offline container, so the spec
  * tests build their fixtures with an ENCRYPTION-side implementation
  * of the same published algorithms. The transcription
  * self-consistency risk that leaves is retired by
  * `PdfCryptSpec`'s known-answer vectors — file keys, /U values, and
  * per-object keys for R2/R3/R4 pinned to hex computed independently
  * of this code (Python hashlib + from-scratch RC4, Algorithms 1/2/4/5
  * followed literally from the spec text). Defense in depth stays:
  * (a) the decoder VALIDATES the stored /U against [[emptyUserU]]
  * before trusting any key; (b) wrongly-keyed filtered streams cannot
  * inflate. Failure is always CLOSED.
  */
private[operators] object PdfCrypt {

  /** §7.6.3.3 Algorithm 2's 32-byte password pad (printed in the
    * spec; also RFC 3778-adjacent public knowledge). */
  val Pad: Array[Byte] = Array(
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
    0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
    0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
    0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A).map(_.toByte)

  /** aes = the StdCF crypt method is AESV2/AESV3; keyBytes = /Length
    * in bytes (5 when R = 2); v5 = the /V 5 scheme (AES-256, file key
    * used directly — no per-object derivation). */
  final case class Ctx(fileKey: Array[Byte], aes: Boolean,
    v5: Boolean = false)

  private def md5(parts: Array[Byte]*): Array[Byte] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    parts.foreach(md.update)
    md.digest()
  }

  /** Algorithm 2 with the empty user password: the padded (empty)
    * password, the 32 /O bytes, /P as a 4-byte little-endian SIGNED
    * int, the first file identifier, and — when R >= 4 declares
    * /EncryptMetadata false — four 0xFF bytes (omitting
    * that step derives a wrong key for every metadata-unencrypted R4
    * document); R >= 3 re-hashes the first keyBytes 50 times. */
  def fileKey(o: Array[Byte], p: Int, fileId: Array[Byte],
      r: Int, keyBytes: Int, encryptMetadata: Boolean = true): Array[Byte] = {
    val pLe = Array[Byte](
      (p & 0xff).toByte, ((p >> 8) & 0xff).toByte,
      ((p >> 16) & 0xff).toByte, ((p >> 24) & 0xff).toByte)
    val metaTail =
      if (r >= 4 && !encryptMetadata)
        Array[Byte](-1, -1, -1, -1)
      else Array.emptyByteArray
    var h = md5(Pad, o.take(32), pLe, fileId, metaTail)
    if (r >= 3)
      for (_ <- 0 until 50) h = md5(h.take(keyBytes))
    h.take(keyBytes)
  }

  private def rc4(key: Array[Byte], data: Array[Byte]): Array[Byte] = {
    val c = Cipher.getInstance("ARCFOUR")
    c.init(Cipher.ENCRYPT_MODE, new SecretKeySpec(key, "ARCFOUR"))
    c.doFinal(data)
  }

  /** Algorithm 4 (R = 2) / Algorithm 5 (R >= 3): the /U value the
    * EMPTY user password produces under `fileKey`. The decoder
    * compares this against the stored /U — a mismatch means the
    * document has a REAL user password (or we mis-derived the key) and
    * extraction must fail closed BEFORE any ciphertext could flow
    * through an unfiltered stream as fake text. */
  def emptyUserU(fileKey: Array[Byte], fileId: Array[Byte], r: Int): Array[Byte] =
    if (r == 2) rc4(fileKey, Pad)
    else {
      var u = rc4(fileKey, md5(Pad, fileId))
      for (i <- 1 to 19)
        u = rc4(fileKey.map(b => (b ^ i).toByte), u)
      u // 16 bytes; the stored /U's tail 16 are arbitrary padding
    }

  /** True when the stored /U proves the empty user password opens the
    * document under this key. */
  def checkEmptyUser(fileKey: Array[Byte], fileId: Array[Byte], r: Int,
      uStored: Array[Byte]): Boolean =
    try {
      val want = emptyUserU(fileKey, fileId, r)
      val n = if (r == 2) 32 else 16
      uStored.length >= n &&
        java.util.Arrays.equals(want.take(n), uStored.take(n))
    } catch { case _: Exception => false }

  // ------------------------------------------ AES-256 (/V 5, R5/R6)

  /** ISO 32000-2 §7.6.4.3.3/.4: the R6 hardened hash (Algorithm 2.B)
    * or the single SHA-256 of the retired R5 scheme (Acrobat 9's
    * ExtensionLevel 3, still met in the wild). Only the USER-side
    * form is ever computed here (empty `udata`); the owner-side
    * 48-byte /U suffix never applies to the empty-user-password class
    * this extractor speaks. 2.B loop: K1 = 64 reps of (pwd ++ K
    * [++ udata]); E = AES-128-CBC(K[0..15], iv K[16..31], K1);
    * (sum of E[0..15]) mod 3 picks SHA-256/384/512 for the next K;
    * stop after round >= 64 when E's last byte <= round - 32. */
  def hash2B(r: Int, pwd: Array[Byte], salt: Array[Byte],
      udata: Array[Byte] = Array.emptyByteArray): Array[Byte] = {
    def sha(algo: String, parts: Array[Byte]*): Array[Byte] = {
      val md = java.security.MessageDigest.getInstance(algo)
      parts.foreach(md.update)
      md.digest()
    }
    var k = sha("SHA-256", pwd, salt, udata)
    if (r == 5) return k
    val block = new java.io.ByteArrayOutputStream()
    var round = 0
    var done = false
    while (!done) {
      block.reset()
      block.write(pwd); block.write(k); block.write(udata)
      val one = block.toByteArray
      val k1 = new Array[Byte](one.length * 64)
      var j = 0
      while (j < 64) {
        System.arraycopy(one, 0, k1, j * one.length, one.length); j += 1
      }
      val c = Cipher.getInstance("AES/CBC/NoPadding")
      c.init(Cipher.ENCRYPT_MODE,
        new SecretKeySpec(k.take(16), "AES"),
        new IvParameterSpec(k.slice(16, 32)))
      val e = c.doFinal(k1)
      val mod = e.take(16).map(_ & 0xff).sum % 3
      k = sha(if (mod == 0) "SHA-256" else if (mod == 1) "SHA-384" else "SHA-512", e)
      round += 1
      if (round >= 64 && (e(e.length - 1) & 0xff) <= round - 32) done = true
    }
    k.take(32)
  }

  /** Algorithm 11 (validate the EMPTY user password against /U) plus
    * Algorithm 2.A steps f-g (decrypt /UE into the file key). /U is
    * 48 bytes: hash(32) ++ validation salt(8) ++ key salt(8); a hash
    * mismatch means a REAL user password — None, fail closed. The
    * /UE decrypt is AES-256-CBC, zero IV, no padding. */
  def fileKeyV5(r: Int, u: Array[Byte], ue: Array[Byte]): Option[Array[Byte]] =
    try {
      if (u.length < 48 || ue.length < 32) return None
      val empty = Array.emptyByteArray
      val want = hash2B(r, empty, u.slice(32, 40))
      if (!java.util.Arrays.equals(want, u.take(32))) return None
      val ik = hash2B(r, empty, u.slice(40, 48))
      val c = Cipher.getInstance("AES/CBC/NoPadding")
      c.init(Cipher.DECRYPT_MODE, new SecretKeySpec(ik, "AES"),
        new IvParameterSpec(new Array[Byte](16)))
      Some(c.doFinal(ue.take(32)))
    } catch { case _: Exception => None }

  /** Algorithm 13's integrity gate on /Perms: AES-256-ECB decrypt with
    * the file key must surface "adb" at bytes 9-11. A document whose
    * /Perms does not verify has a wrong key or tampered permissions —
    * fail closed. (Callers tolerate an ABSENT /Perms: some R5-era
    * producers omitted it.) */
  def checkPerms(fileKey: Array[Byte], perms: Array[Byte]): Boolean =
    try {
      if (perms.length < 16) return false
      val c = Cipher.getInstance("AES/ECB/NoPadding")
      c.init(Cipher.DECRYPT_MODE, new SecretKeySpec(fileKey, "AES"))
      val d = c.doFinal(perms.take(16))
      d(9) == 'a'.toByte && d(10) == 'd'.toByte && d(11) == 'b'.toByte
    } catch { case _: Exception => false }

  private val AesSalt = Array[Byte](0x73, 0x41, 0x6C, 0x54) // "sAlT"

  /** Algorithm 1's per-object key: MD5(fileKey ++ objNum LE24 ++
    * gen LE16 [++ sAlT for AES]), truncated to min(n+5, 16). V5 has
    * NO per-object key (§7.6.4.2 note 2): the file key encrypts every
    * string and stream directly. */
  def objKey(ctx: Ctx, num: Int, gen: Int): Array[Byte] = {
    if (ctx.v5) return ctx.fileKey
    val tail = Array[Byte](
      (num & 0xff).toByte, ((num >> 8) & 0xff).toByte,
      ((num >> 16) & 0xff).toByte,
      (gen & 0xff).toByte, ((gen >> 8) & 0xff).toByte)
    val h =
      if (ctx.aes) md5(ctx.fileKey, tail, AesSalt)
      else md5(ctx.fileKey, tail)
    h.take(math.min(ctx.fileKey.length + 5, 16))
  }

  /** Decrypt one stream's bytes. AESV2 payloads carry a 16-byte IV
    * prefix and PKCS#5-style block padding; RC4 is a plain keystream.
    * Any failure → empty (fail closed). */
  def decrypt(ctx: Ctx, num: Int, gen: Int, data: Array[Byte]): Array[Byte] =
    try {
      val key = objKey(ctx, num, gen)
      if (ctx.aes) {
        if (data.length < 32 || data.length % 16 != 0) return Array.emptyByteArray
        val c = Cipher.getInstance("AES/CBC/PKCS5Padding")
        c.init(Cipher.DECRYPT_MODE, new SecretKeySpec(key, "AES"),
          new IvParameterSpec(data.take(16)))
        c.doFinal(data, 16, data.length - 16)
      } else {
        val c = Cipher.getInstance("ARCFOUR")
        c.init(Cipher.DECRYPT_MODE, new SecretKeySpec(key, "ARCFOUR"))
        c.doFinal(data)
      }
    } catch { case _: Exception => Array.emptyByteArray }

}
