package graft.plans

import java.nio.charset.{CharacterCodingException, CodingErrorAction, StandardCharsets}
import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Mojibake repair (the ftfy core case, deterministic subset): text
  * whose UTF-8 bytes were once decoded as Windows-1252 reads as
  * "cafÃ©" / "â€”"-style garbage. The reverse transform — re-encode
  * the chars as CP1252 bytes and decode those bytes as UTF-8 — is only
  * accepted when it is LOSSLESS AND SHRINKING:
  *
  *  - every char must map back to a CP1252 byte (an unmappable char
  *    proves the text was never CP1252-decoded),
  *  - the byte sequence must be STRICTLY valid UTF-8 (real Latin text
  *    like "café" re-encodes to 0xE9, which is no UTF-8 sequence —
  *    rejected, text untouched),
  *  - the decode must shorten the string (genuine mojibake always
  *    does: ≥2 garbage chars collapse into 1 real one).
  *
  * The byte↔char table is "sloppy" Windows-1252 — the five bytes
  * CP1252 leaves undefined (81 8D 8F 90 9D) map to their C1 control
  * chars, exactly ftfy's convention — so the table is a BIJECTION on
  * all 256 bytes and double-encoded mojibake survives the round trip
  * (strict JDK windows-1252 turns those bytes into U+FFFD and loses
  * the text). Double encoding repairs by iterating to a bounded
  * fixpoint. Clean ASCII and real Latin-1 text pass through
  * bit-identically, so the repair is safe corpus-wide as a scan-local
  * projection.
  */
object Mojibake {

  // 0x80..0x9F of Windows-1252; undefined slots fall back to the C1
  // control char (sloppy-1252)
  private val High: Array[Char] = {
    val defs = Map(
      0x80 -> '€', 0x82 -> '‚', 0x83 -> 'ƒ', 0x84 -> '„',
      0x85 -> '…', 0x86 -> '†', 0x87 -> '‡', 0x88 -> 'ˆ',
      0x89 -> '‰', 0x8A -> 'Š', 0x8B -> '‹', 0x8C -> 'Œ',
      0x8E -> 'Ž', 0x91 -> '‘', 0x92 -> '’', 0x93 -> '“',
      0x94 -> '”', 0x95 -> '•', 0x96 -> '–', 0x97 -> '—',
      0x98 -> '˜', 0x99 -> '™', 0x9A -> 'š', 0x9B -> '›',
      0x9C -> 'œ', 0x9E -> 'ž', 0x9F -> 'Ÿ')
    Array.tabulate(32)(i => defs.getOrElse(0x80 + i, (0x80 + i).toChar))
  }

  private val CharToByte: java.util.HashMap[Character, java.lang.Byte] = {
    val m = new java.util.HashMap[Character, java.lang.Byte](512)
    var b = 0
    while (b < 256) {
      m.put(Character.valueOf(decodeByte(b)), java.lang.Byte.valueOf(b.toByte))
      b += 1
    }
    m
  }

  private def decodeByte(b: Int): Char =
    if (b >= 0x80 && b <= 0x9F) High(b - 0x80) else b.toChar

  /** The forward corruption: raw UTF-8 bytes read as (sloppy) CP1252 —
    * how mojibake comes to exist; tests and demos plant it with this. */
  def utf8AsCp1252(clean: String): String = {
    val bytes = clean.getBytes(StandardCharsets.UTF_8)
    val out = new Array[Char](bytes.length)
    var i = 0
    while (i < bytes.length) { out(i) = decodeByte(bytes(i) & 0xFF); i += 1 }
    new String(out)
  }

  private def fixOnce(s: String): String = {
    // cheap reject: pure ASCII cannot be mojibake
    var suspicious = false
    var i = 0
    while (i < s.length && !suspicious) {
      if (s.charAt(i) >= 0x80) suspicious = true
      i += 1
    }
    if (!suspicious) return s
    val bytes = new Array[Byte](s.length)
    i = 0
    while (i < s.length) {
      val b = CharToByte.get(Character.valueOf(s.charAt(i)))
      if (b == null) return s // unmappable char: never was CP1252-decoded
      bytes(i) = b.byteValue
      i += 1
    }
    try {
      val dec = StandardCharsets.UTF_8.newDecoder()
        .onMalformedInput(CodingErrorAction.REPORT)
        .onUnmappableCharacter(CodingErrorAction.REPORT)
      val out = dec.decode(ByteBuffer.wrap(bytes)).toString
      if (out.length < s.length) out else s
    } catch {
      case _: CharacterCodingException => s
    }
  }

  /** The kernel: iterate [[fixOnce]] to a bounded
    * fixpoint — double-encoded mojibake needs two rounds. */
  def fixKernel(input: UTF8String): UTF8String = {
    var s = input.toString
    var rounds = 0
    var changed = true
    while (changed && rounds < 4) {
      val next = fixOnce(s)
      changed = next ne s
      s = next
      rounds += 1
    }
    if (rounds == 1 && !changed) input else UTF8String.fromString(s)
  }
}

object MojibakeColumns {
  def fixMojibake(c: Column): Column =
    KernelCall.column("fixmojibake", Mojibake, "fixKernel", StringType, Seq(c))
}
