package graft.sources

/** Minimal LHA/LZH reader for `-lh5-` archives (and `-lh0-` stored
  * entries) — the container format of the official boatrace downloads
  * (SURVEY §2.1 S3; reference decompresses via the `lhafile` Python
  * package, main.py:89-100). Implemented from the public LZH format
  * description (level-0/level-1 headers; `-lh5-` = LZSS over an 8 KiB
  * window + per-block dynamic Huffman, the scheme of Okumura's ar002):
  * no external dependencies, pure JVM, usable inside executor-side
  * `flatMap` over `binaryFile` rows.
  *
  * Verified differentially: decoding every August-2020 archive in the
  * reference corpus reproduces the corresponding extracted TXT golden
  * byte-for-byte (LhaSpec).
  */
object Lha {

  final case class Entry(name: String, data: Array[Byte])

  /** Cap on an `-lh5-` entry's declared original size, checked before
    * the output is allocated: a day file is ~150 KB, and a corrupt
    * size field must not allocate up to 4 GiB. (`-lh0-` needs no cap:
    * its original size must equal the stored data length.) */
  private[sources] val MaxEntryBytes = 16 << 20

  /** All entries of an archive. Fails fast on unsupported methods and
    * on an entry whose CRC-16 does not match its header. */
  def extract(archive: Array[Byte]): Seq[Entry] = {
    val out = Seq.newBuilder[Entry]
    var pos = 0
    while (pos + 21 < archive.length && (archive(pos) & 0xff) != 0) {
      val headSize = archive(pos) & 0xff
      val method = new String(archive, pos + 2, 5, "ASCII")
      def le32(o: Int): Long =
        (archive(o) & 0xffL) | ((archive(o + 1) & 0xffL) << 8) |
          ((archive(o + 2) & 0xffL) << 16) | ((archive(o + 3) & 0xffL) << 24)
      val packed = le32(pos + 7)
      val orig = le32(pos + 11)
      val level = archive(pos + 20) & 0xff
      if (level > 1)
        throw new UnsupportedOperationException(s"LZH header level $level")
      def le16(o: Int): Int = (archive(o) & 0xff) | ((archive(o + 1) & 0xff) << 8)
      // levels 0 and 1 share the layout up to the name and its CRC
      val nameLen = archive(pos + 21) & 0xff
      val name = new String(archive, pos + 22, nameLen, "ASCII")
      val hdrCrc = le16(pos + 22 + nameLen)
      val (dataStart, dataLen) =
        if (level == 0) (pos + 2 + headSize, packed.toInt)
        else {
          // skip extension headers; `packed` includes their bytes
          var extTotal = 0
          var extOff = pos + 2 + headSize
          var extSize = le16(extOff - 2)
          while (extSize != 0) {
            extTotal += extSize
            extOff += extSize
            extSize = le16(extOff - 2)
          }
          (extOff, packed.toInt - extTotal)
        }
      def corrupt(why: String) = new java.io.IOException(s"$name: $why")
      if (dataLen < 0 || dataStart.toLong + dataLen > archive.length)
        throw corrupt(s"$dataLen data bytes run past the archive's end")
      if (method == "-lh0-" && orig != dataLen)
        throw corrupt(s"stored entry declares $orig bytes but holds $dataLen")
      if (method == "-lh5-" && orig > MaxEntryBytes)
        throw corrupt(
          s"declared size $orig exceeds the $MaxEntryBytes-byte entry cap")
      val data = decode(method, archive, dataStart, dataLen, orig.toInt)
      val crc = crc16(data)
      if (crc != hdrCrc)
        throw new java.io.IOException(
          f"$name: CRC mismatch (got $crc%04x, header $hdrCrc%04x)")
      out += Entry(name, data)
      pos = dataStart + dataLen
    }
    out.result()
  }

  /** CRC-16/ARC (poly 0xA001 reflected), the LZH content checksum. */
  private[sources] def crc16(data: Array[Byte]): Int = {
    var crc = 0
    var i = 0
    while (i < data.length) {
      crc ^= data(i) & 0xff
      var b = 0
      while (b < 8) {
        crc = if ((crc & 1) != 0) (crc >>> 1) ^ 0xa001 else crc >>> 1
        b += 1
      }
      i += 1
    }
    crc
  }

  /** CRLF → LF on raw CP932 bytes (safe: 0x0D/0x0A are never trail
    * bytes of a CP932 double-byte sequence). The reference's committed
    * TXT corpus is LF-normalized; parsing operates on that form. */
  def normalizeNewlines(data: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](data.length)
    var o = 0
    var i = 0
    while (i < data.length) {
      if (!(data(i) == '\r' && i + 1 < data.length && data(i + 1) == '\n')) {
        out(o) = data(i)
        o += 1
      }
      i += 1
    }
    java.util.Arrays.copyOf(out, o)
  }

  private def decode(method: String, buf: Array[Byte], off: Int, packed: Int,
      orig: Int): Array[Byte] = method match {
    case "-lh0-" => java.util.Arrays.copyOfRange(buf, off, off + orig)
    case "-lh5-" => new Lh5Decoder(buf, off, packed).decode(orig)
    case m => throw new UnsupportedOperationException(s"LZH method $m")
  }

  /** `-lh5-`: 13-bit window LZSS, match 3..256, two dynamic Huffman
    * alphabets per block (510 literal/length codes; 14 distance-slot
    * codes whose lengths are themselves Huffman-coded over a 19-symbol
    * run-length alphabet). */
  private final class Lh5Decoder(src: Array[Byte], off: Int, len: Int) {
    private val DicBit = 13
    private val DicSiz = 1 << DicBit
    private val Threshold = 3
    private val NC = 256 + 256 - Threshold + 1 // 510
    private val NT = 19 // code-length alphabet
    private val NP = DicBit + 1 // 14 distance slots
    private val CBit = 9
    private val TBit = 5
    private val PBit = 4

    // MSB-first bit reader
    private var bytePos = off
    private val end = off + len
    private var bitBuf = 0L
    private var bitCnt = 0
    private def need(n: Int): Unit =
      while (bitCnt < n) {
        val b = if (bytePos < end) src(bytePos) & 0xff else 0
        bytePos += 1
        bitBuf = (bitBuf << 8) | b
        bitCnt += 8
      }
    private def getBits(n: Int): Int = {
      if (n == 0) return 0
      need(n)
      val v = ((bitBuf >>> (bitCnt - n)) & ((1L << n) - 1)).toInt
      bitCnt -= n
      v
    }

    /** Canonical Huffman decoder over `lens` (0 = unused symbol):
      * codes assigned in symbol order within each length, shorter
      * lengths first. */
    private final class Huff(lens: Array[Int]) {
      private val maxLen: Int = {
        var m = 0
        var i = 0
        while (i < lens.length) { if (lens(i) > m) m = lens(i); i += 1 }
        m
      }
      private val count = new Array[Int](maxLen + 1)
      locally {
        var i = 0
        while (i < lens.length) { if (lens(i) > 0) count(lens(i)) += 1; i += 1 }
      }
      private val firstCode = new Array[Int](maxLen + 1)
      private val offset = new Array[Int](maxLen + 1)
      locally {
        var code = 0
        var total = 0
        var l = 1
        while (l <= maxLen) {
          firstCode(l) = code
          offset(l) = total
          code = (code + count(l)) << 1
          total += count(l)
          l += 1
        }
      }
      private val syms: Array[Int] = {
        val a = new Array[Int](count.sum)
        val next = offset.clone()
        var i = 0
        while (i < lens.length) {
          if (lens(i) > 0) { a(next(lens(i))) = i; next(lens(i)) += 1 }
          i += 1
        }
        a
      }

      def decodeSym(): Int = {
        var code = 0
        var l = 0
        while (l < maxLen) {
          code = (code << 1) | getBits(1)
          l += 1
          val d = code - firstCode(l)
          if (d >= 0 && d < count(l)) return syms(offset(l) + d)
        }
        throw new IllegalStateException("bad Huffman stream")
      }
    }

    private var blockSize = 0
    private var cTable: Huff = null
    private var pTable: Huff = null
    private var cConst = -1 // constant-symbol shortcut when table is degenerate
    private var pConst = -1

    /** read a run-length-coded length table (shared by the NT and NP
      * alphabets). Returns (lens, constSymbol or -1). */
    private def readPtLen(n: Int, nbit: Int, iSpecial: Int): (Array[Int], Int) = {
      val lens = new Array[Int](n)
      val k = getBits(nbit)
      if (k == 0) {
        (lens, getBits(nbit))
      } else {
        var i = 0
        while (i < k && i < n) {
          var c = getBits(3)
          if (c == 7) { while (getBits(1) == 1) c += 1 }
          lens(i) = c
          i += 1
          if (i == iSpecial) {
            var zeros = getBits(2)
            while (zeros > 0) { lens(i) = 0; i += 1; zeros -= 1 }
          }
        }
        (lens, -1)
      }
    }

    private def readCLen(pt: Huff, ptConst: Int): Unit = {
      val lens = new Array[Int](NC)
      val n = getBits(CBit)
      if (n == 0) {
        cConst = getBits(CBit)
        cTable = null
      } else {
        var i = 0
        while (i < n && i < NC) {
          val c = if (ptConst >= 0) ptConst else pt.decodeSym()
          if (c <= 2) {
            val count = c match {
              case 0 => 1
              case 1 => getBits(4) + 3
              case _ => getBits(CBit) + 20
            }
            var z = count
            while (z > 0 && i < NC) { lens(i) = 0; i += 1; z -= 1 }
          } else {
            lens(i) = c - 2
            i += 1
          }
        }
        cConst = -1
        cTable = new Huff(lens)
      }
    }

    private def readBlockHead(): Unit = {
      blockSize = getBits(16)
      val (tLens, tConst) = readPtLen(NT, TBit, 3)
      val tTable = if (tConst >= 0) null else new Huff(tLens)
      readCLen(tTable, tConst)
      val (pLens, pc) = readPtLen(NP, PBit, -1)
      if (pc >= 0) { pConst = pc; pTable = null }
      else { pConst = -1; pTable = new Huff(pLens) }
    }

    private def decodeC(): Int = {
      if (blockSize == 0) readBlockHead()
      blockSize -= 1
      if (cConst >= 0) cConst else cTable.decodeSym()
    }

    private def decodeP(): Int = {
      val slot = if (pConst >= 0) pConst else pTable.decodeSym()
      if (slot <= 1) slot else (1 << (slot - 1)) + getBits(slot - 1)
    }

    def decode(orig: Int): Array[Byte] = {
      val out = new Array[Byte](orig)
      var r = 0
      while (r < orig) {
        val c = decodeC()
        if (c <= 255) {
          out(r) = c.toByte
          r += 1
        } else {
          val matchLen = c - 256 + Threshold
          val dist = decodeP() + 1
          var i = 0
          while (i < matchLen && r < orig) {
            out(r) = if (r - dist >= 0) out(r - dist) else ' '.toByte
            r += 1
            i += 1
          }
        }
      }
      out
    }
  }
}
