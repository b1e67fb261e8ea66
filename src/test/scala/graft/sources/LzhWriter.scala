package graft.sources

/** Writes `-lh0-` (stored) LZH archives for tests: level-0 or level-1
  * headers, each entry's CRC-16 in its header as Lha.extract checks
  * it. Entries are stored as given; `crlf` turns LF text into the
  * CRLF form the official archives carry. */
object LzhWriter {

  def crlf(lf: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(lf.length + lf.length / 16)
    lf.foreach { b =>
      if (b == '\n') out.write('\r')
      out.write(b)
    }
    out.toByteArray
  }

  def archive(level: Int, entries: Seq[(String, Array[Byte])]): Array[Byte] = {
    require(level == 0 || level == 1, s"header level $level")
    val out = new java.io.ByteArrayOutputStream()
    entries.foreach { case (name, data) => out.write(entry(level, name, data)) }
    out.write(0) // end-of-archive marker
    out.toByteArray
  }

  private def entry(level: Int, name: String, data: Array[Byte]): Array[Byte] = {
    val nameBytes = name.getBytes("ASCII")
    // level 1 carries one extension header (a Unix mtime, type 0x54):
    // type byte + 4 data bytes + the 2-byte size of the next (none)
    val ext =
      if (level == 1) Array[Byte](0x54, 0, 0, 0, 0, 0, 0) else Array.empty[Byte]
    val h = new java.io.ByteArrayOutputStream()
    def le(v: Long, n: Int): Unit =
      (0 until n).foreach(i => h.write((v >>> (8 * i)).toInt & 0xff))
    h.write(0) // header size, patched below
    h.write(0) // header checksum, patched below
    h.write("-lh0-".getBytes("ASCII"))
    le(data.length.toLong + ext.length, 4) // packed size (+ ext headers)
    le(data.length.toLong, 4) // original size
    le(0x51120000L, 4) // DOS mtime: 2020-08-18 00:00
    h.write(if (level == 1) 0x20 else 0)
    h.write(level)
    h.write(nameBytes.length)
    h.write(nameBytes)
    le(Lha.crc16(data).toLong, 2)
    if (level == 1) {
      h.write('U') // OS id
      le(ext.length.toLong, 2) // size of the first extension header
    }
    val head = h.toByteArray
    head(0) = (head.length - 2).toByte
    head(1) = head.drop(2).map(_ & 0xff).sum.toByte
    head ++ ext ++ data
  }
}
