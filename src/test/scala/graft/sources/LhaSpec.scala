package graft.sources

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Differential golden test for the lh5 decoder: every August-2020
  * archive in the reference corpus must decompress to exactly the
  * bytes of its committed extracted TXT. Generated `-lh0-` archives
  * check the header levels and the CRC without that corpus. */
class LhaSpec extends AnyFunSuite {

  private val lzhDir = Paths.get("/root/reference/lzh")
  private val txtDir = Paths.get("/root/reference/txt")

  test("every 2020-08 K/B archive decodes byte-identically to txt/ goldens") {
    val archives = Files.list(lzhDir).toArray.map(_.toString)
      .filter(p => p.contains("2020-08"))
      .sorted
    assert(archives.length === 62) // 31 days × (K + B)
    var checked = 0
    for (a <- archives) {
      // extract() verifies the per-entry CRC16, so decompression
      // correctness holds independent of the golden comparison.
      val entries = Lha.extract(Files.readAllBytes(Paths.get(a)))
      assert(entries.nonEmpty, s"$a: no entries")
      for (e <- entries) {
        val golden = txtDir.resolve(e.name)
        assert(Files.exists(golden), s"$a: unexpected entry ${e.name}")
        // goldens are git-LF-normalized; raw archive content is CRLF
        val normalized = Lha.normalizeNewlines(e.data)
        val expected = Files.readAllBytes(golden)
        assert(normalized.length === expected.length,
          s"$a/${e.name}: size ${normalized.length} != ${expected.length}")
        assert(java.util.Arrays.equals(normalized, expected),
          s"$a/${e.name}: content mismatch")
        checked += 1
      }
    }
    assert(checked === 62)
  }

  /** Two CRLF text entries (one CP932) plus arbitrary binary bytes. */
  private val entries: Seq[(String, Array[Byte])] = Seq(
    "K200827.TXT" -> LzhWriter.crlf(
      "＊＊＊　競走成績　＊＊＊\n  01  1 3111\n".getBytes("windows-31j")),
    "B200827.TXT" -> LzhWriter.crlf("a\nb\n".getBytes("ASCII")),
    "bin" -> Array.tabulate[Byte](300)(i => (i * 7).toByte))

  test("generated -lh0- archives round-trip with level-0 and level-1 headers") {
    for (level <- Seq(0, 1)) {
      val got = Lha.extract(LzhWriter.archive(level, entries))
      assert(got.map(_.name) === entries.map(_._1), s"level $level")
      got.zip(entries).foreach { case (e, (n, data)) =>
        assert(java.util.Arrays.equals(e.data, data), s"level $level $n")
      }
    }
  }

  test("a wrong CRC raises an IOException naming the entry, at either " +
      "header level") {
    for (level <- Seq(0, 1)) {
      val archive = LzhWriter.archive(level, entries)
      // the last entry's data ends right before the end-of-archive byte
      archive(archive.length - 2) = (archive(archive.length - 2) ^ 0x10).toByte
      val e = intercept[java.io.IOException](Lha.extract(archive))
      assert(e.getMessage.contains("bin: CRC mismatch"), s"level $level")
    }
  }

  test("a corrupt original-size field fails with an IOException naming " +
      "the entry before anything is allocated, for -lh0- and -lh5-") {
    // level-0 header: method at offset 2, original size at offset 11
    val one = Seq("K200827.TXT" -> "x\r\n".getBytes("ASCII"))
    for (method <- Seq("-lh0-", "-lh5-");
        size <- Seq(0x7ffffff0L, 256L << 20, 0xffffffffL, 0x80000000L)) {
      val archive = LzhWriter.archive(0, one)
      System.arraycopy(method.getBytes("ASCII"), 0, archive, 2, 5)
      (0 until 4).foreach(i =>
        archive(11 + i) = ((size >>> (8 * i)) & 0xff).toByte)
      val t0 = System.nanoTime()
      val e = intercept[java.io.IOException](Lha.extract(archive))
      val ms = (System.nanoTime() - t0) / 1e6
      assert(e.getMessage.startsWith("K200827.TXT: "), s"$method $size")
      assert(ms < 200, s"$method $size took $ms ms")
    }
  }

  test("decoder rejects unknown methods instead of corrupting output") {
    val fake = new Array[Byte](64)
    fake(0) = 33
    System.arraycopy("-lz9-".getBytes("ASCII"), 0, fake, 2, 5)
    assertThrows[UnsupportedOperationException](Lha.extract(fake))
  }
}
