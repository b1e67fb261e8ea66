package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{conv, md5, substring}

/** Primitive-loop kernels for the text-dedup hot path. Spark's
  * higher-order array functions (transform / aggregate / sequence /
  * slice) are CodegenFallback — interpreted per element — which makes
  * shingling + signature computation the dominant cost of the MinHash
  * pipeline. These kernels compute exactly the same values in tight
  * JVM loops; everything relational (banding joins, candidate
  * generation, Jaccard confirm) stays declarative on top.
  *
  * Semantics mirror the SQL construction exactly:
  *   tokenize   = trim spaces, split on \s+            (split(trim(text),'\s+'))
  *   shingles   = distinct 3-grams, tail-truncating    (w[i:i+2], i ≤ max(n-2,1))
  *   hash       = md5 first-8-hex as uint32            (('0x'||substr(md5,1,8))::BIGINT)
  *   minhash_k  = min over shingles of ((2k+1)h + 7919k) mod 4294967311
  */
object TextKernels {

  /** The engine-wide deterministic hash rank: md5 of the (stringified)
    * key, first 8 hex chars read as an unsigned 32-bit value. One
    * definition, three dialects, all value-identical by construction:
    * this Column form (Spark `conv`), the [[mdHash32Sql]] DuckDB form
    * interpolated into the declared oracles, and the JVM-loop form
    * `VectorKernels.md5Hex8` used inside mapPartitions kernels. Every
    * split/shard/sample/cap operator derives its bucket from here, so
    * membership is a pure function of the key — reproducible on any
    * cluster, any partitioning, either engine. The explicit string
    * cast is a no-op on string input (Catalyst elides it / DuckDB
    * VARCHAR→VARCHAR is identity), so one signature serves both key
    * types. */
  def mdHash32(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 8), 16, 10).cast("long")

  /** [[mdHash32]] folded into a uniform bucket in [0, k). */
  def mdBucket(c: Column, k: Int): Column = mdHash32(c) % k

  /** 60-bit variant (first 15 hex chars): the finer rank used where
    * 32 bits of resolution would collide too often (per-domain caps,
    * temperature sampling thresholds). 60 bits — not 64 — keeps the
    * value non-negative in a BIGINT on both engines. Mirrors
    * `VectorKernels.md5Hex15`. */
  def mdHash60(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 15), 16, 10).cast("long")

  /** DuckDB dialect of [[mdHash32]], for interpolation into oracle
    * SQL — the oracle literal and the engine expression derive from
    * this one file, so they cannot drift apart. */
  def mdHash32Sql(e: String): String =
    s"('0x' || substr(md5(CAST($e AS VARCHAR)), 1, 8))::BIGINT"

  /** DuckDB dialect of [[mdBucket]]. */
  def mdBucketSql(e: String, k: Int): String = s"${mdHash32Sql(e)} % $k"

  /** DuckDB dialect of [[mdHash60]]. */
  def mdHash60Sql(e: String): String =
    s"('0x' || substr(md5(CAST($e AS VARCHAR)), 1, 15))::BIGINT"

  private[graft] def tokenize(text: String): Array[String] = {
    // Spark `trim` strips 0x20 only (String.trim also strips \t\n —
    // not equivalent on arbitrary input).
    var b = 0
    var e = text.length
    while (b < e && text.charAt(b) == ' ') b += 1
    while (e > b && text.charAt(e - 1) == ' ') e -= 1
    text.substring(b, e).split("\\s+", -1)
  }

  private[graft] def shingles3(w: Array[String]): Array[String] = {
    val n = math.max(w.length - 2, 1)
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i < n) {
      val end = math.min(i + 3, w.length)
      seen.add(w.slice(i, end).mkString(" "))
      i += 1
    }
    seen.toArray(new Array[String](seen.size))
  }

  /** docs(doc_id, text) → (doc_id, s: distinct 3-shingle array). */
  def shingled(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.selectExpr("doc_id", "text").as[(Long, String)]
      .map { case (id, text) => (id, shingles3(tokenize(text))) }
      .toDF("doc_id", "s")
  }

  /** 32-bit TF-weighted SimHash per document — map-only (the
    * explode-per-bit relational form shuffles rows×32 for what is a
    * pure per-row computation; at scale this op must not shuffle at
    * all). Bit semantics identical to the SQL oracle: hash =
    * md5-first-8-hex, contribution ±tf per bit, fingerprint bit set
    * iff contribution > 0. */
  def simhash32(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.selectExpr("doc_id", "text").as[(Long, String)]
      .map { case (id, text) =>
        val counts = new java.util.HashMap[String, Long]()
        tokenize(text).foreach(w => counts.merge(w, 1L, _ + _))
        val contrib = new Array[Long](32)
        counts.forEach { (w, cnt) =>
          val h = VectorKernels.md5Hex8(w)
          var b = 0
          while (b < 32) {
            if (((h >>> b) & 1L) == 1L) contrib(b) += cnt
            else contrib(b) -= cnt
            b += 1
          }
        }
        var fp = 0L
        var b = 0
        while (b < 32) {
          if (contrib(b) > 0) fp |= (1L << b)
          b += 1
        }
        (id, fp)
      }
      .toDF("doc_id", "simhash")
  }

  /** 60-bit TF-weighted SimHash (d07's fingerprint widened for corpus
    * scale — see d14): same construction as simhash32 over the first
    * 15 md5 hex chars. 60 bits keeps the BIGINT non-negative so both
    * engines' shifts agree; the wider fingerprint is what lets the
    * banding use 15-bit band values (32768-way keyspace) without
    * losing the Hamming<=3 pigeonhole guarantee. */
  def simhash60(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.selectExpr("doc_id", "text").as[(Long, String)]
      .map { case (id, text) =>
        val counts = new java.util.HashMap[String, Long]()
        tokenize(text).foreach(w => counts.merge(w, 1L, _ + _))
        val contrib = new Array[Long](60)
        counts.forEach { (w, cnt) =>
          val h = VectorKernels.md5Hex15(w)
          var b = 0
          while (b < 60) {
            if (((h >>> b) & 1L) == 1L) contrib(b) += cnt
            else contrib(b) -= cnt
            b += 1
          }
        }
        var fp = 0L
        var b = 0
        while (b < 60) {
          if (contrib(b) > 0) fp |= (1L << b)
          b += 1
        }
        (id, fp)
      }
      .toDF("doc_id", "simhash")
  }

  /** Per-doc n-gram repetition signals (the Gopher-family quality
    * rules re-expressed as exact integers): for n∈{2,3}, the
    * occurrence count of the doc's most frequent n-gram and the total
    * occurrences of n-grams appearing more than once. All state is
    * per-document — a map-only kernel, zero shuffle at any corpus
    * size. The published filters threshold on these counts over
    * n_tokens (e.g. "top 2-gram fraction > 0.20 → drop"); keeping the
    * integers makes the row engine-exact and leaves the threshold to
    * the caller. */
  def repetitionSignals(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.selectExpr("doc_id", "text").as[(Long, String)]
      .map { case (id, text) =>
        val w = tokenize(text)
        def sig(n: Int): (Long, Long) =
          if (w.length < n) (0L, 0L)
          else {
            val m = new java.util.HashMap[String, Long]()
            var i = 0
            while (i <= w.length - n) {
              val sb = new java.lang.StringBuilder(w(i))
              var j = 1
              while (j < n) { sb.append(' ').append(w(i + j)); j += 1 }
              m.merge(sb.toString, 1L, _ + _)
              i += 1
            }
            var top = 0L
            var dup = 0L
            m.forEach { (_, c) =>
              if (c > top) top = c
              if (c > 1) dup += c
            }
            (top, dup)
          }
        val (t2, d2) = sig(2)
        val (t3, d3) = sig(3)
        (id, w.length.toLong, t2, d2, t3, d3)
      }
      .toDF("doc_id", "n_tokens", "top_bigram_n", "dup_bigram_n",
        "top_trigram_n", "dup_trigram_n")
  }

  private def md5HexFull(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val sb = new java.lang.StringBuilder(32)
    var i = 0
    while (i < 16) {
      sb.append(Character.forDigit((d(i) >> 4) & 0xf, 16))
      sb.append(Character.forDigit(d(i) & 0xf, 16))
      i += 1
    }
    sb.toString
  }

  /** 5-gram windows at stride 1, tail-truncating, count = max(n-4, 1)
    * — the shared gram rule of t04/t06 (`w[i:i+4]` in the oracles'
    * 1-based slice form; a short doc yields one truncated gram). */
  private def grams5(w: Array[String]): Array[String] = {
    val n = math.max(w.length - 4, 1)
    val out = new Array[String](n)
    var i = 0
    while (i < n) {
      val end = math.min(i + 5, w.length)
      out(i) = w.slice(i, end).mkString(" ")
      i += 1
    }
    out
  }

  /** t04's fingerprint — min full md5 hex over the 5-gram windows —
    * as a map-only kernel (round 20 — guide §1.2/§4.1: the
    * transform/array_min expression form is CodegenFallback,
    * interpreted per element). Lexicographic min over lowercase hex
    * matches array_min/list_min on both engines (hex is ASCII). */
  def docFingerprint(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.selectExpr("doc_id", "text").as[(Long, String)]
      .map { case (id, text) =>
        val gs = grams5(tokenize(text))
        var m = md5HexFull(gs(0))
        var i = 1
        while (i < gs.length) {
          val h = md5HexFull(gs(i))
          if (h.compareTo(m) < 0) m = h
          i += 1
        }
        (id, m)
      }
      .toDF("doc_id", "fingerprint")
  }

  /** t06's repetition counts — total and non-distinct 5-gram windows
    * per doc — as a map-only kernel (same CodegenFallback motivation
    * as [[docFingerprint]]; the old form built every gram string
    * through an interpreted transform and then array_distinct'ed it). */
  def repetitionRatio(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.selectExpr("doc_id", "text").as[(Long, String)]
      .map { case (id, text) =>
        val gs = grams5(tokenize(text))
        val seen = new java.util.HashSet[String]()
        var i = 0
        while (i < gs.length) { seen.add(gs(i)); i += 1 }
        val nRep = gs.length - seen.size
        (id, gs.length, nRep, nRep.toDouble / gs.length)
      }
      .toDF("doc_id", "n_grams", "n_repeated", "rep_ratio")
  }

  /** d16's collapsed duplicate-gram table — one row per DISTINCT
    * 8-token window (stride 1) per doc with >= 8 tokens: (gram
    * fingerprint, doc_id, c = occurrences). Map-only kernel (round
    * 20 — guide §1.2/§4.1): the old
    * explode(transform(sequence, slice → hash struct)) chain was
    * CodegenFallback — interpreted per window — and its
    * groupBy(gram, doc_id) collapse paid a corpus-wide exchange
    * whose partial-agg input was one row per WINDOW. A doc's windows
    * all live in its single input row, so the kernel collapses them
    * completely inside the scan and the widest exchange of the query
    * disappears. The fingerprint (md5 of the space-joined window,
    * read as two big-endian longs = 128 bits) is engine-INTERNAL:
    * only per-doc counts reach d16's declared output (the oracle
    * groups the real gram strings), so any deterministic
    * injective-on-data hash preserves the result; collision odds
    * ~ n²/2^129 at the 1e13 grams of a 100 TB corpus — same budget
    * as the previous dual-seed xxhash64 pair. */
  def gram8Counts(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.selectExpr("doc_id", "text").as[(Long, String)]
      .flatMap { case (id, text) =>
        // a NULL text contributes no grams, like a doc under 8 tokens
        // (the oracle's split of NULL yields no windows either)
        val w = if (text == null) Array.empty[String] else tokenize(text)
        if (w.length < 8) Iterator.empty
        else {
          val md = java.security.MessageDigest.getInstance("MD5")
          val counts = new java.util.HashMap[(Long, Long), Long]()
          val sb = new java.lang.StringBuilder
          val n = w.length - 7
          var i = 0
          while (i < n) {
            sb.setLength(0)
            var j = i
            while (j < i + 8) {
              if (j > i) sb.append(' ')
              sb.append(w(j)); j += 1
            }
            val dg = md.digest(
              sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            var h1 = 0L; var h2 = 0L
            var b = 0
            while (b < 8) { h1 = (h1 << 8) | (dg(b) & 0xffL); b += 1 }
            while (b < 16) { h2 = (h2 << 8) | (dg(b) & 0xffL); b += 1 }
            val k = (h1, h2)
            counts.put(k, counts.getOrDefault(k, 0L) + 1L)
            i += 1
          }
          import scala.jdk.CollectionConverters._
          counts.entrySet().iterator().asScala
            .map(e => (e.getKey, id, e.getValue))
        }
      }
      .toDF("gram", "doc_id", "c")
  }

  /** docs(doc_id, text) → (doc_id, s, sig: k minhashes). A NULL text
    * yields no row: the oracle's split of NULL has no shingles to
    * hash, so its signature is NULL and matches no band. */
  def minhashSignatures(spark: SparkSession, docs: DataFrame,
      k: Int): DataFrame = {
    import spark.implicits._
    docs.selectExpr("doc_id", "text").where("text IS NOT NULL")
      .as[(Long, String)]
      .map { case (id, text) =>
        val s = shingles3(tokenize(text))
        val hv = s.map(VectorKernels.md5Hex8)
        val sig = Array.tabulate(k) { ki =>
          var m = Long.MaxValue
          var i = 0
          while (i < hv.length) {
            val h = ((2L * ki + 1) * hv(i) + 7919L * ki) % 4294967311L
            if (h < m) m = h
            i += 1
          }
          m
        }
        (id, s, sig)
      }
      .toDF("doc_id", "s", "sig")
  }
}
