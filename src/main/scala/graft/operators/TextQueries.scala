package graft.operators

import org.apache.spark.sql.functions._

import graft.functions.TextKernels.{mdBucket, mdBucketSql}
import graft.sources.Tables

/** Text-analysis operators over the `documents` table — the
  * training-data-pipeline surface (language ID, quality scoring,
  * token counting, document fingerprinting). All four are pure
  * column-expression pipelines (whole-stage codegen, no UDFs), and all
  * four carry DuckDB oracles: the arithmetic is integer/exact so the
  * hashes match bit-for-bit.
  *
  * Scale: each query is a single scan + projection (no shuffle except
  * the final ORDER BY, which exists only for oracle determinism).
  */
object TextQueries {

  /** Dump the t08 expected-bytes table for the DuckDB oracle to join
    * against (called by Verify, same mechanism as the boatrace base
    * dump). Source of truth is the COMMITTED resource fixture
    * `graft/t08/<sf-basename>.csv` (generated by
    * tools/gen_t08_fixture.py from CPython zlib — independent of the
    * engine's Deflater; T08FixtureSpec pins fixture == live corpus).
    * An sf dir with no committed fixture FAILS the dump (round-13
    * advice): the old fallback dumped the engine's own Deflater
    * sizes, which made the oracle compare the engine to itself — an
    * echo that still read as a genuine pass in the verify artifact.
    * Every sf dir the driver or bench touches has a fixture; a new
    * one needs tools/gen_t08_fixture.py run once. */
  def dumpT08Expected(s: org.apache.spark.sql.SparkSession,
      sfDir: String, outDir: String): Unit = {
    val base = new java.io.File(sfDir).getName
    val res = getClass.getResourceAsStream(s"/graft/t08/$base.csv")
    if (res == null)
      throw new IllegalStateException(s"no committed t08 fixture for " +
        s"'$base' — dumping engine-computed deflate sizes would turn " +
        "the t08 oracle into an echo of the engine itself; generate " +
        "and commit one with tools/gen_t08_fixture.py")
    import s.implicits._
    val rows = scala.io.Source.fromInputStream(res, "UTF-8")
      .getLines().drop(1)
      .map { l =>
        val Array(a, b) = l.split(",", 2); (a.toLong, b.toInt)
      }.toSeq
    rows.toDF("doc_id", "n_compressed")
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/t08_expected")
  }

  val all: Seq[QueryDef] = Seq(

    // Whitespace tokenization + count (the BPE-ish regex variant of
    // token counting; corpus text is space-separated lowercase words).
    QueryDef(
      "t01_token_count",
      """SELECT doc_id,
        |       CAST(len(string_split_regex(trim(text), '\s+')) AS INT) AS n_tokens
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(split(trim(col("text")), "\\s+")).as("n_tokens"))
        .orderBy("doc_id")
    },

    // Quality scoring: length / distinct-token ratio / mean token
    // length — integer-derived doubles, bit-identical across engines.
    QueryDef(
      "t02_text_quality",
      """SELECT doc_id,
        |       CAST(length(text) AS INT) AS n_chars_m,
        |       CAST(len(w) AS INT) AS n_tokens,
        |       CAST(len(list_distinct(w)) AS INT) AS n_distinct,
        |       CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS distinct_ratio,
        |       CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(w) AS avg_token_len
        |FROM (SELECT doc_id, text,
        |        string_split_regex(trim(text), '\s+') AS w FROM documents) t
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .withColumn("w", split(trim(col("text")), "\\s+"))
        .select(
          col("doc_id"),
          length(col("text")).as("n_chars_m"),
          size(col("w")).as("n_tokens"),
          size(array_distinct(col("w"))).as("n_distinct"),
          (size(array_distinct(col("w"))).cast("double") / size(col("w")))
            .as("distinct_ratio"),
          (length(regexp_replace(col("text"), " ", "")).cast("double")
            / size(col("w"))).as("avg_token_len"))
        .orderBy("doc_id")
    },

    // Language ID by stopword-marker frequency (n-gram heuristic):
    // count marker substrings with exact integer arithmetic, argmax
    // with a fixed tie order. (The corpus `lang` column is synthetic
    // and unrelated to the text; this is the capability, scored on
    // determinism.)
    QueryDef(
      "t03_lang_id",
      """SELECT doc_id, c_en, c_es, c_de, c_fr,
        |       CASE WHEN c_en >= c_es AND c_en >= c_de AND c_en >= c_fr THEN 'en'
        |            WHEN c_es >= c_de AND c_es >= c_fr THEN 'es'
        |            WHEN c_de >= c_fr THEN 'de'
        |            ELSE 'fr' END AS lang_pred
        |FROM (
        |  SELECT doc_id,
        |    CAST((length(text) - length(replace(text, ' the ', ''))) / 5 AS INT) AS c_en,
        |    CAST((length(text) - length(replace(text, ' el ', ''))) / 4 AS INT)  AS c_es,
        |    CAST((length(text) - length(replace(text, ' der ', ''))) / 5 AS INT) AS c_de,
        |    CAST((length(text) - length(replace(text, ' le ', ''))) / 4 AS INT)  AS c_fr
        |  FROM documents) t
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      def cnt(marker: String) =
        ((length(col("text")) - length(regexp_replace(col("text"),
          java.util.regex.Pattern.quote(marker), ""))) / marker.length)
          .cast("int")
      Tables.documents(s, d)
        .select(col("doc_id"),
          cnt(" the ").as("c_en"), cnt(" el ").as("c_es"),
          cnt(" der ").as("c_de"), cnt(" le ").as("c_fr"))
        .withColumn("lang_pred",
          when(col("c_en") >= col("c_es") && col("c_en") >= col("c_de")
            && col("c_en") >= col("c_fr"), "en")
            .when(col("c_es") >= col("c_de") && col("c_es") >= col("c_fr"), "es")
            .when(col("c_de") >= col("c_fr"), "de")
            .otherwise("fr"))
        .orderBy("doc_id")
    },

    // Document fingerprint: minimum md5 over 5-word shingles (the
    // MinHash primitive with k=1, also a rolling-fingerprint stand-in;
    // lexicographic min over lowercase hex agrees across engines).
    QueryDef(
      "t04_doc_fingerprint",
      """SELECT doc_id,
        |       list_min(list_transform(generate_series(1, greatest(len(w)-4, 1)),
        |         i -> md5(array_to_string(w[i:i+4], ' ')))) AS fingerprint
        |FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        |      FROM documents) t
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      // map-only kernel (round 20): the transform/array_min form is
      // interpreted per element — see TextKernels.docFingerprint
      graft.functions.TextKernels
        .docFingerprint(s, Tables.documents(s, d))
        .orderBy("doc_id")
    },
    // Repetition ratio (the Gopher-class quality filter): fraction of
    // duplicate 5-grams — high values indicate boilerplate/spam.
    QueryDef(
      "t06_repetition_ratio",
      """WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        |           FROM documents),
        |g AS (SELECT doc_id,
        |        list_transform(generate_series(1, greatest(len(w)-4, 1)),
        |          i -> array_to_string(w[i:i+4], ' ')) AS gs
        |      FROM w)
        |SELECT doc_id, CAST(len(gs) AS INT) AS n_grams,
        |       CAST(len(gs) - len(list_distinct(gs)) AS INT) AS n_repeated,
        |       CAST(len(gs) - len(list_distinct(gs)) AS DOUBLE) / len(gs)
        |         AS rep_ratio
        |FROM g ORDER BY doc_id""".stripMargin) { (s, d) =>
      // map-only kernel (round 20): the interpreted transform built
      // every gram string per element — see TextKernels.repetitionRatio
      graft.functions.TextKernels
        .repetitionRatio(s, Tables.documents(s, d))
        .orderBy("doc_id")
    },

    // Stopword ratio (quality scoring input): fixed multilingual
    // stopword set, exact integer counts.
    QueryDef(
      "t07_stopword_ratio",
      """SELECT doc_id, CAST(len(w) AS INT) AS n_tokens,
        |       CAST(len(list_filter(w, x -> list_contains(
        |         ['the','a','of','and','in','el','le','der'], x))) AS INT)
        |         AS n_stop,
        |       CAST(len(list_filter(w, x -> list_contains(
        |         ['the','a','of','and','in','el','le','der'], x))) AS DOUBLE)
        |         / len(w) AS stop_ratio
        |FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        |      FROM documents) t
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val stops = Seq("the", "a", "of", "and", "in", "el", "le", "der")
      Tables.documents(s, d)
        .withColumn("w", split(trim(col("text")), "\\s+"))
        .withColumn("n_stop",
          size(filter(col("w"), x => x.isInCollection(stops))))
        .select(col("doc_id"), size(col("w")).as("n_tokens"),
          col("n_stop"),
          (col("n_stop").cast("double") / size(col("w"))).as("stop_ratio"))
        .orderBy("doc_id")
    },

    // Compression-ratio quality signal (C4/RefinedWeb-style): highly
    // compressible text is repetitive/low-information. Deflate itself
    // is not SQL-expressible, so the DuckDB oracle joins documents
    // against the COMMITTED expected-bytes fixture (one n_compressed
    // per doc_id, generated by tools/gen_t08_fixture.py from CPython's
    // zlib — the independent implementation, byte-identical to
    // Deflater(6) on stock madler zlib) which Verify dumps into its
    // outDir as `t08_expected`. n_bytes and the ratio are recomputed
    // natively in DuckDB, so the driver's gate gets real booleans
    // (rounds 11-12 carried this as `no_oracle`); the repo's
    // check_oracle.py additionally re-verifies against LIVE zlib.
    // Map-only (Deflater inside mapPartitions).
    QueryDef(
      "t08_compression_ratio",
      s"""SELECT d.doc_id AS doc_id,
         |       CAST(octet_length(encode(d.text)) AS INT) AS n_bytes,
         |       f.n_compressed,
         |       CASE WHEN octet_length(encode(d.text)) = 0 THEN 0.0
         |            ELSE CAST(f.n_compressed AS DOUBLE)
         |                 / octet_length(encode(d.text))
         |       END AS compression_ratio
         |FROM documents d
         |JOIN read_parquet(
         |  '${BoatraceQueries.OutDirToken}/t08_expected/*.parquet') f
         |  ON d.doc_id = f.doc_id
         |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      import s.implicits._
      Tables.documents(s, d)
        .select("doc_id", "text").as[(Long, String)]
        .mapPartitions { it =>
          // one native zlib stream per partition, reset per row (a
          // Deflater holds off-heap state — per-row init/free would be
          // millions of JNI allocations of pure overhead at scale)
          val deflater = new java.util.zip.Deflater(6)
          val chunk = new Array[Byte](64 * 1024)
          val out = it.map { case (id, text) =>
            val raw = text.getBytes("UTF-8")
            deflater.reset()
            deflater.setInput(raw)
            deflater.finish()
            // drain in fixed chunks: only the total size matters, and
            // incompressible input can exceed any input-sized buffer
            var z = 0
            while (!deflater.finished()) z += deflater.deflate(chunk)
            (id, raw.length, z,
              if (raw.length == 0) 0.0 else z.toDouble / raw.length)
          }
          new Iterator[(Long, Int, Int, Double)] {
            override def hasNext: Boolean = {
              val h = out.hasNext
              if (!h) deflater.end()
              h
            }
            override def next(): (Long, Int, Int, Double) = out.next()
          }
        }
        .toDF("doc_id", "n_bytes", "n_compressed", "compression_ratio")
        .orderBy("doc_id")
    },

    // BPE-ish regex tokenization (letters-run | digits-run | single
    // symbol) — the non-whitespace tokenizer variant; counts match
    // bit-exactly since both engines run the same regex class.
    QueryDef(
      "t05_bpe_tokens",
      """SELECT doc_id,
        |       CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))
        |            AS INT) AS n_bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(regexp_extract_all(col("text"),
            lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).as("n_bpe_tokens"))
        .orderBy("doc_id")
    },

    // Document chunking for training: fixed 200-char windows with a
    // 50-char overlap (stride 150) — the context-window packing step
    // of an LLM data pipeline. sequence()+explode is a codegen'd
    // generator: 1 doc → N chunk rows with NO shuffle (the ORDER BY
    // exists only for oracle determinism), so at 100 TB this stays a
    // map-only stage whose output partitioning follows the input.
    QueryDef(
      "t09_chunk_documents",
      """SELECT doc_id, CAST(gs / 150 AS INT) AS chunk_no,
        |       substr(text, CAST(gs AS INT) + 1, 200) AS chunk
        |FROM (SELECT doc_id, text,
        |        unnest(range(0, CAST(length(text) AS BIGINT), 150)) AS gs
        |      FROM documents WHERE length(text) > 0)
        |ORDER BY doc_id, chunk_no""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        // empty docs chunk to nothing (sequence/generate_series differ
        // on empty ranges, so both sides filter them out explicitly)
        .filter(length(col("text")) > 0)
        .select(col("doc_id"), col("text"),
          explode(sequence(lit(0), length(col("text")) - 1, lit(150)))
            .as("start"))
        .select(col("doc_id"), (col("start") / 150).cast("int").as("chunk_no"),
          col("text").substr(col("start") + 1, lit(200)).as("chunk"))
        .orderBy("doc_id", "chunk_no")
    },

    // PII redaction — the scrubbing pass of a training-data pipeline.
    // The synthetic corpus carries no natural PII, so BOTH engines
    // first plant a deterministic email + phone derived from doc_id
    // (identical strings by construction), then redact: the oracle
    // proves the redaction fired on every row and produced identical
    // output. Map-only (scan → two regexp_replace → project), no
    // shuffle; regexes are RE2/Java-compatible subset so the engines
    // agree. DuckDB needs the 'g' flag for replace-all (Spark's
    // regexp_replace is always global).
    QueryDef(
      "t11_pii_redact",
      """WITH aug AS (
        |  SELECT doc_id,
        |         text || ' contact user' || CAST(doc_id AS VARCHAR) ||
        |         '@mail.example.com or +1-555-' ||
        |         lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
        |  FROM documents)
        |SELECT doc_id,
        |       regexp_replace(regexp_replace(t,
        |         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |         '\+\d{1,2}-\d{3}-\d{4}', '<PHONE>', 'g') AS redacted,
        |       CAST(length(t) AS INT) AS len_raw
        |FROM aug ORDER BY doc_id""".stripMargin) { (s, d) =>
      val aug = concat(col("text"), lit(" contact user"),
        col("doc_id").cast("string"), lit("@mail.example.com or +1-555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
      Tables.documents(s, d)
        .select(col("doc_id"), aug.as("t"))
        .select(col("doc_id"),
          regexp_replace(regexp_replace(col("t"),
            "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
            "\\+\\d{1,2}-\\d{3}-\\d{4}", "<PHONE>").as("redacted"),
          length(col("t")).as("len_raw"))
        .orderBy("doc_id")
    },

    // Global vocabulary with counts, top-k by frequency — the
    // tokenizer-training / frequency-filter step. explode fans each
    // doc into tokens; the groupBy count does a map-side partial
    // aggregate BEFORE the shuffle, so shuffle volume is
    // O(#distinct tokens per partition), not O(#tokens) — the property
    // that makes a corpus-wide vocab feasible at 100 TB. Ties broken
    // by token for a deterministic LIMIT cut.
    QueryDef(
      "t10_vocab_topk",
      """SELECT token, count(*) AS n
        |FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
        |      FROM documents)
        |GROUP BY token ORDER BY n DESC, token LIMIT 100""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(explode(split(trim(col("text")), "\\s+")).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token")).limit(100)
    },

    // Unicode NFC normalization via the engine's native nfc_norm
    // expression (plans/NfcNormalize.scala — codegen, no UDF). The
    // corpus is ASCII, so each doc gets deterministic DECOMPOSED text
    // planted (e+U+0301, u+U+0308) on BOTH engines; normalization must
    // compose it (é, ü), shrinking the codepoint count. md5 over the
    // normalized string proves byte-identical output vs DuckDB's
    // nfc_normalize. Map-only; the reference's corpus motivates this
    // op (SURVEY §2.2: mixed-width text worked around, not
    // normalized).
    QueryDef(
      "t12_nfc_normalize",
      """WITH aug AS (
        |  SELECT doc_id,
        |         substr(text, 1, 40) || ' cafe' || chr(769) || ' u' ||
        |         chr(776) || 'ber' AS t
        |  FROM documents)
        |SELECT doc_id, CAST(length(t) AS INT) AS raw_len,
        |       CAST(length(nfc_normalize(t)) AS INT) AS norm_len,
        |       nfc_normalize(t) <> t AS changed,
        |       md5(nfc_normalize(t)) AS sig
        |FROM aug ORDER BY doc_id""".stripMargin) { (s, d) =>
      val planted = concat(substring(col("text"), 1, 40),
        lit(" cafe\u0301 u\u0308ber"))
      val norm = graft.plans.NfcNormalize.col(col("t"))
      Tables.documents(s, d)
        .select(col("doc_id"), planted.as("t"))
        .select(col("doc_id"),
          length(col("t")).as("raw_len"),
          length(norm).as("norm_len"),
          (norm =!= col("t")).as("changed"),
          md5(norm).as("sig"))
        .orderBy("doc_id")
    },

    // Corpus-frequency document scoring — the two-pass shape behind
    // frequency-based quality filters (a doc of globally-rare tokens
    // scores low; boilerplate of ultra-common tokens scores high):
    // pass 1 builds the global term-frequency table (map-side partial
    // agg, shuffle = O(distinct tokens)); pass 2 joins each token
    // occurrence to its global count and aggregates per doc. The mean
    // is emitted as an exact integer (freq_sum·10⁴ div n_tokens) —
    // integer division agrees bit-for-bit across engines where a
    // rounded double quotient can flip on ties.
    QueryDef(
      "t13_doc_token_freq",
      """WITH toks AS (SELECT doc_id,
        |         unnest(string_split_regex(trim(text), '\s+')) AS t
        |       FROM documents),
        |tf AS (SELECT t, count(*) AS f FROM toks GROUP BY t)
        |SELECT doc_id, count(*) AS n_tokens,
        |       CAST(sum(f) AS BIGINT) AS freq_sum, max(f) AS max_freq,
        |       CAST(sum(f) * 10000 // count(*) AS BIGINT) AS mean_freq_e4
        |FROM toks JOIN tf USING (t)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      val toks = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(split(trim(col("text")), "\\s+")).as("t"))
      val tf = toks.groupBy("t").agg(count(lit(1)).as("f"))
      toks.join(tf, "t")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum("f").as("freq_sum"), max("f").as("max_freq"))
        .withColumn("mean_freq_e4",
          expr("freq_sum * 10000 div n_tokens"))
        .orderBy("doc_id")
    },

    // LM-perplexity quality scoring, CCNet-style: train a unigram LM
    // on the corpus itself (token counts / total), score every doc by
    // its cross-entropy under that LM — low = typical corpus language
    // (the "head" a perplexity filter keeps), high = rare-token noise.
    // Two-pass shape like t13: pass 1 is a map-side-combined token
    // count (shuffle = O(distinct tokens)); pass 2 rejoins occurrences
    // to their counts ON THE SAME KEY — the count table comes out of
    // the shuffle already hash-partitioned by token, so the join
    // reuses that exchange — then one per-doc aggregate. The corpus
    // total is a 1-row broadcast. round(·,2) absorbs float-summation
    // ulp per the engine's float-aggregate parity rule; everything
    // else is integer. At 100 TB the count table is vocab-sized —
    // still join-able on the token key; nothing is ever collected.
    QueryDef(
      "t14_lm_quality",
      """WITH toks AS (SELECT doc_id,
        |         unnest(string_split_regex(trim(text), '\s+')) AS w
        |       FROM documents),
        |cnt AS (SELECT w, count(*) AS c FROM toks GROUP BY w),
        |tot AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM toks)
        |SELECT doc_id, count(*) AS n_tokens,
        |       round(-avg(log2(CAST(c AS DOUBLE) / n)), 2) AS xent
        |FROM toks JOIN cnt USING (w), tot
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      val toks = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(split(trim(col("text")), "\\s+")).as("w"))
      val cnt = toks.groupBy("w").agg(count(lit(1)).as("c"))
      val tot = toks.agg(count(lit(1)).cast("double").as("n"))
      toks.join(cnt, "w").crossJoin(broadcast(tot))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          round(-avg(log2(col("c").cast("double") / col("n"))), 2).as("xent"))
        .orderBy("doc_id")
    },

    // BPE tokenizer training, the inner loop: count adjacent symbol
    // pairs (character bigrams here — iteration 1 of BPE) weighted by
    // word frequency, report the top merge candidates. The critical
    // scale property is WHERE the pair fan-out runs: first collapse
    // the corpus to its word-frequency table (one map-side-combined
    // shuffle — the working set every real BPE trainer iterates on),
    // THEN explode bigrams over the vocab only — O(vocab · word_len)
    // rows instead of O(corpus tokens · word_len). A 100 TB corpus
    // with a 10M-word vocab fans out 10M rows, not 10T. Counts are
    // pure integers; the top-20 cut is tie-broken on the pair.
    QueryDef(
      "t15_bpe_pair_counts",
      """WITH wf AS (SELECT w, count(*) AS f FROM
        |        (SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
        |         FROM documents) t GROUP BY w),
        |pr AS (SELECT f, unnest(list_transform(generate_series(1, length(w)-1),
        |              i -> substr(w, CAST(i AS INT), 2))) AS pair
        |       FROM wf WHERE length(w) >= 2)
        |SELECT pair, CAST(sum(f) AS BIGINT) AS n
        |FROM pr GROUP BY pair ORDER BY n DESC, pair LIMIT 20""".stripMargin) {
      (s, d) =>
      val wf = Tables.documents(s, d)
        .select(explode(split(trim(col("text")), "\\s+")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("f"))
      wf.filter(length(col("w")) >= 2)
        .select(col("f"), explode(expr(
          "transform(sequence(1, length(w)-1), i -> substring(w, i, 2))"))
          .as("pair"))
        .groupBy("pair").agg(sum("f").as("n"))
        .orderBy(col("n").desc, col("pair")).limit(20)
    },

    // Gopher-family repetition filters: per-doc top-n-gram and
    // duplicated-n-gram occurrence counts (n = 2, 3) as exact
    // integers — the quality pipeline thresholds their ratio over
    // n_tokens ("top 2-gram fraction > 0.2 → drop" etc.). The Spark
    // side is a MAP-ONLY kernel (TextKernels.repetitionSignals): all
    // repetition state is per-document, so the op costs one scan and
    // zero shuffle at any corpus size. The SQL oracle computes the
    // identical integers the relational way — doc-keyed n-gram
    // explode + two groupBys — which is exactly the shuffle the
    // kernel avoids.
    QueryDef(
      "t16_repetition_signals",
      """WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+')
        |          AS ws FROM documents),
        |bg AS (SELECT doc_id, unnest(list_transform(
        |           generate_series(1, len(ws)-1), i -> ws[i] || ' ' ||
        |           ws[i+1])) AS g
        |       FROM toks WHERE len(ws) >= 2),
        |bga AS (SELECT doc_id, max(c) AS top_bigram_n,
        |          sum(c) FILTER (WHERE c > 1) AS dup_bigram_n
        |        FROM (SELECT doc_id, g, count(*) AS c FROM bg
        |              GROUP BY doc_id, g) GROUP BY doc_id),
        |tg AS (SELECT doc_id, unnest(list_transform(
        |           generate_series(1, len(ws)-2), i -> ws[i] || ' ' ||
        |           ws[i+1] || ' ' || ws[i+2])) AS g
        |       FROM toks WHERE len(ws) >= 3),
        |tga AS (SELECT doc_id, max(c) AS top_trigram_n,
        |          sum(c) FILTER (WHERE c > 1) AS dup_trigram_n
        |        FROM (SELECT doc_id, g, count(*) AS c FROM tg
        |              GROUP BY doc_id, g) GROUP BY doc_id)
        |SELECT t.doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
        |       CAST(coalesce(top_bigram_n, 0) AS BIGINT) AS top_bigram_n,
        |       CAST(coalesce(dup_bigram_n, 0) AS BIGINT) AS dup_bigram_n,
        |       CAST(coalesce(top_trigram_n, 0) AS BIGINT) AS top_trigram_n,
        |       CAST(coalesce(dup_trigram_n, 0) AS BIGINT) AS dup_trigram_n
        |FROM toks t LEFT JOIN bga USING (doc_id)
        |LEFT JOIN tga USING (doc_id)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      graft.functions.TextKernels
        .repetitionSignals(s, Tables.documents(s, d))
        .orderBy("doc_id")
    },

    // TF-IDF keyword extraction: each doc's top-3 terms by
    // tf · ln(N/df) — the labeling/routing step of a document
    // pipeline (and the classical explanation for WHY BM25's idf
    // works). Scale shape: tf is one (doc,term)-keyed partial agg, df
    // one term-keyed agg joined back on the SAME term exchange, and
    // the top-3 cut is a per-doc window — every shuffle keyed and
    // linear, no global ordering anywhere. Score stays a raw double
    // for ranking (identical on both engines: integer inputs, one
    // divide, one libm ln, one multiply) and is rounded only for
    // output.
    QueryDef(
      "t17_tfidf_keywords",
      """WITH tfs AS (SELECT doc_id, w AS term, count(*)::BIGINT AS tf FROM
        |        (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w
        |         FROM documents) t GROUP BY doc_id, term),
        |dfs AS (SELECT term, count(*)::BIGINT AS df FROM tfs GROUP BY term),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
        |sc AS (SELECT doc_id, term,
        |         tf * ln(n_docs / df) AS score
        |       FROM tfs JOIN dfs USING (term), n)
        |SELECT doc_id, term, CAST(rnk AS INT) AS rank,
        |       round(score, 4) AS tfidf
        |FROM (SELECT doc_id, term, score,
        |        row_number() OVER (PARTITION BY doc_id
        |            ORDER BY score DESC, term) AS rnk
        |      FROM sc) t
        |WHERE rnk <= 3 ORDER BY doc_id, rank""".stripMargin) { (s, d) =>
      val tfs = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(split(trim(col("text")), "\\s+")).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfs = tfs.groupBy("term").agg(count(lit(1)).as("df"))
      val n = Tables.documents(s, d)
        .agg(count(lit(1)).cast("double").as("n_docs"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(col("score").desc, col("term"))
      tfs.join(dfs, "term").crossJoin(broadcast(n))
        .select(col("doc_id"), col("term"),
          (col("tf") * log(col("n_docs") / col("df"))).as("score"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("doc_id"), col("term"), col("rnk").cast("int").as("rank"),
          round(col("score"), 4).as("tfidf"))
        .orderBy("doc_id", "rank")
    },

    // Hashed-bigram language-model quality score (the KenLM-style
    // perplexity filter of CCNet/RefinedWeb, reduced to its Spark
    // shape): train Laplace-smoothed conditional bigram counts on the
    // hi-tier sources (src0-3 = "curated quality data"), then score
    // every doc by its mean log2 P(w2|w1) under 4096-bin feature
    // hashing. Scale: BOTH model tables are bounded 4096-row aggs
    // (map-side combined, broadcast back) — the model NEVER grows
    // with the corpus; scoring is one map-side join pass + one
    // per-doc agg. Cross-engine determinism = the p09 scheme: per-
    // bigram log-probs quantized to 1e-4-unit integers (libm log2 is
    // ulp-stable at 4 decimals), INTEGER-summed per doc, one shared
    // floor(x+0.5) division chain at the end — no order-dependent
    // float addition anywhere. Docs with <2 tokens have no bigrams
    // and drop out on both engines.
    QueryDef(
      "t18_bigram_lm",
      raw"""WITH toks AS (SELECT doc_id, source,
        |          string_split_regex(trim(text), '\s+') AS ws
        |        FROM documents),
        |bg AS (SELECT doc_id, source,
        |         ${mdBucketSql("ws[i] || ' ' || ws[i+1]", 4096)} AS b,
        |         ${mdBucketSql("ws[i]", 4096)} AS c
        |       FROM (SELECT doc_id, source, ws,
        |               unnest(range(1, len(ws))) AS i
        |             FROM toks WHERE len(ws) >= 2) t),
        |cb AS (SELECT b, count(*) AS cb FROM bg
        |       WHERE source IN ('src0','src1','src2','src3') GROUP BY b),
        |cc AS (SELECT c, count(*) AS cc FROM bg
        |       WHERE source IN ('src0','src1','src2','src3') GROUP BY c),
        |sc AS (SELECT doc_id,
        |         CAST(floor(log2(CAST(coalesce(cb.cb, 0) + 1 AS DOUBLE)
        |             / (coalesce(cc.cc, 0) + 4096)) * 10000 + 0.5)
        |           AS BIGINT) AS lpq
        |       FROM bg LEFT JOIN cb USING (b) LEFT JOIN cc USING (c))
        |SELECT doc_id, count(*) AS n_bigrams,
        |       floor(CAST(sum(lpq) AS DOUBLE) / count(*) / 100 + 0.5) / 100
        |         AS lm_score
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      val hi = col("source").isin("src0", "src1", "src2", "src3")
      def bin(c: org.apache.spark.sql.Column) =
        graft.functions.TextKernels.mdBucket(c, 4096)
      val bg = graft.PersistRegistry.cached(Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          split(trim(col("text")), "\\s+").as("ws"))
        .filter(size(col("ws")) >= 2)
        .select(col("doc_id"), col("source"), col("ws"),
          explode(sequence(lit(1), size(col("ws")) - 1)).as("i"))
        .select(col("doc_id"), col("source"),
          bin(concat(element_at(col("ws"), col("i")), lit(" "),
            element_at(col("ws"), col("i") + 1))).as("b"),
          bin(element_at(col("ws"), col("i"))).as("c")))
      val cb = bg.filter(hi).groupBy("b").agg(count(lit(1)).as("cb"))
      val cc = bg.filter(hi).groupBy("c").agg(count(lit(1)).as("cc"))
      bg.join(broadcast(cb), Seq("b"), "left")
        .join(broadcast(cc), Seq("c"), "left")
        .select(col("doc_id"),
          floor(log2((coalesce(col("cb"), lit(0L)) + 1).cast("double") /
              (coalesce(col("cc"), lit(0L)) + 4096)) * 10000 + 0.5)
            .cast("long").as("lpq"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          (floor(sum(col("lpq")).cast("double") / count(lit(1)) / 100 + 0.5)
            / 100).as("lm_score"))
        .orderBy("doc_id")
    },

    // Zipf-slope corpus diagnostic: per source, the least-squares
    // slope of ln(freq) vs ln(rank) over the top-100 vocabulary — a
    // natural-language corpus sits near -1; templated/boilerplate
    // text flattens toward 0. Scale: the only data-sized shuffle is
    // the (source, token) count agg; the rank window runs on source-
    // partitioned counts and the regression reduces 100 rows/source
    // through a closed-form 5-sum formula. Determinism: ln values
    // quantized to 1e-6-unit integers, all five regression sums are
    // INTEGER sums (order-free; magnitudes bounded: |xq| ≤ 4.6e6,
    // |yq| ≤ 2.1e7, n ≤ 100 keeps every product < 2^63), and the
    // final slope is one exact-integer division + the shared
    // floor(x+0.5) 3-decimal rule.
    QueryDef(
      "t19_zipf_slope",
      """WITH tf AS (SELECT source, w, count(*) AS c FROM
        |        (SELECT source,
        |           unnest(string_split_regex(trim(text), '\s+')) AS w
        |         FROM documents) t GROUP BY source, w),
        |rk AS (SELECT source, c,
        |         row_number() OVER (PARTITION BY source
        |                            ORDER BY c DESC, w) AS r
        |       FROM tf),
        |q AS (SELECT source,
        |        CAST(floor(ln(CAST(r AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
        |          AS xq,
        |        CAST(floor(ln(CAST(c AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
        |          AS yq
        |      FROM rk WHERE r <= 100),
        |st AS (SELECT source, count(*) AS n, sum(xq) AS sx, sum(yq) AS sy,
        |         sum(xq*yq) AS sxy, sum(xq*xq) AS sxx
        |       FROM q GROUP BY source)
        |SELECT source, CAST(n AS BIGINT) AS n_ranks,
        |       floor(CAST(n*sxy - sx*sy AS DOUBLE)
        |             / CAST(n*sxx - sx*sx AS DOUBLE) * 1000 + 0.5) / 1000
        |         AS zipf_slope
        |FROM st ORDER BY source""".stripMargin) { (s, d) =>
      val tf = Tables.documents(s, d)
        .select(col("source"),
          explode(split(trim(col("text")), "\\s+")).as("w"))
        .groupBy("source", "w").agg(count(lit(1)).as("c"))
      val wr = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(col("c").desc, col("w"))
      val q = tf.withColumn("r", row_number().over(wr))
        .filter(col("r") <= 100)
        .select(col("source"),
          floor(log(col("r").cast("double")) * 1000000 + 0.5).cast("long")
            .as("xq"),
          floor(log(col("c").cast("double")) * 1000000 + 0.5).cast("long")
            .as("yq"))
      q.groupBy("source")
        .agg(count(lit(1)).as("n"), sum("xq").as("sx"), sum("yq").as("sy"),
          sum(col("xq") * col("yq")).as("sxy"),
          sum(col("xq") * col("xq")).as("sxx"))
        .select(col("source"), col("n").cast("long").as("n_ranks"),
          (floor((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
              / (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
              * 1000 + 0.5) / 1000).as("zipf_slope"))
        .orderBy("source")
    },
  )
}
