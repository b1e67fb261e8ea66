package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextKernels
import graft.functions.VectorKernels.cosLong
import graft.sources.{Parquet, Tables}
import DedupQueries.{cosine, dotL, quantized, quantizedSql, quantizedWhere}
import graft.plans.DotLong

/** Similarity search over the `embeddings` table (64-dim float
  * vectors): brute-force cosine top-k as the exact baseline, plus the
  * two standard scale paths — random-hyperplane LSH buckets and an
  * IVF-style coarse-cell search (the provided `label` column plays the
  * role of the coarse quantizer cell).
  *
  * All math uses DedupQueries' quantized-integer scheme, so the
  * cosines are bit-identical doubles on Spark and DuckDB and the
  * top-k cuts / rankings agree exactly (ties broken by vec_id).
  *
  * Scale notes (100 TB): v01 is O(Q·N) with the query side broadcast —
  * right for small Q, and the per-partition work is a codegen'd
  * array-dot. v02 shuffles once on the 8-bit bucket key (expected
  * N/256 candidates per bucket); v03 shuffles once on the cell id.
  * Neither ever materializes the full pair space.
  */
object SimilarityQueries {

  private[graft] val Q = 20 // query set = vec_id < 20
  // ScaleCheck's per-copy key shift: ids below it are copy 0, the
  // fixture's original rows. Bounded query/batch sets pin to copy 0
  // (vec_id < ScaleShift) so they stay CONSTANT while a scaled
  // corpus grows around them — the production serving shape.
  private val ScaleShift = 1000000000L
  private val K = 5

  // Fixed keyword query for the lexical retrieval ops (v15/v16);
  // terms chosen from the corpus vocabulary.
  private val BmTerms = Seq("spark", "join", "window")

  /** v13's in-cell k-NN graph (vec_id, neighbor_id, cos_sim, rank≤3)
    * — the builder behind the "knn-graph" stage snapshot. `flt`
    * restricts the node set (v21 builds "knn-graph-base" over the
    * corpus WITHOUT its insert batch). */
  private def knnGraph(s: org.apache.spark.sql.SparkSession,
      d: String,
      flt: Column = lit(true)): org.apache.spark.sql.DataFrame = {
    val n = quantized(s, d).filter(flt)
    val a = n.select(col("vec_id"), col("r").as("ra"),
      col("nn").as("nna"), col("label"))
    val c = n.select(col("vec_id").as("neighbor_id"), col("r").as("rc"),
      col("nn").as("nnc"), col("label").as("labelc"))
    val w = Window.partitionBy("vec_id")
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    a.join(c, col("label") === col("labelc") &&
        col("neighbor_id") =!= col("vec_id"))
      .select(col("vec_id"), col("neighbor_id"),
        cosine(DotLong.col(col("ra"), col("rc")),
          col("nna"), col("nnc")).as("cos_sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
  }

  /** DuckDB CTE chain ending in `cand(doc_id, bm25)` = v15's top-20
    * (the BM25 stats + scoring SQL, shared by the v17 oracle). */
  private val mmrCandSql: String =
    """dtf AS (SELECT doc_id, len(w) AS dl,
      |         len(list_filter(w, x -> x = 'spark'))  AS tf0,
      |         len(list_filter(w, x -> x = 'join'))   AS tf1,
      |         len(list_filter(w, x -> x = 'window')) AS tf2
      |       FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
      |             FROM documents) t),
      |st AS (SELECT CAST(count(*) AS DOUBLE) AS n,
      |              CAST(sum(dl) AS DOUBLE) AS sumdl,
      |              CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
      |              CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
      |              CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df2
      |       FROM dtf),
      |cand AS (SELECT doc_id, round(
      |    ln(1 + (n - df0 + 0.5) / (df0 + 0.5)) * (tf0 * 2.2)
      |      / (tf0 + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / (sumdl / n))))
      |  + ln(1 + (n - df1 + 0.5) / (df1 + 0.5)) * (tf1 * 2.2)
      |      / (tf1 + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / (sumdl / n))))
      |  + ln(1 + (n - df2 + 0.5) / (df2 + 0.5)) * (tf2 * 2.2)
      |      / (tf2 + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / (sumdl / n))))
      |  , 4) AS bm25
      |  FROM dtf, st ORDER BY bm25 DESC, doc_id LIMIT 20)""".stripMargin

  /** The 5 unrolled greedy MMR steps as DuckDB CTEs (s1..s5 +
    * accumulated selections sel1..sel4); each step is argmax of
    * 0.7·bm25 − 0.3·max-cos-to-selected with doc_id tiebreak —
    * operation-for-operation the Spark builder's arithmetic. */
  private val mmrStepsSql: String = {
    val sb = new StringBuilder
    sb.append("s1 AS (SELECT doc_id, 0.7 * bm25 AS mmr FROM cand " +
      "ORDER BY mmr DESC, doc_id LIMIT 1),\n")
    sb.append("sel1 AS (SELECT doc_id FROM s1)")
    for (k <- 2 to 5) {
      sb.append(s""",
        |s$k AS (SELECT c.doc_id, 0.7 * c.bm25 - 0.3 * coalesce(
        |    (SELECT max(cos) FROM sim WHERE sim.da = c.doc_id
        |       AND sim.db IN (SELECT doc_id FROM sel${k - 1})), 0) AS mmr
        |  FROM cand c WHERE c.doc_id NOT IN (SELECT doc_id FROM sel${k - 1})
        |  ORDER BY mmr DESC, c.doc_id LIMIT 1)""".stripMargin)
      if (k < 5)
        sb.append(s""",
          |sel$k AS (SELECT doc_id FROM sel${k - 1}
          |          UNION ALL SELECT doc_id FROM s$k)""".stripMargin)
    }
    sb.toString
  }

  /** Okapi BM25 (k1=1.2, b=0.75, Lucene idf) for the fixed query over
    * `documents` → (doc_id, bm25 rounded to 4). Corpus stats (N, Σdl,
    * per-term df) are ONE aggregated row crossJoin-broadcast back;
    * tf/dl are per-row expressions — two linear scans, no data-sized
    * shuffle. Every float op is sequenced identically to the DuckDB
    * oracle SQL so the doubles match bit-for-bit (the single libm ln
    * is rounded to 4 decimals on both engines before comparison/
    * ordering). */
  private[graft] def bm25Scored(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val base = Tables.documents(s, d)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
      .withColumn("dl", size(col("w")))
    val withTf = BmTerms.zipWithIndex.foldLeft(base) { case (df0, (t, i)) =>
      df0.withColumn(s"tf$i", size(filter(col("w"), x => x === lit(t))))
    }.drop("w")
    val statCols = count(lit(1)).cast("double").as("n") +:
      sum(col("dl")).cast("double").as("sumdl") +:
      BmTerms.indices.map(i =>
        sum(when(col(s"tf$i") > 0, 1).otherwise(0)).cast("double").as(s"df$i"))
    val stats = withTf.agg(statCols.head, statCols.tail: _*)
    def termScore(i: Int): Column = {
      val tf = col(s"tf$i").cast("double")
      val dfT = col(s"df$i")
      val idf = log(lit(1.0) + (col("n") - dfT + 0.5) / (dfT + 0.5))
      idf * (tf * 2.2) / (tf + lit(1.2) * (lit(0.25) +
        lit(0.75) * (col("dl").cast("double") / (col("sumdl") / col("n")))))
    }
    withTf.crossJoin(broadcast(stats))
      .select(col("doc_id"),
        round(termScore(0) + termScore(1) + termScore(2), 4).as("bm25"))
  }

  // Product quantization (v09/v10): m subspaces × subDim dims, k codes
  // (4 bits per subspace → a 32-bit code, 8× smaller than float32;
  // k=4 / 2-bit codes measured recall@3 of only 0.25–0.30 — the extra
  // 2 bits per subspace are the cheap recall lever)
  private val PQM = 8
  private val PQD = 8
  private val PQK = 16
  private val PQCAND = 50 // ADC shortlist size before exact re-rank

  /** Non-negative shifted integer vectors (v07's +10⁴ trick: integer
    * floor-division below becomes engine-agnostic). */
  private def pqY(s: org.apache.spark.sql.SparkSession, d: String) =
    quantized(s, d).select(col("vec_id"),
      transform(col("r"), v => v + 10000L).as("y"))

  /** Train the per-subspace PQ codebooks — v07's deterministic integer
    * k-means recipe applied independently to each of the PQM
    * subspaces: seeds = the PQK smallest vec_ids' subvectors, round-1
    * assignment by exact integer L2 (ties → smaller code), centroid
    * update as 64× fixed-point integer means q = (Σy·64) div n, which
    * both engines reproduce bit-exactly. Output (sub, code,
    * q: array<long>) — m·k rows, the whole codebook is O(m·k·subDim)
    * longs regardless of corpus size. The update shuffle is a
    * groupBy(sub, code, dim) = m·k·subDim (1024) groups over
    * per-partition partials — O(groups·partitions) bytes, independent
    * of N. */
  // private[graft] so the plan spec can pin the no-join training shape
  private[graft] def buildPqCodebook(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val y = graft.PersistRegistry.cached(
      pqY(s, d))
    // PQK seeds: bounded collect by construction (k·64 longs)
    val seeds = y.orderBy("vec_id").limit(PQK)
      .select("y").as[Array[Long]].collect()
    val cb1 = for {
      (yv, p) <- seeds.zipWithIndex.toArray
      sub <- 0 until PQM
    } yield (sub, p, yv.slice(sub * PQD, (sub + 1) * PQD))
    // round-1 assignment + value sums in ONE map-only pass emitting
    // per-partition partials — never a vectors⋈assignments join (which
    // AQE broadcasts at toy scale but sort-merge-shuffles the whole
    // vector table at real scale; see VectorKernels.pqUpdateStats)
    graft.functions.VectorKernels.pqUpdateStats(s, y, cb1, PQM, PQD, 1L)
      .groupBy("sub", "code", "dim")
      .agg(sum("sj").as("sj"), sum("n_").as("n_"))
      .selectExpr("sub", "code", "dim", "sj * 64 div n_ AS q")
      .groupBy("sub", "code")
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("q")))),
        x => x.getField("q")).as("q"))
  }

  /** (label, c: the cell's 64 exact integer component sums, cn: the
    * centroid's norm² as double) — v03's integer-centroid rule in ONE
    * map-side-combined hash aggregate (round 20 — guide §2.3/§2.4).
    * The former shape, copied across v03/v05/v11/v12/v14, exploded
    * the corpus 64× through two shuffles plus a collect_list/sort
    * reassembly per label; `sum(element_at(r, j))` per literal j is
    * the identical exact BIGINT sum, and the one exchange carries
    * nlist rows of 64 longs. cn is the same 64-term Long
    * sum-of-squares (overflow still throws under ANSI, as the old
    * `aggregate` fold did) cast to double at the end. */
  private def centDf(n: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val sums = (1 to 64).map(j =>
      sum(element_at(col("r"), lit(j))).as(s"c$j"))
    n.groupBy(col("label"))
      .agg(sums.head, sums.tail: _*)
      .select(col("label"),
        array((1 to 64).map(j => col(s"c$j")): _*).as("c"),
        (1 to 64).map(j => col(s"c$j") * col(s"c$j"))
          .reduce(_ + _).cast("double").as("cn"))
  }

  /** The nprobe sweep levels for v14 — long to match DuckDB's
    * generate_series element type. */
  private def probeLevels(s: org.apache.spark.sql.SparkSession) = {
    import s.implicits._
    Seq(1L, 2L, 3L, 4L).toDF("p")
  }

  private def collectCodebook(df: org.apache.spark.sql.DataFrame)
      : Array[(Int, Int, Array[Long])] =
    df.select("sub", "code", "q").collect().map { r =>
      (r.getInt(0), r.getInt(1), r.getSeq[Long](2).toArray)
    }

  private def buildPqEnc(s: org.apache.spark.sql.SparkSession, d: String,
      cb: Array[(Int, Int, Array[Long])]): org.apache.spark.sql.DataFrame =
    graft.functions.VectorKernels.pqEncode(s, pqY(s, d), cb, PQM, PQD, 64L)

  /** Per-query PQM×PQK integer ADC distance tables over the trained
    * codebook — bounded (Q·m·k longs), built driver-side from the
    * bounded query set (v01's broadcast contract), shared by v10
    * (flat PQ) and v11 (IVFPQ). */
  private def pqDistTables(s: org.apache.spark.sql.SparkSession, d: String,
      cb: Array[(Int, Int, Array[Long])])
      : Array[(Long, Array[Array[Long]])] = {
    import s.implicits._
    val qys = pqY(s, d).filter(col("vec_id") < Q)
      .select("vec_id", "y").as[(Long, Array[Long])].collect().sortBy(_._1)
    val bySubCode = cb.map { case (sub, code, q) => ((sub, code), q) }.toMap
    qys.map { case (qid, y) =>
      val t = Array.tabulate(PQM) { sub =>
        Array.tabulate(PQK) { code =>
          bySubCode.get((sub, code)) match {
            case Some(q) =>
              var dist = 0L
              var j = 0
              while (j < PQD) {
                val diff = 64L * y(sub * PQD + j) - q(j)
                dist += diff * diff
                j += 1
              }
              dist
            // a code no training vector claimed: never emitted by
            // encode, so the entry is unreachable — poison it
            case None => Long.MaxValue / PQM
          }
        }
      }
      (qid, t)
    }
  }

  /** v10's search pipeline (codebook → encode → ADC scan → shortlist →
    * exact re-rank) WITHOUT the result-snapshot wrapper — private[graft]
    * so the plan spec can pin the WindowGroupLimit candidate cut on
    * the live plan (the QueryDef's returned frame is a snapshot read). */
  private[graft] def buildV10(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val cbDf = StageSnapshots.snapshot(s, d, "pq_codebook")(
      buildPqCodebook(s, d))
    val cb = collectCodebook(cbDf)
    val enc = StageSnapshots.snapshot(s, d, "pq_enc")(buildPqEnc(s, d, cb))
    adcRerank(s, d,
      graft.functions.VectorKernels.adcScan(s, enc, pqDistTables(s, d, cb)))
  }

  /** The shared PQ tail: cut the ADC stream to the top-PQCAND
    * shortlist per query (Spark pushes the limit below the exchange
    * as WindowGroupLimit) and re-rank by EXACT cosine, top-3. */
  private def adcRerank(s: org.apache.spark.sql.SparkSession, d: String,
      adc: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val wAdc = Window.partitionBy("query_id")
      .orderBy(col("adc_dist"), col("neighbor_id"))
    val cand = adc.withColumn("arn", row_number().over(wAdc))
      .filter(col("arn") <= PQCAND)
    val n = quantized(s, d)
    val qSide = n.filter(col("vec_id") < Q)
      .select(col("vec_id").as("query_id"), col("r").as("qr"),
        col("nn").as("qnn"))
    val rr = cand
      .join(n.select(col("vec_id").as("neighbor_id"), col("r").as("cr"),
        col("nn").as("cnn")), "neighbor_id")
      .join(broadcast(qSide), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        cosine(dotL(col("qr"), col("cr")), col("qnn"), col("cnn"))
          .as("cos_sim"))
    val wCos = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    rr.withColumn("rank", row_number().over(wCos).cast("int"))
      .filter(col("rank") <= 3)
      .select("query_id", "neighbor_id", "cos_sim", "rank")
      .orderBy("query_id", "rank")
  }

  /** The PQ pipeline as oracle CTEs: quantize → shift → seed → assign
    * (round 1) → integer-mean update → assign (round 2). Ends in
    * a2(vec_id, sub, code) with c2(sub, code, q) in scope. */
  private val pqCteSql =
    s"""n AS ($quantizedSql),
       |y AS (SELECT vec_id, list_transform(r, v -> v + 10000) AS y FROM n),
       |seed AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1
       |             AS p, y
       |         FROM (SELECT vec_id, y FROM y ORDER BY vec_id LIMIT $PQK)),
       |a1 AS (SELECT vec_id, sub, p AS code FROM (
       |    SELECT v.vec_id, t.sub, s.p,
       |           row_number() OVER (PARTITION BY v.vec_id, t.sub ORDER BY
       |             list_sum(list_transform(generate_series(1, $PQD),
       |               i -> (v.y[t.sub*$PQD + i] - s.y[t.sub*$PQD + i])
       |                  * (v.y[t.sub*$PQD + i] - s.y[t.sub*$PQD + i]))),
       |             s.p) AS rn
       |    FROM y v, generate_series(0, ${PQM - 1}) t(sub), seed s) z
       |    WHERE rn = 1),
       |su AS (SELECT a1.sub, a1.code, j,
       |              CAST(sum(y.y[a1.sub*$PQD + j]) AS BIGINT) AS sj,
       |              count(*) AS n_
       |       FROM y JOIN a1 USING (vec_id), generate_series(1, $PQD) t(j)
       |       GROUP BY a1.sub, a1.code, j),
       |c2 AS (SELECT sub, code, list((sj * 64) // n_ ORDER BY j) AS q
       |       FROM su GROUP BY sub, code),
       |a2 AS (SELECT vec_id, sub, code FROM (
       |    SELECT v.vec_id, c.sub, c.code,
       |           row_number() OVER (PARTITION BY v.vec_id, c.sub ORDER BY
       |             list_sum(list_transform(generate_series(1, $PQD),
       |               i -> (64 * v.y[c.sub*$PQD + i] - c.q[i])
       |                  * (64 * v.y[c.sub*$PQD + i] - c.q[i]))),
       |             c.code) AS rn
       |    FROM y v, c2 c) z WHERE rn = 1)""".stripMargin

  /** The shared oracle tail: per-query ADC distance tables (`tab`),
    * candidate ranking and exact-cosine re-rank — v10 and v11 differ
    * only in how `adc` restricts the scanned corpus. */
  private val pqTabCteSql =
    s"""qt AS (SELECT vec_id AS query_id, y FROM y WHERE vec_id < $Q),
       |tab AS (SELECT q.query_id, c.sub, c.code,
       |          CAST(list_sum(list_transform(generate_series(1, $PQD),
       |            i -> (64 * q.y[c.sub*$PQD + i] - c.q[i])
       |               * (64 * q.y[c.sub*$PQD + i] - c.q[i]))) AS BIGINT)
       |            AS dist
       |        FROM qt q, c2 c)""".stripMargin

  private val pqRerankSql =
    s"""cand AS (SELECT query_id, neighbor_id,
       |           row_number() OVER (PARTITION BY query_id
       |             ORDER BY adc_dist, neighbor_id) AS arn
       |         FROM adc),
       |rr AS (SELECT c.query_id, c.neighbor_id,
       |         CAST(list_sum(list_transform(generate_series(1, 64),
       |           i -> q.r[i] * x.r[i])) AS DOUBLE)
       |           / sqrt(CAST(q.nn AS DOUBLE) * CAST(x.nn AS DOUBLE))
       |             AS cos_sim
       |       FROM cand c JOIN n q ON q.vec_id = c.query_id
       |         JOIN n x ON x.vec_id = c.neighbor_id
       |       WHERE c.arn <= $PQCAND)
       |SELECT query_id, neighbor_id, cos_sim, rank FROM (
       |  SELECT query_id, neighbor_id, cos_sim,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |             ORDER BY cos_sim DESC, neighbor_id) AS INT) AS rank
       |  FROM rr) t
       |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  private val v10Sql =
    s"""WITH $pqCteSql,
       |$pqTabCteSql,
       |adc AS (SELECT t.query_id, e.vec_id AS neighbor_id,
       |          CAST(sum(t.dist) AS BIGINT) AS adc_dist
       |        FROM a2 e JOIN tab t ON t.sub = e.sub AND t.code = e.code
       |        WHERE e.vec_id <> t.query_id
       |        GROUP BY t.query_id, e.vec_id),
       |$pqRerankSql""".stripMargin

  private val v11Sql =
    s"""WITH $pqCteSql,
       |cen AS (SELECT label, j, CAST(sum(r[j]) AS BIGINT) AS cj
       |        FROM n, generate_series(1, 64) t(j) GROUP BY label, j),
       |cent AS (SELECT label, list(cj ORDER BY j) AS c,
       |           CAST(list_sum(list_transform(list(cj ORDER BY j),
       |                x -> x*x)) AS DOUBLE) AS cn
       |         FROM cen GROUP BY label),
       |probe AS (SELECT query_id, label FROM (
       |    SELECT q.vec_id AS query_id, cent.label,
       |           row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |             CAST(list_sum(list_transform(generate_series(1, 64),
       |                    i -> q.r[i] * cent.c[i])) AS DOUBLE)
       |               / sqrt(CAST(q.nn AS DOUBLE) * cn) DESC, cent.label)
       |             AS rn
       |    FROM n q, cent WHERE q.vec_id < $Q) t WHERE rn = 1),
       |$pqTabCteSql,
       |adc AS (SELECT p.query_id, e.vec_id AS neighbor_id,
       |          CAST(sum(t.dist) AS BIGINT) AS adc_dist
       |        FROM a2 e
       |          JOIN n cl ON cl.vec_id = e.vec_id
       |          JOIN probe p ON p.label = cl.label
       |          JOIN tab t ON t.query_id = p.query_id
       |            AND t.sub = e.sub AND t.code = e.code
       |        WHERE e.vec_id <> p.query_id
       |        GROUP BY p.query_id, e.vec_id),
       |$pqRerankSql""".stripMargin

  private val v01Sql =
    s"""WITH n AS ($quantizedSql),
        |cs AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         CAST(list_sum(list_transform(generate_series(1, len(q.r)),
        |                i -> q.r[i] * c.r[i])) AS DOUBLE)
        |           / sqrt(CAST(q.nn AS DOUBLE) * CAST(c.nn AS DOUBLE)) AS cos_sim
        |       FROM n q JOIN n c ON q.vec_id < $Q AND c.vec_id <> q.vec_id)
        |SELECT query_id, neighbor_id, cos_sim, rank FROM (
        |  SELECT query_id, neighbor_id, cos_sim,
        |         CAST(row_number() OVER (PARTITION BY query_id
        |             ORDER BY cos_sim DESC, neighbor_id) AS INT) AS rank
        |  FROM cs) t
        |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin

  private val v02Sql =
    s"""WITH n AS ($quantizedSql),
        |dots AS (SELECT vec_id, p,
        |           CAST(list_sum(list_transform(generate_series(1, len(r)),
        |             j -> (${TextKernels.mdBucketSql("p || ':' || j", 2001)}
        |                   - 1000) * r[j])) AS BIGINT) AS pd
        |         FROM n, generate_series(0, 7) t(p)),
        |buck AS (SELECT vec_id,
        |           CAST(sum(CASE WHEN pd > 0 THEN (1::BIGINT << p) ELSE 0 END)
        |                AS BIGINT) AS bucket
        |         FROM dots GROUP BY vec_id),
        |nb AS (SELECT n.vec_id, r, nn, bucket FROM n JOIN buck USING (vec_id)),
        |cs AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         CAST(list_sum(list_transform(generate_series(1, len(q.r)),
        |                i -> q.r[i] * c.r[i])) AS DOUBLE)
        |           / sqrt(CAST(q.nn AS DOUBLE) * CAST(c.nn AS DOUBLE)) AS cos_sim
        |       FROM nb q JOIN nb c ON q.bucket = c.bucket
        |         AND q.vec_id < $Q AND c.vec_id <> q.vec_id)
        |SELECT query_id, neighbor_id, cos_sim, rank FROM (
        |  SELECT query_id, neighbor_id, cos_sim,
        |         CAST(row_number() OVER (PARTITION BY query_id
        |             ORDER BY cos_sim DESC, neighbor_id) AS INT) AS rank
        |  FROM cs) t
        |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  private val v03Sql =
    s"""WITH n AS ($quantizedSql),
        |cen AS (SELECT label, j, CAST(sum(r[j]) AS BIGINT) AS cj
        |        FROM n, generate_series(1, 64) t(j) GROUP BY label, j),
        |cent AS (SELECT label, list(cj ORDER BY j) AS c,
        |           CAST(list_sum(list_transform(list(cj ORDER BY j), x -> x*x))
        |                AS DOUBLE) AS cn
        |         FROM cen GROUP BY label),
        |probe AS (SELECT query_id, label FROM (
        |    SELECT q.vec_id AS query_id, cent.label,
        |           row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |             CAST(list_sum(list_transform(generate_series(1, 64),
        |                    i -> q.r[i] * cent.c[i])) AS DOUBLE)
        |               / sqrt(CAST(q.nn AS DOUBLE) * cn) DESC, cent.label) AS rn
        |    FROM n q, cent WHERE q.vec_id < $Q) t WHERE rn = 1),
        |cs AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label,
        |         CAST(list_sum(list_transform(generate_series(1, len(q.r)),
        |                i -> q.r[i] * c.r[i])) AS DOUBLE)
        |           / sqrt(CAST(q.nn AS DOUBLE) * CAST(c.nn AS DOUBLE)) AS cos_sim
        |       FROM n q JOIN probe ON probe.query_id = q.vec_id
        |         JOIN n c ON c.label = probe.label AND c.vec_id <> q.vec_id)
        |SELECT query_id, label, neighbor_id, cos_sim, rank FROM (
        |  SELECT query_id, label, neighbor_id, cos_sim,
        |         CAST(row_number() OVER (PARTITION BY query_id
        |             ORDER BY cos_sim DESC, neighbor_id) AS INT) AS rank
        |  FROM cs) t
        |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  private val v05Sql =
    s"""WITH n AS ($quantizedSql),
        |cen AS (SELECT label, j, CAST(sum(r[j]) AS BIGINT) AS cj
        |        FROM n, generate_series(1, 64) t(j) GROUP BY label, j),
        |cent AS (SELECT label, list(cj ORDER BY j) AS c,
        |           CAST(list_sum(list_transform(list(cj ORDER BY j), x -> x*x))
        |                AS DOUBLE) AS cn
        |         FROM cen GROUP BY label),
        |probe AS (SELECT query_id, label FROM (
        |    SELECT q.vec_id AS query_id, cent.label,
        |           row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |             CAST(list_sum(list_transform(generate_series(1, 64),
        |                    i -> q.r[i] * cent.c[i])) AS DOUBLE)
        |               / sqrt(CAST(q.nn AS DOUBLE) * cn) DESC, cent.label) AS rn
        |    FROM n q, cent WHERE q.vec_id < $Q) t WHERE rn <= 2),
        |cs AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         CAST(list_sum(list_transform(generate_series(1, len(q.r)),
        |                i -> q.r[i] * c.r[i])) AS DOUBLE)
        |           / sqrt(CAST(q.nn AS DOUBLE) * CAST(c.nn AS DOUBLE)) AS cos_sim
        |       FROM n q JOIN probe ON probe.query_id = q.vec_id
        |         JOIN n c ON c.label = probe.label AND c.vec_id <> q.vec_id)
        |SELECT query_id, neighbor_id, cos_sim, rank FROM (
        |  SELECT query_id, neighbor_id, cos_sim,
        |         CAST(row_number() OVER (PARTITION BY query_id
        |             ORDER BY cos_sim DESC, neighbor_id) AS INT) AS rank
        |  FROM cs) t
        |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  private val v12Sql =
    s"""WITH n AS MATERIALIZED ($quantizedSql),
        |cen AS (SELECT label, j, CAST(sum(r[j]) AS BIGINT) AS cj
        |        FROM n, generate_series(1, 64) t(j) GROUP BY label, j),
        |cent AS (SELECT label, list(cj ORDER BY j) AS c,
        |           CAST(list_sum(list_transform(list(cj ORDER BY j), x -> x*x))
        |                AS DOUBLE) AS cn
        |         FROM cen GROUP BY label),
        |probe AS (SELECT query_id, label FROM (
        |    SELECT q.vec_id AS query_id, cent.label,
        |           row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |             CAST(list_sum(list_transform(generate_series(1, 64),
        |                    i -> q.r[i] * cent.c[i])) AS DOUBLE)
        |               / sqrt(CAST(q.nn AS DOUBLE) * cn) DESC, cent.label) AS rn
        |    FROM n q, cent WHERE q.vec_id < $Q) t WHERE rn <= 6),
        |cs AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         CAST(list_sum(list_transform(generate_series(1, len(q.r)),
        |                i -> q.r[i] * c.r[i])) AS DOUBLE)
        |           / sqrt(CAST(q.nn AS DOUBLE) * CAST(c.nn AS DOUBLE)) AS cos_sim
        |       FROM n q JOIN probe ON probe.query_id = q.vec_id
        |         JOIN n c ON c.label = probe.label AND c.vec_id <> q.vec_id
        |       WHERE c.vec_id % 3 = 0)
        |SELECT query_id, neighbor_id, cos_sim, rank FROM (
        |  SELECT query_id, neighbor_id, cos_sim,
        |         CAST(row_number() OVER (PARTITION BY query_id
        |             ORDER BY cos_sim DESC, neighbor_id) AS INT) AS rank
        |  FROM cs) t
        |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  // v20 beam-search knobs — sized at RUNTIME from the probed cells
  // (round-10 residual: fixed H=6/B=8 measured 65% recall@3 vs the
  // exhaustive v03 walk on sf0.1's largest cells, the
  // serving-quality knob a user hits first at scale). H must cover
  // the in-cell graph's diameter, which grows like log_k |cell|, so
  // H = ceil(log3 maxProbedCell) + 2 margin (floor 6 — never search
  // shallower than the round-10 sizing) and B = 2H widens the
  // frontier in step. v20SizeKnobs is the ONE sizing rule: the
  // engine sets v20Knobs from the cells it just probed, and the
  // oracle's hop-CTE chain is GENERATED from the recorded knobs —
  // QueryDef oracles are thunks forced when Verify assembles
  // oracle_sql.json AFTER the queries ran — so engine and DuckDB
  // always walk the identical search. Round11Spec measures the
  // result: recall@3 >= 90% vs v03 on sf0.1's ~4000-vector cells.
  private[graft] def v20SizeKnobs(maxCell: Long): (Int, Int) = {
    val h = math.max(6,
      math.ceil(math.log(math.max(maxCell, 2).toDouble) / math.log(3))
        .toInt + 2)
    (h, 2 * h)
  }
  private[graft] val v20Knobs =
    new java.util.concurrent.atomic.AtomicReference[(Int, Int)](
      v20SizeKnobs(2))
  // v21 (graph insert) records its own knobs: its probed cells are
  // the BASE graph's (inserts excluded), so the sizing can differ
  // from v20's on the same data.
  private[graft] val v21Knobs =
    new java.util.concurrent.atomic.AtomicReference[(Int, Int)](
      v20SizeKnobs(2))

  private def v20Sql: String =
    graphWalkSql("q.vec_id < " + Q, "true", v20Knobs.get())

  // v21: queries = the insert batch (every 89th vec_id, pinned to
  // copy 0 — vec_id below ScaleCheck's per-copy shift — so the
  // batch is constant-sized under scaled corpora), base = the
  // committed corpus WITHOUT the batch — the walk finds each
  // insert's k=3 edges against the base graph.
  private def v21Sql: String =
    graphWalkSql(
      s"q.vec_id % 89 = 0 AND q.vec_id < $ScaleShift",
      s"NOT (vec_id % 89 = 0 AND vec_id < $ScaleShift)",
      v21Knobs.get())

  // v22 (insert-commit search) records the knobs of its SEARCH walk
  // (sized from the full post-insert corpus's probed cells); its
  // embedded insert walk re-records v21Knobs at run time, so both
  // pairs are current when the oracle thunk is forced.
  private[graft] val v22Knobs =
    new java.util.concurrent.atomic.AtomicReference[(Int, Int)](
      v20SizeKnobs(2))

  /** v22's oracle: the COMPLETE post-insert lifecycle in one
    * statement — rebuild the base (insert-free) graph, re-derive
    * each insert's edges via the v21 walk chain (prefix `i`), union
    * them into the augmented graph, then run the standard query set
    * through a second walk chain (prefix `s`) over the FULL corpus
    * against that augmented graph. DuckDB recomputes exactly what
    * the engine committed and searched. */
  private def v22Sql: String = {
    val (ictes, iFin) = walkCtes("i",
      s"q.vec_id % 89 = 0 AND q.vec_id < $ScaleShift", "ib", "ig",
      v21Knobs.get())
    val (sctes, sFin) = walkCtes("s", s"q.vec_id < $Q", "n", "g",
      v22Knobs.get())
    s"""WITH n AS MATERIALIZED ($quantizedSql),
       |ib AS MATERIALIZED (SELECT * FROM n
       |       WHERE NOT (vec_id % 89 = 0 AND vec_id < $ScaleShift)),
       |igd AS MATERIALIZED (${knnGdSql("ib")}),
       |ig AS MATERIALIZED (SELECT vec_id, neighbor_id FROM igd
       |       UNION
       |       SELECT neighbor_id AS vec_id, vec_id AS neighbor_id FROM igd),
       |$ictes,
       |ie AS MATERIALIZED (SELECT query_id AS vec_id, node AS neighbor_id FROM (
       |        SELECT query_id, node, row_number() OVER (
       |            PARTITION BY query_id
       |            ORDER BY cos_sim DESC, node) AS rank
       |        FROM $iFin WHERE node <> query_id) t WHERE rank <= 3),
       |pgd AS MATERIALIZED (SELECT vec_id, neighbor_id FROM igd
       |        UNION ALL SELECT vec_id, neighbor_id FROM ie),
       |g AS MATERIALIZED (SELECT vec_id, neighbor_id FROM pgd
       |      UNION
       |      SELECT neighbor_id AS vec_id, vec_id AS neighbor_id FROM pgd),
       |$sctes
       |SELECT query_id, neighbor_id, cos_sim, rank FROM (
       |  SELECT query_id, node AS neighbor_id, cos_sim,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |             ORDER BY cos_sim DESC, node) AS INT) AS rank
       |  FROM $sFin WHERE node <> query_id) t
       |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
  }

  // v27 (full-lifecycle search) records its own search knobs: its
  // probed cells are the delete-survivor corpus's.
  private[graft] val v27Knobs =
    new java.util.concurrent.atomic.AtomicReference[(Int, Int)](
      v20SizeKnobs(2))

  /** v27's oracle: the ENTIRE index lifecycle in one statement —
    * base (insert-free) graph, insert walk (prefix `i`, v22's
    * chain), union, prune + local repair against the delete batch
    * (v23's CTEs, over the POST-INSERT graph), then the survivor
    * query set walks the maintained graph (prefix `s`). What a
    * production index looks like after both maintenance verbs have
    * run, recomputed exactly. */
  private def v27Sql: String = lifecycleSearchSql(v27Knobs.get())

  /** v27's composed statement with the SEARCH walk's knobs as a
    * parameter — shared with v28 (the streaming-serving entry), whose
    * drained index state is spec-identical to the batch rule but
    * whose search records its own knobs (LifecycleIndex.searchKnobs). */
  private[graft] def lifecycleSearchSql(searchKnobs: (Int, Int)): String = {
    val insPred = s"vec_id % 89 = 0 AND vec_id < $ScaleShift"
    val delPred = s"vec_id % 97 = 0 AND vec_id < $ScaleShift"
    val (ictes, iFin) = walkCtes("i",
      s"q.vec_id % 89 = 0 AND q.vec_id < $ScaleShift", "ib", "ig",
      v21Knobs.get())
    val (sctes, sFin) = walkCtes("s",
      s"q.vec_id < $Q AND NOT (q.vec_id % 97 = 0 AND q.vec_id < $ScaleShift)",
      "bd", "g", searchKnobs)
    s"""WITH n AS MATERIALIZED ($quantizedSql),
       |ib AS MATERIALIZED (SELECT * FROM n WHERE NOT ($insPred)),
       |igd AS MATERIALIZED (${knnGdSql("ib")}),
       |ig AS MATERIALIZED (SELECT vec_id, neighbor_id FROM igd
       |       UNION
       |       SELECT neighbor_id AS vec_id, vec_id AS neighbor_id FROM igd),
       |$ictes,
       |ie AS MATERIALIZED (SELECT query_id AS vec_id, node AS neighbor_id FROM (
       |        SELECT query_id, node, row_number() OVER (
       |            PARTITION BY query_id
       |            ORDER BY cos_sim DESC, node) AS rank
       |        FROM $iFin WHERE node <> query_id) t WHERE rank <= 3),
       |pgd AS MATERIALIZED (SELECT vec_id, neighbor_id FROM igd
       |        UNION ALL SELECT vec_id, neighbor_id FROM ie),
       |bd AS MATERIALIZED (SELECT * FROM n WHERE NOT ($delPred)),
       |pruned AS MATERIALIZED (SELECT vec_id, neighbor_id FROM pgd
       |        WHERE NOT (vec_id % 97 = 0 AND vec_id < $ScaleShift)
       |          AND NOT (neighbor_id % 97 = 0
       |                   AND neighbor_id < $ScaleShift)),
       |inc AS MATERIALIZED (SELECT DISTINCT del_id, node FROM (
       |        SELECT vec_id AS del_id, neighbor_id AS node FROM pgd
       |        WHERE vec_id % 97 = 0 AND vec_id < $ScaleShift
       |        UNION ALL
       |        SELECT neighbor_id AS del_id, vec_id AS node FROM pgd
       |        WHERE neighbor_id % 97 = 0 AND neighbor_id < $ScaleShift) t
       |      WHERE NOT (node % 97 = 0 AND node < $ScaleShift)),
       |rp AS MATERIALIZED (SELECT u AS vec_id, w AS neighbor_id FROM (
       |        SELECT p.u, p.w,
       |               row_number() OVER (PARTITION BY p.u ORDER BY
       |                 CAST(list_sum(list_transform(
       |                        generate_series(1, len(x.r)),
       |                        i -> x.r[i] * y.r[i])) AS DOUBLE)
       |                   / sqrt(CAST(x.nn AS DOUBLE)
       |                          * CAST(y.nn AS DOUBLE)) DESC,
       |                 p.w) AS rn
       |        FROM (SELECT DISTINCT a.node AS u, b.node AS w
       |              FROM inc a JOIN inc b ON a.del_id = b.del_id
       |                AND a.node <> b.node) p
       |          JOIN bd x ON x.vec_id = p.u
       |          JOIN bd y ON y.vec_id = p.w) t
       |      WHERE rn <= 3),
       |mgd AS MATERIALIZED (SELECT vec_id, neighbor_id FROM pruned
       |        UNION ALL SELECT vec_id, neighbor_id FROM rp),
       |g AS MATERIALIZED (SELECT vec_id, neighbor_id FROM mgd
       |      UNION
       |      SELECT neighbor_id AS vec_id, vec_id AS neighbor_id FROM mgd),
       |$sctes
       |SELECT query_id, neighbor_id, cos_sim, rank FROM (
       |  SELECT query_id, node AS neighbor_id, cos_sim,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |             ORDER BY cos_sim DESC, node) AS INT) AS rank
       |  FROM $sFin WHERE node <> query_id) t
       |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
  }

  /** One walk's CTE chain under a NAME PREFIX `p`, so two walks can
    * coexist in a single statement (v22 chains the insert walk's
    * output graph into a second search walk). Queries always come
    * from `n` (the full-corpus CTE); `bName` is the searchable
    * corpus the walk scores against and seeds from; `gName` the
    * symmetrized graph it expands. Returns (the CTE text emitting
    * `${p}cen ... ${p}sc$H`, the final-scores CTE name).
    *
    * Best-first with a CLOSED SET (round 11): each hop's beam is the
    * top-B of the VISITED-BUT-NOT-YET-EXPANDED nodes (ex$h tracks
    * expansions). The round-10 walk beamed over ALL visited nodes,
    * so once the global top-B were expanded every later hop
    * re-expanded the same nodes and the walk stalled — recall
    * plateaued at 75% on sf0.1's cells no matter how deep H went.
    * ex0 is the empty closed set; sc0 scores the seeds. */
  private def walkCtes(p: String, queryPred: String, bName: String,
      gName: String, knobs: (Int, Int)): (String, String) = {
    val (vH, vB) = knobs
    val hops = (1 to vH).map { h =>
      s"""${p}bm$h AS MATERIALIZED (SELECT query_id, node FROM (
         |          SELECT s.query_id, s.node, row_number() OVER (
         |              PARTITION BY s.query_id
         |              ORDER BY s.cos_sim DESC, s.node) AS rn
         |          FROM ${p}sc${h - 1} s LEFT JOIN ${p}ex${h - 1} e
         |            ON e.query_id = s.query_id AND e.node = s.node
         |          WHERE e.node IS NULL) t WHERE rn <= $vB),
         |${p}ex$h AS MATERIALIZED (SELECT query_id, node FROM ${p}ex${h - 1}
         |         UNION SELECT query_id, node FROM ${p}bm$h),
         |${p}nb$h AS MATERIALIZED (SELECT DISTINCT b.query_id, g.neighbor_id AS node
         |        FROM ${p}bm$h b JOIN $gName g ON g.vec_id = b.node),
         |${p}v$h AS MATERIALIZED (SELECT DISTINCT query_id, node FROM (
         |         SELECT query_id, node FROM ${p}v${h - 1}
         |         UNION ALL SELECT query_id, node FROM ${p}nb$h) u),
         |${p}sc$h AS MATERIALIZED (SELECT v.query_id, v.node,
         |          CAST(list_sum(list_transform(generate_series(1, len(q.r)),
         |                 i -> q.r[i] * c.r[i])) AS DOUBLE)
         |            / sqrt(CAST(q.nn AS DOUBLE) * CAST(c.nn AS DOUBLE))
         |            AS cos_sim
         |        FROM ${p}v$h v JOIN n q ON q.vec_id = v.query_id
         |                 JOIN $bName c ON c.vec_id = v.node)""".stripMargin
    }.mkString(",\n")
    val head =
      s"""${p}cen AS MATERIALIZED (SELECT label, j, CAST(sum(r[j]) AS BIGINT) AS cj
         |        FROM $bName, generate_series(1, 64) t(j) GROUP BY label, j),
         |${p}cent AS MATERIALIZED (SELECT label, list(cj ORDER BY j) AS c,
         |           CAST(list_sum(list_transform(list(cj ORDER BY j),
         |                x -> x*x)) AS DOUBLE) AS cn
         |         FROM ${p}cen GROUP BY label),
         |${p}probe AS MATERIALIZED (SELECT query_id, label FROM (
         |    SELECT q.vec_id AS query_id, cent.label,
         |           row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |             CAST(list_sum(list_transform(generate_series(1, 64),
         |                    i -> q.r[i] * cent.c[i])) AS DOUBLE)
         |               / sqrt(CAST(q.nn AS DOUBLE) * cn) DESC, cent.label)
         |             AS rn
         |    FROM n q, ${p}cent cent WHERE $queryPred) t WHERE rn = 1),
         |${p}ent AS MATERIALIZED (SELECT label, vec_id AS node FROM (
         |         SELECT label, vec_id, row_number() OVER (
         |             PARTITION BY label ORDER BY vec_id) AS rn
         |         FROM $bName) t
         |       WHERE rn <= 4),
         |${p}v0 AS MATERIALIZED (SELECT pr.query_id, e.node FROM ${p}probe pr
         |       JOIN ${p}ent e USING (label)),
         |${p}ex0 AS MATERIALIZED (SELECT CAST(NULL AS BIGINT) AS query_id,
         |               CAST(NULL AS BIGINT) AS node WHERE false),
         |${p}sc0 AS MATERIALIZED (SELECT v.query_id, v.node,
         |          CAST(list_sum(list_transform(generate_series(1, len(q.r)),
         |                 i -> q.r[i] * c.r[i])) AS DOUBLE)
         |            / sqrt(CAST(q.nn AS DOUBLE) * CAST(c.nn AS DOUBLE))
         |            AS cos_sim
         |        FROM ${p}v0 v JOIN n q ON q.vec_id = v.query_id
         |                 JOIN $bName c ON c.vec_id = v.node)""".stripMargin
    (head + ",\n" + hops, s"${p}sc$vH")
  }

  /** The in-cell k-NN graph edges (rank <= 3 by cosine, node
    * tiebreak) over the corpus CTE `bName` — v13's rule as a
    * parametrized CTE body. */
  private def knnGdSql(bName: String): String =
    s"""SELECT vec_id, neighbor_id FROM (
       |        SELECT a.vec_id, c.vec_id AS neighbor_id,
       |               row_number() OVER (PARTITION BY a.vec_id ORDER BY
       |                 CAST(list_sum(list_transform(
       |                        generate_series(1, len(a.r)),
       |                        i -> a.r[i] * c.r[i])) AS DOUBLE)
       |                   / sqrt(CAST(a.nn AS DOUBLE)
       |                          * CAST(c.nn AS DOUBLE)) DESC,
       |                 c.vec_id) AS rank
       |        FROM $bName a JOIN $bName c ON c.label = a.label
       |          AND c.vec_id <> a.vec_id) t
       |      WHERE rank <= 3""".stripMargin

  /** Single-walk statement (v20/v21/v26): base corpus + its own
    * k-NN graph + one walk chain. `resultPred` restricts the FINAL
    * selection only (v26's filtered search — the frontier stays
    * unfiltered). Engine and DuckDB walk the identical search. */
  private def graphWalkSql(queryPred: String, basePred: String,
      knobs: (Int, Int), resultPred: String = "true"): String = {
    val (ctes, scF) = walkCtes("", queryPred, "b", "g", knobs)
    s"""WITH n AS MATERIALIZED ($quantizedSql),
       |b AS MATERIALIZED (SELECT * FROM n WHERE $basePred),
       |gd AS MATERIALIZED (${knnGdSql("b")}),
       |g AS MATERIALIZED (SELECT vec_id, neighbor_id FROM gd
       |      UNION
       |      SELECT neighbor_id AS vec_id, vec_id AS neighbor_id FROM gd),
       |$ctes
       |SELECT query_id, neighbor_id, cos_sim, rank FROM (
       |  SELECT query_id, node AS neighbor_id, cos_sim,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |             ORDER BY cos_sim DESC, node) AS INT) AS rank
       |  FROM $scF WHERE node <> query_id AND ($resultPred)) t
       |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
  }

  val all: Seq[QueryDef] = Seq(

    // Brute-force exact cosine top-k per query vector. The query side
    // is broadcast (tiny); candidates stream through a single scan.
    QueryDef(
      "v01_ann_brute_topk",
      v01Sql) { (s, d) =>
      // cosines via the primitive-loop kernel (higher-order array
      // expressions are interpreted); ranking stays declarative.
      // DEFINES its result snapshot: the recall job (v06) consumes
      // the materialized search results instead of re-running the
      // search (StageSnapshots contract).
      StageSnapshots.define(s, d, "v01_ann_brute_topk") {
        val w = Window.partitionBy("query_id")
          .orderBy(col("cos_sim").desc, col("neighbor_id"))
        graft.functions.VectorKernels.crossCosine(s, quantized(s, d), Q)
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= K)
          .select("query_id", "neighbor_id", "cos_sim", "rank")
      }.orderBy("query_id", "rank")
    },

    // Random-hyperplane LSH ANN: 8 pseudo-random hyperplanes derived
    // from md5 (coefficients in [-1000, 1000], identical on both
    // engines), sign-bit bucket per vector, candidates share the
    // bucket. Exact cosine re-rank inside the bucket, top-3. Recall
    // is approximate by design — the oracle runs the same algorithm.
    QueryDef(
      "v02_ann_lsh_bucket",
      v02Sql) { (s, d) =>
      // DEFINES its result snapshot for the recall job (v06)
      StageSnapshots.define(s, d, "v02_ann_lsh_bucket") {
        val n = quantized(s, d)
        // bucket assignment via the plane kernel (the plane matrix is a
        // constant — one materialization per partition instead of an
        // interpreted expression per row×plane×dim); candidate
        // generation stays a declarative equi-join on the bucket.
        val buck = graft.functions.VectorKernels.lshBuckets(s, n, 8)
        val nb = n.join(buck, "vec_id")
        val q = nb.filter(col("vec_id") < Q)
          .select(col("vec_id").as("query_id"), col("r").as("rq"),
            col("nn").as("nnq"), col("bucket"))
        val c = nb.select(col("vec_id").as("neighbor_id"), col("r").as("rc"),
          col("nn").as("nnc"), col("bucket"))
        val w = Window.partitionBy("query_id")
          .orderBy(col("cos_sim").desc, col("neighbor_id"))
        q.join(c, Seq("bucket"))
          .filter(col("neighbor_id") =!= col("query_id"))
          .select(col("query_id"), col("neighbor_id"),
            cosine(DotLong.col(col("rq"), col("rc")),
              col("nnq"), col("nnc")).as("cos_sim"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .select("query_id", "neighbor_id", "cos_sim", "rank")
      }.orderBy("query_id", "rank")
    },

    // IVF-style coarse search: `label` is the coarse cell; the cell
    // "centroid" is the exact integer component-wise sum of member
    // vectors (direction of the mean — same cosine ranking, no float
    // averaging). Each query probes its best cell only, then exact
    // top-3 within the cell.
    QueryDef(
      "v03_ann_ivf_cell",
      v03Sql) { (s, d) =>
      // DEFINES its result snapshot for the recall job (v06)
      StageSnapshots.define(s, d, "v03_ann_ivf_cell") {
        val n = quantized(s, d)
        // integer centroid (component-wise sum) per cell, exact —
        // one-pass aggregate, see centDf
        val cent = centDf(n)
        val q = n.filter(col("vec_id") < Q)
          .select(col("vec_id").as("query_id"), col("r").as("rq"),
            col("nn").as("nnq"))
        val wProbe = Window.partitionBy("query_id").orderBy(
          (DotLong.col(col("rq"), col("c")).cast("double") /
            sqrt(col("nnq").cast("double") * col("cn"))).desc, col("label"))
        val probe = broadcast(q).crossJoin(broadcast(cent))
          .withColumn("rn", row_number().over(wProbe))
          .filter(col("rn") === 1)
          .select(col("query_id"), col("rq"), col("nnq"), col("label"))
        val c = n.select(col("vec_id").as("neighbor_id"), col("r").as("rc"),
          col("nn").as("nnc"), col("label"))
        val w = Window.partitionBy("query_id")
          .orderBy(col("cos_sim").desc, col("neighbor_id"))
        broadcast(probe).join(c, Seq("label"))
          .filter(col("neighbor_id") =!= col("query_id"))
          .select(col("query_id"), col("label"), col("neighbor_id"),
            cosine(DotLong.col(col("rq"), col("rc")),
              col("nnq"), col("nnc")).as("cos_sim"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .select("query_id", "label", "neighbor_id", "cos_sim", "rank")
      }.orderBy("query_id", "rank")
    },

    // Z-score feature normalization — the embedding-preprocessing step
    // before indexing/training. Per-dimension stats come from EXACT
    // integer sums over the quantized values (order-independent;
    // second moments fit Long comfortably at 1e4 quantization), the
    // tiny per-dim stats table broadcasts back onto the explode, and
    // the final (v - μ)/σ is the same IEEE expression tree on both
    // engines — bit-identical z-scores. Shuffle volume: one partial
    // agg on ~64 dimension keys, nothing else.
    QueryDef(
      "v04_znorm_embeddings",
      """WITH q AS (SELECT vec_id, list_transform(embedding,
        |             x -> CAST(round(CAST(x AS DOUBLE)*10000, 0) AS BIGINT))
        |             AS r FROM embeddings),
        |e AS (SELECT vec_id, CAST(gs AS INT) AS pos, r[CAST(gs AS INT)+1] AS v
        |      FROM (SELECT vec_id, r,
        |              unnest(range(0, CAST(len(r) AS BIGINT), 1)) AS gs
        |            FROM q)),
        |st AS (SELECT pos, CAST(sum(v) AS DOUBLE) AS s,
        |              CAST(sum(v*v) AS DOUBLE) AS ss,
        |              CAST(count(*) AS DOUBLE) AS n
        |       FROM e GROUP BY pos)
        |SELECT e.vec_id, e.pos,
        |       round((v - s/n) / sqrt(ss/n - (s/n)*(s/n)), 6) AS z
        |FROM e JOIN st USING (pos)
        |ORDER BY vec_id, pos""".stripMargin) { (s, d) =>
      val q = Tables.embeddings(s, d).select(col("vec_id"),
        transform(col("embedding"),
          x => round(x.cast("double") * 10000, 0).cast("long")).as("r"))
      val e = q.select(col("vec_id"), posexplode(col("r")))
        .withColumnRenamed("col", "v")
      val st = e.groupBy("pos").agg(
        sum(col("v")).cast("double").as("s"),
        sum(col("v") * col("v")).cast("double").as("ss"),
        count(lit(1)).cast("double").as("n"))
      e.join(broadcast(st), "pos")
        .select(col("vec_id"), col("pos"),
          round((col("v") - col("s") / col("n")) /
            sqrt(col("ss") / col("n") -
              (col("s") / col("n")) * (col("s") / col("n"))), 6).as("z"))
        .orderBy("vec_id", "pos")
    },

    // Multi-probe IVF (probe-2): the standard recall lever over v03 —
    // a query near a cell boundary also searches its SECOND-nearest
    // centroid's cell, recovering the neighbors probe-1 loses there
    // (the same boundary caveat d09 documents). Cost: candidates
    // ~2·N/cells per query instead of N/cells; still never the full
    // pair space, and the shuffle stays on the short cell id. Probed
    // cells are disjoint, so candidates need no dedup.
    QueryDef(
      "v05_ann_ivf_multiprobe",
      v05Sql) { (s, d) =>
      // DEFINES its result snapshot for the recall job (v06)
      StageSnapshots.define(s, d, "v05_ann_ivf_multiprobe") {
        val n = quantized(s, d)
        val cent = centDf(n)
        val q = n.filter(col("vec_id") < Q)
          .select(col("vec_id").as("query_id"), col("r").as("rq"),
            col("nn").as("nnq"))
        val wProbe = Window.partitionBy("query_id").orderBy(
          (DotLong.col(col("rq"), col("c")).cast("double") /
            sqrt(col("nnq").cast("double") * col("cn"))).desc, col("label"))
        val probe = broadcast(q).crossJoin(broadcast(cent))
          .withColumn("rn", row_number().over(wProbe))
          .filter(col("rn") <= 2)
          .select(col("query_id"), col("rq"), col("nnq"), col("label"))
        val c = n.select(col("vec_id").as("neighbor_id"), col("r").as("rc"),
          col("nn").as("nnc"), col("label"))
        val w = Window.partitionBy("query_id")
          .orderBy(col("cos_sim").desc, col("neighbor_id"))
        broadcast(probe).join(c, Seq("label"))
          .filter(col("neighbor_id") =!= col("query_id"))
          .select(col("query_id"), col("neighbor_id"),
            cosine(DotLong.col(col("rq"), col("rc")),
              col("nnq"), col("nnc")).as("cos_sim"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .select("query_id", "neighbor_id", "cos_sim", "rank")
      }.orderBy("query_id", "rank")
    },

    // FILTERED ANN — vector search under a metadata predicate (here
    // vec_id % 3 = 0, standing in for e.g. license = 'permissive'),
    // the retrieval shape every RAG / curation stack needs. Strategy
    // is PRE-filter: the predicate cuts the corpus side at the scan
    // stage, BEFORE the cell join ever shuffles a candidate (a
    // sargable predicate would additionally reach PushedFilters; the
    // modulo stand-in is codegen'd right above the scan), with
    // probes scaled by 1/selectivity (v05's 2 probes × 3 → 6) so the
    // filter does not starve the candidate set. Post-filtering an
    // unfiltered top-k instead returns < k rows whenever the top-k is
    // predicate-sparse — measured at sf0.001: even post-filtering the
    // EXACT top-3 recovers 21/60 of the filtered truth vs 37/60 here
    // (Round6ExtensionSpec pins the dominance). Cost: candidates
    // ~= selectivity · probes · N/cells per query ≈ 2·N/cells, the
    // same as v05; the shuffle stays on the short cell id.
    QueryDef(
      "v12_filtered_ann",
      v12Sql) { (s, d) =>
      val n = quantized(s, d)
      val cent = centDf(n)
      val q = n.filter(col("vec_id") < Q)
        .select(col("vec_id").as("query_id"), col("r").as("rq"),
          col("nn").as("nnq"))
      val wProbe = Window.partitionBy("query_id").orderBy(
        (DotLong.col(col("rq"), col("c")).cast("double") /
          sqrt(col("nnq").cast("double") * col("cn"))).desc, col("label"))
      val probe = broadcast(q).crossJoin(broadcast(cent))
        .withColumn("rn", row_number().over(wProbe))
        .filter(col("rn") <= 6) // 2 probes / (1/3 selectivity)
        .select(col("query_id"), col("rq"), col("nnq"), col("label"))
      // the predicate lands on the SCAN of the candidate side — before
      // the cell join, not after the ranking
      val c = n.filter(col("vec_id") % 3 === 0)
        .select(col("vec_id").as("neighbor_id"), col("r").as("rc"),
          col("nn").as("nnc"), col("label"))
      val w = Window.partitionBy("query_id")
        .orderBy(col("cos_sim").desc, col("neighbor_id"))
      broadcast(probe).join(c, Seq("label"))
        .filter(col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          cosine(DotLong.col(col("rq"), col("rc")),
            col("nnq"), col("nnc")).as("cos_sim"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
        .orderBy("query_id", "rank")
    },

    // Recall measurement as a CHECKED query: recall@3 of each
    // approximate method (v02 LSH, v03 IVF probe-1, v05 IVF probe-2,
    // v10 flat PQ, v11 IVFPQ) against v01's exact top-3 — the
    // "multi-probe/PQ-shortlist is the recall lever" claims become
    // measured, oracle-verified numbers instead of assertions. recall
    // is exact integer fixed-point (hits·10⁴ div truth), so the row
    // hashes bit-identically across engines. At scale this is the
    // standard offline index-quality job: one left join truth⋈method
    // per index and a count — O(Q·k) rows, negligible next to the
    // searches themselves.
    QueryDef(
      "v06_ann_recall",
      s"""WITH ex AS (SELECT query_id, neighbor_id
         |            FROM ($v01Sql) t WHERE rank <= 3),
         |m2 AS (SELECT query_id, neighbor_id FROM ($v02Sql) t),
         |m3 AS (SELECT query_id, neighbor_id FROM ($v03Sql) t),
         |m5 AS (SELECT query_id, neighbor_id FROM ($v05Sql) t),
         |m10 AS (SELECT query_id, neighbor_id FROM ($v10Sql) t),
         |m11 AS (SELECT query_id, neighbor_id FROM ($v11Sql) t),
         |r AS (
         |  SELECT 'v02_lsh' AS method, CAST(count(m.query_id) AS BIGINT)
         |      AS hits, CAST(count(*) AS BIGINT) AS total
         |  FROM ex LEFT JOIN m2 m ON ex.query_id = m.query_id
         |    AND ex.neighbor_id = m.neighbor_id
         |  UNION ALL
         |  SELECT 'v03_ivf_probe1', CAST(count(m.query_id) AS BIGINT),
         |      CAST(count(*) AS BIGINT)
         |  FROM ex LEFT JOIN m3 m ON ex.query_id = m.query_id
         |    AND ex.neighbor_id = m.neighbor_id
         |  UNION ALL
         |  SELECT 'v05_ivf_probe2', CAST(count(m.query_id) AS BIGINT),
         |      CAST(count(*) AS BIGINT)
         |  FROM ex LEFT JOIN m5 m ON ex.query_id = m.query_id
         |    AND ex.neighbor_id = m.neighbor_id
         |  UNION ALL
         |  SELECT 'v10_pq_flat', CAST(count(m.query_id) AS BIGINT),
         |      CAST(count(*) AS BIGINT)
         |  FROM ex LEFT JOIN m10 m ON ex.query_id = m.query_id
         |    AND ex.neighbor_id = m.neighbor_id
         |  UNION ALL
         |  SELECT 'v11_ivfpq', CAST(count(m.query_id) AS BIGINT),
         |      CAST(count(*) AS BIGINT)
         |  FROM ex LEFT JOIN m11 m ON ex.query_id = m.query_id
         |    AND ex.neighbor_id = m.neighbor_id)
         |SELECT method, hits, total,
         |       (hits * 10000 // total) / 10000.0 AS recall
         |FROM r ORDER BY method""".stripMargin) { (s, d) =>
      // CONSUMES the searches' result snapshots (StageSnapshots): an
      // offline index-quality job reads the materialized search
      // results, it does not re-run four searches — compute-if-absent
      // keeps a standalone v06 run self-sufficient.
      def results(name: String) =
        StageSnapshots.snapshot(s, d, name)(
          graft.SparkEntry.queries(name)(s, d))
      val ex = results("v01_ann_brute_topk")
        .filter(col("rank") <= 3).select("query_id", "neighbor_id")
      def recallOf(name: String, label: String) = {
        val m = results(name)
          .select(col("query_id").as("mq"), col("neighbor_id").as("mn"))
        ex.join(m, col("query_id") === col("mq") &&
            col("neighbor_id") === col("mn"), "left")
          .agg(count(col("mq")).as("hits"), count(lit(1)).as("total"))
          .select(lit(label).as("method"), col("hits"), col("total"))
      }
      recallOf("v02_ann_lsh_bucket", "v02_lsh")
        .unionAll(recallOf("v03_ann_ivf_cell", "v03_ivf_probe1"))
        .unionAll(recallOf("v05_ann_ivf_multiprobe", "v05_ivf_probe2"))
        .unionAll(recallOf("v10_pq_adc_topk", "v10_pq_flat"))
        .unionAll(recallOf("v11_ivfpq_search", "v11_ivfpq"))
        .withColumn("recall", expr("hits * 10000 div total") / 10000.0)
        .orderBy("method")
    },

    // IVF INDEX BUILD — the step v03/v05/d09 take as given (their
    // `label` coarse-quantizer column arrives precomputed): k-means
    // over the corpus, here 2 Lloyd rounds at k=8 with every quantity
    // integer so both engines compute the identical partition.
    //   - vectors shift to non-negative y = r + 10⁴ (distances are
    //     translation-invariant; non-negativity makes integer floor
    //     division below engine-agnostic — Spark `div` truncates
    //     toward zero, DuckDB `//` floors, equal only for ≥0);
    //   - seeds = the k smallest vec_ids (deterministic init);
    //   - round 1 assigns by exact integer Σ(y−c)², ties → smaller
    //     cell id;
    //   - the centroid update keeps 64× fixed-point integer means
    //     q = (Σy·64) div n — the declared (and exactly reproducible)
    //     quantization of the mean;
    //   - round 2 assigns by Σ(64·y − q)². All sums fit well inside
    //     Long (64 dims × (2²¹)² ≈ 2⁴⁸).
    // Scale shape = MLlib's Lloyd's step: assignment is MAP-ONLY with
    // the k·dim centroid matrix broadcast (VectorKernels.assignCells);
    // the update is one posexplode → groupBy(cell, dim) with map-side
    // partial sums (shuffle O(k·64·partitions), independent of N);
    // the driver only ever holds k·64 longs. Rounds are a fixed
    // constant — at 100 TB each round is one scan + one tiny shuffle.
    QueryDef(
      "v07_ivf_kmeans_build",
      s"""WITH n AS MATERIALIZED ($quantizedSql),
         |y AS (SELECT vec_id, list_transform(r, v -> v + 10000) AS y
         |      FROM n),
         |seed AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT)
         |             - 1 AS p, y
         |         FROM (SELECT vec_id, y FROM y ORDER BY vec_id LIMIT 8)),
         |a1 AS (SELECT vec_id, p AS cell FROM (
         |    SELECT v.vec_id, s.p,
         |           row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |             list_sum(list_transform(generate_series(1, 64),
         |               i -> (v.y[i] - s.y[i]) * (v.y[i] - s.y[i]))), s.p)
         |             AS rn
         |    FROM y v, seed s) t WHERE rn = 1),
         |su AS (SELECT cell, j, CAST(sum(y[j]) AS BIGINT) AS sj,
         |              count(*) AS n_
         |       FROM y JOIN a1 USING (vec_id), generate_series(1, 64) t(j)
         |       GROUP BY cell, j),
         |c2 AS (SELECT cell, list((sj * 64) // n_ ORDER BY j) AS q
         |       FROM su GROUP BY cell),
         |a2 AS (SELECT vec_id, cell FROM (
         |    SELECT v.vec_id, c.cell,
         |           row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |             list_sum(list_transform(generate_series(1, 64),
         |               i -> (64 * v.y[i] - c.q[i]) * (64 * v.y[i] - c.q[i]))),
         |             c.cell) AS rn
         |    FROM y v, c2 c) t WHERE rn = 1)
         |SELECT vec_id, CAST(cell AS INT) AS cell
         |FROM a2 ORDER BY vec_id""".stripMargin) { (s, d) =>
      import s.implicits._
      val y = graft.PersistRegistry.cached(
        quantized(s, d)
          .select(col("vec_id"), transform(col("r"), v => v + 10000L).as("y")))
      // k seeds: bounded collect by construction (k·dim longs)
      val seeds = y.orderBy("vec_id").limit(8)
        .select("y").as[Array[Long]].collect()
        .zipWithIndex.map { case (v, p) => (p, v) }
      val a1 = graft.functions.VectorKernels.assignCells(s, y, seeds, 1L)
      // Lloyd update: per-(cell, dim) integer sums — map-side partial
      // agg; k·64 groups regardless of corpus size
      val cents2 = y.join(a1, "vec_id")
        .select(col("cell"), posexplode(col("y")).as(Seq("j", "v")))
        .groupBy("cell", "j")
        .agg(sum("v").as("sj"), count(lit(1)).as("n_"))
        .select(col("cell"), col("j"), expr("sj * 64 div n_").as("q"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (cell, rows) =>
          (cell, rows.sortBy(_.getInt(1)).map(_.getLong(2)).toArray)
        }.toArray
      graft.functions.VectorKernels.assignCells(s, y, cents2, 64L)
        .select(col("vec_id"), col("cell").cast("int").as("cell"))
        .orderBy("vec_id")
    },

    // INT8 storage quantization — the compression step an
    // embedding-heavy corpus ships to disk (4× smaller than float32,
    // the format every large vector store actually persists):
    // per-vector symmetric scale = max|x|/127, code q_i =
    // floor(x_i/scale + 0.5). floor — not round() — is the DECLARED
    // rounding rule because it is a single exact IEEE operation on
    // both engines, where decimal round() of a near-tie double is
    // engine-dependent (Spark HALF_UP vs DuckDB half-away). No clamp
    // needed: |x| <= max|x| bounds every code to [-127, 127]. The
    // oracle surface is the exact per-vector integer checksums
    // (Σq, Σq²) plus the scale — a full value check of the code
    // vector without shipping it. Map-only at any corpus size; the
    // reconstruction-error bound |q·scale − x| <= scale/2 is pinned
    // in a spec.
    QueryDef(
      "v08_int8_quantize",
      """WITH m AS (
        |  SELECT vec_id, embedding,
        |         list_max(list_transform(embedding,
        |           x -> abs(CAST(x AS DOUBLE)))) AS mx
        |  FROM embeddings),
        |q AS (
        |  SELECT vec_id, mx / 127 AS scale,
        |         list_transform(embedding,
        |           x -> CAST(floor(CAST(x AS DOUBLE) / (mx / 127) + 0.5)
        |                AS BIGINT)) AS qv
        |  FROM m WHERE mx > 0)
        |SELECT vec_id, scale,
        |       CAST(list_sum(qv) AS BIGINT) AS q_sum,
        |       CAST(list_sum(list_transform(qv, v -> v * v)) AS BIGINT)
        |         AS q_nn
        |FROM q ORDER BY vec_id""".stripMargin) { (s, d) =>
      val m = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"),
          array_max(transform(col("embedding"),
            x => abs(x.cast("double")))).as("mx"))
        .filter(col("mx") > 0)
      m.select(col("vec_id"), (col("mx") / 127).as("scale"),
          transform(col("embedding"),
            x => floor(x.cast("double") / (col("mx") / 127) + 0.5))
            .as("qv"))
        .select(col("vec_id"), col("scale"),
          aggregate(col("qv"), lit(0L), (a, v) => a + v).as("q_sum"),
          aggregate(transform(col("qv"), v => v * v), lit(0L),
            (a, v) => a + v).as("q_nn"))
        .orderBy("vec_id")
    },

    // PRODUCT QUANTIZATION encode — the compression that makes
    // billion-vector ANN serve from RAM (FAISS's PQ): each 64-dim
    // vector becomes PQM=8 sub-codes (4 bits each at PQK=16 → a
    // 32-bit code replacing 256 bytes of float32). Training is v07's
    // deterministic integer k-means run independently per subspace;
    // every quantity is integer so both engines compute the identical
    // codebooks and codes. pq_code packs the 8 codes little-endian
    // (code_s << 4s) — a full-value check of the code vector in one
    // BIGINT. Scale shape: training = one scan + a 1024-group shuffle
    // (independent of N); encoding = MAP-ONLY with the m·k·subDim-long
    // codebook broadcast. The codebook and encoded table are
    // stage-snapshots: v10's ADC search consumes them without
    // re-training (the d08→d10 defining-stage-writes contract).
    QueryDef(
      "v09_pq_encode",
      s"""WITH $pqCteSql
         |SELECT vec_id,
         |       CAST(sum(code * (CAST(1 AS BIGINT) << (4 * sub))) AS BIGINT)
         |         AS pq_code
         |FROM a2 GROUP BY vec_id ORDER BY vec_id""".stripMargin) { (s, d) =>
      val cbDf = StageSnapshots.define(s, d, "pq_codebook")(
        buildPqCodebook(s, d))
      val cb = collectCodebook(cbDf)
      val enc = StageSnapshots.define(s, d, "pq_enc")(buildPqEnc(s, d, cb))
      enc.selectExpr("vec_id",
        s"""aggregate(zip_with(codes, sequence(0, ${PQM - 1}),
           |  (c, i) -> CAST(c AS BIGINT) * shiftleft(CAST(1 AS BIGINT), 4 * i)),
           |  CAST(0 AS BIGINT), (a, x) -> a + x) AS pq_code""".stripMargin)
        .orderBy("vec_id")
    },

    // PQ ASYMMETRIC-DISTANCE search with exact re-rank — the serving
    // path v09's codes exist for: per query a PQM×PQK integer
    // distance TABLE (query subvector ↔ trained sub-centroids), the
    // compressed corpus is scanned once with O(m) table lookups per
    // row (VectorKernels.adcScan, map-only, corpus never decompressed),
    // the top-PQCAND ADC candidates per query are then re-ranked by
    // EXACT cosine — the standard two-stage shape (coarse PQ prune →
    // exact re-rank) of every production PQ deployment; measured
    // recall@3 vs the exhaustive v01: 0.82 at sf0.001, 0.73 at sf0.01
    // (floor pinned in Round6OperatorsSpec). Query side bounded
    // (Q=20) + broadcast by the same contract as v01; the candidate
    // cut is a window over Q groups (Q bounded — at unbounded Q the
    // cut becomes q37's mergeable top-k aggregator). Codebook + codes
    // arrive via stage-snapshot from v09 (compute-if-absent).
    QueryDef(
      "v10_pq_adc_topk",
      v10Sql) { (s, d) =>
      // DEFINES its result snapshot for the recall job (v06)
      StageSnapshots.define(s, d, "v10_pq_adc_topk")(buildV10(s, d))
        .orderBy("query_id", "rank")
    },

    // IVF+PQ — the capstone composing the engine's two ANN halves into
    // FAISS's IVFPQ, the index layout actually deployed at
    // billion-vector scale: the coarse quantizer (v03's integer
    // cell-centroid probe) picks each query's inverted list, the PQ
    // codes (v09's codebooks) compress the list entries, and serving
    // is a cell-restricted ADC scan (VectorKernels.adcScanCells — one
    // int compare + O(m) table lookups per row) followed by the exact
    // re-rank tail shared with v10. Storage is the real IVFPQ layout:
    // cell + codes in one row, produced by one map-only encode pass
    // (pqEncodeCell). At scale the encoded table partitions by cell,
    // so the scan touches O(probed lists), not O(corpus) — the probe
    // is what makes PQ search sub-linear rather than a faster linear.
    QueryDef(
      "v11_ivfpq_search",
      v11Sql) { (s, d) =>
      import s.implicits._
      // DEFINES its result snapshot for the recall job (v06)
      StageSnapshots.define(s, d, "v11_ivfpq_search") {
      val cbDf = StageSnapshots.snapshot(s, d, "pq_codebook")(
        buildPqCodebook(s, d))
      val cb = collectCodebook(cbDf)
      val n = quantized(s, d)
      // coarse probe — v03's rule verbatim: cell "centroid" = exact
      // integer component-wise sum (direction of the mean), best cell
      // by cosine, ties to the smaller label
      val cent = centDf(n)
      val wProbe = Window.partitionBy("query_id").orderBy(
        (DotLong.col(col("rq"), col("c")).cast("double") /
          sqrt(col("nnq").cast("double") * col("cn"))).desc, col("label"))
      val probe = broadcast(n.filter(col("vec_id") < Q)
          .select(col("vec_id").as("query_id"), col("r").as("rq"),
            col("nn").as("nnq")))
        .crossJoin(broadcast(cent))
        .withColumn("rn", row_number().over(wProbe))
        .filter(col("rn") === 1)
        .select(col("query_id"), col("label"))
      val probed = probe.as[(Long, Int)].collect().toMap
      // IVFPQ storage layout: cell + codes in one map-only encode pass
      val encCell = StageSnapshots.snapshot(s, d, "pq_enc_cell")(
        graft.functions.VectorKernels.pqEncodeCell(s,
          quantized(s, d).select(col("vec_id"), col("label").as("cell"),
            transform(col("r"), v => v + 10000L).as("y")),
          cb, PQM, PQD, 64L))
      val tables = pqDistTables(s, d, cb)
        .map { case (qid, t) => (qid, probed(qid), t) }
      val adc = graft.functions.VectorKernels.adcScanCells(s, encCell, tables)
      adcRerank(s, d, adc)
      }.orderBy("query_id", "rank")
    },

    // k-NN GRAPH BUILD — every vector's top-3 in-cell neighbors, the
    // substrate of SemDeDup-style semantic curation and graph-based
    // filtering (v01-v12 answer "nearest to a QUERY"; this answers
    // "nearest to EVERYONE"). Candidates come from the IVF cell
    // (label), so the joined space is Σ|cell|², never N²: at 1B
    // vectors the knob is nlist (v07's build) — cells of ~1-10k keep
    // Σ|cell|² linear-ish in N, and v11's PQ codes compress the
    // in-cell distance pass 8× when even that is too hot. Two
    // shuffles, both data-proportional: the cell equi-join and the
    // per-vector top-k window over CANDIDATES (N·|cell| rows, not
    // pairs of the whole corpus). Cosines are the quantized-integer
    // scheme — bit-identical across engines, codegen'd dot_long on
    // the hot path.
    QueryDef(
      "v13_knn_graph",
      s"""WITH n AS MATERIALIZED ($quantizedSql),
         |cs AS (SELECT a.vec_id AS vec_id, c.vec_id AS neighbor_id,
         |         CAST(list_sum(list_transform(generate_series(1, len(a.r)),
         |                i -> a.r[i] * c.r[i])) AS DOUBLE)
         |           / sqrt(CAST(a.nn AS DOUBLE) * CAST(c.nn AS DOUBLE))
         |           AS cos_sim
         |       FROM n a JOIN n c ON c.label = a.label
         |         AND c.vec_id <> a.vec_id)
         |SELECT vec_id, neighbor_id, cos_sim, rank FROM (
         |  SELECT vec_id, neighbor_id, cos_sim,
         |         CAST(row_number() OVER (PARTITION BY vec_id
         |             ORDER BY cos_sim DESC, neighbor_id) AS INT) AS rank
         |  FROM cs) t
         |WHERE rank <= 3 ORDER BY vec_id, rank""".stripMargin) { (s, d) =>
      // v13 DEFINES the knn-graph table: always recompute + rewrite
      // the snapshot its centrality consumer (v18) reads
      Parquet.read(s,
          StageSnapshots.materialize(s, d, "knn-graph")(knnGraph(s, d)))
        .orderBy("vec_id", "rank")
    },

    // RECALL / COST CURVE over the nprobe knob — the tuning artifact
    // an IVF deployment is actually sized from: for nprobe ∈ 1..4,
    // recall@3 vs the brute truth AND the candidate count paid for
    // it, in ONE pass. The candidate set is computed once at the
    // widest probe depth with each candidate tagged by the rank of
    // its cell (the minimum nprobe that reaches it); each curve
    // point is then a filter + re-rank of that same set — no
    // 4× re-search. O(Q · nprobe · |cell|) rows throughout, bounded
    // by the query set; at 100 TB this is the standard offline
    // index-quality job run on a sample of queries.
    QueryDef(
      "v14_recall_curve",
      s"""WITH n AS ($quantizedSql),
         |cen AS (SELECT label, j, CAST(sum(r[j]) AS BIGINT) AS cj
         |        FROM n, generate_series(1, 64) t(j) GROUP BY label, j),
         |cent AS (SELECT label, list(cj ORDER BY j) AS c,
         |           CAST(list_sum(list_transform(list(cj ORDER BY j),
         |                x -> x*x)) AS DOUBLE) AS cn
         |         FROM cen GROUP BY label),
         |pr AS (SELECT query_id, label, rn FROM (
         |    SELECT q.vec_id AS query_id, cent.label,
         |           row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |             CAST(list_sum(list_transform(generate_series(1, 64),
         |                    i -> q.r[i] * cent.c[i])) AS DOUBLE)
         |               / sqrt(CAST(q.nn AS DOUBLE) * cn) DESC, cent.label)
         |             AS rn
         |    FROM n q, cent WHERE q.vec_id < $Q) t WHERE rn <= 4),
         |cs AS (SELECT p.query_id, c.vec_id AS neighbor_id, p.rn,
         |         CAST(list_sum(list_transform(generate_series(1, len(q.r)),
         |                i -> q.r[i] * c.r[i])) AS DOUBLE)
         |           / sqrt(CAST(q.nn AS DOUBLE) * CAST(c.nn AS DOUBLE))
         |           AS cos_sim
         |       FROM pr p JOIN n q ON p.query_id = q.vec_id
         |         JOIN n c ON c.label = p.label AND c.vec_id <> q.vec_id),
         |lev AS (SELECT t.p, cs.query_id, cs.neighbor_id, cs.cos_sim
         |        FROM cs, generate_series(1, 4) t(p) WHERE cs.rn <= t.p),
         |top AS (SELECT p, query_id, neighbor_id FROM (
         |    SELECT p, query_id, neighbor_id,
         |           row_number() OVER (PARTITION BY query_id, p
         |               ORDER BY cos_sim DESC, neighbor_id) AS rank
         |    FROM lev) t WHERE rank <= 3),
         |ex AS (SELECT query_id, neighbor_id FROM ($v01Sql) t
         |       WHERE rank <= 3),
         |exp AS (SELECT t.p, ex.query_id, ex.neighbor_id
         |        FROM ex, generate_series(1, 4) t(p)),
         |h AS (SELECT exp.p, CAST(count(top.query_id) AS BIGINT) AS hits,
         |        CAST(count(*) AS BIGINT) AS total
         |      FROM exp LEFT JOIN top ON top.p = exp.p
         |        AND top.query_id = exp.query_id
         |        AND top.neighbor_id = exp.neighbor_id
         |      GROUP BY exp.p),
         |cnd AS (SELECT p, CAST(count(*) AS BIGINT) AS n_candidates
         |        FROM lev GROUP BY p)
         |SELECT CAST(h.p AS INT) AS nprobe, n_candidates, hits, total,
         |       (hits * 10000 // total) / 10000.0 AS recall
         |FROM h JOIN cnd USING (p) ORDER BY nprobe""".stripMargin) { (s, d) =>
      val n = quantized(s, d)
      val cent = centDf(n)
      val q = n.filter(col("vec_id") < Q)
        .select(col("vec_id").as("query_id"), col("r").as("rq"),
          col("nn").as("nnq"))
      val wProbe = Window.partitionBy("query_id").orderBy(
        (DotLong.col(col("rq"), col("c")).cast("double") /
          sqrt(col("nnq").cast("double") * col("cn"))).desc, col("label"))
      val probe = broadcast(q).crossJoin(broadcast(cent))
        .withColumn("rn", row_number().over(wProbe))
        .filter(col("rn") <= 4)
        .select(col("query_id"), col("rq"), col("nnq"), col("label"),
          col("rn"))
      val c = n.select(col("vec_id").as("neighbor_id"), col("r").as("rc"),
        col("nn").as("nnc"), col("label"))
      val cand = broadcast(probe).join(c, Seq("label"))
        .filter(col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"), col("rn"),
          cosine(DotLong.col(col("rq"), col("rc")),
            col("nnq"), col("nnc")).as("cos_sim"))
      // PERSISTED (round 21 — §1.2): `lev` feeds BOTH the per-level
      // top-3 window and the per-level candidate counts; as a lazy
      // plan each branch re-ran the probe (corpus scan + centroid
      // window) and the in-cell candidate join. Bounded
      // O(Q·nprobe·|cell|) rows — the recall job's working set, never
      // the corpus; tracked, harness-released.
      val lev = graft.PersistRegistry.cached(cand
        .join(broadcast(probeLevels(s)), col("rn") <= col("p"))
        .select(col("p"), col("query_id"), col("neighbor_id"),
          col("cos_sim")))
      val wTop = Window.partitionBy("query_id", "p")
        .orderBy(col("cos_sim").desc, col("neighbor_id"))
      val top = lev.withColumn("rank", row_number().over(wTop))
        .filter(col("rank") <= 3)
        .select(col("p").as("tp"), col("query_id").as("tq"),
          col("neighbor_id").as("tn"))
      val ex = StageSnapshots.snapshot(s, d, "v01_ann_brute_topk")(
          graft.SparkEntry.queries("v01_ann_brute_topk")(s, d))
        .filter(col("rank") <= 3).select("query_id", "neighbor_id")
      val exp = ex.crossJoin(broadcast(probeLevels(s)))
      val h = exp.join(top, col("tp") === col("p") &&
          col("tq") === col("query_id") && col("tn") === col("neighbor_id"),
          "left")
        .groupBy("p")
        .agg(count(col("tq")).as("hits"), count(lit(1)).as("total"))
      val cnd = lev.groupBy("p").agg(count(lit(1)).as("n_candidates"))
      h.join(cnd, "p")
        .select(col("p").cast("int").as("nprobe"), col("n_candidates"),
          col("hits"), col("total"),
          (expr("hits * 10000 div total") / 10000.0).as("recall"))
        .orderBy("nprobe")
    },

    // BM25 keyword retrieval (Okapi, Lucene's idf variant) — the
    // lexical half of a RAG retrieval stack, complementing the vector
    // paths above. Corpus stats (N, Σdl, per-term df) reduce to ONE
    // broadcast row; tf and dl are computed map-only per doc; the
    // global top-20 is a TakeOrdered cut, not a full sort. The only
    // data-sized cost is the stats scan — the op is two linear passes
    // at any corpus size. Ties at the cut break on the ROUNDED score
    // then doc_id, so the result set is stable under ulp noise.
    QueryDef(
      "v15_bm25_topk",
      """WITH dtf AS (SELECT doc_id, len(w) AS dl,
        |         len(list_filter(w, x -> x = 'spark'))  AS tf0,
        |         len(list_filter(w, x -> x = 'join'))   AS tf1,
        |         len(list_filter(w, x -> x = 'window')) AS tf2
        |       FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        |             FROM documents) t),
        |st AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |              CAST(sum(dl) AS DOUBLE) AS sumdl,
        |              CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
        |              CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
        |              CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df2
        |       FROM dtf)
        |SELECT doc_id, round(
        |    ln(1 + (n - df0 + 0.5) / (df0 + 0.5)) * (tf0 * 2.2)
        |      / (tf0 + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / (sumdl / n))))
        |  + ln(1 + (n - df1 + 0.5) / (df1 + 0.5)) * (tf1 * 2.2)
        |      / (tf1 + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / (sumdl / n))))
        |  + ln(1 + (n - df2 + 0.5) / (df2 + 0.5)) * (tf2 * 2.2)
        |      / (tf2 + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / (sumdl / n))))
        |  , 4) AS bm25
        |FROM dtf, st
        |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin) { (s, d) =>
      bm25Scored(s, d).orderBy(col("bm25").desc, col("doc_id")).limit(20)
    },

    // Reciprocal-rank fusion of the two retrieval signals: BM25
    // (v15's scorer) and whole-vocab lexical cosine. RRF's scale
    // contract: each ranker is cut to its top-50 FIRST (TakeOrdered —
    // bounded however large the corpus), so the rank windows and the
    // full-outer fusion join run over ≤50-row sets; the only
    // corpus-sized work is the two scoring scans. The cosine side is
    // exact integer arithmetic (tf sums, Σtf²) until the final
    // sqrt/divide, so both engines rank identically.
    QueryDef(
      "v16_rrf_hybrid",
      """WITH dtf AS (SELECT doc_id, len(w) AS dl,
        |         len(list_filter(w, x -> x = 'spark'))  AS tf0,
        |         len(list_filter(w, x -> x = 'join'))   AS tf1,
        |         len(list_filter(w, x -> x = 'window')) AS tf2
        |       FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        |             FROM documents) t),
        |st AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |              CAST(sum(dl) AS DOUBLE) AS sumdl,
        |              CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
        |              CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
        |              CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df2
        |       FROM dtf),
        |bm AS (SELECT doc_id, round(
        |    ln(1 + (n - df0 + 0.5) / (df0 + 0.5)) * (tf0 * 2.2)
        |      / (tf0 + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / (sumdl / n))))
        |  + ln(1 + (n - df1 + 0.5) / (df1 + 0.5)) * (tf1 * 2.2)
        |      / (tf1 + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / (sumdl / n))))
        |  + ln(1 + (n - df2 + 0.5) / (df2 + 0.5)) * (tf2 * 2.2)
        |      / (tf2 + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / (sumdl / n))))
        |  , 4) AS bm25
        |  FROM dtf, st ORDER BY bm25 DESC, doc_id LIMIT 50),
        |bmr AS (SELECT doc_id,
        |          row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rb FROM bm),
        |tfs AS (SELECT doc_id, w AS term, count(*)::BIGINT AS tf FROM
        |        (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w
        |         FROM documents) t GROUP BY doc_id, term),
        |nrm AS (SELECT doc_id, sum(tf * tf) AS nn2 FROM tfs GROUP BY doc_id),
        |qd AS (SELECT doc_id, sum(tf) AS qdot FROM tfs
        |       WHERE term IN ('spark', 'join', 'window') GROUP BY doc_id),
        |cs AS (SELECT qd.doc_id, round(CAST(qdot AS DOUBLE)
        |           / (sqrt(3.0) * sqrt(CAST(nn2 AS DOUBLE))), 6) AS lexcos
        |       FROM qd JOIN nrm ON qd.doc_id = nrm.doc_id
        |       ORDER BY lexcos DESC, qd.doc_id LIMIT 50),
        |csr AS (SELECT doc_id,
        |          row_number() OVER (ORDER BY lexcos DESC, doc_id) AS rc FROM cs)
        |SELECT coalesce(bmr.doc_id, csr.doc_id) AS doc_id,
        |       CAST(bmr.rb AS INT) AS bm25_rank,
        |       CAST(csr.rc AS INT) AS cos_rank,
        |       round(coalesce(1.0 / (60 + bmr.rb), 0)
        |           + coalesce(1.0 / (60 + csr.rc), 0), 6) AS rrf
        |FROM bmr FULL OUTER JOIN csr ON bmr.doc_id = csr.doc_id
        |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin) { (s, d) =>
      // both rank windows run over ≤50 rows (post-TakeOrdered), so the
      // single-partition global window is a constant-sized step; the
      // constant partition key states that on the plan itself —
      // execution is identical, but WindowExec's "No Partition
      // Defined" warning (a real alarm on unbounded input) no longer
      // fires for a window that is bounded by construction. pmod(k,1)
      // = 0 rather than lit(0): a foldable key would be stripped by
      // the optimizer (EliminateWindowPartitions), resurrecting the
      // warning.
      val wB = Window.partitionBy(pmod(col("doc_id"), lit(1)))
        .orderBy(col("bm25").desc, col("doc_id"))
      val bmr = bm25Scored(s, d)
        .orderBy(col("bm25").desc, col("doc_id")).limit(50)
        .withColumn("rb", row_number().over(wB)).select("doc_id", "rb")
      // the tf table feeds both the norm and the query-dot aggregates
      val tfs = graft.PersistRegistry.cached(
        graft.sources.Tables.documents(s, d)
          .select(col("doc_id"),
            explode(split(trim(col("text")), "\\s+")).as("term"))
          .groupBy("doc_id", "term").agg(count(lit(1)).as("tf")))
      val nrm = tfs.groupBy("doc_id")
        .agg(sum(col("tf") * col("tf")).as("nn2"))
      val qd = tfs.filter(col("term").isin(BmTerms: _*))
        .groupBy("doc_id").agg(sum("tf").as("qdot"))
      val cs = qd.join(nrm, "doc_id")
        .select(col("doc_id"), round(col("qdot").cast("double") /
          (sqrt(lit(3.0)) * sqrt(col("nn2").cast("double"))), 6).as("lexcos"))
        .orderBy(col("lexcos").desc, col("doc_id")).limit(50)
      val wC = Window.partitionBy(pmod(col("doc_id"), lit(1)))
        .orderBy(col("lexcos").desc, col("doc_id"))
      val csr = cs.withColumn("rc", row_number().over(wC))
        .select(col("doc_id").as("c_doc_id"), col("rc"))
      bmr.join(csr, col("doc_id") === col("c_doc_id"), "full_outer")
        .select(coalesce(col("doc_id"), col("c_doc_id")).as("doc_id"),
          col("rb").cast("int").as("bm25_rank"),
          col("rc").cast("int").as("cos_rank"),
          round(coalesce(lit(1.0) / (lit(60) + col("rb")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("rc")), lit(0.0)), 6).as("rrf"))
        .orderBy(col("rrf").desc, col("doc_id")).limit(10)
    },

    // MMR (maximal marginal relevance) diversified re-rank — the
    // post-retrieval step a RAG stack runs on the retrieved page:
    // greedily pick 5 of v15's top-20, each step maximizing
    // 0.7·relevance − 0.3·max-similarity-to-already-picked. Greedy
    // selection is inherently sequential, so the production-honest
    // shape is exactly this one: the CANDIDATE set is top-k bounded
    // at any corpus size (the only corpus-scale work is v15's
    // scoring pass), and the 5 unrolled limit-1 steps plus the 20×20
    // pairwise-cosine grid run over constant-sized data. All
    // comparisons are on identical doubles (rounded bm25, exact
    // integer tf dots, correctly-rounded products), ties on doc_id —
    // both engines walk the same greedy path.
    QueryDef(
      "v17_mmr_rerank",
      s"""WITH $mmrCandSql,
        |tfs AS (SELECT doc_id, w AS term, count(*)::BIGINT AS tf FROM
        |        (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w
        |         FROM documents WHERE doc_id IN (SELECT doc_id FROM cand)) t
        |        GROUP BY doc_id, term),
        |nrm AS (SELECT doc_id, sum(tf * tf) AS nn2 FROM tfs GROUP BY doc_id),
        |sim AS (SELECT a.doc_id AS da, b.doc_id AS db,
        |          CAST(dp.dot AS DOUBLE)
        |            / (sqrt(CAST(na.nn2 AS DOUBLE)) * sqrt(CAST(nb.nn2 AS DOUBLE)))
        |            AS cos
        |        FROM (SELECT x.doc_id AS da2, y.doc_id AS db2,
        |                sum(x.tf * y.tf) AS dot
        |              FROM tfs x JOIN tfs y
        |                ON x.term = y.term AND x.doc_id <> y.doc_id
        |              GROUP BY x.doc_id, y.doc_id) dp
        |        JOIN cand a ON a.doc_id = dp.da2
        |        JOIN cand b ON b.doc_id = dp.db2
        |        JOIN nrm na ON na.doc_id = dp.da2
        |        JOIN nrm nb ON nb.doc_id = dp.db2),
        |${mmrStepsSql}
        |SELECT * FROM (
        |  SELECT 1 AS rank, doc_id, round(mmr, 4) AS mmr FROM s1
        |  UNION ALL SELECT 2, doc_id, round(mmr, 4) FROM s2
        |  UNION ALL SELECT 3, doc_id, round(mmr, 4) FROM s3
        |  UNION ALL SELECT 4, doc_id, round(mmr, 4) FROM s4
        |  UNION ALL SELECT 5, doc_id, round(mmr, 4) FROM s5
        |) ORDER BY rank""".stripMargin) { (s, d) =>
      // The only corpus-scale work is v15's scoring pass; everything
      // after operates on the retrieved PAGE. Greedy selection over a
      // top-k page is serving-layer logic in any production retrieval
      // stack, so the collects below are the honest shape — and both
      // are structurally bounded (d05/v01's enforced-bound pattern):
      // cand by its own limit(20), sim by 20·19 pairs derived from it.
      val cand = graft.PersistRegistry.cached(
        bm25Scored(s, d).orderBy(col("bm25").desc, col("doc_id")).limit(20))
      val candRows = cand.collect().map(r => (r.getLong(0), r.getDouble(1)))
      require(candRows.length <= 20, "candidate page must stay bounded")
      val tfs = graft.PersistRegistry.cached(
        graft.sources.Tables.documents(s, d)
          .join(cand.select("doc_id"), Seq("doc_id"), "left_semi")
          .select(col("doc_id"),
            explode(split(trim(col("text")), "\\s+")).as("term"))
          .groupBy("doc_id", "term").agg(count(lit(1)).as("tf")))
      val nrm = tfs.groupBy("doc_id").agg(sum(col("tf") * col("tf")).as("nn2"))
      val dot = tfs.as("x").join(tfs.as("y"),
          col("x.term") === col("y.term") &&
            col("x.doc_id") =!= col("y.doc_id"))
        .groupBy(col("x.doc_id").as("da"), col("y.doc_id").as("db"))
        .agg(sum(col("x.tf") * col("y.tf")).as("dot"))
      val simRows = dot
        .join(nrm.select(col("doc_id").as("da"), col("nn2").as("nna")), "da")
        .join(nrm.select(col("doc_id").as("db"), col("nn2").as("nnb")), "db")
        .select(col("da"), col("db"), (col("dot").cast("double") /
          (sqrt(col("nna").cast("double")) * sqrt(col("nnb").cast("double"))))
          .as("cos"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
        .toMap
      require(simRows.size <= candRows.length * (candRows.length - 1),
        "pair grid must stay bounded by the candidate page")
      // greedy walk — the identical arithmetic the oracle's unrolled
      // CTEs perform: 0.7·bm25 − 0.3·max cos-to-selected, doc_id ties.
      // A page smaller than 5 (or empty — the 0-row-corpus sweep)
      // yields a correspondingly shorter walk.
      val bm = candRows.toMap
      var sel = Vector.empty[Long]
      var out = Vector.empty[(Int, Long, Double)]
      if (candRows.nonEmpty) {
        sel = Vector(candRows.minBy { case (id, sc) => (-sc, id) }._1)
        out = Vector((1, sel.head, 0.7 * bm(sel.head)))
      }
      for (k <- 2 to math.min(5, candRows.length)) {
        val (id, mmr) = candRows.filterNot { case (id0, _) => sel.contains(id0) }
          .map { case (id0, sc) =>
            val pen = sel.map(sid => simRows.getOrElse((id0, sid), 0.0)).max
            (id0, 0.7 * sc - 0.3 * pen)
          }.minBy { case (id0, m) => (-m, id0) }
        sel :+= id
        out :+= ((k, id, mmr))
      }
      import s.implicits._
      out.map { case (k, id, m) =>
        (k, id, BigDecimal(m).setScale(4,
          BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.toDF("rank", "doc_id", "mmr").orderBy("rank")
    },

    // k-NN-graph PageRank (3 power iterations, INTEGER arithmetic):
    // centrality over v13's graph — the hub/representativeness signal
    // SemDeDup-family pipelines use to pick prototypes and data-
    // selection papers use to weight coverage. All mass is BIGINT
    // micro-units (1e9 total): init 1e9 div N, each step
    // 0.15 + 0.85·inflow becomes 150e6 div N + (85·Σ(p div outdeg))
    // div 100 — truncating integer division at every step, so both
    // engines walk bit-identical states (no float summation anywhere;
    // dangling in-cell singletons simply leak their mass, stated and
    // deterministic). Scale shape: per iteration one src-keyed join +
    // one dst-keyed partial agg over the O(3N) edge list — linear,
    // O(iters) rounds, the same bulk-synchronous discipline as d08;
    // the edge table is v13's "knn-graph" stage snapshot
    // (compute-if-absent, the d02→d08 contract).
    QueryDef(
      "v18_knn_pagerank",
      s"""WITH n AS MATERIALIZED ($quantizedSql),
        |cs AS (SELECT a.vec_id AS vec_id, c.vec_id AS neighbor_id,
        |         CAST(list_sum(list_transform(generate_series(1, len(a.r)),
        |                i -> a.r[i] * c.r[i])) AS DOUBLE)
        |           / sqrt(CAST(a.nn AS DOUBLE) * CAST(c.nn AS DOUBLE))
        |           AS cos_sim
        |       FROM n a JOIN n c ON c.label = a.label
        |         AND c.vec_id <> a.vec_id),
        |e AS (SELECT vec_id AS src, neighbor_id AS dst FROM (
        |        SELECT vec_id, neighbor_id,
        |               row_number() OVER (PARTITION BY vec_id
        |                   ORDER BY cos_sim DESC, neighbor_id) AS rank
        |        FROM cs) t WHERE rank <= 3),
        |odeg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
        |nodes AS (SELECT vec_id FROM n),
        |nc AS (SELECT count(*) AS cnt FROM nodes),
        |p0 AS (SELECT vec_id, 1000000000 // cnt AS p FROM nodes, nc),
        |f1 AS (SELECT e.dst, sum(p0.p // odeg.deg) AS inflow
        |       FROM e JOIN p0 ON e.src = p0.vec_id
        |            JOIN odeg ON e.src = odeg.src GROUP BY e.dst),
        |p1 AS (SELECT nd.vec_id, (150000000 // nc.cnt)
        |           + ((85 * coalesce(f1.inflow, 0)) // 100) AS p
        |       FROM nodes nd CROSS JOIN nc
        |       LEFT JOIN f1 ON f1.dst = nd.vec_id),
        |f2 AS (SELECT e.dst, sum(p1.p // odeg.deg) AS inflow
        |       FROM e JOIN p1 ON e.src = p1.vec_id
        |            JOIN odeg ON e.src = odeg.src GROUP BY e.dst),
        |p2 AS (SELECT nd.vec_id, (150000000 // nc.cnt)
        |           + ((85 * coalesce(f2.inflow, 0)) // 100) AS p
        |       FROM nodes nd CROSS JOIN nc
        |       LEFT JOIN f2 ON f2.dst = nd.vec_id),
        |f3 AS (SELECT e.dst, sum(p2.p // odeg.deg) AS inflow
        |       FROM e JOIN p2 ON e.src = p2.vec_id
        |            JOIN odeg ON e.src = odeg.src GROUP BY e.dst),
        |p3 AS (SELECT nd.vec_id, (150000000 // nc.cnt)
        |           + ((85 * coalesce(f3.inflow, 0)) // 100) AS p
        |       FROM nodes nd CROSS JOIN nc
        |       LEFT JOIN f3 ON f3.dst = nd.vec_id)
        |SELECT vec_id, CAST(p AS BIGINT) AS pagerank
        |FROM p3 ORDER BY pagerank DESC, vec_id LIMIT 20""".stripMargin) {
      (s, d) =>
      val g = StageSnapshots.snapshot(s, d, "knn-graph")(knnGraph(s, d))
      val e = g.select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
      val odeg = e.groupBy("src").agg(count(lit(1)).as("deg"))
      val nodes = quantized(s, d).select("vec_id")
      val nc = nodes.agg(count(lit(1)).as("cnt"))
      var p = nodes.crossJoin(broadcast(nc))
        .select(col("vec_id"), expr("1000000000 div cnt").as("p"))
      for (_ <- 1 to 3) {
        val fl = e.join(p, col("src") === col("vec_id")).join(odeg, "src")
          .select(col("dst"), expr("p div deg").as("contrib"))
          .groupBy("dst").agg(sum("contrib").as("inflow"))
        p = nodes.crossJoin(broadcast(nc))
          .join(fl, col("vec_id") === col("dst"), "left")
          .select(col("vec_id"), (expr("150000000 div cnt") +
            expr("(85 * coalesce(inflow, 0)) div 100")).as("p"))
      }
      p.select(col("vec_id"), col("p").cast("long").as("pagerank"))
        .orderBy(col("pagerank").desc, col("vec_id")).limit(20)
    },

    // ANN JOIN with an UNBOUNDED query side — the missing regime in
    // the family: v01/v03/v05 carry a bounded, broadcast-able query
    // set (the online-serving contract); dataset distillation, DSIR
    // scoring, and retrieval-training pipelines instead join an
    // entire query TABLE (here the md5-decile-0 slice, ~10% of the
    // corpus and growing with it) against the corpus. No broadcast
    // anywhere: BOTH sides shuffle on the IVF cell id (probe-1 —
    // each query searches its own cell, the cell assignment coming
    // free from the index at ingest), the per-cell join is Σ
    // |q_cell|·|c_cell| — never N² — and the per-query top-3 is a
    // window over in-cell candidates. This is v13's co-partitioned
    // kNN shape specialized to two tables; nlist∝N keeps cells
    // bounded at 100 TB exactly as v13's scale row documents.
    QueryDef(
      "v19_ann_join",
      s"""WITH n AS MATERIALIZED ($quantizedSql),
        |q AS (SELECT vec_id AS query_id, label, r AS rq, nn AS nnq FROM n
        |      WHERE ${TextKernels.mdBucketSql("vec_id", 10)} = 0),
        |c AS (SELECT vec_id AS neighbor_id, label, r AS rc, nn AS nnc FROM n
        |      WHERE ${TextKernels.mdBucketSql("vec_id", 10)} <> 0),
        |cs AS (SELECT query_id, neighbor_id,
        |         CAST(list_sum(list_transform(generate_series(1, len(rq)),
        |                i -> rq[i] * rc[i])) AS DOUBLE)
        |           / sqrt(CAST(nnq AS DOUBLE) * CAST(nnc AS DOUBLE)) AS cos_sim
        |       FROM q JOIN c USING (label))
        |SELECT query_id, neighbor_id, cos_sim, rank FROM (
        |  SELECT query_id, neighbor_id, cos_sim,
        |         CAST(row_number() OVER (PARTITION BY query_id
        |             ORDER BY cos_sim DESC, neighbor_id) AS INT) AS rank
        |  FROM cs) t
        |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin) { (s, d) =>
      val n = quantized(s, d)
      val bucket = TextKernels.mdBucket(col("vec_id"), 10)
      val q = n.filter(bucket === 0)
        .select(col("vec_id").as("query_id"), col("label"),
          col("r").as("rq"), col("nn").as("nnq"))
      val c = n.filter(bucket =!= 0)
        .select(col("vec_id").as("neighbor_id"), col("label"),
          col("r").as("rc"), col("nn").as("nnc"))
      val w = Window.partitionBy("query_id")
        .orderBy(col("cos_sim").desc, col("neighbor_id"))
      q.join(c, Seq("label"))
        .select(col("query_id"), col("neighbor_id"),
          cosine(DotLong.col(col("rq"), col("rc")),
            col("nnq"), col("nnc")).as("cos_sim"))
        .withColumn("rank", row_number().over(w).cast("int"))
        .filter(col("rank") <= 3)
        .orderBy("query_id", "rank")
    },

    // GRAPH-ANN BEAM SEARCH — the HNSW-shaped serving path the suite
    // lacked: v03 answers a query by scanning its WHOLE probed cell
    // (O(|cell|) dot products per query); v20 walks the cell's k-NN
    // graph instead — entry at the cell's min-vec_id node, then H
    // beam hops (beam B by cosine, node tiebreak) expanding each
    // beam node's k<=3 committed v13 edges, candidates = the visited
    // set, final top-3 among visited nodes. H and B are the
    // recall/cost knobs a graph index is sized by: H must cover the
    // graph's diameter (~log_k |cell|, so H grows with log N — at
    // H=3/B=4 recall@3 vs the exhaustive v03 walk measured 22% on
    // sf0.1's cells; fixed H=6/B=8 measured 65% there), B widens
    // the frontier past local optima. Round 11: the knobs ADAPT —
    // v20SizeKnobs derives (H, B) from the largest probed cell at
    // runtime (H = ceil(log3 |cell|) + 2, B = 2H), closing the
    // fixed-depth under-recall; Round11Spec pins recall@3 >= 90%
    // vs v03 on sf0.1's cells. Deterministic
    // end-to-end (integer-quantized cosines are bit-identical across
    // engines; every selection breaks ties by node id), so DuckDB
    // recomputes the exact walk — the hop CTE chain below is
    // GENERATED from the same (H, B) constants the engine loops
    // over. Scale: the query side is the v01-v05 bounded serving
    // contract (broadcast); the GRAPH is the only data-sized table
    // and is consumed from v13's committed "knn-graph" stage
    // snapshot (compute-if-absent — a session that ran v13 pays
    // nothing); each hop joins <= Q*B beam rows against it by node
    // key, touching O(B*k) vectors per query per hop instead of
    // O(|cell|) — the reason graph ANN wins once cells are large
    // (at 1B vectors with nlist from v07's build, |cell| ~ 1-10k but
    // a walk reads ~H*B*k nodes). The visited set is
    // <= Q*(1 + H*B*k) rows — no stage is corpus-sized beyond the
    // graph join.
    QueryDef(
      "v20_graph_beam_search",
      v20Sql) { (s, d) =>
      graphBeamWalk(s, d, col("vec_id") < Q, lit(true), "knn-graph",
        v20Knobs, maxQ = Q)
    },

    // GRAPH INSERT — the index-MAINTENANCE half of the serving story
    // (round 11): v13 batch-builds the k-NN graph and v20 searches
    // it, but a 100 TB corpus appends vectors continuously, and
    // rebuilding Σcell² edges per batch is the one cost a graph
    // index exists to avoid. v21 runs the HNSW insert rule: the
    // batch (every 89th vec_id — the held-out "new" vectors) is
    // EXCLUDED from the base corpus, each insert coarse-probes the
    // base centroids, closed-set beam-walks the base cell's graph
    // (the identical v20 machinery against a "knn-graph-base"
    // snapshot), and its top-3 visited nodes become the insert's
    // edges — O(walk) per insert instead of O(|cell|), with the
    // reverse edges implied by the same symmetrization the search
    // applies. Deterministic end-to-end, so DuckDB recomputes the
    // exact insert set via the same generated chain; the spec pins
    // edge quality against the exhaustive in-cell truth.
    QueryDef(
      "v21_graph_insert",
      v21Sql) { (s, d) =>
      // the insert batch is pinned to vec_id < 10^9 — ScaleCheck's
      // per-copy key shift — so a scaled corpus GROWS THE BASE while
      // the batch stays copy 0's ~N/89 vectors (the production
      // shape: corpus grows, a single insert batch doesn't), and the
      // walk's maxQ=64 coordinator bound holds at any factor. Round
      // 11 shipped `% 89 == 0` alone, which matched ~N/89 ids in
      // EVERY key-shifted copy and blew the bound the first time the
      // scale suite ran v21.
      graphBeamWalk(s, d, v21BatchFilter, !v21BatchFilter,
        "knn-graph-base", v21Knobs, maxQ = 64, centsTag = "base")
    },

    // INSERT COMMIT + SEARCH — v21's other half (round 12): v21
    // computes each insert's edges but a maintenance op is only done
    // when the POST-INSERT graph is published and searches see the
    // new vectors. v22 closes the lifecycle: union the insert edges
    // onto the committed base graph, publish the result as the
    // "knn-graph-plus" snapshot (a DEFINING query — always
    // recomputed, so its bench number carries the true insert +
    // commit cost; consumers adopt), and run the standard query set
    // against the augmented graph over the FULL corpus — inserted
    // vectors are now both searchable members and reachable results,
    // with NO Σcell² rebuild anywhere on the path. Round12Spec pins
    // search-after-insert vs search-after-full-rebuild (v20)
    // agreement. Scale: the insert walk and the search walk are both
    // the bounded serving contract; the only data-sized work is the
    // base graph (a committed snapshot, adopt-if-present) and the
    // one pass that unions + writes the augmented edge table.
    QueryDef(
      "v22_insert_commit_search",
      v22Sql) { (s, d) =>
      graphBeamWalk(s, d, col("vec_id") < Q, lit(true),
        "knn-graph-plus", v22Knobs, maxQ = Q,
        graphBuilder = Some(() => insertAugmentedGraph(s, d)),
        defineSnap = true)
    },

    // GRAPH DELETE with LOCAL REPAIR — the remaining lifecycle verb
    // (round 12; build = v13, search = v20, insert = v21/v22): a
    // 100 TB corpus also REMOVES vectors (takedowns, dedup
    // retractions), and dropping a node's edges naively punches
    // holes in the graph that strand later walks. v23 runs the HNSW
    // delete rule: prune every edge incident to the delete batch
    // (every 97th vec_id, pinned to copy 0 like v21's inserts),
    // then LOCALLY REPAIR — each deleted node's former neighbors
    // (symmetrized, survivors only) are candidate-paired among
    // themselves and each survivor keeps its top-3 repair edges by
    // true cosine, restoring the connectivity the deleted hub
    // carried at O(|D|·deg²) pair cost, never a rebuild. The
    // repaired graph is committed as "knn-graph-del" (defining
    // query) and the standard query set (minus deleted queries)
    // searches it over the survivor corpus. Deterministic
    // end-to-end, so DuckDB recomputes prune + repair + walk in one
    // generated statement; Round12Spec pins zero deleted ids in any
    // result or committed edge, and agreement vs a full
    // rebuild-without-the-batch.
    QueryDef(
      "v23_graph_delete_search",
      v23Sql) { (s, d) =>
      graphBeamWalk(s, d, col("vec_id") < Q && !v23DeleteFilter,
        !v23DeleteFilter, "knn-graph-del", v23Knobs, maxQ = Q,
        graphBuilder = Some(() => deleteRepairedGraph(s, d)),
        defineSnap = true, centsTag = "nodel")
    },

    // FILTERED GRAPH SEARCH — the serving matrix's remaining cell
    // (round 12): v12 answers attribute-filtered ANN through the
    // IVF path (probe more cells, filter the candidate scan); v26
    // answers it through the GRAPH path, the "filtered HNSW"
    // problem a metadata-rich vector store hits immediately. The
    // standard rule applies: the walk's FRONTIER stays unfiltered —
    // pruning expansions at 1/3 selectivity disconnects the walk —
    // while the final top-3 keeps only predicate-passing nodes
    // (vec_id % 3 = 0, v12's convention), and the beam widens by
    // the inverse selectivity (B = 3·2H) so the visited set holds
    // enough passing candidates. Same committed "knn-graph"
    // snapshot as v20 — one index serves filtered and unfiltered
    // traffic. Deterministic; the oracle walks the identical search
    // with the recorded knobs. Round12Spec measures filtered
    // recall@3 vs the exhaustive in-cell filtered truth.
    QueryDef(
      "v26_filtered_graph_search",
      v26Sql) { (s, d) =>
      graphBeamWalk(s, d, col("vec_id") < Q, lit(true), "knn-graph",
        v26Knobs, maxQ = Q, resultKeep = _ % 3 == 0,
        sizeKnobs = v26SizeKnobs)
    },

    // FULL-LIFECYCLE SEARCH — both maintenance verbs composed on ONE
    // index (round 13; v22 showed insert-commit, v23 delete-repair,
    // each against a pristine base): a production index has BOTH
    // streams running, and the composed state must not depend on how
    // they interleave. It doesn't, by construction — insert edges
    // are computed against the immutable base only, so the
    // maintained graph is prune+repair(base ∪ insert-edges, delete
    // set), a pure function of the three sets; vec 0 is inserted AND
    // deleted (89·97 both divide 0), exercising the delete-wins
    // path. Committed as "knn-graph-live" (defining query — its
    // bench number is the true both-verbs maintenance cost); the
    // survivor query set searches it over the survivor corpus. The
    // oracle replays base graph → insert walk → union → prune →
    // repair → search in ONE DuckDB statement. Round13Spec pins
    // agreement vs a full rebuild over the survivor corpus and zero
    // deleted endpoints.
    QueryDef(
      "v27_lifecycle_search",
      v27Sql) { (s, d) =>
      graphBeamWalk(s, d, col("vec_id") < Q && !v23DeleteFilter,
        !v23DeleteFilter, "knn-graph-live", v27Knobs, maxQ = Q,
        graphBuilder = Some(() => lifecycleMaintainedGraph(s, d)),
        defineSnap = true, centsTag = "nodel")
    },

    // GRAPH HEALTH REPORT — the observability op an index operator
    // runs nightly (round 12): per coarse cell, node/edge counts,
    // RECIPROCITY (fraction of directed edges whose reverse also
    // committed — the connectivity margin the search's
    // symmetrization adds; a cell drifting toward 0 strands greedy
    // walks), the max in-degree (the hub concentration that blows
    // per-hop expansion budgets), and the count of in-degree-0 nodes
    // (unreachable except as walk entry points). All linear: one
    // self-join on the edge key for reciprocity, one groupBy per
    // degree direction, over the COMMITTED graph snapshot
    // (compute-if-absent — a session that ran v13 pays nothing).
    // At 1B vectors this is the table a capacity dashboard reads.
    QueryDef(
      "v24_graph_health",
      s"""WITH n AS MATERIALIZED ($quantizedSql),
         |gd AS MATERIALIZED (${knnGdSql("n")}),
         |lab AS (SELECT vec_id, label FROM n),
         |e AS (SELECT g.vec_id, g.neighbor_id, l.label
         |      FROM gd g JOIN lab l ON l.vec_id = g.vec_id),
         |rec AS (SELECT a.label, count(*) AS n_recip
         |        FROM e a JOIN gd b ON b.vec_id = a.neighbor_id
         |          AND b.neighbor_id = a.vec_id
         |        GROUP BY a.label),
         |deg AS (SELECT l.label, g.neighbor_id AS node,
         |               count(*) AS in_deg
         |        FROM gd g JOIN lab l ON l.vec_id = g.neighbor_id
         |        GROUP BY l.label, g.neighbor_id),
         |ecnt AS (SELECT label, count(*) AS n_edges FROM e GROUP BY label),
         |ncnt AS (SELECT label, count(*) AS n_nodes FROM lab GROUP BY label),
         |mdeg AS (SELECT label, CAST(max(in_deg) AS BIGINT) AS max_in_degree
         |         FROM deg GROUP BY label),
         |snk AS (SELECT l.label,
         |          CAST(count(*) AS BIGINT) AS n_unreferenced
         |        FROM lab l LEFT JOIN deg d2
         |          ON d2.label = l.label AND d2.node = l.vec_id
         |        WHERE d2.node IS NULL GROUP BY l.label)
         |SELECT CAST(ncnt.label AS BIGINT) AS label, n_nodes,
         |       CAST(coalesce(ecnt.n_edges, 0) AS BIGINT) AS n_edges,
         |       CAST(coalesce(rec.n_recip, 0) AS BIGINT) AS n_reciprocal,
         |       coalesce(mdeg.max_in_degree, 0) AS max_in_degree,
         |       coalesce(snk.n_unreferenced, 0) AS n_unreferenced
         |FROM ncnt LEFT JOIN ecnt USING (label)
         |  LEFT JOIN rec USING (label)
         |  LEFT JOIN mdeg USING (label)
         |  LEFT JOIN snk USING (label)
         |ORDER BY label""".stripMargin) { (s, d) =>
      val gd = StageSnapshots.snapshot(s, d, "knn-graph")(knnGraph(s, d))
        .select(col("vec_id"), col("neighbor_id"))
      graphHealth(s, d, gd)
    },

    // EMBEDDING DRIFT MONITOR — the data-drift op an ML platform
    // runs between a REFERENCE corpus shard and the CURRENT intake
    // (round 12): per embedding dimension, bucket the quantized
    // values (width 2000 = 0.2 in raw units, floor division) and
    // report the total-variation distance between the two shards'
    // bucket distributions. TVD instead of PSI on purpose: PSI's
    // ln() is not guaranteed bit-identical across libms, while TVD
    // is EXACT integer arithmetic until one final division —
    // Σ|c_cur·N_ref − c_ref·N_cur| / (2·N_ref·N_cur) — so the
    // oracle hash-compares safely. Scale: one groupBy(dim, bucket,
    // shard) with map-side combine over exploded components (the
    // only data-sized shuffle, O(dims·buckets) groups), then a
    // 64-row report. Shards here = even/odd vec_id halves (the
    // deterministic stand-in for yesterday/today).
    QueryDef(
      "v25_embedding_drift",
      s"""WITH n AS ($quantizedSql),
         |c AS (SELECT vec_id % 2 AS shard, j,
         |             CAST(floor(r[j] / 2000.0) AS BIGINT) AS bucket
         |      FROM n, generate_series(1, 64) t(j)),
         |bc AS (SELECT shard, j, bucket, count(*) AS cnt
         |       FROM c GROUP BY shard, j, bucket),
         |tot AS (SELECT shard, CAST(sum(cnt) AS BIGINT) AS n_tot
         |        FROM bc GROUP BY shard),
         |w AS (SELECT j, bucket,
         |        CAST(coalesce(sum(CASE WHEN shard = 0 THEN cnt END), 0)
         |             AS BIGINT) AS c_ref,
         |        CAST(coalesce(sum(CASE WHEN shard = 1 THEN cnt END), 0)
         |             AS BIGINT) AS c_cur
         |      FROM bc GROUP BY j, bucket)
         |SELECT CAST(w.j AS INT) AS dim,
         |       CAST(count(*) AS BIGINT) AS n_buckets,
         |       CAST(sum(abs(c_cur * r.n_tot - c_ref * u.n_tot))
         |            AS BIGINT) AS tvd_num,
         |       CAST(2 * r.n_tot * u.n_tot AS BIGINT) AS tvd_den,
         |       CAST(sum(abs(c_cur * r.n_tot - c_ref * u.n_tot))
         |            AS DOUBLE) / (2.0 * r.n_tot * u.n_tot) AS tvd
         |FROM w, (SELECT n_tot FROM tot WHERE shard = 0) r,
         |     (SELECT n_tot FROM tot WHERE shard = 1) u
         |GROUP BY w.j, r.n_tot, u.n_tot
         |ORDER BY dim""".stripMargin) { (s, d) =>
      val n = quantized(s, d)
      val c = n.select((col("vec_id") % 2).as("shard"),
          posexplode(col("r")).as(Seq("j0", "rv")))
        .select(col("shard"), (col("j0") + 1).as("j"),
          floor(col("rv") / 2000.0).cast("long").as("bucket"))
      val bc = c.groupBy("shard", "j", "bucket")
        .agg(count(lit(1)).as("cnt"))
      val tot = bc.groupBy("shard").agg(sum("cnt").cast("long").as("n_tot"))
      val nRef = tot.filter(col("shard") === 0)
        .select(col("n_tot").as("n_ref"))
      val nCur = tot.filter(col("shard") === 1)
        .select(col("n_tot").as("n_cur"))
      val w = bc.groupBy("j", "bucket")
        .agg(
          coalesce(sum(when(col("shard") === 0, col("cnt"))), lit(0L))
            .cast("long").as("c_ref"),
          coalesce(sum(when(col("shard") === 1, col("cnt"))), lit(0L))
            .cast("long").as("c_cur"))
      w.crossJoin(broadcast(nRef)).crossJoin(broadcast(nCur))
        .groupBy(col("j"), col("n_ref"), col("n_cur"))
        .agg(count(lit(1)).as("n_buckets"),
          sum(abs(col("c_cur") * col("n_ref") - col("c_ref") * col("n_cur")))
            .cast("long").as("tvd_num"))
        .select(col("j").cast("int").as("dim"), col("n_buckets"),
          col("tvd_num"),
          (lit(2L) * col("n_ref") * col("n_cur")).cast("long").as("tvd_den"),
          (col("tvd_num").cast("double") /
            (lit(2.0) * col("n_ref") * col("n_cur"))).as("tvd"))
        .orderBy("dim")
    },
  )

  /** v24's health rule over ANY edge table (round 13): the same
    * reciprocity / in-degree / sink report, decoupled from the
    * committed "knn-graph" snapshot so the STREAMING-MAINTAINED edge
    * table (insert-augmented, delete-repaired) gets the identical
    * observability — Round13Spec pins the maintained graph's health
    * inside the committed graph's envelope. Nodes are the corpus
    * labels; a maintained graph's deleted nodes simply show as
    * absent label members only if the caller restricts `nodeFilter`.
    * All linear: one semi-join + two groupBys. */
  private[graft] def graphHealth(s: org.apache.spark.sql.SparkSession,
      d: String, gd: org.apache.spark.sql.DataFrame,
      nodeFilter: Column = lit(true)): org.apache.spark.sql.DataFrame = {
    val n = quantized(s, d).filter(nodeFilter)
    val lab = n.select(col("vec_id"), col("label").cast("long").as("label"))
    val e = gd.join(lab, "vec_id")
    val rec = e.join(
        gd.select(col("neighbor_id").as("vec_id"),
          col("vec_id").as("neighbor_id")),
        Seq("vec_id", "neighbor_id"), "left_semi")
      .groupBy("label").agg(count(lit(1)).as("n_recip"))
    val deg = gd.join(lab.withColumnRenamed("vec_id", "neighbor_id"),
        "neighbor_id")
      .groupBy(col("label"), col("neighbor_id").as("node"))
      .agg(count(lit(1)).as("in_deg"))
    val ecnt = e.groupBy("label").agg(count(lit(1)).as("n_edges"))
    val ncnt = lab.groupBy("label").agg(count(lit(1)).as("n_nodes"))
    val mdeg = deg.groupBy("label")
      .agg(max("in_deg").cast("long").as("max_in_degree"))
    val snk = lab.join(deg.select(col("label"), col("node").as("vec_id")),
        Seq("label", "vec_id"), "left_anti")
      .groupBy("label").agg(count(lit(1)).cast("long")
        .as("n_unreferenced"))
    ncnt.join(ecnt, Seq("label"), "left")
      .join(rec, Seq("label"), "left")
      .join(mdeg, Seq("label"), "left")
      .join(snk, Seq("label"), "left")
      .select(col("label"), col("n_nodes"),
        coalesce(col("n_edges"), lit(0L)).cast("long").as("n_edges"),
        coalesce(col("n_recip"), lit(0L)).cast("long")
          .as("n_reciprocal"),
        coalesce(col("max_in_degree"), lit(0L)).as("max_in_degree"),
        coalesce(col("n_unreferenced"), lit(0L)).as("n_unreferenced"))
      .orderBy("label")
  }

  /** v23's delete batch: every 97th vec_id, pinned to copy 0 —
    * same bounded-batch contract as v21's inserts. */
  private[graft] def v23DeleteFilter: Column =
    pmod(col("vec_id"), lit(97)) === 0 && col("vec_id") < ScaleShift

  /** The DELETE-REPAIRED graph: the committed full graph (v13's
    * "knn-graph") with every edge incident to the delete batch
    * pruned, plus local repair — each deleted node's former
    * neighbors (symmetrized, survivors only) pair among themselves
    * and each survivor keeps its top-3 repair candidates by true
    * quantized cosine (node tiebreak). O(|D|·deg²) repair pairs,
    * never a rebuild; duplicates against surviving edges collapse
    * in the search's symmetrize-distinct. */
  private[graft] def deleteRepairedGraph(
      s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val gd = StageSnapshots.snapshot(s, d, "knn-graph")(knnGraph(s, d))
      .select(col("vec_id"), col("neighbor_id"))
    val del = quantized(s, d).filter(v23DeleteFilter)
      .select(col("vec_id").as("del_id"))
    deleteRepairCore(s, gd, del, quantizedWhere(s, d))
  }

  /** The walk's per-node edge bound: a fetch or hop holding more than
    * 512 edge rows per source node is a pathological hub, and the walk
    * fails loudly rather than truncate. */
  private[graft] val HubEdgeBound = 512

  /** Driver-row caps of the coordinator-side delete repair. They are
    * absolute, so what the driver holds stays bounded (under 100 MB
    * at any cap with 64-dimension vectors) whatever the state: the
    * delete set, 8× the auto-fold policy (LifecycleIndex.DefaultFoldAt
    * plus one StreamingGraphDelete epoch); the edges incident to it;
    * the candidate pairs ranked, counted before any vector is fetched;
    * and the survivors' vectors and edges. A state past any cap takes
    * the distributed rule instead, which holds nothing on the driver,
    * so no delete state is refused and a fold always goes through. */
  private[graft] lazy val RepairMaxDeletes: Int = 8 *
    (graft.streaming.LifecycleIndex.DefaultFoldAt.toInt +
      graft.streaming.StreamingGraphDelete.EpochCap)
  private[graft] val RepairMaxEdges = 1 << 19
  private[graft] val RepairMaxPairs = 1 << 24
  private[graft] val RepairMaxFetch = 1 << 17

  /** The prune + local-repair rule itself, decoupled from WHERE the
    * graph and the delete set come from: v23 passes the committed
    * full-graph snapshot and its fixture batch; the STREAMING delete
    * path (StreamingGraphDelete) passes the same base graph with the
    * CUMULATIVE tombstone set each epoch — which is what makes the
    * stream's final state identical to the one-shot batch regardless
    * of how arrivals were micro-batched (the per-source repair top-3
    * is a global rule over the whole delete set, so it must be
    * recomputed against the cumulative set, never unioned
    * per-wave).
    *
    * The result is the graph with every edge incident to the delete
    * set D pruned, plus each surviving neighbour's top-3 repairs (by
    * quantized cosine, ties to the smaller id) among the other
    * surviving neighbours of the deleted nodes it neighboured, less
    * those already in the graph. The repair's inputs are bounded by
    * D: O(|D|·deg) incident edges and O(|D|·deg²) candidate pairs,
    * with |D| held down by the fold policy. So the repair runs on the
    * coordinator ([[coordinatorRepair]]) whenever they fit the caps
    * above, and as a distributed plan ([[distributedRepair]]) when
    * they do not; both give the same rows (DeleteRepairSpec). `vecs`
    * gives the quantized vectors of the rows passing a `vec_id`
    * predicate (DedupQueries.quantizedWhere filters the embeddings
    * before the quantize kernel, so the survivor fetch quantizes only
    * the survivors); it assumes the corpus is keyed by vec_id, as the
    * quantized corpus is. */
  private[graft] def deleteRepairCore(
      s: org.apache.spark.sql.SparkSession,
      gd: org.apache.spark.sql.DataFrame,
      delIn: org.apache.spark.sql.DataFrame,
      vecs: Column => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    coordinatorRepair(s, gd, delIn, vecs)
      .getOrElse(distributedRepair(gd, delIn, vecs(lit(true))))

  /** The repair as coordinator work, as the walk runs: three bounded
    * collects — D itself, the non-NULL edges incident to D, and one
    * fused job with the survivors' vectors and their edges to other
    * survivors (the only existing edges a repair can repeat). Each
    * survivor ranks its candidates in Spark's exact order — cosine
    * descending, NaN first, NULL last, −0.0 = 0.0, ties to the
    * smaller id — and keeps the top 3 not already in the graph. The
    * prune is a null-safe NOT IN on both endpoints, so NULL ids
    * survive as under the anti join; the repairs are a local
    * relation. Nothing is persisted. None when the state is past a
    * cap, decided on `limit(cap + 1)` collects before the next
    * collect runs. */
  private[graft] def coordinatorRepair(
      s: org.apache.spark.sql.SparkSession,
      gd: org.apache.spark.sql.DataFrame,
      delIn: org.apache.spark.sql.DataFrame,
      vecs: Column => org.apache.spark.sql.DataFrame)
      : Option[org.apache.spark.sql.DataFrame] = {
    import s.implicits._
    import scala.collection.mutable.{HashMap, HashSet}
    val g = gd.select("vec_id", "neighbor_id")
    val delRows = delIn.select("del_id").limit(RepairMaxDeletes + 1)
      .as[Option[Long]].collect()
    if (delRows.length > RepairMaxDeletes) return None
    val del = delRows.iterator.flatten.toSet
    if (del.isEmpty) return Some(g)
    // a NULL endpoint pairs with nothing
    val incRows = g.filter(col("vec_id").isNotNull &&
        col("neighbor_id").isNotNull && (col("vec_id").isInCollection(del) ||
          col("neighbor_id").isInCollection(del)))
      .limit(RepairMaxEdges + 1).as[(Long, Long)].collect()
    if (incRows.length > RepairMaxEdges) return None
    // each deleted node's SURVIVING neighbours over both directions,
    // and each survivor's deleted neighbours
    val surv = HashMap.empty[Long, HashSet[Long]]
    val dels = HashMap.empty[Long, HashSet[Long]]
    def link(dl: Long, node: Long): Unit = if (!del(node)) {
      surv.getOrElseUpdate(dl, HashSet.empty[Long]) += node
      dels.getOrElseUpdate(node, HashSet.empty[Long]) += dl
    }
    incRows.foreach { case (a, b) =>
      if (del(a)) link(a, b)
      if (del(b)) link(b, a)
    }
    val prune = (c: Column) => c.isNull || !c.isInCollection(del)
    val pruned = g.filter(prune(col("vec_id")) && prune(col("neighbor_id")))
    val pairs = surv.valuesIterator.map(n => n.size.toLong * (n.size - 1))
      .sum
    if (pairs > RepairMaxPairs) return None
    if (pairs == 0) return Some(pruned)
    val srcs = dels.keySet.toSet
    val (vecRows, edgeRows) = fetchVecsAndEdges(vecs,
      g.filter(col("neighbor_id").isInCollection(srcs)), srcs, srcs,
      Some(RepairMaxFetch + 1))
    if (vecRows.length + edgeRows.length > RepairMaxFetch) return None
    type V = (Option[Array[Long]], Option[Long])
    val vecOf = vecRows.groupMap(_._1)(v => (v._2, v._3): V)
    val noVec = Array.empty[V]
    val existing = edgeRows.toSet
    // cos_sim as the plan computes it: Spark's division makes a zero
    // divisor NULL, or DIVIDE_BY_ZERO under ANSI
    val ansi = s.conf.get("spark.sql.ansi.enabled").toBoolean
    def cos(u: V, w: V): Option[Double] = (u, w) match {
      case ((Some(ru), Some(nnu)), (Some(rw), Some(nnw))) =>
        if (math.sqrt(nnu.toDouble * nnw.toDouble) != 0.0)
          Some(cosLong(ru, nnu, rw, nnw))
        else if (ansi)
          throw org.apache.spark.sql.graft.GraftSqlShims.divideByZeroError()
        else None
      case _ => None
    }
    // ORDER BY cos_sim DESC (NULLS LAST), w
    val order: Ordering[(Option[Double], Long)] = (a, b) => {
      val c = (a._1, b._1) match {
        case (Some(x), Some(y)) =>
          -org.apache.spark.sql.catalyst.util.SQLOrderingUtil
            .compareDoubles(x, y)
        case (None, None) => 0
        case (None, _) => 1
        case _ => -1
      }
      if (c != 0) c else java.lang.Long.compare(a._2, b._2)
    }
    // one survivor at a time, so the candidate sets are never all held
    val repairs = dels.iterator.flatMap { case (u, ds) =>
      val ws = HashSet.empty[Long]
      ds.foreach(dl => ws ++= surv(dl))
      ws -= u
      val scored = for {
        w <- ws.toArray
        vu <- vecOf.getOrElse(u, noVec)
        vw <- vecOf.getOrElse(w, noVec)
      } yield (cos(vu, vw), w)
      scored.sorted(order).iterator.take(3).map(c => (u, c._2))
        .filterNot(existing)
    }.toSeq
    Some(pruned.unionByName(repairs.toDF("vec_id", "neighbor_id")))
  }

  /** The repair as a distributed plan, for a state past the
    * coordinator's caps: anti joins for the prune, a keyed self-join
    * over the incident edges and a per-source window for the top-3,
    * an anti join against the existing edges. Nothing reaches the
    * driver and nothing is persisted. */
  private[graft] def distributedRepair(
      gd: org.apache.spark.sql.DataFrame,
      delIn: org.apache.spark.sql.DataFrame,
      vecs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val gdc = gd.select("vec_id", "neighbor_id")
    val del = delIn.select("del_id")
    val pruned = gdc
      .join(del.withColumnRenamed("del_id", "vec_id"), Seq("vec_id"),
        "left_anti")
      .join(del.withColumnRenamed("del_id", "neighbor_id"),
        Seq("neighbor_id"), "left_anti")
      .select("vec_id", "neighbor_id")
    // each deleted node's SURVIVING neighbours, over both directions
    val inc = gdc.join(del.withColumnRenamed("del_id", "vec_id"),
        Seq("vec_id"))
      .select(col("vec_id").as("del_id"), col("neighbor_id").as("node"))
      .unionByName(
        gdc.join(del.withColumnRenamed("del_id", "neighbor_id"),
            Seq("neighbor_id"))
          .select(col("neighbor_id").as("del_id"),
            col("vec_id").as("node")))
      .join(del.withColumnRenamed("del_id", "node"), Seq("node"),
        "left_anti")
      .distinct()
    val srcs = inc.select(col("node").as("vec_id")).distinct()
    val nodeVecs = vecs.join(srcs, Seq("vec_id"), "left_semi")
      .select("vec_id", "r", "nn")
    val a = nodeVecs.select(col("vec_id").as("u"), col("r").as("ru"),
      col("nn").as("nnu"))
    val b = nodeVecs.select(col("vec_id").as("w"), col("r").as("rw"),
      col("nn").as("nnw"))
    val wnd = Window.partitionBy("u")
      .orderBy(col("cos_sim").desc, col("w"))
    val repairs = inc.select(col("del_id"), col("node").as("u"))
      .join(inc.select(col("del_id"), col("node").as("w")), Seq("del_id"))
      .filter(col("u") =!= col("w"))
      .select("u", "w").distinct()
      .join(a, "u").join(b, "w")
      .select(col("u"), col("w"),
        cosine(DotLong.col(col("ru"), col("rw")), col("nnu"), col("nnw"))
          .as("cos_sim"))
      .withColumn("rn", row_number().over(wnd))
      .filter(col("rn") <= 3)
      .select(col("u").as("vec_id"), col("w").as("neighbor_id"))
    // a top-3 repair that is already a live edge is dropped
    val existing = gdc.join(srcs, Seq("vec_id"), "left_semi")
    pruned.unionByName(repairs.join(existing,
      Seq("vec_id", "neighbor_id"), "left_anti"))
  }

  /** One Spark job: the vectors (`r`, `nn`) of `vecIds` from `vecs`
    * (given the id predicate) and the out-edges of `edgeSrcs` in `g`,
    * key-pruned scans unioned — no join, no broadcast. Returns the
    * vector rows and the edges with a non-NULL neighbour; `limit` caps
    * the rows collected. No job when both key sets are empty. */
  private[graft] def fetchVecsAndEdges(
      vecs: Column => org.apache.spark.sql.DataFrame,
      g: org.apache.spark.sql.DataFrame,
      vecIds: Set[Long], edgeSrcs: Set[Long], limit: Option[Int] = None)
      : (Array[(Long, Option[Array[Long]], Option[Long])],
        Array[(Long, Long)]) = {
    import g.sparkSession.implicits._
    val parts = Seq(
      Option.when(vecIds.nonEmpty)(
        vecs(col("vec_id").isInCollection(vecIds))
          .select(col("vec_id"), lit(false).as("edge"), col("r"),
            col("nn"), lit(null).cast("bigint").as("nbr"))),
      Option.when(edgeSrcs.nonEmpty)(
        g.filter(col("vec_id").isInCollection(edgeSrcs))
          .select(col("vec_id"), lit(true).as("edge"),
            lit(null).cast("array<bigint>").as("r"),
            lit(null).cast("bigint").as("nn"),
            col("neighbor_id").as("nbr")))).flatten
    if (parts.isEmpty) return (Array.empty, Array.empty)
    val df = parts.reduce(_.unionByName(_))
    val (e, v) = limit.fold(df)(df.limit)
      .as[(Long, Boolean, Option[Array[Long]], Option[Long], Option[Long])]
      .collect().partition(_._2)
    (v.map(r => (r._1, r._3, r._4)), e.flatMap(r => r._5.map(r._1 -> _)))
  }

  // v23 search-walk knobs, recorded like v20/v22's.
  private[graft] val v23Knobs =
    new java.util.concurrent.atomic.AtomicReference[(Int, Int)](
      v20SizeKnobs(2))

  /** The STREAMING insert hook (StreamingGraphInsert): walk the
    * given already-quantized query vectors against the committed
    * base graph — exactly v21's machinery, queries supplied by the
    * arriving micro-batch instead of a corpus predicate. The 4096
    * bound is the per-epoch coordinator budget; an intake sizes
    * maxFilesPerTrigger to respect it.
    *
    * The insert-free base corpus and graph are immutable for the
    * stream's life (v21's rule: inserts never join the walk's base),
    * so the process holds them once per (application, corpus dir): as
    * a driver-side [[WalkGraph]] under its caps — an epoch's walk then
    * runs no Spark job — and past them as a persisted corpus probed
    * per hop. The coarse quantizer is held the same way. Held or
    * recomputed, the walk is the same, so stream ≡ batch holds
    * (StreamingGraphInsertSpec). */
  private[graft] def streamInsertEdges(
      s: org.apache.spark.sql.SparkSession, d: String,
      qrows: Array[(Long, Array[Long], Long)],
      caps: WalkGraph.Caps = WalkGraph.DefaultCaps)
      : org.apache.spark.sql.DataFrame = {
    // an insert epoch is a state-change boundary: drop what dead dirs
    // and stopped applications left in the process registry
    graft.Resident.sweep(s)
    val base = quantized(s, d).filter(!v21BatchFilter)
    val gd = insertFreeBaseGraph(s, d)
    streamWalkGraph(s, d, base, gd, caps) match {
      case Some(wg) =>
        val cents = streamCents(s, d, base, wg.corpus.centroids)
        beamWalkCore(s, base, qrows, gd, v21Knobs, maxQ = 4096,
          centsIn = Some(cents), graph = Some(wg))
      case None =>
        // ORDER MATTERS on the first epoch: compute the coarse
        // quantizer BEFORE streamCorpus persists the plan — the
        // centroid aggregation over the RAW plan is a codegen parquet
        // scan, while the same aggregation run on top of the cache
        // FILL materializes every row twice (measured 11 s → 26-31 s
        // for the cold epoch at 200× when the persist came first).
        // Later epochs never re-aggregate, and the walk's first seed
        // job pays the one fill at plain scan cost.
        val cents = streamCents(s, d, base, None)
        // one copy: past the caps the persisted corpus serves the walk
        streamWalks.remove(graft.Resident.key(s, d))
        beamWalkCore(s, streamCorpus(s, d), qrows, gd, v21Knobs,
          maxQ = 4096, centsIn = Some(cents))
    }
  }

  // the insert walk's base corpus and graph on the driver, one per
  // (application, corpus dir), tagged with the graph snapshot's files
  private[graft] val streamWalks = graft.Resident
    .heldKind[WalkGraph]("stream walk graph", graft.Resident.dataDir)

  private def streamWalkGraph(s: org.apache.spark.sql.SparkSession,
      d: String, base: org.apache.spark.sql.DataFrame,
      gd: org.apache.spark.sql.DataFrame,
      caps: WalkGraph.Caps): Option[WalkGraph] = {
    val k = graft.Resident.key(s, d)
    val tag = graft.warehouse.SnapshotTable
      .digestOfFiles(gd.inputFiles.toSeq.sorted)
    val held = streamWalks.get(k).filter(e => e.tag == tag &&
        e.value.corpus.size <= caps.vectors &&
        e.value.adj.edgeCount <= caps.edges)
      .map(_.touch().value)
    val wg = held.orElse {
      // the symmetrized graph has at most twice the snapshot's rows
      val filled = WalkGraph.fill(base, WalkGraph.corpusBound(s, d),
        symmetrized(gd), 2 * WalkGraph.footerRows(gd), caps)
      filled.foreach { g =>
        streamWalks.put(k, new graft.Resident.Held(tag, g, g.bytes))
        // one copy: the persisted corpus serves only the past-cap path
        streamCorpora.remove(k)
      }
      filled
    }
    if (wg.isDefined) graft.Resident.bound(s, k)
    wg
  }

  private[graft] val streamCentroids = graft.Resident
    .kind[Array[(Long, Array[Long])]]("stream centroids",
      graft.Resident.dataDir)

  // the coarse quantizer, computed once per (application, corpus): from
  // the held corpus when there is one, else by a Spark aggregation
  private def streamCents(s: org.apache.spark.sql.SparkSession, d: String,
      n: org.apache.spark.sql.DataFrame,
      held: Option[Array[(Long, Array[Long])]]): Array[(Long, Array[Long])] =
    streamCentroids.getOrElseUpdate(graft.Resident.key(s, d))(
      held.getOrElse(centroidTable(s, n)))

  // RESIDENT stream corpus for a corpus past the WalkGraph caps (round
  // 17, the maintenance-side analog of the serving corpus cache): the
  // insert walk's probe corpus is immutable for the stream's life, yet
  // every epoch re-persisted and re-filled it because the walk's
  // tracked persist is released with the epoch's intermediates. One
  // persisted corpus per (application, corpus dir), held across epochs
  // like the coarse quantizer above, counted by the process's corpus
  // bound; a foreign release() of the identical plan is re-pinned on
  // the next epoch.
  private[graft] val streamCorpora =
    graft.Resident.corpusKind("stream corpus", graft.Resident.dataDir)

  // private[graft] so the residency/eviction spec can drive it
  // without paying a full epoch per assertion
  private[graft] def streamCorpus(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val k = graft.Resident.key(s, d)
    val entry = streamCorpora.update(k) {
      case Some(old) =>
        graft.PersistRegistry.ensurePinned(old.df)
        old.touch()
      case None => new graft.Resident.Corpus("", graft.PersistRegistry
        .ensurePinned(quantized(s, d).filter(!v21BatchFilter)))
    }
    graft.Resident.bound(s, k)
    entry.df
  }

  /** The committed INSERT-FREE base graph ("knn-graph-base") — the
    * graph the streaming insert walk targets and, therefore, the base
    * a COMPOSED lifecycle index (insert + delete streams on one
    * indexDir) must prune and repair: exactly v27's batch rule
    * (lifecycleMaintainedGraph). Snapshot-committed compute-if-absent. */
  private[graft] def insertFreeBaseGraph(
      s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    StageSnapshots.snapshot(s, d, "knn-graph-base")(
      knnGraph(s, d, !v21BatchFilter))
      .select(col("vec_id"), col("neighbor_id"))

  /** The committed FULL-CORPUS graph ("knn-graph") — the base of a
    * delete-only index (v23's rule). */
  private[graft] def fullCorpusGraph(
      s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    StageSnapshots.snapshot(s, d, "knn-graph")(knnGraph(s, d))
      .select(col("vec_id"), col("neighbor_id"))

  /** The STREAMING delete hook (StreamingGraphDelete): v23's
    * prune+repair rule over the base graph, with the CUMULATIVE
    * (post-fold) tombstone set `del` (one column `del_id`). Called
    * once per micro-batch with all deletes so far — the output
    * depends only on the base and the cumulative set, which is what
    * makes the maintained table order-independent and the drained
    * stream row-identical to the one-shot batch delete. `baseGd`
    * overrides the base graph after a tombstone FOLD (the folded
    * edge table replaces the fixture snapshot as the prune target);
    * None = the committed full-corpus graph. The prune is a
    * distributed filter; the repair runs on the coordinator within
    * deleteRepairCore's caps, and as a distributed plan past them. */
  private[graft] def streamDeleteEdges(
      s: org.apache.spark.sql.SparkSession, d: String,
      del: org.apache.spark.sql.DataFrame,
      baseGd: Option[org.apache.spark.sql.DataFrame] = None)
      : org.apache.spark.sql.DataFrame = {
    val gd = baseGd.getOrElse(fullCorpusGraph(s, d))
      .select(col("vec_id"), col("neighbor_id"))
    deleteRepairCore(s, gd, del, quantizedWhere(s, d))
  }

  // v26 (filtered graph search) knobs: depth from the standard
  // log|cell| rule, beam widened 3× — the inverse of the
  // `vec_id % 3 = 0` predicate's selectivity — so the unfiltered
  // frontier visits enough PASSING nodes for the filtered top-3.
  private[graft] val v26Knobs =
    new java.util.concurrent.atomic.AtomicReference[(Int, Int)](
      v20SizeKnobs(2))
  private[graft] def v26SizeKnobs(maxCell: Long): (Int, Int) = {
    val (h, b) = v20SizeKnobs(maxCell)
    (h, 3 * b)
  }

  private def v26Sql: String =
    graphWalkSql("q.vec_id < " + Q, "true", v26Knobs.get(),
      resultPred = "node % 3 = 0")

  /** Spec-only comparator: the same survivor-corpus search over a
    * FULL REBUILD of the graph without the delete batch — the
    * expensive path v23's prune+repair replaces. */
  private[graft] def deleteRebuildSearch(
      s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    graphBeamWalk(s, d, col("vec_id") < Q && !v23DeleteFilter,
      !v23DeleteFilter, "knn-graph-del-rebuild",
      new java.util.concurrent.atomic.AtomicReference(v20SizeKnobs(2)),
      maxQ = Q, centsTag = "nodel")

  /** v23's oracle: prune + local repair + walk in one statement.
    * The full graph is v13's rule over the whole corpus; survivors
    * form the searchable base. */
  private def v23Sql: String = {
    val delPred = s"vec_id % 97 = 0 AND vec_id < $ScaleShift"
    val (sctes, sFin) = walkCtes("s",
      s"q.vec_id < $Q AND NOT (q.vec_id % 97 = 0 AND q.vec_id < $ScaleShift)",
      "bd", "g", v23Knobs.get())
    s"""WITH n AS MATERIALIZED ($quantizedSql),
       |bd AS MATERIALIZED (SELECT * FROM n WHERE NOT ($delPred)),
       |fgd AS MATERIALIZED (${knnGdSql("n")}),
       |pruned AS MATERIALIZED (SELECT vec_id, neighbor_id FROM fgd
       |        WHERE NOT (vec_id % 97 = 0 AND vec_id < $ScaleShift)
       |          AND NOT (neighbor_id % 97 = 0
       |                   AND neighbor_id < $ScaleShift)),
       |inc AS MATERIALIZED (SELECT DISTINCT del_id, node FROM (
       |        SELECT vec_id AS del_id, neighbor_id AS node FROM fgd
       |        WHERE vec_id % 97 = 0 AND vec_id < $ScaleShift
       |        UNION ALL
       |        SELECT neighbor_id AS del_id, vec_id AS node FROM fgd
       |        WHERE neighbor_id % 97 = 0 AND neighbor_id < $ScaleShift) t
       |      WHERE NOT (node % 97 = 0 AND node < $ScaleShift)),
       |rp AS MATERIALIZED (SELECT u AS vec_id, w AS neighbor_id FROM (
       |        SELECT p.u, p.w,
       |               row_number() OVER (PARTITION BY p.u ORDER BY
       |                 CAST(list_sum(list_transform(
       |                        generate_series(1, len(x.r)),
       |                        i -> x.r[i] * y.r[i])) AS DOUBLE)
       |                   / sqrt(CAST(x.nn AS DOUBLE)
       |                          * CAST(y.nn AS DOUBLE)) DESC,
       |                 p.w) AS rn
       |        FROM (SELECT DISTINCT a.node AS u, b.node AS w
       |              FROM inc a JOIN inc b ON a.del_id = b.del_id
       |                AND a.node <> b.node) p
       |          JOIN bd x ON x.vec_id = p.u
       |          JOIN bd y ON y.vec_id = p.w) t
       |      WHERE rn <= 3),
       |pgd AS MATERIALIZED (SELECT vec_id, neighbor_id FROM pruned
       |        UNION ALL SELECT vec_id, neighbor_id FROM rp),
       |g AS MATERIALIZED (SELECT vec_id, neighbor_id FROM pgd
       |      UNION
       |      SELECT neighbor_id AS vec_id, vec_id AS neighbor_id FROM pgd),
       |$sctes
       |SELECT query_id, neighbor_id, cos_sim, rank FROM (
       |  SELECT query_id, node AS neighbor_id, cos_sim,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |             ORDER BY cos_sim DESC, node) AS INT) AS rank
       |  FROM $sFin WHERE node <> query_id) t
       |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
  }

  /** v21/v22's insert batch: every 89th vec_id, pinned to copy 0 of
    * any scaled corpus (vec_id < ScaleShift) so the batch stays
    * constant while the searchable base grows. */
  private[graft] def v21BatchFilter: Column =
    pmod(col("vec_id"), lit(89)) === 0 && col("vec_id") < ScaleShift

  /** The POST-INSERT graph: the committed base (insert-free) k-NN
    * graph plus each insert's walk-found edges — v21's output made
    * durable. v22 publishes this as "knn-graph-plus"; the engine's
    * search symmetrizes it exactly as it does the batch-built
    * graphs, so the reverse edges v21's rule implies appear at
    * search time without being stored. */
  private[graft] def insertAugmentedGraph(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val inserts = graphBeamWalk(s, d, v21BatchFilter, !v21BatchFilter,
      "knn-graph-base", v21Knobs, maxQ = 64, centsTag = "base")
      .select(col("query_id").as("vec_id"), col("neighbor_id"))
    insertFreeBaseGraph(s, d).unionByName(inserts)
  }

  /** v27's maintained graph — BOTH lifecycle verbs applied to one
    * index: the insert-augmented graph (v22's product) pruned and
    * locally repaired against the delete batch (v23's rule). Insert
    * edges are computed against the immutable base only, so the
    * composed state is a pure function of (corpus, insert set,
    * delete set) — order-independent under any interleaving of the
    * two maintenance streams. */
  private[graft] def lifecycleMaintainedGraph(
      s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val del = quantized(s, d).filter(v23DeleteFilter)
      .select(col("vec_id").as("del_id"))
    // Round 21 (guide §1.2, the d13 snapshot-sharing precedent): the
    // insert-augmented graph IS v22's "knn-graph-plus" table —
    // re-deriving it here re-ran the entire v21 insert walk (a
    // centroid aggregate + H driver-coordinated hops) inside every
    // v27 run. Consume the committed snapshot compute-if-absent
    // instead: in a session where v22 (the DEFINING query, always
    // recompute + rewrite, full cost on its own bench number) has
    // run, v27 pays only its incremental work — the delete repair
    // and its own search; an isolated v27 still computes everything
    // itself. insertAugmentedGraph is deterministic, so adopt vs
    // recompute is row-identical and the composed oracle is
    // unchanged.
    val aug = StageSnapshots.snapshot(s, d, "knn-graph-plus")(
      insertAugmentedGraph(s, d))
      .select(col("vec_id"), col("neighbor_id"))
    deleteRepairCore(s, aug, del, quantizedWhere(s, d))
  }

  /** Coordinator-side closed-set beam walk, shared by v20 (search:
    * base = full corpus) and v21 (insert: base excludes the batch).
    *
    * The walk STATE lives on the query coordinator (the driver) —
    * exactly how an online graph-ANN query executes, and the v01/v17
    * bounded-serving contract: state is O(Q·(seeds + H·B·k)) rows,
    * every bound require()d. A first cut ran the walk as H rounds of
    * distributed jobs; its data volume was identical but it paid
    * ~150 tiny stages of scheduling/codegen overhead per run (15+ s
    * at sf0.1 for 3 KB of state). Each call collects the base corpus
    * and the symmetrized graph once into a [[WalkGraph]] when their
    * footer row counts fit the caps, and walks with no further job;
    * past a cap every corpus access stays a distributed pushed-filter
    * scan — the graph snapshot probed by beam-node keys each hop.
    */
  private[graft] def graphBeamWalk(s: org.apache.spark.sql.SparkSession,
      d: String, queryFilter: Column, baseFilter: Column,
      snapName: String,
      knobsRef: java.util.concurrent.atomic.AtomicReference[(Int, Int)],
      maxQ: Int,
      // the graph snapshot's compute function; defaults to the
      // in-cell k-NN build over the base corpus. v22 passes the
      // insert-augmented union instead, with defineSnap = true so
      // the commit ALWAYS recomputes (the defining-query contract:
      // its bench number is the real insert+commit cost, and the
      // recorded v21 knobs are current when its oracle is forced).
      graphBuilder: Option[() => org.apache.spark.sql.DataFrame] = None,
      defineSnap: Boolean = false,
      resultKeep: Long => Boolean = _ => true,
      sizeKnobs: Long => (Int, Int) = v20SizeKnobs,
      // snapshot tag of the walk's CENTROID table, keyed by the base
      // corpus filter (round 21 — guide §1.2, the knn-graph-base /
      // pq_codebook compute-if-absent precedent): seven batch walks
      // per session re-aggregated the corpus for a table that depends
      // only on (dataset, base filter). "full" (no filter: v20, v22's
      // search, v26), "base" (insert-free: v21 and the insert walks),
      // "nodel" (survivors: v23, v27). First consumer materializes,
      // the rest read nlist rows; the aggregate is deterministic so
      // adopt ≡ recompute row-for-row.
      centsTag: String = "full",
      caps: WalkGraph.Caps = WalkGraph.DefaultCaps)
      : org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val nAll = quantized(s, d)
    val n = nAll.filter(baseFilter) // the searchable base corpus
    val qrows = nAll.filter(queryFilter)
      .select(col("vec_id"), col("r"), col("nn"))
      .as[(Long, Array[Long], Long)].collect()
    val build = graphBuilder.getOrElse(() => knnGraph(s, d, baseFilter))
    val gd = (if (defineSnap) StageSnapshots.define(s, d, snapName)(build())
      else StageSnapshots.snapshot(s, d, snapName)(build()))
      .select(col("vec_id"), col("neighbor_id"))
    val cents = StageSnapshots
      .snapshot(s, d, s"walk-cents-$centsTag")(centroidAggDf(n))
      .select("label", "c").as[(Long, Array[Long])].collect()
    // the symmetrized graph has at most twice the snapshot's rows
    val graph = WalkGraph.fill(n, WalkGraph.corpusBound(s, d),
      symmetrized(gd), 2 * WalkGraph.footerRows(gd), caps)
    beamWalkCore(s, n, qrows, gd, knobsRef, maxQ, resultKeep, sizeKnobs,
      centsIn = Some(cents), graph = graph)
  }

  /** The walk's graph: every edge in both directions, once. A directed
    * 3-out graph strands greedy walks, so the walk expands reverse
    * edges too. */
  private[graft] def symmetrized(gd: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    gd.unionByName(gd.select(col("neighbor_id").as("vec_id"),
      col("vec_id").as("neighbor_id"))).distinct()

  /** The centroid table of a (possibly tombstone-filtered) quantized
    * corpus — v03's exact-integer rule, collected to nlist
    * coordinator rows. Factored out of beamWalkCore (round 14) so
    * the serving path can compute it ONCE per index-version triple
    * and hand it back on every subsequent search. */
  /** The (label, 64 component sums) centroid aggregate as a
    * DataFrame — the distributed half of [[centroidTable]], split out
    * (round 21) so the batch walks can share ONE materialization per
    * base-corpus filter through a pipeline-stage snapshot. */
  private def centroidAggDf(n: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    // ONE map-side-combined hash aggregate with 64 long sums (round
    // 20 — guide §2.3/§2.4): the former shape exploded the corpus 64×
    // and paid two shuffles (per-(label,j) partial sums, then a
    // collect_list+sort reassembly per label). sum(element_at(r, j))
    // per literal j is the identical integer sum — exact BIGINT
    // arithmetic, order-independent — computed in one codegen'd
    // aggregate whose exchange carries nlist rows of 64 longs.
    val sums = (1 to 64).map(j =>
      sum(element_at(col("r"), lit(j))).as(s"c$j"))
    n.groupBy(col("label"))
      .agg(sums.head, sums.tail: _*)
      .select(col("label").cast("long"),
        array((1 to 64).map(j => col(s"c$j")): _*).as("c"))
  }

  private[graft] def centroidTable(s: org.apache.spark.sql.SparkSession,
      n: org.apache.spark.sql.DataFrame): Array[(Long, Array[Long])] = {
    import s.implicits._
    centroidAggDf(n).as[(Long, Array[Long])].collect()
  }

  /** The walk itself, decoupled from WHERE queries come from: the
    * batch ops pass a corpus predicate above; the STREAMING insert
    * path (StreamingGraphInsert) passes each arriving micro-batch's
    * vectors directly. Query state stays the bounded coordinator
    * contract either way. */
  /** Wall seconds per phase of the LAST [[beamWalkCore]] call —
    * observability for the serving read-path latency budget
    * (round-17 stretch 7: pick the next serving optimization from a
    * measured breakdown, not the total). Phases: `walk_centroids`
    * (zero-ish when the caller passes its cached table),
    * `walk_sizing_seeds` (the adaptive-knob count + seed collect),
    * `walk_hops` (the per-hop pushed-filter probes — the data-sized
    * term), `walk_rank` (driver-side top-3). A handful of nanoTime
    * reads per search. */
  val lastWalkPhases = new java.util.concurrent.atomic.AtomicReference[
    Seq[(String, Double)]](Seq.empty)

  private[graft] def beamWalkCore(s: org.apache.spark.sql.SparkSession,
      nIn: org.apache.spark.sql.DataFrame,
      qrows: Array[(Long, Array[Long], Long)],
      // by name: a held walk (`graph` below) never reads it
      gdIn: => org.apache.spark.sql.DataFrame,
      knobsRef: java.util.concurrent.atomic.AtomicReference[(Int, Int)],
      maxQ: Int,
      // v26 (filtered search): the walk's FRONTIER stays unfiltered
      // (the standard filtered-graph-ANN rule — filtering expansions
      // disconnects the walk at low selectivity), only the final
      // top-3 selection keeps predicate-passing nodes, and the
      // sizing rule widens the beam by the inverse selectivity so
      // the visited set holds enough passing candidates.
      resultKeep: Long => Boolean = _ => true,
      sizeKnobs: Long => (Int, Int) = v20SizeKnobs,
      // a SERVING caller (LifecycleIndex.search) passes the centroid
      // table it cached per index-version triple — repeated searches
      // on an unchanged index then skip this call's one corpus-sized
      // aggregation. None (every batch op) computes it here, so no
      // existing caller's measured cost or oracle changes.
      centsIn: Option[Array[(Long, Array[Long])]] = None,
      // a SERVING caller materializes the SYMMETRIZED graph into its
      // serving snapshot (one distinct per index state), so its walk
      // skips the per-hop union+distinct below — the same edge set,
      // paid once per state change instead of once per hop per
      // search. false (every batch op) keeps the in-walk symmetrize,
      // so no batch oracle or plan changes.
      preSymmetrized: Boolean = false,
      // the corpus and graph held on the driver (WalkGraph): the seeds,
      // every hop's fetch and the centroid table then read the held
      // arrays and run no Spark job. None (a corpus or graph past the
      // WalkGraph caps) fetches per hop from `nIn` and `gdIn`.
      graph: Option[WalkGraph] = None)
      : org.apache.spark.sql.DataFrame = {
    import s.implicits._
    require(qrows.length <= maxQ, s"query set exceeds the $maxQ bound")
    if (qrows.isEmpty) { // a drained stream's empty epoch walks nothing
      // reset the phase record too — leaving the PREVIOUS walk's
      // numbers would misattribute them to this call's latency budget
      lastWalkPhases.set(Seq.empty)
      return Seq.empty[(Long, Long, Double, Int)]
        .toDF("query_id", "neighbor_id", "cos_sim", "rank")
    }
    // A HELD walk (`graph`, the WalkGraph the caller filled under its
    // caps) reads everything below from driver arrays and persists
    // nothing; the rest of this note is the per-hop walk past the caps.
    // The corpus side every hop probes, PERSISTED for the walk's
    // duration (round 17): each hop's join re-ran the quantize
    // transform over the whole corpus — the HOF transform/aggregate
    // expressions are non-codegen, so H hops paid H corpus-sized
    // quantization passes (the serving latency budget's dominant
    // term, 3.26 s of a 3.98 s warm search at 100×). One fill then H
    // in-memory columnar scans, batch-stat-pruned by the hop's InSet.
    // cached() is idempotent by plan: a SERVING caller arrives with
    // the corpus already persisted per index state (LifecycleIndex's
    // corpus cache) and is returned untouched; a BATCH caller's
    // persist is TRACKED so the harness releases it with the query's
    // other intermediates; the STREAMING insert hook's corpus is
    // immutable for the stream's life, so its entry simply stays
    // resident — the corpus-side analog of its process-held coarse
    // quantizer. eager=false: the very next action (cell sizing)
    // fills it. The centroid table, when this call must compute it,
    // is aggregated over the NOT-YET-PERSISTED plan first — the
    // agg-over-fill hazard (review finding): an aggregation executed
    // on top of a just-issued persist materializes every row twice
    // and loses parquet codegen (measured 11 s → 26-31 s on the 200×
    // cold epoch when the stream path had this order), so cents runs
    // at plain-scan cost and the seed pass pays the one fill.
    val phT0 = System.nanoTime()
    def since(t: Long): Double = (System.nanoTime() - t) / 1e9
    val cents = centsIn.orElse(graph.flatMap(_.corpus.centroids))
      .getOrElse(centroidTable(s, nIn))
    val phCents = since(phT0)
    // a held walk reads neither frame, so neither is persisted
    lazy val n = graft.PersistRegistry.cached(nIn, eager = false)
    val qvec = qrows.map(r => r._1 -> ((r._2, r._3))).toMap
    def cosTo(q: Long, rc: Array[Long], nnc: Long): Double = {
      val (rq, nnq) = qvec(q)
      cosLong(rq, nnq, rc, nnc)
    }
    // coarse probe — v03's rule verbatim (centroid = exact integer
    // component-wise sum; best cell by cosine, ties to the smaller
    // label); the centroid table is the IVF coordinator state
    // (nlist rows, the same table v03/v05/v11 broadcast)
    require(cents.length <= 1000000, "centroid table exceeds the " +
      "coordinator bound — shard the coarse quantizer")
    // overflow guard, consistent with the other require()'d bounds:
    // the 64-term Long norm below overflows past |cj| ~ 3.79e8
    // (sqrt(Long.Max/64)); a centroid component that large means
    // the cell sum outgrew the quantization — fail loudly instead
    // of silently diverging from the oracle (which would promote
    // or error rather than wrap)
    require(cents.forall(_._2.forall(cj => math.abs(cj) <= 379000000L)),
      "centroid component exceeds the overflow-safe 3.79e8 bound — " +
      "quantize coarser or shard the cell")
    val probed: Map[Long, Long] = qvec.keys.map { q =>
      q -> cents.map { case (label, c) =>
        val nnc = c.map(x => x * x).sum
        (-cosTo(q, c, nnc), label)
      }.min._2
    }.toMap
    // multi-entry seeding: the 4 smallest vec_ids per probed cell
    // (one entry strands the walk in a directed k-NN graph's local
    // neighborhood; HNSW's multi-seed lesson)
    val probedLabels = probed.values.toSet
    // adaptive sizing: H/B from the LARGEST probed cell (one
    // distributed count over the <= Q probed cells — fixed knobs
    // under-recall the moment cells outgrow the fixture they were
    // tuned on; a deployed graph index is sized by exactly this
    // log|cell| rule). Recorded in the op's knobs ref so the
    // oracle's generated hop chain walks the identical search.
    val phT1 = System.nanoTime()
    // ONE pass for sizing + seeds (round 17, serving latency budget):
    // the per-cell count rides the seed window's partitioning — same
    // exchange, one job over the probed cells instead of a count job
    // plus a seed job. Each seed row carries its cell's total, and
    // every probed cell with any member contributes ≥1 seed row, so
    // max(cell_n over seeds) IS the old groupBy-count max; the 2L
    // floor covers the empty-corpus case exactly as before.
    val wEnt = Window.partitionBy("label").orderBy("vec_id")
    val wCell = Window.partitionBy("label")
    val seedRows = graph.fold(n.filter(col("label").cast("long")
        .isInCollection(probedLabels))
      .withColumn("rn", row_number().over(wEnt))
      .withColumn("cell_n", count(lit(1)).over(wCell))
      .filter(col("rn") <= 4)
      .select(col("label").cast("long"), col("vec_id"), col("r"),
        col("nn"), col("cell_n"))
      .as[(Long, Long, Array[Long], Long, Long)].collect())(
      _.corpus.seeds(probedLabels))
    val maxCell = seedRows.iterator.map(_._5)
      .maxOption.getOrElse(2L)
    val (vH, vB) = sizeKnobs(maxCell)
    knobsRef.set((vH, vB))
    val seeds = seedRows.map(s => (s._1, s._2, s._3, s._4))
    require(seeds.length <= 4 * maxQ, s"seed set exceeds the 4*$maxQ bound")
    val phSeeds = since(phT1)
    val phT2 = System.nanoTime()
    val seedsByLabel = seeds.groupBy(_._1)
    // the graph (a committed stage snapshot resolved by the caller:
    // v20 consumes v13's "knn-graph"; v21 builds "knn-graph-base"
    // over the insert-free corpus once per fixture) is SYMMETRIZED:
    // reverse edges double effective degree and connectivity — a
    // directed 3-out graph strands greedy walks (measured 28%
    // recall@3 vs v03 before symmetrizing). A preSymmetrized caller
    // already stored exactly this union+distinct.
    // the symmetrized graph is PERSISTED for the walk's duration
    // (round 20 — guide §2.4): `g` is probed once per hop, and the
    // lazy plan re-ran the union+distinct SHUFFLE on every hop (H-1
    // redundant exchanges per search). cached() is idempotent by
    // plan and tracked, so the harness releases it with the query's
    // other intermediates; a preSymmetrized (serving) caller already
    // reads its materialized snapshot and is untouched. eager=false:
    // the first hop's probe fills it.
    lazy val g = if (preSymmetrized) gdIn
      else graft.PersistRegistry.cached(symmetrized(gdIn), eager = false)
    // visited state: query -> node -> cosine. The walk is
    // BEST-FIRST WITH A CLOSED SET (round 11): each hop expands the
    // top-B visited nodes NOT yet expanded. Beaming over all
    // visited nodes (round 10) stalled the walk once the global
    // top-B were expanded — every later hop re-expanded them and
    // recall plateaued at 75% on sf0.1's cells however deep H went.
    var visited: Map[Long, Map[Long, Double]] = probed.map { case (q, lb) =>
      q -> seedsByLabel(lb)
        .map { case (_, node, rc, nnc) => node -> cosTo(q, rc, nnc) }.toMap
    }
    var closed: Map[Long, Set[Long]] =
      probed.map { case (q, _) => q -> Set.empty[Long] }
    // DRIVER-SIDE FETCH CACHES for the walk (round 20 — guide §1.2:
    // the hop loop was H sequential actions, each a broadcast-build
    // job plus a collect whose hash join SCANNED THE FULL CORPUS to
    // attach neighbor vectors; at H≈10 that is ~20 jobs and 10
    // corpus passes per search, the measured dominant term of warm
    // serving latency). The restructure fetches the SAME rows
    // through key-pruned scans and memoizes them for the walk's
    // duration:
    //  - edgeCache: src -> its full neighbor list from g (the exact
    //    rows g.filter(vec_id = src) returns — a consume only ever
    //    reads complete lists, never a truncated prefetch);
    //  - vecCache/vecAbsent: node -> (r, nn) from n, or proven
    //    absent (an edge to a corpus-absent node was dropped by the
    //    old inner join; the consume below drops exactly those).
    // Each hop then needs ONE job — new neighbors' vectors unioned
    // with an edge PREFETCH for those same nodes (any of which may
    // be in the next hop's beam; prefetching a superset never
    // changes what a consume reads) — and the beam's own edge fetch
    // is a cache hit from hop 2 on. The walk's state evolution
    // (beams, closed set, cosines, hub guard) is byte-identical to
    // the joined form, so the knob-generated oracle chain and every
    // caller's declared result are unchanged.
    // A HELD walk (WalkGraph) answers the same fetch from its driver
    // arrays with no job: exactly the rows the pruned scans return, so
    // the caches, both hub guards and every beam below are unchanged.
    val edgeCache = scala.collection.mutable.HashMap.empty[Long, Array[Long]]
    val vecCache =
      scala.collection.mutable.HashMap.empty[Long, (Array[Long], Long)]
    val vecAbsent = scala.collection.mutable.HashSet.empty[Long]
    seeds.foreach { case (_, node, rc, nnc) => vecCache(node) = (rc, nnc) }
    // prefetch gate: edge lists are hub-bounded only at consume time,
    // so cap the PREFETCH fan-out (sources per job) to bound the
    // driver at ≤ cap·512 two-long rows; an over-cap frontier just
    // skips the prefetch and the next hop's beam fetches exactly its
    // own edges (identical consume, one extra pruned-scan job)
    val prefetchCap = 2048
    // one job per hop (fetchVecsAndEdges): vectors this hop must
    // score (required) + the discovered nodes' edge lists (prefetch)
    // — both sides key-pruned scans of already-materialized tables,
    // no join, no broadcast. Fail-loud row bound AT THE FETCH
    // (round-20 advice): the consume-time hub guard below counts only
    // corpus-surviving edges of beam nodes, so edges that were merely
    // fetched or prefetched would reach the driver unguarded — the
    // same cap·512 budget here makes a pathological hub loud at the
    // first collect that touches it instead of silently resident.
    def fetch(vecIds: Set[Long], edgeSrcs: Set[Long]): Unit = {
      val (vRows, eRows) = graph.fold(
        fetchVecsAndEdges(n.filter(_), g, vecIds, edgeSrcs))(wg =>
        (wg.corpus.vectors(vecIds), wg.adj.edges(edgeSrcs)))
      require(eRows.length <= math.max(edgeSrcs.size, 1) * HubEdgeBound,
        "graph hub exceeded the per-fetch edge bound")
      vRows.foreach(r => vecCache(r._1) = (r._2.get, r._3.get))
      vecIds.foreach(i => if (!vecCache.contains(i)) vecAbsent += i)
      val bySrc = eRows.groupBy(_._1)
      edgeSrcs.foreach(sr =>
        edgeCache(sr) = bySrc.get(sr).map(_.map(_._2)).getOrElse(Array.empty))
    }
    for (_ <- 1 to vH) {
      val beams: Map[Long, Seq[Long]] = visited.map { case (q, m) =>
        q -> m.toSeq.filterNot { case (node, _) => closed(q)(node) }
          .map { case (node, c) => (-c, node) }
          .sorted.take(vB).map(_._2)
      }
      val beamNodes = beams.values.flatten.toSet
      if (beamNodes.nonEmpty) {
        // beam edges: cache hit except hop 1 (seed edges) and any
        // node whose discovery hop skipped the gated prefetch
        fetch(Set.empty, beamNodes.filterNot(edgeCache.contains))
        val nbrs = beamNodes.iterator.flatMap(edgeCache(_)).toSet
        val needVecs =
          nbrs.filterNot(i => vecCache.contains(i) || vecAbsent.contains(i))
        // exclude nodes already PROVEN corpus-absent (round-20 advice
        // low 4): an absent neighbor never enters visited, so no
        // future beam can consume its edge list — prefetching it
        // wastes the fetch and inflates prefSrcs0.size against the
        // cap, which could spuriously skip the prefetch for useful
        // nodes. (This hop's newly-absent nodes are only discovered
        // inside the fused fetch below — they are excluded from the
        // NEXT hop's prefetch by this same filter.)
        val prefSrcs0 = nbrs.filterNot(i =>
          edgeCache.contains(i) || vecAbsent.contains(i))
        val prefSrcs =
          if (prefSrcs0.size <= prefetchCap) prefSrcs0
          else Set.empty[Long]
        fetch(needVecs, prefSrcs)
        // the surviving edge rows are exactly the old join's output:
        // (src ∈ beams) × its g-neighbors whose vector exists in n
        val ed = beamNodes.iterator.flatMap { bn =>
          edgeCache(bn).iterator.flatMap(nb =>
            vecCache.get(nb).map { case (rc, nnc) => (bn, nb, rc, nnc) })
        }.toArray
        // out-degree is <= 2k symmetric, but a reverse edge adds the
        // ORIGINAL graph's in-degree — unbounded only for
        // pathological hubs; guard loudly rather than truncate
        // (truncation would silently diverge from the oracle's walk).
        // Same quantity as the joined form counted: corpus-surviving
        // edges of this hop's beam.
        require(ed.length <= beamNodes.size * HubEdgeBound,
          "graph hub exceeded the per-hop edge bound")
        val bySrc = ed.groupBy(_._1)
        closed = closed.map { case (q, e) => q -> (e ++ beams(q)) }
        visited = visited.map { case (q, m) =>
          val adds = beams(q).iterator
            .flatMap(bn => bySrc.getOrElse(bn, Array.empty))
            .map { case (_, node, rc, nnc) => node -> cosTo(q, rc, nnc) }
          q -> (m ++ adds)
        }
      }
    }
    val phHops = since(phT2)
    val phT3 = System.nanoTime()
    val out = visited.toSeq.flatMap { case (q, m) =>
      m.toSeq.filter { case (node, _) => node != q && resultKeep(node) }
        .sortBy { case (node, c) => (-c, node) }.take(3)
        .zipWithIndex.map { case ((node, c), i) => (q, node, c, i + 1) }
    }
    // ordered on the driver: a local relation, read with no Spark job
    val res = out.sortBy(r => (r._1, r._4))
      .toDF("query_id", "neighbor_id", "cos_sim", "rank")
    lastWalkPhases.set(Seq(
      "walk_centroids" -> phCents,
      "walk_sizing_seeds" -> phSeeds,
      "walk_hops" -> phHops,
      "walk_rank" -> since(phT3)))
    res
  }
}
