package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Primitive-array compute kernels for vector similarity.
  *
  * Spark's higher-order array functions (`zip_with`, `aggregate`) are
  * CodegenFallback — interpreted per element, which makes an all-pairs
  * dot-product scan ~30× slower than a JVM primitive loop. For the
  * brute-force pair scan we therefore drop to `mapPartitions` over the
  * candidate side with the (bounded) comparison set broadcast as
  * `Array[Long]`s — SURVEY §7's documented "(d) mapPartitions as a
  * last resort" case: a tight numeric kernel Catalyst cannot codegen.
  *
  * The arithmetic is identical to the expression form: exact Long
  * dot/norms from the quantized vectors, then one IEEE divide + sqrt —
  * so results are bit-identical to the DuckDB oracle.
  *
  * Scale note: broadcasting all vectors is the explicit contract of a
  * brute-force pair scan (the comparison set must be bounded — same
  * requirement as Spark's own broadcast join). The unbounded-N paths
  * are the LSH-bucket and IVF-cell queries, which shuffle on a short
  * key instead.
  */
object VectorKernels {

  /** md5(s), first 8 hex chars parsed as an unsigned 32-bit value —
    * identical to `CAST(('0x'||substr(md5(s),1,8)) AS BIGINT)` /
    * `conv(substring(md5(s),1,8),16,10)`. */
  private[graft] def md5Hex8(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }

  /** md5(s), first 15 hex chars as an unsigned 60-bit value —
    * identical to `CAST(('0x'||substr(md5(s),1,15)) AS BIGINT)`.
    * 60 bits (not 64) keeps the value non-negative in a BIGINT on
    * both engines, so shifts/masks agree without unsigned casts. */
  private[graft] def md5Hex15(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    (v << 4) | ((d(7) & 0xf0L) >> 4)
  }

  /** The engine's exact quantization rule as a scalar —
    * `CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)` replicated
    * operation-for-operation: float→double widening (exact), one IEEE
    * multiply, Spark Round's DoubleType path
    * (`BigDecimal.valueOf(d).setScale(0, HALF_UP)` — half away from
    * zero over the double's shortest decimal representation), then the
    * exact integral-double→long cast. Pinned against the expression
    * form by QuantizeKernelSpec. */
  private[graft] def quantize1(x: Float): Long =
    java.math.BigDecimal.valueOf(x.toDouble * 10000.0)
      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong

  /** The quantized cosine every kernel and driver-side ranking uses:
    * DotLong's wrapping Long dot over the shorter array, over
    * sqrt(nnx · nny) in double. */
  private[graft] def cosLong(x: Array[Long], nnx: Long, y: Array[Long],
      nny: Long): Double = {
    var dot = 0L
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) { dot += x(i) * y(i); i += 1 }
    dot.toDouble / math.sqrt(nnx.toDouble * nny.toDouble)
  }

  /** embeddings(vec_id, label, embedding: array<float>) →
    * (vec_id, label, r: quantized array<long>, nn: Σr² long) — the
    * map-only kernel form of DedupQueries.quantized (round 20 — guide
    * §1.2/§4.1: the transform/aggregate expression form is
    * CodegenFallback, interpreted per element, and this projection
    * feeds nearly every similarity/dedup operator). Arithmetic
    * identical to the expression form (see [[quantize1]]); the norm
    * accumulates via addExact/multiplyExact so an overflow stays a
    * loud failure exactly as the ANSI expression's Add would be. */
  def quantize(spark: SparkSession, embeddings: DataFrame): DataFrame = {
    import spark.implicits._
    embeddings.selectExpr("vec_id", "label", "embedding")
      .as[(Long, Int, Array[Float])]
      .mapPartitions { it =>
        it.map { case (id, label, e) =>
          val r = new Array[Long](e.length)
          var nn = 0L
          var i = 0
          while (i < e.length) {
            val v = quantize1(e(i))
            r(i) = v
            nn = Math.addExact(nn, Math.multiplyExact(v, v))
            i += 1
          }
          (id, label, r, nn)
        }
      }
      .toDF("vec_id", "label", "r", "nn")
  }

  /** All (query, candidate) cosines for a bounded query set
    * (vec_id < maxQueryId), skipping self-pairs. Returns
    * (query_id, neighbor_id, cos_sim); the caller ranks/filters
    * declaratively. Queries are broadcast; candidates stream through
    * one scan — O(Q·N) with no shuffle before the ranking. */
  def crossCosine(spark: SparkSession, quantized: DataFrame,
      maxQueryId: Long): DataFrame = {
    import spark.implicits._
    val vecs = quantized.select("vec_id", "r", "nn")
      .as[(Long, Array[Long], Long)]
    val qs = vecs.filter(_._1 < maxQueryId).collect().sortBy(_._1)
    val bc = spark.sparkContext.broadcast(qs)
    vecs.mapPartitions { it =>
      val queries = bc.value
      it.flatMap { case (idC, rc, nnC) =>
        queries.iterator.filter(_._1 != idC).map { case (idQ, rq, nnQ) =>
          (idQ, idC, cosLong(rq, nnQ, rc, nnC))
        }
      }
    }.toDF("query_id", "neighbor_id", "cos_sim")
  }

  /** Random-hyperplane LSH bucket per vector: nPlanes md5-derived
    * hyperplanes (coefficient for (p, j) = md5("p:j")[0:8] % 2001 -
    * 1000, j 1-based — the same literal construction as the SQL
    * oracle), bucket = sign-bit word of the plane dots. The plane
    * matrix is a deterministic constant, so it is computed once per
    * partition instead of per (row × plane × dim) as an expression
    * tree would. Returns (vec_id, bucket). */
  def lshBuckets(spark: SparkSession, quantized: DataFrame,
      nPlanes: Int): DataFrame = {
    import spark.implicits._
    quantized.select("vec_id", "r").as[(Long, Array[Long])]
      .mapPartitions { it =>
        var planes: Array[Array[Long]] = null
        it.map { case (id, r) =>
          if (planes == null)
            planes = Array.tabulate(nPlanes, r.length) { (p, j0) =>
              (md5Hex8(s"$p:${j0 + 1}") % 2001L) - 1000L
            }
          var bucket = 0L
          var p = 0
          while (p < nPlanes) {
            val cp = planes(p)
            var dot = 0L
            var j = 0
            while (j < cp.length) { dot += cp(j) * r(j); j += 1 }
            if (dot > 0) bucket |= (1L << p)
            p += 1
          }
          (id, bucket)
        }
      }.toDF("vec_id", "bucket")
  }

  /** MAP-ONLY k-means cell assignment: for each (vec_id, y) row, the
    * id of the centroid minimizing the exact integer squared L2
    * distance Σ (y_i·scale − c_i)², ties to the smaller centroid id.
    * `centroids` is a bounded (cellId, vector) list — k·dim longs, a
    * constant-size broadcast exactly like MLlib's Lloyd's step — so
    * the assignment is one scan with no shuffle at any corpus size.
    * All arithmetic is Long and overflow-safe by the caller's
    * fixed-point contract (|y·scale|, |c| ≤ ~2²¹ ⇒ Σ of 64 squared
    * diffs ≤ ~2⁴⁸). Returns (vec_id, cell). */
  def assignCells(spark: SparkSession, vectors: DataFrame,
      centroids: Array[(Int, Array[Long])], scale: Long): DataFrame = {
    import spark.implicits._
    // sorted by cell id: the first strict minimum wins = smallest id
    val cents = centroids.sortBy(_._1)
    val bc = spark.sparkContext.broadcast(cents)
    vectors.select("vec_id", "y").as[(Long, Array[Long])]
      .mapPartitions { it =>
        val cs = bc.value
        it.map { case (id, y) =>
          var best = -1
          var bestD = Long.MaxValue
          var p = 0
          while (p < cs.length) {
            val c = cs(p)._2
            var dist = 0L
            var j = 0
            while (j < c.length) {
              val diff = y(j) * scale - c(j)
              dist += diff * diff
              j += 1
            }
            if (dist < bestD) { bestD = dist; best = cs(p)._1 }
            p += 1
          }
          (id, best)
        }
      }.toDF("vec_id", "cell")
  }

  /** MAP-ONLY product-quantization encode: for each (vec_id, y) row
    * and each of the `m` contiguous subspaces of `subDim` dims, the
    * code of the sub-codebook entry minimizing the exact integer
    * squared L2 distance Σ_j (y(sub·subDim+j)·scale − c(j))², ties to
    * the smaller code id. `codebooks` is the bounded (sub, code,
    * subvector) list — m·k·subDim longs, a constant-size broadcast —
    * so encoding is one scan with no shuffle at any corpus size
    * (FAISS's encode step, re-expressed as a Spark map). A (sub, code)
    * pair absent from `codebooks` (a code that captured no vectors in
    * training) simply never wins. Returns (vec_id, codes: array<int>,
    * one code per subspace). */
  def pqEncode(spark: SparkSession, vectors: DataFrame,
      codebooks: Array[(Int, Int, Array[Long])], m: Int, subDim: Int,
      scale: Long): DataFrame = {
    import spark.implicits._
    // group per subspace, sorted by code id: first strict min wins
    val bySub: Array[Array[(Int, Array[Long])]] =
      Array.tabulate(m) { sub =>
        codebooks.filter(_._1 == sub).map(c => (c._2, c._3)).sortBy(_._1)
      }
    val bc = spark.sparkContext.broadcast(bySub)
    vectors.select("vec_id", "y").as[(Long, Array[Long])]
      .mapPartitions { it =>
        val cbs = bc.value
        it.map { case (id, y) =>
          val codes = new Array[Int](m)
          var sub = 0
          while (sub < m) {
            val cands = cbs(sub)
            var best = -1
            var bestD = Long.MaxValue
            var p = 0
            while (p < cands.length) {
              val c = cands(p)._2
              var dist = 0L
              var j = 0
              while (j < subDim) {
                val diff = y(sub * subDim + j) * scale - c(j)
                dist += diff * diff
                j += 1
              }
              if (dist < bestD) { bestD = dist; best = cands(p)._1 }
              p += 1
            }
            codes(sub) = best
            sub += 1
          }
          (id, codes)
        }
      }.toDF("vec_id", "codes")
  }

  /** pqEncode with the coarse-quantizer cell carried through — the
    * IVFPQ storage layout (FAISS IVF_PQ): each vector's inverted-list
    * cell AND its PQ codes in one row, produced in the same map-only
    * pass. Input (vec_id, cell, y); output (vec_id, cell, codes). */
  def pqEncodeCell(spark: SparkSession, vectors: DataFrame,
      codebooks: Array[(Int, Int, Array[Long])], m: Int, subDim: Int,
      scale: Long): DataFrame = {
    import spark.implicits._
    val bySub: Array[Array[(Int, Array[Long])]] =
      Array.tabulate(m) { sub =>
        codebooks.filter(_._1 == sub).map(c => (c._2, c._3)).sortBy(_._1)
      }
    val bc = spark.sparkContext.broadcast(bySub)
    vectors.select("vec_id", "cell", "y").as[(Long, Int, Array[Long])]
      .mapPartitions { it =>
        val cbs = bc.value
        it.map { case (id, cell, y) =>
          val codes = new Array[Int](m)
          var sub = 0
          while (sub < m) {
            val cands = cbs(sub)
            var best = -1
            var bestD = Long.MaxValue
            var p = 0
            while (p < cands.length) {
              val c = cands(p)._2
              var dist = 0L
              var j = 0
              while (j < subDim) {
                val diff = y(sub * subDim + j) * scale - c(j)
                dist += diff * diff
                j += 1
              }
              if (dist < bestD) { bestD = dist; best = cands(p)._1 }
              p += 1
            }
            codes(sub) = best
            sub += 1
          }
          (id, cell, codes)
        }
      }.toDF("vec_id", "cell", "codes")
  }

  /** Cell-restricted ADC scan — the IVFPQ serving kernel: each query
    * carries its PROBED cell alongside its distance table, and a
    * corpus row is scored only for queries probing its cell. The
    * inverted-list restriction is evaluated inline (one int compare)
    * during the same single compressed-corpus pass — at real scale the
    * encoded table is additionally partition-pruned by cell, making
    * the scan O(probed lists), not O(corpus). Returns (query_id,
    * neighbor_id, adc_dist). */
  def adcScanCells(spark: SparkSession, encoded: DataFrame,
      queries: Array[(Long, Int, Array[Array[Long]])]): DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(queries)
    encoded.select("vec_id", "cell", "codes").as[(Long, Int, Array[Int])]
      .mapPartitions { it =>
        val qs = bc.value
        it.flatMap { case (id, cell, codes) =>
          val out = new Array[(Long, Long, Long)](qs.length)
          var n = 0
          var qi = 0
          while (qi < qs.length) {
            val (qid, probed, table) = qs(qi)
            if (qid != id && probed == cell) {
              var dist = 0L
              var sub = 0
              while (sub < codes.length) {
                dist += table(sub)(codes(sub))
                sub += 1
              }
              out(n) = (qid, id, dist)
              n += 1
            }
            qi += 1
          }
          out.take(n)
        }
      }.toDF("query_id", "neighbor_id", "adc_dist")
  }

  /** PQ Lloyd-update statistics WITHOUT materializing assignments:
    * one pass over (vec_id, y) that assigns each subvector inline
    * (same rule as pqEncode) and accumulates the per-(sub, code, dim)
    * value sums and counts in task-local arrays, emitting ONE partial
    * row per (sub, code, dim) per PARTITION. Joining a materialized
    * assignment table back to the vectors — the obvious formulation —
    * is broadcast-cheap at small N but flips to a sort-merge join
    * shuffling the whole vector table once the assignment side
    * outgrows the broadcast threshold (measured: 57 MB shuffled at
    * 100× vs 0.04 MB at 1×); recomputing the map-only assignment
    * costs nothing and keeps the shuffle at O(m·k·subDim·partitions)
    * rows — independent of N, MLlib's aggregate shape. Returns
    * partial rows (sub, code, dim, sj, n_); caller groupBy-sums. */
  def pqUpdateStats(spark: SparkSession, vectors: DataFrame,
      codebooks: Array[(Int, Int, Array[Long])], m: Int, subDim: Int,
      scale: Long): DataFrame = {
    import spark.implicits._
    val bySub: Array[Array[(Int, Array[Long])]] =
      Array.tabulate(m) { sub =>
        codebooks.filter(_._1 == sub).map(c => (c._2, c._3)).sortBy(_._1)
      }
    // empty codebook (0-row training corpus): no stats to emit, but
    // the plan must still build — k = 0 makes the emit loops vacuous
    val k = if (codebooks.isEmpty) 0 else codebooks.map(_._2).max + 1
    val bc = spark.sparkContext.broadcast(bySub)
    vectors.select("vec_id", "y").as[(Long, Array[Long])]
      .mapPartitions { it =>
        val cbs = bc.value
        val sums = Array.ofDim[Long](m, k, subDim)
        val counts = Array.ofDim[Long](m, k)
        it.foreach { case (_, y) =>
          var sub = 0
          while (sub < m) {
            val cands = cbs(sub)
            var best = -1
            var bestD = Long.MaxValue
            var p = 0
            while (p < cands.length) {
              val c = cands(p)._2
              var dist = 0L
              var j = 0
              while (j < subDim) {
                val diff = y(sub * subDim + j) * scale - c(j)
                dist += diff * diff
                j += 1
              }
              if (dist < bestD) { bestD = dist; best = cands(p)._1 }
              p += 1
            }
            counts(sub)(best) += 1
            var j = 0
            while (j < subDim) {
              sums(sub)(best)(j) += y(sub * subDim + j)
              j += 1
            }
            sub += 1
          }
        }
        for {
          sub <- (0 until m).iterator
          code <- 0 until k
          if counts(sub)(code) > 0
          dim <- 0 until subDim
        } yield (sub, code, dim, sums(sub)(code)(dim), counts(sub)(code))
      }.toDF("sub", "code", "dim", "sj", "n_")
  }

  /** MAP-ONLY asymmetric-distance (ADC) scan: for each encoded corpus
    * row (vec_id, codes) and each query, the PQ distance
    * Σ_sub table(query)(sub)(code) — 8 array lookups per (row, query),
    * the exact economics that make PQ search fast: the corpus is
    * touched once, compressed, and the per-query work is O(m) integer
    * adds. `tables` is the bounded per-query lookup table
    * (Q·m·k longs, broadcast); rows equal to the query id are skipped.
    * Returns (query_id, neighbor_id, adc_dist) — unsorted; caller
    * ranks. */
  def adcScan(spark: SparkSession, encoded: DataFrame,
      tables: Array[(Long, Array[Array[Long]])]): DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(tables)
    encoded.select("vec_id", "codes").as[(Long, Array[Int])]
      .mapPartitions { it =>
        val qs = bc.value
        it.flatMap { case (id, codes) =>
          val out = new Array[(Long, Long, Long)](qs.length)
          var n = 0
          var qi = 0
          while (qi < qs.length) {
            val (qid, table) = qs(qi)
            if (qid != id) {
              var dist = 0L
              var sub = 0
              while (sub < codes.length) {
                dist += table(sub)(codes(sub))
                sub += 1
              }
              out(n) = (qid, id, dist)
              n += 1
            }
            qi += 1
          }
          out.take(n)
        }
      }.toDF("query_id", "neighbor_id", "adc_dist")
  }

  /** All pairs (id_a < id_b) with cosine >= minCos over a quantized
    * vector table (vec_id: long, r: array<long>, nn: long self-dot).
    * Returns columns (id_a, id_b, cos_sim) — unsorted; caller orders.
    *
    * Bounded-set BASELINE: the comparison set is broadcast, so the
    * input must be small (maxRows vectors ≈ 50 MB at 64 dims). The
    * bound is ENFORCED, not advisory — the collect is capped at
    * maxRows+1 rows (structurally bounded driver memory, one job) and
    * overflow fails with a pointer to the scale path (d09 IVF-blocked
    * near-dup), which shuffles on cell id instead of broadcasting.
    */
  def neardupPairs(spark: SparkSession, quantized: DataFrame,
      minCos: Double, maxRows: Int = 100000): DataFrame = {
    import spark.implicits._
    val vecs = quantized.select("vec_id", "r", "nn")
      .as[(Long, Array[Long], Long)]
    // limit(maxRows+1) bounds what can ever reach the driver; when the
    // input is within bound the limit is a no-op and this IS the full
    // comparison set. Sorted so each partition's inner loop can stop
    // early at id_a >= id_b.
    val probed = vecs.limit(maxRows + 1).collect()
    require(probed.length <= maxRows,
      s"neardupPairs is a bounded-set baseline (max $maxRows vectors); " +
        "input exceeds the bound. Use the IVF-blocked near-dup " +
        "(DedupQueries d09 / ivfNeardupPairs) at scale — it shuffles " +
        "on cell id instead of broadcasting the table.")
    val all = probed.sortBy(_._1)
    val bc = spark.sparkContext.broadcast(all)
    vecs.mapPartitions { it =>
      val as = bc.value
      it.flatMap { case (idB, rb, nnB) =>
        val out = Iterator.newBuilder[(Long, Long, Double)]
        var i = 0
        while (i < as.length && as(i)._1 < idB) {
          val (idA, ra, nnA) = as(i)
          val cos = cosLong(ra, nnA, rb, nnB)
          if (cos >= minCos) out += ((idA, idB, cos))
          i += 1
        }
        out.result()
      }
    }.toDF("id_a", "id_b", "cos_sim")
  }
}
