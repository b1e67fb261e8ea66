package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextKernels.{mdBucket, mdBucketSql, mdHash32Sql, mdHash60Sql}
import graft.sources.{Parquet, Tables}

/** Deduplication operators over `documents` / `embeddings` — the
  * training-data-pipeline surface: exact (hash-groupBy), MinHash+LSH,
  * SimHash, n-gram Jaccard with inverted-index blocking, and
  * embedding-cosine near-dup.
  *
  * Cross-engine exactness strategy (every op here is oracle-checked
  * against DuckDB):
  *   - text hashing goes through md5 (lowercase hex on both engines);
  *   - set similarity (Jaccard) is a ratio of integer set sizes —
  *     exact division, bit-identical;
  *   - embedding math quantizes floats to integers first
  *     (`round(x*10000)` — float→double is exact, one IEEE multiply
  *     and one half-away-from-zero round are bit-identical on both
  *     engines), then all dot products / norms are exact BIGINT sums;
  *     the final `dot / sqrt(n1*n2)` is two correctly-rounded IEEE
  *     ops on identical inputs → identical doubles.
  *
  * Scale notes (100 TB): the LSH band join (d02) and the rare-shingle
  * inverted index (d04) are the scalable candidate generators — both
  * shuffle on a short key (band hash / shingle) and never materialize
  * the O(n²) pair space. The brute-force pair scan in d05 is the
  * correctness baseline; its scale path is v02/v03 in
  * SimilarityQueries (LSH buckets / IVF cells).
  */
object DedupQueries {

  // Pipeline-stage snapshots (StageSnapshots): d02 DEFINES the
  // confirmed-pairs table, d08 consumes it and DEFINES the cluster
  // table, d10 consumes that — see StageSnapshots for the
  // honest-measurement contract.
  import StageSnapshots.{materialize, snapshot}

  /** Tokenize: split trimmed text on whitespace runs. */
  private def words(c: Column): Column = split(trim(c), "\\s+")

  /** DuckDB CTE chain computing the d03 32-bit TF-weighted SimHash per
    * doc (ends in `sim(doc_id, simhash)`); shared by d03 and d07. */
  private val simhashCteSql =
    raw"""tok AS (SELECT doc_id, w, count(*)::BIGINT AS cnt FROM
      |    (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w
      |     FROM documents) t GROUP BY doc_id, w),
      |h AS (SELECT doc_id, ${mdHash32Sql("w")} AS hv,
      |             cnt FROM tok),
      |bits AS (SELECT doc_id, b,
      |           sum(CASE WHEN (hv >> b) & 1 = 1 THEN cnt ELSE -cnt END) AS contrib
      |         FROM h, generate_series(0, 31) t(b) GROUP BY doc_id, b),
      |sim AS (SELECT doc_id,
      |          CAST(sum(CASE WHEN contrib > 0 THEN (1::BIGINT << b) ELSE 0 END)
      |               AS BIGINT) AS simhash
      |        FROM bits GROUP BY doc_id)""".stripMargin

  private val shinglesSql =
    """list_distinct(list_transform(generate_series(1, greatest(len(w)-2, 1)),
      |      i -> array_to_string(w[i:i+2], ' ')))""".stripMargin

  /** Exact Jaccard over two distinct-element arrays (set semantics on
    * both engines: array_intersect/array_union dedup, as do DuckDB's
    * list_intersect + list_distinct∘list_concat). */
  private def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b))

  /** embeddings → (vec_id, r: array<long> quantized, nn: long self-dot).
    * Map-only kernel (round 20): the transform/aggregate expression
    * form is CodegenFallback — interpreted per element — and this
    * projection underlies nearly every similarity/dedup operator; the
    * kernel computes the identical arithmetic (VectorKernels.quantize,
    * equivalence spec-pinned) in a tight loop. */
  private[graft] def quantized(s: SparkSession, d: String): DataFrame =
    graft.functions.VectorKernels.quantize(s, Tables.embeddings(s, d))

  /** The quantized rows passing `idPred`, a predicate on `vec_id`: the
    * predicate filters the embeddings BEFORE the quantize kernel, so it
    * reaches the parquet scan (a filter above the kernel's
    * `mapPartitions` cannot be pushed, and every row would be
    * quantized to keep a few). */
  private[graft] def quantizedWhere(s: SparkSession,
      d: String): Column => DataFrame = idPred =>
    graft.functions.VectorKernels.quantize(s,
      Tables.embeddings(s, d).filter(idPred))

  private[operators] val quantizedSql =
    """SELECT vec_id, label, r,
      |       CAST(list_sum(list_transform(r, x -> x*x)) AS BIGINT) AS nn
      |FROM (SELECT vec_id, label,
      |        list_transform(embedding,
      |          x -> CAST(round(CAST(x AS DOUBLE)*10000) AS BIGINT)) AS r
      |      FROM embeddings)""".stripMargin

  /** Exact long dot product of two equal-length long arrays. */
  private[operators] def dotL(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)

  /** cos from exact integer dot + norms: identical doubles on both
    * engines (one divide, one sqrt, one multiply — all IEEE-exact on
    * identical integer inputs). */
  private[operators] def cosine(dot: Column, nnA: Column, nnB: Column): Column =
    dot.cast("double") / sqrt(nnA.cast("double") * nnB.cast("double"))

  /** d02's confirmed near-dup pairs (doc_a, doc_b, jacc >= 0.5) —
    * shared by d02 and the cluster-formation step d08.
    *
    * Shingle + md5 + 8 universal hashes run in one primitive-loop
    * pass (TextKernels — the expression form is interpreted per
    * element); the signature subplan is persisted because it feeds
    * both sides of the band self-join and the confirm joins. */
  private def confirmedMinhashPairs(s: SparkSession, d: String): DataFrame = {
    val sig = graft.PersistRegistry.cached(graft.functions.TextKernels
      .minhashSignatures(s, Tables.documents(s, d), 8))
    val bands = sig
      .select(col("doc_id"),
        explode(sequence(lit(0), lit(3))).as("b"), col("sig"))
      .select(col("doc_id"), col("b"),
        concat(element_at(col("sig"), col("b") * 2 + 1).cast("string"),
          lit(":"),
          element_at(col("sig"), col("b") * 2 + 2).cast("string")).as("key"))
    val cand = bands.as("a")
      .join(bands.as("c"),
        col("a.key") === col("c.key") && col("a.b") === col("c.b")
          && col("a.doc_id") < col("c.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("c.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(sig.select(col("doc_id").as("doc_a"), col("s").as("sa")), "doc_a")
      .join(sig.select(col("doc_id").as("doc_b"), col("s").as("sb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        jaccard(col("sa"), col("sb")).as("jacc"))
      .filter(col("jacc") >= 0.5)
  }

  /** d04's confirmed pairs (doc_a, doc_b, jacc >= 0.5) via the
    * rare-shingle inverted index — shared by d04 and the method-
    * agreement audit d13. Shingle table persisted: it feeds the
    * inverted index twice (self-join), the rare-shingle filter, and
    * both confirm joins. Shingling runs in the primitive-loop kernel
    * (the expression form is interpreted). */
  private def ngramJaccardPairs(s: SparkSession, d: String): DataFrame = {
    val sh = graft.PersistRegistry.cached(graft.functions.TextKernels
      .shingled(s, Tables.documents(s, d)))
    val inv = sh.select(col("doc_id"), explode(col("s")).as("sg"))
    // Document-frequency FIRST (map-side-combined count — shuffles
    // one long per distinct shingle), then posting lists only for
    // the rare shingles: collecting sets for every shingle and
    // filtering afterwards builds (and ships) thousand-element sets
    // for frequent shingles just to throw them away. AQE broadcasts
    // the rare set when it is small; at corpus scale the join
    // degrades gracefully to a shuffle on sg.
    val rare = inv.groupBy("sg").agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, 5)).select("sg")
    val cand = inv.join(rare, "sg")
      .groupBy("sg").agg(collect_set("doc_id").as("ids"))
      .filter(size(col("ids")).between(2, 5))
      .select(explode(expr(
        """flatten(transform(ids,
          |  x -> transform(filter(ids, y -> y > x),
          |         y -> struct(x AS doc_a, y AS doc_b))))""".stripMargin))
        .as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .distinct()
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("s").as("sa")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("s").as("sb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        jaccard(col("sa"), col("sb")).as("jacc"))
      .filter(col("jacc") >= 0.5)
  }

  /** d07's near-dup pairs (doc_a, doc_b, hamming <= 3) via 4×8-bit
    * SimHash band blocking — shared by d07 and the audit d13. */
  private def simhashNeardupPairs(s: SparkSession, d: String): DataFrame = {
    val sim = graft.PersistRegistry.cached(graft.functions.TextKernels
      .simhash32(s, Tables.documents(s, d)))
    val bands = sim.select(col("doc_id"), col("simhash"),
        explode(sequence(lit(0), lit(3))).as("b"))
      .select(col("doc_id"), col("simhash"), col("b"),
        expr("shiftright(simhash, b * 8) & CAST(255 AS BIGINT)").as("bv"))
    val a = bands.select(col("b").as("ab"), col("bv").as("abv"),
      col("doc_id").as("doc_a"), col("simhash").as("ha"))
    val c = bands.select(col("b").as("cb"), col("bv").as("cbv"),
      col("doc_id").as("doc_b"), col("simhash").as("hb"))
    a.join(c, col("ab") === col("cb") && col("abv") === col("cbv")
        && col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "ha", "hb").distinct()
      .select(col("doc_a"), col("doc_b"),
        expr("CAST(bit_count(ha ^ hb) AS INT)").as("hamming"))
      .filter(col("hamming") <= 3)
  }

  /** Connected components over the confirmed near-dup pair graph
    * (d02): (doc_id, cluster_id = min doc_id of the component).
    * Iterative min-label propagation — each round one join + one
    * min-aggregate on the id key, O(cluster diameter) rounds, bulk
    * shuffles only (no driver-side union-find). Shared by d08
    * (cluster formation) and d10 (canonical-doc selection). */
  private def dupClusters(s: SparkSession, d: String): DataFrame = {
    // consume the pairs TABLE (d02's output) — computed here only if
    // d02 has not materialized it yet this session
    componentsOf(s, snapshot(s, d, "dup-pairs")(confirmedMinhashPairs(s, d))
      .select("doc_a", "doc_b"))
  }

  /** Bulk-synchronous min-label connected components over undirected
    * edges given as two-column pairs (each pair listed once). Shared
    * by d08/d10 (Jaccard edges) and d15 (cosine edges). O(diameter)
    * rounds, each one join + one min-agg shuffle on the node id —
    * never a driver-side union-find. Returns (doc_id, cluster_id)
    * for nodes that HAVE an edge. */
  private def componentsOf(s: SparkSession, pairs: DataFrame): DataFrame = {
    val pc = pairs.columns
    val p = pairs.select(col(pc(0)).as("pa"), col(pc(1)).as("pb"))
    val edges = p
      .union(p.select(col("pb"), col("pa")))
      .toDF("src", "dst").distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // SEED = the first propagation round's closed form (round 20 —
    // guide §2.4, remove whole passes): label₀(id) = min(id,
    // min(neighbors(id))) is exactly what one loop iteration computes
    // from the identity labeling (edges are symmetrized, so grouping
    // by src covers every node and min(dst) is the min neighbor).
    // Seeding it directly saves one full join+union+min round — for
    // the shallow clusters near-dup graphs produce (diameter 1-2)
    // that is a third to a half of the fixpoint's shuffles. The
    // fixpoint itself is unchanged, so the result is identical.
    var labels = edges.groupBy(col("src").as("id"))
      .agg(min("dst").as("mn"))
      .select(col("id"), least(col("id"), col("mn")).as("lbl"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // convergence monitor: min-propagation only ever DECREASES
    // labels, so the label sum is strictly decreasing until the
    // fixpoint — one scalar aggregate per round instead of a
    // join-and-compare pass
    def labelSum(df: DataFrame): Long =
      df.agg(coalesce(sum("lbl"), lit(0L))).head.getLong(0)
    var curSum = labelSum(labels)
    var converged = false
    while (!converged) {
      // propagate each node's label to its neighbors, keep the min
      // plan-aware persist: when the harness re-runs this query
      // before releasing the prior run's converged labels, iteration
      // k's plan here is normalized-equal to that still-cached frame
      // — adopt it instead of re-persisting (which would only log
      // CacheManager's "already cached" warning and register a
      // duplicate cache entry request)
      // eager = false: labelSum below is the immediate first action
      val next = graft.PersistRegistry.cached(edges
        .join(labels.withColumnRenamed("id", "src")
          .withColumnRenamed("lbl", "nlbl"), "src")
        .select(col("dst").as("id"), col("nlbl").as("lbl"))
        .union(labels)
        .groupBy("id").agg(min("lbl").as("lbl")),
        eager = false)
      val nextSum = labelSum(next)
      converged = nextSum == curSum
      curSum = nextSum
      labels.unpersist()
      labels = next
    }
    val out = labels.select(col("id").as("doc_id"),
      col("lbl").as("cluster_id"))
    edges.unpersist()
    // the final labels must stay persisted until the CALLER consumes
    // `out` (unpersisting here would replay the whole fixpoint) —
    // hand it to the registry for post-materialization release
    // (track, not cached: the loop persisted it already)
    graft.PersistRegistry.track(labels)
    out
  }


  /** d09's in-cell embedding near-dup pairs (id_a, id_b, label,
    * cos_sim ≥ 0.4), unordered — shared by d09 and the semantic-dedup
    * composition (d15). */
  private def ivfNearDupPairs(s: SparkSession, d: String): DataFrame = {
    val n = quantized(s, d)
    val a = n.select(col("vec_id").as("id_a"), col("label"),
      col("r").as("ra"), col("nn").as("na"))
    val c = n.select(col("vec_id").as("id_b"), col("label").as("lc"),
      col("r").as("rb"), col("nn").as("nb"))
    a.join(c, col("label") === col("lc") && col("id_a") < col("id_b"))
      .withColumn("cos_sim", cosine(
        graft.plans.DotLong.col(col("ra"), col("rb")),
        col("na"), col("nb")))
      .filter(col("cos_sim") >= 0.4)
      .select(col("id_a"), col("id_b"),
        col("label").cast("int").as("label"), col("cos_sim"))
  }

  /** The d02 oracle's CTE prefix up to the MinHash signature table —
    * ends in `sig(doc_id, s, sig)`; shared by the self-join pair chain
    * below and the delta-vs-corpus chain (d11). */
  private val sigCteSql =
    s"""w AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
      |           FROM documents),
      |sh AS (SELECT doc_id, $shinglesSql AS s FROM w),
      |hs AS (SELECT doc_id, s, list_transform(s,
      |          x -> ${mdHash32Sql("x")}) AS hv
      |       FROM sh),
      |sig AS (SELECT doc_id, s, list_transform(generate_series(0, 7),
      |          k -> list_min(list_transform(hv,
      |                 h -> ((2*k+1)*h + 7919*k) % 4294967311))) AS sig
      |        FROM hs)""".stripMargin

  /** The d02 oracle's CTE chain up to confirmed pairs — ends in
    * `pairs(doc_a, doc_b, jacc)`; shared by d02, d08, and d10. */
  private val pairsCteSql =
    s"""$sigCteSql,
      |bands AS (SELECT doc_id, b,
      |            CAST(sig[2*b+1] AS VARCHAR) || ':' ||
      |            CAST(sig[2*b+2] AS VARCHAR) AS key
      |          FROM sig, generate_series(0, 3) t(b)),
      |cand AS (SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
      |         FROM bands a JOIN bands c
      |           ON a.key = c.key AND a.b = c.b AND a.doc_id < c.doc_id),
      |pairs AS (SELECT doc_a, doc_b,
      |         len(list_intersect(x.s, y.s))::DOUBLE
      |           / len(list_distinct(list_concat(x.s, y.s))) AS jacc
      |  FROM cand JOIN sig x ON x.doc_id = cand.doc_a
      |            JOIN sig y ON y.doc_id = cand.doc_b)""".stripMargin

  val all: Seq[QueryDef] = Seq(

    // Exact dedup = hash-groupBy on a normalized key (here: the
    // 8-token prefix — full-text md5 finds nothing in this corpus by
    // construction; prefix-normalized dedup is the realistic pipeline
    // op and has 23 planted groups). One shuffle on the 32-char key;
    // partial aggregation applies. members is a sorted id list so the
    // output is deterministic.
    QueryDef(
      "d01_exact_dedup",
      """SELECT key_hash, min(doc_id) AS keep_id,
        |       count(*) AS n_copies,
        |       array_to_string(list_sort(list(doc_id)), ',') AS members
        |FROM (SELECT doc_id,
        |        md5(array_to_string((string_split_regex(trim(text), '\s+'))[1:8], ' '))
        |          AS key_hash
        |      FROM documents) t
        |GROUP BY key_hash HAVING count(*) >= 2
        |ORDER BY keep_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          md5(concat_ws(" ", slice(words(col("text")), 1, 8))).as("key_hash"))
        .groupBy("key_hash")
        .agg(
          min("doc_id").as("keep_id"),
          count(lit(1)).as("n_copies"),
          array_join(transform(sort_array(collect_list(col("doc_id"))),
            x => x.cast("string")), ",").as("members"))
        .filter(col("n_copies") >= 2)
        .orderBy("keep_id")
    },

    // MinHash + LSH near-dup: 8 minhashes over 3-shingles — ONE md5
    // per shingle, then 8 universal-hash derivations ((2k+1)·h + 7919k
    // mod p, exact BIGINT on both engines) — banded 4×2; candidate
    // pairs share a band key (equi-join on the band — the only shuffle
    // over pairs); candidates are confirmed with exact Jaccard >= 0.5.
    // Finds the 25 planted near-dup pairs. The shingle+hash subplan is
    // persisted: it feeds both sides of the self-join and the confirm
    // joins, and Spark does not reuse unpersisted subplans.
    QueryDef(
      "d02_minhash_lsh",
      s"""WITH $pairsCteSql
        |SELECT doc_a, doc_b, jacc FROM pairs
        |WHERE jacc >= 0.5 ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      // d02 DEFINES the pairs table: always recompute + rewrite the
      // snapshot downstream stages (d08/d10) consume
      Parquet.read(s,
          materialize(s, d, "dup-pairs")(confirmedMinhashPairs(s, d)))
        .orderBy("doc_a", "doc_b")
    },

    // SimHash: 32-bit fingerprint from md5-derived token hashes
    // weighted by term frequency. Pure integer arithmetic (shift /
    // mask / signed sums) → bit-identical across engines. Two
    // aggregations, both with map-side partial combine; the bit
    // explosion is ×32 but each row is (id, bit, ±cnt) — tiny.
    QueryDef(
      "d03_simhash",
      s"""WITH $simhashCteSql
        |SELECT doc_id, simhash FROM sim ORDER BY doc_id""".stripMargin) { (s, d) =>
      // map-only kernel: SimHash is a per-row computation; the
      // explode-per-bit relational form (the oracle's formulation)
      // would shuffle rows×32 (see TextKernels.simhash32).
      graft.functions.TextKernels
        .simhash32(s, Tables.documents(s, d))
        .orderBy("doc_id")
    },

    // n-gram (3-shingle) Jaccard with inverted-index blocking: only
    // pairs sharing a RARE shingle (document frequency <= 5) are ever
    // scored — the candidate space shuffles on the shingle, never on
    // the pair, so the op survives n where O(n²) does not. High-J
    // pairs share many rare shingles, so recall at J>=0.5 is total on
    // this corpus (verified == the 25 planted pairs).
    QueryDef(
      "d04_ngram_jaccard",
      s"""WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
        |           FROM documents),
        |sh AS (SELECT doc_id, $shinglesSql AS s FROM w),
        |inv AS (SELECT doc_id, unnest(s) AS sg FROM sh),
        |rare AS (SELECT sg FROM inv GROUP BY sg HAVING count(*) <= 5),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
        |         FROM inv a JOIN inv c ON a.sg = c.sg AND a.doc_id < c.doc_id
        |         WHERE a.sg IN (SELECT sg FROM rare))
        |SELECT doc_a, doc_b, jacc FROM (
        |  SELECT doc_a, doc_b,
        |         len(list_intersect(x.s, y.s))::DOUBLE
        |           / len(list_distinct(list_concat(x.s, y.s))) AS jacc
        |  FROM cand JOIN sh x ON x.doc_id = cand.doc_a
        |            JOIN sh y ON y.doc_id = cand.doc_b) j
        |WHERE jacc >= 0.5 ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      // d04 DEFINES the ngram-pairs table (round 20 — the same
      // pipeline-stage contract as d02/d08/d10): always recompute +
      // rewrite the snapshot; the audit (d13) consumes it instead of
      // re-running the whole inverted-index chain.
      Parquet.read(s,
          materialize(s, d, "ngram-pairs")(ngramJaccardPairs(s, d)))
        .orderBy("doc_a", "doc_b")
    },

    // Embedding-cosine near-dup, brute-force pair scan (correctness
    // baseline; scale path = LSH buckets, see v02). Quantized-integer
    // dot/norms → the cosine double is bit-identical to DuckDB's, so
    // the 0.4 threshold cuts the same set on both engines. The pair
    // scan runs as a primitive-loop kernel (VectorKernels) — Spark's
    // higher-order array functions are interpreted and ~30× slower.
    QueryDef(
      "d05_embedding_neardup",
      s"""WITH n AS ($quantizedSql)
        |SELECT id_a, id_b, cos_sim FROM (
        |  SELECT a.vec_id AS id_a, c.vec_id AS id_b,
        |         CAST(list_sum(list_transform(generate_series(1, len(a.r)),
        |                i -> a.r[i] * c.r[i])) AS DOUBLE)
        |           / sqrt(CAST(a.nn AS DOUBLE) * CAST(c.nn AS DOUBLE)) AS cos_sim
        |  FROM n a JOIN n c ON a.vec_id < c.vec_id) t
        |WHERE cos_sim >= 0.4 ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      graft.functions.VectorKernels
        .neardupPairs(s, quantized(s, d), 0.4)
        .orderBy("id_a", "id_b")
    },

    // Cell-blocked embedding near-dup — the SCALE PATH for d05's
    // brute-force pair scan, oracle-checked in its own right: pairs
    // are generated only WITHIN an IVF cell (the `label` coarse-
    // quantizer column, as in v03), so the join shuffles once on the
    // short cell id and the pair space is Σ cell² instead of N².
    // Recall vs d05 is bounded by cell purity (near-dups straddling a
    // cell boundary are missed — the standard IVF trade, mitigated in
    // practice by multi-probe); the semantics DECLARED here (same-cell
    // pairs ≥ threshold) are exact, which is what the oracle verifies.
    // Same quantized-integer cosine as d05 → bit-identical doubles.
    QueryDef(
      "d09_ivf_neardup",
      s"""WITH n AS ($quantizedSql)
        |SELECT id_a, id_b, label, cos_sim FROM (
        |  SELECT a.vec_id AS id_a, c.vec_id AS id_b,
        |         CAST(a.label AS INT) AS label,
        |         CAST(list_sum(list_transform(generate_series(1, len(a.r)),
        |                i -> a.r[i] * c.r[i])) AS DOUBLE)
        |           / sqrt(CAST(a.nn AS DOUBLE) * CAST(c.nn AS DOUBLE)) AS cos_sim
        |  FROM n a JOIN n c ON a.label = c.label AND a.vec_id < c.vec_id) t
        |WHERE cos_sim >= 0.4 ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      // d09 DEFINES the IVF-edge table: always recompute + rewrite the
      // snapshot its semantic-dedup consumer (d15) reads
      Parquet.read(s,
          materialize(s, d, "ivf-pairs")(ivfNearDupPairs(s, d)))
        .orderBy("id_a", "id_b")
    },

    // SimHash NEAR-DUP PAIRS (d03 builds fingerprints; this finds the
    // duplicates): pairs within Hamming distance 3 of each other's
    // 32-bit simhash. Blocking: 4 bands of 8 bits — by pigeonhole, <=3
    // flipped bits leave at least one band intact, so band-equality
    // candidate generation has TOTAL recall at the threshold, and the
    // join shuffles on the short (band, value) key, never the pair
    // space. Confirm is one codegen'd xor+bit_count per candidate.
    QueryDef(
      "d07_simhash_neardup",
      s"""WITH $simhashCteSql,
        |bands AS (SELECT doc_id, simhash, b, (simhash >> (b*8)) & 255 AS bv
        |          FROM sim, generate_series(0, 3) t(b)),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b,
        |                a.simhash AS ha, c.simhash AS hb
        |         FROM bands a JOIN bands c
        |           ON a.b = c.b AND a.bv = c.bv AND a.doc_id < c.doc_id)
        |SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
        |FROM cand WHERE bit_count(xor(ha, hb)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      // d07 DEFINES the simhash-pairs table (round 20): always
      // recompute + rewrite; the audit (d13) consumes it.
      Parquet.read(s,
          materialize(s, d, "simhash-pairs")(simhashNeardupPairs(s, d)))
        .orderBy("doc_a", "doc_b")
    },

    // Duplicate-CLUSTER formation: connected components over the
    // confirmed near-dup pair graph (d02) — pairwise matches are not
    // enough to dedup a corpus (A~B, B~C must collapse into ONE group
    // even when A~C was never scored). cluster_id = min doc_id of the
    // component, so "keep one doc per cluster" = keep doc_id ==
    // cluster_id. Spark side runs iterative min-label propagation:
    // each round is one join + one min-aggregate (both on the id key),
    // converging in O(cluster diameter) rounds — near-dup clusters
    // are shallow, so 2-3 rounds; every round is a bulk shuffle, never
    // a driver-side union-find. The oracle states the same fixpoint as
    // a recursive transitive closure.
    QueryDef(
      "d08_dup_clusters",
      s"""WITH RECURSIVE $pairsCteSql,
        |e AS (SELECT doc_a AS a, doc_b AS b FROM pairs WHERE jacc >= 0.5
        |      UNION SELECT doc_b, doc_a FROM pairs WHERE jacc >= 0.5),
        |reach(a, b) AS (
        |  SELECT a, b FROM e
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a)
        |SELECT a AS doc_id, least(a, min(b)) AS cluster_id
        |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin) { (s, d) =>
      Parquet.read(s, materialize(s, d, "dup-clusters")(dupClusters(s, d)))
        .orderBy("doc_id")
    },

    // Canonical-representative selection per duplicate cluster — the
    // step a real dedup pipeline runs AFTER cluster formation: of each
    // cluster, keep the highest-quality member (longest text; doc_id
    // breaks ties deterministically) and record the cluster size for
    // the retention manifest. Composes d08's components with the
    // documents table. Scale: clusters is O(duplicated docs) — one
    // equi-join on doc_id to pick up the quality signal, then one
    // aggregate on cluster_id; the argmax is max(struct(quality,
    // -doc_id)) — a plain mergeable aggregate, no per-cluster window
    // shuffle and no assumption about max_by tie behavior.
    QueryDef(
      "d10_canonical_docs",
      s"""WITH RECURSIVE $pairsCteSql,
        |e AS (SELECT doc_a AS a, doc_b AS b FROM pairs WHERE jacc >= 0.5
        |      UNION SELECT doc_b, doc_a FROM pairs WHERE jacc >= 0.5),
        |reach(a, b) AS (
        |  SELECT a, b FROM e
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
        |cl AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id
        |       FROM reach GROUP BY a),
        |j AS (SELECT cl.cluster_id, cl.doc_id, d.n_chars
        |      FROM cl JOIN documents d USING (doc_id))
        |SELECT cluster_id, doc_id AS canonical_doc, n_members,
        |       n_chars AS canonical_chars
        |FROM (SELECT cluster_id, doc_id, n_chars,
        |        count(*) OVER (PARTITION BY cluster_id) AS n_members,
        |        row_number() OVER (PARTITION BY cluster_id
        |            ORDER BY n_chars DESC, doc_id ASC) AS rn
        |      FROM j) t
        |WHERE rn = 1 ORDER BY cluster_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d).select("doc_id", "n_chars")
      snapshot(s, d, "dup-clusters")(dupClusters(s, d)).join(docs, "doc_id")
        .groupBy("cluster_id")
        .agg(count(lit(1)).as("n_members"),
          max(struct(col("n_chars"), (-col("doc_id")).as("neg"))).as("best"))
        .select(col("cluster_id"), (-col("best.neg")).as("canonical_doc"),
          col("n_members"), col("best.n_chars").as("canonical_chars"))
        .orderBy("cluster_id")
    },

    // Test-set decontamination: find held-out (test-split) documents
    // that share any 32-char window with a train-split document — the
    // benchmark-leakage check every LLM data pipeline runs before
    // training. Reuses p01's deterministic md5 split (b<80 train,
    // b>=90 test). Character grams at stride 16 guarantee any shared
    // run of >= 47 chars produces at least one aligned-equal gram on
    // both sides. Shape: map-only gram fan-out (sequence+explode,
    // codegen'd) → distinct → LEFT SEMI join keyed on the gram → one
    // small per-doc count. The semi join shuffles only distinct grams
    // (never the O(test × train) pair space) and Spark builds/probes a
    // hash relation — the same inverted-index blocking idea as d04,
    // here with positional grams so it scales linearly in corpus size.
    QueryDef(
      "d06_decontaminate",
      raw"""WITH split AS (
        |  SELECT doc_id, text, ${mdBucketSql("doc_id", 100)} AS b
        |  FROM documents WHERE length(text) >= 32),
        |grams AS (
        |  SELECT doc_id, b, substr(text, CAST(gs AS INT) + 1, 32) AS g
        |  FROM (SELECT doc_id, b, text,
        |          unnest(range(0, CAST(length(text) - 31 AS BIGINT), 16)) AS gs
        |        FROM split)),
        |tr AS (SELECT DISTINCT g FROM grams WHERE b < 80),
        |te AS (SELECT DISTINCT doc_id, g FROM grams WHERE b >= 90)
        |SELECT doc_id, count(*) AS n_shared
        |FROM te WHERE g IN (SELECT g FROM tr)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      val b = mdBucket(col("doc_id"), 100)
      val grams = Tables.documents(s, d)
        .filter(length(col("text")) >= 32)
        .select(col("doc_id"), b.as("b"), col("text"),
          explode(sequence(lit(0), length(col("text")) - 32, lit(16))).as("gs"))
        .select(col("doc_id"), col("b"),
          col("text").substr(col("gs") + 1, lit(32)).as("g"))
      val train = grams.filter(col("b") < 80).select("g").distinct()
      val test  = grams.filter(col("b") >= 90).select("doc_id", "g").distinct()
      test.join(train, Seq("g"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
        .orderBy("doc_id")
    },

    // Contamination RATE report — the graded form of d06: d06 names
    // the contaminated docs (the filter's input), this reports EVERY
    // test doc's gram count, shared-gram count, and contamination
    // rate in integer basis points (the eval-integrity artifact a
    // training run publishes alongside its decontam filter — "what
    // fraction of each held-out doc leaked into train", not just
    // "which docs crossed the threshold"). Same machinery as d06 —
    // stride-16 32-char gram fan-out, distinct, one gram-keyed LEFT
    // join (never a doc-pair space) — plus one counting agg; the
    // rate is integer floor division (both engines' operators agree
    // on non-negative operands). Linear at any corpus size: the
    // gram exchange is the only data-sized shuffle.
    QueryDef(
      "d17_contamination_rate",
      raw"""WITH split AS (
        |  SELECT doc_id, text, ${mdBucketSql("doc_id", 100)} AS b
        |  FROM documents WHERE length(text) >= 32),
        |grams AS (
        |  SELECT doc_id, b, substr(text, CAST(gs AS INT) + 1, 32) AS g
        |  FROM (SELECT doc_id, b, text,
        |          unnest(range(0, CAST(length(text) - 31 AS BIGINT), 16)) AS gs
        |        FROM split)),
        |tr AS (SELECT DISTINCT g FROM grams WHERE b < 80),
        |te AS (SELECT DISTINCT doc_id, g FROM grams WHERE b >= 90)
        |SELECT te.doc_id, count(*) AS n_grams,
        |       count(tr.g) AS n_shared,
        |       count(tr.g) * 10000 // count(*) AS contam_bp
        |FROM te LEFT JOIN tr ON te.g = tr.g
        |GROUP BY te.doc_id ORDER BY te.doc_id""".stripMargin) { (s, d) =>
      val b = mdBucket(col("doc_id"), 100)
      val grams = Tables.documents(s, d)
        .filter(length(col("text")) >= 32)
        .select(col("doc_id"), b.as("b"), col("text"),
          explode(sequence(lit(0), length(col("text")) - 32, lit(16))).as("gs"))
        .select(col("doc_id"), col("b"),
          col("text").substr(col("gs") + 1, lit(32)).as("g"))
      val train = grams.filter(col("b") < 80).select("g").distinct()
        .withColumn("hit", lit(1))
      val test  = grams.filter(col("b") >= 90).select("doc_id", "g").distinct()
      test.join(train, Seq("g"), "left_outer")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"), count(col("hit")).as("n_shared"))
        .withColumn("contam_bp",
          expr("n_shared * 10000 div n_grams"))
        .orderBy("doc_id")
    },

    // INCREMENTAL dedup — the daily-ingest path: a new DELTA batch
    // (docs in md5 bucket 7, the stand-in for today's crawl) is
    // deduped against the EXISTING corpus (the other 9 buckets)
    // without re-deduping corpus×corpus. Candidate generation is the
    // d02 LSH band join restricted to delta→corpus: the shuffle key is
    // still the short band key, but the pair space is |delta|·|bucket|
    // instead of N² — per-day cost scales with the DELTA, not the
    // corpus (the property that makes daily ingest O(day)). At true
    // scale the delta side is small enough that AQE broadcasts it;
    // the corpus side streams. Output: each new doc with every corpus
    // doc it duplicates (jacc >= 0.5) — the rows an ingest pipeline
    // uses to drop or link incoming docs.
    QueryDef(
      "d11_incremental_dedup",
      s"""WITH $sigCteSql,
        |sp AS (SELECT doc_id, s, sig,
        |         ${mdBucketSql("doc_id", 10)} AS bk
        |       FROM sig),
        |db AS (SELECT doc_id, b,
        |         CAST(sig[2*b+1] AS VARCHAR) || ':' ||
        |         CAST(sig[2*b+2] AS VARCHAR) AS key
        |       FROM sp, generate_series(0, 3) t(b) WHERE bk = 7),
        |cb AS (SELECT doc_id, b,
        |         CAST(sig[2*b+1] AS VARCHAR) || ':' ||
        |         CAST(sig[2*b+2] AS VARCHAR) AS key
        |       FROM sp, generate_series(0, 3) t(b) WHERE bk <> 7),
        |cand AS (SELECT DISTINCT d.doc_id AS new_doc, c.doc_id AS dup_of
        |         FROM db d JOIN cb c ON d.b = c.b AND d.key = c.key),
        |conf AS (SELECT new_doc, dup_of,
        |           len(list_intersect(x.s, y.s))::DOUBLE
        |             / len(list_distinct(list_concat(x.s, y.s))) AS jacc
        |         FROM cand JOIN sig x ON x.doc_id = cand.new_doc
        |                   JOIN sig y ON y.doc_id = cand.dup_of)
        |SELECT new_doc, dup_of, jacc FROM conf
        |WHERE jacc >= 0.5 ORDER BY new_doc, dup_of""".stripMargin) { (s, d) =>
      val sig = graft.PersistRegistry.cached(graft.functions.TextKernels
        .minhashSignatures(s, Tables.documents(s, d), 8))
      val sp = sig.withColumn("bk", mdBucket(col("doc_id"), 10))
      def bandsOf(df: DataFrame): DataFrame = df
        .select(col("doc_id"), explode(sequence(lit(0), lit(3))).as("b"),
          col("sig"))
        .select(col("doc_id"), col("b"),
          concat(element_at(col("sig"), col("b") * 2 + 1).cast("string"),
            lit(":"),
            element_at(col("sig"), col("b") * 2 + 2).cast("string"))
            .as("key"))
      val db = bandsOf(sp.filter(col("bk") === 7))
        .withColumnRenamed("doc_id", "new_doc")
      val cb = bandsOf(sp.filter(col("bk") =!= 7))
        .withColumnRenamed("doc_id", "dup_of")
        .withColumnRenamed("b", "cb_b").withColumnRenamed("key", "cb_key")
      val cand = db.join(cb,
          col("b") === col("cb_b") && col("key") === col("cb_key"))
        .select("new_doc", "dup_of").distinct()
      cand
        .join(sig.select(col("doc_id").as("new_doc"), col("s").as("sa")),
          "new_doc")
        .join(sig.select(col("doc_id").as("dup_of"), col("s").as("sb")),
          "dup_of")
        .select(col("new_doc"), col("dup_of"),
          jaccard(col("sa"), col("sb")).as("jacc"))
        .filter(col("jacc") >= 0.5)
        .select("new_doc", "dup_of", "jacc")
        .orderBy("new_doc", "dup_of")
    },

    // Boilerplate strip — the CCNet-style SUB-document dedup every
    // web-scale pipeline runs besides whole-doc dedup: text repeated
    // ACROSS documents (headers, footers, templates) is removed from
    // every document while the unique content stays. Declared
    // segmentation: aligned 8-token windows (this corpus has no
    // newline paragraph boundaries; the planted duplicate groups share
    // exactly such aligned prefixes); a segment is boilerplate when it
    // appears in >= 2 distinct documents; clean_text = the surviving
    // segments in original order (the sub-segment remainder tokens are
    // out of scope by declaration). Shape: one map-only segment
    // fan-out, one DF count shuffled on the segment key (map-side
    // combined — the same inverted-index economics as d04), one
    // equi-join back, one per-doc ordered reassembly. Linear in corpus
    // size; the pair space never exists at all.
    QueryDef(
      "d12_boilerplate_strip",
      """WITH t AS (SELECT doc_id,
        |             string_split_regex(trim(text), '\s+') AS w
        |           FROM documents),
        |s AS (SELECT doc_id, CAST(i AS INT) AS idx,
        |        array_to_string(w[(8*i+1):(8*i+8)], ' ') AS seg
        |      FROM (SELECT doc_id, w, unnest(range(0, len(w)//8)) AS i
        |            FROM t WHERE len(w) >= 8)),
        |df AS (SELECT seg, count(DISTINCT doc_id) AS df
        |       FROM s GROUP BY seg),
        |keep AS (SELECT s.doc_id, s.idx, s.seg
        |         FROM s JOIN df USING (seg) WHERE df.df < 2),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |          string_agg(seg, ' ' ORDER BY idx) AS clean_text
        |        FROM keep GROUP BY doc_id),
        |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segments
        |        FROM s GROUP BY doc_id)
        |SELECT t.doc_id, t.n_segments,
        |       coalesce(a.n_kept, 0) AS n_kept,
        |       t.n_segments - coalesce(a.n_kept, 0) AS n_dropped,
        |       coalesce(a.clean_text, '') AS clean_text
        |FROM tot t LEFT JOIN agg a USING (doc_id)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val t = Tables.documents(s, d)
        .select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
        .filter(size(col("w")) >= 8)
      val segs = graft.PersistRegistry.cached(t
        .select(col("doc_id"),
          explode(sequence(lit(0), (size(col("w")) / 8).cast("int") - 1))
            .as("idx"),
          col("w"))
        .select(col("doc_id"), col("idx"),
          array_join(slice(col("w"), col("idx") * 8 + 1, lit(8)), " ")
            .as("seg")))
      val dfreq = segs.groupBy("seg")
        .agg(countDistinct("doc_id").as("df"))
      val keep = segs.join(dfreq.filter(col("df") < 2).select("seg"), "seg")
      val agg = keep.groupBy("doc_id")
        .agg(count(lit(1)).as("n_kept"),
          // order-preserving reassembly: sort the (idx, seg) structs
          // (idx unique per doc ⇒ deterministic), then join
          array_join(
            transform(array_sort(collect_list(struct(col("idx"), col("seg")))),
              x => x.getField("seg")), " ").as("clean_text"))
      val tot = segs.groupBy("doc_id").agg(count(lit(1)).as("n_segments"))
      tot.join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_segments"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          (col("n_segments") - coalesce(col("n_kept"), lit(0L)))
            .as("n_dropped"),
          coalesce(col("clean_text"), lit("")).as("clean_text"))
        .orderBy("doc_id")
    },

    // Dedup-method AGREEMENT audit — the governance report a pipeline
    // publishes when it runs several near-dup detectors: for every
    // pair flagged by at least one method, which of MinHash+LSH (d02),
    // rare-shingle n-gram Jaccard (d04) and SimHash banding (d07)
    // found it, aggregated to one row per method combination. Pairs
    // only one method finds are exactly where the detectors' blind
    // spots differ — the number a data curator watches before trusting
    // a single cheap method at 100 TB. Shape: each pair set comes from
    // its own linear-blocking generator (never the N² space); the
    // audit itself is two full-outer equi-joins on the pair key plus a
    // tiny 8-group aggregate — O(flagged pairs), negligible next to
    // the detectors. d02's pairs come from the shared stage snapshot
    // (StageSnapshots), so a session that already ran d02 pays zero to
    // re-audit it.
    QueryDef(
      "d13_dedup_audit",
      s"""WITH $pairsCteSql,
        |m2 AS (SELECT doc_a, doc_b FROM pairs WHERE jacc >= 0.5),
        |inv4 AS (SELECT doc_id, unnest(s) AS sg FROM sh),
        |rare4 AS (SELECT sg FROM inv4 GROUP BY sg HAVING count(*) <= 5),
        |cand4 AS (SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
        |          FROM inv4 a JOIN inv4 c ON a.sg = c.sg AND a.doc_id < c.doc_id
        |          WHERE a.sg IN (SELECT sg FROM rare4)),
        |m4 AS (SELECT doc_a, doc_b FROM (
        |         SELECT doc_a, doc_b,
        |                len(list_intersect(x.s, y.s))::DOUBLE
        |                  / len(list_distinct(list_concat(x.s, y.s))) AS jacc
        |         FROM cand4 JOIN sh x ON x.doc_id = cand4.doc_a
        |                   JOIN sh y ON y.doc_id = cand4.doc_b) j
        |       WHERE jacc >= 0.5),
        |$simhashCteSql,
        |bands7 AS (SELECT doc_id, simhash, b, (simhash >> (b*8)) & 255 AS bv
        |           FROM sim, generate_series(0, 3) t(b)),
        |cand7 AS (SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b,
        |                 a.simhash AS ha, c.simhash AS hb
        |          FROM bands7 a JOIN bands7 c
        |            ON a.b = c.b AND a.bv = c.bv AND a.doc_id < c.doc_id),
        |m7 AS (SELECT doc_a, doc_b FROM cand7
        |       WHERE bit_count(xor(ha, hb)) <= 3),
        |u AS (SELECT doc_a, doc_b FROM m2
        |      UNION SELECT doc_a, doc_b FROM m4
        |      UNION SELECT doc_a, doc_b FROM m7),
        |f AS (SELECT
        |        EXISTS(SELECT 1 FROM m2
        |               WHERE m2.doc_a = u.doc_a AND m2.doc_b = u.doc_b)
        |          AS in_minhash,
        |        EXISTS(SELECT 1 FROM m4
        |               WHERE m4.doc_a = u.doc_a AND m4.doc_b = u.doc_b)
        |          AS in_ngram,
        |        EXISTS(SELECT 1 FROM m7
        |               WHERE m7.doc_a = u.doc_a AND m7.doc_b = u.doc_b)
        |          AS in_simhash
        |      FROM u)
        |SELECT in_minhash, in_ngram, in_simhash, count(*) AS n_pairs
        |FROM f GROUP BY in_minhash, in_ngram, in_simhash
        |ORDER BY in_minhash, in_ngram, in_simhash""".stripMargin) { (s, d) =>
      // all three pair sets come from the shared stage snapshots
      // (round 20 — previously only d02's did): a session that already
      // ran d02/d04/d07 pays only the two audit joins here; a session
      // that did not computes each set once (compute-if-absent).
      val m2 = snapshot(s, d, "dup-pairs")(confirmedMinhashPairs(s, d))
        .select(col("doc_a"), col("doc_b"), lit(true).as("in_minhash"))
      val m4 = snapshot(s, d, "ngram-pairs")(ngramJaccardPairs(s, d))
        .select(col("doc_a"), col("doc_b"), lit(true).as("in_ngram"))
      val m7 = snapshot(s, d, "simhash-pairs")(simhashNeardupPairs(s, d))
        .select(col("doc_a"), col("doc_b"), lit(true).as("in_simhash"))
      m2.join(m4, Seq("doc_a", "doc_b"), "full_outer")
        .join(m7, Seq("doc_a", "doc_b"), "full_outer")
        .select(
          coalesce(col("in_minhash"), lit(false)).as("in_minhash"),
          coalesce(col("in_ngram"), lit(false)).as("in_ngram"),
          coalesce(col("in_simhash"), lit(false)).as("in_simhash"))
        .groupBy("in_minhash", "in_ngram", "in_simhash")
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("in_minhash", "in_ngram", "in_simhash")
    },

    // SimHash near-dup at CORPUS scale — d07's band-keyspace fix.
    // Same-band-value candidate sets grow as N²/keyspace per band, so
    // d07's 8-bit bands (256 values) go quadratic almost immediately:
    // ScaleCheck measured the d13 audit (which embeds d07) at 98.5×
    // shuffle under 25× data. The deployment rule is the same one the
    // IVF ops state for nlist: the band keyspace must grow with N
    // (bits_per_band ≈ log2 N keeps per-value sets O(1); bands =
    // hamming_threshold + 1 preserves pigeonhole recall; fingerprint
    // = bands · bits — at 1B docs that is 4×30-bit bands over a
    // 120-bit fingerprint stored as two BIGINTs). This op instantiates
    // the rule at the next size up: 60-bit TF-weighted SimHash
    // (15 md5 hex chars — non-negative BIGINT on both engines),
    // 4 bands × 15 bits = 32768-way keyspace (128× d07's), identical
    // Hamming<=3 pigeonhole guarantee. Measured at 25×: 58.9× shuffle
    // where d07's shape gave 98.5× — the keyspace factor at work (the
    // residual over 25× is the N²/32768 term that the NEXT widening
    // step removes). Precision also jumps: random pairs concentrate
    // at E[hamming]≈30 of 60 bits, so <=3 returns near-verbatim
    // duplicates only — 13 rows at sf0.01 vs d07's 725, which carry
    // 8-bit collision noise.
    QueryDef(
      "d14_simhash_scale",
      raw"""WITH tok AS (SELECT doc_id, w, count(*)::BIGINT AS cnt FROM
        |    (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w
        |     FROM documents) t GROUP BY doc_id, w),
        |h AS (SELECT doc_id, ${mdHash60Sql("w")} AS hv, cnt
        |      FROM tok),
        |bits AS (SELECT doc_id, b,
        |           sum(CASE WHEN (hv >> b) & 1 = 1 THEN cnt ELSE -cnt END)
        |             AS contrib
        |         FROM h, generate_series(0, 59) t(b) GROUP BY doc_id, b),
        |sim AS (SELECT doc_id,
        |          CAST(sum(CASE WHEN contrib > 0 THEN (1::BIGINT << b)
        |                        ELSE 0 END) AS BIGINT) AS simhash
        |        FROM bits GROUP BY doc_id),
        |bands AS (SELECT doc_id, simhash, b, (simhash >> (b*15)) & 32767 AS bv
        |          FROM sim, generate_series(0, 3) t(b)),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b,
        |                a.simhash AS ha, c.simhash AS hb
        |         FROM bands a JOIN bands c
        |           ON a.b = c.b AND a.bv = c.bv AND a.doc_id < c.doc_id)
        |SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
        |FROM cand WHERE bit_count(xor(ha, hb)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      val sim = graft.PersistRegistry.cached(graft.functions.TextKernels
        .simhash60(s, Tables.documents(s, d)))
      val bands = sim.select(col("doc_id"), col("simhash"),
          explode(sequence(lit(0), lit(3))).as("b"))
        .select(col("doc_id"), col("simhash"), col("b"),
          expr("shiftright(simhash, b * 15) & CAST(32767 AS BIGINT)").as("bv"))
      val a = bands.select(col("b").as("ab"), col("bv").as("abv"),
        col("doc_id").as("doc_a"), col("simhash").as("ha"))
      val c = bands.select(col("b").as("cb"), col("bv").as("cbv"),
        col("doc_id").as("doc_b"), col("simhash").as("hb"))
      a.join(c, col("ab") === col("cb") && col("abv") === col("cbv")
          && col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b", "ha", "hb").distinct()
        .select(col("doc_a"), col("doc_b"),
          expr("CAST(bit_count(ha ^ hb) AS INT)").as("hamming"))
        .filter(col("hamming") <= 3)
        .orderBy("doc_a", "doc_b")
    },

    // SEMANTIC DEDUP end-to-end (the SemDeDup shape): embedding
    // near-dup edges (d09's in-cell pairs ≥ 0.4, reused) → connected
    // components (the same bulk min-label machinery as d08, reused) →
    // keep ONE representative per semantic cluster — largest norm as
    // the centrality proxy, vec_id tiebreak — with the retention
    // manifest (members / dropped) a trainer audits. This is the
    // composed pipeline, not a new primitive: each stage is an
    // already-verified op with its own stated 100 TB shape (Σcell²
    // candidate join, O(diameter) label rounds, one mergeable argmax
    // agg), so the composition adds no new scale risk.
    QueryDef(
      "d15_semantic_dedup",
      s"""WITH RECURSIVE n AS ($quantizedSql),
        |pairs AS (SELECT id_a, id_b FROM (
        |  SELECT a.vec_id AS id_a, c.vec_id AS id_b,
        |         CAST(list_sum(list_transform(generate_series(1, len(a.r)),
        |                i -> a.r[i] * c.r[i])) AS DOUBLE)
        |           / sqrt(CAST(a.nn AS DOUBLE) * CAST(c.nn AS DOUBLE))
        |           AS cos_sim
        |  FROM n a JOIN n c ON a.label = c.label AND a.vec_id < c.vec_id) t
        | WHERE cos_sim >= 0.4),
        |e AS (SELECT id_a AS a, id_b AS b FROM pairs
        |      UNION SELECT id_b, id_a FROM pairs),
        |reach(a, b) AS (
        |  SELECT a, b FROM e
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
        |cl AS (SELECT a AS vec_id, least(a, min(b)) AS cluster_id
        |       FROM reach GROUP BY a),
        |j AS (SELECT cl.cluster_id, cl.vec_id, n.nn
        |      FROM cl JOIN n USING (vec_id))
        |SELECT cluster_id, vec_id AS kept_vec, n_members,
        |       CAST(n_members - 1 AS BIGINT) AS n_dropped
        |FROM (SELECT cluster_id, vec_id,
        |        count(*) OVER (PARTITION BY cluster_id) AS n_members,
        |        row_number() OVER (PARTITION BY cluster_id
        |            ORDER BY nn DESC, vec_id ASC) AS rn
        |      FROM j) t
        |WHERE rn = 1 ORDER BY cluster_id""".stripMargin) { (s, d) =>
      val cl = componentsOf(s,
        snapshot(s, d, "ivf-pairs")(ivfNearDupPairs(s, d))
          .select("id_a", "id_b"))
        .select(col("doc_id").as("vec_id"), col("cluster_id"))
      val nn = quantized(s, d).select("vec_id", "nn")
      cl.join(nn, "vec_id")
        .groupBy("cluster_id")
        .agg(count(lit(1)).as("n_members"),
          max(struct(col("nn"), (-col("vec_id")).as("neg"))).as("best"))
        .select(col("cluster_id"), (-col("best.neg")).as("kept_vec"),
          col("n_members"), (col("n_members") - 1).cast("long").as("n_dropped"))
        .orderBy("cluster_id")
    },

    // Exact substring dedup (the "Deduplicating Training Data Makes
    // Language Models Better" per-doc signal): slide an 8-token
    // window at stride 1 over every doc, mark a window DUPLICATED if
    // the identical token span occurs in >= 2 distinct docs, and
    // report each doc's duplicated-window fraction — the number the
    // pipeline thresholds to drop or trim boilerplate-heavy docs.
    // Complements d04 (pairwise Jaccard) and d06 (cross-corpus
    // contamination): this is a per-doc corpus-wide signal with no
    // pair space at all. Scale shape (round 12 — the round-11 form
    // persisted the fully-exploded gram table to feed a distinct-
    // count AND a semi-join back over it, and the eager cache
    // materialization pass doubled the op's wall cost): the corpus
    // is exploded ONCE into a (gram, doc_id) pre-aggregation with
    // map-side combine, the distinct-doc count per gram is a window
    // over that already-collapsed table (one exchange on gram), and
    // the per-doc totals are computed map-only (size(w)-7) — no
    // persist, no self-join, single lineage, linear in corpus
    // tokens. At 100 TB the gram key would be a 64-bit fingerprint
    // (xxhash64) to cut shuffle width ~5×; the string key here
    // keeps the oracle bit-exact.
    // EDIT-DISTANCE NEAR-DUP (round 13; EXACT per PassJoin since
    // round 15) — the fuzzy-string matcher a catalog/title dedup
    // runs, complementing the set-based detectors (d02 token sets,
    // d03/d07 hashed profiles, d04 shingles): a one-character typo
    // defeats exact and shingle equality but is edit distance 1.
    // Keys are short derived titles (first 4 tokens); candidates
    // come from PassJoin segment blocking, now with the full
    // position-shifted probe (round-14 verdict 3 closed the carried
    // approximation — the old 3-equal-position-segment rule was
    // exact for ≤2 substitutions but boundary-shifting INSERTIONS
    // could escape candidate generation):
    //   - SEGMENT side: every title of length m splits into τ+1 = 4
    //     balanced segments (pigeonhole: ≤3 edits touch ≤3 of them,
    //     so one survives verbatim);
    //   - PROBE side: every title of length l emits, for each
    //     possible SHORTER partner length m ∈ [l−3, l] (m ≥ 9), each
    //     segment index's substrings of the partner's segment LENGTH
    //     at start positions within ±3 of the partner's segment
    //     position (an unedited segment's occurrence shifts by at
    //     most the number of edits before it, ≤ τ = 3);
    //   - candidate iff (partner_len, seg_idx, segment) matches —
    //     guaranteed to fire for every pair at edit distance ≤ 3,
    //     spec-pinned against brute force with planted
    //     insertion/deletion/substitution typos (Round13Spec).
    // Exact Levenshtein (both engines' builtin) verifies candidates
    // at threshold 3; the oracle runs the identical rule.
    // Scale: ≤ 4 + 4·4·7 keys per doc — linear explode, constant
    // factor ~30× the old 3-key rule but still NEVER the pair space;
    // the shuffle is keyed on (partner_len, seg_idx, segment), d02's
    // band-join shape. A hot segment (shared boilerplate prefix) is
    // the skew risk; the production lever is the same salt-split d02
    // documents for band skew.
    QueryDef(
      "d18_editdistance_neardup",
      """WITH t AS (SELECT doc_id,
        |            array_to_string(list_slice(
        |              string_split_regex(trim(text), '\s+'), 1, 4), ' ')
        |              AS title
        |          FROM documents),
        |tt AS (SELECT doc_id, title, length(title) AS len FROM t
        |       WHERE length(title) >= 9),
        |seg AS (SELECT doc_id, title, len AS m, i,
        |          substr(title,
        |            (i - 1) * (len // 4)
        |              + greatest(0, (i - 1) - (4 - len % 4)) + 1,
        |            (len // 4)
        |              + (CASE WHEN i > 4 - len % 4 THEN 1 ELSE 0 END))
        |            AS seg
        |        FROM tt, generate_series(1, 4) g(i)),
        |sx AS (SELECT doc_id, title, len, len - dl AS m, i,
        |         ((len - dl) // 4)
        |           + (CASE WHEN i > 4 - (len - dl) % 4
        |              THEN 1 ELSE 0 END) AS li,
        |         (i - 1) * ((len - dl) // 4)
        |           + greatest(0, (i - 1) - (4 - (len - dl) % 4)) + 1 AS pi
        |       FROM tt, generate_series(0, 3) gd(dl),
        |            generate_series(1, 4) gi(i)
        |       WHERE len - dl >= 9),
        |sub AS (SELECT doc_id, title, m, i, substr(title, w, li) AS seg
        |        FROM (SELECT *, unnest(range(greatest(1, pi - 3),
        |                 least(len - li + 1, pi + 3) + 1)) AS w
        |              FROM sx) u),
        |cand AS (SELECT DISTINCT
        |           least(a.doc_id, b.doc_id) AS doc_a,
        |           greatest(a.doc_id, b.doc_id) AS doc_b,
        |           CASE WHEN a.doc_id < b.doc_id THEN a.title
        |                ELSE b.title END AS title_a,
        |           CASE WHEN a.doc_id < b.doc_id THEN b.title
        |                ELSE a.title END AS title_b
        |         FROM seg a JOIN sub b
        |           ON a.m = b.m AND a.i = b.i AND a.seg = b.seg
        |          AND a.doc_id <> b.doc_id)
        |SELECT doc_a, doc_b,
        |       CAST(levenshtein(title_a, title_b) AS INT) AS edit_dist
        |FROM cand WHERE levenshtein(title_a, title_b) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      val t = Tables.documents(s, d)
        .select(col("doc_id"),
          concat_ws(" ", slice(split(trim(col("text")), "\\s+"), 1, 4))
            .as("title"))
        .withColumn("len", length(col("title")))
        .filter(col("len") >= 9)
      // τ+1 = 4 balanced segments: segment i (1-based) of an
      // m-char string has length base + (i > 4 − rem ? 1 : 0) and
      // the closed-form start below (the last `rem` segments carry
      // the remainder) — the SAME arithmetic on both sides and in
      // the oracle, or the join keys silently diverge
      val segSide = t
        .withColumn("i", explode(sequence(lit(1), lit(4))))
        .select(col("doc_id").as("sdoc"), col("title").as("stitle"),
          col("len").as("m"), col("i"),
          expr("""substr(title,
                    (i - 1) * (len div 4)
                      + greatest(0, (i - 1) - (4 - len % 4)) + 1,
                    (len div 4)
                      + (case when i > 4 - len % 4 then 1 else 0 end))""")
            .as("seg"))
      val subSide = t
        .withColumn("dl", explode(sequence(lit(0), lit(3))))
        .withColumn("m", col("len") - col("dl"))
        .filter(col("m") >= 9)
        .withColumn("i", explode(sequence(lit(1), lit(4))))
        .withColumn("li",
          expr("(m div 4) + (case when i > 4 - m % 4 then 1 else 0 end)"))
        .withColumn("pi",
          expr("(i - 1) * (m div 4) + greatest(0, (i - 1) - (4 - m % 4)) + 1"))
        .withColumn("lo", expr("greatest(1, pi - 3)"))
        .withColumn("hi", expr("least(len - li + 1, pi + 3)"))
        // sequence(lo, hi) DESCENDS when lo > hi — guard, never wrap
        .filter(col("lo") <= col("hi"))
        .withColumn("w", explode(expr("sequence(lo, hi)")))
        // multi-match-aware tightening (PassJoin's substring
        // selection, output-invariant): an untouched segment's shift
        // Δ = w − pi needs ≥ |Δ| edits before it and ≥ |δ − Δ| after
        // it (the suffix length gap), so |Δ| + |δ − Δ| ≤ τ — halves
        // the probe rows vs the plain ±τ window (δ = 0 keeps 3 of 7
        // starts). The oracle keeps the loose window: candidate sets
        // differ, the verified ed ≤ 3 OUTPUT cannot
        .filter(expr("abs(w - pi) + abs(dl - (w - pi)) <= 3"))
        .select(col("doc_id").as("ldoc"), col("title").as("ltitle"),
          col("m"), col("i"), expr("substr(title, w, li)").as("seg"))
      // overlapping shift windows re-derive the same substring —
      // collapse before the join, not after the candidate blow-up
      val subDistinct = subSide.distinct()
      // the join key is INTERNAL (only verified pairs reach the
      // output), so hash (m, i, seg) to one 64-bit key — narrower
      // shuffle than the string segment, and collisions are SAFE:
      // equal keys still hash equal (no candidate lost), and a
      // spurious colliding candidate is dropped by the exact
      // Levenshtein filter, leaving the output (and the oracle
      // match) bit-identical.
      // Both sides CARRY their title so verification runs MAP-SIDE on
      // the join output, before any exchange of the candidate-pair
      // space: at 100x the candidates are ~60M rows (measured flat
      // per copy — the linearity evidence) while the verified
      // survivors are ~1e-3 of that, so the only pair-shaped exchange
      // (the distinct below) moves the survivors, not the candidates.
      // The earlier id-only-distinct + title-rejoin form exchanged
      // the full candidate table 2-3x and its per-copy shuffle
      // DOUBLED when the title dimension crossed the broadcast
      // threshold at 100x; this shape has no such regime change.
      def keyed(df: org.apache.spark.sql.DataFrame, doc: String,
          title: String) =
        df.select(col(doc), col(title),
          xxhash64(col("m"), col("i"), col("seg")).as("k"))
      val seg = keyed(segSide, "sdoc", "stitle")
      val probe = keyed(subDistinct, "ldoc", "ltitle")
      // HOT-BAND SALT SPLIT (round 16 — the skew lever the class of
      // banded joins documents, now implemented and drilled): a
      // shared boilerplate title prefix puts thousands of docs in one
      // (m, i, seg) band, and in the SMJ regime every candidate of
      // that band lands on ONE reducer whose map-side Levenshtein
      // verification is |band|² — a COMPUTE straggler that byte-based
      // AQE skew-split cannot see (the reducer's input is kilobytes;
      // the blow-up is the join's output, consumed in the same task).
      // One narrow count per side finds keys past the threshold; when
      // any exist, each hot band's segment rows salt-split into a
      // PER-KEY number of buckets by doc id (adaptive: scaled to the
      // band's own pair product, capped at the partition count —
      // round-17 verdict 3) and only the probe side's hot rows
      // replicate by the same factor, so every band's pair space
      // spreads to a bounded per-task share regardless of band size.
      // The salted join's shuffle is pinned with an EXPLICIT
      // user repartition on (k, salt): the buckets are byte-tiny, and
      // AQE's advisory-size coalescing would merge them straight back
      // onto one task (drilled: with planner-owned exchanges the
      // planted band's straggler only shrank 35 s → 21 s because
      // coalescing re-fused the buckets; with the pinned repartition
      // it drops to the per-bucket cost). Output-invariant: every
      // (seg row, probe row) pair of a key meets in exactly one
      // bucket, so candidates, verification, and the oracle match are
      // unchanged. Healthy corpora detect ZERO hot keys and take the
      // unsalted join (still pinned on k in the shuffled regime — see
      // below).
      //
      // REGIME GUARD (review round 2 — executed-plan evidence): the
      // reducer-skew straggler only EXISTS in the shuffled-join
      // regime; a broadcast hash join has no reducers — a hot band's
      // verification distributes across whatever partitions hold its
      // probe rows. So when either side's optimizer estimate fits
      // under autoBroadcastJoinThreshold (the same statistic Catalyst
      // broadcasts on), the lever disengages COMPLETELY: no forced
      // repartition (engaging it at 25× replaced the executed
      // BroadcastHashJoin with a both-sides exchange — 209 → 464 MB
      // shuffle for zero skew benefit) and no detection jobs (query
      // construction stays lazy at bench scale). The detection's cost
      // in the shuffled regime is one extra LINEAR derivation of each
      // side into a map-side-combined count — the probe side counted
      // PRE-distinct via approx_count_distinct over doc ids
      // (review-caught twice: counting the deduped side re-runs its
      // wide distinct shuffle; counting raw ROWS over-fires on
      // window-duplicate substrings — distinct DOCS is the band size
      // that matters, and HLL error only moves the threshold a few
      // percent).
      // via the PASSED session's conf, like every other d18 knob
      // (round-17 advice: the thread-local SQLConf.get can belong to
      // a different active session when the query is constructed off
      // the caller's thread — the regime decision and the salt knobs
      // must read the same configuration)
      val bcast = s.sessionState.conf.autoBroadcastJoinThreshold
      val broadcastable = bcast > 0 &&
        Seq(seg, probe).exists(
          _.queryExecution.optimizedPlan.stats.sizeInBytes <=
            BigInt(bcast))
      // The hot criterion is the PAIR PRODUCT, not either side's
      // count (review round 3): a band's straggler cost is
      // seg_count × probe_count — an organic key with 13 segment
      // docs × 1185 probe docs is 15 k pairs (harmless) yet a
      // side-count rule salted it, replicating its probe rows 32×
      // for nothing (~20% shuffle premium across the organic 50×
      // corpus, measured). Both per-key counts come out of groupBy
      // aggregations already hash-partitioned on k, so joining them
      // adds NO exchange; the product threshold (default 10⁶ pairs ≈
      // seconds of single-task Levenshtein — the straggler floor
      // worth splitting) fires on the planted 2000² = 4 M band and on
      // nothing in the organic corpus (max product 55 k, DuckDB
      // replay).
      val pairT =
        s.conf.getOption("spark.graft.d18.saltPairThreshold")
          .map(_.toLong).getOrElse(1000000L)
      // ADAPTIVE SPLIT FACTOR (round-17 verdict 3): a fixed 32-way
      // split gives a 10⁸-pair band 32× the drilled 4M band's
      // per-task share — the straggler returns at a bigger band size.
      // Each hot band's factor scales with its own pair product so
      // the per-task share stays bounded at perTaskPairs (an eighth
      // of the straggler floor — the drilled 4M band keeps its
      // round-16 32-way split), capped at the stage's partition count
      // (splitting past the slot count buys nothing and the cap keeps
      // the probe-side replication factor deployment-sized).
      val perTaskPairs = math.max(1L, pairT / 8)
      val hotBands: Map[Long, Int] =
        if (broadcastable) Map.empty
        else {
          import s.implicits._
          // bounded driver intake: Σ nseg·nsub is corpus-linear per
          // side, so ≤ pairs/pairT keys can exceed the threshold;
          // guard anyway
          val nPart = s.conf.get("spark.sql.shuffle.partitions").toInt
          seg.groupBy("k").count().withColumnRenamed("count", "nseg")
            .join(keyed(subSide, "ldoc", "ltitle")
              .groupBy("k").agg(approx_count_distinct("ldoc").as("nsub")),
              Seq("k"))
            .filter(col("nseg") * col("nsub") > pairT)
            .select(col("k"), (col("nseg") * col("nsub")).as("pairs"))
            .limit(100001).as[(Long, Long)].collect()
            .map { case (k, pairs) =>
              k -> math.min(nPart.toLong,
                (pairs + perTaskPairs - 1) / perTaskPairs).toInt
            }.toMap
        }
      require(hotBands.size <= 100000,
        "hot-band set exceeds the coordinator bound — raise the " +
        "threshold or pre-split the corpus")
      // In the shuffled regime the join's partition count is ALWAYS
      // pinned with an explicit user repartition on the join key
      // (plus the salt when hot bands exist): the verification join
      // is Levenshtein-DENSE and byte-LIGHT — measured at 50×, a
      // 15 MB shuffle partition carries ~12 s of edit-distance
      // compute — so AQE's advisory-size coalescing (a 64 MB byte
      // target) under-partitions it: probed with the drill's
      // partition knob, max task 12.9 s under planner-owned
      // exchanges vs 4.4 s with the pin at 128 partitions, identical
      // output. Pinning costs nothing (the join shuffles on k either
      // way; the pin only forbids re-fusing) and makes
      // spark.sql.shuffle.partitions the genuine parallelism knob a
      // deployment sizes to its cluster. Broadcastable corpora never
      // reach this branch.
      val nPartPin =
        s.conf.get("spark.sql.shuffle.partitions").toInt
      // Trade-off noted with the pin (round-17 advice): an explicit
      // repartition also FORECLOSES AQE's runtime SMJ→broadcast
      // conversion when actual sizes come in under the static
      // estimate — accepted, because the guard above already took the
      // broadcast branch on the same statistic Catalyst plans with,
      // and the pinned regime's failure mode (AQE coalescing
      // re-fusing Levenshtein-dense byte-light partitions) costs more
      // than a missed late broadcast (measured: max task 12.9 s
      // planner-owned vs 4.4 s pinned at 50×).
      val joined = if (broadcastable) {
        seg.join(probe, Seq("k"))
      } else if (hotBands.isEmpty) {
        seg.repartition(nPartPin, col("k"))
          .join(probe.repartition(nPartPin, col("k")), Seq("k"))
      } else {
        import s.implicits._
        // per-key split factor via a BROADCAST left join of the tiny
        // (k, factor) table (round-17 review: element_at on a map
        // LITERAL is a per-row linear scan over the entries — at the
        // 100k-key guard bound that is an O(rows x bands) compute tax
        // on both join inputs; the broadcast hash lookup is O(1));
        // non-hot keys resolve to 1 (single bucket, salt 0 on both
        // sides — no replication)
        val hotDf = broadcast(hotBands.toSeq.toDF("k", "__nsalt"))
        def withSaltFactor(df: org.apache.spark.sql.DataFrame) =
          df.join(hotDf, Seq("k"), "left")
            .withColumn("__nsalt", coalesce(col("__nsalt"), lit(1)))
        val nOf = col("__nsalt")
        // a (k, salt) BUCKET is the quantum of balance (one bucket =
        // one perTaskPairs-sized slab of one band's Levenshtein), so
        // the pinned partition count must give each bucket its own
        // task w.h.p. — hashing ~5·nPart buckets into nPart
        // partitions re-fuses ~5 slabs onto one task and the
        // straggler partially returns (drilled: a 10⁸-pair band's
        // max task was 40 s co-hashed at nPart=128 vs ~5 s per slab).
        // 3× the bucket count keeps the max load at 1-2 buckets;
        // the 32·nPart ceiling bounds task-scheduling overhead when
        // thousands of bands are hot at once.
        val totalBuckets = hotBands.valuesIterator.map(_.toLong).sum
        val nJoin = math.min(32L * nPartPin,
          math.max(nPartPin.toLong, 3L * totalBuckets)).toInt
        val segS = withSaltFactor(seg).withColumn("__salt",
            when(nOf > 1, pmod(xxhash64(col("sdoc")), nOf))
              .otherwise(lit(0)).cast("int"))
          .drop("__nsalt")
          .repartition(nJoin, col("k"), col("__salt"))
        val probeS = withSaltFactor(probe).withColumn("__salt",
            explode(sequence(lit(0), nOf.cast("int") - 1)))
          .drop("__nsalt")
          .repartition(nJoin, col("k"), col("__salt"))
        segS.join(probeS, Seq("k", "__salt"))
      }
      joined
        .filter(col("sdoc") =!= col("ldoc"))
        .withColumn("edit_dist",
          levenshtein(col("stitle"), col("ltitle")))
        .filter(col("edit_dist") <= 3) // map-side, pre-exchange
        .select(least(col("sdoc"), col("ldoc")).as("doc_a"),
          greatest(col("sdoc"), col("ldoc")).as("doc_b"),
          col("edit_dist").cast("int").as("edit_dist"))
        .distinct() // edit distance is symmetric, so the triple dedupes
        .orderBy("doc_a", "doc_b")
    },

    QueryDef(
      "d16_substring_dedup",
      """WITH t8 AS (SELECT doc_id, w FROM
        |        (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        |         FROM documents) t WHERE len(w) >= 8),
        |g AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(w)-7),
        |          i -> array_to_string(w[i:i+7], ' '))) AS gram FROM t8),
        |dup AS (SELECT gram FROM g GROUP BY gram
        |        HAVING count(DISTINCT doc_id) >= 2),
        |dpd AS (SELECT doc_id, count(*) AS n_dup
        |        FROM g JOIN dup USING (gram) GROUP BY doc_id),
        |tot AS (SELECT doc_id, CAST(len(w) - 7 AS BIGINT) AS n_grams FROM t8)
        |SELECT tot.doc_id AS doc_id, n_grams,
        |       CAST(coalesce(n_dup, 0) AS BIGINT) AS n_dup,
        |       round(CAST(coalesce(n_dup, 0) AS DOUBLE) / n_grams, 4)
        |         AS dup_ratio
        |FROM tot LEFT JOIN dpd ON tot.doc_id = dpd.doc_id
        |ORDER BY tot.doc_id""".stripMargin) { (s, d) =>
      val t8 = Tables.documents(s, d)
        .select(col("doc_id"), words(col("text")).as("w"))
        .filter(size(col("w")) >= 8)
      // explode ONCE, collapse immediately to (gram, doc_id, c) with
      // map-side combine — the widest data exists only inside this
      // single exchange. A window over gram then yields the
      // distinct-doc count (each (gram, doc_id) row is unique, so
      // count(*) over the gram partition IS countDistinct(doc_id)),
      // and the duplicated-gram occurrences per doc are a filter +
      // sum on the same rows: no persist, no semi-join back over the
      // exploded corpus.
      // the gram key is INTERNAL (only per-doc counts reach the
      // output), so group on a 128-bit fingerprint of the token
      // slice instead of the joined string — any deterministic
      // injective-on-data hash preserves the result (collision odds
      // ≈ n²/2^129 ≈ 1e-13 at the 1e13 grams of a 100 TB corpus).
      // Round 21 (guide §1.2/§2.3, the round-20 verdict's dangling
      // end): the explode(transform(sequence, slice → hash struct))
      // chain was CodegenFallback — interpreted per WINDOW — and its
      // groupBy(gram, doc_id) exchange carried one partial-agg row
      // per window. A doc's windows all live in its single input
      // row, so TextKernels.gram8Counts collapses them completely
      // inside the scan (md5-128 fingerprint, same collision budget
      // as the previous dual-seed xxhash64 pair): the query's widest
      // exchange now carries one (gram, doc, c) row per DISTINCT
      // gram per doc and the Generate node is gone from the plan.
      val gd = graft.functions.TextKernels
        .gram8Counts(s, Tables.documents(s, d))
      // distinct-doc count per gram as a window over the collapsed
      // table: each (gram, doc_id) row is unique, so count(*) over
      // the gram partition IS countDistinct(doc_id). (A hash-agg
      // collect_list variant measured 30% slower here — the gram
      // partitions are tiny, so the window's sort is cheap and the
      // list allocation isn't.)
      val wg = Window.partitionBy("gram")
      val dpd = gd.withColumn("nd", count(lit(1)).over(wg))
        .filter(col("nd") >= 2)
        .groupBy("doc_id").agg(sum("c").as("n_dup"))
      val tot = t8.select(col("doc_id"),
        (size(col("w")) - 7).cast("long").as("n_grams"))
      tot.join(dpd, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"),
          coalesce(col("n_dup"), lit(0L)).cast("long").as("n_dup"),
          round(coalesce(col("n_dup"), lit(0L)).cast("double") /
            col("n_grams"), 4).as("dup_ratio"))
        .orderBy("doc_id")
    },
  )
}
