package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{QueryDef, Tables}

/** Deduplication tier for large-scale training-data pipelines: exact
  * (hash-groupBy), MinHash+LSH near-dup (shingle → signature → band →
  * bucket-join → exact verify), SimHash, and n-gram Jaccard scoring.
  *
  * 100 TB design notes:
  *  - exact dedup shuffles once on the text (or its hash) — the canonical
  *    map-side-combinable groupBy;
  *  - near-dup candidate generation is an EQUI-join on (band, bandHash)
  *    buckets — never an all-pairs crossJoin; all-pairs exact Jaccard
  *    appears only in the DuckDB oracle (feasible at sf0.01) and in the
  *    sf0.001 recall spec. Candidate count scales with true-dup density,
  *    not n², which is the published MinHash-LSH bound (PAPERS.md
  *    set-similarity-join literature);
  *  - every scalar here is a built-in codegen'd expression (xxhash64, md5,
  *    higher-order array fns) — no UDFs, no collect.
  */
object Dedup {

  /** Distinct word n-gram shingles of a text column (native single-pass
    * expression; feeds every near-dup/fingerprint operator). */
  def wordShingles(text: Column, n: Int): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.functions.WordShingles(org.apache.spark.sql.GraftBridge.expression(text), n))

  /** Exact Jaccard between two shingle-set columns (native single-pass
    * expression — the LSH verify-stage hot path). */
  def jaccard(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.functions.ArrayJaccard(
        org.apache.spark.sql.GraftBridge.expression(a),
        org.apache.spark.sql.GraftBridge.expression(b)))

  private val Prime = 2147483647L // 2^31 - 1; keeps a*h+b < 2^62 (no ANSI overflow)

  /** MinHash signature: k independent (a*h+b) mod p permutation mins over
    * the shingle set. The shingle→long hashing stays in built-in codegen'd
    * expressions; the k-wide min-fold is the native MinHashSig Catalyst
    * expression (tight primitive loops — the HOF phrasing was measured
    * ~1000× slower interpreted; see MinHashSig scaladoc). */
  def minHashSignature(shingles: Column, k: Int, seed: Long): Column = {
    val hashed = transform(shingles, x => pmod(xxhash64(x), lit(Prime)))
    org.apache.spark.sql.GraftBridge.column(
      graft.functions.MinHashSig(
        org.apache.spark.sql.GraftBridge.expression(hashed), k, seed))
  }

  /** Fused MinHash+LSH band hashes (see MinHashBands scaladoc for why the
    * signature is never materialized as its own column). */
  def minHashBandHashes(shingles: Column, k: Int, bands: Int, seed: Long): Column = {
    val hashed = transform(shingles, x => pmod(xxhash64(x), lit(Prime)))
    org.apache.spark.sql.GraftBridge.column(
      graft.functions.MinHashBands(
        org.apache.spark.sql.GraftBridge.expression(hashed), k, bands, seed))
  }

  /** Second independent 8-byte digest for the collision fail-stop guards
    * (q40/q116/q121/q148/q150/q167 family). Prefixing a salt makes this
    * hash independent of the xxhash64(value) group key, so a key collision
    * that merges two distinct values goes undetected only when BOTH 64-bit
    * hashes collide simultaneously (~2⁻¹²⁸ per pair) — the same fail-stop
    * semantics as buffering min/max of the raw value, but with fixed
    * 8-byte partial-aggregation buffers: the guard no longer serializes
    * one full text per (group × map task) into the shuffle. */
  def guardHash(c: Column): Column = xxhash64(lit("graft:guard"), c)

  /** doc_id + distinct trigram shingles for documents with >= 3 words. */
  private def shingled(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"), wordShingles(col("text"), 3).as("sh"))

  /** Shared DuckDB CTE computing the same shingle sets. */
  private val OracleShingles =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') words FROM documents),
      |s AS (SELECT doc_id,
      |        list_distinct([array_to_string(words[i:i+2], ' ') for i in range(1, len(words)-1)]) sh
      |      FROM w WHERE len(words) >= 3)""".stripMargin

  // ---------------------------------------------------------------- q40
  /** Exact dedup: hash-groupBy on content, keep first id + multiplicity.
    * The input is the corpus unioned with itself so the operator provably
    * collapses real duplicates (the raw corpus has none).
    *
    * Scale layout: the group key is xxhash64(text), so the Exchange
    * partitions on an 8-byte key instead of shuffling full document text
    * per row (DedupSpec pins the partitioning expression). The collision
    * guard buffers min/max of a SECOND independent digest (guardHash) —
    * fixed 8-byte agg buffers, no text bytes in the shuffle at all: a
    * group-key collision merging distinct texts goes undetected only if
    * both 64-bit hashes collide at once (~2⁻¹²⁸), so the query still
    * fail-stops via raise_error rather than silently miscounting. */
  val q40 = QueryDef(
    "q40_exact_dedup",
    (s, d) => {
      val docs = Tables.documents(s, d)
      docs.unionByName(docs)
        .select(col("doc_id"), col("text"), xxhash64(col("text")).as("th"))
        .groupBy(col("th"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"),
          min(guardHash(col("text"))).as("t_min"),
          max(guardHash(col("text"))).as("t_max"))
        .select(col("doc_id"),
          when(col("t_min") =!= col("t_max"),
            raise_error(lit("q40: xxhash64 collision — distinct texts in one dedup group"))
              .cast("long"))
            .otherwise(col("n_copies")).as("n_copies"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT min(doc_id) AS doc_id, count(*) AS n_copies
      FROM (SELECT * FROM documents UNION ALL SELECT * FROM documents)
      GROUP BY text ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q41
  /** MinHash+LSH near-dup detection, exact-verified. 64 hashes, 16 bands ×
    * 4 rows — the S-curve knee sits near J≈0.5: P(miss | J=0.9) =
    * (1-0.9⁴)^16 ≈ 4e-8 (recall ~1 on true dups), while P(candidate |
    * J=0.25) ≈ 6%, so the candidate set stays near-linear even on this
    * low-diversity synthetic corpus (32 bands × 2 rows degenerated to
    * all-pairs here — r must exceed the background-similarity knee).
    * The exact-Jaccard verify stage makes precision 1.0, so the output is
    * deterministically the true pair set vs the all-pairs oracle.
    * Candidates come from an equi-join on (band, bandHash): no crossJoin
    * at any scale. */
  /** The LSH candidate + exact-verify pipeline shared by q41 (pair
    * report) and q100 (clustering): band equi-join candidates, exact
    * Jaccard verify at `threshold`. Returns (a_id, b_id, j). */
  /** Band-collision candidates carrying both shingle sets — the stage
    * q41/q100 (Jaccard) and q267 (containment) score differently. */
  private def lshCandidateShingles(s: SparkSession, d: String): DataFrame = {
    val docs = shingled(s, d)
    val buckets = docs
      .select(col("doc_id"), minHashBandHashes(col("sh"), 64, 16, 42L).as("bands"))
      .select(col("doc_id"), posexplode(col("bands")).as(Seq("band", "bh")))
    val cand = buckets.as("x").join(buckets.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()
    cand
      .join(docs.select(col("doc_id").as("a_id"), col("sh").as("sha")), "a_id")
      .join(docs.select(col("doc_id").as("b_id"), col("sh").as("shb")), "b_id")
  }

  private def lshVerifiedPairs(s: SparkSession, d: String,
      threshold: Double): DataFrame =
    lshCandidateShingles(s, d)
      .select(col("a_id"), col("b_id"), jaccard(col("sha"), col("shb")).as("j"))
      .filter(col("j") >= threshold)

  val q41 = QueryDef(
    "q41_minhash_lsh_neardup",
    (s, d) => lshVerifiedPairs(s, d, 0.6)
      .select(col("a_id"), col("b_id"), round(col("j"), 3).as("jaccard"))
      .orderBy(col("a_id"), col("b_id")),
    Some(OracleShingles + """
      SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        round(len(list_intersect(a.sh, b.sh))::DOUBLE
          / len(list_distinct(list_concat(a.sh, b.sh))), 3) AS jaccard
      FROM s a JOIN s b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
          / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.6
      ORDER BY a_id, b_id"""))

  // --------------------------------------------------------------- q267
  /** DIRECTIONAL containment near-dup — C(A→B) = |sh(A) ∩ sh(B)| / |sh(A)|
    * — the metric for quote/inclusion structure that symmetric Jaccard
    * under-scores: a short document fully quoted inside a long one has
    * containment 1.0 but Jaccard ≈ |A|/|B|. Emits every candidate pair
    * where EITHER direction reaches 0.8, with both containments and the
    * Jaccard for triage.
    *
    * Candidate stage: the q41 MinHash band join. Its collision rate
    * tracks JACCARD, so on a corpus with genuine short-in-long quoting
    * (high containment, low Jaccard) it under-recalls and the candidate
    * stage must become a size-partitioned index (LSH Ensemble, Zhu et
    * al., VLDB'16) — same verify stage, different bucketing. On THIS
    * corpus the concern is measured away: every containment-≥0.8 pair
    * has Jaccard ≥ 0.9 (the oracle is the exact all-pairs join, so any
    * recall miss is a red row, not a silent one). */
  val q267 = QueryDef(
    "q267_containment_neardup",
    (s, d) => {
      val inter = size(array_intersect(col("sha"), col("shb"))).cast("double")
      lshCandidateShingles(s, d)
        .select(col("a_id"), col("b_id"),
          (inter / size(col("sha"))).as("c_ab"),
          (inter / size(col("shb"))).as("c_ba"),
          jaccard(col("sha"), col("shb")).as("j"))
        .filter(greatest(col("c_ab"), col("c_ba")) >= 0.8)
        .select(col("a_id"), col("b_id"),
          round(col("c_ab"), 3).as("cont_ab"), round(col("c_ba"), 3).as("cont_ba"),
          round(col("j"), 3).as("jaccard"))
        .orderBy(col("a_id"), col("b_id"))
    },
    Some(OracleShingles + """
      SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        round(len(list_intersect(a.sh, b.sh))::DOUBLE / len(a.sh), 3) AS cont_ab,
        round(len(list_intersect(a.sh, b.sh))::DOUBLE / len(b.sh), 3) AS cont_ba,
        round(len(list_intersect(a.sh, b.sh))::DOUBLE
          / len(list_distinct(list_concat(a.sh, b.sh))), 3) AS jaccard
      FROM s a JOIN s b ON a.doc_id < b.doc_id
      WHERE greatest(len(list_intersect(a.sh, b.sh))::DOUBLE / len(a.sh),
                     len(list_intersect(a.sh, b.sh))::DOUBLE / len(b.sh)) >= 0.8
      ORDER BY a_id, b_id"""),
    doc = "directional shingle containment (quote/inclusion detection) on LSH candidates; exact all-pairs oracle pins recall")

  // --------------------------------------------------------------- q269
  /** LSH bucket-size census + candidate-blowup audit — the monitoring
    * query a dedup deployment runs BEFORE the band join: a hot bucket
    * (boilerplate text hashing thousands of docs into one (band, hash))
    * contributes m(m−1)/2 candidate pairs, so one pathological bucket
    * can turn the "sub-quadratic" stage quadratic. Per band: bucket
    * count, max bucket size, implied candidate pairs, and what a
    * cap-at-32 policy would drop (buckets, pairs) — the observability
    * that justifies (or vetoes) capping on a given corpus.
    *
    * The census is one groupBy over a (doc, band, bandHash) table and is
    * hash-family-parametric; HERE the banding is a md5-seeded MinHash
    * family DuckDB replays bit-for-bit: each shingle is digested ONCE
    * (h(g) = hex8(md5(g)) — one digest per shingle, the same cost shape
    * as production's xxhash64), then 64 linear permutations
    * (a_j·h + b_j) mod 2³¹−1 with md5-derived constant coefficients,
    * 16 bands packing 4×15-bit truncated mins. Production's xxhash64
    * banding (q41) plugs into the same census by swapping the band
    * column — collision statistics of the two families agree in
    * expectation. a_j < 2³⁰ keeps a·h + b < 2⁶² (no overflow). */
  val q269 = QueryDef(
    "q269_lsh_bucket_census",
    (s, d) => {
      def hex8(sx: String): Long = {
        val dig = java.security.MessageDigest.getInstance("MD5")
          .digest(sx.getBytes("UTF-8"))
        java.lang.Long.parseLong(dig.take(4).map(bb => f"$bb%02x").mkString, 16)
      }
      val aC = Array.tabulate(64)(j => hex8(s"a:$j") % 1073741824L + 1L)
      val bC = Array.tabulate(64)(j => hex8(s"b:$j"))
      // Shape note: the 64 per-document minima are 64 codegen'd `min`
      // AGGREGATES over the exploded (doc, shingleHash) table — NOT a
      // nested `transform(transform(...))`: higher-order functions are
      // CodegenFallback, and the interpreted 64×|shingles| lambda walk
      // measured 20 s at sf0.1 where this agg shape runs in ~1.5 s. Same
      // reason the production family uses the native MinHashSig loop.
      val ex = shingled(s, d)
        .select(col("doc_id"), explode(col("sh")).as("g"))
        .select(col("doc_id"),
          conv(substring(md5(col("g")), 1, 8), 16, 10).cast("long").as("h"))
      val minCols = (0 until 64).map(j =>
        min((lit(aC(j)) * col("h") + lit(bC(j))) % 2147483647L).as(s"m$j"))
      val mh = ex.groupBy(col("doc_id")).agg(minCols.head, minCols.tail: _*)
      val bandCols = (0 until 16).map { b =>
        (((col(s"m${4 * b}") % 32768 * 32768
          + col(s"m${4 * b + 1}") % 32768) * 32768
          + col(s"m${4 * b + 2}") % 32768) * 32768
          + col(s"m${4 * b + 3}") % 32768)
      }
      val buckets = mh
        .select(col("doc_id"), posexplode(array(bandCols: _*)).as(Seq("band", "bh")))
        .groupBy(col("band"), col("bh")).agg(count(lit(1)).as("m"))
      buckets.groupBy(col("band"))
        .agg(count(lit(1)).as("n_buckets"),
          max(col("m")).as("max_bucket"),
          sum(expr("m * (m - 1) div 2")).as("cand_pairs"),
          sum(when(col("m") > 32, 1L).otherwise(0L)).as("capped_buckets"),
          sum(when(col("m") > 32, expr("m * (m - 1) div 2")).otherwise(0L))
            .as("capped_pairs"))
        .orderBy(col("band"))
    },
    Some(OracleShingles + """,
      coef AS (SELECT j,
          CAST(('0x' || substr(md5('a:' || CAST(j AS VARCHAR)), 1, 8)) AS BIGINT) % 1073741824 + 1 AS a,
          CAST(('0x' || substr(md5('b:' || CAST(j AS VARCHAR)), 1, 8)) AS BIGINT) AS b
        FROM range(0, 64) t(j)),
      hs AS (SELECT doc_id,
          [CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) for g in sh] AS hs
        FROM s),
      mh AS (SELECT doc_id, list(mn ORDER BY j) AS mins FROM (
          SELECT hs.doc_id, c.j,
            list_min([(c.a * h + c.b) % 2147483647 for h in hs.hs]) AS mn
          FROM hs CROSS JOIN coef c) GROUP BY doc_id),
      bx AS (SELECT doc_id, t.b AS band,
          (((mins[4*t.b+1] % 32768) * 32768 + (mins[4*t.b+2] % 32768)) * 32768
            + (mins[4*t.b+3] % 32768)) * 32768 + (mins[4*t.b+4] % 32768) AS bh
        FROM mh, range(0, 16) t(b)),
      b AS (SELECT band, bh, count(*) AS m FROM bx GROUP BY band, bh)
      SELECT band, count(*) AS n_buckets,
        CAST(max(m) AS BIGINT) AS max_bucket,
        CAST(sum(m * (m - 1) // 2) AS BIGINT) AS cand_pairs,
        CAST(sum(CASE WHEN m > 32 THEN 1 ELSE 0 END) AS BIGINT) AS capped_buckets,
        CAST(sum(CASE WHEN m > 32 THEN m * (m - 1) // 2 ELSE 0 END) AS BIGINT) AS capped_pairs
      FROM b GROUP BY band ORDER BY band"""),
    doc = "per-band LSH bucket census: max size, implied candidate pairs, and the cap-at-32 drop — the pre-join blowup audit (md5 band family, oracle-replayed)")

  // ---------------------------------------------------------------- q42
  /** Exact n-gram Jaccard scoring over an equi-joined pair set (adjacent
    * ids) — the verification primitive of q41 in isolation, on a pair set
    * that stays linear in corpus size at any scale. */
  val q42 = QueryDef(
    "q42_ngram_jaccard",
    (s, d) => {
      val docs = shingled(s, d)
      docs.as("a").join(docs.as("b"), col("b.doc_id") === col("a.doc_id") + 1)
        .select(col("a.doc_id").as("a_id"),
          round(jaccard(col("a.sh"), col("b.sh")), 3).as("jaccard"))
        .orderBy(col("a_id"))
    },
    Some(OracleShingles + """
      SELECT a.doc_id AS a_id,
        round(len(list_intersect(a.sh, b.sh))::DOUBLE
          / len(list_distinct(list_concat(a.sh, b.sh))), 3) AS jaccard
      FROM s a JOIN s b ON b.doc_id = a.doc_id + 1
      ORDER BY a_id"""))

  // ---------------------------------------------------------------- q43
  /** 16-bit SimHash from md5 nibbles: bit b is set iff the majority of
    * distinct words have the high bit of hex digit b+1 of md5(word) set.
    * md5 is bit-identical across engines, so the whole sketch is
    * oracle-checkable — rare for a similarity sketch. Near-dup = small
    * Hamming distance (asserted in DedupSpec). */
  val q43 = QueryDef(
    "q43_simhash",
    (s, d) => {
      val words = array_distinct(split(col("text"), " "))
      val simhash = org.apache.spark.sql.GraftBridge.column(
        graft.functions.SimHash16(org.apache.spark.sql.GraftBridge.expression(words)))
      Tables.documents(s, d)
        .select(col("doc_id"), simhash.as("simhash"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH w AS (SELECT doc_id, list_distinct(string_split(text, ' ')) words FROM documents)
      SELECT doc_id,
        CAST(list_sum([CASE WHEN 2 * len(list_filter(words,
              x -> substr(md5(x), b + 1, 1) IN ('8','9','a','b','c','d','e','f'))) >= len(words)
            THEN 1 << b ELSE 0 END for b in range(16)]) AS BIGINT) AS simhash
      FROM w ORDER BY doc_id"""))

  /** Connected components by alternating large-star / small-star rounds
    * (the MapReduce-native CC algorithm: Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14) — O(log n) rounds on
    * ANY graph shape, vs O(diameter) for naive min-label propagation, so
    * an adversarial 100 TB chain component cannot stall the job.
    *
    * Each round is two passes of the same shape (groupBy-min + equi-join
    * back to the adjacency list):
    *  - large-star: every node's LARGER neighbors re-link to the minimum
    *    of its closed neighborhood
    *  - small-star: every node's smaller-or-equal neighbors (and itself)
    *    re-link to that minimum
    * The edge set contracts toward stars rooted at component minima;
    * convergence is detected by an order-free (count, hash-sum) signature
    * of the canonicalized edge set — one tiny aggregate per round, the
    * Pregel vote-to-halt analogue. `localCheckpoint` truncates lineage
    * every round so plans stay flat.
    *
    * `nodes` is a single-column ("node") frame, `pairs` an
    * ("a_id", "b_id") undirected pair list; returns ("node", "lbl") with
    * lbl = component minimum (isolated nodes label themselves). */
  def connectedComponents(nodes: DataFrame, pairs: DataFrame): DataFrame = {
    def canon(e: DataFrame): DataFrame = e
      .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    def signature(e: DataFrame): (Long, Long) = {
      // bit_xor is order-free and cannot overflow under ANSI (a sum of
      // 64-bit hashes can); edges are distinct so xor never self-cancels
      val r = e.agg(count(lit(1)),
        coalesce(bit_xor(xxhash64(col("u"), col("v"))), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    // closed-neighborhood minimum per node over the directed adjacency list
    def withMin(adj: DataFrame): DataFrame = adj
      .groupBy(col("u")).agg(min(col("v")).as("nmin"))
      .select(col("u"), least(col("u"), col("nmin")).as("m"))

    var edges = canon(pairs.select(col("a_id").as("u"), col("b_id").as("v")))
      .localCheckpoint(true)
    var sig = signature(edges)
    var rounds = 0
    var stable = edges.isEmpty
    while (!stable) {
      rounds += 1
      if (rounds > 60)
        throw new IllegalStateException(
          "connectedComponents: not converged in 60 rounds")
      val adj = edges.select(col("u"), col("v"))
        .unionByName(edges.select(col("v").as("u"), col("u").as("v")))
      // large-star: (v, m(u)) for every neighbor v > u
      val ls = canon(adj.join(withMin(adj), "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")))
        .localCheckpoint(true)
      val adj2 = ls.select(col("u"), col("v"))
        .unionByName(ls.select(col("v").as("u"), col("u").as("v")))
      // small-star: (v, m(u)) for every neighbor v <= u, plus (u, m(u))
      val mins2 = withMin(adj2)
      val ss = canon(
        adj2.join(mins2, "u").filter(col("v") < col("u"))
          .select(col("v").as("u"), col("m").as("v"))
          .unionByName(mins2.select(col("u"), col("m").as("v"))))
        .localCheckpoint(true)
      val newSig = signature(ss)
      stable = newSig == sig
      sig = newSig
      edges = ss
    }
    // converged edges are stars (non-root -> root); roots and isolated
    // nodes label themselves
    val lbls = edges.select(col("u"), col("v"))
      .unionByName(edges.select(col("v").as("u"), col("u").as("v")))
      .groupBy(col("u")).agg(min(col("v")).as("nmin"))
      .select(col("u").as("node"), least(col("u"), col("nmin")).as("lbl"))
    nodes.join(lbls, Seq("node"), "left")
      .select(col("node"), coalesce(col("lbl"), col("node")).as("lbl"))
  }

  // ---------------------------------------------------------------- q100
  /** Near-dup CLUSTERING: connected components over the verified LSH pair
    * graph — the step that turns "pairs of near-dups" into "groups with
    * one canonical survivor", which is what a dedup pipeline actually
    * ships. Output: every document labeled with its component's minimum
    * doc_id as `cluster_id`, plus `is_canonical` (the kept copy).
    *
    * Algorithm: [[connectedComponents]] — alternating large-star /
    * small-star rounds (O(log n) rounds on any graph shape, so an
    * adversarial chain component cannot stall a 100 TB run; see its
    * scaladoc). Per-round driver work is one scalar edge-set signature
    * (vote-to-halt), not data collection; a 60-round cap fail-stops
    * rather than ever emitting half-converged labels. DedupSpec pins the
    * labeling against an exact union-find reference on chain and seeded
    * random graphs the corpus itself cannot exercise. */
  val q100 = QueryDef(
    "q100_dedup_clusters",
    (s, d) => {
      val pairs = lshVerifiedPairs(s, d, 0.6).select(col("a_id"), col("b_id"))
      val nodes = Tables.documents(s, d).select(col("doc_id").as("node"))
      connectedComponents(nodes, pairs)
        .select(col("node").as("doc_id"), col("lbl").as("cluster_id"),
          (col("node") === col("lbl")).as("is_canonical"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH RECURSIVE w AS (SELECT doc_id, string_split(text, ' ') words FROM documents),
      s AS (SELECT doc_id,
              list_distinct([array_to_string(words[i:i+2], ' ') for i in range(1, len(words)-1)]) sh
            FROM w WHERE len(words) >= 3),
      pairs AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id
        FROM s a JOIN s b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
            / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.6),
      edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
        UNION ALL SELECT b_id, a_id FROM pairs),
      reach AS (
        SELECT doc_id AS node, doc_id AS lbl FROM documents
        UNION
        SELECT e.dst AS node, r.lbl FROM reach r JOIN edges e ON e.src = r.node)
      SELECT node AS doc_id, MIN(lbl) AS cluster_id,
        (node = MIN(lbl)) AS is_canonical
      FROM reach GROUP BY node ORDER BY doc_id"""),
    doc = "connected components over the near-dup graph; canonical = min doc_id")

  // ---------------------------------------------------------------- q101
  /** Benchmark decontamination: flag training documents sharing any
    * 5-gram with a held-out benchmark set (docs 0-9 stand in for the
    * benchmark). The join is an inverted-index equi-join on the shingle
    * string — benchmark shingles are the small side (broadcastable: a
    * benchmark suite is KBs-MBs against a 100 TB corpus), so the corpus
    * never shuffles; per-doc hit counts aggregate on doc_id. This is the
    * standard eval-leakage scrub run before every training cut. */
  val q101 = QueryDef(
    "q101_decontaminate",
    (s, d) => {
      val sh5 = Tables.documents(s, d)
        .filter(size(split(col("text"), " ")) >= 5)
        .select(col("doc_id"), wordShingles(col("text"), 5).as("sh"))
      val bench = broadcast(sh5.filter(col("doc_id") < 10)
        .select(explode(col("sh")).as("shingle")).distinct())
      val corpus = sh5.filter(col("doc_id") >= 10)
      val hits = corpus.select(col("doc_id"), explode(col("sh")).as("shingle"))
        .join(bench, "shingle")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
      corpus.select(col("doc_id"), size(col("sh")).cast("long").as("n_shingles"))
        .join(hits, "doc_id")
        .select(col("doc_id"), col("n_hits"), col("n_shingles"),
          round(col("n_hits").cast("double") / col("n_shingles"), 6).as("contamination"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') words FROM documents),
      s5 AS (SELECT doc_id,
               list_distinct([array_to_string(words[i:i+4], ' ') for i in range(1, len(words)-3)]) sh
             FROM w WHERE len(words) >= 5),
      b AS (SELECT DISTINCT unnest(sh) AS shingle FROM s5 WHERE doc_id < 10),
      c AS (SELECT doc_id, unnest(sh) AS shingle FROM s5 WHERE doc_id >= 10),
      hits AS (SELECT doc_id, COUNT(*) AS n_hits FROM c JOIN b USING (shingle) GROUP BY doc_id),
      tot AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_shingles FROM s5 WHERE doc_id >= 10)
      SELECT t.doc_id, h.n_hits, t.n_shingles,
        round(h.n_hits::DOUBLE / t.n_shingles, 6) AS contamination
      FROM tot t JOIN hits h USING (doc_id) ORDER BY doc_id"""),
    doc = "eval-leakage scrub: corpus docs sharing 5-grams with a benchmark set")

  // ---------------------------------------------------------------- q103
  /** Edit-distance verification over the candidate pair set (the q42
    * adjacent-pair shape): absolute Levenshtein distance plus a
    * length-normalized similarity. Edit distance is O(len²) per pair —
    * usable only as a VERIFY stage behind a candidate generator (LSH /
    * fingerprint buckets), never as the pairing step.
    *
    * Execution shape — the verify stage is CPU-bound, not byte-bound, so
    * its parallelism must NOT follow data size: candidate pairs are a few
    * hundred bytes each, and a byte-proportional layout (one scan split,
    * or AQE's size-based coalescing after any shuffle) serializes the
    * O(len²) kernel onto one core. The pairs are therefore spread with an
    * EXPLICIT numPartitions (`repartitionByRange(n, …)` — a user-pinned
    * count AQE won't coalesce) + `sortWithinPartitions` (= global order,
    * same as Sort's own range exchange), and the Levenshtein projection
    * sits ABOVE the sort: computed once, after the exchange, in parallel.
    * Putting it below an `orderBy` both halves parallelism and pays the
    * kernel twice (the range partitioner's boundary-sampling job executes
    * the child plan a first time). `lev` is staged as its own projection
    * level so `dist` and `sim` share one evaluation (levenshtein is not in
    * CollapseProject's cheap-to-duplicate class; physical-level
    * subexpression elimination is not guaranteed across projections).
    * Note on Spark's threshold form `levenshtein(l, r, k)` (banded
    * O(len·k) + early exit): it returns -1 past the cutoff, so it's the
    * right kernel when a downstream similarity floor exists (a near-dup
    * verify that only keeps sim ≥ τ can cap k = ⌈(1−τ)·maxlen⌉); this
    * query's contract is the exact distance for EVERY pair, where a cap
    * would change the emitted values. */
  val q103 = QueryDef(
    "q103_edit_distance",
    (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val n = s.conf.get("spark.sql.shuffle.partitions").toInt
      docs.as("a").join(docs.as("b"), col("b.doc_id") === col("a.doc_id") + 1)
        .select(col("a.doc_id").as("a_id"),
          col("a.text").as("ta"), col("b.text").as("tb"))
        .repartitionByRange(n, col("a_id"))
        .sortWithinPartitions(col("a_id"))
        .select(col("a_id"),
          levenshtein(col("ta"), col("tb")).as("lev"),
          greatest(length(col("ta")), length(col("tb"))).as("maxlen"))
        .select(col("a_id"),
          col("lev").cast("long").as("dist"),
          round(lit(1.0) - col("lev") / col("maxlen"), 6).as("sim"))
    },
    Some("""SELECT a.doc_id AS a_id,
        CAST(levenshtein(a.text, b.text) AS BIGINT) AS dist,
        round(1.0 - levenshtein(a.text, b.text)::DOUBLE
          / greatest(length(a.text), length(b.text)), 6) AS sim
      FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
      ORDER BY a_id"""),
    doc = "Levenshtein verify stage over candidate pairs; threshold-capped at scale")

  // ---------------------------------------------------------------- q105
  /** Copy-span detection: which document PAIRS share winnowed
    * fingerprints, and how much — the query that turns q104's per-doc
    * fingerprint sets into an operator. Winnowing's guarantee (any shared
    * substring of length ≥ k+w−1 = 23 chars yields a shared fingerprint,
    * SIGMOD'03 §2) makes `shared > 0` a NECESSARY condition for a copied
    * span, so this is the candidate generator for plagiarism/boilerplate
    * span detection, with q103's edit-distance as the verify stage behind
    * it.
    *
    * Scale shape — a textbook inverted-index pair join, NEVER all-pairs:
    * explode fingerprints to postings (fp, doc), self-join on fp,
    * aggregate per pair. The df cap (document frequency ≤ 50) drops
    * boilerplate fingerprints BEFORE the join: a fingerprint appearing in
    * f docs fans out to f² pairs, so one header string shared by a
    * million docs would otherwise dominate the whole shuffle (the same
    * reason dedup pipelines drop stop-shingles). Cap df, and per-bucket
    * fan-out is bounded by df², keeping the join linear-ish in corpus
    * size. Containment = shared / min(|fps_a|, |fps_b|) — the
    * directional overlap score used for containment dedup. */
  val q105 = QueryDef(
    "q105_copy_spans",
    (s, d) => {
      val posts = Tables.documents(s, d)
        .filter(length(col("text")) >= 8)
        .select(col("doc_id"),
          org.apache.spark.sql.GraftBridge.column(graft.functions.WinnowFingerprints(
            org.apache.spark.sql.GraftBridge.expression(col("text")), 8, 16)).as("fps"))
        .select(col("doc_id"), size(col("fps")).cast("long").as("n_fp"),
          explode(col("fps")).as("fp"))
      val rare = posts.groupBy(col("fp"))
        .agg(count(lit(1)).as("df")).filter(col("df") <= 50)
      val filtered = posts.join(rare.select(col("fp")), "fp")
      filtered.as("a").join(filtered.as("b"),
          col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
        .agg(count(lit(1)).as("shared"),
          max(col("a.n_fp")).as("na"), max(col("b.n_fp")).as("nb"))
        .filter(col("shared") >= 3)
        .select(col("a_id"), col("b_id"), col("shared"),
          round(col("shared") / least(col("na"), col("nb")), 6).as("containment"))
        .orderBy(col("a_id"), col("b_id"))
    },
    Some("""WITH g AS (
        SELECT doc_id, [
            list_reduce(list_prepend(0::BIGINT,
              [ord(text[i+j-1:i+j-1])::BIGINT for j in range(1, 9)]),
              (a,b) -> (a*257+b)%2147483647)
          for i in range(1, length(text)-8+2)] AS hs
        FROM documents WHERE length(text) >= 8),
      wins AS (
        SELECT doc_id, CASE WHEN len(hs) <= 16 THEN [list_min(hs)]
          ELSE [list_min(hs[i:i+15]) for i in range(1, len(hs)-16+2)] END AS sel
        FROM g),
      fp AS (SELECT doc_id, list_sort(list_distinct(sel)) AS fps FROM wins),
      e AS (SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fp, unnest(fps) AS fp FROM fp),
      rare AS (SELECT fp FROM e GROUP BY fp HAVING count(*) <= 50),
      posts AS (SELECT e.* FROM e JOIN rare USING (fp)),
      pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS shared,
          max(a.n_fp) AS na, max(b.n_fp) AS nb
        FROM posts a JOIN posts b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT a_id, b_id, shared,
        round(shared::DOUBLE / least(na, nb), 6) AS containment
      FROM pairs WHERE shared >= 3 ORDER BY a_id, b_id"""),
    doc = "inverted-index copy-span candidates over winnowed fingerprints; df-capped against boilerplate blowup")

  // --------------------------------------------------------------- q174
  /** ASYMMETRIC corpus-delta dedup — "dedup the incoming batch AGAINST
    * the existing corpus" (the incremental-ingest operator: a re-crawl
    * lands, only genuinely new documents should enter). Differs from
    * q41/q100 (symmetric all-corpus dedup) and q101 (containment-based
    * benchmark decontamination): here candidates are DIRECTIONAL —
    * incoming × existing only, never incoming × incoming (a batch may
    * legitimately carry internal dups for q40 to fold later) — and each
    * incoming doc reports its single best existing match. Fixture split:
    * even doc_ids = existing corpus, odd = incoming batch.
    *
    * Scale shape: both sides band through the same MinHash+LSH bucket
    * layout as q41, but the candidate join is incoming-buckets ⋈
    * existing-buckets (an equi-join on (band, bandHash) with the
    * direction as a build/probe split, not a filter on a bigger join);
    * exact verify + one max_by agg per incoming doc. Work scales with
    * cross-side dup density, not |batch|·|corpus|. */
  val q174 = QueryDef(
    "q174_corpus_delta_dedup",
    (s, d) => {
      val docs = shingled(s, d)
      val buckets = docs
        .select(col("doc_id"), minHashBandHashes(col("sh"), 64, 16, 42L).as("bands"))
        .select(col("doc_id"), posexplode(col("bands")).as(Seq("band", "bh")))
      val existing = buckets.filter(col("doc_id") % 2 === 0)
      val incoming = buckets.filter(col("doc_id") % 2 === 1)
      val cand = incoming.as("n").join(existing.as("o"),
          col("n.band") === col("o.band") && col("n.bh") === col("o.bh"))
        .select(col("n.doc_id").as("new_id"), col("o.doc_id").as("old_id"))
        .distinct()
      cand
        .join(docs.select(col("doc_id").as("new_id"), col("sh").as("shn")), "new_id")
        .join(docs.select(col("doc_id").as("old_id"), col("sh").as("sho")), "old_id")
        .select(col("new_id"), col("old_id"), jaccard(col("shn"), col("sho")).as("j"))
        .filter(col("j") >= 0.6)
        .groupBy(col("new_id"))
        .agg(max_by(col("old_id"), struct(col("j"), col("old_id") * -1)).as("match_id"),
          round(max(col("j")), 6).as("best_j"),
          count(lit(1)).as("n_matches"))
        .orderBy(col("new_id"))
    },
    Some(OracleShingles + """,
      pairs AS (
        SELECT n.doc_id AS new_id, o.doc_id AS old_id,
          len(list_intersect(n.sh, o.sh))::DOUBLE
            / len(list_distinct(list_concat(n.sh, o.sh))) AS j
        FROM s n JOIN s o ON n.doc_id % 2 = 1 AND o.doc_id % 2 = 0),
      hits AS (SELECT * FROM pairs WHERE j >= 0.6),
      best AS (SELECT new_id, old_id, j,
          row_number() OVER (PARTITION BY new_id ORDER BY j DESC, old_id) AS rn,
          count(*) OVER (PARTITION BY new_id) AS n_matches
        FROM hits)
      SELECT new_id, old_id AS match_id, round(j, 6) AS best_j,
        CAST(n_matches AS BIGINT) AS n_matches
      FROM best WHERE rn = 1 ORDER BY new_id"""),
    doc = "directional incoming-vs-corpus near-dup dedup; LSH band join split by side, best match per doc")

  // --------------------------------------------------------------- q175
  /** Training-pair FEATURIZATION over the LSH near-dup graph: for every
    * verified pair (J >= 0.6, the banding's high-recall region — pairs
    * below the S-curve knee would need wider banding, which is a
    * parameter change, not a shape change), emit the classifier feature
    * row a dedup-audit or cross-encoder distillation pipeline consumes:
    * exact overlap counts plus Jaccard / Dice / containment /
    * length-ratio and a same-source flag. All ratios are rationals of
    * integer counts (rounded for display) — engine-exact.
    *
    * Scale shape: q41's candidate machinery (band equi-join, never
    * all-pairs), then two id-keyed joins pull the shingle sets and doc
    * metadata back; per-pair feature math is per-row scalar work. */
  val q175 = QueryDef(
    "q175_pair_features",
    (s, d) => {
      val docs = shingled(s, d)
      val meta = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("n_chars"))
      val buckets = docs
        .select(col("doc_id"), minHashBandHashes(col("sh"), 64, 16, 42L).as("bands"))
        .select(col("doc_id"), posexplode(col("bands")).as(Seq("band", "bh")))
      val cand = buckets.as("x").join(buckets.as("y"),
          col("x.band") === col("y.band") && col("x.bh") === col("y.bh")
            && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
        .distinct()
      cand
        .join(docs.select(col("doc_id").as("a_id"), col("sh").as("sha")), "a_id")
        .join(docs.select(col("doc_id").as("b_id"), col("sh").as("shb")), "b_id")
        .select(col("a_id"), col("b_id"),
          size(array_intersect(col("sha"), col("shb"))).cast("long").as("inter"),
          size(col("sha")).cast("long").as("na"),
          size(col("shb")).cast("long").as("nb"))
        .filter(col("inter") * 5 >= (col("na") + col("nb") - col("inter")) * 3) // J >= 0.6 exactly
        .join(meta.select(col("doc_id").as("a_id"), col("source").as("src_a"),
          col("n_chars").as("ca")), "a_id")
        .join(meta.select(col("doc_id").as("b_id"), col("source").as("src_b"),
          col("n_chars").as("cb")), "b_id")
        .select(col("a_id"), col("b_id"), col("inter"), col("na"), col("nb"),
          round(col("inter").cast("double") / (col("na") + col("nb") - col("inter")), 6).as("jac"),
          round(col("inter") * 2.0 / (col("na") + col("nb")), 6).as("dice"),
          round(col("inter").cast("double") / least(col("na"), col("nb")), 6).as("containment"),
          round(least(col("ca"), col("cb")).cast("double")
            / greatest(col("ca"), col("cb")), 6).as("len_ratio"),
          (col("src_a") === col("src_b")).as("same_source"))
        .orderBy(col("a_id"), col("b_id"))
    },
    Some(OracleShingles + """,
      pairs AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
          len(list_intersect(a.sh, b.sh)) AS inter,
          len(a.sh) AS na, len(b.sh) AS nb
        FROM s a JOIN s b ON a.doc_id < b.doc_id),
      hard AS (SELECT * FROM pairs WHERE inter * 5 >= (na + nb - inter) * 3)
      SELECT h.a_id, h.b_id,
        CAST(h.inter AS BIGINT) AS inter, CAST(h.na AS BIGINT) AS na,
        CAST(h.nb AS BIGINT) AS nb,
        round(h.inter::DOUBLE / (h.na + h.nb - h.inter), 6) AS jac,
        round(h.inter * 2.0 / (h.na + h.nb), 6) AS dice,
        round(h.inter::DOUBLE / least(h.na, h.nb), 6) AS containment,
        round(least(da.n_chars, db.n_chars)::DOUBLE
          / greatest(da.n_chars, db.n_chars), 6) AS len_ratio,
        da.source = db.source AS same_source
      FROM hard h
      JOIN documents da ON da.doc_id = h.a_id
      JOIN documents db ON db.doc_id = h.b_id
      ORDER BY h.a_id, h.b_id"""),
    doc = "LSH-candidate pair features (Jaccard/Dice/containment/len-ratio); exact integer ratios")

  // ---------------------------------------------------------------- q106
  /** Dedup SURVIVOR SELECTION — the policy stage after clustering: per
    * near-dup cluster keep the LONGEST member (ties → smallest doc_id)
    * and report what the dedup run saves. q100 labels clusters with a
    * structural canonical (min id); real pipelines keep the
    * highest-value copy — longest text is the standard cheap proxy — and
    * ship exactly this report (clusters, survivors, bytes dropped) as
    * the run's audit artifact.
    *
    * Plan: cluster labels (q100's O(log n) CC) join the per-doc lengths,
    * then ONE partial+final aggregate per cluster — `max_by(doc_id,
    * struct(len, -doc_id))` picks the survivor inside the agg buffer, so
    * there is no per-cluster window sort and no second shuffle. At 100 TB
    * the agg state is O(clusters), not O(docs). */
  val q106 = QueryDef(
    "q106_dedup_survivors",
    (s, d) => {
      val pairs = lshVerifiedPairs(s, d, 0.6).select(col("a_id"), col("b_id"))
      val docs = Tables.documents(s, d)
      val nodes = docs.select(col("doc_id").as("node"))
      val labels = connectedComponents(nodes, pairs)
        .select(col("node").as("doc_id"), col("lbl").as("cluster_id"))
      labels.join(docs.select(col("doc_id"),
          length(col("text")).cast("long").as("len")), "doc_id")
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n_members"),
          max_by(col("doc_id"), struct(col("len"), col("doc_id") * -1)).as("survivor_id"),
          max(col("len")).as("bytes_kept"),
          (sum(col("len")) - max(col("len"))).as("bytes_dropped"))
        .filter(col("n_members") >= 2)
        .select(col("cluster_id"), col("survivor_id"), col("n_members"),
          col("bytes_kept"), col("bytes_dropped"))
        .orderBy(col("cluster_id"))
    },
    Some("""WITH RECURSIVE w AS (SELECT doc_id, string_split(text, ' ') words FROM documents),
      s AS (SELECT doc_id,
              list_distinct([array_to_string(words[i:i+2], ' ') for i in range(1, len(words)-1)]) sh
            FROM w WHERE len(words) >= 3),
      pairs AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id
        FROM s a JOIN s b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
            / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.6),
      edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
        UNION ALL SELECT b_id, a_id FROM pairs),
      reach AS (
        SELECT doc_id AS node, doc_id AS lbl FROM documents
        UNION
        SELECT e.dst AS node, r.lbl FROM reach r JOIN edges e ON e.src = r.node),
      labels AS (SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY node),
      sized AS (SELECT l.cluster_id, d.doc_id, CAST(length(d.text) AS BIGINT) AS len
        FROM labels l JOIN documents d USING (doc_id)),
      ranked AS (SELECT *, row_number()
          OVER (PARTITION BY cluster_id ORDER BY len DESC, doc_id ASC) AS rn
        FROM sized)
      SELECT cluster_id, MAX(CASE WHEN rn = 1 THEN doc_id END) AS survivor_id,
        COUNT(*) AS n_members, MAX(len) AS bytes_kept,
        CAST(SUM(len) - MAX(len) AS BIGINT) AS bytes_dropped
      FROM ranked GROUP BY cluster_id HAVING COUNT(*) >= 2
      ORDER BY cluster_id"""),
    doc = "per-cluster survivor policy (keep longest) + bytes-saved audit; single agg, no window")

  // ---------------------------------------------------------------- q123
  /** Cross-source duplication matrix: the q41 verified near-dup pair set
    * rolled up to (source, source) — "which crawls/dumps duplicate each
    * other", the report that decides dataset precedence before mixing.
    *
    * Scale shape: pairs are density-bound (LSH candidates, not n²); the
    * two source lookups are shuffle equi-joins on doc_id against a
    * 2-column projection of the corpus; the matrix agg is ≤ |sources|²
    * rows. Source names are normalized (least, greatest) so the matrix
    * is upper-triangular regardless of id order. */
  val q123 = QueryDef(
    "q123_source_dup_matrix",
    (s, d) => {
      val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
      lshVerifiedPairs(s, d, 0.6)
        .join(src.select(col("doc_id").as("a_id"), col("source").as("sa")), "a_id")
        .join(src.select(col("doc_id").as("b_id"), col("source").as("sb")), "b_id")
        .select(least(col("sa"), col("sb")).as("source_a"),
          greatest(col("sa"), col("sb")).as("source_b"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("source_a"), col("source_b"))
    },
    Some(OracleShingles + """,
      pairs AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id
        FROM s a JOIN s b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
            / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.6)
      SELECT least(da.source, db.source) AS source_a,
        greatest(da.source, db.source) AS source_b,
        count(*) AS n_pairs
      FROM pairs p JOIN documents da ON p.a_id = da.doc_id
        JOIN documents db ON p.b_id = db.doc_id
      GROUP BY 1, 2 ORDER BY 1, 2"""),
    doc = "near-dup pair graph rolled up to a source x source duplication matrix")

  // --------------------------------------------------------------- q177
  /** Near-dup CLUSTER COHESION audit — the QA stage after clustering:
    * per multi-member cluster, the verified-edge count, the weakest and
    * strongest edge (min/max Jaccard), the decimal-accumulated mean
    * edge similarity, and the graph density 2E/(n(n-1)). Transitive
    * closure chains A~B~C where A and C barely relate — low density or
    * a weak min edge is the signal to re-cluster at a higher threshold
    * before a survivor-selection pass (q106) deletes real content.
    *
    * Scale shape: q100's CC labels join the verified pair list (both
    * id-keyed equi-joins), then one agg per cluster — O(clusters)
    * state. Mean follows the q44 decimal-accumulator convention so
    * partial-agg addition order cannot perturb the oracle hash. */
  val q177 = QueryDef(
    "q177_cluster_cohesion",
    (s, d) => {
      // the verified pair list feeds BOTH the CC labeling and the edge
      // stats; localCheckpoint materializes the LSH+verify chain once
      // (same device q100's CC loop uses) instead of executing it twice
      val pairs = lshVerifiedPairs(s, d, 0.6)
        .select(col("a_id"), col("b_id"), round(col("j"), 6).as("j"))
        .localCheckpoint()
      val nodes = Tables.documents(s, d).select(col("doc_id").as("node"))
      val labels = connectedComponents(nodes, pairs.select(col("a_id"), col("b_id")))
        .select(col("node"), col("lbl").as("cluster_id"))
      val edges = pairs
        .join(labels.select(col("node").as("a_id"), col("cluster_id")), "a_id")
      val sizes = labels.groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n_members"))
        .filter(col("n_members") >= 2)
      edges.groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n_edges"),
          round(min(col("j")), 6).as("min_j"),
          round(max(col("j")), 6).as("max_j"),
          sum(col("j").cast(org.apache.spark.sql.types.DecimalType(28, 10))).as("jsum"))
        .join(sizes, "cluster_id")
        .select(col("cluster_id"), col("n_members"), col("n_edges"),
          col("min_j"), col("max_j"),
          round((col("jsum") / col("n_edges")).cast("double"), 6).as("mean_j"),
          round(col("n_edges") * 2.0 / (col("n_members") * (col("n_members") - 1)), 6)
            .as("density"))
        .orderBy(col("cluster_id"))
    },
    Some("""WITH RECURSIVE w AS (SELECT doc_id, string_split(text, ' ') words FROM documents),
      s AS (SELECT doc_id,
              list_distinct([array_to_string(words[i:i+2], ' ') for i in range(1, len(words)-1)]) sh
            FROM w WHERE len(words) >= 3),
      pairs AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
          round(len(list_intersect(a.sh, b.sh))::DOUBLE
            / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS j
        FROM s a JOIN s b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
            / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.6),
      edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
        UNION ALL SELECT b_id, a_id FROM pairs),
      reach AS (
        SELECT doc_id AS node, doc_id AS lbl FROM documents
        UNION
        SELECT e.dst AS node, r.lbl FROM reach r JOIN edges e ON e.src = r.node),
      labels AS (SELECT node, MIN(lbl) AS cluster_id FROM reach GROUP BY node),
      sizes AS (SELECT cluster_id, count(*) AS n_members FROM labels
        GROUP BY cluster_id HAVING count(*) >= 2),
      estats AS (SELECT l.cluster_id, count(*) AS n_edges,
          round(min(p.j), 6) AS min_j, round(max(p.j), 6) AS max_j,
          sum(CAST(p.j AS DECIMAL(28,10))) AS jsum
        FROM pairs p JOIN labels l ON l.node = p.a_id
        GROUP BY l.cluster_id)
      SELECT e.cluster_id, z.n_members, e.n_edges, e.min_j, e.max_j,
        round(CAST(e.jsum / e.n_edges AS DOUBLE), 6) AS mean_j,
        round(e.n_edges * 2.0 / (z.n_members * (z.n_members - 1)), 6) AS density
      FROM estats e JOIN sizes z USING (cluster_id)
      ORDER BY e.cluster_id"""),
    doc = "per-cluster edge stats + density: the re-threshold signal before survivor deletion")

  // ---------------------------------------------------------------- q124
  /** Bloom-prefiltered decontamination census: q101's eval-leakage scrub
    * restated as the clean/dropped verdict per source, with the benchmark
    * 5-gram membership probe staged behind a Bloom filter (the explicit
    * runtime-filter pattern from Scale.bloomPrefilteredJoin).
    *
    * Why this matters at 100 TB: the exploded corpus shingle stream is
    * ~50× corpus rows; probing every shingle against even a broadcast
    * hash set means materializing that stream into a join. The Bloom blob
    * (~100s of KB for a benchmark suite) ships as a plan literal and
    * kills ~99% of shingles inside the scan's codegen'd filter, so only
    * suspected hits reach the exact verify join — false positives are
    * then removed by the join itself, keeping the result EXACT (the
    * oracle is the plain inverted-index formulation; the Bloom stage is
    * invisible in the answer, visible in the plan). The final verdict
    * join BROADCASTS the hit-doc id set — contaminated docs are a sliver
    * of the corpus, so the corpus projection must never shuffle for it. */
  val q124 = QueryDef(
    "q124_bloom_decontaminate",
    (s, d) => {
      val sh5 = Tables.documents(s, d)
        .filter(size(split(col("text"), " ")) >= 5)
        .select(col("doc_id"), col("source"), wordShingles(col("text"), 5).as("sh"))
      val bench = sh5.filter(col("doc_id") < 10)
        .select(explode(col("sh")).as("shingle")).distinct()
      val corpusShingles = sh5.filter(col("doc_id") >= 10)
        .select(col("doc_id"), explode(col("sh")).as("shingle"))
      val hitDocs = graft.operators.Scale
        .bloomPrefilteredJoin(corpusShingles, bench, "shingle", 1 << 17)
        .select(col("doc_id")).distinct()
        .withColumn("hit", lit(true))
      sh5.filter(col("doc_id") >= 10).select(col("doc_id"), col("source"))
        .join(broadcast(hitDocs), Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("hit").isNull, 1L).otherwise(0L)).as("n_clean"),
          sum(when(col("hit").isNotNull, 1L).otherwise(0L)).as("n_dropped"))
        .orderBy(col("source"))
    },
    Some("""WITH w AS (SELECT doc_id, source, string_split(text, ' ') words FROM documents),
      s5 AS (SELECT doc_id, source,
               list_distinct([array_to_string(words[i:i+4], ' ') for i in range(1, len(words)-3)]) sh
             FROM w WHERE len(words) >= 5),
      b AS (SELECT DISTINCT unnest(sh) AS shingle FROM s5 WHERE doc_id < 10),
      c AS (SELECT doc_id, unnest(sh) AS shingle FROM s5 WHERE doc_id >= 10),
      hits AS (SELECT DISTINCT doc_id FROM c JOIN b USING (shingle)),
      corp AS (SELECT doc_id, source FROM s5 WHERE doc_id >= 10)
      SELECT corp.source, count(*) AS n_docs,
        count(*) FILTER (WHERE h.doc_id IS NULL) AS n_clean,
        count(*) FILTER (WHERE h.doc_id IS NOT NULL) AS n_dropped
      FROM corp LEFT JOIN hits h USING (doc_id)
      GROUP BY corp.source ORDER BY corp.source"""),
    doc = "per-source clean/dropped decontamination verdict behind a Bloom runtime filter")


  // ---------------------------------------------------------------- q196
  /** Community detection by synchronous label propagation (LPA, 2 rounds)
    * over the verified near-dup graph — the third graph primitive next to
    * q100's connected components and q185's PageRank. Where CC merges
    * everything reachable, LPA's majority vote splits a weakly-bridged
    * blob into dense communities — the signal for "this dup cluster is
    * really two templates sharing boilerplate". Each round is ONE
    * neighbor-label equi-join + a (node, label) count + a per-node argmax
    * (rn=1 top-k shape, map-side-bounded by the TopKAggregateRewrite):
    * 8-byte-keyed shuffles, O(rounds) passes, no graph re-materialization
    * (pair list localCheckpoint'ed once, like q100/q185). Tie-break is
    * (count desc, label asc) — fully deterministic, so the fixed 2-round
    * unroll crosses the DuckDB oracle exactly; isolated nodes keep their
    * own label via the left join. */
  val q196 = QueryDef(
    "q196_label_propagation",
    (s, d) => {
      val pairs = lshVerifiedPairs(s, d, 0.6)
        .select(col("a_id"), col("b_id")).localCheckpoint()
      val edges = pairs.select(col("a_id").as("v"), col("b_id").as("u"))
        .unionByName(pairs.select(col("b_id").as("v"), col("a_id").as("u")))
      val nodes = shingled(s, d).select(col("doc_id").as("v"))
      def round(lbls: DataFrame): DataFrame = {
        val votes = edges.join(lbls.select(col("v").as("u"), col("lbl")), "u")
          .groupBy(col("v"), col("lbl")).agg(count(lit(1)).as("c"))
        val w = Window.partitionBy(col("v")).orderBy(col("c").desc, col("lbl"))
        val winners = votes.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1).select(col("v"), col("lbl").as("nl"))
        lbls.join(winners, Seq("v"), "left")
          .select(col("v"), coalesce(col("nl"), col("lbl")).as("lbl"))
      }
      val init = nodes.select(col("v"), col("v").as("lbl"))
      round(round(init))
        .select(col("v").as("doc_id"), col("lbl").as("community"))
        .orderBy(col("doc_id"))
    },
    Some(OracleShingles + """,
      pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
        FROM s a JOIN s b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
            / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.6),
      edges AS (SELECT a_id AS v, b_id AS u FROM pairs
        UNION ALL SELECT b_id, a_id FROM pairs),
      l0 AS (SELECT doc_id AS v, doc_id AS lbl FROM s),
      v1 AS (SELECT e.v, l.lbl, COUNT(*) AS c
        FROM edges e JOIN l0 l ON l.v = e.u GROUP BY e.v, l.lbl),
      w1 AS (SELECT v, lbl AS nl FROM (SELECT v, lbl,
          ROW_NUMBER() OVER (PARTITION BY v ORDER BY c DESC, lbl) AS rn FROM v1)
        WHERE rn = 1),
      l1 AS (SELECT l0.v, COALESCE(w1.nl, l0.lbl) AS lbl
        FROM l0 LEFT JOIN w1 ON w1.v = l0.v),
      v2 AS (SELECT e.v, l.lbl, COUNT(*) AS c
        FROM edges e JOIN l1 l ON l.v = e.u GROUP BY e.v, l.lbl),
      w2 AS (SELECT v, lbl AS nl FROM (SELECT v, lbl,
          ROW_NUMBER() OVER (PARTITION BY v ORDER BY c DESC, lbl) AS rn FROM v2)
        WHERE rn = 1),
      l2 AS (SELECT l1.v, COALESCE(w2.nl, l1.lbl) AS lbl
        FROM l1 LEFT JOIN w2 ON w2.v = l1.v)
      SELECT v AS doc_id, lbl AS community FROM l2 ORDER BY doc_id"""),
    doc = "2-round synchronous LPA over the LSH near-dup graph; majority vote with (count, label) tie-break")


  // ---------------------------------------------------------------- q204
  /** Triangle census + local clustering coefficient over the verified
    * near-dup graph — the fourth graph primitive (after CC, PageRank,
    * LPA): triangles measure how CLIQUE-LIKE a duplicate neighborhood is
    * (template families triangle densely; chains of pairwise-similar
    * revisions don't). The algorithm is the canonical two-join MapReduce
    * triangle count on ID-oriented canonical edges (a<b): wedge build
    * (edge ⋈ edge on the middle vertex) then wedge-closing probe against
    * the edge list — both 8-byte equi-joins, never an all-pairs. At
    * 100 TB the classic refinement (orient edges low-degree → high-degree
    * so wedge fan-out is bounded by arboricity, not max degree) drops in
    * at the orientation step; the ID orientation here IS that step on
    * this corpus. Clustering coefficient = 2T/(deg·(deg−1)) as exact ppm.
    * localCheckpoint'ed edge list: the LSH+verify stage runs once, not
    * three times. */
  val q204 = QueryDef(
    "q204_triangle_census",
    (s, d) => {
      val e = lshVerifiedPairs(s, d, 0.6)
        .select(col("a_id").as("a"), col("b_id").as("b")).localCheckpoint()
      val wedges = e.as("e1").join(e.as("e2"), col("e1.b") === col("e2.a"))
        .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
      val tri = wedges.join(e.select(col("a").as("x"), col("b").as("z")), Seq("x", "z"))
      val triPerNode = tri.select(explode(array(col("x"), col("y"), col("z"))).as("v"))
        .groupBy(col("v")).agg(count(lit(1)).as("t"))
      val deg = e.select(explode(array(col("a"), col("b"))).as("v"))
        .groupBy(col("v")).agg(count(lit(1)).as("deg"))
      shingled(s, d).select(col("doc_id").as("v"))
        .join(deg, Seq("v"), "left").join(triPerNode, Seq("v"), "left")
        .select(col("v").as("doc_id"),
          coalesce(col("deg"), lit(0L)).as("degree"),
          coalesce(col("t"), lit(0L)).as("triangles"))
        .withColumn("cc_ppm",
          when(col("degree") >= 2,
            expr("(2 * triangles * 1000000) div (degree * (degree - 1))"))
            .otherwise(lit(0L)))
        .orderBy(col("doc_id"))
    },
    Some(OracleShingles + """,
      pairs AS MATERIALIZED (SELECT a.doc_id AS a_id, b.doc_id AS b_id
        FROM s a JOIN s b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
            / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.6),
      wed AS (SELECT e1.a_id AS x, e1.b_id AS y, e2.b_id AS z
        FROM pairs e1 JOIN pairs e2 ON e2.a_id = e1.b_id),
      tri AS (SELECT w.x, w.y, w.z FROM wed w
        JOIN pairs p ON p.a_id = w.x AND p.b_id = w.z),
      tpn AS (SELECT v, COUNT(*) AS t FROM (
          SELECT x AS v FROM tri UNION ALL SELECT y FROM tri
          UNION ALL SELECT z FROM tri) GROUP BY v),
      deg AS (SELECT v, COUNT(*) AS deg FROM (
          SELECT a_id AS v FROM pairs UNION ALL SELECT b_id FROM pairs) GROUP BY v)
      SELECT s.doc_id, COALESCE(deg.deg, 0) AS degree,
        COALESCE(tpn.t, 0) AS triangles,
        CAST(CASE WHEN COALESCE(deg.deg, 0) >= 2
          THEN (2 * COALESCE(tpn.t, 0) * 1000000) // (deg.deg * (deg.deg - 1))
          ELSE 0 END AS BIGINT) AS cc_ppm
      FROM s LEFT JOIN deg ON deg.v = s.doc_id LEFT JOIN tpn ON tpn.v = s.doc_id
      ORDER BY s.doc_id"""),
    doc = "two-join oriented triangle count + clustering coefficient (exact ppm) over the LSH near-dup graph")


  // ---------------------------------------------------------------- q224
  /** SymSpell / FastSS fuzzy self-join (edit distance ≤ 1) on document
    * prefixes — the deletion-neighborhood trick that turns an edit-
    * distance join into an EQUI-join: every string emits itself plus all
    * single-character deletions of its 24-char prefix; two strings within
    * ED ≤ 1 provably share a signature (a substitution meets at the
    * both-sides deletion, an insert/delete meets at the shorter string
    * itself), so candidate generation is COMPLETE — no scan, no
    * cross join, just a (signature-hash, doc) shuffle with ~25 rows per
    * doc. Shared signatures can also arise at ED 2 (different chars
    * deleted), so the exact banded kernel (q146's threshold levenshtein)
    * verifies every candidate — precision 1.0, and the DuckDB all-pairs
    * oracle certifies recall 1.0. Signatures shuffle as xxhash64 (8-byte
    * keys, q40 discipline); at 100 TB the deletion index is the persisted
    * artifact and each lookup touches one hash slice per signature. */
  val q224 = QueryDef(
    "q224_symspell_join",
    (s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), substring(col("text"), 1, 24).as("pfx"))
      val sigs = docs.select(col("doc_id"), col("pfx"),
          explode(concat(array(col("pfx")),
            transform(sequence(lit(1), length(col("pfx"))),
              i => concat(substring(col("pfx"), lit(1), i - 1),
                substring(col("pfx"), i + 1, lit(1000)))))).as("sig"))
        .select(col("doc_id"), col("pfx"), xxhash64(col("sig")).as("sh"))
      val cand = sigs.as("a").join(sigs.as("b"),
          col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("a_id"), col("a.pfx").as("pa"),
          col("b.doc_id").as("b_id"), col("b.pfx").as("pb"))
        .distinct()
      cand
        .select(col("a_id"), col("b_id"),
          levenshtein(col("pa"), col("pb"), 1).as("ed"))
        .filter(col("ed") >= 0 && col("ed") <= 1)
        .orderBy(col("a_id"), col("b_id"))
    },
    Some("""WITH p AS (SELECT doc_id, substr(text, 1, 24) AS pfx FROM documents)
      SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        CAST(levenshtein(a.pfx, b.pfx) AS INT) AS ed
      FROM p a JOIN p b ON a.doc_id < b.doc_id
      WHERE levenshtein(a.pfx, b.pfx) <= 1
      ORDER BY a_id, b_id"""),
    doc = "deletion-neighborhood (SymSpell) ED<=1 join: complete equi-join candidates + banded verify; all-pairs oracle certifies recall")

  /** Shared DuckDB CTE for the verified LSH near-dup pair graph at the
    * q41 threshold (0.6) — the edge list q204/q236/q237 analyze. */
  private val OraclePairs = OracleShingles + """,
      pairs AS MATERIALIZED (SELECT a.doc_id AS a_id, b.doc_id AS b_id
        FROM s a JOIN s b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
            / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.6)"""

  // ---------------------------------------------------------------- q236
  /** 2-core extraction by bounded degree peeling over the LSH near-dup
    * graph — the graph-cleaning pass that separates DENSE duplication
    * structure (template families, mirror farms — every member has ≥ 2
    * near-dup neighbors even after its weakest neighbors are removed)
    * from incidental pairwise matches, which CC (q100) lumps into the
    * same component and the triangle census (q204) only scores locally.
    * Each peel round recomputes degrees and drops nodes below k = 2;
    * 3 rounds are unrolled, giving a STATIC plan (the fixed-horizon
    * convention of q185/q196/q227 — both engines compute the identical
    * bounded iterate, so convergence is not a correctness question).
    *
    * Shape: per round, one explode-degree census + two semi-join-shaped
    * equi-joins filtering the edge list — all 8-byte-keyed, all
    * map-side-combinable; the edge list is localCheckpoint'ed once so the
    * quadratic LSH verify never replays. At 100 TB the peel horizon is
    * the knob (k-core of real web crawls stabilizes in a few rounds) and
    * each round stays O(|E|) with no driver materialization. */
  val q236 = QueryDef(
    "q236_kcore_peel",
    (s, d) => {
      def deg(e: DataFrame): DataFrame = e
        .select(explode(array(col("a"), col("b"))).as("v"))
        .groupBy(col("v")).agg(count(lit(1)).as("deg"))
      def peel(e: DataFrame): DataFrame = {
        val keep = deg(e).filter(col("deg") >= 2).select(col("v"))
        e.join(keep.withColumnRenamed("v", "a"), "a")
          .join(keep.withColumnRenamed("v", "b"), "b")
          .select(col("a"), col("b"))
      }
      val e0 = lshVerifiedPairs(s, d, 0.6)
        .select(col("a_id").as("a"), col("b_id").as("b")).localCheckpoint()
      deg(peel(peel(peel(e0))))
        .select(col("v").as("doc_id"), col("deg").as("core_degree"))
        .orderBy(col("doc_id"))
    },
    Some(OraclePairs + """,
      e0 AS (SELECT a_id AS a, b_id AS b FROM pairs),
      d1 AS (SELECT v, COUNT(*) AS deg FROM (
          SELECT a AS v FROM e0 UNION ALL SELECT b FROM e0) GROUP BY v),
      k1 AS (SELECT v FROM d1 WHERE deg >= 2),
      e1 AS (SELECT a, b FROM e0
        WHERE a IN (SELECT v FROM k1) AND b IN (SELECT v FROM k1)),
      d2 AS (SELECT v, COUNT(*) AS deg FROM (
          SELECT a AS v FROM e1 UNION ALL SELECT b FROM e1) GROUP BY v),
      k2 AS (SELECT v FROM d2 WHERE deg >= 2),
      e2 AS (SELECT a, b FROM e1
        WHERE a IN (SELECT v FROM k2) AND b IN (SELECT v FROM k2)),
      d3 AS (SELECT v, COUNT(*) AS deg FROM (
          SELECT a AS v FROM e2 UNION ALL SELECT b FROM e2) GROUP BY v),
      k3 AS (SELECT v FROM d3 WHERE deg >= 2),
      e3 AS (SELECT a, b FROM e2
        WHERE a IN (SELECT v FROM k3) AND b IN (SELECT v FROM k3))
      SELECT v AS doc_id, COUNT(*) AS core_degree FROM (
          SELECT a AS v FROM e3 UNION ALL SELECT b FROM e3)
      GROUP BY v ORDER BY doc_id"""),
    doc = "2-core by 3 unrolled peel rounds over the LSH near-dup graph; dense template families vs incidental matches")

  // ---------------------------------------------------------------- q237
  /** Degree assortativity of the near-dup graph — do heavily-duplicated
    * documents link to other heavily-duplicated documents (assortative,
    * r > 0: template farms) or to one-off copies (disassortative, r < 0:
    * hub-and-spoke plagiarism of a few originals)? The answer picks the
    * dedup strategy: assortative cores collapse safely to one survivor;
    * hub-and-spoke needs the hub kept and spokes graded. Computed as
    * Pearson correlation of endpoint degrees over the SYMMETRIZED edge
    * list, where both endpoint marginals are identical — so the sqrt in
    * Pearson's denominator squares away and r = (m·Σxy − Sx²)/(m·Σx² −
    * Sx²) is EXACTLY rational: integer ppm with zero transcendental
    * leakage (the q204 discipline). Products ride DECIMAL(38,0) /
    * HUGEINT. Shape: one degree census, two broadcast-size joins back to
    * the edge list, one global agg — O(|E|) with 8-byte keys. */
  val q237 = QueryDef(
    "q237_degree_assortativity",
    (s, d) => {
      val e = lshVerifiedPairs(s, d, 0.6)
        .select(explode(array(
            struct(col("a_id").as("src"), col("b_id").as("dst")),
            struct(col("b_id").as("src"), col("a_id").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
        .localCheckpoint()
      val deg = e.groupBy(col("src").as("v")).agg(count(lit(1)).as("deg"))
      e.join(deg.select(col("v").as("src"), col("deg").as("dx")), "src")
        .join(deg.select(col("v").as("dst"), col("deg").as("dy")), "dst")
        .agg(count(lit(1)).as("m"), sum(col("dx")).as("sx"),
          sum(col("dx") * col("dx")).as("sxx"),
          sum(col("dx") * col("dy")).as("sxy"))
        .select(expr("m div 2").as("n_edges"),
          when(expr("CAST(m AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx") > 0,
            expr("""((CAST(m AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sx) * 1000000)
              div (CAST(m AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx)"""))
            .otherwise(lit(0L)).as("assort_ppm"))
    },
    Some(OraclePairs + """,
      ed AS (SELECT a_id AS src, b_id AS dst FROM pairs
        UNION ALL SELECT b_id, a_id FROM pairs),
      dg AS (SELECT src AS v, COUNT(*) AS deg FROM ed GROUP BY 1),
      j AS (SELECT dx.deg AS dx, dy.deg AS dy
        FROM ed JOIN dg dx ON dx.v = ed.src JOIN dg dy ON dy.v = ed.dst),
      a AS (SELECT COUNT(*) AS m, CAST(SUM(dx) AS BIGINT) AS sx,
          CAST(SUM(dx * dx) AS BIGINT) AS sxx,
          CAST(SUM(dx * dy) AS BIGINT) AS sxy FROM j)
      SELECT CAST(m // 2 AS BIGINT) AS n_edges,
        CAST(CASE WHEN CAST(m AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx > 0
          THEN ((CAST(m AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sx) * 1000000)
            // (CAST(m AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx)
          ELSE 0 END AS BIGINT) AS assort_ppm
      FROM a"""),
    doc = "degree assortativity (exact rational Pearson on the symmetrized near-dup graph); template-farm vs hub-and-spoke verdict")

  // ---------------------------------------------------------------- q251
  /** Near-dedup threshold sensitivity — the decision curve behind the
    * single most consequential knob in corpus curation: at each candidate
    * Jaccard threshold (0.6 … 1.0 in 0.1 steps, the range where the q41
    * LSH candidate set is recall-complete on this banding), how many
    * pairs would be collapsed and how many documents touched? Reading
    * the curve: a cliff between two thresholds means a near-dup family
    * with that internal similarity — move the knob past it deliberately,
    * not by default. Buckets come from floor(j·10) on the verified pair
    * set (one IEEE multiply + floor — bit-identical), and the cumulative
    * counts are produced by EXPLODING each pair into every threshold it
    * survives (sequence(6, bucket)) — one generate pass over the tiny
    * pair frame, no per-threshold rescan of anything, no crossJoin.
    * At 100 TB the pair set is the already-computed q41 artifact and
    * this is a minutes-long rollup over it. */
  val q251 = QueryDef(
    "q251_dedup_sensitivity",
    (s, d) => {
      val pb = lshVerifiedPairs(s, d, 0.6)
        .select(col("a_id"), col("b_id"),
          least(floor(col("j") * 10).cast("int"), lit(10)).as("bucket"))
      val rep = pb.select(col("a_id"), col("b_id"),
        explode(sequence(lit(6), col("bucket"))).as("t10"))
      val pairsPerT = rep.groupBy(col("t10")).agg(count(lit(1)).as("cum_pairs"))
      val docsPerT = rep
        .select(col("t10"), explode(array(col("a_id"), col("b_id"))).as("id"))
        .groupBy(col("t10")).agg(countDistinct(col("id")).as("docs_touched"))
      pairsPerT.join(docsPerT, "t10")
        .select(col("t10"), col("cum_pairs"), col("docs_touched"))
        .orderBy(col("t10"))
    },
    Some(OracleShingles + """,
      pj AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
          least(CAST(floor((len(list_intersect(a.sh, b.sh))::DOUBLE
            / len(list_distinct(list_concat(a.sh, b.sh)))) * 10) AS INT), 10) AS bucket
        FROM s a JOIN s b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
            / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.6),
      rep AS (SELECT a_id, b_id, u AS t10
        FROM pj, unnest(range(6, bucket + 1)) AS r(u)),
      pp AS (SELECT t10, COUNT(*) AS cum_pairs FROM rep GROUP BY 1),
      dd AS (SELECT t10, COUNT(DISTINCT id) AS docs_touched FROM (
          SELECT t10, a_id AS id FROM rep UNION ALL SELECT t10, b_id FROM rep)
        GROUP BY 1)
      SELECT pp.t10, CAST(pp.cum_pairs AS BIGINT) AS cum_pairs,
        CAST(dd.docs_touched AS BIGINT) AS docs_touched
      FROM pp JOIN dd USING (t10) ORDER BY t10"""),
    doc = "dedup-threshold decision curve: cumulative pairs + docs touched per Jaccard decile from one generate pass over the verified pair set")

  // ---------------------------------------------------------------- q257
  /** Exact longest-shared-token-span per near-dup pair — the measurement
    * stage of exact-substring dedup (Lee et al. 2022 "Deduplicating
    * Training Data Makes Language Models Better" uses a suffix array;
    * the relational equivalent over an ALREADY-BUCKETED candidate set is
    * seed-and-extend): for each LSH-verified pair, join the two docs'
    * 8-word gram position lists on gram equality, project each match
    * onto its alignment diagonal (i − j), and take the longest
    * consecutive run per diagonal with the gaps-and-islands trick
    * (i − row_number is constant within a run). max run of matching
    * 8-grams + 7 = the exact longest shared word span. Unlike q105
    * (winnowing fingerprints — sampled, probabilistic spans), this is
    * exact, and affordable precisely because it runs AFTER candidate
    * generation: the frame is pair-bounded, never corpus².
    *
    * Scale shape: grams explode map-side; the only wide ops are the two
    * pair-to-gram equi-joins (keyed by doc id — pair-bounded fan-out)
    * and the island window over (pair, diag) — partitions are single
    * doc-pair alignments, never large. Gram text (8 words) is the join
    * key only within a pair's rows; at 100 TB swap it for xxhash64(g)
    * with the q40 guard if gram bytes dominate the shuffle. */
  val q257 = QueryDef(
    "q257_shared_span",
    (s, d) => {
      val pairs = lshVerifiedPairs(s, d, 0.7).select(col("a_id"), col("b_id"))
      val w = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= 8)
      val grams = w.select(col("doc_id"),
        posexplode(transform(sequence(lit(0), size(col("w")) - 8), i =>
          array_join(slice(col("w"), i + 1, lit(8)), " "))).as(Seq("pos", "g")))
      val m = pairs
        .join(grams.select(col("doc_id").as("a_id"), col("pos").as("i"), col("g")), "a_id")
        .join(grams.select(col("doc_id").as("b_id"), col("pos").as("j"), col("g")),
          Seq("b_id", "g"))
      val isl = m
        .select(col("a_id"), col("b_id"), (col("i") - col("j")).as("diag"), col("i"))
        .withColumn("k", col("i") - row_number().over(
          Window.partitionBy(col("a_id"), col("b_id"), col("diag")).orderBy(col("i"))))
        .groupBy(col("a_id"), col("b_id"), col("diag"), col("k"))
        .agg(count(lit(1)).as("c"))
      isl.groupBy(col("a_id"), col("b_id"))
        .agg((max(col("c")) + 7).as("max_run_words"),
          sum(col("c")).as("n_gram_matches"))
        .orderBy(col("max_run_words").desc, col("a_id"), col("b_id"))
    },
    Some(OracleShingles + """,
      pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
        FROM s a JOIN s b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
            / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.7),
      g AS (SELECT doc_id,
          unnest([{'pos': i-1, 'g': array_to_string(words[i:i+7], ' ')}
                  for i in range(1, len(words)-6)], recursive := true)
        FROM w WHERE len(words) >= 8),
      m AS (SELECT p.a_id, p.b_id, ga.pos AS i, gb.pos AS j
        FROM pairs p
        JOIN g ga ON ga.doc_id = p.a_id
        JOIN g gb ON gb.doc_id = p.b_id AND gb.g = ga.g),
      isl AS (SELECT a_id, b_id,
          i - row_number() OVER (PARTITION BY a_id, b_id, i - j ORDER BY i) AS k,
          i - j AS diag
        FROM m),
      runs AS (SELECT a_id, b_id, diag, k, count(*) AS c
        FROM isl GROUP BY a_id, b_id, diag, k)
      SELECT a_id, b_id, CAST(max(c) + 7 AS BIGINT) AS max_run_words,
        CAST(sum(c) AS BIGINT) AS n_gram_matches
      FROM runs GROUP BY a_id, b_id
      ORDER BY max_run_words DESC, a_id, b_id"""),
    doc = "exact longest shared word span per verified near-dup pair: 8-gram diagonal gaps-and-islands, pair-bounded (the exact-substring-dedup measurement stage)")

  val all: Seq[QueryDef] =
    Seq(q40, q41, q42, q43, q100, q101, q103, q105, q106, q123, q124, q174, q175, q177, q196, q204, q224, q236, q237, q251, q257, q267, q269)
}
