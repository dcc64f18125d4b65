package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops._
import graft.model.ModelPins._
import Shared._

/** Queries over `ops.Similarity`. */
object SimilarityQueries {

  private def ivfIndex(s: SparkSession, d: String): (Array[Array[Double]], DataFrame) = {
    val emb = Tables.embeddings(s, d)
    Similarity.ivfIndex(emb, 16, IndexTables.ident("ivf", emb))
  }

  private def lshIndex(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity.lshIndex(emb, dim = 64, IndexTables.ident("lsh", emb))
  }

  /** DuckDB mirror of [[graft.ops.Similarity.pqEncode]] +
    * [[graft.ops.Similarity.pqTopK]] under [[PQ_CODEBOOK_PINNED]]: the
    * shared WITH-prefix builds unit vectors (list_transform divide by
    * the dot-product norm — the unitVecs definition), the query's
    * flattened m×k ADC lookup table (one list_reduce dot per (s, c) —
    * ascending-i fold, the adcFoldExpr order), the per-vector
    * per-subspace distance lists staged exactly like withPqCodes
    * (subvector → 16 squared-L2s → first-minimum argmin via
    * list_position(d, list_min(d))), and the ADC score as the m-term
    * ascending-s lookup fold rounded 4. Ties and fold orders replicate
    * the Spark expressions term for term, so the replay is exact, not
    * approximate.
    */
  private def pqCommonSql: String = {
    val cbLit = "[" + PQ_CODEBOOK_PINNED.map(sub =>
      "[" + sub.map(cw => "[" + cw.mkString(", ") + "]").mkString(", ") +
        "]").mkString(", ") + "]"
    s"WITH cb(cb) AS (SELECT $cbLit), " +
      "ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
      "u AS (SELECT vec_id, list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS e " +
      "FROM ev WHERE sqrt(list_dot_product(v, v)) > 0), " +
      "q AS (SELECT e AS qe FROM u WHERE vec_id = 0), " +
      "t AS (SELECT list_transform(range(1, 129), sc -> " +
      "list_reduce(list_transform(range(1, 9), i -> " +
      "qe[CAST((sc-1)//16 AS INT)*8 + i] * cb[CAST((sc-1)//16 AS INT)+1][CAST((sc-1)%16 AS INT)+1][i]), " +
      "(a, b) -> a + b)) AS tab FROM q, cb), " +
      "st1 AS (SELECT vec_id, list_transform(range(1, 9), s -> " +
      "list_transform(cb[s], cw -> " +
      "list_reduce(list_transform(range(1, 9), i -> " +
      "(e[(s-1)*8+i]-cw[i])*(e[(s-1)*8+i]-cw[i])), (a, b) -> a+b))) AS ds " +
      "FROM u, cb WHERE vec_id <> 0), " +
      "st2 AS (SELECT vec_id, list_transform(ds, d -> " +
      "CAST(list_position(d, list_min(d)) - 1 AS INT)) AS cds FROM st1), " +
      "sc AS (SELECT vec_id, round(list_reduce(list_transform(range(1, 9), s -> " +
      "tab[(s-1)*16 + cds[s] + 1]), (a, b) -> a+b), 4) AS pq_score " +
      "FROM st2, t)"
  }

  private def pqTopKSql: String = pqCommonSql +
    " SELECT vec_id, pq_score FROM sc ORDER BY pq_score DESC, vec_id ASC LIMIT 10"

  /** The [[pqCommonSql]] ADC scores as a 100-deep shortlist, exact
    * rounded-cosine rescore of only those rows — pqTopKRefined's
    * two-stage shape replayed verbatim.
    */
  private def pqRefinedSql: String = pqCommonSql +
    ", short AS (SELECT vec_id FROM sc ORDER BY pq_score DESC, vec_id ASC LIMIT 100) " +
    "SELECT u.vec_id, round(list_dot_product(u.e, q.qe), 4) AS cos " +
    "FROM u JOIN short USING (vec_id), q " +
    "ORDER BY cos DESC, u.vec_id ASC LIMIT 10"

  /** Exact-roundtrip DOUBLE literal for DuckDB: a bare decimal literal
    * parses through DECIMAL(38) and can lose the final ulp (measured:
    * 9/64 gaussian literals off by one bit), which would corrupt the
    * raw-double sign tests and argmax orderings the LSH/IVF oracles
    * replay. Scientific notation forces the DOUBLE parser — bit-exact
    * roundtrip (300/300 random vectors verified).
    */
  private def dLit(x: Double): String = {
    val s = x.toString
    if (s.contains("E") || s.contains("e")) s else s + "e0"
  }

  /** The [[graft.ops.Similarity.lshBucket]] hyperplanes as a DuckDB
    * list-of-lists literal — the SAME doubles the live plan bakes in
    * (Similarity.lshPlanes is the shared source), emitted through
    * [[dLit]] so each plane component roundtrips bit-exactly.
    */
  private def lshPlanesSqlLit(dim: Int, numPlanes: Int, seed: Long): String =
    "[" + graft.ops.Similarity.lshPlanes(dim, numPlanes, seed)
      .map(p => "[" + p.map(dLit).mkString(", ") + "]").mkString(", ") + "]"

  /** DuckDB mirror of the lshBucket sign-bit fold: Σ 2^i over strictly
    * positive projections (bitwiseOR of distinct bits ≡ sum).
    * `list_dot_product` is a plain ascending multiply-add fold — verified
    * bit-identical to the ArrayDotProduct kernel on 300 random vector
    * pairs — so the raw-double `> 0` test replays exactly, no rounding
    * needed.
    */
  private def lshBucketFoldSql(e: String, pl: String, numPlanes: Int): String =
    (0 until numPlanes).map(i =>
      s"(CASE WHEN list_dot_product($e, $pl[${i + 1}]) > 0 " +
        s"THEN ${1L << i} ELSE 0 END)").mkString(" + ")

  /** Shared unit-vector CTEs over embeddings — the unitVecs definition
    * (double cast, x / sqrt(Σx²), zero-norm rows excluded), bit-exact on
    * both engines (correctly-rounded IEEE divide + sqrt over identical
    * parquet floats).
    */
  private val UNIT_VEC_CTES =
    "ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
      "u AS (SELECT vec_id, " +
      "list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS e " +
      "FROM ev WHERE sqrt(list_dot_product(v, v)) > 0)"

  /** (vec_id, e, bucket) CTEs for the q_lsh_pairs / q_embed_dedup index
    * (dim 64, 8 planes, seed 42 — the lshIndex defaults) plus the
    * intra-bucket lower-id pair scan with rounded-cosine `c`.
    */
  private def lshPairCtes: String =
    UNIT_VEC_CTES +
      s", pl(pl) AS (SELECT ${lshPlanesSqlLit(64, 8, 42L)}), " +
      s"b AS (SELECT vec_id, e, ${lshBucketFoldSql("e", "pl", 8)} AS bucket " +
      "FROM u, pl), " +
      // + 0.0 normalizes DuckDB's IEEE-signed round (-1e-9 → -0.0) to
      // Spark's BigDecimal round (never -0.0): the driver hashes string
      // reprs, where they differ — latent rows surfaced by the r14
      // sf0.1 sweep
      "p AS (SELECT a.vec_id AS a_id, b2.vec_id AS b_id, " +
      "round(list_dot_product(a.e, b2.e), 4) + 0.0 AS cos " +
      "FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id)"

  /** DuckDB mirror of Similarity.covarianceLong: (vec_id, i, x) long
    * grid self-joined on vec_id, population cov rounded 6. ONE
    * definition for q_covariance and q_covariance_incr — the
    * incremental path's contract is exactly "equals the full rebuild",
    * so its oracle IS this replay.
    */
  private val COVARIANCE_SQL: String =
    "WITH el AS (SELECT vec_id, CAST(r.range AS BIGINT) AS i, " +
      "CAST(embedding[CAST(r.range AS INT) + 1] AS DOUBLE) AS x " +
      "FROM embeddings, range(64) r WHERE len(embedding) = 64), " +
      "n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM embeddings " +
      "WHERE len(embedding) = 64), " +
      "m AS (SELECT i, sum(x) AS sx FROM el GROUP BY i), " +
      "p AS (SELECT a.i AS i, b.i AS j, sum(a.x * b.x) AS sxy " +
      "FROM el a JOIN el b ON a.vec_id = b.vec_id GROUP BY 1, 2) " +
      // `+ 0.0` canonicalizes IEEE -0.0 → +0.0: DuckDB's round keeps the
      // sign on tiny negatives (cov ≈ -3.5e-7 → -0.0) while Spark's
      // BigDecimal round is signless; the driver hashes the raw bytes.
      "SELECT p.i, p.j, round(sxy / n.n - (ma.sx / n.n) * (mb.sx / n.n), 6) + 0.0 AS cov " +
      "FROM p JOIN m ma ON ma.i = p.i JOIN m mb ON mb.i = p.j, n"

  /** DuckDB mirror of Similarity.signBlock over a 1-based list column:
    * Σ 2^(i−1) over non-negative components — shared by the q_semdedup
    * and q_semdedup_text oracles.
    */
  private def signBlockSql(v: String, bits: Int): String =
    (1 to bits)
      .map(i => s"(CASE WHEN $v[$i] >= 0 THEN ${1 << (i - 1)} ELSE 0 END)")
      .mkString(" + ")

  val all: Seq[QueryDef] = Seq(
    // k-means cell occupancy over the IVF quantizer (clustering summary);
    // probes the SAME persisted index as q_ivf_topk — centroids trained and
    // assignment written once, and the groupBy("cell") rides the bucketing
    // (no Exchange)
    QueryDef("q_cluster_sizes", ((s, d) => {
      val (_, assigned) = ivfIndex(s, d)
      assigned.groupBy("cell").count().withColumnRenamed("count", "cnt")
    }),
      // cell occupancy under the PINNED sf0.01 IVF centroids: argmax dot
      // with first-maximum (lowest-cell) tie-break — list_position returns
      // the FIRST index of the max, matching the struct-max (d, -cell)
      // order; the live query still trains, so trainer drift goes red
      () => {
        val cl = "[" + IVF_CENTROIDS_PINNED
          .map(c => "[" + c.map(dLit).mkString(", ") + "]").mkString(", ") + "]"
        s"WITH $UNIT_VEC_CTES, " +
          s"cc(cc) AS (SELECT $cl), " +
          "d AS (SELECT vec_id, list_transform(range(1, 17), i -> " +
          "list_dot_product(e, cc[i])) AS ds FROM u, cc), " +
          "a AS (SELECT vec_id, CAST(list_position(ds, list_max(ds)) - 1 AS INT) " +
          "AS cell FROM d) " +
          "SELECT cell, count(*) AS cnt FROM a GROUP BY cell"
      }),
    // ---- similarity search ----
    QueryDef("q_cosine", ((s, d) => Similarity.cosineToQuery(Tables.embeddings(s, d), 0L)),
      () => ("WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings), " +
        "q AS (SELECT emb AS q_emb FROM e WHERE vec_id = 0) " +
        "SELECT vec_id, round(list_cosine_similarity(emb, q_emb), 4) AS cos " +
        "FROM e, q WHERE vec_id <> 0")),
    // Johnson–Lindenstrauss front for the ANN stack: deterministic
    // ±1/√16 md5-parity matrix, 64 → 16 dims, flattened (the driver
    // compare hashes scalar cells only)
    QueryDef("q_rand_proj", ((s, d) =>
      Similarity.randomProject(Tables.embeddings(s, d), 64, 16)
        .select(col("vec_id"),
          posexplode(col("embedding")).as(Seq("dim_idx", "value")))
        .select(col("vec_id"), col("dim_idx"),
          round(col("value"), 4).as("value"))),
      // the ±1/√16 matrix replayed from the same md5-parity formula the
      // kernel bakes in (first hex digit of md5('rp-i-j'))
      () => ("WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings), " +
        "w AS (SELECT i.range AS i, j.range AS j, " +
        "(CASE WHEN CAST(('0x' || substring(md5('rp-' || i.range || '-' || j.range), 1, 1)) AS UBIGINT) % 2 = 0 " +
        "THEN 1.0 ELSE -1.0 END) / sqrt(16.0) AS w FROM range(64) i, range(16) j), " +
        "t AS (SELECT e.vec_id, w.j, sum(e.emb[w.i + 1] * w.w) AS v " +
        "FROM e, w GROUP BY e.vec_id, w.j) " +
        "SELECT vec_id, CAST(j AS INT) AS dim_idx, round(v, 4) + 0.0 AS value FROM t")),
    QueryDef("q_nn", ((s, d) => Similarity.nearestNeighbour(Tables.embeddings(s, d))),
      () => ("WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings), " +
        "p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id, " +
        "list_cosine_similarity(a.emb, b.emb) AS cos FROM e a JOIN e b ON a.vec_id <> b.vec_id) " +
        "SELECT a_id, b_id AS nn_id, round(cos, 4) AS cos FROM (" +
        "SELECT a_id, b_id, cos, row_number() OVER (PARTITION BY a_id ORDER BY cos DESC, b_id ASC) AS rn " +
        "FROM p) WHERE rn = 1")),
    QueryDef("q_lsh_pairs", ((s, d) =>
      Similarity.lshCandidatePairs(lshIndex(s, d), minCos = -1.0)),
      // hyperplane-LSH candidate pairs: the seeded planes are plan
      // literals (Similarity.lshPlanes), replayed through dLit so the
      // raw-double sign fold is bit-exact; intra-bucket lower-id pairs
      // exactly rescored at rounded cosine
      () => (s"WITH $lshPairCtes " +
        "SELECT a_id, b_id, cos FROM p WHERE cos >= -1.0")),
    // scale-path NN default: LSH candidates → exact rescore → argmax.
    // q_nn stays as the exact O(N²) verifier; DedupSimilaritySpec asserts
    // recall ≥ 0.95 of this path against it.
    QueryDef("q_nn_lsh", ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.lshNearestNeighbour(emb, dim = 64,
        indexName = Some(IndexTables.ident("lsh_nn", emb)))
    }),
      // 2-table (seeds 42, 43) 6-plane multi-probe LSH NN: left side
      // probes its own bucket + every Hamming-1 flip, candidates exactly
      // rescored, per-vector argmax on the RAW cosine with lowest-id
      // tie-break (the struct-max (cos, -b_id) order), rounded after
      () => {
        val probes = ("r.bucket" +: (0 until 6).map(i =>
          s"xor(r.bucket, ${1L << i})")).mkString(", ")
        (s"WITH $UNIT_VEC_CTES, " +
          s"pl0(pl0) AS (SELECT ${lshPlanesSqlLit(64, 6, 42L)}), " +
          s"pl1(pl1) AS (SELECT ${lshPlanesSqlLit(64, 6, 43L)}), " +
          s"b AS (SELECT vec_id, e, 0 AS tbl, ${lshBucketFoldSql("e", "pl0", 6)} AS bucket FROM u, pl0 " +
          "UNION ALL " +
          s"SELECT vec_id, e, 1 AS tbl, ${lshBucketFoldSql("e", "pl1", 6)} AS bucket FROM u, pl1), " +
          s"l AS (SELECT tbl, unnest([$probes]) AS pb, " +
          "vec_id AS a_id, e AS a_e FROM b r), " +
          "c AS (SELECT l.a_id, r.vec_id AS b_id, " +
          "list_dot_product(l.a_e, r.e) AS cs " +
          "FROM l JOIN b r ON l.tbl = r.tbl AND l.pb = r.bucket " +
          "AND l.a_id <> r.vec_id), " +
          "rk AS (SELECT a_id, b_id, cs, row_number() OVER " +
          "(PARTITION BY a_id ORDER BY cs DESC, b_id ASC) AS rn FROM c) " +
          "SELECT a_id, CAST(b_id AS BIGINT) AS nn_id, round(cs, 4) AS cos " +
          "FROM rk WHERE rn = 1")
      }),
    // embedding-cosine near-dup dedup decision: LSH bucket candidates at
    // cos >= 0.99 → connected components → keep lowest id per cluster.
    // Probes the same persisted LSH index as q_lsh_pairs; oracled since
    // round 13 (the seeded hyperplanes are plan literals the oracle
    // replays with e0-exact doubles, then min-label recursion).
    QueryDef("q_embed_dedup", ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val pairs = Similarity.lshCandidatePairs(lshIndex(s, d), minCos = 0.99)
        .select("a_id", "b_id")
      Dedup.dedupCorpus(emb.select(col("vec_id").as("doc_id")), pairs)
        .agg(count(lit(1)).as("n_kept"))
    }),
      // the q_lsh_pairs candidates at rounded cos >= 0.99 through the
      // q_dedup_clusters min-label recursion; kept = all vectors minus
      // non-root cluster members (dedupCorpus's anti-join)
      () => (s"WITH RECURSIVE $lshPairCtes, " +
        "prs AS (SELECT a_id, b_id FROM p WHERE cos >= 0.99), " +
        "edges AS (SELECT a_id AS src, b_id AS dst FROM prs " +
        "UNION SELECT b_id, a_id FROM prs), " +
        "reach(id, lbl) AS (SELECT src, src FROM edges " +
        "UNION SELECT e2.src, r.lbl FROM edges e2 JOIN reach r ON e2.dst = r.id), " +
        "cl AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id), " +
        "drp AS (SELECT id FROM cl WHERE id <> cluster_id) " +
        "SELECT count(*) AS n_kept FROM embeddings " +
        "WHERE vec_id NOT IN (SELECT id FROM drp)")),
    // SemDeDup with deterministic sign-bit blocking — the fully
    // relational twin of q_embed_dedup's seeded-LSH decision.
    // minCos=0.3 because the synthetic embeddings are quasi-orthogonal
    // (median true-NN cos 0.41, NOTES round-3): the production 0.95
    // default flags nothing here, 0.3 exercises both verdicts
    QueryDef("q_semdedup", ((s, d) =>
      Similarity.semanticDedupFlags(Tables.embeddings(s, d),
        minCos = 0.3, signDims = 6)),
      // sign-bit block = Σ 2^i over non-negative components; intra-block
      // lower-id pairs exactly rescored; verdict on the ROUNDED cosine
      () => ("WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
        "b AS (SELECT vec_id, v, " +
        s"CAST(${signBlockSql("v", 6)} AS BIGINT) AS block " +
        "FROM e WHERE sqrt(list_dot_product(v, v)) > 0), " +
        "p AS (SELECT a.vec_id AS a_id, " +
        "round(list_cosine_similarity(a.v, b2.v), 4) AS c " +
        "FROM b a JOIN b b2 ON a.block = b2.block AND b2.vec_id < a.vec_id), " +
        "m AS (SELECT a_id, max(c) AS mx FROM p GROUP BY a_id) " +
        "SELECT b.vec_id, b.block, m.mx AS max_lower_cos, " +
        "CAST(CASE WHEN coalesce(m.mx, -2) >= 0.3 THEN 1 ELSE 0 END AS INT) AS is_dup " +
        "FROM b LEFT JOIN m ON b.vec_id = m.a_id")),
    // BOUNDED semdedup under an ADVERSARIAL collapsed-block corpus (the
    // round-14 verdict #1): 25 exact replicas of each vec_id < 8 are
    // unioned in, so (a) natural argmax blocks over 650 vectors exceed
    // maxBlock=16 and get level-2 refinement, and (b) the replica
    // families stay hot through every level (identical |component|
    // ranks) and take the O(leaf) anchor arm — all three cost paths of
    // semanticDedupFlagsBounded exercised and hash-matched by a full
    // relational DuckDB replay (refine + occupancy + anchor)
    QueryDef("q_semdedup_hot", ((s, d) => {
      val e0 = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val rep = e0.where(col("vec_id") < 8)
        .select(col("vec_id"), col("embedding"),
          explode(sequence(lit(1L), lit(25L))).as("_k"))
        .select((col("vec_id") + lit(10000L) * col("_k")).as("vec_id"),
          col("embedding"))
      Similarity.semanticDedupFlagsBounded(e0.unionByName(rep),
        minCos = 0.3, maxBlock = 16, levels = 2)
    }),
      // bounded semdedup: full relational replay of the hierarchical
      // argmax refine (level-2 key = blk*4096 + argmax of the masked abs
      // array; masked positions read -1, which no |x| ties), occupancy
      // split at maxBlock=16, exact lower-pairs on cold leaves, anchor
      // (min-id) comparison on hot leaves. Blocking reads the RAW
      // |components| in both engines — no normalization ulp can flip an
      // argmax tie.
      () => ("WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
        "rep AS (SELECT vec_id + 10000 * CAST(r.range AS BIGINT) AS vec_id, v " +
        "FROM e0, range(1, 26) r WHERE vec_id < 8), " +
        "c0 AS (SELECT vec_id, v FROM e0 UNION ALL SELECT vec_id, v FROM rep), " +
        "u AS (SELECT vec_id, v, list_transform(v, x -> abs(x)) AS a FROM c0 " +
        "WHERE sqrt(list_dot_product(v, v)) > 0), " +
        "p1 AS (SELECT vec_id, v, a, list_position(a, list_max(a)) AS p FROM u), " +
        "b1 AS MATERIALIZED (SELECT vec_id, v, CAST(p AS BIGINT) AS blk, " +
        "list_concat(list_concat(a[1:p-1], [CAST(-1 AS DOUBLE)]), a[p+1:len(a)]) AS a " +
        "FROM p1), " +
        "c1 AS (SELECT blk, count(*) AS c FROM b1 GROUP BY blk), " +
        "p2 AS (SELECT b1.vec_id, b1.v, b1.blk, c1.c, " +
        "list_position(b1.a, list_max(b1.a)) AS p FROM b1 JOIN c1 USING (blk)), " +
        "b2 AS MATERIALIZED (SELECT vec_id, v, CASE WHEN c > 16 " +
        "THEN blk * 4096 + CAST(p AS BIGINT) ELSE blk END AS block FROM p2), " +
        "c2 AS (SELECT block, count(*) AS c FROM b2 GROUP BY block), " +
        "bb AS MATERIALIZED (SELECT b2.vec_id, b2.v, b2.block, " +
        "CASE WHEN c2.c > 16 THEN 1 ELSE 0 END AS hot FROM b2 JOIN c2 USING (block)), " +
        "pc AS (SELECT a.vec_id AS a_id, round(list_cosine_similarity(a.v, b.v), 4) AS cc " +
        "FROM bb a JOIN bb b ON a.block = b.block AND b.vec_id < a.vec_id " +
        "AND a.hot = 0 AND b.hot = 0), " +
        "mc AS (SELECT a_id, max(cc) AS mx FROM pc GROUP BY a_id), " +
        "an AS (SELECT block, min(vec_id) AS aid FROM bb WHERE hot = 1 GROUP BY block), " +
        "av AS (SELECT an.block, an.aid, bb.v AS ae FROM an " +
        "JOIN bb ON bb.block = an.block AND bb.vec_id = an.aid), " +
        "hd AS (SELECT bb.vec_id, bb.block, CASE WHEN bb.vec_id = av.aid THEN NULL " +
        "ELSE round(list_cosine_similarity(bb.v, av.ae), 4) END AS mx " +
        "FROM bb JOIN av ON bb.block = av.block WHERE bb.hot = 1) " +
        "SELECT bb.vec_id, bb.block, CAST(bb.hot AS INT) AS hot, mc.mx AS max_lower_cos, " +
        "CAST(CASE WHEN coalesce(mc.mx, -2) >= 0.3 THEN 1 ELSE 0 END AS INT) AS is_dup " +
        "FROM bb LEFT JOIN mc ON bb.vec_id = mc.a_id WHERE bb.hot = 0 " +
        "UNION ALL SELECT vec_id, block, CAST(1 AS INT) AS hot, mx AS max_lower_cos, " +
        "CAST(CASE WHEN coalesce(mx, -2) >= 0.3 THEN 1 ELSE 0 END AS INT) AS is_dup " +
        "FROM hd")),
    // incremental BOUNDED semdedup: the snapshot is a boundedBlocked
    // build of the 500 base vectors (maxBlock 16 → some leaves refined);
    // the increment is 25 replicas of each vec_id < 8 (their leaves
    // BECOME overfull → anchor arm) plus 10 re-idded singles (land in
    // cold leaves → exact lower-pairs probe vs snapshot ∪ increment).
    // Routing replays the snapshot's refinement decisions; the oracle
    // replays the whole incremental semantics relationally
    QueryDef("q_semdedup_hot_incr", ((s, d) => {
      val e0 = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val snap = Similarity.boundedBlocked(e0, maxBlock = 16, levels = 2)
      val rep = e0.where(col("vec_id") < 8)
        .select(col("vec_id"), col("embedding"),
          explode(sequence(lit(1L), lit(25L))).as("_k"))
        .select((col("vec_id") + lit(10000L) * col("_k")).as("vec_id"),
          col("embedding"))
      val singles = e0.where(col("vec_id") >= 490)
        .select((col("vec_id") + lit(20000L)).as("vec_id"), col("embedding"))
      Similarity.semanticDedupFlagsBoundedApply(snap,
        rep.unionByName(singles), minCos = 0.3, maxBlock = 16, levels = 2)
    }),
      // incremental bounded semdedup: snapshot boundedBlocked replay (the
      // q_semdedup_hot chain minus replicas), then the incremental
      // semantics — refinement ROUTING from the snapshot's refined set,
      // combined-occupancy hot split, global-min anchors, cold lower-pairs
      // probe over snapshot ∪ increment — all relational
      () => ("WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
        "u AS (SELECT vec_id, v, list_transform(v, x -> abs(x)) AS a FROM e0 " +
        "WHERE sqrt(list_dot_product(v, v)) > 0), " +
        "p1 AS (SELECT vec_id, v, a, list_position(a, list_max(a)) AS p FROM u), " +
        "b1 AS MATERIALIZED (SELECT vec_id, v, CAST(p AS BIGINT) AS blk, " +
        "list_concat(list_concat(a[1:p-1], [CAST(-1 AS DOUBLE)]), a[p+1:len(a)]) AS a " +
        "FROM p1), " +
        "c1 AS (SELECT blk, count(*) AS c FROM b1 GROUP BY blk), " +
        "p2 AS (SELECT b1.vec_id, b1.v, b1.blk, c1.c, " +
        "list_position(b1.a, list_max(b1.a)) AS p FROM b1 JOIN c1 USING (blk)), " +
        "b2 AS MATERIALIZED (SELECT vec_id, v, CASE WHEN c > 16 " +
        "THEN blk * 4096 + CAST(p AS BIGINT) ELSE blk END AS block FROM p2), " +
        "c2 AS (SELECT block, count(*) AS c FROM b2 GROUP BY block), " +
        "bb AS MATERIALIZED (SELECT b2.vec_id, b2.v, b2.block, " +
        "CASE WHEN c2.c > 16 THEN 1 ELSE 0 END AS hot FROM b2 JOIN c2 USING (block)), " +
        "inc0 AS (SELECT vec_id + 10000 * CAST(r.range AS BIGINT) AS vec_id, v " +
        "FROM e0, range(1, 26) r WHERE vec_id < 8 " +
        "UNION ALL SELECT vec_id + 20000, v FROM e0 WHERE vec_id >= 490), " +
        "iu AS (SELECT vec_id, v, list_transform(v, x -> abs(x)) AS a FROM inc0 " +
        "WHERE sqrt(list_dot_product(v, v)) > 0), " +
        "ip AS (SELECT vec_id, v, a, list_position(a, list_max(a)) AS p FROM iu), " +
        "ib AS (SELECT vec_id, v, CAST(p AS BIGINT) AS blk, " +
        "list_concat(list_concat(a[1:p-1], [CAST(-1 AS DOUBLE)]), a[p+1:len(a)]) AS a " +
        "FROM ip), " +
        "ir AS MATERIALIZED (SELECT ib.vec_id, ib.v, " +
        "CASE WHEN c1.c > 16 THEN ib.blk * 4096 + " +
        "CAST(list_position(ib.a, list_max(ib.a)) AS BIGINT) ELSE ib.blk END AS block " +
        "FROM ib LEFT JOIN c1 ON ib.blk = c1.blk), " +
        "ic AS (SELECT block, count(*) AS icnt, min(vec_id) AS imin FROM ir GROUP BY block), " +
        "ss AS (SELECT block, count(*) AS sc, min(vec_id) AS smin, max(hot) AS shot " +
        "FROM bb GROUP BY block), " +
        "plan AS MATERIALIZED (SELECT ic.block, " +
        "CASE WHEN coalesce(ss.shot, 0) = 1 OR coalesce(ss.sc, 0) + ic.icnt > 16 " +
        "THEN 1 ELSE 0 END AS hot, " +
        "least(coalesce(ss.smin, 9223372036854775807), ic.imin) AS aid " +
        "FROM ic LEFT JOIN ss USING (block)), " +
        "allrows AS (SELECT vec_id, v, block FROM bb " +
        "UNION ALL SELECT vec_id, v, block FROM ir), " +
        "av AS (SELECT p.block, p.aid, x.v AS ae FROM plan p " +
        "JOIN allrows x ON x.block = p.block AND x.vec_id = p.aid WHERE p.hot = 1), " +
        "hd AS (SELECT ir.vec_id, ir.block, CASE WHEN ir.vec_id = av.aid THEN NULL " +
        "ELSE round(list_cosine_similarity(ir.v, av.ae), 4) END AS mx " +
        "FROM ir JOIN av ON ir.block = av.block), " +
        "ci AS MATERIALIZED (SELECT ir.vec_id, ir.v, ir.block FROM ir " +
        "JOIN plan ON ir.block = plan.block WHERE plan.hot = 0), " +
        "pc AS (SELECT a.vec_id AS a_id, round(list_cosine_similarity(a.v, x.v), 4) AS cc " +
        "FROM ci a JOIN (SELECT vec_id, v, block FROM bb " +
        "UNION ALL SELECT vec_id, v, block FROM ci) x " +
        "ON x.block = a.block AND x.vec_id < a.vec_id), " +
        "mc AS (SELECT a_id, max(cc) AS mx FROM pc GROUP BY a_id) " +
        "SELECT ci.vec_id, ci.block, CAST(0 AS INT) AS hot, mc.mx AS max_lower_cos, " +
        "CAST(CASE WHEN coalesce(mc.mx, -2) >= 0.3 THEN 1 ELSE 0 END AS INT) AS is_dup " +
        "FROM ci LEFT JOIN mc ON ci.vec_id = mc.a_id " +
        "UNION ALL SELECT vec_id, block, CAST(1 AS INT) AS hot, mx AS max_lower_cos, " +
        "CAST(CASE WHEN coalesce(mx, -2) >= 0.3 THEN 1 ELSE 0 END AS INT) AS is_dup " +
        "FROM hd")),
    QueryDef("q_ivf_topk", ((s, d) => {
      // nprobe = k probes every cell, so IVF must reproduce exact top-10 —
      // the oracle then validates the whole index pipeline end-to-end
      val (cents, assigned) = ivfIndex(s, d)
      Similarity.ivfTopK(assigned, 0L, 10, cents, nprobe = 16)
    }),
      () => ("WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings), " +
        "q AS (SELECT emb AS q_emb FROM e WHERE vec_id = 0) " +
        "SELECT vec_id, round(list_cosine_similarity(emb, q_emb), 4) AS cos " +
        "FROM e, q WHERE vec_id <> 0 ORDER BY cos DESC, vec_id ASC LIMIT 10")),
    // batch-of-queries ANN: 100 query vectors probed in ONE plan against
    // the same persisted IVF index (nprobe = all cells ⇒ exact, so DuckDB
    // reproduces every per-query top-10 row)
    QueryDef("q_ivf_topk_multi", ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val (cents, assigned) = ivfIndex(s, d)
      Similarity.ivfTopKAll(assigned, emb.where(col("vec_id") < 100), 10,
        cents, nprobe = 16)
    }),
      () => ("WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings), " +
        "q AS (SELECT vec_id AS q_id, emb AS q_emb FROM e WHERE vec_id < 100), " +
        "p AS (SELECT q_id, vec_id, round(list_cosine_similarity(emb, q_emb), 4) AS c, " +
        "CAST(row_number() OVER (PARTITION BY q_id " +
        "ORDER BY round(list_cosine_similarity(emb, q_emb), 4) DESC, vec_id ASC) AS INT) AS rk " +
        "FROM e, q WHERE vec_id <> q_id) " +
        "SELECT q_id, vec_id, c AS cos, rk FROM p WHERE rk <= 10")),
    // int8-coarse + exact-rescore ANN over the same index: nprobe = all
    // cells AND k·refine (2000) ≥ candidates-per-query at the verify/bench
    // SFs ⇒ the shortlist covers everything and the result is exact — the
    // oracle regime; the recall/refine trade is measured in the spec
    QueryDef("q_ivf_quantized", ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val (cents, assigned) = ivfIndex(s, d)
      Similarity.ivfTopKAllQuantized(assigned,
        emb.where(col("vec_id") < 100), 10, cents, nprobe = 16, refine = 200)
    }),
      // exact under full-coverage shortlist ⇒ the q_ivf_topk_multi replay
      () => ("WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings), " +
        "q AS (SELECT vec_id AS q_id, emb AS q_emb FROM e WHERE vec_id < 100), " +
        "p AS (SELECT q_id, vec_id, round(list_cosine_similarity(emb, q_emb), 4) AS c, " +
        "CAST(row_number() OVER (PARTITION BY q_id " +
        "ORDER BY round(list_cosine_similarity(emb, q_emb), 4) DESC, vec_id ASC) AS INT) AS rk " +
        "FROM e, q WHERE vec_id <> q_id) " +
        "SELECT q_id, vec_id, c AS cos, rk FROM p WHERE rk <= 10")),
    // hard-negative mining for contrastive training: nearest
    // DIFFERENT-label vectors per anchor, served from the same IVF index
    // (nprobe = all cells ⇒ exact, so DuckDB replays it)
    QueryDef("q_hard_negatives", ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val (cents, assigned) = ivfIndex(s, d)
      Similarity.hardNegatives(assigned, emb.select(col("vec_id"), col("label")),
        emb.where(col("vec_id") < 100), k = 5, cents, nprobe = 16)
    }),
      // the q_ivf_topk_multi replay with the label inequality inside the
      // candidate set (filter BEFORE ranking): k nearest negatives exactly
      () => ("WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, label " +
        "FROM embeddings), " +
        "q AS (SELECT vec_id AS q_id, emb AS q_emb, label AS q_lab " +
        "FROM e WHERE vec_id < 100), " +
        "p AS (SELECT q_id, vec_id AS neg_id, e.label AS neg_label, " +
        "round(list_cosine_similarity(emb, q_emb), 4) AS c, " +
        "CAST(row_number() OVER (PARTITION BY q_id " +
        "ORDER BY round(list_cosine_similarity(emb, q_emb), 4) DESC, vec_id ASC) " +
        "AS INT) AS rk " +
        "FROM e, q WHERE vec_id <> q_id AND e.label <> q_lab) " +
        "SELECT q_id, neg_id, neg_label, c AS cos, rk FROM p WHERE rk <= 5")),
    // margin-criterion pair mining (ratio margin, "max" strategy): probes
    // = every 7th vector, corpus = the rest; exact kNN regime so DuckDB
    // replays the whole criterion. minMargin 1.0 keeps pairs at least as
    // close as both endpoints' usual top-4 neighbourhoods.
    QueryDef("q_margin_knn", ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.marginMine(emb.where(col("vec_id") % 7 =!= 0),
        emb.where(col("vec_id") % 7 === 0), k = 4, minMargin = 1.0)
    }),
      // full margin-criterion replay: exact top-4 forward (probe → corpus),
      // neighbourhood SUMS of rounded cosines (grid-exact — the marginMine
      // numeric-determinism note), ratio margin 2k·cos/(s_fwd+s_bwd) on the
      // rank-1 pair
      () => ("WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings), " +
        "a AS (SELECT vec_id AS q_id, emb AS q_emb FROM e WHERE vec_id % 7 = 0), " +
        "b AS (SELECT vec_id, emb FROM e WHERE vec_id % 7 <> 0), " +
        "fp AS (SELECT q_id, vec_id, round(list_cosine_similarity(emb, q_emb), 4) AS cos, " +
        "CAST(row_number() OVER (PARTITION BY q_id " +
        "ORDER BY round(list_cosine_similarity(emb, q_emb), 4) DESC, vec_id ASC) AS INT) AS rk " +
        "FROM b, a) , " +
        "fwd AS (SELECT * FROM fp WHERE rk <= 4), " +
        "af AS (SELECT q_id, round(sum(cos), 4) AS s_fwd FROM fwd GROUP BY q_id), " +
        "cand AS (SELECT DISTINCT vec_id FROM fwd), " +
        "bp AS (SELECT b.vec_id AS vec_id, a.q_id AS p_id, " +
        "round(list_cosine_similarity(a.q_emb, b.emb), 4) AS cos, " +
        "CAST(row_number() OVER (PARTITION BY b.vec_id " +
        "ORDER BY round(list_cosine_similarity(a.q_emb, b.emb), 4) DESC, a.q_id ASC) AS INT) AS rk " +
        "FROM b JOIN cand USING (vec_id), a), " +
        "ab AS (SELECT vec_id, round(sum(cos), 4) AS s_bwd FROM bp WHERE rk <= 4 GROUP BY vec_id) " +
        "SELECT f.q_id, f.vec_id, f.cos, af.s_fwd, ab.s_bwd, " +
        "round(8 * f.cos / (af.s_fwd + ab.s_bwd), 4) AS margin " +
        "FROM fwd f JOIN af USING (q_id) JOIN ab USING (vec_id) " +
        "WHERE f.rk = 1 AND round(8 * f.cos / (af.s_fwd + ab.s_bwd), 4) >= 1.0")),
    // k-occurrence (hubness) report over the same exact kNN frame
    QueryDef("q_hubness", ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.hubness(Similarity.knnAllBrute(
        emb.where(col("vec_id") % 7 =!= 0),
        emb.where(col("vec_id") % 7 === 0), k = 4))
    }),
      // k-occurrence counts over the same exact forward kNN frame
      () => ("WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings), " +
        "a AS (SELECT vec_id AS q_id, emb AS q_emb FROM e WHERE vec_id % 7 = 0), " +
        "b AS (SELECT vec_id, emb FROM e WHERE vec_id % 7 <> 0), " +
        "fp AS (SELECT q_id, vec_id, round(list_cosine_similarity(emb, q_emb), 4) AS cos, " +
        "CAST(row_number() OVER (PARTITION BY q_id " +
        "ORDER BY round(list_cosine_similarity(emb, q_emb), 4) DESC, vec_id ASC) AS INT) AS rk " +
        "FROM b, a) " +
        "SELECT vec_id, count(*) AS hits, min(rk) AS best_rk, " +
        "round(sum(cos), 4) AS sum_cos FROM fp WHERE rk <= 4 GROUP BY vec_id")),
    // contrastive triplets: nearest same-label positive + nearest
    // different-label negative per anchor, with the cosine margin
    QueryDef("q_triplets", ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val (cents, assigned) = ivfIndex(s, d)
      Similarity.contrastiveTriplets(assigned,
        emb.select(col("vec_id"), col("label")),
        emb.where(col("vec_id") < 100), cents, nprobe = 16)
    }),
      // the q_hard_negatives replay twice (label =, label <>), top-1 each,
      // inner-joined per anchor; margin over the rounded cosines
      () => ("WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, label " +
        "FROM embeddings), " +
        "q AS (SELECT vec_id AS q_id, emb AS q_emb, label AS q_lab " +
        "FROM e WHERE vec_id < 100), " +
        "p AS (SELECT q_id, vec_id, e.label AS lab, q_lab, " +
        "round(list_cosine_similarity(emb, q_emb), 4) AS c " +
        "FROM e, q WHERE vec_id <> q_id), " +
        "pos AS (SELECT q_id, vec_id AS pos_id, c AS pos_cos FROM " +
        "(SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY c DESC, " +
        "vec_id ASC) AS rk FROM p WHERE lab = q_lab) WHERE rk = 1), " +
        "neg AS (SELECT q_id, vec_id AS neg_id, c AS neg_cos FROM " +
        "(SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY c DESC, " +
        "vec_id ASC) AS rk FROM p WHERE lab <> q_lab) WHERE rk = 1) " +
        "SELECT q_id, pos_id, pos_cos, neg_id, neg_cos, " +
        "round(pos_cos - neg_cos, 4) AS margin " +
        "FROM pos JOIN neg USING (q_id)")),
    QueryDef("q_quantize", ((s, d) =>
      Similarity.quantizeInt8Stats(Tables.embeddings(s, d))),
      // quantizer = floor(x/scale + 0.5), deliberately not round(): engine
      // round() tie rules differ, floor is bit-identical everywhere
      () => ("WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
        "m AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS ma FROM e), " +
        "s AS (SELECT vec_id, v, ma / 127.0 AS sc FROM m " +
        "WHERE ma > 0 AND NOT isnan(ma) AND NOT isinf(ma)), " +
        "q AS (SELECT vec_id, sc, v, " +
        "list_transform(v, x -> floor(x / sc + 0.5) * sc) AS r FROM s), " +
        "er AS (SELECT vec_id, sc, " +
        "list_max(list_transform(range(len(v)), i -> abs(v[i+1] - r[i+1]))) AS mx, " +
        "list_sum(list_transform(range(len(v)), i -> (v[i+1] - r[i+1]) * (v[i+1] - r[i+1]))) " +
        "/ len(v) AS ms FROM q) " +
        "SELECT vec_id, round(sc, 6) AS scale, round(mx, 6) AS max_err, " +
        "round(sqrt(ms), 6) AS rmse FROM er")),
    // END-TO-END text semantic dedup, hash-verified: raw documents →
    // hashed vectors → ARGMAX-blocked SemDeDup decision, every stage
    // deterministic so the whole chain oracles. Argmax, not sign,
    // blocking: hashed count vectors are mostly zeros, so sign bits
    // collapsed ~everything into one mega-block and the query benched
    // 8.5 s at sf0.1 (the N² trap the blocking exists to avoid)
    QueryDef("q_semdedup_text", ((s, d) =>
      Similarity.semanticDedupFlagsArgmax(
        TextAnalysis.hashEmbed(Tables.documents(s, d), dim = 64),
        minCos = 0.9)),
      // the q_hash_embed CTEs densified over a range(64) grid, then the
      // q_semdedup sign-block/pairwise replay at vec_id = doc_id
      () => semdedupTextSql("")),
    // blocking-degeneracy telemetry for the text-dedup blocking: the
    // Σblock²/N² a dedup decision WOULD pay, measured by aggregation
    // alone before any pair is formed (the all-ones sign-block trap,
    // caught for the price of one groupBy)
    QueryDef("q_block_report", ((s, d) =>
      Similarity.blockOccupancy(Similarity.argmaxBlocked(
        TextAnalysis.hashEmbed(Tables.documents(s, d), dim = 64)))),
      // block histogram aggregates over the same argmax-blocked assignment
      () => (s"WITH ${argmaxBlockedCtes(64)}, " +
        "cnt AS (SELECT block, count(*) AS c FROM b GROUP BY block) " +
        "SELECT CAST(count(*) AS BIGINT) AS n_blocks, " +
        "CAST(sum(c) AS BIGINT) AS n_vecs, " +
        "CAST(max(c) AS BIGINT) AS max_block, " +
        "CAST(sum(c*c) AS BIGINT) AS sum_block_sq, " +
        "round(CAST(sum(c*c) AS DOUBLE) / (CAST(sum(c) AS DOUBLE) * sum(c)), 6) AS nsq_ratio, " +
        "round(CAST(max(c) AS DOUBLE) * max(c) / CAST(sum(c*c) AS DOUBLE), 4) AS max_share " +
        "FROM cnt")),
    // per-label class centroids: element-wise mean pooling of embeddings
    // in long (label, n, dim, m) format — the compare gate hashes scalar
    // columns only, and the long form skips the array-reassembly shuffle
    QueryDef("q_embed_pool", ((s, d) =>
      Similarity.meanPoolLong(Tables.embeddings(s, d), col("label"))
        .select(col("grp").as("label"), col("n"),
          col("i").as("dim"), round(col("m"), 6).as("m"))),
      // element-wise mean via aligned unnest/subscripts; means rounded to 6
      // decimals (cross-engine sum order); long format — one row per
      // (label, dim) — because the compare gate hashes scalar cells only
      () => ("WITH e AS (SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS x, " +
        "generate_subscripts(embedding, 1) AS i FROM embeddings) " +
        "SELECT label, count(*) AS n, CAST(i - 1 AS INT) AS dim, " +
        "round(avg(x), 6) AS m FROM e GROUP BY label, i")),
    // population covariance of the embedding table in long (i, j, cov)
    // form: one moment-sums scan (shuffle = (d²+d+1) partials per
    // partition, never N), then d²-row algebra — the statistics half of
    // PCA/whitening (pcaTop / pcaWhiten, spec-pinned driver-side eigen)
    QueryDef("q_covariance", ((s, d) =>
      Similarity.covarianceLong(Tables.embeddings(s, d), dim = 64)),
      // covariance replay: the (vec_id, i, x) long grid self-joined on
      // vec_id — cov(i,j) = E[xy] - E[x]E[y], population form, rounded 6
      () => COVARIANCE_SQL),
    // product-quantization ANN: m=8 nibble codes per 64-dim vector
    // (64x compression — the RAM-resident 100 TB store layout), ADC
    // top-10 for query vec 0. Trains LIVE; the oracle replays encode +
    // ADC under the PINNED sf0.01 codebooks (PQ_CODEBOOK_PINNED), so
    // trainer drift flips the row red. Recall vs brute force stays
    // spec-asserted
    QueryDef("q_pq_topk", ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val cb = Similarity.pqTrain(emb, m = 8, k = 16)
      val q = emb.where(col("vec_id") === 0L)
        .select(col("embedding").cast("array<double>"))
        .head().getSeq[Double](0).toArray
      Similarity.pqTopK(
        Similarity.pqEncode(emb.where(col("vec_id") =!= 0L), cb), cb, q, 10)
    }),
      // PQ encode + asymmetric-distance top-k replayed off the PINNED
      // sf0.01 codebooks (k-means training stays exempt; see
      // PQ_CODEBOOK_PINNED)
      () => pqTopKSql),
    // the FAISS layout end-to-end: one standing (vec_id, cell, codes)
    // table bucketed by cell; probe -> ADC -> exact rescore. At full
    // coverage (nprobe = kCells, shortlist >= corpus) this IS brute
    // force — which is what lets the driver hash-oracle it; production
    // dials nprobe/shortlist down and pays only recall
    QueryDef("q_ivfpq_topk", ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val rest = emb.where(col("vec_id") =!= 0L)
      val name = IndexTables.ident("ivfpqr", rest)
      val (cents, cbs, idx) =
        Similarity.ivfPqIndex(rest, kCells = 8, m = 8, kCodes = 16, name)
      val q = emb.where(col("vec_id") === 0L)
        .select(col("embedding").cast("array<double>"))
        .head().getSeq[Double](0).toArray
      Similarity.ivfPqTopK(idx, rest, cents, cbs, q, 10, nprobe = 8,
        shortlist = 4096)
    }),
      // full-coverage IVF-PQ ≡ brute force after the exact rescore — the
      // q_ivf_topk replay verbatim
      () => ("WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings), " +
        "q AS (SELECT emb AS q_emb FROM e WHERE vec_id = 0) " +
        "SELECT vec_id, round(list_cosine_similarity(emb, q_emb), 4) AS cos " +
        "FROM e, q WHERE vec_id <> 0 ORDER BY cos DESC, vec_id ASC LIMIT 10")),
    // the production two-stage form: ADC shortlist (100) -> exact
    // rescore of only those rows (measured 0.5 -> 0.9 recall@10 here).
    // Oracled off the pinned codebooks like q_pq_topk
    QueryDef("q_pq_refined", ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val cb = Similarity.pqTrain(emb, m = 8, k = 16)
      val q = emb.where(col("vec_id") === 0L)
        .select(col("embedding").cast("array<double>"))
        .head().getSeq[Double](0).toArray
      val rest = emb.where(col("vec_id") =!= 0L)
      Similarity.pqTopKRefined(Similarity.pqEncode(rest, cb), rest, cb,
        q, 10, shortlist = 100)
    }),
      // the two-stage form: pinned-codebook ADC shortlist-100, exact
      // cosine rescore of only those rows
      () => pqRefinedSql),
    // embedding-store sanity gate: per-vector norm, NaN/zero/ragged
    // flags, norm z-score vs the corpus — the screen that runs BEFORE
    // any vector reaches an ANN index
    QueryDef("q_vec_quality", ((s, d) =>
      Similarity.vectorQuality(Tables.embeddings(s, d), dim = 64)),
      // vector sanity gate replay: norm/NaN per vector + one-row corpus
      // stats; flag decisions run on the ROUNDED z/norm grid in both
      // engines so float-sum order can't flip a threshold
      () => ("WITH base AS (SELECT vec_id, CAST(len(embedding) AS BIGINT) AS n_dims, " +
        "sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), " +
        "CAST(embedding AS DOUBLE[]))) AS nrm, " +
        "len(list_filter(embedding, x -> isnan(x))) > 0 AS has_nan " +
        "FROM embeddings), " +
        "stats AS (SELECT avg(nrm) AS mu, stddev_pop(nrm) AS sigma FROM base " +
        "WHERE NOT has_nan AND n_dims = 64 AND nrm > 0), " +
        "z AS (SELECT vec_id, n_dims, has_nan, round(nrm, 4) AS norm, " +
        "round(CASE WHEN sigma > 0 THEN (nrm - mu) / sigma ELSE 0.0 END, 4) AS z " +
        "FROM base, stats) " +
        "SELECT vec_id, n_dims, has_nan, norm, z, " +
        "(has_nan OR n_dims <> 64 OR norm = 0.0 OR abs(z) > 3.0) AS flag FROM z")),
    // incremental covariance maintenance: the base corpus's moment sums
    // STAND as a (d²+d+1)-row artifact, the day's increment is the only
    // thing scanned, and the merged covariance must equal a full-corpus
    // rebuild — the oracle IS the full q_covariance replay
    QueryDef("q_covariance_incr", ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val base = emb.where(col("vec_id") % 10 < 8)
      val name = IndexTables.ident("moments64", emb)
      Similarity.covarianceFromSums(
        Similarity.covarianceMerge(
          Similarity.momentsTable(s, base, 64, name),
          Similarity.momentSums(emb.where(col("vec_id") % 10 >= 8), 64))
          .localCheckpoint(true), 64)
    }),
      // incremental maintenance contract: merged base+increment moments
      // must reproduce the full-corpus covariance — the oracle IS the
      // full replay
      () => COVARIANCE_SQL),
  )
}
