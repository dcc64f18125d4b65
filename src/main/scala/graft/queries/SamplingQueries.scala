package graft
package queries

import org.apache.spark.sql.functions._
import graft.ops._
import Shared._

/** Queries over `ops.Sampling`. */
object SamplingQueries {

  /** The q_mix_solve recipe: 4 weighted domains under a 2-epoch cap
    * (Seq, not Map — the oracle interpolates it in a deterministic
    * order). Shared by the query and its oracle SQL so the weights
    * cannot drift between engines (the QUALITY_W pattern).
    */
  private val MIX_SOLVE_W: Seq[(String, Double)] =
    Seq("src0" -> 0.4, "src1" -> 0.3, "src2" -> 0.2, "src3" -> 0.1)

  private val CURRICULUM_STAGES = 4

  /** q_domain_mix / q_heavy_hitters parameters — shared constants so the
    * oracle SQL below interpolates exactly what the Spark entries run
    * (the QUALITY_W / LANG_PROFILES convention).
    */
  private val MIX_BUDGETS = Map("src0" -> 500L, "src1" -> 100L)

  private val MIX_DEFAULT_BUDGET = 300L

  private val MIX_RATE = 0.6

  private val TEMP_ALPHA = 0.5

  private val TEMP_TOTAL = 200L

  private val PPL_RATES = Seq(1.0, 0.8, 0.5, 0.25, 0.1)

  val all: Seq[QueryDef] = Seq(
    // perplexity-bucket mixing: quintile buckets over the unigram
    // surprisal, keep-rate falling with weirdness (the perplexity-filter
    // recipe as one declarative decision pass)
    QueryDef("q_ppl_mix", ((s, d) =>
      Sampling.perplexityMix(
        TextAnalysis.surprisalScores(Tables.documents(s, d))
          .select(col("doc_id"), col("avg_surprisal")),
        "doc_id", "avg_surprisal", PPL_RATES)),
      // the q_surprisal chain + a distinct-score cumulative distribution
      // (ROWS frame explicit; the score dictionary has no peer rows) +
      // per-bucket hash thresholds interpolated from the shared constants
      () => {
        val caseThr = PPL_RATES.zipWithIndex.map { case (r, i) =>
          s"WHEN ${i + 1} THEN '${ops.Sampling.hexThreshold(r)}'"
        }.mkString(" ")
        s"WITH terms AS (SELECT doc_id, unnest($TOKS) AS word FROM documents), " +
          "tf AS (SELECT word, count(*) AS cnt FROM terms GROUP BY word), " +
          "n AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n_total FROM tf), " +
          "s AS (SELECT doc_id, round(avg(-ln(cnt / n_total)), 4) AS avg_surprisal " +
          "FROM terms JOIN tf USING (word), n GROUP BY doc_id), " +
          "cnts AS (SELECT avg_surprisal, count(*) AS c FROM s GROUP BY 1), " +
          "na AS (SELECT CAST(sum(c) AS DOUBLE) AS n_all FROM cnts), " +
          "cum AS (SELECT avg_surprisal, c, sum(c) OVER (ORDER BY avg_surprisal " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM cnts), " +
          s"b AS (SELECT avg_surprisal, CAST(floor((cum - c) * ${PPL_RATES.length} " +
          "/ n_all) AS INT) + 1 AS bucket FROM cum, na) " +
          "SELECT s.doc_id, s.avg_surprisal, b.bucket " +
          "FROM s JOIN b USING (avg_surprisal) " +
          "WHERE '0' || substring(md5('ppl' || CAST(doc_id AS VARCHAR)), 1, 8) < " +
          s"CASE b.bucket $caseThr END"
      }),
    // ---- deterministic sampling (hash-based: retry-stable, engine-
    // reproducible, pushed down to the scan — no RNG state) ----
    QueryDef("q_hash_sample", ((s, d) =>
      Sampling.hashSample(Tables.documents(s, d), "doc_id", 0.1)
        .select("doc_id", "lang")),
      () => (s"SELECT doc_id, lang FROM documents WHERE $HASHKEY < " +
        s"'${ops.Sampling.hexThreshold(0.1)}'")),
    QueryDef("q_stratified_sample", ((s, d) =>
      Sampling.stratifiedHashSample(Tables.documents(s, d), "lang", "doc_id",
        Map("en" -> 0.5, "de" -> 0.25), defaultRate = 0.05)
        .groupBy("lang").agg(count(lit(1)).as("cnt"))),
      () => (s"SELECT lang, count(*) AS cnt FROM documents WHERE $HASHKEY < " +
        s"CASE WHEN lang = 'en' THEN '${ops.Sampling.hexThreshold(0.5)}' " +
        s"WHEN lang = 'de' THEN '${ops.Sampling.hexThreshold(0.25)}' " +
        s"ELSE '${ops.Sampling.hexThreshold(0.05)}' END GROUP BY lang")),
    QueryDef("q_hash_split", ((s, d) =>
      Sampling.hashSplit(Tables.documents(s, d), "doc_id", 0.8, 0.1)
        .groupBy("split").agg(count(lit(1)).as("cnt"))),
      () => (s"WITH h AS (SELECT $HASHKEY AS k FROM documents) " +
        s"SELECT CASE WHEN k < '${ops.Sampling.hexThreshold(0.8)}' THEN 'train' " +
        s"WHEN k < '${ops.Sampling.hexThreshold(0.8 + 0.1)}' THEN 'valid' " +
        "ELSE 'test' END AS split, count(*) AS cnt FROM h GROUP BY 1")),
    // exact-k weighted without-replacement draw (A-ES exponential race):
    // 20 docs per source, length-weighted — the "exactly k, prefer long
    // docs, reproducibly" quota form next to the fraction samplers
    QueryDef("q_weighted_sample", ((s, d) =>
      Sampling.weightedSample(Tables.documents(s, d), "source", "doc_id",
        "n_chars", k = 20)),
      // A-ES replay: the same 32-bit md5 uniform, exponential clock, and
      // per-source rank (clock asc, id asc)
      () => ("WITH c AS (SELECT source, doc_id, " +
        "-ln((CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) " +
        "AS UBIGINT) + 0.5) / 4294967296.0) / n_chars AS clock " +
        "FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0), " +
        "r AS (SELECT source, doc_id, clock, CAST(row_number() OVER " +
        "(PARTITION BY source ORDER BY clock ASC, doc_id ASC) AS INT) AS rn " +
        "FROM c) " +
        "SELECT source, doc_id, round(clock, 4) AS clock, rn " +
        "FROM r WHERE rn <= 20")),
    // importance resampling: draw 100 non-English docs whose length
    // histogram tracks the English reference — the q_drift fix, composed
    // from the stored bucketCounts artifact and the A-ES race
    QueryDef("q_resample", ((s, d) => {
      val docs = Tables.documents(s, d)
      val edges = Seq(150.0, 250.0, 350.0, 450.0)
      Sampling.matchDistribution(docs.where(col("lang") =!= "en"),
        TextAnalysis.bucketCounts(docs.where(col("lang") === "en"),
          "n_chars", edges),
        "n_chars", edges, k = 100, idCol = "doc_id")
    }),
      // importance-resampling replay: spine-complete bucket counts both
      // sides, smoothed likelihood-ratio weights, the A-ES clock race
      () => {
        val bexpr = "CAST(n_chars >= 150.0 AS INT) + CAST(n_chars >= 250.0 AS INT) + " +
          "CAST(n_chars >= 350.0 AS INT) + CAST(n_chars >= 450.0 AS INT)"
        "WITH spine AS (SELECT CAST(range AS INT) AS bucket FROM range(5)), " +
          s"refc AS (SELECT spine.bucket, CAST(coalesce(cnt, 0) AS BIGINT) AS ref_cnt " +
          s"FROM spine LEFT JOIN (SELECT $bexpr AS bucket, count(*) AS cnt " +
          "FROM documents WHERE lang = 'en' AND n_chars IS NOT NULL GROUP BY 1) r USING (bucket)), " +
          s"curc AS (SELECT spine.bucket, CAST(coalesce(cnt, 0) AS BIGINT) AS cur_cnt " +
          s"FROM spine LEFT JOIN (SELECT $bexpr AS bucket, count(*) AS cnt " +
          "FROM documents WHERE lang <> 'en' AND n_chars IS NOT NULL GROUP BY 1) c USING (bucket)), " +
          "w AS (SELECT refc.bucket, " +
          "((ref_cnt + 0.5) / (rt.rn + 2.5)) / ((cur_cnt + 0.5) / (ct.cn + 2.5)) AS w " +
          "FROM refc JOIN curc ON refc.bucket = curc.bucket, " +
          "(SELECT sum(ref_cnt) AS rn FROM refc) rt, " +
          "(SELECT sum(cur_cnt) AS cn FROM curc) ct), " +
          s"d AS (SELECT doc_id, $bexpr AS bucket FROM documents " +
          "WHERE lang <> 'en' AND n_chars IS NOT NULL), " +
          "cl AS (SELECT doc_id, " +
          "-ln((CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) " +
          "AS UBIGINT) + 0.5) / 4294967296.0) / w AS clock " +
          "FROM d JOIN w USING (bucket)), " +
          "r AS (SELECT doc_id, clock FROM cl ORDER BY clock, doc_id LIMIT 100) " +
          "SELECT doc_id, round(clock, 4) AS clock FROM r"
      }),
    // domain mixing to per-source token budgets: the prefilter rate keeps
    // ~15 of each source's 25 docs (~450 tokens) ahead of the 100-500
    // token budgets, so the exact-trim window runs over a budget-sized set
    // (the 100 TB contract) while still exercising the budget boundary
    QueryDef("q_domain_mix", ((s, d) =>
      Sampling.tokenBudgetMix(Tables.documents(s, d), "source", "doc_id",
        budgets = MIX_BUDGETS, defaultBudget = MIX_DEFAULT_BUDGET,
        prefilterRates = Map.empty, defaultPrefilterRate = MIX_RATE)),
      // thresholds/budgets interpolated from the same constants as the
      // Spark query; explicit ROWS frame on both sides
      () => (s"WITH f AS (SELECT doc_id, source, text FROM documents " +
        s"WHERE $HASHKEY < '${ops.Sampling.hexThreshold(MIX_RATE)}'), " +
        s"t AS (SELECT doc_id, source, len($TOKS) AS n, $HASHKEY AS hk FROM f), " +
        "c AS (SELECT doc_id, source, n, CAST(sum(n) OVER (PARTITION BY source " +
        "ORDER BY hk, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
        "AS BIGINT) AS cum FROM t) " +
        "SELECT source, doc_id, CAST(n AS INT) AS n_tokens, cum AS cum_tokens " +
        "FROM c WHERE cum <= CASE " +
        MIX_BUDGETS.map { case (src, b) =>
          s"WHEN source = '$src' THEN $b "
        }.mkString +
        s"ELSE $MIX_DEFAULT_BUDGET END")),
    // stride-scheduled mixture order: src0 at double weight, src1 halved
    QueryDef("q_interleave_order", ((s, d) =>
      Sampling.interleavedOrder(Tables.documents(s, d), "source", "doc_id",
        weights = Map("src0" -> 2.0, "src1" -> 0.5))),
      // per-source (hash, id) rank; vtime = rank / weight — identical
      // integer-by-literal division on both engines
      () => ("WITH r AS (SELECT source, doc_id, " +
        "CAST(row_number() OVER (PARTITION BY source " +
        "ORDER BY '0' || substring(md5('ord' || CAST(doc_id AS VARCHAR)), 1, 8), doc_id) " +
        "AS INT) AS stratum_rank FROM documents) " +
        "SELECT source, doc_id, stratum_rank, " +
        "CAST(stratum_rank AS DOUBLE) / (CASE WHEN source = 'src0' THEN 2.0 " +
        "WHEN source = 'src1' THEN 0.5 ELSE 1.0 END) AS vtime FROM r")),
    // temperature-flattened domain mixture (alpha = 0.5 over source counts)
    QueryDef("q_temp_mix", ((s, d) =>
      Sampling.temperatureMix(Tables.documents(s, d), "source", "doc_id",
        alpha = TEMP_ALPHA, totalRows = TEMP_TOTAL)),
      // weight rounded to 6 decimals BEFORE the target arithmetic on both
      // sides: pow is the one step IEEE doesn't require exactly rounded
      () => (s"WITH c AS (SELECT source, count(*) AS c FROM documents GROUP BY source), " +
        s"p AS (SELECT source, c, pow(c, $TEMP_ALPHA) AS pw FROM c), " +
        "t AS (SELECT sum(pw) AS tot FROM p), " +
        "g AS (SELECT source, c, round(pw / tot, 6) AS weight FROM p, t), " +
        "n AS (SELECT source, weight, least(c, " +
        s"CAST(floor(weight * $TEMP_TOTAL + 0.5) AS BIGINT)) AS n_target FROM g), " +
        "r AS (SELECT source, doc_id, CAST(row_number() OVER " +
        s"(PARTITION BY source ORDER BY $HASHKEY, doc_id) AS INT) AS rk " +
        "FROM documents) " +
        "SELECT r.source, r.doc_id, rk, n.weight, n.n_target " +
        "FROM r JOIN n USING (source) WHERE rk <= n_target")),
    // fractional-epoch upsampling: 2.5 epochs of src0, 0.3 of src1, src2
    // dropped, everything else 1 — deterministic extra-copy choice
    QueryDef("q_epoch_mix", ((s, d) =>
      Sampling.epochUpsample(Tables.documents(s, d), "source",
          Map("src0" -> 2.5, "src1" -> 0.3, "src2" -> 0.0),
          defaultEpochs = 1.0, salt = "ep")
        .select(col("source"), col("doc_id"), col("epoch"))),
      // epoch upsampling: whole-epoch copies + a hash-fraction extra copy,
      // replicated via range(n) (same salted md5 key as the Spark side)
      () => {
        val thr05 = ops.Sampling.hexThreshold(0.5)
        val thr03 = ops.Sampling.hexThreshold(0.3)
        val thr0 = ops.Sampling.hexThreshold(0.0)
        "WITH e AS (SELECT source, doc_id, " +
          "CASE WHEN source = 'src0' THEN 2 WHEN source = 'src1' THEN 0 " +
          "WHEN source = 'src2' THEN 0 ELSE 1 END + " +
          "CASE WHEN ('0' || substring(md5('ep' || CAST(doc_id AS VARCHAR)), 1, 8)) < " +
          s"(CASE WHEN source = 'src0' THEN '$thr05' WHEN source = 'src1' THEN '$thr03' " +
          s"WHEN source = 'src2' THEN '$thr0' ELSE '$thr0' END) THEN 1 ELSE 0 END AS n " +
          "FROM documents) " +
          "SELECT source, doc_id, CAST(unnest(range(n)) AS INT) AS epoch " +
          "FROM e WHERE n > 0"
      }),
    // reproducible training-order shuffle into 16 hash-range shards
    QueryDef("q_shuffle_order", ((s, d) =>
      Sampling.deterministicShuffle(Tables.documents(s, d), "doc_id")),
      // shard = leading hash hex digit ⇒ (shard, pos) replays exact global
      // hash order without a global window
      () => (s"WITH h AS (SELECT doc_id, $HASHKEY AS hk FROM documents), " +
        "s AS (SELECT doc_id, hk, CAST(strpos('0123456789abcdef', " +
        "substring(hk, 2, 1)) - 1 AS INT) AS shard FROM h) " +
        "SELECT doc_id, shard, CAST(row_number() OVER " +
        "(PARTITION BY shard ORDER BY hk, doc_id) AS INT) AS pos FROM s")),
    // Hamilton largest-remainder apportionment of a 137-draw budget
    // across sources by char mass — exact integers end to end
    QueryDef("q_apportion", ((s, d) =>
      Sampling.apportion(Tables.documents(s, d).groupBy("source")
        .agg(sum("n_chars").cast("long").as("c")), total = 137L)),
      // Hamilton apportionment replay: integer div/mod quota + largest-
      // remainder rank — every value exact, no rounding anywhere
      () => ("WITH cnt AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS c " +
        "FROM documents GROUP BY 1), " +
        "tot AS (SELECT greatest(coalesce(sum(c), 0), 1) AS ctot FROM cnt), " +
        "b AS (SELECT source, c, (137 * c) // ctot AS base, " +
        "(137 * c) % ctot AS rem FROM cnt, tot), " +
        "lf AS (SELECT 137 - coalesce(sum(base), 0) AS lft FROM b), " +
        "r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, " +
        "source ASC) AS rn FROM b) " +
        "SELECT source, c, CAST(base + CASE WHEN rn <= lft THEN 1 " +
        "ELSE 0 END AS BIGINT) AS quota FROM r, lf")),
    // the exact-quota draw: per-stratum salted-hash rank ≤ quota —
    // Σ rows = 137 exactly, stratum shares within 1 of proportional
    QueryDef("q_apportion_draw", ((s, d) =>
      Sampling.apportionedSample(Tables.documents(s, d), "source",
          "doc_id", total = 137L)
        .select(col("doc_id"), col("source"))),
      // the draw: same quota chain over row counts, then the salted
      // 32-bit hash clock rank within each stratum (hashKey verbatim)
      () => ("WITH cnt AS (SELECT source, CAST(count(*) AS BIGINT) AS c " +
        "FROM documents GROUP BY 1), " +
        "tot AS (SELECT greatest(coalesce(sum(c), 0), 1) AS ctot FROM cnt), " +
        "b AS (SELECT source, c, (137 * c) // ctot AS base, " +
        "(137 * c) % ctot AS rem FROM cnt, tot), " +
        "lf AS (SELECT 137 - coalesce(sum(base), 0) AS lft FROM b), " +
        "r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, " +
        "source ASC) AS rn FROM b), " +
        "q AS (SELECT source, base + CASE WHEN rn <= lft THEN 1 ELSE 0 " +
        "END AS quota FROM r, lf), " +
        "rk AS (SELECT d.doc_id, d.source, row_number() OVER " +
        "(PARTITION BY d.source ORDER BY '0' || " +
        "substring(md5('apportion' || CAST(d.doc_id AS VARCHAR)), 1, 8), " +
        "d.doc_id) AS rn FROM documents d) " +
        "SELECT rk.doc_id, rk.source FROM rk JOIN q USING (source) " +
        "WHERE rk.rn <= q.quota")),
    // token-budget mixture solve: the largest run honoring a 4-domain
    // recipe under a 2-epoch repetition cap (closed-form waterline)
    QueryDef("q_mix_solve", ((s, d) =>
      Sampling.mixtureSolve(
        Tables.documents(s, d).groupBy(col("source").as("domain"))
          .agg(sum(size(ops.Core.tokensUni(col("text")))).cast("long")
            .as("n_tokens")),
        MIX_SOLVE_W.toMap, maxEpochs = 2.0)),
      // closed-form waterline: T* = min over weighted domains of
      // maxEpochs·c_d/w_d; weights interpolated from MIX_SOLVE_W (the
      // QUALITY_W pattern), every literal CAST AS DOUBLE (the MMR
      // DECIMAL-folding lesson)
      () => {
        val vals = MIX_SOLVE_W.map { case (dom, w) =>
          s"('$dom', CAST($w AS DOUBLE))" }.mkString(", ")
        s"WITH inv AS (SELECT source AS domain, " +
          s"CAST(coalesce(sum(len($TOKS)), 0) AS BIGINT) AS n_tokens " +
          "FROM documents GROUP BY 1), " +
          s"w AS (SELECT * FROM (VALUES $vals) AS v(domain, wraw)), " +
          "ws AS (SELECT sum(wraw) AS s FROM w), " +
          "nw AS (SELECT domain, wraw / ws.s AS w FROM w, ws), " +
          "j AS (SELECT inv.domain, inv.n_tokens, coalesce(nw.w, CAST(0 AS DOUBLE)) AS w " +
          "FROM inv LEFT JOIN nw USING (domain)), " +
          "ts AS (SELECT min(CAST(2.0 AS DOUBLE) * n_tokens / w) AS tstar FROM j WHERE w > 0) " +
          "SELECT domain, n_tokens, round(w, 6) AS weight, " +
          "round(w * tstar, 4) AS alloc_tokens, " +
          "round(least(w * tstar / n_tokens, CAST(1 AS DOUBLE)), 6) AS rate, " +
          "round(w * tstar / n_tokens, 4) AS epochs FROM j, ts"
      }),
    // curriculum order: easy-to-hard stages by unigram surprisal
    // (distributed bucket fit), deterministic shard/pos replay within
    // each stage — ordered difficulty between stages, shuffled within
    QueryDef("q_curriculum", ((s, d) =>
      Sampling.curriculumOrder(
        TextAnalysis.surprisalScores(Tables.documents(s, d))
          .select(col("doc_id"), col("avg_surprisal")),
        "doc_id", "avg_surprisal", CURRICULUM_STAGES)),
      // the q_ppl_mix surprisal + strict-below bucket chain (4 stages, no
      // keep filter), then the q_shuffle_order shard/pos replay inside
      // each (stage, shard) group — salt 'cur'
      () => (s"WITH terms AS (SELECT doc_id, unnest($TOKS) AS word FROM documents), " +
        "tf AS (SELECT word, count(*) AS cnt FROM terms GROUP BY word), " +
        "n AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n_total FROM tf), " +
        "s AS (SELECT doc_id, round(avg(-ln(cnt / n_total)), 4) AS avg_surprisal " +
        "FROM terms JOIN tf USING (word), n GROUP BY doc_id), " +
        "cnts AS (SELECT avg_surprisal, count(*) AS c FROM s GROUP BY 1), " +
        "na AS (SELECT CAST(sum(c) AS DOUBLE) AS n_all FROM cnts), " +
        "cum AS (SELECT avg_surprisal, c, sum(c) OVER (ORDER BY avg_surprisal " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM cnts), " +
        s"b AS (SELECT avg_surprisal, CAST(floor((cum - c) * $CURRICULUM_STAGES " +
        "/ n_all) AS INT) + 1 AS stage FROM cum, na), " +
        "st AS (SELECT s.doc_id, s.avg_surprisal, b.stage " +
        "FROM s JOIN b USING (avg_surprisal)), " +
        "h AS (SELECT *, '0' || substring(md5('cur' || CAST(doc_id AS VARCHAR)), 1, 8) " +
        "AS hk FROM st), " +
        "sh AS (SELECT *, CAST(strpos('0123456789abcdef', substring(hk, 2, 1)) - 1 " +
        "AS INT) AS shard FROM h) " +
        "SELECT doc_id, avg_surprisal, stage, shard, " +
        "CAST(row_number() OVER (PARTITION BY stage, shard " +
        "ORDER BY hk, doc_id) AS INT) AS pos FROM sh")),
  )
}
