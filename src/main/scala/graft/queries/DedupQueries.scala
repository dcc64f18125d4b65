package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops._
import Shared._

/** Queries over `ops.Dedup`. */
object DedupQueries {

  /** The boilerplate-fixture injection q_boilerplate AND
    * q_boilerplate_incr share: a site-wide banner (every doc), a
    * half-site banner (even ids), a 3-doc line STRADDLING the
    * q_boilerplate_incr snapshot/increment split (hot only with the
    * index's counts), a 2-doc increment-local line and a 2-doc
    * snapshot-local line (both under threshold), and per-doc unique
    * footers.
    */
  private def boilerInject(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), concat(col("text"),
      lit("\nsubscribe to our newsletter"),
      when(col("doc_id") % 2 === 0, lit("\nfollow us on twitter"))
        .otherwise(lit("")),
      when(col("doc_id").isin(42L, 43L, 48L),
        lit("\ncross boundary banner")).otherwise(lit("")),
      when(col("doc_id").isin(58L, 59L), lit("\nrare increment line"))
        .otherwise(lit("")),
      when(col("doc_id") < 2, lit("\nrare pair line")).otherwise(lit("")),
      when(col("doc_id") % 3 === 0,
        concat(lit("\nunique footer "), col("doc_id").cast("string")))
        .otherwise(lit(""))).as("text"))

  /** Sorted-neighborhood near-dup clusters for `d`, persisted build-once
    * (threshold baked into the name) and shared by q_dedup_clusters and
    * q_dedup_keep. The index is keyed on the documents files, so
    * regenerating or editing the data in place rebuilds the clusters
    * instead of serving stale ones to the oracle gate.
    */
  private def snmClusters(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    IndexTables.plain(s, IndexTables.ident("snm_clusters_t90", docs))(
      Dedup.nearDupClusters(Dedup.sortedNeighborPairs(docs, threshold = 0.9)))
  }

  /** The name of the standing winnow index of every doc but each 7th,
    * built at each gram size in `ks`.
    */
  private def winnowSnapshot(s: SparkSession, d: String, ks: Int*): String = {
    val docs = Tables.documents(s, d)
    val name = IndexTables.ident("winsnap", docs)
    ks.foreach(k => Dedup.winnowIndex(docs.where(col("doc_id") % 7 =!= 0), name, k = k))
    name
  }

  /** DuckDB replay of Dedup.boilerplateScrub over the boilerInject
    * fixture (and, with `incrOnly`, of boilerplateScrubApply: the hot
    * set counts the WHOLE union — the standing index's contribution —
    * while only increment rows are emitted).
    */
  private def boilerplateSql(incrOnly: Boolean): String = {
    val filterTail = if (incrOnly) " WHERE inj.doc_id % 10 >= 8" else ""
    "WITH inj AS (SELECT doc_id, text || chr(10) || " +
      "'subscribe to our newsletter' || " +
      "CASE WHEN doc_id % 2 = 0 THEN chr(10) || 'follow us on twitter' " +
      "ELSE '' END || " +
      "CASE WHEN doc_id IN (42, 43, 48) THEN chr(10) || " +
      "'cross boundary banner' ELSE '' END || " +
      "CASE WHEN doc_id IN (58, 59) THEN chr(10) || " +
      "'rare increment line' ELSE '' END || " +
      "CASE WHEN doc_id < 2 THEN chr(10) || 'rare pair line' " +
      "ELSE '' END || " +
      "CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'unique footer ' || " +
      "doc_id ELSE '' END AS t FROM documents), " +
      "p AS (SELECT doc_id, string_split_regex(t, '\\r?\\n') AS parts " +
      "FROM inj), " +
      "l AS (SELECT doc_id, generate_subscripts(parts, 1) - 1 AS line_no, " +
      "trim(unnest(parts)) AS line FROM p), " +
      "le AS (SELECT * FROM l WHERE len(line) > 0), " +
      "hot AS (SELECT line FROM (SELECT line, count(DISTINCT doc_id) " +
      "AS nd FROM le GROUP BY 1) c WHERE nd >= 3), " +
      "keep AS (SELECT doc_id, line_no, line FROM le " +
      "WHERE line NOT IN (SELECT line FROM hot)), " +
      "nl AS (SELECT doc_id, CAST(count(*) AS INT) AS n_lines FROM le " +
      "GROUP BY doc_id), " +
      "ag AS (SELECT doc_id, CAST(count(*) AS INT) AS n_kept, " +
      "string_agg(line, chr(10) ORDER BY line_no) AS kept_text FROM keep " +
      "GROUP BY doc_id) " +
      "SELECT inj.doc_id, coalesce(nl.n_lines, 0) AS n_lines, " +
      "coalesce(ag.n_kept, 0) AS n_kept, " +
      "coalesce(ag.kept_text, '') AS text " +
      "FROM inj LEFT JOIN nl USING (doc_id) LEFT JOIN ag USING (doc_id)" +
      filterTail
  }

  /** DuckDB replay of q_minhash_lsh under the [[graft.model.SketchPins]]
    * sf0.01 literals (round-14 verdict #2, the pin_ter_r14 doctrine):
    * the multi-doc band GROUPS (singleton buckets generate no candidate
    * pairs) and the grouped docs' full 32-lane signatures are pinned;
    * the candidate pair-join, per-lane eq count, est_jaccard = m/32 and
    * the 0.2 threshold replay mechanically. The live query keeps
    * computing signatures and banding — any kernel/banding drift changes
    * its pairs or estimates and the row goes red against the pin.
    */
  private def minhashLshSql: String = {
    val groups = graft.model.SketchPins.minhashGroups.flatMap { t =>
      val Array(g, ids) = t.split(":")
      ids.split(",").map(id => s"($g, $id)")
    }.mkString(", ")
    val sigs = graft.model.SketchPins.minhashSigs.map { t =>
      val Array(id, s) = t.split(":")
      s"($id, [$s]::BIGINT[])"
    }.mkString(", ")
    s"WITH gp(gid, doc_id) AS (SELECT * FROM (VALUES $groups)), " +
      s"sg(doc_id, sig) AS (SELECT * FROM (VALUES $sigs)), " +
      "pr AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id " +
      "FROM gp a JOIN gp b ON a.gid = b.gid AND a.doc_id < b.doc_id), " +
      "eq AS (SELECT a_id, b_id, " +
      "len(list_filter(range(1, 33), i -> sa.sig[i] = sb.sig[i])) AS m " +
      "FROM pr JOIN sg sa ON sa.doc_id = pr.a_id " +
      "JOIN sg sb ON sb.doc_id = pr.b_id) " +
      "SELECT CAST(a_id AS BIGINT) AS a_id, CAST(b_id AS BIGINT) AS b_id, " +
      "m / 32.0 AS est_jaccard FROM eq WHERE m / 32.0 >= 0.2"
  }

  /** DuckDB side of q_simhash: the full sf0.01 signature pin (there is
    * no downstream join to replay in that query — the sketch IS the
    * output). The live query recomputes from scratch; drift flips red.
    */
  private def simhashSql: String = {
    val vals = graft.model.SketchPins.simhash.map { t =>
      val Array(id, s) = t.split(":"); s"($id, $s)"
    }.mkString(", ")
    s"SELECT CAST(doc_id AS BIGINT) AS doc_id, " +
      "CAST(simhash AS BIGINT) AS simhash " +
      s"FROM (VALUES $vals) AS t(doc_id, simhash)"
  }

  private val SORTED_CTES = sortedCtes("documents")

  /** Shared winnowing CTE chain (k=3, w=4 — must track the q_winnow* Spark
    * entries): gram md5-prefix hashes → window-min selection → distinct
    * (doc_id, fp) in `fps`. One definition so the fingerprint query and
    * the pair query cannot drift.
    */
  private def winnowCtes(k: Int, w: Int, sfx: String,
      from: String = "documents"): String =
    s"t$sfx AS (SELECT doc_id, $TOKS AS toks FROM $from), " +
      s"gi$sfx AS (SELECT doc_id, toks, unnest(range(len(toks) - ${k - 1})) AS i " +
      s"FROM t$sfx WHERE len(toks) >= $k), " +
      s"g$sfx AS (SELECT doc_id, i, len(toks) - ${k - 1} AS ng, " +
      s"substring(md5(array_to_string(toks[i+1:i+$k], ' ')), 1, 16) AS h FROM gi$sfx), " +
      s"m$sfx AS (SELECT doc_id, i, ng, min(h) OVER (PARTITION BY doc_id " +
      s"ORDER BY i ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING) AS fp FROM g$sfx), " +
      s"fps$sfx AS (SELECT DISTINCT doc_id, fp FROM m$sfx WHERE i <= greatest(ng - $w, 0))"

  private val WINNOW_CTES = winnowCtes(3, 4, "")

  /** The q_substring_scrub replay (Dedup.substringScrub at k=8), with an
    * optional final filter — the incremental oracle is the SAME batch
    * decision restricted to the increment's rows, and the report oracle
    * reuses the CTE chain ([[substringScrubCtes]]) under its own select.
    */
  private def substringScrubSql(finalFilter: String): String =
    s"WITH ${substringScrubCtes()} " +
      "SELECT t.doc_id, CAST(len(t.toks) AS INT) AS n_tokens, " +
      "coalesce(ag.n_kept, 0) AS n_kept, coalesce(ag.text, '') AS text " +
      s"FROM t LEFT JOIN ag USING (doc_id)$finalFilter"

  val all: Seq[QueryDef] = Seq(
    // ---- dedup (exact + sketch-based) ----
    QueryDef("q_dedup_exact", ((s, d) => Dedup.exactDedupStats(Tables.documents(s, d))),
      () => (s"SELECT lang, count(DISTINCT ${fpSql(TOKS)}) AS n_unique, " +
        "count(*) AS n_docs FROM documents GROUP BY lang")),
    // cross-source duplication-leakage matrix: which sources share exact
    // content (off-diagonal) and which duplicate internally (diagonal)
    QueryDef("q_dup_matrix", ((s, d) =>
      Dedup.sourceDupMatrix(Tables.documents(s, d))),
      // (gram, source) occupancy self-joined per 8-gram (the q_decontam
      // gram CTE idiom); diagonal = within-source multiplicity >= 2
      () => (s"WITH t AS (SELECT source, $TOKS AS toks FROM documents), " +
        "ti AS (SELECT source, toks, unnest(range(greatest(len(toks)-7, 0))) AS i FROM t), " +
        "g0 AS (SELECT source, array_to_string(toks[i+1:i+8], ' ') AS g FROM ti), " +
        "g AS (SELECT g, source, count(*) AS n FROM g0 GROUP BY g, source) " +
        "SELECT a.source AS source_a, b.source AS source_b, " +
        "count(*) AS n_shared_grams FROM g a JOIN g b ON a.g = b.g " +
        "WHERE a.source < b.source OR (a.source = b.source AND a.n >= 2) " +
        "GROUP BY 1, 2")),
    // MinHash-LSH near-dup pairs off the standing banded index. Oracled
    // since round 15 via SketchPins (band groups + signatures pinned at
    // sf0.01; pair-join/eq-count/threshold replay mechanically)
    QueryDef("q_minhash_lsh", ((s, d) =>
      Dedup.minHashLshPairs(Tables.documents(s, d), threshold = 0.2,
        indexName = Some(
          IndexTables.ident("minhash", Tables.documents(s, d))))),
      // xxhash64 sketch families, oracled since round 15 via the pin
      // doctrine (SketchPins + tools/pin_sketch_r15.scala): downstream
      // joins replay mechanically, live kernels drift → red. q_minhash_lsh
      // and q_simhash are sf0.01-pinned (check_oracle.py allowlist);
      // the media pins are sf-independent (synthetic media_id hashing).
      () => minhashLshSql),
    // 64-bit SimHash per doc — oracled since round 15 via the full
    // signature pin (the sketch IS the output; live kernel drift -> red)
    QueryDef("q_simhash", ((s, d) => Dedup.simHash(Tables.documents(s, d))),
      () => simhashSql),
    QueryDef("q_sorted_dedup", ((s, d) =>
      Dedup.sortedNeighborPairs(Tables.documents(s, d), threshold = 0.9)),
      () => s"WITH $SORTED_CTES SELECT a_id, b_id, jaccard FROM j WHERE jaccard >= 0.9"),
    // price the detector before the 100 TB run: sorted-neighbor pairs
    // scored against exact-fingerprint truth — dup-class recall is what
    // the blocking strategy trades away
    QueryDef("q_dedup_eval", ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.detectorEval(docs,
        Dedup.sortedNeighborPairs(docs, threshold = 0.9))
    }),
      // detector eval replay: the q_sorted_dedup pairs vs exact-fp truth
      // through the q_nb_prf report algebra (one definition each side)
      () => (s"WITH $SORTED_CTES, " +
        "prs AS (SELECT a_id, b_id FROM j WHERE jaccard >= 0.9), " +
        s"fps AS (SELECT doc_id, coalesce(${fpSql(TOKS)}, '') AS fp " +
        "FROM documents), " +
        "fcnt AS (SELECT fp, count(*) AS c FROM fps GROUP BY 1), " +
        "tr AS (SELECT doc_id, CASE WHEN c > 1 THEN 'dup' ELSE 'uniq' " +
        "END AS truth FROM fps JOIN fcnt USING (fp)), " +
        "fl AS (SELECT DISTINCT doc_id FROM (SELECT a_id AS doc_id " +
        "FROM prs UNION ALL SELECT b_id FROM prs) u), " +
        "pd AS (SELECT tr.truth, CASE WHEN fl.doc_id IS NULL THEN 'uniq' " +
        "ELSE 'dup' END AS pred FROM tr LEFT JOIN fl USING (doc_id)), " +
        "conf AS (SELECT truth, pred, count(*) AS n FROM pd GROUP BY 1, 2), " +
        prfTailSql("truth", "pred"))),
    QueryDef("q_ngram_jaccard", ((s, d) => {
      // deterministic candidate set: all pairs among the 20 lowest doc_ids
      val small = Tables.documents(s, d).where(col("doc_id") < 20)
      val ids = small.select(col("doc_id"))
      val pairs = ids.select(col("doc_id").as("a_id"))
        .join(ids.select(col("doc_id").as("b_id")), col("a_id") < col("b_id"))
      Dedup.ngramJaccard(small, pairs)
    }),
      () => (s"WITH t AS (SELECT doc_id, $TOKS AS toks FROM documents WHERE doc_id < 20), " +
        "s AS (SELECT doc_id, list_distinct(list_transform(range(len(toks) - 2), " +
        "i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS sh FROM t) " +
        "SELECT a.doc_id AS a_id, b.doc_id AS b_id, " +
        "round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / " +
        "greatest(len(list_distinct(a.sh || b.sh)), 1), 4) AS jaccard " +
        "FROM s a JOIN s b ON a.doc_id < b.doc_id")),
    // asymmetric containment (quote/subset detection): 15-token quotes of
    // docs 0-9 vs their sources (contained) and off-by-one controls (not)
    QueryDef("q_containment", ((s, d) => {
      val docs = Tables.documents(s, d)
      val quotes = docs.where(col("doc_id") < 10).select(
        (col("doc_id") + 100000L).as("doc_id"),
        array_join(slice(Core.tokensUni(col("text")), 1, 15), " ").as("text"))
      val corpus = docs.select(col("doc_id"), col("text")).unionByName(quotes)
      val cands = docs.where(col("doc_id") < 10).select(
          (col("doc_id") + 100000L).as("a_id"), col("doc_id").as("b_id"))
        .unionByName(docs.where(col("doc_id") < 9).select(
          (col("doc_id") + 100000L).as("a_id"),
          (col("doc_id") + 1L).as("b_id")))
      Dedup.ngramContainment(corpus, cands, threshold = 0.9)
    }),
      // containment replay: synthesized 15-token quotes, shingle-count
      // integers, scaled-integer threshold flags (no float division)
      () => (s"WITH qd AS (SELECT doc_id + 100000 AS doc_id, " +
        s"array_to_string(($TOKS)[1:15], ' ') AS text " +
        "FROM documents WHERE doc_id < 10), " +
        "c AS (SELECT doc_id, text FROM documents UNION ALL SELECT doc_id, text FROM qd), " +
        s"t AS (SELECT doc_id, $TOKS AS toks FROM c), " +
        "s AS (SELECT doc_id, list_distinct(list_transform(range(len(toks) - 2), " +
        "i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS sh FROM t), " +
        "cand AS (SELECT doc_id + 100000 AS a_id, doc_id AS b_id " +
        "FROM documents WHERE doc_id < 10 " +
        "UNION ALL SELECT doc_id + 100000, doc_id + 1 FROM documents WHERE doc_id < 9), " +
        "j AS (SELECT a_id, b_id, " +
        "CAST(len(list_intersect(a.sh, b.sh)) AS INT) AS n_inter, " +
        "CAST(len(a.sh) AS INT) AS n_a, CAST(len(b.sh) AS INT) AS n_b " +
        "FROM cand JOIN s a ON a.doc_id = a_id JOIN s b ON b.doc_id = b_id) " +
        "SELECT a_id, b_id, n_inter, n_a, n_b, " +
        "CAST(n_a > 0 AND CAST(n_inter AS BIGINT) * 10000 >= 9000 * n_a AS INT) AS a_in_b, " +
        "CAST(n_b > 0 AND CAST(n_inter AS BIGINT) * 10000 >= 9000 * n_b AS INT) AS b_in_a " +
        "FROM j")),
    // near-dup clusters: connected components over the sorted-neighborhood
    // candidate pairs (oracled via DuckDB's recursive CTE). Persisted like
    // any index — a dedup DECISION is a reusable artifact in a real
    // pipeline — and probed by q_dedup_keep instead of re-running
    // candidate generation + clustering.
    QueryDef("q_dedup_clusters", ((s, d) => snmClusters(s, d)),
      () => (s"WITH RECURSIVE $SORTED_CTES, " +
        "prs AS (SELECT a_id, b_id FROM j WHERE jaccard >= 0.9), " +
        "edges AS (SELECT a_id AS src, b_id AS dst FROM prs " +
        "UNION SELECT b_id, a_id FROM prs), " +
        "reach(id, lbl) AS (SELECT src, src FROM edges " +
        "UNION SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.id) " +
        "SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY id")),
    // the MERGE step: one survivor per near-dup cluster by QUALITY
    // (argmax logit, tie -> lowest id), singletons keep themselves
    QueryDef("q_dedup_merge", ((s, d) =>
      Dedup.canonicalPerCluster(Tables.documents(s, d), snmClusters(s, d))),
      // cluster labels (the q_dedup_clusters recursion) + singleton
      // fallback, survivor = argmax quality logit (the q_pref_pairs z), tie
      // to lowest doc_id
      () => {
        val (bias, wLog, wAvg, wStop, wNon, _) = ops.TextAnalysis.QUALITY_W
        s"WITH RECURSIVE $SORTED_CTES, " +
          "prs AS (SELECT a_id, b_id FROM j WHERE jaccard >= 0.9), " +
          "edges AS (SELECT a_id AS src, b_id AS dst FROM prs " +
          "UNION SELECT b_id, a_id FROM prs), " +
          "reach(id, lbl) AS (SELECT src, src FROM edges " +
          "UNION SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.id), " +
          "cl AS (SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY id), " +
          s"t AS (SELECT doc_id, text, $TOKS AS toks FROM documents), " +
          "f AS (SELECT doc_id, len(toks) AS n, " +
          "coalesce(list_aggregate(list_transform(toks, x -> length(x)), 'sum'), 0) / " +
          "greatest(len(toks), 1) AS avg_len, " +
          "len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is','on'], x))) / " +
          "greatest(len(toks), 1) AS stop_r, " +
          s"(length(text) - length(regexp_replace(lower(text), '$NON_ALNUM_SQL', '', 'g'))) / " +
          "greatest(length(text), 1) AS non_al FROM t), " +
          s"z AS (SELECT doc_id, ($bias) + ($wLog) * ln(1 + n) + " +
          s"($wAvg) * avg_len + ($wStop) * stop_r + ($wNon) * non_al AS z FROM f), " +
          "m AS (SELECT z.doc_id, coalesce(cl.cluster_id, z.doc_id) AS cluster_id, z.z " +
          "FROM z LEFT JOIN cl USING (doc_id)), " +
          "rk AS (SELECT *, row_number() OVER (PARTITION BY cluster_id " +
          "ORDER BY z DESC, doc_id ASC) AS rn, " +
          "count(*) OVER (PARTITION BY cluster_id) AS n_members FROM m) " +
          "SELECT cluster_id, CAST(n_members AS BIGINT) AS n_members, " +
          "doc_id AS keep_id, round(z, 4) + 0.0 AS keep_z FROM rk WHERE rn = 1"
      }),
    // sub-document span dedup: remove k-token spans duplicated across (or
    // within) documents, keeping the lowest (doc_id, offset) owner, and
    // reconstruct each document's surviving text
    QueryDef("q_span_dedup", ((s, d) =>
      Dedup.spanDedup(Tables.documents(s, d), spanTokens = 20)),
      () => (s"WITH t AS (SELECT doc_id, $TOKS AS toks FROM documents), " +
        "sp0 AS (SELECT doc_id, toks, " +
        "unnest(range(CAST(ceil(len(toks) / 20.0) AS BIGINT))) AS i FROM t), " +
        "sp AS MATERIALIZED (SELECT doc_id, CAST(i AS INT) AS span_idx, " +
        "array_to_string(toks[i*20+1 : i*20+20], ' ') AS span FROM sp0), " +
        "own AS (SELECT doc_id, span_idx, span, " +
        "row_number() OVER (PARTITION BY md5(span) ORDER BY doc_id, span_idx) AS rn FROM sp), " +
        "k AS (SELECT doc_id, CAST(count(*) AS INT) AS n_kept, " +
        "string_agg(span, ' ' ORDER BY span_idx) AS text " +
        "FROM own WHERE rn = 1 GROUP BY doc_id) " +
        "SELECT t.doc_id, CAST(ceil(len(t.toks) / 20.0) AS INT) AS n_spans, " +
        "coalesce(k.n_kept, 0) AS n_kept, coalesce(k.text, '') AS text " +
        "FROM t LEFT JOIN k USING (doc_id)")),
    // EXACT duplicated-substring removal at 8-gram resolution (Lee et al.
    // 2107.06499, relational form): first occurrence of every >=8-token
    // shared run survives, every later copy is scrubbed in place —
    // alignment-free, unlike the fixed-grid q_span_dedup
    QueryDef("q_substring_scrub", ((s, d) =>
      Dedup.substringScrub(Tables.documents(s, d), k = 8)),
      // exact k-gram substring scrub: ownership rn=1 per gram hash, covered
      // positions fused gaps-and-islands (break when pos > prev + k), kept
      // token indices = those outside every span
      () => substringScrubSql("")),
    // INCREMENTAL substring scrub: base corpus owns its grams in a
    // standing bucketed index; the increment is rewritten against
    // index ∪ own lower occurrences with batch-identical verdicts
    QueryDef("q_substring_incr", ((s, d) => {
      val docs = Tables.documents(s, d)
      val base = docs.where(col("doc_id") % 10 < 8)
      val idx = Dedup.substringIndex(base, IndexTables.ident("substr", base))
      Dedup.substringScrubApply(docs.where(col("doc_id") % 10 >= 8), idx)
    }),
      // incremental apply == the batch scrub over base ∪ increment,
      // restricted to increment rows (any drift between the standing-index
      // apply and the batch decision hash-fails)
      () => substringScrubSql(" WHERE t.doc_id % 10 >= 8")),
    // what did the scrub actually cost each source? per-source token
    // removal telemetry — the decide-before-you-train report
    QueryDef("q_scrub_report", ((s, d) =>
      Dedup.substringScrub(Tables.documents(s, d), k = 8,
          carry = Seq("source"))
        .groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum("n_tokens").as("tokens_before"),
          sum("n_kept").as("tokens_after"),
          round(lit(1.0) - sum("n_kept") / sum("n_tokens"), 4)
            .as("removed_frac"))),
      // per-source removal telemetry over the same scrub CTE chain
      () => (s"WITH ${substringScrubCtes()}, " +
        "base AS (SELECT t.doc_id, CAST(len(t.toks) AS INT) AS n_tokens, " +
        "coalesce(ag.n_kept, 0) AS n_kept FROM t LEFT JOIN ag USING (doc_id)) " +
        "SELECT d.source, count(*) AS n_docs, " +
        "CAST(sum(base.n_tokens) AS BIGINT) AS tokens_before, " +
        "CAST(sum(base.n_kept) AS BIGINT) AS tokens_after, " +
        "round(1.0 - CAST(sum(base.n_kept) AS DOUBLE) / sum(base.n_tokens), 4) " +
        "AS removed_frac FROM base JOIN documents d USING (doc_id) " +
        "GROUP BY d.source")),
    // the full dedup decision: clusters → keep lowest id per cluster +
    // all unpaired docs; per-language survivor counts
    QueryDef("q_dedup_keep", ((s, d) =>
      Tables.documents(s, d)
        .join(snmClusters(s, d).where(col("doc_id") =!= col("cluster_id"))
          .select("doc_id"), Seq("doc_id"), "left_anti")
        .groupBy("lang").agg(count(lit(1)).as("n_kept"))),
      () => (s"WITH RECURSIVE $SORTED_CTES, " +
        "prs AS (SELECT a_id, b_id FROM j WHERE jaccard >= 0.9), " +
        "edges AS (SELECT a_id AS src, b_id AS dst FROM prs " +
        "UNION SELECT b_id, a_id FROM prs), " +
        "reach(id, lbl) AS (SELECT src, src FROM edges " +
        "UNION SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.id), " +
        "drops AS (SELECT id FROM reach GROUP BY id HAVING min(lbl) <> id) " +
        "SELECT lang, count(*) AS n_kept FROM documents " +
        "WHERE doc_id NOT IN (SELECT id FROM drops) GROUP BY lang")),
    // C4 line-level dedup: the synthetic corpus is single-line, so a
    // shared boilerplate footer (+ a unique line for every 3rd doc) is
    // injected IN the query — the footer must survive only in the lowest
    // doc_id, each unique line everywhere
    QueryDef("q_line_dedup", ((s, d) => {
      val docs = Tables.documents(s, d)
      val injected = docs.select(col("doc_id"),
        concat(col("text"), lit("\nsubscribe to our newsletter"),
          when(col("doc_id") % 3 === 0,
            concat(lit("\nunique footer "), col("doc_id").cast("string")))
            .otherwise(lit(""))).as("text"))
      Dedup.lineDedup(injected)
    }),
      // line-dedup replay: first-occurrence ownership via row_number over
      // (doc_id, line_no); numbering from the pre-filter split index
      () => ("WITH inj AS (SELECT doc_id, text || chr(10) || 'subscribe to our newsletter' || " +
        "CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'unique footer ' || doc_id " +
        "ELSE '' END AS t FROM documents), " +
        "p AS (SELECT doc_id, string_split_regex(t, '\\r?\\n') AS parts FROM inj), " +
        "l AS (SELECT doc_id, generate_subscripts(parts, 1) - 1 AS line_no, " +
        "trim(unnest(parts)) AS line FROM p), " +
        "le AS (SELECT * FROM l WHERE len(line) > 0), " +
        "keep AS (SELECT doc_id, line_no, line FROM (SELECT *, row_number() " +
        "OVER (PARTITION BY line ORDER BY doc_id, line_no) AS rn FROM le) WHERE rn = 1), " +
        "nl AS (SELECT doc_id, CAST(count(*) AS INT) AS n_lines FROM le GROUP BY doc_id), " +
        "ag AS (SELECT doc_id, CAST(count(*) AS INT) AS n_kept, " +
        "string_agg(line, chr(10) ORDER BY line_no) AS kept_text FROM keep GROUP BY doc_id) " +
        "SELECT inj.doc_id, coalesce(nl.n_lines, 0) AS n_lines, " +
        "coalesce(ag.n_kept, 0) AS n_kept, coalesce(ag.kept_text, '') AS text " +
        "FROM inj LEFT JOIN nl USING (doc_id) LEFT JOIN ag USING (doc_id)")),
    // corpus snapshot diff: old = ids < 300, new = ids >= 100 with every
    // 10th overlapping doc's text modified IN the query (the injected-
    // fixture convention) — exercises all four statuses
    QueryDef("q_corpus_diff", ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.corpusDiff(
        docs.where(col("doc_id") < 300),
        docs.where(col("doc_id") >= 100).select(col("doc_id"),
          when(col("doc_id") % 10 === 0, concat(col("text"), lit(" rev2")))
            .otherwise(col("text")).as("text")))
    }),
      // both sides fingerprinted, full-outer by id; the new side's every
      // 10th overlapping doc carries the same injected ' rev2' suffix
      () => {
        val newToks = TOKS.replace("lower(text)", "lower(text2)")
        s"WITH o AS (SELECT doc_id, ${fpSql(TOKS)} AS ofp FROM documents WHERE doc_id < 300), " +
          "n0 AS (SELECT doc_id, text, CASE WHEN doc_id % 10 = 0 " +
          "THEN text || ' rev2' ELSE text END AS text2 " +
          "FROM documents WHERE doc_id >= 100), " +
          "n AS (SELECT doc_id, CASE WHEN len(" + newToks + ") > 0 " +
          "THEN md5(array_to_string(" + newToks + ", ' ')) " +
          "ELSE 'raw:' || md5(text2) END AS nfp FROM n0) " +
          "SELECT coalesce(o.doc_id, n.doc_id) AS doc_id, " +
          "CASE WHEN o.doc_id IS NULL THEN 'added' " +
          "WHEN n.doc_id IS NULL THEN 'removed' " +
          "WHEN ofp IS NOT DISTINCT FROM nfp THEN 'unchanged' " +
          "ELSE 'changed' END AS status " +
          "FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id"
      }),
    // split-leakage audit: SNM near-dup pairs straddling the 80/10/10
    // hash-split boundary
    QueryDef("q_split_leakage", ((s, d) =>
      Dedup.splitLeakagePairs(Tables.documents(s, d),
        trainRate = 0.8, validRate = 0.1)),
      // SNM pairs >= 0.9 with both ids' split labels; keep cross-split only
      () => (s"WITH $SORTED_CTES, " +
        "prs AS (SELECT a_id, b_id, jaccard FROM j WHERE jaccard >= 0.9), " +
        s"sp AS (SELECT doc_id, CASE WHEN $HASHKEY < '${ops.Sampling.hexThreshold(0.8)}' THEN 'train' " +
        s"WHEN $HASHKEY < '${ops.Sampling.hexThreshold(0.9)}' THEN 'valid' " +
        "ELSE 'test' END AS split FROM documents) " +
        "SELECT a_id, b_id, jaccard, sa.split AS split_a, sb.split AS split_b " +
        "FROM prs JOIN sp sa ON prs.a_id = sa.doc_id " +
        "JOIN sp sb ON prs.b_id = sb.doc_id WHERE sa.split <> sb.split")),
    // winnowing (MOSS) fingerprints: shift-invariant span fingerprinting
    QueryDef("q_winnow", ((s, d) =>
      Dedup.winnowFingerprints(Tables.documents(s, d), k = 3, w = 4)),
      // relational replay of the array-expression winnowing: window-min
      // over gram hashes with a truncated final frame; md5-prefix string
      // hashes make min() engine-identical (binary order on [0-9a-f])
      () => s"WITH $WINNOW_CTES SELECT doc_id, fp FROM fps"),
    // the MOSS match step: doc pairs sharing >= 2 winnowed fingerprints
    QueryDef("q_winnow_pairs", ((s, d) =>
      Dedup.winnowPairs(Tables.documents(s, d), k = 3, w = 4,
        minShared = 2, maxDocsPerFp = 64)),
      // MOSS match step over the same winnow CTE chain: per-fp postings
      // capped at 64 docs (hot-fingerprint guardrail, mirrored Spark-side)
      () => (s"WITH $WINNOW_CTES, " +
        "capped AS (SELECT doc_id, fp FROM (SELECT doc_id, fp, row_number() " +
        "OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM fps) WHERE rn <= 64) " +
        "SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_shared " +
        "FROM capped a JOIN capped b USING (fp) WHERE a.doc_id < b.doc_id " +
        "GROUP BY 1, 2 HAVING count(*) >= 2")),
    // the cap-truncation report: how much the maxDocsPerFp guardrail
    // actually dropped (the oracle mirrors the cap, so q_winnow_pairs
    // alone cannot reveal it)
    QueryDef("q_winnow_stats", ((s, d) =>
      Dedup.winnowPairsStats(Tables.documents(s, d), k = 3, w = 4,
        maxDocsPerFp = 64)),
      // cap-truncation report over the same winnow chain (sums cast to
      // BIGINT: DuckDB widens sum(BIGINT) to HUGEINT, Spark keeps LONG)
      () => (s"WITH $WINNOW_CTES, " +
        "per_fp AS (SELECT fp, count(*) AS n_docs FROM fps GROUP BY fp) " +
        "SELECT count(*) AS n_fps, " +
        "count(CASE WHEN n_docs > 64 THEN 1 END) AS n_capped_fps, " +
        "CAST(coalesce(sum(CASE WHEN n_docs > 64 THEN n_docs - 64 END), 0) " +
        "AS BIGINT) AS n_dropped_postings, " +
        "CAST(coalesce(max(n_docs), 0) AS BIGINT) AS max_docs_per_fp " +
        "FROM per_fp")),
    // incremental MOSS match: the increment (every 7th doc) probed
    // against the standing winnow index of the rest — increment-sized
    // work, snapshot text never read
    QueryDef("q_winnow_incr", ((s, d) =>
      Dedup.winnowPairsAgainst(
        Tables.documents(s, d).where(col("doc_id") % 7 === 0),
        winnowSnapshot(s, d, 3))),
      // increment/snapshot winnow chains (suffixed CTEs over filtered
      // derived tables); snapshot postings capped like the Spark side
      () => (s"WITH ${winnowCtes(3, 4, "_n",
          "(SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0) inc")}, " +
        s"${winnowCtes(3, 4, "_o",
          "(SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0) snap")}, " +
        "capped AS (SELECT doc_id, fp FROM (SELECT doc_id, fp, row_number() " +
        "OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM fps_o) WHERE rn <= 64) " +
        "SELECT n.doc_id AS new_id, o.doc_id AS snap_id, count(*) AS n_shared " +
        "FROM fps_n n JOIN capped o USING (fp) WHERE n.doc_id <> o.doc_id " +
        "GROUP BY 1, 2 HAVING count(*) >= 2")),
    // the incremental probe at two resolutions: mirror-grade vs
    // phrase-level hits against the reference corpus, per increment doc
    QueryDef("q_winnow_incr_mk", ((s, d) =>
      Dedup.winnowPairsAgainstMultiK(
        Tables.documents(s, d).where(col("doc_id") % 7 === 0),
        winnowSnapshot(s, d, 3, 8))),
      // four winnow chains (two gram sizes × increment/snapshot), each
      // resolution replaying the capped incremental probe with the
      // identity-pair exclusion, full-outer-joined per (new, snap) pair
      () => {
        val inc = "(SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0) inc"
        val snap = "(SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0) snap"
        s"WITH ${winnowCtes(3, 4, "_ns", inc)}, ${winnowCtes(3, 4, "_os", snap)}, " +
          s"${winnowCtes(8, 4, "_nl", inc)}, ${winnowCtes(8, 4, "_ol", snap)}, " +
          "capped_s AS (SELECT doc_id, fp FROM (SELECT doc_id, fp, row_number() " +
          "OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM fps_os) WHERE rn <= 64), " +
          "ps AS (SELECT n.doc_id AS new_id, o.doc_id AS snap_id, count(*) AS n_shared " +
          "FROM fps_ns n JOIN capped_s o USING (fp) WHERE n.doc_id <> o.doc_id " +
          "GROUP BY 1, 2 HAVING count(*) >= 2), " +
          "capped_l AS (SELECT doc_id, fp FROM (SELECT doc_id, fp, row_number() " +
          "OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM fps_ol) WHERE rn <= 64), " +
          "pl AS (SELECT n.doc_id AS new_id, o.doc_id AS snap_id, count(*) AS n_shared " +
          "FROM fps_nl n JOIN capped_l o USING (fp) WHERE n.doc_id <> o.doc_id " +
          "GROUP BY 1, 2 HAVING count(*) >= 1) " +
          "SELECT coalesce(s.new_id, l.new_id) AS new_id, " +
          "coalesce(s.snap_id, l.snap_id) AS snap_id, " +
          "coalesce(s.n_shared, 0) AS n_shared_short, " +
          "coalesce(l.n_shared, 0) AS n_shared_long, " +
          "CASE WHEN coalesce(l.n_shared, 0) >= 1 THEN 'long' ELSE 'short' " +
          "END AS match_class " +
          "FROM ps s FULL JOIN pl l ON s.new_id = l.new_id AND s.snap_id = l.snap_id"
      }),
    // multi-resolution match classes: an 8-gram fingerprint share means a
    // ≥ 8-token verbatim run ('long'); 3-gram-only evidence is phrase
    // overlap ('short') — the match-length signal one gram size can't give
    QueryDef("q_winnow_multik", ((s, d) =>
      Dedup.winnowPairsMultiK(Tables.documents(s, d), kShort = 3, kLong = 8,
        w = 4, minSharedShort = 2, minSharedLong = 1, maxDocsPerFp = 64)),
      // two full winnow chains at k=3 and k=8 (suffixed CTEs), each pair
      // table replaying the capped MOSS match, full-outer-joined per pair
      () => (s"WITH ${winnowCtes(3, 4, "_s")}, ${winnowCtes(8, 4, "_l")}, " +
        "capped_s AS (SELECT doc_id, fp FROM (SELECT doc_id, fp, row_number() " +
        "OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM fps_s) WHERE rn <= 64), " +
        "ps AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_shared " +
        "FROM capped_s a JOIN capped_s b USING (fp) WHERE a.doc_id < b.doc_id " +
        "GROUP BY 1, 2 HAVING count(*) >= 2), " +
        "capped_l AS (SELECT doc_id, fp FROM (SELECT doc_id, fp, row_number() " +
        "OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM fps_l) WHERE rn <= 64), " +
        "pl AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_shared " +
        "FROM capped_l a JOIN capped_l b USING (fp) WHERE a.doc_id < b.doc_id " +
        "GROUP BY 1, 2 HAVING count(*) >= 1) " +
        "SELECT coalesce(s.a_id, l.a_id) AS a_id, " +
        "coalesce(s.b_id, l.b_id) AS b_id, " +
        "coalesce(s.n_shared, 0) AS n_shared_short, " +
        "coalesce(l.n_shared, 0) AS n_shared_long, " +
        "CASE WHEN coalesce(l.n_shared, 0) >= 1 THEN 'long' ELSE 'short' " +
        "END AS match_class " +
        "FROM ps s FULL JOIN pl l ON s.a_id = l.a_id AND s.b_id = l.b_id")),
    // one-row line-duplication health report (the lineDedup decision input)
    QueryDef("q_line_stats", ((s, d) =>
      Dedup.lineStats(Tables.documents(s, d))),
      // line algebra shared with q_line_dedup (split \r?\n, trim, drop
      // empties, md5 identity); sums cast to BIGINT (DuckDB widens to
      // HUGEINT), division through DOUBLE like the Spark expression
      () => ("WITH p AS (SELECT string_split_regex(coalesce(text, ''), '\\r?\\n') " +
        "AS parts FROM documents), " +
        "l AS (SELECT trim(unnest(parts)) AS line FROM p), " +
        "le AS (SELECT line FROM l WHERE len(line) > 0), " +
        "per AS (SELECT md5(line) AS h, count(*) AS c FROM le GROUP BY 1) " +
        "SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS n_lines, " +
        "count(*) AS n_distinct_lines, " +
        "round(1.0 - count(*) / CAST(coalesce(sum(c), 1) AS DOUBLE), 6) " +
        "AS dup_line_fraction, " +
        "CAST(coalesce(max(c), 0) AS BIGINT) AS max_line_freq FROM per")),
    // RefinedWeb-policy boilerplate removal: lines in >= 3 DISTINCT docs
    // vanish everywhere (no keep-first survivor); the 2-doc "rare pair"
    // line and the per-doc unique footers stay
    QueryDef("q_boilerplate", ((s, d) =>
      Dedup.boilerplateScrub(boilerInject(Tables.documents(s, d)),
        minDocs = 3)),
      // boilerplate policy replay: hot = lines in >= 3 distinct docs
      // (union-wide), removed everywhere — no keep-first survivor
      () => boilerplateSql(incrOnly = false)),
    // incremental form: increment lines scrubbed against the standing
    // line-frequency index + own-batch counts — the "cross boundary
    // banner" line is hot ONLY because snapshot counts contribute
    QueryDef("q_boilerplate_incr", ((s, d) => {
      val docs = boilerInject(Tables.documents(s, d))
      val base = docs.where(col("doc_id") % 10 < 8)
      val idx = Dedup.lineFreqIndex(base, IndexTables.ident("linefreq", base))
      Dedup.boilerplateScrubApply(docs.where(col("doc_id") % 10 >= 8), idx,
        minDocs = 3)
    }),
      // the incremental twin IS the batch replay filtered to increment
      // rows — the hot set still counts the whole union (index + batch),
      // which is exactly the apply's contract under disjoint doc ids
      () => boilerplateSql(incrOnly = true)),
  )
}
