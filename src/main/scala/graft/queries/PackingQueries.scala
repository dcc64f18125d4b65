package graft
package queries

import org.apache.spark.sql.functions._
import graft.ops._
import Shared._

/** Training-example assembly: sequence packing and batching
  * (`ops.Packing`) and chat rendering with loss masks
  * (`ops.Conversations`).
  */
object PackingQueries {

  /** DuckDB side of q_pack_shards — the LAST exemption converted: only
    * the murmur3 partition routing is pinned (OutputPins.packPid =
    * `pmod(hash(doc_id), parts)`, the same data-derived route the
    * runtime stamps into shard ids); the greedy
    * token-budget packing itself — the operator's actual algebra —
    * replays as the q_pack_sorted recursion PARTITIONED by pid
    * (set-based recursion advances every partition one rank per step).
    * shard_id = pid·2^32 + local shard, exactly the Scala fold.
    */
  private def packShardsSql: String = {
    val vals = graft.model.OutputPins.packPid.map { t =>
      val Array(d, p) = t.split(":"); s"($d, $p)"
    }.mkString(", ")
    s"WITH RECURSIVE pid(doc_id, pid) AS (SELECT * FROM (VALUES $vals)), " +
      s"t AS (SELECT d.doc_id, CAST(len($TOKS) AS BIGINT) AS n, pid.pid " +
      "FROM documents d JOIN pid ON d.doc_id = pid.doc_id), " +
      "o AS MATERIALIZED (SELECT doc_id, n, pid, " +
      "row_number() OVER (PARTITION BY pid ORDER BY doc_id) AS rn FROM t), " +
      "g(pid, rn, doc_id, n, shard, used) AS (" +
      "SELECT pid, rn, doc_id, n, CAST(0 AS BIGINT), n FROM o WHERE rn = 1 " +
      "UNION ALL SELECT o.pid, o.rn, o.doc_id, o.n, " +
      "CASE WHEN g.used > 0 AND g.used + o.n > 4096 THEN g.shard + 1 ELSE g.shard END, " +
      "CASE WHEN g.used > 0 AND g.used + o.n > 4096 THEN o.n ELSE g.used + o.n END " +
      "FROM g JOIN o ON o.pid = g.pid AND o.rn = g.rn + 1) " +
      "SELECT doc_id, n AS n_tokens, " +
      "CAST(pid * 4294967296 + shard AS BIGINT) AS shard_id FROM g"
  }

  val all: Seq[QueryDef] = Seq(
    // training-shard assembly: greedy per-partition token-budget packing
    // (deterministic for fixed parts). Oracled since round 15: only the
    // murmur3 partition routing is pinned (OutputPins.packPid); the
    // greedy packing replays as a pid-partitioned recursive CTE
    QueryDef("q_pack_shards", ((s, d) =>
      Packing.packByTokenBudget(Tables.documents(s, d), budget = 4096, parts = 8)),
      () => packShardsSql),
    // single-stream twin of q_pack_shards: parts=1 makes the greedy pass a
    // global doc_id-ordered scan, which a DuckDB recursive CTE reproduces
    // row for row — the VALIDATION variant for the packing algebra (the
    // partition-local parts=8 form above stays the production query)
    QueryDef("q_pack_sorted", ((s, d) =>
      Packing.packByTokenBudget(Tables.documents(s, d), budget = 4096, parts = 1)),
      // sequential greedy packing as linear recursion: row rn folds (shard,
      // used) exactly like the Spark partition pass (used>0 guard included:
      // an oversized document keeps its own shard)
      () => // o is MATERIALIZED: the recursion joins it once PER STEP (one row
      // per doc), and unmaterialized each step re-ran tokenize+sort of
      // the whole corpus — 6.3 s replay, the round-14 budget's slowest
      (s"WITH RECURSIVE t AS (SELECT doc_id, CAST(len($TOKS) AS BIGINT) AS n FROM documents), " +
        "o AS MATERIALIZED (SELECT doc_id, n, row_number() OVER (ORDER BY doc_id) AS rn FROM t), " +
        "g(rn, doc_id, n, shard, used) AS (" +
        "SELECT rn, doc_id, n, CAST(0 AS BIGINT), n FROM o WHERE rn = 1 " +
        "UNION ALL SELECT o.rn, o.doc_id, o.n, " +
        "CASE WHEN g.used > 0 AND g.used + o.n > 4096 THEN g.shard + 1 ELSE g.shard END, " +
        "CASE WHEN g.used > 0 AND g.used + o.n > 4096 THEN o.n ELSE g.used + o.n END " +
        "FROM g JOIN o ON o.rn = g.rn + 1) " +
        "SELECT doc_id, n AS n_tokens, shard AS shard_id FROM g")),
    // sliding-window sequence prep: 16-token chunks every 8 tokens
    QueryDef("q_doc_chunks", ((s, d) =>
      Packing.chunkTokens(Tables.documents(s, d), chunkSize = 16, stride = 8)),
      // chunk grid: starts 0, 8, 16, … up to len-16+8-1 inclusive (the last
      // start that still contributes new tokens); final partial chunk kept
      () => (s"WITH t AS (SELECT doc_id, $TOKS AS toks FROM documents), " +
        "s AS (SELECT doc_id, toks, " +
        "unnest(generate_series(0, greatest(len(toks) - 16 + 7, 0), 8)) AS st " +
        "FROM t WHERE len(toks) > 0) " +
        "SELECT doc_id, CAST(st // 8 AS INT) AS chunk_idx, " +
        "CAST(st AS INT) AS chunk_start, " +
        "CAST(least(16, len(toks) - st) AS INT) AS n_tokens, " +
        "array_to_string(toks[st + 1 : st + 16], ' ') AS chunk_text FROM s")),
    // pack-then-chunk at parts=1: the oracle twin of the partition-local
    // production form (the q_pack_sorted convention — same algebra, one
    // partition, so DuckDB can replay the global concatenation)
    QueryDef("q_pack_seq", ((s, d) =>
      Packing.packedSequences(Tables.documents(s, d), seqLen = 128,
        parts = 1)),
      // global doc_id-ordered concatenation cut into 128-token sequences;
      // seq_id = chunk ordinal (partition 0 at parts=1)
      () => (s"WITH t AS (SELECT doc_id, $TOKS AS toks FROM documents), " +
        "a AS (SELECT flatten(list(toks ORDER BY doc_id)) AS ts FROM t), " +
        "s AS (SELECT ts, unnest(generate_series(0, greatest(len(ts) - 1, 0), 128)) AS st " +
        "FROM a WHERE len(ts) > 0) " +
        "SELECT st // 128 AS seq_id, " +
        "CAST(least(128, len(ts) - st) AS INT) AS n_tokens, " +
        "array_to_string(ts[st + 1 : st + 128], ' ') AS text FROM s")),
    // pack-then-chunk with an end-of-document sentinel appended to every
    // non-empty doc before concatenation (what a causal-LM trainer
    // actually consumes); same parts=1 oracle-twin convention
    QueryDef("q_pack_eos", ((s, d) =>
      Packing.packedSequences(Tables.documents(s, d), seqLen = 128,
        parts = 1, eosToken = Some("<eos>"))),
      // the q_pack_seq replay over sentinel-terminated token streams
      () => (s"WITH t0 AS (SELECT doc_id, $TOKS AS toks FROM documents), " +
        "t AS (SELECT doc_id, CASE WHEN len(toks) > 0 " +
        "THEN list_append(toks, '<eos>') ELSE toks END AS toks FROM t0), " +
        "a AS (SELECT flatten(list(toks ORDER BY doc_id)) AS ts FROM t), " +
        "s AS (SELECT ts, unnest(generate_series(0, greatest(len(ts) - 1, 0), 128)) AS st " +
        "FROM a WHERE len(ts) > 0) " +
        "SELECT st // 128 AS seq_id, " +
        "CAST(least(128, len(ts) - st) AS INT) AS n_tokens, " +
        "array_to_string(ts[st + 1 : st + 128], ' ') AS text FROM s")),
    // document-boundary metadata of the packed stream (block-diagonal
    // attention masks + provenance), exploded to scalar rows — the
    // driver compare hashes scalar cells only (q_embed_pool lesson)
    QueryDef("q_pack_bounds", ((s, d) =>
      Packing.packedSequencesWithBounds(Tables.documents(s, d),
          seqLen = 128, parts = 1)
        .select(col("seq_id"),
          posexplode(arrays_zip(col("doc_starts"), col("doc_ids"))))
        .select(col("seq_id"), col("pos").cast("int").as("k"),
          col("col.doc_starts").as("doc_start"),
          col("col.doc_ids").as("doc_id"))),
      // boundary replay: each doc's absolute start offset in the parts=1
      // concatenation (cumulative token sum), mapped to (sequence, offset);
      // k = ordinal of the boundary within its sequence
      () => (s"WITH t AS (SELECT doc_id, $TOKS AS toks FROM documents), " +
        "n AS (SELECT doc_id, len(toks) AS n FROM t WHERE len(toks) > 0), " +
        "c AS (SELECT doc_id, CAST(sum(n) OVER (ORDER BY doc_id " +
        "ROWS UNBOUNDED PRECEDING) - n AS BIGINT) AS abs_start FROM n) " +
        "SELECT CAST(abs_start // 128 AS BIGINT) AS seq_id, " +
        "CAST(row_number() OVER (PARTITION BY abs_start // 128 " +
        "ORDER BY abs_start) - 1 AS INT) AS k, " +
        "CAST(abs_start % 128 AS INT) AS doc_start, doc_id FROM c")),
    // fill-in-the-middle transform on a deterministic half of the corpus
    // (PSM order; cut points are pure id arithmetic, so oracle-replayable)
    QueryDef("q_fim", ((s, d) =>
      Packing.fimTransform(Tables.documents(s, d), fimRate = 0.5)),
      // the same folded-id cut arithmetic and list slicing; unselected and
      // zero-token docs pass through with their original text
      () => (s"WITH t AS (SELECT doc_id, text, $TOKS AS toks FROM documents), " +
        "c AS (SELECT doc_id, text, toks, len(toks) AS n, " +
        "((doc_id % 1000003) * 7919) % (len(toks) + 1) AS c1 FROM t), " +
        "c2t AS (SELECT *, c1 + ((doc_id % 1000003) * 104729) % (n - c1 + 1) AS c2 FROM c), " +
        "sel AS (SELECT *, '0' || substring(md5('fim' || CAST(doc_id AS VARCHAR)), 1, 8) " +
        s"< '${ops.Sampling.hexThreshold(0.5)}' AS s FROM c2t) " +
        "SELECT doc_id, CAST(CASE WHEN s AND n > 0 THEN 1 ELSE 0 END AS INT) AS fim, " +
        "CASE WHEN s AND n > 0 THEN array_to_string(" +
        "['<fim_prefix>'] || toks[1:c1] || ['<fim_suffix>'] || toks[c2+1:n] || " +
        "['<fim_middle>'] || toks[c1+1:c2], ' ') ELSE text END AS text FROM sel")),
    // T5 denoising pairs: one 3-token span masked per 16-token window at
    // a folded-id offset, sentinel-joined input/target (scan-stage only)
    QueryDef("q_span_corrupt", ((s, d) =>
      Packing.spanCorrupt(Tables.documents(s, d),
        spanEvery = 16, spanLen = 3)),
      // the q_fim folded-id arithmetic per 16-token window: offset o(i) =
      // (fold·7919 + (i+1)·104729) % 14, span = 3 tokens at o(i)
      () => (s"WITH t AS (SELECT doc_id, $TOKS AS toks FROM documents), " +
        "c AS (SELECT doc_id, toks, len(toks) AS n, len(toks) // 16 AS nseg FROM t), " +
        "s AS (SELECT doc_id, n, nseg, " +
        "flatten(list_transform(range(nseg), i -> " +
        "toks[i*16+1 : i*16 + ((doc_id % 1000003) * 7919 + (i+1) * 104729) % 14] || " +
        "['<extra_id_' || i || '>'] || " +
        "toks[i*16 + ((doc_id % 1000003) * 7919 + (i+1) * 104729) % 14 + 4 : (i+1)*16])) " +
        "|| toks[nseg*16+1 : n] AS inp, " +
        "flatten(list_transform(range(nseg), i -> " +
        "['<extra_id_' || i || '>'] || " +
        "toks[i*16 + ((doc_id % 1000003) * 7919 + (i+1) * 104729) % 14 + 1 : " +
        "i*16 + ((doc_id % 1000003) * 7919 + (i+1) * 104729) % 14 + 3])) " +
        "|| ['<extra_id_' || nseg || '>'] AS tgt FROM c) " +
        "SELECT doc_id, CAST(n AS BIGINT) AS n_tokens, " +
        "CAST(nseg AS BIGINT) AS n_spans, " +
        "array_to_string(inp, ' ') AS input, " +
        "array_to_string(tgt, ' ') AS target FROM s")),
    // length-bucketed batching: 16-way hash-sharded ordinals per bucket
    QueryDef("q_len_batches", ((s, d) =>
      Packing.lengthBucketBatches(Tables.documents(s, d),
        bucketEdges = Seq(16, 32, 64, 128), batchSize = 8)),
      // row_number replay over the same (bucket, shard) partitions and
      // (hash, id) order
      () => (s"WITH t AS (SELECT doc_id, greatest(len($TOKS), 0) AS n FROM documents), " +
        "b AS (SELECT doc_id, n, CASE WHEN n <= 16 THEN 16 WHEN n <= 32 THEN 32 " +
        "WHEN n <= 64 THEN 64 WHEN n <= 128 THEN 128 ELSE 2147483647 END AS bucket, " +
        "'0' || substring(md5('lb' || CAST(doc_id AS VARCHAR)), 1, 8) AS hk FROM t), " +
        "r AS (SELECT doc_id, n, bucket, substring(hk, 2, 1) AS shard, " +
        "CAST(row_number() OVER (PARTITION BY bucket, substring(hk, 2, 1) " +
        "ORDER BY hk, doc_id) - 1 AS INT) AS rk FROM b) " +
        "SELECT doc_id, CAST(n AS INT) AS n_tokens, bucket, shard, " +
        "CAST(rk // 8 AS INT) AS batch_idx, CAST(rk % 8 AS INT) AS pos_in_batch FROM r")),
    // the number bucketed batching exists for: padding waste under the
    // real edges vs one catch-all bucket (arrival-order batches)
    QueryDef("q_padding_waste", ((s, d) => {
      val docs = Tables.documents(s, d)
      Packing.paddingWaste(Packing.lengthBucketBatches(docs,
          bucketEdges = Seq(16, 32, 64, 128), batchSize = 8), "bucketed")
        .unionByName(Packing.paddingWaste(Packing.lengthBucketBatches(docs,
          bucketEdges = Seq(1 << 20), batchSize = 8), "unbucketed"))
    }),
      // both policies' batch algebra replayed: per-batch n·max − Σ, then
      // the one-row fold (BIGINT everywhere)
      () => {
        def leg(bucketCase: String, label: String, x: String) =
          s"b$x AS (SELECT doc_id, n, $bucketCase AS bucket, " +
            "'0' || substring(md5('lb' || CAST(doc_id AS VARCHAR)), 1, 8) AS hk FROM t), " +
            s"r$x AS (SELECT n, bucket, substring(hk, 2, 1) AS shard, " +
            "CAST(row_number() OVER (PARTITION BY bucket, substring(hk, 2, 1) " +
            s"ORDER BY hk, doc_id) - 1 AS INT) AS rk FROM b$x), " +
            s"g$x AS (SELECT bucket, shard, rk // 8 AS batch_idx, " +
            "CAST(count(*) AS BIGINT) AS bn, CAST(max(n) AS BIGINT) AS mx, " +
            s"CAST(sum(n) AS BIGINT) AS sm FROM r$x GROUP BY 1, 2, 3), " +
            s"p$x AS (SELECT '$label' AS policy, CAST(count(*) AS BIGINT) AS n_batches, " +
            "CAST(sum(bn) AS BIGINT) AS n_docs, CAST(sum(sm) AS BIGINT) AS total_tokens, " +
            "CAST(sum(bn * mx - sm) AS BIGINT) AS padded_slots, " +
            "round(CAST(sum(bn * mx - sm) AS DOUBLE) / " +
            s"(sum(bn * mx - sm) + sum(sm)), 4) AS waste_frac FROM g$x)"
        s"WITH t AS (SELECT doc_id, greatest(len($TOKS), 0) AS n FROM documents), " +
          leg("CASE WHEN n <= 16 THEN 16 WHEN n <= 32 THEN 32 WHEN n <= 64 THEN 64 " +
            "WHEN n <= 128 THEN 128 ELSE 2147483647 END", "bucketed", "1") + ", " +
          leg("CASE WHEN n <= 1048576 THEN 1048576 ELSE 2147483647 END",
            "unbucketed", "2") +
          " SELECT * FROM p1 UNION ALL SELECT * FROM p2"
      }),
    // SFT-sample assembly: per-user event turns rendered in event-time
    // order into one training text per conversation
    QueryDef("q_chat_render", ((s, d) =>
      Conversations.render(Tables.events(s, d))),
      // (ts, event_id) is unique, so the ordered string_agg is a pure
      // function of the data; both engines read the same µs-truncated ts
      () => ("SELECT user_id, count(*) AS n_turns, " +
        "string_agg('[' || coalesce(event_type, '') || '#' || event_id || '] ' " +
        "|| coalesce(props, ''), " +
        "chr(10) ORDER BY ts, event_id) AS text " +
        "FROM events GROUP BY user_id")),
    // session-scoped assembly: one conversation per (user, 30-min-gap
    // session) — the streaming ingest shape (same definition runs under
    // a watermark; StreamingSpec parity-asserts the flush)
    QueryDef("q_chat_sessions", ((s, d) =>
      Conversations.renderSessions(Tables.events(s, d), "30 minutes")),
      // gaps-and-islands sessions (strict '<' like q_window_session) + the
      // same per-session string_agg render
      () => ("WITH m AS (SELECT user_id, ts, event_id, event_type, props, " +
        "CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) " +
        "< INTERVAL '30 minutes' THEN 0 ELSE 1 END AS new_sess FROM events), " +
        "s AS (SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts " +
        "ROWS UNBOUNDED PRECEDING) AS sess FROM m) " +
        "SELECT user_id, min(ts) AS sess_start, " +
        "max(ts) + INTERVAL '30 minutes' AS sess_end, count(*) AS n_turns, " +
        "string_agg('[' || coalesce(event_type, '') || '#' || event_id || '] ' " +
        "|| coalesce(props, ''), chr(10) ORDER BY ts, event_id) AS text " +
        "FROM s GROUP BY user_id, sess")),
    // SFT loss-mask spans over the q_chat_render text: character offsets
    // of the turns a trainer computes loss on ('click'/'purchase' stand
    // in for the assistant role)
    QueryDef("q_loss_mask", ((s, d) =>
      Conversations.lossMaskSpans(Tables.events(s, d),
        Seq("click", "purchase"))),
      // offsets replay: running (len+1) sum in the same (ts, event_id)
      // order as the render; filter to trainable types after the cursor
      () => ("WITH l AS (SELECT user_id, ts, event_id, event_type, " +
        "'[' || coalesce(event_type, '') || '#' || event_id || '] ' " +
        "|| coalesce(props, '') AS line FROM events), " +
        "o AS (SELECT user_id, ts, event_id, event_type, " +
        "CAST(length(line) AS BIGINT) AS len, " +
        "coalesce(sum(length(line) + 1) OVER (PARTITION BY user_id " +
        "ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS st " +
        "FROM l) " +
        "SELECT user_id, CAST(row_number() OVER (PARTITION BY user_id " +
        "ORDER BY ts, event_id) - 1 AS INT) AS k, event_id, " +
        "CAST(st AS BIGINT) AS span_start, CAST(st + len AS BIGINT) AS span_end " +
        "FROM o WHERE event_type IN ('click', 'purchase')")),
  )
}
