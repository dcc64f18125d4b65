package graft
package queries

import org.apache.spark.sql.functions._
import graft.ops._
import Shared._

/** Queries over `ops.Multimodal`. */
object MultimodalQueries {

  /** DuckDB replay of the banded-Hamming near-dup join (q_image_dedup /
    * q_audio_dedup) under pinned 64-bit perceptual hashes: the 4×16-bit
    * band split, candidate equi-join, exact bit_count(xor) rescore and
    * the ≤ maxHamming filter all replay mechanically (Spark's min-band
    * ownership is an exchange-avoidance trick, not semantics — DISTINCT
    * pairs is the same set). These pins are sf-INDEPENDENT: the synthetic
    * media derive from pure media_id hashing, so the replay is valid at
    * every sweep scale. Arithmetic note: DuckDB `>>` is an arithmetic
    * shift, but `& 65535` keeps only the low 16 bits of the shifted
    * value, which agree with Spark's shiftrightunsigned for every band.
    */
  private def bandedHammingSql(pins: Array[String]): String = {
    val vals = pins.map { t =>
      val Array(id, h) = t.split(":"); s"($id, $h)"
    }.mkString(", ")
    s"WITH hp AS (SELECT CAST(media_id AS BIGINT) AS media_id, " +
      "CAST(dh AS BIGINT) AS dh " +
      s"FROM (VALUES $vals) AS t(media_id, dh)), " +
      "bd AS (SELECT media_id, dh, r.range AS band, " +
      "(dh >> CAST(r.range * 16 AS INT)) & 65535 AS bval FROM hp, range(4) r), " +
      "cand AS (SELECT a.media_id AS a_id, b.media_id AS b_id, " +
      "a.dh AS a_dh, b.dh AS b_dh FROM bd a JOIN bd b " +
      "ON a.band = b.band AND a.bval = b.bval AND a.media_id < b.media_id) " +
      "SELECT DISTINCT a_id, b_id, " +
      "CAST(bit_count(xor(a_dh, b_dh)) AS INT) AS hamming " +
      "FROM cand WHERE bit_count(xor(a_dh, b_dh)) <= 3"
  }

  val all: Seq[QueryDef] = Seq(
    // ---- multimodal: binary blobs + stubbed decode + real byte features ----
    QueryDef("q_media_features", ((s, d) => {
      // oracled since round 15: n_media/avg_width/bin0_total replay
      // live; only the stub decoder's widths are pinned (exact sums)
      val media = Tables.documents(s, d).select(
        col("doc_id").as("media_id"), col("lang").as("kind"),
        col("text").cast("binary").as("blob"),
        struct(col("n_chars").cast("int").as("width"),
          lit(0).as("height"), lit(0).as("sample_rate")).as("meta"))
      Multimodal.mediaFeatures(media)
    }),
      // media features: n_media / avg_width / bin0_total replay LIVE
      // (bin 0 of the 16-bin byte histogram = bytes 0x00-0x0F; in UTF-8
      // a codepoint <= 15 is one byte and no continuation byte is < 0x80,
      // so the char-class count equals the byte count); only the stub
      // decoder's xxhash64 widths are pinned — as exact per-lang integer
      // SUMS (tools note in /tmp/pin_media recorder form), so the avg
      // division replays bit-for-bit. sf0.01-pinned (allowlisted).
      () => ("WITH g AS (SELECT lang AS kind, CAST(count(*) AS BIGINT) AS n_media, " +
        "avg(CAST(n_chars AS DOUBLE)) AS avg_width, " +
        "CAST(coalesce(sum(len(regexp_extract_all(text, '[\\x00-\\x0f]'))), 0) AS BIGINT) AS ctl " +
        "FROM documents GROUP BY lang), " +
        "dw(kind, sw, n) AS (VALUES ('de', 35165, 70), ('en', 118131, 218), " +
        "('es', 39471, 73), ('fr', 36951, 64), ('zh', 45695, 75)) " +
        "SELECT g.kind, g.n_media, g.avg_width, " +
        "CAST(dw.sw AS DOUBLE) / dw.n AS avg_dec_width, g.ctl AS bin0_total " +
        "FROM g JOIN dw USING (kind)")),
    // perceptual image near-dup: decodable synthetic PPMs (groups of 4,
    // one ~8-byte perturbation per non-first copy) → dHash kernel →
    // 4-band Hamming join (pigeonhole-exact recall at <= 3). Oracled
    // since round 15: the dHash values are pinned (sf-independent —
    // pure media_id hashing) and the whole banded join + bit_count
    // rescore replays in DuckDB; brute-force parity in MultimodalSpec
    QueryDef("q_image_dedup", ((s, d) =>
      Multimodal.imageNearDup(
        Multimodal.syntheticPpm(s, 500).select(col("media_id"), col("blob")),
        maxHamming = 3)),
      () => bandedHammingSql(graft.model.SketchPins.imageDh)),
    // acoustic near-dup over the same banded core: REAL WAV decode →
    // 64 energy-gradient bits (gain-invariant) → 4-band Hamming join.
    // Oracled like q_image_dedup (pinned hashes, mechanical replay)
    QueryDef("q_audio_dedup", ((s, d) =>
      Multimodal.audioNearDup(
        Multimodal.syntheticWav(s, 500).select(col("media_id"), col("blob")),
        maxHamming = 3)),
      () => bandedHammingSql(graft.model.SketchPins.audioDh)),
    // interleaved image-text assembly (MMC4 shape): 100 synthetic image
    // media assigned to docs 0-49 by id modulo, one <image> placeholder
    // inserted per media at a deterministic token offset
    QueryDef("q_interleave", ((s, d) => {
      val media = Multimodal.syntheticMedia(s, 300)
        .where(col("kind") === "image")
        .select((col("media_id") % 50).as("doc_id"), col("media_id"))
      Multimodal.interleaveMedia(Tables.documents(s, d), media)
    }),
      // merge-sort replay of the desc-order insertion: placeholders key
      // (offset, 0, media_id), tokens (index, 1, -1) — placeholder-before-
      // token at equal offset, equal-offset media in ascending id order
      () => ("WITH im AS (SELECT unnest(range(300)) AS media_id), " +
        "a AS (SELECT media_id % 50 AS doc_id, media_id FROM im WHERE media_id % 3 = 0), " +
        s"t AS (SELECT doc_id, text, $TOKS AS toks FROM documents), " +
        "tok AS (SELECT doc_id, toks, unnest(range(len(toks))) AS i FROM t), " +
        "trow AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, 1 AS flag, " +
        "CAST(-1 AS BIGINT) AS mid, toks[i+1] AS tok FROM tok), " +
        "prow AS (SELECT a.doc_id, ((a.media_id % 1000003) * 7919) % (len(t.toks) + 1) AS pos, " +
        "0 AS flag, a.media_id AS mid, '<image>' AS tok FROM a JOIN t USING (doc_id)), " +
        "allr AS (SELECT * FROM trow UNION ALL SELECT * FROM prow), " +
        "agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos, flag, mid) AS text2 " +
        "FROM allr GROUP BY doc_id), " +
        "ni AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_images FROM a GROUP BY doc_id) " +
        "SELECT t.doc_id, coalesce(ni.n_images, 0) AS n_images, " +
        "CASE WHEN ni.doc_id IS NULL THEN t.text ELSE coalesce(agg.text2, '') END AS text " +
        "FROM t LEFT JOIN ni USING (doc_id) LEFT JOIN agg USING (doc_id)")),
  )
}
