package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.ArrayKernels

/** Multimodal columns for training-data pipelines: image/audio/video as
  * opaque BINARY columns + typed metadata struct, with decode / feature-
  * extract / resize / frame-sample stages.
  *
  * Decode is two-tier: [[Multimodal.decodeHeaders]] REALLY parses the
  * formats whose metadata is pure bytes — PPM/BMP images, canonical WAV
  * audio, and JPEG frame headers (SOF marker walk: exact dimensions +
  * channel count, the dominant real-corpus image codec) — with one
  * codegen'd kernel, no library needed. Full pixel/sample decode for
  * compressed codecs (JPEG pixels, PNG/MP3/H.264) needs a decoder
  * library this environment lacks; for those
  * [[Multimodal.decodeStub]] remains a clearly-marked STUB fallback
  * deriving deterministic fake dimensions, so swapping it for a
  * JNI/codec call changes one function.
  *
  * Scale: blobs never shuffle (all stages are narrow maps over the scan);
  * aggregations run on extracted small features. This mirrors the
  * mapInPandas batch shape: per-partition batches of rows, vectorized body.
  */
object Multimodal {

  /** media(media_id, kind, blob, meta{width,height,sample_rate}) — the
    * canonical multimodal schema. Synthetic deterministic blobs (seeded by
    * id) stand in for real encoded media; image-kind blobs carry a REAL
    * JPEG SOI+SOF0 header and video-kind blobs a REAL ISO-BMFF
    * ftyp+moov/trak/tkhd skeleton (dims = the meta dims in both), so the
    * header-parse tier exercises the two dominant real-corpus codecs
    * end-to-end. Image/audio blobs are exactly 64 bytes; video blobs are
    * the exact 128-byte ftyp+moov skeleton.
    */
  def syntheticMedia(spark: org.apache.spark.sql.SparkSession, n: Int): DataFrame = {
    val kind = element_at(typedLit(Seq("image", "audio", "video")),
      (pmod(col("media_id"), lit(3)) + 1).cast("int"))
    val w = (pmod(col("media_id"), lit(4)) * 160 + 320).cast("int")
    val h = (pmod(col("media_id"), lit(3)) * 120 + 240).cast("int")
    // deterministic pseudo-payload: concatenated hash hex of (id, chunk)
    val hashHex = concat((0 until 8).map(c =>
      lpad(hex(abs(xxhash64(col("media_id"), lit(c)))), 16, "0")): _*)
    // 21-byte canonical JPEG prefix: SOI, SOF0(len 17, precision 8,
    // height, width, 3 components with standard 4:2:0 sampling specs)
    val jpegHex = concat(lit("FFD8FFC0001108"), lpad(hex(h), 4, "0"),
      lpad(hex(w), 4, "0"), lit("03012200021101031101"),
      substring(hashHex, 1, 86))
    // canonical 128-byte MP4: ftyp(20) + moov(108){trak(100){tkhd v0(92)
    // with unity matrix and 16.16 fixed-point dims at the tail}}
    val mp4Hex = concat(
      lit("0000001466747970" + "69736F6D" + "00000200" + "69736F6D" + // ftyp
        "0000006C6D6F6F76" +                                          // moov
        "000000647472616B" +                                          // trak
        "0000005C746B6864" +                                          // tkhd
        "00000007" +                                 // v0, flags enabled|in-movie
        "0000000000000000" + "00000001" + "00000000" + "00000000" + // times/id/dur
        "0000000000000000" + "0000000000000000" +    // reserved, layer/alt/vol/res
        "000100000000000000000000" + "000000000001000000000000" +   // unity
        "000000000000000040000000"),                                // matrix
      lpad(hex(w), 4, "0"), lit("0000"),             // width  16.16
      lpad(hex(h), 4, "0"), lit("0000"))             // height 16.16
    spark.range(n.toLong).toDF("media_id")
      .select(
        col("media_id"),
        kind.as("kind"),
        unhex(when(kind === "image", jpegHex)
          .when(kind === "video", mp4Hex)
          .otherwise(hashHex)).as("blob"),
        struct(w.as("width"), h.as("height"),
          lit(16000).as("sample_rate")).as("meta"))
  }

  /** REAL decode for codec-free container formats — exact header parsing
    * as ONE codegen'd kernel call per blob
    * ([[ArrayKernels.MediaHeader]]: direct byte access, replacing the
    * earlier substring→hex→lpad→conv string-expression tree that cost 2×):
    *   - PPM (P6): ASCII header `P6 <width> <height> <maxval>`;
    *   - BMP ("BM" magic + a known BITMAPINFO* DIB size at offset 14 as a
    *     second witness against false positives): little-endian int32
    *     width/height at byte offsets 18/22 (signed height: top-down
    *     bitmaps store it negative);
    *   - WAV (canonical RIFF layout, "RIFF"+"WAVEfmt" witnesses): channels
    *     at offset 22 (uint16), sample rate at offset 24 (uint32);
    *   - JPEG (SOI magic): marker-segment walk to the first SOF frame
    *     header — exact width/height/channels for baseline, extended, and
    *     progressive JPEGs; dimensions only, pixels stay encoded;
    *   - PNG (signature + first-chunk IHDR): BE uint32 dimensions +
    *     color-type-derived channel count; pixels stay compressed;
    *   - GIF ("GIF87a"/"GIF89a"): LE uint16 logical-screen dimensions;
    *   - MP3 (frame header at 0 or after a skipped ID3v2 tag): sample
    *     rate + channel count from the header bit fields;
    *   - AVI (RIFF/"AVI " + LIST/hdrl + avih): video frame dimensions;
    *   - MP4/MOV (leading ftyp box): moov→trak→tkhd box walk to the
    *     first video track's 16.16 fixed-point dimensions; audio-only
    *     containers (.m4a) surface channels + sample rate from the
    *     first validated mp4a stsd sample entry instead.
    * Returns NULL for unrecognized blobs (non-byte-walkable codecs,
    * truncated headers) — the honest signal; callers choose the fallback
    * (see [[mediaFeatures]]).
    */
  def decodeHeaders(blob: Column): Column = ArrayKernels.media_header(blob)

  /** STUB decode: real systems call an image codec here (e.g. via JNI or a
    * Python mapInPandas worker). Deterministic fake: dimensions derived
    * from the first blob bytes. Signature and plumbing are production-real.
    */
  def decodeStub(blob: Column): Column =
    struct(
      (pmod(xxhash64(blob, lit(1)), lit(1024)) + 64).cast("int").as("dec_width"),
      (pmod(xxhash64(blob, lit(2)), lit(768)) + 64).cast("int").as("dec_height"),
      lit(3).as("channels"),
      lit(null).cast("int").as("sample_rate"),
      lit("stub").as("codec"))

  /** Feature extraction (REAL, not stubbed): 16-bin byte histogram over the
    * blob — the shape of any per-media feature vector computation.
    */
  def byteHistogram(blob: Column): Column = ArrayKernels.byte_histogram(blob, 16)

  /** Interleaved image-text sample assembly (the MMC4 / interleaved-
    * pretraining shape): given an (idCol, media_id) assignment table, each
    * document gets one `placeholder` token inserted per assigned media at
    * a deterministic token offset — the text a multimodal trainer consumes,
    * with the vision encoder's inputs resolved via media_id sidecars.
    * Insertion offsets are the same folded-id arithmetic as
    * [[graft.ops.Packing.fimTransform]] (pure function of the media id and
    * the document's token count — re-runs and the DuckDB oracle agree);
    * inserting in descending (offset, media_id) order means earlier
    * insertions never shift later ones, so equal-offset media land in
    * ascending id order. Documents with no assigned media pass through
    * with their ORIGINAL text; zero-token documents with media yield the
    * placeholders alone.
    *
    * Scale shape: only (id, media_id) pairs shuffle (one groupBy into
    * per-doc id lists, bounded by images-per-doc); the document text never
    * moves — the assignment list joins TO the corpus and the insertion is
    * one scan-stage array fold per row (`aggregate` lambda variables bind
    * per iteration, so the fold is safe from the HOF recompute trap).
    * Returns (idCol, n_images, textCol).
    */
  def interleaveMedia(docs: DataFrame, assignments: DataFrame,
      placeholder: String = "<image>", idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val slots = assignments.groupBy(idCol)
      .agg(collect_list(col("media_id").cast("long")).as("_mids"))
    val t = col("_t")
    val ins = col("_ins")
    docs.join(slots, Seq(idCol), "left")
      .withColumn("_t",
        coalesce(Core.tokensUni(col(textCol)), array().cast("array<string>")))
      // (offset, media_id) structs sorted DESC: reverse of the asc sort;
      // offsets via the shared Core.foldedOffset (pmod'd — negative media
      // ids can't produce a negative insertion offset into the fold)
      .withColumn("_ins", reverse(array_sort(
        transform(col("_mids"), m => struct(
          Core.foldedOffset(m, 7919L, size(t) + 1).as("p"),
          m.as("mid"))))))
      .select(col(idCol),
        coalesce(size(col("_mids")), lit(0)).cast("long").as("n_images"),
        when(col("_mids").isNull, col(textCol))
          .otherwise(array_join(
            aggregate(ins, t, (acc, s) => concat(
              slice(acc, lit(1), s.getField("p").cast("int")),
              array(lit(placeholder)),
              slice(acc, (s.getField("p") + 1).cast("int"),
                size(acc) - s.getField("p").cast("int")))),
            " "))
          .as(textCol))
  }

  /** Full pipeline over a media table: decode (real header parse when the
    * format is recognized, stub fallback for compressed codecs) → per-kind
    * feature aggregation. Blobs stay in the scan stage; only 16-int
    * features and small metadata cross the (single) shuffle.
    */
  def mediaFeatures(media: DataFrame): DataFrame =
    media.select(
        col("media_id"), col("kind"),
        col("meta.width").as("width"),
        coalesce(decodeHeaders(col("blob")), decodeStub(col("blob"))).as("dec"),
        byteHistogram(col("blob")).as("hist"))
      .groupBy(col("kind"))
      .agg(
        count(lit(1)).as("n_media"),
        avg(col("width")).as("avg_width"),
        avg(col("dec.dec_width")).as("avg_dec_width"),
        sum(element_at(col("hist"), 1)).as("bin0_total"))

  /** Synthetic decodable RAW images: a deterministic 16x16 P6 PPM per row,
    * pixels from an xxhash64 chain over `group` = media_id / copies — so
    * each group of `copies` consecutive ids renders the IDENTICAL image —
    * with one hash chunk re-seeded per copy index for every copy after
    * the group's first (a ~8-byte localized perturbation: the near-dup,
    * not the exact-dup, case). The PPM tier exists exactly for this:
    * pixels are honestly decodable in-engine, so the perceptual-hash
    * pipeline below is REAL end to end, no decode stub.
    */
  def syntheticPpm(spark: org.apache.spark.sql.SparkSession, n: Int,
      copies: Int = 4): DataFrame = {
    require(copies > 0, s"copies must be positive, got $copies")
    val group = (col("media_id") / copies).cast("long")
    val copy = pmod(col("media_id"), lit(copies)).cast("int")
    // 16x16x3 = 768 pixel bytes = 96 eight-byte hash chunks
    val chunks = (0 until 96).map { c =>
      val base = lpad(hex(abs(xxhash64(group, lit(c)))), 16, "0")
      if (c == 0)
        when(col("copy") === 0, base)
          .otherwise(lpad(hex(abs(xxhash64(group, col("copy"), lit(c)))), 16, "0"))
      else base
    }
    val hdrHex = lit("5036203136203136203235350A")  // "P6 16 16 255\n"
    spark.range(n.toLong).toDF("media_id")
      .withColumn("copy", copy)
      .select(col("media_id"), col("media_id").cast("long").divide(copies)
        .cast("long").as("group_id"),
        unhex(concat((hdrHex +: chunks): _*)).as("blob"))
  }

  /** Perceptual image hash: dHash over decodable PPM pixels
    * ([[ArrayKernels.PpmDHash]] — 9x8 luminance grid, 64 horizontal
    * gradient-sign bits). Null for undecodable blobs. */
  def imageDHash(blob: Column): Column = ArrayKernels.ppm_dhash(blob)

  /** Perceptual near-duplicate pairs by banded Hamming join — the image
    * twin of the text MinHash-LSH band trick, and the shape that scales:
    * the 64-bit dHash splits into 4 disjoint 16-bit bands; any pair
    * within Hamming distance 3 differs in at most 3 bands, so BY
    * PIGEONHOLE it collides on at least one band — candidate generation
    * is an equi-join on (band_idx, band_value), never an all-pairs scan,
    * and exact `bit_count(xor)` rescoring keeps precision exact. Recall
    * is GUARANTEED (not probabilistic) for maxHamming <= 3 under 4
    * bands. Input: (media_id, blob); undecodable blobs drop out (null
    * hash). Returns (a_id, b_id, hamming), a_id < b_id, deduped across
    * bands by the min-band ownership rule (emit a pair only from the
    * FIRST band it collides on — no distinct shuffle over pair rows).
    */
  def imageNearDup(media: DataFrame, maxHamming: Int = 3): DataFrame =
    bandedHammingPairs(
      media.select(col("media_id"), imageDHash(col("blob")).as("dh"))
        .where(col("dh").isNotNull),
      maxHamming)

  /** Near-duplicate pairs of any 64-bit perceptual hash column by banded
    * Hamming join — the generic core behind [[imageNearDup]] and
    * [[audioNearDup]]: 4 disjoint 16-bit bands, candidate = equi-join on
    * (band_idx, band_value), exact `bit_count(xor)` rescore, min-band
    * pair ownership (a pair is emitted only from the FIRST band it
    * collides on — exact dedup with zero extra shuffle). Recall is
    * pigeonhole-EXACT for maxHamming <= 3. `hashed` = (media_id, dh
    * BIGINT); it is localCheckpoint'd here — the band values are DERIVED
    * join keys, and live lineage would re-evaluate the upstream hash
    * chain inside the pushed-down null filters (the
    * Similarity.dedupFlagsByBlock lesson); the checkpoint is
    * (id, long)-sized.
    */
  def bandedHammingPairs(hashed0: DataFrame, maxHamming: Int): DataFrame = {
    val hashed = hashed0.localCheckpoint()
    val banded = hashed.select(col("media_id"), col("dh"),
      explode(array((0 until 4).map(bnd => struct(lit(bnd).as("band"),
        shiftrightunsigned(col("dh"), bnd * 16)
          .bitwiseAND(lit(0xffffL)).as("bval"))): _*)).as("b"))
      .select(col("media_id"), col("dh"),
        col("b.band").as("band"), col("b.bval").as("bval"))
    val l = banded.select(col("band"), col("bval"),
      col("media_id").as("a_id"), col("dh").as("a_dh"))
    val r = banded.select(col("band"), col("bval"),
      col("media_id").as("b_id"), col("dh").as("b_dh"))
    l.join(r, Seq("band", "bval"))
      .where(col("a_id") < col("b_id"))
      .select(col("band"), col("a_id"), col("b_id"),
        bit_count(col("a_dh").bitwiseXOR(col("b_dh"))).as("hamming"),
        col("a_dh"), col("b_dh"))
      .where(col("hamming") <= maxHamming)
      // min-band ownership: recompute the first band this pair collides
      // on from the two hashes (scan-stage arithmetic) and keep the row
      // only where it was produced — exact dedup with zero extra shuffle
      .where(col("band") === least((0 until 4).map { bnd =>
        when(shiftrightunsigned(col("a_dh"), bnd * 16).bitwiseAND(lit(0xffffL))
          === shiftrightunsigned(col("b_dh"), bnd * 16).bitwiseAND(lit(0xffffL)),
          lit(bnd)).otherwise(lit(4))
      }: _*))
      .select(col("a_id"), col("b_id"), col("hamming").cast("int").as("hamming"))
  }

  /** Perceptual AUDIO hash: 64 energy-gradient sign bits over the first
    * 65 per-frame RMS values of a canonical PCM16 WAV
    * ([[ArrayKernels.WavFrameRms]] does the real decode). Gradient signs
    * are invariant under uniform gain change (RMS scales linearly), the
    * audio analogue of dHash's brightness invariance — the standard
    * cheap acoustic near-dup key (the chromaprint family's energy-delta
    * core, mono/band-collapsed). NULL for non-WAV blobs or recordings
    * shorter than 65 frames (no honest hash). Bits fold MSB-first
    * (acc·2 + sign) so the whole hash is one HOF aggregate over the
    * RMS array — no new kernel needed.
    */
  def audioHash(blob: Column, frameSamples: Int = 4): Column = {
    val r = ArrayKernels.wav_frame_rms(blob, frameSamples)
    // two 32-bit halves combined bitwise: a single 64-bit acc·2 fold
    // would ANSI-overflow at the last doubling whenever the first
    // gradient bit is set (shiftleft/bitwiseOR are bit ops — no
    // overflow check, the bit pattern is the hash)
    def half(lobit: Int): Column =
      aggregate(sequence(lit(lobit), lit(lobit + 31)), lit(0L),
        (acc, i) => acc * 2 + when(element_at(r, i + 1) > element_at(r, i),
          lit(1L)).otherwise(lit(0L)))
    when(size(r) >= 65, shiftleft(half(1), 32).bitwiseOR(half(33)))
  }

  /** [[imageNearDup]]'s audio twin over the same banded-Hamming core:
    * (media_id, blob) in, (a_id, b_id, hamming) out; undecodable or
    * too-short blobs drop out (null hash).
    */
  def audioNearDup(media: DataFrame, maxHamming: Int = 3,
      frameSamples: Int = 4): DataFrame =
    bandedHammingPairs(
      media.select(col("media_id"),
          audioHash(col("blob"), frameSamples).as("dh"))
        .where(col("dh").isNotNull),
      maxHamming)

  /** Synthetic decodable WAVs, the audio twin of [[syntheticPpm]]: a
    * canonical 44-byte PCM16 mono header + 520 sample bytes (65 frames
    * at 4 samples/frame) from an xxhash64 chain over `group` =
    * media_id / copies, with one 8-byte chunk re-seeded per copy index
    * for every copy after the group's first.
    */
  def syntheticWav(spark: org.apache.spark.sql.SparkSession, n: Int,
      copies: Int = 4): DataFrame = {
    require(copies > 0, s"copies must be positive, got $copies")
    val group = (col("media_id") / copies).cast("long")
    // RIFF(36+520) WAVE fmt(16, PCM, mono, 16 kHz, 16-bit) data(520)
    val hdrHex = lit("524946462C02000057415645666D7420100000000100" +
      "0100803E0000007D00000200100064617461" + "08020000")
    val chunks = (0 until 65).map { c =>
      val base = lpad(hex(abs(xxhash64(group, lit(1000 + c)))), 16, "0")
      if (c == 0)
        when(col("copy") === 0, base)
          .otherwise(
            lpad(hex(abs(xxhash64(group, col("copy"), lit(1000 + c)))), 16, "0"))
      else base
    }
    spark.range(n.toLong).toDF("media_id")
      .withColumn("copy", pmod(col("media_id"), lit(copies)).cast("int"))
      .select(col("media_id"), (col("media_id") / copies).cast("long")
        .as("group_id"),
        unhex(concat((hdrHex +: chunks): _*)).as("blob"))
  }
}
