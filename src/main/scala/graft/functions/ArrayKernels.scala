package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, GenericInternalRow, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for the hot array kernels.
  *
  * Spark's higher-order array functions (`transform`/`aggregate`/`zip_with`)
  * are evaluated interpreted — fine for occasional use, but a dot product
  * executed 4M times per stage or a 32-hash MinHash over every shingle of
  * every document is exactly the hot path WholeStageCodegen exists for.
  *
  * Each kernel's algorithm is ONE Scala method, `compute`. A kernel
  * extends [[UnaryKernel]], [[BinaryKernel]] or [[TernaryKernel]], which
  * call `compute` from both the interpreted `nullSafeEval` and the
  * generated code (`$ref.compute(...)` against `ctx.addReferenceObj(...,
  * this, ...)`), so the two paths cannot drift; its input types are
  * Spark's `ExpectsInputTypes` check over `inputTypes`, with no casts.
  * Outside that shape:
  *  - [[MinHashSignature]] writes its loop out as generated Java: baking
  *    its parameters into the code as constants was measured to pay;
  *  - [[PpmDHash]] unboxes its null-or-`Long` result in its own code;
  *  - [[GramMaxMerge]] and [[GramClipStats]] keep a hand-written type
  *    check: they match struct field names case-sensitively, which
  *    `inputTypes` does not under case-insensitive analysis;
  *  - [[MmrGreedy]] is interpreted only (`CodegenFallback`: its rows are
  *    query-batch-sized) and checks struct field types but not names.
  */
object ArrayKernels {

  /** One-input kernel: the class supplies `dataType`, `inputTypes` and
    * `compute`. `mayReturnNull` marks a `compute` that returns null for
    * an input it cannot parse. No input type of any kernel may be
    * `AnyRef`: the generated code's compiler also sees the erased bridge
    * `Object compute(Object)` and rejects a second `compute(Object)`.
    */
  private[functions] trait UnaryKernel[A, R] extends UnaryExpression with ExpectsInputTypes {
    def compute(a: A): R
    protected def mayReturnNull: Boolean = false
    override def nullable: Boolean = mayReturnNull || child.nullable
    override def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[A])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj(prettyName, this, getClass.getName)
      val isNull = if (mayReturnNull) s"\n${ev.isNull} = ${ev.value} == null;" else ""
      nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);$isNull")
    }
  }

  /** Two-input kernel: [[UnaryKernel]]'s wiring over `left` and `right`. */
  private[functions] trait BinaryKernel[A, B, R] extends BinaryExpression with ExpectsInputTypes {
    def compute(a: A, b: B): R
    override def nullSafeEval(a: Any, b: Any): Any = compute(a.asInstanceOf[A], b.asInstanceOf[B])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj(prettyName, this, getClass.getName)
      nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.compute($a, $b);")
    }
  }

  /** Three-input kernel: [[UnaryKernel]]'s wiring over three children. */
  private[functions] trait TernaryKernel[A, B, C, R] extends TernaryExpression with ExpectsInputTypes {
    def compute(a: A, b: B, c: C): R
    override def nullSafeEval(a: Any, b: Any, c: Any): Any =
      compute(a.asInstanceOf[A], b.asInstanceOf[B], c.asInstanceOf[C])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj(prettyName, this, getClass.getName)
      nullSafeCodeGen(ctx, ev, (a, b, c) => s"${ev.value} = $ref.compute($a, $b, $c);")
    }
  }

  /** `poisson1_weight(key, lane)` — the deterministic Poisson(1)
    * bootstrap multiplicity: md5 the UTF-8 bytes of `key`, read 32-bit
    * big-endian lane `lane` (0..3) of the 128-bit digest as an unsigned
    * uniform u = (v + 0.5)/2³², and return the number of inverse-CDF
    * `thresholds` at or below u. Bit-identical to the SQL replay
    * `len(list_filter(cdf, c -> (('0x'||substring(md5(k), lane*8+1, 8))
    * ::UBIGINT + 0.5)/2^32 >= c))`, but ONE digest per row in a codegen
    * call — the composed built-in form evaluates the md5 chain once per
    * THRESHOLD because higher-order lambdas fall out of whole-stage
    * codegen (measured 9×: 105 s vs ~13 s at 100M draws).
    */
  case class Poisson1Weight(left: Expression, right: Expression,
      thresholds: Seq[Double]) extends BinaryKernel[UTF8String, Int, Int] {
    require(thresholds.nonEmpty && thresholds == thresholds.sorted,
      "poisson1_weight thresholds must be sorted and non-empty")
    private val ts: Array[Double] = thresholds.toArray
    @transient private lazy val digest =
      new ThreadLocal[java.security.MessageDigest] {
        override def initialValue(): java.security.MessageDigest =
          java.security.MessageDigest.getInstance("MD5")
      }
    override def dataType: DataType = IntegerType
    override def inputTypes = Seq(StringType, IntegerType)
    def compute(key: UTF8String, lane: Int): Int = {
      require(lane >= 0 && lane <= 3, s"poisson1_weight lane $lane not in 0..3")
      val md = digest.get()
      md.reset()
      val d = md.digest(key.getBytes)
      val o = lane * 4
      val v = ((d(o) & 0xFFL) << 24) | ((d(o + 1) & 0xFFL) << 16) |
        ((d(o + 2) & 0xFFL) << 8) | (d(o + 3) & 0xFFL)
      val u = (v + 0.5) / 4294967296.0
      var k = 0
      while (k < ts.length && u >= ts(k)) k += 1
      k
    }
    override protected def withNewChildrenInternal(newLeft: Expression,
        newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** `array_dot(a, b)` — Σ aᵢ·bᵢ over two ARRAY<DOUBLE> columns. */
  case class ArrayDotProduct(left: Expression, right: Expression)
      extends BinaryKernel[ArrayData, ArrayData, Double] {
    override def dataType: DataType = DoubleType
    override def inputTypes = Seq(ArrayType(DoubleType), ArrayType(DoubleType))
    def compute(x: ArrayData, y: ArrayData): Double = {
      val n = math.min(x.numElements(), y.numElements())
      var s = 0.0
      var i = 0
      while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
      s
    }
    override protected def withNewChildrenInternal(newLeft: Expression,
        newRight: Expression): Expression = copy(left = newLeft, right = newRight)
  }

  /** `minhash_sig(tokenHashes, shingleK)` — k-permutation MinHash signature
    * computed directly from an ARRAY<BIGINT> of token hashes: each length-K
    * token window is combined into a shingle hash with a rolling polynomial
    * (no shingle strings are ever materialized), then sigᵢ = min over
    * shingles of (aᵢ·h + bᵢ) mod p. One codegen'd pass. Duplicate shingles
    * need no dedup: duplicates never change a min.
    */
  case class MinHashSignature(child: Expression, shingleK: Int, a: Array[Long],
      b: Array[Long], p: Long) extends UnaryKernel[ArrayData, ArrayData] {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def inputTypes = Seq(ArrayType(LongType))

    private def k = a.length
    def compute(hs: ArrayData): ArrayData = {
      val n = hs.numElements()
      val mins = Array.fill(k)(Long.MaxValue)
      // docs with fewer than shingleK tokens have an EMPTY shingle set:
      // the all-MaxValue signature is the empty-set marker (callers filter
      // it before LSH banding — empty sets have no meaningful similarity)
      val nShingles = math.max(n - shingleK + 1, 0)
      var j = 0
      while (j < nShingles) {
        var sh = 0L
        var t = 0
        while (t < shingleK && j + t < n) { sh = sh * 1000003L ^ hs.getLong(j + t); t += 1 }
        val h = java.lang.Math.floorMod(sh, p)
        var i = 0
        while (i < k) {
          val v = java.lang.Math.floorMod(a(i) * h + b(i), p)
          if (v < mins(i)) mins(i) = v
          i += 1
        }
        j += 1
      }
      new GenericArrayData(mins)
    }
    // the one kernel that keeps an inline generated loop: it bakes p, k
    // and shingleK into the code as constants. Measured against the
    // `$ref.compute` call form (400k rows, local[4], median of 7 runs, two
    // rounds), the call form was 9-17 % slower (3663 -> 3975 ms and
    // 3305 -> 3882 ms); the other array kernels moved by at most ~9 %
    // either way. Parity with `compute` is pinned in PropertySpec.
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val aRef = ctx.addReferenceObj("minhashA", a, "long[]")
      val bRef = ctx.addReferenceObj("minhashB", b, "long[]")
      nullSafeCodeGen(ctx, ev, in => {
        val mins = ctx.freshName("mins")
        val n = ctx.freshName("n")
        val nSh = ctx.freshName("nSh")
        val i = ctx.freshName("i")
        val j = ctx.freshName("j")
        val t = ctx.freshName("t")
        val sh = ctx.freshName("sh")
        val h = ctx.freshName("h")
        val v = ctx.freshName("v")
        s"""
           |int $n = $in.numElements();
           |long[] $mins = new long[$k];
           |java.util.Arrays.fill($mins, Long.MAX_VALUE);
           |int $nSh = java.lang.Math.max($n - $shingleK + 1, 0);
           |for (int $j = 0; $j < $nSh; $j++) {
           |  long $sh = 0L;
           |  for (int $t = 0; $t < $shingleK && $j + $t < $n; $t++) {
           |    $sh = $sh * 1000003L ^ $in.getLong($j + $t);
           |  }
           |  long $h = java.lang.Math.floorMod($sh, ${p}L);
           |  for (int $i = 0; $i < $k; $i++) {
           |    long $v = java.lang.Math.floorMod($aRef[$i] * $h + $bRef[$i], ${p}L);
           |    if ($v < $mins[$i]) $mins[$i] = $v;
           |  }
           |}
           |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($mins);
         """.stripMargin
      })
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** `array_eq_count(a, b)` — number of positions where two ARRAY<BIGINT>
    * agree; the MinHash similarity estimate numerator, codegen'd.
    */
  case class ArrayEqCount(left: Expression, right: Expression)
      extends BinaryKernel[ArrayData, ArrayData, Int] {
    override def dataType: DataType = IntegerType
    override def inputTypes = Seq(ArrayType(LongType), ArrayType(LongType))
    def compute(x: ArrayData, y: ArrayData): Int = {
      val n = math.min(x.numElements(), y.numElements())
      var c = 0
      var i = 0
      while (i < n) { if (x.getLong(i) == y.getLong(i)) c += 1; i += 1 }
      c
    }
    override protected def withNewChildrenInternal(newLeft: Expression,
        newRight: Expression): Expression = copy(left = newLeft, right = newRight)
  }

  /** `simhash64(hashes)` — 64-bit SimHash from an ARRAY<BIGINT> of token
    * hashes: per-bit ±1 votes, sign → bit. The codegen'd form of 64×
    * `aggregate(...)` bit-vote expressions.
    */
  case class SimHash64(child: Expression)
      extends UnaryKernel[ArrayData, Long] {
    override def dataType: DataType = LongType
    override def inputTypes = Seq(ArrayType(LongType))
    def compute(hs: ArrayData): Long = {
      val n = hs.numElements()
      val votes = new Array[Int](64)
      var j = 0
      while (j < n) {
        val h = hs.getLong(j)
        var bit = 0
        while (bit < 64) {
          if (((h >>> bit) & 1L) == 1L) votes(bit) += 1 else votes(bit) -= 1
          bit += 1
        }
        j += 1
      }
      var sig = 0L
      var bit = 0
      while (bit < 64) { if (votes(bit) > 0) sig |= (1L << bit); bit += 1 }
      sig
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** `byte_histogram(blob, bins)` — histogram of byte values over a BINARY
    * column, `bins` equal-width buckets of the 0..255 range. The canonical
    * cheap per-media feature vector; codegen'd single pass.
    */
  case class ByteHistogram(child: Expression, bins: Int)
      extends UnaryKernel[Array[Byte], ArrayData] {
    require(bins > 0 && bins <= 256, s"byte_histogram: bins must be in 1..256, got $bins")
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def inputTypes = Seq(BinaryType)
    def compute(bytes: Array[Byte]): ArrayData = {
      val hist = new Array[Int](bins)
      var i = 0
      while (i < bytes.length) {
        hist((bytes(i) & 0xff) * bins / 256) += 1
        i += 1
      }
      new GenericArrayData(hist)
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Per-thread Deflater + scratch buffer: one native zlib stream per
    * executor thread instead of one malloc/free per ROW (at corpus scale
    * that overhead dominates the compression itself). reset() between
    * rows; only the compressed LENGTH is read, so the scratch buffer's
    * contents are never kept.
    */
  private val deflaters =
    ThreadLocal.withInitial[(java.util.zip.Deflater, Array[Byte])](() =>
      (new java.util.zip.Deflater(6, true), new Array[Byte](8192)))

  /** `deflate_ratio(text|binary)` — compressed/raw size under DEFLATE: the
    * language-agnostic repetitiveness signal (Gopher/MassiveText filter
    * boilerplate and degenerate text on exactly this — highly repetitive
    * documents compress far below natural text). Raw DEFLATE (nowrap — no
    * zlib envelope skewing short inputs), level 6. Empty input returns 1.0
    * by convention ("no compression possible") — empty/degenerate-short
    * documents are the length filters' job, not this signal's; callers
    * relying on a low-ratio cut must gate on length first.
    */
  case class DeflateRatio(child: Expression)
      extends UnaryKernel[java.io.Serializable, Double] {
    override def dataType: DataType = DoubleType
    override def inputTypes = Seq(GraftSqlBridge.stringOrBinary)
    // Serializable: the narrowest type over UTF8String and byte[] that is
    // not Object (see UnaryKernel)
    def compute(in: java.io.Serializable): Double = {
      val bytes = in match {
        case s: UTF8String => s.getBytes
        case b: Array[Byte] => b
      }
      if (bytes.isEmpty) return 1.0
      val (d, buf) = deflaters.get()
      d.reset()
      d.setInput(bytes)
      d.finish()
      var total = 0L
      while (!d.finished()) total += d.deflate(buf)
      total.toDouble / bytes.length
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Decoded-media struct type shared with [[graft.ops.Multimodal]]. */
  private[graft] val MEDIA_HEADER_T = StructType(Seq(
    StructField("dec_width", IntegerType),
    StructField("dec_height", IntegerType),
    StructField("channels", IntegerType),
    StructField("sample_rate", IntegerType),
    StructField("codec", StringType)))

  private val PPM_CODEC = UTF8String.fromString("ppm")
  private val BMP_CODEC = UTF8String.fromString("bmp")
  private val WAV_CODEC = UTF8String.fromString("wav")
  private val JPEG_CODEC = UTF8String.fromString("jpeg")
  private val PNG_CODEC = UTF8String.fromString("png")
  private val GIF_CODEC = UTF8String.fromString("gif")
  private val MP3_CODEC = UTF8String.fromString("mp3")
  private val AVI_CODEC = UTF8String.fromString("avi")
  private val MP4_CODEC = UTF8String.fromString("mp4")

  private def leUInt(b: Array[Byte], off: Int, n: Int): Long = {
    var v = 0L
    var i = n - 1
    while (i >= 0) { v = (v << 8) | (b(off + i) & 0xffL); i -= 1 }
    v
  }

  private def beUInt(b: Array[Byte], off: Int, n: Int): Long = {
    var v = 0L
    var i = 0
    while (i < n) { v = (v << 8) | (b(off + i) & 0xffL); i += 1 }
    v
  }

  /** Static helper for [[WavFrameRms]]: per-frame RMS energy over a
    * canonical PCM16 RIFF WAV (the REAL audio feature-extraction path —
    * compressed codecs fall through to null like [[parseMediaHeader]]).
    * Layout requirements, each a witness against misparsing arbitrary
    * bytes: "RIFF"+"WAVEfmt " header, audio format 1 (PCM) at offset 20,
    * 16 bits/sample at offset 34, canonical "data" chunk at offset 36
    * with samples from 44. Interleaved channels are treated as one
    * linear sample stream (frame = `frameSamples` successive samples).
    */
  def wavFrameRms(b: Array[Byte], frameSamples: Int): ArrayData = {
    // 44 bytes = full canonical header; a declared-zero-sample WAV is a
    // VALID empty recording (empty array), not a reject
    if (b == null || b.length < 44) return null
    if (!(b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
        b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E' &&
        b(12) == 'f' && b(13) == 'm' && b(14) == 't' && b(15) == ' ')) return null
    // canonical fmt chunk is exactly 16 bytes — a nonstandard size shifts
    // every later offset, so the fixed-layout walk below would misread it
    if (leUInt(b, 16, 4) != 16L) return null
    if (leUInt(b, 20, 2) != 1L || leUInt(b, 34, 2) != 16L) return null
    if (!(b(36) == 'd' && b(37) == 'a' && b(38) == 't' && b(39) == 'a')) return null
    val declared = leUInt(b, 40, 4)
    val avail = (b.length - 44).toLong
    val nSamples = (math.min(declared, avail) / 2L).toInt
    if (nSamples <= 0) return new GenericArrayData(new Array[Double](0))
    // ceiling division in Long: an Int frameSamples near MaxValue would
    // wrap the sum negative and silently yield zero frames
    val nFrames = ((nSamples.toLong + frameSamples - 1) / frameSamples).toInt
    val out = new Array[Double](nFrames)
    var f = 0
    while (f < nFrames) {
      val start = f * frameSamples
      val end = math.min(start + frameSamples, nSamples)
      var ss = 0.0
      var s = start
      while (s < end) {
        val off = 44 + s * 2
        val v = ((b(off) & 0xff) | (b(off + 1) << 8)).toShort.toDouble
        ss += v * v
        s += 1
      }
      out(f) = math.sqrt(ss / (end - start))
      f += 1
    }
    new GenericArrayData(out)
  }

  /** Static helper for [[PpmPatchMeans]]: ViT-style patch grid over a raw
    * P6 PPM (binary RGB, the one image container whose pixels are pure
    * bytes): per `patch`×`patch` cell, the mean R/G/B over its pixels
    * (ragged edge cells average their actual pixels). Null unless the
    * header parses, maxval ≤ 255, and the payload holds ALL w·h·3 bytes —
    * a truncated image yields null, not silently wrong means.
    */
  /** P6 header: "P6", three ASCII ints (w, h, maxval), ONE whitespace
    * byte, then raw RGB. Returns (w, h, maxval, pixelOffset) or null —
    * shared by [[ppmPatchMeans]] (and structured like
    * [[parseMediaHeader]]'s PPM branch, which additionally bounds its
    * scan window for sniffing).
    */
  private def parsePpmHeader(b: Array[Byte]): Array[Int] = {
    if (b == null || b.length < 2 || b(0) != 'P' || b(1) != '6') return null
    val vals = new Array[Int](3)
    var i = 2
    var f = 0
    while (f < 3) {
      while (i < b.length && (b(i) == ' ' || b(i) == '\t' || b(i) == '\n' || b(i) == '\r')) i += 1
      if (i >= b.length || b(i) < '0' || b(i) > '9') return null
      var v = 0
      while (i < b.length && b(i) >= '0' && b(i) <= '9') { v = v * 10 + (b(i) - '0'); i += 1 }
      vals(f) = v
      f += 1
    }
    // the byte after maxval must BE whitespace — consuming an arbitrary
    // byte here would shift every pixel read by one and return silently
    // wrong data for a malformed header
    if (i >= b.length ||
      !(b(i) == ' ' || b(i) == '\t' || b(i) == '\n' || b(i) == '\r')) return null
    Array(vals(0), vals(1), vals(2), i + 1)
  }

  def ppmPatchMeans(b: Array[Byte], patch: Int): ArrayData = {
    val hdr = parsePpmHeader(b)
    if (hdr == null) return null
    val (w, h, maxval, i) = (hdr(0), hdr(1), hdr(2), hdr(3))
    if (w <= 0 || h <= 0 || maxval <= 0 || maxval > 255) return null
    if (b.length - i < w.toLong * h * 3) return null
    // ceiling division in Long: Int patch near MaxValue would wrap the
    // sum negative and yield an empty grid instead of one whole-image patch
    val cols = ((w.toLong + patch - 1) / patch).toInt
    val rows = ((h.toLong + patch - 1) / patch).toInt
    val out = new Array[Any](rows * cols)
    var pr = 0
    while (pr < rows) {
      var pc = 0
      while (pc < cols) {
        var sr = 0L; var sg = 0L; var sb = 0L
        val y0 = pr * patch; val y1 = math.min(y0 + patch, h)
        val x0 = pc * patch; val x1 = math.min(x0 + patch, w)
        var y = y0
        while (y < y1) {
          var x = x0
          var off = i + (y.toLong * w + x).toInt * 3
          while (x < x1) {
            sr += b(off) & 0xff; sg += b(off + 1) & 0xff; sb += b(off + 2) & 0xff
            off += 3
            x += 1
          }
          y += 1
        }
        val n = (y1 - y0).toDouble * (x1 - x0)
        out(pr * cols + pc) = new GenericInternalRow(
          Array[Any](pr, pc, sr / n, sg / n, sb / n))
        pc += 1
      }
      pr += 1
    }
    new GenericArrayData(out)
  }

  /** dHash (difference hash) over raw PPM bytes: mean luminance on a
    * 9x8 grid, then bit (r,c) = cell(r,c+1) > cell(r,c) — 64 horizontal
    * gradient signs packed into one long. Gradient signs are invariant
    * under uniform brightness/contrast shifts, which is why dHash is the
    * standard cheap perceptual near-dup key for image corpora. Null for
    * non-PPM blobs or images smaller than the 9x8 grid (no honest hash).
    */
  def ppmDHash(b: Array[Byte]): Any = {
    val hdr = parsePpmHeader(b)
    if (hdr == null) return null
    val (w, h, maxval, i) = (hdr(0), hdr(1), hdr(2), hdr(3))
    if (w < 9 || h < 8 || maxval <= 0 || maxval > 255) return null
    if (b.length - i < w.toLong * h * 3) return null
    val cells = new Array[Double](9 * 8)
    var r = 0
    while (r < 8) {
      var c = 0
      while (c < 9) {
        val y0 = (r.toLong * h / 8).toInt; val y1 = ((r + 1).toLong * h / 8).toInt
        val x0 = (c.toLong * w / 9).toInt; val x1 = ((c + 1).toLong * w / 9).toInt
        var s = 0L
        var y = y0
        while (y < y1) {
          var off = i + (y.toLong * w + x0).toInt * 3
          var x = x0
          while (x < x1) {
            s += (b(off) & 0xff) + (b(off + 1) & 0xff) + (b(off + 2) & 0xff)
            off += 3
            x += 1
          }
          y += 1
        }
        cells(r * 9 + c) = s.toDouble / ((y1 - y0).toLong * (x1 - x0) * 3)
        c += 1
      }
      r += 1
    }
    var bits = 0L
    var k = 0
    while (k < 64) {
      val row = k / 8; val col = k % 8
      if (cells(row * 9 + col + 1) > cells(row * 9 + col)) bits |= 1L << k
      k += 1
    }
    java.lang.Long.valueOf(bits)
  }

  /** `ppm_dhash(blob)` — the [[ppmDHash]] kernel as an expression. */
  case class PpmDHash(child: Expression) extends UnaryKernel[Array[Byte], Any] {
    override protected def mayReturnNull: Boolean = true
    override def dataType: DataType = LongType
    override def inputTypes = Seq(BinaryType)
    def compute(b: Array[Byte]): Any = ppmDHash(b)
    // `compute` returns a boxed Long or null: unbox it here, as the
    // trait's `value = compute(...)` line would throw on a null
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj(prettyName, this, getClass.getName)
      nullSafeCodeGen(ctx, ev, in => {
        val pdh = ctx.freshName("pdh")
        s"""
          |Object $pdh = $ref.compute($in);
          |${ev.isNull} = $pdh == null;
          |${ev.value} = ${ev.isNull} ? -1L : ((java.lang.Long) $pdh).longValue();
         """.stripMargin
      })
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  private[graft] val PATCH_T = ArrayType(StructType(Seq(
    StructField("p_row", IntegerType, nullable = false),
    StructField("p_col", IntegerType, nullable = false),
    StructField("mean_r", DoubleType, nullable = false),
    StructField("mean_g", DoubleType, nullable = false),
    StructField("mean_b", DoubleType, nullable = false))), containsNull = false)

  /** `ppm_patch_means(blob, patch)` — patch-grid mean RGB over raw PPM
    * bytes as one codegen'd kernel call; null for anything else.
    */
  case class PpmPatchMeans(child: Expression, patch: Int)
      extends UnaryKernel[Array[Byte], ArrayData] {
    require(patch > 0, s"ppm_patch_means: patch must be positive, got $patch")
    override protected def mayReturnNull: Boolean = true
    override def dataType: DataType = PATCH_T
    override def inputTypes = Seq(BinaryType)
    def compute(b: Array[Byte]): ArrayData = ppmPatchMeans(b, patch)
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** `wav_frame_rms(blob, frameSamples)` — per-frame RMS over PCM16 WAV
    * bytes as one codegen'd kernel call (see [[wavFrameRms]]); null for
    * anything that is not canonical PCM16 WAV.
    */
  case class WavFrameRms(child: Expression, frameSamples: Int)
      extends UnaryKernel[Array[Byte], ArrayData] {
    require(frameSamples > 0,
      s"wav_frame_rms: frameSamples must be positive, got $frameSamples")
    override protected def mayReturnNull: Boolean = true
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def inputTypes = Seq(BinaryType)
    def compute(b: Array[Byte]): ArrayData = wavFrameRms(b, frameSamples)
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** JPEG frame-header scan for [[parseMediaHeader]]: walk the
    * marker-segment chain from SOI and return (width, height, channels)
    * from the first SOF marker — a pure byte walk over the header
    * segments, no entropy decode, no library. Accepts the whole SOFn
    * family except the non-frame C4 (DHT) / C8 (JPG ext) / CC (DAC)
    * codes, so baseline (SOF0), extended (SOF1), and progressive (SOF2)
    * — effectively every real-world JPEG — all parse. Dimensions live at
    * fixed offsets inside the SOF payload: precision(1) height(2,BE)
    * width(2,BE) nComponents(1). NULL on anything non-canonical: a
    * non-marker byte where a segment must start, a declared segment
    * length running past the blob (truncation), EOI or start-of-scan
    * reached with no SOF seen, or a DNL-deferred (zero) height. The walk
    * jumps segment-to-segment by declared length, so it is linear in
    * header bytes and never scans entropy-coded data.
    */
  def jpegSof(b: Array[Byte]): InternalRow = {
    var i = 2 // past SOI
    while (i + 3 < b.length) {
      if ((b(i) & 0xff) != 0xff) return null
      // fill bytes: any number of 0xFF may pad before the marker code
      while (i + 1 < b.length && (b(i + 1) & 0xff) == 0xff) i += 1
      if (i + 3 >= b.length) return null
      val m = b(i + 1) & 0xff
      if (m == 0xd8 || m == 0x01 || (m >= 0xd0 && m <= 0xd7)) {
        i += 2 // standalone markers carry no length field
      } else if (m == 0xd9 || m == 0xda) {
        return null // EOI / SOS reached without a frame header
      } else {
        val len = ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)
        if (len < 2 || i + 2 + len > b.length) return null // truncated
        if (m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc) {
          if (len < 8 || i + 9 >= b.length) return null
          val h = ((b(i + 5) & 0xff) << 8) | (b(i + 6) & 0xff)
          val w = ((b(i + 7) & 0xff) << 8) | (b(i + 8) & 0xff)
          val nc = b(i + 9) & 0xff
          if (w <= 0 || h <= 0) return null // h=0 ⇒ DNL-deferred height
          return new GenericInternalRow(Array[Any](w, h, nc, null, JPEG_CODEC))
        }
        i += 2 + len
      }
    }
    null
  }

  /** PNG IHDR parse for [[parseMediaHeader]]: the full 8-byte signature,
    * then the FIRST chunk must be the canonical 13-byte IHDR (the PNG
    * spec requires it first — a conforming file can't hide it) — width
    * and height are BE uint32 at fixed offsets 16/20, channel count
    * derived from the color type at 25 (grey 1, grey+alpha 2,
    * truecolor/palette 3, RGBA 4). Dimensions only, pixels stay
    * DEFLATE-compressed. NULL on a malformed signature, a non-IHDR first
    * chunk, an unknown color type, or zero/out-of-int-range dimensions.
    */
  def pngIhdr(b: Array[Byte]): InternalRow = {
    if (b.length < 26) return null
    if (!((b(4) & 0xff) == 0x0d && (b(5) & 0xff) == 0x0a &&
        (b(6) & 0xff) == 0x1a && (b(7) & 0xff) == 0x0a)) return null
    if (!(b(8) == 0 && b(9) == 0 && b(10) == 0 && b(11) == 13 &&
        b(12) == 'I' && b(13) == 'H' && b(14) == 'D' && b(15) == 'R')) return null
    val w = beUInt(b, 16, 4)
    val h = beUInt(b, 20, 4)
    val channels = (b(25) & 0xff) match {
      case 0 => 1
      case 2 => 3
      case 3 => 3 // palette indices decode to RGB
      case 4 => 2
      case 6 => 4
      case _ => return null
    }
    if (w <= 0 || h <= 0 || w > Int.MaxValue || h > Int.MaxValue) return null
    new GenericInternalRow(Array[Any](w.toInt, h.toInt, channels, null, PNG_CODEC))
  }

  // kbps by (layer index 0=I,1=II,2=III)(bitrate code 1..14); code 0 is
  // free-format and 15 reserved — both rejected as witnesses
  private val MP3_BITRATES_V1 = Array(
    Array(0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448),
    Array(0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384),
    Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320))
  private val MP3_BITRATES_V2 = Array(
    Array(0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256),
    Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
    Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160))

  /** MP3 frame-header parse for [[parseMediaHeader]]: sample rate and
    * channel count from the first frame header's bit fields. A bare
    * 2-byte sync is far too weak a witness (1 in ~5k random blobs), so
    * the canonical-layout policy here is three-fold: the frame must sit
    * at byte 0 or immediately after an ID3v2 tag whose declared syncsafe
    * size is skipped (never a free scan for sync bits); every bit field
    * must be non-reserved and non-free-format; and the frame length
    * computed from the (version, layer, bitrate, rate, padding) fields
    * must land EXACTLY on the blob end or on another frame sync —
    * arbitrary bytes essentially never satisfy the chain. NULL
    * otherwise. Audio stays MPEG-encoded; this is metadata only.
    */
  def mp3Header(b: Array[Byte]): InternalRow = {
    var off = 0
    if (b.length >= 10 && b(0) == 'I' && b(1) == 'D' && b(2) == '3') {
      // ID3v2: 4-byte syncsafe (7-bit) size at 6..9, tag body follows
      // the 10-byte header
      var sz = 0L
      var i = 6
      while (i < 10) {
        if ((b(i) & 0x80) != 0) return null // syncsafe bytes keep bit 7 clear
        sz = (sz << 7) | (b(i) & 0x7fL)
        i += 1
      }
      if (10L + sz > Int.MaxValue) return null
      off = 10 + sz.toInt
    }
    if (off < 0 || off + 4 > b.length) return null
    if ((b(off) & 0xff) != 0xff || (b(off + 1) & 0xe0) != 0xe0) return null
    val version = (b(off + 1) >> 3) & 3 // 0=MPEG2.5, 1=reserved, 2=MPEG2, 3=MPEG1
    val layer = (b(off + 1) >> 1) & 3   // 3=Layer I, 2=II, 1=III, 0=reserved
    if (version == 1 || layer == 0) return null
    val rateIdx = (b(off + 2) >> 2) & 3
    if (rateIdx == 3) return null // reserved
    val base = Array(44100, 48000, 32000)(rateIdx)
    val rate = version match {
      case 3 => base      // MPEG1
      case 2 => base / 2  // MPEG2
      case _ => base / 4  // MPEG2.5
    }
    val brCode = (b(off + 2) >> 4) & 0xf
    if (brCode == 0 || brCode == 0xf) return null // free-format / reserved
    val layerIdx = 3 - layer // 0=Layer I, 1=II, 2=III
    val bitrate = (if (version == 3) MP3_BITRATES_V1
      else MP3_BITRATES_V2)(layerIdx)(brCode) * 1000
    val padding = (b(off + 2) >> 1) & 1
    // frame bytes from samples-per-frame: L1 384 (4-byte slots),
    // L2 1152, L3 1152 for MPEG1 / 576 for MPEG2(.5)
    val frameLen =
      if (layerIdx == 0) (12 * bitrate / rate + padding) * 4
      else {
        val coef = if (layerIdx == 2 && version != 3) 72 else 144
        coef * bitrate / rate + padding
      }
    if (frameLen <= 4) return null
    val end = off + frameLen
    // the declared frame ends exactly at the blob end (single-frame
    // capture) or at the next frame's sync — anything else is not MP3
    if (end > b.length) return null
    if (end < b.length) {
      if (end + 2 > b.length) return null
      if ((b(end) & 0xff) != 0xff || (b(end + 1) & 0xe0) != 0xe0) return null
    }
    val channels = if (((b(off + 3) >> 6) & 3) == 3) 1 else 2 // mode 3 = mono
    new GenericInternalRow(Array[Any](null, null, channels, rate, MP3_CODEC))
  }

  /** MP4/MOV track-header walk for [[parseMediaHeader]]: video frame
    * dimensions from the `ftyp → moov → trak → tkhd` box chain — a pure
    * big-endian byte walk over the ISO-BMFF box tree (same container for
    * .mp4, .m4a, .m4v, and post-2001 QuickTime .mov), no sample decode.
    * Witness policy: the blob must START with an `ftyp` box (every
    * canonical modern file does; pre-ftyp classic MOVs → NULL), every box
    * walked must have a well-formed size that fits inside the blob
    * (size==1 reads the 64-bit largesize; size==0 extends to blob end),
    * and the `tkhd` box must declare the exact canonical size for its
    * version (92 bytes for v0, 104 for v1). Width/height are 16.16
    * fixed-point BE at the tkhd tail; the integer part is returned from
    * the FIRST track with nonzero dimensions (audio/metadata tracks
    * store 0×0 and are skipped). A structurally valid moov whose tracks
    * are all dimensionless (an .m4a) returns an audio row instead:
    * channels + sample rate from the first track's
    * mdia→minf→stbl→stsd 'mp4a' sample entry (channelcount at
    * entry+24, 16.16 samplerate at entry+32 — numbers only from a
    * fully validated entry, NULL audio fields otherwise), with the
    * codec still identifying the container. Anything non-canonical —
    * truncated boxes, a missing moov (e.g. a header-only capture of a
    * moov-at-end file), no tkhd — returns NULL, never a guess.
    */
  def mp4Tkhd(b: Array[Byte]): InternalRow = {
    // Shared box-header reader: returns (payloadStart, boxEnd) packed in
    // a Long, or -1 on a malformed/truncated header. `limit` is the
    // enclosing box's end — children must stay inside the parent.
    def box(i: Int, limit: Int): Long = {
      if (i + 8 > limit) return -1L
      var size = beUInt(b, i, 4)
      var hdr = 8
      if (size == 1L) { // 64-bit largesize follows the type field
        if (i + 16 > limit) return -1L
        if (beUInt(b, i + 8, 4) != 0L) return -1L // > Int.MaxValue can't fit a blob
        size = beUInt(b, i + 12, 4)
        hdr = 16
      } else if (size == 0L) size = (limit - i).toLong // "to end of enclosing"
      if (size < hdr || i + size > limit) return -1L
      ((i + hdr).toLong << 32) | (i + size.toInt)
    }
    def typeIs(i: Int, t: String): Boolean =
      b(i + 4) == t(0) && b(i + 5) == t(1) && b(i + 6) == t(2) && b(i + 7) == t(3)
    // first child box of type `t` inside [start, end): packed
    // (payload, end) like box(), or -1 when absent/malformed — the
    // audio sub-walk treats both as "no metadata" (fields stay NULL;
    // only a fully validated mp4a entry ever emits numbers)
    def findBox(start: Int, end: Int, t: String): Long = {
      var i = start
      while (i < end) {
        val bx = box(i, end)
        if (bx < 0) return -1L
        if (typeIs(i, t)) return bx
        i = bx.toInt
      }
      -1L
    }
    // mdia → minf → stbl → stsd → first sample entry; channels and
    // 16.16 sample rate only when the entry format is 'mp4a' (the
    // dominant MP4 audio codec) and the canonical AudioSampleEntry
    // field layout fits — channelcount at entry+24, samplerate at
    // entry+32
    def mp4aInfo(mdia: Long): Long = { // packed (channels, rate) or -1
      val minf = findBox((mdia >>> 32).toInt, mdia.toInt, "minf")
      if (minf < 0) return -1L
      val stbl = findBox((minf >>> 32).toInt, minf.toInt, "stbl")
      if (stbl < 0) return -1L
      val stsd = findBox((stbl >>> 32).toInt, stbl.toInt, "stsd")
      if (stsd < 0) return -1L
      val p = (stsd >>> 32).toInt
      val stsdEnd = stsd.toInt
      if (p + 8 > stsdEnd || beUInt(b, p + 4, 4) < 1L) return -1L
      val e = p + 8 // first sample entry
      if (e + 8 > stsdEnd) return -1L
      val entrySize = beUInt(b, e, 4)
      if (entrySize < 36 || e + entrySize > stsdEnd) return -1L
      if (!typeIs(e, "mp4a")) return -1L
      val ch = beUInt(b, e + 24, 2)
      val rate = beUInt(b, e + 32, 4) >> 16 // 16.16 fixed
      if (ch < 1 || ch > 64 || rate <= 0) return -1L
      (ch << 32) | rate
    }
    var sawTkhd = false
    var audio = -1L
    var i = 0
    while (i < b.length) {
      val top = box(i, b.length)
      if (top < 0) return null
      val topEnd = top.toInt
      if (typeIs(i, "moov")) {
        var j = (top >>> 32).toInt
        while (j < topEnd) {
          val tb = box(j, topEnd)
          if (tb < 0) return null
          val trakEnd = tb.toInt
          if (typeIs(j, "trak")) {
            var k = (tb >>> 32).toInt
            while (k < trakEnd) {
              val kb = box(k, trakEnd)
              if (kb < 0) return null
              val kEnd = kb.toInt
              if (typeIs(k, "tkhd")) {
                val p = (kb >>> 32).toInt
                if (p >= kEnd) return null
                val ver = b(p) & 0xff
                // canonical sizes: v0 = 8 hdr + 84 payload, v1 = 8 + 96
                val wOff = ver match {
                  case 0 if kEnd - p == 84 => p + 76
                  case 1 if kEnd - p == 96 => p + 88
                  case _ => return null
                }
                sawTkhd = true
                val w = (beUInt(b, wOff, 4) >> 16).toInt     // 16.16 fixed
                val h = (beUInt(b, wOff + 4, 4) >> 16).toInt
                if (w > 0 && h > 0)
                  return new GenericInternalRow(
                    Array[Any](w, h, null, null, MP4_CODEC))
              } else if (typeIs(k, "mdia") && audio < 0) {
                audio = mp4aInfo(kb)
              }
              k = kEnd
            }
          }
          j = trakEnd
        }
        // moov fully walked, no video track: audio-only container (m4a
        // — channels/rate from the first mp4a entry when present) or a
        // metadata-only moov; no tkhd at all is too weak — NULL
        return if (sawTkhd && audio >= 0)
          new GenericInternalRow(Array[Any](null, null,
            (audio >>> 32).toInt, audio.toInt & Int.MaxValue, MP4_CODEC))
        else if (sawTkhd)
          new GenericInternalRow(Array[Any](null, null, null, null, MP4_CODEC))
        else null
      }
      i = topEnd
    }
    null // no moov inside the blob (e.g. truncated moov-at-end capture)
  }

  /** Static helper for [[MediaHeader]]: parse the codec-free container
    * headers (PPM / BMP / canonical-RIFF WAV) plus JPEG/PNG/GIF image
    * headers straight off the bytes. Returns null for unrecognized
    * blobs — truncated headers, arbitrary binaries, codecs whose
    * dimensions are not byte-walkable without a decoder. Witness rules:
    * BMP requires the "BM" magic AND a known BITMAPINFO* DIB size at
    * offset 14 (40/52/56/108/124 — all keep width/height at 18/22,
    * height signed for top-down bitmaps); WAV requires "RIFF"+"WAVEfmt "
    * AND a known fmt-chunk size (16/18/40 — channels/rate offsets agree
    * in all three layouts); PPM is `P6 <w> <h>
    * <maxval>` in the first 32 bytes; JPEG is SOI + a SOF marker-segment
    * walk ([[jpegSof]]); PNG is signature + first-chunk IHDR
    * ([[pngIhdr]]); GIF is "GIF87a"/"GIF89a" + the LE uint16
    * logical-screen dimensions at offsets 6/8; MP3 is a frame header at
    * 0 or after a skipped ID3v2 tag ([[mp3Header]] — sample rate +
    * channels); AVI is RIFF/"AVI " + LIST/hdrl + leading avih with
    * dwWidth/dwHeight at 64/68; MP4/MOV is a leading ftyp box + the
    * moov→trak→tkhd walk ([[mp4Tkhd]] — 16.16 fixed-point dimensions
    * from the first video track; audio-only containers surface
    * channels + sample rate from the first validated mp4a stsd entry). The compressed codecs are
    * metadata-only; sample/pixel decode still needs a codec library.
    */
  def parseMediaHeader(b: Array[Byte]): InternalRow = {
    if (b == null) return null
    if (b.length >= 2 && b(0) == 'P' && b(1) == '6') {
      // ASCII header: three whitespace-separated decimal ints after "P6",
      // all within the first 32 bytes (the old regex's search window)
      val lim = math.min(b.length, 32)
      val vals = new Array[Int](3)
      var i = 2
      var f = 0
      while (f < 3 && i < lim) {
        while (i < lim && (b(i) == ' ' || b(i) == '\t' || b(i) == '\n' || b(i) == '\r')) i += 1
        if (i >= lim || b(i) < '0' || b(i) > '9') return null
        var v = 0
        while (i < lim && b(i) >= '0' && b(i) <= '9') { v = v * 10 + (b(i) - '0'); i += 1 }
        vals(f) = v
        f += 1
      }
      if (f < 3) return null
      new GenericInternalRow(Array[Any](vals(0), vals(1), 3, null, PPM_CODEC))
    } else if (b.length >= 26 && b(0) == 'B' && b(1) == 'M' &&
        (leUInt(b, 14, 4) match {
          case 40L | 52L | 56L | 108L | 124L => true
          case _ => false
        })) {
      val w = leUInt(b, 18, 4).toInt
      val h = math.abs(leUInt(b, 22, 4).toInt)
      new GenericInternalRow(Array[Any](w, h, 3, null, BMP_CODEC))
    } else if (b.length >= 28 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' &&
        b(3) == 'F' && b(8) == 'W' && b(9) == 'A' && b(10) == 'V' &&
        b(11) == 'E' && b(12) == 'f' && b(13) == 'm' && b(14) == 't' &&
        b(15) == ' ' &&
        // known fmt-chunk sizes as the second witness (fuzz-caught:
        // without it any 16 bytes after the magic read back as
        // channels/rate). 16 = WAVEFORMAT, 18 = WAVEFORMATEX cbSize=0,
        // 40 = WAVE_FORMAT_EXTENSIBLE — channels/rate sit at the same
        // offsets in all three (an allowlist like the BMP DIB sizes;
        // wavFrameRms keeps strict ==16 because IT also needs the data
        // chunk at the fixed 36/44 offsets)
        (leUInt(b, 16, 4) match {
          case 16L | 18L | 40L => true
          case _ => false
        })) {
      new GenericInternalRow(Array[Any](null, null,
        leUInt(b, 22, 2).toInt, leUInt(b, 24, 4).toInt, WAV_CODEC))
    } else if (b.length >= 72 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' &&
        b(3) == 'F' && b(8) == 'A' && b(9) == 'V' && b(10) == 'I' &&
        b(11) == ' ' && b(12) == 'L' && b(13) == 'I' && b(14) == 'S' &&
        b(15) == 'T' && b(20) == 'h' && b(21) == 'd' && b(22) == 'r' &&
        b(23) == 'l' && b(24) == 'a' && b(25) == 'v' && b(26) == 'i' &&
        b(27) == 'h') {
      // canonical AVI: RIFF/AVI + LIST/hdrl + leading avih chunk; the
      // MainAVIHeader's dwWidth/dwHeight sit at fixed offsets 64/68.
      // The avih chunk must declare the canonical 56-byte MainAVIHeader —
      // a nonstandard size would put 64/68 inside the next chunk's data
      // (the same argument as the WAV fmt-size check)
      if (leUInt(b, 28, 4) != 56L) return null
      val w = leUInt(b, 64, 4)
      val h = leUInt(b, 68, 4)
      if (w > 0 && h > 0 && w <= Int.MaxValue && h <= Int.MaxValue)
        new GenericInternalRow(Array[Any](w.toInt, h.toInt, null, null, AVI_CODEC))
      else null
    } else if (b.length >= 4 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8) {
      jpegSof(b)
    } else if (b.length >= 8 && (b(0) & 0xff) == 0x89 && b(1) == 'P' &&
        b(2) == 'N' && b(3) == 'G') {
      pngIhdr(b)
    } else if (b.length >= 10 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' &&
        b(3) == '8' && (b(4) == '7' || b(4) == '9') && b(5) == 'a') {
      val w = leUInt(b, 6, 2).toInt
      val h = leUInt(b, 8, 2).toInt
      if (w > 0 && h > 0)
        new GenericInternalRow(Array[Any](w, h, 3, null, GIF_CODEC))
      else null
    } else if (b.length >= 4 && (((b(0) & 0xff) == 0xff && (b(1) & 0xe0) == 0xe0) ||
        (b(0) == 'I' && b(1) == 'D' && b(2) == '3'))) {
      mp3Header(b)
    } else if (b.length >= 16 && b(4) == 'f' && b(5) == 't' && b(6) == 'y' &&
        b(7) == 'p') {
      mp4Tkhd(b)
    } else null
  }

  /** `media_header(blob)` — header sniffing for the codec-free media
    * containers as ONE kernel call per blob, replacing the retired
    * substring→hex→lpad→conv expression tree (~12 string ops per 4-byte
    * read, three reads per blob). The parse is [[parseMediaHeader]] over
    * the raw byte[].
    */
  case class MediaHeader(child: Expression) extends UnaryKernel[Array[Byte], InternalRow] {
    override protected def mayReturnNull: Boolean = true
    override def dataType: DataType = MEDIA_HEADER_T
    override def inputTypes = Seq(BinaryType)
    def compute(b: Array[Byte]): InternalRow = parseMediaHeader(b)
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** `lang_predict(paddedText)` — char-n-gram language ID in ONE codegen'd
    * pass: per profile gram, count non-overlapping left-to-right
    * occurrences in the (already padded+lowercased) text; per language,
    * sum the counts; return the argmax language (ties → first profile;
    * zero hits → "und").
    *
    * Exists because the pure-expression form (one `replace` + two
    * `length`s per gram) allocates a fresh copy of the text for every one
    * of the ~100 grams on every row — measured 2.4× slower on the sf0.1
    * curation gate. Counting here is an allocation-free byte scan.
    *
    * Semantics are EXACTLY the replace-length arithmetic the DuckDB oracle
    * uses (`(len(s) - len(replace(s, g, ''))) // len(g)`): non-overlapping
    * left-to-right occurrence counting — after a match the scan resumes
    * PAST the matched bytes ("aaaa" contains "aa" twice, not three times).
    * Byte-level search equals character-level search on valid UTF-8: a
    * gram's first byte is never a continuation byte, so a whole-gram byte
    * match cannot start mid-character. Parity with the expression form is
    * pinned in TextAnalysisSpec.
    */
  case class LangPredict(child: Expression,
      profiles: Seq[(String, Seq[String])]) extends UnaryKernel[UTF8String, UTF8String] {
    override def dataType: DataType = StringType
    override def inputTypes = Seq(StringType)

    @transient private lazy val gramBytes: Array[Array[Array[Byte]]] =
      profiles.map(_._2.map(_.getBytes("UTF-8")).toArray).toArray
    @transient private lazy val names
        : Array[UTF8String] =
      profiles.map(p =>
        UTF8String.fromString(p._1)).toArray
    @transient private lazy val und =
      UTF8String.fromString("und")

    def compute(s: UTF8String): UTF8String = {
      val hay = s.getBytes
      var bestScore = 0
      var bestIdx = -1
      var li = 0
      while (li < gramBytes.length) {
        val grams = gramBytes(li)
        var score = 0
        var gi = 0
        while (gi < grams.length) {
          val g = grams(gi)
          val last = hay.length - g.length
          var i = 0
          while (i <= last) {
            var j = 0
            while (j < g.length && hay(i + j) == g(j)) j += 1
            if (j == g.length) { score += 1; i += g.length } else i += 1
          }
          gi += 1
        }
        if (score > bestScore) { bestScore = score; bestIdx = li }
        li += 1
      }
      if (bestScore <= 0) und else names(bestIdx)
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** `token_ngrams(toks, n, distinct)` — space-joined token n-grams of an
    * ARRAY<STRING>, optionally deduplicated per document (insertion
    * order), in one codegen pass. The composed form
    * (`transform(sequence(...), i -> array_join(slice(...)))` +
    * `array_distinct`) evaluates interpreted — higher-order functions have
    * no codegen — and re-slices the token array per gram; measured 4.4 s
    * for gram generation alone on the sf0.1 bench corpus vs one tight
    * loop here. Documents with fewer than `n` tokens yield an empty array.
    */
  case class TokenNgrams(child: Expression, n: Int, distinct: Boolean)
      extends UnaryKernel[ArrayData, ArrayData] {
    require(n >= 1, s"n-gram size must be >= 1, got $n")
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def inputTypes = Seq(ArrayType(StringType))

    private val SEP = UTF8String.fromString(" ")

    def compute(toks: ArrayData): ArrayData = {
      val cnt = math.max(toks.numElements() - n + 1, 0)
      val buf = new Array[UTF8String](n)
      // null tokens read as EMPTY (never produced by tokensUni, but the
      // input type admits containsNull=true): concatWs would SKIP a null
      // and shift the gram
      def tok(i: Int): UTF8String =
        if (toks.isNullAt(i)) UTF8String.EMPTY_UTF8 else toks.getUTF8String(i)
      def gram(j: Int): UTF8String = {
        var t = 0
        while (t < n) { buf(t) = tok(j + t); t += 1 }
        UTF8String.concatWs(SEP, buf: _*)
      }
      if (distinct) {
        val seen = new java.util.LinkedHashSet[UTF8String]()
        var j = 0
        while (j < cnt) { seen.add(gram(j)); j += 1 }
        new GenericArrayData(seen.toArray)
      } else new GenericArrayData(Array.tabulate[Any](cnt)(gram))
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** `nfc_normalize(text)` — Unicode NFC composition. The canonicalization
    * pass that must run BEFORE fingerprinting on real crawl data: "café"
    * composed and decomposed are different byte strings (different md5,
    * different shingles) for identical rendered text, so un-normalized
    * corpora under-deduplicate. `java.text.Normalizer` implements the same
    * normalization as DuckDB's `nfc_normalize`/utf8proc, so the oracle
    * mirrors it directly. Fast path: NFC is the identity on pure-ASCII
    * text, and a web corpus is majority ASCII — `numBytes == numChars`
    * detects it without materializing a java.lang.String.
    */
  case class NfcNormalize(child: Expression) extends UnaryKernel[UTF8String, UTF8String] {
    override def dataType: DataType = StringType
    override def inputTypes = Seq(StringType)
    def compute(s: UTF8String): UTF8String =
      if (s.numBytes == s.numChars) s
      else {
        // non-ASCII web text is overwhelmingly ALREADY composed — check
        // before normalizing so the common case pays one quick-check scan,
        // not a rebuild + UTF-8 re-encode of an identical string
        val str = s.toString
        if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
        else UTF8String.fromString(
          java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
      }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Shared accumulator for the feature-hashing kernels: one MD5 per token
    * (thread-local digest, no per-row allocation), bucket = first 8 md5 hex
    * digits (= first 4 bytes as an unsigned 32-bit int) mod `dim`, sign =
    * parity of hex digit 9 (high nibble of byte 4) — bit-identical to the
    * relational `conv(substring(md5(tok),1,8),16,10) % dim` /
    * `conv(substring(md5(tok),9,1),16,10) % 2` formulation it replaces, so
    * every DuckDB oracle replay of the hashing scheme still matches.
    * `touched` distinguishes a bucket whose ±1 signs cancelled to 0.0 (a
    * real long-format row) from a never-hit bucket (no row).
    */
  private val md5Pool = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private def hashEmbedAccum(toks: ArrayData, dim: Int,
      signed: Boolean): (Array[Double], Array[Boolean]) = {
    val md = md5Pool.get()
    val vals = new Array[Double](dim)
    val touched = new Array[Boolean](dim)
    val n = toks.numElements()
    var i = 0
    while (i < n) {
      val t = toks.getUTF8String(i)
      if (t != null) {
        md.reset()
        val d = md.digest(t.getBytes)
        val head = ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
          ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
        val idx = (head % dim).toInt
        val sgn =
          if (!signed || ((d(4) >> 4) & 0x1) == 0) 1.0 else -1.0
        vals(idx) += sgn
        touched(idx) = true
      }
      i += 1
    }
    (vals, touched)
  }

  /** The touched buckets of [[hashEmbedAccum]] as (dim_idx, value) rows. */
  private def touchedEntries(toks: ArrayData, dim: Int, signed: Boolean): ArrayData = {
    val (vals, touched) = hashEmbedAccum(toks, dim, signed)
    val out = new scala.collection.mutable.ArrayBuffer[Any](8)
    var i = 0
    while (i < dim) {
      if (touched(i)) out += new GenericInternalRow(Array[Any](i, vals(i)))
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  private val HASH_ENTRIES_T = ArrayType(StructType(Seq(
    StructField("dim_idx", IntegerType, nullable = false),
    StructField("value", DoubleType, nullable = false))), containsNull = false)

  /** `bpe_segment_ids(word)` — greedy longest-match subword segmentation
    * straight to vocabulary ids (1-based unit index, 0 = single-char
    * fallback), one tight JVM pass per word. Semantics are EXACTLY the
    * interpreted `TextAnalysis.bpeSegments` fold (locked by spec): same
    * greedy rule, same id scheme, fallback advances one code point (what
    * Spark's substr(pos, 1) consumes). Exists because the fold is an
    * interpreted O(len × |vocab|) expression that Catalyst may migrate
    * across a join and re-evaluate per token INSTANCE (measured 9 s on
    * q_token_ids at sf0.1); the kernel is cheap enough that where it runs
    * stops mattering. ASCII-only vocab required: unit matching is by char
    * index, which equals code-point matching only for ASCII units.
    */
  case class BpeSegmentIds(child: Expression, vocab: Seq[String])
      extends UnaryKernel[UTF8String, ArrayData] {
    require(vocab.nonEmpty && vocab.forall(v => v.nonEmpty && v.forall(_ < 128)),
      "bpe_segment_ids requires a non-empty ASCII vocabulary")
    private val units: Array[String] = vocab.toArray
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def inputTypes = Seq(StringType)
    def compute(in: UTF8String): ArrayData = {
      val w = in.toString
      val out = new scala.collection.mutable.ArrayBuffer[Any](8)
      var i = 0
      while (i < w.length) {
        var bestLen = 0
        var bestId = 0
        var u = 0
        while (u < units.length) {
          val v = units(u)
          if (v.length > bestLen && w.startsWith(v, i)) {
            bestLen = v.length; bestId = u + 1
          }
          u += 1
        }
        if (bestLen > 0) { out += bestId; i += bestLen }
        else { out += 0; i += Character.charCount(w.codePointAt(i)) }
      }
      new GenericArrayData(out.toArray)
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** `signed_project(vec, inDim, outDim, tag)` — Johnson–Lindenstrauss
    * dimensionality reduction with a DETERMINISTIC ±1/√outDim matrix
    * (Achlioptas 2001's database-friendly projection): sign(i,j) is the
    * parity of the first hex digit of md5("tag-i-j"), so the matrix is a
    * pure function of (tag, i, j) both engines can replay — the hashEmbed
    * md5 convention — and no matrix is ever stored or broadcast. The 100 TB
    * use: cut 768-d embeddings to 64 before IVF/LSH indexing (pairwise
    * cosines preserved to O(1/√outDim)), shrinking index storage and every
    * downstream dot product. One tight inDim×outDim loop per row in the
    * scan stage; the sign matrix is built once per plan on the driver and
    * ships with the expression.
    */
  case class SignedRandomProject(child: Expression, inDim: Int, outDim: Int,
      tag: String) extends UnaryKernel[ArrayData, ArrayData] {
    require(inDim > 0 && outDim > 0,
      s"dims must be positive, got $inDim -> $outDim")
    private val w: Array[Double] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val scale = 1.0 / math.sqrt(outDim.toDouble)
      val arr = new Array[Double](inDim * outDim)
      var i = 0
      while (i < inDim) {
        var j = 0
        while (j < outDim) {
          val h = md.digest(s"$tag-$i-$j".getBytes("UTF-8"))
          md.reset()
          val firstHex = (h(0) >> 4) & 0xf
          arr(i * outDim + j) = if (firstHex % 2 == 0) scale else -scale
          j += 1
        }
        i += 1
      }
      arr
    }
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def inputTypes = Seq(ArrayType(DoubleType))
    def compute(in: ArrayData): ArrayData = {
      val n = math.min(in.numElements(), inDim)
      val out = new Array[Double](outDim)
      var i = 0
      while (i < n) {
        val v = in.getDouble(i)
        if (v != 0.0) {
          val base = i * outDim
          var j = 0
          while (j < outDim) { out(j) += v * w(base + j); j += 1 }
        }
        i += 1
      }
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** `hash_embed_entries(toks, dim)` — the feature-hashing trick in one
    * scan-stage pass: ARRAY<STRING> tokens → ARRAY<STRUCT<dim_idx, value>>
    * of TOUCHED signed bucket counts. Replaces an explode-every-token +
    * groupBy(doc, bucket) aggregation (a token-volume shuffle) with a
    * per-document kernel + explode of a ≤dim-entry array — zero shuffles.
    */
  case class HashEmbedEntries(child: Expression, dim: Int)
      extends UnaryKernel[ArrayData, ArrayData] {
    require(dim > 0, s"dim must be positive, got $dim")
    override def dataType: DataType = HASH_ENTRIES_T
    override def inputTypes = Seq(ArrayType(StringType))
    def compute(toks: ArrayData): ArrayData = touchedEntries(toks, dim, signed = true)
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** `hash_count_entries(toks, dim)` — [[HashEmbedEntries]] without the
    * sign: ARRAY<STRUCT<dim_idx, value>> of touched-bucket OCCURRENCE
    * counts, the non-negative feature form importance estimators (DSIR
    * hashed log-likelihood ratios) consume: a probability can be estimated
    * from counts but not from signed sums, whose cancellations destroy
    * non-negativity. Same bucket scheme (first 8 md5 hex digits mod dim,
    * so oracle replays share the CTE), same zero-shuffle scan-stage shape.
    */
  case class HashCountEntries(child: Expression, dim: Int)
      extends UnaryKernel[ArrayData, ArrayData] {
    require(dim > 0, s"dim must be positive, got $dim")
    override def dataType: DataType = HASH_ENTRIES_T
    override def inputTypes = Seq(ArrayType(StringType))
    def compute(toks: ArrayData): ArrayData = touchedEntries(toks, dim, signed = false)
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** `char_entropy(s)` — Shannon entropy in BITS over the characters of
    * an ASCII string (−Σ p_c·log₂ p_c), one tight byte-histogram pass:
    * the detect-secrets-style randomness signal that separates
    * credentials/keys (high-entropy runs) from repeated filler. ASCII
    * contract: the count is per BYTE, which equals per-character only
    * for single-byte code points — callers must pre-filter candidates
    * with an ASCII character class (see
    * [[graft.ops.TextAnalysis.secretScan]]). Empty string → 0.0.
    */
  case class CharEntropy(child: Expression) extends UnaryKernel[UTF8String, Double] {
    override def dataType: DataType = DoubleType
    override def inputTypes = Seq(StringType)
    def compute(s: UTF8String): Double = {
      val bytes = s.getBytes
      val n = bytes.length
      if (n == 0) return 0.0
      val counts = new Array[Int](256)
      var i = 0
      while (i < n) { counts(bytes(i) & 0xFF) += 1; i += 1 }
      var h = 0.0
      i = 0
      while (i < 256) {
        if (counts(i) > 0) {
          val p = counts(i).toDouble / n
          h -= p * math.log(p)
        }
        i += 1
      }
      h / math.log(2.0)
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** `hash_embed_dense(toks, dim)` — dense form: ARRAY<FLOAT> of all `dim`
    * signed bucket counts (zeros included), the canonical embeddings-table
    * vector. Replaces the long→map→transform dense assembly (a second
    * per-document shuffle) with the same single scan-stage pass.
    */
  case class HashEmbedDense(child: Expression, dim: Int)
      extends UnaryKernel[ArrayData, ArrayData] {
    require(dim > 0, s"dim must be positive, got $dim")
    override def dataType: DataType = ArrayType(FloatType, containsNull = false)
    override def inputTypes = Seq(ArrayType(StringType))
    def compute(toks: ArrayData): ArrayData = {
      val (vals, _) = hashEmbedAccum(toks, dim, signed = true)
      val out = new Array[Float](dim)
      var i = 0
      while (i < dim) { out(i) = vals(i).toFloat; i += 1 }
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** `bpe_merge_pair(syms, left, right)` — one left-to-right BPE merge
    * pass over an ARRAY<STRING> symbol sequence: every adjacent
    * (left, right) occurrence is replaced by the concatenation, scanning
    * forward so a symbol consumed by a merge cannot participate in the
    * next one (the standard BPE application rule: "aaa" under (a,a) →
    * ["aa","a"], not ["aa","aa"]). One pass per call — this is the
    * per-iteration step of [[graft.ops.TextAnalysis.bpeLearn]], where the
    * merge pair is a driver-chosen literal.
    */
  case class BpeMergePair(child: Expression, left: String, right: String)
      extends UnaryKernel[ArrayData, ArrayData] {
    require(left.nonEmpty && right.nonEmpty,
      "bpe_merge_pair requires non-empty merge symbols")
    private val mergedSym = UTF8String
      .fromString(left + right)
    private val leftSym = UTF8String.fromString(left)
    private val rightSym = UTF8String.fromString(right)
    // a null symbol passes through: the result may hold nulls iff the input may
    override def dataType: DataType = ArrayType(StringType, child.dataType match {
      case ArrayType(_, containsNull) => containsNull
      case _ => true
    })
    override def inputTypes = Seq(ArrayType(StringType))
    def compute(in: ArrayData): ArrayData = {
      val n = in.numElements()
      val out = new scala.collection.mutable.ArrayBuffer[Any](n)
      var i = 0
      while (i < n) {
        if (i + 1 < n && leftSym.equals(in.getUTF8String(i)) &&
            rightSym.equals(in.getUTF8String(i + 1))) {
          out += mergedSym; i += 2
        } else { out += in.getUTF8String(i); i += 1 }
      }
      new GenericArrayData(out.toArray)
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** `bpe_merge_encode(word, merges)` — full merge-list BPE encoding of
    * one word: split to code points, then apply every learned merge in
    * RANK ORDER, each as one [[BpeMergePair]]-style left-to-right pass.
    * This is the true merge-based encoder (the greedy longest-match
    * [[BpeSegmentIds]] is the vocabulary-only approximation): a word is
    * segmented exactly as the training corpus statistics dictate, so
    * `encode(learn(corpus))` round-trips the textbook algorithm. O(len ×
    * nMerges) per word — runs once per DISTINCT word (the
    * [[graft.ops.TextAnalysis.bpeExactStats]] Heaps'-law argument), never
    * per token instance.
    */
  case class BpeMergeEncode(child: Expression, merges: Seq[(String, String)])
      extends UnaryKernel[UTF8String, ArrayData] {
    require(merges.forall(m => m._1.nonEmpty && m._2.nonEmpty),
      "bpe_merge_encode requires non-empty merge symbols")
    private val lefts: Array[String] = merges.map(_._1).toArray
    private val rights: Array[String] = merges.map(_._2).toArray
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def inputTypes = Seq(StringType)
    def compute(in: UTF8String): ArrayData = {
      val w = in.toString
      var syms = new java.util.ArrayList[String](w.length)
      var ci = 0
      while (ci < w.length) {
        val cc = Character.charCount(w.codePointAt(ci))
        syms.add(w.substring(ci, ci + cc)); ci += cc
      }
      var m = 0
      while (m < lefts.length) {
        val l = lefts(m); val r = rights(m)
        val next = new java.util.ArrayList[String](syms.size)
        var i = 0
        while (i < syms.size) {
          if (i + 1 < syms.size && syms.get(i) == l && syms.get(i + 1) == r) {
            next.add(l + r); i += 2
          } else { next.add(syms.get(i)); i += 1 }
        }
        syms = next; m += 1
      }
      val out = new Array[Any](syms.size)
      var i = 0
      while (i < syms.size) {
        out(i) = UTF8String.fromString(syms.get(i))
        i += 1
      }
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** `unigram_viterbi(word, pieces, logps, unkLogp)` — maximum-likelihood
    * segmentation of one word under a unigram LM over subword pieces
    * (Kudo 2018, the SentencePiece unigram model): the segmentation
    * maximizing Σ log p(pieceᵢ) via Viterbi DP over code-point
    * boundaries. Single code points absent from the model segment as
    * themselves at `unkLogp` (coverage is total by construction — no word
    * can fail to segment). Ties break to the LONGEST piece at each
    * boundary (spans are probed longest-first and only a strictly better
    * score replaces the incumbent), which is deterministic and
    * engine-independent.
    *
    * O(len × maxPieceLen) hash probes per word; the model rides the
    * expression as literals (driver-sized by definition — the
    * [[BpeMergeEncode]] / IVF-centroid precedent), so segmentation runs
    * once per DISTINCT word in the scan stage: zero shuffle, zero joins.
    */
  case class UnigramViterbi(child: Expression, pieces: Seq[String],
      logps: Seq[Double], unkLogp: Double) extends UnaryKernel[UTF8String, ArrayData] {
    require(pieces.nonEmpty, "unigram_viterbi requires a non-empty model")
    require(pieces.length == logps.length,
      s"pieces/logps length mismatch: ${pieces.length} vs ${logps.length}")
    require(pieces.forall(_.nonEmpty),
      "unigram_viterbi model must not contain the empty piece")
    require(logps.forall(lp => !lp.isNaN && !lp.isInfinity) &&
      !unkLogp.isNaN && !unkLogp.isInfinity,
      "unigram_viterbi log-probabilities must be finite")
    private val table: java.util.HashMap[String, java.lang.Double] = {
      val m = new java.util.HashMap[String, java.lang.Double](pieces.length * 2)
      pieces.indices.foreach { i =>
        // duplicate pieces keep their best (max) score — a model that
        // lists a piece twice must not depend on list order
        val prev = m.get(pieces(i))
        if (prev == null || prev.doubleValue() < logps(i))
          m.put(pieces(i), Double.box(logps(i)))
      }
      m
    }
    // piece lengths are budgeted in CODE POINTS (the DP's boundary unit)
    private val maxLenCp: Int =
      pieces.map(p => p.codePointCount(0, p.length)).max
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def inputTypes = Seq(StringType)
    def compute(in: UTF8String): ArrayData = {
      val w = in.toString
      // char offset of each code-point boundary: cpOff(0)=0 .. cpOff(n)=len
      val n = w.codePointCount(0, w.length)
      if (n == 0) return new GenericArrayData(Array.empty[Any])
      val cpOff = new Array[Int](n + 1)
      var ci = 0
      var k = 0
      while (k < n) {
        cpOff(k) = ci
        ci += Character.charCount(w.codePointAt(ci))
        k += 1
      }
      cpOff(n) = w.length
      val best = new Array[Double](n + 1)
      val back = new Array[Int](n + 1) // start boundary of the piece ending at i
      java.util.Arrays.fill(best, Double.NegativeInfinity)
      best(0) = 0.0
      var i = 1
      while (i <= n) {
        // j ascending = longest span first; strict > keeps the incumbent,
        // so equal-scored segmentations resolve to the longest piece
        var j = math.max(0, i - maxLenCp)
        while (j < i) {
          if (best(j) != Double.NegativeInfinity) {
            val lp = table.get(w.substring(cpOff(j), cpOff(i)))
            val step =
              if (lp != null) lp.doubleValue()
              else if (i - j == 1) unkLogp
              else Double.NegativeInfinity
            if (step != Double.NegativeInfinity && best(j) + step > best(i)) {
              best(i) = best(j) + step
              back(i) = j
            }
          }
          j += 1
        }
        i += 1
      }
      // best(n) is always finite: every single code point steps at worst
      // at unkLogp, so the all-singles path exists
      val rev = new scala.collection.mutable.ArrayBuffer[Any](8)
      var pos = n
      while (pos > 0) {
        val j = back(pos)
        rev += UTF8String
          .fromString(w.substring(cpOff(j), cpOff(pos)))
        pos = j
      }
      new GenericArrayData(rev.reverseIterator.toArray)
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** `unigram_expected_counts(word, pieces, logps, unkLogp)` — the
    * E-step of FULL EM for the unigram LM (Kudo 1804.10959 §3.2), where
    * [[UnigramViterbi]] is the hard-EM (single best path) variant:
    * posterior expected usage count of every piece over ALL segmentations
    * of one word, via forward–backward over the word lattice in log
    * space. Returns ARRAY<STRUCT<piece, ec>> with one entry per distinct
    * arc label (duplicate arcs within the word accumulate), entries in
    * first-touch scan order (deterministic).
    *
    * Invariant (spec-locked): Σ ec(piece) × len_cp(piece) = len_cp(word)
    * — every segmentation covers every code point exactly once, so the
    * expectation conserves character mass. Same model-as-literals scale
    * shape as the Viterbi kernel: scan stage, zero shuffle, O(len ×
    * maxPieceLen) arcs per word.
    */
  case class UnigramExpectedCounts(child: Expression, pieces: Seq[String],
      logps: Seq[Double], unkLogp: Double, quantize: Boolean = false)
      extends UnaryKernel[UTF8String, ArrayData] {
    require(pieces.nonEmpty, "unigram_expected_counts requires a model")
    require(pieces.length == logps.length,
      s"pieces/logps length mismatch: ${pieces.length} vs ${logps.length}")
    require(pieces.forall(_.nonEmpty),
      "unigram_expected_counts model must not contain the empty piece")
    require(logps.forall(lp => !lp.isNaN && !lp.isInfinity) &&
      !unkLogp.isNaN && !unkLogp.isInfinity,
      "unigram_expected_counts log-probabilities must be finite")
    private val table: java.util.HashMap[String, java.lang.Double] = {
      val m = new java.util.HashMap[String, java.lang.Double](pieces.length * 2)
      pieces.indices.foreach { i =>
        val prev = m.get(pieces(i))
        if (prev == null || prev.doubleValue() < logps(i))
          m.put(pieces(i), Double.box(logps(i)))
      }
      m
    }
    private val maxLenCp: Int =
      pieces.map(p => p.codePointCount(0, p.length)).max
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("piece", StringType, nullable = false),
      StructField("ec", DoubleType, nullable = false))), containsNull = false)
    override def inputTypes = Seq(StringType)
    // log(e^a + e^b) without overflow; -Inf is the additive identity
    private def logAdd(a: Double, b: Double): Double =
      if (a == Double.NegativeInfinity) b
      else if (b == Double.NegativeInfinity) a
      else if (a >= b) a + math.log1p(math.exp(b - a))
      else b + math.log1p(math.exp(a - b))
    def compute(in: UTF8String): ArrayData = {
      val w = in.toString
      val n = w.codePointCount(0, w.length)
      if (n == 0) return new GenericArrayData(Array.empty[Any])
      val cpOff = new Array[Int](n + 1)
      var ci = 0
      var k = 0
      while (k < n) {
        cpOff(k) = ci
        ci += Character.charCount(w.codePointAt(ci))
        k += 1
      }
      cpOff(n) = w.length
      // arc step log-prob, or -Inf when the span is not a valid piece
      def step(j: Int, i: Int): Double = {
        val lp = table.get(w.substring(cpOff(j), cpOff(i)))
        if (lp != null) lp.doubleValue()
        else if (i - j == 1) unkLogp
        else Double.NegativeInfinity
      }
      val alpha = new Array[Double](n + 1)
      java.util.Arrays.fill(alpha, Double.NegativeInfinity)
      alpha(0) = 0.0
      var i = 1
      while (i <= n) {
        var j = math.max(0, i - maxLenCp)
        while (j < i) {
          if (alpha(j) != Double.NegativeInfinity) {
            val s = step(j, i)
            if (s != Double.NegativeInfinity)
              alpha(i) = logAdd(alpha(i), alpha(j) + s)
          }
          j += 1
        }
        if (quantize && alpha(i) != Double.NegativeInfinity)
          alpha(i) = math.rint(alpha(i) * 1e6) / 1e6
        i += 1
      }
      val beta = new Array[Double](n + 1)
      java.util.Arrays.fill(beta, Double.NegativeInfinity)
      beta(n) = 0.0
      var j = n - 1
      while (j >= 0) {
        var i2 = j + 1
        val hi = math.min(n, j + maxLenCp)
        while (i2 <= hi) {
          if (beta(i2) != Double.NegativeInfinity) {
            val s = step(j, i2)
            if (s != Double.NegativeInfinity)
              beta(j) = logAdd(beta(j), s + beta(i2))
          }
          i2 += 1
        }
        if (quantize && beta(j) != Double.NegativeInfinity)
          beta(j) = math.rint(beta(j) * 1e6) / 1e6
        j -= 1
      }
      val z = alpha(n) // finite: the all-singles path always exists
      // quantize=true: each arc posterior becomes an exact INTEGER
      // nanomass rint(exp(e)*1e9) so the per-piece sums are
      // order-exact integers (a DuckDB GROUP BY replays them
      // bit-for-bit regardless of aggregation order); ec is then the
      // UNROUNDED m/1e9 — one exact division both engines share
      val ecs = new java.util.LinkedHashMap[String, java.lang.Double]()
      val ecsQ = new java.util.LinkedHashMap[String, java.lang.Long]()
      j = 0
      while (j < n) {
        if (alpha(j) != Double.NegativeInfinity) {
          var i3 = j + 1
          val hi = math.min(n, j + maxLenCp)
          while (i3 <= hi) {
            val s = step(j, i3)
            if (s != Double.NegativeInfinity &&
                beta(i3) != Double.NegativeInfinity) {
              val p = w.substring(cpOff(j), cpOff(i3))
              if (quantize) {
                val m = math.rint(
                  math.exp(alpha(j) + s + beta(i3) - z) * 1e9).toLong
                val prev = ecsQ.get(p)
                ecsQ.put(p, java.lang.Long.valueOf(
                  if (prev == null) m else prev.longValue() + m))
              } else {
                val ec = math.exp(alpha(j) + s + beta(i3) - z)
                val prev = ecs.get(p)
                ecs.put(p, Double.box(if (prev == null) ec else prev + ec))
              }
            }
            i3 += 1
          }
        }
        j += 1
      }
      if (quantize) {
        val it0 = ecsQ.entrySet().iterator()
        while (it0.hasNext) {
          val e = it0.next()
          ecs.put(e.getKey, Double.box(e.getValue.longValue() / 1e9))
        }
      }
      val out = new Array[Any](ecs.size)
      val it = ecs.entrySet().iterator()
      var idx = 0
      while (it.hasNext) {
        val e = it.next()
        out(idx) = InternalRow(
          UTF8String.fromString(e.getKey),
          e.getValue.doubleValue())
        idx += 1
      }
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** `unigram_sample(word, pieces, logps, unkLogp, seed, alpha)` —
    * SUBWORD REGULARIZATION (Kudo 1804.10959 §3.1): sample one
    * segmentation of the word with probability ∝ P(seg)^alpha, via
    * forward filtering (alpha-scaled log-space sums) and backward
    * sampling. alpha = 1 draws from the exact posterior; alpha → ∞
    * approaches the Viterbi path; smaller alpha flattens toward uniform
    * over segmentations — the training-time tokenizer noise that makes
    * models robust to segmentation ambiguity.
    *
    * DETERMINISTIC by construction AND cross-engine replayable (the
    * Poisson1Weight md5-lane doctrine, round 12): the per-step uniform
    * at boundary `pos` is lane 0 of md5(word + '\u0001' + seed +
    * '\u0001' + pos) —
    * same (word, seed, model) always yields the same segmentation, and
    * a DuckDB oracle rebuilds the identical draw from
    * `('0x'||substring(md5(...),1,8))::UBIGINT`. The DP arithmetic is
    * quantized for the same reason: each forward cell q6-rounds after
    * its (ascending-j) logAdd fold, and each backward arc carries an
    * exact INTEGER micro-mass rint(exp(e)·10⁶) compared against
    * u·10⁶ via exact prefix sums — so the replay needs no bit-parity
    * from libm exp/ln beyond the q6/rint boundaries (the
    * tokenDivergence policy). Fallback when rounding leaves u past the
    * total mass: the LAST feasible arc, mirrored in the replay.
    * Distribution quality is spec-asserted against exact posterior
    * probabilities over many seeds. Same scale shape as the sibling
    * kernels: model as literals, scan stage, zero shuffle.
    */
  case class UnigramSample(child: Expression, pieces: Seq[String],
      logps: Seq[Double], unkLogp: Double, seed: Long, alpha: Double)
      extends UnaryKernel[UTF8String, ArrayData] {
    require(pieces.nonEmpty, "unigram_sample requires a model")
    require(pieces.length == logps.length,
      s"pieces/logps length mismatch: ${pieces.length} vs ${logps.length}")
    require(pieces.forall(_.nonEmpty),
      "unigram_sample model must not contain the empty piece")
    require(alpha > 0 && !alpha.isInfinity,
      s"alpha must be positive finite, got $alpha")
    require(logps.forall(lp => !lp.isNaN && !lp.isInfinity) &&
      !unkLogp.isNaN && !unkLogp.isInfinity,
      "unigram_sample log-probabilities must be finite")
    private val table: java.util.HashMap[String, java.lang.Double] = {
      val m = new java.util.HashMap[String, java.lang.Double](pieces.length * 2)
      pieces.indices.foreach { i =>
        val prev = m.get(pieces(i))
        if (prev == null || prev.doubleValue() < logps(i))
          m.put(pieces(i), Double.box(logps(i)))
      }
      m
    }
    private val maxLenCp: Int =
      pieces.map(p => p.codePointCount(0, p.length)).max
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def inputTypes = Seq(StringType)
    @transient private lazy val digest =
      new ThreadLocal[java.security.MessageDigest] {
        override def initialValue(): java.security.MessageDigest =
          java.security.MessageDigest.getInstance("MD5")
      }
    private def logAdd(a: Double, b: Double): Double =
      if (a == Double.NegativeInfinity) b
      else if (b == Double.NegativeInfinity) a
      else if (a >= b) a + math.log1p(math.exp(b - a))
      else b + math.log1p(math.exp(a - b))
    def compute(in: UTF8String): ArrayData = {
      val w = in.toString
      val n = w.codePointCount(0, w.length)
      if (n == 0) return new GenericArrayData(Array.empty[Any])
      val cpOff = new Array[Int](n + 1)
      var ci = 0
      var k = 0
      while (k < n) {
        cpOff(k) = ci
        ci += Character.charCount(w.codePointAt(ci))
        k += 1
      }
      cpOff(n) = w.length
      def step(j: Int, i: Int): Double = {
        val lp = table.get(w.substring(cpOff(j), cpOff(i)))
        if (lp != null) lp.doubleValue()
        else if (i - j == 1) unkLogp
        else Double.NegativeInfinity
      }
      // forward filtering under the alpha-annealed distribution; each
      // cell q6-rounds AFTER its ascending-j fold (the replay's
      // list_reduce + round(·,6) mirrors the fold order exactly, so
      // libm ulps never compound across positions)
      val fwd = new Array[Double](n + 1)
      java.util.Arrays.fill(fwd, Double.NegativeInfinity)
      fwd(0) = 0.0
      var i = 1
      while (i <= n) {
        var j = math.max(0, i - maxLenCp)
        while (j < i) {
          if (fwd(j) != Double.NegativeInfinity) {
            val s = step(j, i)
            if (s != Double.NegativeInfinity)
              fwd(i) = logAdd(fwd(i), fwd(j) + alpha * s)
          }
          j += 1
        }
        if (fwd(i) != Double.NegativeInfinity)
          fwd(i) = math.rint(fwd(i) * 1e6) / 1e6
        i += 1
      }
      // backward sampling on EXACT integer micro-masses: arc j into pos
      // weighs rint(exp((fwd(j) + alpha·step) − fwd(pos))·10⁶); the
      // uniform is lane 0 of md5(word+'\\u0001'+seed+'\\u0001'+pos),
      // scaled to the
      // same 10⁶ grid, and the chosen arc is the first whose ascending-j
      // prefix mass exceeds it — prefix sums of integers are
      // order-exact, so the replay's list_aggregate reproduces the walk
      // bit-for-bit (the Poisson1Weight doctrine)
      val md = digest.get()
      val rev = new scala.collection.mutable.ArrayBuffer[Any](8)
      var pos = n
      while (pos > 0) {
        val lo = math.max(0, pos - maxLenCp)
        md.reset()
        val dig = md.digest(
          (w + "\u0001" + seed + "\u0001" + pos).getBytes("UTF-8"))
        val v = ((dig(0) & 0xFFL) << 24) | ((dig(1) & 0xFFL) << 16) |
          ((dig(2) & 0xFFL) << 8) | (dig(3) & 0xFFL)
        val u6 = (v + 0.5) / 4294967296.0 * 1000000.0
        var chosen = -1
        var last = -1
        var cum = 0.0
        var j = lo
        while (j < pos && chosen < 0) {
          if (fwd(j) != Double.NegativeInfinity) {
            val s = step(j, pos)
            if (s != Double.NegativeInfinity) {
              last = j
              cum += math.rint(
                math.exp(fwd(j) + alpha * s - fwd(pos)) * 1000000.0)
              if (u6 < cum) chosen = j
            }
          }
          j += 1
        }
        // quantization slack (Σ masses < u6): the last feasible arc,
        // scanning order makes `last` exactly that
        if (chosen < 0) {
          if (last >= 0) chosen = last
          else {
            var jj = pos - 1
            while (jj >= lo && chosen < 0) {
              if (fwd(jj) != Double.NegativeInfinity &&
                step(jj, pos) != Double.NegativeInfinity) chosen = jj
              jj -= 1
            }
          }
        }
        rev += UTF8String
          .fromString(w.substring(cpOff(chosen), cpOff(pos)))
        pos = chosen
      }
      new GenericArrayData(rev.reverseIterator.toArray)
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  // ---- Column-level API ----

  def array_dot(a: Column, b: Column): Column =
    GraftSqlBridge.column(ArrayDotProduct(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  def minhash_sig(tokenHashes: Column, shingleK: Int, a: Array[Long],
      b: Array[Long], p: Long): Column =
    GraftSqlBridge.column(MinHashSignature(
      GraftSqlBridge.expression(tokenHashes), shingleK, a, b, p))

  def array_eq_count(a: Column, b: Column): Column =
    GraftSqlBridge.column(ArrayEqCount(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  def simhash64(hashes: Column): Column =
    GraftSqlBridge.column(SimHash64(GraftSqlBridge.expression(hashes)))

  def byte_histogram(blob: Column, bins: Int): Column =
    GraftSqlBridge.column(ByteHistogram(GraftSqlBridge.expression(blob), bins))

  def deflate_ratio(textOrBlob: Column): Column =
    GraftSqlBridge.column(DeflateRatio(GraftSqlBridge.expression(textOrBlob)))

  def media_header(blob: Column): Column =
    GraftSqlBridge.column(MediaHeader(GraftSqlBridge.expression(blob)))

  def wav_frame_rms(blob: Column, frameSamples: Int): Column =
    GraftSqlBridge.column(WavFrameRms(GraftSqlBridge.expression(blob), frameSamples))

  def ppm_patch_means(blob: Column, patch: Int): Column =
    GraftSqlBridge.column(PpmPatchMeans(GraftSqlBridge.expression(blob), patch))

  def ppm_dhash(blob: Column): Column =
    GraftSqlBridge.column(PpmDHash(GraftSqlBridge.expression(blob)))

  def lang_predict(paddedText: Column,
      profiles: Seq[(String, Seq[String])]): Column =
    GraftSqlBridge.column(LangPredict(
      GraftSqlBridge.expression(paddedText), profiles))

  def token_ngrams(toks: Column, n: Int, distinct: Boolean = false): Column =
    GraftSqlBridge.column(TokenNgrams(
      GraftSqlBridge.expression(toks), n, distinct))

  def token_lcs_len(a: Column, b: Column): Column =
    GraftSqlBridge.column(TokenLcsLen(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  /** `token_lcs_len(a, b)` — length of the longest common SUBSEQUENCE of
    * two token arrays, the ROUGE-L core. Classic two-row DP: O(|a|·|b|)
    * time, O(|b|) space, per row — compiled JVM loops via the
    * addReferenceObj compute() pattern (a HOF spelling would re-enter
    * interpreted lambdas |a|·|b| times per row). Null tokens read as
    * empty (the [[TokenNgrams]] normalization), so the eval and codegen
    * paths can never disagree on a null slot.
    */
  case class TokenLcsLen(left: Expression, right: Expression)
      extends BinaryKernel[ArrayData, ArrayData, Int] {
    override def dataType: DataType = IntegerType
    override def inputTypes = Seq(ArrayType(StringType), ArrayType(StringType))
    def compute(aIn: ArrayData, bIn: ArrayData): Int = {
      val n = aIn.numElements()
      val m = bIn.numElements()
      if (n == 0 || m == 0) return 0
      val bs = new Array[UTF8String](m)
      var j = 0
      while (j < m) {
        val s = bIn.getUTF8String(j)
        bs(j) = if (s == null) UTF8String.EMPTY_UTF8 else s
        j += 1
      }
      var prev = new Array[Int](m + 1)
      var cur = new Array[Int](m + 1)
      var i = 0
      while (i < n) {
        val s0 = aIn.getUTF8String(i)
        val av = if (s0 == null) UTF8String.EMPTY_UTF8 else s0
        cur(0) = 0
        var j2 = 1
        while (j2 <= m) {
          cur(j2) =
            if (av.equals(bs(j2 - 1))) prev(j2 - 1) + 1
            else math.max(cur(j2 - 1), prev(j2))
          j2 += 1
        }
        val t = prev; prev = cur; cur = t
        i += 1
      }
      prev(m)
    }

    override protected def withNewChildrenInternal(newLeft: Expression,
        newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  def token_edit_dist(a: Column, b: Column): Column =
    GraftSqlBridge.column(TokenEditDist(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  def ter_shift_stats(cand: Column, ref: Column,
      maxShiftLen: Int = 10): Column =
    GraftSqlBridge.column(TerShiftStats(
      GraftSqlBridge.expression(cand), GraftSqlBridge.expression(ref),
      maxShiftLen))

  /** Pin extractor for the q_ter_shift oracle (tools/pin_ter_r14.scala):
    * runs [[TerShiftStats]]'s exact greedy loop with a recorder and
    * returns (applied shifts as (start, len, ins), shifts, edits) — the
    * decisions get pinned as oracle literals, application + the edit DP
    * replay mechanically in DuckDB (the q_bpe_apply discipline).
    */
  def terShiftTrace(cand: Seq[String], ref: Seq[String],
      maxShiftLen: Int = 10): (Seq[(Int, Int, Int)], Long, Long) =
    TerShiftStats(
      org.apache.spark.sql.catalyst.expressions.Literal(null),
      org.apache.spark.sql.catalyst.expressions.Literal(null),
      maxShiftLen).appliedShifts(cand, ref)

  /** `ter_shift_stats(cand, ref, maxShiftLen)` — greedy-shift TER
    * (Snover et al. 2006) numerator parts: struct (shifts, edits) where
    * `edits` is the word edit distance AFTER the greedy block-shift
    * loop and `shifts` the number of shifts taken (each costs 1, so
    * TER = (shifts + edits) / ref_len). The loop is a TER VARIANT,
    * not TERcom: scores upper-bound TERcom TER and are NOT comparable
    * to published TER numbers, for two scoring-relevant divergences
    * beyond the beam limit — (1) only ONE insertion position per
    * matched block is tried (min(rp, rest.length); TERcom tries every
    * position), and (2) a shift is taken only when its gain exceeds
    * the shift's own +1 cost (gain ≥ 2; TERcom accepts any
    * edit-reducing shift). Candidate shifts are the blocks of
    * ≤ `maxShiftLen` tokens that occur VERBATIM somewhere in the
    * reference (non-matching blocks can never pay for their shift),
    * each candidate is scored by one [[TokenEditDist]]-shaped DP on the
    * shifted hypothesis, the best strictly-improving shift is applied,
    * and the loop repeats until no shift lowers the distance (each
    * iteration lowers it by ≥ 1, so iterations ≤ the initial edit
    * distance). shifts + edits ≤ the shift-free distance BY
    * CONSTRUCTION (rule 2 above), so the ordering
    * TERcom TER ≤ this ter_shift ≤ shift-free TER (= q_ter's WER form)
    * holds on every row. O(L²·maxShiftLen·matches)
    * per improving iteration — sentence-shaped inputs by contract
    * (truncate long documents first; the q_ter_shift fixture slices to
    * 32 tokens, real MT evals are sentence-segmented anyway).
    */
  case class TerShiftStats(left: Expression, right: Expression,
      maxShiftLen: Int) extends BinaryKernel[ArrayData, ArrayData, InternalRow] {
    require(maxShiftLen >= 1 && maxShiftLen <= 32,
      s"ter_shift_stats: bad maxShiftLen $maxShiftLen")
    override def dataType: DataType = StructType(Seq(
      StructField("shifts", LongType, nullable = false),
      StructField("edits", LongType, nullable = false)))
    override def inputTypes = Seq(ArrayType(StringType), ArrayType(StringType))

    private def editDist(a: Array[UTF8String],
        b: Array[UTF8String]): Int = {
      val n = a.length
      val m = b.length
      if (n == 0) return m
      if (m == 0) return n
      var prev = new Array[Int](m + 1)
      var cur = new Array[Int](m + 1)
      var j0 = 0
      while (j0 <= m) { prev(j0) = j0; j0 += 1 }
      var i = 0
      while (i < n) {
        cur(0) = i + 1
        var j = 1
        while (j <= m) {
          val sub = prev(j - 1) + (if (a(i).equals(b(j - 1))) 0 else 1)
          val del = prev(j) + 1
          val ins = cur(j - 1) + 1
          cur(j) = math.min(sub, math.min(del, ins))
          j += 1
        }
        val t = prev; prev = cur; cur = t
        i += 1
      }
      prev(m)
    }

    /** The greedy loop proper. `record` sees each APPLIED shift as
      * (start, len, ins): remove cur[start, start+len), insert at
      * position `ins` of the remainder — exactly the replay a pinned
      * oracle needs (the q_bpe_apply pin discipline: decisions pinned,
      * application mechanical). Returns (shifts, edits).
      */
    private def greedy(cIn: Array[UTF8String], r: Array[UTF8String],
        record: (Int, Int, Int) => Unit): (Long, Long) = {
      var cur = cIn
      var best = editDist(cur, r)
      var shifts = 0L
      var improved = best > 1 // a 0/1-distance hypothesis can't pay for a shift
      while (improved) {
        improved = false
        var bestGain = 1 // only strictly-improving BEYOND the shift's own cost
        var bestShifted: Array[UTF8String] = null
        var bestStart = -1
        var bestLen = -1
        var bestIns = -1
        var start = 0
        while (start < cur.length) {
          val maxLen = math.min(maxShiftLen, cur.length - start)
          var len = 1
          while (len <= maxLen) {
            // does cur[start, start+len) occur verbatim in r? collect
            // each occurrence as an insertion target
            var rp = 0
            while (rp + len <= r.length) {
              var k = 0
              while (k < len && cur(start + k).equals(r(rp + k))) k += 1
              if (k == len) {
                // remove the block, insert so it starts at position
                // min(rp, rest length) — aligning it with its reference
                // occurrence
                val rest = new Array[UTF8String](cur.length - len)
                System.arraycopy(cur, 0, rest, 0, start)
                System.arraycopy(cur, start + len, rest, start,
                  cur.length - start - len)
                val ins = math.min(rp, rest.length)
                if (ins != start) {
                  val shifted = new Array[UTF8String](cur.length)
                  System.arraycopy(rest, 0, shifted, 0, ins)
                  System.arraycopy(cur, start, shifted, ins, len)
                  System.arraycopy(rest, ins, shifted, ins + len,
                    rest.length - ins)
                  val gain = best - editDist(shifted, r)
                  if (gain > bestGain) {
                    bestGain = gain
                    bestShifted = shifted
                    bestStart = start
                    bestLen = len
                    bestIns = ins
                  }
                }
              }
              rp += 1
            }
            len += 1
          }
          start += 1
        }
        if (bestShifted != null) {
          record(bestStart, bestLen, bestIns)
          cur = bestShifted
          best -= bestGain
          shifts += 1L
          improved = best > 1
        }
      }
      (shifts, best.toLong)
    }

    /** Pin extractor (tools/pin_ter_r14): the applied-shift sequence for
      * one (cand, ref) pair, plus the final (shifts, edits) — the same
      * greedy loop `compute` runs, with the decisions recorded.
      */
    private[graft] def appliedShifts(cand: Seq[String], ref: Seq[String])
        : (Seq[(Int, Int, Int)], Long, Long) = {
      val buf = scala.collection.mutable.ArrayBuffer[(Int, Int, Int)]()
      val (s, e) = greedy(
        cand.map(UTF8String.fromString).toArray,
        ref.map(UTF8String.fromString).toArray,
        (a, b, c) => { buf += ((a, b, c)); () })
      (buf.toSeq, s, e)
    }

    def compute(cIn: ArrayData, rIn: ArrayData): InternalRow = {
      def arr(a: ArrayData): Array[UTF8String] = {
        val out = new Array[UTF8String](a.numElements())
        var i = 0
        while (i < out.length) {
          val s = a.getUTF8String(i)
          out(i) = if (s == null) UTF8String.EMPTY_UTF8 else s
          i += 1
        }
        out
      }
      val (shifts, edits) = greedy(arr(cIn), arr(rIn), (_, _, _) => ())
      InternalRow(shifts, edits)
    }

    override protected def withNewChildrenInternal(newLeft: Expression,
        newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** `token_edit_dist(a, b)` — word-level Levenshtein distance between
    * two token arrays (unit-cost insert/delete/substitute), the
    * shift-free TER core. The [[TokenLcsLen]] shape exactly: two-row DP,
    * O(|a|·|b|) time, O(|b|) space, compiled JVM loops via the
    * addReferenceObj compute() pattern; null tokens read as empty so
    * eval and codegen can never disagree on a null slot. Empty-side
    * base case: distance = the other side's length (all
    * inserts/deletes).
    */
  case class TokenEditDist(left: Expression, right: Expression)
      extends BinaryKernel[ArrayData, ArrayData, Int] {
    override def dataType: DataType = IntegerType
    override def inputTypes = Seq(ArrayType(StringType), ArrayType(StringType))
    def compute(aIn: ArrayData, bIn: ArrayData): Int = {
      val n = aIn.numElements()
      val m = bIn.numElements()
      if (n == 0) return m
      if (m == 0) return n
      val bs = new Array[UTF8String](m)
      var j = 0
      while (j < m) {
        val s = bIn.getUTF8String(j)
        bs(j) = if (s == null) UTF8String.EMPTY_UTF8 else s
        j += 1
      }
      var prev = new Array[Int](m + 1)
      var cur = new Array[Int](m + 1)
      var j0 = 0
      while (j0 <= m) { prev(j0) = j0; j0 += 1 }
      var i = 0
      while (i < n) {
        val s0 = aIn.getUTF8String(i)
        val av = if (s0 == null) UTF8String.EMPTY_UTF8 else s0
        cur(0) = i + 1
        var j2 = 1
        while (j2 <= m) {
          val sub = prev(j2 - 1) + (if (av.equals(bs(j2 - 1))) 0 else 1)
          val del = prev(j2) + 1
          val ins = cur(j2 - 1) + 1
          cur(j2) = math.min(sub, math.min(del, ins))
          j2 += 1
        }
        val t = prev; prev = cur; cur = t
        i += 1
      }
      prev(m)
    }

    override protected def withNewChildrenInternal(newLeft: Expression,
        newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** A per-document (gram → count) dictionary. */
  private val GRAM_DICT_T = ArrayType(StructType(Seq(
    StructField("g", StringType, nullable = false),
    StructField("c", LongType, nullable = false))), containsNull = false)

  /** Both inputs are gram dictionaries with fields named exactly `g` and
    * `c`: `inputTypes` alone would also accept `G`/`C` under
    * case-insensitive analysis.
    */
  private def gramDictCheck(k: BinaryExpression): TypeCheckResult = {
    def isDict(t: DataType) = t match {
      case ArrayType(s: StructType, _) =>
        s.fields.map(f => (f.name, f.dataType)).toSeq == Seq("g" -> StringType, "c" -> LongType)
      case _ => false
    }
    if (isDict(k.left.dataType) && isDict(k.right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"${k.prettyName} requires two " +
      s"ARRAY<STRUCT<g STRING, c BIGINT>>, got ${k.left.dataType.catalogString}, " +
      k.right.dataType.catalogString)
  }

  def char_ngram_counts(text: Column, n: Int): Column =
    GraftSqlBridge.column(CharNgramCounts(
      GraftSqlBridge.expression(text), n))

  /** `char_ngram_counts(s, n)` — the per-document (codepoint n-gram →
    * count) dictionary, collapsed BEFORE any explode: English text
    * repeats low-n char grams heavily, so emitting one (gram, count)
    * entry per DISTINCT gram (first-occurrence order) instead of one
    * row per instance shrinks chrF's shuffle volume by the per-doc
    * repeat factor. Codepoint-aware extraction (surrogate pairs stay
    * whole — the `(?s).` regexp semantics) in one compiled pass:
    * O(len) HashMap upserts, no per-gram regexp machinery, no
    * interpreted lambda frames. Whitespace handling is the CALLER's
    * (chrF strips it first). Empty/short input → empty array.
    */
  case class CharNgramCounts(child: Expression, n: Int)
      extends UnaryKernel[UTF8String, ArrayData] {
    require(n >= 1 && n <= 16, s"char_ngram_counts: bad n $n")
    override def dataType: DataType = GRAM_DICT_T
    override def inputTypes = Seq(StringType)
    def compute(in: UTF8String): ArrayData = {
      val w = in.toString
      val ncp = w.codePointCount(0, w.length)
      if (ncp < n) return new GenericArrayData(Array.empty[Any])
      val cpOff = new Array[Int](ncp + 1)
      var ci = 0
      var k = 0
      while (k < ncp) {
        cpOff(k) = ci
        ci += Character.charCount(w.codePointAt(ci))
        k += 1
      }
      cpOff(ncp) = w.length
      val counts = new java.util.LinkedHashMap[String, java.lang.Long]()
      var i = 0
      while (i + n <= ncp) {
        val g = w.substring(cpOff(i), cpOff(i + n))
        val prev = counts.get(g)
        counts.put(g,
          java.lang.Long.valueOf(if (prev == null) 1L else prev.longValue() + 1L))
        i += 1
      }
      val out = new Array[Any](counts.size)
      val it = counts.entrySet().iterator()
      var idx = 0
      while (it.hasNext) {
        val e = it.next()
        out(idx) = InternalRow(
          UTF8String.fromString(e.getKey),
          e.getValue.longValue())
        idx += 1
      }
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  def token_ngram_counts(toks: Column, n: Int): Column =
    GraftSqlBridge.column(TokenNgramCounts(
      GraftSqlBridge.expression(toks), n))

  /** `token_ngram_counts(toks, n)` — the per-document (token n-gram →
    * count) dictionary, the [[CharNgramCounts]] twin for TOKEN arrays
    * (grams space-joined, the [[TokenNgrams]] convention; null slots
    * read as empty). Feeds [[GramClipStats]] so BLEU/ROUGE-N clipping
    * happens in the row — no gram ever leaves the scan stage. One
    * compiled pass, first-occurrence entry order.
    */
  case class TokenNgramCounts(child: Expression, n: Int)
      extends UnaryKernel[ArrayData, ArrayData] {
    require(n >= 1 && n <= 16, s"token_ngram_counts: bad n $n")
    override def dataType: DataType = GRAM_DICT_T
    override def inputTypes = Seq(ArrayType(StringType))
    def compute(in: ArrayData): ArrayData = {
      val len = in.numElements()
      if (len < n) return new GenericArrayData(Array.empty[Any])
      val ts = new Array[UTF8String](len)
      var i = 0
      while (i < len) {
        val s = in.getUTF8String(i)
        ts(i) = if (s == null) UTF8String.EMPTY_UTF8 else s
        i += 1
      }
      val sp = UTF8String.fromString(" ")
      val counts = new java.util.LinkedHashMap[UTF8String, java.lang.Long]()
      i = 0
      while (i + n <= len) {
        // n = 1 keeps the input's UTF8String VIEW — clone to owned bytes
        // (the map outlives this row's buffer); n > 1 owns via concat
        var g = if (n == 1) ts(i).clone() else ts(i)
        var k = 1
        while (k < n) {
          g = UTF8String.concat(g, sp, ts(i + k))
          k += 1
        }
        val prev = counts.get(g)
        counts.put(g, java.lang.Long.valueOf(
          if (prev == null) 1L else prev.longValue() + 1L))
        i += 1
      }
      val out = new Array[Any](counts.size)
      val it = counts.entrySet().iterator()
      var idx = 0
      while (it.hasNext) {
        val e = it.next()
        out(idx) = InternalRow(
          e.getKey, e.getValue.longValue())
        idx += 1
      }
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  def gram_max_merge(a: Column, b: Column): Column =
    GraftSqlBridge.column(GramMaxMerge(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  /** `gram_max_merge(a, b)` — per-gram MAX union of two (gram → count)
    * dictionaries (ARRAY<STRUCT<g STRING, c BIGINT>>): the
    * multi-reference BLEU merge (SacreBLEU — a candidate gram clips
    * against the highest count ANY reference licenses) as one compiled
    * HashMap pass. Replaces the interpreted map_from_entries →
    * map_zip_with → map_entries → transform round-trip, which measured
    * 2.2× on the q_bleu_multiref scan even with a single reference.
    * Left-then-new-right insertion order (deterministic; consumers
    * treat the array as a dictionary, so order never reaches results).
    * Keys are cloned into owned bytes (the TokenNgramCounts rule — a
    * view into a reused unsafe buffer must not outlive the row read).
    */
  case class GramMaxMerge(left: Expression, right: Expression)
      extends BinaryKernel[ArrayData, ArrayData, ArrayData] {
    override def dataType: DataType = GRAM_DICT_T
    override def inputTypes = Seq(GRAM_DICT_T, GRAM_DICT_T)
    override def checkInputDataTypes(): TypeCheckResult = gramDictCheck(this)
    def compute(aIn: ArrayData, bIn: ArrayData): ArrayData = {
      val na = aIn.numElements()
      val nb = bIn.numElements()
      val m = new java.util.LinkedHashMap[UTF8String, java.lang.Long](
        (na + nb) * 2)
      var i = 0
      while (i < na) {
        val e = aIn.getStruct(i, 2)
        m.put(e.getUTF8String(0).clone(), java.lang.Long.valueOf(e.getLong(1)))
        i += 1
      }
      i = 0
      while (i < nb) {
        val e = bIn.getStruct(i, 2)
        val g = e.getUTF8String(0)
        val c = e.getLong(1)
        val prev = m.get(g)
        if (prev == null) m.put(g.clone(), java.lang.Long.valueOf(c))
        // put on an existing key keeps the original (owned) key object
        else if (c > prev.longValue()) m.put(g, java.lang.Long.valueOf(c))
        i += 1
      }
      val out = new Array[Any](m.size)
      val it = m.entrySet().iterator()
      var idx = 0
      while (it.hasNext) {
        val e = it.next()
        out(idx) = InternalRow(
          e.getKey, e.getValue.longValue())
        idx += 1
      }
      new GenericArrayData(out)
    }

    override protected def withNewChildrenInternal(newLeft: Expression,
        newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  def gram_clip_stats(cand: Column, ref: Column): Column =
    GraftSqlBridge.column(GramClipStats(
      GraftSqlBridge.expression(cand), GraftSqlBridge.expression(ref)))

  /** `gram_clip_stats(cg, rg)` — clipped-match totals of two per-doc
    * (gram → count) dictionaries ([[CharNgramCounts]] outputs) that
    * live IN THE SAME ROW: m = Σ_g min(c_cand, c_ref), t = Σ c_cand,
    * tr = Σ c_ref, returned as one struct(m, t, tr). This is what
    * makes chrF a ZERO-exchange pure scan: clipping is per-(pair,
    * gram) and a pair's two gram dictionaries share a row, so the
    * (id, n, gram) shuffle the explode-based plan paid — ~500M rows at
    * the round-11 10× stress — never needs to exist. One HashMap over
    * the reference entries, one probe pass over the candidate's,
    * per row per level.
    */
  case class GramClipStats(left: Expression, right: Expression)
      extends BinaryKernel[ArrayData, ArrayData, InternalRow] {
    override def dataType: DataType = StructType(Seq(
      StructField("m", LongType, nullable = false),
      StructField("t", LongType, nullable = false),
      StructField("tr", LongType, nullable = false)))
    override def inputTypes = Seq(GRAM_DICT_T, GRAM_DICT_T)
    override def checkInputDataTypes(): TypeCheckResult = gramDictCheck(this)
    def compute(aIn: ArrayData, bIn: ArrayData): InternalRow = {
      val nb = bIn.numElements()
      var tr = 0L
      val refMap = new java.util.HashMap[UTF8String, java.lang.Long](nb * 2)
      var i = 0
      while (i < nb) {
        val e = bIn.getStruct(i, 2)
        val c = e.getLong(1)
        tr += c
        refMap.put(e.getUTF8String(0), java.lang.Long.valueOf(c))
        i += 1
      }
      val na = aIn.numElements()
      var t = 0L
      var m = 0L
      i = 0
      while (i < na) {
        val e = aIn.getStruct(i, 2)
        val c = e.getLong(1)
        t += c
        val rc = refMap.get(e.getUTF8String(0))
        if (rc != null) m += math.min(c, rc.longValue())
        i += 1
      }
      InternalRow(m, t, tr)
    }

    override protected def withNewChildrenInternal(newLeft: Expression,
        newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  def gopher_rep_stats(toks: Column, lines: Column, paras: Column,
      lite: Boolean = false): Column =
    GraftSqlBridge.column(GopherRepStats(
      GraftSqlBridge.expression(toks), GraftSqlBridge.expression(lines),
      GraftSqlBridge.expression(paras), lite))

  /** `gopher_rep_stats(toks, lines, paras)` — EVERY integer the Gopher
    * repetition battery (TextAnalysis.gopherRepetition) needs, in one
    * compiled pass per row: token char mass; line/paragraph occurrence,
    * distinct, char-mass and duplicate-char-mass counts; the top-{2,3,4}
    * n-gram char masses (count ties resolved to the longest gram — the
    * battery's documented rule); and the dup-{5..10} covered-position
    * char masses (union of positions under any occurrence of a
    * duplicated gram, each char counted once). Replaces a ~15-stage
    * interpreted HOF pipeline (9 per-doc sorts, per-element
    * array_contains probes, O(L·n) coverage lambdas) with HashMap
    * passes — the same exact integers (char lengths are codepoint
    * counts, Spark `length` semantics), just compiled. Returns one
    * 21-field struct of BIGINTs (the last three — token count, top
    * 1-gram occurrence count, duplicated-3-gram instance count — feed
    * TextAnalysis.repetitionScores off the same pass).
    */
  case class GopherRepStats(first: Expression, second: Expression,
      third: Expression, lite: Boolean = false)
      extends TernaryKernel[ArrayData, ArrayData, ArrayData, InternalRow] {
    private val longField = (n: String) => StructField(n, LongType, nullable = false)
    override def dataType: DataType = StructType(Seq(
      "d", "nl", "dl", "lch", "dlch", "np", "dp", "pch", "dpch",
      "t2", "t3", "t4", "d5", "d6", "d7", "d8", "d9", "d10",
      "ntok", "t1c", "d3i").map(longField))
    override def inputTypes = Seq.fill(3)(ArrayType(StringType))
    def compute(t: ArrayData, ls: ArrayData, ps: ArrayData): InternalRow = {
      val L = t.numElements()
      val tstr = new Array[UTF8String](L)
      val tlen = new Array[Int](L)
      var dtok = 0L
      var i = 0
      while (i < L) {
        val s = t.getUTF8String(i)
        tstr(i) = if (s == null) UTF8String.EMPTY_UTF8 else s
        tlen(i) = tstr(i).numChars()
        dtok += tlen(i)
        i += 1
      }
      // lines / paragraphs: (count, distinct, char mass, dup char mass)
      def unitStats(a: ArrayData): (Long, Long, Long, Long) = {
        val m = a.numElements()
        val counts = new java.util.HashMap[UTF8String, java.lang.Long](m * 2)
        var ch = 0L
        var j = 0
        while (j < m) {
          val s0 = a.getUTF8String(j)
          val s = if (s0 == null) UTF8String.EMPTY_UTF8 else s0
          ch += s.numChars()
          val prev = counts.get(s)
          counts.put(s, java.lang.Long.valueOf(
            if (prev == null) 1L else prev.longValue() + 1L))
          j += 1
        }
        var dch = 0L
        val it = counts.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          dch += (e.getValue.longValue() - 1L) * e.getKey.numChars()
        }
        (m.toLong, counts.size.toLong, ch, dch)
      }
      val (nl, dl, lch, dlch) = unitStats(ls)
      val (np, dp, pch, dpch) = unitStats(ps)
      val sp = UTF8String.fromString(" ")
      // ONE concat/hash pass per gram level: the map holds (count,
      // window token-char mass) per distinct n-gram, and `ents(s)` is
      // the map ENTRY the gram starting at s hit — every downstream
      // stat (top, coverage marking, instance counts) then reads the
      // already-built entries instead of re-concatenating the grams
      // (the round-12 advice: the dominant O(L·n) cost was paid twice
      // per dup level and thrice for n = 3)
      def gramEntries(n: Int)
          : (java.util.HashMap[UTF8String, Array[Long]], Array[Array[Long]]) = {
        val map = new java.util.HashMap[UTF8String, Array[Long]]()
        val ents = new Array[Array[Long]](math.max(L - n + 1, 0))
        var s = 0
        while (s + n <= L) {
          var g = tstr(s)
          var w = tlen(s).toLong
          var k = 1
          while (k < n) {
            g = UTF8String.concat(g, sp, tstr(s + k))
            w += tlen(s + k)
            k += 1
          }
          var e = map.get(g)
          if (e == null) { e = Array(1L, w); map.put(g, e) }
          else e(0) += 1L
          ents(s) = e
          s += 1
        }
        (map, ents)
      }
      // top family: max count, ties to the longest window char mass
      def topFromMap(map: java.util.HashMap[UTF8String, Array[Long]]): Long = {
        var mx = 0L
        var best = 0L
        val it = map.values().iterator()
        while (it.hasNext) {
          val v = it.next()
          if (v(0) > mx) { mx = v(0); best = v(1) }
          else if (v(0) == mx && v(1) > best) best = v(1)
        }
        if (mx == 0L) 0L else mx * best
      }
      def topStats(n: Int): Long =
        if (L < n) 0L else topFromMap(gramEntries(n)._1)
      // dup family: char mass of the POSITION UNION under duplicated
      // gram occurrences — coverage read straight off the entries
      def dupStats(n: Int): Long = {
        if (L < n) return 0L
        val ents = gramEntries(n)._2
        val covered = new Array[Boolean](L)
        var any = false
        var s = 0
        while (s < ents.length) {
          if (ents(s)(0) >= 2L) {
            any = true
            var k2 = s
            while (k2 < s + n) { covered(k2) = true; k2 += 1 }
          }
          s += 1
        }
        if (!any) return 0L
        var dch = 0L
        var j = 0
        while (j < L) { if (covered(j)) dch += tlen(j); j += 1 }
        dch
      }
      // the repetitionScores count-fraction signals ride the same
      // pass: top 1-gram occurrence count and duplicated-3-gram
      // instance count (instances minus distinct); the n = 3 map is
      // built ONCE and serves both t3 (full mode) and d3i
      var t1c = 0L
      if (L > 0) {
        val it1 = gramEntries(1)._1.values().iterator()
        while (it1.hasNext) {
          val v = it1.next()
          if (v(0) > t1c) t1c = v(0)
        }
      }
      val map3 = if (L < 3) null else gramEntries(3)._1
      val d3i = if (map3 == null) 0L else (L - 2).toLong - map3.size.toLong
      val t3 = if (lite || map3 == null) 0L else topFromMap(map3)
      // lite mode (repetitionScores): only ntok/t1c/d3i are consumed —
      // skip the nine gopher gram levels, emit zeros in their slots
      if (lite)
        InternalRow(
          dtok, nl, dl, lch, dlch, np, dp, pch, dpch,
          0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, L.toLong, t1c, d3i)
      else
        InternalRow(
          dtok, nl, dl, lch, dlch, np, dp, pch, dpch,
          topStats(2), t3, topStats(4),
          dupStats(5), dupStats(6), dupStats(7), dupStats(8), dupStats(9),
          dupStats(10), L.toLong, t1c, d3i)
    }

    override protected def withNewChildrenInternal(newFirst: Expression,
        newSecond: Expression, newThird: Expression): Expression =
      copy(first = newFirst, second = newSecond, third = newThird)
  }

  def nfc_normalize(text: Column): Column =
    GraftSqlBridge.column(NfcNormalize(GraftSqlBridge.expression(text)))

  def bpe_segment_ids(word: Column, vocab: Seq[String]): Column =
    GraftSqlBridge.column(BpeSegmentIds(GraftSqlBridge.expression(word), vocab))

  def bpe_merge_pair(syms: Column, left: String, right: String): Column =
    GraftSqlBridge.column(BpeMergePair(
      GraftSqlBridge.expression(syms), left, right))

  def bpe_merge_encode(word: Column, merges: Seq[(String, String)]): Column =
    GraftSqlBridge.column(BpeMergeEncode(
      GraftSqlBridge.expression(word), merges))

  def poisson1_weight(key: Column, lane: Column,
      thresholds: Seq[Double]): Column =
    GraftSqlBridge.column(Poisson1Weight(GraftSqlBridge.expression(key),
      GraftSqlBridge.expression(lane), thresholds))

  def signed_project(vec: Column, inDim: Int, outDim: Int,
      tag: String): Column =
    GraftSqlBridge.column(SignedRandomProject(
      GraftSqlBridge.expression(vec), inDim, outDim, tag))

  def hash_embed_entries(toks: Column, dim: Int): Column =
    GraftSqlBridge.column(HashEmbedEntries(GraftSqlBridge.expression(toks), dim))

  def hash_count_entries(toks: Column, dim: Int): Column =
    GraftSqlBridge.column(HashCountEntries(GraftSqlBridge.expression(toks), dim))

  def char_entropy(s: Column): Column =
    GraftSqlBridge.column(CharEntropy(GraftSqlBridge.expression(s)))

  def hash_embed_dense(toks: Column, dim: Int): Column =
    GraftSqlBridge.column(HashEmbedDense(GraftSqlBridge.expression(toks), dim))

  def unigram_viterbi(word: Column, pieces: Seq[String], logps: Seq[Double],
      unkLogp: Double): Column =
    GraftSqlBridge.column(UnigramViterbi(
      GraftSqlBridge.expression(word), pieces, logps, unkLogp))

  def unigram_expected_counts(word: Column, pieces: Seq[String],
      logps: Seq[Double], unkLogp: Double,
      quantize: Boolean = false): Column =
    GraftSqlBridge.column(UnigramExpectedCounts(
      GraftSqlBridge.expression(word), pieces, logps, unkLogp, quantize))

  def unigram_sample(word: Column, pieces: Seq[String], logps: Seq[Double],
      unkLogp: Double, seed: Long, alpha: Double): Column =
    GraftSqlBridge.column(UnigramSample(
      GraftSqlBridge.expression(word), pieces, logps, unkLogp, seed, alpha))

  /** `mmr_greedy(cands, sims, m, lambda)` — one query's whole
    * maximal-marginal-relevance greedy selection as a single expression
    * over its BOUNDED candidate set (queries × k rows by contract): pick
    * `m` candidates, each step maximizing λ·rel − (1−λ)·max-sim-to-
    * selected; step 1 orders by raw rel (its novelty term is zero) and
    * records λ·rel. Inputs are ORDER-INSENSITIVE (`collect_list` order
    * varies run to run): the argmax breaks ties by ascending id with
    * `java.lang.Double.compare` — the same total order Spark's
    * (desc mmr, asc id) window used when this loop was m dataframe
    * steps. `cands` = ARRAY<STRUCT<id BIGINT, rel DOUBLE>> (ids unique),
    * `sims` = ARRAY<STRUCT<a BIGINT, b BIGINT, s DOUBLE>> of pair
    * cosines (rounded upstream — this kernel does no rounding); entries
    * naming unknown ids are ignored, missing pairs contribute novelty 0
    * (the old left-join `coalesce(_ms, 0)`). Interpreted eval, not
    * codegen: rows here are query-batch-sized, never corpus-sized.
    */
  case class MmrGreedy(left: Expression, right: Expression, m: Int,
      lambda: Double) extends BinaryExpression with CodegenFallback {
    require(m > 0, s"mmr_greedy: m must be positive, got $m")
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("mmr", DoubleType, nullable = false),
      StructField("rank", LongType, nullable = false))), containsNull = false)
    // by hand: the struct field types are fixed, their names are not
    override def checkInputDataTypes(): TypeCheckResult =
      (left.dataType, right.dataType) match {
        case (ArrayType(StructType(cf), _), ArrayType(StructType(sf), _))
            if cf.map(_.dataType).sameElements(
              Array[DataType](LongType, DoubleType)) &&
            sf.map(_.dataType).sameElements(
              Array[DataType](LongType, LongType, DoubleType)) =>
          TypeCheckResult.TypeCheckSuccess
        case (l, r) => TypeCheckResult.TypeCheckFailure(
          "mmr_greedy requires ARRAY<STRUCT<BIGINT, DOUBLE>> and " +
            s"ARRAY<STRUCT<BIGINT, BIGINT, DOUBLE>>, got ${l.catalogString}" +
            s" and ${r.catalogString}")
      }
    override def nullSafeEval(a: Any, b: Any): Any =
      mmrGreedyEval(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
        m, lambda)
    override protected def withNewChildrenInternal(newLeft: Expression,
        newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  def mmrGreedyEval(cands: ArrayData, sims: ArrayData, m: Int,
      lambda: Double): ArrayData = {
    val n = cands.numElements()
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val ids = new Array[Long](n)
    val rels = new Array[Double](n)
    var i = 0
    while (i < n) {
      val r = cands.getStruct(i, 2)
      ids(i) = r.getLong(0); rels(i) = r.getDouble(1); i += 1
    }
    val idx = new java.util.HashMap[java.lang.Long, Integer](n * 2)
    i = 0
    while (i < n) { idx.put(ids(i), i); i += 1 }
    // dense pair-sim grid; NaN = no entry (novelty 0 until selected-set
    // coverage exists, exactly the old left join's null)
    val sim = Array.fill(n * n)(Double.NaN)
    val nSims = sims.numElements()
    i = 0
    while (i < nSims) {
      val r = sims.getStruct(i, 3)
      val ia = idx.get(java.lang.Long.valueOf(r.getLong(0)))
      val ib = idx.get(java.lang.Long.valueOf(r.getLong(1)))
      if (ia != null && ib != null) sim(ia * n + ib) = r.getDouble(2)
      i += 1
    }
    // lamBar computed here with the same IEEE subtraction the dataframe
    // form's lit(1.0 - lambda) did
    val lamBar = 1.0 - lambda
    val selected = new Array[Boolean](n)
    val ms = Array.fill(n)(Double.NaN)
    val steps = math.min(m, n)
    val out = new Array[Any](steps)
    var t = 0
    while (t < steps) {
      var best = -1
      var bestKey = 0.0
      var bestVal = 0.0
      var j = 0
      while (j < n) {
        if (!selected(j)) {
          val novelty = if (java.lang.Double.isNaN(ms(j))) 0.0 else ms(j)
          val v = lambda * rels(j) - lamBar * novelty
          // step 1 ranks by raw rel (the old (rel desc, id) window);
          // later steps rank by the mmr value itself
          val key = if (t == 0) rels(j) else v
          val cmp = if (best < 0) 1 else java.lang.Double.compare(key, bestKey)
          if (cmp > 0 || (cmp == 0 && best >= 0 && ids(j) < ids(best))) {
            best = j; bestKey = key
            bestVal = if (t == 0) lambda * rels(j) else v
          }
        }
        j += 1
      }
      selected(best) = true
      out(t) = new GenericInternalRow(
        Array[Any](ids(best), bestVal, (t + 1).toLong))
      var q = 0
      while (q < n) {
        if (!selected(q)) {
          val s = sim(q * n + best)
          if (!java.lang.Double.isNaN(s) &&
            (java.lang.Double.isNaN(ms(q)) ||
              java.lang.Double.compare(s, ms(q)) > 0)) ms(q) = s
        }
        q += 1
      }
      t += 1
    }
    new GenericArrayData(out)
  }

  def mmr_greedy(cands: Column, sims: Column, m: Int,
      lambda: Double): Column =
    GraftSqlBridge.column(MmrGreedy(
      GraftSqlBridge.expression(cands), GraftSqlBridge.expression(sims),
      m, lambda))
}
