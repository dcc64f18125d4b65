package graft.functions

import org.apache.spark.sql.{GraftSqlBridge, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import ArrayKernels._

/** Registers the custom kernels as SQL functions so
  * `spark.sql("SELECT array_dot(a, b) ...")` works.
  *
  * Two entry points:
  *  - `spark.sql.extensions=graft.functions.GraftExtensions` (or
  *    `builder().withExtensions(new GraftExtensions)`) at session build time;
  *  - `GraftExtensions.install(spark)` on an already-running session.
  */
object GraftExtensions {

  private def info(name: String, usage: String) =
    new ExpressionInfo(ArrayKernels.getClass.getName, null, name, usage, "", "", "", "", "", "", "built-in")

  /** The value of an INT or in-range BIGINT literal argument. */
  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(i: Int, _) => i
    case Literal(l: Long, _) if l.isValidInt => l.toInt
    case other => throw new IllegalArgumentException(
      s"$what must be an INT-range integer literal, got $other")
  }

  private[functions] val functions: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("array_dot",
      info("array_dot", "array_dot(a, b) - dot product of two ARRAY<DOUBLE>"),
      (exprs: Seq[Expression]) => ArrayDotProduct(exprs(0), exprs(1))),
    ("simhash64",
      info("simhash64", "simhash64(hashes) - 64-bit SimHash of ARRAY<BIGINT>"),
      (exprs: Seq[Expression]) => SimHash64(exprs.head)),
    ("byte_histogram",
      info("byte_histogram", "byte_histogram(blob, bins) - byte-value histogram of BINARY"),
      (exprs: Seq[Expression]) =>
        ByteHistogram(exprs(0), intLit(exprs(1), "byte_histogram(blob, bins): bins"))),
    ("array_eq_count",
      info("array_eq_count", "array_eq_count(a, b) - positions where two ARRAY<BIGINT> agree"),
      (exprs: Seq[Expression]) => ArrayEqCount(exprs(0), exprs(1))),
    ("deflate_ratio",
      info("deflate_ratio", "deflate_ratio(text) - DEFLATE compressed/raw size ratio of STRING or BINARY"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(e) => DeflateRatio(e)
        case other => throw new IllegalArgumentException(
          s"deflate_ratio(text) takes exactly 1 argument, got ${other.length}")
      }),
    ("token_ngrams",
      info("token_ngrams",
        "token_ngrams(toks, n[, distinct]) - space-joined token n-grams of ARRAY<STRING>"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(toks, n) => TokenNgrams(toks, intLit(n, "token_ngrams: n"), distinct = false)
        case Seq(toks, n, Literal(d: Boolean, _)) => TokenNgrams(toks, intLit(n, "token_ngrams: n"), d)
        case other => throw new IllegalArgumentException(
          s"token_ngrams(toks, n[, distinct]) takes 2-3 arguments, got ${other.length}")
      }),
    ("token_lcs_len",
      info("token_lcs_len",
        "token_lcs_len(a, b) - longest-common-subsequence length of two ARRAY<STRING>"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(a, b) => TokenLcsLen(a, b)
        case other => throw new IllegalArgumentException(
          s"token_lcs_len(a, b) takes exactly 2 arguments, got ${other.length}")
      }),
    ("nfc_normalize",
      info("nfc_normalize", "nfc_normalize(text) - Unicode NFC composition of STRING"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(e) => NfcNormalize(e)
        case other => throw new IllegalArgumentException(
          s"nfc_normalize(text) takes exactly 1 argument, got ${other.length}")
      }),
    ("wav_frame_rms",
      info("wav_frame_rms",
        "wav_frame_rms(blob, frameSamples) - per-frame RMS of canonical PCM16 WAV BINARY"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(blob, n) => WavFrameRms(blob, intLit(n, "wav_frame_rms(blob, frameSamples): frameSamples"))
        case other => throw new IllegalArgumentException(
          s"wav_frame_rms(blob, frameSamples) takes exactly 2 arguments, got ${other.length}")
      }),
    ("ppm_patch_means",
      info("ppm_patch_means",
        "ppm_patch_means(blob, patch) - patch-grid mean RGB of raw P6 PPM BINARY"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(blob, n) => PpmPatchMeans(blob, intLit(n, "ppm_patch_means(blob, patch): patch"))
        case other => throw new IllegalArgumentException(
          s"ppm_patch_means(blob, patch) takes exactly 2 arguments, got ${other.length}")
      }))

  /** Register into a live session. */
  def install(spark: SparkSession): Unit =
    functions.foreach { case (n, i, b) =>
      GraftSqlBridge.registerFunction(spark, n, i, b)
    }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (n, i, b) =>
      e.injectFunction((FunctionIdentifier(n), i, b))
    }
}
