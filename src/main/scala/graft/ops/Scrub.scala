package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** PII scrubbing — redact emails, IPv4 addresses, and international phone
  * numbers from a text column, with per-document redaction counts. A core
  * compliance pass in every web-scale training-data pipeline (C4 and
  * derivatives scrub or drop PII-bearing lines before training).
  *
  * The patterns deliberately stay inside the syntax subset where Java's
  * regex engine (Spark) and RE2 (the DuckDB oracle) agree: character
  * classes, bounded repetition, `\b` — no alternation, backreferences, or
  * lookaround, so leftmost-greedy matching is identical in both engines
  * and the oracle validates the scrub byte-for-byte.
  *
  * Passes run in a fixed order (email → IPv4 → phone), each counting on
  * the PREVIOUS pass's output: an already-redacted `<EMAIL>` token can't
  * be re-matched as a phone number, and the order is part of the operator
  * contract (mirrored in the oracle SQL).
  *
  * 100 TB scale shape: three codegen'd regexp_replace/regexp_count chains
  * per row in the scan stage — zero shuffle, trivially parallel, and the
  * text never leaves its input partition.
  */
object Scrub {

  private[graft] val EMAIL_RE =
    "[A-Za-z0-9._%+\\-]+@[A-Za-z0-9.\\-]+\\.[A-Za-z]{2,}"
  private[graft] val IPV4_RE =
    "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  /** Leading '+' required: without it the pattern would eat arbitrary long
    * digit runs (ids, timestamps) — the high-precision form of phone
    * scrubbing. 7..20 total digits/separators after the '+'.
    */
  private[graft] val PHONE_RE =
    "\\+[0-9][0-9 ()\\-]{5,18}[0-9]"

  /** Redact PII from `textCol`; returns `idCol`, the scrubbed text, and
    * int counts of redactions per category.
    */
  def scrubPii(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val t0 = col(textCol)
    val t1 = regexp_replace(t0, EMAIL_RE, "<EMAIL>")
    val t2 = regexp_replace(t1, IPV4_RE, "<IP>")
    val t3 = regexp_replace(t2, PHONE_RE, "<PHONE>")
    docs.select(
      col(idCol),
      t3.as(textCol),
      regexp_count(t0, lit(EMAIL_RE)).cast("int").as("n_email"),
      regexp_count(t1, lit(IPV4_RE)).cast("int").as("n_ip"),
      regexp_count(t2, lit(PHONE_RE)).cast("int").as("n_phone"))
  }

  // HTML stripping patterns — same Java∩RE2 contract as the PII set.
  // Script/style pairs use inline (?is) + non-greedy instead of a
  // backreference alternation (RE2 has no backreferences); the
  // whitespace class is explicit because Java's \s includes \x0B and
  // RE2's does not.
  private[graft] val SCRIPT_RE = "(?is)<script[^>]*>.*?</script>"
  private[graft] val STYLE_RE = "(?is)<style[^>]*>.*?</style>"
  private[graft] val COMMENT_RE = "(?s)<!--.*?-->"
  private[graft] val TAG_RE = "<[^>]*>"
  // THE whitespace contract is TextAnalysis.WS_RUN_RE — one constant, two
  // pipelines (normalize + strip), so the engine∩oracle class can't drift
  private[graft] val WS_RE = TextAnalysis.WS_RUN_RE

  /** HTML → text: the C4-style boilerplate strip that runs BEFORE any
    * tokenization/quality stage when the corpus arrives as raw markup.
    * Fixed pass order, each part of the operator contract (mirrored in
    * the oracle): script blocks, style blocks, comments — their CONTENT
    * must go, so they run before the generic tag pass (which would strip
    * `<script>` and leave `var x = 1;` behind) — then all remaining
    * tags, then the six ubiquitous character entities (`&amp;` decoded
    * LAST so `&amp;lt;` yields the literal `&lt;`, not `<`), then
    * whitespace collapse + trim. Pure scan-stage codegen'd
    * regexp_replace/replace chain; zero shuffle, text never leaves its
    * partition. NOT a sanitizer (no nesting/entity completeness) — it is
    * the training-text extraction pass, oracle-validated byte-for-byte.
    */
  def stripHtml(text: Column): Column = {
    val t1 = regexp_replace(text, SCRIPT_RE, " ")
    val t2 = regexp_replace(t1, STYLE_RE, " ")
    val t3 = regexp_replace(t2, COMMENT_RE, " ")
    val t4 = regexp_replace(t3, TAG_RE, " ")
    val decoded = Seq("&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&")
      .foldLeft(t4) { case (c, (e, r)) => replace(c, lit(e), lit(r)) }
    trim(regexp_replace(decoded, WS_RE, " "))
  }

  /** The filtering form: drop documents whose PII density is above
    * `maxPerKChars` redactions per 1000 characters OF THE ORIGINAL text (a
    * document that is mostly contact records is usually a directory page,
    * not prose worth training on); scrub the survivors. Density is
    * measured before redaction — measuring against the scrubbed length
    * would make the threshold depend on how much shorter `<EMAIL>` is
    * than the emails it replaced.
    */
  def scrubAndFilter(docs: DataFrame, maxPerKChars: Double,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val t0 = col(textCol)
    val t1 = regexp_replace(t0, EMAIL_RE, "<EMAIL>")
    val t2 = regexp_replace(t1, IPV4_RE, "<IP>")
    val nPii = regexp_count(t0, lit(EMAIL_RE)) +
      regexp_count(t1, lit(IPV4_RE)) + regexp_count(t2, lit(PHONE_RE))
    scrubPii(
      docs.where(nPii.cast("double") * 1000.0 /
        greatest(length(t0), lit(1)) <= maxPerKChars),
      idCol, textCol)
  }

  /** Payment-card candidate class: 13–19 digits with optional single
    * space/dash separators — the Java∩RE2 subset (no lookaround), so
    * leftmost-greedy extraction is identical in both engines.
    */
  private[graft] val CC_CANDIDATE_RE = "[0-9](?:[ \\-]?[0-9]){12,18}"

  /** Luhn mod-10 checksum validation of payment-card candidates — the
    * checksum every production PII scrubber runs because a bare
    * digit-run regex drowns in false positives (order ids, timestamps,
    * EANs): from the RIGHT, odd positions count as-is, even positions
    * double (minus 9 above 9), and a real card number sums to 0 mod 10 —
    * killing ~90% of random digit runs. Returns one row per DISTINCT
    * (doc, candidate) with the separator-normalized digits and the
    * validity flag — rows to feed a span scrubber; candidate-free
    * documents emit nothing (the [[TextAnalysis.secretScan]] contract).
    *
    * Scale shape: pure scan stage — regexp extraction, a per-candidate
    * fold over the reversed digit array (≤ 19 elements), zero shuffle,
    * stateless-append streamable.
    */
  def creditCardScan(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val cands = docs.select(col(idCol),
        explode(array_distinct(regexp_extract_all(
          coalesce(col(textCol), lit("")), lit(CC_CANDIDATE_RE), lit(0))))
          .as("candidate"))
      .withColumn("digits", regexp_replace(col("candidate"), "[^0-9]", ""))
      // the reversed char array is materialized before the fold probes
      // it per element (the per-element re-evaluation trap)
      .withColumn("_rc", split(reverse(col("digits")), ""))
    cands.select(col(idCol), col("candidate"), col("digits"),
        ((aggregate(sequence(lit(1), size(col("_rc"))), lit(0), (acc, i) => {
          val d = element_at(col("_rc"), i).cast("int")
          acc + when(i % 2 === 1, d)
            .otherwise(when(d * 2 > 9, d * 2 - 9).otherwise(d * 2))
        }) % 10 === 0)).cast("int").as("luhn_valid"))
  }

  /** k-anonymity audit: group sizes over a quasi-identifier tuple. A row
    * is k-anonymous when at least k−1 other rows share its quasi-identifier
    * values; any group below k re-identifies its members. Returns one row
    * per quasi-group with its size and a violation flag — the PER-GROUP
    * detail a suppression pass acts on (which cells to generalize or
    * drop); [[Contracts.kAnonymity]] is the one-row summary twin a
    * release gate thresholds on.
    *
    * Scale shape: one hash aggregation keyed on the quasi tuple (map-side
    * combined; the group dictionary is the quasi-value cross product, tiny
    * next to the data). No row-level output — the report is group-sized.
    */
  def kAnonymityAudit(df: DataFrame, quasiCols: Seq[String],
      k: Int): DataFrame = {
    require(quasiCols.nonEmpty, "kAnonymityAudit: need quasi-identifier cols")
    require(k >= 1, s"kAnonymityAudit: k must be >= 1, got $k")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .withColumn("k_violation", (col("n") < k).cast("int"))
  }

  /** l-diversity audit: distinct sensitive values per quasi-group. A
    * k-anonymous group still leaks when every member shares one sensitive
    * value (homogeneity attack); l-diversity requires ≥ l distinct
    * sensitive values per group. Same group-sized aggregation shape as
    * [[kAnonymityAudit]] with a count-distinct per group.
    */
  def lDiversityAudit(df: DataFrame, quasiCols: Seq[String],
      sensitiveCol: String, l: Int): DataFrame = {
    require(quasiCols.nonEmpty, "lDiversityAudit: need quasi-identifier cols")
    require(l >= 1, s"lDiversityAudit: l must be >= 1, got $l")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        countDistinct(col(sensitiveCol)).as("n_sensitive"))
      .withColumn("l_violation", (col("n_sensitive") < l).cast("int"))
  }
}
