package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level cleaning functions re-expressing the reference's value
  * pipeline (reference: /root/reference/main.py) as composed Catalyst
  * built-ins — every function here stays inside whole-stage codegen
  * (no UDFs), so they vectorize on the parquet scan and survive
  * predicate pushdown at 100 TB scale.
  *
  * Reference semantics covered:
  *  - O6  markdown fence strip        (main.py:141-143, 451-453, 709-711)
  *  - O11 messy numeric cast          (main.py:229-239)
  *  - O12 fuzzy date cast (subset)    (main.py:241-247)
  *  - O13 null normalization          (main.py:224-225)
  *  - O14 identifier sanitization     (main.py:262-263, 281, 617, 632)
  */
object Clean {

  /** Sentinel values the reference folds to SQL NULL (main.py:224-225). */
  val NullSentinels: Seq[String] = Seq("", "N/A", "---")

  /** O13: `None/""/"N/A"/"---"` → NULL. */
  def nullNormalize(c: Column): Column =
    when(c.isNull || c.isin(NullSentinels: _*), lit(null)).otherwise(c)

  /** O14 (identifier rule): `re.sub(r'[^a-zA-Z0-9_]','_',s).lower()`
    * (main.py:262-263, 281, 306). */
  def sanitizeIdent(c: Column): Column =
    lower(regexp_replace(c, "[^a-zA-Z0-9_]", "_"))

  /** O14 (filename rule, main.py:632): keep `[a-zA-Z0-9_.-]`. */
  def sanitizeFilename(c: Column): Column =
    regexp_replace(c, "[^a-zA-Z0-9_.-]", "_")

  /** O14 (email rule, main.py:617): `[@.]` → `_`. */
  def sanitizeEmail(c: Column): Column =
    regexp_replace(c, "[@.]", "_")

  /** O6: strip leading/trailing ``` / ```json fences from LLM output
    * (main.py:141-143). */
  def stripJsonFences(c: Column): Column =
    trim(regexp_replace(c, "^\\s*```(json)?\\s*|\\s*```\\s*$", ""))

  /** Characters the reference strips before numeric parse (main.py:231).
    * Whitespace is the EXPLICIT RE2 \s class [ \t\n\f\r] — Java's \s
    * would also strip \x0B, which the DuckDB oracle's RE2 regex does
    * not, so a vertical-tab-laced value would parse here but NULL on
    * the oracle. Pinned to the native ExprHelpers.isAsciiSpace set. */
  private val MessyChars = "[$€£¥,% \\t\\n\\f\\r]"

  /** Numeric shape accepted post-strip (python float() subset that the
    * declared queries exercise). */
  private val NumericRe = "^[+-]?(\\d+(\\.\\d*)?|\\.\\d+)([eE][+-]?\\d+)?$"

  /** O11: messy numeric cast (main.py:229-239).
    * Strip `[$€£¥,\s%]`; `(x)` → `-x`; cast; unparseable → NULL.
    * Composed built-ins → codegen'd; the numeric-shape guard keeps the
    * cast safe under ANSI mode (Spark 4 default). The one-shot form of
    * [[normalizeNumber]] then [[parseNormalizedNumber]]. */
  def parseMessyNumber(c: Column): Column =
    parseNormalizedNumber(normalizeNumber(c))

  /** O11's normalize step: trimmed, sentinels to NULL, the messy
    * characters stripped. */
  def normalizeNumber(c: Column): Column =
    regexp_replace(nullNormalize(trim(c)), MessyChars, "")

  /** O11's parse step over a [[normalizeNumber]]ed column, which it
    * refers to several times: a caller that projects the normalized
    * value first evaluates it once per row. */
  def parseNormalizedNumber(cleaned: Column): Column = {
    val deparen = when(
      cleaned.startsWith("(") && cleaned.endsWith(")"),
      concat(lit("-"), regexp_replace(cleaned, "^\\(|\\)$", ""))
    ).otherwise(cleaned)
    when(deparen.rlike(NumericRe), deparen.cast("double"))
  }

  /** O7 (main.py:145, 455-457, 713-715): JSON parse + shape coercion.
    * The reference json.loads the LLM output and, if a LIST arrives,
    * takes element 0 (or {} if empty). Expressed as: try the map
    * parse; if that fails, parse as array-of-maps and take the head;
    * empty/unparseable → empty map. */
  def parseJsonMap(c: Column): Column = {
    import org.apache.spark.sql.types._
    val mapT = MapType(StringType, StringType)
    val asMap = from_json(stripJsonFences(c), mapT)
    val asList = from_json(stripJsonFences(c), ArrayType(mapT))
    // try_element_at: NULL (not an ANSI error) when the list is empty.
    coalesce(asMap, try_element_at(asList, lit(1)),
      from_json(lit("{}"), mapT))
  }

  /** Declared (format, shape-guard) pairs for O12 (SURVEY.md §7.4:
    * full dateutil-fuzzy parity is ill-specified; this is the
    * documented subset). The guard is a cheap regex superset of what
    * the format parses. Guarding try_to_timestamp this way avoids the
    * exception-throwing parse attempt for every non-matching format —
    * unguarded, a non-date string pays all N parse failures; guarded it
    * pays N regex tests and zero parses. Semantics are unchanged: a
    * guard that matches but fails to parse yields NULL and coalesce
    * moves on, exactly like the unguarded chain. */
  private val DateFormatGuards: Seq[(String, String)] = Seq(
    // Each single-letter day/month pattern ("d", "M") accepts 1-2
    // digits in Spark's CORRECTED parser, so it SUBSUMES its
    // double-letter twin ("dd", "MM") — the historical dd/MM variants
    // (rounds 5-6 carried both) parse the same values on 2-digit
    // input and only the single-letter form parses 1-digit input, so
    // keeping just the subsuming form halves the parse attempts per
    // matched row with bit-identical results. "yyyy-MM-dd" stays
    // strict deliberately (the declared-subset contract: "2021-3-5"
    // is NOT a recognized date; its guard hit parse-fails to NULL).
    "yyyy-MM-dd" -> "^\\d{4}-\\d{1,2}-\\d{1,2}$",
    "yyyy/M/d" -> "^\\d{4}/\\d{1,2}/\\d{1,2}$",
    "M/d/yyyy" -> "^\\d{1,2}/\\d{1,2}/\\d{4}$",
    "MMMM d, yyyy" -> "^[A-Za-z]+ \\d{1,2}, \\d{4}$",
    "MMM d, yyyy" -> "^[A-Za-z]+ \\d{1,2}, \\d{4}$",
    "MMM d yyyy" -> "^[A-Za-z]+ \\d{1,2} \\d{4}$",
    "MMMM d yyyy" -> "^[A-Za-z]+ \\d{1,2} \\d{4}$",
    "d-MMM-yyyy" -> "^\\d{1,2}-[A-Za-z]{3}-\\d{4}$",
    "d-MMMM-yyyy" -> "^\\d{1,2}-[A-Za-z]{4,}-\\d{4}$",
    "d MMMM yyyy" -> "^\\d{1,2} [A-Za-z]{4,} \\d{4}$",
    "d MMM yyyy" -> "^\\d{1,2} [A-Za-z]{3} \\d{4}$",
    // round-10 tail: compact all-digit form ("19980305")
    "yyyyMMdd" -> "^\\d{8}$")

  /** Two-digit-year guard ("05-Mar-98") — handled OUTSIDE the format
    * chain because the century pivot must be explicit: Spark's `yy`
    * pattern is 2000-based (98 → 2098) while the POSIX/strptime (and
    * dateutil-adjacent) convention every oracle engine implements is
    * 69..99 → 19xx, 00..68 → 20xx. The pivot rewrites the string to
    * its four-digit form and reuses the d-MMM-yyyy parse. */
  private val TwoDigitYearGuard = "^\\d{1,2}-[A-Za-z]{3}-\\d{2}$"

  /** O12: fuzzy date cast over the declared format subset
    * (main.py:241-247) — first format that parses wins; NULL otherwise.
    * Ordinal day suffixes ("3rd March 2021", "March 3rd, 2021") are
    * normalized away BEFORE the format chain — a digit-anchored
    * word-boundary replace (capture-group form, NOT lookbehind, so the
    * DuckDB/RE2 oracle can state the identical rewrite) that is a
    * no-op on every suffix-free string.
    *
    * Cost shape (the round-7 close of the "native expression?"
    * question): the per-row work is guard regex tests + parse
    * attempts. The guard PATTERNS are mutually exclusive by
    * construction (digit-led vs alpha-led, comma vs space vs dash
    * separators), so formats sharing a guard fold into ONE rlike test
    * feeding their parse chain — at most 9 distinct regex tests per
    * row instead of 18, with bit-identical results: a string matches
    * at most one group, and within the group the original format
    * order is preserved. The remaining per-row cost is Spark's own
    * try_to_timestamp (already native + codegen'd); hand-rolling the
    * date grammar as a custom expression would have to reproduce
    * Spark's exact parser semantics (lenient-mode month names, era
    * handling) to stay oracle-identical — all risk, no codegen win,
    * so the grouped-guard composed form is final. The one-shot form of
    * [[normalizeDate]] then [[parseNormalizedDate]]. */
  def parseFuzzyDate(c: Column): Column = parseNormalizedDate(normalizeDate(c))

  /** O12's normalize step: trimmed, sentinels to NULL, ordinal day
    * suffixes dropped. */
  def normalizeDate(c: Column): Column =
    regexp_replace(nullNormalize(trim(c)), "(\\d)(st|nd|rd|th)\\b", "$1")

  /** O12's parse step over a [[normalizeDate]]d column, which every
    * guard and parse attempt refers to: a caller that projects the
    * normalized value first evaluates it once per row. */
  def parseNormalizedDate(s: Column): Column = {
    // Group formats by identical guard regex, preserving first-format
    // precedence (guards are mutually exclusive, so inter-group order
    // is immaterial; intra-group order is kept).
    val grouped = DateFormatGuards.zipWithIndex
      .groupBy { case ((_, re), _) => re }
      .toSeq
      .sortBy { case (_, members) => members.map(_._2).min }
      .map { case (re, members) =>
        re -> members.sortBy(_._2).map { case ((f, _), _) => f } }
    val chained = grouped.map { case (re, formats) =>
      when(s.rlike(re),
        coalesce(formats.map(f => try_to_timestamp(s, lit(f))): _*))
    }
    // d-MMM-yy with the POSIX century pivot (see TwoDigitYearGuard):
    // rebuild "05-Mar-98" as "05-Mar-1998" and parse 4-digit.
    val yy = substring(s, -2, 2).cast("int")
    val fullYear = when(yy <= 68, yy + 2000).otherwise(yy + 1900)
    val twoDigit = when(s.rlike(TwoDigitYearGuard),
      try_to_timestamp(
        concat(regexp_replace(s, "\\d{2}$", ""), fullYear.cast("string")),
        lit("d-MMM-yyyy")))
    coalesce((chained :+ twoDigit): _*).cast("date")
  }
}
