package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text projection / scalar functions (SURVEY §2.2).
  *
  * All of these are built from `org.apache.spark.sql.functions` so they stay inside
  * whole-stage codegen — no UDFs in the hot path.
  */
object TextFns {

  /** The reference's 9-rule regex rewrite chain, in order, then rstrip + lowercase
    * (reference: utils/formatting.py:7-36). Rule order is semantically significant
    * (rule 2 collapses the whitespace that rules 3-5 then match around).
    *
    * `regexp_replace` replaces every occurrence (same as Python `re.sub`), and Java
    * regex semantics for `\s`, `^`, lazy `*?` and capture-group `$1`/`\1` replacement
    * match the reference's `re` usage on this rule set.
    */
  def cleanText(c: Column, removePunctuation: Boolean = false): Column = {
    val rules: Seq[(String, String)] = Seq(
      ">\\s+" -> ">",                              // remove spaces after a tag opens/closes
      "\\s+" -> " ",                               // collapse consecutive whitespace
      "\\s*<br\\s*/?>\\s*" -> "\n",                // newline after a <br>
      "</(div)\\s*>\\s*" -> "\n",                  // newline after </div>
      "</(p|h\\d)\\s*>\\s*" -> "\n\n",             // two newlines after </p>, </hN>
      "<head>.*<\\s*(/head|body)[^>]*>" -> "",     // remove <head>..</head|body>
      "<a\\s+href=\"([^\"]+)\"[^>]*>.*</a>" -> "$1", // show link target instead of text
      "[ \\t]*<[^<]*?/?>" -> "",                   // remove remaining tags
      "^\\s+" -> ""                                // strip leading whitespace
    ) ++ (if (removePunctuation)
            Seq("[.,\\/#!$%\\^&\\*;:{}=\\-_`~()]" -> "")
          else Nil)
    val rewritten = rules.foldLeft(c) { case (acc, (pat, rep)) =>
      regexp_replace(acc, pat, rep)
    }
    lower(regexp_replace(rewritten, "\\s+$", "")) // rstrip, then lowercase
  }

  /** Split cleaned text on single spaces, exactly as the reference's
    * `abstract.split(" ")` (adaptation/dataset.py:198) — note: split on the literal
    * space, not `\s+`, so empty tokens can appear if cleaning left edge cases. */
  def words(c: Column): Column = split(c, " ")

  /** Whitespace token count (text-analysis extension; BASELINE.json north star). */
  def tokenCount(c: Column): Column = size(split(c, "\\s+"))

  /** Normalized whitespace token array (the shingle base). */
  def normTokens(c: Column): Column =
    split(regexp_replace(trim(c), "\\s+", " "), " ")

  /** Word w-shingles over a *pre-projected token array column*, in document
    * order, duplicates included.
    *
    * PERF: Spark's higher-order functions (transform/filter/aggregate) are
    * CodegenFallback — interpreted, with no common-subexpression elimination —
    * so any non-trivial expression passed as `toks` is re-evaluated once per
    * element inside the lambda. Always project the token array into its own
    * column first (see [[wordShingles]] for the composed form and the dedup
    * operators for the two-step pattern); passing the raw regex-clean chain
    * here made the dedup suite ~5× slower. Set semantics (where needed, e.g.
    * Jaccard) are applied relationally after explode — `array_distinct` at
    * expression level is O(n²) per document. */
  def shinglesFromTokens(toks: Column, w: Int): Column =
    when(size(toks) >= w,
      transform(
        sequence(lit(0), size(toks) - w),
        i => array_join(slice(toks, i + 1, lit(w)), " ")))
      .otherwise(array().cast("array<string>"))

  /** Word w-shingles of a text column (convenience form for small inputs; hot
    * paths should pre-project [[normTokens]] and use [[shinglesFromTokens]]). */
  def wordShingles(c: Column, w: Int): Column =
    shinglesFromTokens(normTokens(c), w)

  /** Codegen-friendly w-shingle view for consumers that EXPLODE immediately
    * (the minhash / Jaccard hot paths): `w` shifted `slice`s zipped into one
    * struct array — slice/arrays_zip are code-generated, where
    * [[shinglesFromTokens]]'s `transform` lambda is CodegenFallback
    * (interpreted, re-allocating a slice + joined string per position).
    * Struct i holds (tok_i, …, tok_{i+w−1}); [[shingleString]] rebuilds the
    * exact space-joined shingle string after the explode, so
    * xxhash64(shingleString) ≡ xxhash64(array_join(slice(toks,i+1,w), " "))
    * bit-for-bit (ShingleParitySpec pins it). Measured 0.78 → 0.55 s on the
    * sf0.1 shingle+hash fragment (optimization guide §4: stay inside
    * whole-stage codegen). */
  def shingleZip(toks: Column, w: Int): Column = {
    val n = size(toks)
    val fields = (0 until w).map(i => s"`$i`:string").mkString(",")
    when(n >= w,
      arrays_zip((0 until w).map(i => slice(toks, lit(i + 1), n - (w - 1))): _*))
      .otherwise(array().cast(s"array<struct<$fields>>"))
  }

  /** The space-joined shingle string of one [[shingleZip]] struct. */
  def shingleString(s: Column, w: Int): Column =
    concat_ws(" ", (0 until w).map(i => s.getField(i.toString)): _*)

  /** Quality-score components (text-analysis extension): doc length, word count,
    * mean word length, punctuation ratio, stopword ratio, alpha ratio. */
  val stopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "with", "as", "at", "by", "be", "this", "are")

  def punctRatio(c: Column): Column =
    when(length(c) === 0, 0.0)
      .otherwise(length(regexp_replace(c, "[^.,;:!?]", "")).cast("double") / length(c))

  def alphaRatio(c: Column): Column =
    when(length(c) === 0, 0.0)
      .otherwise(length(regexp_replace(c, "[^A-Za-z]", "")).cast("double") / length(c))

  def stopwordRatio(c: Column): Column = {
    val toks = split(lower(trim(c)), "\\s+")
    when(size(toks) === 0, 0.0).otherwise(
      size(filter(toks, t => t.isInCollection(stopwords))).cast("double") / size(toks))
  }

  /** Deterministic rolling (polynomial) fingerprint of the normalized text:
    * h = (h*31 + code(char)) mod 2^58. The modulus keeps the accumulator under
    * 2^58 so the *31 step never overflows a Long (Spark 4 runs ANSI mode — no
    * silent wraparound) and the same arithmetic replays in overflow-checked SQL
    * engines. Document fingerprinting for the dedup suite. */
  val FingerprintMod: Long = 1L << 58

  def fingerprint64(c: Column): Column = {
    val norm = regexp_replace(lower(trim(c)), "\\s+", " ")
    aggregate(
      transform(split(norm, ""), ch => ascii(ch).cast("long")),
      lit(0L),
      (acc, x) => pmod(acc * lit(31L) + x, lit(FingerprintMod)))
  }

  /** Language-ID heuristic (text-analysis extension): scores text against small
    * per-language marker-word lists and returns the argmax language, "und" if no
    * marker hits. N-gram-free but deterministic and SQL-expressible. */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is"),
    "es" -> Seq("el", "la", "de", "que", "es"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "fr" -> Seq("le", "la", "et", "les", "est"),
    "zh" -> Seq("de5", "shi4", "le5", "zai4", "he2"))

  def langScore(c: Column, lang: String): Column = {
    val toks = split(lower(trim(c)), "\\s+")
    size(filter(toks, t => t.isInCollection(langMarkers(lang))))
  }

  // ---- PII detection / redaction (training-data-pipeline extension) ---------
  //
  // Pattern-based PII scrubbing — the standard pre-training hygiene pass
  // (emails / IPv4 / phone-shaped strings → fixed placeholder tokens). The
  // regexes are deliberately RE2-safe (no lookaround, no backreferences) so
  // the identical pattern runs in Spark (Java regex) and the DuckDB oracle
  // (RE2) with the same matches; everything is codegen'd `regexp_*` — no UDF.

  /** Email addresses ("user@host.tld", alpha TLD so IPv4 hosts don't match). */
  val EmailRe: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** Dotted-quad IPv4 literals. */
  val Ipv4Re: String = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** International-style phone numbers: '+' then ≥8 digits allowing separators
    * (the leading '+' keeps IPv4 and bare ids out of scope). */
  val PhoneRe: String = "\\+\\d[\\d ()-]{6,}\\d"

  /** Occurrence count of `re` in `c` (codegen'd regexp_count). */
  def countPattern(c: Column, re: String): Column =
    regexp_count(c, lit(re)).cast("long")

  /** Replace every email/phone/IPv4 with a placeholder token. Order matters
    * and is part of the contract: emails first (their local parts may contain
    * digits a later pattern could nibble), then phones (longest digit spans),
    * then IPs. */
  def redactPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, EmailRe, "<EMAIL>"),
        PhoneRe, "<PHONE>"),
      Ipv4Re, "<IP>")
}
