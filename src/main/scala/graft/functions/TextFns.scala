package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column expressions for large-scale document pipelines.
  *
  * Everything here is built from `org.apache.spark.sql.functions` +
  * higher-order array functions, so it stays inside whole-stage codegen
  * and distributes trivially: no UDFs, no driver-side state. Designed to
  * run over the `documents` table (100 TB target = billions of docs); all
  * ops are per-row scalar transforms => embarrassingly parallel, no
  * shuffle.
  */
object TextFns {

  /** Whitespace tokenization. `split(trim(c), "\\s+")`; an empty/blank
    * string yields a single empty token (documented edge, matches
    * DuckDB's regexp_split_to_array for oracle parity). */
  def tokens(c: Column): Column = split(trim(c), "\\s+")

  /** A BPE-ish subword proxy: tokens split further on letter/digit
    * boundaries and every-4-chars, approximating subword token counts
    * without a vocab file. Count = ceil(chars-without-spaces / 4) +
    * word count penalty — a standard cheap estimator. */
  def approxBpeTokenCount(c: Column): Column = {
    val charsNoSpace = length(regexp_replace(c, "\\s+", ""))
    ceil(charsNoSpace / lit(4.0)).cast("long")
  }

  /** Punctuation ratio: punct chars / total chars (0 for empty). Uses an
    * explicit character class (not POSIX [[:punct:]]) so Spark's Java
    * regex and any ANSI-SQL oracle agree byte-for-byte. */
  def punctRatio(c: Column): Column = {
    val total = length(c)
    val punct = total - length(regexp_replace(c, "[.,!?;:'\"()-]", ""))
    when(total > 0, punct.cast("double") / total).otherwise(lit(0.0))
  }

  /** Ratio of tokens that are in `stopwords`. */
  def stopwordRatio(c: Column, stopwords: Seq[String]): Column =
    stopwordRatioFromTokens(tokens(c), stopwords)

  /** [[stopwordRatio]] over a materialized token-array attribute — in hot
    * paths tokenize ONCE via `withColumn("toks", tokens(...))`; separate
    * expressions referencing `tokens(text)` each re-run the split. */
  def stopwordRatioFromTokens(t: Column, stopwords: Seq[String]): Column = {
    val hits = size(filter(t, x => x.isin(stopwords.map(lit(_)): _*)))
    when(size(t) > 0, hits.cast("double") / size(t)).otherwise(lit(0.0))
  }

  /** Mean token length (0 for empty input). */
  def meanTokenLength(c: Column): Column = meanTokenLengthFromTokens(tokens(c))

  /** [[meanTokenLength]] over a materialized token-array attribute. */
  def meanTokenLengthFromTokens(t: Column): Column = {
    val totalLen = aggregate(t, lit(0L), (acc, x) => acc + length(x))
    when(size(t) > 0, totalLen.cast("double") / size(t)).otherwise(lit(0.0))
  }

  /** Composite quality score in [0,1]: favors mid-length docs with low
    * punctuation noise and a healthy stopword ratio — the standard cheap
    * pre-filter for LLM training corpora. Deterministic, no UDF. */
  def qualityScore(c: Column, stopwords: Seq[String]): Column =
    qualityScoreFromTokens(c, tokens(c), stopwords)

  /** [[qualityScore]] with the token array passed as an attribute (the
    * text column is still needed for length/punctuation features). */
  def qualityScoreFromTokens(c: Column, t: Column,
      stopwords: Seq[String]): Column = {
    val lenScore = least(length(c).cast("double") / lit(500.0), lit(1.0))
    val punctPenalty = lit(1.0) - least(punctRatio(c) * 5, lit(1.0))
    val stopScore =
      least(stopwordRatioFromTokens(t, stopwords) * 4, lit(1.0))
    (lenScore + punctPenalty + stopScore) / 3
  }

  /** Per-language stopword seeds used by [[langScores]] / language ID. */
  val LangStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "dans"),
    "es" -> Seq("el", "la", "los", "y", "es", "un", "una", "que"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和", "不")
  )

  /** Stopword-hit count for one language over the token array. */
  def langScore(c: Column, lang: String): Column =
    langScoreFromTokens(tokens(c), lang)

  /** [[langScore]] over a materialized token-array attribute. */
  def langScoreFromTokens(t: Column, lang: String): Column = {
    val words = LangStopwords.toMap.apply(lang)
    size(filter(t, x => x.isin(words.map(lit(_)): _*)))
  }

  /** Heuristic n-gram/stopword language ID: argmax of [[langScore]] over
    * the seed languages, ties broken by the declaration order above;
    * "und" (undetermined) when no stopword hits at all. */
  def langId(c: Column): Column = langIdFromTokens(tokens(c))

  /** [[langId]] over a materialized token-array attribute — tokenizes
    * once instead of once per candidate language. */
  def langIdFromTokens(t: Column): Column = {
    val scores = LangStopwords.map { case (l, _) =>
      l -> langScoreFromTokens(t, l)
    }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    val pick = scores.reverse.foldLeft(lit("und")) { case (acc, (l, s)) =>
      when(s === best && best > 0, lit(l)).otherwise(acc)
    }
    pick
  }

  /** Stable document fingerprint: md5 of the text (content-addressed id
    * for exact dedup; identical in every SQL engine). */
  def fingerprint(c: Column): Column = md5(c)

  /** Character k-shingles: ["abcde"] with k=3 => ["abc","bcd","cde"].
    * Texts shorter than k yield one (short) shingle so no doc drops out
    * of minhash entirely. */
  def charShingles(c: Column, k: Int): Column =
    transform(
      sequence(lit(1), greatest(length(c) - (k - 1), lit(1))),
      i => substr(c, i, lit(k))
    )

  /** Word n-grams over a token-array column, joined with single spaces.
    * Pass an already-materialized token attribute
    * (`withColumn("toks", tokens(...))`): the column is referenced inside
    * a higher-order-function lambda, which Catalyst evaluates per array
    * element without common-subexpression elimination. */
  def ngramsFromTokens(t: Column, n: Int): Column =
    transform(
      sequence(lit(1), greatest(size(t) - (n - 1), lit(1))),
      i => array_join(slice(t, i, lit(n)), " ")
    )

  /** One md5 digest per shingle (materialize as an attribute, then feed
    * [[minhashFromDigests]] — computes the digest ONCE for any number of
    * hash functions). */
  def shingleDigests(shingles: Column): Column =
    transform(shingles, s => md5(s))

  /** MinHash from pre-computed digests: hash function `i` is the i-th
    * 8-hex-char chunk of the md5 (4 independent 32-bit hashes per
    * digest — the standard one-digest-many-hashes minhash layout).
    * Chunks compare lexicographically ⇒ valid uniform order. */
  def minhashFromDigests(digests: Column, chunk: Int): Column = {
    require(chunk >= 0 && chunk < 4, "md5 has four 8-hex chunks")
    array_min(transform(digests, d => d.substr(lit(chunk * 8 + 1), lit(8))))
  }

  /** SimHash over tokens, `bits` wide (<= 32). Bit b of the hash is the
    * sign of sum over tokens of (+1 / -1) by the parity of hex char b of
    * md5(token). ascii(hexchar) % 2 is a deterministic pseudo-bit that
    * any SQL engine reproduces exactly. */
  def simhash(c: Column, bits: Int = 16): Column = simhashFromTokens(tokens(c), bits)

  /** SimHash from a token-array column (pass a materialized attribute so
    * tokenization runs once, not once per bit). NOTE: still hashes every
    * token once PER BIT (HOF lambdas get no common-subexpression
    * elimination) — in hot paths materialize [[tokenDigests]] first and
    * use [[simhashFromDigests]], which hashes each token exactly once
    * (measured 30×+ on the 32-bit variant). */
  def simhashFromTokens(t: Column, bits: Int): Column =
    simhashFromDigests(tokenDigests(t), bits)

  /** One md5 hex digest per token — materialize this as a column, then
    * derive all simhash bits from it. */
  def tokenDigests(t: Column): Column = transform(t, tok => md5(tok))

  /** SimHash from pre-computed per-token digests: bit b votes by the
    * parity of hex char b of the token's digest (ascii % 2 — identical
    * in any SQL engine). */
  def simhashFromDigests(d: Column, bits: Int): Column = {
    require(bits <= 32, "md5 hex has 32 chars")
    val bitCols = (0 until bits).map { b =>
      val votes = aggregate(
        d,
        lit(0),
        (acc, dg) =>
          acc + when(ascii(substr(dg, lit(b + 1), lit(1))) % 2 === 1, 1)
            .otherwise(-1)
      )
      when(votes > 0, lit(1L << b)).otherwise(lit(0L))
    }
    bitCols.reduce(_ + _)
  }

  /** PII redaction patterns — deliberately restricted to regex syntax
    * that Java regex and RE2-family engines (DuckDB, Go) interpret
    * identically (no backrefs, no lookaround, explicit classes), so the
    * scrub is reproducible across engines. Order matters: emails before
    * phone-digit runs (an email's digits must not be half-eaten first). */
  val PiiPatterns: Seq[(String, String)] = Seq(
    // local@domain.tld
    ("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    // IPv4 dotted quad
    ("([0-9]{1,3}\\.){3}[0-9]{1,3}", "<IP>"),
    // phone-ish: 7+ digits with optional separators, optional +CC
    ("\\+?[0-9][0-9()\\- ]{5,}[0-9]", "<PHONE>")
  )

  /** Scrub PII-shaped spans (emails, IPv4, phone-like digit runs) —
    * the mandatory pass before a crawl goes into a training mix. Pure
    * regexp_replace chain: codegen'd, per-row, shuffle-free. */
  def redactPii(c: Column): Column =
    PiiPatterns.foldLeft(c) { case (acc, (pat, tag)) =>
      regexp_replace(acc, pat, tag)
    }

  /** Non-overlapping match count for one PII pattern on the ORIGINAL
    * text — the audit metric a scrubbing job reports per tag. */
  def piiCount(c: Column, pattern: String): Column =
    regexp_count(c, lit(pattern)).cast("long")

  /** substr with Column args (sugar: functions.substr exists in 3.5+). */
  private def substr(c: Column, pos: Column, len: Column): Column =
    c.substr(pos, len)
}
