package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, quality scoring, language identification, and document
  * fingerprinting (builder-prompt extension surface; the reference itself
  * has no text operators — its columns pass through untouched,
  * reference: conversion/converter.py:212-233).
  *
  * Everything here is pure `Column` algebra over built-in functions —
  * no UDFs — so every operator stays inside whole-stage codegen and is
  * embarrassingly parallel: per-row work, no shuffle, scales linearly with
  * input splits on a 1000-executor cluster.
  *
  * Cross-engine determinism (for the DuckDB oracle): only IEEE-double
  * arithmetic in a fixed operation order, regexes restricted to the RE2
  * subset (no lookahead/backreferences), and hashing via `md5` / integer
  * polynomial rolling hash — all bit-identical across engines.
  */
object TextFunctions {

  // ------------------------------------------------------------ tokenize

  /** Whitespace tokens. Empty / all-whitespace text → empty array
    * (`split` alone would yield `[""]`). */
  def tokens(text: Column): Column =
    when(length(trim(text)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(text), "\\s+"))

  /** DuckDB oracle twin for [[tokens]] over the SQL expression `text`. */
  def sqlTokens(text: String): String =
    s"""CASE WHEN length(trim($text)) = 0 THEN []::VARCHAR[]
            ELSE string_split_regex(trim($text), '\\s+') END"""

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** DuckDB oracle twin for [[tokenCount]]. */
  def sqlTokenCount(text: String): String =
    s"""CASE WHEN length(trim($text)) = 0 THEN 0
            ELSE len(string_split_regex(trim($text), '\\s+')) END"""

  /** BPE-ish pre-tokenizer pattern (GPT-2-style, RE2-safe: the original's
    * trailing-whitespace lookahead is dropped): contractions, optional-space
    * letter runs, digit runs, punctuation runs. */
  val BpePattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s']+"

  /** Count of BPE-ish pre-tokens — the standard proxy for LLM token cost. */
  def bpeTokenCount(text: Column): Column = regexp_count(text, lit(BpePattern))

  /** DuckDB oracle twin for [[bpeTokenCount]] (the SQL literal doubles the
    * pattern's quotes). */
  def sqlBpeTokenCount(text: String): String =
    s"len(regexp_extract_all($text, '${BpePattern.replace("'", "''")}'))"

  /** Sentence count: non-blank segments between terminator runs. */
  def sentenceCount(text: Column): Column =
    size(filter(split(text, "[.!?]+"), s => length(trim(s)) > 0))

  /** DuckDB oracle twin for [[sentenceCount]]. */
  def sqlSentenceCount(text: String): String =
    s"len(list_filter(string_split_regex($text, '[.!?]+'), s -> length(trim(s)) > 0))"

  /** Syllable proxy: vowel-group runs (the standard cheap estimator —
    * whitespace never splits a vowel group, so counting over the whole
    * text equals the per-word sum). */
  def vowelGroupCount(text: Column): Column =
    regexp_count(lower(text), lit("[aeiouy]+"))

  // ------------------------------------------------------ quality scoring

  /** English stopwords used for the stopword-ratio quality signal. */
  val Stopwords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

  private def countIn(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => array_contains(array(words.map(lit): _*), t)))

  /** Number of tokens that are (lowercased) stopwords. */
  def stopwordCount(text: Column): Column =
    countIn(tokens(lower(text)), Stopwords)

  /** DuckDB oracle twin for [[stopwordCount]]. */
  def sqlStopwordCount(text: String): String =
    s"""len(list_filter(
          ${sqlTokens(s"lower($text)")},
          t -> list_contains(${Stopwords.map(w => s"'$w'").mkString("[", ",", "]")}, t)))"""

  /** Punctuation class (explicit, identical across RE2 and Java regex —
    * `\p{Punct}` is deliberately avoided: its membership differs between
    * engines). */
  private val PunctPattern = "[.,!?;:'\"()\\[\\]{}*#@&%/\\\\_-]"

  /** Punctuation character count. */
  def punctCount(text: Column): Column = regexp_count(text, lit(PunctPattern))

  /** DuckDB oracle twin for [[punctCount]]. */
  def sqlPunctCount(text: String): String =
    s"len(regexp_extract_all($text, '${PunctPattern.replace("'", "''")}'))"

  /** Heuristic document-quality score in [0,1] — the standard
    * pretraining-corpus signals (length, stopword density, punctuation
    * density), combined with fixed weights:
    *
    *   0.4·min(1, chars/500) + 0.3·min(1, 4·stopRatio) + 0.3·(1 − min(1, 10·punctRatio))
    *
    * All terms are IEEE doubles computed in a fixed order so the DuckDB
    * oracle reproduces the value bitwise. */
  def qualityScore(text: Column): Column = {
    val chars = length(text).cast("double")
    val toks = tokenCount(text).cast("double")
    val lenScore = least(lit(1.0), chars / lit(500.0))
    val stopRatio = stopwordCount(text).cast("double") / greatest(toks, lit(1.0))
    val punctRatio = punctCount(text).cast("double") / greatest(chars, lit(1.0))
    lit(0.4) * lenScore +
      lit(0.3) * least(lit(1.0), lit(4.0) * stopRatio) +
      lit(0.3) * (lit(1.0) - least(lit(1.0), lit(10.0) * punctRatio))
  }

  // ------------------------------------------------------- language ID

  /** Tiny per-language stopword profiles for the n-gram/stopword language
    * heuristic. Real pipelines plug in fastText-style models; the engine
    * contract is the deterministic scoring plumbing, not the lexicons. */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit"),
    "es" -> Seq("el", "los", "las", "es", "un", "una", "y"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "dans")
  )

  /** Any character in it marks a text as 'zh'. */
  private val CjkPattern = "[\\x{4e00}-\\x{9fff}]"

  /** DuckDB oracle twin for [[langId]]'s profile scores over a token list
    * column `toks`: one `s_<code>` column per profile. */
  def sqlLangScores: String = LangProfiles.map { case (code, words) =>
    val list = words.map(w => s"'$w'").mkString("[", ", ", "]")
    s"len(list_filter(toks, t -> list_contains($list, t))) AS s_$code"
  }.mkString(",\n")

  /** DuckDB oracle twin for [[langId]]'s decision, over `text` and the
    * [[sqlLangScores]] columns. */
  def sqlLangPred(text: String): String = {
    val codes = LangProfiles.map(_._1)
    val wins = codes.indices.map { i =>
      (s"s_${codes(i)} > 0" +: codes.drop(i + 1).map(l => s"s_${codes(i)} >= s_$l"))
        .mkString("WHEN ", " AND ", s" THEN '${codes(i)}'")
    }
    (s"CASE WHEN len(regexp_extract_all($text, '$CjkPattern')) > 0 THEN 'zh'" +:
      wins :+ "ELSE 'und' END").mkString("\n")
  }

  /** Predicted language code: 'zh' on any CJK character, else the
    * highest-scoring stopword profile (ties broken by profile order,
    * en > de > es > fr), else 'und' when nothing matches. */
  def langId(text: Column): Column = {
    val toks = tokens(lower(text))
    pickLang(text, LangProfiles.map { case (code, words) => code -> countIn(toks, words) })
  }

  /** The [[langId]] rule over per-profile `scores`: 'zh' on any CJK
    * character in `text`, else the argmax profile, else 'und'. */
  private def pickLang(text: Column, scores: Seq[(String, Column)]): Column = {
    val hasCjk = regexp_count(text, lit(CjkPattern)) > 0
    val best = scores.foldRight(lit("und")) { case ((code, score), elseCol) =>
      // this profile wins iff score > 0 and >= every later profile's score
      val laterScores = scores.dropWhile(_._1 != code).drop(1).map(_._2)
      val isMax = laterScores.foldLeft(score > 0)((acc, s) => acc && score >= s)
      when(isMax, lit(code)).otherwise(elseCol)
    }
    // earlier profiles take precedence only when their score is the running max;
    // fold above checks "≥ all later", which with left-to-right precedence is argmax.
    when(hasCjk, lit("zh")).otherwise(best)
  }

  /** [[langId]] with each profile score evaluated ONCE per row: appends
    * `out` to `df`, bitwise-identical values to `langId(text)`.
    *
    * Inline, the argmax when-chain references every profile score up to
    * k times, and a Column reference is a full COPY of the expression
    * tree — so the per-row cost is O(k²) evaluations of the non-codegen
    * higher-order `filter` (plus as many re-splits of the text). Binding
    * the token array and the k scores to their own columns in separate
    * projections makes each evaluate once; CollapseProject keeps the
    * stages apart exactly because the producers are non-cheap and
    * multiply referenced. (opt r13, guide §4 — measured 2.59 s → see
    * OPTIMIZATION_r13.md.) */
  def withLangId(df: org.apache.spark.sql.DataFrame, text: Column,
                 out: String): org.apache.spark.sql.DataFrame = {
    val toksC = "__lid_toks"
    val scoreC = LangProfiles.map { case (code, _) => s"__lid_$code" }
    val staged = df.withColumn(toksC, tokens(lower(text)))
      .withColumns(LangProfiles.map { case (code, words) =>
        s"__lid_$code" -> countIn(col(toksC), words)
      }.toMap)
    val scores = LangProfiles.map { case (code, _) =>
      code -> col(s"__lid_$code")
    }
    staged.withColumn(out, pickLang(text, scores))
      .drop(toksC +: scoreC: _*)
  }

  // --------------------------------------------------------- chunking

  /** Fixed-size token chunks with stride (overlap = chunkSize − stride) —
    * the standard long-document splitter ahead of tokenization. Chunk i
    * covers tokens [i·stride, i·stride + chunkSize); the last chunk may be
    * short; empty docs yield no chunks. Pure array algebra: the explode
    * happens downstream, so Catalyst sees one row per document here. */
  def chunkTokens(text: Column, chunkSize: Int, stride: Int): Column = {
    require(chunkSize > 0 && stride > 0 && stride <= chunkSize,
      s"need 0 < stride <= chunkSize, got chunkSize=$chunkSize stride=$stride")
    // bind the token array as a lambda variable (array(…) + transform):
    // inlining `tokens(text)` into the per-chunk lambda would re-run the
    // regex split once per CHUNK — O(tokens·chunks) per row
    flatten(transform(array(tokens(text)), ts => {
      val n = size(ts)
      // chunks: ceil(max(n - (chunkSize - stride), 0) / stride), min 1 for
      // non-empty; sequence(0, -1) would count DOWN — guard empty explicitly
      val nChunks =
        greatest(ceil((n - (chunkSize - stride)).cast("double") / stride).cast("int"), lit(1))
      when(n === 0, array().cast("array<string>")).otherwise(
        transform(sequence(lit(0), nChunks - 1),
          i => array_join(slice(ts, i * stride + 1, lit(chunkSize)), " ")))
    }))
  }

  /** Sliding token n-grams (stride 1), joined with single spaces — the
    * unit of benchmark-decontamination checks and shingle-based overlap
    * measures. A doc with fewer than `n` tokens yields no n-grams. Pure
    * array algebra (one row per doc until the caller explodes). */
  def tokenNgrams(text: Column, n: Int): Column = {
    require(n > 0, s"n must be positive, got $n")
    // token array bound as a lambda variable — see chunkTokens
    flatten(transform(array(tokens(text)), ts => {
      val cnt = size(ts) - (n - 1)
      when(cnt <= 0, array().cast("array<string>")).otherwise(
        transform(sequence(lit(0), cnt - 1),
          i => array_join(slice(ts, i + 1, lit(n)), " ")))
    }))
  }

  /** Deterministic train/val/test split bucket in [0, 100): md5-derived so
    * the assignment is content-stable across runs, partitionings, and
    * engines (reshuffling data never moves an example across splits). */
  def splitBucket(id: Column): Column =
    pmod(conv(substring(md5(id.cast("string")), 1, 4), 16, 10).cast("long"), lit(100L))

  /** PII masking patterns (RE2-safe: no lookarounds, shared verbatim with
    * the DuckDB oracle). Deliberately conservative — a production pipeline
    * tunes these per corpus. */
  val EmailPattern: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern: String = "\\+?[0-9]{1,3}[-. ]?\\(?[0-9]{3}\\)?[-. ]?[0-9]{3}[-. ]?[0-9]{4}"
  val UrlPattern: String = "https?://[^\\s]+"

  /** Mask emails, URLs, then phone-shaped numbers with typed placeholder
    * tokens — the standard pretraining-corpus PII scrub. Order matters
    * (URLs can contain phone-shaped digit runs), and the fixed order is
    * part of the cross-engine contract. */
  def redactPii(text: Column): Column = {
    val noEmail = regexp_replace(text, EmailPattern, "<EMAIL>")
    val noUrl = regexp_replace(noEmail, UrlPattern, "<URL>")
    regexp_replace(noUrl, PhonePattern, "<PHONE>")
  }

  /** Count of PII matches by kind, for corpus auditing. */
  def piiCounts(text: Column): Column = struct(
    regexp_count(text, lit(EmailPattern)).cast("long").as("n_email"),
    regexp_count(text, lit(UrlPattern)).cast("long").as("n_url"),
    regexp_count(text, lit(PhonePattern)).cast("long").as("n_phone"))

  // ----------------------------------------------------- fingerprinting

  /** Canonical normalization for fingerprinting: lowercase, collapse
    * whitespace runs to single spaces, trim. */
  def normalized(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** DuckDB oracle twin for [[normalized]] (the 'g' flag is Spark's
    * replace-all). */
  def sqlNormalized(text: String): String =
    s"trim(regexp_replace(lower($text), '\\s+', ' ', 'g'))"

  /** Full-document fingerprint: md5 hex of the normalized text (md5 is
    * available and bit-identical in Spark and DuckDB, which makes the
    * fingerprint oracle-verifiable end to end). */
  def fingerprintMd5(text: Column): Column = md5(normalized(text))

  /** Polynomial rolling hash of the normalized text:
    * `h = Σ h·31 + codepoint  (mod 1e9+7)`, left to right — the classic
    * Rabin–Karp/winnowing building block, here over the whole document.
    * Integer-only arithmetic ⇒ bit-identical across engines. */
  def fingerprintRolling(text: Column): Column = {
    // split(s, "") keeps a trailing "" (Java Pattern.split, limit -1) that
    // DuckDB's string_split drops — filter empties so both engines hash the
    // same character sequence.
    val chars = filter(split(normalized(text), ""), ch => ch =!= lit(""))
    val codes = transform(chars, ch => ascii(ch).cast("long"))
    when(length(normalized(text)) === 0, lit(0L)).otherwise(
      aggregate(codes, lit(0L), (acc, x) => pmod(acc * 31 + x, lit(1000000007L))))
  }
}
