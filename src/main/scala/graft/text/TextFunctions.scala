package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis primitives for large-scale training-data pipelines
  * (BASELINE.json north star — beyond the reference's surface). Everything
  * here is a pure Column expression: whole-stage-codegen'd, no UDFs, and
  * (deliberately) free of transcendental functions so the DuckDB oracle can
  * reproduce results bit-for-bit with +,-,*,/ in the same evaluation order.
  */
object TextFunctions {

  /** Evaluate `c` ONCE per row and hand it to `f` as a bound variable: a
    * single-element `transform` binds the computed value to a lambda
    * variable, so `f`'s body can reference it many times — or per element
    * of a nested higher-order function — without re-evaluating the
    * subtree. A lambda body that references a COMPUTED subtree (not a
    * plain attribute) re-evaluates it per element: trigrams over
    * `lower(text)` were O(len²) character work per row before binding
    * (round-10 measurement: q_langid 5.5 s → scan-bound after). Free at
    * plan level — higher-order functions are interpreted either way, and
    * the wrapper adds one 1-element array per row. */
  def bindOnce(c: Column, f: Column => Column): Column =
    element_at(transform(array(c), x => f(x)), 1)

  /** Whitespace tokens of the raw text (empty string → one empty token,
    * matching `str.split` / `regexp_split_to_array` behavior). */
  def tokens(c: Column): Column = split(trim(c), "\\s+")

  def tokenCount(c: Column): Column = size(tokens(c)).cast("long")

  /** Lowercased tokens, the unit for language/stopword statistics. */
  def tokensLower(c: Column): Column = split(trim(lower(c)), "\\s+")

  /** Canonical text normalization before dedup/fingerprinting: strip
    * accents (NFD → drop combining marks → NFC, via the codegen'd
    * [[graft.functions.StripAccents]] expression), collapse whitespace
    * runs to single spaces, trim, and optionally lowercase. Two crawls of
    * the same page routinely differ only in composed-vs-decomposed
    * accents or whitespace — without this pass exact dedup misses them.
    * Pure narrow expressions: runs at scan speed, nothing shuffles. */
  def normalizeText(c: Column, lowercase: Boolean = true): Column = {
    val stripped = graft.functions.GraftFunctions.strip_accents(c)
    // collapse BEFORE trim: trim only strips spaces, so a trailing tab or
    // newline must first become a space for trim to catch it
    val collapsed = trim(regexp_replace(stripped, "\\s+", " "))
    if (lowercase) lower(collapsed) else collapsed
  }

  /** GPT-2-style pre-tokenizer pattern (public knowledge — the regex
    * family used by byte-pair-encoding tokenizers to pre-split text into
    * merge candidates: contraction suffixes, space-prefixed letter runs,
    * digit runs, punctuation runs, whitespace). Deliberately free of
    * lookahead so RE2-based engines (the DuckDB oracle) and Java produce
    * identical splits — cross-checked token-for-token in q_pretokenize. */
  val BpePattern: String =
    "'(?:[sdmt]|ll|ve|re)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"

  /** The pre-token array itself (empty text → empty array). */
  def bpeTokens(c: Column): Column =
    regexp_extract_all(c, lit(BpePattern), lit(0))

  /** Pre-token count — the standard proxy for "how many BPE tokens will
    * this document cost" before a real tokenizer runs (each pre-token
    * splits into ≥1 BPE tokens, and for common words exactly 1). Pure
    * narrow expression: runs at scan speed. */
  def bpeTokenCount(c: Column): Column = size(bpeTokens(c)).cast("long")

  private val PunctClass = """[.,;:!?'"()\[\]{}\-]"""

  /** Fraction of characters that are punctuation; 0 for empty text. */
  def punctRatio(c: Column): Column = {
    val len = length(c)
    when(len === 0, 0.0).otherwise(
      (len - length(regexp_replace(c, PunctClass, ""))).cast("double") /
        len.cast("double"))
  }

  /** Small fixed English stopword list (kept tiny so the oracle SQL can
    * repeat it literally). */
  val Stopwords: Seq[String] =
    Seq("the", "a", "an", "and", "of", "to", "is", "in", "that", "it")

  def stopwordRatio(c: Column): Column = stopwordRatioT(tokensLower(c))

  /** Same, over a pre-split token column (single-pass pipelines). */
  def stopwordRatioT(ts: Column): Column = {
    val hits = size(filter(ts, t => t.isin(Stopwords.map(x => x: Any): _*)))
    when(size(ts) === 0, 0.0)
      .otherwise(hits.cast("double") / size(ts).cast("double"))
  }

  /** Composite quality score in [0,1] of text `c` with tokens `ts`:
    * 0.4·min(len/2000, 1)  — enough content
    * + 0.3·(1 − punctRatio) — not punctuation soup
    * + 0.3·(1 − |stopwordRatio − 0.35|) — natural-language-like function-word
    * density. Rational arithmetic only (see object doc).
    */
  def qualityScoreT(c: Column, ts: Column): Column =
    least(length(c).cast("double") / lit(2000.0), lit(1.0)) * lit(0.4) +
      (lit(1.0) - punctRatio(c)) * lit(0.3) +
      (lit(1.0) - abs(stopwordRatioT(ts) - lit(0.35))) * lit(0.3)

  /** Per-language marker words for the n-gram/stopword language heuristic. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "with", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu"),
    "fr" -> Seq("le", "les", "et", "est", "une", "que", "pour", "dans", "il"),
    "es" -> Seq("el", "los", "las", "es", "y", "por", "para", "con", "se"))

  /** Heuristic language id: argmax of marker-hit counts, ties broken in
    * [[LangMarkers]] order; no hits → "und" (undetermined). */
  def languageId(c: Column): Column = languageIdT(tokensLower(c))

  def languageIdT(ts: Column): Column = {
    val scores = LangMarkers.map { case (l, ms) =>
      l -> size(filter(ts, t => t.isin(ms.map(x => x: Any): _*)))
    }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und"): Column) { case ((l, s), acc) =>
      when(s === best && s > 0, lit(l)).otherwise(acc)
    }
  }

  /** Normalized text: lowercase, whitespace-collapsed. */
  def normalized(c: Column): Column = array_join(tokensLower(c), " ")

  /** 64-bit content fingerprint of the normalized text (xxhash64 — the
    * codegen'd Spark-native rolling hash). Equal fingerprints ⇔ equal
    * normalized content (mod collisions). */
  def fingerprint(c: Column): Column = xxhash64(normalized(c))

  /** 128-bit hex content fingerprint of the normalized text. Same dedup
    * semantics as [[fingerprint]]; md5 is engine-portable (any SQL engine
    * reproduces it — xxhash64 is Spark-specific), which is what you want
    * when fingerprints cross system boundaries. */
  def fingerprintMd5(c: Column): Column = md5(normalized(c).cast("binary"))

  /** `k`-word shingles over a pre-split token array. The token array MUST
    * be a materialized column (or cheap attribute), not a raw `split(...)`
    * expression: a lambda body referencing a computed subtree re-evaluates
    * it per ELEMENT (O(tokens²) string work per row). */
  def wordShinglesT(ws: Column, k: Int): Column =
    when(size(ws) < k, array().cast("array<string>")).otherwise(
      transform(sequence(lit(1), size(ws) - lit(k - 1)),
        i => array_join(slice(ws, i, lit(k)), " ")))

  /** `k`-word shingles of the text: ["a b c", "b c d", ...]; fewer than `k`
    * words → empty array. Convenience form — in hot paths materialize the
    * token array first and use [[wordShinglesT]] (see its doc). */
  def wordShingles(c: Column, k: Int): Column = wordShinglesT(tokensLower(c), k)

  /** Gopher-style repetition signals (Rae et al. 2021 §A1.1: repetitious
    * documents are low-quality / memorization fuel), as pure per-row
    * expressions over a pre-split token array — no shuffle. */

  /** Type-token ratio: distinct tokens / tokens (1.0 = no repetition);
    * 0 for empty. */
  def typeTokenRatioT(ts: Column): Column =
    when(size(ts) === 0, 0.0).otherwise(
      size(array_distinct(ts)).cast("double") / size(ts).cast("double"))

  /** Fraction of tokens taken by the single most frequent token; 0 for
    * empty. Per-row O(distinct × tokens) — fine for documents; at extreme
    * doc lengths switch to the explode + groupBy formulation. */
  def topTokenFracT(ts: Column): Column =
    when(size(ts) === 0, 0.0).otherwise(
      array_max(transform(array_distinct(ts),
        t => size(filter(ts, x => x === t))))
        .cast("double") / size(ts).cast("double"))

  /** Sentences: split on '.' + whitespace, empties dropped on BOTH engine
    * sides — empty-fragment handling at text boundaries is where split
    * semantics diverge across engines, so neither side may keep them. */
  def sentences(c: Column): Column =
    filter(split(c, "\\.\\s+"), s => length(trim(s)) > 0)

  /** Fraction of a document's sentences that duplicate an earlier one —
    * the duplicate-line fraction from the Gopher rules, over sentences. */
  def dupSentenceFrac(c: Column): Column = {
    val s = sentences(c)
    when(size(s) === 0, 0.0).otherwise(
      (size(s) - size(array_distinct(s))).cast("double") /
        size(s).cast("double"))
  }

  /** Flesch readability statistics per row: word count (maximal ASCII
    * letter runs of the lowercased text), sentence count (runs of
    * `.!?`, floored at 1), syllable count (the classic vowel-group
    * heuristic: maximal `[aeiouy]+` runs — each run is one spoken
    * nucleus), and from them
    *
    *   flesch   = 206.835 − 1.015·(words/sentences) − 84.6·(syll/words)
    *   fk_grade = 0.39·(words/sentences) + 11.8·(syll/words) − 15.59
    *
    * (Flesch 1948 / Kincaid et al. 1975 — the quality-scoring signal a
    * curation pipeline bins on next to the Gopher gates). Returns a
    * struct (n_words, n_sentences, n_syllables, flesch, fk_grade);
    * metrics are null when there are no words. Pure per-row regex
    * counting — scan speed, shuffle-free, trivially replayable (the
    * three patterns avoid every RE2-vs-Java divergence: no lookaround,
    * no word boundaries, character classes only); the two divisions and
    * four multiplies are single IEEE ops, rounded 6 dp. */
  def readability(c: Column): Column = {
    val lc = lower(c)
    val words = regexp_count(lc, lit("[a-z]+")).cast("long")
    val sents = greatest(lit(1L),
      regexp_count(lc, lit("[.!?]+")).cast("long"))
    val syll = regexp_count(lc, lit("[aeiouy]+")).cast("long")
    val wps = words.cast("double") / sents.cast("double")
    val spw = syll.cast("double") / words.cast("double")
    struct(
      words.as("n_words"), sents.as("n_sentences"),
      syll.as("n_syllables"),
      when(words > 0, round(
        lit(206.835) - lit(1.015) * wps - lit(84.6) * spw, 6)).as("flesch"),
      when(words > 0, round(
        lit(0.39) * wps + lit(11.8) * spw - lit(15.59), 6)).as("fk_grade"))
  }

  /** Gopher-style document quality gate (Rae et al. 2021 §A1.1, public):
    * word-count bounds, mean-word-length bounds, minimum alphabetic-word
    * fraction, and minimum stopword evidence, each as a pure per-row
    * expression over ONE materialized token array (a single projection, no
    * shuffle — the filter runs at scan speed and pushes nothing to a
    * second pass). Appends the four statistics plus the combined
    * `gopher_keep` flag; thresholds default to the published rules.
    * Rational arithmetic only (integer sums ÷ counts), so any SQL engine
    * replays the exact doubles and the exact keep decisions. */
  def gopherStats(
      df: org.apache.spark.sql.DataFrame, textCol: String,
      minWords: Int = 50, maxWords: Int = 100000,
      minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
      minAlphaFrac: Double = 0.8, minStopHits: Int = 2)
      : org.apache.spark.sql.DataFrame = {
    require(!df.columns.contains("__g_toks"),
      "__g_toks is reserved by gopherStats")
    val ts = col("__g_toks")
    val n = size(ts)
    val meanLen = aggregate(ts, lit(0L), (a, t) => a + length(t))
      .cast("double") / n.cast("double")
    val alphaFrac =
      size(filter(ts, t => t.rlike("[a-z]"))).cast("double") /
        n.cast("double")
    val stopHits =
      size(filter(ts, t => t.isin(Stopwords.map(x => x: Any): _*)))
    df.withColumn("__g_toks", tokensLower(col(textCol)))
      .withColumns(Map(
        "n_words" -> n.cast("long"),
        "mean_word_len" -> meanLen,
        "alpha_frac" -> alphaFrac,
        "stop_hits" -> stopHits.cast("long"),
        "gopher_keep" ->
          (n.between(minWords, maxWords) &&
            meanLen.between(minMeanLen, maxMeanLen) &&
            alphaFrac >= minAlphaFrac && stopHits >= minStopHits)))
      .drop("__g_toks")
  }

  /** Jaccard similarity of two PRE-COMPUTED distinct shingle arrays — the
    * per-pair cost is one intersect, with the shingling paid once per DOC
    * upstream, not once per pair. */
  def shingleJaccard(da: Column, db: Column): Column = {
    val inter = size(array_intersect(da, db))
    val union = size(da) + size(db) - inter
    when(union === 0, 0.0)
      .otherwise(inter.cast("double") / union.cast("double"))
  }

  /** Exact n-gram Jaccard similarity of two texts' shingle sets.
    * Convenience form for one-off pairs; joins/self-joins should shingle
    * each side once and use [[shingleJaccard]]. */
  def ngramJaccard(a: Column, b: Column, k: Int): Column =
    shingleJaccard(array_distinct(wordShingles(a, k)),
      array_distinct(wordShingles(b, k)))

  /** Unicode-script character counts + dominant-script label — the
    * writing-system side of language id (languageId is Latin-marker-based;
    * a CJK/Cyrillic/Arabic page needs the script signal first). Counts
    * are codepoints removed by a BMP character-class replace — pure
    * per-row expressions, replayable by any regex engine — and the
    * dominant label ties in fixed precedence (latin > cjk > cyrillic >
    * arabic), `"none"` when no scripted characters at all. No shuffle:
    * quality gates like this belong in the ingest scan. */
  def scriptStats(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    def cnt(cls: String) =
      length(col(textCol)) - length(regexp_replace(col(textCol), cls, ""))
    val out = df.select(col(idCol),
      cnt("[A-Za-z]").cast("long").as("n_latin"),
      cnt("[\\u4E00-\\u9FFF]").cast("long").as("n_cjk"),
      cnt("[\\u0400-\\u04FF]").cast("long").as("n_cyrillic"),
      cnt("[\\u0600-\\u06FF]").cast("long").as("n_arabic"))
    val m = greatest(col("n_latin"), col("n_cjk"), col("n_cyrillic"),
      col("n_arabic"))
    out.withColumn("script",
      when(m === 0, "none")
        .when(col("n_latin") === m, "latin")
        .when(col("n_cjk") === m, "cjk")
        .when(col("n_cyrillic") === m, "cyrillic")
        .otherwise("arabic"))
  }
}

import org.apache.spark.sql.DataFrame
import graft.operators.GraftTransformer

/** Pipeline stage bundling the text statistics over one column. The token
  * array is materialized ONCE in a first projection and every statistic
  * reads it — without this, each statistic re-splits the text (the
  * higher-order-function subtrees don't share work across lambdas). */
class TextAnalyzer(input: String, prefix: String)
    extends GraftTransformer {
  override def transformDF(df: DataFrame): DataFrame = {
    val c = col(input)
    val toks = s"__${prefix}_toks"
    df.withColumn(toks, TextFunctions.tokensLower(c))
      .withColumns(Map(
        // lowering doesn't change whitespace, so the materialized token
        // array's size IS the raw token count — no second split
        s"${prefix}_n_tokens" -> size(col(toks)).cast("long"),
        s"${prefix}_punct_ratio" -> TextFunctions.punctRatio(c),
        s"${prefix}_stopword_ratio" -> TextFunctions.stopwordRatioT(col(toks)),
        s"${prefix}_quality" -> TextFunctions.qualityScoreT(c, col(toks)),
        s"${prefix}_lang" -> TextFunctions.languageIdT(col(toks)),
        s"${prefix}_fingerprint" -> xxhash64(array_join(col(toks), " "))))
      .drop(toks)
  }

}
