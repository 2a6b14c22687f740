package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale corpus pipelines:
  * tokenization, quality scoring, language ID, fingerprinting, and the
  * shingle/MinHash/SimHash substrate used by the dedup operators.
  *
  * Everything is built from Spark higher-order-function expressions
  * (`transform`/`filter`/`aggregate`) and built-in string functions —
  * no UDFs — so the operators distribute trivially and stay inside
  * Catalyst. Hash primitives use md5 (bit-identical in any engine)
  * rather than JVM-specific hashes, so results are portable and
  * oracle-checkable.
  */
object TextOps {

  /** Normalize: lowercase, non-alphanumerics to spaces. */
  def normalize(text: Column): Column =
    regexp_replace(lower(text), "[^a-z0-9 ]", " ")

  /** Whitespace tokens of the normalized text (empties removed) —
    * the fused [[graft.functions.Tokenize]] kernel: one lowercase +
    * one byte scan, bit-identical to the relational chain
    * `array_remove(split(normalize(text), " +"), "")` it replaced
    * (kernel-vs-relational parity property-spec-pinned; every
    * tok-CTE oracle pins it end-to-end). The regex chain was the
    * text family's single largest constant (f100: ≈23 s per
    * tokenizing pass at 27M tokens, VERDICT r16 ask #2). */
  def tokens(text: Column): Column =
    graft.functions.Tokenize.tokens(text)

  /** The relational tokenizer the kernel replaced — kept as the
    * parity oracle for [[tokens]] (and for plan-shape A/Bs). */
  def tokensRelational(text: Column): Column =
    array_remove(split(normalize(text), " +"), "")

  /** Token count over the same byte scan, no array allocation. */
  def tokenCount(text: Column): Column =
    graft.functions.Tokenize.tokenCount(text)

  /** GPT-2-style pre-tokenizer pattern (contraction suffixes, space-
    * prefixed letter/digit runs, punctuation runs, whitespace).
    * ASCII classes only, no lookarounds — the pattern means the same
    * thing to Java regex and RE2/DuckDB, so counts are oracle-exact. */
  val bpeishPattern: String =
    "'(?:ll|ve|re|[sdmt])| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\\s']+|\\s+"

  /** BPE-ish token count: raw-text matches of [[bpeishPattern]] minus
    * pure-whitespace runs — the standard LLM-corpus "token estimate"
    * (a real BPE merges within these pre-tokens, so this upper-bounds
    * vocabulary-dependent counts deterministically). */
  def bpeishTokenCount(text: Column): Column =
    size(filter(regexp_extract_all(text, lit(bpeishPattern), lit(0)),
      t => !t.rlike("^\\s+$")))

  /** Punctuation ratio: fraction of chars that are not [a-z0-9\s]
    * after lowercasing. */
  def punctRatio(text: Column): Column =
    when(length(text) > 0,
      length(regexp_replace(lower(text), "[a-z0-9 ]", "")).cast("double")
        / length(text))
      .otherwise(lit(0.0))

  /** Default English stopword set (public, minimal). */
  val EnglishStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "this", "for", "on", "with", "as", "at", "by", "be", "are")

  /** Fraction of tokens that appear in `stopwords`. */
  def stopwordRatio(text: Column,
      stopwords: Seq[String] = EnglishStopwords): Column = {
    val sw = array(stopwords.map(lit): _*)
    val tk = tokens(text)
    when(size(tk) > 0,
      size(filter(tk, t => array_contains(sw, t))).cast("double") / size(tk))
      .otherwise(lit(0.0))
  }

  /** Mean token length (0 for empty docs). */
  def meanTokenLength(text: Column): Column = {
    val tk = tokens(text)
    when(size(tk) > 0,
      aggregate(tk, lit(0L), (acc, t) => acc + length(t)).cast("double")
        / size(tk))
      .otherwise(lit(0.0))
  }

  /** Heuristic language ID: score = stopword hits per language, argmax
    * (ties broken by language code order). Stopword lists are tiny
    * public function-word sets — the standard n-gram-free heuristic.
    */
  val LangStopwords: Map[String, Seq[String]] = Map(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit"),
    "en" -> Seq("the", "and", "is", "of", "to", "a", "in", "that"),
    "es" -> Seq("el", "la", "de", "que", "y", "los", "una", "por"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "pour", "dans"))

  def langScores(text: Column): Seq[(String, Column)] = {
    val tk = tokens(text)
    LangStopwords.toSeq.sortBy(_._1).map { case (code, words) =>
      val sw = array(words.map(lit): _*)
      code -> size(filter(tk, t => array_contains(sw, t)))
    }
  }

  /** Predicted language code: argmax of langScores, tie -> first code
    * alphabetically ('en' when all scores are zero is NOT special-cased;
    * zero-everything yields the alphabetically-first code). */
  def langId(text: Column): Column = {
    val scores = langScores(text)
    // greatest-by via reduce over (score, code) structs: keep strictly
    // greater so ties resolve to the earlier (alphabetical) code.
    scores.tail.foldLeft(
      struct(scores.head._2.as("s"), lit(scores.head._1).as("c"))) {
        case (best, (code, sc)) =>
          when(sc > best.getField("s"),
            struct(sc.as("s"), lit(code).as("c"))).otherwise(best)
      }.getField("c")
  }

  /** Document fingerprint: md5 of normalized token stream — whitespace-
    * insensitive exact-dup detector (the distributed analogue of a
    * rolling-hash document fingerprint; md5 keeps it engine-portable). */
  def fingerprint(text: Column): Column =
    md5(concat_ws(" ", tokens(text)))

  /** Corpus vocabulary statistics: per-token document frequency and
    * IDF (`ln(N / n_docs)`) over the tokenized corpus — the substrate
    * for stop-list induction, rare-token quality filters, and TF-IDF
    * scoring at corpus scale. One explode + one token-keyed shuffle
    * with map-side combine (per-doc tokens are pre-deduped, so each
    * (doc, token) contributes exactly one count); the corpus size is
    * a single scalar action. `idCol` rows must be unique. */
  def docFrequency(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    // plain count, not distinct().count(): idCol is unique by contract,
    // and a dedup exchange over every id would be pure overhead at
    // corpus scale (a violated contract corrupts n_docs regardless)
    val n = df.count()
    df.select(col(idCol),
        explode(array_distinct(tokens(col(textCol)))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n_docs"))
      .withColumn("idf", log(lit(n.toDouble) / col("n_docs")))
  }

  /** k-token shingles of the normalized text, joined by single spaces.
    * Docs with fewer than k tokens yield a single shingle of all
    * tokens, so short docs still participate in dedup. */
  def shingles(text: Column, k: Int): Column = {
    val tk = tokens(text)
    when(size(tk) >= k,
      transform(sequence(lit(1), size(tk) - (k - 1)),
        i => concat_ws(" ", slice(tk, i, lit(k)))))
      .otherwise(array(concat_ws(" ", tk)))
  }

  /** Portable 32-bit hash of a string under seed i: first 8 hex chars
    * of md5("<i>:<s>") as an unsigned int in a long. Identical in any
    * engine with md5 — the parity-safe replacement for xxhash. */
  def seededHash32(s: Column, seed: Int): Column =
    conv(substring(md5(concat(lit(seed.toString), lit(":"), s)), 1, 8),
      16, 10).cast("long")

  /** Packed variant: one md5 yields 32 hex chars = FOUR independent
    * 32-bit hashes, so seed `i` reads 8 hex chars at offset
    * `8·(i mod 4)` of md5((i div 4) + ":" + s) — 4x fewer md5
    * evaluations for an n-seed MinHash signature, still md5-derived
    * and engine-portable (DuckDB: substr(md5(...), 1 + 8*(i%4), 8)). */
  def seededHash32Packed(s: Column, seed: Int): Column =
    conv(substring(md5(concat(lit((seed / 4).toString), lit(":"), s)),
      1 + 8 * (seed % 4), 8), 16, 10).cast("long")

  /** 16-bit SimHash over the token multiset: per token a 16-bit md5
    * hash; each bit position accumulates +1/-1; sign -> bit. Small
    * enough to oracle-check, same structure as the 64-bit variant. */
  def simhash16(text: Column): Column = {
    val tk = tokens(text)
    val hashes = transform(tk,
      t => conv(substring(md5(t), 1, 4), 16, 10).cast("long"))
    (0 until 16).map { b =>
      val votes = aggregate(hashes, lit(0L),
        (acc, h) => acc + when(shiftright(h, b).bitwiseAND(1) === 1, 1L)
          .otherwise(-1L))
      when(votes >= 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Hamming distance between two simhash values (population count of
    * xor); bitCount is a built-in. */
  def hammingDistance(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))
}
