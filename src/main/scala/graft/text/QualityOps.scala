package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Repetition-based document quality signals for corpus filtering —
  * the MassiveText/Gopher family: highly repetitive documents (boiler-
  * plate, keyword spam, templated pages) are poor training data and
  * are filtered on (a) the fraction of duplicate lines, (b) the
  * fraction of characters in duplicate lines, and (c) the fraction of
  * characters covered by the most frequent word n-gram.
  *
  * Scale shape: every signal is a per-doc pure function with state
  * bounded by document length, computed in one fused
  * [[graft.functions.RepetitionKernel]] call per doc — NO exchange
  * anywhere (the earlier relational form shuffled (doc, unit) rows
  * corpus-wide per signal; a naive per-element `filter()` lambda over
  * the line array would be O(L²) interpreted per doc — the
  * higher-order-function trap BENCH_NOTES documents).
  *
  * Reference scope: no counterpart in the reference (flux-tower ETL);
  * part of the training-data extension surface of the build brief.
  */
object QualityOps {

  /** Fixed-width token "lines": the normalized token stream chunked
    * `width` tokens per line (last line ragged). Corpus text that HAS
    * physical lines should split on newlines instead; this shape
    * exists so line-level repetition signals stay defined for
    * single-line documents. Empty docs yield an empty array. */
  def tokenLines(text: Column, width: Int): Column = {
    require(width > 0, "width must be positive")
    val tk = TextOps.tokens(text)
    when(size(tk) > 0,
      transform(sequence(lit(0), floor((size(tk) - 1) / width).cast("int")),
        i => concat_ws(" ", slice(tk, i * width + 1, lit(width)))))
      .otherwise(array().cast("array<string>"))
  }

  /** Per-document repetition report:
    *
    *   - `n_lines`        — token-line count ([[tokenLines]] width)
    *   - `dup_line_frac`  — 1 − distinct lines / lines (fraction of
    *     line slots occupied by repeats beyond each first occurrence)
    *   - `dup_line_char_frac` — characters in those repeated slots /
    *     characters in all line slots
    *   - `top<n>_char_frac` for each n in `ns` — (occurrences × chars
    *     of the most frequent n-gram) / chars of the whole token
    *     stream. Overlapping occurrences each count, so pathological
    *     repetition can push the ratio past 1 — by design: the signal
    *     is thresholded, not summed.
    *
    * Documents with no tokens report 0 everywhere. All signals come
    * from ONE fused [[graft.functions.RepetitionKernel]] call per doc
    * — state bounded by document length, arithmetic bit-identical to
    * the relational explode + two-level-agg chains this replaced,
    * which paid one corpus-wide (doc, unit) shuffle AND a join-back
    * PER SIGNAL (three shuffles + three joins at the defaults) for
    * per-doc pure functions. */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String,
      lineWidth: Int = 10, ns: Seq[Int] = Seq(2, 3)): DataFrame = {
    val id = col(idCol)
    // null text -> null tokens -> null struct: coalesce each field to
    // the zero the relational left-join chain reported for it.
    df.select(id, TextOps.tokens(col(textCol)).as("__tk"))
      .select(id,
        graft.functions.RepetitionKernel.stats(col("__tk"), lineWidth, ns)
          .as("__r"))
      .select(
        id +:
        coalesce(col("__r.n_lines"), lit(0L)).as("n_lines") +:
        coalesce(col("__r.dup_line_frac"), lit(0.0)).as("dup_line_frac") +:
        coalesce(col("__r.dup_line_char_frac"), lit(0.0))
          .as("dup_line_char_frac") +:
        ns.map(n => coalesce(col(s"__r.top${n}_char_frac"), lit(0.0))
          .as(s"top${n}_char_frac")): _*)
  }

  /** Composite Gopher-style keep/drop decision joined onto `df`: a
    * document is kept when every signal is inside its threshold —
    * token count in [minTokens, maxTokens], mean token length in
    * [minMeanTok, maxMeanTok], stopword ratio ≥ minStopword (a
    * no-function-words page is keyword spam), punctuation ratio ≤
    * maxPunct, and the [[repetitionStats]] repetition signals below
    * their caps. Returns the input plus a boolean `keep` and the
    * individual signal columns (so a pipeline can log WHY a document
    * fell out — reject reasons are the thing you audit at 100 TB,
    * not just the survivor set). Thresholds default to the published
    * MassiveText-ish band, loosened where our heuristic differs. */
  def gopherFilter(df: DataFrame, idCol: String, textCol: String,
      minTokens: Long = 50, maxTokens: Long = 100000,
      minMeanTok: Double = 2.0, maxMeanTok: Double = 12.0,
      minStopword: Double = 0.02, maxPunct: Double = 0.25,
      maxDupLineFrac: Double = 0.30, maxDupLineCharFrac: Double = 0.30,
      maxTop2CharFrac: Double = 0.20): DataFrame = {
    val text = col(textCol)
    val sig = df.select(col(idCol), text.as("__t"))
      .select(col(idCol),
        TextOps.tokenCount(col("__t")).cast("long").as("q_tokens"),
        TextOps.meanTokenLength(col("__t")).as("q_mean_tok"),
        TextOps.stopwordRatio(col("__t")).as("q_stopword"),
        TextOps.punctRatio(col("__t")).as("q_punct"))
    val rep = repetitionStats(df, idCol, textCol, lineWidth = 10,
      ns = Seq(2))
    // per-doc signal attaches: corpus-derived sides, so pin the
    // build (an estimate-driven broadcast of a per-doc frame is the
    // scale failure class the round-13 audit hunted down)
    df.join(sig.hint("shuffle_hash"), Seq(idCol))
      .join(rep.hint("shuffle_hash"), Seq(idCol))
      .withColumn("keep",
        col("q_tokens").between(minTokens, maxTokens) &&
        col("q_mean_tok").between(minMeanTok, maxMeanTok) &&
        col("q_stopword") >= minStopword &&
        col("q_punct") <= maxPunct &&
        col("dup_line_frac") <= maxDupLineFrac &&
        col("dup_line_char_frac") <= maxDupLineCharFrac &&
        col("top2_char_frac") <= maxTop2CharFrac)
  }
}
