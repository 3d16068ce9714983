package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines: token
  * counting, quality scoring, language ID, document fingerprinting. All pure
  * Catalyst expressions (built-ins + higher-order functions) — no UDFs on the
  * hot path, embarrassingly parallel (no shuffle: every op is per-row).
  *
  * HOF cost discipline: lambda bodies are interpreted and Catalyst re-inlines
  * a non-attribute subtree into every use, so (a) anything derived from the
  * token array is computed in ONE `aggregate` fold per row (never one
  * `filter(toks, …)` per output column), and (b) multi-use intermediate
  * arrays are staged as real columns (`withColumn`) — a non-cheap alias used
  * more than once survives CollapseProject, so it is evaluated once per row
  * and downstream slices see a cheap attribute reference.
  */
object TextOps {

  /** Whitespace token count. Counts `\S+` matches rather than splitting —
    * split("") yields [""] and would report 1 token for empty/blank text.
    */
  def tokenCountWs(text: Column): Column =
    size(regexp_extract_all(text, lit("\\S+"), lit(0)))

  /** BPE-ish subword token count: runs of letters, runs of digits, or single
    * non-space symbols — a cheap, deterministic proxy for tokenizer cost.
    */
  def tokenCountBpe(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** Normalized lowercase word tokens. `array_remove` drops the empty
    * split edges and, unlike a `filter` lambda, keeps the projection in
    * whole-stage codegen.
    */
  def wordTokens(text: Column): Column =
    array_remove(split(lower(text), "[^a-z0-9]+"), "")

  /** Quality heuristics: alpha ratio, whitespace ratio, punctuation ratio,
    * stopword ratio, mean word length — the usual cheap pre-filters.
    */
  val stopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "on", "for", "with", "as", "at", "by", "from", "that", "this")

  def qualityScore(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val n = length(t).cast("double")
    // ONE fold over the token array yields every token-derived stat (count,
    // stopword hits, char sum). The per-column formulation re-tokenized the
    // text for each of the 3 token-based outputs (interpreted HOFs, 5× cost).
    val stats = aggregate(
      wordTokens(t),
      struct(lit(0L).as("n"), lit(0L).as("stop"), lit(0L).as("chars")),
      (acc, w) => struct(
        (acc.getField("n") + 1L).as("n"),
        (acc.getField("stop") +
          when(w.isin(stopwords.map(lit): _*), 1L).otherwise(0L)).as("stop"),
        (acc.getField("chars") + length(w).cast("long")).as("chars")))
    val nToks = col("__ts").getField("n").cast("double")
    df.withColumn("__ts", stats) // multi-use non-cheap alias: evaluated once
      .withColumn("n_chars", length(t).cast("long"))
      .withColumn("n_tokens", col("__ts").getField("n"))
      .withColumn("alpha_ratio", round(length(regexp_replace(t, "[^A-Za-z]", "")) / n, 4))
      .withColumn("space_ratio", round(length(regexp_replace(t, "[^ \\t\\n]", "")) / n, 4))
      .withColumn("punct_ratio", round(length(regexp_replace(t, "[^.,;:!?'\"()]", "")) / n, 4))
      .withColumn("stopword_ratio",
        round(when(nToks > 0, col("__ts").getField("stop") / nToks).otherwise(0.0), 4))
      .withColumn("mean_word_len",
        round(when(nToks > 0, col("__ts").getField("chars") / nToks).otherwise(0.0), 4))
      .drop("__ts")
  }

  /** N-gram-heuristic language ID: score = stopword-marker hits per language,
    * argmax with deterministic tiebreak (score desc, then language string
    * desc — struct max order). Markers are tiny constant arrays.
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "that", "with"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit"),
    "fr" -> Seq("le", "la", "les", "et", "est", "pas", "pour"),
    "es" -> Seq("el", "la", "los", "que", "es", "por", "una"),
    "it" -> Seq("il", "la", "che", "di", "non", "per", "una"))

  def langId(text: Column, out: String = "lang_pred"): Column = {
    // ONE fold over the tokens accumulates all 5 language vote counters (the
    // per-language `size(filter(toks, …))` form re-tokenized 5× per row).
    val votes = aggregate(
      wordTokens(text),
      array_repeat(lit(0), langMarkers.size),
      (acc, w) => zip_with(acc,
        array(langMarkers.map { case (_, m) =>
          when(w.isin(m.map(lit): _*), 1).otherwise(0) }: _*),
        (a, b) => a + b))
    // argmax in one expression (votes appears exactly once): max over
    // struct(score, lang), with a (0, "unknown") sentinel that wins iff every
    // score is 0 ("unknown" sorts above all language codes; any positive
    // score beats it on the score field) — same result as the previous
    // greatest(...)/when(...) form, which re-evaluated the fold per use.
    val langs = array(langMarkers.map(p => lit(p._1)): _*)
    array_max(concat(
      zip_with(votes, langs, (s, l) => struct(s.as("score"), l.as("lang"))),
      array(struct(lit(0).as("score"), lit("unknown").as("lang")))))
      .getField("lang")
  }

  /** Rolling document fingerprint in a hash space DuckDB can replicate: a
    * hash of each k-token window, winnowed to the MIN window hash (robust to
    * small edits away from the minimizing window). Token hash = first 16 hex
    * chars of sha256(token); window hash = first 16 hex chars of
    * sha256(concat of the window's k token hashes) — ~2 sha256 per token
    * (the previous k-chained-digest form paid k sha256 per token and
    * measured 13× slower at sf0.1). Min is over hex STRINGS — identical
    * lexicographic order in both engines. A doc with fewer than k tokens
    * has no full window: null. Evaluated by the native codegen kernel
    * [[graft.functions.FingerprintPortable]] (same digests, same min —
    * pinned to the plain-Scala oracle in MinhashParitySpec).
    */
  def fingerprintPortable(text: Column, k: Int = 8): Column =
    graft.functions.FingerprintPortable.column(wordTokens(text), k)

  /** DataFrame-level [[fingerprintPortable]]: one native-kernel call per
    * row, written to column `out`.
    */
  def fingerprintDf(df: DataFrame, textCol: String, out: String = "fingerprint",
                    k: Int = 8): DataFrame =
    df.withColumn(out, fingerprintPortable(col(textCol), k))

  /** Shingle strings: k-token shingles joined with a single space. The
    * space keeps the join injective (tokens contain no whitespace) and
    * PORTABLE: the old separator was a raw \u0001 byte, which an external
    * oracle re-computing shingle hashes cannot see in rendered source.
    */
  def shingles(text: Column, k: Int): Column = {
    // k-1 zip_with passes over shifted slices: the tokenizer subtree is evaluated ~k+2 times per row, where the
    // per-window-slice form — transform(sequence(…), i => array_join(
    // slice(toks, i+1, k))) — re-evaluated it once per WINDOW
    // (interpreted-HOF re-inlining: measured 26× the tokenize cost at
    // sf0.1, the single largest cost in the ngram-Jaccard pipeline).
    // Trailing windows shorter than k keep the truncated join (zip_with
    // null-pads; `when` keeps the accumulated prefix) and an empty token
    // array yields [""] — exactly array_join-over-short-slice semantics,
    // which the DuckDB oracle's array_to_string replays.
    val toks = wordTokens(text)
    val nWin = greatest(size(toks) - (k - 1), lit(1))
    val chained = (1 until k).foldLeft(slice(toks, lit(1), nWin)) { (acc, j) =>
      zip_with(acc, slice(toks, lit(j + 1), nWin),
        (a, b) => when(b.isNull, a).otherwise(concat(a, lit(" "), b)))
    }
    array_distinct(when(size(toks) === 0, array(lit(""))).otherwise(chained))
  }
}
