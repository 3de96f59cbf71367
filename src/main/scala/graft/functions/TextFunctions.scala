package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for training-data pipelines, all composed from
  * codegen'd builtins (split/regexp/transform/aggregate) — no UDFs in the
  * hot path, so they stay inside WholeStageCodegen and scale linearly with
  * input bytes across executors.
  */
object TextFunctions {

  /** Lower-cased word tokens (unicode letter/digit runs). Native kernel
    * (graft.functions.expr.WordTokens) — the regex-split builtin version
    * measured ~0.5 ms/doc and fed every text operator.
    * (Token class nuance: the kernel uses Character.isLetterOrDigit, i.e.
    * \p{L} + \p{Nd}; the regex version also kept \p{Nl}\p{No} — identical
    * on ASCII/Latin corpora.)
    */
  def tokens(text: Column): Column =
    graft.functions.expr.GraftFunctions.wordTokens(text)

  /** Whitespace token count — the cheap "how many words" measure. */
  def wordCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count: counts letter-runs, digit-runs, and isolated
    * punctuation separately (a common pre-tokenizer approximation of GPT-2
    * style BPE vocab splits), as a proxy for LLM token cost.
    */
  def bpeishTokenCount(text: Column): Column =
    size(filter(
      split(text, "(?<=[\\p{L}])(?=[^\\p{L}])|(?<=[\\p{N}])(?=[^\\p{N}])|(?<=[^\\p{L}\\p{N}])(?=.)|\\s+"),
      t => length(trim(t)) > 0))

  /** Ratio of punctuation chars to all chars (0 for empty). */
  def punctRatio(text: Column): Column = {
    val n = length(text)
    when(n === 0, 0.0)
      .otherwise(length(regexp_replace(text, "[^\\p{Punct}]", "")).cast("double") / n.cast("double"))
  }

  def avgWordLength(text: Column): Column = {
    val ts = tokens(text)
    when(size(ts) === 0, 0.0).otherwise(
      aggregate(ts, lit(0L), (acc, t) => acc + length(t)).cast("double")
        / size(ts).cast("double"))
  }

  /** Small per-language stopword inventories for the heuristic language ID.
    * Public, common function-word lists.
    */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "of", "and", "to", "in", "is", "that", "it", "was", "for", "with", "as", "his", "her", "this", "are", "be", "on", "at", "by", "he", "she", "they", "we", "you", "have", "has", "not", "but", "from"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ich", "nicht", "sie", "es", "ein", "eine", "zu", "den", "mit", "auf", "für", "im", "dem", "sich", "des", "war", "wie", "einem", "einen", "auch", "werden", "aus", "er", "hat", "dass"),
    "fr" -> Seq("le", "la", "les", "de", "des", "et", "est", "un", "une", "du", "que", "qui", "dans", "pour", "pas", "sur", "au", "avec", "ne", "se", "ce", "il", "elle", "nous", "vous", "ils", "son", "sa", "ses", "être"),
    "es" -> Seq("el", "la", "los", "las", "de", "que", "y", "en", "un", "una", "es", "por", "con", "no", "para", "su", "al", "lo", "como", "más", "pero", "sus", "le", "ya", "o", "este", "sí", "porque", "esta", "entre"),
    "it" -> Seq("il", "la", "di", "che", "e", "è", "un", "una", "per", "in", "non", "sono", "con", "si", "da", "come", "anche", "lo", "ma", "le", "nel", "alla", "più", "della", "questo", "gli", "del", "ha", "al", "se"),
  )

  /** Count of tokens present in a fixed stopword list. */
  def stopwordHits(toks: Column, lang: String): Column =
    size(filter(toks, t => t.isin(stopwords(lang): _*)))

  def stopwordRatio(text: Column, lang: String = "en"): Column = {
    val ts = tokens(text)
    when(size(ts) === 0, 0.0)
      .otherwise(stopwordHits(ts, lang).cast("double") / size(ts).cast("double"))
  }

  /** Heuristic language ID: argmax over per-language stopword hit counts,
    * "und" (undetermined) when no list scores > 0. Pure builtins → codegen.
    */
  def langId(text: Column): Column = {
    val ts = tokens(text)
    val scored = stopwords.keys.toSeq.sorted.map(l => (l, stopwordHits(ts, l)))
    val best = scored.map(_._2).reduce((a, b) => greatest(a, b))
    scored.foldLeft(when(best <= 0, "und")) { case (acc, (l, s)) =>
      acc.when(s === best, l)
    }.otherwise("und")
  }

  /** Composite quality score in [0,1]: rewards mid-length docs, low
    * punctuation density, healthy stopword ratio and word length — the
    * standard cheap pre-filter before expensive model-based scoring.
    */
  def qualityScore(text: Column): Column = {
    val wc = wordCount(text).cast("double")
    val lenScore = least(wc / 100.0, lit(1.0))
    val punctScore = greatest(lit(0.0), lit(1.0) - punctRatio(text) * 4.0)
    val swScore = least(stopwordRatio(text) * 3.0, lit(1.0))
    val awl = avgWordLength(text)
    val wlScore = when(awl.between(3.0, 10.0), 1.0).otherwise(0.5)
    round((lenScore * 0.3 + punctScore * 0.3 + swScore * 0.2 + wlScore * 0.2), 4)
  }

  /** Character k-gram rolling hashes (xxhash64 of each k-substring).
    * `portable` swaps the hash for the first 32 bits of md5 rendered as
    * a non-negative long — engine-identical in DuckDB via
    * `CAST(concat('0x', substring(md5(g), 1, 8)) AS BIGINT)` (the same
    * conv/md5 bridge the text_hash_embed oracle is built on), which lets
    * a winnowing fingerprint be replayed exactly in oracle SQL. 32-bit
    * hashes collide more than xxh64 — the portable face is the gate/
    * oracle face; production keeps xxh64.
    */
  def kgramHashes(text: Column, k: Int, portable: Boolean = false): Column = {
    val h: Column => Column =
      if (portable) g => conv(substring(md5(g), 1, 8), 16, 10).cast("long")
      else g => xxhash64(g)
    let(text) { t =>
      val n = length(t)
      when(n < k, array().cast("array<bigint>")).otherwise(
        transform(sequence(lit(0), n - k), i => h(t.substr(i + 1, lit(k)))))
    }
  }

  /** Winnowing fingerprint (Schleimer et al., SIGMOD 2003): distinct
    * per-window minima of k-gram hashes. Robust doc fingerprint for
    * near-dup detection; built entirely from array builtins.
    */
  def winnowingFingerprint(text: Column, k: Int = 5, w: Int = 4,
      portable: Boolean = false): Column =
    let(kgramHashes(lower(text), k, portable)) { hs =>
      val nWin = size(hs) - (w - 1)
      when(size(hs) === 0, array().cast("array<bigint>"))
        .when(nWin <= 0, array(array_min(hs)))
        .otherwise(array_distinct(
          transform(sequence(lit(0), nWin - 1), j => array_min(slice(hs, j + 1, lit(w))))))
    }

  /** `body(v)` with `v` evaluated once per row. Higher-order functions run
    * interpreted and re-evaluate a captured expression on every lambda
    * call, so a lambda over a derived array (or text) must read it through
    * a lambda variable: a one-element `transform` binds it.
    */
  private def let(v: Column)(body: Column => Column): Column =
    element_at(transform(array(v), body), 1)
}
