package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for LLM-data-pipeline work (SURVEY §2.G).
  *
  * Everything is a pure Column composition over `functions._` — no UDFs —
  * so each metric stays inside WholeStageCodegen and runs at scan speed on
  * a 100 TB corpus. Higher-order functions (`transform`, `filter`,
  * `aggregate`) cover the per-token logic the reference would have done in
  * Python UDFs (reference: work/TD_pySpark.ipynb parse_timestamp/
  * detect_change UDF style — deliberately NOT reproduced).
  */
object TextFunctions {

  /** Whitespace tokenization. */
  def tokens(text: Column): Column = split(text, " ")

  /** Adjacent-token bigram structs (w1, w2), evaluating the token
    * split ONCE per row. The naive form — `element_at(tokens(text),
    * i+1)` inside a `transform` lambda — re-runs the split PER
    * ELEMENT, because Catalyst's subexpression elimination does not
    * hoist common expressions out of lambda bodies: an n-token text
    * paid O(n²) split work (measured r9: tx_textrank's bigram explode
    * alone was 4.5 s at sf0.1). Wrapping the array in a single-element
    * `transform` binds it to a LAMBDA VARIABLE, which is a cheap bound
    * reference inside the inner lambda — one split per row, same
    * row-local no-shuffle shape. */
  def bigrams(text: Column): Column = {
    val t = tokens(text)
    element_at(transform(array(t), arr =>
      when(size(arr) < 2,
        array().cast("array<struct<w1:string,w2:string>>"))
        .otherwise(transform(sequence(lit(0), size(arr) - 2),
          i => struct(element_at(arr, i + 1).as("w1"),
            element_at(arr, i + 2).as("w2"))))), 1)
  }

  def wsTokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish lexer token count: letter runs, digit runs, or single
    * non-alphanumeric marks. */
  def reTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"), lit(0)))

  /** How many tokens fall in `words`. */
  def tokenCountIn(text: Column, words: Seq[String]): Column =
    size(filter(tokens(text), x => x.isin(words: _*)))

  /** Fraction of characters that are a-z after lowercasing. */
  def alphaRatio(text: Column): Column =
    length(regexp_replace(lower(text), "[^a-z]", "")) / length(text)

  /** Distinct word n-gram shingles (the dedup unit). Documents shorter
    * than n tokens yield no shingles (sequence() would otherwise count
    * backwards). */
  def shingles(text: Column, n: Int): Column = {
    val t = tokens(text)
    when(size(t) < n, array().cast("array<string>"))
      .otherwise(array_distinct(transform(
        sequence(lit(0), size(t) - n),
        i => concat_ws(" ", slice(t, i + 1, lit(n))))))
  }

  /** Content fingerprint: md5 of whitespace-normalized lowercase text —
    * the exact-dedup key (cheap, collision-negligible at 100 TB). */
  def contentFingerprint(text: Column): Column =
    md5(lower(trim(regexp_replace(text, " +", " "))))

  /** Polynomial rolling hash over characters, mod 1e9+7 — the modular
    * reduction keeps every step well inside Long range (Spark 4 runs
    * ANSI mode, where silent wraparound is an overflow error). Order-
    * sensitive twin of the md5 fingerprint, codegen-friendly. */
  def rollingHash(text: Column): Column =
    aggregate(
      transform(split(text, ""), ch => ascii(ch).cast("long")),
      lit(7L),
      (acc, c) => (acc * 31 + c) % 1000000007L)

  /** Composite surface-quality score (alpha·0.5 + stopword·0.3 +
    * length-saturation·0.2) — the Column form shared by qualityScores
    * and the curation pipeline. */
  def qualityScore(text: Column): Column = {
    val nTok = wsTokenCount(text)
    alphaRatio(text) * 0.5 +
      (tokenCountIn(text, Seq("the", "a")) / nTok) * 0.3 +
      least(lit(1.0), nTok / lit(100.0)) * 0.2
  }

  /** Duplicate-token fraction (1 − distinct/total) — the within-doc
    * repetition signal. */
  def dupWordRatio(text: Column): Column = {
    val t = tokens(text)
    lit(1.0) - size(array_distinct(t)) / size(t)
  }

  /** Canonicalized text: lowercase, punctuation → space, collapsed
    * whitespace. */
  def normalizedText(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9 ]", " "), " +", " "))

  /** Deterministic 12/2/2 train/val/test assignment from the content
    * fingerprint's first hex nibble. */
  def hashSplitOf(text: Column): Column = {
    val nib = substring(contentFingerprint(text), 1, 1)
    when(nib <= "b", "train").when(nib <= "d", "val").otherwise("test")
  }

  /** Stopword-profile language-ID: score = token overlap with each
    * profile, prediction = fixed-priority argmax. Profiles are over the
    * synthetic corpus vocabulary (real deployments would plug in per-
    * language stopword lists — the mechanics are identical). */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "sql"  -> Seq("table", "query", "join", "row", "column", "key"),
    "perf" -> Seq("fast", "slow", "big", "small", "scan", "sort"),
    "data" -> Seq("data", "stream", "batch", "vector", "value", "hash"),
    "en"   -> Seq("the", "a"))
}
