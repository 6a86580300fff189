package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for the LLM-data-pipeline surface
  * (SURVEY §2.11 "text analysis"): tokenization, shingling, quality
  * signals, language-ID heuristics, fingerprinting.
  *
  * Everything here is built from `org.apache.spark.sql.functions` —
  * codegen'd built-ins and higher-order array functions, zero UDFs — so
  * whole-stage codegen survives and the same logic is expressible in the
  * DuckDB oracle dialect.
  */
object TextFns {

  /** Lowercased whitespace tokenization. `split` on \s+ mirrors
    * DuckDB's `string_split_regex(lower(x), '\s+')`. */
  def tokens(text: Column): Column = split(lower(text), "\\s+")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Word n-gram shingles as space-joined strings; empty array when the
    * document has fewer than n tokens. 1-based `element_at` matches
    * DuckDB's 1-based list indexing. */
  def shingles(toks: Column, n: Int): Column = {
    // guard: sequence(1, 0) would generate DESCENDING [1,0], not empty
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)), i =>
        concat_ws(" ", (0 until n).map(o => element_at(toks, i + o)): _*)))
      .otherwise(array().cast("array<string>"))
  }

  /** Distinct shingle set — the input to Jaccard/MinHash dedup. */
  def shingleSet(text: Column, n: Int): Column = array_distinct(shingles(tokens(text), n))

  /** Shingle start positions (1-based), for the codegen-narrow shingle
    * shape: `explode(shinglePositions(toks, n))` then
    * [[shingleAt]]`(toks, pos, n)` per row. [[shingles]] builds the
    * array with a `transform` HOF, which falls out of whole-stage
    * codegen into interpreted eval (~10× slower per element, measured
    * by a probe since removed; see git history at 894f351); the
    * exploded-positions form keeps every expression codegen'd. Use when the shingles feed a row stream
    * anyway; keep [[shingles]]/[[shingleSet]] when an in-row array (or
    * in-row `array_distinct`) is the point. */
  def shinglePositions(toks: Column, n: Int): Column =
    when(size(toks) >= n, sequence(lit(1), size(toks) - (n - 1)))
      .otherwise(array().cast("array<int>"))

  /** The shingle starting at 1-based position `pos` — a plain row-level
    * concat over `element_at`, whole-stage-codegen friendly. */
  def shingleAt(toks: Column, pos: Column, n: Int): Column =
    concat_ws(" ", (0 until n).map(o => element_at(toks, pos + o)): _*)

  /** Ratio of punctuation characters to total characters. */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, 0.0)
      .otherwise(length(regexp_replace(text, "[^.!?,;:]", "")).cast("double") / length(text))

  /** Count of tokens that hit a fixed marker list (stopwords, per-language
    * markers). Pure higher-order filter — no UDF, no join. */
  def markerHits(toks: Column, markers: Seq[String]): Column =
    size(filter(toks, t => markers.map(m => t === lit(m)).reduce(_ || _)))

  /** Ratio of stopword tokens to total tokens. */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column = {
    val toks = tokens(text)
    when(size(toks) === 0, 0.0)
      .otherwise(markerHits(toks, stopwords).cast("double") / size(toks))
  }

  /** Deterministic document fingerprint: md5 over whitespace-normalized
    * lowercase text. Matches DuckDB `md5(...)` byte-for-byte. */
  def fingerprint(text: Column): Column =
    md5(trim(regexp_replace(lower(text), "\\s+", " ")))

  /** 64-bit SimHash from per-token XXH64 (seed 42, same core as the
    * built-in `xxhash64`): ±1 vote per bit per token, sign of the vote
    * total becomes the bit. Backed by the native Catalyst expression
    * `graft.plans.SimHash64Expr` — the higher-order-function formulation
    * allocated two 64-wide arrays per token, interpreted (62 s at sf0.1
    * vs sub-second for the tight-loop expression). Spark-specific hash →
    * no DuckDB twin, so SimHash queries are rows-only checks. */
  def simhash64(toks: Column): Column = graft.plans.SimHash64Expr.simhash64(toks)

  /** Hamming distance between two 64-bit signatures. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** PII patterns, restricted to the regex subset where java.util.regex
    * and RE2 (the DuckDB oracle) agree: greedy quantifiers over character
    * classes only — no alternation at a shared prefix, no backrefs, no
    * lookaround — so both engines match the identical spans. */
  val EmailPattern = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val Ipv4Pattern = "\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}"
  val PhonePattern = "\\+\\d[\\d-]{6,}\\d"

  /** Redact PII spans with typed placeholders — the scrub step every
    * training-data pipeline runs before a corpus ships. Email runs first
    * (its local part may contain dots and digits that the narrower
    * patterns would otherwise chew into). */
  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailPattern, "<EMAIL>"),
        Ipv4Pattern, "<IP>"),
      PhonePattern, "<PHONE>")

  /** Corpus-adaptive document-frequency ceiling for posting-list
    * similarity joins (q85): a term with df documents generates C(df,2)
    * candidate pairs, so with a Zipf-ish df distribution total pair work
    * ≈ O(n_docs × dfMax) — a CONSTANT ceiling keeps work linear but
    * starves recall as the corpus grows (at n=1M a df≤100 term is a
    * 0.01%-rare term; discriminative vocabulary scales with n), while an
    * unbounded one is quadratic. `max(8, ⌊10·log₂(n)⌋)` grows the
    * ceiling logarithmically: work stays O(n log n) (the q85 probe of
    * `tools.Probe --scale` measures the exponent) and the admitted df BAND
    * tracks corpus growth. The formula is floor/log2 only so the DuckDB
    * oracle inlines the IDENTICAL arithmetic — the
    * `VectorFns.bitsForCorpus` pattern. */
  def dfMaxForCorpus(nDocs: Long): Int =
    math.max(8, math.floor(10.0 * math.log(math.max(2L, nDocs).toDouble)
      / math.log(2.0)).toInt)

  /** [[dfMaxForCorpus]] as a Column over an n_docs column, for deriving
    * the ceiling inside the plan (rides the existing 1-row corpus-size
    * broadcast — no extra driver action). */
  def dfMaxForCorpusCol(nDocs: Column): Column =
    greatest(lit(8), floor(lit(10.0) * log2(greatest(lit(2L), nDocs))).cast("int"))
}
