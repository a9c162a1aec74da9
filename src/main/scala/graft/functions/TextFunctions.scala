package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level text-analysis kernels for the LLM-pipeline operators
  * (SURVEY.md §2.3 north-star rows: text analysis, near-dup).
  *
  * All pure Column expressions (codegen-friendly, no UDFs). Where a kernel
  * must match the DuckDB oracle bit-for-bit, the logic is restricted to
  * functions both engines implement identically (split, md5, contains).
  */
object TextFunctions {
  /** Whitespace tokenization after lowering; collapses runs of whitespace
    * and trims so empty-token artifacts can't differ between engines. */
  def tokens(text: Column): Column =
    split(trim(regexp_replace(lower(text), "\\s+", " ")), " ")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Word n-gram shingles as space-joined strings; empty array when the
    * document has fewer than n tokens. Column/HOF formulation — prefer
    * [[shinglesN]] (one-pass native kernel) on hot paths; equality is
    * spec-enforced. */
  def shingles(toks: Column, n: Int): Column = {
    val idx = sequence(lit(0), size(toks) - n)
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(transform(idx, i =>
        concat_ws(" ", (0 until n).map(k => element_at(toks, i + k + 1)): _*)))
  }

  /** Native one-pass tokenize→shingle kernel straight off the text column
    * ([[TokenShingles]]); requires a [[graft.Sessions.builder]] session. */
  def shinglesN(text: Column, n: Int): Column =
    call_function("graft_shingles", text, lit(n))

  /** Distinct xxhash64 shingle hashes in one kernel pass
    * ([[TokenShingleHashes]]): bit-equal to
    * `array_distinct(transform(shinglesN(text, n), s => xxhash64(s)))` but
    * never materializes the shingle strings — the compact input for
    * MinHash/Jaccard sketches. */
  def shingleHashes(text: Column, n: Int): Column =
    call_function("graft_shingle_hashes", text, lit(n))

  /** One-pass winnowing fingerprints ([[WinnowFingerprints]]): distinct
    * sliding-window minima of the positional shingle md5s. */
  def winnowN(text: Column, n: Int, window: Int): Column =
    call_function("graft_winnow", text, lit(n), lit(window))

  /** One-pass MinHash sketch ([[ShingleSketch]]):
    * struct(shh = distinct shingle hashes, sig = minhash signature). */
  def shingleSketch(text: Column, n: Int, numHashes: Int): Column =
    call_function("graft_shingle_sketch", text, lit(n), lit(numHashes))

  /** One-pass 64-bit SimHash signature ([[SimhashSignature]]). */
  def simhash64(text: Column): Column = call_function("graft_simhash", text)

  /** Set-semantics Jaccard similarity of two string arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = size(array_union(a, b)).cast("double")
    when(uni === 0, lit(0.0)).otherwise(inter / uni)
  }

  /** Canonical-text fingerprint: md5 of lowercased, whitespace-collapsed
    * text. Exact-duplicate detection key (normalized). */
  def fingerprint(text: Column): Column =
    md5(trim(regexp_replace(lower(text), "\\s+", " ")))

  /** BPE-style pre-tokenization: letter runs, single digits, and single
    * non-alphanumeric glyphs (so CJK text counts per character, like a
    * byte-fallback BPE would). The regex stays in the syntax subset Java
    * and RE2 share, so a DuckDB oracle can run the identical pattern. */
  val bpeishPattern = "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"
  def bpeishTokens(text: Column): Column =
    regexp_extract_all(text, lit(bpeishPattern), lit(0))

  /** Chained (rolling) md5 fingerprint over the token sequence:
    * fp = md5(...md5(md5(t1) ++ t2)... ++ tn). Order-sensitive, unlike the
    * shingle-set sketches; one pass, no state beyond the accumulator. */
  def chainFingerprint(toks: Column): Column =
    aggregate(toks, lit(""), (acc, t) => md5(concat(acc, t)))

  /** Stopword ratio over the token list (quality-scoring feature). */
  def stopwordRatio(toks: Column, stopwords: Seq[String]): Column = {
    val sw = stopwords.map(w => lit(w))
    val hits = size(filter(toks, t => t.isin(sw: _*)))
    when(size(toks) === 0, lit(0.0))
      .otherwise(hits.cast("double") / size(toks).cast("double"))
  }

  /** Mean token length (quality-scoring feature). */
  def meanTokenLen(toks: Column): Column =
    when(size(toks) === 0, lit(0.0))
      .otherwise(
        aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") /
          size(toks).cast("double"))

  /** Deterministic marker-word language heuristic. The testdata corpus is
    * synthetic (shared vocabulary), so this demonstrates the *mechanism* —
    * a cascade of marker tests an identical DuckDB CASE expression can
    * reproduce — not linguistic accuracy.
    */
  def langGuess(text: Column): Column =
    when(text.contains(" the "), "en")
      .when(text.contains(" der ") || text.contains(" und "), "de")
      .when(text.contains(" el ") || text.contains(" los "), "es")
      .when(text.contains(" le ") || text.contains(" les "), "fr")
      .otherwise("unk")

  /** 64-bit SimHash over token xxhash64s: bit i of the result is the sign
    * of Σ_tokens (bit i of xxhash64(token) ? +1 : -1). Pure Column
    * expression; near-duplicates have small Hamming distance.
    *
    * NOTE: `hashes` should be a materialized column (e.g. via withColumn),
    * not an inline transform — otherwise Catalyst clones the expression
    * into all 64 bit lambdas and every token is rehashed 64 times. Use
    * [[tokenHashes]] + [[simhashFromHashes]] on hot paths.
    */
  def simhash(toks: Column): Column = simhashFromHashes(transform(toks, t => xxhash64(t)))

  /** xxhash64 per token — materialize this once, then feed [[simhashFromHashes]]. */
  def tokenHashes(toks: Column): Column = transform(toks, t => xxhash64(t))

  /** SimHash bit-vote over a pre-hashed token array. */
  def simhashFromHashes(hashes: Column): Column = {
    val bitCols = (0 until 64).map { i =>
      val votes = aggregate(hashes, lit(0L),
        (acc, h) => acc + when(h.bitwiseAND(lit(1L << i)) =!= 0, 1L).otherwise(-1L))
      when(votes > 0, lit(1L << i)).otherwise(0L)
    }
    bitCols.reduce(_ + _)
  }

  /** Hamming distance between two 64-bit hashes. */
  def hamming64(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** Per-document distinct (term, cnt) pairs as `array<struct<term,cnt>>`
    * — the term-frequency half of TF-IDF, computed per row with ZERO
    * shuffle. The run-length trick: over the SORTED token array, a term's
    * run ends at position i where `srt[i] != srt[i+1]` (or i = n); the
    * boundary positions are found with one `filter` pass and the counts
    * are consecutive-boundary differences via `zip_with` — O(n) per row,
    * all codegen HOFs. The explode+groupBy(doc,term) formulation would
    * shuffle every token occurrence in the corpus; this emits only the
    * distinct terms per document and shuffles nothing. */
  def termCounts(text: Column): Column =
    call_function("graft_term_counts", text)

  /** Per-pattern occurrence counts (array<int>, aligned with `patterns`)
    * in ONE Aho–Corasick pass per row — the blocklist scan
    * ([[MultiPatternCounts]]); O(len) per document regardless of how many
    * terms the dictionary holds. */
  def multiPatternCounts(text: Column, patterns: Seq[String]): Column =
    call_function("graft_multi_count", text,
      array(patterns.map(lit): _*))

  /** [[multiPatternCounts]] with the transition-table backend forced
    * ("dense" | "csr" | "auto") — benchmark/diagnostic surface; results
    * are identical across backends (CurationSpec pins it).
    *
    * The dictionary travels as ONE NUL-joined string literal, not an
    * `array(lit, …)`: a 10⁵-element CreateArray is a 10⁵-child Catalyst
    * node that every analyzer/optimizer pass re-walks — ~20 s of plan
    * time at 100k terms, dwarfing the scan itself. Plan size must not
    * scale with dictionary size any more than executor work does. */
  def multiPatternCounts(text: Column, patterns: Seq[String], backend: String): Column = {
    require(patterns.forall(!_.contains("\u0000")),
      "patterns must not contain NUL (used as the literal separator)")
    call_function("graft_multi_count", text,
      lit(patterns.mkString("\u0000")), lit(backend))
  }

  /** Sparse blocklist scan: `array<struct<pat_id,cnt>>` of only the
    * dictionary terms that occur (pat_id = dictionary position,
    * ascending) - per-row output O(matches), not O(|dict|), which is what
    * makes a 100k-term dictionary scan flat ([[MultiPatternHits]]; the
    * dense [[multiPatternCounts]] vector would be 400 KB PER ROW there). */
  def multiPatternHits(text: Column, patterns: Seq[String],
      backend: String = "auto"): Column = {
    require(patterns.forall(!_.contains("\u0000")),
      "patterns must not contain NUL (used as the literal separator)")
    call_function("graft_multi_hits", text,
      lit(patterns.mkString("\u0000")), lit(backend))
  }
}
