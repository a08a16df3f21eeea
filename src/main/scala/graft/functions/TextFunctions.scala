package graft.functions

import graft.functions.{NativeExpressions => NX}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text/dedup primitives for the LLM-data-pipeline operators (SURVEY.md §2.11):
  * tokenization, shingling, MinHash signatures, SimHash fingerprints.
  * All pure Catalyst expression trees (no UDFs) so they distribute and codegen.
  */
object TextFunctions {

  /** Whitespace tokens (documents.text is space-separated words). */
  def tokens(text: Column): Column = split(text, " ")

  /** Distinct token set. */
  def tokenSet(text: Column): Column = array_distinct(tokens(text))

  /** Count-min-sketch cell index for hash row `r` (0-based) and a portable
    * word hash `hw` (NX.wordHash62): the PortableMinHash affine family
    * mod 2^31-1, reduced to the sketch's 1024-cell width. Shared by the
    * batch sketch (x4_heavy_hitters_cms) and the streaming sketch
    * (Streams.cmsSketch) so both land tokens in identical cells — and by
    * their SQL oracles, which replay the same integer arithmetic.
    */
  def cmsBucket(r: Column, hw: Column): Column = {
    val P = 2147483647L
    (((lit(506952114L) * (r + 1) + 1) % P) * (hw % P) +
      (lit(40503L) * (r + 1) + 17) % P) % P % 1024
  }

  /** k-word shingles (n-grams joined by space), distinct.
    * For a doc with < k words, falls back to the whole doc as one shingle.
    */
  def shingles(text: Column, k: Int): Column = {
    val toks = tokens(text)
    val n = size(toks)
    val idx = sequence(lit(1), greatest(n - (k - 1), lit(1)))
    array_distinct(transform(idx, i => concat_ws(" ", slice(toks, i, lit(k)))))
  }

  /** Distinct k-shingle STRINGS in one native pass (NX.shingleStrings)
    * — same output as [[shingles]] (NativeKernelsSpec pins it), one array
    * traversal instead of three interpreted HOF passes.
    */
  def shingleStrings(text: Column, k: Int): Column =
    NX.shingleStrings(tokens(text), k)

  /** Sorted distinct hashed k-shingles in one native pass (NX.shingles)
    * — the fast input shape for `NX.minhash` / `NX.isect`.
    */
  def shingleHashes(text: Column, k: Int): Column =
    NX.shingles(tokens(text), k)

  /** MinHash signature: for each of `numHashes` hash families, the minimum
    * xxhash64 over the shingle set, the family index mixed in as an extra
    * hash input. One pass over the array per family; no shuffle.
    */
  def minhashSignature(shingleCol: Column, numHashes: Int): Column =
    array((0 until numHashes).map { i =>
      array_min(transform(shingleCol, sh => xxhash64(lit(i), sh)))
    }: _*)

  /** LSH band keys: split the signature into `bands` bands of
    * signature.length / bands values each; each band key is the hash of its
    * slice plus the band index. Docs sharing ANY band key are candidates.
    */
  def bandKeys(signature: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(concat_ws(",",
          slice(signature, b * rowsPerBand + 1, rowsPerBand)).cast("string")).as("bkey"))
    }: _*)

  /** Exact Jaccard similarity of two token-set columns. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")

  /** SimHash bit-vote: ±1 depending on bit `bit` of `hash`. Both arguments
    * are Columns, so this uses the expression form of shiftright (the Scala
    * `shiftright(Column, Int)` overload only takes a literal shift).
    * Per-(doc, bit) vote rows are built by the caller (explode + groupBy) —
    * see Llm.q_simhash — keeping the bit-vote aggregation distributed.
    */
  def bitVote(hash: Column, bit: Column): Column =
    when(call_function("shiftright", hash, bit).bitwiseAND(lit(1L)) === 1L, lit(1L))
      .otherwise(lit(-1L))

  /** Rolling fingerprint of the whole document: a deterministic,
    * order-sensitive 64-bit hash — fold the token stream through xxhash64,
    * mixing the running hash in as the first argument (overflow-free under
    * ANSI mode, unlike a polynomial accumulator).
    */
  def docFingerprint(text: Column): Column =
    aggregate(tokens(text), lit(0L), (acc, tok) => xxhash64(acc, tok))

  /** PORTABLE rolling fingerprint: the same order-sensitive identity, but
    * built from pure integer arithmetic any engine can reproduce — per
    * token a char-level polynomial mod 1e9+7, then a token-level polynomial
    * mod 2^31-1. A fingerprint written to a dataset catalog must be
    * recomputable by whatever engine reads the catalog later (the same
    * portability argument as the x4_split hash); this is the published
    * form, while [[docFingerprint]] (xxhash64) stays the cheaper
    * engine-internal variant. Every intermediate stays far below 2^63
    * (max acc·31 + 127 < 3.3e10; acc·1000003 < 2.2e15), so ANSI mode never
    * throws and the DuckDB twin computes bit-identical values.
    */
  def docFingerprintPortable(text: Column): Column =
    aggregate(tokens(text), lit(0L),
      (acc, tok) => (acc * 1000003L +
        aggregate(split(tok, ""), lit(0L),
          (a, c) => (a * 31L + ascii(c)) % 1000000007L)) % 2147483647L)
}
