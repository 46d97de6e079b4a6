package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic, cross-engine text primitives shared by the text
  * analysis and deduplication suites (the training-data-pipeline
  * extension beyond the reference surface — the reference's only string
  * work is JSON parse/format, /root/reference/old/kfk.py:13-32).
  *
  * Everything here is pure Catalyst column algebra (split / higher-order
  * functions / integer arithmetic): no UDFs, no RDDs, so the whole
  * pipeline stays inside Catalyst optimization and (for the non-HOF
  * parts) whole-stage codegen, and every value is reproducible
  * bit-for-bit by the DuckDB oracle, which implements the same fold in
  * SQL.
  *
  * Hashing is an explicit 31-ary polynomial over character codes modulo
  * the Mersenne prime 2^31-1. A built-in hash (xxhash64, murmur) would be
  * faster but engine-specific — the point of an arithmetic hash is that
  * the oracle can recompute it. At 100 TB the per-char fold is still a
  * linear scan fused into the projection; swap in xxhash64 when oracle
  * parity is not required (both variants exposed).
  */
object TextFunctions {

  /** Mersenne prime 2^31-1: modulus of all polynomial hashes. */
  val P: Long = 2147483647L

  /** Whitespace tokens, empties dropped. Both Spark's split and
    * DuckDB's string_split emit empty strings around leading/trailing/
    * consecutive separators — the oracle SQL applies the same
    * `list_filter(…, x -> x <> '')`, so tokenization agrees on ANY
    * input, not just single-spaced text. */
  def tokens(text: Column): Column =
    filter(split(text, " "), t => t =!= lit(""))

  /** Characters of a string as an array (empties dropped — Java
    * split("") appends a trailing empty match). */
  def chars(c: Column): Column =
    filter(split(c, ""), ch => ch =!= lit(""))

  /** Adjacent code-point pair strings (native CharBigrams — one fused
    * pass; element-identical to transform-over-[[chars]]). */
  def charBigrams(c: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.CharBigrams(
        org.apache.spark.sql.graft.ColumnBridge.expression(c)))

  /** md5-prefix feature buckets of whitespace unigrams + adjacent
    * word bigrams in one fused pass (native WordGramBuckets) — the
    * DSIR hashed-feature feed; element-identical to
    * `transform(concat(toks, shingles(toks, 2)),
    *   f -> conv(substr(md5(f), 1, 4), 16, 10) % buckets`
    * without materializing feature strings or 32-char md5 hex (the
    * HashExpressionsSpec pins the equivalence). */
  def wordGramBuckets(c: Column, buckets: Int): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      WordGramBuckets(org.apache.spark.sql.graft.ColumnBridge.expression(c),
        buckets))

  /** per-doc character-entropy inputs (n, n_distinct, Σ cnt·ln cnt)
    * in one fused pass (native CharEntropyStats) — value-identical to
    * exploding [[chars]], group-counting, array_sorting the (char,
    * cnt) structs and folding cnt·ln(cnt): single code points sort
    * the same under UTF-8 binary order and code-point order, so the
    * fold order (and thus every double bit) is preserved
    * (HashExpressionsSpec pins the equivalence). */
  def charEntropyStats(c: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      CharEntropyStats(org.apache.spark.sql.graft.ColumnBridge.expression(c)))

  /** per-doc Gopher repetition counts [max2, n2, dup3, n3] in one
    * fused pass (native RepetitionCounts) — element-identical to
    * exploding the word 2-/3-grams and group-counting, without the
    * corpus-scale gram rows or their shuffles (HashExpressionsSpec
    * pins the equivalence against the grouped formulation). */
  def repetitionCounts(c: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      RepetitionCounts(org.apache.spark.sql.graft.ColumnBridge.expression(c)))

  /** 31-ary polynomial rolling hash of a string mod 2^31-1:
    * h = fold(h * 31 + code(char)) — the classic Rabin-Karp/Java-style
    * rolling hash, computable identically in any SQL engine. Executes
    * as the native PolyHash expression (one fused codegen loop);
    * the specs pin it to the same arithmetic as column algebra. */
  def polyHash(c: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      PolyHash(org.apache.spark.sql.graft.ColumnBridge.expression(c), 31L, 0L))

  /** Second independent polynomial (multiplier 37, offset 7) for
    * constructions needing more than 31 hash bits. */
  def polyHash37(c: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      PolyHash(org.apache.spark.sql.graft.ColumnBridge.expression(c), 37L, 7L))

  /** Word n-gram shingles: ["a","b","c","d"] with n=3 →
    * ["a b c","b c d"]; empty when fewer than n tokens. (Built with an
    * index-guarded transform — `sequence(1, size-n+1)` would descend,
    * not empty, for short docs.) Shingling is the standard unit for
    * near-dup detection (Broder, "On the resemblance and containment of
    * documents", 1997). */
  def shingles(toks: Column, n: Int): Column =
    filter(
      transform(toks, (_, i) =>
        when(i < size(toks) - (n - 1),
          concat_ws(" ", (0 until n).map(k => element_at(toks, i + lit(k + 1))): _*))),
      s => s.isNotNull)

  /** Distinct shingle hash codes for a document — the set MinHash and
    * Jaccard operate on. Distinct AFTER hashing, so a hash collision
    * inside one document cannot desync set sizes vs the oracle.
    * Executes as the native ShingleHashes expression (single fused pass,
    * no intermediate shingle strings — measured ~10× over the composed
    * form); the specs pin it to the same arithmetic as column algebra. */
  def shingleCodes(text: Column, n: Int): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      ShingleHashes(org.apache.spark.sql.graft.ColumnBridge.expression(text), n, 31L, 0L))

  /** MinHash signature entry i over a set of codes:
    * min over x of ((2i+1)·x + 104729·i + 12345) mod P. Odd multipliers
    * are coprime with the Mersenne-prime modulus, giving k independent
    * permutation approximations (Broder et al., "Min-wise independent
    * permutations", 1998). */
  def minHash(codes: Column, i: Int): Column =
    array_min(transform(codes,
      x => (x * (2 * i + 1) + lit(104729L) * i + 12345L) % P))

  /** Positional word-n-gram span hashes (native SpanHashes expression):
    * entry j is polyHash of tokens j..j+n-1 joined by ' ' — shingleCodes
    * WITH positions (no distinct), the unit span-level dedup removes. */
  def spanCodes(text: Column, n: Int): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      SpanHashes(org.apache.spark.sql.graft.ColumnBridge.expression(text), n, 31L, 0L))

  /** Winnowing-selected packed fingerprint keys (native WinnowSelect
    * expression) over a positional span-hash array: distinct
    * min-by-(hash, leftmost-position) packed keys h·posEnc + pos, one
    * per k-gram window — the selection step fused into the scan
    * projection (zero exchanges) instead of a per-doc window sort. */
  def winnowKeys(spanCodes: Column, w: Int, posEnc: Long): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      WinnowSelect(org.apache.spark.sql.graft.ColumnBridge.expression(spanCodes), w, posEnc))

  /** |set(a) ∩ set(b)| (native CommonCount expression) — the count-only
    * form of size(array_intersect(a, b)) the dedup verifications score;
    * identical value on the set-valued code arrays, no intersection
    * array materialized per candidate pair. */
  def commonCount(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      CommonCount(org.apache.spark.sql.graft.ColumnBridge.expression(a),
        org.apache.spark.sql.graft.ColumnBridge.expression(b)))

  /** Native bottom-k-distinct aggregate column builder (KMV sketch
    * state; see [[BottomKDistinctAgg]]) — usage mirrors `udaf(...)`:
    * `val bottomK = bottomKDistinctAgg(k); ...agg(bottomK(col("h")))`. */
  def bottomKDistinctAgg(k: Int): Column => Column =
    (c: Column) => org.apache.spark.sql.graft.ColumnBridge.column(
      BottomKDistinctAgg(org.apache.spark.sql.graft.ColumnBridge.expression(c), k)
        .toAggregateExpression())

  /** Non-oracle production variant: 64-bit xxhash64 shingles (codegen'd,
    * engine-native). Use when DuckDB parity is not needed. */
  def shingleCodes64(text: Column, n: Int): Column =
    transform(array_distinct(shingles(tokens(text), n)), s => xxhash64(s))

  /** The five per-document token statistics in one fused pass (native
    * TokenStats expression): [n_words, sum_len, n_distinct, stop_hits,
    * n_alpha]. The HOF formulation — size(tokens), aggregate-length
    * fold, size(array_distinct), isin filter, rlike filter — is the
    * executable documentation (TextAnalysis.tokenStats keeps it live
    * and oracle-checked); this is what the hot corpus scans run. */
  def tokenStatsArr(text: Column, stopwords: Seq[String]): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      TokenStats(org.apache.spark.sql.graft.ColumnBridge.expression(text), stopwords))

  /** Per-profile token-membership counts in one tokenization pass
    * (native TokenProfileHits): the stopword language-ID kernel. */
  def tokenProfileHits(text: Column, profiles: Seq[Seq[String]]): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      TokenProfileHits(org.apache.spark.sql.graft.ColumnBridge.expression(text), profiles))
}
