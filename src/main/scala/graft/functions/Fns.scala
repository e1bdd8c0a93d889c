package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Portable column-level building blocks shared by the query catalog and the
  * lakehouse modules.
  *
  * Everything here is built from codegen'd Spark built-ins (no UDFs) and has
  * an exact DuckDB-SQL equivalent, so results hash-match the driver's DuckDB
  * oracle bit-for-bit. Reference behaviors covered: ordered list aggregation
  * (`/root/reference/benchmark_behavioral_clustering.py:58-61,74`), ordered
  * filtered string_agg (`/root/reference/olake/ingest/arena.py:83-90`), and
  * the git-blob content hash (`/root/reference/olake/ingest/arena.py:11-45`).
  */
object Fns {

  /** Deterministic 60-bit non-negative hash of a string column, identical in
    * Spark and DuckDB 1.0:
    *   Spark : conv(substring(md5(c), 1, 15), 16, 10) cast long
    *   DuckDB: ('0x' || substr(md5(c), 1, 15))::BIGINT
    * Used as the portable shuffle/bucket key wherever the reference hashes
    * content. 60 bits keeps the value strictly positive in an int64.
    */
  def portableHash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Seeded variant: independent hash family member i (for MinHash etc.). */
  def portableHash60(c: Column, seed: Int): Column =
    portableHash60(concat(lit(s"$seed:"), c))

  /** Universal-hash family over a single md5-derived base value: member j
    * is `(A(j)*h + B(j)) mod P` with h = portableHash60 mod P. One md5 per
    * row serves the whole family (16 md5s per row was the MinHash
    * bottleneck); all-integer arithmetic stays in codegen and is exactly
    * reproducible in DuckDB. P = 1e9+7 keeps every product under 2^60. */
  val HashP = 1000000007L

  /** Size of [[portableHash60]]'s output space: 15 hex digits = 2^60.
    * Rank-based estimators (KMV) divide by this |H|; using the full
    * 60-bit space instead of `mod P ≈ 2^30` keeps birthday collisions
    * negligible until ~2^30 DISTINCT keys (P's space biases distinct
    * estimates low from ~1e7-1e8 keys — the collision ceiling, not
    * the sketch, became the error floor). */
  val Hash60Space = 1L << 60
  def hashA(j: Int): Long = ((j + 1) * 2654435761L) % HashP
  def hashB(j: Int): Long = ((j + 1) * 40503L + 17) % HashP
  def hashBase(c: Column): Column = portableHash60(c) % HashP
  def hashMember(h: Column, j: Int): Column =
    (lit(hashA(j)) * h + lit(hashB(j))) % HashP

  /** Ordered list aggregation — `list(v ORDER BY ord)` (DuckDB) done the
    * canonical Spark way: collect (ord, v) structs, sort by the struct
    * (lexicographic on fields — equal `ord` values tie-break on `v`, so
    * the DuckDB mirror must be `ORDER BY ord, v`), then project the value
    * back out. Stays inside
    * ObjectHashAggregate + codegen'd array expressions; no UDAF needed.
    * Reference site: `benchmark_behavioral_clustering.py:58-61`.
    */
  def orderedCollect(ord: Column, v: Column): Column =
    transform(array_sort(collect_list(struct(ord.as("o"), v.as("v")))),
      s => s.getField("v"))

  /** Ordered string_agg with NULL-skipping, matching DuckDB
    * `string_agg(v, sep ORDER BY ord, v)`: rows with NULL v are dropped
    * before collection (a NULL struct is skipped by collect_list), and the
    * struct sort tie-breaks equal `ord` values on `v` — required because
    * `ord` need not be unique within a group. */
  def orderedStringAgg(ord: Column, v: Column, sep: String): Column =
    array_join(
      transform(
        array_sort(collect_list(when(v.isNotNull,
          struct(ord.as("o"), v.as("v"))))),
        s => s.getField("v")),
      sep)

  /** Git-blob-style content normalization (reference `arena.py:11-28`):
    * CRLF and lone CR -> LF (Python's two-step replace), strip trailing
    * whitespace on each line (full Python `rstrip()` character class —
    * space/tab/VT/FF plus the Unicode whitespace Python's `str.isspace`
    * accepts: FS-US controls, NEL, NBSP, ogham/en-quad..hair spaces,
    * LS/PS, NNBSP, MMSP, ideographic space; `\n`/`\r` excluded because
    * CRs are already normalized and lines split on LF), strip trailing
    * blank lines. `(?d)` (UNIX_LINES) keeps Java's `$` anchored at `\n`
    * only — without it Java treats NEL/LS/PS as line terminators where
    * Python `split('\n')` and DuckDB's RE2 do not. Pure regexp chain;
    * the DuckDB mirror uses the identical patterns (RE2 `(?m)$` is
    * already LF-only) with the 'g' flag.
    */
  val rstripClass: String = "[ \t\\x0B\f\\x{1C}-\\x{1F}\\x{85}\\x{A0}" +
    "\\x{1680}\\x{2000}-\\x{200A}\\x{2028}\\x{2029}\\x{202F}\\x{205F}" +
    "\\x{3000}]"

  def normalizeSource(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, "\r\n?", "\n"),
        s"(?md)$rstripClass+$$", ""),
      "(?d)\n+$", "")

  /** Git-blob-style content hash (reference `arena.py:31-45`) with SHA-256
    * in place of SHA-1 (DuckDB 1.0 ships sha256 but not sha1; the semantic
    * — header `blob <bytelen>\0` + normalized body — is preserved).
    * Byte length (octet_length), not char length, so multibyte text hashes
    * like git would hash the UTF-8 blob. For hashes interchangeable with
    * git itself use [[gitBlobHashSha1]] (oracle-exempt).
    */
  def gitBlobHash(c: Column): Column = {
    val n = normalizeSource(c)
    sha2(concat(lit("blob "), octet_length(n).cast("string"),
      lit("\u0000"), n), 256)
  }

  /** True-SHA-1 git-blob hash: bit-for-bit what `git hash-object` emits
    * for the normalized content — the reference's dedup keys are real git
    * blob SHA-1s (`arena.py:31-45`), so this is the interop path. Not
    * oracle-checkable (DuckDB 1.0 lacks sha1); spec-verified against
    * `git hash-object` vectors instead. */
  def gitBlobHashSha1(c: Column): Column = {
    val n = normalizeSource(c)
    sha1(concat(lit("blob "), octet_length(n).cast("string"),
      lit("\u0000"), n))
  }

  /** Exact decimal sum surfaced as a double: aggregation is exact (decimal),
    * the final cast is a single deterministic double conversion — immune to
    * FP summation-order differences between Spark and DuckDB. */
  def sumDec(c: Column, scale: Int = 2): Column =
    sum(c.cast(s"decimal(28,$scale)")).cast("double")

  /** Exact fixed-point sum in integer MICRO-UNITS — the fast exact path.
    * [[sumDec]]'s correctness is unconditional but its DECIMAL(28,_) sum
    * buffer exceeds 18 digits, so Spark leaves the compact-long Decimal
    * representation and pays BigDecimal object math per row (measured
    * 3.6× on the q04 pricing summary, 1.25 s → 0.35 s at sf0.1). This
    * form rounds each value to `10^scale` units once (recovering the
    * exact fixed-point input — the same integer micro-unit discipline as
    * the PageRank recurrence and the log-histogram rank test), sums as
    * LONG inside whole-stage codegen, and divides once at the end.
    *
    * Domain bound (caller's contract, NOT checked at runtime): the
    * per-group sum must fit 2^63 — at cents scale that is ~1.8e12 rows
    * of 1e7-cent values per group; a product term like
    * `price_cents * (100 − disc_cents)` (~1e9/row) bounds it at ~9.2e9
    * rows per group. Beyond that, use [[sumDec]] — exactness there is
    * unconditional. Returns the long micro-unit sum; divide by the
    * micro-unit factor (as the q115 form does) for the double surface.
    */
  def sumMicro(c: Column, scale: Int = 2): Column = {
    val factor = math.pow(10, scale)
    sum(round(c * factor).cast("long"))
  }

  /** Dot product via an ordered left fold (zip_with + aggregate) over
    * double arrays. Kept as the pure-built-in reference implementation —
    * the hot path is [[graft.plans.VecDotExpr]] (same fold order, one
    * codegen'd loop, no intermediate arrays); the test suite asserts the
    * two agree bit-for-bit. DuckDB mirror: list_dot_product on DOUBLE[]
    * (both fold elementwise in order). */
  def dotProductFold(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** Dot product of two float-array embedding columns, accumulated in
    * double: the native codegen'd expression. */
  def dotProduct(a: Column, b: Column): Column =
    graft.plans.VecDotExpr.dot(a, b)

  /** Cosine similarity of two float-array embedding columns, computed in
    * double precision (three native dot passes; identical rounding to
    * the fold form and DuckDB's list_dot_product). */
  def cosine(a: Column, b: Column): Column =
    dotProduct(a, b) /
      (sqrt(dotProduct(a, a)) * sqrt(dotProduct(b, b)))

  /** NOTE on a rejected alternative: a statically-unrolled
    * element_at(a,1)*element_at(b,1)+... chain generates a method so large
    * that the JVM JIT refuses to compile it (huge-method bailout) and it
    * runs in the bytecode interpreter — measured 3-6× SLOWER than this
    * zip_with fold at 64 dims. Keep the fold. */

  /** Word tokenization on whitespace after trim (empty string -> empty
    * array). DuckDB mirror: string_split_regex(trim(x), '\s+'). */
  def words(c: Column): Column =
    when(length(trim(c)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(c), "\\s+"))

  /** Word-level n-gram shingles of a word array. */
  def shingles(ws: Column, n: Int): Column =
    when(size(ws) < n, array().cast("array<string>")).otherwise(
      transform(sequence(lit(0), size(ws) - n),
        i => array_join(slice(ws, i + 1, lit(n)), " ")))
}
