package graft.oracle

/** Dual-dialect SQL fragment generators.
  *
  * The dedup / text-analysis / similarity queries rely on deterministic
  * integer hash arithmetic (polynomial string hashes, MinHash
  * permutations, SimHash bit votes). To make the DuckDB oracle match the
  * Spark implementation bit-for-bit, both sides are generated from the
  * SAME Scala code: `SparkSql` fragments feed `expr(...)` /
  * `selectExpr(...)` in the DataFrame programs, `DuckSql` fragments are
  * embedded into `SparkEntry.oracleSql`. Only exact integer / IEEE-754
  * double operations with identical evaluation order are emitted, so
  * results are engine-identical with no tolerance needed.
  */
abstract class Dialect {
  /** map: transform(l, v -> body) */
  def transform(l: String, v: String, body: String): String
  /** filter(l, v -> body) */
  def filterL(l: String, v: String, body: String): String
  /** left fold over a BIGINT list with init 0. */
  def foldBig(l: String, a: String, x: String, body: String): String
  /** left fold over a DOUBLE list with init 0.0. */
  def foldDbl(l: String, a: String, x: String, body: String): String
  def distinctL(l: String): String
  /** ascending sort of a list — a deterministic fold order for float
    * accumulation (engine-native distinct/group orders differ). */
  def sortL(l: String): String
  /** distinct elements present in both lists (both engines dedup). */
  def intersectL(a: String, b: String): String
  def containsL(l: String, x: String): String
  def sizeL(l: String): String
  /** inclusive integer sequence [a, b] as a list. */
  def seqIncl(a: String, b: String): String
  def minL(l: String): String
  /** split string on a literal single-char separator. */
  def split(s: String, sep: String): String
  /** split string on a regex. */
  def splitRe(s: String, re: String): String
  /** 3 consecutive elements of l starting at 1-based index i. */
  def slice3(l: String, i: String): String
  /** first n elements of l (n an integer expression). */
  def sliceTo(l: String, n: String): String
  /** elements of string-list joined with a space. */
  def joinSpace(l: String): String
  /** elementwise double product of two equal-length numeric lists. */
  def zipMulDbl(a: String, b: String): String
  def shiftR(a: String, b: String): String
  def shiftL(a: String, b: String): String
  def xorB(a: String, b: String): String
  /** integer division. */
  def idiv(a: String, b: String): String
  def castStr(x: String): String
  /** CAST(l[i] AS DOUBLE), 1-based. */
  def elemAtDbl(l: String, i: String): String
  /** byte length of the string as a binary blob. */
  def octetLen(s: String): String
  /** extract string at JSON path '$.<key>' from a JSON text column. */
  def jsonGetStr(col: String, key: String): String
  /** epoch seconds (floored) of a timestamp as BIGINT. */
  def epochSec(ts: String): String
  /** epoch seconds of ts truncated to the given unit ('hour'...). */
  def epochTrunc(unit: String, ts: String): String
  /** replace ALL matches of a regex with a literal replacement. Patterns
    * must stay in the Java-regex ∩ RE2 common subset with unambiguous
    * (prefix-free) alternation so both engines match identically. */
  def regexReplaceAll(s: String, re: String, rep: String): String
  /** number of non-overlapping matches of a regex. */
  def regexCount(s: String, re: String): String
  /** elementwise (a-b)^2 of two equal-length BIGINT lists. */
  def zipDiffSqBig(a: String, b: String): String
  /** elementwise a-b of two equal-length BIGINT lists. */
  def zipSubBig(a: String, b: String): String

  // ---- shared derived fragments (dialect-independent composition) ----

  /** Float vector quantized to BIGINT at a fixed scale: floor(x*scale
    * + 0.5). float→double widening, the double multiply, and floor are
    * all exact-identical IEEE-754 ops in both engines, and everything
    * downstream is pure BIGINT arithmetic — order-independent sums, no
    * float-accumulation drift. */
  def quantVec(v: String, scale: Long): String =
    transform(v, "x", s"CAST(floor(CAST(x AS DOUBLE) * $scale.0 + 0.5) AS BIGINT)")

  /** Squared L2 distance of two quantized BIGINT vectors (exact). */
  def dist2Big(a: String, b: String): String =
    foldBig(zipDiffSqBig(a, b), "acc", "x", "acc + x")

  /** Non-empty whitespace tokens of a text column. */
  def tokens(text: String): String = filterL(split(text, " "), "t", "t <> ''")

  /** Non-empty alphanumeric tokens (BPE-ish pre-tokenizer). */
  def tokensRe(text: String): String =
    filterL(splitRe(text, "[^a-z0-9]+"), "t", "t <> ''")

  /** Deterministic polynomial hash of the first `width` chars of s,
    * mod Dialect.M: sum_i ascii(substr(rpad(s,w,' '),i,1)) * 31^(i-1).
    * Pure BIGINT arithmetic, identical in both engines (max intermediate
    * ~1.6e12 << 2^63). */
  def polyHash(s: String, width: Int): String = {
    val padded = s"rpad($s, $width, ' ')"
    val terms = (1 to width).map { i =>
      s"CAST(ascii(substr($padded, $i, 1)) AS BIGINT) * ${Dialect.pow31(i - 1)}"
    }
    s"((${terms.mkString(" + ")}) % ${Dialect.M})"
  }

  /** Word 3-gram shingles of a token-list column (short docs collapse to
    * one shingle of whatever tokens exist — both engines clamp slices). */
  def shingles3(toks: String): String =
    transform(
      seqIncl("1", s"greatest(${sizeL(toks)} - 2, 1)"),
      "i",
      joinSpace(slice3(toks, "i")))

  /** Jaccard similarity of two string-list columns as a DOUBLE in one
    * division (identical rounding in both engines). */
  def jaccard(a: String, b: String): String = {
    val inter = sizeL(filterL(distinctL(a), "x", containsL(b, "x")))
    val uni = s"(${sizeL(distinctL(a))} + ${sizeL(distinctL(b))} - $inter)"
    s"(CAST($inter AS DOUBLE) / $uni)"
  }

  /** Dot product of two numeric vectors in DOUBLE, strict left-to-right
    * summation in both engines → bit-identical. */
  def dotDbl(a: String, b: String): String =
    foldDbl(zipMulDbl(a, b), "acc", "v", "acc + v")
}

object Dialect {
  /** Modulus for all polynomial hashing (fits products in BIGINT). */
  val M = 1000000007L

  private val pows: Array[Long] = {
    val a = new Array[Long](64)
    a(0) = 1L
    for (i <- 1 until 64) a(i) = a(i - 1) * 31 % M
    a
  }
  def pow31(i: Int): Long = pows(i)

  /** MinHash permutation j applied to a hash value expression. */
  def minhashPerm(d: Dialect, hashes: String, j: Int): String = {
    val a = 1L + 7919L * (j + 1)
    val b = 104729L * (j + 1) % M
    d.minL(d.transform(hashes, "h", s"(($a * h + $b) % $M)"))
  }
}

object SparkSql extends Dialect {
  def transform(l: String, v: String, body: String) = s"transform($l, $v -> $body)"
  def filterL(l: String, v: String, body: String) = s"filter($l, $v -> $body)"
  def foldBig(l: String, a: String, x: String, body: String) =
    s"aggregate($l, CAST(0 AS BIGINT), ($a, $x) -> $body)"
  def foldDbl(l: String, a: String, x: String, body: String) =
    s"aggregate($l, CAST(0 AS DOUBLE), ($a, $x) -> $body)"
  def distinctL(l: String) = s"array_distinct($l)"
  def sortL(l: String) = s"array_sort($l)"
  def intersectL(a: String, b: String) = s"array_intersect($a, $b)"
  def containsL(l: String, x: String) = s"array_contains($l, $x)"
  def sizeL(l: String) = s"size($l)"
  def seqIncl(a: String, b: String) = s"sequence($a, $b)"
  def minL(l: String) = s"array_min($l)"
  def split(s: String, sep: String) = s"split($s, '$sep')"
  def splitRe(s: String, re: String) = s"split($s, '$re')"
  def slice3(l: String, i: String) = s"slice($l, $i, 3)"
  def sliceTo(l: String, n: String) = s"slice($l, 1, CAST($n AS INT))"
  def joinSpace(l: String) = s"concat_ws(' ', $l)"
  def zipMulDbl(a: String, b: String) =
    s"zip_with($a, $b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE))"
  def shiftR(a: String, b: String) = s"shiftright($a, $b)"
  def shiftL(a: String, b: String) = s"shiftleft($a, $b)"
  def xorB(a: String, b: String) = s"($a ^ $b)"
  def idiv(a: String, b: String) = s"(($a) div ($b))"
  def castStr(x: String) = s"CAST($x AS STRING)"
  def elemAtDbl(l: String, i: String) = s"CAST(element_at($l, $i) AS DOUBLE)"
  def octetLen(s: String) = s"octet_length(CAST($s AS BINARY))"
  def jsonGetStr(col: String, key: String) = s"get_json_object($col, '$$.$key')"
  def epochSec(ts: String) = s"unix_timestamp($ts)"
  def epochTrunc(unit: String, ts: String) = s"unix_timestamp(date_trunc('$unit', $ts))"
  def regexReplaceAll(s: String, re: String, rep: String) =
    s"regexp_replace($s, '$re', '$rep')"
  def regexCount(s: String, re: String) = s"regexp_count($s, '$re')"
  def zipDiffSqBig(a: String, b: String) =
    s"zip_with($a, $b, (x, y) -> (x - y) * (x - y))"
  def zipSubBig(a: String, b: String) =
    s"zip_with($a, $b, (x, y) -> x - y)"
}

object DuckSql extends Dialect {
  def transform(l: String, v: String, body: String) = s"list_transform($l, $v -> $body)"
  def filterL(l: String, v: String, body: String) = s"list_filter($l, $v -> $body)"
  def foldBig(l: String, a: String, x: String, body: String) =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), $l), ($a, $x) -> $body)"
  def foldDbl(l: String, a: String, x: String, body: String) =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), $l), ($a, $x) -> $body)"
  def distinctL(l: String) = s"list_distinct($l)"
  def sortL(l: String) = s"list_sort($l)"
  def intersectL(a: String, b: String) = s"list_intersect($a, $b)"
  def containsL(l: String, x: String) = s"list_contains($l, $x)"
  def sizeL(l: String) = s"len($l)"
  def seqIncl(a: String, b: String) = s"generate_series($a, $b)"
  def minL(l: String) = s"list_min($l)"
  def split(s: String, sep: String) = s"string_split($s, '$sep')"
  def splitRe(s: String, re: String) = s"regexp_split_to_array($s, '$re')"
  def slice3(l: String, i: String) = s"($l)[($i):(($i)+2)]"
  def sliceTo(l: String, n: String) = s"list_slice($l, 1, $n)"
  def joinSpace(l: String) = s"array_to_string($l, ' ')"
  def zipMulDbl(a: String, b: String) =
    s"list_transform(generate_series(1, len($a)), zz -> CAST(($a)[zz] AS DOUBLE) * CAST(($b)[zz] AS DOUBLE))"
  def shiftR(a: String, b: String) = s"($a >> $b)"
  def shiftL(a: String, b: String) = s"($a << $b)"
  def xorB(a: String, b: String) = s"xor($a, $b)"
  def idiv(a: String, b: String) = s"(($a) // ($b))"
  def castStr(x: String) = s"CAST($x AS VARCHAR)"
  def elemAtDbl(l: String, i: String) = s"CAST(($l)[$i] AS DOUBLE)"
  def octetLen(s: String) = s"octet_length(CAST($s AS BLOB))"
  def jsonGetStr(col: String, key: String) = s"json_extract_string($col, '$$.$key')"
  def epochSec(ts: String) = s"CAST(floor(epoch($ts)) AS BIGINT)"
  def epochTrunc(unit: String, ts: String) = s"CAST(epoch(date_trunc('$unit', $ts)) AS BIGINT)"
  def regexReplaceAll(s: String, re: String, rep: String) =
    s"regexp_replace($s, '$re', '$rep', 'g')"
  def regexCount(s: String, re: String) = s"len(regexp_extract_all($s, '$re'))"
  def zipDiffSqBig(a: String, b: String) =
    s"list_transform(generate_series(1, len($a)), zz -> (($a)[zz] - ($b)[zz]) * (($a)[zz] - ($b)[zz]))"
  def zipSubBig(a: String, b: String) =
    s"list_transform(generate_series(1, len($a)), zz -> ($a)[zz] - ($b)[zz])"
}
