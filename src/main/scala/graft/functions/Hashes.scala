package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Hash-sketch helpers over signature columns: LSH band keys,
  * signature matches, simhash bands, Hamming distance, row checksums.
  *
  * The signatures themselves come from the native kernels in
  * [[graft.plans.Sketches]]. MinHash is an md5-keyed family:
  * permutation p's hash of shingle s is the lexicographic value of
  * `md5(p || ':' || s)`, and the signature entry is the minimum over
  * shingles. A cryptographic hash keyed by the permutation index gives
  * independent uniform orderings without seed tables, is
  * engine-portable (any system with md5 reproduces the signature
  * bit-for-bit — the DuckDB oracle does), and string-min is order-free,
  * so the signature is row-local: NO shuffle to sketch 100 TB.
  *
  * SimHash bit j is the sign of Σ_tokens ±1 by bit j of the token's
  * 60-bit md5 prefix. Near-dup docs differ in few bits; banding the 60
  * bits into 4×15 gives LSH buckets for candidate generation.
  */
object Hashes {

  /** LSH band keys: md5 over `rows`-sized runs of the signature.
    * bands × rows must equal the signature length. */
  def lshBands(sigCol: String, bands: Int, rows: Int): Column = {
    val bandExprs = (0 until bands).map { b =>
      val parts = (0 until rows).map(r => s"element_at($sigCol, ${b * rows + r + 1})")
      s"md5(concat(${parts.mkString(", ")}))"
    }
    expr(s"array(${bandExprs.mkString(", ")})")
  }

  /** Estimated Jaccard from two signatures: matching fraction. */
  def sigMatches(sigA: String, sigB: String): Column =
    expr(s"size(filter(zip_with($sigA, $sigB, (x, y) -> x = y), v -> v))")

  /** 15-bit band `i` (0..3) of a simhash column, for LSH bucketing. */
  def simhashBand(simCol: String, i: Int): Column =
    expr(s"($simCol >> ${15 * i}) & 32767")

  /** Hamming distance between two simhash columns. */
  def hamming(a: String, b: String): Column = expr(s"bit_count($a ^ $b)")

  /** 60-bit row checksum: md5 of a '|'-joined canonical string, first 15
    * hex digits as a BIGINT. Feed it to order-free aggregates (decimal
    * SUM, BIT_XOR) for a whole-table content checksum that any engine
    * reproduces — the cross-system reconciliation primitive ("did the
    * load land bit-identical") that row counts can't provide. Row-local;
    * checksumming 100 TB is a scan plus one two-phase aggregate.
    *
    * NULLs are position-preserving: each column renders as
    * `IFNULL(value, CHR(1))`, never silently skipped — a bare
    * `concat_ws` drops NULL slots, so ('x', NULL, 'z') and ('x', 'z',
    * NULL) would checksum identically, which is exactly the difference
    * a reconciliation checksum exists to catch. (A literal string equal
    * to the 0x01 sentinel still collides with NULL; control characters
    * do not appear in sane data — document, don't pay for.)
    *
    * Canonicalization is the caller's contract: pass columns already
    * rendered to stable strings (ints, pre-rounded decimals — never raw
    * doubles, whose text form is engine-dependent). */
  def rowChecksum(cols: Column*): Column = {
    val safe = cols.map(c => coalesce(c.cast("string"), lit("\u0001")))
    conv(substring(md5(concat_ws("|", safe: _*)), 1, 15), 16, 10).cast("long")
  }
}
