package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One family of driver-contract queries: name -> builder, plus the
  * DuckDB oracle SQL for the SQL-expressible ones (rows-only checks
  * simply omit the oracle entry).
  *
  * Conventions shared by every pack so the driver's hash compare is
  * stable across engines:
  *   - every float-valued output is `round(x, N)` with the same N in
  *     both the Spark code and the oracle SQL;
  *   - every timestamp output is formatted to a microsecond string
  *     (`yyyy-MM-dd HH:mm:ss.SSSSSS` / `%Y-%m-%d %H:%M:%S.%f`), so
  *     tz-awareness and parquet physical types can never diverge;
  *   - column names are aliased identically on both sides.
  */
trait QueryPack {
  def defs: Map[String, (SparkSession, String) => DataFrame]
  def oracles: Map[String, String]

  /** Timestamp -> canonical microsecond string (oracle: strftime %f). */
  protected def fmtTs(c: Column): Column =
    date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS")
  /** [[fmtTs]]' format in the oracle SQL (DuckDB `strftime`). */
  protected final val fmt = "%Y-%m-%d %H:%M:%S.%f"
  /** Timestamp -> canonical date string (oracle: strftime %Y-%m-%d). */
  protected def fmtDay(c: Column): Column = date_format(c, "yyyy-MM-dd")

  /** Boundary-shifted decimal rounding: floor(x*10^s + 0.5001)/10^s.
    *
    * Plain round() is a trap for cross-engine comparison: Spark rounds
    * the shortest decimal repr (BigDecimal.valueOf) while DuckDB rounds
    * the binary value, so the two disagree exactly on decimal
    * half-boundaries — and synthetic data (2-dp values scaled by nice
    * factors) lands on those boundaries systematically. Shifting the
    * cut to .4999 puts it where neither decimal-exact values nor
    * sum-order ulp noise ever sits. The oracle SQL uses the identical
    * formula.
    */
  protected def rN(c: Column, scale: Int): Column = {
    val p = math.pow(10.0, scale)
    floor(c * p + 0.5001) / p
  }
  protected def r4(c: Column): Column = rN(c, 4)
  protected def r6(c: Column): Column = rN(c, 6)

  /** The Knuth hash ([[graft.mix.Mix.hashU32]]), verbatim in
    * overflow-free SQL — bit-identical to the Spark column for the
    * FULL int64 id domain. The id is normalized to [0, 2^32) with a
    * non-negative mod first (DuckDB's `%` is C-style and goes negative
    * for negative ids) and the multiply is split at 16 bits (DuckDB
    * RAISES on int64 overflow rather than wrapping, and the naive
    * `id * C` overflows past id ≈ 3.47e9).
    */
  protected def hashU32Sql(idExpr: String): String = {
    val idn = s"((($idExpr) % 4294967296 + 4294967296) % 4294967296)"
    s"(((($idn // 65536) * 2654435761) % 65536) * 65536 + ($idn % 65536) * 2654435761) % 4294967296"
  }

  /** [[graft.mix.Mix.hashMix32]] verbatim in SQL: xor-shift, multiply
    * mod 2^32, twice over, final xor-shift — max intermediate ≈ 3.1e17,
    * no overflow in int64 (the CAST pins BIGINT arithmetic; DuckDB
    * would otherwise overflow an INT32 multiply).
    */
  protected def hashMix32Sql(keyExpr: String): String = {
    val k0 = s"(((CAST($keyExpr AS BIGINT)) % 4294967296 + 4294967296) % 4294967296)"
    val s1 = s"((xor($k0, $k0 >> 16) * CAST(73244475 AS BIGINT)) % 4294967296)"
    val s2 = s"((xor($s1, $s1 >> 16) * CAST(73244475 AS BIGINT)) % 4294967296)"
    s"xor($s2, $s2 >> 16)"
  }
}
