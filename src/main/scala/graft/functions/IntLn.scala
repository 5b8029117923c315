package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.expr

/** Fixed-point natural log of a positive BIGINT column in pure INTEGER
  * arithmetic — the q465/q468 ULP hardening.
  *
  * The prior discipline (quantize `ln()` once at e6/e9) leaves one residual
  * hash risk: if a JVM-vs-DuckDB libm ULP divergence lands exactly on a
  * rounding boundary for any point, the quantized value flips on one engine
  * only. This module removes libm from the comparison path entirely:
  *
  *   ln(v) = b·ln2 + 2·atanh(z),  b = floor(log2 v),  m = v/2^b ∈ [1,2),
  *   z = (m−1)/(m+1) ∈ [0,1/3],  atanh(z) = z + z³/3 + z⁵/5 + …
  *
  * evaluated in e12 fixed point with truncating integer division at every
  * step, the series cut after z¹⁷ (tail ≤ 2·z¹⁹/19 < 1e-10 — under both the
  * e6 and e9 output quanta). Both engines render the SAME step list — only
  * the spellings of big-int cast, shift, binary-length, and integer
  * division differ — so the result is bit-identical BY CONSTRUCTION, not by
  * libm agreement. The value may differ from round(ln(v)·1eK) by one last
  * digit in rare spots; that is the operator's defined semantics and the
  * oracle mirrors it exactly.
  *
  * Overflow audit (inputs v ≥ 1, BIGINT): every product runs in
  * HUGEINT/decimal(38,0) — v·1e12 ≤ 9.2e30, (m−1e12)·1e12 ≤ 1e24,
  * z·z ≤ 1.2e23 — all inside 38 digits; every division RESULT ≤ 2e12 fits
  * BIGINT (Spark's `div` returns BIGINT).
  */
object IntLn {

  /** ln2 · 1e12, nearest — one shared literal, never recomputed. */
  val Ln2E12 = 693147180560L

  private val E12 = "1000000000000"

  /** The shared step list. Placeholders rendered per engine:
    * `big(x)` wide-integer cast, `shl(b)` 1<<b, `idiv` truncating integer
    * division, `blen(v)` binary digit count. Each step may reference prior
    * step columns (same prefix).
    */
  private def steps(v: String, p: String, big: String => String,
                    shl: String => String, idiv: String,
                    blen: String => String): Seq[(String, String)] = {
    def t(zk: String, k: Int) = s"${p}$zk $idiv $k"
    Seq(
      s"${p}b" -> s"(${blen(v)} - 1)",
      s"${p}m" -> s"(${big(v)} * $E12 $idiv ${big(shl(s"${p}b"))})",
      s"${p}z" -> s"(${big(s"${p}m - $E12")} * $E12 $idiv ${big(s"${p}m + $E12")})",
      s"${p}z2" -> s"(${big(s"${p}z")} * ${p}z $idiv $E12)",
      s"${p}z3" -> s"(${big(s"${p}z2")} * ${p}z $idiv $E12)",
      s"${p}z5" -> s"(${big(s"${p}z3")} * ${p}z2 $idiv $E12)",
      s"${p}z7" -> s"(${big(s"${p}z5")} * ${p}z2 $idiv $E12)",
      s"${p}z9" -> s"(${big(s"${p}z7")} * ${p}z2 $idiv $E12)",
      s"${p}z11" -> s"(${big(s"${p}z9")} * ${p}z2 $idiv $E12)",
      s"${p}z13" -> s"(${big(s"${p}z11")} * ${p}z2 $idiv $E12)",
      s"${p}z15" -> s"(${big(s"${p}z13")} * ${p}z2 $idiv $E12)",
      s"${p}z17" -> s"(${big(s"${p}z15")} * ${p}z2 $idiv $E12)",
      // plain integer literal: > int32 so BOTH parsers type it BIGINT
      s"${p}ln_e12" -> (s"(${p}b * $Ln2E12 + 2 * (${p}z + ${t("z3", 3)}" +
        s" + ${t("z5", 5)} + ${t("z7", 7)} + ${t("z9", 9)} + ${t("z11", 11)}" +
        s" + ${t("z13", 13)} + ${t("z15", 15)} + ${t("z17", 17)}))")
    )
  }

  /** DuckDB: wrap `inner` (a SELECT producing column `v`, plus any
    * carry-through columns) in nested SELECTs adding `<prefix>ln_e12`.
    */
  def duckNest(inner: String, v: String, prefix: String): String =
    steps(v, prefix,
      big = x => s"CAST($x AS HUGEINT)",
      shl = b => s"(CAST(1 AS BIGINT) << $b)",
      idiv = "//",
      blen = x => s"length(format('{:b}', $x))")
      .foldLeft(inner) { case (acc, (name, e)) =>
        s"SELECT *, $e AS $name FROM ($acc)"
      }

  /** Spark: add the same step columns to `df` (input column `v` BIGINT). */
  def sparkCols(df: DataFrame, v: String, prefix: String): DataFrame =
    steps(v, prefix,
      big = x => s"cast($x as decimal(38,0))",
      shl = b => s"shiftleft(cast(1 as bigint), cast($b as int))",
      idiv = "div",
      blen = x => s"length(bin($x))")
      .foldLeft(df) { case (d, (name, e)) => d.withColumn(name, expr(e)) }

  /** Rounded e6 quantization of a `<prefix>ln_e12` column — engine-neutral
    * (pure BIGINT ops, spelled with the caller's idiv).
    */
  def roundE6(prefix: String, idiv: String): String =
    s"((${prefix}ln_e12 + 500000) $idiv 1000000)"
}
