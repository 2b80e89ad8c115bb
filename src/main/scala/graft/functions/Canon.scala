package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.lit

/** Canonical rounding for oracle-compared outputs.
  *
  * The correctness gate hash-compares Spark results against DuckDB.
  * Aggregates of fixed-decimal data frequently produce values EXACTLY on a
  * rounding boundary (e.g. the mean of two 6-dp values ends in ...5), and
  * the two engines then round opposite ways: Spark rounds the exact
  * BigDecimal of the double (HALF_UP), DuckDB multiplies by 10^s first and
  * the multiply's own rounding decides the direction. The fix is a tiny
  * epsilon added before rounding ON BOTH SIDES — it shifts every boundary
  * off the representable grid, so both engines see the same side. The
  * epsilon (grid * 1e-3) is far above cross-engine double drift (~1e-12
  * relative) and far below anything semantically meaningful.
  *
  * Import `graft.functions.Canon.round` (an explicit import outranks the
  * `functions._` wildcard) so every `round(c, s)` call site in query code
  * canonicalizes; [[epsifySql]] rewrites the DuckDB oracle the same way.
  */
object Canon {
  private def eps(scale: Int): Double = math.pow(10.0, -scale) * 1e-3

  def round(c: Column, scale: Int): Column =
    org.apache.spark.sql.functions.round(c + lit(eps(scale)), scale)

  /** Scala-side twin of [[round]] for driver-side code (row-wise UDFs,
    * pinned fixtures): same epsilon shift, same HALF_UP. */
  def roundDouble(v: Double, scale: Int): Double =
    BigDecimal(v + eps(scale))
      .setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Rewrite every `round(EXPR, s)` in a DuckDB SQL string to
    * `round(EXPR + eps, s)` via balanced-paren scanning (regex can't nest). */
  def epsifySql(sql: String): String = {
    val out = new StringBuilder(sql)
    var searchFrom = out.length
    while (searchFrom > 0) {
      val i = out.lastIndexOf("round(", searchFrom - 1)
      if (i < 0) searchFrom = 0
      else if (i > 0 && (Character.isLetterOrDigit(out.charAt(i - 1)) ||
          out.charAt(i - 1) == '_')) {
        // identifier merely ENDING in "round" (e.g. around(...)) — not a
        // round() call; skip without rewriting
        searchFrom = i
      } else {
        val open = i + "round(".length - 1
        var depth = 0
        var j = open
        while (j < out.length && (depth != 0 || j == open)) {
          if (out.charAt(j) == '(') depth += 1
          else if (out.charAt(j) == ')') depth -= 1
          j += 1
        }
        val close = j - 1 // index of matching ')'
        val inner = out.substring(open + 1, close)
        val comma = lastTopLevelComma(inner)
        // single-argument round(x) (integer rounding) legitimately takes no
        // epsilon; but a two-argument round whose SCALE isn't an integer
        // literal would silently skip canonicalization — fail loudly there
        if (comma >= 0) {
          val scale = inner.substring(comma + 1).trim.toIntOption
          require(scale.nonEmpty,
            s"epsifySql: round() scale is not an integer literal in oracle " +
              s"SQL: round(${inner.take(80)}...)")
          scale.foreach(s => out.insert(open + 1 + comma, s" + ${eps(s)}"))
        }
        searchFrom = i
      }
    }
    out.toString
  }

  private def lastTopLevelComma(s: String): Int = {
    var depth = 0
    var last = -1
    var i = 0
    while (i < s.length) {
      val ch = s.charAt(i)
      if (ch == '(') depth += 1
      else if (ch == ')') depth -= 1
      else if (ch == ',' && depth == 0) last = i
      i += 1
    }
    last
  }
}
