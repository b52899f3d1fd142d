package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `array<float>` embedding columns, built from Spark's
  * codegen'd higher-order functions (no UDFs).
  *
  * Cross-engine determinism: floats are scaled to BIGINT (×1e6, round) first,
  * so dot products and norms are exact integer arithmetic — identical in any
  * evaluation order and in the DuckDB oracle — and only the final
  * cosine division happens in (deterministic, single-op) double math.
  * At 100 TB this also shrinks shuffle payloads (longs pack tighter than a
  * struct of partial float sums) and keeps everything inside whole-stage
  * codegen.
  */
object VectorFunctions {

  /** `array<float>` → `array<bigint>` scaled by 1e6. */
  def intVec(c: String): Column =
    expr(s"transform($c, x -> cast(round(cast(x as double) * 1000000) as bigint))")

  /** Exact integer dot product of two scaled vectors — the codegen'd
    * [[graft.expressions.LongDot]] native expression (registered by
    * [[graft.Session.setup]]); ~20× the interpreted
    * `aggregate(zip_with(...))` equivalent on pair joins. */
  def dotL(a: String, b: String): Column =
    expr(s"graft_long_dot($a, $b)")

  /** Exact integer squared norm. */
  def normL(a: String): Column = dotL(a, a)

  /** Cosine from exact integer dot/norms (double math only at the end). */
  def cosine(dot: Column, na: Column, nb: Column): Column =
    dot.cast("double") / (sqrt(na.cast("double")) * sqrt(nb.cast("double")))

  /** DuckDB oracle fragment: scaled BIGINT vector of list column `c`. */
  def sqlIntVec(c: String): String =
    s"list_transform($c, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"
}
