package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector math over `array<float>` embedding columns, backed by
  * native expressions (CosineSim, DotProduct) so the whole computation
  * stays inside Catalyst/codegen — no UDF serialization, no driver
  * round-trips. Elements are widened to double; accumulation is strict
  * left-to-right, which both Spark and the DuckDB oracle honor.
  */
object Vec {

  /** Cosine similarity, rounded to 6dp for stable cross-engine compare.
    * Backed by the native CosineSim expression (one tight loop per
    * pair): the dot and both norms accumulate in double, strictly left
    * to right, so results are bit-equal to `round(dot/(norm*norm), 6)`
    * over the same doubles. */
  def cosine(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    round(ColumnBridge.column(graft.functions.expressions.CosineSim(
      ColumnBridge.expression(a), ColumnBridge.expression(b))), 6)
  }

  /** Native dot product (one tight codegen loop, double accumulation,
    * strict left-to-right — CosineSim's loop minus the norms). */
  def dotNative(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.functions.expressions.DotProduct(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  /** The norm CosineSim computes internally, as a per-ROW column:
    * `sqrt` of the self-dot, same accumulation order. Precompute this
    * once per side before a pairwise join and use [[cosinePrenormed]]
    * in the O(pairs) hot loop. */
  def normNative(a: Column): Column = sqrt(dotNative(a, a))

  /** Cosine from a per-pair dot and two PRECOMPUTED [[normNative]]
    * norms — bit-equal to [[cosine]] (identical accumulation order,
    * sqrt, multiply, divide, round) at a third of the per-pair
    * arithmetic: the norms are O(rows) instead of O(pairs). */
  def cosinePrenormed(a: Column, b: Column, normA: Column, normB: Column): Column =
    round(dotNative(a, b) / (normA * normB), 6)
}
