package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.functions._

/** Embedding-vector math over `array<float>` columns, composed from
  * built-in higher-order array functions (`zip_with`, `aggregate`,
  * `transform`) — codegen-friendly, no UDF serialization, and with a
  * left-to-right fold order that is bit-identical to a sequential sum,
  * so the DuckDB oracle reproduces results exactly.
  *
  * Elements are cast FLOAT→DOUBLE before any arithmetic: the cast is
  * exact and keeps both engines in the same IEEE double domain.
  */
object VectorFunctions {

  /** dot(a, b) — Σ aᵢ·bᵢ, left to right, as a native codegen'd
    * expression (graft.plans.DotProduct).  Numerically identical to
    * the builtin `dotBuiltin`; ~10× faster on the all-pairs path
    * because the loop compiles into whole-stage codegen instead of
    * per-element lambda interpretation.
    */
  def dot(a: Column, b: Column): Column =
    ColumnBridge.column(graft.plans.DotProduct(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** L2 norm — sqrt(Σ aᵢ²) via the native expression. */
  def norm(a: Column): Column =
    ColumnBridge.column(graft.plans.VecNorm(ColumnBridge.expression(a)))

  /** Builtin higher-order-function formulations, kept as the readable
    * reference implementation the custom expressions are tested
    * against (identical IEEE op sequence).
    */
  def dotBuiltin(a: Column, b: Column): Column =
    Folds.sum(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")))

  def normBuiltin(a: Column): Column =
    sqrt(Folds.sum(transform(a, x => x.cast("double") * x.cast("double"))))

  /** Cosine similarity dot/(|a|·|b|), written as
    * `dot / (sqrt(na) * sqrt(nb))` — keep this exact operation order in
    * any oracle SQL so doubles stay bit-identical across engines.
    */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Sign-LSH bucket id from the first `nBits` components:
    * bit i set iff component i+1 > 0.  Axis-aligned hyperplanes rather
    * than random projections so the bucketing is deterministic and
    * oracle-reproducible; swap the component lookup for a stored
    * random-plane dot product in production.  For unit-scale embedding
    * components, sign bits split roughly evenly, giving 2^nBits buckets
    * — the candidate set per probe shrinks by ~2^nBits while recall
    * stays high for near-duplicate vectors (their signs agree).
    */
  def signLshBucket(a: Column, nBits: Int): Column =
    (1 to nBits).map { i =>
      when(element_at(a, i) > 0f, lit(1L << (i - 1))).otherwise(lit(0L))
    }.reduce(_ + _)
}
