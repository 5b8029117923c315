package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Builders for the reference's array/tensor operators (SURVEY §2 rows
  * 32-37). Each compiles to a Catalyst `transform` / `aggregate` tree or a
  * codegen'd expression over `ArrayType` columns — no explode, no UDF, so a
  * 16×16 grid op costs one projection, not a 256× row blow-up.
  */
object Tensors {

  /** 90°·k counter-clockwise rotation of an n×n grid (reference
    * `np.rot90(m, k, axes=(1,2))`, create_train_valid_test_datasets.py:72-74),
    * stored either as array<array<T>> or row-major flat array<T>, T float or
    * double. One codegen'd copy loop (functions/VectorExprs.GridRot90Expr)
    * with the closed-form index map per k: no `transform` tree, and the grid
    * expression is evaluated once per row, so an inline (unmaterialized) grid
    * costs nothing extra. Bit-equal to the nested closed-form
    * `transform`/`element_at` rotation, null cells and ANSI out-of-bounds
    * errors included. k ≡ 0 (mod 4) returns the grid itself.
    */
  def rot90(grid: Column, n: Int, k: Int): Column = {
    require(n > 0)
    ((k % 4) + 4) % 4 match {
      case 0 => grid
      case kk =>
        import org.apache.spark.sql.GraftColumnBridge
        GraftColumnBridge.column(VectorExprs.GridRot90Expr(
          GraftColumnBridge.expression(grid), n, kk))
    }
  }

  /** [[rot90]] on a row-major flat grid: bit-equal to
    * `flatten(rot90(reshape(flat, n, n), n, k))`.
    */
  def rot90Flat(flat: Column, n: Int, k: Int): Column = rot90(flat, n, k)

  /** Matrix transpose via nested transform (reference dataset.py:11 axis swap). */
  def transposeGrid(matrix: Column, n: Int): Column =
    transform(sequence(lit(0), lit(n - 1)), j =>
      transform(sequence(lit(0), lit(n - 1)), i =>
        element_at(element_at(matrix, i + 1), j + 1)))

  /** One-hot encode an int label into a float array of width nClass
    * (reference dataset.py:12).
    */
  def oneHot(label: Column, nClass: Int): Column =
    transform(sequence(lit(0), lit(nClass - 1)), c =>
      when(label === c, 1.0).otherwise(0.0))

  /** 0-based argmax of an array (reference torch.argmax, tools.py:26).
    * First-match semantics on ties, like numpy/torch.
    */
  def argmax(arr: Column): Column =
    (array_position(arr, array_max(arr)) - 1).cast("int")

  /** Reshape a flat array into rows of `width` (reference .reshape(N,16,16)). */
  def reshape(flat: Column, rows: Int, width: Int): Column =
    transform(sequence(lit(0), lit(rows - 1)), r =>
      slice(flat, r * width + 1, lit(width)))

  /** Dot product of two float arrays via zip_with + aggregate — the
    * similarity-search kernel. Accumulates in double, sequential fold
    * (deterministic, oracle-replayable).
    */
  def dot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(VectorExprs.DotProductExpr(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
  }

  /** The pure-HOF dot formulation `dot` replaces (kept for the equivalence
    * test: identical sequential accumulation, so bit-equal results).
    */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** Squared L2 distance Σ(aᵢ−bᵢ)² (codegen'd fused loop). */
  def distSq(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(VectorExprs.L2DistSqExpr(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
  }

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity in double precision. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))
}
