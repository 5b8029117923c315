package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The nested higher-order-function rotation that `Tensors.rot90` replaced:
  * the closed-form index map per k as one `transform` layer with two
  * `element_at` accesses per output cell. Kept as the equivalence reference
  * for the codegen'd `VectorExprs.GridRot90Expr`.
  */
object Rot90Reference {
  def rot90(m: Column, n: Int, k: Int): Column = {
    require(n > 0)
    def cell(f: (Column, Column) => (Column, Column)): Column =
      transform(sequence(lit(0), lit(n - 1)), r =>
        transform(sequence(lit(0), lit(n - 1)), c => {
          val (row1, col1) = f(r, c) // 1-based
          element_at(element_at(m, row1), col1)
        }))
    ((k % 4) + 4) % 4 match {
      case 0 => m
      case 1 => cell((r, c) => (c + 1, lit(n) - r))          // out[r][c]=m[c][n-1-r]
      case 2 => cell((r, c) => (lit(n) - r, lit(n) - c))     // 180°
      case 3 => cell((r, c) => (lit(n) - c, r + 1))          // out[r][c]=m[n-1-c][r]
    }
  }
}
