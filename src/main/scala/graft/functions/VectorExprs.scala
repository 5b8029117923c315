package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Custom Catalyst expression for the embedding dot product — the innermost
  * loop of every similarity/ANN/clustering operator (SURVEY preference order
  * (b): native Expression with codegen beats HOF trees beats UDFs).
  *
  * Why custom: the `aggregate(zip_with(a, b, _*_), 0.0, _+_)` formulation
  * allocates an intermediate products array per row and evaluates its lambdas
  * interpreted, per element. This expression emits one static call doing the
  * whole fused multiply-accumulate in a primitive loop — no allocation, no
  * per-element lambda dispatch — while computing the IDENTICAL sequential
  * double accumulation (same order, same casts), so results stay bit-equal
  * to the HOF form and the DuckDB oracles are unaffected.
  *
  * Null/ragged contract (same as the fixture data guarantees): elements
  * non-null, equal lengths; a shorter side truncates the loop.
  */
object VectorExprs {

  def dotData(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      acc += x * y
      i += 1
    }
    acc
  }

  def distSqData(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      val d = x - y
      acc += d * d
      i += 1
    }
    acc
  }

  private def isFloatArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _)  => true
    case ArrayType(DoubleType, _) => false
    case other => throw new IllegalArgumentException(
      s"vec_dot expects array<float|double>, got $other")
  }

  /** Analysis-time type validation (shared by both expressions) — a wrong
    * input should be an AnalysisException, not a codegen-time crash.
    */
  private def checkVecInputs(name: String, l: Expression, r: Expression): TypeCheckResult =
    (l.dataType, r.dataType) match {
      case (ArrayType(FloatType | DoubleType, _), ArrayType(FloatType | DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$name expects two array<float|double> inputs, got " +
          s"${l.dataType.catalogString} and ${r.dataType.catalogString}")
    }

  /** dot(a, b) over array<float|double> columns, double-precision result. */
  case class DotProductExpr(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def checkInputDataTypes(): TypeCheckResult =
      checkVecInputs(prettyName, left, right)
    private lazy val lFloat = isFloatArray(left)
    private lazy val rFloat = isFloatArray(right)

    override def nullSafeEval(l: Any, r: Any): Any =
      dotData(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData], lFloat, rFloat)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (c1, c2) =>
        s"${ev.value} = graft.functions.VectorExprs.dotData($c1, $c2, $lFloat, $rFloat);")

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(newLeft, newRight)
    override def prettyName: String = "vec_dot"
  }

  // Closed-form rot90 source cell (numpy convention) of output cell (r, c);
  // k must be 1..3 (the builders short-circuit k≡0 to the child).
  @inline private def srcRow(r: Int, c: Int, n: Int, k: Int): Int = k match {
    case 1 => c                // out[r][c] = in[c][n-1-r]
    case 2 => n - 1 - r
    case _ => n - 1 - c        // k = 3: out[r][c] = in[n-1-c][r]
  }
  @inline private def srcCol(r: Int, c: Int, n: Int, k: Int): Int = k match {
    case 1 => n - 1 - r
    case 2 => n - 1 - c
    case _ => r
  }

  /** Flat 90°·k rotation of an n×n grid stored row-major — the same index
    * maps as [[rot90Grid]] (numpy rot90 convention), as one primitive copy
    * loop over the flat array.
    */
  def rot90Data(a: ArrayData, n: Int, k: Int, isFloat: Boolean): ArrayData = {
    val sz = n * n
    require(a.numElements() >= sz,
      s"grid_rot90: need $sz elements for an ${n}x$n grid, got ${a.numElements()}")
    if (isFloat) {
      val out = new Array[Float](sz)
      var p = 0
      while (p < sz) {
        val r = p / n; val c = p % n
        out(p) = a.getFloat(srcRow(r, c, n, k) * n + srcCol(r, c, n, k)); p += 1
      }
      UnsafeArrayData.fromPrimitiveArray(out)
    } else {
      val out = new Array[Double](sz)
      var p = 0
      while (p < sz) {
        val r = p / n; val c = p % n
        out(p) = a.getDouble(srcRow(r, c, n, k) * n + srcCol(r, c, n, k)); p += 1
      }
      UnsafeArrayData.fromPrimitiveArray(out)
    }
  }

  /** Nested 90°·k rotation of an n×n grid stored as array<array<T>>, with
    * the semantics of the closed-form `element_at(element_at(m, r1), c1)`
    * map it replaces: a null grid, row or cell reads as a null cell, cells
    * past column/row n are ignored, and an index past an array's end throws
    * INVALID_ARRAY_INDEX_IN_ELEMENT_AT when `failOnError` (ANSI) and reads
    * as null otherwise. A dense grid — n non-null rows of at least n non-null
    * cells, the only shape the pipeline writes — takes one primitive copy
    * loop per output row.
    */
  def rot90Grid(m: ArrayData, n: Int, k: Int, isFloat: Boolean,
                failOnError: Boolean): ArrayData = {
    val rows = denseRows(m, n)
    val out = new Array[Any](n)
    var r = 0
    while (r < n) {
      out(r) =
        if (rows == null) rot90RowChecked(m, n, k, r, isFloat, failOnError)
        else if (isFloat) {
          val o = new Array[Float](n)
          var c = 0
          while (c < n) { o(c) = rows(srcRow(r, c, n, k)).getFloat(srcCol(r, c, n, k)); c += 1 }
          UnsafeArrayData.fromPrimitiveArray(o)
        } else {
          val o = new Array[Double](n)
          var c = 0
          while (c < n) { o(c) = rows(srcRow(r, c, n, k)).getDouble(srcCol(r, c, n, k)); c += 1 }
          UnsafeArrayData.fromPrimitiveArray(o)
        }
      r += 1
    }
    new GenericArrayData(out)
  }

  /** The first n rows of `m` if each is non-null with n non-null leading
    * cells, else null (the cell-by-cell path then keeps the null and
    * out-of-bounds semantics).
    */
  private def denseRows(m: ArrayData, n: Int): Array[ArrayData] = {
    if (m == null || m.numElements() < n) return null
    val rows = new Array[ArrayData](n)
    var i = 0
    while (i < n) {
      if (m.isNullAt(i)) return null
      val row = m.getArray(i)
      if (row.numElements() < n) return null
      var c = 0
      while (c < n) { if (row.isNullAt(c)) return null; c += 1 }
      rows(i) = row
      i += 1
    }
    rows
  }

  private def rot90RowChecked(m: ArrayData, n: Int, k: Int, r: Int, isFloat: Boolean,
                              failOnError: Boolean): ArrayData = {
    // element_at(a, i + 1) on a non-null array: null past the end unless ANSI
    def inBounds(a: ArrayData, i: Int): Boolean =
      i < a.numElements() || (failOnError &&
        (throw GraftColumnBridge.elementAtIndexError(i + 1, a.numElements())))
    val o = new Array[Any](n)
    var c = 0
    while (c < n) {
      val sr = srcRow(r, c, n, k)
      val sc = srcCol(r, c, n, k)
      if (m != null && inBounds(m, sr) && !m.isNullAt(sr)) {
        val row = m.getArray(sr)
        if (inBounds(row, sc) && !row.isNullAt(sc))
          o(c) = if (isFloat) row.getFloat(sc) else row.getDouble(sc)
      }
      c += 1
    }
    new GenericArrayData(o)
  }

  /** grid_rot90(grid, n, k): the rot90 permutation as one codegen'd call,
    * over a row-major flat array<float|double> or a nested
    * array<array<float|double>> — no reshape/flatten or nested-transform HOF
    * tree (the flat HOF form cost ~9× the scan at sf0.1 — measured; this is
    * the vec_dot story again). Pure permutation: results are bit-equal to the
    * HOF forms. The nested result has the HOF form's type (non-null outer
    * array of rows whose cells may be null); `failOnError` is captured from
    * the session's ANSI setting at construction, as `element_at` does.
    */
  case class GridRot90Expr(child: Expression, n: Int, k: Int,
                           failOnError: Boolean = SQLConf.get.ansiEnabled)
      extends UnaryExpression {
    require(n > 0 && k >= 1 && k <= 3, s"grid_rot90: bad n=$n k=$k")
    private lazy val nested = child.dataType match {
      case ArrayType(_: ArrayType, _) => true
      case _ => false
    }
    private lazy val elem = child.dataType match {
      case ArrayType(ArrayType(e, _), _) => e
      case ArrayType(e, _) => e
      case other => other
    }
    private lazy val isFloat = elem == FloatType
    override def checkInputDataTypes(): TypeCheckResult =
      if (elem == FloatType || elem == DoubleType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects array<float|double> or array<array<float|double>>, " +
          s"got ${child.dataType.catalogString}")
    override def dataType: DataType =
      if (nested) ArrayType(ArrayType(elem, containsNull = true), containsNull = false)
      else child.dataType
    override def nullable: Boolean = !nested && child.nullable
    // failOnError only steers the nested path's ragged grids; left out of
    // the plan text, which stays `grid_rot90(child, n, k)`
    override protected def stringArgs: Iterator[Any] = Iterator(child, n, k)

    override def eval(input: InternalRow): Any = {
      val a = child.eval(input).asInstanceOf[ArrayData]
      if (nested) rot90Grid(a, n, k, isFloat, failOnError)
      else if (a == null) null
      else rot90Data(a, n, k, isFloat)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      if (!nested) nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.VectorExprs.rot90Data($c, $n, $k, $isFloat);")
      else {
        val c = child.genCode(ctx)
        ev.copy(code = code"""
          |${c.code}
          |${CodeGenerator.javaType(dataType)} ${ev.value} =
          |  graft.functions.VectorExprs.rot90Grid(${c.isNull} ? null : ${c.value},
          |    $n, $k, $isFloat, $failOnError);""".stripMargin, isNull = FalseLiteral)
      }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
    override def prettyName: String = "grid_rot90"
  }

  /** Σ(aᵢ−bᵢ)² — the assignment loop of IVF/k-means, same fused-loop and
    * bit-equality contract as [[DotProductExpr]] (the HOF form computes
    * (x−y)*(x−y) per element in the same sequential order).
    */
  case class L2DistSqExpr(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def checkInputDataTypes(): TypeCheckResult =
      checkVecInputs(prettyName, left, right)
    private lazy val lFloat = isFloatArray(left)
    private lazy val rFloat = isFloatArray(right)

    override def nullSafeEval(l: Any, r: Any): Any =
      distSqData(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData], lFloat, rFloat)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (c1, c2) =>
        s"${ev.value} = graft.functions.VectorExprs.distSqData($c1, $c2, $lFloat, $rFloat);")

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(newLeft, newRight)
    override def prettyName: String = "vec_dist_sq"
  }

  /** Product-quantization encode: nearest-codeword index per subspace, as
    * one primitive triple loop. `cb` is the flat codebook —
    * `cb((s·ksub + w)·sub + i)` = dim i of codeword w in subspace s.
    * Distances compare on the 1e-6 integer grid (Math.round, exact for the
    * non-negative squared distances here) with the LOWEST codeword index
    * winning ties, so a vector's code is identical under any partitioning.
    */
  def pqEncodeData(a: ArrayData, m: Int, ksub: Int, cb: Array[Double],
                   isFloat: Boolean): ArrayData = {
    val sub = cb.length / (m * ksub)
    val out = new Array[Int](m)
    var s = 0
    while (s < m) {
      var bestW = 0
      var bestQ = Long.MaxValue
      var w = 0
      while (w < ksub) {
        var d2 = 0.0
        var i = 0
        val base = (s * ksub + w) * sub
        val off = s * sub
        while (i < sub) {
          val x = if (isFloat) a.getFloat(off + i).toDouble else a.getDouble(off + i)
          val d = x - cb(base + i)
          d2 += d * d
          i += 1
        }
        val q = Math.round(d2 * 1e6)
        if (q < bestQ) { bestQ = q; bestW = w }
        w += 1
      }
      out(s) = bestW
      s += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** pq_encode(x): code array<int> of length m — the codegen'd form of the
    * unrolled m·ksub·(dim/m) literal-distance argmin tree, which at 8×16×8
    * terms exceeds janino's method limit and falls back to interpreted
    * eval. One reference-object codebook + one fused loop instead.
    */
  case class PqEncodeExpr(child: Expression, m: Int, ksub: Int,
                          cb: Array[Double]) extends UnaryExpression {
    require(m > 0 && ksub > 0 && cb.length % (m * ksub) == 0,
      s"pq_encode: codebook length ${cb.length} must be m*ksub*sub")
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects array<float|double>, got ${other.catalogString}")
    }
    private lazy val isFloat = isFloatArray(child)

    override def nullSafeEval(a: Any): Any =
      pqEncodeData(a.asInstanceOf[ArrayData], m, ksub, cb, isFloat)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val cbRef = ctx.addReferenceObj("pqCodebook", cb, "double[]")
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.VectorExprs.pqEncodeData($c, $m, $ksub, $cbRef, $isFloat);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
    override def prettyName: String = "pq_encode"
  }

  /** All `bands` sign-LSH band signatures of a vector in one fused pass —
    * the signature stage of the scalable NSW build (NswGraph). Semantics
    * are IDENTICAL to the HOF formulation (ascending-d double fold from
    * 0.0 per plane, sign bit = proj ≥ 0, band sig = Σ bit·2^pos with exact
    * small-power weights), so results stay bit-equal and the DuckDB oracle
    * is unaffected; what changes is dim·bands·rbits interpreted lambda
    * dispatches per row becoming one primitive loop.
    */
  def lshBandSigsData(a: ArrayData, isFloat: Boolean, bands: Int, rbits: Int,
                      dim: Int, seed: Long): ArrayData = {
    require(a.numElements() >= dim,
      s"lsh_band_sigs: need $dim elements, got ${a.numElements()}")
    val out = new Array[Long](bands)
    var b = 0
    var j = 0L
    while (b < bands) {
      var sig = 0L
      var i = 0
      while (i < rbits) {
        var acc = 0.0
        var d = 0
        while (d < dim) {
          val x = if (isFloat) a.getFloat(d).toDouble else a.getDouble(d)
          val s = if (Hashes.mulHashLong(j * 4096L + d, seed) % 2 == 0) 1.0 else -1.0
          acc += x * s
          d += 1
        }
        if (acc >= 0) sig += (1L << i)
        i += 1
        j += 1
      }
      out(b) = sig
      b += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** lsh_band_sigs(vec): array<long> of the `bands` band signatures. */
  case class LshBandSigsExpr(child: Expression, bands: Int, rbits: Int,
                             dim: Int, seed: Long) extends UnaryExpression {
    require(bands > 0 && rbits > 0 && rbits < 63 && dim > 0)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects array<float|double>, got ${other.catalogString}")
    }
    private lazy val isFloat = isFloatArray(child)

    override def nullSafeEval(a: Any): Any =
      lshBandSigsData(a.asInstanceOf[ArrayData], isFloat, bands, rbits, dim, seed)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.VectorExprs.lshBandSigsData($c, $isFloat, $bands, $rbits, $dim, ${seed}L);")

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
    override def prettyName: String = "lsh_band_sigs"
  }
}
