package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Pure-expression ports of the reference's scalar physics math
  * (SURVEY §2 rows 22-28). Everything here is a Catalyst expression tree —
  * no UDFs — so it stays inside whole-stage codegen and is pushed/pruned/
  * constant-folded by the optimizer.
  */
object Physics {

  /** k·90° rotation rewrite of (x, y, azimuth°) — reference
    * create_train_valid_test_datasets.py:57-68 `rotate_x_y_Az`:
    * k=1: (x,y)→(-x,y); k=2: (x,y)→(-x,-y); k=3: (x,y)→(x,-y);
    * azimuth += 90k wrapped into [0,360).
    */
  def rotateX(x: Column, n90: Int): Column =
    if (n90 == 1 || n90 == 2) -x else x

  def rotateY(y: Column, n90: Int): Column =
    if (n90 == 2 || n90 == 3) -y else y

  def rotateAz(az: Column, n90: Int): Column =
    pmod(az + lit(90.0 * n90), lit(360.0))

  /** Spherical (zenith°, azimuth°) → cartesian unit direction; latitude
    * convention is 90−zenith (reference create_train_valid_test_datasets.py:96-101).
    */
  def dirX(zenith: Column, azimuth: Column): Column =
    cos(radians(lit(90.0) - zenith)) * cos(radians(azimuth))
  def dirY(zenith: Column, azimuth: Column): Column =
    cos(radians(lit(90.0) - zenith)) * sin(radians(azimuth))
  def dirZ(zenith: Column): Column =
    sin(radians(lit(90.0) - zenith))

  /** Inverse: cartesian → zenith°, reconstructing
    * z = sqrt(1−x²−y²) (reference create_train_valid_test_datasets.py:104-110).
    */
  def zenithOf(x: Column, y: Column): Column =
    lit(90.0) - degrees(atan2(sqrt(lit(1.0) - x * x - y * y), sqrt(x * x + y * y)))

  /** Standard scaling (x−μ)/σ with *fitted* literals — the broadcast-stats
    * apply step (reference train_classification.py:193-200). Stats are
    * collected once and folded in as constants (SURVEY §2 row 16).
    */
  def standardScale(x: Column, mu: Double, sigma: Double): Column =
    (x - lit(mu)) / lit(sigma)

  /** Min-max scaling (x−min)/(max−min) (reference train_classification.py:179,184). */
  def minMaxScale(x: Column, mn: Double, mx: Double): Column =
    (x - lit(mn)) / lit(mx - mn)

  /** log(x+1) transform for heavy-tailed channels (reference
    * train_classification.py:185,194). Deliberately `log(x + 1)` — the same
    * IEEE expression the DuckDB oracles state as `ln(x + 1)` — NOT `log1p`:
    * they are different libm functions whose last-ulp differences flip
    * integer-quantized rows at round(x*1e6) half-way boundaries (the q49
    * r2/r3 hash flip). The log1p accuracy advantage only matters for |x|≪1,
    * which these heavy-tailed channels never are.
    */
  def log1pScale(x: Column): Column = log(x + lit(1.0))

  /** Sigmoid over a linear score — the logistic-regression head as a pure
    * expression (reference train_classification.py:282, tools.py:24).
    */
  def sigmoid(z: Column): Column = lit(1.0) / (lit(1.0) + exp(-z))

  /** Linear model z = b + Σ wᵢ·xᵢ with literal-folded weights (SURVEY §2 rows 28,45). */
  def linearScore(bias: Double, terms: Seq[(Column, Double)]): Column =
    terms.foldLeft(lit(bias): Column) { case (acc, (c, w)) => acc + c * lit(w) }
}
