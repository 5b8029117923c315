package graft

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{ChannelStats, Tensors}

/** The pipeline's grid kernels: the codegen'd nested `rot90` against the
  * `transform`/`element_at` form it replaced, `channel_stats` reading
  * `flatten(grid)` in place against the flat column, and the pinned
  * `PipelineDemo` synthesis.
  */
class GridKernelSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def gridType(elem: DataType) =
    ArrayType(ArrayType(elem, containsNull = true), containsNull = true)

  /** `rows` as a one-column `m` frame, either a local relation (the
    * optimizer folds projections over it, interpreted) or a one-partition
    * RDD scan (projections run whole-stage codegen'd).
    */
  private def frame(rows: Seq[Any], elem: DataType, codegen: Boolean): DataFrame = {
    val schema = StructType(Seq(StructField("m", gridType(elem))))
    val data = rows.map(Row(_))
    if (codegen) spark.createDataFrame(spark.sparkContext.parallelize(data, 1), schema)
    else spark.createDataFrame(java.util.Arrays.asList(data: _*), schema)
  }

  private def grid(n: Int, seed: Int, isFloat: Boolean): Seq[Seq[Any]] = {
    val rnd = new scala.util.Random(seed)
    val special = Seq(-0.0, Double.NaN, Double.PositiveInfinity, 1e-300)
    Seq.tabulate(n, n) { (i, j) =>
      val v = if ((i * n + j + seed) % 7 == 3) special((i + j + seed) % 4) else rnd.nextGaussian()
      if (isFloat) v.toFloat else v
    }
  }

  private def bits(v: Any): Any = v match {
    case f: Float => java.lang.Float.floatToRawIntBits(f)
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case s: scala.collection.Seq[_] => s.map(bits)
    case other => other
  }

  private def rootCause(e: Throwable): Throwable = {
    var t = e
    while (t.getCause != null && !t.isInstanceOf[SparkThrowable]) t = t.getCause
    t
  }

  test("nested rot90 is bit-equal to the transform/element_at form for k in -5..5") {
    for (isFloat <- Seq(true, false); n <- Seq(1, 2, 3, 16); codegen <- Seq(false, true)) {
      val elem = if (isFloat) FloatType else DoubleType
      val df = frame((0 until 4).map(s => grid(n, s, isFloat)), elem, codegen)
      for (k <- -5 to 5) {
        val out = df.select(Tensors.rot90(col("m"), n, k).as("fast"),
          Rot90Reference.rot90(col("m"), n, k).as("hof"))
        val what = s"n=$n k=$k float=$isFloat codegen=$codegen"
        if (Math.floorMod(k, 4) != 0)
          assert(out.schema("fast") == out.schema("hof").copy(name = "fast"), what)
        out.collect().foreach(r => assert(bits(r.get(0)) == bits(r.get(1)), what))
      }
    }
  }

  test("nested rot90: null grids, rows and cells give the reference's null cells") {
    val rows = Seq(
      Seq(Seq(1f, 2f, 3f), null, Seq(7f, 8f, 9f)),
      Seq(Seq(1f, null, 3f), Seq(4f, 5f, 6f), Seq(7f, 8f, 9f)),
      null,
      Seq(Seq(1f, 2f, 3f, 99f), Seq(4f, 5f, 6f), Seq(7f, 8f, 9f), Seq(0f)))
    for (codegen <- Seq(false, true); k <- 1 to 3) {
      val out = frame(rows, FloatType, codegen).select(Tensors.rot90(col("m"), 3, k),
        Rot90Reference.rot90(col("m"), 3, k)).collect()
      out.foreach(r => assert(r.get(0) == r.get(1), s"k=$k codegen=$codegen"))
      assert(out(0).getSeq[Seq[Any]](0).flatten.count(_ == null) == 3)
    }
  }

  test("nested rot90: a ragged grid fails as the reference does under ANSI, reads null without") {
    // (row 2 short: index 2 of a 1-element row) and (grid short: row 2 of 1)
    val ragged = Seq(Seq(Seq(1f, 2f), Seq(3f)), Seq(Seq(1f, 2f)))
    // both forms capture the ANSI setting when their expressions are built
    for (setting <- Seq("true", "false"); codegen <- Seq(false, true); g <- ragged)
      Scratch.run(spark, "grid_ansi", "spark.sql.ansi.enabled" -> setting) { _ =>
        val df = frame(Seq(g), FloatType, codegen)
        def run(c: org.apache.spark.sql.Column) =
          try Right(df.select(c).collect().toSeq)
          catch { case e: Exception => Left(rootCause(e)) }
        val fast = run(Tensors.rot90(col("m"), 2, 1))
        val hof = run(Rot90Reference.rot90(col("m"), 2, 1))
        val what = s"ansi=$setting codegen=$codegen grid=$g"
        (fast, hof) match {
          case (Left(a: SparkThrowable), Left(b: SparkThrowable)) =>
            assert(setting == "true", what)
            assert(a.getCondition == "INVALID_ARRAY_INDEX_IN_ELEMENT_AT", what)
            assert(a.getCondition == b.getCondition, what)
            assert(a.getMessageParameters == b.getMessageParameters, what)
          case (Right(a), Right(b)) =>
            assert(setting == "false", what)
            assert(a == b, what)
          case other => fail(s"$what: $other")
        }
      }
  }

  test("train ∪ rotated writes the same parquet schema as with the transform form") {
    Scratch.run(spark, "grid_union") { dir =>
      PipelineDemo.syntheticEvents(spark, 50).write.parquet(s"$dir/events")
      val train = spark.read.parquet(s"$dir/events")
      def footer(rot: (org.apache.spark.sql.Column, Int, Int) => org.apache.spark.sql.Column,
                 name: String): String = {
        val u = train.unionAll(train.withColumn("edep", rot(col("edep"), 16, 1)))
        u.coalesce(1).write.parquet(s"$dir/$name")
        val part = new java.io.File(s"$dir/$name").listFiles.filter(_.getName.startsWith("part-")).head
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(part.getPath), new org.apache.hadoop.conf.Configuration())
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          val meta = reader.getFooter.getFileMetaData
          meta.getSchema.toString + meta.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata")
        } finally reader.close()
      }
      assert(footer(Tensors.rot90, "fast") == footer(Rot90Reference.rot90, "hof"))
    }
  }

  /** 300 rows of a 4×4 grid in both layouts, `grid` and `flat`, one partition. */
  private def layouts(isFloat: Boolean): DataFrame = {
    val elem = if (isFloat) FloatType else DoubleType
    val schema = StructType(Seq(
      StructField("grid", gridType(elem)), StructField("flat", ArrayType(elem))))
    val rows = (0 until 300).map { s =>
      val g = grid(4, s, isFloat).map(_.map {
        case d: Double if d.isNaN => 0.5   // NaN would poison every mean
        case f: Float if f.isNaN => 0.5f
        case v => v
      })
      Row(g, g.flatten)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  private def statBits(df: DataFrame, c: org.apache.spark.sql.Column): Seq[Any] =
    df.agg(ChannelStats.channelStats(c, 16)).head().getSeq[Row](0)
      .map(r => bits(r.toSeq))

  test("channel_stats(flatten(grid)) is bit-equal to channel_stats on the flat column") {
    for (isFloat <- Seq(true, false)) {
      val df = layouts(isFloat)
      assert(statBits(df, flatten(col("grid"))) == statBits(df, col("flat")), s"float=$isFloat")
    }
  }

  test("channel_stats(flatten(grid)) skips rows with a null grid or row and checks length") {
    val schema = StructType(Seq(StructField("grid", gridType(FloatType))))
    def stats(rows: Seq[Any]) = spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map(Row(_)), 1), schema)
      .agg(ChannelStats.channelStats(flatten(col("grid")), 4)).head().getSeq[Row](0)
    val good = Seq(Seq(Seq(1f, 2f), Seq(3f, 4f)), Seq(Seq(5f, 6f), Seq(7f, 8f)))
    // a null row makes flatten(grid) null, even when the lengths are also off
    assert(stats(good ++ Seq(Seq(Seq(9f, 9f), null), Seq(null, Seq(9f)), null)) == stats(good))
    def failure(rows: Seq[Any]): String =
      Iterator.iterate[Throwable](intercept[Exception](stats(rows)))(_.getCause)
        .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    assert(failure(good :+ Seq(Seq(1f, 2f), Seq(3f)))
      .contains("channel_stats(dim=4) got an array of 3 elements"))
    assert(failure(good :+ Seq(Seq(1f, 2f), Seq(3f, 4f, 5f)))
      .contains("channel_stats(dim=4) got an array of 5 elements"))
    assert(failure(good :+ Seq(Seq(1f, 2f), Seq(null, 4f)))
      .contains("channel_stats: null element at index 2"))
  }

  test("PipelineDemo.syntheticEvents(2000) keeps its row count, digest and grid type") {
    val ev = PipelineDemo.syntheticEvents(spark, 2000)
    // the value the per-cell synthesis gave before the draw was hoisted
    val h = ev.agg(count(lit(1)),
      sum(xxhash64(ev.columns.map(col).toIndexedSeq: _*).cast("decimal(38,0)"))).head()
    assert(h.getLong(0) == 2000L)
    assert(h.getDecimal(1) == new java.math.BigDecimal("113673160865547509847"))
    assert(ev.schema("edep") == StructField("edep",
      ArrayType(ArrayType(FloatType, containsNull = true), containsNull = false), nullable = false))
  }
}
