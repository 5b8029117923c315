package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.AvroIngest

/** Avro container contract: schema mapping both directions (incl. nullable
  * unions), full-fidelity value roundtrip across every supported primitive,
  * null handling, and the unsupported-type guard.
  */
class AvroSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("i", IntegerType, nullable = false),
    StructField("d", DoubleType, nullable = false),
    StructField("f", FloatType, nullable = false),
    StructField("s", StringType, nullable = true),
    StructField("b", BooleanType, nullable = false),
    StructField("raw", BinaryType, nullable = true)))

  test("schema maps to avro and back, preserving types and nullability") {
    val avro = AvroIngest.toAvroSchema(schema)
    assert(AvroIngest.toSparkSchema(avro) == schema)
  }

  test("values roundtrip exactly, including nulls and binary") {
    val rows = Seq(
      Row(1L, 7, 2.5, 0.25f, "alpha", true, Array[Byte](1, 2, 3)),
      Row(2L, -1, -0.0, 1e-8f, null, false, null),
      Row(3L, 0, Double.MaxValue, Float.MinPositiveValue, "", true, Array[Byte]()))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    val dir = Files.createTempDirectory("avro_rt").toString + "/out"
    AvroIngest.write(df, dir)
    val back = AvroIngest.read(spark, dir).collect().sortBy(_.getLong(0))
    assert(back.length == 3)
    rows.sortBy(_.getLong(0)).zip(back).foreach { case (exp, got) =>
      (0 until schema.length).foreach { i =>
        (exp.get(i), got.get(i)) match {
          case (a: Array[Byte], b: Array[Byte]) => assert(a.sameElements(b))
          case (a, b) => assert(a == b, s"field $i")
        }
      }
    }
  }

  test("one container per input partition plus a _SUCCESS marker") {
    import spark.implicits._
    val dir = Files.createTempDirectory("avro_parts").toString + "/out"
    AvroIngest.write((1 to 100).toDF("x").repartition(4), dir)
    val files = new java.io.File(dir).listFiles().map(_.getName).sorted
    assert(files.count(_.endsWith(".avro")) == 4, files.mkString(","))
    assert(files.contains("_SUCCESS"))
    // a re-write with fewer partitions replaces the dataset: no container
    // of the first write survives to be read back with it
    AvroIngest.write((1 to 100).toDF("x").repartition(2), dir)
    val again = new java.io.File(dir).listFiles().map(_.getName)
    assert(again.count(_.endsWith(".avro")) == 2, again.mkString(","))
    assert(AvroIngest.read(spark, dir).count() == 100L)
  }

  test("unsupported types fail loudly at schema mapping, not mid-write") {
    val bad = StructType(Seq(StructField("m", MapType(StringType, LongType))))
    intercept[IllegalArgumentException] { AvroIngest.toAvroSchema(bad) }
  }
}
