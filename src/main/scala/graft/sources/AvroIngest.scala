package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.avro.{Schema, SchemaBuilder}
import org.apache.avro.file.{DataFileReader, DataFileWriter, SeekableByteArrayInput}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Avro container read/write on the avro-core jars (the `spark-avro`
  * DataSource module is not on this classpath, so `format("avro")` is
  * unavailable — this supplies the format the [[NpzIngest]] way instead:
  * whole containers distributed via `binaryFile`, decode/encode on
  * executors, schema embedded in the container header).
  *
  * Scope: flat record schemas over the primitive types the fixture tables
  * use (long/int/double/float/string/boolean/bytes), nullable as avro
  * `[null, T]` unions. Container blocks ARE splittable in principle; this
  * reader distributes at file granularity (like the npz path), which is the
  * honest trade at one-container-per-partition sizes — the idempotent
  * converter to Parquet remains the scale path for repeated scans.
  */
object AvroIngest {

  /** Flat Spark schema → Avro record schema. Nullable fields become
    * `[null, T]` unions (avro's optional), matching Spark nullability.
    */
  def toAvroSchema(schema: StructType, name: String = "row"): Schema = {
    val b = SchemaBuilder.record(name).namespace("graft").fields()
    schema.fields.foreach { f =>
      (f.dataType, f.nullable) match {
        case (LongType, true)     => b.optionalLong(f.name)
        case (LongType, false)    => b.requiredLong(f.name)
        case (IntegerType, true)  => b.optionalInt(f.name)
        case (IntegerType, false) => b.requiredInt(f.name)
        case (DoubleType, true)   => b.optionalDouble(f.name)
        case (DoubleType, false)  => b.requiredDouble(f.name)
        case (FloatType, true)    => b.optionalFloat(f.name)
        case (FloatType, false)   => b.requiredFloat(f.name)
        case (StringType, true)   => b.optionalString(f.name)
        case (StringType, false)  => b.requiredString(f.name)
        case (BooleanType, true)  => b.optionalBoolean(f.name)
        case (BooleanType, false) => b.requiredBoolean(f.name)
        case (BinaryType, true)   => b.optionalBytes(f.name)
        case (BinaryType, false)  => b.requiredBytes(f.name)
        case (other, _) => throw new IllegalArgumentException(
          s"avro ingest supports flat primitive schemas; got $other for '${f.name}'")
      }
    }
    b.endRecord()
  }

  /** Avro record schema → Spark schema ([null, T] unions → nullable). */
  def toSparkSchema(schema: Schema): StructType = {
    def field(s: Schema): (DataType, Boolean) = s.getType match {
      case Schema.Type.UNION =>
        val nonNull = s.getTypes.asScala.filter(_.getType != Schema.Type.NULL)
        require(nonNull.size == 1, s"unsupported union: $s")
        (field(nonNull.head)._1, true)
      case Schema.Type.LONG    => (LongType, false)
      case Schema.Type.INT     => (IntegerType, false)
      case Schema.Type.DOUBLE  => (DoubleType, false)
      case Schema.Type.FLOAT   => (FloatType, false)
      case Schema.Type.STRING  => (StringType, false)
      case Schema.Type.BOOLEAN => (BooleanType, false)
      case Schema.Type.BYTES   => (BinaryType, false)
      case other => throw new IllegalArgumentException(s"unsupported avro type: $other")
    }
    StructType(schema.getFields.asScala.map { f =>
      val (dt, nullable) = field(f.schema())
      StructField(f.name(), dt, nullable)
    }.toArray)
  }

  /** Distributed write: one avro container per partition under `dest`, plus
    * a `_SUCCESS` marker. Encoding runs on executors; the driver only
    * coordinates and stamps the marker. An existing `dest` is replaced.
    */
  def write(df: DataFrame, dest: String): Unit = {
    val fs = new Path(dest).getFileSystem(
      df.sparkSession.sparkContext.hadoopConfiguration)
    // containers of an earlier write with more partitions would otherwise
    // survive and be read back with this one
    fs.delete(new Path(dest), true)
    val avroJson = toAvroSchema(df.schema).toString
    val width = df.schema.length
    val written = df.rdd.mapPartitionsWithIndex { case (pid, rows) =>
      val schema = new Schema.Parser().parse(avroJson)
      val path = new Path(f"$dest/part-$pid%05d.avro")
      val out = path.getFileSystem(new Configuration()).create(path, true)
      val writer = new DataFileWriter(new GenericDatumWriter[GenericRecord](schema))
      writer.create(schema, out)
      var n = 0L
      rows.foreach { r =>
        val rec = new GenericData.Record(schema)
        var i = 0
        while (i < width) {
          rec.put(i, r.get(i) match {
            case b: Array[Byte] => java.nio.ByteBuffer.wrap(b)
            case v => v
          })
          i += 1
        }
        writer.append(rec)
        n += 1
      }
      writer.close()
      Iterator.single(n)
    }.sum()
    require(written >= 0) // the sum() action is what runs the write
    fs.create(new Path(dest, "_SUCCESS"), true).close()
  }

  /** Distributed read: schema-on-read from the first container's embedded
    * writer schema (one driver-side header read), then per-file decode in a
    * flatMap on executors.
    */
  def read(spark: SparkSession, pathGlob: String): DataFrame = {
    import spark.implicits._
    val bin = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.avro").load(pathGlob)
      .select("path", "content").as[(String, Array[Byte])]
    val headerBytes = bin.map(_._2).head()
    val avroSchema = {
      val r = new DataFileReader(new SeekableByteArrayInput(headerBytes),
        new GenericDatumReader[GenericRecord]())
      try r.getSchema finally r.close()
    }
    val sparkSchema = toSparkSchema(avroSchema)
    val avroJson = avroSchema.toString
    val rows = bin.rdd.flatMap { case (_, bytes) =>
      val schema = new Schema.Parser().parse(avroJson)
      val reader = new DataFileReader(new SeekableByteArrayInput(bytes),
        new GenericDatumReader[GenericRecord](schema))
      val out = Iterator.continually(reader)
        .takeWhile(_.hasNext)
        .map { rd =>
          val rec = rd.next()
          Row.fromSeq((0 until schema.getFields.size).map { i =>
            rec.get(i) match {
              case u: org.apache.avro.util.Utf8 => u.toString
              case bb: java.nio.ByteBuffer =>
                val a = new Array[Byte](bb.remaining()); bb.get(a); a
              case v => v
            }
          })
        }
        .toArray
      reader.close()
      out.iterator
    }
    spark.createDataFrame(rows, sparkSchema)
  }
}
