package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Arrow IPC *stream* ingest — the wire format of the in-memory columnar
  * standard (public: apache/arrow), read with the Arrow Java libraries that
  * already ship on Spark's own classpath (Spark uses them for its columnar
  * interchange; no new dependency).
  *
  * Spark-first shape, same as the other container lanes (NPZ, TFRecord,
  * WebDataset): `binaryFile` distributes whole `.arrows` files — an IPC
  * stream has no random-access footer, so the FILE is the parallel unit —
  * and each task walks its stream's record batches with `ArrowStreamReader`,
  * emitting one row per Arrow row. Decode is flatMap-local: no shuffle until
  * whatever aggregation the caller adds. Allocator lifecycle is per-file and
  * closed eagerly; a leaked buffer fails the task rather than poisoning the
  * executor.
  *
  * Reference analog: the binary tensor ingest
  * (create_train_valid_test_datasets.py:116) — a packed columnar archive
  * scanned into the unified relation.
  */
object ArrowIngest {

  /** Decode one IPC stream into (batch_idx, id, val, tag) rows. `val` is
    * nullable — validity bitmaps must round-trip, so absent slots surface as
    * null, not 0.0.
    */
  def decodeStream(bytes: Array[Byte]): Seq[(Int, Long, Option[Double], String)] = {
    import org.apache.arrow.memory.RootAllocator
    import org.apache.arrow.vector.{BigIntVector, Float8Vector, VarCharVector}
    import org.apache.arrow.vector.ipc.ArrowStreamReader
    val out = Seq.newBuilder[(Int, Long, Option[Double], String)]
    val alloc = new RootAllocator()
    try {
      val reader = new ArrowStreamReader(
        new java.io.ByteArrayInputStream(bytes), alloc)
      try {
        val root = reader.getVectorSchemaRoot
        var batch = 0
        while (reader.loadNextBatch()) {
          val ids = root.getVector("id").asInstanceOf[BigIntVector]
          val vals = root.getVector("val").asInstanceOf[Float8Vector]
          val tags = root.getVector("tag").asInstanceOf[VarCharVector]
          var i = 0
          while (i < root.getRowCount) {
            out += ((batch, ids.get(i),
              if (vals.isNull(i)) None else Some(vals.get(i)),
              new String(tags.get(i), "UTF-8")))
            i += 1
          }
          batch += 1
        }
      } finally reader.close()
    } finally alloc.close()
    out.result()
  }

  /** Distributed Arrow IPC SINK: every partition writes its own `.arrows`
    * stream file (task parallelism = file parallelism, no driver funnel —
    * the TFRecord/WebDataset sink posture applied to the columnar wire
    * format). Rows buffer into fixed-size record batches (columnar layout
    * needs a batch pivot; `batchRows` bounds task memory), `val` keeps its
    * validity bitmap, and the stream ends with the IPC end-of-stream
    * marker. Input schema is the scan contract: (id long, val double
    * nullable, tag string).
    */
  def writeArrowStreams(df: DataFrame, dir: String, batchRows: Int = 1024): Unit = {
    import org.apache.hadoop.fs.Path
    import df.sparkSession.implicits._
    val path = new Path(dir)
    val fs0 = path.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    fs0.delete(path, true)
    fs0.mkdirs(path)
    val conf = new SerializableHadoopConf(df.sparkSession.sparkContext.hadoopConfiguration)
    df.select(col("id"), col("val"), col("tag"))
      .as[(Long, Option[Double], String)]
      .rdd.mapPartitionsWithIndex { case (part, rows) =>
        import org.apache.arrow.memory.RootAllocator
        import org.apache.arrow.vector.{BigIntVector, Float8Vector, VarCharVector, VectorSchemaRoot}
        import org.apache.arrow.vector.ipc.ArrowStreamWriter
        import org.apache.arrow.vector.types.FloatingPointPrecision
        import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema}
        import scala.jdk.CollectionConverters._
        val fs = new Path(dir).getFileSystem(conf.value)
        val out = fs.create(new Path(dir, f"part-$part%05d.arrows"), true)
        val schema = new Schema(Seq(
          new Field("id", FieldType.notNullable(new ArrowType.Int(64, true)), null),
          new Field("val", FieldType.nullable(
            new ArrowType.FloatingPoint(FloatingPointPrecision.DOUBLE)), null),
          new Field("tag", FieldType.notNullable(ArrowType.Utf8.INSTANCE), null)).asJava)
        val alloc = new RootAllocator()
        var n = 0L
        try {
          val root = VectorSchemaRoot.create(schema, alloc)
          try {
            val writer = new ArrowStreamWriter(root, null, out)
            writer.start()
            val ids = root.getVector("id").asInstanceOf[BigIntVector]
            val vals = root.getVector("val").asInstanceOf[Float8Vector]
            val tags = root.getVector("tag").asInstanceOf[VarCharVector]
            rows.grouped(batchRows).foreach { batch =>
              root.allocateNew()
              var i = 0
              batch.foreach { case (id, v, tag) =>
                ids.setSafe(i, id)
                v match {
                  case Some(x) => vals.setSafe(i, x)
                  case None    => vals.setNull(i)
                }
                tags.setSafe(i, tag.getBytes("UTF-8"))
                i += 1
              }
              root.setRowCount(i)
              writer.writeBatch()
              n += i
            }
            writer.end()
          } finally root.close()
        } finally { alloc.close(); out.close() }
        Iterator.single(n)
      }.sum(): Unit
  }

  /** Scan a directory of Arrow IPC stream files into
    * (shard, batch_idx, id, val, tag) rows.
    */
  def scanStreams(spark: SparkSession, dir: String, glob: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile").option("pathGlobFilter", glob).load(dir)
      .select(input_file_name().as("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (path, content) =>
        val shard = path.split("/").last
        decodeStream(content).map { case (b, id, v, tag) =>
          (shard, b, id, v, tag)
        }
      }
      .toDF("shard", "batch_idx", "id", "val", "tag")
  }
}
