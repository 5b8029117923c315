package graft.sources

import java.io.ByteArrayInputStream
import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.ZipInputStream

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** NPZ/NPY archive ingest (SURVEY §2 row 2) — the reference's actual entry
  * point is `np.load('{name}_matrices.npz')['matrices']`
  * (create_train_valid_test_datasets.py:116-117). An `.npz` is a ZIP whose
  * entries are `.npy` members (one per named array); `.npy` is a magic +
  * python-dict header + raw little-endian buffer.
  *
  * Spark-first shape: `spark.read.format("binaryFile")` distributes whole
  * archives across executors (one row per file), and decode runs inside a
  * `flatMap` — the driver never touches array bytes. ZIP members are
  * deflate-compressed and therefore NOT splittable, so the parallel unit is
  * the file; that is exactly why this exists as a ONE-TIME converter to
  * Parquet ([[npzToParquet]], idempotent like the reference's
  * `download_dataset` create_train_valid_test_datasets.py:41-54): at 100 TB
  * you pay the unsplittable decode once, and every later scan is columnar,
  * splittable, predicate-pushed Parquet.
  */
object NpzIngest {

  /** One decoded `.npy` member: C-order shape + data widened to doubles. */
  final case class NpyArray(descr: String, shape: Seq[Int], data: Array[Double])

  /** Parse a `.npy` buffer (format spec v1.0/2.0/3.0: magic \x93NUMPY, version,
    * header length u16/u32 LE, ASCII dict, then the raw buffer).
    * Supported dtypes: little-endian f4/f8/i4/i8 plus i1/u1 (endian-free).
    */
  def parseNpy(bytes: Array[Byte]): NpyArray = {
    require(bytes.length >= 10 &&
      bytes(0) == 0x93.toByte && new String(bytes, 1, 5, "US-ASCII") == "NUMPY",
      "not an NPY buffer: bad magic")
    val major = bytes(6) & 0xff
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val (headerLen, headerOff) =
      if (major == 1) ((bb.getShort(8) & 0xffff, 10))
      else (bb.getInt(8), 12)
    val header = new String(bytes, headerOff, headerLen, "US-ASCII")

    val descr = "'descr'\\s*:\\s*'([^']+)'".r.findFirstMatchIn(header)
      .getOrElse(throw new IllegalArgumentException(s"npy header missing descr: $header"))
      .group(1)
    val fortran = "'fortran_order'\\s*:\\s*(True|False)".r.findFirstMatchIn(header)
      .exists(_.group(1) == "True")
    require(!fortran, "fortran_order npy buffers are not supported (C order only)")
    val shape = "'shape'\\s*:\\s*\\(([^)]*)\\)".r.findFirstMatchIn(header)
      .getOrElse(throw new IllegalArgumentException(s"npy header missing shape: $header"))
      .group(1).split(",").map(_.trim).filter(_.nonEmpty).map(_.toInt).toSeq

    val n = shape.foldLeft(1L)(_ * _).toInt
    val data = new Array[Double](n)
    val buf = ByteBuffer.wrap(bytes, headerOff + headerLen,
      bytes.length - headerOff - headerLen).order(ByteOrder.LITTLE_ENDIAN)
    descr match {
      case "<f4" => var i = 0; while (i < n) { data(i) = buf.getFloat.toDouble; i += 1 }
      case "<f8" => var i = 0; while (i < n) { data(i) = buf.getDouble; i += 1 }
      case "<i4" => var i = 0; while (i < n) { data(i) = buf.getInt.toDouble; i += 1 }
      case "<i8" => var i = 0; while (i < n) { data(i) = buf.getLong.toDouble; i += 1 }
      case "|i1" => var i = 0; while (i < n) { data(i) = buf.get.toDouble; i += 1 }
      case "|u1" => var i = 0; while (i < n) { data(i) = (buf.get & 0xff).toDouble; i += 1 }
      case other => throw new IllegalArgumentException(s"unsupported npy dtype: $other")
    }
    NpyArray(descr, shape, data)
  }

  /** Encode an array as a v1.0 `.npy` buffer (C order, little-endian).
    * `descr` selects the on-disk dtype: `<f4`, `<f8`, `<i4` or `<i8`.
    */
  def toNpyBytes(descr: String, shape: Seq[Int], data: Array[Double]): Array[Byte] = {
    val n = shape.foldLeft(1L)(_ * _)
    require(n == data.length, s"shape ${shape.mkString("x")} != ${data.length} values")
    val dict = s"{'descr': '$descr', 'fortran_order': False, " +
      s"'shape': (${shape.mkString(", ")}${if (shape.length == 1) "," else ""}), }"
    // numpy pads the header so the data starts 64-byte aligned
    val padded = dict + " " * ((64 - (10 + dict.length + 1) % 64) % 64) + "\n"
    val elem = descr match {
      case "<f4" | "<i4" => 4
      case "<f8" | "<i8" => 8
      case other => throw new IllegalArgumentException(s"unsupported npy dtype: $other")
    }
    val buf = ByteBuffer.allocate(10 + padded.length + data.length * elem)
      .order(ByteOrder.LITTLE_ENDIAN)
    buf.put(0x93.toByte).put("NUMPY".getBytes("US-ASCII"))
      .put(1.toByte).put(0.toByte)
      .putShort(padded.length.toShort)
      .put(padded.getBytes("US-ASCII"))
    descr match {
      case "<f4" => data.foreach(v => buf.putFloat(v.toFloat))
      case "<f8" => data.foreach(buf.putDouble)
      case "<i4" => data.foreach(v => buf.putInt(v.toInt))
      case "<i8" => data.foreach(v => buf.putLong(v.toLong))
    }
    buf.array()
  }

  /** Write named arrays as an `.npz` archive (DEFLATED members, like
    * np.savez_compressed) through the Hadoop FS abstraction — the numpy
    * interop EXPORT direction, so engine outputs can land back in the
    * reference's own ecosystem.
    */
  def writeNpz(spark: SparkSession, path: String,
               arrays: Seq[(String, String, Seq[Int], Array[Double])]): Unit = {
    val p = new Path(path)
    val out = p.getFileSystem(spark.sparkContext.hadoopConfiguration).create(p, true)
    val zos = new java.util.zip.ZipOutputStream(out)
    arrays.foreach { case (name, descr, shape, data) =>
      zos.putNextEntry(new java.util.zip.ZipEntry(name + ".npy"))
      zos.write(toNpyBytes(descr, shape, data))
      zos.closeEntry()
    }
    zos.close()
  }

  /** Iterate the members of an `.npz` archive as (arrayName, npyBytes).
    * Handles both STORED (np.savez) and DEFLATED (np.savez_compressed).
    */
  def npzEntries(npz: Array[Byte]): Iterator[(String, Array[Byte])] = {
    val zin = new ZipInputStream(new ByteArrayInputStream(npz))
    Iterator.continually(zin.getNextEntry).takeWhile(_ != null).map { e =>
      val name = e.getName.stripSuffix(".npy")
      (name, zin.readAllBytes())
    }
  }

  /** Shared decode: `(path, content)` rows → one row per leading-axis slice
    * of each named array. Works identically on batch and streaming Datasets
    * (stateless flatMap).
    */
  private def decodeRows(bin: org.apache.spark.sql.Dataset[(String, Array[Byte])]): DataFrame = {
    import bin.sparkSession.implicits._
    bin.flatMap { case (path, bytes) =>
        val file = path.substring(path.lastIndexOf('/') + 1)
        npzEntries(bytes).flatMap { case (name, npy) =>
          val arr = parseNpy(npy)
          val lead = arr.shape.headOption.getOrElse(1)
          val dims = arr.shape.drop(1)
          val rowLen = dims.foldLeft(1)(_ * _)
          Iterator.tabulate(lead) { i =>
            (file, name, i.toLong, dims, arr.data.slice(i * rowLen, (i + 1) * rowLen))
          }
        }
      }
      .toDF("file", "array", "idx", "dims", "values")
  }

  /** Distributed NPZ scan: one output row per leading-axis slice of each named
    * array — `(file, array, idx, dims, values)` where `dims` is the slice
    * shape and `values` its C-order flattening. Decode happens on executors;
    * parallelism = number of archives (ZIP members are not splittable).
    */
  def read(spark: SparkSession, pathGlob: String): DataFrame = {
    import spark.implicits._
    decodeRows(spark.read.format("binaryFile").load(pathGlob)
      .select(col("path"), col("content")).as[(String, Array[Byte])])
  }

  /** Incremental converter: a file-stream over an NPZ landing directory,
    * drained with `Trigger.AvailableNow` and exactly-once checkpointing.
    * Where [[npzToParquet]] is all-or-nothing (skip when `_SUCCESS` exists),
    * this picks up ONLY archives that arrived since the last run — the
    * shape a continuously-fed 100 TB ingest actually needs (re-running the
    * batch converter over a growing landing dir would re-decode everything).
    * Blocks until the drain completes; safe to call repeatedly.
    */
  def streamToParquet(spark: SparkSession, srcDir: String, dest: String,
                      checkpoint: String): Unit = {
    import spark.implicits._
    val binarySchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("path",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("modificationTime",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("length",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("content",
        org.apache.spark.sql.types.BinaryType)))
    val bin = spark.readStream.format("binaryFile")
      .schema(binarySchema)
      .option("pathGlobFilter", "*.npz")
      .load(srcDir)
      .select(col("path"), col("content")).as[(String, Array[Byte])]
    graft.streaming.Drain.toParquet(decodeRows(bin), dest, checkpoint)
  }

  /** One-time NPZ→Parquet conversion, idempotent exactly like the reference's
    * `download_dataset` (skip when the sink already exists — here: a committed
    * `_SUCCESS` marker). Returns true when a conversion actually ran.
    */
  def npzToParquet(spark: SparkSession, srcGlob: String, dest: String): Boolean = {
    val destPath = new Path(dest)
    val fs = destPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new Path(destPath, "_SUCCESS"))) false
    else {
      read(spark, srcGlob).write.mode("overwrite").parquet(dest)
      true
    }
  }
}
