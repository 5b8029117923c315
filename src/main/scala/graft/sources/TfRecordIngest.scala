package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.CRC32C

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** TFRecord shard ingest — the de-facto container for TF/JAX training data
  * (public spec: tensorflow/core/lib/io/record_writer.h). A shard is a
  * sequence of framed records:
  *
  *   u64 LE length · u32 LE masked-crc32c(length bytes) · payload
  *   · u32 LE masked-crc32c(payload),  mask(c) = ((c>>>15)|(c<<17)) + 0xa282ead8
  *
  * with payloads conventionally serialized `tf.train.Example` protobufs.
  * Both CRCs are VERIFIED (java.util.zip.CRC32C — the Castagnoli polynomial
  * is in the JDK); a flipped byte anywhere fails loudly with the offset,
  * never decodes garbage.
  *
  * The Example payload is walked with a minimal proto wire-format reader
  * (varint + length-delimited groups — the whole format surface these
  * messages use): Example.features(1) → map entries(1) → key(1)/Feature(2),
  * Feature.bytes_list(1)/int64_list(3), *List.value(1). No protobuf
  * dependency; unknown fields are skipped by wire type, as the format
  * requires.
  *
  * Spark-first shape (the NpzIngest posture): `binaryFile` distributes
  * whole shards — TFRecord carries no sync markers, so the file is the
  * parallel unit — and frame walking + Example decode run inside a
  * `flatMap`; the driver never touches record bytes. At 100 TB this is the
  * one-time converter lane to splittable Parquet; shard-count parallelism
  * (tens of thousands of shards in real corpora) keeps executors full.
  */
object TfRecordIngest {

  final case class TfExample(longs: Map[String, Seq[Long]],
                             bytes: Map[String, Seq[Array[Byte]]])

  private def maskedCrc(b: Array[Byte], off: Int, len: Int): Int = {
    val c = new CRC32C
    c.update(b, off, len)
    val v = c.getValue.toInt // low 32 bits
    ((v >>> 15) | (v << 17)) + 0xa282ead8
  }

  /** Split a shard into verified payload slices. */
  def frames(shard: Array[Byte]): Seq[(Int, Array[Byte])] = {
    val bb = ByteBuffer.wrap(shard).order(ByteOrder.LITTLE_ENDIAN)
    val out = Seq.newBuilder[(Int, Array[Byte])]
    var off = 0
    var idx = 0
    while (off < shard.length) {
      require(shard.length - off >= 12,
        s"truncated TFRecord frame header at offset $off")
      val len = bb.getLong(off)
      require(len >= 0 && len <= shard.length - off - 16,
        s"TFRecord length $len at offset $off exceeds shard")
      require(bb.getInt(off + 8) == maskedCrc(shard, off, 8),
        s"TFRecord length-crc mismatch at offset $off")
      val payload = java.util.Arrays.copyOfRange(shard, off + 12,
        off + 12 + len.toInt)
      require(bb.getInt(off + 12 + len.toInt) == maskedCrc(payload, 0, payload.length),
        s"TFRecord payload-crc mismatch at offset $off")
      out += ((idx, payload))
      off += 16 + len.toInt
      idx += 1
    }
    out.result()
  }

  // ---- minimal proto wire reader ----
  private final class Reader(b: Array[Byte], var pos: Int, val end: Int) {
    def hasMore: Boolean = pos < end
    def varint(): Long = {
      var shift = 0
      var v = 0L
      while ({
        require(pos < end, "truncated varint")
        val x = b(pos); pos += 1
        v |= (x & 0x7fL) << shift
        shift += 7
        (x & 0x80) != 0
      }) ()
      v
    }
    /** (field, wireType); LEN fields return a sub-reader via `len()`. */
    def tag(): (Int, Int) = { val t = varint(); ((t >>> 3).toInt, (t & 7).toInt) }
    def len(): Reader = {
      val n = varint().toInt
      require(n >= 0 && pos + n <= end, "truncated length-delimited field")
      val r = new Reader(b, pos, pos + n)
      pos += n
      r
    }
    def skip(wire: Int): Unit = wire match {
      case 0 => varint(): Unit
      case 1 => pos += 8
      case 2 => len(): Unit
      case 5 => pos += 4
      case w => throw new IllegalArgumentException(s"unsupported wire type $w")
    }
    def bytes(): Array[Byte] = {
      val r = len()
      java.util.Arrays.copyOfRange(b, r.pos, r.end)
    }
  }

  private def readList(r: Reader): (Seq[Long], Seq[Array[Byte]]) = {
    // Int64List and BytesList both use field 1; int64 values may be packed
    val longs = Seq.newBuilder[Long]
    val bs = Seq.newBuilder[Array[Byte]]
    while (r.hasMore) r.tag() match {
      case (1, 0) => longs += r.varint()
      case (1, 2) => bs += r.bytes() // packed ints are disambiguated by caller
      case (_, w) => r.skip(w)
    }
    (longs.result(), bs.result())
  }

  private def readFeature(r: Reader): (Seq[Long], Seq[Array[Byte]]) = {
    var longs: Seq[Long] = Nil
    var bytes: Seq[Array[Byte]] = Nil
    while (r.hasMore) r.tag() match {
      case (1, 2) => // bytes_list
        bytes = readList(r.len())._2
      case (3, 2) => // int64_list — re-read LEN payloads as packed varints
        val (plain, packed) = readList(r.len())
        longs = plain ++ packed.flatMap { p =>
          val pr = new Reader(p, 0, p.length)
          val out = Seq.newBuilder[Long]
          while (pr.hasMore) out += pr.varint()
          out.result()
        }
      case (_, w) => r.skip(w)
    }
    (longs, bytes)
  }

  /** Decode one Example payload into its named features. */
  def parseExample(payload: Array[Byte]): TfExample = {
    val longs = Map.newBuilder[String, Seq[Long]]
    val bytes = Map.newBuilder[String, Seq[Array[Byte]]]
    val ex = new Reader(payload, 0, payload.length)
    while (ex.hasMore) ex.tag() match {
      case (1, 2) => // Features
        val fs = ex.len()
        while (fs.hasMore) fs.tag() match {
          case (1, 2) => // map entry
            val e = fs.len()
            var key = ""
            var feat: (Seq[Long], Seq[Array[Byte]]) = (Nil, Nil)
            while (e.hasMore) e.tag() match {
              case (1, 2) => key = new String(e.bytes(), "UTF-8")
              case (2, 2) => feat = readFeature(e.len())
              case (_, w) => e.skip(w)
            }
            if (feat._1.nonEmpty) longs += key -> feat._1
            if (feat._2.nonEmpty) bytes += key -> feat._2
          case (_, w) => fs.skip(w)
        }
      case (_, w) => ex.skip(w)
    }
    TfExample(longs.result(), bytes.result())
  }

  // ---- minimal proto wire writer (the encoder mirror of the reader) ----
  private def varintBytes(n: Long): Array[Byte] = {
    val out = Array.newBuilder[Byte]
    var v = n
    while ({
      val b = (v & 0x7f).toInt
      v >>>= 7
      out += (if (v != 0) (b | 0x80).toByte else b.toByte)
      v != 0
    }) ()
    out.result()
  }
  private def ld(field: Int, payload: Array[Byte]): Array[Byte] =
    varintBytes((field << 3) | 2) ++ varintBytes(payload.length.toLong) ++ payload

  /** Serialize one Example{features{...}} with int64_list (packed) and
    * bytes_list features — the same schema surface the reader walks.
    */
  def encodeExample(longs: Map[String, Seq[Long]],
                    bytes: Map[String, Seq[Array[Byte]]]): Array[Byte] = {
    val entries =
      longs.toSeq.sortBy(_._1).map { case (k, vs) =>
        ld(1, ld(1, k.getBytes("UTF-8")) ++
          ld(2, ld(3, ld(1, vs.toArray.flatMap(varintBytes)))))
      } ++
      bytes.toSeq.sortBy(_._1).map { case (k, vs) =>
        ld(1, ld(1, k.getBytes("UTF-8")) ++
          ld(2, ld(1, vs.toArray.flatMap(v => ld(1, v)))))
      }
    ld(1, entries.flatten.toArray)
  }

  /** Frame a payload with the masked-CRC32C record envelope. */
  def frame(payload: Array[Byte]): Array[Byte] = {
    val head = ByteBuffer.allocate(12).order(ByteOrder.LITTLE_ENDIAN)
    head.putLong(payload.length.toLong)
    val lenBytes = new Array[Byte](8)
    head.position(0); head.get(lenBytes); head.position(8)
    head.putInt(maskedCrc(lenBytes, 0, 8))
    val tail = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
      .putInt(maskedCrc(payload, 0, payload.length))
    head.array() ++ payload ++ tail.array()
  }

  /** Distributed TFRecord sink: every partition writes its own shard
    * directly (`part-NNNNN.tfrecord`) — the standard sharded layout, task
    * parallelism = shard parallelism, no driver funnel. Input schema is the
    * scan contract: (id long, xs array<long>, txt string).
    */
  def writeExamples(df: DataFrame, dir: String): Unit = {
    import df.sparkSession.implicits._
    val path = new Path(dir)
    val fs0 = path.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    fs0.delete(path, true)
    fs0.mkdirs(path)
    val conf = new SerializableHadoopConf(df.sparkSession.sparkContext.hadoopConfiguration)
    df.select(col("id"), col("xs"), col("txt"))
      .as[(Long, Seq[Long], String)]
      .rdd.mapPartitionsWithIndex { case (part, rows) =>
        val fs = new Path(dir).getFileSystem(conf.value)
        val out = fs.create(new Path(dir, f"part-$part%05d.tfrecord"), true)
        var n = 0L
        rows.foreach { case (id, xs, txt) =>
          out.write(frame(encodeExample(
            Map("id" -> Seq(id), "x" -> xs),
            Map("txt" -> Seq(txt.getBytes("UTF-8"))))))
          n += 1
        }
        out.close()
        Iterator.single(n)
      }.sum(): Unit
  }

  import org.apache.spark.sql.Dataset

  private def decodeRows(bin: Dataset[(String, Array[Byte])]): DataFrame = {
    import bin.sparkSession.implicits._
    bin.flatMap { case (path, content) =>
        val shard = path.split("/").last
        frames(content).map { case (i, payload) =>
          val ex = parseExample(payload)
          (shard, i,
            ex.longs.getOrElse("id", Nil).headOption.getOrElse(-1L),
            ex.longs.getOrElse("x", Nil),
            ex.bytes.getOrElse("txt", Nil).headOption
              .map(new String(_, "UTF-8")).getOrElse(""))
        }
      }
      .toDF("shard", "record_idx", "id", "xs", "txt")
  }

  /** Scan a directory of TFRecord shards into (shard, record_idx, example)
    * rows. Decode is flatMap-local; shard-count parallelism.
    */
  def scanExamples(spark: SparkSession, dir: String, glob: String): DataFrame = {
    import spark.implicits._
    decodeRows(
      spark.read.format("binaryFile").option("pathGlobFilter", glob).load(dir)
        .select(input_file_name().as("path"), col("content"))
        .as[(String, Array[Byte])])
  }

  /** Incremental converter (the NpzIngest.streamToParquet posture): a file
    * stream over a TFRecord landing directory, drained with AvailableNow and
    * exactly-once checkpointing — only shards that arrived since the last
    * drain are decoded, which is the shape a continuously-fed ingest needs.
    * Blocks until the drain completes; safe to call repeatedly.
    */
  def streamToParquet(spark: SparkSession, srcDir: String, dest: String,
                      checkpoint: String,
                      maxFilesPerTrigger: Option[Int] = None): Unit = {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val binarySchema = StructType(Seq(
      StructField("path", StringType),
      StructField("modificationTime", TimestampType),
      StructField("length", LongType),
      StructField("content", BinaryType)))
    val reader = spark.readStream.format("binaryFile")
      .schema(binarySchema)
      .option("pathGlobFilter", "*.tfrecord")
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n): Unit)
    val bin = reader.load(srcDir)
      .select(col("path"), col("content")).as[(String, Array[Byte])]
    graft.streaming.Drain.toParquet(decodeRows(bin), dest, checkpoint)
  }
}
