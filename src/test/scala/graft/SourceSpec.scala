package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.ShowerEventsSource

/** Connector-contract tests for the custom DSv2 source: row counts,
  * determinism, column pruning, and event_id range pushdown.
  */
class SourceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def read(rows: Long, parts: Int = 4) =
    spark.read.format("graft.sources.ShowerEventsSource")
      .option("rows", rows.toString).option("partitions", parts.toString).load()

  test("generates exactly `rows` rows with dense ids across partitions") {
    val df = read(1000, parts = 7)
    assert(df.count() == 1000)
    val ids = df.select("event_id").collect().map(_.getLong(0)).sorted
    assert(ids.head == 0L && ids.last == 999L && ids.distinct.length == 1000)
  }

  test("rows are deterministic and match the scalar generators") {
    val got = read(50).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    (0L until 50L).foreach { id =>
      assert(got(id) == ((ShowerEventsSource.clazzOf(id), ShowerEventsSource.logEOf(id),
        ShowerEventsSource.thetaOf(id), ShowerEventsSource.pOf(id))), s"id=$id")
    }
  }

  test("event_id range filters push into the generated ranges") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val df = read(100000, parts = 8).where(col("event_id") >= 99990L)
    assert(df.count() == 10)
    // pushdown proof: the scan's planned input ranges cover exactly the 10
    // matching ids, not the 100k-row id space
    val scan = df.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b.scan
    }
    assert(scan.isDefined)
    val planned = scan.get.toBatch.planInputPartitions()
      .collect { case graft.sources.ShowerRange(s, e) => e - s }.sum
    assert(planned == 10L, s"scan planned $planned ids, pushdown regressed")
  }

  test("Long.MaxValue boundary filters are rejected, not wrapped") {
    val all = read(100).where(col("event_id") <= Long.MaxValue)
    assert(all.count() == 100) // always-true predicate must keep every row
  }

  test("streaming read drains the source and matches the batch rows") {
    val stream = spark.readStream.format("graft.sources.ShowerEventsSource")
      .option("rows", "500").option("partitions", "4").load()
    val streamed = Scratch.run(spark, "graft_shower_stream_") { root =>
      graft.streaming.Drain.toMemory(stream, s"$root/ckpt", "append")
    }.collect().map(_.toSeq).toSet
    val batch = read(500).collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(streamed.size == 500)
  }

  test("audit sink: two-phase commit aggregates exact task counts") {
    import graft.sources.AuditSink
    read(1234, parts = 5)
      .write.format("graft.sources.AuditSink")
      .option("name", "spec_run").mode("append").save()
    val counts = AuditSink.result("spec_run")
    assert(counts.isDefined)
    assert(counts.get.rows == 1234L)
    assert(counts.get.fields == 1234L * 5) // 5 schema fields per row
  }

  test("audit sink accepts a streaming write and accumulates epoch counts") {
    import graft.sources.AuditSink
    val stream = spark.readStream.format("graft.sources.ShowerEventsSource")
      .option("rows", "300").option("partitions", "3").load()
    Scratch.run(spark, "graft_audit_ckpt_") { ckpt =>
      val q = stream.writeStream.format("graft.sources.AuditSink")
        .option("name", "stream_audit")
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    val counts = AuditSink.result("stream_audit")
    assert(counts.exists(_.rows == 300L), counts)
  }

  test("column pruning: projecting one field still yields correct values") {
    val only = read(20).select("clazz").collect().map(_.getInt(0))
    assert(only.toSeq == (0L until 20L).map(ShowerEventsSource.clazzOf))
  }

  test("tfrecord: crc verification rejects a flipped byte; truncation fails " +
    "loudly; examples parse every feature") {
    import graft.sources.TfRecordIngest
    val shard = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      Seq("fixtures/tfrecord", "/root/repo/fixtures/tfrecord")
        .find(p => new java.io.File(p).isDirectory).get, "shard_0.tfrecord"))
    val fs = TfRecordIngest.frames(shard)
    assert(fs.size == 8)
    val ex = TfRecordIngest.parseExample(fs.head._2)
    assert(ex.longs("id") == Seq(0L))
    assert(ex.longs("x").size == 4)
    assert(new String(ex.bytes("txt").head, "UTF-8") == "doc-0")
    // flip one payload byte: the payload crc must catch it
    val bad = shard.clone()
    bad(20) = (bad(20) ^ 0x01).toByte
    val e1 = intercept[IllegalArgumentException](TfRecordIngest.frames(bad))
    assert(e1.getMessage.contains("crc"), e1.getMessage)
    // truncate mid-record: the frame walk must fail, not return partials
    intercept[IllegalArgumentException](
      TfRecordIngest.frames(shard.dropRight(5)))
  }

  test("tfrecord sink: encode -> frame -> parse roundtrips, including " +
    "negative int64s (10-byte varints) and empty byte values") {
    import graft.sources.TfRecordIngest
    val longs = Map("a" -> Seq(-1L, Long.MinValue, 0L, 300L),
      "id" -> Seq(Long.MaxValue))
    val bytes = Map("txt" -> Seq("".getBytes("UTF-8"), "héllo".getBytes("UTF-8")))
    val shard = TfRecordIngest.frame(TfRecordIngest.encodeExample(longs, bytes))
    val fs = TfRecordIngest.frames(shard)
    assert(fs.size == 1)
    val ex = TfRecordIngest.parseExample(fs.head._2)
    assert(ex.longs == longs)
    assert(ex.bytes("txt").map(new String(_, "UTF-8")) == Seq("", "héllo"))
  }

  test("webdataset: tar walk slices members exactly; sample grouping pairs " +
    "modalities; truncation fails loudly") {
    import graft.sources.WebDatasetIngest
    val shard = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      Seq("fixtures/webdataset", "/root/repo/fixtures/webdataset")
        .find(p => new java.io.File(p).isDirectory).get, "shard_0.tar"))
    val members = WebDatasetIngest.tarMembers(shard)
    assert(members.size == 16) // 8 samples x 2 modalities
    val grouped = WebDatasetIngest.samples(members).toMap
    assert(grouped.size == 8)
    val s0 = grouped("000000")
    assert(new String(s0("txt"), "UTF-8") == "caption 0 0")
    val img = graft.operators.MediaCodecs.decodePpm(s0("ppm"))
    assert(img.width == 8 && img.height == 6)
    // a member whose declared size overruns the archive must fail loudly
    intercept[IllegalArgumentException](
      WebDatasetIngest.tarMembers(shard.take(600)))
  }

  test("arrow ipc: batches iterate, nulls surface as null, truncation fails") {
    import graft.sources.ArrowIngest
    val dir = Seq("fixtures/arrow", "/root/repo/fixtures/arrow")
      .find(p => new java.io.File(p).isDirectory).get
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "part-0.arrows"))
    val rows = ArrowIngest.decodeStream(bytes)
    assert(rows.size == 24 && rows.map(_._1).distinct == Seq(0, 1, 2))
    assert(rows.map(_._2) == (0L until 24L))
    // f % 7 == 0 slots are genuinely null; others replay the fixture formula
    rows.foreach { case (_, f, v, tag) =>
      if (f % 7 == 0) assert(v.isEmpty, s"row $f should be null")
      else assert(v.contains(((f * 2654435761L) % 4096) / 16.0))
      assert(tag == s"tag_${f % 5}")
    }
    // a truncated stream must fail loudly, not yield partial rows silently
    intercept[Exception](ArrowIngest.decodeStream(bytes.take(bytes.length / 2)))
  }

  test("webdataset sink: ustar headers carry valid checksums and system tar " +
    "lists the shard; write -> scan round-trips bytes exactly") {
    import graft.sources.WebDatasetIngest
    import org.apache.spark.sql.functions._
    val spark = TestSpark.spark
    import spark.implicits._
    val dir = "/tmp/graft_wds_sink_spec"
    val rows = Seq(
      ("000000", Array.tabulate(64)(i => (i * 7 % 251).toByte), "caption a"),
      ("000001", Array[Byte](), "caption b"), // empty payload: header only
      ("000002", Array.tabulate(513)(i => (i % 256).toByte), "x")) // pad 511
    WebDatasetIngest.writeSamples(
      rows.toDF("key", "image", "txt").repartition(2), dir)
    val shards = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".tar")).sortBy(_.getName)
    assert(shards.length == 2)
    // checksum validity per the spec: sum of header bytes with the checksum
    // field read as 8 spaces equals the stored octal value
    for (f <- shards; bytes = java.nio.file.Files.readAllBytes(f.toPath)
         if bytes.take(512).exists(_ != 0)) {
      val h = bytes.take(512)
      val stored = Integer.parseInt(
        new String(h, 148, 8, "US-ASCII").takeWhile(c => c >= '0' && c <= '7'), 8)
      val sum = h.zipWithIndex.map { case (b, i) =>
        if (i >= 148 && i < 156) 32L else (b & 0xff).toLong
      }.sum
      assert(sum == stored, s"${f.getName}: checksum $stored != computed $sum")
    }
    // real-tar compliance: the system tar must list every member
    val listed = scala.sys.process.Process(
      Seq("tar", "-tf", shards.head.getAbsolutePath)).!!.trim.split("\n").toSeq
    assert(listed.nonEmpty && listed.forall(n => n.endsWith(".ppm") || n.endsWith(".txt")))
    // byte-exact roundtrip through our own reader, including the 0-byte and
    // the pad-straddling payloads
    val back = WebDatasetIngest.scanSamples(spark, dir, "*.tar")
      .select("key", "image", "txt")
      .as[(String, Array[Byte], String)].collect().sortBy(_._1)
    assert(back.map(_._1).toSeq == rows.map(_._1))
    rows.zip(back).foreach { case ((k, img, txt), (k2, img2, txt2)) =>
      assert(k == k2 && txt == txt2 && java.util.Arrays.equals(img, img2))
    }
  }
}
