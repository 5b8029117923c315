package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{Scratch, Tables}

/** Text-format source/sink coverage (SURVEY §2.1's scan/sink family beyond
  * parquet): CSV and JSON-lines round trips through explicit schemas. The
  * payload is projected to exact integer/string columns BEFORE the text hop —
  * doubles through a text format are a formatting hazard, integers are
  * lossless — so the oracle (reading the original parquet) must hash-match.
  * Scale note: both formats scan as splittable FileScans with column pruning;
  * schemas are explicit (never inferSchema — which would double-scan the
  * input at 100 TB).
  */
object SourceQueries {

  /** Per-(format, sfDir) scratch path: a fixed shared path would let a
    * concurrent run at another scale factor overwrite the sink while this
    * run's lazy read-back scan is still pending.
    */
  private def tmp(name: String, sfDir: String) =
    s"/tmp/graft_src_${name}_${math.abs(sfDir.hashCode.toLong)}"

  /** The WebDataset fixture's pixels replayed arithmetically: CTE `v`
    * (gid, w, h, ch, p), one row per channel byte of image `gid` (q166,
    * q173, q252).
    */
  private val wdsPixelsSql =
    s"""dims AS (SELECT gid, 8 + (gid % 3) * 4 AS w, 6 + (gid % 2) * 4 AS h
       |              FROM (SELECT unnest(range(0, 16)) AS gid)),
       |px AS (SELECT gid, w, h, unnest(range(0, w * h * 3)) AS f FROM dims),
       |v AS (SELECT gid, w, h, f % 3 AS ch,
       |             (f * ${graft.functions.Hashes.Mult} + 149 * gid) % 256 AS p
       |      FROM px)""".stripMargin

  /** Per-image dimensions, [[graft.operators.MediaCodecs.channelSums]] and
    * caption over [[wdsPixelsSql]], keyed by `key`.
    */
  private val wdsSumsSql =
    """CAST(max(w) AS INTEGER) AS width,
      |       CAST(max(h) AS INTEGER) AS height,
      |       CAST(sum(CASE WHEN ch = 0 THEN p END) AS BIGINT) AS sum_r,
      |       CAST(sum(CASE WHEN ch = 1 THEN p END) AS BIGINT) AS sum_g,
      |       CAST(sum(CASE WHEN ch = 2 THEN p END) AS BIGINT) AS sum_b,
      |       'caption ' || CAST(gid AS VARCHAR) || ' ' ||
      |         CAST((gid * 7) % 100 AS VARCHAR) AS txt
      |FROM v GROUP BY gid ORDER BY key""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // CSV sink → schema'd CSV scan → aggregate; oracle aggregates the
    // original parquet (the text hop must be information-preserving).
    QueryDef("q66_csv_roundtrip",
      """SELECT l_returnflag, count(*) AS n,
        |       CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT)
        |         AS price_cents
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      val dir = tmp("csv", d)
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_returnflag"),
          round(col("l_extendedprice") * 100, 0).cast("long").as("price_cents"))
        .write.mode("overwrite").option("header", "true").csv(dir)
      val schema = new StructType()
        .add("l_orderkey", LongType).add("l_returnflag", StringType)
        .add("price_cents", LongType)
      s.read.schema(schema).option("header", "true").csv(dir)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), sum("price_cents").as("price_cents"))
        .orderBy("l_returnflag")
    },

    // ORC sink → scan → aggregate: the second columnar format next to
    // parquet, same lossless-hop contract as q66/q67 (ORC round-trips all
    // types exactly; the integer projection keeps the aggregate
    // engine-exact anyway).
    QueryDef("q88_orc_roundtrip",
      """SELECT l_linestatus, count(*) AS n,
        |       CAST(sum(CAST(round(l_quantity * 100, 0) AS BIGINT)) AS BIGINT)
        |         AS qty_cents
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin) { (s, d) =>
      val dir = tmp("orc", d)
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linestatus"),
          round(col("l_quantity") * 100, 0).cast("long").as("qty_cents"))
        .write.mode("overwrite").orc(dir)
      s.read.orc(dir)
        .groupBy("l_linestatus")
        .agg(count(lit(1)).as("n"), sum("qty_cents").as("qty_cents"))
        .orderBy("l_linestatus")
    },

    // Avro container sink → scan → aggregate: third serialization format
    // next to csv/orc, built on the avro-core jars (no spark-avro DataSource
    // module on this classpath — sources/AvroIngest supplies the format the
    // NpzIngest way: per-partition containers, executor-side encode/decode,
    // schema-on-read from the embedded writer schema). Same lossless-hop
    // contract as q66/q88: the oracle aggregates the original parquet.
    QueryDef("q100_avro_roundtrip",
      """SELECT o_orderstatus, count(*) AS n,
        |       CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
        |         AS price_cents
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, d) =>
      import graft.sources.AvroIngest
      val dir = tmp("avro", d)
      AvroIngest.write(
        Tables.orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
          round(col("o_totalprice") * 100, 0).cast("long").as("price_cents")),
        dir)
      AvroIngest.read(s, dir)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum("price_cents").as("price_cents"))
        .orderBy("o_orderstatus")
    },

    // Custom DataSource V2: the deterministic shower-event generator
    // (sources/ShowerEventsSource) read through the connector API with
    // column pruning and event_id range pushdown — even the custom source
    // is oracle-checked, because its rows derive from replayable integer
    // hash arithmetic (the same Hashes family as the split/sample ops).
    QueryDef("q87_custom_source", {
      import graft.sources.ShowerEventsSource.fieldSql
      s"""WITH t AS (SELECT unnest(range(20000)) AS id),
         |f AS (SELECT id,
         |        ${fieldSql("clazz", "id")} AS clazz,
         |        ${fieldSql("log_e", "id")} AS log_e,
         |        ${fieldSql("theta", "id")} AS theta,
         |        ${fieldSql("p", "id")} AS p
         |      FROM t)
         |SELECT clazz, count(*) AS n, round(avg(p), 6) AS avg_p,
         |       round(avg(log_e), 6) AS avg_loge
         |FROM f WHERE theta < 30 AND log_e >= 15 AND id < 15000
         |GROUP BY clazz ORDER BY clazz""".stripMargin
    }) { (s, d) =>
      s.read.format("graft.sources.ShowerEventsSource")
        .option("rows", "20000").option("partitions", "8").load()
        .where(col("theta") < 30 && col("log_e") >= 15 && col("event_id") < 15000)
        .groupBy("clazz")
        .agg(count(lit(1)).as("n"), round(avg("p"), 6).as("avg_p"),
          round(avg("log_e"), 6).as("avg_loge"))
        .orderBy("clazz")
    },

    // 2-D analysis grid: θ×logE binned counts — the reference's band
    // predicates (θ∈[0,30), logE∈[15,16)) generalized to the full histogram
    // grid, computed over the custom source. One hash aggregate on the
    // composite bin key; cardinality = 12×8 cells regardless of row count.
    QueryDef("q90_histogram2d", {
      import graft.sources.ShowerEventsSource.fieldSql
      s"""WITH t AS (SELECT unnest(range(20000)) AS id),
         |f AS (SELECT ${fieldSql("log_e", "id")} AS log_e,
         |             ${fieldSql("theta", "id")} AS theta
         |      FROM t)
         |SELECT CAST(floor(theta / 5) AS BIGINT) AS theta_bin,
         |       CAST(floor((log_e - 14.0) / 0.25) AS BIGINT) AS loge_bin,
         |       count(*) AS n
         |FROM f GROUP BY 1, 2 ORDER BY theta_bin, loge_bin""".stripMargin
    }) { (s, d) =>
      s.read.format("graft.sources.ShowerEventsSource")
        .option("rows", "20000").option("partitions", "8").load()
        .groupBy(
          floor(col("theta") / 5).cast("long").as("theta_bin"),
          floor((col("log_e") - 14.0) / 0.25).cast("long").as("loge_bin"))
        .agg(count(lit(1)).as("n"))
        .orderBy("theta_bin", "loge_bin")
    },

    // XML sink → schema'd XML scan → aggregate: Spark 4's built-in XML data
    // source (SPARK-44265 folded spark-xml into sql/core), same lossless-hop
    // contract as q66/q67 — integer/string projection before the text hop,
    // oracle aggregates the original parquet. Explicit schema + rowTag; an
    // inferSchema XML read would double-scan the input at 100 TB.
    QueryDef("q143_xml_roundtrip",
      """SELECT c_mktsegment, count(*) AS n,
        |       CAST(sum(CAST(round(c_acctbal * 100, 0) AS BIGINT)) AS BIGINT)
        |         AS bal_cents
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) { (s, d) =>
      val dir = tmp("xml", d)
      Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"),
          round(col("c_acctbal") * 100, 0).cast("long").as("bal_cents"))
        .write.mode("overwrite").option("rowTag", "row").format("xml").save(dir)
      val schema = new StructType()
        .add("c_custkey", LongType).add("c_mktsegment", StringType)
        .add("bal_cents", LongType)
      s.read.schema(schema).option("rowTag", "row").format("xml").load(dir)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), sum("bal_cents").as("bal_cents"))
        .orderBy("c_mktsegment")
    },

    // JSON-lines sink → schema'd scan → aggregate, same contract.
    QueryDef("q67_jsonl_roundtrip",
      """SELECT o_orderpriority, count(*) AS n,
        |       CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
        |         AS total_cents
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      val dir = tmp("jsonl", d)
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"),
          round(col("o_totalprice") * 100, 0).cast("long").as("total_cents"))
        .write.mode("overwrite").json(dir)
      val schema = new StructType()
        .add("o_orderkey", LongType).add("o_orderpriority", StringType)
        .add("total_cents", LongType)
      s.read.schema(schema).json(dir)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), sum("total_cents").as("total_cents"))
        .orderBy("o_orderpriority")
    },

    // Schema evolution across parquet batches: batch 1 is written BEFORE a
    // column existed, batch 2 carries it; a mergeSchema read unifies the
    // directory (old rows surface NULL for the new column) — the data-lake
    // reality every long-lived 100 TB corpus hits. The oracle replays the
    // evolution with a CASE on the batch split. Count-of-non-null proves
    // the NULL backfill semantics, not just the union.
    QueryDef("q154_schema_evolution",
      """WITH v AS (SELECT o_orderstatus,
        |             CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_cents,
        |             CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END AS pr
        |           FROM orders)
        |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(price_cents) AS BIGINT) AS price_cents,
        |       CAST(count(pr) AS BIGINT) AS n_with_priority
        |FROM v GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val dir = tmp("evolve", d)
      val base = Tables.orders(s, d).select(col("o_orderkey"),
        col("o_orderstatus"),
        round(col("o_totalprice") * 100, 0).cast("long").as("price_cents"),
        col("o_orderpriority"))
      base.where(col("o_orderkey") % 2 === 0).drop("o_orderpriority")
        .write.mode("overwrite").parquet(s"$dir/batch=1")
      base.where(col("o_orderkey") % 2 =!= 0)
        .write.mode("overwrite").parquet(s"$dir/batch=2")
      s.read.option("mergeSchema", "true").parquet(dir)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum("price_cents").as("price_cents"),
          count(col("o_orderpriority")).as("n_with_priority"))
        .orderBy("o_orderstatus")
    },

    // Corrupt-tolerant ingestion: a JSONL landing file where every 7th line
    // is malformed (truncated mid-object), read in PERMISSIVE mode with a
    // columnNameOfCorruptRecord column — bad lines surface as quarantine
    // rows instead of failing the scan (the behavior a 100 TB web-crawl
    // ingest needs: count and route the garbage, never die on it). Rows
    // bucket on the corrupt marker, NEVER on partially-parsed fields
    // (Spark's partial-results mode may fill leading fields of a corrupt
    // row). The oracle replays the corruption rule arithmetically.
    QueryDef("q155_corrupt_tolerant_scan",
      """WITH e AS (SELECT event_id, event_type,
        |                  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |           FROM events),
        |b AS (SELECT CASE WHEN event_id % 7 = 0 THEN '_corrupt'
        |             ELSE event_type END AS bucket,
        |             CASE WHEN event_id % 7 = 0 THEN NULL ELSE k END AS k
        |      FROM e)
        |SELECT bucket, CAST(count(*) AS BIGINT) AS n,
        |       CAST(coalesce(sum(k), 0) AS BIGINT) AS k_sum
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin) { (s, d) =>
      val dir = tmp("corrupt", d)
      val e = Tables.events(s, d).select(col("event_id"), col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      e.select(
          when(col("event_id") % 7 === 0,
            concat(lit("{\"event_id\":"), col("event_id"),
              lit(",\"event_type\":")))
          .otherwise(concat(lit("{\"event_id\":"), col("event_id"),
            lit(",\"event_type\":\""), col("event_type"),
            lit("\",\"k\":"), col("k"), lit("}")))
          .as("value"))
        .write.mode("overwrite").text(dir)
      val schema = new StructType()
        .add("event_id", LongType).add("event_type", StringType)
        .add("k", LongType).add("_corrupt_record", StringType)
      s.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(dir)
        .select(when(col("_corrupt_record").isNotNull, lit("_corrupt"))
          .otherwise(col("event_type")).as("bucket"), col("k"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), coalesce(sum("k"), lit(0L)).as("k_sum"))
        .orderBy("bucket")
    },

    // TFRecord shard scan (sources/TfRecordIngest): the de-facto TF/JAX
    // training container — length-framed records with MASKED CRC32C on
    // both length and payload (verified; a flipped byte fails loudly), and
    // hand-walked tf.train.Example protobuf payloads (varint + LEN wire
    // format, no protobuf dependency). The oracle replays every feature of
    // every record from the fixture formula, so one wrong varint shift,
    // CRC mask constant, or map-entry walk flips the hash. Scale: shards
    // carry no sync marker, so the FILE is the parallel unit (real corpora
    // shard into tens of thousands) — decode is flatMap-local, the
    // one-time converter lane to splittable parquet.
    QueryDef("q165_tfrecord_scan",
      s"""WITH g AS (SELECT unnest(range(0, 24)) AS gid)
         |SELECT 'shard_' || CAST(gid // 8 AS VARCHAR) || '.tfrecord' AS shard,
         |       gid % 8 AS record_idx, gid AS id,
         |       (gid * ${graft.functions.Hashes.Mult}) % 1000 AS x0,
         |       (gid * ${graft.functions.Hashes.Mult} + 97) % 1000 AS x1,
         |       (gid * ${graft.functions.Hashes.Mult} + 194) % 1000 AS x2,
         |       (gid * ${graft.functions.Hashes.Mult} + 291) % 1000 AS x3,
         |       'doc-' || CAST(gid AS VARCHAR) AS txt
         |FROM g ORDER BY id""".stripMargin) { (s, _) =>
      graft.sources.TfRecordIngest
        .scanExamples(s, ContainerFixtures.dir("tfrecord"), "*.tfrecord")
        .select(col("shard"), col("record_idx").cast("long").as("record_idx"),
          col("id"),
          element_at(col("xs"), 1).as("x0"), element_at(col("xs"), 2).as("x1"),
          element_at(col("xs"), 3).as("x2"), element_at(col("xs"), 4).as("x3"),
          col("txt"))
        .orderBy("id")
    },

    // WebDataset tar-shard scan (sources/WebDatasetIngest): the sharded
    // multimodal container convention — a sample is the group of adjacent
    // ustar members sharing a basename (image + caption here). The scan
    // composes with the codec surface: the image member decodes through
    // the REAL PPM kernel and its channel sums replay arithmetically, so
    // the contract proves tar header walk + member slicing + sample
    // grouping + decode end to end. Scale: tar has no internal index —
    // the file is the parallel unit, which is exactly why the convention
    // shards corpora into many tars; decode is row-local.
    QueryDef("q166_webdataset_scan",
      s"""WITH $wdsPixelsSql
         |SELECT 'shard_' || CAST(gid // 8 AS VARCHAR) || '.tar' AS shard,
         |       lpad(CAST(gid AS VARCHAR), 6, '0') AS key,
         |       $wdsSumsSql""".stripMargin) { (s, _) =>
      import s.implicits._
      graft.sources.WebDatasetIngest
        .scanSamples(s, ContainerFixtures.dir("webdataset"), "*.tar")
        .as[(String, String, Array[Byte], String)]
        .map { case (shard, key, image, txt) =>
          val img = graft.operators.MediaCodecs.decodePpm(image)
          val (sr, sg, sb) = graft.operators.MediaCodecs.channelSums(img.pixels)
          (shard, key, img.width, img.height, sr, sg, sb, txt)
        }
        .toDF("shard", "key", "width", "height", "sum_r", "sum_g", "sum_b", "txt")
        .orderBy("key")
    },

    // WebDataset SINK → scan roundtrip (q167's move applied to the tar
    // container): the fixture shards are scanned, re-sharded through the
    // distributed tar writer (each partition emits its own POSIX ustar
    // shard with real checksummed headers, samples as adjacent members),
    // and re-scanned. The oracle replays the ORIGINAL fixture arithmetic —
    // q166's contract minus the shard name (resharding reassigns it) — so
    // one wrong octal size field, checksum, member boundary, or padded
    // byte on the write path is a hash mismatch through the decode.
    QueryDef("q173_webdataset_roundtrip",
      s"""WITH $wdsPixelsSql
         |SELECT lpad(CAST(gid AS VARCHAR), 6, '0') AS key,
         |       $wdsSumsSql""".stripMargin) { (s, d) =>
      import s.implicits._
      val dir = tmp("wds", d)
      graft.sources.WebDatasetIngest.writeSamples(
        graft.sources.WebDatasetIngest
          .scanSamples(s, ContainerFixtures.dir("webdataset"), "*.tar")
          .select(col("key"), col("image"), col("txt"))
          .repartition(3),
        dir)
      graft.sources.WebDatasetIngest.scanSamples(s, dir, "*.tar")
        .as[(String, String, Array[Byte], String)]
        .map { case (_, key, image, txt) =>
          val img = graft.operators.MediaCodecs.decodePpm(image)
          val (sr, sg, sb) = graft.operators.MediaCodecs.channelSums(img.pixels)
          (key, img.width, img.height, sr, sg, sb, txt)
        }
        .toDF("key", "width", "height", "sum_r", "sum_g", "sum_b", "txt")
        .orderBy("key")
    },

    // Cross-container transcode — the shard-migration job every multimodal
    // corpus eventually runs (WebDataset tars in, TFRecord shards out):
    // samples decode from the tar fixture through the REAL PPM kernel,
    // re-serialize as tf.train.Examples (id + a 5-slot feature vector of
    // decoded image statistics + the caption as bytes), land as
    // partition-per-shard TFRecords through the verifying writer, and come
    // back through the proto reader. The oracle replays the ORIGINAL pixel
    // arithmetic (q173's contract), so the transcode must be
    // information-preserving across TWO container formats and one codec —
    // a wrong varint, CRC, tar offset, or channel sum anywhere in the
    // chain is a hash mismatch. Scale: decode/encode are row-local; shard
    // count = partition count on both sides.
    QueryDef("q252_transcode",
      s"""WITH $wdsPixelsSql
         |SELECT lpad(CAST(gid AS VARCHAR), 6, '0') AS key,
         |       $wdsSumsSql""".stripMargin) { (s, d) =>
      import s.implicits._
      val dir = tmp("transcode", d)
      val samples = graft.sources.WebDatasetIngest
        .scanSamples(s, ContainerFixtures.dir("webdataset"), "*.tar")
        .as[(String, String, Array[Byte], String)]
        .map { case (_, key, image, txt) =>
          val img = graft.operators.MediaCodecs.decodePpm(image)
          val (sr, sg, sb) = graft.operators.MediaCodecs.channelSums(img.pixels)
          (key.toLong,
            Seq(img.width.toLong, img.height.toLong, sr, sg, sb), txt)
        }
        .toDF("id", "xs", "txt")
      graft.sources.TfRecordIngest.writeExamples(samples.repartition(2), dir)
      graft.sources.TfRecordIngest.scanExamples(s, dir, "*.tfrecord")
        .select(lpad(col("id").cast("string"), 6, "0").as("key"),
          element_at(col("xs"), 1).cast("int").as("width"),
          element_at(col("xs"), 2).cast("int").as("height"),
          element_at(col("xs"), 3).as("sum_r"),
          element_at(col("xs"), 4).as("sum_g"),
          element_at(col("xs"), 5).as("sum_b"),
          col("txt"))
        .orderBy("key")
    },

    // Arrow IPC stream scan (sources/ArrowIngest): the in-memory columnar
    // standard's wire format, decoded with the Arrow Java libraries Spark
    // itself ships (no new dependency). Batches iterate within a stream,
    // files parallelize across tasks, and the nullable float column proves
    // validity bitmaps round-trip (absent ≠ 0.0). Fixture values are a pure
    // function of the global row index, so the oracle replays the archives
    // with range() arithmetic (gen_arrow_fixture.py; the q97 NPZ trick) —
    // values are multiples of 1/16, so parity is bit-exact.
    QueryDef("q174_arrow_scan",
      s"""WITH r AS (SELECT unnest(range(0, 48)) AS f)
         |SELECT 'part-' || CAST(f // 24 AS VARCHAR) || '.arrows' AS shard,
         |       CAST((f % 24) // 8 AS INT) AS batch_idx,
         |       f AS id,
         |       CASE WHEN f % 7 = 0 THEN NULL
         |            ELSE CAST((f * ${graft.functions.Hashes.Mult}) % 4096 AS DOUBLE) / 16.0
         |       END AS val,
         |       'tag_' || CAST(f % 5 AS VARCHAR) AS tag
         |FROM r ORDER BY id""".stripMargin) { (s, _) =>
      graft.sources.ArrowIngest
        .scanStreams(s, ContainerFixtures.dir("arrow"), "*.arrows")
        .orderBy("id")
    },

    // Arrow IPC SINK → scan roundtrip (q167's move applied to the columnar
    // wire format): documents project to the (id, val, tag) contract with
    // every 7th val NULL, land as partition-per-file .arrows streams
    // through the batching writer, and come back through the verified
    // reader. The oracle aggregates the ORIGINAL parquet — the container
    // hop must preserve values AND validity bitmaps, so a dropped null or
    // a batch-pivot off-by-one is a hash mismatch. val = n_chars/16 keeps
    // every non-null value an exact 1/16 multiple (bit-exact parity).
    QueryDef("q181_arrow_roundtrip",
      """SELECT doc_id AS id,
        |       CASE WHEN doc_id % 7 = 0 THEN NULL
        |            ELSE CAST(n_chars AS DOUBLE) / 16.0 END AS val,
        |       source AS tag
        |FROM documents ORDER BY id""".stripMargin) { (s, d) =>
      val dir = tmp("arrows", d)
      graft.sources.ArrowIngest.writeArrowStreams(
        Tables.documents(s, d).select(col("doc_id").as("id"),
          when(col("doc_id") % 7 === 0, lit(null).cast("double"))
            .otherwise(col("n_chars").cast("double") / 16.0).as("val"),
          col("source").as("tag")).repartition(3),
        dir, batchRows = 128)
      graft.sources.ArrowIngest.scanStreams(s, dir, "*.arrows")
        .select(col("id"), col("val"), col("tag"))
        .orderBy("id")
    },

    // TFRecord SINK → scan roundtrip (the converter lane made
    // bidirectional): every partition writes its own shard directly (task
    // parallelism = shard parallelism, no driver funnel), the write-side
    // proto encoder is proven through the CRC-verifying reader, and the
    // oracle aggregates the ORIGINAL parquet — the container hop must be
    // information-preserving, so one wrong varint or CRC on the write path
    // is a hash mismatch.
    QueryDef("q167_tfrecord_roundtrip",
      """SELECT doc_id AS id,
        |       CAST(len(string_split(text, ' ')) AS BIGINT) AS x0,
        |       CAST(length(text) AS BIGINT) AS x1,
        |       CAST(length(text) AS BIGINT) AS txt_len
        |FROM documents ORDER BY id""".stripMargin) { (s, d) =>
      val dir = tmp("tfrec", d)
      graft.sources.TfRecordIngest.writeExamples(
        Tables.documents(s, d).select(col("doc_id").as("id"),
          array(size(split(col("text"), " ", -1)).cast("long"),
            length(col("text")).cast("long")).as("xs"),
          col("text").as("txt")).repartition(3),
        dir)
      graft.sources.TfRecordIngest.scanExamples(s, dir, "*.tfrecord")
        .select(col("id"), element_at(col("xs"), 1).as("x0"),
          element_at(col("xs"), 2).as("x1"),
          length(col("txt")).cast("long").as("txt_len"))
        .orderBy("id")
    },

    // Incremental TFRecord→parquet conversion as a REAL streaming drain
    // (the q135 AvailableNow-inside-the-query pattern over the new
    // container source): shards land, a checkpointed file stream drains
    // them (one file per trigger → several micro-batches), a SECOND drain
    // with nothing new must add zero rows (exactly-once), and a late
    // incremental batch must be picked up WITHOUT re-decoding the original
    // shards. The final parquet is compared row-for-row against the
    // expected union (full outer join on id), so a dropped or
    // double-committed micro-batch, or any decode drift across the
    // container hop, flips the hash.
    QueryDef("q169_stream_tfrecord_convert",
      """SELECT CAST(count(*) AS BIGINT) AS n_first, TRUE AS redrain_noop,
        |       CAST(count(*) + 10 AS BIGINT) AS n_incremental,
        |       TRUE AS content_match
        |FROM documents""".stripMargin) { (s, d) =>
      import graft.sources.TfRecordIngest
      Scratch.run(s, "graft_tfrec_stream_") { root =>
        val (landing, out, ckpt) = (s"$root/landing", s"$root/out", s"$root/ckpt")
        def asExamples(df: org.apache.spark.sql.DataFrame) =
          df.select(col("doc_id").as("id"),
            array(size(split(col("text"), " ", -1)).cast("long"),
              length(col("text")).cast("long")).as("xs"),
            col("text").as("txt"))
        val base = asExamples(Tables.documents(s, d))
        val inc = asExamples(Tables.documents(s, d).where(col("doc_id") < 10)
          .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
        TfRecordIngest.writeExamples(base.repartition(3), landing)
        TfRecordIngest.streamToParquet(s, landing, out, ckpt,
          maxFilesPerTrigger = Some(1))
        val n1 = s.read.parquet(out).count()
        TfRecordIngest.streamToParquet(s, landing, out, ckpt) // nothing new
        val n2 = s.read.parquet(out).count()
        // late batch: encode to a scratch dir, then land the shards under new
        // names (writeExamples clears ITS target — never the live landing)
        TfRecordIngest.writeExamples(inc.repartition(1), s"$root/inc")
        val fs = new org.apache.hadoop.fs.Path(landing)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/inc"))
          .filter(_.getPath.getName.endsWith(".tfrecord"))
          .foreach(f => fs.rename(f.getPath,
            new org.apache.hadoop.fs.Path(landing, s"inc-${f.getPath.getName}")): Unit)
        TfRecordIngest.streamToParquet(s, landing, out, ckpt)
        val finalRows = s.read.parquet(out)
          .select(col("id"), element_at(col("xs"), 1).as("x0"), col("txt"))
        val expected = base.unionAll(inc)
          .select(col("id"), element_at(col("xs"), 1).as("bx0"),
            col("txt").as("btxt"))
        val parity = finalRows.join(expected, Seq("id"), "full_outer")
          .agg(count(lit(1)).as("n_incremental"),
            min(when(col("x0") === col("bx0") && col("txt") === col("btxt"),
              true).otherwise(false)).as("content_match"))
        import s.implicits._
        Seq((n1, n1 == n2)).toDF("n_first", "redrain_noop")
          .crossJoin(broadcast(parity))
          .select(col("n_first"), col("redrain_noop"),
            col("n_incremental"), col("content_match"))
          // 1-row result whose plan reads $root/out — materialize so the
          // tmpdir deletes at query exit (playbook #41) instead of leaking a
          // shutdown hook + orphaned dir per invocation
          .localCheckpoint()
      }
    }
  )
}

/** Resolve a container-fixture directory whether the JVM runs from the repo
  * root or elsewhere (the MediaSql.fixtureDir posture).
  */
private object ContainerFixtures {
  def dir(name: String): String =
    Seq(s"fixtures/$name", s"/root/repo/fixtures/$name")
      .map(new java.io.File(_)).find(_.isDirectory)
      .getOrElse(throw new IllegalStateException(
        s"fixtures/$name not found — run tools/gen_${name}_fixture.py"))
      .getAbsolutePath
}
