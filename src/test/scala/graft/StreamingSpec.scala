package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{Drain, EventStreams}

/** Streaming/batch parity (SURVEY §2.12, §7.4.6): the same aggregation logic
  * over the same bounded input must agree between a Structured Streaming run
  * (memory sink, complete mode) and the batch plan.
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** `df` drained to a stop through the memory sink, checkpointed in a
    * scratch dir.
    */
  private def drained(df: DataFrame, mode: String = "complete"): DataFrame =
    Scratch.run(spark, "graft_drain_spec_") { root =>
      Drain.toMemory(df, s"$root/ckpt", mode)
    }

  test("tumbling-window counts: streaming == batch") {
    val batch = EventStreams.tumblingCounts(Tables.events(spark, TestSpark.sfDir))
      .collect().map(_.toSeq).toSet
    val stream = drained(
      EventStreams.tumblingCounts(EventStreams.readStream(spark, TestSpark.sfDir)))
      .collect().map(_.toSeq).toSet
    assert(stream == batch)
    assert(batch.nonEmpty)
  }

  test("stateful flatMapGroupsWithState profiles match the batch aggregation") {
    import org.apache.spark.sql.functions._
    val out = drained(
      EventStreams.statefulUserProfiles(EventStreams.readStream(spark, TestSpark.sfDir)).toDF(),
      "update")
    // last update per user is the final state
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("n_events").desc)
    val finalState = out.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select("user_id", "n_events", "max_value")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = Tables.events(spark, TestSpark.sfDir)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), max("value").as("max_value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(finalState == batch)
  }

  test("sliding-window counts: streaming == batch") {
    val batch = EventStreams.slidingCounts(Tables.events(spark, TestSpark.sfDir))
      .collect().map(_.toSeq).toSet
    val stream = drained(
      EventStreams.slidingCounts(EventStreams.readStream(spark, TestSpark.sfDir)))
      .collect().map(_.toSeq).toSet
    assert(batch.nonEmpty)
    assert(stream == batch)
  }

  test("stream-stream interval join: streaming == batch") {
    val b = Tables.events(spark, TestSpark.sfDir)
    val batch = EventStreams.viewPurchaseJoin(b, b)
      .collect().map(_.toSeq).toSet
    val stream = drained(
      EventStreams.viewPurchaseJoin(
        EventStreams.readStream(spark, TestSpark.sfDir),
        EventStreams.readStream(spark, TestSpark.sfDir)),
      "append").collect().map(_.toSeq).toSet
    assert(batch.nonEmpty)
    assert(stream == batch)
  }

  test("streaming dedup keeps exactly one row per (user, type) key") {
    import org.apache.spark.sql.functions._
    val out = drained(
      EventStreams.dedupFirstPerUserType(EventStreams.readStream(spark, TestSpark.sfDir)),
      "append")
    val keys = out.select("user_id", "event_type")
      .collect().map(_.toSeq)
    // one surviving row per key (which event_id survives depends on
    // micro-batch arrival order — only the key set is deterministic)
    assert(keys.length == keys.toSet.size)
    val batchKeys = Tables.events(spark, TestSpark.sfDir)
      .select("user_id", "event_type").distinct()
      .collect().map(_.toSeq).toSet
    assert(keys.toSet == batchKeys)
  }

  test("ingestion dedup: micro-batched == batch; cross-batch dups collapse") {
    import org.apache.spark.sql.functions._
    import graft.streaming.DocStreams
    val sql = spark
    import sql.implicits._
    Scratch.run(spark, "graft_landing") { root =>
      val dir = root.toString
      val ts = (s: Long) => new java.sql.Timestamp(1700000000000L + s * 1000)
      // batch 1: two distinct docs + one corpus dup; batch 2: a re-arrival of
      // doc 1 (cross-micro-batch dup) + one fresh doc + another corpus dup
      val b1 = Seq((1L, ts(0), "alpha beta"), (2L, ts(1), "gamma delta"),
        (3L, ts(2), "corpus one"))
      val b2 = Seq((4L, ts(3), "alpha beta"), (5L, ts(4), "epsilon zeta"),
        (6L, ts(5), "corpus two"))
      b1.toDF("doc_id", "ingest_ts", "text").repartition(1)
        .write.mode("append").parquet(dir)
      b2.toDF("doc_id", "ingest_ts", "text").repartition(1)
        .write.mode("append").parquet(dir)
      val corpus = Seq((100L, "corpus one"), (101L, "corpus two"))
        .toDF("doc_id", "text")
      // force one file per micro-batch so the dedup state crosses batches
      val stream = drained(
        DocStreams.dedupedIngest(
          DocStreams.readLanding(spark, dir, maxFilesPerTrigger = Some(1)), corpus),
        "append")
      val streamDigests = stream.select("h").collect().map(_.getString(0)).toSet
      val batch = DocStreams.dedupedIngest(
        (b1 ++ b2).toDF("doc_id", "ingest_ts", "text"), corpus)
      val batchDigests = batch.select("h").collect().map(_.getString(0)).toSet
      assert(streamDigests == batchDigests)
      // exactly the three fresh texts survive, each once
      assert(stream.count() == 3 && batch.count() == 3)
      assert(stream.select("text").collect().map(_.getString(0)).toSet ==
        Set("alpha beta", "gamma delta", "epsilon zeta"))
    }
  }

  test("curated ingest: gate + dedup micro-batched == batch; low-quality dropped") {
    import org.apache.spark.sql.functions._
    import graft.streaming.DocStreams
    val sql = spark
    import sql.implicits._
    Scratch.run(spark, "graft_curated") { root =>
      val dir = root.toString
      val ts = (s: Long) => new java.sql.Timestamp(1700000000000L + s * 1000)
      // good docs carry stopwords; doc 3 has none (gate must drop it); doc 4
      // re-arrives cross-batch (dedup must drop the second copy)
      val b1 = Seq((1L, ts(0), "the quick fox of the field"),
        (2L, ts(1), "a stitch of time and thread"),
        (3L, ts(2), "xx yy zz ww vv uu"))
      val b2 = Seq((4L, ts(3), "the quick fox of the field"),
        (5L, ts(4), "to each of the many a share"))
      b1.toDF("doc_id", "ingest_ts", "text").repartition(1)
        .write.mode("append").parquet(dir)
      b2.toDF("doc_id", "ingest_ts", "text").repartition(1)
        .write.mode("append").parquet(dir)
      val corpus = Seq((100L, "corpus body the a of")).toDF("doc_id", "text")
      val stream = drained(
        DocStreams.curatedIngest(
          DocStreams.readLanding(spark, dir, maxFilesPerTrigger = Some(1)), corpus),
        "append")
      val batch = DocStreams.curatedIngest(
        (b1 ++ b2).toDF("doc_id", "ingest_ts", "text"), corpus)
      assert(stream.select("h").collect().map(_.getString(0)).toSet ==
        batch.select("h").collect().map(_.getString(0)).toSet)
      val texts = stream.select("text").collect().map(_.getString(0)).toSet
      assert(texts == Set("the quick fox of the field",
        "a stitch of time and thread", "to each of the many a share"))
    }
  }

  test("moderated ingest: blocklist + gate + dedup micro-batched == batch") {
    import org.apache.spark.sql.functions._
    import graft.streaming.DocStreams
    val sql = spark
    import sql.implicits._
    Scratch.run(spark, "graft_moderated") { root =>
      val dir = root.toString
      val ts = (s: Long) => new java.sql.Timestamp(1700000000000L + s * 1000)
      // doc 2 contains a blocked phrase (blocklist must drop it); doc 3 has no
      // stopwords (quality gate); doc 4 re-arrives cross-batch (dedup)
      val b1 = Seq((1L, ts(0), "the quick fox of the field"),
        (2L, ts(1), "the bad crawl of a dark web page"),
        (3L, ts(2), "xx yy zz ww vv uu"))
      val b2 = Seq((4L, ts(3), "the quick fox of the field"),
        (5L, ts(4), "to each of the many a share"))
      b1.toDF("doc_id", "ingest_ts", "text").repartition(1)
        .write.mode("append").parquet(dir)
      b2.toDF("doc_id", "ingest_ts", "text").repartition(1)
        .write.mode("append").parquet(dir)
      val corpus = Seq((100L, "corpus body the a of")).toDF("doc_id", "text")
      val block = Seq("dark web", "bad crawl")
      val stream = drained(
        DocStreams.moderatedIngest(
          DocStreams.readLanding(spark, dir, maxFilesPerTrigger = Some(1)),
          corpus, block),
        "append")
      val batch = DocStreams.moderatedIngest(
        (b1 ++ b2).toDF("doc_id", "ingest_ts", "text"), corpus, block)
      assert(stream.select("h").collect().map(_.getString(0)).toSet ==
        batch.select("h").collect().map(_.getString(0)).toSet)
      assert(stream.select("text").collect().map(_.getString(0)).toSet ==
        Set("the quick fox of the field", "to each of the many a share"))
    }
  }

  test("streaming PQ encode: per-file micro-batches == batch; re-run is a no-op") {
    import org.apache.spark.sql.functions._
    import graft.operators.Pq
    import graft.streaming.EmbeddingStreams
    val sql = spark
    import sql.implicits._
    Scratch.run(spark, "graft_pq_stream") { root =>
      val emb = Tables.embeddings(spark, TestSpark.sfDir)
        .where(col("vec_id") < 200).select(col("vec_id"), col("embedding"))
      emb.repartition(3).write.parquet(s"$root/landing")
      val cb = Pq.fit(emb, "vec_id", "embedding", 64, m = 4, ksub = 4, iters = 1)
      // one file per trigger: codes must be identical however the rows batch
      EmbeddingStreams.runEncode(spark, s"$root/landing", cb,
        s"$root/codes", s"$root/ckpt", maxFilesPerTrigger = Some(1))
      def sink() = spark.read.parquet(s"$root/codes")
        .select(col("vec_id"), col("code"))
      val streamed = sink().as[(Long, Seq[Int])].collect().toMap
      val batch = EmbeddingStreams.encoded(emb, cb)
        .as[(Long, Seq[Int])].collect().toMap
      assert(streamed == batch)
      // exactly-once: draining the same landing dir again adds nothing
      EmbeddingStreams.runEncode(spark, s"$root/landing", cb,
        s"$root/codes", s"$root/ckpt", maxFilesPerTrigger = Some(1))
      assert(sink().count() == batch.size.toLong)
    }
  }

  test("count-min sketch: streaming complete-mode matrix == batch matrix") {
    import org.apache.spark.sql.functions._
    import graft.functions.CountMin
    Scratch.run(spark, "graft_cms_stream") { root =>
      val items = Tables.documents(spark, TestSpark.sfDir)
        .where(col("doc_id") < 100)
        .select(explode(split(col("text"), " ", -1)).as("item"))
      items.repartition(3).write.parquet(s"$root/landing")
      // one file per trigger: the sketch must survive the state store's
      // serialize/merge path across micro-batches and still equal the batch
      // matrix exactly (commutative integer sum)
      val stream = spark.readStream
        .schema(new org.apache.spark.sql.types.StructType()
          .add("item", org.apache.spark.sql.types.StringType))
        .option("maxFilesPerTrigger", 1).parquet(s"$root/landing")
        .agg(CountMin.sketch(col("item"), 4, 64).as("sk"))
      val streamed = drained(stream)
        .head().getSeq[Long](0)
      val batch = items.agg(CountMin.sketch(col("item"), 4, 64).as("sk"))
        .head().getSeq[Long](0)
      assert(streamed == batch)
    }
  }

  test("TTL state evicts between drains; TTL-free state survives the restart") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import org.apache.spark.sql.types.{LongType, StructType}
    import graft.streaming.StatefulStreams
    import spark.implicits._
    Scratch.run(spark, "graft_ttl_spec_", StatefulStreams.RocksDb) { root =>
      // wave A: key 1 ×3, key 2 ×1; wave B: key 1 ×2, key 3 ×1
      Drain.twoWaves(s"$root/landing",
          Seq((1L, 0L), (1L, 0L), (1L, 0L), (2L, 0L)).toDF("k", "x").coalesce(1),
          Seq((1L, 0L), (1L, 0L), (3L, 0L)).toDF("k", "x").coalesce(1)) {
        val st = spark.readStream
          .schema(new StructType().add("k", LongType).add("x", LongType))
          .parquet(s"$root/landing")
          .as[(Long, Long)]
          .groupByKey(_._1)
          .transformWithState(new StatefulStreams.TtlCounter,
            TimeMode.ProcessingTime(), OutputMode.Update())
        // Trigger.Once, not AvailableNow: ProcessingTime mode keeps
        // shouldRunAnotherBatch true forever (see q268)
        Drain.toParquet(st.toDF("k", "ttl_cnt", "keep_cnt"), s"$root/out",
          s"$root/ckpt", once = true)
      }
      val out = spark.read.parquet(s"$root/out")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(out == Set(
        (1L, 3L, 3L), (2L, 1L, 1L), // wave A
        (1L, 2L, 5L),               // wave B: ttl RE-INITIALIZED, keep carried
        (3L, 1L, 1L)))
    }
  }

  test("session windows produce sane sessions under watermark") {
    val sessions = drained(
      EventStreams.sessionAggregates(EventStreams.readStream(spark, TestSpark.sfDir)))
    val n = sessions.count()
    assert(n > 0)
    // session invariant: start <= end, positive event counts
    import org.apache.spark.sql.functions._
    assert(sessions.where(col("session_start") > col("session_end")
      || col("n_events") <= 0).count() == 0)
  }

  test("near-dup gate: wave B's copies are caught by wave A's index") {
    import org.apache.spark.sql.functions._
    import graft.streaming.DocStreams
    val sql = spark
    import sql.implicits._
    Scratch.run(spark, "graft_ndgate_") { root =>
      val ts = (s: Long) => new java.sql.Timestamp(1700000000000L + s * 1000)
      val corpus = Seq((100L, "alpha beta gamma delta epsilon"))
        .toDF("doc_id", "text")
      // wave A: one verbatim corpus copy (caught), one novel doc (survives)
      Seq((1L, ts(0), "alpha beta gamma delta epsilon"),
        (2L, ts(1), "one two three four five six"))
        .toDF("doc_id", "ingest_ts", "text")
        .repartition(1).write.mode("append").parquet(s"$root/landing")
      DocStreams.runNearDupIngest(spark, s"$root/landing", corpus,
        s"$root/out", s"$root/ckpt")
      // wave B: a copy of WAVE A'S survivor (only the accumulated index
      // can catch it) and a fresh control
      Seq((3L, ts(2), "one two three four five six"),
        (4L, ts(3), "seven eight nine ten eleven twelve"))
        .toDF("doc_id", "ingest_ts", "text")
        .repartition(1).write.mode("append").parquet(s"$root/landing")
      DocStreams.runNearDupIngest(spark, s"$root/landing", corpus,
        s"$root/out", s"$root/ckpt")
      val landed = spark.read.parquet(s"$root/out/*")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(landed == Set(2L, 4L),
        s"expected survivors {2, 4}, got $landed")
      // batch parity: the same decisions from the batch-mode gate
      val wa = Seq((1L, ts(0), "alpha beta gamma delta epsilon"),
        (2L, ts(1), "one two three four five six"))
        .toDF("doc_id", "ingest_ts", "text")
      val sA = DocStreams.nearDupGate(wa, corpus)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(sA == Set(2L))
      val acc = corpus.unionByName(
        Seq((2L, "one two three four five six")).toDF("doc_id", "text"))
      val wb = Seq((3L, ts(2), "one two three four five six"),
        (4L, ts(3), "seven eight nine ten eleven twelve"))
        .toDF("doc_id", "ingest_ts", "text")
      val sB = DocStreams.nearDupGate(wb, acc)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(sB == Set(4L))
      // compact the accumulated index, then a third wave: a copy of a
      // wave-B survivor must still be caught THROUGH the compacted dir
      val folded = DocStreams.compactGateOutput(spark, s"$root/out")
      assert(folded >= 1)
      val dirs = new java.io.File(s"$root/out").listFiles
        .filter(_.getName.startsWith("batch=")).map(_.getName).toSet
      assert(dirs == Set("batch=compacted"))
      Seq((5L, ts(4), "seven eight nine ten eleven twelve"),
        (6L, ts(5), "thirteen fourteen fifteen sixteen seventeen"))
        .toDF("doc_id", "ingest_ts", "text")
        .repartition(1).write.mode("append").parquet(s"$root/landing")
      DocStreams.runNearDupIngest(spark, s"$root/landing", corpus,
        s"$root/out", s"$root/ckpt")
      val landedAll = spark.read.parquet(s"$root/out/*")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(landedAll == Set(2L, 4L, 6L),
        s"expected survivors {2, 4, 6}, got $landedAll")
      // REPEATED compaction must be cumulative: fold again (prior compacted
      // dir + the post-compaction batch dir) — the pre-fix behavior dropped
      // the previously consolidated survivors {2, 4} here
      val folded2 = DocStreams.compactGateOutput(spark, s"$root/out")
      assert(folded2 >= 1)
      val afterSecond = spark.read.parquet(s"$root/out/*")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(afterSecond == Set(2L, 4L, 6L),
        s"second compaction lost survivors: got $afterSecond")
      // and the twice-compacted index still gates a fourth wave
      Seq((7L, ts(6), "one two three four five six"), // dup of doc 2
        (8L, ts(7), "eighteen nineteen twenty twentyone twentytwo"))
        .toDF("doc_id", "ingest_ts", "text")
        .repartition(1).write.mode("append").parquet(s"$root/landing")
      DocStreams.runNearDupIngest(spark, s"$root/landing", corpus,
        s"$root/out", s"$root/ckpt")
      val landedFinal = spark.read.parquet(s"$root/out/*")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(landedFinal == Set(2L, 4L, 6L, 8L),
        s"expected survivors {2, 4, 6, 8}, got $landedFinal")
    }
  }

  test("near-dup gate auto-compaction bounds batch dirs on a long flow") {
    import graft.streaming.DocStreams
    val sql = spark
    import sql.implicits._
    Scratch.run(spark, "graft_ndauto_") { root =>
      val ts = (s: Long) => new java.sql.Timestamp(1700000000000L + s * 1000)
      val corpus = Seq((100L, "alpha beta gamma delta epsilon"))
        .toDF("doc_id", "text")
      // 10 waves: wave w lands one novel doc and (w>0) one verbatim copy of
      // the PREVIOUS wave's novel doc — every wave exercises the accumulated
      // index, and dup detection across a compaction boundary proves the
      // folded dirs still feed the gate. The wave vocabularies are distinct
      // strings, which the full-content tokenHash keeps distinct.
      def novel(w: Int) =
        (0 until 6).map(i => "x" * (w + 2) + ('a' + i).toChar).mkString(" ")
      var expected = Set.empty[Long]
      for (w <- 0 until 10) {
        val rows = Seq((w * 10L, ts(w * 2L), novel(w))) ++
          (if (w > 0) Seq((w * 10L + 1, ts(w * 2L + 1), novel(w - 1))) else Nil)
        expected += w * 10L
        rows.toDF("doc_id", "ingest_ts", "text")
          .repartition(1).write.mode("append").parquet(s"$root/landing")
        DocStreams.runNearDupIngest(spark, s"$root/landing", corpus,
          s"$root/out", s"$root/ckpt", compactEvery = 3)
      }
      val landed = spark.read.parquet(s"$root/out/*")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(landed == expected, s"expected $expected, got $landed")
      // the whole point: dir count stays bounded by compactEvery + 1, not 10
      val nDirs = new java.io.File(s"$root/out").listFiles
        .count(_.getName.startsWith("batch="))
      assert(nDirs <= 4, s"auto-compaction left $nDirs batch dirs")
    }
  }

  test("graph maintenance stream: two drains == build then upsert, edge for edge") {
    import org.apache.spark.sql.functions._
    import graft.operators.NswGraph
    import graft.streaming.EmbeddingStreams
    Scratch.run(spark, "graft_gmaint_") { root =>
      val emb = Tables.embeddings(spark, TestSpark.sfDir)
        .select("vec_id", "embedding")
      val isNew = col("vec_id") % 8 === 0
      val waveA = emb.where(!isNew)
      val waveB = emb.where(isNew)
      def drain(): Unit =
        EmbeddingStreams.runGraphMaintenance(spark, s"$root/landing",
          s"$root/index", s"$root/ckpt", dim = 64, bands = 8, rbits = 4,
          seed = 11L, cap = 64, kInternal = 12, deg = 6)
      waveA.coalesce(1).write.mode("append").parquet(s"$root/landing")
      drain() // bootstrap build
      waveB.coalesce(1).write.mode("append").parquet(s"$root/landing")
      drain() // incremental upsert through the swapped index
      val got = spark.read.parquet(s"$root/index/current/edges")
      val baseGraph = NswGraph.buildRefined(waveA, "vec_id", "embedding",
        64, 8, 4, 11L, 64, kInternal = 12, rounds = 2, deg = 6)
        .localCheckpoint()
      val want = NswGraph.upsert(waveA, waveB, baseGraph, "vec_id",
        "embedding", 64, 8, 4, 11L, 64, kInternal = 12, deg = 6)
      assert(got.exceptAll(want).count() == 0)
      assert(want.exceptAll(got).count() == 0)
      // the maintained vector set is the full corpus
      assert(spark.read.parquet(s"$root/index/current/vectors").count()
        == emb.count())
      // crash-window recovery: simulate dying between the two swap renames
      // (current→.old done, .next→current not) — the corpus index sits in
      // .old and `current` is gone. The next drain must RESTORE it, not
      // bootstrap a fresh build from only the arriving batch.
      assert(new java.io.File(s"$root/index/current")
        .renameTo(new java.io.File(s"$root/index/.old")))
      val waveC = emb.where(col("vec_id") % 8 === 1)
        .withColumn("vec_id", col("vec_id") + 1000000L)
      waveC.coalesce(1).write.mode("append").parquet(s"$root/landing")
      drain()
      val recovered = spark.read.parquet(s"$root/index/current/vectors")
      assert(recovered.count() == emb.count() + waveC.count(),
        "post-crash drain lost the corpus index")
    }
  }
}
