package graft.streaming

import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.streaming._

/** The arbitrary-stateful surface Spark 4 added AFTER mapGroupsWithState:
  * `KeyValueGroupedDataset.transformWithState` with a [[StatefulProcessor]] —
  * typed per-key state variables (value/list/map), timers, and TTL, running
  * on the RocksDB state store. This module holds the processors; queries
  * drive them through the AvailableNow-inside-the-query harness and pin
  * their results to batch recomputations (stream ≡ batch is statable here
  * because the maintained state is exact integers under commutative,
  * arrival-order-insensitive updates).
  */
object StatefulStreams {

  /** transformWithState needs the RocksDB provider; the HDFS-backed default
    * store does not implement state variables.
    */
  val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** The session-conf override a transformWithState drain runs under
    * (pass it to [[graft.Scratch.run]]).
    */
  val RocksDb: (String, String) =
    "spark.sql.streaming.stateStore.providerClass" -> RocksDbProvider

  /** Shuffle (= state) partitions capped at a stream's key domain. When
    * the query's own predicate bounds the keys (say to 20 users), every
    * state partition beyond that is provably empty yet still pays a
    * RocksDB instance open + commit + snapshot per micro-batch. Hash
    * partitioning per key is unchanged, so results are identical, and the
    * cap is scale-correct: a cluster session with 600 shuffle partitions
    * still only ever has `keys` keys in the stream.
    */
  def statePartitionCap(spark: SparkSession, keys: Int): (String, String) = {
    val k = "spark.sql.shuffle.partitions"
    k -> math.min(keys, spark.conf.get(k).toInt).toString
  }

  /** Per-key running (event count, max value) as a single ValueState —
    * count is commutative and max is order-insensitive, so the final state
    * equals the batch aggregate under ANY micro-batch slicing (the
    * exactly-once witness the q236 query asserts). Emits the running state
    * every micro-batch (Update-mode semantics); the LAST emission per key
    * is the final state, recoverable downstream as max(n) since n is
    * monotone.
    */
  /** Ordered per-key recurrence — q233's integer EWMA run CONTINUOUSLY:
    * one long of ValueState per series, each batch's rows sorted by day
    * locally, the recurrence folded from the carried state. Correct only
    * under the ordered-batch harness (range-partitioned landing +
    * ascending mtimes — the q254 discipline): a recurrence is the op class
    * where arrival order IS the semantics.
    */
  /** Continuously-maintained KMV distinct sketch — the STREAMING twin of
    * [[graft.functions.KmvSketch]]: one bounded sorted array of k minimum
    * distinct hashes per key in ValueState, folded with the SAME reduce
    * the batch Aggregator uses, so the final streamed state must equal
    * the batch sketch bit-for-bit under any micro-batch slicing (KMV
    * updates are commutative and idempotent — the mergeability that makes
    * the sketch map-side-combinable is exactly what makes it
    * stream-sliceable). Emits (key, rows-seen, sketch) per touched key
    * per batch; rows-seen is monotone, so the max-n emission is the final
    * state. O(k) state per key — the streaming-sketch posture.
    */
  class KmvStream(k: Int)
      extends StatefulProcessor[String, (String, Long), (String, Long, Array[Long])] {
    @transient private var st: ValueState[Array[Long]] = _
    @transient private var cnt: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      st = getHandle.getValueState[Array[Long]]("kmv",
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]](),
        TTLConfig.NONE)
      cnt = getHandle.getValueState[Long]("n", Encoders.scalaLong,
        TTLConfig.NONE)
    }

    override def handleInputRows(key: String, rows: Iterator[(String, Long)],
                                 tv: TimerValues): Iterator[(String, Long, Array[Long])] = {
      val agg = new graft.functions.KmvSketch.KmvAgg(k)
      var buf = if (st.exists()) st.get() else Array.empty[Long]
      var n = if (cnt.exists()) cnt.get() else 0L
      rows.foreach { case (_, hv) => buf = agg.reduce(buf, hv); n += 1 }
      st.update(buf)
      cnt.update(n)
      Iterator.single((key, n, buf))
    }
  }

  /** Continuously-maintained quantile sketch — the streaming twin of
    * [[graft.functions.QuantileSketch]] (bottom-k rank sample), exactly
    * the [[KmvStream]] pattern: one bounded interleaved (hash, value)
    * pair array per key in ValueState, folded with the SAME reduce the
    * batch Aggregator uses. Bottom-k updates are commutative and
    * insensitive to slicing, so the final streamed sketch equals the
    * batch sketch bit-for-bit — and with it every quantile estimate it
    * answers. O(2k) longs of state per key: continuous percentile
    * monitoring (latency/value quantiles per stream key) without ever
    * shuffling or retaining raw history.
    */
  class QSketchStream(k: Int)
      extends StatefulProcessor[String, (String, Long, Long), (String, Long, Array[Long])] {
    @transient private var st: ValueState[Array[Long]] = _
    @transient private var cnt: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      st = getHandle.getValueState[Array[Long]]("qsk",
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]](),
        TTLConfig.NONE)
      cnt = getHandle.getValueState[Long]("n", Encoders.scalaLong,
        TTLConfig.NONE)
    }

    override def handleInputRows(key: String, rows: Iterator[(String, Long, Long)],
                                 tv: TimerValues): Iterator[(String, Long, Array[Long])] = {
      val agg = new graft.functions.QuantileSketch.QSketchAgg(k)
      var buf = if (st.exists()) st.get() else Array.empty[Long]
      var n = if (cnt.exists()) cnt.get() else 0L
      rows.foreach { case (_, h, x) => buf = agg.reduce(buf, (h, x)); n += 1 }
      st.update(buf)
      cnt.update(n)
      Iterator.single((key, n, buf))
    }
  }

  /** Page's CUSUM drift monitor, CONTINUOUSLY — q410's batch recurrence
    * S ← max(0, S + x − ref − ref/10) as one long of ValueState per
    * series, the [[OrderedEwma]] discipline verbatim: rows sort by day
    * locally per batch and order across batches comes from the ordered-
    * wave harness, because a recurrence is the op class where arrival
    * order IS the semantics. The reference level arrives precomputed on
    * each row (a batch census — the scaler posture), so the stream needs
    * exactly one long of state per key: the production shape for
    * always-on drift alarms over thousands of series.
    */
  class PageCusum
      extends StatefulProcessor[String, (String, Long, Long, Long), (String, Long, Long, Long, Long, Long)] {
    @transient private var st: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[Long]("s", Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[(String, Long, Long, Long)],
                                 tv: TimerValues): Iterator[(String, Long, Long, Long, Long, Long)] = {
      val sorted = rows.toArray.sortBy(_._2)
      // max(0, …) pins the state floor, so existence-vs-sentinel is moot
      // here: a missing state and a zero state fold identically
      var s = if (st.exists()) st.get() else 0L
      val out = sorted.map { case (k, day, x, refx) =>
        s = math.max(0L, s + x - refx - refx / 10)
        (k, day, x, refx, s, if (s > 3 * refx) 1L else 0L)
      }
      st.update(s)
      out.iterator
    }
  }

  class OrderedEwma
      extends StatefulProcessor[String, (String, Long, Long), (String, Long, Long, Long)] {
    @transient private var st: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[Long]("s", Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[(String, Long, Long)],
                                 tv: TimerValues): Iterator[(String, Long, Long, Long)] = {
      val sorted = rows.toArray.sortBy(_._2)
      // initialization is tracked by ValueState EXISTENCE, not a sentinel
      // value — a magic negative would silently restart the recurrence on
      // any negative series value
      var init = st.exists()
      var s = if (init) st.get() else 0L
      val out = sorted.map { case (_, day, y) =>
        s = if (!init) { init = true; y } else (y + s) / 2
        (key, day, y, s)
      }
      if (init) st.update(s)
      out.iterator
    }
  }

  /** Greedy TTL throttle (q451, streaming twin of q442): per key, keep a
    * row iff its day ≥ last kept day + ttl, greedily from the first — the
    * notification-rate-limit recurrence. State = the last KEPT day,
    * existence-tracked (no sentinel: day 0 is a valid day). Emits the full
    * (key, day, kept) trace; under ordered waves the streamed trace must
    * equal the batch recurrence row for row, across a RocksDB restart.
    */
  class Throttle(ttl: Long)
      extends StatefulProcessor[Long, (Long, Long), (Long, Long, Long)] {
    @transient private var st: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[Long]("lastKept", Encoders.scalaLong,
        TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
                                 tv: TimerValues): Iterator[(Long, Long, Long)] = {
      val sorted = rows.toArray.sortBy(_._2)
      var has = st.exists()
      var lastKept = if (has) st.get() else 0L
      val out = sorted.map { case (_, day) =>
        val kept = if (!has || day >= lastKept + ttl) 1L else 0L
        if (kept == 1L) { lastKept = day; has = true }
        (key, day, kept)
      }
      if (has) st.update(lastKept)
      out.iterator
    }
  }

  /** Streaming sequence packer (q463, the streaming twin of q458's
    * recurrence): per shard, NEXT-FIT into W-token context windows —
    * state = the (current bin, tokens used) packing cursor, O(1) per
    * shard. Unlike q458's batch next-fit-DECREASING the stream cannot
    * sort by length (it can't see the future), so the streamed contract
    * is next-fit in doc order under the ordered-wave harness; the oracle
    * replays exactly that recurrence. Input (doc_id, len, shard), output
    * (shard, doc_id, len, bin) — the full assignment trace.
    */
  class Packer(w: Long)
      extends StatefulProcessor[Long, (Long, Long, Long), (Long, Long, Long, Long)] {
    @transient private var st: ValueState[(Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long)]("cursor",
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Long, Long)](),
        TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[(Long, Long, Long)],
                                 tv: TimerValues): Iterator[(Long, Long, Long, Long)] = {
      val sorted = rows.toArray.sortBy(_._1)
      var (bin, acc) = if (st.exists()) st.get() else (0L, 0L)
      val out = sorted.map { case (docId, len, _) =>
        if (acc + len > w) { bin += 1; acc = len } else acc += len
        (key, docId, len, bin)
      }
      st.update((bin, acc))
      out.iterator
    }
  }

  /** State-TTL witness (q268): two per-key event counters that differ ONLY
    * in their TTLConfig — `ttl` expires after 1 ms of processing time,
    * `keep` never. Driven by the two-wave drain harness (one micro-batch
    * per wave, a full query restart between them), the wall-clock gap
    * between waves is seconds, so by wave B the `ttl` state has PROVABLY
    * expired and re-initializes from empty while `keep` accumulates
    * through the RocksDB checkpoint — eviction and re-initialization in
    * one hash-checked contract. TTL is processing-time by definition
    * (TimeMode.ProcessingTime is REQUIRED — Spark raises
    * cannotProvideTTLConfigForTimeMode otherwise); the 1 ms duration is
    * what makes wall clock deterministic here: any inter-batch gap
    * exceeds it by 2-3 orders of magnitude, so the witness never races.
    */
  class TtlCounter
      extends StatefulProcessor[Long, (Long, Long), (Long, Long, Long)] {
    @transient private var ttl: ValueState[Long] = _
    @transient private var keep: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      ttl = getHandle.getValueState[Long]("ttl", Encoders.scalaLong,
        TTLConfig(java.time.Duration.ofMillis(1)))
      keep = getHandle.getValueState[Long]("keep", Encoders.scalaLong,
        TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
                                 tv: TimerValues): Iterator[(Long, Long, Long)] = {
      var n = 0L
      rows.foreach(_ => n += 1)
      val t = (if (ttl.exists()) ttl.get() else 0L) + n
      val k = (if (keep.exists()) keep.get() else 0L) + n
      ttl.update(t)
      keep.update(k)
      Iterator.single((key, t, k))
    }
  }

  /** Event-time-TIMER session machine — the full transformWithState
    * surface: ListState buffers a user's event times, and a single
    * re-registered event-time timer at (buffered max + gap) flushes when
    * the WATERMARK passes it — the watermark-driven "session closed"
    * signal no batch operator has. On fire, the buffer is sorted and
    * sessionized by the gap rule (the buffer may legitimately hold several
    * closed sessions if one batch spanned more than a gap), emitted, and
    * cleared; a new arrival always re-registers the timer later, so a
    * firing timer PROVES no future event can extend the flushed sessions —
    * provided batches arrive in event-time-range order, which the q254
    * harness enforces with range-partitioned landing files and explicit
    * ascending mtimes (the file source schedules by modification time).
    */
  class TimerSessions(gapMs: Long)
      extends StatefulProcessor[Long, (Long, java.sql.Timestamp),
        (Long, Long, Long, Long)] {
    @transient private var buf: ListState[Long] = _
    @transient private var tmr: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      buf = getHandle.getListState[Long]("buf", Encoders.scalaLong, TTLConfig.NONE)
      tmr = getHandle.getValueState[Long]("tmr", Encoders.scalaLong, TTLConfig.NONE)
    }

    /** Gap-split the sorted times into (key, start, end, n) sessions. */
    private def sessionize(key: Long, ts: Array[Long]): Seq[(Long, Long, Long, Long)] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
      if (ts.nonEmpty) {
        var start = ts(0)
        var last = ts(0)
        var n = 1L
        var i = 1
        while (i < ts.length) {
          if (ts(i) - last > gapMs) {
            out += ((key, start, last, n))
            start = ts(i)
            n = 0L
          }
          last = ts(i)
          n += 1
          i += 1
        }
        out += ((key, start, last, n))
      }
      out.toSeq
    }

    override def handleInputRows(key: Long,
                                 rows: Iterator[(Long, java.sql.Timestamp)],
                                 tv: TimerValues): Iterator[(Long, Long, Long, Long)] = {
      rows.foreach { case (_, ts) => buf.appendValue(ts.getTime) }
      val all = buf.get().toArray.sorted
      val sessions = sessionize(key, all)
      // every session except the OPEN TAIL is closed by in-batch evidence
      // (a later buffered event proves the gap) — emit those now; the tail
      // stays buffered and flushes when the WATERMARK passes its timer.
      // This makes emission independent of any cross-file ordering the
      // source might choose: evidence, not arrival order, closes sessions.
      val closed = sessions.dropRight(1)
      val tail = sessions.last
      buf.clear()
      all.filter(_ >= tail._2).foreach(buf.appendValue)
      if (tmr.exists()) getHandle.deleteTimer(tmr.get())
      val exp = all.last + gapMs
      getHandle.registerTimer(exp)
      tmr.update(exp)
      closed.iterator
    }

    override def handleExpiredTimer(key: Long, tv: TimerValues,
                                    info: ExpiredTimerInfo): Iterator[(Long, Long, Long, Long)] = {
      val ts = buf.get().toArray.sorted
      buf.clear()
      tmr.clear()
      sessionize(key, ts).iterator
    }
  }

  /** Per-key MAP state — one counter per event type, the state-variable
    * kind a session machine keeps per-category tallies in. Counts are
    * commutative integer adds, so the final map equals the batch
    * (key, category) aggregate under any micro-batch slicing. Emits the
    * full map each batch (Update semantics — counts are monotone, so the
    * max per (key, category) downstream IS the final map).
    */
  class CategoryCounts extends StatefulProcessor[Long, (Long, String), (Long, String, Long)] {
    @transient private var st: MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getMapState[String, Long]("counts",
        Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[(Long, String)],
                                 tv: TimerValues): Iterator[(Long, String, Long)] = {
      rows.foreach { case (_, cat) =>
        val cur = if (st.containsKey(cat)) st.getValue(cat) else 0L
        st.updateValue(cat, cur + 1L)
      }
      st.iterator().map { case (cat, n) => (key, cat, n) }.toIndexedSeq.iterator
    }
  }

  class RunningMax extends StatefulProcessor[Long, (Long, Long), (Long, Long, Long)] {
    @transient private var st: ValueState[(Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long)]("agg",
        Encoders.product[(Long, Long)], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
                                 tv: TimerValues): Iterator[(Long, Long, Long)] = {
      var (n, mx) = if (st.exists()) st.get() else (0L, Long.MinValue)
      rows.foreach { case (_, c) =>
        n += 1
        if (c > mx) mx = c
      }
      st.update((n, mx))
      Iterator.single((key, n, mx))
    }
  }
}
