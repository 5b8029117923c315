package graft.operators

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.jdk.CollectionConverters._

/** Shared plumbing for the range-partition + census + zip operators
  * ([[GlobalRank]], [[PrefixSum]]): fan-out derivation and eager release of
  * the persisted sorted intermediate.
  *
  * Fan-out: a literal partition count bakes a cluster size into the plan —
  * 32 range partitions over a 100 TB relation is ~3 TB per task. When the
  * caller doesn't pin one, derive it from the session's shuffle fan-out (the
  * knob every deployment already sizes to its cluster). The derivation reads
  * the CONF ONLY — never `df.rdd.getNumPartitions`: under AQE, touching
  * `.rdd` on a not-yet-executed plan forces every upstream shuffle stage to
  * materialize as real jobs, and the operator's own `repartitionByRange` is
  * a separate execution with no cross-action exchange reuse — a non-persisted
  * shuffled input (the groupBy censuses feeding cumsum/cumsumN) would compute
  * its upstream aggregation TWICE per operator call. The zip operators are
  * partition-count independent by construction (total order + associative
  * combine — PrefixSumSpec proves it across partition counts), so the
  * derived fan-out is hash-neutral.
  *
  * Release: the sorted relation must stay persisted between the census job
  * and the emit job so both read the SAME range boundaries. Once the first
  * job that materializes the emit RDD completes, the cache is dead weight —
  * but the operator returns a LAZY frame, so it cannot unpersist inline
  * without defeating the cache. ONE shared listener per SparkContext watches
  * a pending map (emit RDD id → cached frame) and unpersists each entry when
  * the first job whose lineage contains its emit RDD completes — unless
  * another pending entry reads the same cached plan, whose emit job then
  * does the release. This bounds within-query cache pressure (a nested zip
  * chain frees each level as the downstream action sweeps through it)
  * instead of holding every level until the runner's clearCache. A zip that
  * is BUILT but never actioned leaves its entry pending — [[sweepPending]]
  * (called from the runners' clearCache lifecycle) unpersists and drops
  * those, so a long-lived server session can't accrete entries; the
  * listener itself is a singleton, so listener count never grows with
  * operator calls. If a later action re-reads a
  * released emit RDD, the recompute is bit-identical: the range bounds live
  * in the captured plan's shuffle dependency (sampled once), assignment and
  * sort are deterministic functions of the total order.
  *
  * Deliberate trade: when the zip OUTPUT itself feeds a range partitioner
  * (a nested zip chain), the downstream exchange's bound-sampling pass is
  * the first job over the emit RDD, so the release fires before the main
  * shuffle re-reads it — that second read recomputes the emit from the
  * parent exchange's still-present shuffle files (one extra in-partition
  * sort; the map side is not redone, and determinism makes the recompute
  * bit-identical). Holding k row-scale caches to the end of the query
  * costs more at 100 TB than one re-sorted pass per nesting level.
  */
private[graft] object ScaleZip {

  /** `requested` > 0 pins the fan-out; 0 derives it from the session conf
    * (`spark.sql.shuffle.partitions`) alone — see the scaladoc above for
    * why the input's own partition count is deliberately NOT consulted.
    */
  def fanout(df: DataFrame, requested: Int): Int =
    if (requested > 0) requested
    else df.sparkSession.sessionState.conf.numShufflePartitions

  /** Per-context release state: the one shared listener plus its pending
    * (emit RDD id → cached frame) map and the in-flight (job id → emit RDD
    * ids) watch set.
    */
  private final class ReleaseState extends SparkListener {
    val pending = new ConcurrentHashMap[Int, DataFrame]()
    private val jobWatch = new ConcurrentHashMap[Int, Set[Int]]()
    override def onJobStart(js: SparkListenerJobStart): Unit =
      if (!pending.isEmpty) {
        val hits = pending.keySet.asScala.filter(id =>
          js.stageInfos.exists(_.rddInfos.exists(_.id == id))).toSet
        if (hits.nonEmpty) jobWatch.put(js.jobId, hits): Unit
      }
    override def onJobEnd(je: SparkListenerJobEnd): Unit = {
      val hits = jobWatch.remove(je.jobId)
      if (hits != null) hits.foreach { id =>
        val cached = pending.remove(id)
        if (cached != null && !readByPending(cached))
          cached.unpersist(blocking = false)
      }
    }
    /** Two zips over the same input, order and fan-out persist ONE cache
      * entry: it is released when the last of their emit jobs ends, never
      * while another side's stage may still be reading its blocks.
      */
    private def readByPending(cached: DataFrame): Boolean = {
      val plan = cached.queryExecution.normalized
      pending.values.asScala.exists(_.queryExecution.normalized.sameResult(plan))
    }
    def sweep(): Unit = {
      pending.values.asScala.foreach(_.unpersist(blocking = false))
      pending.clear()
      jobWatch.clear()
    }
  }

  private val states = new ConcurrentHashMap[SparkContext, ReleaseState]()

  private def state(sc: SparkContext): ReleaseState =
    states.computeIfAbsent(sc, { c =>
      val s = new ReleaseState
      c.addSparkListener(s)
      s
    })

  /** Unpersist `cached` after the first completed job whose stages contain
    * `emitRddId` in their lineage (via the shared per-context listener).
    */
  def releaseAfterJobWith(cached: DataFrame, emitRddId: Int): Unit =
    state(cached.sparkSession.sparkContext).pending.put(emitRddId, cached): Unit

  /** Entries still awaiting their emit job — zips built but not (yet)
    * actioned. Exposed for the runners' sweep and PrefixSumSpec.
    */
  def pendingCount(spark: SparkSession): Int =
    Option(states.get(spark.sparkContext)).map(_.pending.size).getOrElse(0)

  /** Unpersist + drop every still-pending entry — the clearCache-lifecycle
    * backstop for zips that were built but never actioned (their sorted
    * intermediates would otherwise stay registered for the session's life).
    */
  def sweepPending(spark: SparkSession): Unit =
    Option(states.get(spark.sparkContext)).foreach(_.sweep())
}
