package graft.operators

import scala.reflect.ClassTag

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StructField, StructType}

/** The one range-partition → sort → census → emit scaffold behind the
  * total-order operators ([[GlobalRank]], [[PrefixSum]]), plus their shared
  * fan-out derivation.
  *
  * Fan-out: a literal partition count bakes a cluster size into the plan —
  * 32 range partitions over a 100 TB relation is ~3 TB per task. When the
  * caller doesn't pin one, derive it from the session's shuffle fan-out (the
  * knob every deployment already sizes to its cluster). The derivation reads
  * the CONF ONLY — never `df.rdd.getNumPartitions`: under AQE, touching
  * `.rdd` on a not-yet-executed plan forces every upstream shuffle stage to
  * materialize as real jobs, and the operator's own `repartitionByRange` is
  * a separate execution with no cross-action exchange reuse — an uncached
  * shuffled input (the groupBy censuses feeding cumsum/cumsumN) would compute
  * its upstream aggregation TWICE per operator call. The zip operators are
  * partition-count independent by construction (total order + associative
  * combine — PrefixSumSpec proves it across partition counts), so the
  * derived fan-out is hash-neutral.
  *
  * Nothing is cached. The census job and the emit both read the SAME
  * `sorted.rdd`, so both read the same range exchange's shuffle output: the
  * range bounds are sampled once (they live in that exchange's shuffle
  * dependency), the map side runs once, and partition boundaries match by
  * construction. A census (row counts, totals, extrema) depends only on
  * which partition a row lands in, never on the order within it, so the
  * census pass needs no agreement on tie order; the emit does — which is
  * why every caller's order must still end in a unique key (a shuffle read
  * delivers tied rows in no fixed order, so two reads of one partition
  * could number them differently). The trade: the emit re-reads the
  * exchange (shuffle records read double) instead of reading a cache, and
  * there is no intermediate to hold or release.
  */
private[graft] object ScaleZip {

  /** `requested` > 0 pins the fan-out; 0 derives it from the session conf
    * (`spark.sql.shuffle.partitions`) alone — see the scaladoc above for
    * why the input's own partition count is deliberately NOT consulted.
    */
  def fanout(df: DataFrame, requested: Int): Int =
    if (requested > 0) requested
    else df.sparkSession.sessionState.conf.numShufflePartitions

  /** Range-partition `df` by `order`, sort within partitions, run ONE census
    * job (`census` folds each partition to a `C`), broadcast the census array
    * (indexed by partition id) to the emit tasks, and append `appended`'s
    * columns to every row: `emit(censuses, pid)` is called once per emit
    * task and returns that partition's row walker, which yields the appended
    * values for each row in sorted order.
    */
  def zip[C: ClassTag](df: DataFrame, order: Seq[Column], numPartitions: Int,
                       appended: Seq[StructField])(census: Iterator[Row] => C)(
                       emit: (Array[C], Int) => Row => Seq[Any]): DataFrame = {
    val spark = df.sparkSession
    val sorted = df.repartitionByRange(fanout(df, numPartitions), order: _*)
      .sortWithinPartitions(order: _*).rdd
    val censuses = spark.sparkContext.broadcast(
      sorted.mapPartitions(it => Iterator(census(it))).collect())
    val out = sorted.mapPartitionsWithIndex { (pid, it) =>
      val walk = emit(censuses.value, pid)
      it.map(r => Row.fromSeq(r.toSeq ++ walk(r)))
    }
    spark.createDataFrame(out, StructType(df.schema ++ appended))
  }

  /** No-op: zips cache nothing, so there is nothing pending to sweep.
    * Kept because the perfbench runner still calls it.
    */
  def sweepPending(spark: SparkSession): Unit = ()
}
