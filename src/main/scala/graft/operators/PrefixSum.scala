package graft.operators

import scala.collection.immutable.ArraySeq

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.types.{LongType, StructField}

/** Distributed running sum over a total order — the scalable replacement
  * for a partition-less `sum(x).over(Window.orderBy(...))`.
  *
  * A cumulative sum ordered by a global key (a document's token offset in
  * the corpus stream, an SPRT log-likelihood walk over the event log) is an
  * associative prefix sum, and the naive window form funnels the ENTIRE
  * relation through one task — fine for k-sized statistics, an anti-pattern
  * for row-scale relations (10⁹–10¹⁰ docs/events at 100 TB). The standard
  * two-pass shape, the [[GlobalRank]] discipline applied to sums:
  *
  *   1. range-partition by the sort key and sort within partitions — every
  *      partition holds a contiguous, sorted slice of the global order;
  *   2. census each partition (per-partition row count AND value total — one
  *      tiny job); each emit task prefix-sums the totals of the partitions
  *      before its own into its offsets;
  *   3. stream each partition once, emitting offset + local running sum
  *      (and, when asked, offset + local position as the row number).
  *
  * Because integer addition is associative and the order is total (the
  * caller must end `order` in a unique key), the result is bit-identical to
  * the single-task window for ANY partition count — which is why callers'
  * oracles keep stating plain `sum(x) OVER (ORDER BY ...)`: same function,
  * different (scalable) evaluation strategy.
  *
  * Nothing is cached: the census and the emit read the same range
  * exchange's shuffle output, so both see the same partition boundaries
  * ([[ScaleZip.zip]]). The unique-key precondition stays because the emit
  * numbers rows in within-partition sort order, and a shuffle read hands
  * tied rows over in no fixed order: with tied orders, two jobs over the
  * emit RDD could see tie rows with swapped running sums/ranks. Every zip
  * call site must end `order` in a unique key; there is no runtime guard (a
  * duplicate-key check would cost a full extra aggregate per call).
  */
object PrefixSum {

  /** Append a running sum of `valueCol` (and optionally a 1-based row
    * number) over the total order `order`.
    *
    * @param order     total order (MUST end in a unique key — ties would
    *                  make the running sum partition-dependent and differ
    *                  between two reads of the emit: see the object
    *                  scaladoc)
    * @param valueCol  non-null LongType column to sum
    * @param inclusive true → sum includes the current row
    *                  (`ROWS UNBOUNDED PRECEDING AND CURRENT ROW`);
    *                  false → exclusive (`... AND 1 PRECEDING`, 0 for the
    *                  first row)
    * @param sumName   appended LongType running-sum column
    * @param rnName    when Some, also append a 1-based LongType row number
    *                  over the same order (the `row_number()` twin rides
    *                  the census already paid for)
    * @param numPartitions range-partition fan-out; each task sums ~N/P
    *                  rows. 0 (the default) derives it from the session's
    *                  shuffle fan-out ([[ScaleZip.fanout]]) — the result is
    *                  partition-count independent either way
    */
  def cumsum(df: DataFrame, order: Seq[Column], valueCol: String,
             inclusive: Boolean, sumName: String,
             rnName: Option[String] = None,
             numPartitions: Int = 0): DataFrame =
    cumsumN(df, order, Seq(valueCol -> sumName), inclusive, rnName,
      numPartitions)

  /** [[cumsum]] for SEVERAL value columns over ONE total order in one
    * shuffle + one census — the AUC/ROC shape (cumulative TP and FP walk
    * the same score order) would otherwise pay the range partition twice.
    *
    * @param valueCols (value column → appended running-sum name) pairs;
    *                  every value column must be non-null LongType
    */
  def cumsumN(df: DataFrame, order: Seq[Column],
              valueCols: Seq[(String, String)], inclusive: Boolean,
              rnName: Option[String] = None,
              numPartitions: Int = 0): DataFrame = {
    require(valueCols.nonEmpty, "PrefixSum.cumsumN needs a value column")
    val vIdx = valueCols.map { case (v, _) => longField(df, v) }.toArray
    val k = vIdx.length
    val appended = (valueCols.map(_._2) ++ rnName)
      .map(StructField(_, LongType, nullable = false))
    // census: per partition (rows, totals[k]) — the only global state
    ScaleZip.zip[(Long, Array[Long])](df, order, numPartitions, appended) {
      it =>
        var rows = 0L
        val tot = new Array[Long](k)
        it.foreach { r =>
          rows += 1L
          var j = 0
          while (j < k) { tot(j) += r.getLong(vIdx(j)); j += 1 }
        }
        (rows, tot)
    } { (census, pid) =>
      var rn = 0L
      val run = new Array[Long](k)
      census.take(pid).foreach { case (rows, tot) =>
        rn += rows
        var j = 0
        while (j < k) { run(j) += tot(j); j += 1 }
      }
      r => {
        rn += 1L
        val out = new Array[Any](k + rnName.size)
        var j = 0
        while (j < k) {
          val v = r.getLong(vIdx(j))
          out(j) = if (inclusive) run(j) + v else run(j)
          run(j) += v
          j += 1
        }
        if (rnName.isDefined) out(k) = rn
        ArraySeq.unsafeWrapArray(out)
      }
    }
  }

  /** Running MINIMUM/MAXIMUM of `valueCol` over the total order `order` —
    * min/max are associative, so [[cumsum]]'s census shape carries over
    * verbatim (per-partition extremum census → prefix over the earlier
    * partitions → local walk) and the result is bit-identical to the
    * partition-less `min/max(x) OVER (ORDER BY ...)` window for any
    * partition count by the same total-order argument. The
    * skyline/dominance family's shape: "the best value any STRICTLY earlier
    * row achieves" is the exclusive prefix extremum.
    *
    * @param order     total order (MUST end in a unique key — see the
    *                  object scaladoc)
    * @param valueCol  non-null LongType column
    * @param isMax     true → running max; false → running min
    * @param inclusive true → `ROWS UNBOUNDED PRECEDING AND CURRENT ROW`;
    *                  false → `... AND 1 PRECEDING` — NULL for the first
    *                  row (the window's empty-frame semantics), so the
    *                  appended column is nullable
    */
  def cumExtremum(df: DataFrame, order: Seq[Column], valueCol: String,
                  isMax: Boolean, inclusive: Boolean, outName: String,
                  numPartitions: Int = 0): DataFrame = {
    val vIdx = longField(df, valueCol)
    val comb: (Long, Long) => Long =
      if (isMax) (a, b) => math.max(a, b) else (a, b) => math.min(a, b)
    // census: per partition extremum (None for an empty partition)
    ScaleZip.zip[Option[Long]](df, order, numPartitions,
        Seq(StructField(outName, LongType, nullable = !inclusive))) {
      _.map(_.getLong(vIdx)).reduceOption(comb)
    } { (census, pid) =>
      // extremum over every row STRICTLY before this partition (None = no
      // preceding rows anywhere)
      var run = census.take(pid).flatten.reduceOption(comb)
      r => {
        val v = r.getLong(vIdx)
        val prev = run
        run = Some(prev.fold(v)(comb(_, v)))
        Seq((if (inclusive) run else prev).orNull)
      }
    }
  }

  /** Index of `name` in `df`, which must be a LongType column. */
  private def longField(df: DataFrame, name: String): Int = {
    require(df.schema(name).dataType == LongType,
      s"PrefixSum needs LongType value columns; " +
        s"$name is ${df.schema(name).dataType.catalogString}")
    df.schema.fieldIndex(name)
  }
}
