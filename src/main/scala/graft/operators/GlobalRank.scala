package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.types.{LongType, StructField}

/** Distributed dense global rank over a total order — the scalable
  * replacement for a partition-less `row_number()` window.
  *
  * A global rank like "vocabulary id = position in (count DESC, token)
  * order" is a total-order zip, and the naive `row_number().over(
  * Window.orderBy(...))` funnels the ENTIRE relation through one task —
  * fine for k-sized stats tables, an anti-pattern for unbounded-cardinality
  * relations (a web-corpus vocabulary is 10⁷–10⁸ token types). The
  * standard two-stage shape instead ([[ScaleZip.zip]]):
  *
  *   1. range-partition by the sort key and sort within partitions — every
  *      partition holds a contiguous, sorted slice of the global order;
  *   2. census each partition (one tiny count job); each emit task sums
  *      the counts of the partitions before its own into its offset;
  *   3. stream each partition once, assigning offset + local position.
  *
  * The result is IDENTICAL to the single-task window for any partition
  * count — the order is total (caller must include a unique tie-break
  * column), so partition boundaries cannot move any row's rank — which is
  * why the q116 oracle keeps stating plain `row_number() OVER (ORDER BY
  * ...)`: same function, different (scalable) evaluation strategy.
  *
  * Nothing is cached: the census and the emit read the same range
  * exchange's shuffle output, so both see the same partition boundaries
  * (ScaleZip scaladoc).
  */
object GlobalRank {

  /** Row count of one partition — the census both zips share. */
  private def rows(it: Iterator[_]): Long = it.foldLeft(0L)((n, _) => n + 1L)

  /** @param order total order (MUST end in a unique key — ties would make
    *              ranks partition-dependent)
    * @param numPartitions range-partition fan-out; each task ranks ~N/P
    *              rows. 0 (the default) derives it from the session's
    *              shuffle fan-out ([[ScaleZip.fanout]]) — ranks are
    *              partition-count independent either way
    * @param idName appended LongType column: 0-based dense global rank
    */
  def zipWithRank(df: DataFrame, order: Seq[Column], numPartitions: Int = 0,
                  idName: String): DataFrame =
    ScaleZip.zip[Long](df, order, numPartitions,
        Seq(StructField(idName, LongType, nullable = false)))(rows) {
      (counts, pid) =>
        var rn = counts.take(pid).sum // 0-based global rank of the next row
        _ => { rn += 1L; Seq(rn - 1L) }
    }

  /** `ntile(n) OVER (ORDER BY order)` evaluated with the same two-stage
    * zip — the scalable replacement for a partition-less NTILE window over
    * a row-scale relation (e.g. per-user deciles: users grow with data).
    *
    * Exact SQL-standard NTILE semantics (what Spark's and DuckDB's `ntile`
    * both implement): with N total rows, q = N/n and r = N%n, the first r
    * buckets hold q+1 rows and the rest hold q — NOT the `(rank·n) div N`
    * equal-width rule (q139's separately-stated contract), which assigns
    * different buckets whenever N % n ≠ 0. The census pass already counts
    * each partition, so N is free; each row's bucket is pure arithmetic on
    * its global 0-based rank:
    *   bucket(rn) = rn / (q+1)                 if rn <  (q+1)·r
    *              = r + (rn − (q+1)·r) / q     otherwise        (then +1)
    */
  def zipWithNtile(df: DataFrame, order: Seq[Column], tiles: Int,
                   numPartitions: Int = 0, outName: String): DataFrame = {
    require(tiles >= 1, s"ntile needs at least 1 bucket, got $tiles")
    ScaleZip.zip[Long](df, order, numPartitions,
        Seq(StructField(outName, LongType, nullable = false)))(rows) {
      (counts, pid) =>
        val total = counts.sum
        val q = if (total >= tiles) total / tiles else 0L
        val r = if (total >= tiles) total % tiles else total
        var rn = counts.take(pid).sum // 0-based global rank of the next row
        _ => {
          val bucket =
            if (rn < (q + 1L) * r) rn / (q + 1L)
            else r + (rn - (q + 1L) * r) / q
          rn += 1L
          Seq(bucket + 1L)
        }
    }
  }
}
