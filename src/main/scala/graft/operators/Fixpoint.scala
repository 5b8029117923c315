package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The round loop of the iterative operators. Each round ends in a
  * `localCheckpoint`, so round k never replays rounds < k; what the loop
  * needs to steer the next round (a change count, a set signature, a
  * dangling mass) is observed during that checkpoint's own job, never by a
  * separate `count`/`isEmpty` job. Loops that run a pinned number of
  * rounds to mirror an unrolled oracle stay plain `for` loops.
  */
object Fixpoint {

  /** `df.localCheckpoint()` and the long aggregates `metrics` over its rows,
    * in order, observed during the checkpoint job; null reads as 0.
    */
  def checkpoint(df: DataFrame, metrics: Column*): (DataFrame, Seq[Long]) = {
    val obs = org.apache.spark.sql.Observation()
    val named = metrics.zipWithIndex.map { case (m, i) =>
      coalesce(m, lit(0L)).as(s"m$i")
    }
    val out = df.observe(obs, named.head, named.tail: _*).localCheckpoint()
    val row = obs.get
    (out, named.indices.map(i => row(s"m$i").asInstanceOf[Long]))
  }

  /** Applies `step` from `init` until a round's progress (a count taken by
    * [[checkpoint]]) is 0 and returns that round's state. Progress still
    * above 0 after `maxIter` rounds throws an `IllegalStateException`
    * naming `what`, `maxIter` and every round's progress: a cut-short
    * fixpoint must not pass off intermediate state as the answer.
    */
  def converge[S](what: String, init: S, maxIter: Int)(step: S => (S, Long)): S = {
    val trace = scala.collection.mutable.ArrayBuffer.empty[Long]
    var state = init
    while (trace.lastOption.forall(_ > 0)) {
      if (trace.length >= maxIter) throw new IllegalStateException(
        s"$what did not converge in $maxIter rounds " +
          s"(progress per round: ${trace.mkString(", ")}) — raise maxIter")
      val (next, progress) = step(state)
      state = next
      trace += progress
    }
    state
  }
}
