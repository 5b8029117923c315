package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Bench, SparkEntry}

/** The headline catalog (`Bench.headline`) split by how it executes:
  * single-plan queries that run as one job graph, and queries that loop
  * rounds of jobs until they converge (fixpoints, power iterations, graph
  * builds). Each call builds the query, materializes it through the `noop`
  * sink, and checks an order-independent digest of its rows, computed in the
  * same job by `observe()`, against the digest recorded from a run whose
  * results matched the DuckDB oracle.
  */
object Headline {
  val onePass: Seq[String] = Seq(
    "q01_pruned_scan", "q03_group_count", "q07_survival_curve", "q11_star_join",
    "q13_rotation_union", "q19_spherical", "q26_tumbling_window", "q28_sessionize",
    "q30_exact_dedup", "q36_minhash_signature", "q38_simhash", "q40_knn_bruteforce",
    "q45_channel_stats", "q46_mappartitions_score", "q56_asof_join", "q57_rollup",
    "q241_native_asof", "q254_timer_sessions")
  val iterative: Seq[String] = Seq(
    "q61_dedup_components", "q81_pagerank", "q229_pca_power", "q230_hits",
    "q238_label_propagation", "q266_nsw_scalable", "q290_nsw_upsert")

  /** The two workloads together must be exactly the headline set, so their
    * summed per-query medians stay comparable with the headline total.
    */
  def checkContinuity(): Unit = {
    val split = onePass ++ iterative
    require(split.distinct.size == split.size && split.toSet == Bench.headline.toSet,
      s"headline set changed: Bench.headline=${Bench.headline.sorted.mkString(",")} " +
        s"but the benchmark splits ${split.sorted.mkString(",")}")
  }

  def queries(workload: String): Seq[String] = workload match {
    case "headline_onepass"   => onePass
    case "headline_iterative" => iterative
  }

  final case class Digest(rows: Long, hash: String)

  /** Expected digests, one `name<TAB>rows<TAB>hash` line per query. */
  def readDigests(path: String): Map[String, Digest] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filter(_.nonEmpty).map { l =>
      val Array(n, r, h) = l.split("\t")
      n -> Digest(r.toLong, h)
    }.toMap
    finally src.close()
  }

  /** Attaches a row count and the sums of the high and low 32-bit halves of
    * each row's xxhash64: exact in a long up to 2^31 rows, so neither
    * overflow nor row order can change them. Map columns are hashed through
    * their JSON form, since maps have no hash.
    */
  def observeDigest(df: DataFrame): (DataFrame, Observation) = {
    def hasMap(t: DataType): Boolean = t match {
      case _: MapType        => true
      case a: ArrayType      => hasMap(a.elementType)
      case s: StructType     => s.fields.exists(f => hasMap(f.dataType))
      case _                 => false
    }
    val cols: Seq[Column] = df.schema.fields.toSeq.map { f =>
      val c = df.col("`" + f.name.replace("`", "``") + "`")
      if (hasMap(f.dataType)) to_json(c) else c
    }
    val h = xxhash64(cols: _*)
    val obs = Observation()
    val out = df.observe(obs, count(lit(1)).as("rows"),
      coalesce(sum(shiftright(h, 32)), lit(0L)).as("hi"),
      coalesce(sum(h.bitwiseAND(0xffffffffL)), lit(0L)).as("lo"))
    (out, obs)
  }

  def digestOf(obs: Observation): Digest = {
    val m = obs.get
    Digest(m("rows").asInstanceOf[Long], s"${m("hi")}:${m("lo")}")
  }
}

/** Runs one headline workload: q290 staging and two warm-up passes in set-up,
  * then each pass calls every query once, in an order shuffled by the seed
  * and the pass number.
  */
final class HeadlineWorkload(r: Runner) extends Workload {
  private val names = Headline.queries(r.opts.workload)
  private val run = SparkEntry.queries
  private val expected = Headline.readDigests(r.opts.digests)

  Headline.checkContinuity()
  require(names.forall(run.contains), "a headline query is missing from SparkEntry")
  require(names.forall(expected.contains),
    s"no recorded digest for ${names.filterNot(expected.contains).mkString(",")}")

  private def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def order(p: Int): Seq[String] =
    new scala.util.Random(r.opts.seed * 1000003L + p).shuffle(names)

  /** The warm-up is two unchecked passes over the same tables at sf 0.01.
    * The first JIT-compiles the row loops; the second brings the per-query
    * code (planning, scheduling, codegen lookup), which runs a few times per
    * query rather than per row, to the tier it keeps. After a single
    * warm-up pass, even one over the sf 0.1 tables, the first measured pass
    * ran 5-30 % slower than the next, by an amount that changed from run to
    * run.
    */
  def setup(): Unit = {
    if (names.contains("q290_nsw_upsert")) r.phase("staging") {
      graft.queries.SimilarityQueries.ensureNswBase(r.spark, r.opts.data)
      r.clearCaches()
    }
    r.phase("warmup") {
      Seq(-1, -2).foreach { p =>
        order(p).foreach { n =>
          materialize(Headline.observeDigest(run(n)(r.spark, r.opts.warm))._1)
          r.clearCaches()
        }
      }
    }
  }

  def pass(p: Int): Unit = {
    order(p).foreach { name =>
      r.call(name, p) {
        val (df, _) = r.trace.timed("build", p)(run(name)(r.spark, r.opts.data))
        val (watched, obs) = Headline.observeDigest(df)
        r.trace.seconds("execute", p)(materialize(watched))
        val got = Headline.digestOf(obs)
        r.observed(name, p, s"${got.rows}\t${got.hash}")
        val want = expected(name)
        if (got != want) throw new IllegalStateException(
          s"$name digest $got differs from the recorded $want")
      }
      r.clearCaches()
    }
  }
}
