package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** One workload of the benchmark: set-up work, then one measured pass. */
trait Workload {
  def setup(): Unit
  def pass(p: Int): Unit
  /** Checks that need jobs of their own, run after the pass timer stops;
    * returns layer numbers read from the pass's output.
    */
  def check(p: Int): Map[String, Double] = Map.empty
}

final case class Opts(
    workload: String, seed: Long, seconds: Double, trace: Boolean,
    data: String, warm: String, work: String, out: String, digests: String, cores: Int,
    inputsS: Double, events: Long, warmEvents: Long)

object Opts {
  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      kv("data"), kv("warm"), kv("work"), kv("out"), kv("digests"), kv("cores").toInt,
      kv.get("inputs-s").map(_.toDouble).getOrElse(0.0),
      kv.get("events").map(_.toLong).getOrElse(0L),
      kv.get("warm-events").map(_.toLong).getOrElse(0L))
  }
}

/** One timed call; `result` is what the call observed of its output (a
  * headline query's `rows<TAB>hash` digest), empty where nothing is kept.
  */
final case class Call(name: String, pass: Int, seconds: Double, ok: Boolean,
                      result: String = "")

/** Owns the session, the counters and the record of every call; workloads
  * use it to time calls and report layer numbers. Writes one JSON result
  * file that `run.py` summarizes into the benchmark's metrics.
  */
final class Runner(val opts: Opts, val spark: SparkSession) {
  val trace = new Trace(opts.trace)
  val meter = new Meter(spark, opts.trace)

  val calls = mutable.ArrayBuffer.empty[Call]
  private val results = mutable.Map.empty[(String, Int), String]
  val failures = mutable.ArrayBuffer.empty[String]
  val setupPhases = mutable.LinkedHashMap.empty[String, Double]
  private val layer = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  def phase(name: String)(body: => Unit): Unit =
    setupPhases(name) = setupPhases.getOrElse(name, 0.0) + trace.seconds(name)(body)

  def addLayer(k: String, v: Double): Unit = layer(k) += v

  /** Times one call and returns its seconds; a throw (a failed query or a
    * wrong result) is recorded as a failed call, never as a fast one.
    */
  def call(name: String, pass: Int)(body: => Unit): Double = {
    val (ok, s) = trace.timed(name, pass) {
      try { body; true }
      catch { case e: Throwable => note(name, pass, String.valueOf(e.getMessage)); false }
    }
    calls += Call(name, pass, s, ok, results.getOrElse((name, pass), ""))
    s
  }

  /** Records what a call, timed or still running, observed of its output. */
  def observed(name: String, pass: Int, result: String): Unit =
    results((name, pass)) = result

  /** Marks an already timed call as failed: a check after the pass found
    * its output wrong.
    */
  def fail(name: String, pass: Int, msg: String): Unit = {
    note(name, pass, msg)
    val i = calls.indexWhere(c => c.name == name && c.pass == pass)
    if (i >= 0) calls(i) = calls(i).copy(ok = false)
  }

  private def note(name: String, pass: Int, msg: String): Unit = {
    failures += s"$name (pass $pass): ${msg.take(300)}"
    System.err.println(s"[perfbench] $name failed in pass $pass: $msg")
  }

  def clearCaches(): Unit = {
    spark.catalog.clearCache()
    graft.operators.ScaleZip.sweepPending(spark)
  }

  /** Per-pass counters: the meter's, plus what the workload added. */
  def takeLayers(): Map[String, Double] = {
    val m = meter.take() ++ layer.toMap
    layer.clear()
    m
  }
}

object Main {
  def main(args: Array[String]): Unit = {
    val opts = Opts.parse(args)
    val t0 = System.nanoTime()
    val spark = GraftSession.local(opts.cores, appName = "graft-perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val r = new Runner(opts, spark)
    r.setupPhases("session") = sessionS
    val w: Workload = opts.workload match {
      case "kascade_pipeline" => new PipelineWorkload(r)
      case _                  => new HeadlineWorkload(r)
    }
    w.setup()
    r.setupPhases("inputs") = r.setupPhases.getOrElse("inputs", 0.0) + opts.inputsS
    r.takeLayers() // set-up work is not part of any pass

    // passes until the measured time reaches --seconds, at least one
    val passes = mutable.ArrayBuffer.empty[Map[String, Double]]
    var measured = 0.0
    while (passes.isEmpty || measured < opts.seconds) {
      val p = passes.size + 1
      val s = r.trace.seconds("pass", p)(w.pass(p))
      measured += s
      val layers = r.takeLayers() + ("pass_s" -> s)
      val checked = w.check(p)
      r.takeLayers() // the checks' own jobs are not part of the pass
      passes += layers ++ checked
    }

    val callJson = r.calls.map { c =>
      Json.obj(Seq("name" -> Json.str(c.name), "pass" -> c.pass.toString,
        "seconds" -> Json.num(c.seconds), "ok" -> c.ok.toString,
        "result" -> Json.str(c.result)))
    }.mkString("[", ",", "]")
    val result = Json.obj(Seq(
      "workload" -> Json.str(opts.workload),
      "seed" -> opts.seed.toString,
      "trace" -> opts.trace.toString,
      "cores" -> opts.cores.toString,
      "heap_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "setup" -> Json.nums(r.setupPhases.toMap),
      "passes" -> passes.map(Json.nums).mkString("[", ",", "]"),
      "calls" -> callJson,
      "failures" -> r.failures.map(Json.str).mkString("[", ",", "]"),
      "spans" -> r.trace.json))
    java.nio.file.Files.write(java.nio.file.Paths.get(opts.out), result.getBytes("UTF-8"))
    spark.stop()
  }
}
