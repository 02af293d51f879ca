package graft.bench

import org.apache.spark.sql.SparkSession

/** One timed phase: per-operation latencies, the value reported as
  * `latency_ms_tail` and the work it completed. */
final case class Phase(latencies: Seq[Double], tailMs: Double,
                       work: Double, wallMs: Double)

/** A closed-loop workload. The harness calls, in order: [[prepare]]
  * (input staging, not timed), [[setup]] `setupReps` times (each on fresh
  * state; the median is `setup_s`), [[measure]] for the timed phase and
  * [[finish]] for the correctness checks and cleanup. The traced run
  * ([[TracedSweep]]) runs a workload it was not named for as a segment:
  * [[prepare]], one [[setup]], [[warmUp]], a traced [[measure]] and
  * [[finishSegment]].
  *
  * End-to-end metrics every timed workload reports (README.md maps them
  * to each workload): `setup_s`, `latency_ms_p50`, `latency_ms_tail`,
  * `throughput_per_s` and `heap_retained_mb`. */
abstract class Workload(val spark: SparkSession, val args: Harness.Args,
                        val dir: String, val tracer: Option[Tracer]) {
  val setupReps = 3
  /** Operations (cycles, passes, lookups) a timed phase runs at least,
    * however short `--seconds` is: in an untraced run, or (`traced`) in
    * each half of a traced comparison and in a traced segment. */
  def minWork(traced: Boolean): Int
  def prepare(): Unit
  def setup(rep: Int): Unit
  /** Runs operations for `seconds`, and at least `min` of them. */
  def measure(seconds: Double, min: Int, res: Result): Phase
  def finish(res: Result): Unit
  /** Ends a traced segment. Checks that need the workload's whole run
    * are left to the runs it is named in. */
  def finishSegment(res: Result): Unit = finish(res)
  /** Per-layer metrics of the traced segment (trace mode only). */
  def layerMetrics(res: Result): Unit = ()

  protected def span[T](name: String, layer: String, req: String)(body: => T): T =
    tracer match {
      case Some(t) => t.span(name, layer, req)(body)
      case None => body
    }

  /** Work run before a traced comparison, so that its untraced and traced
    * halves start equally warm. */
  def warmUp(res: Result): Unit = ()

  /** The timed phase split in two halves of the same minimum work:
    * untraced, then traced (listeners attached). Returns both phases; the
    * difference is the tracing overhead. */
  def measureBothWays(seconds: Double, res: Result): (Phase, Phase) = {
    val t = tracer.get
    warmUp(res)
    val plain = measure(seconds / 2, minWork(traced = true), res)
    t.attach()
    val gc0 = Harness.gcMs()
    val traced = measure(seconds / 2, minWork(traced = true), res)
    t.detach()
    tracedGcMs = (Harness.gcMs() - gc0).toDouble
    (plain, traced)
  }
  var tracedGcMs = 0.0

  /** Timed set-ups, returning their durations in seconds. */
  def setups(): Seq[Double] = (0 until setupReps).map { r =>
    val t0 = Harness.nowMs()
    setup(r)
    val s = (Harness.nowMs() - t0) / 1e3
    Harness.log(f"${args.workload} set-up $r: $s%.2f s")
    s
  }

  def runUntraced(seconds: Double, res: Result): Unit = {
    new java.io.File(dir).mkdirs()
    prepare()
    Harness.log("prepared")
    val st = setups()
    val ph = measure(seconds, minWork(traced = false), res)
    Harness.log("measured")
    val heap = Harness.heapRetainedMb()
    finish(res)
    Harness.log("finished")
    report(res, st, ph, heap)
  }

  def report(res: Result, st: Seq[Double], ph: Phase, heap: Double): Unit = {
    res.metric("setup_s", Harness.median(st), "s")
    res.metric("latency_ms_p50", Harness.median(ph.latencies), "ms")
    res.metric("latency_ms_tail", ph.tailMs, "ms")
    res.metric("throughput_per_s", ph.work / (ph.wallMs / 1e3), "1/s")
    res.metric("heap_retained_mb", heap, "MB")
    res.notes += f"${args.workload}: ${ph.latencies.size} latency samples, " +
      f"work ${ph.work}%.0f in ${ph.wallMs / 1e3}%.2f s"
  }
}

object Workload {
  def apply(name: String, spark: SparkSession, a: Harness.Args, dir: String,
            tracer: Option[Tracer]): Workload = name match {
    case "chain_live" => new ChainLive(spark, a, dir, tracer)
    case "serve_read" => new ServeRead(spark, a, dir, tracer)
    case "batch_board" => new BatchBoard(spark, a, dir, tracer)
    case other => sys.error(s"unknown workload $other")
  }

  /** p50 of a sample, `NaN`-free: empty samples report 0. */
  def p50(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else Harness.median(xs.toSeq)
}
