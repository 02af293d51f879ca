package graft.bench

/** The traced run (`--trace 1`). It reports every per-layer metric, so it
  * exercises every layer, each segment set up once:
  *
  *  1. the named workload runs its timed phase half untraced, then half
  *     traced; the difference is the tracing overhead;
  *  2. `serve_read` (the warm dashboard path) and, unless it was named,
  *     `batch_board` run a short traced phase. Every segment has the
  *     same shape whichever workload was named: its warm-up, untraced,
  *     then the workload's traced minimum of work ([[Workload.minWork]]);
  *  3. `chain_live` runs on a single-core session: `chain.rows_per_s_local1`,
  *     the single-threaded baseline, and the hop numbers when `chain_live`
  *     was not the named workload.
  *
  * Spans are kept in memory and written next to the result file at the
  * end. */
object TracedSweep {
  val OtherSeconds = 2.0
  val Local1Seconds = 1.0
  val Layers = Seq("sources", "streaming", "pipeline", "sinks", "serve", "operators", "spark")

  def run(a: Harness.Args, res: Result): Unit = {
    val all = scala.collection.mutable.ArrayBuffer[Span]()
    val self = scala.collection.mutable.Map[String, Double]().withDefaultValue(0.0)
    /** Runs one traced segment; returns its traced phase. */
    def segment(w: Workload, seconds: Double, primary: Boolean,
                layers: Result): Phase = {
      val t = w.tracer.get
      new java.io.File(w.dir).mkdirs()
      val s0 = Harness.nowMs()
      w.prepare()
      w.setup(0)
      val traced = if (primary) {
        val (plain, traced) = w.measureBothWays(seconds, res)
        val p0 = Harness.median(plain.latencies)
        val p1 = Harness.median(traced.latencies)
        res.metric("trace.untraced_latency_ms_p50", p0, "ms")
        res.metric("trace.traced_latency_ms_p50", p1, "ms")
        res.metric("trace.overhead_pct", 100.0 * (p1 - p0) / p0, "%")
        val js = t.jobsIn(Double.MinValue, Double.MaxValue)
        res.metric("spark.jobs", js.size.toDouble, "count")
        res.metric("spark.tasks", js.map(_.tasks).sum.toDouble, "count")
        res.metric("jvm.gc_ms", w.tracedGcMs, "ms")
        traced
      } else {
        w.warmUp(res)
        t.attach()
        val ph = w.measure(seconds, w.minWork(traced = true), res)
        t.detach()
        ph
      }
      w.layerMetrics(layers)
      if (primary) w.finish(res) else w.finishSegment(res)
      val spans = t.resolve()
      t.selfTimes(spans).foreach { case (l, ms) => self(l) += ms }
      all ++= spans
      val note = f"traced segment ${w.getClass.getSimpleName} on " +
        f"${w.spark.sparkContext.defaultParallelism} cores: ${(Harness.nowMs() - s0) / 1e3}%.1f s"
      Harness.log(note)
      res.notes += note
      traced
    }
    def workload(name: String, spark: org.apache.spark.sql.SparkSession) =
      Workload(name, spark, a, s"${a.work}/$name", Some(new Tracer(spark)))

    var spark = Harness.session(a.cores)
    try {
      segment(workload(a.workload, spark), a.seconds, primary = true, res)
      segment(workload("serve_read", spark), OtherSeconds, primary = false, res)
      if (a.workload != "batch_board")
        segment(workload("batch_board", spark), OtherSeconds, primary = false, res)
    } finally spark.stop()
    Harness.log("session stopped")
    spark = Harness.session(1)
    try {
      // the named chain's hop numbers win; otherwise these single-core ones
      val layers = new Result
      val ph = segment(workload("chain_live", spark), Local1Seconds, primary = false, layers)
      layers.metrics.foreach { case (k, v) => if (!res.metrics.contains(k)) res.metrics(k) = v }
      res.metric("chain.rows_per_s_local1", ph.work / (ph.wallMs / 1e3), "rows/s")
    } finally spark.stop()
    Harness.log("single-core session stopped")
    Layers.foreach(l => res.metric(s"self_ms.$l", self(l), "ms"))
    Tracer.dump(a.out + ".spans.jsonl", all.toSeq)
  }
}
