package graft.bench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable

/** One traced interval. Times are epoch milliseconds; `parent` is
  * resolved at the end by interval containment ([[Tracer.resolve]]). */
final case class Span(id: Long, name: String, layer: String,
                      start: Double, end: Double, req: String,
                      query: String = "", var parent: Long = 0L,
                      split: Seq[(String, Double)] = Nil)

/** Per Spark job: the footprint counters a traced run reports. */
final class JobStat(val id: Int, val start: Double, val queryId: String) {
  @volatile var end: Double = Double.NaN
  var tasks = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
}

/** In-memory span recorder. The harness wraps each call into a layer
  * (`sinks.publish`, `serve.open`, `serve.lookup`, `board.query`) and its
  * own chain steps (`ods.append`, `chain.drain`, layer `harness`) in
  * [[span]]; a [[SparkListener]] adds one child span per Spark job and a
  * [[StreamingQueryListener]] one per hop micro-batch, named after the
  * hop. Nothing is written until [[dump]]. */
final class Tracer(spark: SparkSession) {
  private val epochBase = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()
  def now(): Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  val spans = mutable.ArrayBuffer[Span]()
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobStat]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  /** streaming query id → hop name, for streaming progress and job attribution. */
  val hopOf = new java.util.concurrent.ConcurrentHashMap[String, String]()
  val progress = mutable.ArrayBuffer[(String, org.apache.spark.sql.streaming.StreamingQueryProgress)]()

  /** Spans and listener events are recorded only between [[attach]]
    * and [[detach]]. */
  @volatile var on = false

  def span[T](name: String, layer: String, req: String)(body: => T): T =
    if (!on) body
    else {
      val t0 = now()
      try body
      finally spans.synchronized {
        spans += Span(ids.incrementAndGet(), name, layer, t0, now(), req)
      }
    }

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val q = Option(e.properties).flatMap(p =>
        Option(p.getProperty("sql.streaming.queryId"))).getOrElse("")
      jobs.put(e.jobId, new JobStat(e.jobId, e.time.toDouble, q))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
        j.synchronized {
          j.tasks += 1
          val m = e.taskMetrics
          if (m != null) {
            j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
              m.shuffleWriteMetrics.bytesWritten
            j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      Option(hopOf.get(p.id.toString)).foreach { hop =>
        progress.synchronized { progress += hop -> p }
      }
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(jobListener)
    spark.streams.addListener(streamListener)
    on = true
  }

  def detach(): Unit = {
    settle()
    on = false
    spark.sparkContext.removeSparkListener(jobListener)
    spark.streams.removeListener(streamListener)
  }

  /** Wait (bounded) until the listener bus has delivered every job end. */
  def settle(): Unit = {
    import scala.jdk.CollectionConverters._
    val deadline = System.nanoTime() + 5000000000L
    while (jobs.values.asScala.exists(_.end.isNaN) && System.nanoTime() < deadline)
      Thread.sleep(20)
  }

  def jobsIn(t0: Double, t1: Double): Seq[JobStat] = {
    import scala.jdk.CollectionConverters._
    jobs.values.asScala.toSeq.filter(j => j.start >= t0 && j.start <= t1)
  }

  /** Progress events of hop batches that read input. */
  def hopBatches: Seq[(String, org.apache.spark.sql.streaming.StreamingQueryProgress)] =
    progress.synchronized(progress.toSeq).filter(_._2.numInputRows > 0)

  /** All spans, harness and listener-made, with parents resolved: a job
    * span's parent is the batch span of its streaming query that covers
    * it, else the innermost harness span covering its start; a hop batch
    * span's parent is the innermost harness span covering its start. */
  def resolve(): Seq[Span] = {
    import scala.jdk.CollectionConverters._
    val harness = spans.synchronized(spans.toSeq)
    val batches = hopBatches.map { case (hop, p) =>
      val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val d = Option(p.durationMs.get("triggerExecution")).map(_.toDouble).getOrElse(0.0)
      Span(ids.incrementAndGet(), s"hop.$hop", "pipeline", t0, t0 + d,
        s"batch-${p.batchId}", p.id.toString, split = ChainLive.hopSplit(hop, p))
    }
    val jobSpans = jobs.values.asScala.toSeq.filter(!_.end.isNaN).map { j =>
      Span(ids.incrementAndGet(), "spark.job", "spark", j.start, j.end,
        s"job-${j.id}", j.queryId)
    }
    def innermost(cands: Seq[Span], t: Double): Long =
      cands.filter(c => c.start <= t && t <= c.end)
        .sortBy(c => c.end - c.start).headOption.map(_.id).getOrElse(0L)
    // harness spans nest by construction (single thread, stack order)
    harness.foreach(h => h.parent = innermost(harness.filter(o =>
      o.id != h.id && o.start <= h.start && h.end <= o.end), h.start))
    batches.foreach(b => b.parent = innermost(harness, b.start))
    jobSpans.foreach { j =>
      val own = batches.filter(_.query == j.query)
      j.parent = if (j.query.nonEmpty && own.nonEmpty) innermost(own, j.start)
        else innermost(harness, j.start)
      if (j.parent == 0L) j.parent = innermost(harness, j.start)
    }
    harness ++ batches ++ jobSpans
  }

  /** Self time per layer. A hop micro-batch counts its whole duration,
    * split into layers by its progress event ([[ChainLive.hopSplit]]), so
    * the Spark jobs it ran count inside it. Any other span counts its
    * duration minus the part of it that its children cover. */
  def selfTimes(all: Seq[Span]): Map[String, Double] = {
    val hops = all.filter(_.split.nonEmpty).map(_.id).toSet
    val counted = all.filterNot(s => hops(s.parent))
    val kids = counted.groupBy(_.parent)
    counted.flatMap { s =>
      if (s.split.nonEmpty) s.split else Seq(selfTime(s, kids.getOrElse(s.id, Nil)))
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  private def selfTime(s: Span, children: Seq[Span]): (String, Double) = {
    val iv = children.map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0; var curA = Double.NaN; var curB = Double.NaN
    iv.foreach { case (a, b) =>
      if (curB.isNaN || a > curB) {
        if (!curB.isNaN) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curB.isNaN) covered += curB - curA
    s.layer -> math.max(0.0, (s.end - s.start) - covered)
  }

}

object Tracer {
  def dump(path: String, all: Seq[Span]): Unit = {
    val lines = all.sortBy(_.start).map { s =>
      Json.obj(Seq("id" -> s.id.toString, "name" -> Json.str(s.name),
        "layer" -> Json.str(s.layer), "start" -> Json.num(s.start),
        "end" -> Json.num(s.end), "parent" -> s.parent.toString,
        "req" -> Json.str(s.req)))
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n"))
  }
}
