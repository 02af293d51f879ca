package graft.bench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** `batch_board`: a fixed, ordered list of declared queries run in a
  * fresh session, pass after pass, each to a `noop` write, with the memo
  * caches cleared between queries (as `graft.Bench` does). The first five
  * are bound by job count (`light`), the other four by data (`heavy`); a
  * pass reports the two groups' times separately so that a job-floor
  * change is not lost in the heavy rows. The first pass in the process is
  * what a batch job in a fresh process costs, codegen included. After the
  * timed phase, an untimed pass writes every output to parquet for
  * run.py's DuckDB comparison against `SparkEntry.oracleSql`. */
final class BatchBoard(spark: SparkSession, a: Harness.Args, dir: String,
                       tracer: Option[Tracer])
    extends Workload(spark, a, dir, tracer) {
  import BatchBoard._

  /** A traced phase needs two passes for the determinism self-check. */
  def minWork(traced: Boolean): Int = if (traced) 2 else 1
  private val fns = graft.SparkEntry.queries
  /** Traced passes only: per query wall ms, and jobs per pass. */
  val wallMs = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  val jobsPerPass = mutable.ArrayBuffer[Map[String, Int]]()
  val footprint = mutable.Map[String, (Long, Long, Long)]() // shuffle, tasks, spill

  private def scrub(): Unit = {
    graft.operators.Dedup.clearClusterCache()
    graft.operators.Curation.clearFeatureCache()
    graft.operators.Similarity.clearIndexCache()
    spark.sqlContext.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  private val out = s"$dir/board_out"
  private var passes = 0

  /** The oracle SQL of every query, for run.py's check. */
  def prepare(): Unit = {
    Harness.rmrf(new java.io.File(out))
    new java.io.File(out).mkdirs()
    val oracle = graft.SparkEntry.oracleSql
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"),
      Json.obj(Queries.map(q => q -> Json.str(oracle(q)))))
  }

  /** Set-up: make the ten tables queryable (register the views and read
    * every footer, as a fresh session must). */
  def setup(rep: Int): Unit = {
    graft.Tables.registerAll(spark, args.data)
    graft.Tables.names.foreach(n => spark.table(n).count())
  }

  private def runQuery(q: String, pass: Int): (Double, Option[Int]) = {
    scrub()
    val t0 = Harness.nowMs()
    val tt0 = tracer.map(_.now()).getOrElse(0.0)
    span("board.query", "operators", s"pass-$pass-$q") {
      fns(q)(spark, args.data).write.format("noop").mode("overwrite").save()
    }
    val ms = Harness.nowMs() - t0
    val jobs = tracer.filter(_.on).map { t =>
      t.settle()
      val js = t.jobsIn(tt0, t.now())
      val (sh, tk, sp) = footprint.getOrElse(q, (0L, 0L, 0L))
      footprint(q) = (sh + js.map(_.shuffleBytes).sum, tk + js.map(_.tasks).sum,
        sp + js.map(_.spillBytes).sum)
      wallMs.getOrElseUpdate(q, mutable.ArrayBuffer()) += ms
      js.size
    }
    (ms, jobs)
  }

  def measure(seconds: Double, min: Int, res: Result): Phase = {
    val light = mutable.ArrayBuffer[Double]()
    val heavy = mutable.ArrayBuffer[Double]()
    val t0 = Harness.nowMs()
    val pass0 = passes
    var ok = true
    while (ok && (Harness.nowMs() - t0 < seconds * 1e3 || passes - pass0 < min)) {
      passes += 1
      val pass = passes
      val jobs = mutable.LinkedHashMap[String, Int]()
      var l = 0.0; var h = 0.0
      Queries.foreach { q =>
        res.attempted += 1
        try {
          val (ms, j) = runQuery(q, pass)
          j.foreach(jobs(q) = _)
          if (Light.contains(q)) l += ms else h += ms
        } catch {
          case e: Exception =>
            res.fail(s"batch_board $q: ${e.getClass.getName}: ${e.getMessage}")
            ok = false
        }
      }
      light += l; heavy += h
      if (jobs.nonEmpty) jobsPerPass += jobs.toMap
    }
    val wall = Harness.nowMs() - t0
    Phase(light.toSeq, Harness.median(heavy.toSeq),
      ((passes - pass0) * Queries.size).toDouble, wall)
  }

  /** The first, cold pass, untraced. */
  override def warmUp(res: Result): Unit = { measure(0, 1, res); () }

  /** Determinism self-check (traced): every traced pass ran the same jobs. */
  override def finishSegment(res: Result): Unit = {
    if (jobsPerPass.distinct.size > 1)
      res.fail(s"batch_board job counts differ across passes: ${jobsPerPass.mkString(" vs ")}")
    scrub()
  }

  /** The determinism self-check, then the untimed pass that writes each
    * output for run.py's check. */
  def finish(res: Result): Unit = {
    finishSegment(res)
    Queries.foreach { q =>
      scrub()
      try fns(q)(spark, args.data).write.parquet(s"$out/$q")
      catch {
        case e: Exception =>
          res.fail(s"batch_board $q (oracle pass): ${e.getClass.getName}: ${e.getMessage}")
      }
    }
    scrub()
    res.extra("board_out") = Json.str(out)
  }

  override def layerMetrics(res: Result): Unit = {
    val passes = math.max(1, jobsPerPass.size)
    Queries.foreach { q =>
      res.metric(s"board.$q.s", Harness.median(wallMs.getOrElse(q, mutable.ArrayBuffer(0.0)).toSeq) / 1e3, "s")
      res.metric(s"board.$q.jobs", jobsPerPass.headOption.flatMap(_.get(q)).getOrElse(0).toDouble, "count")
      res.metric(s"board.$q.shuffle_bytes", footprint.get(q).map(_._1).getOrElse(0L).toDouble / passes, "bytes")
    }
    res.metric("board.tasks", footprint.values.map(_._2).sum.toDouble / passes, "count")
    res.metric("board.spill_bytes", footprint.values.map(_._3).sum.toDouble / passes, "bytes")
  }
}

object BatchBoard {
  val Light = Seq("q06_uv_per_day", "q07_jump_detect", "q09_gmv",
    "q10_keyword_count", "q41_visitor_stats_full")
  val Heavy = Seq("q39_product_stats_full", "q40_order_wide_enriched",
    "q117_components", "q131_ppjoin")
  val Queries: Seq[String] = Light ++ Heavy
}
