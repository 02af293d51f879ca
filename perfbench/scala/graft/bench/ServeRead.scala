package graft.bench

import graft.apps.{LayeredPipeline, Serve}
import graft.streaming.VersionedState
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** `serve_read`: one client, closed loop, read-only. It is not a timed
  * workload of its own: it runs only as the traced run's dashboard
  * segment ([[TracedSweep]]). Set-up publishes a warehouse from the newest
  * `historyDays` of orders (one `dt` partition per day), opens a
  * [[Serve]] over it and caches it eagerly. The
  * client then sends a seeded mix: `gmv(day)` over Zipf-distributed days
  * biased toward the newest, `keywordTop` and a visitor-day `sql` lookup.
  * Every answer is written out for run.py to check in DuckDB against the
  * published parquet. */
final class ServeRead(spark: SparkSession, a: Harness.Args, dir: String,
                      tracer: Option[Tracer])
    extends Workload(spark, a, dir, tracer) {

  /** Lookup mix, repeated every ten requests: eight `gmv`, one
    * `keywordTop`, one visitor `sql`. */
  val mix: Seq[String] = Seq.fill(8)("gmv") ++ Seq("kwtop", "visitor")
  def minWork(traced: Boolean): Int = 50
  val zipfS = 1.1
  val panelDay = 20210227
  /** Days of order history published: one `dt` partition each. */
  val historyDays = if (a.tiny) 30 else 120

  private val gmvSt = s"$dir/state_gmv"
  private val kwSt = s"$dir/state_kw"
  private val visitorSt = s"$dir/state_visitor"
  private var wh = ""
  private var serve: Serve = _
  private var days: Array[Int] = Array.empty
  private var visitorDays: Array[String] = Array.empty
  val cacheMs = mutable.ArrayBuffer[Double]()
  /** (kind, argument) → answer, for the DuckDB check. */
  private val answers = mutable.LinkedHashMap[(String, String), String]()
  val byKind = mutable.Map[String, mutable.ArrayBuffer[Double]]()

  /** Stage the three DWS states once, as the chain's state hops would
    * have left them (one committed version each): GMV over the newest
    * `historyDays` days of orders, keywords over all documents, UV and
    * jumps over all events. */
  def prepare(): Unit = {
    def commit(path: String, df: DataFrame): Unit = {
      Harness.rmrf(new java.io.File(path))
      VersionedState.applyBatch(spark, path, 0L, df, df.limit(0), (_, b) => b)
    }
    val orders = graft.Tables.load(spark, args.data, "orders")
    val newest = orders.agg(max(col("o_orderdate"))).head().get(0)
    commit(gmvSt, orders
      .filter(col("o_orderdate") > lit(newest) - expr(s"INTERVAL $historyDays DAYS"))
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("decimal(38,2)").as("gmv"),
        count(lit(1)).as("order_ct")))
    commit(kwSt, graft.operators.RefQueries.keywordCount(spark, args.data))
    val uj = graft.operators.RefQueries.jumpDetect(spark, args.data)
      .groupBy(date_format(timestamp_seconds(col("ts_sec")), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("uj_ct"))
    commit(visitorSt, graft.operators.RefQueries.uvPerDay(spark, args.data)
      .select(col("day"), col("uv_ct")).join(uj, Seq("day"), "left")
      .select(col("day"), col("uv_ct"), coalesce(col("uj_ct"), lit(0L)).as("uj_ct")))
    days = spark.read.parquet(s"$gmvSt/v=0").select(col("day")).collect()
      .map(r => r.getString(0).replace("-", "").toInt).sorted
    visitorDays = spark.read.parquet(s"$visitorSt/v=0").select(col("day")).collect()
      .map(_.getString(0)).sorted
  }

  /** Set-up: publish a fresh warehouse, open a Serve on it and cache it
    * eagerly. The previous set-up's warehouse is dropped. */
  def setup(rep: Int): Unit = {
    if (serve != null) { serve.uncache(); Harness.rmrf(new java.io.File(wh)) }
    wh = s"$dir/wh_$rep"
    LayeredPipeline.publishDws(spark, gmvSt, kwSt, wh)
    LayeredPipeline.publishVisitorDws(spark, visitorSt, wh)
    serve = Serve(spark, wh)
    val t0 = Harness.nowMs()
    serve.cache(eager = true)
    cacheMs += Harness.nowMs() - t0
  }

  /** Zipf over day recency: rank 0 is the newest day. */
  private lazy val zipfCdf: Array[Double] = {
    val w = days.indices.map(r => 1.0 / math.pow(r + 1.0, zipfS))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }

  private def lookup(rng: java.util.SplittableRandom, n: Long): (String, String, () => String) =
    mix((n % mix.size).toInt) match {
      case "gmv" =>
        val r = java.util.Arrays.binarySearch(zipfCdf, rng.nextDouble())
        val day = days(days.length - 1 - math.min(days.length - 1, if (r >= 0) r else -r - 1))
        ("gmv", day.toString, () => serve.gmv(day).toPlainString)
      case "kwtop" =>
        ("kwtop", panelDay.toString, () => serve.keywordTop(panelDay, 10).collect()
          .map(r => s"${r.getString(0)}=${r.getLong(1)}").mkString(","))
      case _ =>
        val d = visitorDays(rng.nextInt(visitorDays.length))
        ("visitor", d, () => serve.sql(
          s"SELECT uv_ct, uj_ct FROM dws_visitor_stats WHERE dt = '$d'").collect()
          .map(r => s"${r.getLong(0)}/${r.getLong(1)}").mkString(","))
    }

  def measure(seconds: Double, min: Int, res: Result): Phase = {
    val rng = new java.util.SplittableRandom(args.seed)
    // warm the planner and codegen on the request path before timing
    val warm = new java.util.SplittableRandom(args.seed ^ 0x5eed)
    for (i <- 0 until 20) lookup(warm, i)._3()
    val lat = mutable.ArrayBuffer[Double]()
    val t0 = Harness.nowMs()
    var n = 0L
    while (Harness.nowMs() - t0 < seconds * 1e3 || n < min) {
      val (kind, arg, call) = lookup(rng, n)
      n += 1
      res.attempted += 1
      try {
        val s0 = Harness.nowMs()
        val ans = span("serve.lookup", "serve", s"req-$n")(call())
        val ms = Harness.nowMs() - s0
        lat += ms
        byKind.getOrElseUpdate(kind, mutable.ArrayBuffer()) += ms
        answers((kind, arg)) = ans
      } catch {
        case e: Exception => res.fail(s"serve_read $kind($arg): ${e.getMessage}")
      }
    }
    val wall = Harness.nowMs() - t0
    // per-kind percentiles are reported by layerMetrics; no tail here
    Phase(lat.toSeq, Double.NaN, lat.size.toDouble, wall)
  }

  /** Hands the answers and the warehouse to run.py's DuckDB check. */
  def finish(res: Result): Unit = {
    res.extra("serve_warehouse") = Json.str(wh)
    res.extra("serve_answers") = Json.arr(answers.toSeq.map { case ((k, arg), v) =>
      Json.arr(Seq(Json.str(k), Json.str(arg), Json.str(v)))
    })
  }

  override def layerMetrics(res: Result): Unit = {
    for (k <- Seq("gmv", "kwtop", "visitor"); q <- Seq(0.5, 0.99)) {
      val xs = byKind.getOrElse(k, mutable.ArrayBuffer()).toSeq
      res.metric(s"serve.${k}_ms.p${(q * 100).round}",
        if (xs.isEmpty) 0.0 else Harness.pct(xs, q), "ms")
    }
    res.metric("serve.cache_ms", Workload.p50(cacheMs), "ms")
    val t = tracer.get
    val lookups = t.spans.filter(_.name == "serve.lookup")
    val js = lookups.flatMap(s => t.jobsIn(s.start, s.end))
    res.metric("serve.jobs_per_lookup", js.size.toDouble / math.max(1, lookups.size), "count")
    res.metric("serve.tasks_per_lookup",
      js.map(_.tasks).sum.toDouble / math.max(1, lookups.size), "count")
    // the uncached path, for comparison with the cached lookups above
    serve.uncache()
    val rng = new java.util.SplittableRandom(args.seed + 1)
    val unc = (0 until 10).map { _ =>
      val day = days(days.length - 1 - rng.nextInt(math.min(30, days.length)))
      val t0 = Harness.nowMs(); serve.gmv(day); Harness.nowMs() - t0
    }
    res.metric("serve.gmv_uncached_ms.p50", Harness.median(unc), "ms")
  }
}
