package graft.bench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** The benchmark's JVM. `perfbench/run.py` builds the classes, generates
  * the seeded tables and starts this main once per run:
  *
  * {{{
  * Harness --workload chain_live|batch_board --seed N
  *         --seconds S --trace 0|1 --data <tables dir> --work <scratch dir>
  *         --out <result json> [--scale tiny|full]
  * }}}
  *
  * With `--trace 0` it runs the workload untraced and reports the
  * end-to-end metrics. With `--trace 1` it runs the traced sweep
  * ([[TracedSweep]], which also runs the `serve_read` segment) and
  * reports the per-layer metrics. Answers that need DuckDB (serve
  * lookups, board outputs) are written next to the result file for
  * run.py to check. */
object Harness {

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, data: String, work: String,
                        out: String, tiny: Boolean, cores: Int)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("data"), need("work"), need("out"),
      m.getOrElse("scale", "full") == "tiny",
      m.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()))
  }

  def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .config("spark.local.dir", sys.props("java.io.tmpdir"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val res = new Result
    if (a.trace) TracedSweep.run(a, res)
    else {
      val spark = session(a.cores)
      try Workload(a.workload, spark, a, s"${a.work}/${a.workload}", None)
        .runUntraced(a.seconds, res)
      finally spark.stop()
    }
    res.write(a.out)
  }

  // ---- shared helpers ----------------------------------------------------

  def nowMs(): Double = System.nanoTime() / 1e6

  private val t0 = nowMs()
  /** Progress line on stderr (run.py keeps it in the run's jvm.log). */
  def log(msg: String): Unit =
    System.err.println(f"perfbench ${(nowMs() - t0) / 1e3}%8.2f s  $msg")

  /** Nearest-rank percentile; `q` in (0, 1]. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(q * s.length).toInt - 1)))
    }

  /** Median; the mean of the middle two for an even count. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Heap in use after a full collection, in MB. */
  def heapRetainedMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(50) }
    mx.getHeapMemoryUsage.getUsed / 1e6
  }

  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum
  }

  def rmrf(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(rmrf))
    f.delete(); ()
  }

  /** (files, bytes) under a directory, data files only. */
  def du(path: String): (Long, Long) = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
    val files = walk(new java.io.File(path))
      .filter(f => !f.getName.startsWith(".") && !f.getName.startsWith("_"))
    (files.size.toLong, files.map(_.length).sum)
  }
}

/** What one JVM run reports: counts, metrics and side files for run.py. */
final class Result {
  var attempted = 0L
  var failed = 0L
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  val notes = mutable.ArrayBuffer[String]()
  val failures = mutable.ArrayBuffer[String]()
  /** Extra JSON members (already serialized) for run.py's checks. */
  val extra = mutable.LinkedHashMap[String, String]()

  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  def fail(why: String): Unit = { failed += 1; failures += why }

  def write(path: String): Unit = {
    val m = metrics.map { case (k, (v, u)) =>
      s"${Json.str(k)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}"
    }.mkString(", ")
    val ex = extra.map { case (k, v) => s", ${Json.str(k)}: $v" }.mkString
    val body = s"{\"attempted\": $attempted, \"failed\": $failed, " +
      s"\"metrics\": {$m}, \"notes\": ${Json.arr(notes.toSeq.map(Json.str))}, " +
      s"\"failures\": ${Json.arr(failures.toSeq.map(Json.str))}$ex}"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), body)
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
