package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Hilbert space-filling curve — the LOCALITY upgrade over [[ZOrder]]'s
  * Morton interleave, and the q137 audit that MEASURES why a layout
  * engineer would pick it: a 2-D box predicate maps to contiguous runs
  * on the curve, and fewer runs = fewer scan ranges a 100 TB range-
  * pruned scan must stitch (Delta/Iceberg OPTIMIZE offer exactly this
  * zorder-vs-hilbert choice; Hilbert has no Morton "seam jumps", so
  * boxes that straddle quadrant seams split into far fewer fragments).
  *
  * The xy→d transform is the standard bit-twiddling loop (Wikipedia's
  * convert-(x,y)-to-d), unrolled to `bits` rounds of pure integer
  * CASE/mask arithmetic — no xor operator is used (DuckDB's `^` is
  * POWER, not xor): (3·rx)⊕ry over rx,ry ∈ {0,1} is rewritten as the
  * polynomial ry + rx·(3 − 2·ry), identical in both dialects, and the
  * quadrant flip uses N−1−v (an exact low-bit complement for power-of-2
  * N, never negative — s−1−v would go negative and two's-complement
  * masks would diverge). Spark applies the rounds as chained
  * projections inside whole-stage codegen; the DuckDB oracle nests the
  * same generated fragments as subqueries. HilbertSpec proves the
  * transform is a bijection on the full grid and equals a driver-side
  * reference loop. */
object Hilbert {
  val Bits = 8
  val N: Long = 1L << Bits // 256x256 grid, d in [0, 65536)

  /** One loop round applied to columns (hx, hy, hd) of `df`. */
  private def round(df: DataFrame, s: Long): DataFrame =
    df.select(col("*"),
        expr(s"CASE WHEN (hx & $s) > 0 THEN 1 ELSE 0 END").as("rx"),
        expr(s"CASE WHEN (hy & $s) > 0 THEN 1 ELSE 0 END").as("ry"))
      .select(
        df.columns.filter(c => c != "hx" && c != "hy" && c != "hd")
          .map(col).toIndexedSeq ++ Seq(
          (col("hd") + lit(s * s) *
            (col("ry") + col("rx") * (lit(3L) - lit(2L) * col("ry"))))
            .as("hd"),
          expr(s"CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 " +
            s"THEN ${N - 1} - hy ELSE hy END) ELSE hx END").as("hx"),
          expr(s"CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 " +
            s"THEN ${N - 1} - hx ELSE hx END) ELSE hy END").as("hy")): _*)

  /** Add column `d` = Hilbert index of (xCol, yCol), both in [0, N). */
  def withHilbert(df: DataFrame, xCol: String, yCol: String,
                  out: String = "d"): DataFrame = {
    val seeded = df.withColumn("hx", col(xCol))
      .withColumn("hy", col(yCol))
      .withColumn("hd", lit(0L))
    val looped = (0 until Bits)
      .foldLeft(seeded)((acc, i) => round(acc, 1L << (Bits - 1 - i)))
    looped.withColumn(out, col("hd")).drop("hx", "hy", "hd")
  }

  /** Driver-side reference loop for the spec. */
  def xy2dLocal(x0: Long, y0: Long): Long = {
    var (x, y, d) = (x0, y0, 0L)
    var s = N / 2
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * (ry + rx * (3 - 2 * ry))
      if (ry == 0) {
        if (rx == 1) { x = N - 1 - x; y = N - 1 - y }
        val t = x; x = y; y = t
      }
      s /= 2
    }
    d
  }

  /** DuckDB SQL: nested subqueries applying the identical rounds to an
    * inner query exposing columns (hx, hy, hd, ...). */
  def hilbertSql(inner: String): String =
    (0 until Bits).foldLeft(inner) { (acc, i) =>
      val s = 1L << (Bits - 1 - i)
      s"""SELECT * EXCLUDE (hx, hy, hd, rx, ry),
         |  hd + ${s * s} * (ry + rx * (3 - 2 * ry)) AS hd,
         |  CASE WHEN ry = 0 THEN (CASE WHEN rx = 1
         |    THEN ${N - 1} - hy ELSE hy END) ELSE hx END AS hx,
         |  CASE WHEN ry = 0 THEN (CASE WHEN rx = 1
         |    THEN ${N - 1} - hx ELSE hx END) ELSE hy END AS hy
         |FROM (SELECT *,
         |  CASE WHEN (hx & $s) > 0 THEN 1 ELSE 0 END AS rx,
         |  CASE WHEN (hy & $s) > 0 THEN 1 ELSE 0 END AS ry
         |FROM ($acc))""".stripMargin
    }

  // --- q137: curve-fragmentation audit ---------------------------------

  /** The misaligned 2-D box predicate on the normalized grid — chosen to
    * straddle quadrant seams, where Morton's locality breaks. */
  val BoxLoX = 40L; val BoxHiX = 150L; val BoxLoY = 70L; val BoxHiY = 180L

  /** Occupied-cell frame: lineitem (l_partkey, l_suppkey) normalized to
    * the 8-bit grid (per-dimension max via a broadcast single-row stats
    * frame, the q94 convention), filtered to the box, one row per
    * distinct cell. */
  private def boxCells(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
    val stats = li.agg(max(col("l_partkey")).as("pa"),
      max(col("l_suppkey")).as("sa"))
    li.select(col("l_partkey"), col("l_suppkey"))
      .crossJoin(broadcast(stats))
      .select(
        expr(s"(CAST(l_partkey AS BIGINT) * $N) div (pa + 1)").as("cx"),
        expr(s"(CAST(l_suppkey AS BIGINT) * $N) div (sa + 1)").as("cy"))
      .filter(col("cx").between(BoxLoX, BoxHiX) &&
        col("cy").between(BoxLoY, BoxHiY))
      .distinct()
  }

  /** q137: for the SAME box over the SAME occupied cells, the number of
    * contiguous curve runs (scan ranges) and the longest run under the
    * Hilbert index vs the Morton interleave — the layout-choice report.
    * Runs via the q97 gaps-and-islands lag: a run starts where the
    * sorted index jumps by more than 1. */
  def curveRunsAudit(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // not persisted: both curves read it through one reused exchange, and
    // a persisted frame would stay cached after the query
    val cells = boxCells(s, dir)
    val h = withHilbert(cells, "cx", "cy").select(lit("hilbert").as("curve"),
      col("d"))
    val m = cells.select(lit("morton").as("curve"),
      ZOrder.zValue(col("cx"), col("cy"), Bits).as("d"))
    val w = Window.partitionBy(col("curve")).orderBy(col("d"))
    h.unionByName(m)
      .withColumn("prev", lag(col("d"), 1).over(w))
      .withColumn("is_start",
        when(col("prev").isNull || col("d") - col("prev") > 1, 1L)
          .otherwise(0L))
      .withColumn("run_id", sum(col("is_start")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("curve"), col("run_id"))
      .agg(count(lit(1)).as("run_len"))
      .groupBy(col("curve"))
      .agg(sum(col("run_len")).as("n_cells"),
        count(lit(1)).as("n_runs"),
        max(col("run_len")).as("longest_run"))
      .orderBy(col("curve"))
  }

  /** DuckDB oracle for [[curveRunsAudit]]. */
  def curveRunsAuditSql: String = {
    val cellsSql =
      s"""SELECT DISTINCT
         |  (CAST(l_partkey AS BIGINT) * $N) // (pa + 1) AS cx,
         |  (CAST(l_suppkey AS BIGINT) * $N) // (sa + 1) AS cy
         |FROM lineitem CROSS JOIN (SELECT MAX(l_partkey) AS pa,
         |  MAX(l_suppkey) AS sa FROM lineitem)
         |WHERE (CAST(l_partkey AS BIGINT) * $N) // (pa + 1)
         |    BETWEEN $BoxLoX AND $BoxHiX
         |  AND (CAST(l_suppkey AS BIGINT) * $N) // (sa + 1)
         |    BETWEEN $BoxLoY AND $BoxHiY""".stripMargin
    val hilbert = hilbertSql(
      s"SELECT cx, cy, cx AS hx, cy AS hy, 0::BIGINT AS hd FROM cells")
    s"""WITH cells AS MATERIALIZED ($cellsSql),
       |pts AS (
       |  SELECT 'hilbert' AS curve, hd AS d FROM ($hilbert)
       |  UNION ALL
       |  SELECT 'morton' AS curve, ${ZOrder.zValueSql("cx", "cy", Bits)}
       |    AS d FROM cells),
       |runs AS (SELECT curve, d,
       |    CASE WHEN lag(d) OVER (PARTITION BY curve ORDER BY d) IS NULL
       |      OR d - lag(d) OVER (PARTITION BY curve ORDER BY d) > 1
       |      THEN 1 ELSE 0 END AS is_start
       |  FROM pts),
       |rid AS (SELECT curve, d, SUM(is_start) OVER (PARTITION BY curve
       |    ORDER BY d ROWS UNBOUNDED PRECEDING) AS run_id FROM runs),
       |rl AS (SELECT curve, run_id, COUNT(*) AS run_len FROM rid
       |  GROUP BY 1, 2)
       |SELECT curve, CAST(SUM(run_len) AS BIGINT) AS n_cells,
       |  CAST(COUNT(*) AS BIGINT) AS n_runs,
       |  CAST(MAX(run_len) AS BIGINT) AS longest_run
       |FROM rl GROUP BY 1 ORDER BY curve""".stripMargin
  }
}
