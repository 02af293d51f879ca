package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.PortableHash

/** q132: HyperLogLog distinct-count sketch (Flajolet et al. 2007), built
  * engine-portably so the DuckDB oracle reproduces the registers AND the
  * estimate bit-for-bit — completing the sketch family (KMV distinct
  * q51/q52, KMV quantiles q60, theta overlap q100, Misra-Gries q116)
  * with the industry-standard cardinality register sketch.
  *
  * Construction (m = 32 registers): the 60-bit [[PortableHash.h60]] splits
  * into bucket = h mod m and a 55-bit remainder; rho = leading-zero count
  * of the remainder + 1 = 56 − bitlength(rem), computed via
  * `length(bin(x))` — the q88/q106 pure-integer bitlength convention, so
  * no engine-specific leading-zero builtin is involved. Registers are
  * per-(group, bucket) MAX aggregates: order-free, partial-aggregation
  * friendly (the map side reduces each partition to ≤ |groups|·m rows),
  * and MERGEABLE — the `__all` row is computed by max-merging the
  * per-group registers, never by rescanning events, which is the whole
  * point of the sketch at 100 TB: per-segment sketches roll up to any
  * coarser grain for 32·8 bytes per group.
  *
  * The estimate is the raw HLL form E = α_m·m²/Σ 2^{−M_j}, evaluated in
  * exact integer arithmetic: with R = max register, Σ 2^{R−M_j} is an
  * exact long (≤ m·2^56), and E = (α_ppm·m²·2^R) div (S·10⁶) widened
  * through DECIMAL(38,0)/HUGEINT — the α literal is embedded in ppm in
  * both engines, so a libm difference cannot flip a digit (the q110
  * convention). The small-range linear-counting correction (raw E ≤
  * 5m/2 with V zero registers → E = m·ln(m/V)) IS applied, portably:
  * m/V takes only m distinct values, so the ln table is m embedded
  * integer literals (the q110 Benford convention scaled to a LUT) —
  * no runtime transcendental in either engine. The exact companion
  * column carries the achieved error in ppm, so estimate quality is
  * hash-gated the q130 way.
  */
object Hll {
  val M = 32 // registers
  private val W = 55 // remainder bits: 60-bit hash minus log2(M)
  /** α_32 in ppm — computed once here, embedded as a literal in both
    * engines' expressions. */
  val AlphaPpm: Long = math.round(0.7213 / (1 + 1.079 / M) * 1e6)

  /** Linear-counting estimates m·ln(m/V) for V = 1..M zero registers,
    * rounded once here and embedded as integer literals in both engines. */
  val LcEst: IndexedSeq[Long] =
    (1 to M).map(v => math.round(M * math.log(M.toDouble / v)))

  /** Raw-estimate ceiling below which linear counting applies (5m/2). */
  val LcThreshold: Long = 5L * M / 2

  /** Per-(group, bucket) registers for a (grp, id) frame. */
  def registersFrom(rows: DataFrame): DataFrame = registers(rows)

  /** Max-merge two register frames — the sketch's union. Idempotent and
    * order-free (max is a semilattice), so at-least-once re-delivery of a
    * batch's registers cannot move the estimate: the streaming twin folds
    * per-batch registers through this with no dedup bookkeeping. */
  def mergeRegisters(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy(col("grp"), col("bucket"))
      .agg(max(col("reg")).as("reg"))

  /** (grp, est_uv) estimates from a register frame — the report stage,
    * SHARED by the batch query and the streaming fold so their equality
    * is structural. */
  def estimatesFrom(regs: DataFrame): DataFrame = {
    val s = regs.sparkSession
    val groups = regs.select(col("grp")).distinct()
    val spine = groups.crossJoin(
      s.range(M).select(col("id").cast("long").as("bucket")))
    val full = spine.join(regs, Seq("grp", "bucket"), "left")
      .na.fill(0L, Seq("reg"))
    val rmax = full.groupBy(col("grp")).agg(max(col("reg")).as("r_max"))
    val lcCase = (1 to M).map(v => s"WHEN n_zero = $v THEN ${LcEst(v - 1)}")
      .mkString("CASE ", " ", " END")
    full.join(rmax, "grp")
      .groupBy(col("grp"), col("r_max"))
      .agg(
        sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(r_max - reg AS INT))"))
          .as("s_sum"),
        sum(when(col("reg") === 0, 1L).otherwise(0L)).as("n_zero"))
      .withColumn("raw_est", expr(
        s"CAST($AlphaPpm AS DECIMAL(38,0)) * ${M.toLong * M} * " +
        "CAST(shiftleft(CAST(1 AS BIGINT), CAST(r_max AS INT)) AS DECIMAL(38,0)) " +
        "div (CAST(s_sum AS DECIMAL(38,0)) * 1000000)"))
      .select(col("grp"),
        when(col("n_zero") > 0 && col("raw_est") <= LcThreshold, expr(lcCase))
          .otherwise(col("raw_est")).cast("long").as("est_uv"))
  }

  private def registers(rows: DataFrame): DataFrame = {
    val h = PortableHash.h60(col("id").cast("string"))
    // h is non-negative, M = 2^5: h % M == h & 31 and h >> 5 == h div M,
    // both exact integer ops (a double division would lose bits past 2^53)
    rows
      .select(col("grp"), (h % M).as("bucket"), shiftright(h, 5).as("rem"))
      .withColumn("rho",
        when(col("rem") === 0, lit(W + 1).cast("long"))
          .otherwise(lit(W + 1) - length(bin(col("rem"))).cast("long")))
      .groupBy(col("grp"), col("bucket"))
      .agg(max(col("rho")).as("reg"))
  }

  /** The declared query: per-day approximate distinct users plus the
    * `__all` register-merged union sketch (the whole-period UV from the
    * daily sketches, no rescan), each against its exact companion with
    * the achieved error in ppm. */
  def distinctUsers(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(s, dir, "events")
      .select(date_format(timestamp_seconds(expr("ts div 1000000000")),
        "yyyy-MM-dd").as("grp"), col("user_id").as("id"))
    // not persisted: the two uses below share one shuffle through exchange
    // reuse, and a persisted frame would stay cached after the query
    val perGroup = registers(base)
    // union sketch: max-merge of the per-group registers — no rescan
    val merged = perGroup.groupBy(col("bucket"))
      .agg(max(col("reg")).as("reg"))
      .withColumn("grp", lit("__all"))
    val regs = perGroup.select(col("grp"), col("bucket"), col("reg"))
      .unionByName(merged.select(col("grp"), col("bucket"), col("reg")))
    val est = estimatesFrom(regs)
    val exact = base.groupBy(col("grp"))
      .agg(countDistinct(col("id")).as("exact_uv"))
      .unionByName(base.agg(countDistinct(col("id")).as("exact_uv"))
        .withColumn("grp", lit("__all")))
    est.join(exact, "grp")
      .select(col("grp"), col("exact_uv"), col("est_uv"),
        expr("abs(est_uv - exact_uv) * 1000000 div exact_uv").as("err_ppm"))
      .orderBy(col("grp"))
  }

  /** DuckDB oracle computing the identical registers and estimate. */
  def distinctUsersSql: String = {
    val h = PortableHash.h60Sql("CAST(user_id AS VARCHAR)")
    s"""WITH b AS (SELECT strftime(ts, '%Y-%m-%d') AS grp,
       |    ($h) % $M AS bucket, ($h) // $M AS rem
       |  FROM events),
       |pg AS (SELECT grp, bucket,
       |    MAX(CASE WHEN rem = 0 THEN ${W + 1}
       |        ELSE ${W + 1} - length(bin(rem)) END) AS reg
       |  FROM b GROUP BY 1, 2),
       |regs AS (SELECT grp, bucket, reg FROM pg
       |  UNION ALL
       |  SELECT '__all' AS grp, bucket, MAX(reg) AS reg FROM pg GROUP BY 2),
       |grps AS (SELECT DISTINCT grp FROM regs),
       |spine AS (SELECT g.grp, t.generate_series AS bucket
       |  FROM grps g, generate_series(0, ${M - 1}) t),
       |full_ AS (SELECT s.grp, s.bucket, COALESCE(r.reg, 0) AS reg
       |  FROM spine s LEFT JOIN regs r
       |    ON r.grp = s.grp AND r.bucket = s.bucket),
       |rm AS (SELECT grp, MAX(reg) AS r_max FROM full_ GROUP BY 1),
       |e AS (SELECT f.grp, m.r_max,
       |    SUM(1::BIGINT << CAST(m.r_max - f.reg AS INT)) AS s_sum,
       |    SUM(CASE WHEN f.reg = 0 THEN 1 ELSE 0 END) AS n_zero
       |  FROM full_ f JOIN rm m ON m.grp = f.grp GROUP BY 1, 2),
       |raw AS (SELECT grp, n_zero,
       |    CAST(CAST($AlphaPpm AS HUGEINT) * ${M.toLong * M} *
       |      CAST(1::BIGINT << CAST(r_max AS INT) AS HUGEINT)
       |      // (CAST(s_sum AS HUGEINT) * 1000000) AS BIGINT) AS raw_est
       |  FROM e),
       |est AS (SELECT grp,
       |    CASE WHEN n_zero > 0 AND raw_est <= $LcThreshold THEN
       |      ${(1 to M).map(v => s"WHEN n_zero = $v THEN ${LcEst(v - 1)}")
                 .mkString("CASE ", " ", " END")}
       |    ELSE raw_est END AS est_uv
       |  FROM raw),
       |ex AS (SELECT strftime(ts, '%Y-%m-%d') AS grp,
       |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_uv
       |  FROM events GROUP BY 1
       |  UNION ALL
       |  SELECT '__all', CAST(COUNT(DISTINCT user_id) AS BIGINT)
       |  FROM events)
       |SELECT est.grp, ex.exact_uv, est.est_uv,
       |  CAST(abs(est.est_uv - ex.exact_uv) * 1000000 // ex.exact_uv
       |    AS BIGINT) AS err_ppm
       |FROM est JOIN ex ON ex.grp = est.grp
       |ORDER BY est.grp""".stripMargin
  }
}
