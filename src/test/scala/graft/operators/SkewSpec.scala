package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SkewSpec extends SparkSpec {

  test("salted aggregate equals plain aggregate (correctness under salting)") {
    val li = graft.Tables.load(spark, sf, "lineitem")
    val plain = li.groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity")).as("s"), count(lit(1)).as("c"))
      .orderBy(col("l_returnflag")).collect()
    val salted = Skew.saltedAggregate(li, "l_returnflag", salts = 8,
        Seq(("l_quantity", "sum"), ("l_quantity", "count")))
      .orderBy(col("l_returnflag")).collect()
    assert(plain.length === salted.length)
    plain.zip(salted).foreach { case (p, s2) =>
      assert(p.getString(0) === s2.getString(0))
      assert(math.abs(p.getDouble(1) - s2.getDouble(1)) < 1e-6)
      assert(p.getLong(2) === s2.getLong(2))
    }
  }

  test("q50: salted event stats match the naive group-by and plan is two-stage") {
    val naive = graft.Tables.load(spark, sf, "events")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("pv_ct"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .orderBy(col("event_type")).collect()
    val q50 = Skew.saltedEventStats(spark, sf)
    val salted = q50.collect()
    assert(naive.length === salted.length)
    naive.zip(salted).foreach { case (n, s2) =>
      assert(n.getString(0) === s2.getString(0))
      assert(n.getLong(1) === s2.getLong(1))
      assert(n.getDouble(2) === s2.getDouble(2)) // decimal-exact, bitwise
    }
    // plan shape: the pre-aggregation really groups by (key, salt) — the
    // two-phase structure exists physically, not just logically
    val plan = q50.queryExecution.executedPlan.toString
    assert(plan.contains("_salt"), s"expected salted partial aggregate in plan:\n$plan")
  }

  test("salted join bounds the hot key's per-task share (measured)") {
    // VERDICT r6 ask #6: q63's salting is hash-green but its WIN was
    // unproven. Build a deliberately skewed fact (90% of rows share one
    // key), shuffle-join it plain vs salted with AQE/skew-handling OFF,
    // and read the per-partition row distribution of the join output —
    // each output partition is one task's work, so the max share IS the
    // straggler bound.
    import spark.implicits._
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    try {
      val salts = 8
      val fact = spark.range(20000).select(
        when(col("id") % 10 =!= 0, 0L) // 90% of rows on the hot key
          .otherwise(pmod(col("id"), lit(100L))).as("fk"),
        col("id").as("payload"))
      val dim = spark.range(100).select(col("id").as("dk"),
        concat(lit("d"), col("id")).as("label"))
      def maxShare(df: org.apache.spark.sql.DataFrame): Double = {
        val counts = df.select(spark_partition_id().as("pid"))
          .groupBy(col("pid")).count().collect().map(_.getLong(1))
        counts.max.toDouble / counts.sum.toDouble
      }
      val plain = fact.join(dim, col("fk") === col("dk"))
      val salted = Skew.saltedJoin(fact, dim, "fk", "dk", salts)
      // same rows either way (salting is semantics-neutral)
      assert(plain.count() === salted.count())
      val plainShare = maxShare(plain)
      val saltedShare = maxShare(salted)
      info(f"max task share: plain=$plainShare%.2f salted=$saltedShare%.2f")
      // unsalted: the hot key funnels ~90% of the join through ONE task
      assert(plainShare > 0.85,
        f"fixture not skewed enough: plain max share $plainShare%.2f")
      // salted: the hot key spreads across `salts` sub-keys; even with
      // hash collisions of sub-keys into partitions the bound is ~2/salts
      assert(saltedShare < 0.35,
        f"salted max share $saltedShare%.2f — salting did not spread the hot key")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    }
  }

  test("salted join equals plain join") {
    val li = graft.Tables.load(spark, sf, "lineitem").limit(500)
    val p = graft.Tables.load(spark, sf, "part")
    val plain = li.join(p, li("l_partkey") === p("p_partkey")).count()
    val salted = Skew.saltedJoin(li, p, "l_partkey", "p_partkey", salts = 4).count()
    assert(plain === salted)
  }

  test("streaming dedup drops duplicate ids within watermark") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val in = MemoryStream[(Long, java.sql.Timestamp)]
    in.addData((1L, ts(10000)), (1L, ts(11000)), (2L, ts(12000)), (1L, ts(13000)))
    val deduped = in.toDF().toDF("id", "ts")
      .withWatermark("ts", "10 seconds").dropDuplicatesWithinWatermark("id")
    val q = deduped.writeStream.format("memory").queryName("sd")
      .outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      assert(s.table("sd").select("id").as[Long].collect().sorted === Array(1L, 2L))
    } finally q.stop()
  }
}
