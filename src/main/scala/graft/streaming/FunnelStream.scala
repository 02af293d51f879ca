package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental funnel tracking — the deployment shape of q75: per-user
  * (t1, t2, t3) step anchors maintained across micro-batches by a keyed
  * merge, so conversion dashboards update per trigger without rescanning
  * the event history.
  *
  * Under time-ordered ingest the merge is a pure conditional-min fold:
  * an anchor, once set, is final (no later event can precede it), and a
  * later step only fills while unset, from events strictly after the
  * previous step's anchor. Per-batch work reads the batch plus the state
  * rows of touched users — O(batch) per trigger, the ScdStream property.
  * The streaming CEP twin of the same family is T2 (jump detection,
  * StatefulOps); this is its multi-step, batch-equivalent form. */
object FunnelStream {

  /** Merge a micro-batch of (user_id, us, event_type) into funnel state
    * (user_id, t1, t2, t3). Returns the full new state. */
  def mergeBatch(state: DataFrame, batch: DataFrame): DataFrame = {
    val perUser = batch.groupBy(col("user_id")).agg(
      min(when(col("event_type") === "view", col("us"))).as("bv"),
      // step-2/3 candidates need the resolved previous anchor — collect
      // the raw mins per type here, resolve against state below
      collect_list(when(col("event_type") === "click", col("us"))).as("clicks"),
      collect_list(when(col("event_type") === "purchase", col("us"))).as("buys"))
    val joined = perUser.join(state, Seq("user_id"), "full_outer")
    val t1 = coalesce(col("t1"), col("bv"))
    val minAfter = (arr: org.apache.spark.sql.Column,
                    after: org.apache.spark.sql.Column) =>
      array_min(filter(arr, x => x > after))
    val t2 = coalesce(col("t2"), when(t1.isNotNull, minAfter(col("clicks"), t1)))
    val t3 = coalesce(col("t3"), when(t2.isNotNull, minAfter(col("buys"), t2)))
    joined.select(col("user_id"), t1.as("t1"), t2.as("t2"), t3.as("t3"))
      // a user with no view yet carries no state: pre-anchor clicks and
      // purchases are correctly discarded (they cannot be strictly after
      // a step-1 anchor that does not exist yet)
      .filter(col("t1").isNotNull)
  }

  /** Project the maintained state into q75's output shape. */
  def report(state: DataFrame, windowUs: Long = 86400L * 1000000L): DataFrame =
    state.select(col("user_id"), col("t1"), col("t2"), col("t3"),
      (col("t2").isNotNull && col("t2") - col("t1") <= windowUs)
        .as("s2_in_window"),
      (col("t3").isNotNull && col("t3") - col("t1") <= windowUs)
        .as("converted"))

  def emptyState(s: org.apache.spark.sql.SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("user_id", LongType), StructField("t1", LongType),
        StructField("t2", LongType), StructField("t3", LongType))))
  }
}
