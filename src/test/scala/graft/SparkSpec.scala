package graft

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{Logger => CoreLogger,
  LogEvent => CoreLogEvent}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs. It runs on the fork-free `file:`
  * filesystem ([[graft.sources.LocalFs]]) that the streaming chain
  * installs, so every spec writes its checkpoints and tables through it. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.streaming.checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-ckpt").toString)
      .getOrCreate()
    graft.sources.LocalFs.install(s)
    s
  }

  val sf: String = "/root/testdata/sf0.001"

  override def afterAll(): Unit = {
    // session shared across suites in one JVM; do not stop
    super.afterAll()
  }

  def ts(ms: Long): java.sql.Timestamp = new java.sql.Timestamp(ms)

  /** Runs `body` on the RocksDB state-store provider (transformWithState
    * needs it), then restores the session default. */
  def withRocksDb[T](body: => T): T = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  /** Runs `body` and asserts that Spark's timer store logged no "Failed to
    * delete/register timer" line meanwhile: the transformWithState
    * processors register or delete a timer only when it is known absent
    * or present. */
  def withoutTimerWarnings[T](body: => T): T = {
    val failed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("timer-warnings", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: CoreLogEvent): Unit = {
        val m = e.getMessage.getFormattedMessage
        if (m.startsWith("Failed to")) failed.add(m)
      }
    }
    appender.start()
    val logger = LogManager.getLogger("org.apache.spark.sql.execution." +
      "streaming.operators.stateful.transformwithstate.timers.TimerStateImpl")
      .asInstanceOf[CoreLogger]
    logger.addAppender(appender)
    val out = try body
      finally { logger.removeAppender(appender); appender.stop() }
    assert(failed.isEmpty)
    out
  }
}
