package graft

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
}
