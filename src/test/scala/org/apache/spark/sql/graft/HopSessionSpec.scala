package org.apache.spark.sql.graft

import graft.SparkSpec
import graft.apps.LayeredPipeline
import graft.streaming.VersionedState
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.streaming.StreamingQuery

/** Every `LayeredPipeline` hop runs its stream in a session without
  * Spark's per-session artifact isolation, so all hops' tasks share one
  * class loader and one set of codegen cache entries; the caller's
  * session keeps its own setting. `ArtifactManager.state` is the
  * session's job artifact state: `null` when the session is not
  * isolated. */
class HopSessionSpec extends SparkSpec {

  private val Key = "spark.sql.artifact.isolation.enabled"

  private def streamSession(q: StreamingQuery): classic.SparkSession =
    q.asInstanceOf[StreamingQueryWrapper].streamingQuery.sparkSessionForStream

  test("hop stream sessions are not artifact-isolated; the caller's are") {
    // a new session: its isolation state is not yet fixed by a query
    val s = spark.newSession(); import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val stage = java.nio.file.Files.createTempDirectory("graft-hop").toString
    val ledger = s"$stage/ledger_dwd"; val kwSt = s"$stage/state_kw"
    val before = s.conf.getOption(Key)
    val explicitBefore = s.conf.getAll.get(Key)

    val input = MemoryStream[String]
    val ods = LayeredPipeline.odsToDwd(input.toDF().toDF("value"), ledger,
      s"$stage/ck_ods")
    input.addData("""{"tbl":"page_log","doc_id":1,"text":"red shoes"}""")
    ods.processAllAvailable()
    val kw = LayeredPipeline.dwdLogsToKeywordState(s, ledger, kwSt,
      s"$stage/ck_kw")
    try {
      kw.processAllAvailable()
      assert(s.conf.getOption(Key) === before)
      assert(s.conf.getAll.get(Key) === explicitBefore)
      Seq(ods, kw).foreach { q =>
        assert(streamSession(q).conf.get(Key) === "false", q.id)
        assert(streamSession(q).artifactManager.state === null, q.id)
      }
      assert(s.asInstanceOf[classic.SparkSession].artifactManager.state
        !== null)
      // the foreachBatch merge ran and committed the state
      assert(VersionedState.read(s, kwSt, fail("no keyword state"))
        .as[(String, Long)].collect().toMap === Map("red" -> 1L, "shoes" -> 1L))
    } finally { ods.stop(); kw.stop() }
  }

  test("a hop builder restores an explicitly set isolation value") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val stage = java.nio.file.Files.createTempDirectory("graft-hop").toString
    s.conf.set(Key, "true")
    try {
      val q = LayeredPipeline.odsToDwd(
        MemoryStream[String].toDF().toDF("value"), s"$stage/ledger",
        s"$stage/ck")
      try {
        assert(s.conf.getAll.get(Key) === Some("true"))
        assert(streamSession(q).artifactManager.state === null)
      } finally q.stop()
    } finally s.conf.unset(Key)
  }
}
