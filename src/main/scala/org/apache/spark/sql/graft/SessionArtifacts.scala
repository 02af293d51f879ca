package org.apache.spark.sql.graft

import org.apache.spark.sql.{SparkSession, classic}
import org.apache.spark.sql.internal.SQLConf

/** Spark's per-session artifact isolation, which is `private[sql]`. An
  * isolated session runs its tasks under a class loader of its own, and
  * `CodeGenerator` caches compiled code per class loader. */
object SessionArtifacts {
  private val Key = SQLConf.ARTIFACTS_SESSION_ISOLATION_ENABLED.key

  /** Runs `body` so that the sessions it clones from `s` (a streaming
    * query clones its session in `start()`) are not artifact-isolated,
    * while `s` keeps its own isolation: its isolation state is fixed
    * before the setting is switched off, and its setting (or the
    * absence of one) is restored after. Synchronized, so that two calls
    * at once cannot restore each other's value. */
  def unisolatedClones[T](s: SparkSession)(body: => T): T = synchronized {
    s.asInstanceOf[classic.SparkSession].artifactManager.state
    val prior = s.conf.getAll.get(Key)
    s.conf.set(Key, false)
    try body
    finally prior match {
      case Some(v) => s.conf.set(Key, v)
      case None    => s.conf.unset(Key)
    }
  }
}
