package org.apache.spark.sql

/** Sessions for graft's internal actions: probes, internal writes and
  * trainer loops. Spark reads the confs these need (AQE off, MICROS
  * parquet timestamps, a measured shuffle partition count) from the
  * session a plan runs on, and setting them on the caller's session
  * would reach every query planned there meanwhile. So a scope runs
  * its analyzed frame on a clone of the caller's session that holds
  * the caller's conf plus the scope's overrides.
  *
  * Clones are cached per (caller, overrides): Spark keys its codegen
  * cache by the session's classloader, so a clone per scope would
  * recompile every plan. A clone is replaced once the caller's
  * explicitly set conf differs from the one it copied, and the JVM
  * keeps at most [[MaxClones]], dropping the least recently used.
  * `cloneSession` and `Dataset.ofRows` are `private[sql]`. */
object GraftScopedSessions {

  /** graft uses three override sets per session (probes, internal
    * writes, a trainer loop per measured partition count). */
  val MaxClones = 8

  private final case class Key(caller: SparkSession, overrides: Map[String, String])
  private final case class Clone(callerConf: Map[String, String], session: classic.SparkSession)

  private val clones = new java.util.LinkedHashMap[Key, Clone](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Key, Clone]): Boolean =
      size() > MaxClones
  }

  /** `df`'s analyzed plan on the clone of its session holding
    * `overrides`; persisted fragments still hit the shared cache. */
  def rebind(df: DataFrame, overrides: Map[String, String]): DataFrame = {
    val caller = df.sparkSession.asInstanceOf[classic.SparkSession]
    val conf = caller.sessionState.conf.getAllConfs
    val key = Key(caller, overrides)
    val session = clones.synchronized {
      val hit = clones.get(key)
      if (hit != null && hit.callerConf == conf) hit.session
      else {
        val s = caller.cloneSession()
        overrides.foreach { case (k, v) => s.sessionState.conf.setConfString(k, v) }
        clones.put(key, Clone(conf, s))
        s
      }
    }
    classic.Dataset.ofRows(session, df.queryExecution.analyzed)
  }
}
