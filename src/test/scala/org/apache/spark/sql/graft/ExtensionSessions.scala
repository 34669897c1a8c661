package org.apache.spark.sql.graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

/** Test access to the `private[sql]` function half of
  * `SparkSessionExtensions`: a new session on `base`'s context whose
  * function registry holds Spark's built-ins plus exactly what `ext`
  * injects, the registry `spark.sql.extensions` would give it. */
object ExtensionSessions {
  def withFunctions(base: SparkSession, ext: SparkSessionExtensions): SparkSession = {
    val s = base.newSession()
    ext.registerFunctions(s.sessionState.functionRegistry)
    s
  }
}
