package graft.plans

import org.apache.spark.sql.SparkSessionExtensions

/** Session-extension entry point: a cluster deployment enables the
  * engine's native functions with
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions` — the
  * documented injection path, so every session (including SQL-only
  * clients over Thrift/Connect) sees every `graft_*` function of
  * [[Natives]] without any driver-side registration call.
  *
  * `Natives.ensure` remains for already-running sessions (the lanes
  * call it).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    Natives.all.foreach(ext.injectFunction)
    ext.injectPlannerStrategy(session => AsofJoinStrategy(session))
  }
}
