package graft

import org.apache.spark.sql.SparkSession

/** Save/set/restore execution window for session conf keys — the one
  * conf-mutation path behind the q351 constraint-propagation-off window
  * (ops.Lifecycle.forgetCascade), the streaming operators' state-store
  * sizing (streaming.StreamingOps) and the Plan dev tool's evidence
  * capture of the same inner plan. Restores each key's PRE-EXISTING
  * value (set-back or unset), never clobbers.
  *
  * Concurrency caveat (documented, accepted): the window mutates the
  * SHARED session's conf, so any concurrent query planned inside it
  * also sees the value. Results are unaffected for these uses (they
  * change plans and state-store layout, not answers) and the bench runs
  * queries sequentially. The isolated alternative is a per-stream cloned
  * session (GraftBridge.cloneSession), as ingest.Ingest.source uses for
  * its listing conf: it works where the frame is built from its source
  * inside the call, which the operator API (DataFrame-in) cannot do
  * without re-reading sources.
  */
object ConfWindow {
  def withConf[A](spark: SparkSession, settings: (String, String)*)(body: => A): A = {
    val old = settings.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      settings.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally old.reverse.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
