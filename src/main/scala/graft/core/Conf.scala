package graft.core

import org.apache.spark.sql.SparkSession

/** The one way engine code overrides session SQL conf: every override is
  * scoped, so a query leaves no conf trace in the session it ran on.
  */
object Conf {

  /** Set `overrides` on the session for the duration of `body`, then put
    * each key back as it was: its previous value, or unset if the session
    * had not set it (a key left at its default must not come back as an
    * explicit setting). Restores on normal exit and when `body` throws;
    * nested scopes unwind innermost first.
    *
    * The session conf is shared: while a scope is open, every query on
    * the session sees the overrides, so callers assume no other query
    * runs on it concurrently.
    */
  def scoped[A](spark: SparkSession)(overrides: (String, String)*)(body: => A): A = {
    // getAll holds only the keys the session has set; getOption would
    // report a registered key's default as if it were set
    val set = spark.conf.getAll
    val saved = overrides.map { case (k, _) => k -> set.get(k) }
    overrides.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.reverseIterator.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
