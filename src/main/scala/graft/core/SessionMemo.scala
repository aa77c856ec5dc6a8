package graft.core

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** The one memo for standing derived state (source table reads, corpus
  * constants, persisted artifact scans, the cached graph, standing
  * checkpoints), one entry per (name, data dir).
  *
  * Lifetime rule: an entry serves only the session that built it. A lookup
  * from any other session (a `newSession()`, or the next session after a
  * `stop()`) runs the old entry's `release`, best-effort since a stopped
  * session's storage may be gone already, and rebuilds. So no replaced
  * session or its storage stays reachable. Lookups of one key are
  * serialized; a build may look up other keys.
  */
object SessionMemo {

  private final case class Entry(owner: SparkSession, value: Any, release: () => Unit)
  private final class Slot { var entry: Entry = _ }

  private val slots = new ConcurrentHashMap[(String, String), Slot]()

  /** A memoized value that holds no storage of its own. */
  def apply[T](spark: SparkSession, name: String, dir: String)(build: => T): T =
    withRelease(spark, name, dir)(build)(_ => ())

  /** A memoized value whose storage `release` frees (an `unpersist`, or
    * `CatalystBridge.unpersistCheckpoint`) once another session replaces it.
    */
  def withRelease[T](spark: SparkSession, name: String, dir: String)
                    (build: => T)(release: T => Unit): T = {
    val slot = slots.computeIfAbsent((name, dir), _ => new Slot)
    slot.synchronized {
      val held = slot.entry
      if (held != null && (held.owner eq spark)) held.value.asInstanceOf[T]
      else {
        slot.entry = null
        if (held != null) try held.release() catch { case NonFatal(_) => () }
        val v = build
        slot.entry = Entry(spark, v, () => release(v))
        v
      }
    }
  }

  /** The session that owns (name, dir)'s entry, if there is one. */
  private[core] def owner(name: String, dir: String): Option[SparkSession] =
    Option(slots.get((name, dir))).flatMap(s => s.synchronized(Option(s.entry))).map(_.owner)
}
