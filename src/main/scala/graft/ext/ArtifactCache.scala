package graft.ext

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.concurrent.TrieMap

/** The engine's one memo for load-once, serve-many values (README,
  * *Caching*). An entry is keyed by
  *  - its OWNER, held weakly by object reference: the `SparkContext`
  *    for values any session of the application may share, the
  *    `SparkSession` for per-session values;
  *  - its NAME: the site's tag plus the artifact dir and parameters;
  *  - its VERSION: whatever the site checks freshness against (artifact
  *    meta line, content fingerprint, input file listing, file count).
  *
  * Each (owner, name) holds ONE live entry. A miss builds under the
  * name's JVM-wide lock, so concurrent callers of a key build once; a
  * newer version replaces the older entry and unpersists its pins
  * after the replacement is built, so readers holding the old value
  * keep a materialized frame for the whole build. Hits take no lock.
  * Owners whose `SparkContext` has stopped are dropped on the next
  * miss. Values are shared between callers and must be treated as
  * read-only.
  */
object ArtifactCache {

  /** A cached value plus every frame it keeps cached; `pins` are
    * unpersisted when the entry is replaced.
    */
  final case class Entry[V](value: V, pins: Seq[DataFrame] = Nil)

  private final case class Slot(version: String, entry: Entry[_])

  private val owners = new java.util.WeakHashMap[AnyRef, ConcurrentHashMap[String, Slot]]()
  private val locks = TrieMap.empty[String, AnyRef]

  /** Run `body` under the JVM-wide lock for `key`: the lock a cache
    * miss of that name takes, and the per-directory lock of
    * [[Artifact.ensure]].
    */
  def locked[T](key: String)(body: => T): T =
    locks.getOrElseUpdate(key, new Object).synchronized(body)

  def get[V](owner: AnyRef, name: String, version: String)(build: => Entry[V]): V = {
    val slots = owners.synchronized(
      owners.computeIfAbsent(owner, _ => new ConcurrentHashMap[String, Slot]()))
    def hit: Option[V] = Option(slots.get(name)).collect {
      case Slot(`version`, e) => e.value.asInstanceOf[V]
    }
    hit.getOrElse(locked(name)(hit.getOrElse {
      dropStopped()
      val e = build
      Option(slots.put(name, Slot(version, e))).foreach(old => release(old.entry))
      e.value
    }))
  }

  private def release(e: Entry[_]): Unit =
    e.pins.foreach(f => try f.unpersist() catch { case _: Throwable => () })

  private def stopped(owner: AnyRef): Boolean = owner match {
    case sc: SparkContext => sc.isStopped
    case s: SparkSession => s.sparkContext.isStopped
    case _ => false
  }

  private def dropStopped(): Unit = owners.synchronized {
    owners.keySet.removeIf(o => stopped(o))
  }

  /** (name → version) of the live entries an owner holds. */
  private[graft] def versions(owner: AnyRef): Map[String, String] = {
    val slots = owners.synchronized(owners.get(owner))
    if (slots == null) Map.empty
    else scala.jdk.CollectionConverters.MapHasAsScala(slots).asScala
      .map { case (n, s) => n -> s.version }.toMap
  }
}
