package graft

import org.apache.spark.sql.SparkSession
import scala.collection.concurrent.TrieMap
import scala.util.control.NonFatal

/** Session-keyed memo of materialized artifacts WITH A LIFECYCLE
  * (r12 verdict #5 + advice): the session-keyed TrieMaps (coarse
  * centroids, PQ codebooks, table stats, ranked shingles) previously
  * pinned a stopped session's entries — and their cached,
  * materialized frames — for the JVM lifetime, and an in-session
  * TableSink.replaceDir swap silently served layouts trained on the
  * pre-swap corpus. Every memo now:
  *
  *  - purges entries whose session's SparkContext is stopped, on
  *    every access (no listener plumbing: the maps are tiny, the
  *    sweep is O(entries), and a stopped context cannot race new
  *    work; a long-lived multi-session service can also call
  *    [[SessionMemos.purgeStopped]] from its own session-end hook);
  *  - supports path-keyed invalidation — [[SessionMemos.invalidate]]
  *    is called by TableSink.replaceDir, so swapping a table dir
  *    evicts (and unpersists) every artifact derived from it instead
  *    of relying on each consumer to remember the swapped-dir rule.
  *
  * Keys are tuples whose FIRST element is the SparkSession and whose
  * String elements are directory paths; invalidation prefix-matches
  * the swapped path against them (a memo keyed on the sfDir evicts
  * when one table dir under it is swapped — over-eviction just
  * retrains, staleness would silently mis-answer).
  */
final class SessionMemo[K <: Product, V](onEvict: V => Unit) {
  /** A key's value, built at most once: concurrent first accesses
    * insert competing cells, but only the one the map keeps is ever
    * forced, and a second caller blocks until its build finishes (a
    * failed build leaves the cell empty, so the next access retries).
    */
  private final class Once(build: => V) {
    private var value: Option[V] = None
    def get: V = synchronized {
      value.getOrElse { val v = build; value = Some(v); v }
    }
    /** The value if built; waits for a build in progress. */
    def built: Option[V] = synchronized(value)
  }

  private val m = TrieMap.empty[K, Once]
  SessionMemos.register(this)

  private def sessionOf(k: K): SparkSession =
    k.productElement(0).asInstanceOf[SparkSession]
  private def dirsOf(k: K): Iterator[String] =
    k.productIterator.collect { case s: String => s }

  def getOrElseUpdate(k: K, v: => V): V = {
    purgeStopped()
    m.getOrElseUpdate(k, new Once(v)).get
  }

  /** Explicit insert (the TableStats.inject seam). */
  def put(k: K, v: V): Unit = { m.put(k, new Once(v)); () }

  /** Entry count for `s` — the lifecycle specs' observation seam. */
  def sizeFor(s: SparkSession): Int =
    m.keys.count(sessionOf(_) eq s)

  private def evict(k: K, unpersist: Boolean): Unit =
    m.remove(k).foreach { cell =>
      // unpersist is best-effort: on a stopped context the blocks are
      // already gone and the call may throw — dropping the reference
      // is the point
      if (unpersist) cell.built.foreach { v =>
        try onEvict(v) catch { case NonFatal(_) => () }
      }
    }

  private[graft] def purgeStopped(): Unit =
    m.keys.foreach { k =>
      if (SessionMemos.stoppedProbe(sessionOf(k))) evict(k, unpersist = false)
    }

  private[graft] def invalidate(s: SparkSession, path: String): Unit =
    m.keys.foreach { k =>
      if ((sessionOf(k) eq s) && dirsOf(k).exists(d =>
        path.startsWith(d) || d.startsWith(path)))
        evict(k, unpersist = true)
    }
}

object SessionMemos {
  private val all =
    new java.util.concurrent.CopyOnWriteArrayList[SessionMemo[_ <: Product, _]]

  /** Stopped-session signal, a seam only so the lifecycle spec can
    * exercise the sweep without killing the suite's shared
    * SparkContext (one JVM, one context — a real stop would take
    * every other suite down with it).
    */
  private[graft] var stoppedProbe: SparkSession => Boolean =
    _.sparkContext.isStopped

  private[graft] def register(mm: SessionMemo[_ <: Product, _]): Unit = {
    all.add(mm); ()
  }

  /** Drop every entry whose session is stopped (also runs lazily on
    * each memo access).
    */
  def purgeStopped(): Unit = all.forEach(_.purgeStopped())

  /** Evict (and unpersist) every memoized artifact of `s` derived
    * from a dir related to `path` — called by TableSink.replaceDir
    * right after the swap + catalog refresh.
    */
  def invalidate(s: SparkSession, path: String): Unit =
    all.forEach(_.invalidate(s, path))
}
