package graft.operators

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Session-keyed operator state: the one process-global home of what
  * the dedup/ANN/text operators keep between calls. Two lifetimes:
  *
  *  - MEMO ([[memo]]): a per-corpus result (a sizing count, trained
  *    centroids, a broadcast bank, a checkpointed label frame) built
  *    once per (session, [[Kind]], content key) and reused until LRU
  *    eviction past the kind's entry cap (one cap per kind, shared by
  *    all sessions) or [[clear]];
  *  - SCRATCH ([[persistScratch]]): an operator's intermediate
  *    `MEMORY_AND_DISK` persist. The persists are deliberate (each
  *    feeds 2–3 downstream joins of its own operator), but they land in
  *    the session's SQL cache and outlive the query, so they are held
  *    here until the caller clears the session's [[Scratch]] at a
  *    corpus/batch boundary (`Dedup.releaseIntermediates`).
  *
  * Keys hold the session OBJECT (reference equality), so two live
  * sessions never share an entry, and one content key ([[contentKey]]).
  * Each entry is its own build lock: concurrent callers of one key
  * build once, different keys build concurrently, and no lock outlives
  * its entry. Evicting or clearing an entry runs its kind's release
  * action (unpersist a broadcast, release a checkpoint, or nothing).
  * Entries pin their session through the frames they hold, so weak
  * keys would never drop them; instead every access drops the entries
  * of sessions whose SparkContext has stopped.
  */
object OperatorState {

  /** One kind of operator state: its entry cap and the action that
    * releases an entry's value when it is evicted or cleared.
    */
  final class Kind[V] private (val name: String, val cap: Int,
      private[OperatorState] val release: V => Unit) {
    // guarded by the OperatorState monitor
    private[OperatorState] var hits, misses, evictions = 0L
    override def toString: String = name
  }

  object Kind {
    def apply[V](name: String, cap: Int)(release: V => Unit): Kind[V] =
      OperatorState.synchronized {
        val k = new Kind(name, cap, release)
        registered :+= k
        k
      }
  }

  final case class Stats(entries: Int, hits: Long, misses: Long, evictions: Long)

  private final case class Key(kind: Kind[_], session: SparkSession, content: String)

  private final class Entry[V](val key: Key, val kind: Kind[V]) {
    // Some once built; written under the entry's own monitor
    @volatile var value: Option[V] = None
    // NonFatal only: swallowing InterruptedException or a VM error
    // here would eat a thread interrupt during eviction
    def release(): Unit = value.foreach { v =>
      try kind.release(v) catch { case NonFatal(_) => () }
    }
  }

  // accessOrder = true: LRU on both reads and writes. Guarded by the
  // OperatorState monitor, which is never held while an entry builds.
  private val entries = new java.util.LinkedHashMap[Key, Entry[_]](64, 0.75f, true)
  private var registered = Vector.empty[Kind[_]]

  /** Every kind created so far (kinds register when their owning
    * operator object initializes).
    */
  def allKinds: Seq[Kind[_]] = synchronized(registered)

  /** Broadcast release action: drop the executor copies. Not
    * `destroy()`: a still-referenced lazy plan re-fetches an
    * unpersisted broadcast from the driver, while destroy would fail it.
    */
  def unpersist(b: Broadcast[_]): Unit = b.unpersist(false)

  /** The one content-key recipe: the analyzed plan's semantic hash,
    * the input files' content signature
    * ([[CorpusStats.contentSignature64]]: an in-place rewrite or an
    * appended file changes it) and the operator's parameters. A caller
    * that holds a proven content key for a frame whose plan hash is
    * identity-sensitive (lineage through a checkpoint) passes that key
    * to [[memo]] in place of this one.
    */
  def contentKey(df: DataFrame, params: Any*): String =
    (Seq(df.queryExecution.analyzed.semanticHash(), CorpusStats.contentSignature64(df)) ++
      params).mkString("|")

  /** The value memoized for (`session`, `kind`, `contentKey`), built by
    * `build` on a miss. Exactly one caller per key builds; a failed
    * build leaves no entry behind.
    */
  def memo[V](session: SparkSession, kind: Kind[V], contentKey: String)(build: => V): V = {
    val key = Key(kind, session, contentKey)
    val e = synchronized {
      pruneStopped()
      entries.get(key) match {
        case null => val n = new Entry(key, kind); entries.put(key, n); n
        case found => found.asInstanceOf[Entry[V]]
      }
    }
    val got = e.synchronized {
      if (e.value.isDefined) { synchronized(kind.hits += 1); e.value }
      // dropped by a failed build while this caller waited: look up again
      else if (synchronized(entries.get(key) ne e)) None
      else {
        synchronized(kind.misses += 1)
        try e.value = Some(build)
        finally if (e.value.isEmpty) synchronized(entries.remove(key, e))
        evictOverCap(kind)
        e.value
      }
    }
    got.getOrElse(memo(session, kind, contentKey)(build))
  }

  /** Scratch entries: cap-free (bounded by operator invocations between
    * releases), unpersisted on clear.
    */
  val Scratch: Kind[DataFrame] = Kind[DataFrame]("scratch", Int.MaxValue)(_.unpersist(false))
  private val scratchIds = new java.util.concurrent.atomic.AtomicLong

  /** Persist an operator-scratch frame `MEMORY_AND_DISK` and hold it as
    * a [[Scratch]] entry of its session until cleared.
    */
  def persistScratch(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK): DataFrame
    val e = new Entry(Key(Scratch, df.sparkSession, s"#${scratchIds.incrementAndGet()}"), Scratch)
    e.value = Some(p)
    synchronized { pruneStopped(); entries.put(e.key, e) }
    p
  }

  /** Drop every entry of `kinds` held for `session` (every session when
    * None), running each kind's release action; returns how many were
    * dropped. Call at a corpus/batch boundary, not concurrently with an
    * in-flight query of the same session, which would silently
    * recompute its scratch. Entries still building stay with their
    * builder.
    */
  def clear(session: Option[SparkSession] = None, kinds: Seq[Kind[_]] = allKinds): Int = {
    val dropped = synchronized {
      val out = entries.values().asScala.filter(e => e.value.isDefined &&
        kinds.contains(e.kind) && session.forall(_ eq e.key.session)).toSeq
      out.foreach(e => entries.remove(e.key))
      out
    }
    dropped.foreach(_.release())
    dropped.size
  }

  /** Built values of `kind`, every session. */
  def values[V](kind: Kind[V]): Seq[V] = synchronized {
    ofKind(kind).flatMap(_.asInstanceOf[Entry[V]].value)
  }

  def stats(kind: Kind[_]): Stats = synchronized {
    pruneStopped()
    Stats(ofKind(kind).size, kind.hits, kind.misses, kind.evictions)
  }

  // eldest first; an entry still building is never evicted
  private def evictOverCap(kind: Kind[_]): Unit = {
    val evicted = synchronized {
      val all = ofKind(kind)
      val out = all.filter(_.value.isDefined).take(all.size - kind.cap)
      out.foreach(e => entries.remove(e.key))
      kind.evictions += out.size
      out
    }
    evicted.foreach(_.release())
  }

  // caller holds the monitor; LRU order, eldest first
  private def ofKind(kind: Kind[_]): Seq[Entry[_]] =
    entries.values().asScala.filter(_.kind eq kind).toSeq

  // caller holds the monitor; a stopped context's storage is already
  // gone, so its entries are dropped without a release action
  private def pruneStopped(): Unit = {
    val it = entries.values().iterator()
    while (it.hasNext) if (it.next().key.session.sparkContext.isStopped) it.remove()
  }
}
