package graft.util

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Session-scoped registry for persisted intermediates that operators
  * MUST keep alive past their own return (the returned frame is lazy and
  * reads the cached intermediate at the caller's terminal action, so the
  * operator itself can never unpersist).
  *
  * Operators that persist such an intermediate (`Dedup.allPairsJaccard`'s
  * token lists, `Layout.tokenShards`' range-partitioned frame,
  * `Dedup.spanCore`'s tokenized base + occurrence frames)
  * register it here. The CALLER owns release, with two scopes:
  *
  *  - Whole-session: after the terminal action on the last operator
  *    result, [[release]] unpersists every operator-registered frame of
  *    that session (the Bench/Verify-style "I own this session" shape).
  *  - Token-scoped: a caller COMPOSING cache-registering operators takes
  *    a [[mark]] before invoking one, runs the terminal action on that
  *    operator's result, then [[releaseSince]] the mark — only the
  *    frames that operator registered are evicted, and a second
  *    still-pending operator's pinned materialization survives. This
  *    matters for correctness, not just speed: `Layout.tokenShards` /
  *    `epochShuffle` pin a range-partitioned frame whose recompute could
  *    sample different range boundaries than the already-collected
  *    offsets, so evicting it mid-flight would yield wrong positions.
  *
  * Cleanup is EXPLICIT — entries are keyed by a registry-assigned
  * session id (a plain string, so the registry keys never pin a session
  * the caller has dropped... the registered DataFrames do, transitively, until
  * released; there is deliberately no "weak, self-collecting" claim
  * here). As a backstop, every call opportunistically drops entries
  * whose SparkContext has stopped — their blocks are already gone with
  * the executors, so there is nothing left to unpersist.
  *
  * Thread-safe; `blocking = false` on unpersist so release never stalls
  * the caller on block eviction.
  */
object OperatorCaches {

  /** session id -> insertion-ordered (id -> frame). Ids are global and
    * monotonic so a [[mark]] taken in one session is simply inert in
    * another.
    */
  private val bySession =
    mutable.LinkedHashMap.empty[String, mutable.LinkedHashMap[Long, DataFrame]]
  private var nextId = 0L

  /** Weak IDENTITY map session -> registry key. Values are plain
    * strings (no reference back to the session), so — unlike a weak
    * map whose values are DataFrames — the weak keys here really are
    * collectable once the caller drops the session.
    */
  private val sessionIds = new java.util.WeakHashMap[SparkSession, String]()

  private def idOf(spark: SparkSession): String = sessionIds.synchronized {
    var id = sessionIds.get(spark)
    if (id == null) {
      id = java.util.UUID.randomUUID().toString
      sessionIds.put(spark, id)
    }
    id
  }

  private def purgeStoppedLocked(): Unit =
    bySession.filterInPlace { (_, frames) =>
      frames.filterInPlace((_, f) =>
        try !f.sparkSession.sparkContext.isStopped
        catch { case _: Throwable => false })
      frames.nonEmpty
    }

  /** Persist `df` at `level` and register it for its session. Returns
    * `df` for inline use: `val lists = OperatorCaches.persisted(...)`.
    */
  def persisted(
      df: DataFrame,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    df.persist(level)
    bySession.synchronized {
      purgeStoppedLocked()
      val buf = bySession.getOrElseUpdate(idOf(df.sparkSession),
        mutable.LinkedHashMap.empty[Long, DataFrame])
      buf.put(nextId, df)
      nextId += 1
    }
    collector.get() match {
      case null => ()
      case buf  => buf += df
    }
    df
  }

  /** Active per-thread collector for [[collecting]] (operators register
    * on the thread that builds their plan, so a thread-local is precise).
    */
  private val collector =
    new ThreadLocal[mutable.ArrayBuffer[DataFrame]]()

  /** Run `body`, collecting every frame THIS THREAD registers during it.
    * Unlike a [[mark]]/[[releaseSince]] window — whose marks order
    * globally across the session, so two concurrent writers sharing one
    * session can evict each other's mid-flight frames — the returned
    * handles identify exactly the caller's own registrations, safe to
    * [[releaseFrames]] under concurrency. Nested calls: the inner scope
    * collects; frames registered inside it are NOT double-reported to
    * the outer scope (release is idempotent anyway, but precision keeps
    * accounting honest).
    */
  def collecting[T](body: => T): (T, Seq[DataFrame]) = {
    val outer = collector.get()
    val buf = mutable.ArrayBuffer.empty[DataFrame]
    collector.set(buf)
    try {
      val r = body
      (r, buf.toSeq)
    } finally {
      if (outer == null) collector.remove() else collector.set(outer)
    }
  }

  /** Unpersist exactly `frames` (handles from [[collecting]]) and drop
    * them from `spark`'s registry. Identity-matched — other writers'
    * registrations in the same session are untouched.
    */
  def releaseFrames(spark: SparkSession, frames: Seq[DataFrame]): Unit = {
    bySession.synchronized {
      bySession.get(idOf(spark)).foreach { buf =>
        buf.filterInPlace((_, f) => !frames.exists(_ eq f))
        if (buf.isEmpty) bySession.remove(idOf(spark))
      }
    }
    unpersistAll(frames)
  }

  /** Watermark for [[releaseSince]]: frames registered at or after this
    * call (by ANY thread — marks order globally) fall inside the scope.
    * Take one before invoking a cache-registering operator to release
    * exactly that operator's frames afterwards.
    */
  def mark(): Long = bySession.synchronized(nextId)

  /** Number of still-registered (not yet released) frames for `spark`. */
  def registeredCount(spark: SparkSession): Int = bySession.synchronized {
    bySession.get(idOf(spark)).map(_.size).getOrElse(0)
  }

  /** Unpersist only the frames of `spark` registered at or after `mark`
    * (a value from [[mark]]), leaving earlier registrations — e.g. a
    * composed operator's still-pending pinned intermediate — cached.
    */
  def releaseSince(spark: SparkSession, mark: Long): Unit = {
    val frames = bySession.synchronized {
      bySession.get(idOf(spark)) match {
        case None => Seq.empty[DataFrame]
        case Some(buf) =>
          val hit = buf.collect { case (id, f) if id >= mark => (id, f) }.toSeq
          hit.foreach { case (id, _) => buf.remove(id) }
          if (buf.isEmpty) bySession.remove(idOf(spark))
          hit.map(_._2)
      }
    }
    unpersistAll(frames)
  }

  /** Unpersist every operator-registered frame of `spark` and clear its
    * registry entry. Safe to call at any time — frames whose results
    * were already materialized simply drop their blocks; frames not yet
    * evaluated recompute from lineage if later used (deterministic for
    * every registering operator).
    */
  def release(spark: SparkSession): Unit = {
    val frames = bySession.synchronized {
      purgeStoppedLocked()
      bySession.remove(idOf(spark))
        .map(_.values.toSeq).getOrElse(Seq.empty)
    }
    unpersistAll(frames)
  }

  private def unpersistAll(frames: Seq[DataFrame]): Unit =
    frames.foreach(f => try f.unpersist(blocking = false) catch {
      case _: Throwable => () // session already stopped — nothing to free
    })
}
