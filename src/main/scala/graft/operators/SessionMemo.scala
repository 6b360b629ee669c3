package graft.operators

import org.apache.spark.sql.SparkSession

/** Session-scoped memo for per-corpus-snapshot INDEX/MODEL state
  * (signature tables, centroids, pair lists, trained embedders…): the
  * one materialize-once-consume-many discipline every operator family
  * here relies on, extracted so each family stops hand-rolling it.
  *
  * Keys are `(stable session id, dataset dir, K)`:
  *   - The session id is the engine's own `sessionUUID` (random UUID,
  *     collision-free) — NOT `System.identityHashCode`, whose value can
  *     be reused after a session is GC'd and then serve a DataFrame
  *     bound to a stopped session.
  *   - The dataset dir is split out of K so a rewritten snapshot can be
  *     dropped across every memo with one [[SessionMemo.invalidatePath]]
  *     call (the cache-coherence story a long-lived session needs).
  *
  * `onEvict` releases executor-side storage (unpersist) when an entry
  * is dropped — without it, invalidation would leak the cached blocks
  * the memo pinned.
  *
  * `artifact` names what the memo holds (e.g. `dedup_pairs_warm`).
  * Every build is timed into the fill ledger under that name
  * ([[SessionMemo.fillTotals]]), which is how Bench reports its
  * `*_warm` / `*_build` lines: the fill is charged to the artifact
  * whichever consumer happens to trigger it. Memos sharing a name are
  * one artifact.
  */
private[graft] final class SessionMemo[K, V](val artifact: String,
                                             onEvict: V => Unit = (_: V) => ()) {
  // values sit behind once-only holders: when two threads race a cold
  // key, exactly ONE build thunk runs (the putIfAbsent winner's, under
  // the holder's lazy-val lock) — a naive getOrElseUpdate would run
  // both builds and silently drop the loser's cached blocks WITHOUT
  // unpersist, the leak class this memo exists to prevent
  private final class Holder(f: () => V) {
    @volatile private[SessionMemo] var evaluated = false
    @volatile private[SessionMemo] var dropped = false
    @volatile private[SessionMemo] var evicted = false
    lazy val value: V = {
      val v = SessionMemo.timedFill(artifact)(f()); evaluated = true; v
    }
  }

  // eviction is CONSUMED under the holder lock, so a drop() landing
  // between build completion and getOrElseUpdate's post-check cannot
  // double-fire onEvict (both sides used to run it — harmless for
  // idempotent unpersist/dir-delete callbacks, wrong the day a
  // non-idempotent one is registered). The lazy-val initializer runs
  // under the same monitor, so this also waits out an in-flight build.
  private def evictOnce(h: Holder): Unit = h.synchronized {
    if (h.evaluated && !h.evicted) {
      h.evicted = true
      try onEvict(h.value)
      catch { case _: Exception => () } // a stopped session can't unpersist
    }
  }
  private val m =
    scala.collection.concurrent.TrieMap.empty[(String, String, K), Holder]
  SessionMemo.register(this)

  def getOrElseUpdate(s: SparkSession, dir: String, k: K)(v: => V): V = {
    val key = (SessionMemo.sessionKey(s), dir, k)
    val holder = m.get(key).getOrElse {
      val fresh = new Holder(() => v)
      m.putIfAbsent(key, fresh).getOrElse(fresh)
    }
    val built = holder.value
    // a drop() that raced this build saw evaluated=false and could not
    // evict a value that didn't exist yet — it left dropped=true
    // instead, and the build side releases its own blocks here (the
    // caller's value stays usable: unpersist only uncaches, lineage
    // recomputes on next use). evictOnce makes this a no-op when the
    // drop side already evicted.
    if (holder.dropped) evictOnce(holder)
    built
  }

  /** Peek without building: Some(v) only when a completed value is
    * present (an in-flight build is NOT waited on — callers that need
    * the value use getOrElseUpdate).
    */
  def getIfPresent(s: SparkSession, dir: String, k: K): Option[V] =
    m.get((SessionMemo.sessionKey(s), dir, k))
      .filter(h => h.evaluated && !h.dropped).map(_.value)

  private[graft] def invalidateSession(uuid: String): Unit =
    m.keys.iterator.filter(_._1 == uuid).foreach(drop)

  private[graft] def invalidatePath(dir: String): Unit =
    m.keys.iterator.filter(k => SessionMemo.overlaps(k._2, dir)).foreach(drop)

  private[graft] def clear(): Unit = m.keys.iterator.foreach(drop)

  private[graft] def size: Int = m.size

  private def drop(key: (String, String, K)): Unit =
    m.remove(key).foreach { h =>
      // evictOnce acquires the holder's monitor (the lazy-val
      // initializer's lock), so it WAITS OUT an in-flight build and
      // evicts a completed one exactly once. A build that starts
      // strictly after the lock releases observes dropped=true and
      // self-evicts in getOrElseUpdate (also through evictOnce) —
      // either way, no cached blocks survive the drop unreleased, and
      // onEvict fires at most once per value.
      h.dropped = true
      evictOnce(h) // no-op on an unbuilt (and un-started) holder
    }
}

private[graft] object SessionMemo {
  private val all =
    new java.util.concurrent.CopyOnWriteArrayList[SessionMemo[_, _]]()
  private def register(memo: SessionMemo[_, _]): Unit = all.add(memo)

  // Stable random id per live session, weakly keyed on the session
  // OBJECT: identity semantics while the session lives, and a GC'd
  // session's mapping vanishes so a fresh session can NEVER inherit its
  // entries (the identityHashCode-reuse hazard this replaces). The
  // engine's own sessionUUID is package-private, hence this twin.
  private val ids = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, String]())

  private[graft] def sessionKey(s: SparkSession): String =
    ids.computeIfAbsent(s, _ => java.util.UUID.randomUUID().toString)

  /** Drop every memo entry bound to `s` — call when a session stops. */
  def invalidate(s: SparkSession): Unit =
    all.forEach(_.invalidateSession(sessionKey(s)))

  /** Drop every memo entry derived from data under `dir` — call after
    * rewriting a dataset snapshot in place. Wired into every publish
    * site that lands bytes under an existing root:
    * [[graft.api.CommitProtocol.publish]] (payload and ANN batch
    * appends), [[graft.api.Generations.commitNext]] (shard transfers,
    * alias re-points, snapshot restores, zone-manifest widenings),
    * [[graft.api.VectorIndex!.save]] (the upsert stream's generations)
    * and the index `insertTo`/`deleteTo`/`upsertTo` rotations (the
    * other streams' generations). Memo coherence is thus enforced at
    * the write choke points instead of resting on the "nobody rewrites
    * a snapshot dir in-session" convention (VERDICT r13 #5).
    */
  def invalidatePath(dir: String): Unit = all.forEach(_.invalidatePath(dir))

  /** Path-aware overlap: a write under `$root/gen-5` must drop memos
    * keyed on `$root` (readers resolve generations THROUGH the root),
    * and a write replacing `$root` must drop memos keyed on any child.
    * Plain string-prefix would make "sf0.1" cover "sf0.10" — require
    * the boundary to be a path separator.
    */
  private[graft] def overlaps(a: String, b: String): Boolean = {
    val x = a.stripSuffix("/"); val y = b.stripSuffix("/")
    x == y || x.startsWith(y + "/") || y.startsWith(x + "/")
  }

  def clearAll(): Unit = all.forEach(_.clear())

  /** Builds so far under one artifact name, and their summed seconds. */
  final case class FillTotal(fills: Long, seconds: Double)

  // one row per artifact NAME (bounded by the declared memos, however
  // many keys fill), so a long-lived serving session never grows it
  private val totals =
    new java.util.concurrent.ConcurrentHashMap[String, FillTotal]()

  // the builds running on this thread, innermost first; each frame
  // accumulates the wall time of the builds nested inside it
  private final class Frame { var nestedNanos = 0L }
  private val open = ThreadLocal.withInitial[List[Frame]](() => Nil)

  /** Run one build and charge its wall time to `artifact`, minus the
    * time its nested builds (memo fills it triggers on this thread)
    * charge to their own artifacts: every second is counted once.
    * Nothing is recorded for a build that throws.
    */
  private def timedFill[V](artifact: String)(build: => V): V = {
    val frame = new Frame
    val outer = open.get()
    open.set(frame :: outer)
    val t0 = System.nanoTime()
    val v = try build finally open.set(outer)
    val wall = System.nanoTime() - t0
    outer.headOption.foreach(_.nestedNanos += wall)
    totals.merge(artifact, FillTotal(1, (wall - frame.nestedNanos) / 1e9),
      (a, b) => FillTotal(a.fills + b.fills, a.seconds + b.seconds))
    v
  }

  /** Fill ledger snapshot: artifact name → builds and seconds so far
    * in this JVM. Diff two snapshots to see what a stretch of work
    * filled.
    */
  def fillTotals: Map[String, FillTotal] = {
    import scala.jdk.CollectionConverters._
    totals.asScala.toMap
  }
}
