package graft.operators

import org.apache.spark.sql.SparkSession

/** Session-scoped keyed cache of expensive shared builds: [[Materialize]]d
  * DataFrames (GraphOps' basket/edge tables, DedupOps' df-capped shingle
  * survivors; `SessionCache[K, DataFrame]`) and driver-held trained models
  * that several declared queries re-derive identically from the same
  * parquet input (k-means centroid arrays, PQ codebooks).
  *
  * NOT ConcurrentHashMap.computeIfAbsent: a builder may itself consult the
  * same cache under a different key (GraphOps' edges builder reads the
  * shared baskets), and a nested computeIfAbsent on one map throws
  * IllegalStateException("Recursive update") whenever the two keys land in
  * the same bin — hash-dependent, so it surfaces flakily. Instead, misses
  * take a JVM-global RE-ENTRANT build lock (nested builds re-enter it;
  * round 16): a racing duplicate build would otherwise leave the loser's
  * Materialize'd localCheckpoint blocks orphaned in executor storage with
  * no reference to unpersist them (round-15 advisor finding).
  *
  * Every instance registers itself so [[SessionCache.clearAll]] can drop
  * the WHOLE session state in one call: a cached entry is backed by
  * `localCheckpoint` blocks, and if those blocks are evicted mid-session
  * (executor memory pressure, GC of the backing RDD) the frame is
  * unrecoverable by recomputation — every consumer fails together. Retry
  * harnesses (Verify's second attempt) must clear before retrying, and
  * clearing ALL registered caches means the next cache added to the
  * codebase is covered automatically instead of depending on the harness
  * remembering a new clear call. A long harness that times several
  * datasets in one session should also clear between them, so finished
  * checkpoint blocks are released instead of staying pinned by the map.
  *
  * `family` names the artifact in the build ledger (see
  * [[SessionCache.buildLog]]).
  */
final class SessionCache[K, V <: AnyRef](family: String) {
  private val map = new java.util.concurrent.ConcurrentHashMap[K, V]()
  SessionCache.register(() => map.clear())

  /** Cached lookup; `build` runs at most once per key per session, modulo
    * a benign first-put-wins race. A DataFrame builder is responsible for
    * [[Materialize]]-ing what it returns (some builders checkpoint
    * intermediate stages too, so the cache does not double-checkpoint). */
  def getOrBuild(key: K)(build: => V): V = {
    val cur = map.get(key)
    if (cur != null) cur
    else SessionCache.buildLock.synchronized {
      // re-check under the lock: the round-15 advisor flagged that a
      // putIfAbsent loser's Materialize'd localCheckpoint blocks become
      // orphaned executor storage nothing can unpersist. One JVM-global
      // re-entrant build lock (re-entrant because a builder may consult
      // the same or a sibling cache for a nested artifact) serializes
      // builds so a duplicate never starts; builds are rare and
      // session-scoped, so the serialization costs nothing measurable.
      val again = map.get(key)
      if (again != null) again
      else {
        val t0 = System.nanoTime()
        val built = build
        map.put(key, built)
        SessionCache.recordBuild(family, key, (System.nanoTime() - t0) / 1e9)
        built
      }
    }
  }
}

object SessionCache {
  /** JVM-global re-entrant build lock (see [[SessionCache.getOrBuild]]). */
  private[operators] val buildLock = new Object

  private val all =
    new java.util.concurrent.CopyOnWriteArrayList[() => Unit]()

  private[operators] def register(clear: () => Unit): Unit = all.add(clear)

  /** Drop every entry of every registered cache (see class doc).
    * [[graft.Tables]]' parquet schema memo is deliberately not one of them:
    * its key carries the input's file listing and read settings, so it
    * cannot go stale, and it holds no checkpoint blocks to lose. */
  def clearAll(): Unit = all.forEach(_.apply())

  /** Build-cost ledger (round 16): wall-clock seconds of every shared
    * artifact build that WON its putIfAbsent race, keyed
    * `family:<key parts>` — the cache's family name, then its key's parts
    * other than the session, comma-separated (`graph:edges,<dir>,64`), so
    * a key reads the same in every session and two families whose keys
    * share a shape stay apart. The round-15 verdict's first-payer accounting
    * gap: Bench's best-of-2 `min` drops the first payer's build cost
    * from every per-query figure AND the total, so the reported numbers
    * understate true cold-session cost by the sum of the family builds.
    * Bench reads this ledger after the sweep and emits it as a separate
    * additions-only `build_sec` metric line, so a cold-session total can
    * be reconstructed (total + Σ build_sec). Cleared by [[clearAll]]
    * only via explicit [[clearBuildLog]] — retry harnesses that clear
    * caches mid-run must KEEP the ledger or rebuilds double-count. */
  private val builds =
    new java.util.concurrent.ConcurrentHashMap[String, Double]()

  private[operators] def recordBuild(family: String, key: Any,
      sec: Double): Unit =
    builds.merge(ledgerKey(family, key), sec, (a, b) => a + b)

  private def ledgerKey(family: String, key: Any): String = {
    val parts = key match {
      case p: Product => p.productIterator.toSeq
      case k => Seq(k)
    }
    family + ":" + parts.filterNot(_.isInstanceOf[SparkSession]).mkString(",")
  }

  /** Snapshot of the build ledger: ledger key → total build seconds
    * spent on builds under that key this session. */
  def buildLog: Map[String, Double] = {
    val b = Map.newBuilder[String, Double]
    builds.forEach((k, v) => b += (k -> v))
    b.result()
  }

  def clearBuildLog(): Unit = builds.clear()
}
