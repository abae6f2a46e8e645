package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Cache ownership policy for the library's shared intermediates.
  *
  * Two kinds of session state are shared across queries:
  *
  *  - persisted subtrees that feed several consumers in the SAME plan
  *    (e.g. both sides of a self-join) or converge across queries via
  *    CacheManager's canonical-plan matching (shingle tables) — made
  *    with [[persistOnce]];
  *  - [[memo]] entries: resolved table relations, and derived values
  *    whose build runs eager actions no plan cache can deduplicate
  *    (banded pairs, cluster labels, repeat edges, learned BPE merges,
  *    k-means fits, the dup-rate probe).
  *
  * Both are load-bearing — releasing after the first action would
  * forfeit the cross-query reuse the bench measures — so the LIBRARY
  * does not release them. Lifecycle belongs to the caller:
  *
  *  - short-lived jobs: nothing to do, both die with the session;
  *  - long-lived sessions: [[clearAll]] between workloads drops every
  *    memo of the session and every cached plan, so the session is then
  *    a fresh one;
  *  - a table directory rewritten mid-session: [[invalidate]] it once
  *    the rewrite is done.
  *
  * Iterative operators that persist per-round intermediates (the
  * connected-components loop) DO unpersist internally — their plans are
  * unique per round, so nothing downstream can ever reuse them.
  */
object Caches {

  /** Persist `df` unless its canonical plan is already cached.
    *
    * `Dataset.storageLevel` consults the session CacheManager, so when a
    * rebuilt DataFrame has the same canonical plan as an earlier
    * persisted one this is a no-op instead of the "Asked to cache
    * already cached data" warning (the second `persist` would be
    * ignored anyway — this just makes the idempotence explicit).
    */
  def persistOnce(df: DataFrame,
                  level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame =
    if (df.storageLevel == StorageLevel.NONE) df.persist(level) else df

  private val memos =
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[Any, AnyRef]]()

  /** The memo map of `spark`, sweeping stopped sessions first: the weak
    * key alone never frees an entry, because memoized DataFrames
    * strongly reference their session and so pin the key. */
  private def entries(spark: SparkSession): ConcurrentHashMap[Any, AnyRef] =
    memos.synchronized {
      memos.keySet().removeIf(_.sparkContext.isStopped)
      memos.computeIfAbsent(spark, _ => new ConcurrentHashMap[Any, AnyRef]())
    }

  /** The value memoized under `key` for `spark`, building it on first
    * use. Entries live until [[clearAll]], [[invalidate]] or the
    * session's stop.
    *
    * Keys derived from a table directory are strings of the form
    * `<dir>/<name>` so that [[invalidate]] reaches them.
    *
    * `build` runs OUTSIDE any lock (get + putIfAbsent, not
    * computeIfAbsent): builders run eager Spark actions taking seconds,
    * and holding a lock through them would block first use of every
    * other entry. Two threads racing one key both build and converge on
    * the first stored value; frames built with [[persistOnce]] match by
    * canonical plan, so the loser's persist is the winner's and nothing
    * leaks. A build that throws stores nothing.
    *
    * Memoized DataFrames are the SAME instance on every call, so two
    * loads of one table share exprIds — a self-join of two loads with
    * `df1("c") === df2("c")` would hit failAmbiguousSelfJoin.
    * Disambiguate via `.as()`/renamed projections (the house style), or
    * `.toDF()` one side.
    */
  def memo[T <: AnyRef](spark: SparkSession, key: Any)(build: => T): T = {
    val m = entries(spark)
    val hit = m.get(key)
    if (hit != null) hit.asInstanceOf[T]
    else {
      val built = build
      val prev = m.putIfAbsent(key, built)
      (if (prev != null) prev else built).asInstanceOf[T]
    }
  }

  /** Drop the memo entries of `spark` derived from the tables under
    * `dir`, and refresh the cached plans that scan it — call after
    * rewriting a table directory mid-session, or readers serve stale
    * listings, stale rows or missing-file errors. The refresh is
    * needed because a rebuilt frame canonicalizes to the cached plan
    * of the old one and would be served its data.
    *
    * Memo keys match whole path segments: a sibling such as `…/sf0.15`
    * keeps its entries on `invalidate(…/sf0.1)`. (Spark's
    * `refreshByPath` matches by string prefix, so the sibling's cached
    * plans are recomputed on next use — a cost, not a staleness.) */
  def invalidate(spark: SparkSession, dir: String): Unit = {
    val prefix = dir.stripSuffix("/") + "/"
    entries(spark).keySet().removeIf {
      case k: String => k.startsWith(prefix)
      case _ => false
    }
    spark.catalog.refreshByPath(dir)
  }

  /** Reset `spark` to a fresh session state: drop all of its memo
    * entries, then every cached plan. Memoized builders re-run and
    * table relations re-resolve on next use.
    */
  def clearAll(spark: SparkSession): Unit = {
    memos.synchronized(memos.remove(spark))
    spark.catalog.clearCache()
  }

  /** The number of memo entries held for `spark`, without sweeping. */
  private[graft] def memoSize(spark: SparkSession): Int =
    memos.synchronized(Option(memos.get(spark)).fold(0)(_.size))
}
