package graft.ops

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped cache of SHARED MATERIALIZED ARTIFACTS: the first
  * caller per (session, content, params) builds the value — a
  * checkpointed relation, a trained index, an on-disk path — and every
  * later caller gets the same value back, so several catalog queries
  * that consume one intermediate pay for it once.
  *
  * The convention every cache in the engine shares:
  *   - the key carries the SESSION that owns `content`, so a restarted
  *     session can never serve another session's plan; entries of
  *     stopped sessions are dropped on the next lookup;
  *   - the key ALSO folds in a content fingerprint of `content`, so a
  *     reused caller-side name over CHANGED backing data rebuilds instead
  *     of serving a stale artifact — the content check is structural,
  *     not a caller contract;
  *   - `params` is a tuple of every build parameter (not a joined
  *     string — no delimiter collisions), so differing knobs never
  *     collide;
  *   - `hits` counts lookups that found an entry, `misses` those that
  *     built one.
  *
  * Builds run OUTSIDE the map's bin lock, through a per-key lazy cell:
  * a build (seconds of Spark jobs) blocks only callers of its own key,
  * a builder may call the cache again for other keys, and a build that
  * throws leaves no entry behind, so the next call rebuilds. */
private[graft] class ArtifactCache[V] {

  private final class Cell(private var build: () => V) {
    // the thunk is dropped once built so the cell does not pin the
    // caller's plans for the life of the session
    lazy val value: V = { val v = build(); build = null; v }
  }

  private val cells = new ConcurrentHashMap[(SparkSession, Any), Cell]()
  private val hitCount = new AtomicLong(0)
  private val missCount = new AtomicLong(0)

  /** Lookups that found an entry (built, or being built by another caller). */
  def hits: Long = hitCount.get()

  /** Lookups that found no entry and built one (or failed to). */
  def misses: Long = missCount.get()

  /** Entries held, across all live sessions. */
  def size: Int = cells.size

  protected def stopped(spark: SparkSession): Boolean = spark.sparkContext.isStopped

  def apply(content: DataFrame, params: Any)(build: => V): V =
    cached(content.sparkSession, (ArtifactCache.fingerprint(content), params))(build)

  /** [[apply]] under a key the caller computed: `key` must carry every
    * input the value depends on besides the session, content included. */
  def cached(spark: SparkSession, key: Any)(build: => V): V = {
    cells.keySet.removeIf(k => stopped(k._1))
    val k = (spark, key)
    val fresh = new Cell(() => build)
    val cell = cells.putIfAbsent(k, fresh) match {
      case null => missCount.incrementAndGet(); fresh
      case prev => hitCount.incrementAndGet(); prev
    }
    try cell.value
    catch { case e: Throwable => cells.remove(k, cell); throw e }
  }

  /** Drops the entries of `spark` whose [[cached]] key is `stale`. */
  def evict(spark: SparkSession)(stale: Any => Boolean): Unit =
    cells.keySet.removeIf(k => (k._1 eq spark) && stale(k._2))
}

private[graft] object ArtifactCache {

  /** Cheap CONTENT identity, plan-only (nothing executes): for
    * file-source relations, md5 over the SORTED backing-file list —
    * parquet mutations rewrite or add part files under fresh names, so
    * any append/overwrite/compaction changes the set; for non-file
    * relations (in-memory test frames, views), the analyzed plan's
    * `semanticHash`, which changes whenever the producing plan does.
    * Cost is one file-index listing the session's `FileIndex` cache
    * already holds for scanned relations — no data read, no job. */
  private def fingerprint(df: DataFrame): String = {
    val files = df.inputFiles
    if (files.nonEmpty) {
      val md = java.security.MessageDigest.getInstance("MD5")
      // NUL separator: the one byte a filesystem path cannot contain,
      // so the concatenation is unambiguous ("a b"+"c" vs "a"+"b c")
      md.update(files.sorted.mkString("\u0000").getBytes("UTF-8"))
      md.digest().map("%02x".format(_)).mkString
    } else s"plan:${df.queryExecution.analyzed.semanticHash()}"
  }
}
