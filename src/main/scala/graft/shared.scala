package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** The engine's one cross-query memo: intermediates reused within a
  * session instead of re-executed per consumer (the reference rebuilds
  * its fact subtree for every gold sink; SURVEY §3.4).
  *
  * Every entry is keyed by (session, key) on a [[Tables.SessionMemo]], so
  * a stopped session's entries are evicted on the next access, and has
  * one of two lifetimes:
  *
  *  - '''released''' entries live until [[release]]: the named shared
  *    frames (fact, docTf, textStats, …), the ML fits (the kmeans
  *    assignment `kmeans_fit`), the answers whose fit runs inside the
  *    answer (`propensity_model`, `propensity_backtest`, `knn_quantized`,
  *    `embedding_pca`), the plan-keyed frames of [[CacheOnce]], the corpus
  *    vocabulary size and the BPE learn loop's handles. They are memory.
  *    An answer derived from a memoized fit or index (`kmeans_segments`,
  *    `kmeans_silhouette`, `knn_ivf`) is not memoized itself: it
  *    recomputes per call, so a warm timing of it is not a cache read.
  *    Each frame is ONE cached handle, built once and reused by
  *    reference; leaning on the CacheManager's canonical-plan matching
  *    instead (an identical plan re-`.cache()`d per invocation) logs
  *    `Asked to cache already cached data` per repeat, grows the cache
  *    registry per query and leaves nothing to unpersist. A fitted model
  *    is a trained artifact, kept like a model registry would keep it:
  *    the fits run eagerly at plan construction, so re-fitting per
  *    invocation is wasted work. `release` unpersists every frame and
  *    forgets every released value, which is how Bench charges the
  *    rebuild to its timed `shared_build` phase or to a query's cold
  *    first pass;
  *  - '''session''' entries live until their session stops: scratch
  *    fixtures written once per (session, dataset) — the CSV/JSON/ORC
  *    copies, partials, indexes and stream fixtures, the bucketed twins,
  *    the warm maintained-view bases, the streaming attribution drain
  *    and its heartbeat — and the cloned sessions that carry a private
  *    conf or rule ([[clone]]). They are files and sessions, not memory,
  *    so `release` has nothing to free; and a query over a fixture
  *    measures the read the fixture exists for, so Bench must not
  *    rewrite fixtures between passes. Scratch directories come from
  *    [[tempDir]], deleted at JVM exit.
  *
  * `getOrElseUpdate` selects one winner atomically; a concurrent first
  * call (Verify runs 4 queries at a time) may run `build` twice, but only
  * the winning value is kept. A losing fixture's write lands in its own
  * temp dir, which its exit hook removes — harmless, never a torn write.
  * A build whose side effects are shared between calls (the attribution
  * drain replaces a per-prefix memory table) takes its own lock. */
private[graft] object Shared {

  // visible to the audit and release specs
  private[graft] val released = new Tables.SessionMemo[Any, Any]
  private[graft] val kept = new Tables.SessionMemo[Any, Any]

  /** A released value, built once per (session, key) until [[release]]. */
  def memo[V](s: SparkSession, key: Any)(build: => V): V =
    released.getOrElseUpdate(s, key, build).asInstanceOf[V]

  /** A released frame: `build` cached once per (session, key). */
  def frame(s: SparkSession, key: Any)(build: => DataFrame): DataFrame =
    memo(s, key)(build.cache())

  /** A session value, built once per (session, key) for the session's life. */
  def session[V](s: SparkSession, key: Any)(build: => V): V =
    kept.getOrElseUpdate(s, key, build).asInstanceOf[V]

  /** A cloned session, built once per (session, name) for the session's
    * life: `s.newSession()` with `setup` applied. The clone shares `s`'s
    * SparkContext and CacheManager, so frames cached on `s` still serve
    * plans on the clone, but not its conf or rules, so what `setup`
    * installs never reaches a query planned on `s`. `newSession` starts
    * from the builder conf, not from `s`'s current conf: a temporary
    * `conf.set` on `s` can never be frozen into a clone that outlives it.
    * `setup` is the only place `src/main` writes a session conf
    * (SourceGateSpec). */
  def clone(s: SparkSession, name: String)(setup: SparkSession => Unit): SparkSession =
    session(s, name) {
      val ns = s.newSession()
      setup(ns)
      ns
    }

  /** A session scratch fixture: a fresh `graft_<name>` dir, filled by
    * `write` once per (session, dataset); returns its path. */
  def dir(s: SparkSession, name: String, d: String)(write: String => Unit): String =
    session(s, (name, d)) {
      val p = tempDir(s"graft_$name").toString
      write(p)
      p
    }

  /** A fresh temp dir, deleted with its contents at JVM exit. */
  def tempDir(prefix: String): java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    sys.addShutdownHook(Streams.deleteRec(p.toFile))
    p
  }

  /** Drop every released entry, unpersisting the cached frames
    * (blocking=false: executors drop blocks asynchronously). The BPE
    * handles are lazily checkpointed RDDs, never cached; their blocks
    * free on GC. */
  def release(blocking: Boolean): Unit = {
    released.values.foreach {
      case df: Dataset[_] => df.unpersist(blocking)
      case _ =>
    }
    released.clear()
  }
}

/** Cache for an intermediate that one query consumes twice (minhash
  * signatures, LSH buckets, candidate pairs, …): ONE cached handle per
  * (session, canonical plan) — the equality the CacheManager itself
  * matches on — held as a released [[Shared]] entry. */
object CacheOnce {
  def apply(df: DataFrame): DataFrame =
    Shared.frame(df.sparkSession, df.queryExecution.analyzed.semanticHash())(df)
}
