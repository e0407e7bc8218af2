package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.graftbridge.Bridge

/** The engine's one session-keyed store: the intermediates reused within
  * a session instead of re-executed per consumer (the reference rebuilds
  * its fact subtree for every gold sink; SURVEY §3.4), and every other
  * value the engine keeps per session.
  *
  * Entries are keyed by (Spark's own `sessionUUID`, key), so no session
  * ever sees another's entry, and every access first evicts the entries
  * of sessions whose SparkContext has stopped. Each entry has one of two
  * lifetimes:
  *
  * | lifetime | written by                      | holds                    | lives until       |
  * |----------|---------------------------------|--------------------------|-------------------|
  * | released | [[memo]], [[frame]]             | cached frames, fits      | [[release]]       |
  * | session  | [[session]], [[clone]], [[dir]] | tables, fixtures, clones | the session stops |
  *
  *  - '''released''' entries are memory: the named shared frames (fact,
  *    docTf, textStats, …), the ML fits (the kmeans assignment
  *    `kmeans_fit`), the answers whose fit runs inside the answer
  *    (`propensity_model`, `propensity_backtest`, `knn_quantized`,
  *    `embedding_pca`), the plan-keyed frames of [[CacheOnce]], the corpus
  *    vocabulary size and the BPE learn loop's handles. An answer derived
  *    from a memoized fit or index (`kmeans_segments`,
  *    `kmeans_silhouette`, `knn_ivf`) is not memoized itself: it
  *    recomputes per call, so a warm timing of it is not a cache read.
  *    Each frame is ONE cached handle, reused by reference; leaning on
  *    the CacheManager's canonical-plan matching instead (an identical
  *    plan re-`.cache()`d per invocation) logs `Asked to cache already
  *    cached data` per repeat, grows the cache registry per query and
  *    leaves nothing to unpersist. A fitted model is a trained artifact,
  *    kept like a model registry would keep it: the fits run eagerly at
  *    plan construction, so re-fitting per invocation is wasted work.
  *    `release` unpersists every built frame and forgets every released
  *    value, which is how Bench charges the rebuild to its timed
  *    `shared_build` phase or to a query's cold first pass;
  *  - '''session''' entries are relations, files and sessions, not
  *    cached data, so `release` has nothing to free: the resolved tables
  *    of [[Tables.load]]; the scratch fixtures written once per (session,
  *    dataset), i.e. the CSV/JSON/ORC copies, partials, indexes and
  *    stream fixtures, the bucketed twins, the warm maintained-view
  *    bases, the streaming attribution drain and its heartbeat; each
  *    stream prefix's last memory table; and the cloned sessions that
  *    carry a private conf or rule ([[clone]]). A query over a fixture
  *    measures the read the fixture exists for, so Bench must not rewrite
  *    fixtures between passes. Scratch directories come from
  *    [[tempDir]], deleted at JVM exit.
  *
  * Every entry is built once. The first caller of a key runs `build`; a
  * concurrent caller of the same key (Verify runs 4 queries at a time)
  * waits for that build and gets its value, so an eager fit, a fixture
  * write or a stream drain never runs twice for one key. A build that
  * throws leaves no entry: the next caller builds again. Builds of
  * different keys run in parallel, and a build may read other entries,
  * as long as no two keys' builds each need the other. */
private[graft] object Shared {

  /** One value, built by its first reader; a reader that arrives during
    * the build waits for it. A build that throws leaves the cell unbuilt. */
  private final class Cell[V](build: => V) {
    @volatile var built = false
    lazy val value: V = { val v = build; built = true; v }
  }

  /** One lifetime's entries: a [[Cell]] per (session uuid, key), with the
    * session alongside so an access can evict the entries of stopped
    * sessions. A long multi-session JVM (the test suite, a notebook
    * server) would otherwise keep dead sessions' frames and scratch
    * paths forever. */
  private[graft] final class SessionMemo[K, V] {
    private val m = scala.collection.concurrent.TrieMap
      .empty[(String, K), (SparkSession, Cell[V])]
    def getOrElseUpdate(spark: SparkSession, key: K, build: => V): V = {
      m.filterInPlace { case (_, (s, _)) => !s.sparkContext.isStopped }
      val k = (Bridge.sessionUUID(spark), key)
      val e = m.getOrElseUpdate(k, (spark, new Cell(build)))
      try e._2.value
      catch { case t: Throwable => m.remove(k, e); throw t }
    }
    def apply(spark: SparkSession, key: K): V = m((Bridge.sessionUUID(spark), key))._2.value
    /** The values built so far; a build still running is skipped. */
    def values: Iterable[V] = m.values.collect { case (_, c) if c.built => c.value }
    def clear(): Unit = m.clear()
    private[graft] def keys: Set[(String, K)] = m.keySet.toSet
  }

  // visible to the audit and release specs
  private[graft] val released = new SessionMemo[Any, Any]
  private[graft] val kept = new SessionMemo[Any, Any]

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

  /** Drop every released entry, unpersisting the frames built so far
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
