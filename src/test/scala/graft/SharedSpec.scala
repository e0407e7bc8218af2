package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.storage.StorageLevel

/** [[Shared]]'s two promises: each entry is built once, whoever calls
  * first, and the single release path `unpersistShared` drops every
  * released cached frame and keeps every session fixture as it is. */
class SharedSpec extends SparkSpec {

  /** `body` on `n` threads released together by one latch. */
  private def race[V](n: Int)(body: => V): Seq[V] = {
    val go = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(n)
    try {
      val calls = Seq.fill(n)(pool.submit(new Callable[V] {
        def call(): V = { go.await(); body }
      }))
      go.countDown()
      calls.map(_.get())
    } finally pool.shutdown()
  }

  test("concurrent first calls of one key run its build once; a failed build leaves no entry") {
    val tag = java.util.UUID.randomUUID().toString
    val builds = new AtomicInteger(0)
    def slow[V](v: => V): V = { builds.incrementAndGet(); Thread.sleep(300); v }

    val values = race(8)(Shared.session(spark, ("once", tag))(slow(new Object)))
    assert(builds.get == 1, "a concurrent first call ran its own session build")
    assert(values.forall(_ eq values.head))

    builds.set(0)
    val frames = race(8)(Shared.frame(spark, ("onceFrame", tag))(slow(spark.range(3).toDF())))
    assert(builds.get == 1, "a concurrent first call ran its own frame build")
    assert(frames.forall(_ eq frames.head))
    frames.head.unpersist(blocking = true)

    val failing = ("onceFailing", tag)
    intercept[IllegalStateException] {
      Shared.session[String](spark, failing)(throw new IllegalStateException("build failed"))
    }
    assert(!Shared.kept.keys((Bridge.sessionUUID(spark), failing)), "a failed build was kept")
    assert(Shared.session(spark, failing)("rebuilt") == "rebuilt")
  }

  test("unpersistShared uncaches frames, ML fits and CacheOnce frames; fixtures survive unwritten") {
    val id = Bridge.sessionUUID(spark)
    for (q <- Seq("fact_achats", "kmeans_segments", "kmeans_silhouette", "knn_ivf",
        "event_funnel", "csv_roundtrip"))
      SparkEntry.queries(q)(spark, sf).collect()
    // an answer derived from a memoized fit or index recomputes per call
    for (k <- Seq("kmeans", "silhouette", "ivf"))
      assert(!Shared.released.keys((id, (k, sf))), s"answer memo ($k, $sf) is back")
    val planKey = Shared.released.keys.collectFirst { case (`id`, k: Int) => k }
    assert(planKey.nonEmpty, "event_funnel left no CacheOnce frame")
    val frames = Seq(("fact", sf), ("kmeans_fit", sf), planKey.get)
      .map(Shared.released(spark, _).asInstanceOf[DataFrame])
    // storageLevel is the CacheManager's lookupCachedData(df), NONE on a miss
    def cached(df: DataFrame) = df.storageLevel != StorageLevel.NONE
    assert(frames.forall(cached))
    val csv = Shared.session[String](spark, ("csv", sf))(fail("no csv fixture"))
    // a rewrite of the fixture (mode overwrite) would delete this marker;
    // Spark's readers skip `_`-prefixed files
    val marker = new java.io.File(csv, "_marker")
    assert(marker.createNewFile())

    SparkEntry.unpersistShared(blocking = true)
    assert(!frames.exists(cached))
    SparkEntry.queries("csv_roundtrip")(spark, sf).collect()
    assert(Shared.session[String](spark, ("csv", sf))(fail("csv fixture dropped")) == csv)
    assert(new java.io.File(csv).isDirectory && marker.exists)
  }
}
