package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** [[Shared]]'s single release path: `unpersistShared` drops every
  * released cached frame and keeps every session fixture as it is. */
class SharedSpec extends SparkSpec {

  test("unpersistShared uncaches frames, ML fits and CacheOnce frames; fixtures survive unwritten") {
    val id = Tables.sessionId(spark)
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
