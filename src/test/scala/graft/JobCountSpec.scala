package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.graftbridge.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Job-count gates for resolving relations. A parquet read resolves its
  * schema from a footer on the driver ([[Tables.parquet]]), so building a
  * catalog starts no Spark job, and every job the medallion flow starts
  * belongs to a SQL execution (an inferring read's job belongs to none).
  * Each check runs in a new session, so no earlier suite's memoized
  * relation hides a resolution. */
class JobCountSpec extends SparkSpec {

  /** The properties of every job `body` starts, in start order. */
  private def jobsOf(body: => Unit): Seq[java.util.Properties] = {
    val sc = spark.sparkContext
    BusDrain(sc)
    val jobs = new ConcurrentLinkedQueue[java.util.Properties]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(Option(e.properties).getOrElse(new java.util.Properties))
    }
    sc.addSparkListener(listener)
    try { body; BusDrain(sc) } finally sc.removeSparkListener(listener)
    jobs.asScala.toSeq
  }

  private lazy val pipelineOut =
    java.nio.file.Files.createTempDirectory("graft_jobcount").toString
  /** The jobs of one `Pipeline.run` over sf0.001 into `pipelineOut`. */
  private lazy val pipelineJobs: Seq[java.util.Properties] = {
    val fresh = spark.newSession()
    jobsOf(Pipeline.run(fresh, sf, pipelineOut))
  }

  test("registerTables, each source table load and registerGold start no Spark job") {
    val fresh: SparkSession = spark.newSession()
    assert(jobsOf(Catalog.registerTables(fresh, sf)).isEmpty)
    Tables.required.keys.toSeq.sorted.foreach { name =>
      assert(jobsOf(Tables.load(spark.newSession(), sf, name)).isEmpty, name)
    }
    assert(pipelineJobs.nonEmpty)
    assert(jobsOf(Catalog.registerGold(spark.newSession(), pipelineOut)).isEmpty)
  }

  test("every job Pipeline.run starts carries a SQL execution id") {
    val orphans = pipelineJobs.filter(_.getProperty("spark.sql.execution.id") == null)
    assert(orphans.isEmpty, s"${orphans.size} of ${pipelineJobs.size} jobs outside " +
      s"a SQL execution: ${orphans.map(_.getProperty("spark.job.description"))}")
  }
}
