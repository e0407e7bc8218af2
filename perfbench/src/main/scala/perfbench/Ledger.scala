package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkConf
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InsertIntoHadoopFsRelationCommand, LogicalRelation}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.ExecutionEnd
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory trace of one benchmark run.
  *
  * Spans are opened by the harness around every call it makes into a
  * layer's public function (name, start, end, parent). Counters come from
  * three listeners that the harness registers through the session's
  * static confs, so every session and clone the engine creates reports
  * here: a SparkListener (jobs, stages with their aggregated task
  * metrics, SQL execution start/end), a QueryExecutionListener (plan
  * phase times, what each action read and wrote) and a
  * StreamingQueryListener (micro-batch durations).
  *
  * Nothing is attributed while the run executes. At the end, every event
  * is charged to the innermost span whose wall-clock interval contains
  * the event's start; the client is a single thread, so spans at one
  * depth never overlap. Events are kept in memory and written out once.
  */
object Ledger {
  final case class Span(id: Int, name: String, layer: String, parent: Int,
      startNs: Long, var endNs: Long, startMs: Long, var endMs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }
  final case class Stage(startMs: Long, execId: Long, tasks: Int,
      shuffleBytes: Long, spillBytes: Long)
  final case class Job(startMs: Long, execId: Long)
  /** One QueryExecutionListener callback; `qe` is the identity hash of its
    * QueryExecution, which [[execOf]] maps to the SQL execution id. */
  final case class Action(qe: Int, durationNs: Long, planMs: Long,
      writes: Seq[String], reads: Seq[String]) {
    def execId: Long = Option(execOf.get(qe)).fold(-1L)(_.longValue)
  }
  final case class Batch(startMs: Long, addBatchMs: Long, commitMs: Long)

  val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]
  val stages = new ConcurrentLinkedQueue[Stage]()
  val jobs = new ConcurrentLinkedQueue[Job]()
  val actions = new ConcurrentLinkedQueue[Action]()
  val batches = new ConcurrentLinkedQueue[Batch]()
  /** SQL execution id -> (start ms, end ms). */
  val execTimes = new java.util.concurrent.ConcurrentHashMap[Long, (Long, Long)]()
  /** Identity hash of a QueryExecution -> its SQL execution id. */
  val execOf = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  /** (ms, cached-RDD bytes) sampled at the end of every SQL execution. */
  val cacheSamples = new ConcurrentLinkedQueue[(Long, Long)]()
  @volatile private var storage: () => Long = () => 0L

  def reset(cachedBytes: () => Long): Unit = {
    spans.clear(); open.clear(); stages.clear(); jobs.clear(); actions.clear()
    batches.clear(); execTimes.clear(); execOf.clear(); cacheSamples.clear()
    storage = cachedBytes
  }

  /** Spans are recorded only while this is set (traced operations). */
  @volatile var on: Boolean = false

  def current: Option[Span] = open.headOption

  def span[T](name: String, layer: String)(body: => T): T = if (!on) body else {
    val s = Span(spans.size, name, layer, open.headOption.fold(-1)(_.id),
      System.nanoTime(), 0L, System.currentTimeMillis(), 0L)
    spans += s
    open.push(s)
    try body
    finally {
      s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
      open.pop()
    }
  }

  /** Static confs that register the three listeners on a new session. */
  val listenerConfs: Seq[(String, String)] = Seq(
    "spark.extraListeners" -> classOf[JobListener].getName,
    "spark.sql.queryExecutionListeners" -> classOf[ActionListener].getName,
    "spark.sql.streaming.streamingQueryListeners" -> classOf[BatchListener].getName)

  private def execId(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)

  class JobListener(conf: SparkConf) extends SparkListener {
    private val submitted = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      submitted.put(e.stageInfo.stageId, (
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()),
        execId(e.properties)))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val (t, ex) = Option(submitted.remove(i.stageId)).getOrElse(
        (i.submissionTime.getOrElse(0L), -1L))
      val m = i.taskMetrics
      stages.add(Stage(t, ex, i.numTasks,
        if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
        if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled))
    }
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.add(Job(e.time, execId(e.properties)))
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execTimes.put(s.executionId, (s.time, 0L))
      case s: SparkListenerSQLExecutionEnd =>
        val start = Option(execTimes.get(s.executionId)).fold(s.time)(_._1)
        execTimes.put(s.executionId, (start, s.time))
        ExecutionEnd.queryExecution(s).foreach(qe =>
          execOf.put(System.identityHashCode(qe), s.executionId))
        cacheSamples.add((s.time, storage()))
      case _ =>
    }
  }

  class ActionListener extends QueryExecutionListener {
    private def record(qe: QueryExecution, ns: Long, reads: Seq[String]): Unit =
      actions.add(Action(System.identityHashCode(qe), ns,
        qe.tracker.phases.values.map(_.durationMs).sum, writes(qe.logical), reads))
    override def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit =
      record(qe, ns, reads(qe.analyzed))
    // a failed action may have no analyzed plan; its plan time still counts
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe, 0L, Nil)
  }

  private def writes(p: LogicalPlan): Seq[String] =
    p.collect { case w: InsertIntoHadoopFsRelationCommand => w.outputPath.toString }

  private def reads(p: LogicalPlan): Seq[String] =
    p.collect { case l: LogicalRelation => l.relation }.flatMap {
      case h: HadoopFsRelation => h.location.rootPaths.map(_.toString)
      case _ => Nil
    }

  class BatchListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      batches.add(Batch(java.time.Instant.parse(p.timestamp).toEpochMilli,
        d.getOrElse("addBatch", 0L),
        d.getOrElse("walCommit", 0L) + d.getOrElse("commitOffsets", 0L)))
    }
  }

  /** The innermost span containing wall-clock instant `ms`, if any. */
  def spanAt(ms: Long): Option[Span] = {
    var best: Option[Span] = None
    spans.foreach { s =>
      if (s.startMs <= ms && ms <= s.endMs &&
          best.forall(b => s.startNs >= b.startNs)) best = Some(s)
    }
    best
  }

  /** Spans whose ancestor chain contains `root` (including `root`). */
  private def within(root: Span): Seq[Span] = {
    val ids = mutable.Set(root.id)
    spans.filter { s =>
      val in = s.id == root.id || ids.contains(s.parent)
      if (in) ids += s.id
      in
    }.toSeq
  }

  def stagesIn(root: Span): Seq[Stage] = inSpans(root, stages.asScala.toSeq)(_.startMs)
  def jobsIn(root: Span): Seq[Job] = inSpans(root, jobs.asScala.toSeq)(_.startMs)
  def batchesIn(root: Span): Seq[Batch] = inSpans(root, batches.asScala.toSeq)(_.startMs)
  def actionsIn(root: Span): Seq[Action] = inSpans(root, actions.asScala.toSeq)(a =>
    Option(execTimes.get(a.execId)).fold(-1L)(_._1))

  private def inSpans[E](root: Span, es: Seq[E])(t: E => Long): Seq[E] = {
    val ids = within(root).map(_.id).toSet
    es.filter(e => spanAt(t(e)).exists(s => ids.contains(s.id)))
  }
}
