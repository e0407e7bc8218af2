package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.perfbench.BusDrain
import org.apache.spark.sql.Row

import perfbench.Harness.{Op, Opts, Workload}

/** One JVM of a benchmark run: set-up (several times), then exactly one
  * operation, its check, and the JVM's record. run.py starts as many such
  * JVMs as the run's --seconds allow and aggregates their records. */
class Runner(o: Opts, w: Workload) {
  import Runner._

  def run(): Unit = {
    Files.createDirectories(Paths.get(o.work))
    val setups = (1 to SetupReps).map(_ => timed(w.setup(o.trace)))
    Ledger.reset(() => w.spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum)
    w.beforeOp(o.trace)
    Ledger.on = o.trace
    val op = w.runOp(o.trace)
    Ledger.on = false
    Option(w.spark).foreach(s => BusDrain(s.sparkContext))
    val heapMb = liveHeapMb()
    op.error.foreach(e => System.err.println(s"[perfbench] FAILED: $e"))
    writeRecord(setups, op, heapMb)
    w.sessions.stop()
  }

  private def writeRecord(setups: Seq[Double], op: Op, heapMb: Double): Unit = {
    val rt = ManagementFactory.getRuntimeMXBean
    val stamp = o.stamp ++ Map(
      "workload" -> o.workload, "seed" -> o.seed.toString,
      "nproc" -> o.cpus.toString,
      "xmx" -> rt.getInputArguments.asScala.filter(_.startsWith("-Xmx")).mkString(" "),
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
      "spark" -> org.apache.spark.SPARK_VERSION)
    val opRec = ListMap(
      "seconds" -> op.seconds, "traced" -> op.traced,
      "calls_ms" -> op.calls.map { case (n, ms) => Seq(n, ms) },
      "check_s" -> op.checkSeconds, "gc_s" -> op.gcSeconds,
      "cpu_s" -> op.cpuSeconds, "steal_s" -> op.stealSeconds,
      "error" -> op.error) ++
      op.span.map(_ => "ledger" -> ListMap(Layers.ofOp(op).toSeq.sortBy(_._1): _*))
    val rec = ListMap(
      "stamp" -> ListMap(stamp.toSeq.sorted: _*),
      "spark_conf" -> ListMap(w.sessions.conf.filterNot(_._1.endsWith(".dir")): _*),
      "setup_s" -> setups,
      "heap_live_mb" -> heapMb,
      "layer_units" -> ListMap(Layers.Units: _*),
      "op" -> opRec)
    Files.write(Paths.get(o.record), json.writeValueAsBytes(rec))
    Files.write(Paths.get(o.record + ".spans.jsonl"),
      Ledger.spans.map(s => json.writeValueAsString(ListMap(
        "id" -> s.id, "name" -> s.name, "layer" -> s.layer, "parent" -> s.parent,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "seconds" -> s.seconds)) + "\n")
        .mkString.getBytes(UTF_8))
  }
}

object Runner {
  /** Set-ups per JVM: the first starts the JVM's first SparkContext and
    * loads the classes, the others are what a warm process pays; run.py
    * reports the median of the warm ones. */
  val SetupReps = 5

  val json: JsonMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  def timed(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  /** CPU time of this JVM (all threads: tasks, JIT, GC). */
  def cpuSeconds(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => 0.0
  }

  /** CPU time the hypervisor gave to other guests (all CPUs, from
    * /proc/stat; 0 where unavailable): a host-noise diagnostic. */
  def stealSeconds(): Double =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      if (f.length > 8) f(8).toLong / 100.0 else 0.0
    } catch { case _: Exception => 0.0 }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1000.0

  /** First line of the error, of its causes and of the failures it
    * suppressed (a stage materialization reports each failed stage so). */
  def msg(e: Throwable): String =
    (Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8) ++ e.getSuppressed)
      .map(t => s"${t.getClass.getSimpleName}: ${Option(t.getMessage).getOrElse("")}"
        .takeWhile(_ != '\n').take(300))
      .toSeq.distinct.mkString(" <- ")

  /** Heap still in use after forced full collections (with finalizers
    * run in between, so what they release is gone too). */
  def liveHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); System.runFinalization(); Thread.sleep(100) }
    System.gc()
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

}

/** Correctness helpers: a failed check throws, and the operation counts
  * as failed. */
object Checks {
  def equal[T](what: String, want: T, got: T): Unit =
    if (want != got) throw new IllegalStateException(s"$what: expected $want, got $got")

  def digest(rows: Seq[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r.toString + "\n").getBytes(UTF_8)))
    md.digest().map("%02x".format(_)).mkString
  }

  def files(dir: File): Seq[File] =
    Option(dir.listFiles()).map(_.toSeq).getOrElse(Nil).flatMap(f =>
      if (f.isDirectory) files(f) else Seq(f))
}

/** The committed expected results of one input (workload, scale, data
  * seed), as `key<TAB>value` lines under perfbench/goldens. A check of a
  * key without a golden fails. When `writing`, the first value checked
  * under a key is recorded instead, and later ones must equal it.
  * `perturbed` names a stored value to corrupt, so its check must fail. */
class Goldens(path: String, writing: Boolean, perturbed: Option[String]) {
  private val file = Paths.get(path)
  private val stored = mutable.Map.empty[String, String]
  if (!writing && Files.exists(file)) stored ++= Files.readAllLines(file, UTF_8).asScala
    .map(_.split("\t", 2)).collect { case Array(k, v) => k -> v }
  perturbed.foreach(k => stored(k) = stored.getOrElse(k, "") + "!")

  def check(key: String, value: String): Unit =
    if (writing && !stored.contains(key)) {
      stored(key) = value
      Files.createDirectories(file.toAbsolutePath.getParent)
      Files.write(file, stored.toSeq.sorted.map { case (k, v) => s"$k\t$v\n" }
        .mkString.getBytes(UTF_8))
    } else stored.get(key) match {
      case Some(want) => Checks.equal(key, want, value)
      case None => throw new IllegalStateException(s"no golden for $key in $path")
    }
}

/** Values the generator knows from construction (`expect.json`). */
final case class Expect(quality: Map[String, Long], silverRows: Map[String, Long],
    goldRows: Map[String, Long], kpis: (Long, Long, Long))

object Expect {
  def load(dataDir: String): Expect = {
    val t = Runner.json.readTree(new File(dataDir, "expect.json"))
    def section(name: String): Map[String, Long] =
      t.get(name).properties().asScala.map(e => e.getKey -> e.getValue.asLong).toMap
    val k = section("kpis")
    Expect(section("quality"), section("silver_rows"), section("gold_rows"),
      (k("ca_total_cents"), k("nb_achats"), k("nb_clients")))
  }
}
