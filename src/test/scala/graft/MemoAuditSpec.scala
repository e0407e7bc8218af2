package graft

import org.scalatest.funsuite.AnyFunSuite

/** Stopped-session eviction from both of [[Shared]]'s stores, run in a
  * forked JVM because the shared-context suite cannot stop a session
  * without killing every other suite — see [[MemoAuditMain]] for the
  * lifecycle. This spec only spawns the JVM and asserts its verdict
  * line. */
class MemoAuditSpec extends AnyFunSuite {

  test("stopped session's entries are evicted from every memo registry; survivors stay serviceable") {
    val javaBin = new java.io.File(new java.io.File(
      System.getProperty("java.home"), "bin"), "java").getAbsolutePath
    // the child creates its own SparkSessions, so it needs this JVM's
    // --add-opens flags (JDK 17 module access; injected by build.sbt
    // here, by spark-submit in production)
    import scala.jdk.CollectionConverters._
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toVector
    // "--add-opens" may arrive fused ("--add-opens=pkg=ALL-UNNAMED") or
    // as a flag/value pair — keep both forms intact
    val addOpens = jvmArgs.zipWithIndex.flatMap {
      case (a, _) if a.startsWith("--add-opens=") => Seq(a)
      case (a, i) if a == "--add-opens" && i + 1 < jvmArgs.size =>
        Seq(a, jvmArgs(i + 1))
      case _ => Nil
    }
    val cmd = Seq(javaBin) ++ addOpens ++ Seq("-Xmx4g",
      "-cp", System.getProperty("java.class.path"),
      "graft.MemoAuditMain", "/root/testdata/sf0.001")
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = new String(p.getInputStream.readAllBytes, "UTF-8")
    val rc = p.waitFor()
    assert(rc == 0 && out.contains("MEMO_AUDIT_PASS"),
      s"memo audit JVM rc=$rc; tail:\n${out.takeRight(3000)}")
  }
}
