package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Static source gates for bug classes that type-check but crash at
  * runtime — greps over `src/main/scala`, no Spark session.
  *
  * The round-10 regression: two call sites decoded a
  * `percentile(..., array(...))` driver row with
  * `.asInstanceOf[Seq[Double]]`, which compiles but throws
  * ClassCastException on every non-empty input (Spark materializes
  * array cells as `mutable.ArraySeq`; bare `Seq` is `immutable.Seq` in
  * Scala 2.13). The correct decode is `Row.getSeq`, centralized in
  * [[Tables.doubleSeqAt]] — this gate makes the cast unwritable.
  */
class SourceGateSpec extends AnyFunSuite {

  private def mainSources: Seq[Path] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"expected to run from repo root; missing $root")
    Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .toSeq
  }

  test("no .asInstanceOf[Seq[...]] row decodes in src/main (use Tables.doubleSeqAt)") {
    val offenders = mainSources.flatMap { p =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        // comment lines (the helper's own scaladoc names the banned cast) don't count
        case (line, i) if line.contains(".asInstanceOf[Seq[") &&
            !Seq("*", "//").exists(line.trim.startsWith) =>
          s"$p:${i + 1}: ${line.trim}"
      }
    }
    assert(offenders.isEmpty,
      "Row array cells must be decoded with Row.getSeq (Tables.doubleSeqAt), " +
        s"never .asInstanceOf[Seq[...]]:\n${offenders.mkString("\n")}")
  }

  /** A source file without its comment lines and trailing `//`
    * comments, so a scaladoc that names a banned construct doesn't count
    * as a use of it. */
  private def code(p: Path): String =
    Files.readAllLines(p).asScala
      .filterNot(l => Seq("*", "/*", "//").exists(l.trim.startsWith))
      .map(_.replaceAll("//.*", ""))
      .mkString("\n")

  test("SessionMemo is constructed only by Shared, Tables.loadMemo and lastSink") {
    val decl = """val\s+(\w+)\s*=\s*new\s+(?:Tables\.)?SessionMemo\b""".r
    val anyNew = """new\s+(?:Tables\.)?SessionMemo\b""".r
    val sites = mainSources.flatMap { p =>
      val text = code(p)
      val named = decl.findAllMatchIn(text).map(_.group(1)).toSeq
      val anonymous = anyNew.findAllMatchIn(text).size - named.size
      named.map(p.getFileName.toString -> _) ++
        Seq.fill(anonymous)(p.getFileName.toString -> "<anonymous>")
    }
    val outsideShared = sites.filterNot(_._1 == "shared.scala")
    assert(outsideShared.sorted == Seq("streaming.scala" -> "lastSink",
        "tables.scala" -> "loadMemo"),
      "a cross-query memo belongs in graft.Shared (released or session " +
        s"lifetime), not in its own SessionMemo: $outsideShared")
  }

  test("every parquet read in src/main resolves its schema through Tables.parquet") {
    // a schema-less `read.parquet(` starts a schema-inference job; only the
    // resolver itself and the schema-evolution query's mergeSchema read,
    // which must infer across files, may issue one
    val schemaless = """read\s*(?:\.option\([^)]*\)\s*)*\.parquet\(""".r
    val offenders = mainSources.flatMap { p =>
      schemaless.findAllMatchIn(code(p)).map(_.matched.replaceAll("\\s+", " "))
        .map(p.getFileName.toString -> _).toSeq
    }
    assert(offenders.sorted == Seq(
        "ExtensionQueries.scala" -> """read.option("mergeSchema", "true").parquet(""",
        "tables.scala" -> "read.parquet("),
      s"read parquet through Tables.parquet / Tables.parquetOr: $offenders")
  }

  test("sys.addShutdownHook appears only in Shared (its tempDir helper)") {
    val files = mainSources.filter(p => code(p).contains("addShutdownHook"))
      .map(_.getFileName.toString)
    assert(files == Seq("shared.scala"),
      s"create scratch dirs with Shared.tempDir / Shared.dir: $files")
  }

  test("no JVM-global system property switches in src/main") {
    // a query tier is data (its own registry spec), not a -D flag that
    // flips every suite and query in the JVM at once; nor is a run's
    // output switched by a repo file under tools/ that the engine reads
    val offenders = mainSources.flatMap { p =>
      code(p).linesIterator.collect {
        case l if l.contains("System.setProperty") || l.contains("Boolean.getBoolean") ||
            l.contains("\"tools/") =>
          s"${p.getFileName}: ${l.trim}"
      }
    }
    assert(offenders.isEmpty,
      s"system-property or tools/ file switches:\n${offenders.mkString("\n")}")
  }

  test("SparkSession.builder appears only in EntryPoint") {
    val files = mainSources.filter(p => code(p).contains("SparkSession.builder"))
      .map(_.getFileName.toString).sorted
    assert(files == Seq("entrypoint.scala"),
      s"every session is built from EntryPoint.conf by EntryPoint.session: $files")
  }

  /** The session-conf writes in `text` that are not a [[Shared.clone]]
    * setup (`Shared.clone(s, name)(_.conf.set(...))`). */
  private def confWritesOutsideClone(text: String): Seq[String] = {
    val cloneSetup =
      """Shared\.clone\([^()]*\)\(\s*(?:_|(\w+)\s*=>\s*\1)\.conf\.set\(""".r
    val write = """\bconf\.(?:set|unset|setConf|unsetConf)\(""".r
    cloneSetup.replaceAllIn(text, "").linesIterator
      .filter(l => write.findFirstIn(l).nonEmpty).map(_.trim).toSeq
  }

  test("no conf.set or conf.unset in src/main outside a Shared.clone setup") {
    // a body that writes the session it runs on changes the plan of every
    // query planned on that session meanwhile (Verify plans 4 at once); a
    // setting one query needs apart lives on a cloned session
    assert(confWritesOutsideClone(
      "Shared.clone(s, \"c\")(\n  _.conf.set(\"k\", \"v\"))").isEmpty)
    assert(confWritesOutsideClone(
      "Shared.clone(s, \"c\")(ns => ns.conf.set(\"k\", \"v\"))").isEmpty)
    assert(confWritesOutsideClone("spark.conf.set(\"k\", \"v\")").size == 1)
    assert(confWritesOutsideClone("try f finally s.conf.unset(k)").size == 1)
    val offenders = mainSources.flatMap { p =>
      confWritesOutsideClone(code(p)).map(l => s"${p.getFileName}: $l")
    }
    assert(offenders.isEmpty,
      s"session conf written outside a Shared.clone setup:\n${offenders.mkString("\n")}")
  }

  /** `Obj.x` for every top-level object in `text` that defines both `x`
    * and `xFrom`. */
  private def wrapperPairs(text: String): Seq[String] = {
    val obj = """(?m)^(?:private\[\w+\]\s+)?object\s+(\w+)""".r
    val defn = """\bdef\s+(\w+)""".r
    val starts = obj.findAllMatchIn(text).toSeq
    starts.zipWithIndex.flatMap { case (m, i) =>
      val end = if (i + 1 < starts.size) starts(i + 1).start else text.length
      val defs = defn.findAllMatchIn(text.substring(m.start, end)).map(_.group(1)).toSet
      defs.filter(x => defs(x + "From")).toSeq.sorted.map(x => s"${m.group(1)}.$x")
    }
  }

  test("no object in src/main defines both x and xFrom") {
    // the registry runs the *From form over its shared frames; a second
    // entry point that rebuilds the same chain from raw input is a form
    // that neither Bench nor Verify runs, so only tests would check it
    assert(wrapperPairs(
      "object A {\n  def f(d: D) = fFrom(g(d))\n  def fFrom(x: D) = x\n}\n" +
        "object B {\n  def h = 1\n}\nobject C {\n  def hFrom = 1\n}") == Seq("A.f"))
    assert(wrapperPairs("private[graft] object A {\n  def kFrom = 1\n}").isEmpty)
    val offenders = mainSources.flatMap { p =>
      wrapperPairs(code(p)).map(x => s"${p.getFileName}: $x / ${x}From")
    }
    assert(offenders.isEmpty,
      "call the registry's *From form instead of keeping a raw-input twin:\n" +
        offenders.mkString("\n"))
  }

  test("percentile-array folds go through the shared decode helper") {
    // every file that builds a percentile(..., array(...)) driver fold
    // must reference doubleSeqAt or getSeq — not ad-hoc casts
    val foldFiles = mainSources.filter { p =>
      Files.readString(p).contains("percentile(")
    }
    assert(foldFiles.nonEmpty, "expected at least one percentile fold in src/main")
    foldFiles.foreach { p =>
      val text = Files.readString(p)
      val decodes = text.contains("doubleSeqAt") || text.contains("getSeq")
      val folds = text.contains(".first()")
      assert(!folds || decodes,
        s"$p folds a percentile row on the driver without Row.getSeq/doubleSeqAt")
    }
  }
}
