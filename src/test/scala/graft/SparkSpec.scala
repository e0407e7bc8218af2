package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one per JVM). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sf: String = "/root/testdata/sf0.001"
}

object SparkSpec {
  /** Fuzz-case budget for a Props suite: GRAFT_FUZZ_N deepens a soak
    * run but never shrinks a suite below its committed default (so a
    * 40-case soak doesn't silently cut SketchProps' 200-case floor). */
  def fuzzN(default: Int): Int =
    sys.env.get("GRAFT_FUZZ_N").map(_.toInt).map(math.max(_, default))
      .getOrElse(default)

  /** The engine's session conf ([[EntryPoint.conf]]) on 4 cores. */
  lazy val session: SparkSession = EntryPoint.session("4")
}
