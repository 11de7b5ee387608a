package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session keeps the
  * test run fast; suites must not mutate session-global state). */
object TestSpark {
  lazy val spark: SparkSession = Session.create(4,
    // local[4, 2]: 4 threads, 2 task attempts — task-level retry is ON
    // so the failure-injection specs can prove the write protocols
    // survive a killed first attempt (local[4] makes any task throw
    // fatal, which would leave the retry paths untestable).
    _.master("local[4, 2]"))
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf: String = "/root/testdata/sf0.001"
}
