package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session across all suites (JVM-wide, cheap to reuse). */
object SparkTestBase {
  lazy val spark: SparkSession = {
    // The drivers' own session recipe, so the tests plan what they ship.
    val s = SessionDefaults.builder("4").appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // The suites run many throwaway stream queries through one JVM-wide
    // session — opt in to the harness-only per-query stream teardown
    // (see StreamOps' runStreamN finally block).
    s.conf.set("spark.graft.stream.teardown", "true")
    s
  }
}

abstract class SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark
  val sf0001 = "/root/testdata/sf0.001"
}
