package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session; ScalaTest
  * runs suites in one forked JVM, see build.sbt `Test / fork`). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  // testdata smoke tier (TESTDATA.md): tiny, committed-by-driver parquet
  val sfDir = "/root/testdata/sf0.001"
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = graft.util.SessionTuning.session(cpus = 4, shufflePartitions = 4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
