package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session, lazy),
  * built by the factory so every spec runs the shipped configuration. */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = GraftSession.create(master = Some("local[4]"),
      shufflePartitions = Some(4))
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  val sf: String = "/root/testdata/sf0.001"
}
