package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared one-session-per-suite fixture (SURVEY §5.2.2). Pins the same
  * confs as Verify/Bench so seeded/sketch results are reproducible. */
trait SparkSpec extends AnyFunSuite {
  val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = GraftSession.build("4")
}
