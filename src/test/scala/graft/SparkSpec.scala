package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.CatalogTable
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.scalatest.funsuite.AnyFunSuite

/** Shared one-session-per-suite fixture (SURVEY §5.2.2). Pins the same
  * confs as Verify/Bench so seeded/sketch results are reproducible. */
trait SparkSpec extends AnyFunSuite {
  val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = GraftSession.build("4")

  /** The catalog entry a frame reads, if it reads one. */
  def catalogTable(df: DataFrame): Option[CatalogTable] =
    df.queryExecution.analyzed.collectFirst { case l: LogicalRelation => l.catalogTable }.flatten
}
