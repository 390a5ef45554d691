package perfbench

import org.apache.spark.sql.SparkSession

/** The session every benchmark process runs on: the `graft.Bench` /
  * `graft.Verify` configuration, with the core count pinned so query
  * results and plans do not depend on the machine's processor count. */
object Session {
  val Cores = 4

  def build(warehouse: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", warehouse)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
