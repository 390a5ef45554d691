package graft

import org.apache.spark.sql.SparkSession

/** The one engine session shape, shared by Verify, Bench, the tools
  * and the test suites: local[cpus] with matching shuffle partitions,
  * the UTC session zone, and catalog tables in the given warehouse. */
object GraftSession {

  /** `warehouse` defaults to a directory unique to this process,
    * removed at exit, so catalog tables never land in the working
    * directory. */
  def build(cpus: String,
            warehouse: String = graft.engine.Scratch.dir(
              s"${System.getProperty("java.io.tmpdir")}/graft_wh_${ProcessHandle.current().pid()}"))
      : SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // Reference semantics are PySpark 3.4 non-ANSI: bad casts -> null
      // (reference: app/ml_app.py:479-485); Spark 4 defaults ANSI on.
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      // events.parquet stores TIMESTAMP(NANOS); see Tables.events.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", warehouse)
      .getOrCreate()
}
