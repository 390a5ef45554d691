package graft.engine

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Table registry: name -> parquet path under a scale-factor directory.
  *
  * Mirrors the reference's fixed catalog of Cassandra tables
  * (reference: cql/setup_usaspending.cql:2-71) re-expressed as columnar
  * Parquet relations read through Spark's vectorized reader. At cluster
  * scale the same names resolve through a real catalog
  * (`spark.read.table`) over partitioned Parquet; locally they are
  * single files under the scale-factor test directories.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private val schemas = TrieMap.empty[(SparkSession, String, Long, Long), StructType]

  /** The schema is inferred once per session and file version (path,
    * length, mtime): inference runs a Spark job, and every stored
    * artifact's hit path constructs its input frames to key them. */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    require(names.contains(name), s"unknown table: $name")
    val path = s"$sfDir/$name.parquet"
    val p = new Path(path)
    val st = p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p)
    val schema = schemas.getOrElseUpdate((spark, path, st.getLen, st.getModificationTime),
      spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "region")
  /** The events parquet has shipped in two physical shapes:
    * TIMESTAMP(NANOS), which Spark's reader surfaces as LongType nanos
    * under `spark.sql.legacy.parquet.nanosAsLong=true` (set in all
    * engine sessions), and plain `timestamp[us]` with no UTC flag,
    * which Spark 4 reads as TIMESTAMP_NTZ. Both are normalized here to
    * event-time TimestampType (LTZ): nanos floor to micros — the same
    * truncation DuckDB applies — and NTZ casts 1:1 under the pinned
    * UTC session zone (identical instants, watermark-eligible). */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _                => df
    }
  }

  def events(spark: SparkSession, sfDir: String): DataFrame =
    normalizeEventTs(load(spark, sfDir, "events"))
  def documents(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "embeddings")
}
