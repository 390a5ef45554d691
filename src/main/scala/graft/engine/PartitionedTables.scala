package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Exact._

/** Partitioned-table storage layer (SURVEY §2.1 S1, 100 TB column).
  *
  * `Tables` reads raw single-file parquet; this layer demonstrates the
  * cluster-scale layout the same operators run on unchanged: the fact
  * table written **partitioned by a derived key** (orders by month)
  * plus a small dim table, both re-read through partition discovery.
  * The payoff proven here (ScaleSpec + SCALE.md) is **dynamic
  * partition pruning**: a join from the partitioned fact to a filtered
  * dim prunes fact partitions at runtime from the dim's filter result
  * — at 100 TB, scanning 3/12 of the fact instead of all of it, with
  * no change to the query code.
  *
  * Layout is written once per JVM per scale-factor dir into a
  * run-unique tmp dir (pid-tagged, so concurrent runs on the same
  * sfDir never collide); at cluster scale the same write is a one-time
  * `partitionBy` into the warehouse and the reads resolve through the
  * catalog.
  */
object PartitionedTables {

  private val runTag = ProcessHandle.current().pid().toString
  private var ready: Set[String] = Set.empty

  def baseDir(sfDir: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_ptables_${Integer.toHexString(sfDir.hashCode)}_$runTag"

  /** Write orders partitioned by derived o_month + the month dim, once
    * per JVM run. Idempotent and cheap relative to any query over it. */
  def ensure(spark: SparkSession, sfDir: String): String = synchronized {
    val base = Scratch.dir(baseDir(sfDir))
    if (!ready.contains(base)) {
      Tables.orders(spark, sfDir)
        .withColumn("o_month", month(col("o_orderdate")))
        .write.mode("overwrite").partitionBy("o_month")
        .parquet(s"$base/orders_by_month")
      import spark.implicits._
      (1 to 12).map(m => (m, (m - 1) / 3 + 1)).toDF("m_month", "m_quarter")
        .repartition(1)
        .write.mode("overwrite").parquet(s"$base/month_dim")
      ready += base
    }
    base
  }

  /** Orders re-read through partition discovery: o_month is a
    * partition column, so equi-joins/filters on it prune directories,
    * not rows. */
  def ordersByMonth(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"${ensure(spark, sfDir)}/orders_by_month")

  def monthDim(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"${ensure(spark, sfDir)}/month_dim")

  /** Register the partitioned layout as a named EXTERNAL table in the
    * session catalog and recover its partitions, so the same relation
    * resolves via `spark.read.table(name)` — the catalog path promised
    * for the 100 TB layout (SURVEY §2.1 S1). Partition recovery is the
    * one-time MSCK equivalent; subsequent reads prune through catalog
    * partition metadata. Idempotent per session. */
  def registerCatalog(spark: SparkSession, sfDir: String): String = synchronized {
    // named by the orders table's identity (like ensureBucketed): one
    // session may serve several scale factors, and a fixed name would
    // silently resolve every later sfDir to the first one's data
    val name = Artifacts.nameFor("orders_by_month", Nil, Seq(Tables.orders(spark, sfDir)))
    val base = ensure(spark, sfDir)
    if (!spark.catalog.tableExists(name)) {
      spark.catalog.createTable(name, s"$base/orders_by_month", "parquet")
      spark.catalog.recoverPartitions(name)
    }
    name
  }

  /** Write orders and customer as BUCKETED catalog tables on the
    * customer key (same bucket count both sides) — the storage layout
    * that makes the fact-to-fact join shuffle-free: both scans are
    * already hash-distributed on the join key, so the join planner
    * needs no exchange on either side (asserted on the plan in
    * ScaleSpec). At 100 TB this is THE layout decision for repeated
    * fact⋈fact joins; q45's runtime repartition expresses the same
    * intent per-query, this persists it. Both are
    * [[Artifacts]] tables keyed by the bucket count and the source
    * table's identity. */
  def ensureBucketed(spark: SparkSession, sfDir: String, buckets: Int = 8): (String, String) = {
    val orders = Tables.orders(spark, sfDir)
    val customer = Tables.customer(spark, sfDir)
    (Artifacts.ensure("orders_bkt", Seq(buckets), Seq(orders),
       Some(Artifacts.Buckets(buckets, "o_custkey", "o_custkey")))(
       orders.select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))),
     Artifacts.ensure("customer_bkt", Seq(buckets), Seq(customer),
       Some(Artifacts.Buckets(buckets, "c_custkey", "c_custkey")))(
       customer.select(col("c_custkey"), col("c_mktsegment"))))
  }

  /** The q45 segment rollup over the BUCKETED tables: the orders ⋈
    * customer join runs with no shuffle on either side (bucketing is
    * the join distribution); the only exchange left is the one the
    * aggregation itself needs. */
  def bucketedJoinRollup(spark: SparkSession, sfDir: String): DataFrame = {
    val (ot, ct) = ensureBucketed(spark, sfDir)
    val o = spark.read.table(ot)
    val c = spark.read.table(ct)
    o.join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(decSum(col("o_totalprice")).as("total_price"),
           count(lit(1)).as("n_orders"))
      .orderBy(col("c_mktsegment"))
  }

  /** Quarterly rollup over the partitioned fact, joined to the month
    * dim filtered to one quarter. The month filter is NOT in this
    * query's text — it reaches the fact scan as a
    * DynamicPruningExpression built from the broadcast dim at runtime
    * (asserted in ScaleSpec, recorded in SCALE.md). */
  def quarterRollup(spark: SparkSession, sfDir: String, quarter: Int = 1): DataFrame = {
    val fact = ordersByMonth(spark, sfDir)
    val dim = monthDim(spark, sfDir).filter(col("m_quarter") === quarter)
    fact.join(dim, fact("o_month") === dim("m_month"))
      .groupBy(col("o_month").cast("long").as("o_month"))
      .agg(decSum(col("o_totalprice")).as("total_price"),
           count(lit(1)).as("n_orders"))
      .orderBy(col("o_month"))
  }
}
