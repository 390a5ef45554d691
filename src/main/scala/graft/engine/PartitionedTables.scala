package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Exact._

/** Partitioned-table storage layer (SURVEY §2.1 S1, 100 TB column).
  *
  * `Tables` reads raw single-file parquet; this layer demonstrates the
  * cluster-scale layout the same operators run on unchanged: the fact
  * table stored **partitioned by a derived key** (orders by month)
  * plus a small dim table, and the fact⋈fact pair stored **bucketed**
  * on the join key. The payoff proven here (ScaleSpec + SCALE.md) is
  * **dynamic partition pruning**: a join from the partitioned fact to
  * a filtered dim prunes fact partitions at runtime from the dim's
  * filter result — at 100 TB, scanning 3/12 of the fact instead of
  * all of it, with no change to the query code.
  *
  * Every table here is an [[Artifacts]] table keyed by its source
  * table's identity, and its layout lives in its catalog entry: a
  * rewritten orders file lands on new tables, and reads prune through
  * the catalog's partition and bucket metadata.
  */
object PartitionedTables {

  /** Orders with the derived `o_month`, partitioned on it: equi-joins
    * and filters on o_month prune directories, not rows. */
  def ordersByMonthFor(orders: DataFrame): DataFrame =
    Artifacts.table("orders_by_month", Nil, Seq(orders),
        Some(Artifacts.PartitionedBy("o_month")))(
      orders.withColumn("o_month", month(col("o_orderdate"))))

  /** The 12-row (m_month, m_quarter) dim, stored so a filter on it
    * stays a scan-side predicate the pruning can build from. Keyed by
    * the orders it is joined to. */
  def monthDimFor(orders: DataFrame): DataFrame = {
    val spark = orders.sparkSession
    import spark.implicits._
    Artifacts.table("month_dim", Nil, Seq(orders))(
      (1 to 12).map(m => (m, (m - 1) / 3 + 1)).toDF("m_month", "m_quarter").repartition(1))
  }

  /** Orders and customer BUCKETED on the customer key (same bucket
    * count both sides) — the storage layout that makes the
    * fact-to-fact join shuffle-free: both scans are already
    * hash-distributed on the join key, so the join planner needs no
    * exchange on either side (asserted on the plan in ScaleSpec). At
    * 100 TB this is THE layout decision for repeated fact⋈fact joins;
    * q45's runtime repartition expresses the same intent per-query,
    * this persists it. Keyed by the bucket count and the source
    * table's identity. */
  def ordersBucketedFor(orders: DataFrame, buckets: Int = 8): DataFrame =
    Artifacts.table("orders_bkt", Seq(buckets), Seq(orders),
        Some(Artifacts.Buckets(buckets, "o_custkey", "o_custkey")))(
      orders.select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")))

  def customerBucketedFor(customer: DataFrame, buckets: Int = 8): DataFrame =
    Artifacts.table("customer_bkt", Seq(buckets), Seq(customer),
        Some(Artifacts.Buckets(buckets, "c_custkey", "c_custkey")))(
      customer.select(col("c_custkey"), col("c_mktsegment")))

  /** The q45 segment rollup over the BUCKETED tables: the orders ⋈
    * customer join runs with no shuffle on either side (bucketing is
    * the join distribution); the only exchange left is the one the
    * aggregation itself needs. */
  def bucketedJoinRollup(spark: SparkSession, sfDir: String): DataFrame = {
    val o = ordersBucketedFor(Tables.orders(spark, sfDir))
    val c = customerBucketedFor(Tables.customer(spark, sfDir))
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
    val orders = Tables.orders(spark, sfDir)
    val fact = ordersByMonthFor(orders)
    val dim = monthDimFor(orders).filter(col("m_quarter") === quarter)
    fact.join(dim, fact("o_month") === dim("m_month"))
      .groupBy(col("o_month").cast("long").as("o_month"))
      .agg(decSum(col("o_totalprice")).as("total_price"),
           count(lit(1)).as("n_orders"))
      .orderBy(col("o_month"))
  }
}
