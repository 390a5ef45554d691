package graft.serving

import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{MLPipelines, RelationalOps, Scratch, Tables, WriteOps}

/** Long-lived serving facade — the reference's Flask app re-expressed
  * as a library (HTTP transport itself is out of scope per SURVEY §2.1
  * S10 note; everything behind the routes is here). The reference
  * holds ONE SparkSession for the process lifetime and preloads saved
  * PipelineModels at startup (app/ml_app.py:59-74), then answers
  * dashboard reads (:99-147) and single-row inference POSTs (:180-298)
  * from that warm state. This facade composes the already-verified
  * catalog queries (q55/q56 dashboards, q57 inference, S9
  * persistence) the same way: construct once, call per request.
  *
  * Collects are bounded by construction (top-k'd rollups, 1-row
  * inference) — the reference's unbounded dashboard collects are
  * deliberately not reproduced (SURVEY §4.3).
  */
final class ServingFacade(spark: SparkSession, sfDir: String, modelDir: String) {

  /** Startup-time model load — train offline, load here (S9). */
  private val classifier: PipelineModel = MLPipelines.loadModel(modelDir)

  /** Startup-time MV build: the (priority, month) monthly aggregate the
    * dashboards serve from — the reference never scans the fact table
    * at request time (app/ml_app.py:99-139 reads only the
    * `total_award_amount_by_*` aggregate tables its ETL maintained);
    * here the facade rebuilds the same aggregate ONCE at construction
    * via the engine's MV machinery (q59 path) and every request reads
    * the ≤ #priorities×12-row materialization. At 100 TB this is the
    * difference between a ms-scale MV read and a full fact scan per
    * request; refreshes go through [[WriteOps.rebuild]] /
    * [[WriteOps.refreshPartitions]] out-of-band, exactly like the
    * reference's ETL jobs.
    *
    * The MV is resolved once: the frame [[WriteOps.rebuild]] hands
    * back (partitions listed, schema inferred) is pinned as ONE cached
    * partition, filled here, so a request lists no files, infers no
    * schema and runs as one single-stage job (the top-k, the re-group
    * and the sort all run in the one task). Each instance writes its
    * own path: the CacheManager matches a cached plan by its file
    * paths, not by their contents, and a write to a path re-caches
    * every entry over it, so two facades over one path would share
    * one entry and the first would serve the second's rows
    * (ServingSpec's rewritten-orders test). If an outside
    * `clearCache()` evicts the entry, requests read the same files
    * with the already-resolved schema — correct, only slower. */
  private val monthlyMv: DataFrame = {
    val path = Scratch.dir(s"${System.getProperty("java.io.tmpdir")}/graft_serving_mv_" +
      s"${ProcessHandle.current().pid()}_${java.util.UUID.randomUUID()}")
    val mv = WriteOps.rebuild(
      RelationalOps.monthRollup(Tables.orders(spark, sfDir)), path, Seq("o_orderpriority"))
      .coalesce(1).cache()
    mv.count()
    mv
  }

  /** Pie-chart rollup behind the reference's dashboard
    * (app/ml_app.py:120-127): top-30 priority-month cells re-grouped
    * by priority, computed over the startup-built MV. ≤ #priorities
    * rows. */
  def dashboardPie(): Array[Row] =
    RelationalOps.pieOverSlice(RelationalOps.topSliceOfMonthly(monthlyMv)).collect()

  /** Line-chart rollup (app/ml_app.py:131-138): the same top-30 MV
    * cells re-grouped by month. ≤ 12 rows. */
  def dashboardLine(): Array[Row] =
    RelationalOps.lineOverSlice(RelationalOps.topSliceOfMonthly(monthlyMv)).collect()

  /** The per-request dashboard plan, exposed for plan assertions
    * (ServingSpec proves it scans the MV path and never the fact). */
  private[graft] def dashboardPiePlan: org.apache.spark.sql.DataFrame =
    RelationalOps.pieOverSlice(RelationalOps.topSliceOfMonthly(monthlyMv))

  /** Single-request classification (app/ml_app.py:262-298): build the
    * 1-row frame, run the PRELOADED pipeline, extract label +
    * confidence. An unseen category is dropped by
    * handleInvalid=skip → None (the reference's empty-prediction
    * branch, app/ml_app.py:212). */
  def classify(priority: String, status: String, segment: String,
               monthV: Int, yearV: Int): Option[(String, Double)] = {
    val out = MLPipelines.withConfidence(
      MLPipelines.predictOne(spark, classifier, priority, status, segment, monthV, yearV))
    out.select(col("pred_label"), col("confidence")).collect()
      .headOption.map(r => (r.getString(0), r.getDouble(1)))
  }

  /** Batch inference for a bounded keyed slice — the engine form the
    * q57/q65 catalog queries exercise. */
  def classifyBatch(input: DataFrame): DataFrame =
    MLPipelines.withConfidence(classifier.transform(input))
      .select(col("o_orderkey"), col("pred_label"), col("confidence"))
      .orderBy(col("o_orderkey"))
}
