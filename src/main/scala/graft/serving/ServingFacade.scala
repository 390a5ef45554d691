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
  * Everything a request reuses is resolved at construction: the MV
  * into one cached partition (a dashboard call is one single-stage
  * job) and the classifier into a driver-local scorer (a classify
  * call plans no query at all; [[classifyBatch]] keeps the Spark
  * `transform` path).
  *
  * Collects are bounded by construction (top-k'd rollups, 1-row
  * inference) — the reference's unbounded dashboard collects are
  * deliberately not reproduced (SURVEY §4.3).
  */
final class ServingFacade(spark: SparkSession, sfDir: String, modelDir: String) {

  /** Startup-time model load — train offline, load here (S9). */
  private val classifier: PipelineModel = MLPipelines.loadModel(modelDir)

  /** The classifier resolved once into a driver-local scorer
    * ([[MLPipelines.localScorer]]), as the MV below is resolved once:
    * a single-row request then plans nothing. A model that is not a
    * binary classification pipeline fails here, naming its stage,
    * before the MV is built. */
  private val scorer = MLPipelines.localScorer(classifier)

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

  /** Single-request classification (app/ml_app.py:262-298): the
    * preloaded pipeline's label + confidence for one input, computed by
    * the driver-local scorer resolved at construction — no Dataset, no
    * plan, no job. An unseen or null category gives None: the
    * handleInvalid=skip row drop, the reference's empty-prediction
    * branch (app/ml_app.py:212). Equals [[classifyBatch]] on the same
    * input exactly; safe to call from many threads. */
  def classify(priority: String, status: String, segment: String,
               monthV: Int, yearV: Int): Option[(String, Double)] =
    scorer(priority, status, segment, monthV, yearV)

  /** Batch inference for a bounded keyed slice — the engine form the
    * q57/q65 catalog queries exercise. */
  def classifyBatch(input: DataFrame): DataFrame =
    MLPipelines.withConfidence(classifier.transform(input))
      .select(col("o_orderkey"), col("pred_label"), col("confidence"))
      .orderBy(col("o_orderkey"))
}
