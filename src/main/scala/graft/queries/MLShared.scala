package graft.queries

import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.engine.{Artifacts, MLPipelines, Tables}
import graft.engine.MLPipelines.FittedEncoders

/** Session-scoped shared state for the ML catalog queries (q50-q53,
  * q57).
  *
  * All five consume the same feature table and the same fitted
  * encoder stages. Round 1 built, cached and unpersisted that table
  * independently per query — four build/cache cycles plus 15 serial
  * distinct-count jobs per bench run. The feature table is built once
  * per sfDir and persisted for the run (a deliberate shared
  * materialization: q52's fits iterate it), the indexer/encoder stages
  * are fitted once, and the table re-persists transparently if an
  * external clearCache() evicted it. The fitted models are kept too, so
  * the inference query (q57) reuses q52's fit instead of re-training —
  * query evaluation order is not assumed (Verify iterates an unordered
  * Map), so every accessor builds whatever it is missing on first
  * touch. All of it lives in [[graft.engine.Artifacts.memo]], dropped
  * (and unpersisted) by [[graft.engine.Artifacts.releaseAll]].
  */
object MLShared {

  def features(s: SparkSession, dir: String): (DataFrame, FittedEncoders) = {
    val f = Artifacts.memo(("ml_features", dir)) {
      MLPipelines.featureTable(Tables.orders(s, dir), Tables.customer(s, dir)).persist()
    }
    if (f.storageLevel == StorageLevel.NONE) f.persist()
    (f, Artifacts.memo(("ml_encoders", dir))(MLPipelines.fitEncoders(f)))
  }

  /** Memoized classification fit: (model, median threshold, auc). */
  def classification(s: SparkSession, dir: String): (PipelineModel, Double, Double) =
    Artifacts.memo(("ml_classification", dir)) {
      val (f, enc) = features(s, dir)
      MLPipelines.classification(f, enc)
    }

  /** Memoized regression fit: (model, rmse) — same pattern as
    * [[classification]] (seeded fit over the shared feature table is
    * deterministic, so refitting per query run is pure waste). */
  def regression(s: SparkSession, dir: String): (PipelineModel, Double) =
    Artifacts.memo(("ml_regression", dir)) {
      val (f, enc) = features(s, dir)
      MLPipelines.regression(f, enc)
    }

  /** Memoized KMeans fit (k=5, seed=42). */
  def clustering(s: SparkSession, dir: String): PipelineModel =
    Artifacts.memo(("ml_clustering", dir)) {
      val (f, enc) = features(s, dir)
      MLPipelines.clustering(f, enc0 = enc)
    }

  /** Memoized hyperparameter sweep report (4 seeded LR fits — far too
    * expensive to redo per query call; the report itself is a 4-row
    * grid, so the memo keeps the VALUES and rebuilds the tiny frame
    * per call). */
  def sweep(s: SparkSession, dir: String): DataFrame = {
    val data = Artifacts.memo(("ml_sweep", dir)) {
      val (f, enc) = features(s, dir)
      MLPipelines.paramSweep(f, enc).collect() // 4-row grid report
        .map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getLong(3))).toSeq
    }
    import s.implicits._
    data.toDF("reg_param", "elastic_net", "rmse", "is_best")
      .orderBy("reg_param", "elastic_net")
  }
}
