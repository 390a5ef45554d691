package perfbench

import graft.engine.{MLPipelines, Tables}

/** Trains the serving classifier offline, as the reference does before
  * its app starts, and saves it where `ServingFacade` loads it from:
  *
  *     perfbench.Prepare <input-table dir> <model dir>
  *
  * The inputs are the sf0.1 tables under `perfbench/data/sf0.1`; the
  * model depends on the engine's training code, so it is retrained
  * whenever the engine is rebuilt. */
object Prepare {
  def main(args: Array[String]): Unit = {
    val Array(dataDir, modelDir) = args
    val spark = Session.build(s"${System.getProperty("java.io.tmpdir")}/warehouse")
    val feats = MLPipelines.featureTable(Tables.orders(spark, dataDir), Tables.customer(spark, dataDir))
    MLPipelines.saveModel(MLPipelines.classification(feats)._1, modelDir)
    spark.stop()
  }
}
