package graft

import java.nio.file.Files

import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.{MLPipelines, Tables}

/** ML pipeline semantics vs the reference (SURVEY §5.2.4): stage
  * structure, handleInvalid=skip row-dropping, metric sanity, model
  * persistence roundtrip. */
class MLSpec extends SparkSpec {

  private lazy val feats =
    MLPipelines.featureTable(Tables.orders(spark, sf), Tables.customer(spark, sf)).cache()

  /** Single-row inference through the Spark `transform` path (the
    * reference's Flask POST, §3.3): an unseen category is dropped by
    * handleInvalid=skip, so the frame is empty. */
  private def predictOne(model: PipelineModel, priority: String, status: String, segment: String,
                         monthV: Int, yearV: Int): DataFrame = {
    val s = spark
    import s.implicits._
    model.transform(Seq((0L, 0.0, monthV, yearV, priority, status, segment))
      .toDF("o_orderkey", "o_totalprice", "o_month", "o_year",
            "o_orderpriority", "o_orderstatus", "c_mktsegment"))
  }

  test("feature table applies dropna and positive-amount filter") {
    assert(feats.count() > 0)
    assert(feats.filter(col("o_totalprice") <= 0).count() == 0)
  }

  test("categorical gate keeps only columns with >=2 distinct values") {
    val usable = MLPipelines.usableCategoricals(feats)
    assert(usable.nonEmpty)
    usable.foreach { c =>
      assert(feats.select(col(c)).distinct().count() >= 2)
    }
  }

  test("regression pipeline: stage structure and finite rmse") {
    val (model, rmse) = MLPipelines.regression(feats)
    val kinds = model.stages.map(_.getClass.getSimpleName).toSeq
    // N indexers, then encoder, assembler, regression model
    assert(kinds.takeRight(3) ==
      Seq("OneHotEncoderModel", "VectorAssembler", "LinearRegressionModel"))
    assert(kinds.dropRight(3).forall(_ == "StringIndexerModel"))
    assert(!rmse.isNaN && rmse > 0)
  }

  test("classification: auc within (0.4, 1], median threshold positive") {
    val (_, median, auc) = MLPipelines.classification(feats)
    assert(median > 0)
    assert(auc > 0.4 && auc <= 1.0)
  }

  test("kmeans k=5 produces 5 clusters covering all rows") {
    val model = MLPipelines.clustering(feats)
    val assigned = model.transform(feats)
    val clusters = assigned.select(col("prediction")).distinct().count()
    assert(clusters == 5)
    assert(assigned.count() == feats.count())
  }

  test("handleInvalid=skip drops rows with unseen categories at inference") {
    val (model, _) = MLPipelines.regression(feats)
    val known = predictOne(model,
      "1-URGENT", "O", "BUILDING", 6, 1996)
    assert(!known.isEmpty, "known categories should predict")
    val unseen = predictOne(model,
      "NO-SUCH-PRIORITY", "O", "BUILDING", 6, 1996)
    assert(unseen.isEmpty, "unseen category must be skipped (empty prediction)")
  }

  test("engine save/load roundtrip preserves predictions; artifact layout matches reference") {
    val (model, _) = MLPipelines.regression(feats)
    val dir = Files.createTempDirectory("graft_model_").toString + "/reg"
    MLPipelines.saveModel(model, dir)
    // Artifact-layout parity with the reference's saved pipeline
    // (outputs/pipeline_regression/metadata/part-00000): a JSON
    // metadata part file declaring the PipelineModel class and the
    // ordered stageUids list, plus one stages/<i>_<uid> dir per stage.
    // (Spark 4 names the part file part-00000-<uuid>-c000.txt.)
    val metaFile = new java.io.File(s"$dir/metadata").listFiles()
      .filter(_.getName.startsWith("part-")).head
    val meta = new String(Files.readAllBytes(metaFile.toPath))
    assert(meta.contains("\"class\":\"org.apache.spark.ml.PipelineModel\""))
    assert(meta.contains("\"stageUids\""))
    val stageDirs = new java.io.File(s"$dir/stages").list().sorted
    assert(stageDirs.length == model.stages.length)
    val loaded = MLPipelines.loadModel(dir)
    assert(loaded.stages.map(_.uid).toSeq == model.stages.map(_.uid).toSeq)
    val sample = feats.limit(50)
    val a = model.transform(sample).select(col("o_orderkey"), col("prediction"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val b = loaded.transform(sample).select(col("o_orderkey"), col("prediction"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(a == b)
  }

  test("classification inference: label + confidence, empty frame on unseen category") {
    val (model, _, _) = MLPipelines.classification(feats)
    val known = MLPipelines.withConfidence(model.transform(feats.limit(10)))
      .select(col("pred_label"), col("confidence")).collect()
    assert(known.nonEmpty)
    known.foreach { r =>
      assert(Set("HIGH", "LOW").contains(r.getString(0)))
      // confidence = P(predicted class) * 100; the argmax class of a
      // binary model has probability > 0.5
      assert(r.getDouble(1) > 50.0 - 1e-6 && r.getDouble(1) <= 100.0,
        s"confidence ${r.getDouble(1)} out of range")
    }
    val unseen = predictOne(model,
      "NO-SUCH-PRIORITY", "O", "BUILDING", 6, 1996)
    assert(unseen.isEmpty, "unseen category must be skipped (empty prediction)")
  }

  test("correlation matrix is symmetric with unit diagonal") {
    val m = MLPipelines.correlationMatrix(feats)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    m.foreach { case ((i, j), v) =>
      assert(math.abs(v - m((j, i))) < 1e-9)
      if (i == j) assert(math.abs(v - 1.0) < 1e-9)
    }
  }

  test("pca variance report: descending ratios summing under one") {
    val rows = MLPipelines.pcaVarianceReport(
      graft.engine.Tables.embeddings(spark, sf)).collect()
    assert(rows.length == 4)
    val vs = rows.sortBy(_.getLong(0)).map(_.getDouble(1))
    assert(vs.zip(vs.tail).forall { case (a, b) => a >= b }, s"descending: ${vs.toSeq}")
    assert(vs.sum <= 1.0 + 1e-9 && vs.forall(_ >= 0))
  }

  test("param sweep reports the full grid and flags exactly the min-rmse candidate") {
    val rows = MLPipelines.sweepFor(Tables.orders(spark, sf), Tables.customer(spark, sf)).collect()
    assert(rows.length == 4, "2x2 grid")
    assert(rows.forall(r => r.getDouble(2) > 0 && !r.getDouble(2).isNaN))
    val best = rows.filter(_.getLong(3) == 1L)
    assert(best.length == 1, "exactly one winner")
    val minRmse = rows.map(_.getDouble(2)).min
    assert(best(0).getDouble(2) == minRmse, "winner carries the minimum validation rmse")
  }

  test("rewriting orders under the same directory refits: no stale shared fit") {
    val dir = Files.createTempDirectory("graft_ml_rewrite_")
    Seq("orders", "customer").foreach { t =>
      Files.copy(java.nio.file.Paths.get(s"$sf/$t.parquet"), dir.resolve(s"$t.parquet"))
    }
    val q51 = graft.queries.Catalog.specs.find(_.name == "q51_ml_regression").get
    def nRows(): Long = q51.run(spark, dir.toString).collect().head.getLong(1)
    assert(nRows() == feats.count())
    // a strict subset, swapped in for the same orders path
    val subset = Tables.orders(spark, sf).filter(col("o_orderkey") % 3 =!= 0)
    val want = MLPipelines.featureTable(subset, Tables.customer(spark, sf)).count()
    assert(want < feats.count(), "the rewrite must drop feature rows")
    val staged = dir.resolve("orders_subset").toString
    subset.coalesce(1).write.parquet(staged)
    val part = new java.io.File(staged).listFiles().find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, dir.resolve("orders.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    assert(nRows() == want, "q51 must fit the rewritten orders, not serve the old fit")
  }
}
