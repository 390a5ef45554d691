package graft.engine

import scala.reflect.ClassTag

import org.apache.spark.ml.{Pipeline, PipelineModel, PipelineStage, Transformer}
import org.apache.spark.ml.classification.{LogisticRegression, LogisticRegressionModel}
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.evaluation.{BinaryClassificationEvaluator, RegressionEvaluator}
import org.apache.spark.ml.feature.{OneHotEncoder, OneHotEncoderModel, StringIndexer,
  StringIndexerModel, VectorAssembler}
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.ml.regression.LinearRegression
import org.apache.spark.ml.stat.Correlation
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Literal, Round}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** ML pipeline surface (SURVEY §2.10, M1-M9) — the reference's entire
  * extensibility layer re-expressed in Scala spark.ml.
  *
  * Reference semantics preserved exactly:
  *  - StringIndexer handleInvalid="skip" (app/machine_learning_models.py:220)
  *    silently drops rows with unseen categories at inference — the
  *    empty-prediction branch the serving layer checks (app/ml_app.py:212);
  *  - categorical columns with <2 distinct values are gated out before
  *    indexing (app/machine_learning_models.py:159-167) — here as ONE
  *    multi-countDistinct aggregate instead of the reference's serial
  *    per-column distinct().count() jobs;
  *  - classification label = amount > approx-median (:237-242);
  *  - seeds pinned (randomSplit 42, KMeans 42) for reproducibility.
  *
  * Deliberate divergence (SURVEY §4.3 — reference inefficiencies we do
  * not reproduce): the reference re-fits its StringIndexers once for
  * the correlation path and again inside every pipeline; here the
  * indexer + one-hot stages are fit ONCE over the feature table
  * ([[fitEncoders]]) and the fitted transformers are shared across the
  * correlation/regression/classification/clustering pipelines.
  */
object MLPipelines {

  /** Feature table: orders ⋈ customer (the awards-fact analog, SURVEY
    * §7.2) with derived month/year and the reference's preprocessing —
    * dropna on required cols + positive-amount filter
    * (app/machine_learning_models.py:145-149). */
  def featureTable(orders: DataFrame, customer: DataFrame): DataFrame =
    orders.join(customer, orders("o_custkey") === customer("c_custkey"))
      .na.drop(Seq("o_totalprice", "o_orderdate", "o_orderpriority", "o_orderstatus", "c_mktsegment"))
      .filter(col("o_totalprice") > 0)
      .withColumn("o_month", month(col("o_orderdate")))
      .withColumn("o_year", year(col("o_orderdate")))
      .select(col("o_orderkey"), col("o_totalprice"), col("o_month"), col("o_year"),
              col("o_orderpriority"), col("o_orderstatus"), col("c_mktsegment"))

  val CategoricalCols: Seq[String] = Seq("o_orderpriority", "o_orderstatus", "c_mktsegment")
  val NumericCols: Seq[String] = Seq("o_month", "o_year")

  /** The reference's distinct-count gate (A5): keep categoricals with
    * at least 2 distinct values. One agg(countDistinct...) pass — a
    * single job regardless of column count. */
  def usableCategoricals(df: DataFrame, cols: Seq[String] = CategoricalCols): Seq[String] =
    if (cols.isEmpty) Seq.empty
    else {
      val row = df.agg(
        countDistinct(col(cols.head)).as(cols.head),
        cols.tail.map(c => countDistinct(col(c)).as(c)): _*).head()
      cols.filter(c => row.getAs[Long](c) >= 2)
    }

  /** Fitted, shareable encoding stages: StringIndexerModels (skip
    * semantics) + OneHotEncoderModel, fit once over the feature table. */
  final case class FittedEncoders(cats: Seq[String], stages: Array[PipelineStage],
                                  vecCols: Array[String])

  def fitEncoders(features: DataFrame, cats0: Seq[String] = null): FittedEncoders = {
    val cats = Option(cats0).getOrElse(usableCategoricals(features))
    val indexers = cats.map(c =>
      new StringIndexer().setInputCol(c).setOutputCol(s"${c}_idx").setHandleInvalid("skip"))
    val encoder = new OneHotEncoder()
      .setInputCols(cats.map(c => s"${c}_idx").toArray)
      .setOutputCols(cats.map(c => s"${c}_vec").toArray)
    val fitted = new Pipeline().setStages((indexers :+ encoder).toArray).fit(features)
    FittedEncoders(cats, fitted.stages.map(s => s: PipelineStage),
                   cats.map(c => s"${c}_vec").toArray)
  }

  /** Pearson correlation matrix over assembled numeric + indexed
    * categorical features (M1/M3/A8 — app/machine_learning_models.py:170-191).
    * Returns (feature_i, feature_j, corr) rows — the engine emits the
    * matrix as a DataFrame; rendering is out of scope (SURVEY S10). */
  def correlationMatrix(features: DataFrame, enc0: FittedEncoders = null): DataFrame = {
    val enc = Option(enc0).getOrElse(fitEncoders(features))
    val cols = NumericCols ++ Seq("o_totalprice") ++ enc.cats.map(c => s"${c}_idx")
    val assembler = new VectorAssembler().setInputCols(cols.toArray).setOutputCol("corr_features")
    val assembled = new Pipeline().setStages(enc.stages :+ (assembler: PipelineStage))
      .fit(features).transform(features)
    val m = Correlation.corr(assembled, "corr_features", "pearson")
      .head().getAs[org.apache.spark.ml.linalg.Matrix](0)
    val spark = features.sparkSession
    import spark.implicits._
    val rows = for {
      i <- 0 until m.numRows
      j <- 0 until m.numCols
    } yield (cols(i), cols(j), math.rint(m(i, j) * 1e6) / 1e6)
    rows.toDF("feature_i", "feature_j", "corr")
      .orderBy(col("feature_i"), col("feature_j"))
  }

  /** M1-M4: regression pipeline (indexers → one-hot → assembler → LR),
    * label = o_totalprice. Returns (model, rmse-on-test). */
  def regression(features: DataFrame, enc0: FittedEncoders = null): (PipelineModel, Double) = {
    val enc = Option(enc0).getOrElse(fitEncoders(features))
    val assembler = new VectorAssembler()
      .setInputCols(enc.vecCols ++ NumericCols).setOutputCol("features")
    val lr = new LinearRegression().setFeaturesCol("features").setLabelCol("o_totalprice")
    val pipeline = new Pipeline().setStages(enc.stages ++ Array[PipelineStage](assembler, lr))
    val Array(train, test) = features.randomSplit(Array(0.8, 0.2), seed = 42)
    val model = pipeline.fit(train)
    val rmse = new RegressionEvaluator()
      .setLabelCol("o_totalprice").setPredictionCol("prediction").setMetricName("rmse")
      .evaluate(model.transform(test))
    (model, rmse)
  }

  /** Hyperparameter sweep — the TrainValidationSplit shape made
    * auditable: a FIXED (regParam × elasticNetParam) grid fit on the
    * seeded 80/20 split, each candidate scored by validation RMSE,
    * emitted as one report row per candidate with the winner flagged
    * (deterministic tie-break: rmse, then the params). The grid loop
    * lives on the driver but each fit/evaluate is a distributed job —
    * exactly how TrainValidationSplit schedules it, with the per-
    * candidate metrics kept instead of discarded (the report IS the
    * point: a training pipeline logs the sweep, not just the winner).
    * Seeded ⇒ rows-only + MLSpec (winner minimality, determinism). */
  def paramSweep(features: DataFrame, enc0: FittedEncoders = null): DataFrame = {
    val spark = features.sparkSession
    import spark.implicits._
    val enc = Option(enc0).getOrElse(fitEncoders(features))
    val assembler = new VectorAssembler()
      .setInputCols(enc.vecCols ++ NumericCols).setOutputCol("features")
    val Array(train, valid) = features.randomSplit(Array(0.8, 0.2), seed = 42)
    val eval = new RegressionEvaluator()
      .setLabelCol("o_totalprice").setPredictionCol("prediction").setMetricName("rmse")
    val grid = for { rp <- Seq(0.0, 0.5); en <- Seq(0.0, 0.5) } yield (rp, en)
    val scored = grid.map { case (rp, en) =>
      val lr = new LinearRegression()
        .setFeaturesCol("features").setLabelCol("o_totalprice")
        .setRegParam(rp).setElasticNetParam(en)
      val model = new Pipeline()
        .setStages(enc.stages ++ Array[PipelineStage](assembler, lr)).fit(train)
      (rp, en, eval.evaluate(model.transform(valid)))
    }
    val best = scored.minBy { case (rp, en, rmse) => (rmse, rp, en) }
    scored.toDF("reg_param", "elastic_net", "rmse")
      .withColumn("is_best",
        (col("reg_param") === best._1 && col("elastic_net") === best._2).cast("long"))
      .orderBy(col("reg_param"), col("elastic_net"))
  }

  /** M5: binary classification — label from the approx-median split
    * (relErr 0.001), LogisticRegression maxIter=20.
    * Returns (model, threshold, auc). */
  def classification(features: DataFrame, enc0: FittedEncoders = null): (PipelineModel, Double, Double) = {
    val enc = Option(enc0).getOrElse(fitEncoders(features))
    val Array(median) = features.stat.approxQuantile("o_totalprice", Array(0.5), 0.001)
    val labeled = features.withColumn("label",
      when(col("o_totalprice") > lit(median), 1.0).otherwise(0.0))
    val assembler = new VectorAssembler()
      .setInputCols(enc.vecCols ++ NumericCols).setOutputCol("features")
    val logreg = new LogisticRegression().setMaxIter(20)
      .setFeaturesCol("features").setLabelCol("label")
    val pipeline = new Pipeline().setStages(enc.stages ++ Array[PipelineStage](assembler, logreg))
    val Array(train, test) = labeled.randomSplit(Array(0.8, 0.2), seed = 42)
    val model = pipeline.fit(train)
    val auc = new BinaryClassificationEvaluator()
      .setLabelCol("label").setRawPredictionCol("rawPrediction")
      .setMetricName("areaUnderROC")
      .evaluate(model.transform(test))
    (model, median, auc)
  }

  /** M6: KMeans k=5 seed=42 over one-hot + numeric + amount features
    * (app/machine_learning_models.py:251-258). */
  def clustering(features: DataFrame, k: Int = 5, enc0: FittedEncoders = null): PipelineModel = {
    val enc = Option(enc0).getOrElse(fitEncoders(features))
    val assembler = new VectorAssembler()
      .setInputCols(enc.vecCols ++ NumericCols :+ "o_totalprice")
      .setOutputCol("features")
    val km = new KMeans().setK(k).setSeed(42).setFeaturesCol("features")
    new Pipeline().setStages(enc.stages ++ Array[PipelineStage](assembler, km)).fit(features)
  }

  /** The shared feature table of (orders, customer), persisted, and
    * its fitted encoder stages — what every ML catalog query (q50-q53,
    * q57, q65, q177) consumes. Round 1 built, cached and unpersisted
    * the table per query: four build/cache cycles plus 15 serial
    * distinct-count jobs per bench run. Here the table is built and
    * the stages are fitted once per input version (a deliberate shared
    * materialization: the fits iterate it), and the table re-persists
    * if an external clearCache() evicted it. Every value below is an
    * [[Artifacts.memo]] keyed by the inputs' identity, so rewriting
    * `orders` lands on new keys instead of serving the old fit; query
    * evaluation order is not assumed (Verify iterates an unordered
    * Map), so each builds whatever it is missing on first touch. */
  def featuresFor(orders: DataFrame, customer: DataFrame): (DataFrame, FittedEncoders) = {
    val f = memoFor("ml_features", orders, customer) {
      // Spark's cache matches a plan by its paths, not the files' contents:
      // drop a table cached before the files were rewritten
      featureTable(orders, customer).unpersist().persist()
    }
    if (f.storageLevel == StorageLevel.NONE) f.persist()
    (f, memoFor("ml_encoders", orders, customer)(fitEncoders(f)))
  }

  /** The shared [[classification]] fit: (model, median threshold,
    * auc). The inference queries (q57, q65) reuse q52's fit instead of
    * re-training. */
  def classificationFor(orders: DataFrame, customer: DataFrame): (PipelineModel, Double, Double) =
    memoFor("ml_classification", orders, customer) {
      val (f, enc) = featuresFor(orders, customer)
      classification(f, enc)
    }

  /** The shared [[regression]] fit: (model, rmse). A seeded fit over
    * the shared feature table is deterministic, so refitting per query
    * run is pure waste. */
  def regressionFor(orders: DataFrame, customer: DataFrame): (PipelineModel, Double) =
    memoFor("ml_regression", orders, customer) {
      val (f, enc) = featuresFor(orders, customer)
      regression(f, enc)
    }

  /** The shared [[clustering]] fit (k=5, seed=42). */
  def clusteringFor(orders: DataFrame, customer: DataFrame): PipelineModel =
    memoFor("ml_clustering", orders, customer) {
      val (f, enc) = featuresFor(orders, customer)
      clustering(f, enc0 = enc)
    }

  /** The shared [[paramSweep]] report. Its 4 seeded fits are far too
    * expensive to redo per query call; the report itself is a 4-row
    * grid, so the memo keeps the VALUES and rebuilds the tiny frame
    * per call. */
  def sweepFor(orders: DataFrame, customer: DataFrame): DataFrame = {
    val data = memoFor("ml_sweep", orders, customer) {
      val (f, enc) = featuresFor(orders, customer)
      paramSweep(f, enc).collect() // 4-row grid report
        .map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getLong(3))).toSeq
    }
    val spark = orders.sparkSession
    import spark.implicits._
    data.toDF("reg_param", "elastic_net", "rmse", "is_best")
      .orderBy("reg_param", "elastic_net")
  }

  /** An in-session ML value over (orders, customer), keyed by `fit`
    * and the inputs' identity. */
  private def memoFor[T](fit: String, orders: DataFrame, customer: DataFrame)(value: => T): T =
    Artifacts.memo(Artifacts.nameFor(fit, Nil, Seq(orders, customer)))(value)

  /** PCA over the embedding table — the dimensionality probe an
    * embedding pipeline runs before ANN indexing or whitening: fit
    * k principal components over the corpus vectors and report each
    * component's explained-variance ratio (how much of the space the
    * head directions carry — the number that justifies an IVF/OPQ
    * dimension budget). Deterministic up to eigensolver convergence,
    * but not SQL-expressible ⇒ rows-only + MLSpec (ratios descend,
    * sum ≤ 1). Fit is covariance-matrix-sized (dim², distributed
    * Gram accumulation) — corpus size only affects the one pass. */
  def pcaVarianceReport(embeddings: DataFrame, k: Int = 4): DataFrame = {
    import org.apache.spark.ml.feature.PCA
    import org.apache.spark.ml.functions.array_to_vector
    val spark = embeddings.sparkSession
    import spark.implicits._
    val vecs = embeddings.select(
      array_to_vector(col("embedding").cast("array<double>")).as("features"))
    val model = new PCA().setInputCol("features").setOutputCol("pca").setK(k).fit(vecs)
    model.explainedVariance.toArray.toSeq.zipWithIndex
      .map { case (v, i) => (i.toLong, math.rint(v * 1e9) / 1e9) }
      .toDF("component", "explained_variance")
      .orderBy(col("component"))
  }

  /** S9: engine-level model persistence. The reference trains offline
    * and loads saved PipelineModels at serving startup
    * (app/ml_app.py:68-74); artifact layout is Spark ML's native one —
    * `<path>/metadata/part-00000` (JSON with the stageUids list, as in
    * the reference's outputs/pipeline_regression/metadata/part-00000)
    * plus one `<path>/stages/<i>_<uid>/` dir per fitted stage.
    * Round-trip equality is asserted in MLSpec; the serving-path
    * save→load→infer composition is catalog-visible as q65. */
  def saveModel(model: PipelineModel, path: String): Unit =
    model.write.overwrite().save(path)

  def loadModel(path: String): PipelineModel = PipelineModel.load(path)

  /** Classification inference with probability extraction — the
    * reference's serving-path label + confidence (app/ml_app.py:282-287:
    * label = HIGH iff prediction==1, confidence = probability[label]·100,
    * rounded to 2 decimals). `probability` is a VectorUDT; element
    * extraction goes through ml.functions.vector_to_array (1-based
    * element_at). */
  def withConfidence(predictions: DataFrame): DataFrame =
    predictions
      .withColumn("pred_label",
        when(col("prediction") === 1.0, lit("HIGH")).otherwise(lit("LOW")))
      .withColumn("confidence",
        round(element_at(vector_to_array(col("probability")),
                         col("prediction").cast("int") + 1) * 100, 2))

  private val ScorerShape =
    "StringIndexerModel…, OneHotEncoderModel, VectorAssembler, binary LogisticRegressionModel"

  /** [[withConfidence]] over a fitted [[classification]] pipeline for
    * one request, as a driver-local function: the serving path's
    * single-row classify (app/ml_app.py:262-298) with no Dataset, so
    * no analysis, no optimization and no collect per call. It is built
    * once from the fitted stages' own public state:
    *  - each StringIndexerModel's labels, as a label → index map: an
    *    unseen or null value gives None, as handleInvalid=skip drops
    *    the row;
    *  - the OneHotEncoderModel's category sizes and dropLast: an index
    *    at or past the block width is an empty block;
    *  - the VectorAssembler's input order: numerics as doubles, zeros
    *    skipped, then `Vectors.sparse(…).compressed`, exactly as the
    *    assembler builds the vector, so the model's dot product takes
    *    the same sparse or dense path;
    *  - the LogisticRegressionModel's own `predictRaw` and
    *    `predictProbability`. The prediction is `raw(1) > log(t/(1-t))`,
    *    as its `raw2prediction` computes it; the confidence is rounded
    *    by Spark's own `Round` expression evaluated on a literal.
    *
    * The answers equal `withConfidence(model.transform(…))` exactly
    * (ServingSpec checks every input perfbench draws). A model of any
    * other shape is rejected here, naming the stage, not at its first
    * request. The arguments are [[CategoricalCols]] ++ [[NumericCols]]
    * in order; the function keeps no mutable state, so any number of
    * threads may call it. */
  def localScorer(model: PipelineModel): (String, String, String, Int, Int) => Option[(String, Double)] = {
    def reject(stage: Transformer, why: String): Nothing = throw new IllegalArgumentException(
      s"classifier stage ${stage.uid} (${stage.getClass.getSimpleName}) $why; a local scorer takes $ScorerShape")
    def as[T <: Transformer](stage: Transformer)(implicit t: ClassTag[T]): T = stage match {
      case m: T => m
      case _ => reject(stage, s"is not a ${t.runtimeClass.getSimpleName}")
    }
    val stages = model.stages
    if (stages.length < 4)
      throw new IllegalArgumentException(s"classifier has ${stages.length} stages; a local scorer takes $ScorerShape")
    val indexers = stages.dropRight(3).map(as[StringIndexerModel](_))
    val encoder = as[OneHotEncoderModel](stages(stages.length - 3))
    val assembler = as[VectorAssembler](stages(stages.length - 2))
    val logreg = as[LogisticRegressionModel](stages.last)

    // every indexer, as [[fitEncoders]] builds it (one column each):
    // (argument position, indexed column, label → index)
    val indexed = indexers.map { m =>
      if (m.getHandleInvalid != "skip") reject(m, s"handles unseen values by ${m.getHandleInvalid}, not skip")
      val pos = CategoricalCols.indexOf(m.getInputCol)
      if (pos < 0) reject(m, s"indexes ${m.getInputCol}, which is not a request category")
      (pos, m.getOutputCol, m.labelsArray.head.zipWithIndex.toMap)
    }
    // every one-hot column: (its slot in `indexed`, block width)
    val keep = encoder.getHandleInvalid == "keep"
    val dropLast = encoder.getDropLast
    val encoded = encoder.getInputCols.zip(encoder.getOutputCols)
    val oneHot: Map[String, (Int, Int)] = encoded.zip(encoder.categorySizes).map { case ((in, out), size) =>
      val slot = indexed.indexWhere(_._2 == in)
      if (slot < 0) reject(encoder, s"encodes $in, which no StringIndexerModel writes")
      if (size != indexed(slot)._3.size)
        reject(encoder, s"has $size categories for $in, its indexer ${indexed(slot)._3.size}")
      out -> (slot, if (dropLast && !keep) size - 1 else if (keep && !dropLast) size + 1 else size)
    }.toMap
    // every assembler input in order: Left(numeric argument position) or Right(one-hot column)
    val parts: Array[Either[Int, (Int, Int)]] = assembler.getInputCols.map { c =>
      oneHot.get(c) match {
        case Some(block) => Right(block)
        case None =>
          val pos = NumericCols.indexOf(c)
          if (pos < 0) reject(assembler, s"assembles $c, which is neither one-hot nor a request numeric")
          Left(pos)
      }
    }
    if (assembler.getOutputCol != logreg.getFeaturesCol)
      reject(assembler, s"writes ${assembler.getOutputCol}, but the model reads ${logreg.getFeaturesCol}")
    if (logreg.numClasses != 2 || logreg.coefficientMatrix.numRows != 1) reject(logreg, "is not binomial")
    if (logreg.getRawPredictionCol.isEmpty || logreg.getProbabilityCol != "probability" ||
        logreg.getPredictionCol != "prediction")
      reject(logreg, "does not write the rawPrediction, probability and prediction columns")
    val t = logreg.getThreshold
    val rawThreshold =
      if (t == 0.0) Double.NegativeInfinity else if (t == 1.0) Double.PositiveInfinity else math.log(t / (1.0 - t))

    (priority, status, segment, month, year) => {
      val cats = Array(priority, status, segment)
      val idx = indexed.map { case (pos, _, labels) => labels.getOrElse(cats(pos), -1) }
      if (idx.contains(-1)) None
      else {
        val nums = Array(month.toDouble, year.toDouble)
        val (ids, vals) = (Array.newBuilder[Int], Array.newBuilder[Double])
        var offset = 0
        parts.foreach {
          case Left(pos) =>
            if (nums(pos) != 0.0) { ids += offset; vals += nums(pos) }
            offset += 1
          case Right((slot, width)) =>
            if (idx(slot) < width) { ids += offset + idx(slot); vals += 1.0 }
            offset += width
        }
        val features = Vectors.sparse(offset, ids.result(), vals.result()).compressed
        val prediction = if (logreg.predictRaw(features)(1) > rawThreshold) 1 else 0
        val confidence = logreg.predictProbability(features)(prediction) * 100
        Some((if (prediction == 1) "HIGH" else "LOW",
              Round(Literal(confidence), Literal(2)).eval().asInstanceOf[Double]))
      }
    }
  }
}
