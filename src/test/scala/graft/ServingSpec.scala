package graft

import java.nio.file.Files
import java.util.concurrent.{Callable, ConcurrentHashMap, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.util.QueryExecutionListener

import graft.engine.{MLPipelines, RelationalOps, Tables}
import graft.serving.ServingFacade

/** The reference's serving composition (SURVEY §3.2-3.3): one
  * long-lived session, model preloaded from disk at construction,
  * dashboard + inference served from warm state. */
class ServingSpec extends SparkSpec {

  private lazy val modelDir: String = {
    val feats = MLPipelines.featureTable(
      Tables.orders(spark, sf), Tables.customer(spark, sf)).cache()
    val (model, _, _) = MLPipelines.classification(feats)
    val dir = Files.createTempDirectory("graft_serving_").toString + "/cls"
    MLPipelines.saveModel(model, dir)
    feats.unpersist()
    dir
  }

  private lazy val facade: ServingFacade = new ServingFacade(spark, sf, modelDir)

  /** (jobs, stages, tasks) that `body` runs on this thread, counted by
    * a listener over a job group of its own. The listener queue is
    * ordered, so once a marker job run afterwards has ended, every
    * event of `body` has been counted. */
  private def sparkWork(body: => Any): (Int, Int, Int) = {
    val sc = spark.sparkContext
    val group = s"serving_spec_${System.nanoTime()}"
    val (jobs, stages, tasks) = (new AtomicInteger, new AtomicInteger, new AtomicInteger)
    val ourStages = ConcurrentHashMap.newKeySet[Int]()
    val markerJob = new AtomicInteger(-1)
    val markerDone = new CountDownLatch(1)
    def groupOf(props: java.util.Properties): String =
      Option(props).map(_.getProperty("spark.jobGroup.id")).orNull
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (groupOf(e.properties) == group) jobs.incrementAndGet()
        else if (groupOf(e.properties) == s"${group}_marker") markerJob.set(e.jobId)
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (groupOf(e.properties) == group) {
          stages.incrementAndGet()
          ourStages.add(e.stageInfo.stageId)
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (ourStages.contains(e.stageId)) tasks.incrementAndGet()
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == markerJob.get) markerDone.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"${group}_marker", "listener flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(markerDone.await(60, TimeUnit.SECONDS), "listener queue did not drain")
      (jobs.get, stages.get, tasks.get)
    } finally sc.removeSparkListener(listener)
  }

  /** Query executions that `body` records — every Dataset action,
    * whether it runs a job or the optimizer folds it to local rows —
    * counted by a QueryExecutionListener. Listener events arrive in
    * order, so once a marker query run afterwards is seen, every
    * execution of `body` has been counted. */
  private def queryExecutions(body: => Any): Int = {
    val marker = s"serving_spec_marker_${System.nanoTime()}"
    val seen = new AtomicInteger
    val markerDone = new CountDownLatch(1)
    val listener = new QueryExecutionListener {
      private def record(qe: QueryExecution): Unit =
        if (qe.analyzed.output.exists(_.name == marker)) markerDone.countDown()
        else seen.incrementAndGet()
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    }
    spark.listenerManager.register(listener)
    try {
      body
      spark.range(1).toDF(marker).collect()
      assert(markerDone.await(60, TimeUnit.SECONDS), "listener queue did not drain")
      seen.get
    } finally spark.listenerManager.unregister(listener)
  }

  private type Input = (String, String, String, Int, Int)

  /** Every input the perfbench serving workload draws:
    * 5 priorities × F/O/P × 5 segments × months 1–12 × years 1995–2001. */
  private val domain: Seq[Input] = for {
    p <- Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    s <- Seq("F", "O", "P")
    g <- Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    m <- 1 to 12
    y <- 1995 to 2001
  } yield (p, s, g, m, y)

  private def classifyOne(in: Input): Option[(String, Double)] = facade.classify(in._1, in._2, in._3, in._4, in._5)

  /** [[ServingFacade.classifyBatch]] over `inputs` as one frame, answered
    * per input; a row the indexers skip is None. */
  private def batchAnswers(inputs: Seq[Input]): Seq[Option[(String, Double)]] = {
    val s = spark
    import s.implicits._
    val got = facade.classifyBatch(inputs.zipWithIndex.map { case ((p, st, g, m, y), i) =>
        (i.toLong, 0.0, m, y, p, st, g) }
      .toDF("o_orderkey", "o_totalprice", "o_month", "o_year", "o_orderpriority",
        "o_orderstatus", "c_mktsegment"))
      .collect().map(r => r.getLong(0).toInt -> ((r.getString(1), r.getDouble(2)))).toMap
    inputs.indices.map(got.get)
  }

  private def pieRows(rows: Array[org.apache.spark.sql.Row]) =
    rows.map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq
  private def lineRows(rows: Array[org.apache.spark.sql.Row]) =
    rows.map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq

  test("dashboard rollups are bounded and non-empty") {
    val pie = facade.dashboardPie()
    val line = facade.dashboardLine()
    assert(pie.nonEmpty && pie.length <= 30)
    assert(line.nonEmpty && line.length <= 12)
  }

  test("dashboard requests read the materialized aggregate, never the fact table") {
    // the per-request executed plan must scan ONLY the MV path — the
    // reference's serving architecture (app/ml_app.py:99-139) reads
    // pre-aggregated tables exclusively; a fact scan per request is
    // the ms-vs-minutes difference at 100 TB
    val plan = facade.dashboardPiePlan.queryExecution.executedPlan.toString
    assert(plan.contains("graft_serving_mv_"),
      s"per-request plan must read the serving MV:\n$plan")
    assert(!plan.contains("orders.parquet") && !plan.contains(sf),
      s"per-request plan must not scan the fact table:\n$plan")
  }

  test("MV-served dashboards return the same rows as the fact-derived q55/q56 forms") {
    val pieDirect = RelationalOps.dashSubAgencyRollup(Tables.orders(spark, sf))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq
    val pieMv = facade.dashboardPie()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(pieMv == pieDirect)
    val lineDirect = RelationalOps.dashMonthRollup(Tables.orders(spark, sf))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    val lineMv = facade.dashboardLine()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(lineMv == lineDirect)
  }

  test("single-row classify returns label + confidence from the preloaded model") {
    val known = facade.classify("1-URGENT", "O", "BUILDING", 6, 1996)
    assert(known.isDefined)
    val (label, conf) = known.get
    assert(Set("HIGH", "LOW").contains(label))
    assert(conf > 50.0 - 1e-6 && conf <= 100.0)
  }

  test("unseen category returns None (handleInvalid=skip serving branch)") {
    assert(facade.classify("NO-SUCH-PRIORITY", "O", "BUILDING", 6, 1996).isEmpty)
  }

  test("classify equals classifyBatch exactly on every input perfbench draws and on the edges") {
    val skipped: Seq[Input] = Seq(
      ("NO-SUCH-PRIORITY", "O", "BUILDING", 6, 1996), (null, "O", "BUILDING", 6, 1996),
      ("1-URGENT", "X", "BUILDING", 6, 1996), ("1-URGENT", null, "BUILDING", 6, 1996),
      ("1-URGENT", "O", "NO-SUCH-SEGMENT", 6, 1996), ("1-URGENT", "O", null, 6, 1996))
    // month 0 and year 0 take the assembler's zero-skip branch; 1980
    // and 2030 lie outside the training years
    val edges: Seq[Input] = Seq(
      ("1-URGENT", "O", "BUILDING", 0, 1996), ("1-URGENT", "O", "BUILDING", 6, 0),
      ("2-HIGH", "F", "MACHINERY", 0, 0), ("3-MEDIUM", "P", "HOUSEHOLD", 12, 2030),
      ("5-LOW", "F", "AUTOMOBILE", 1, 1980))
    val inputs = domain ++ skipped ++ edges
    assert(domain.size == 6300)
    val want = batchAnswers(inputs)
    assert(want.take(domain.size).forall(_.isDefined), "every domain input has known categories")
    assert(want.slice(domain.size, domain.size + skipped.size).forall(_.isEmpty),
      "an unseen or null category is skipped by the transform path")
    assert(want.takeRight(edges.size).forall(_.isDefined))
    val bad = inputs.indices.filter(i => classifyOne(inputs(i)) != want(i))
    assert(bad.isEmpty, s"${bad.size} inputs differ, e.g. " +
      bad.take(3).map(i => s"${inputs(i)}: ${classifyOne(inputs(i))} vs ${want(i)}").mkString("; "))
  }

  test("classify plans no query; the listener does see a transform-path request") {
    classifyOne(domain.head) // construction done
    assert(queryExecutions(domain.take(50).foreach(classifyOne)) == 0,
      "a single-row classify must not plan or execute a Dataset")
    assert(queryExecutions(classifyOne(("NO-SUCH-PRIORITY", "O", "BUILDING", 6, 1996))) == 0)
    assert(queryExecutions(batchAnswers(domain.take(1))) >= 1,
      "the listener must record the transform path, or the zero above proves nothing")
  }

  test("classify from 3 threads × 200 calls answers as one thread does") {
    val r = new scala.util.Random(7)
    val calls = Seq.fill(200)(domain(r.nextInt(domain.size)))
    val want = calls.map(classifyOne)
    val pool = Executors.newFixedThreadPool(3)
    val start = new CountDownLatch(1)
    try {
      val answers = (0 until 3).map(_ => pool.submit(new Callable[Seq[Option[(String, Double)]]] {
        def call(): Seq[Option[(String, Double)]] = { start.await(); calls.map(classifyOne) }
      }))
      start.countDown()
      answers.foreach(a => assert(a.get(60, TimeUnit.SECONDS) == want))
    } finally pool.shutdownNow()
  }

  test("a facade over a model that is not a binary classifier fails at construction, naming the stage") {
    val (model, _) = MLPipelines.regression(
      MLPipelines.featureTable(Tables.orders(spark, sf), Tables.customer(spark, sf)))
    val dir = Files.createTempDirectory("graft_serving_reg_").toString + "/reg"
    MLPipelines.saveModel(model, dir)
    val e = intercept[IllegalArgumentException](new ServingFacade(spark, sf, dir))
    assert(e.getMessage.contains(model.stages.last.uid) &&
      e.getMessage.contains("LinearRegressionModel"), e.getMessage)
  }

  test("each dashboard call is one single-stage, single-task job; classify runs none") {
    facade.dashboardPie(); facade.dashboardLine() // construction done, paths warm
    (0 until 2).foreach { _ =>
      assert(sparkWork(facade.dashboardPie()) == ((1, 1, 1)),
        "a pie request plans one job over the one cached MV partition")
      assert(sparkWork(facade.dashboardLine()) == ((1, 1, 1)),
        "a line request plans one job over the one cached MV partition")
      assert(sparkWork(facade.classify("1-URGENT", "O", "BUILDING", 6, 1996))._1 == 0,
        "single-row classify runs on the driver")
    }
  }

  test("a facade built after its orders are rewritten serves the new rows: no stale cached MV") {
    val dir = Files.createTempDirectory("graft_serving_rewrite_")
    Seq("orders", "customer").foreach { t =>
      Files.copy(java.nio.file.Paths.get(s"$sf/$t.parquet"), dir.resolve(s"$t.parquet"))
    }
    val a = new ServingFacade(spark, dir.toString, modelDir)
    // a strict subset, swapped in for the same orders path
    val subset = Tables.orders(spark, sf).filter(col("o_orderkey") % 3 =!= 0)
    val staged = dir.resolve("orders_subset").toString
    subset.coalesce(1).write.parquet(staged)
    val part = new java.io.File(staged).listFiles().find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, dir.resolve("orders.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val b = new ServingFacade(spark, dir.toString, modelDir)
    val rewritten = Tables.orders(spark, dir.toString)
    assert(rewritten.count() < Tables.orders(spark, sf).count(), "the rewrite must drop orders")
    val (pieNew, lineNew) = (pieRows(RelationalOps.dashSubAgencyRollup(rewritten).collect()),
      lineRows(RelationalOps.dashMonthRollup(rewritten).collect()))
    val (pieOld, lineOld) = (pieRows(RelationalOps.dashSubAgencyRollup(Tables.orders(spark, sf)).collect()),
      lineRows(RelationalOps.dashMonthRollup(Tables.orders(spark, sf)).collect()))
    assert(pieNew != pieOld, "the rewrite must change the dashboards")
    assert(pieRows(b.dashboardPie()) == pieNew, "B must serve the rewritten orders")
    assert(lineRows(b.dashboardLine()) == lineNew, "B must serve the rewritten orders")
    assert(pieRows(a.dashboardPie()) == pieOld, "A must keep serving the orders it was built over")
    assert(lineRows(a.dashboardLine()) == lineOld, "A must keep serving the orders it was built over")
  }

  test("after an outside clearCache the dashboards read the MV files: same rows, still one job") {
    val (pie, line) = (pieRows(facade.dashboardPie()), lineRows(facade.dashboardLine()))
    spark.catalog.clearCache()
    // the evicted frame keeps its listed files and resolved schema, so
    // a request neither lists nor infers: one file-read job
    assert(sparkWork(facade.dashboardPie())._1 == 1)
    assert(pieRows(facade.dashboardPie()) == pie)
    assert(lineRows(facade.dashboardLine()) == line)
  }
}
