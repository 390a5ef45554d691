package graft

import java.nio.file.Files
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.functions.col

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
