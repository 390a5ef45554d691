package perfbench

import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.util.Random

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col

import graft.engine.{IngestOps, RelationalOps, Tables}
import graft.serving.ServingFacade

/** The reference's Flask-plus-ETL shape: dashboard and classify calls
  * against one long-lived [[ServingFacade]], while ingest pages land
  * beside them back to back on one ingest thread. Each ingest tick
  * stages a page of orders through `IngestOps.stagePages` and folds it
  * into the materialized view with `IngestOps.runMvMaintain`, whose
  * micro-batches write through `WriteOps.refreshPartitions`. The write
  * load is continuous, so every request competes with it alike.
  *
  * After set-up and a cold pass, two phases run, each with the ingest
  * thread beside it:
  *  - a closed loop of [[SaturationSeconds]]: [[Workers]] client
  *    threads each issue their next request as soon as the last one
  *    returns. Requests that end in its first [[RampSeconds]] warm the
  *    paths up; the rest give the capacity (`ops_per_s`);
  *  - the measured window of `--seconds`: an open loop (independent
  *    users) at the fixed [[Rate]], whatever the state of earlier
  *    requests. Each request's latency counts from when it was due, so
  *    a stall also charges the requests queued behind it (`latency_ms`,
  *    their mean).
  *
  * Last, with the traffic stopped, [[StreamTicks]] ticks of the
  * [[StreamReplay]] run back to back through the stateful `StreamOps`
  * sinks; the first is their cold tick, the rest are measured. */
object Serving {
  /** Requests per second offered in the window: about half the
    * closed-loop capacity measured on a 4-vCPU VM (perfbench/README.md),
    * so queues stay short on a healthy run and a slowdown shows as
    * latency before it saturates the loop. */
  val Rate = 4.0
  val Workers = 3
  val PageRows = 200
  val SaturationSeconds = 6
  val RampSeconds = 1
  val StreamTicks = 2
  private val Mix = Seq("pie" -> 0.35, "line" -> 0.35, "classify" -> 0.30)
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  final case class Req(due: Long, kind: String, args: (String, String, String, Int, Int))
  final case class Done(req: Req, start: Long, end: Long, late: Long, answer: Either[String, Any])
  /** One ingest tick: when it started (ms into the phase) and its wall
    * time (ms). */
  final case class Tick(atMs: Double, ms: Double)
  final case class Phase(done: Seq[Done], scheduled: Int, ticks: Seq[Tick], tickErrors: Int,
                         t0: Long, sec: Double)

  /** The open-loop schedule: `rate × seconds` requests due at a fixed
    * spacing, as offsets in nanoseconds from the start of the phase.
    * The seed shuffles which kind each slot carries (the mix itself is
    * exact) and draws the classify inputs, so every run has the same
    * offered load and the same number of latency samples. */
  def schedule(seed: Long, seconds: Int, rate: Double): Seq[Req] = {
    val r = new Random(seed)
    val n = math.round(rate * seconds).toInt
    val counts = Mix.map { case (k, p) => k -> math.round(p * n).toInt }
    val kinds = r.shuffle(counts.flatMap { case (k, c) => Seq.fill(c)(k) }
      .padTo(n, Mix.head._1).take(n))
    kinds.zipWithIndex.map { case (kind, i) =>
      Req(((i + 1) * 1e9 / rate).toLong, kind, (Priorities(r.nextInt(5)),
        Seq("F", "O", "P")(r.nextInt(3)), Segments(r.nextInt(5)), 1 + r.nextInt(12),
        1995 + r.nextInt(7)))
    }
  }

  /** The closed loop's requests: 5 s blocks of [[schedule]] at [[Rate]]
    * (20 requests each, the mix exact in every block), one after another,
    * so any stretch of the loop carries nearly the same mix whatever the
    * seed. */
  def closedLoop(seed: Long, blocks: Int): Seq[Req] =
    (0 until blocks).flatMap(b => schedule(seed * 1000 + b, 5, Rate))

  /** Latency of a request counted from when it was due, in ms. */
  def latencyMs(d: Done): Double = (d.end - d.req.due) / 1e6

  /** The seeded ingest page for tick `k`: fresh order keys, so every
    * page adds rows to the materialized view. */
  def page(seed: Long, k: Int): Seq[IngestOps.OrderRec] = {
    val r = new Random(seed * 1000003L + k)
    (0 until PageRows).map(i => IngestOps.OrderRec(50000000L + k * PageRows + i,
      1 + r.nextInt(15000).toLong, Priorities(r.nextInt(5)),
      math.rint((1000 + r.nextDouble() * 499000) * 100) / 100))
  }

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val orders = Tables.orders(spark, ctx.dataDir)
    // set-up, three times: construct the facade (load of the classifier
    // trained offline, plus the startup MV build), as a serving process
    // does when it starts
    var facade: ServingFacade = null
    val setups = (0 until 3).map { _ =>
      Layers.tag(ctx.sc, "setup") {
        val t0 = System.nanoTime()
        facade = new ServingFacade(spark, ctx.dataDir, ctx.modelDir)
        (System.nanoTime() - t0) / 1e9
      }
    }
    val startupSec = Main.sinceStart()
    val streamPrepT0 = System.nanoTime()
    val stream = Layers.tag(ctx.sc, "setup")(
      new StreamReplay(spark, ctx.dataDir, s"${ctx.tmpDir}/graft_bench_stream", ctx.seed))
    val streamPrepSec = (System.nanoTime() - streamPrepT0) / 1e9
    val staging = s"${ctx.tmpDir}/graft_bench_ingest/staging"
    val mvPath = s"${ctx.tmpDir}/graft_bench_ingest/mv"
    val ckpt = s"${ctx.tmpDir}/graft_bench_ingest/checkpoint"
    val landed = collection.mutable.ArrayBuffer.empty[IngestOps.OrderRec]
    var nextTick = 0
    def ingestTick(tag: String, phaseT0: Long): Tick = {
      val at = (System.nanoTime() - phaseT0) / 1e6
      val t0 = System.nanoTime()
      landed ++= page(ctx.seed, nextTick)
      nextTick += 1
      Layers.tag(ctx.sc, tag) {
        IngestOps.stagePages(new IngestOps.FixtureSource(landed.toIndexedSeq, PageRows, failPage = -1),
          staging)
        IngestOps.runMvMaintain(spark, staging, mvPath, ckpt)
      }
      Tick(at, (System.nanoTime() - t0) / 1e6)
    }
    def call(req: Req): Any = req.kind match {
      case "pie" => facade.dashboardPie().map(_.toString).toSeq
      case "line" => facade.dashboardLine().map(_.toString).toSeq
      case _ =>
        val (p, s, g, m, y) = req.args
        facade.classify(p, s, g, m, y)
    }
    def attempt(req: Req, tag: String): Either[String, Any] =
      try Right(Layers.tag(ctx.sc, tag)(call(req))) catch { case e: Throwable => Left(e.toString) }

    // cold pass: the first request of each kind and the first ingest
    // tick, one after another, straight after set-up
    val sched = schedule(ctx.seed, ctx.seconds, Rate)
    val coldT0 = System.nanoTime()
    val coldReqs = Seq("pie", "line", "classify").map(k => sched.find(_.kind == k).get.copy(due = 0L))
    val coldDone = coldReqs.map { q =>
      val t = System.nanoTime()
      val a = attempt(q, "cold")
      Done(q, t, System.nanoTime(), 0L, a)
    }
    val coldTick = try Some(ingestTick("cold", coldT0)) catch { case _: Throwable => None }
    val coldSec = (System.nanoTime() - coldT0) / 1e9

    /** One phase of traffic with the ingest thread beside it: the open
      * loop `open` if given, else a closed loop over `closed` for
      * `seconds`. In the measured window requests are tagged `req|kind`
      * and ingest ticks `ingest`; elsewhere everything carries the
      * phase's name. */
    def phase(name: String, seconds: Int, open: Option[Seq[Req]], closed: Seq[Req]): Phase = {
      val measured = name == "window"
      def tag(t: String) = if (measured) t else name
      val pool = Executors.newFixedThreadPool(Workers)
      val done = new ConcurrentLinkedQueue[Done]()
      val started = new AtomicInteger(0)
      val ticks = collection.mutable.ArrayBuffer.empty[Tick]
      var tickErrors = 0
      val t0 = System.nanoTime()
      val endNs = t0 + seconds * 1000000000L
      val ingest = new Thread(() => {
        while (System.nanoTime() < endNs) {
          try {
            val t = ingestTick(tag("ingest"), t0)
            ticks += t
            if (measured) ctx.trace.add(0, s"tick${nextTick - 1}", "ingest", t0 + (t.atMs * 1e6).toLong,
              System.nanoTime())
          } catch { case _: Throwable => tickErrors += 1 }
        }
      })
      ingest.start()
      def serve(q: Req, due: Long, late: Long): Unit = {
        val start = System.nanoTime()
        val a = attempt(q, tag(s"req|${q.kind}"))
        val end = System.nanoTime()
        if (measured) ctx.trace.add(0, q.kind, "serving", start, end)
        done.add(Done(q.copy(due = due), start, end, late, a))
      }
      open match {
        case Some(reqs) =>
          reqs.foreach { q =>
            val due = t0 + q.due
            val wait = due - System.nanoTime()
            if (wait > 0) TimeUnit.NANOSECONDS.sleep(wait)
            val late = System.nanoTime() - due
            started.incrementAndGet()
            pool.execute(() => serve(q, due, late))
          }
        case None =>
          (0 until Workers).foreach(_ => pool.execute { () =>
            while (System.nanoTime() < endNs) {
              val q = closed(started.getAndIncrement() % closed.size)
              serve(q, System.nanoTime(), 0L)
            }
          })
      }
      pool.shutdown()
      pool.awaitTermination(120, TimeUnit.SECONDS)
      ingest.join()
      Phase(done.toArray(Array.empty[Done]).toSeq, started.get, ticks.toSeq, tickErrors, t0,
        (System.nanoTime() - t0) / 1e9)
    }

    val sat = phase("saturation", SaturationSeconds, None, closedLoop(ctx.seed + 1, 12))
    val gc0 = ctx.gcSec()
    val l0 = Main.loadavg()
    val win = phase("window", ctx.seconds, Some(sched), Nil)
    val gcSec = ctx.gcSec() - gc0
    val loadavg = math.max(l0, Main.loadavg())

    // the stream replay, alone: a cold tick, then the measured ticks.
    // The micro-batches run on the queries' own threads, which carry the
    // tag they were started under, so the measured ticks' jobs are the
    // tag's count after them minus its count after the cold tick.
    var streamErrors = 0
    def streamTick(): Option[Double] =
      try Some(stream.tick()) catch { case _: Throwable => streamErrors += 1; None }
    def streamJobs(): Long = ctx.layers.map { l => l.drain(); l.sum(_ == "stream").jobs }.getOrElse(0L)
    Layers.tag(ctx.sc, "stream")(stream.start())
    val streamCold = streamTick()
    val streamJobs0 = streamJobs()
    val streamWallStart = System.currentTimeMillis()
    val streamTicks = (1 until StreamTicks).flatMap { i =>
      val t0 = System.nanoTime()
      val ms = streamTick()
      ctx.trace.add(0, s"stream$i", "stream", t0, System.nanoTime())
      ms
    }
    val streamWallEnd = System.currentTimeMillis()
    val streamJobs1 = streamJobs()
    stream.stop()
    val t0 = win.t0
    val warm = win.done
    val checksT0 = System.nanoTime()

    // checks, outside the timed phases: dashboards against the direct
    // rollups over the fact table, classify against classifyBatch on the
    // same inputs, the ingest view against exact sums of every page, and
    // the stream sinks against the batch operators
    import spark.implicits._
    val pieWant = RelationalOps.dashSubAgencyRollup(orders).collect().map(_.toString).toSeq
    val lineWant = RelationalOps.dashMonthRollup(orders).collect().map(_.toString).toSeq
    val all = coldDone ++ sat.done ++ warm
    val inputs = all.filter(_.req.kind == "classify").map(_.req.args).distinct
    val batch = facade.classifyBatch(inputs.zipWithIndex.map { case ((p, s, g, m, y), i) =>
        (i.toLong, 0.0, m, y, p, s, g) }
      .toDF("o_orderkey", "o_totalprice", "o_month", "o_year", "o_orderpriority",
        "o_orderstatus", "c_mktsegment"))
      .collect().map(r => inputs(r.getLong(0).toInt) -> (r.getString(1), r.getDouble(2))).toMap
    def correct(d: Done): Boolean = d.answer match {
      case Left(_) => false
      case Right(a) => d.req.kind match {
        case "pie" => a == pieWant
        case "line" => a == lineWant
        case _ => a == batch.get(d.req.args)
      }
    }
    val mvWant = landed.groupBy(_.o_orderpriority).map { case (p, rs) =>
      p -> (rs.map(r => BigDecimal(r.o_totalprice)).sum.setScale(2), rs.size.toLong) }
    val mvGot = spark.read.parquet(mvPath)
      .select(col("o_orderpriority"), col("total_price").cast("decimal(38,2)"), col("n_orders"))
      .collect().map((r: Row) =>
        r.getString(0) -> (BigDecimal(r.getDecimal(1)).setScale(2), r.getLong(2))).toMap
    val mvOk = mvGot == mvWant
    val streamBad = try stream.check() catch { case e: Throwable => Seq(s"stream check: $e") }
    val checksSec = (System.nanoTime() - checksT0) / 1e9

    val lat = warm.filter(correct).map(latencyMs)
    val (tailP, tailMs) = Stats.tail(lat)
    val rampEnd = sat.t0 + RampSeconds * 1000000000L
    val satDone = sat.done.filter(_.end >= rampEnd)
    val satSec = ((rampEnd +: satDone.map(_.end)).max - rampEnd) / 1e9
    val endToEnd = Map(
      "setup_s" -> Stats.median(setups),
      "cold_s" -> coldSec,
      "latency_ms" -> Stats.mean(lat),
      "ops_per_s" -> (if (satSec > 0) satDone.size / satSec else 0.0))

    val phases = Seq(sat, win)
    val ticks = phases.flatMap(_.ticks)
    val perLayer = ctx.layers.map { layers =>
      layers.drain()
      // the measured window's own work only: its requests and ticks
      val window = layers.sum(t => t.startsWith("req|") || t == "ingest")
      val (mem, disk) = ctx.storageMb()
      def callMs(k: String) = Stats.median(warm.filter(_.req.kind == k).map(d => (d.end - d.start) / 1e6))
      val ingestFiles = java.nio.file.Files.walk(java.nio.file.Paths.get(s"${ctx.tmpDir}/graft_bench_ingest"))
        .filter(p => p.toString.endsWith(".parquet") || p.toString.endsWith(".csv")).count()
      val ingestMb = Seq(staging, mvPath).map(p => Ctx.bytes(new java.io.File(p))).sum / 1048576.0
      // the replay's micro-batches of the measured stream ticks
      val ids = Set(stream.funnel.id, stream.ingest.id)
      val batches = layers.progress.filter { b =>
        val at = java.time.Instant.parse(b.timestamp).toEpochMilli
        ids(b.id) && b.numInputRows > 0 && at >= streamWallStart && at <= streamWallEnd
      }
      // per tick: summed over both queries' micro-batches of the tick
      def streamMs(k: String) = batches.flatMap(b => Option(b.durationMs.get(k)).map(_.doubleValue)).sum /
        math.max(1, streamTicks.size)
      def stateMax(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double) =
        (0.0 +: batches.flatMap(_.stateOperators.map(f))).max
      Map(
        "tables.scan_mb" -> window.inputBytes / 1048576.0,
        "tables.scan_rows" -> window.inputRows.toDouble,
        "spark.jobs" -> window.jobs.toDouble,
        "spark.stages" -> window.stages.toDouble,
        "spark.tasks" -> window.tasks.toDouble,
        "spark.task_s" -> window.taskNs / 1e9,
        "spark.core_util" -> window.taskNs / 1e9 / (win.sec * Session.Cores),
        "spark.shuffle_read_mb" -> window.shuffleRead / 1048576.0,
        "spark.shuffle_write_mb" -> window.shuffleWrite / 1048576.0,
        "spark.spill_mb" -> window.spill / 1048576.0,
        "spark.gc_s" -> gcSec,
        "blockmgr.mem_mb" -> mem,
        "blockmgr.disk_mb" -> disk,
        "serving.call_ms.pie" -> callMs("pie"),
        "serving.call_ms.line" -> callMs("line"),
        "serving.call_ms.classify" -> callMs("classify"),
        "serving.jobs_per_call" -> layers.sum(_.startsWith("req|")).jobs.toDouble / warm.size,
        "harness.gen_late_ms" -> warm.map(_.late / 1e6).max,
        "ingest.tick_ms" -> Stats.median(win.ticks.map(_.ms)),
        "ingest.files_written" -> ingestFiles.toDouble,
        "ingest.write_mb" -> ingestMb,
        "stream.tick_ms" -> Stats.median(streamTicks),
        "stream.jobs_per_tick" -> (streamJobs1 - streamJobs0).toDouble / math.max(1, streamTicks.size),
        "stream.batches" -> batches.size.toDouble,
        "stream.add_batch_ms" -> streamMs("addBatch"),
        "stream.plan_ms" -> streamMs("queryPlanning"),
        "stream.wal_commit_ms" -> streamMs("walCommit"),
        "stream.state_rows" -> stateMax(_.numRowsTotal.toDouble),
        "stream.state_mem_mb" -> stateMax(_.memoryUsedBytes / 1048576.0))
    }.getOrElse(Map.empty)

    val failures = all.filterNot(correct)
    // requests that were scheduled but never finished (the phase timed
    // out) count as failed, not as absent
    val unfinished = phases.map(p => p.scheduled - p.done.size).sum
    val tickErrors = phases.map(_.tickErrors).sum
    val sinksBad = streamBad.map(_.takeWhile(_ != ':')).distinct.size
    val detail = Seq(
      "startup_s" -> startupSec,
      "setup_reps_s" -> setups,
      "stream_prep_s" -> streamPrepSec,
      "offered_rate_per_s" -> Rate,
      "workers" -> Workers,
      "p50_ms" -> Stats.median(lat),
      "tail_percentile" -> tailP,
      "tail_ms" -> tailMs,
      "latency_samples" -> lat.size,
      "saturation" -> Map("s" -> satSec, "requests" -> satDone.size,
        "service_ms_p50" -> Stats.median(satDone.map(d => (d.end - d.start) / 1e6))),
      "window_s" -> win.sec, "window_loadavg" -> loadavg,
      "cold_ingest_ms" -> coldTick.map(_.ms),
      "window_ingest_ticks" -> win.ticks.map(t => Map("at_ms" -> t.atMs, "ms" -> t.ms)),
      "stream_ticks_ms" -> (streamCold.toSeq ++ streamTicks),
      "ingest_rows_landed" -> landed.size,
      "ingest_view_correct" -> mvOk,
      "stream_replayed" -> Map("events" -> stream.replayed._1, "documents" -> stream.replayed._2),
      "stream_check_failures" -> streamBad,
      "checks_s" -> checksSec,
      "latency_ms_by_kind" -> Mix.map { case (k, _) =>
        val xs = warm.filter(_.req.kind == k).map(latencyMs)
        k -> Map("n" -> xs.size, "p50" -> (if (xs.isEmpty) 0.0 else Stats.median(xs)),
          "max" -> (if (xs.isEmpty) 0.0 else xs.max))
      }.toMap,
      "requests" -> warm.sortBy(_.req.due).map(d => Seq(d.req.kind, (d.req.due - t0) / 1e6,
        latencyMs(d), (d.end - d.start) / 1e6)),
      "failures" -> failures.take(20).map(d => Map("kind" -> d.req.kind,
        "answer" -> d.answer.fold(identity, _.toString))))
    // requests, ingest ticks (the cold one included), the ingest view
    // check, and the stream ticks and sink checks
    val attempted = coldReqs.size + phases.map(_.scheduled).sum + 1 + ticks.size + tickErrors + 1 +
      StreamTicks + 2
    val failed = failures.size + unfinished + tickErrors + (if (coldTick.isEmpty) 1 else 0) +
      (if (mvOk) 0 else 1) + streamErrors + sinksBad
    Result(attempted, failed, endToEnd, perLayer, detail)
  }
}
