package perfbench

import scala.util.Random

import graft.queries.{Catalog, QuerySpec}

/** The catalog workload: one cold round from an empty warehouse, then
  * [[WarmRounds]] warm rounds, each in a seeded order. A round is
  * measured whole, so `--seconds` does not cut it short. Every query's
  * timed action is its result [[Fingerprint]], checked against the
  * stored expected value and, in warm rounds, against the same run's
  * cold value, so a stale stored artifact shows up. */
object Batch {
  /** The reference ETL's own operators, drawn from q01–q53: the award
    * rollups, filters, joins, top-k, date parts, a window rank, the
    * classification fit the serving model comes from, and q42, the one
    * family in that range that builds stored artifacts (the MinHash
    * sketch and pair tables). Short queries where planning and job
    * scheduling dominate. */
  val EtlReference: Seq[String] = Seq(
    "q01_flagship_geo_rollup", "q03_month_rollup",
    "q04_filter_project", "q06_conditional_label", "q07_topk",
    "q09_join_inner", "q28_window_rank",
    "q42_minhash_lsh_pairs", "q52_ml_classification")

  /** Two warm rounds keep a run inside a minute. */
  val WarmRounds = 2

  /** Queries whose cold run fits an MLShared model. */
  private val MlFits = Set("q52_ml_classification")

  final case class QRun(round: Int, name: String, sec: Double, buildSec: Double, ok: Boolean,
                        fp: String, error: String, built: Seq[String],
                        phasesMs: Map[String, Double])

  final case class RoundInfo(round: Int, sec: Double, loadavg: Double, gcSec: Double,
                             memMb: Double, diskMb: Double, artifactMb: Double)

  /** Set-up: touch every input table once (file listing, footers, the
    * OS page cache), as graft.Bench does before timing. */
  private def setupOnce(ctx: Ctx): Double = {
    val t0 = System.nanoTime()
    graft.engine.Tables.names.foreach(t => graft.engine.Tables.load(ctx.spark, ctx.dataDir, t).count())
    (System.nanoTime() - t0) / 1e9
  }

  private def runQuery(ctx: Ctx, round: Int, parent: Int, name: String,
                       spec: Option[QuerySpec], coldFp: Option[String],
                       regen: Boolean): QRun = {
    val before = ctx.artifacts()
    val t0 = System.nanoTime()
    var buildSec = 0.0
    var phases = Map.empty[String, Double]
    val outcome: Either[String, String] = ctx.trace.span(parent, name, "query") { qid =>
      try {
        val s = spec.getOrElse(throw new NoSuchElementException(s"no catalog query $name"))
        val df = ctx.trace.span(qid, "build", "catalog") { _ =>
          Layers.tag(ctx.sc, s"build|$round|$name")(s.run(ctx.spark, ctx.dataDir))
        }
        buildSec = (System.nanoTime() - t0) / 1e9
        ctx.trace.span(qid, "exec", "spark") { eid =>
          val execNs = System.nanoTime()
          val execMs = System.currentTimeMillis()
          val frame = Fingerprint.frame(df)
          val row = Layers.tag(ctx.sc, s"exec|$round|$name")(frame.collect().head)
          val tracked = frame.queryExecution.tracker.phases
          phases = tracked.map { case (k, p) => k -> (p.endTimeMs - p.startTimeMs).toDouble }
          tracked.foreach { case (k, p) =>
            ctx.trace.add(eid, k, "catalyst", execNs + (p.startTimeMs - execMs) * 1000000L,
              execNs + (p.endTimeMs - execMs) * 1000000L)
          }
          Right(Fingerprint.render(df.schema, row))
        }
      } catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
    }
    val sec = (System.nanoTime() - t0) / 1e9
    val built = (ctx.artifacts() -- before).toSeq.sorted.map(p => p.split('/').last)
    val (ok, fp, err) = outcome match {
      case Left(e) => (false, "", e)
      case Right(fp) =>
        val want = if (regen) coldFp else coldFp.orElse(ctx.expected.get(name))
        want match {
          case None if !regen => (false, fp, "no expected fingerprint")
          case Some(w) if w != fp => (false, fp, s"fingerprint $fp != expected $w")
          case _ => (true, fp, "")
        }
    }
    QRun(round, name, sec, buildSec, ok, fp, err, built, phases)
  }

  def run(ctx: Ctx, regenPath: Option[String]): Result = {
    val workload = "etl_reference"
    val names = EtlReference
    val specs = Catalog.specs.map(s => s.name -> s).toMap
    val setups = (0 until 3).map(_ => setupOnce(ctx))
    val startupSec = Main.sinceStart()
    val rounds = collection.mutable.ArrayBuffer.empty[RoundInfo]
    val runs = collection.mutable.ArrayBuffer.empty[QRun]
    val coldFps = collection.mutable.HashMap.empty[String, String]
    val diskBefore = ctx.diskMb()
    val rng = new Random(ctx.seed)
    var round = 0
    ctx.trace.span(0, workload, "run") { runSpan =>
      while (round <= WarmRounds) {
        val order = if (round == 0) names else rng.shuffle(names)
        val l0 = Main.loadavg()
        val gc0 = ctx.gcSec()
        val t0 = System.nanoTime()
        ctx.trace.span(runSpan, s"round$round", "round") { rid =>
          order.foreach { n =>
            val r = runQuery(ctx, round, rid, n, specs.get(n), coldFps.get(n), regenPath.isDefined)
            if (round == 0 && r.ok) coldFps(n) = r.fp
            runs += r
          }
        }
        val sec = (System.nanoTime() - t0) / 1e9
        val (mem, disk) = ctx.storageMb()
        rounds += RoundInfo(round, sec, math.max(l0, Main.loadavg()), ctx.gcSec() - gc0, mem, disk,
          ctx.diskMb())
        round += 1
      }
    }
    regenPath.foreach { p =>
      val lines = names.flatMap(n => coldFps.get(n).filter(fp =>
        runs.filter(_.name == n).forall(r => r.ok && r.fp == fp)).map(fp => s"$n\t$fp"))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p),
        s"# $workload result fingerprints (perfbench.Fingerprint) over perfbench/data/sf0.1\n" +
          lines.mkString("", "\n", "\n"))
    }

    val warm = runs.filter(_.round > 0)
    val cold = runs.filter(_.round == 0)
    val warmLat = warm.filter(_.ok).map(_.sec * 1000)
    val (tailP, tailMs) = Stats.tail(warmLat.toSeq)
    val warmRs = rounds.filter(_.round > 0)
    def warmMedian(f: Int => Double): Double = Stats.median(warmRs.map(r => f(r.round)).toSeq)
    val endToEnd = Map(
      "setup_s" -> Stats.median(setups),
      "cold_s" -> rounds.head.sec,
      "latency_ms" -> Stats.mean(warmLat.toSeq),
      "ops_per_s" -> warm.size / warmRs.map(_.sec).sum)

    val warmOf = warm.groupBy(_.name).map { case (n, rs) => n -> Stats.median(rs.map(_.sec).toSeq) }
    def coldExtra(q: QRun) = math.max(0.0, q.sec - warmOf.getOrElse(q.name, q.sec))
    val artifactQueries = cold.filter(_.built.nonEmpty)
    val artifactQueryNames = artifactQueries.map(_.name).toSet
    val reuseTries = warm.filter(q => artifactQueryNames(q.name))
    val perLayer = ctx.layers.map { layers =>
      layers.drain()
      def inRound(r: Int, phase: String)(t: String) = {
        val p = t.split('|'); p.length == 3 && p(1) == r.toString && (phase == "" || p(0) == phase)
      }
      def perWarm(f: Counters => Double, phase: String = "") =
        warmMedian(r => f(layers.sum(inRound(r, phase))))
      val self = Trace.selfTimes(ctx.trace.spans)
      val spans = ctx.trace.spans
      val execSelf = warmMedian { r =>
        val qids = spans.filter(s => s.layer == "round" && s.name == s"round$r").map(_.id).toSet
        val qs = spans.filter(s => s.layer == "query" && qids(s.parent)).map(_.id).toSet
        spans.filter(s => s.layer == "spark" && qs(s.parent)).map(s => self(s.id)).sum / 1e9
      }
      def phaseMs(k: String) = Stats.median(warm.filter(_.ok).map(_.phasesMs.getOrElse(k, 0.0)).toSeq)
      val (mem, disk) = ctx.storageMb()
      Map(
        "tables.scan_mb" -> perWarm(_.inputBytes / 1048576.0),
        "tables.scan_rows" -> perWarm(_.inputRows.toDouble),
        "catalyst.analysis_ms" -> phaseMs("analysis"),
        "catalyst.optimize_ms" -> phaseMs("optimization"),
        "catalyst.physical_ms" -> phaseMs("planning"),
        "catalog.build_s" -> warmMedian(r => warm.filter(_.round == r).map(_.buildSec).sum),
        "catalog.eager_jobs" -> perWarm(_.jobs.toDouble, "build"),
        "spark.exec_s" -> execSelf,
        "spark.jobs" -> perWarm(_.jobs.toDouble),
        "spark.stages" -> perWarm(_.stages.toDouble),
        "spark.tasks" -> perWarm(_.tasks.toDouble),
        "spark.task_s" -> perWarm(_.taskNs / 1e9),
        "spark.core_util" -> warmMedian(r =>
          layers.sum(inRound(r, "")).taskNs / 1e9 / (rounds(r).sec * Session.Cores)),
        "spark.shuffle_read_mb" -> perWarm(_.shuffleRead / 1048576.0),
        "spark.shuffle_write_mb" -> perWarm(_.shuffleWrite / 1048576.0),
        "spark.spill_mb" -> perWarm(_.spill / 1048576.0),
        "spark.gc_s" -> perWarm(_.gcMs / 1e3),
        "artifacts.built" -> artifactQueries.map(_.built.size).sum.toDouble,
        "artifacts.build_s" -> artifactQueries.map(coldExtra).sum,
        "artifacts.write_mb" -> (rounds.head.artifactMb - diskBefore),
        "artifacts.reused_ratio" ->
          (if (reuseTries.isEmpty) 0.0
           else reuseTries.count(_.built.isEmpty).toDouble / reuseTries.size),
        "blockmgr.mem_mb" -> mem,
        "blockmgr.disk_mb" -> disk,
        "ml.fit_s" -> cold.filter(q => MlFits(q.name)).map(coldExtra).sum)
    }.getOrElse(Map.empty)

    val detail = Seq(
      "startup_s" -> startupSec,
      "setup_reps_s" -> setups,
      "p50_ms" -> Stats.median(warmLat.toSeq),
      "tail_percentile" -> tailP,
      "tail_ms" -> tailMs,
      "latency_samples" -> warmLat.size,
      "rounds" -> rounds.map(r => Map("round" -> r.round, "sec" -> r.sec, "loadavg" -> r.loadavg,
        "gc_s" -> r.gcSec, "blockmgr_mem_mb" -> r.memMb, "blockmgr_disk_mb" -> r.diskMb,
        "disk_mb" -> r.artifactMb,
        "queries" -> runs.filter(_.round == r.round).map(q => q.name -> q.sec).toMap)),
      "artifacts_built" -> artifactQueries.map(q => q.name -> q.built).toMap,
      "cold_extra_s" -> cold.map(q => q.name -> coldExtra(q)).toMap,
      "failures" -> runs.filterNot(_.ok).map(q => Map("round" -> q.round, "query" -> q.name,
        "error" -> q.error)))
    Result(runs.size, runs.count(!_.ok), endToEnd, perLayer, detail)
  }
}
