package graft.tools

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

import graft.SparkEntry

/** Perf-attribution utility (optimization rounds): runs the named
  * queries under the SAME session shape as [[graft.Bench]] and, per
  * run, reports wall seconds alongside scheduler-level counters from a
  * SparkListener — jobs launched, stages, tasks, summed executor task
  * time, shuffle bytes written and JVM GC time. A query whose wall
  * time is many times its summed task time is scheduling/plan-overhead
  * bound (many tiny jobs); one whose task time concentrates in few
  * stages is stage-bound — different fixes (guide §1/§2).
  *
  * Usage: runMain graft.tools.Profile [nWarm] query [query...]
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  *      SPARK_GRAFT_CPUS (default 32).
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val nWarm = args.headOption.flatMap(_.toIntOption).getOrElse(2)
    val names = (if (args.headOption.exists(_.toIntOption.isDefined)) args.drop(1)
                 else args).toSeq
    val spark = graft.GraftSession.build(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    graft.engine.Tables.names.foreach { t =>
      try graft.engine.Tables.load(spark, sfDir, t).count()
      catch { case _: Throwable => }
    }
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val taskNs = new AtomicLong // executorRunTime is ms
    val gcMs = new AtomicLong
    val shufWrite = new AtomicLong
    val shufRead = new AtomicLong
    // per-stage attribution (printed when SPARK_GRAFT_PROFILE_STAGES=1):
    // (name, run-ms, tasks, wall-ms)
    val stageRows =
      new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Int, Long)]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        val si = e.stageInfo
        val wall = (for {s <- si.submissionTime; c <- si.completionTime}
          yield c - s).getOrElse(0L)
        val where = si.details.linesIterator
          .find(l => l.contains("graft.") && !l.contains("Profile"))
          .getOrElse(si.name.takeWhile(_ != '\n')).trim.take(110)
        stageRows.add((where, si.taskMetrics.executorRunTime, si.numTasks, wall))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = e.taskMetrics
        if (m != null) {
          taskNs.addAndGet(m.executorRunTime)
          gcMs.addAndGet(m.jvmGCTime)
          shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    def resetCounters(): Unit = {
      jobs.set(0); stages.set(0); tasks.set(0); taskNs.set(0); gcMs.set(0)
      shufWrite.set(0); shufRead.set(0); stageRows.clear()
    }
    val dumpStages = sys.env.get("SPARK_GRAFT_PROFILE_STAGES").contains("1")
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      (0 to nWarm).foreach { i =>
        resetCounters()
        spark.sparkContext.setJobDescription(s"$name run$i")
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        // listener events are posted asynchronously; give the bus a
        // moment to drain before reading the counters
        Thread.sleep(250)
        println(f"PROFILE $name%-36s run$i wall=$wall%7.3fs jobs=${jobs.get}%3d " +
          f"stages=${stages.get}%3d tasks=${tasks.get}%5d taskTime=${taskNs.get / 1e3}%8.2fs " +
          f"gc=${gcMs.get / 1e3}%5.2fs shufW=${shufWrite.get / 1e6}%8.1fMB shufR=${shufRead.get / 1e6}%8.1fMB")
        if (dumpStages && i == nWarm) {
          import scala.jdk.CollectionConverters._
          val byName = stageRows.asScala.toSeq
            .groupBy(_._1).view.mapValues { rs =>
              (rs.map(_._2).sum, rs.map(_._3).sum, rs.map(_._4).sum, rs.size)
            }.toSeq.sortBy(-_._2._1).take(12)
          byName.foreach { case (n, (runMs, nt, wallMs, cnt)) =>
            println(f"  STAGE run=${runMs / 1e3}%7.2fs wall=${wallMs / 1e3}%7.2fs " +
              f"tasks=$nt%4d x$cnt%-3d $n")
          }
        }
      }
    }
    spark.stop()
  }
}
