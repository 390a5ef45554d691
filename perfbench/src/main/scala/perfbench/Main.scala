package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Everything a workload needs from the harness. */
final class Ctx(val spark: SparkSession, val dataDir: String, val modelDir: String,
                val tmpDir: String,
                val seed: Long, val seconds: Int, val trace: Trace,
                val layers: Option[Layers], val expected: Map[String, String]) {
  def sc: org.apache.spark.SparkContext = spark.sparkContext

  /** Stored artifacts: warehouse tables and the engine's scratch
    * directories (every engine scratch path starts with `graft_`). */
  def artifacts(): Set[String] = {
    def ls(d: String, keep: String => Boolean) =
      Option(new File(d).list()).toSeq.flatten.filter(keep).map(n => s"$d/$n")
    (ls(s"$tmpDir/warehouse", _ => true) ++ ls(tmpDir, _.startsWith("graft_"))).toSet
  }

  /** Bytes the run left on disk: everything under the run's tmp dir
    * except Spark's own block-manager and shuffle directories. */
  def diskMb(): Double =
    Option(new File(tmpDir).listFiles()).toSeq.flatten
      .filterNot(f => f.getName.startsWith("blockmgr-") || f.getName.startsWith("spark-"))
      .map(Ctx.bytes).sum / 1048576.0

  /** Block-manager memory and disk held by cached and checkpointed RDDs. */
  def storageMb(): (Double, Double) = {
    val infos = sc.getRDDStorageInfo
    (infos.map(_.memSize).sum / 1048576.0, infos.map(_.diskSize).sum / 1048576.0)
  }

  def gcSec(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum / 1e3
}

object Ctx {
  /** Bytes under `f`, recursively. */
  def bytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(bytes).sum else f.length()
}

/** A workload's outcome: operation counts, the end-to-end metrics, the
  * per-layer metrics (traced runs) and the detail for the report. */
final case class Result(attempted: Long, failed: Long, endToEnd: Map[String, Double],
                        perLayer: Map[String, Double], detail: Seq[(String, Any)])

object Main {
  val Workloads = Seq("etl_reference", "serving_ingest")

  /** Every per-layer metric. A traced run reports all of them; a layer
    * the workload does not reach reads 0. */
  val PerLayer: Seq[String] = Seq(
    "tables.scan_mb", "tables.scan_rows",
    "catalyst.analysis_ms", "catalyst.optimize_ms", "catalyst.physical_ms",
    "catalog.build_s", "catalog.eager_jobs",
    "spark.exec_s", "spark.jobs", "spark.stages", "spark.tasks", "spark.task_s",
    "spark.core_util", "spark.shuffle_read_mb", "spark.shuffle_write_mb", "spark.spill_mb",
    "spark.gc_s",
    "artifacts.built", "artifacts.build_s", "artifacts.write_mb", "artifacts.reused_ratio",
    "blockmgr.mem_mb", "blockmgr.disk_mb",
    "ml.fit_s",
    "serving.call_ms.pie", "serving.call_ms.line", "serving.call_ms.classify",
    "serving.jobs_per_call", "harness.gen_late_ms",
    "ingest.tick_ms", "ingest.files_written", "ingest.write_mb",
    "stream.tick_ms", "stream.jobs_per_tick", "stream.batches", "stream.add_batch_ms", "stream.plan_ms", "stream.wal_commit_ms",
    "stream.state_rows", "stream.state_mem_mb")

  def loadavg(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble
    catch { case _: Exception => -1.0 }

  def sinceStart(): Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  def readExpected(path: String): Map[String, String] =
    if (!new File(path).exists()) Map.empty
    else Files.readAllLines(Paths.get(path)).asScala.toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(k, v) = l.split("\t"); k -> v }.toMap

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val tmpDir = System.getProperty("java.io.tmpdir")
    val spark = Session.build(s"$tmpDir/warehouse")
    val traced = opts("trace") == "1"
    val ctx = new Ctx(spark, opts("data"), opts("model"), tmpDir, opts("seed").toLong, opts("seconds").toInt,
      new Trace(traced), if (traced) Some(Layers.attach(spark.sparkContext)) else None,
      readExpected(opts("expected")))
    val r = workload match {
      case "serving_ingest" => Serving.run(ctx)
      case _ => Batch.run(ctx, opts.get("regen"))
    }
    val report = Json.obj(
      "workload" -> workload, "seed" -> ctx.seed, "seconds" -> ctx.seconds, "trace" -> traced,
      "attempted" -> r.attempted, "failed" -> r.failed,
      "end_to_end" -> r.endToEnd,
      "per_layer" -> (if (traced) PerLayer.map(n => n -> r.perLayer.getOrElse(n, 0.0)).toMap
                      else Map.empty),
      "env" -> Map(
        "nproc" -> Runtime.getRuntime.availableProcessors(), "cores_used" -> Session.Cores,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory() / 1048576,
        "spark_version" -> spark.version, "java_version" -> System.getProperty("java.version"),
        "source_rev" -> opts.getOrElse("rev", "unknown"), "loadavg_end" -> loadavg()),
      "self_s_by_layer" -> Trace.selfByLayer(ctx.trace.spans),
      "detail" -> collection.mutable.LinkedHashMap(r.detail: _*))
    Files.writeString(Paths.get(opts("out")), report + "\n")
    if (traced) Files.writeString(Paths.get(opts("out") + ".spans.jsonl"),
      Trace.toJsonLines(ctx.trace.spans))
    spark.stop()
  }
}
