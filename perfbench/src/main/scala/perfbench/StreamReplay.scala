package perfbench

import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, md5, timestamp_micros, unix_micros}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.engine.{DedupOps, EventOps, StreamOps, Tables, TickCommit}

/** The sf0.1 `events` and `documents` replayed through `MemoryStream`
  * into two stateful `StreamOps` sinks, one tick at a time:
  *
  *  - `streamingFunnel` (per-user funnel state) over the events, in
  *    (ts, event_id) order;
  *  - `streamingIngestTick` (exact, quality and near-dup gates against
  *    carried fingerprint and sketch stores, committed per tick through
  *    `TickCommit`) over the odd-numbered documents, against stores
  *    built from the even-numbered ones.
  *
  * The seed sets the tick boundaries: each tick takes the next 1,000–
  * 3,000 events and 40–120 documents. A tick ends when both queries
  * have processed everything added. The constructor loads the inputs
  * and builds the base stores; [[start]] starts the two queries, whose
  * stream threads inherit the caller's Spark job properties. */
final class StreamReplay(spark: SparkSession, dataDir: String, outDir: String, seed: Long) {
  import spark.implicits._
  private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val events: Array[(Long, Long, Long, String)] = Tables.events(spark, dataDir)
    .select(col("user_id").cast("long"), col("event_id").cast("long"),
      unix_micros(col("ts")), col("event_type"))
    .as[(Long, Long, Long, String)].collect().sortBy(e => (e._3, e._2))
  private val documents = Tables.documents(spark, dataDir).select(col("doc_id"), col("text"))
  private val baseDocs = documents.filter(col("doc_id") % 2 === 0)
  private val docs: Array[(Long, String)] = documents.filter(col("doc_id") % 2 === 1)
    .as[(Long, String)].collect().sortBy(_._1)
  private val baseFps = DedupOps.fingerprintStore(baseDocs).localCheckpoint()
  private val baseSigs = DedupOps.minhashSignatures(baseDocs).localCheckpoint()

  private val eventsIn = MemoryStream[(Long, Long, Long, String)]
  private val docsIn = MemoryStream[(Long, String)]
  private val sink = s"perfbench_funnel_${math.abs(seed)}"
  private var queries: Option[(StreamingQuery, StreamingQuery)] = None
  def funnel: StreamingQuery = queries.get._1
  def ingest: StreamingQuery = queries.get._2

  def start(): Unit = queries = Some((
    StreamOps.streamingFunnel(eventsIn.toDS())
      .toDF("user_id", "stage", "event_id", "ts_us")
      .writeStream.outputMode("append").format("memory").queryName(sink).start(),
    StreamOps.streamingIngestTick(docsIn.toDS().toDF("doc_id", "text"), baseFps, baseSigs,
      s"$outDir/out", s"$outDir/ckpt")))

  private val rng = new Random(seed)
  private var evAt = 0
  private var docAt = 0
  /** Documents added per tick, in order. */
  val docTicks = collection.mutable.ArrayBuffer.empty[Int]

  /** Add the next tick's events and documents, and wait until both
    * queries have processed them; returns the tick's wall time in ms. */
  def tick(): Double = {
    val t0 = System.nanoTime()
    val nEv = 1000 + rng.nextInt(2001)
    val nDoc = 40 + rng.nextInt(81)
    eventsIn.addData(events.slice(evAt, evAt + nEv).toSeq)
    docsIn.addData(docs.slice(docAt, docAt + nDoc).toSeq)
    evAt += nEv
    docAt += nDoc
    docTicks += nDoc
    funnel.processAllAvailable()
    ingest.processAllAvailable()
    (System.nanoTime() - t0) / 1e6
  }

  def stop(): Unit = queries.foreach { case (f, i) => f.stop(); i.stop() }

  /** Failed checks of the sink outputs against the batch operators:
    *  - the funnel: one first-reach row per (user, stage), and the users
    *    per stage equal `EventOps.funnel` over the replayed events;
    *  - the ingest tick: each tick's report counts the documents added,
    *    and the committed stores grew by exactly the documents the
    *    reports admitted, and every stored fingerprint is one of a base
    *    or replayed document (exact dedup). */
  def check(): Seq[String] = {
    val bad = collection.mutable.ArrayBuffer.empty[String]
    val reach = spark.table(sink).select(col("user_id"), col("stage")).as[(Long, Int)].collect()
    if (reach.distinct.length != reach.length) bad += "funnel: a (user, stage) reached twice"
    val streamed = reach.groupBy(_._2).map { case (s, rs) => s -> rs.map(_._1).distinct.length.toLong }
    val replayed = events.take(evAt).toSeq.toDF("user_id", "event_id", "us", "event_type")
      .select(col("user_id"), col("event_id"), timestamp_micros(col("us")).as("ts"), col("event_type"))
    val batch = EventOps.funnel(replayed).select(col("stage_idx"), col("n_users"))
      .as[(Long, Long)].collect().map { case (s, n) => s.toInt -> n }.toMap
    if ((1 to 3).exists(s => streamed.getOrElse(s, 0L) != batch.getOrElse(s, 0L)))
      bad += s"funnel: stream $streamed != batch $batch"

    val out = s"$outDir/out"
    val report = spark.read.parquet(s"$out/funnel")
      .select(col("tick").cast("long"), col("stage").cast("long"), col("n_docs"))
      .as[(Long, Long, Long)].collect()
    val inputs = report.filter(_._2 == 0).sortBy(_._1).map(_._3).toSeq
    if (inputs != docTicks.map(_.toLong).toSeq)
      bad += s"ingest tick: input counts $inputs != added ${docTicks.toSeq}"
    val lastStage = report.map(_._2).max
    val admitted = report.filter(_._2 == lastStage).map(_._3).sum
    val fps = TickCommit.readLatest(spark, out, "fps").get
    val sigs = TickCommit.readLatest(spark, out, "sigs").get
    val nFps = fps.count()
    if (nFps != baseFps.count() + admitted) bad += s"ingest tick: $nFps fingerprints, want base + $admitted"
    if (sigs.count() != baseSigs.count() + admitted) bad += "ingest tick: sketch store size"
    val known = documents.filter(col("doc_id") % 2 === 0 || col("doc_id").isin(docs.take(docAt).map(_._1): _*))
      .select(md5(col("text")).as("fp_md5"))
    if (fps.select(col("fp_md5")).except(known).count() != 0) bad += "ingest tick: unknown fingerprint"
    bad.toSeq
  }

  /** Events and documents replayed so far. */
  def replayed: (Int, Int) = (evAt, docAt)
}
