package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Spark execution counters for one tag. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var inputRows = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskNs += o.taskNs
    gcMs += o.gcMs; inputBytes += o.inputBytes; inputRows += o.inputRows
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite; spill += o.spill
  }
}

/** SparkListener that charges jobs, stages and task metrics to the tag
  * the submitting thread set with [[Layers.tag]], and keeps the progress
  * of every streaming micro-batch. Attribution goes through Spark's
  * thread-local job properties, so concurrent callers on different
  * threads are kept apart. Attached only in traced runs. */
final class Layers(sc: SparkContext) extends SparkListener {
  private val byTag = mutable.HashMap.empty[String, Counters]
  private val stageTag = mutable.HashMap.empty[Int, String]
  @volatile private var fenceSeen = -1L
  private val streamProgress = mutable.ArrayBuffer.empty[StreamingQueryProgress]

  private def tagOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(Layers.Key))).getOrElse("untagged")
  private def counters(tag: String): Counters = byTag.getOrElseUpdate(tag, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = tagOf(e.properties)
    if (tag.startsWith(Layers.FencePrefix)) fenceSeen = tag.drop(Layers.FencePrefix.length).toLong
    else counters(tag).jobs += 1
    e.stageInfos.foreach(s => stageTag(s.stageId) = tag)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val tag = tagOf(e.properties)
    stageTag(e.stageInfo.stageId) = tag
    counters(tag).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counters(stageTag.getOrElse(e.stageId, "untagged"))
    c.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      c.taskNs += m.executorRunTime * 1000000L
      c.gcMs += m.jvmGCTime
      c.inputBytes += m.inputMetrics.bytesRead
      c.inputRows += m.inputMetrics.recordsRead
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  // Structured Streaming posts its progress events on the same bus, for
  // queries of every session, child sessions included
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: StreamingQueryListener.QueryProgressEvent => synchronized(streamProgress += p.progress)
    case _ => ()
  }

  def progress: Seq[StreamingQueryProgress] = synchronized(streamProgress.toList)

  /** Sum of the counters of every tag accepted by `keep`. */
  def sum(keep: String => Boolean): Counters = synchronized {
    val out = new Counters
    byTag.foreach { case (t, c) => if (keep(t)) out += c }
    out
  }

  /** Block until every event posted before this call has been handled:
    * the listener bus is FIFO, so seeing a fence job's start proves
    * everything before it was delivered. */
  def drain(): Unit = {
    val n = System.nanoTime()
    Layers.tag(sc, s"${Layers.FencePrefix}$n")(sc.parallelize(Seq(1), 1).count())
    val deadline = System.nanoTime() + 10000000000L
    while (fenceSeen != n && System.nanoTime() < deadline) Thread.sleep(5)
  }
}

object Layers {
  val Key = "perfbench.tag"
  private val FencePrefix = "fence:"

  /** Run `body` with its Spark jobs charged to `tag`. */
  def tag[T](sc: SparkContext, tag: String)(body: => T): T = {
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, tag)
    try body finally sc.setLocalProperty(Key, prev)
  }

  def attach(sc: SparkContext): Layers = {
    val l = new Layers(sc)
    sc.addSparkListener(l)
    l
  }
}
