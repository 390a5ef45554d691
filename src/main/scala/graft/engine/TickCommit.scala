package graft.engine

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** Atomic, tick-versioned snapshot commits for the streaming sinks
  * that apply NON-IDEMPOTENT corrections (LM count subtraction, card
  * fold-out, funnel/retention/transition decrements, alias re-close).
  *
  * The problem this solves (ADVICE r16, high): those sinks used to
  * write the cumulative removal queue FIRST and the store snapshots
  * after it — an ordering that is only safe for pure anti-join
  * maintenance. If a crash landed between the queue write and the
  * store writes, a restart would reload a queue that already contains
  * the crashed tick's ids next to stores that never received the
  * corrections; the replayed tick then derives an EMPTY effective set
  * (ids already queued) and the corrections are silently lost
  * forever. Reversing the order instead would double-apply the
  * decrements on replay — neither ordering of independent writes can
  * be correct, so the tick has to become atomic.
  *
  * Contract: every frame a tick produces (stores + cumulative queue)
  * writes under `outPath/snap/tick=N/<name>`, and a `_COMMITTED`
  * marker file is created LAST. The authoritative state is the
  * largest tick whose marker exists; a snapshot directory without the
  * marker is an aborted tick and is invisible to every reader. The
  * crash matrix collapses to two cases:
  *   - crash BEFORE the marker: the restart loads tick M (the last
  *     committed one), whose queue does NOT contain tick N's ids, so
  *     the replayed tick re-derives the same non-empty effective set
  *     and re-applies the corrections — the staged leftovers are
  *     overwritten frame by frame and the marker finally seals them;
  *   - crash AFTER the marker: [[isCommitted]] tells the replayed
  *     foreachBatch to skip the whole tick body (corrections, ledger
  *     and snapshots are all already durable), so nothing
  *     double-applies and the tick's ledger rows — written before the
  *     marker, re-derived deterministically on an aborted replay —
  *     are never overwritten with zero-delta rows (ADVICE r16, low).
  *
  * [[stage]] and [[seal]] are split so a clean probe can re-read the
  * PERSISTED bytes between them (the q270 recount posture — a probe
  * over the in-memory purge lineage is true by construction and
  * certifies nothing; ADVICE r16, low).
  *
  * Scale: one tiny marker file per tick on top of the snapshot writes
  * the sink already pays; [[seal]] prunes every older snapshot
  * directory, so disk holds at most the committed tick plus the one
  * being staged. The marker create and directory listing are pure
  * filesystem metadata operations.
  *
  * Every stateful stream sink runs this protocol through [[sink]],
  * the one commit loop; nothing else calls bind/stage/seal.
  */
object TickCommit {
  /** What one tick of a [[sink]] hands back: every frame to stage
    * under `snap/tick=N` (each carried frame under its carried name,
    * plus any derived snapshot such as a report), and a check that
    * runs after the stage and before the seal. The check receives the
    * staged frames re-read from their persisted bytes, by name; its
    * probes and ledger counts read those, and it writes the ledger. */
  final case class Tick(staged: Seq[(String, DataFrame)],
                        check: Map[String, DataFrame] => Unit = _ => ())

  /** The commit loop of every stateful stream sink: a `foreachBatch`
    * query over `source` whose state is the set of carried frames
    * named by `initial`.
    *
    * Restart contract (the one place it is written): a sink's state is
    * its last sealed snapshot. At construction [[bind]] ties `outPath`
    * to `checkpointDir`, and each carried frame is a read of the
    * largest committed tick under `outPath` when there is one (its
    * schema inferred from the bytes: a staged frame need not keep the
    * initial frame's column order or types), and the caller's
    * `initial` frame otherwise. After every seal each carried frame is
    * a read of the bytes just sealed, so continuing in the same
    * process and restarting load the same state the same way. A
    * sink rebuilt with its ORIGINAL arguments over the same outPath and
    * checkpoint continues from the last sealed tick; a crashed tick
    * (staged, never sealed) is invisible and replays against the state
    * before it; and a tick re-delivered after its seal (the crash
    * window before Spark's commit log) is skipped whole, its side
    * outputs and ledger untouched. A run continued under a fresh
    * checkpoint takes a fresh outPath seeded by [[resumeInto]]; a
    * fresh checkpoint over a live outPath makes the constructor throw.
    *
    * Per micro-batch, unless the batch is empty or the tick is already
    * sealed: `step(batch, tick, carried)` writes the tick's side
    * outputs (`…/tick=N`, overwrite, so an at-least-once replay
    * rewrites its own partition) and returns the [[Tick]]; [[stage]];
    * the tick's check over the staged bytes; [[seal]]; and only then
    * do the carried frames advance, so an in-JVM retry recomputes from
    * the pre-tick state. Every carried name must be staged each tick —
    * the carried state IS the snapshot.
    *
    * Cost: at construction, one `localCheckpoint` per initial frame,
    * or one schema-inference job per restored frame; per tick, no
    * Spark job beyond what `step` runs, the stage writes and the
    * check — each re-read takes the staged frame's schema. */
  def sink(source: DataFrame, outPath: String, checkpointDir: String,
           initial: Seq[(String, DataFrame)])(
      step: (DataFrame, Long, Map[String, DataFrame]) => Tick): StreamingQuery = {
    val spark = source.sparkSession
    bind(spark, outPath, checkpointDir)
    val from = latestTick(spark, outPath)
    var carried: Map[String, DataFrame] = initial.map { case (name, df) =>
      name -> from.fold(df.localCheckpoint(false))(snapshot(spark, outPath, _, name))
    }.toMap
    source.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, tick: Long) =>
        if (!batch.isEmpty && !isCommitted(spark, outPath, tick)) {
          val t = step(batch, tick, carried)
          val staged = t.staged.toMap
          val unstaged = carried.keySet -- staged.keySet
          require(unstaged.isEmpty,
            s"TickCommit: tick $tick under $outPath stages no ${unstaged.mkString(", ")}")
          stage(spark, outPath, tick, t.staged)
          val persisted = staged.map { case (name, df) =>
            name -> snapshot(spark, outPath, tick, name, Some(df.schema)) }
          t.check(persisted)
          seal(spark, outPath, tick)
          carried = persisted.filter { case (name, _) => carried.contains(name) }
        }
        ()
      }
      .start()
  }

  /** Frame `name` of tick N's snapshot — every snapshot read goes
    * through here. With the schema the frame was staged with, the read
    * runs no Spark job; without it (a restart, a reader) the schema is
    * inferred, which does. */
  private def snapshot(spark: SparkSession, outPath: String, tick: Long,
                       name: String, schema: Option[StructType] = None): DataFrame =
    schema.fold(spark.read)(spark.read.schema).parquet(s"${snapDir(outPath, tick)}/$name")

  private def fsOf(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Snapshot directory for one tick. */
  def snapDir(outPath: String, tick: Long): String =
    s"$outPath/snap/tick=$tick"

  private def marker(outPath: String, tick: Long): Path =
    new Path(snapDir(outPath, tick), "_COMMITTED")

  /** True iff tick N sealed — the replayed-tick skip guard. */
  def isCommitted(spark: SparkSession, outPath: String, tick: Long): Boolean = {
    val m = marker(outPath, tick)
    fsOf(spark, m).exists(m)
  }

  /** Bind an outPath to the checkpoint directory that numbers its
    * ticks — called once, by [[sink]]'s constructor. Closes the hole the
    * backwards-seal guard cannot see: a fresh-checkpoint restart
    * whose batch ids collide with the old run's high-water tick is
    * silently SKIPPED by [[isCommitted]] (the batch's data is lost
    * with no error) and its next tick seals cleanly above, so the
    * misconfiguration never surfaces. Recording the checkpoint dir in
    * a `run_binding` file turns that into a loud construction-time
    * error: same checkpoint → resume as normal; different checkpoint
    * over live committed ticks (≥ 0) → throw with the
    * [[resumeInto]] remedy; different checkpoint over only a seed
    * tick (−1, what resumeInto plants) → rebind to the new run. */
  private def bind(spark: SparkSession, outPath: String, checkpointDir: String): Unit = {
    val p = new Path(s"$outPath/run_binding")
    val fs = fsOf(spark, p)
    def write(): Unit = {
      val out = fs.create(p, true)
      out.write(checkpointDir.getBytes("UTF-8")); out.close()
    }
    if (!fs.exists(p)) write()
    else {
      val in = fs.open(p)
      val bound = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      if (bound != checkpointDir) {
        if (latestTick(spark, outPath).exists(_ >= 0L))
          throw new IllegalStateException(
            s"TickCommit: $outPath is bound to checkpoint '$bound' but this " +
            s"sink was constructed with checkpoint '$checkpointDir'. A fresh " +
            "checkpoint restarts tick numbering at 0 — ticks colliding with " +
            "the old run's are silently skipped as replays (data loss). " +
            "Resume the original checkpoint, or seed a fresh outPath via " +
            "TickCommit.resumeInto.")
        write() // only a resumeInto seed (tick −1) committed: adopt the new run
      }
    }
  }

  /** Write the tick's frames under its snapshot directory — NO marker
    * yet, so a crash mid-stage leaves the tick invisible. */
  def stage(spark: SparkSession, outPath: String, tick: Long,
            frames: Seq[(String, DataFrame)]): Unit = {
    val dir = snapDir(outPath, tick)
    frames.foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$dir/$name")
    }
  }

  /** Create the marker (the commit point), then prune every older
    * snapshot directory — committed predecessors and aborted stage
    * leftovers alike are dead once tick N is durable.
    *
    * Refuses to seal BACKWARDS (ADVICE r17): [[latestTick]] takes the
    * max and prune is strictly-below, so tick ids must grow
    * monotonically for the outPath's lifetime. Restarting a query
    * with a FRESH checkpoint directory (batch ids restart at 0)
    * against an existing outPath would otherwise leave the old run's
    * higher tick permanently authoritative — readLatest keeps serving
    * the stale snapshot while new seals never prune it. The throw
    * turns that silent stale-serve into a loud misconfiguration
    * error: resume the original checkpoint, or take a fresh outPath. */
  def seal(spark: SparkSession, outPath: String, tick: Long): Unit = {
    latestTick(spark, outPath).filter(_ > tick).foreach { latest =>
      throw new IllegalStateException(
        s"TickCommit: refusing to seal tick=$tick under $outPath — " +
        s"tick=$latest is already committed. A fresh checkpoint dir " +
        "restarts tick numbering at 0 and must not interleave with an " +
        "old run's ticks: resume the original checkpoint, or point the " +
        "restarted query at a fresh outPath (seeding it from " +
        "readLatest of the old one).")
    }
    val m = marker(outPath, tick)
    fsOf(spark, m).create(m, true).close()
    val root = new Path(s"$outPath/snap")
    val f = fsOf(spark, root)
    if (f.exists(root)) f.listStatus(root).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith("tick=") && n.stripPrefix("tick=").toLong < tick)
        f.delete(st.getPath, true)
    }
  }

  /** Largest committed tick, if any — aborted stages are skipped. */
  def latestTick(spark: SparkSession, outPath: String): Option[Long] = {
    val root = new Path(s"$outPath/snap")
    val f = fsOf(spark, root)
    if (!f.exists(root)) None
    else f.listStatus(root).toSeq.map(_.getPath.getName)
      .collect { case s if s.startsWith("tick=") => s.stripPrefix("tick=").toLong }
      .filter(t => isCommitted(spark, outPath, t))
      .sorted.lastOption
  }

  /** One store from the latest COMMITTED snapshot — how a reader sees
    * a sink's current state ([[sink]] restores from the same tick). */
  def readLatest(spark: SparkSession, outPath: String,
                 name: String): Option[DataFrame] =
    latestTick(spark, outPath).map(snapshot(spark, outPath, _, name))

  /** Seed a FRESH outPath from another run's latest committed
    * snapshot — the remedy [[seal]]'s backwards-refusal prescribes,
    * mechanized: a query restarted with a fresh checkpoint (batch ids
    * back at 0) takes a new outPath, and this copies every frame of
    * `fromOut`'s authoritative tick there, sealed at tick -1, so
    * (a) [[readLatest]] on the new path serves the carried state
    * immediately, before the first new tick lands, and (b) the new
    * run's tick 0 seals strictly above the seed. Refuses a target
    * that already has committed ticks ≥ 0 (seeding into a LIVE run is
    * the same interleaving hazard the seal guard closes). Returns the
    * tick the seed was taken from. Cost: one read+write per frame of
    * one snapshot — the same bytes a tick write pays. */
  def resumeInto(spark: SparkSession, fromOut: String, toOut: String): Long = {
    val t = latestTick(spark, fromOut).getOrElse(throw new IllegalStateException(
      s"TickCommit: nothing to resume — no committed tick under $fromOut"))
    latestTick(spark, toOut).filter(_ >= 0L).foreach { busy =>
      throw new IllegalStateException(
        s"TickCommit: refusing to seed $toOut — tick=$busy is already " +
        "committed there; resume targets must be fresh outPaths.")
    }
    val dir = new Path(snapDir(fromOut, t))
    val fs = fsOf(spark, dir)
    val frames = fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(_ != "_COMMITTED")
    stage(spark, toOut, -1L, frames.map(n => n -> snapshot(spark, fromOut, t, n)))
    seal(spark, toOut, -1L)
    t
  }
}
