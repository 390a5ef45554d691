package graft.engine

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, StreamingQuery}
import org.apache.spark.sql.types.StructType

import Exact._
import TickCommit.Tick

/** Event-time windowing over the `events` table — SURVEY §2.9.
  *
  * The reference has no streaming (its ingest is a driver-side REST
  * poll, app/ml_app.py:406-531); these are the Structured Streaming
  * re-expressions the scale path needs. Each windowed aggregation is
  * defined once over a DataFrame, so the identical code runs in batch
  * mode (oracle-comparable) and under `readStream` (watermarked,
  * incremental state) — batch==stream equivalence is asserted in
  * StreamingSpec.
  */
object StreamOps {

  /** Tumbling 10-minute window per event type. */
  def tumbling(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), decSum(col("value")).as("sum_value"))
      .select(col("window.start").as("win_start"), col("window.end").as("win_end"),
              col("event_type"), col("n_events"), col("sum_value"))
      .orderBy(col("win_start"), col("event_type"))

  /** Sliding window: 10-minute length, 5-minute slide — each event
    * contributes to exactly two windows. */
  def sliding(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), decSum(col("value")).as("sum_value"))
      .select(col("window.start").as("win_start"), col("window.end").as("win_end"),
              col("event_type"), col("n_events"), col("sum_value"))
      .orderBy(col("win_start"), col("event_type"))

  /** Session windows with a 5-minute inactivity gap per user.
    * Spark semantics: a session is [first_ts, last_ts + gap); an event
    * at exactly prev_ts + gap starts a new session. */
  def sessions(events: DataFrame): DataFrame =
    events
      .groupBy(session_window(col("ts"), "5 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), decSum(col("value")).as("sum_value"))
      .select(col("session_window.start").as("session_start"),
              col("session_window.end").as("session_end"),
              col("user_id"), col("n_events"), col("sum_value"))
      .orderBy(col("user_id"), col("session_start"))

  /** Watermarked streaming source over the events parquet. Schema as
    * stored (LongType nanos under nanosAsLong, or TIMESTAMP_NTZ for
    * the unadjusted-micros shape); `Tables.normalizeEventTs` runs
    * inside the stream — same normalization as the batch path, so the
    * watermark always sees event-time TimestampType. FileStreamSource
    * wants a directory; scope it to the events file with a glob
    * filter. */
  private def eventStream(spark: SparkSession, sfDir: String): DataFrame = {
    val raw: StructType = spark.read.parquet(s"$sfDir/events.parquet").schema
    val source = spark.readStream.schema(raw)
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir)
    Tables.normalizeEventTs(source)
  }

  /** The streaming form of [[tumbling]]: watermark + append-mode
    * windowed aggregation into a named memory sink. State per window
    * is bounded by the watermark — late data beyond 10 minutes is
    * dropped, closed windows are evicted. */
  def streamingTumbling(spark: SparkSession, sfDir: String, sinkName: String): StreamingQuery = {
    val stream = eventStream(spark, sfDir)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), decSum(col("value")).as("sum_value"))
      .select(col("window.start").as("win_start"), col("window.end").as("win_end"),
              col("event_type"), col("n_events"), col("sum_value"))
    stream.writeStream
      .outputMode("append")
      .format("memory")
      .queryName(sinkName)
      .start()
  }

  /** The streaming form of [[sessions]]: watermarked session windows,
    * append mode — a session is emitted once the watermark passes its
    * end (last event + gap), so session state is bounded even with
    * unbounded users. Identical aggregation to the batch form;
    * equivalence on the emitted subset is asserted in StreamingSpec. */
  def streamingSessions(spark: SparkSession, sfDir: String, sinkName: String): StreamingQuery = {
    val stream = eventStream(spark, sfDir)
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "5 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), decSum(col("value")).as("sum_value"))
      .select(col("session_window.start").as("session_start"),
              col("session_window.end").as("session_end"),
              col("user_id"), col("n_events"), col("sum_value"))
    stream.writeStream
      .outputMode("append")
      .format("memory")
      .queryName(sinkName)
      .start()
  }

  /** Streaming exact dedup: drop re-delivered event ids, with the
    * dedup state BOUNDED by the watermark — the streaming form of the
    * training-pipeline's exact dedup (an id re-sent within the
    * horizon is dropped; state for ids older than the watermark is
    * evicted, so memory is O(events per horizon), not O(stream)).
    * Applies to any keyed stream; asserted on re-delivered ids in
    * StreamingSpec. */
  def streamingDedup(events: DataFrame, idCols: Seq[String],
                     tsCol: String = "ts", delay: String = "10 minutes"): DataFrame =
    events
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(idCols)

  /** Watermarked stream-stream interval join — the attribution shape:
    * clicks joined to the same user's impressions within a bounded
    * look-back window. BOTH sides carry watermarks and the join
    * condition bounds event time in BOTH directions, which is exactly
    * what lets Structured Streaming evict each side's buffered rows
    * once the other side's watermark clears the interval — state stays
    * bounded on unbounded streams. Inputs: impressions(imp_user,
    * imp_id, imp_ts), clicks(click_user, click_id, click_ts).
    * Batch==stream equivalence is asserted in StreamingSpec. */
  def impressionClickJoin(impressions: DataFrame, clicks: DataFrame,
                          lookback: String = "10 minutes"): DataFrame =
    impressions.withWatermark("imp_ts", lookback)
      .join(clicks.withWatermark("click_ts", lookback),
        expr(s"""imp_user = click_user
                 AND click_ts >= imp_ts
                 AND click_ts <= imp_ts + interval $lookback"""))

  /** Stream-static enrichment join — the standard streaming dimension
    * lookup: every micro-batch of the stream inner-joins the (small)
    * static dimension, explicitly broadcast so no batch ever shuffles
    * the stream side. The static plan is re-evaluated per batch, so a
    * refreshed dim table is picked up without restarting the query.
    * Batch==stream row equivalence is asserted in StreamingSpec. */
  def enrich(stream: DataFrame, dim: DataFrame, keys: Seq[String]): DataFrame =
    stream.join(broadcast(dim), keys)

  /** Threshold alerts via flatMapGroupsWithState — the 0..n-outputs
    * stateful shape (mapGroupsWithState emits exactly one row per
    * touched group per batch; this emits one row per THRESHOLD
    * CROSSING, which can be none or several): state is the user's
    * running total, and each batch emits an alert row for every
    * multiple of `threshold` the total crossed. StreamingSpec asserts
    * the emitted alerts equal the batch-computed crossings. */
  def thresholdAlerts(events: Dataset[(Long, Double)],
                      threshold: Double): Dataset[(Long, Long, Double)] = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    events
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[(Long, Double)], state: GroupState[Double]) =>
          val before = state.getOption.getOrElse(0.0)
          val after = before + rows.map(_._2).sum
          state.update(after)
          val firstLevel = math.floor(before / threshold).toLong + 1
          val lastLevel = math.floor(after / threshold).toLong
          (firstLevel to lastLevel).iterator.map(level => (user, level, after))
      }
  }

  /** Arbitrary stateful processing (SURVEY brief: custom state via
    * mapGroupsWithState): running per-user (count, sum) maintained in
    * a typed GroupState across micro-batches, emitting the updated
    * totals each batch. The state is one fixed-size tuple per user —
    * at 100 TB the state store shards by the group key like any keyed
    * aggregation. Equivalence with the batch aggregate over the same
    * fed data is asserted in StreamingSpec. */
  def runningUserTotals(events: Dataset[(Long, Double)]): Dataset[(Long, Long, Double)] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[(Long, Double)], state: GroupState[(Long, Double)]) =>
          var (n, s) = state.getOption.getOrElse((0L, 0.0))
          rows.foreach { r => n += 1; s += r._2 }
          state.update((n, s))
          (user, n, s)
      }
  }

  /** Insert one event (epoch micros) into a time-ordered session
    * buffer, merging the neighbours it bridges — the late-data-correct
    * core the two watermark-buffered session streams share (ADVICE
    * r15). An event inside an existing session's span only increments
    * its count; one in a gap extends a neighbour, MERGES two sessions
    * it simultaneously joins, or opens a new session between them.
    * Adding events can never split a session, so (start, end, n)
    * summaries are sufficient state — no event retention. `splitGe`
    * selects the family's split law: q280 packing splits on
    * d ≥ gap, q33 [[EventOps.sessionize]] on d > gap. */
  private def insertSessionEvent(
      buf: scala.collection.mutable.ArrayBuffer[(Long, Long, Long)],
      t: Long, gapUs: Long, splitGe: Boolean): Unit = {
    def joins(d: Long): Boolean = if (splitGe) d < gapUs else d <= gapUs
    var i = 0
    while (i < buf.length && buf(i)._1 <= t) i += 1
    val p = i - 1 // nearest session starting at or before t, if any
    val joinsPrev = p >= 0 && (t <= buf(p)._2 || joins(t - buf(p)._2))
    val joinsNext = i < buf.length && joins(buf(i)._1 - t)
    if (joinsPrev && joinsNext) {
      val (ps, pe, pn) = buf(p); val (_, ne, nn) = buf(i)
      buf(p) = (ps, math.max(pe, ne), pn + nn + 1)
      buf.remove(i)
    } else if (joinsPrev) {
      val (ps, pe, pn) = buf(p); buf(p) = (ps, math.max(pe, t), pn + 1)
    } else if (joinsNext) {
      val (_, ne, nn) = buf(i); buf(i) = (t, ne, nn + 1)
    } else buf.insert(i, (t, t, 1L))
  }

  /** Streaming sessionization with EVENT-TIME state expiry — the
    * stateful shape the other custom-state ops don't exercise:
    * `GroupStateTimeout.EventTimeTimeout`, where the WATERMARK (not
    * processing time, not a new event) finalizes a session. State per
    * user is the emitted-session counter plus a time-ordered buffer of
    * UNFINALIZED session summaries (start, end, n): each batch folds
    * its events into the buffer ([[insertSessionEvent]] — an
    * out-of-order event still within the watermark delay lands in,
    * extends, or MERGES the closed-but-unwatermarked sessions it
    * belongs to, which an inline gap-jump emission could never take
    * back), then a session emits exactly once, in start order, when
    * the watermark passes its end + gap — only then can no admissible
    * event still reach it, because Spark drops input older than the
    * watermark (ADVICE r15: the previous inline-close form corrupted
    * the successor session on such late data). A timeout re-arms at
    * the EARLIEST buffered end + gap, so a quiet user's sessions
    * still close without another event ever arriving.
    *
    * State is bounded by the watermark-delay window: at most
    * ⌈delay/gap⌉ + 1 session summaries per user, O(1) amortized.
    * Output rows match batch [[EventOps.sessionize]]'s (user_id,
    * session_id, n_events, start, duration) in epoch micros;
    * stream ≡ batch is asserted in StreamingSpec including
    * out-of-order cross-batch late data within the delay. */
  def streamingSessionize(events: DataFrame, gapMinutes: Int = 30,
                          watermarkDelay: String = "10 minutes")
      : Dataset[(Long, Long, Long, Long, Long)] = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    val gapUs = gapMinutes * 60L * 1000000L
    val gapMs = gapMinutes * 60L * 1000L
    def us(t: java.sql.Timestamp): Long = t.getTime * 1000 + (t.getNanos / 1000) % 1000
    events
      .withWatermark("ts", watermarkDelay)
      .select(col("user_id").cast("long"), col("event_id").cast("long"), col("ts"))
      .as[(Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[(Long, Long, java.sql.Timestamp)],
         state: GroupState[(Long, Seq[(Long, Long, Long)])]) =>
          var (seq, saved) = state.getOption.getOrElse((0L, Seq.empty[(Long, Long, Long)]))
          val buf = scala.collection.mutable.ArrayBuffer(saved: _*)
          if (!state.hasTimedOut)
            rows.foreach(r => insertSessionEvent(buf, us(r._3), gapUs, splitGe = false))
          val wm = state.getCurrentWatermarkMs()
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long, Long)]
          // emit-in-order: only the buffer HEAD can be final — a later
          // event may still merge two buffered successors, so nothing
          // but the watermark finalizes a session
          while (buf.nonEmpty && wm >= buf.head._2 / 1000 + gapMs + 1) {
            val (st, en, n) = buf.remove(0)
            seq += 1
            out += ((user, seq, n, st, en - st))
          }
          state.update((seq, buf.toSeq))
          if (buf.nonEmpty)
            state.setTimeoutTimestamp(
              math.max(buf.head._2 / 1000 + gapMs + 1, wm + 1))
          out.iterator
      }
  }

  /** STREAMING conversation packing — q280 live:
    * [[TemporalOps.sessionPackManifest]] as the events arrive.
    * Per-user state extends [[streamingSessionize]]'s watermark
    * buffer with the PACKED MASS (cum_before): conversations fold
    * into a time-ordered buffer of (start, end, n) summaries
    * ([[insertSessionEvent]], split on ≥ gap — the pack family's law,
    * vs q33's strict >), and a conversation finalizes ONLY when the
    * watermark passes its end + gap — never inline on a gap-jump, so
    * an out-of-order event still inside the watermark delay folds
    * into the closed-but-unwatermarked conversation it belongs to (or
    * merges two of them) instead of corrupting the newer open session
    * (ADVICE r15). Only at finalization does the manifest row emit —
    * the packing offsets depend on every earlier conversation of the
    * user, and finalize-in-order makes each row exact-once and
    * immutable (a buffered conversation's slot assignment can still
    * grow; a finalized one never changes, which is what a downstream
    * shard writer needs). Emitted rows replay the q105 law from the
    * carried cum: (user_id, session_id, n_events, start_seq, end_seq,
    * tok_offset). State is bounded by ⌈delay/gap⌉ + 1 summaries per
    * user. Stream ≡ batch on the finalized subset is asserted in
    * StreamingSpec row-for-row against the batch manifest, including
    * late out-of-order arrivals into already-closed conversations. */
  def streamingSessionPack(events: DataFrame, gapMinutes: Int = 5,
                           seqLen: Int = 64,
                           watermarkDelay: String = "10 minutes")
      : Dataset[(Long, Long, Long, Long, Long, Long)] = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    val gapUs = gapMinutes * 60L * 1000000L
    val gapMs = gapMinutes * 60L * 1000L
    val sl = seqLen.toLong
    def us(t: java.sql.Timestamp): Long = t.getTime * 1000 + (t.getNanos / 1000) % 1000
    events
      .withWatermark("ts", watermarkDelay)
      .select(col("user_id").cast("long"), col("event_id").cast("long"), col("ts"))
      .as[(Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[(Long, Long, java.sql.Timestamp)],
         state: GroupState[(Long, Long, Seq[(Long, Long, Long)])]) =>
          // (emitted ordinal, packed mass, unfinalized session buffer)
          var (seq, cum, saved) =
            state.getOption.getOrElse((0L, 0L, Seq.empty[(Long, Long, Long)]))
          val buf = scala.collection.mutable.ArrayBuffer(saved: _*)
          if (!state.hasTimedOut)
            rows.foreach(r => insertSessionEvent(buf, us(r._3), gapUs, splitGe = true))
          val wm = state.getCurrentWatermarkMs()
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(Long, Long, Long, Long, Long, Long)]
          while (buf.nonEmpty && wm >= buf.head._2 / 1000 + gapMs + 1) {
            val (_, _, n) = buf.remove(0)
            seq += 1
            out += ((user, seq, n, cum / sl, (cum + n - 1) / sl, cum % sl))
            cum += n
          }
          state.update((seq, cum, buf.toSeq))
          if (buf.nonEmpty)
            state.setTimeoutTimestamp(
              math.max(buf.head._2 / 1000 + gapMs + 1, wm + 1))
          out.iterator
      }
  }

  /** Streaming last-touch attribution — [[EventOps.lastTouchAttribution]]
    * as the purchase lands: per-user state is ONE (ts_us, event_id,
    * type) triple — the latest marketing event seen so far (a
    * CARRY-LATEST state shape, unlike the count/sum states of the
    * other custom-state ops) — marketing events update it, purchases
    * read it and emit their credit immediately. Attribution latency
    * drops from "next batch job" to one micro-batch, state is O(1)
    * per user forever (overwritten, never grown), and the verdict for
    * an in-order feed is identical to the batch window form —
    * asserted stream≡batch in StreamingSpec (unattributed purchases
    * emit attr_id −1, the test's null encoding). Within a batch the
    * per-user slice sorts on (ts_us, event_id) — the same
    * order-restoration contract as the other stateful forms. */
  def streamingLastTouch(events: Dataset[(Long, Long, Long, String)])
      : Dataset[(Long, Long, Long, Long, String)] = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    events
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[(Long, Long, Long, String)],
         state: GroupState[(Long, Long, String)]) =>
          var mkt = state.getOption
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long, String)]
          rows.toSeq.sortBy(r => (r._3, r._2)).foreach { case (_, id, tUs, typ) =>
            typ match {
              case "view" | "click" => mkt = Some((tUs, id, typ))
              case "purchase" =>
                out += (mkt match {
                  case Some((mUs, mId, mTyp)) => (user, id, mId, tUs - mUs, mTyp)
                  case None                   => (user, id, -1L, -1L, "")
                })
              case _ => ()
            }
          }
          mkt.foreach(state.update)
          out.iterator
      }
  }

  /** Streaming next-event transitions —
    * [[graft.engine.EventOps.eventTransitions]] as events land: per
    * user the state is ONE string (the previous event type), each
    * arriving event emits its (prev → cur) edge and becomes the new
    * state, so the live transition matrix is a rollup over the sink
    * that equals the batch lead-window form for an in-order feed
    * (asserted across a micro-batch split in StreamingSpec — the
    * cross-batch edge is exactly what the carried state preserves).
    * Same order-restoration contract within a batch as the other
    * stateful forms; state never grows. */
  def streamingTransitions(events: Dataset[(Long, Long, Long, String)])
      : Dataset[(String, String, Long, Long)] = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    events
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[(Long, Long, Long, String)],
         state: GroupState[String]) =>
          var prev = state.getOption
          val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long, Long)]
          rows.toSeq.sortBy(r => (r._3, r._2)).foreach { case (_, id, _, typ) =>
            prev.foreach(p => out += ((p, typ, user, id)))
            prev = Some(typ)
          }
          prev.foreach(state.update)
          out.iterator
      }
  }

  /** Streaming ordered funnel — [[graft.engine.EventOps.funnel]]'s
    * view→click→purchase stage flags maintained INCREMENTALLY: per
    * user the state is three booleans ("reached stage k yet"), each
    * arriving event can flip at most the next unreached flag, and the
    * flip emits a first-reach record (user, stage, event_id, ts_us) —
    * so the live funnel dashboard is a trivial rollup over the sink
    * (COUNT(DISTINCT user) per stage ≡ the batch funnel's stage
    * counts, asserted in StreamingSpec across a micro-batch split).
    * State is O(1) per user forever and never grows with events;
    * within a batch the per-user slice restores (ts_us, event_id)
    * order, the same contract as the other stateful forms. */
  def streamingFunnel(events: Dataset[(Long, Long, Long, String)])
      : Dataset[(Long, Int, Long, Long)] = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    events
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[(Long, Long, Long, String)],
         state: GroupState[(Boolean, Boolean, Boolean)]) =>
          var (s1, s2, s3) = state.getOption.getOrElse((false, false, false))
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long, Long)]
          rows.toSeq.sortBy(r => (r._3, r._2)).foreach { case (_, id, tUs, typ) =>
            typ match {
              case "view" if !s1                 => s1 = true; out += ((user, 1, id, tUs))
              case "click" if s1 && !s2          => s2 = true; out += ((user, 2, id, tUs))
              case "purchase" if s2 && !s3       => s3 = true; out += ((user, 3, id, tUs))
              case _                             => ()
            }
          }
          state.update((s1, s2, s3))
          out.iterator
      }
  }

  /** Streaming daily-spike detector —
    * [[graft.engine.EventOps.dailySpikes]] maintained as events land:
    * per event TYPE the state is the accumulating current day's count
    * plus a ring of the last `window` CLOSED days' counts, so a day's
    * verdict (count · trailing_days > factor · Σtrailing — the same
    * integer cross-multiplication, no fp mean anywhere) is emitted
    * the moment a newer day's first event closes it. A day spanning
    * micro-batches accumulates across them — only day TRANSITIONS
    * emit, which is why the sink equals the batch rollup on every
    * CLOSED day regardless of where the feed was split (asserted in
    * StreamingSpec; the still-open last day per type is exactly the
    * batch-minus-stream difference, as with any monitoring view that
    * only alerts on complete days). State is O(window) per type
    * forever; the in-order feed contract and within-batch
    * (ts_us, event_id) order restoration match the other stateful
    * forms — a day older than the open one is dropped, the
    * watermark-analogue lateness policy. */
  def streamingSpikes(events: Dataset[(Long, Long, Long, String)],
                      window: Int = 7, factor: Int = 2)
      : Dataset[(String, Long, Long, Long, Long, Boolean)] = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    val dayUs = 86400000000L
    events
      .groupByKey(_._4)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (typ: String, rows: Iterator[(Long, Long, Long, String)],
         state: GroupState[(Long, Long, List[(Long, Long)])]) =>
          var (curDay, curN, hist) =
            state.getOption.getOrElse((Long.MinValue, 0L, List.empty[(Long, Long)]))
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(String, Long, Long, Long, Long, Boolean)]
          def close(): Unit = if (curDay != Long.MinValue) {
            val trailingN = hist.map(_._2).sum
            val trailingDays = hist.size.toLong
            out += ((typ, curDay, curN, trailingN, trailingDays,
              trailingDays > 0 && curN * trailingDays > trailingN * factor))
            hist = (hist :+ (curDay, curN)).takeRight(window)
          }
          rows.toSeq.sortBy(r => (r._3, r._2)).foreach { case (_, _, tUs, _) =>
            val d = tUs / dayUs
            if (d == curDay) curN += 1
            else if (d > curDay) { close(); curDay = d; curN = 1 }
            // d < curDay: late beyond the open day — dropped
          }
          state.update((curDay, curN, hist))
          out.iterator
      }
  }

  /** Streaming budget-gated admission —
    * [[graft.engine.CorpusOps.budgetAdmission]] as data lands: the
    * allocation table (source-dimension, driver-held — the q228
    * water-fill output) rides into the state function as a plain map,
    * per-source state is ONE long (tokens consumed so far), and each
    * arriving doc emits its verdict and advances the count — so a
    * source's feed shuts off mid-stream exactly where the batch form
    * says it should (stream≡batch asserted across a micro-batch split
    * in StreamingSpec, including an allocation exhausted ACROSS the
    * boundary). Unknown sources get budget 0 — reject-by-default.
    * Within a batch the per-source slice restores doc_id order, the
    * family's usual contract; state never grows. */
  def streamingAdmission(docs: Dataset[(String, Long, Long)],
                         alloc: Map[String, Long])
      : Dataset[(String, Long, Long, Long, Boolean)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    docs
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (src: String, rows: Iterator[(String, Long, Long)],
         state: GroupState[Long]) =>
          var cum = state.getOption.getOrElse(0L)
          val budget = alloc.getOrElse(src, 0L)
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(String, Long, Long, Long, Boolean)]
          rows.toSeq.sortBy(_._2).foreach { case (_, id, n) =>
            cum += n
            out += ((src, id, n, cum, cum <= budget))
          }
          state.update(cum)
          out.iterator
      }
  }

  /** Streaming lateness tracker —
    * [[graft.engine.EventOps.latenessAudit]]'s per-event disorder
    * maintained as events LAND: the state is ONE long (the running
    * max event-time over all prior arrivals — the thing a watermark
    * is), each arriving event emits (type, id, disorder_us) and
    * bumps the max, so the live audit is a rollup over the sink that
    * equals the batch audit exactly (asserted across a micro-batch
    * split in StreamingSpec, including a late arrival whose running
    * max carried over the boundary). The group key is GLOBAL by
    * q225's semantics — disorder is measured against all strictly
    * earlier arrivals of ANY type, and arrival order is inherently
    * serial at the ingest point, so the single O(1)-state group IS
    * the live form; the sub-sharded batch audit is the parallel
    * REPROCESSING form over a landed log. Within a batch the slice
    * restores arrival (event_id) order, matching the batch form's
    * prefix frame. */
  def streamingLateness(events: Dataset[(Long, Long, Long, String)])
      : Dataset[(String, Long, Long)] = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    events
      .groupByKey(_ => 0)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: Int, rows: Iterator[(Long, Long, Long, String)],
         state: GroupState[Long]) =>
          var runMax = state.getOption.getOrElse(Long.MinValue)
          val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
          rows.toSeq.sortBy(_._2).foreach { case (_, id, tUs, typ) =>
            val disorder =
              if (runMax == Long.MinValue) 0L else math.max(0L, runMax - tUs)
            out += ((typ, id, disorder))
            runMax = math.max(runMax, tUs)
          }
          state.update(runMax)
          out.iterator
      }
  }

  /** Streaming sequence packing — [[graft.engine.CorpusOps.packSequences]]
    * as continuous data prep: documents arrive as (lang, doc_id,
    * n_tokens), per-lang state is ONE long (the stream's running token
    * count), and each arriving doc is assigned its training-sequence
    * span incrementally. Sequence ids are stable across micro-batches
    * because the cumsum carries in state, so a restart-from-checkpoint
    * resumes exactly where the stream left off — the property that
    * lets a 100 TB pre-training feed pack as it lands instead of in a
    * terminal batch job. State is O(1) per stream key; within a batch,
    * group rows are packed in doc_id order (the stream's order
    * contract; equality with the batch form over the same fed data is
    * asserted in StreamingSpec). Zero-token docs carry nothing. */
  def packSequencesStream(docs: Dataset[(String, Long, Long)], seqLen: Int = 2048)
      : Dataset[(String, Long, Long, Long, Long, Long, Long)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    docs
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (lang: String, rows: Iterator[(String, Long, Long)], state: GroupState[Long]) =>
          var cum = state.getOption.getOrElse(0L)
          // bounded: one micro-batch of one group; sort restores the
          // stream-order contract within the batch
          val packed = rows.toSeq.sortBy(_._2).filter(_._3 > 0).map { case (_, id, n) =>
            val start = cum / seqLen
            val off = cum % seqLen
            cum += n
            val end = (cum - 1) / seqLen
            (lang, id, n, start, end, off, end - start + 1)
          }
          state.update(cum)
          packed.iterator
      }
  }

  /** Streaming incremental near-dedup —
    * [[DedupOps.incrementalNearDedupFromSigs]] (q109) moved to WHERE IT
    * BELONGS in production: the landing zone. Each micro-batch of
    * arriving documents is minhash-signed once and band-probed against
    * the STORED corpus sketch table (the [[DedupOps.docSketchesFor]]
    * shape: sketches computed at ingest, never re-derived from history
    * text), and the per-doc verdicts (doc_id, n_dup_of,
    * kept) append to the verdict sink — so near-duplicates of the
    * corpus are flagged as data lands instead of in a terminal batch
    * job (the reference's only ingest is a driver-side REST poll —
    * reference: app/ml_app.py:415-520 — with no landing-zone
    * hygiene at all; this is what that path needs at corpus scale).
    * foreachBatch (the q80 maintenance pattern) because the probe
    * is a join + aggregate per batch, not a running windowed state:
    * the only cross-batch state is the checkpoint's source offsets,
    * exactly-once via the sink's file log. Batch×history topology
    * inherits [[DedupOps.incrementalNearDedupFromSigs]] wholesale —
    * bucket caps both sides, cost scales with the BATCH, and
    * stream≡batch vs the q109 output across a micro-batch boundary is
    * asserted in StreamingSpec (the split point cannot matter: each
    * doc's verdict depends only on (doc, store)). Growing the store as
    * kept docs land is the natural composition — append the batch's
    * kept sigs to the sketch table in the same foreachBatch — left to
    * the caller because it changes the semantics from q109's fixed
    * history to a monotone one. */
  /** STREAMING quality gate — [[TextOps.repetitionRuleFilter]] moved
    * to the landing zone: each arriving micro-batch is gated as it
    * lands and the per-doc verdict rows append to the verdict sink,
    * so gate accounting (q116's rollup) is maintainable continuously
    * over the sink instead of by a terminal batch job over the
    * corpus. The gate is stateless per document (every signal is a
    * pure row projection), so foreachBatch carries no cross-batch
    * state beyond the checkpoint's source offsets — the micro-batch
    * split point cannot change any verdict, asserted stream≡batch in
    * StreamingSpec. Exactly-once via the parquet sink's file log,
    * like the other landing-zone maintenance forms. */
  def streamingGate(docs: DataFrame, outPath: String,
                    checkpointDir: String): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, tick: Long) =>
        // tick-partitioned overwrite: an at-least-once replay rewrites
        // its own partition instead of appending duplicate rows
        if (!batch.isEmpty)
          TextOps.repetitionRuleFilter(batch)
            .write.mode("overwrite").parquet(s"$outPath/tick=$tick")
        ()
      }
      .start()

  def streamingNearDedup(docs: DataFrame, storedSigs: DataFrame,
                         outPath: String, checkpointDir: String): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, tick: Long) =>
        if (!batch.isEmpty) {
          val sigs = DedupOps.minhashSignatures(batch).localCheckpoint(false)
          DedupOps.incrementalNearDedupFromSigs(
              batch.select(col("doc_id")), sigs, storedSigs)
            .write.mode("overwrite").parquet(s"$outPath/tick=$tick")
        }
        ()
      }
      .start()

  /** STREAMING IVF assignment — q235's append path as a landing-zone
    * stream: each micro-batch of new vectors assigns to the STORED
    * coarse-quantizer centroids (argmin against the broadcast
    * centroid frame — never a re-fit) and appends (vec_id, list_id)
    * rows to the assignment sink. Assignment is per-row pure
    * (vector × fixed centroids), so the micro-batch split point
    * cannot change any row — stream ≡ the one-shot batch assignment,
    * asserted in StreamingSpec. State: none (the centroids are the
    * frozen model); exactly-once via the parquet sink's file log. */
  def streamingIvfAssign(vectors: DataFrame, index: SimilarityOps.IvfIndex,
                         outPath: String, checkpointDir: String): StreamingQuery =
    vectors.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, tick: Long) =>
        if (!batch.isEmpty)
          SimilarityOps.ivfIncrementalAssign(index, batch)
            .write.mode("overwrite").parquet(s"$outPath/tick=$tick")
        ()
      }
      .start()

  /** STREAMING IVF maintenance — q235 live (VERDICT r11 #6): the
    * assignment-append stream of [[streamingIvfAssign]] PLUS the
    * carried per-list count state that makes the imbalance report a
    * standing artifact instead of a batch probe. Each micro-batch of
    * new vectors assigns to the STORED centroids (argmin against the
    * broadcast nLists-row frame — the quantizer is never re-fit),
    * appends (vec_id, list_id) to `outPath/assign`, folds its
    * per-list counts into the carried cumulative-count state, and
    * rewrites the q235-shaped report at `outPath/report` — so a
    * far-cluster batch flags `imbalanced` IN-STREAM, at the tick it
    * lands, not at the next offline audit.
    *
    * Stream ≡ batch by construction: the report is pure arithmetic
    * over per-list COUNTS ([[SimilarityOps.ivfAppendReport]], the
    * exact kernel q235 calls) and counts are additive, so any
    * micro-batch split folds to the one-shot report (StreamingSpec,
    * across a planted far-cluster boundary). State is nLists longs —
    * executor-memory-free at any corpus scale; durable state is the
    * assign sink + the per-tick atomic counts/report snapshot
    * ([[TickCommit.sink]], r18): the old "rebuild counts from
    * `outPath/assign`" restart recipe would double-fold the crashed
    * tick (its assign partition is already written when the tick
    * replays). */
  def streamingIvfMaintain(vectors: DataFrame, index: SimilarityOps.IvfIndex,
                           outPath: String, checkpointDir: String,
                           imbalanceFactor: Long = 2L): StreamingQuery =
    TickCommit.sink(vectors, outPath, checkpointDir, Seq("counts" -> index.centers
        .select(col("c_list_id").cast("long").as("list_id"), lit(0L).as("n_new")))) {
      (batch, tick, st) =>
        val assigned = SimilarityOps.ivfIncrementalAssign(index, batch)
          .localCheckpoint(false) // sink write + count fold
        assigned.write.mode("overwrite").parquet(s"$outPath/assign/tick=$tick")
        val counts = st("counts").unionByName(
            assigned.groupBy(col("list_id")).agg(count(lit(1)).as("n_new")))
          .groupBy(col("list_id"))
          .agg(sum(col("n_new")).cast("long").as("n_new"))
          .localCheckpoint(false) // snapshot write + report
        Tick(Seq("counts" -> counts,
          "report" -> SimilarityOps.ivfAppendReport(index, counts, imbalanceFactor)))
    }

  /** STREAMING IVF re-balance — the q259 applier composed into the
    * maintenance stream (VERDICT r13 #3): [[streamingIvfMaintain]]
    * watches the gate; THIS closes the loop live. Each micro-batch
    * runs [[SimilarityOps.ivfRebalanceApply]] against the CARRIED
    * index: the batch assigns to the current centroids (never a
    * corpus re-fit), any list the tick pushes past the gate is split
    * at the tick boundary (k=2 over ONLY that list's members — zero
    * fits when nothing flags, counted by [[SimilarityOps.rebFits]]),
    * the tick-stamped balance report appends to `outPath/report`, the
    * split events (tick, parent, child) append to `outPath/splits`,
    * and the REPAIRED index is carried into the next tick — so a
    * far-cluster flood is flagged AND healed at its arrival tick, not
    * at the next offline audit.
    *
    * Stream ≡ batch: the applier is index-in/index-out and each tick
    * applies it to the previous tick's output, so the carried index
    * after the ticks equals the batch applier's chain over the same
    * prefix (StreamingSpec, planted flood at a tick boundary).
    *
    * Scale posture: per-tick work is the applier's bound — batch
    * assignment vs nLists broadcast centroids, flagged-member scans
    * pruned to flagged lists, ≤2·flags fitted children. Durable state
    * IS the sinks (ADVICE r15): the carried index snapshots
    * ATOMICALLY per tick via [[TickCommit.sink]] (`snap/tick=N/
    * index_assign` + `index_centers`, marker last — a crash between
    * the two writes must not leave assignments against a different
    * tick's centroids), and a restart resumes from that pair; at
    * 100 TB the assignment relation is the
    * persisted list_id-bucketed table
    * ([[SimilarityOps.ivfIndexFor]]) and a tick's durable write
    * is append(batch rows) + rewrite(flagged lists' partitions) —
    * batch-sized plus split-sized, never a corpus rewrite. */
  def streamingIvfRebalance(vectors: DataFrame, index: SimilarityOps.IvfIndex,
                            outPath: String, checkpointDir: String,
                            imbalanceFactor: Long = 2L): StreamingQuery =
    TickCommit.sink(vectors, outPath, checkpointDir, Seq(
        "index_assign" -> index.assigned, "index_centers" -> index.centers)) {
      (batch, tick, st) =>
        val reb = SimilarityOps.ivfRebalanceApply(carriedIndex(st), batch,
          imbalanceFactor)
        reb.report
          .write.mode("overwrite").parquet(s"$outPath/report/tick=$tick")
        reb.children
          .select(col("parent_list_id"), col("child_list_id"))
          .write.mode("overwrite").parquet(s"$outPath/splits/tick=$tick")
        Tick(Seq(
          "index_assign" -> reb.updated.assigned,
          "index_centers" -> reb.updated.centers))
    }

  /** The IVF index a re-balancing sink carries, from its two frames:
    * the appliers keep `nLists` equal to the number of live centroids
    * (a split adds its live children, a merge drops its lists), so the
    * count of the carried centers IS the list count — one job over
    * the ≤ 2·nLists-row centers snapshot. */
  private def carriedIndex(st: Map[String, DataFrame]): SimilarityOps.IvfIndex =
    SimilarityOps.IvfIndex(st("index_assign"), st("index_centers"),
      st("index_centers").count().toInt)

  /** STREAMING IVF-PQ code maintenance — q256 live (VERDICT r12 #2):
    * the codes-table write path as a standing stream. Each micro-batch
    * of new vectors runs the q256 chain against the two STORED models
    * ([[SimilarityOps.ivfPqIncrementalCodes]]: assign to the stored
    * coarse centroids → residual → encode against the stored residual
    * codebook — broadcast/map-only, never a re-fit), appends the code
    * rows to `outPath/codes`, folds the tick's (list_id, subspace,
    * code) cell counts into the carried cumulative-cell state
    * ([[SimilarityOps.pqCodeCells]] — factored for exactly this), and
    * snapshots the q256-shaped reconciliation report
    * ([[SimilarityOps.ivfPqCellReport]]) with the cells per tick.
    *
    * Stream ≡ batch by construction: the report is pure arithmetic
    * over per-cell COUNTS and counts are additive, so any micro-batch
    * split folds to the one-shot [[SimilarityOps.ivfPqCodeMaintain]]
    * report (StreamingSpec, across a split of the q256 batch). State
    * is ≤ nLists·m·k cell rows (≤1024 here) — index-metadata-sized at
    * any corpus scale; the stored-codes side aggregates ONCE at start
    * (the persisted table is never re-scanned per tick). Durable
    * state is the codes sink + the per-tick atomic cells/report
    * snapshot ([[TickCommit.sink]], r18): the old "rebuild cells from
    * `outPath/codes`" restart recipe would double-fold the crashed
    * tick (its codes partition is already written when the tick
    * replays). */
  def streamingIvfPqCodeMaintain(vectors: DataFrame,
                                 index: SimilarityOps.IvfIndex,
                                 cb: SimilarityOps.PqCodebook,
                                 storedCodes: DataFrame, outPath: String,
                                 checkpointDir: String): StreamingQuery = {
    val before = SimilarityOps.pqCodeCells(storedCodes, cb.m, "n_before")
      .localCheckpoint(false) // every tick's report reads it
    TickCommit.sink(vectors, outPath, checkpointDir, Seq("cells" -> before
        .select(col("list_id"), col("subspace"), col("code"), lit(0L).as("n_new"))
        .filter(lit(false)))) { // start empty; cells appear as ticks land
      (batch, tick, st) =>
        val newCodes = SimilarityOps.ivfPqIncrementalCodes(index, cb, batch)
          .localCheckpoint(false) // sink write + cell fold
        newCodes.write.mode("overwrite")
          .parquet(s"$outPath/codes/tick=$tick")
        val cells = st("cells").unionByName(
            SimilarityOps.pqCodeCells(newCodes, cb.m, "n_new"))
          .groupBy(col("list_id"), col("subspace"), col("code"))
          .agg(sum(col("n_new")).cast("long").as("n_new"))
          .localCheckpoint(false) // snapshot write + report
        Tick(Seq("cells" -> cells,
          "report" -> SimilarityOps.ivfPqCellReport(before, cells)))
    }
  }

  /** STREAMING CDC vector-store maintenance — the whole index
    * lifecycle on one change stream: each micro-batch carries
    * (vec_id, embedding, op ∈ add|del), the CDC shape a production
    * vector store actually ingests. Per tick, in order:
    *   1. DELETES purge the carried index (anti-join — fit-free; the
    *      q270 purge applied to the index artifact);
    *   2. ADDS assign + any list the tick pushed past the over-full
    *      gate splits ([[SimilarityOps.ivfRebalanceApply]] — k=2 over
    *      only that list's members; deletions shrink `total`, so a
    *      del-heavy tick can legitimately fire this too);
    *   3. lists left UNDER the low-water gate merge
    *      ([[SimilarityOps.ivfMergeApply]] — fit-free);
    * and the repaired index carries into the next tick. Sinks:
    * `outPath/ticks` (per-tick n_add/n_del/n_splits/n_merges — the
    * maintenance ledger), `outPath/report` (the post-maintenance
    * balance relation, tick-stamped). Zero fits on any tick where
    * nothing crosses the over-full gate ([[SimilarityOps.rebFits]]);
    * the merge never fits.
    *
    * Scale posture: per-tick cost = one batch-sized anti-join + the
    * two appliers' bounds (flagged-member scans pruned on list_id,
    * broadcast centroid sets); the carried relation is the tick's
    * snapshot locally and the list_id-bucketed table at 100 TB, where
    * a tick's durable write is append(adds) + delete(dels) +
    * rewrite(flagged lists' partitions). Durable state IS the sinks (ADVICE r15): the
    * repaired index (and, when carried, the codes table) snapshots
    * ATOMICALLY per tick via [[TickCommit.sink]] — codes are residuals
    * against the tick's centroid set, so the snapshot pair must never
    * mix ticks; a restart resumes from that snapshot.
    *
    * With `codes`/`cb` supplied, the persisted IVF-PQ codes table is
    * carried too: each tick runs [[SimilarityOps.ivfPqCodesRepair]]
    * against the pre-tick index (deleted rows drop, moved or
    * re-centroided rows re-encode under the UNCHANGED stored
    * codebook, everything else rides verbatim), appends the q288 cell
    * report to `outPath/codes_report`, and snapshots the repaired
    * table to `outPath/codes` — so the compressed q255/q272/q282 read
    * path stays exactly consistent with the tick's centroid set
    * (StreamingSpec asserts codes ≡ a from-scratch encode at a tick
    * that both split and deleted). */
  def streamingIvfCdc(events: DataFrame, index: SimilarityOps.IvfIndex,
                      outPath: String, checkpointDir: String,
                      imbalanceFactor: Long = 2L,
                      underfullFactor: Long = 4L,
                      codes: Option[DataFrame] = None,
                      cb: Option[SimilarityOps.PqCodebook] = None)
      : StreamingQuery = {
    val spark = events.sparkSession
    import spark.implicits._
    // optional COMPRESSED-path maintenance (q288 live): carry the
    // persisted IVF-PQ codes table alongside the index, repairing it
    // through SimilarityOps.ivfPqCodesRepair after every tick's
    // dels/splits/merges — so the q255/q272/q282 serving path reads
    // codes that always match the tick's centroid set, closing the
    // "CDC maintains only the uncompressed index" seam (VERDICT r16).
    TickCommit.sink(events, outPath, checkpointDir, Seq(
        "index_assign" -> index.assigned, "index_centers" -> index.centers) ++
        codes.map("codes" -> _)) { (batch, tick, st) =>
      val cur = carriedIndex(st)
      val b = batch.localCheckpoint(false) // dels + adds + counts
      val dels = b.filter(col("op") === "del")
        .select(col("vec_id")).distinct()
      val adds = b.filter(col("op") === "add")
        .select(col("vec_id"), col("embedding"))
      val afterDel = SimilarityOps.IvfIndex(
        cur.assigned.join(broadcast(dels), Seq("vec_id"), "left_anti"),
        cur.centers, cur.nLists)
      val reb = SimilarityOps.ivfRebalanceApply(
        afterDel, adds, imbalanceFactor)
      val m = SimilarityOps.ivfMergeApply(reb.updated, underfullFactor)
      m.report
        .write.mode("overwrite").parquet(s"$outPath/report/tick=$tick")
      Seq((adds.count(), dels.count(),
          reb.children.select(col("parent_list_id")).distinct().count(),
          m.report.filter(col("merged")).count()))
        .toDF("n_add", "n_del", "n_splits", "n_merges")
        .write.mode("overwrite").parquet(s"$outPath/ticks/tick=$tick")
      // repair the codes table against the PRE-tick index the
      // stored codes were encoded under: deleted rows drop,
      // moved/re-centroided rows re-encode, the rest ride verbatim
      val codesNext = (st.get("codes"), cb) match {
        case (Some(c), Some(book)) =>
          val r = SimilarityOps.ivfPqCodesRepair(c, cur, m.updated, book)
          r.report.write.mode("overwrite")
            .parquet(s"$outPath/codes_report/tick=$tick")
          Some(r.codes)
        case (c, _) => c
      }
      // the THREE carried frames commit ATOMICALLY: codes are
      // residuals against the tick's centroid set, so a crash between
      // the index and codes writes would leave a restart repairing
      // codes against the WRONG "old" centroids (the repair detects
      // staleness by old-vs-new centroid diff — it needs a consistent
      // snapshot pair to diff against)
      Tick(Seq(
        "index_assign" -> m.updated.assigned,
        "index_centers" -> m.updated.centers) ++
        codesNext.map("codes" -> _))
    }
  }

  /** STREAMING takedown — q268/q270 live: right-to-be-forgotten
    * requests arrive as a STREAM of doc ids (the shape a compliance
    * queue actually has), and each tick purges them from the carried
    * artifact stores. Per tick: the tick's removal set broadcasts
    * into one anti-join per store (postings / doc-length / sketch —
    * the q270 purge executed incrementally), a ledger row per
    * artifact writes idempotently to `outPath/ledger/tick=N`
    * (n_removed RECOUNTED as a semi-join against the pre-purge
    * store, so re-submitting an already-purged id is an honest
    * no-op, not a double-count; a replayed at-least-once tick
    * overwrites its own rows), and the purged snapshots rewrite.
    *
    * Stream ≡ batch: anti-joins against disjoint-or-repeated removal
    * sets compose (purging in ticks ≡ one purge of the union), so the
    * final stores equal the one-shot q270 purge over everything
    * streamed — asserted in StreamingSpec, including an
    * already-removed id re-arriving. Durable state is the per-tick
    * ATOMIC store snapshot ([[TickCommit.sink]], r18 — the anti-join
    * algebra made independent overwrites replay-SAFE, but a crash
    * mid-overwrite still corrupted a snapshot: parquet overwrite is
    * delete-then-write, so neither generation was readable; staging
    * under the unsealed tick closes that). Per-tick
    * cost is removal-bounded probes + the successor-store writes a
    * real purge pays anyway. */
  def streamingTakedown(removals: DataFrame, postings: DataFrame,
                        docLengths: DataFrame, sketches: DataFrame,
                        outPath: String, checkpointDir: String): StreamingQuery = {
    val spark = postings.sparkSession
    import spark.implicits._
    TickCommit.sink(removals, outPath, checkpointDir, Seq(
        "postings" -> postings, "doclens" -> docLengths, "sketches" -> sketches)) {
      (batch, tick, st) =>
        val rm = broadcast(batch.select(col("doc_id")).distinct()
          .localCheckpoint(false)) // 3 semi-probes + 3 anti-joins
        // snapshot name -> ledger artifact name
        val stores = Seq("postings" -> "postings", "doclens" -> "doc_lengths",
          "sketches" -> "sketches")
        Tick(stores.map { case (n, _) => n -> st(n).join(rm, Seq("doc_id"), "left_anti") },
          persisted =>
            // tick-IDEMPOTENT ledger (the streamingTakedownServe
            // contract): a replayed at-least-once tick overwrites its
            // own rows instead of appending duplicates
            stores.map { case (n, artifact) => (artifact,
                st(n).join(rm, Seq("doc_id"), "left_semi").count(),
                persisted(n).count()) }
              .toDF("artifact", "n_removed", "n_after")
              .write.mode("overwrite").parquet(s"$outPath/ledger/tick=$tick"))
    }
  }

  /** STREAMING takedown of the q273 REMAINING stores — the ticked
    * twin the batch ledger lacked (VERDICT r15 missing #4): removal
    * ids stream in and each tick folds them out of every carried
    * q273 store by the mechanism its structure allows — the LM count
    * tables DECREMENT ([[TextOps.lmModelSubtract]]), the additive
    * corpus-card state folds out per cell
    * ([[CorpusOps.corpusCardTakedownState]], keeper re-evaluation
    * included), the fingerprint and binary-signature stores
    * anti-join, and the non-decrementable held-out-gram Bloom emits
    * its honest `clean=false` rebuild flag per tick (the q283
    * applier executes it). The tick's ids are first gated against
    * the CUMULATIVE removal queue: unlike anti-joins, the LM
    * decrement is NOT idempotent — re-subtracting a re-submitted id
    * would corrupt counts — so already-purged ids become an honest
    * no-op by construction, and the ledger row proves it (zero
    * deltas).
    *
    * Per tick, one ledger row per artifact writes idempotently to
    * `outPath/ledger/tick=N` with mass-conservation probes (bigram/
    * context occurrence mass decrements by exactly the tick's
    * measured occurrence count; vocab only shrinks; no card cell
    * goes negative; no removed signature survives — every probe
    * re-reads the written bytes of the PERSISTED staged snapshot,
    * never the in-memory purge lineage). Because the decrements are not
    * idempotent, the queue-first ordering the anti-join monitor uses
    * is UNSAFE here (a crash between the queue and store writes
    * would lose the corrections forever) — so the whole tick commits
    * atomically through [[TickCommit.sink]]: every store plus the
    * cumulative queue stages under `outPath/snap/tick=N`, the ledger
    * writes, and the `_COMMITTED` marker seals last.
    *
    * Stream ≡ batch: gated decrements over disjoint effective sets
    * compose, so the final stores equal the one-shot q273 algebra
    * over the union — lm ≡ subtract(union) ≡ a full retrain, card ≡
    * one fold-out, sigs ≡ one anti-join (asserted in StreamingSpec,
    * re-submitted id included). Per-tick cost: removal-bounded
    * tokenize + model-sized merges + touched-fingerprint-group
    * re-evaluation — the q273 bound, paid incrementally. */
  def streamingTakedownStores(removals: DataFrame, documents: DataFrame,
                              lm: TextOps.LmModel, cardState: DataFrame,
                              fpStore: DataFrame, binarySigs: DataFrame,
                              outPath: String, checkpointDir: String,
                              heldoutMaxId: Long = 50)
      : StreamingQuery = {
    val spark = documents.sparkSession
    import spark.implicits._
    TickCommit.sink(removals, outPath, checkpointDir, Seq(
        "removed" -> Seq.empty[Long].toDF("doc_id"), "lm_bigrams" -> lm.bigrams,
        "lm_contexts" -> lm.contexts, "lm_vocab" -> lm.vocab,
        "card_state" -> cardState, "fps" -> fpStore, "sigs" -> binarySigs)) {
      (batch, tick, st) =>
        val (removedAll, big, ctx, voc) =
          (st("removed"), st("lm_bigrams"), st("lm_contexts"), st("lm_vocab"))
        val (card, fps, sigs) = (st("card_state"), st("fps"), st("sigs"))
        // effective removal = tick ids minus the cumulative queue; the
        // queue union and the card fold (which hints its own distinct
        // ids) take the un-hinted ids: a hint outside a join is dropped
        // with a warning
        val rmIds = batch.select(col("doc_id")).distinct()
          .join(removedAll, Seq("doc_id"), "left_anti")
          .localCheckpoint(false)
        val rmEff = broadcast(rmIds)
        val docsCur = documents.join(removedAll, Seq("doc_id"), "left_anti")
        val rmDocs = docsCur.join(rmEff, Seq("doc_id"), "left_semi")
          .localCheckpoint(false) // LM subtract + mass probe
        val rOcc = TextOps.bigramStream(rmDocs).count()
        val sub = TextOps.lmModelSubtract(TextOps.LmModel(big, ctx, voc), rmDocs)
        val rmVec = rmEff.select(col("doc_id").as("vec_id"))
        // the Bloom flag row: held-out-bounded gram counts
        val heldB = docsCur.filter(col("doc_id") < heldoutMaxId)
        val gramsB = TextOps.wordNgrams(heldB)
          .select(col("gram")).distinct().count()
        val gramsA = TextOps.wordNgrams(
            heldB.join(rmEff, Seq("doc_id"), "left_anti"))
          .select(col("gram")).distinct().count()
        def mass(df: DataFrame, c: String): Long =
          df.agg(coalesce(sum(col(c)), lit(0L)).cast("long")).head.getLong(0)
        // the whole tick (stores + queue) stages before any of it
        // becomes visible; the ledger writes between stage and seal
        Tick(Seq(
          "removed" -> removedAll.unionByName(rmIds),
          "lm_bigrams" -> sub.bigrams, "lm_contexts" -> sub.contexts,
          "lm_vocab" -> sub.vocab,
          "card_state" -> CorpusOps.corpusCardTakedownState(card, fps, docsCur, rmIds),
          "fps" -> fps.join(rmEff, Seq("doc_id"), "left_anti"),
          "sigs" -> sigs.join(rmVec, Seq("vec_id"), "left_anti")), persisted => {
          // every probe certifies the PERSISTED staged bytes, not the
          // in-memory lineage they were derived from
          val (big2, ctx2, voc2, card2, sigs2) = (persisted("lm_bigrams"),
            persisted("lm_contexts"), persisted("lm_vocab"),
            persisted("card_state"), persisted("sigs"))
          val newWords = voc2.join(voc, Seq("w"), "left_anti").count()
          val negCard = card2.filter(col("n_docs") < 0 || col("n_tokens") < 0 ||
            col("q_ppm_sum") < 0 || col("n_exact_dups") < 0).count()
          val sigDirty = sigs2.join(rmVec, Seq("vec_id"), "left_semi").count()
          Seq(
            ("lm_bigrams", big.count(), big2.count(),
              mass(big2, "c2") == mass(big, "c2") - rOcc),
            ("lm_contexts", ctx.count(), ctx2.count(),
              mass(ctx2, "c1") == mass(ctx, "c1") - rOcc),
            ("lm_vocab", voc.count(), voc2.count(), newWords == 0L),
            ("card_state", card.count(), card2.count(), negCard == 0L),
            ("binary_sigs", sigs.count(), sigs2.count(), sigDirty == 0L),
            ("bloom_rebuild", gramsB, gramsA, false))
            .toDF("artifact", "n_before", "n_after", "clean")
            .select(col("artifact"), col("n_before"), col("n_after"),
              (col("n_before") - col("n_after")).as("n_removed"), col("clean"))
            .write.mode("overwrite").parquet(s"$outPath/ledger/tick=$tick")
        })
    }
  }

  /** STREAMING user-level takedown — q284's ticked twin: "delete user
    * X" requests stream in and each tick folds them out of every
    * carried event-derived store through the same
    * [[EventOps.restatement]] the one-shot q284 applies (old = the
    * tick users' events, nu = ∅): user-partitioned stores (the q280
    * conversation manifest, q161 sessions, q172 attribution rows)
    * anti-join, additive stores (funnel stage counts, retention cells,
    * the transition matrix) subtract the tick users' own
    * contributions. Decrements are NOT idempotent, so tick users gate
    * against the cumulative queue first (re-submission = honest
    * zero-delta no-op). Cells/edges that reach zero DROP — matching
    * what a rebuild over the kept events would emit, which is what
    * StreamingSpec asserts store by store over the union. Because the
    * decrements are not idempotent, the tick commits atomically via
    * [[TickCommit.sink]] (stage stores + queue under `snap/tick=N`,
    * ledger, marker last). Per-tick cost: one removal-user-bounded
    * event slice + dimension-sized store corrections. */
  def streamingUserTakedown(removals: DataFrame, events: DataFrame,
                            manifest: DataFrame, sessions: DataFrame,
                            funnelStore: DataFrame, retentionStore: DataFrame,
                            transitionStore: DataFrame,
                            attributionStore: DataFrame,
                            outPath: String, checkpointDir: String)
      : StreamingQuery = {
    val spark = events.sparkSession
    import spark.implicits._
    TickCommit.sink(removals, outPath, checkpointDir,
        ("removed" -> Seq.empty[Long].toDF("user_id")) +:
        EventOps.userStores(manifest, sessions, funnelStore, retentionStore,
          transitionStore, attributionStore)) { (batch, tick, st) =>
      val removedAll = st("removed")
      val rmIds = batch.select(col("user_id")).distinct()
        .join(removedAll, Seq("user_id"), "left_anti")
        .localCheckpoint(false)
      val rmEff = broadcast(rmIds) // joins only; the queue unions rmIds
      val rmEvents = events.join(rmEff, Seq("user_id"), "left_semi")
        .localCheckpoint(false) // the three count bodies
      val next = EventOps.restated(st, rmEff, rmEvents, rmEvents.filter(lit(false)))
      Tick(("removed" -> removedAll.unionByName(rmIds)) +:
          EventOps.userStoreNames.map(n => n -> next(n)), persisted => {
        // probe the PERSISTED manifest snapshot for the clean flag (a
        // semi-probe over the in-memory anti-join lineage is true by
        // construction); every n_after counts the persisted bytes
        val maniDirty = persisted("manifest")
          .join(rmEff, Seq("user_id"), "left_semi").count()
        EventOps.userStoreNames.map { n =>
          (n, EventOps.storeSize(n, st(n)), EventOps.storeSize(n, persisted(n)),
            n != "manifest" || maniDirty == 0L)
        }.toDF("artifact", "n_before", "n_after", "persisted_ok")
          .select(col("artifact"), col("n_before"), col("n_after"),
            (col("n_before") - col("n_after")).as("n_removed"),
            (col("n_after") <= col("n_before") && col("persisted_ok"))
              .as("clean"))
          .write.mode("overwrite").parquet(s"$outPath/ledger/tick=$tick")
      })
    }
  }

  /** STREAMING user-level quarantine/restore — q290 live: legal-hold
    * requests arrive as a stream of (user_id, op ∈ quarantine|restore)
    * and each tick applies them to the carried q284 stores plus a
    * QUARANTINE stash of the affected users' raw events (the single
    * retained artifact — the q290 contract).
    *
    * Per tick: effective quarantines = requested users not already
    * held (re-submission = honest no-op); effective restores =
    * requested users currently held and not re-quarantined this tick.
    * The tick stashes the quarantined users' events and applies one
    * [[EventOps.restatement]] with old = those events and nu = the
    * restored users' events FROM THE STASH ALONE: partitioned stores
    * anti-join the quarantined users and re-derive the restored users'
    * rows through the engine's own builders (per-user windows ⇒
    * byte-identical conversation boundaries); additive stores subtract
    * the one side's count bodies and add the other's, so dropped cells
    * resurrect and zero cells/edges drop — merge ≡ the decrement run
    * backwards.
    *
    * The corrections are not idempotent, so the tick commits
    * atomically via [[TickCommit.sink]]: every store, the stash, and
    * the held-users set stage under `snap/tick=N` and the marker seals
    * last. Ledger rows (artifact, n_before,
    * n_after, n_quarantined, n_restored) write idempotently per tick.
    *
    * Stream ≡ batch: after any tick the carried stores equal a
    * rebuild over events-minus-currently-held, and a quarantine →
    * restore round trip across ticks is an exact identity — both
    * asserted in StreamingSpec. Per-tick cost: request-user-bounded
    * event slices + dimension-sized store corrections. */
  def streamingUserQuarantine(requests: DataFrame, events: DataFrame,
                              manifest: DataFrame, sessions: DataFrame,
                              funnelStore: DataFrame,
                              retentionStore: DataFrame,
                              transitionStore: DataFrame,
                              attributionStore: DataFrame,
                              outPath: String, checkpointDir: String)
      : StreamingQuery = {
    val spark = events.sparkSession
    import spark.implicits._
    TickCommit.sink(requests, outPath, checkpointDir,
        Seq("held" -> Seq.empty[Long].toDF("user_id"),
          "stash" -> events.filter(lit(false))) ++
        EventOps.userStores(manifest, sessions, funnelStore, retentionStore,
          transitionStore, attributionStore)) { (batch, tick, st) =>
      val (held, stash) = (st("held"), st("stash"))
      val b = batch.localCheckpoint(false) // both request slices
      val qIds = b.filter(col("op") === "quarantine")
        .select(col("user_id")).distinct()
        .join(held, Seq("user_id"), "left_anti")
        .localCheckpoint(false)
      val effQ = broadcast(qIds) // joins only: a hint outside a join
      // (the held-set union, the ledger counts) is dropped with a warning
      val rIds = b.filter(col("op") === "restore")
        .select(col("user_id")).distinct()
        .join(held, Seq("user_id"), "left_semi")
        .join(effQ, Seq("user_id"), "left_anti")
        .localCheckpoint(false)
      val effR = broadcast(rIds)
      val qEvents = events.join(effQ, Seq("user_id"), "left_semi")
        .localCheckpoint(false) // stash + the old count bodies
      val rEvents = stash.join(effR, Seq("user_id"), "left_semi")
        .localCheckpoint(false) // re-derivations + the new count bodies
      // the restored users hold no rows, so only the quarantined ones
      // anti-join
      val next = EventOps.restated(st, effQ, qEvents, rEvents)
      // atomic tick: stage everything, then probe the persisted
      // manifest and write the ledger over the persisted bytes before
      // the seal
      Tick(Seq(
        "held" -> held.unionByName(qIds).join(effR, Seq("user_id"), "left_anti"),
        "stash" -> stash.join(effR, Seq("user_id"), "left_anti").unionByName(qEvents)) ++
        EventOps.userStoreNames.map(n => n -> next(n)), persisted => {
        val maniDirty = persisted("manifest")
          .join(effQ, Seq("user_id"), "left_semi").count()
        val (nQ, nR) = (qIds.count(), rIds.count())
        (EventOps.userStoreNames.map { n =>
          (n, EventOps.storeSize(n, st(n)), EventOps.storeSize(n, persisted(n)),
            n != "manifest" || maniDirty == 0L)
        } :+ (("stash", stash.count(), persisted("stash").count(), true)))
          .toDF("artifact", "n_before", "n_after", "persisted_ok")
          .select(col("artifact"), col("n_before"), col("n_after"),
            lit(nQ).as("n_quarantined"), lit(nR).as("n_restored"),
            col("persisted_ok").as("clean"))
          .write.mode("overwrite").parquet(s"$outPath/ledger/tick=$tick")
      })
    }
  }

  /** STREAMING entity-alias takedown — q276's ticked twin: dim-record
    * removal keys stream in, and each tick re-closes ONLY the alias
    * groups the tick touches ([[DedupOps.entityTakedown]] — a removed
    * bridge still legitimately SPLITS its group mid-stream), carrying
    * the updated alias store forward. Re-submitted keys are gated
    * against the cumulative queue (honest no-op, zero-delta ledger
    * row). The re-close is not idempotent against a stale store, so
    * the tick commits atomically via [[TickCommit.sink]] (stage
    * aliases + queue, ledger, marker last) and the ledger's dirty
    * probe re-reads the PERSISTED staged alias snapshot.
    *
    * Stream ≡ batch: each tick leaves the store equal to a full
    * rebuild over part-minus-queue (the q276 exactness argument), so
    * the final store equals the one-shot re-close over the union —
    * asserted in StreamingSpec. Per-tick cost is touched-group
    * bounded, never history². */
  def streamingEntityTakedown(removals: DataFrame, part: DataFrame,
                              storedAliases: DataFrame, outPath: String,
                              checkpointDir: String): StreamingQuery = {
    val spark = part.sparkSession
    import spark.implicits._
    TickCommit.sink(removals, outPath, checkpointDir, Seq(
        "removed" -> Seq.empty[Long].toDF("p_partkey"), "aliases" -> storedAliases)) {
      (batch, tick, st) =>
        val (removedAll, aliases) = (st("removed"), st("aliases"))
        val rmIds = batch.select(col("p_partkey")).distinct()
          .join(removedAll, Seq("p_partkey"), "left_anti")
          .localCheckpoint(false)
        // joins only; the queue union and entityTakedown (which hints
        // its own distinct ids) take the un-hinted rmIds
        val rmEff = broadcast(rmIds)
        val partCur = part.join(removedAll, Seq("p_partkey"), "left_anti")
        val next = DedupOps.entityTakedown(partCur, rmIds, aliases)
          .localCheckpoint(false) // reclosed count + alias snapshot
        val nReclosed = next.filter(col("status") === "reclosed").count()
        // status is per-tick provenance, not carried state
        Tick(Seq(
          "removed" -> removedAll.unionByName(rmIds),
          "aliases" -> next.select(col("p_partkey"), col("entity_id"),
            col("n_members"), col("canonical_name"))), persisted => {
          // dirty probe against the PERSISTED staged alias snapshot
          val aliases2 = persisted("aliases")
          val dirty = aliases2.join(rmEff, Seq("p_partkey"), "left_semi").count()
          Seq(("alias_store", aliases.count(), aliases2.count(), nReclosed,
              dirty == 0L))
            .toDF("artifact", "n_before", "n_after", "n_reclosed", "clean")
            .write.mode("overwrite").parquet(s"$outPath/ledger/tick=$tick")
        })
    }
  }

  /** STREAMING takedown SERVING monitor — q277 live: the compliance
    * invariant a serving stack must hold CONTINUOUSLY, not just at
    * purge time. Removal requests stream in; each tick (1) purges the
    * tick's ids from every carried serving store (postings /
    * doc-lengths / vectors / IVF assignments / binary signatures /
    * IVF-PQ codes — one broadcast anti-join each: the q270 purge
    * applied to the serving artifacts), then (2) re-drives all SIX
    * serving listings over the purged stores
    * ([[CorpusOps.servingListings]] plus the compressed IVF-PQ path,
    * which serves from the CODES store and is not silenced by an
    * assignment purge — the q282 point) and
    * certifies them against the CUMULATIVE removal set — an id
    * removed at ANY earlier tick must stay unservable forever, so the
    * leak probe runs against the whole queue, not just the tick. The
    * tick-stamped cert (surface, n_slots, n_leaked, clean) writes
    * idempotently to `outPath/cert/tick=N` (a replayed at-least-once
    * tick overwrites itself); the purged stores AND the cumulative
    * removal queue commit atomically per tick ([[TickCommit.sink]]) —
    * without the queue in the snapshot a restart would certify only
    * post-restart ids.
    *
    * Stream ≡ batch: anti-joins compose, so after the last tick every
    * carried store equals the one-shot purge over the union and the
    * listings equal [[CorpusOps.takedownServingCert]]'s post side
    * (asserted in StreamingSpec). Per-tick cost: removal-bounded
    * anti-joins + the already query-bounded serving plans; the
    * cumulative removal set is compliance-queue-sized — broadcast by
    * construction. The coarse centers never change (re-fitting is the
    * CDC/re-balance streams' job), so queries' probe routes are
    * stable across ticks. */
  def streamingTakedownServe(removals: DataFrame, postings: DataFrame,
                             docLengths: DataFrame, embeddings: DataFrame,
                             index: SimilarityOps.IvfIndex,
                             pqCb: SimilarityOps.PqCodebook,
                             sigs: DataFrame, ivfPqCodes: DataFrame,
                             ivfPqCb: SimilarityOps.PqCodebook,
                             outPath: String,
                             checkpointDir: String): StreamingQuery = {
    val spark = postings.sparkSession
    import spark.implicits._
    TickCommit.sink(removals, outPath, checkpointDir, Seq(
        "removed" -> Seq.empty[Long].toDF("doc_id"), "postings" -> postings,
        "doclens" -> docLengths, "vectors" -> embeddings,
        "assign" -> index.assigned, "sigs" -> sigs, "codes" -> ivfPqCodes)) {
      (batch, tick, st) =>
        val rmIds = batch.select(col("doc_id")).distinct()
          .localCheckpoint(false)
        val rm = broadcast(rmIds) // five anti-joins; the queue unions rmIds
        val rmVec = rm.select(col("doc_id").as("vec_id"))
        val removedAll = st("removed").unionByName(rmIds).distinct()
          .localCheckpoint(false) // cert probe + snapshot write
        def purge(name: String, key: DataFrame, on: String): DataFrame =
          st(name).join(key, Seq(on), "left_anti")
            .localCheckpoint(false) // listing + snapshot write
        val post = purge("postings", rm, "doc_id")
        val dl = purge("doclens", rm, "doc_id")
        val emb = purge("vectors", rmVec, "vec_id")
        val asg = purge("assign", rmVec, "vec_id")
        val sg = purge("sigs", rmVec, "vec_id")
        val cds = purge("codes", rmVec, "vec_id")
        // the PRODUCTION path serves from the CODES store — a purged
        // assignment store does not silence it (the q282 point), so
        // the monitor drives its listing too, from the carried codes
        val ivfPqListing = SimilarityOps.topCut(
            SimilarityOps.ivfPqAdcScored(index, ivfPqCb, emb, cds,
              nQueries = 5, nProbe = 4),
            col("adc_d2"), 10)
          .select(lit("ivfpq_adc").as("surface"),
            col("qid").cast("long").as("qid"),
            col("vec_id").cast("long").as("id"))
        val listings = CorpusOps.servingListings(post, dl, emb,
          SimilarityOps.IvfIndex(asg, index.centers, index.nLists), pqCb, sg)
          .unionByName(ivfPqListing)
        // tick-IDEMPOTENT cert (ADVICE r15): foreachBatch is
        // at-least-once, so a replayed tick must OVERWRITE its own
        // cert rows, never append duplicates — the tick number is
        // the partition directory (recovered as a column when
        // `outPath/cert` is read), and mode("overwrite") on the
        // tick-versioned path makes the replay a no-op.
        CorpusOps.leakAgg(listings, removedAll, "n_slots", "n_leaked")
          .withColumn("clean", col("n_leaked") === 0L)
          .write.mode("overwrite").parquet(s"$outPath/cert/tick=$tick")
        // the CUMULATIVE removal queue commits with the six stores:
        // without it a restart would certify only post-restart ids and
        // the standing invariant would silently weaken
        Tick(Seq(
          "removed" -> removedAll, "postings" -> post, "doclens" -> dl,
          "vectors" -> emb, "assign" -> asg, "sigs" -> sg, "codes" -> cds))
    }
  }

  /** STREAMING ingest tick — q247 live: each micro-batch of documents
    * flows through the incremental funnel (exact vs the carried
    * fingerprint store → quality gate → near-dup vs the carried
    * sketch store), the per-tick attrition report appends to
    * `outPath/funnel` (tick-stamped), and ONLY the admitted docs grow
    * both stores — so a later batch's copy or near-dup of an earlier
    * batch's keeper is dropped through the grown state (the
    * cross-boundary cases StreamingSpec plants), while rejected docs
    * never pollute the stores. One stage computation per tick serves
    * both the report and the growth ([[CorpusOps.ingestStages]] /
    * [[CorpusOps.ingestReport]]).
    *
    * Scale: per-tick cost is the q247 bound — batch-sized scans, one
    * fp anti-join, the banded sketch probe; snapshots are store-sized.
    * Durable state is the two snapshots, not executor memory — and the
    * PAIR commits atomically via [[TickCommit.sink]] (ADVICE r17): a crash
    * between independent fps/sigs writes would persist the admitted
    * docs' fingerprints without their signatures, and on replay the
    * fps exact-dup gate filters those docs so the sigs store never
    * receives them (permanent loss — no write ordering fixes it;
    * sigs-first makes replayed docs self-near-dup instead). */
  def streamingIngestTick(batchDocs: DataFrame, storedFps: DataFrame,
                          storedSigs: DataFrame, outPath: String,
                          checkpointDir: String): StreamingQuery =
    TickCommit.sink(batchDocs, outPath, checkpointDir, Seq(
        "fps" -> storedFps.select(col("fp_md5")), "sigs" -> storedSigs)) {
      (batch, tick, st) =>
        val b = batch.localCheckpoint(false) // stages + report + fp growth
        val bSigs = DedupOps.minhashSignatures(b).localCheckpoint(false)
        val (exactKeep, gateKeep, ndKeep0) =
          CorpusOps.ingestStages(st("fps"), st("sigs"), b, bSigs)
        val admitted = ndKeep0.localCheckpoint(false) // report + both growths
        CorpusOps.ingestReport(b, (exactKeep, gateKeep, admitted))
          .write.mode("overwrite").parquet(s"$outPath/funnel/tick=$tick")
        Tick(grownIngestStores(st, b, bSigs, admitted))
    }

  /** The two ingest stores grown by a tick's admitted docs: their
    * text fingerprints and their minhash signatures. */
  private def grownIngestStores(st: Map[String, DataFrame], b: DataFrame,
                                bSigs: DataFrame,
                                admitted: DataFrame): Seq[(String, DataFrame)] =
    Seq(
      "fps" -> st("fps").unionByName(
          b.join(admitted, "doc_id").select(md5(col("text")).as("fp_md5")))
        .distinct(),
      "sigs" -> st("sigs").unionByName(bSigs.join(admitted, "doc_id")))

  /** STREAMING licensed ingest tick — q262 live (VERDICT r12 #6):
    * [[streamingIngestTick]] with the q257 compliance stage composed
    * in. The license dim is STATIC (the offline registry — pinned
    * once, broadcast into every tick's semi-join); each micro-batch
    * flows through the license-gated incremental funnel
    * ([[CorpusOps.licensedIngestStages]] — stages 0–3 are exactly the
    * q247 frames), the 6-row per-tick report appends tick-stamped to
    * `outPath/funnel`, and ONLY license-allowed admitted docs grow the
    * carried stores — a deny-source doc never enters the fingerprint
    * or sketch store, so it can never become a keeper a later copy
    * dedups against (asserted in StreamingSpec).
    *
    * Per-tick cost = q247's bound + one broadcast semi-join; durable
    * state is the two snapshots — committed ATOMICALLY per tick via
    * [[TickCommit.sink]] with a crash-after-seal replay guard, the same
    * contract (and the same fps-without-sigs loss window it closes;
    * ADVICE r17) as [[streamingIngestTick]]. `batchDocs` must carry
    * (doc_id, text, source). */
  def streamingLicensedIngestTick(batchDocs: DataFrame, storedFps: DataFrame,
                                  storedSigs: DataFrame, licenseDim: DataFrame,
                                  outPath: String,
                                  checkpointDir: String): StreamingQuery = {
    val dim = licenseDim.localCheckpoint(false) // static registry, pinned once
    TickCommit.sink(batchDocs, outPath, checkpointDir, Seq(
        "fps" -> storedFps.select(col("fp_md5")), "sigs" -> storedSigs)) {
      (batch, tick, st) =>
        val b = batch.localCheckpoint(false) // stages + report + fp growth
        val bSigs = DedupOps.minhashSignatures(b).localCheckpoint(false)
        val stages = CorpusOps.licensedIngestStages(st("fps"), st("sigs"), b, bSigs, dim)
        val admitted = stages.last._2.localCheckpoint(false) // report + growths
        CorpusOps.ingestReportStages(b, stages.init :+ (stages.last._1 -> admitted))
          .write.mode("overwrite").parquet(s"$outPath/funnel/tick=$tick")
        Tick(grownIngestStores(st, b, bSigs, admitted))
    }
  }

  /** STREAMING cross-modal gate — q261 live: each micro-batch of
    * documents scores caption↔media alignment
    * ([[MultimodalOps.crossModalScores]] — two map-only encodes + one
    * equi-join, per-row pure, so the micro-batch split cannot change
    * any verdict), appends tick-stamped per-doc verdicts to
    * `outPath/verdicts`, folds the tick's per-source counts into the
    * carried accounting state (additive — the q235 argument), and
    * snapshots the q261-shaped conservation report with the counts
    * per tick. Stream ≡ batch by construction (StreamingSpec, across
    * a split with the pinned mismatch pair on the boundary). State is
    * source-count-sized; durable state is the verdict sink + the
    * atomic counts/accounting snapshot ([[TickCommit.sink]], r18 — the
    * old "rebuild counts from the verdict sink" recipe had no
    * constructor seam to inject the rebuilt counts AND would
    * double-fold the crashed tick's already-written verdict partition
    * on replay). */
  def streamingCrossModalGate(docs: DataFrame, outPath: String,
                              checkpointDir: String, captionChars: Int = 64,
                              threshold: Double = 0.9): StreamingQuery = {
    val spark = docs.sparkSession
    import spark.implicits._
    TickCommit.sink(docs, outPath, checkpointDir, Seq("counts" ->
        Seq.empty[(String, Long, Long, Long)]
          .toDF("source", "n_docs", "n_aligned", "n_dropped"))) {
      (batch, tick, st) =>
        val scores = MultimodalOps
          .crossModalScores(batch, captionChars, threshold)
          .localCheckpoint(false) // verdict sink + count fold
        scores.write.mode("overwrite")
          .parquet(s"$outPath/verdicts/tick=$tick")
        val tickCounts = scores.groupBy(col("source"))
          .agg(count(lit(1)).cast("long").as("n_docs"),
            sum(when(col("aligned"), 1L).otherwise(0L)).cast("long").as("n_aligned"),
            sum(when(col("aligned"), 0L).otherwise(1L)).cast("long").as("n_dropped"))
        val counts = st("counts").unionByName(tickCounts)
          .groupBy(col("source"))
          .agg(sum(col("n_docs")).cast("long").as("n_docs"),
            sum(col("n_aligned")).cast("long").as("n_aligned"),
            sum(col("n_dropped")).cast("long").as("n_dropped"))
          .localCheckpoint(false) // snapshot write + accounting
        Tick(Seq("counts" -> counts, "accounting" -> counts.orderBy(col("source"))))
    }
  }

  /** STREAMING semantic dedup — the live verdict-first ingest loop
    * over the stored IVF index (q246 + q235 composed per tick): each
    * micro-batch of new vectors probes the CURRENT index for a dup
    * verdict ([[SimilarityOps.ivfSemanticProbe]], append-only verdict
    * sink), and only the KEEPERS assign to their stored list and join
    * the carried index — so a later batch's copy of an earlier
    * batch's keeper IS flagged, countable only through the grown
    * state (the cross-boundary case StreamingSpec plants). Dups never
    * enter the index; the quantizer is never re-fit.
    *
    * Scale: per micro-batch cost is the q246 probe bound (batch ×
    * probed lists) + a batch-sized assignment append; the (vec_id,
    * list_id) snapshot rewrite is assignment-sized — the same cadence
    * as the persisted table a maintenance job would append to.
    * Durable state is the per-tick atomic assign snapshot
    * ([[TickCommit.sink]], r18), which holds every carried column
    * (vec_id, vec, norm, list_id), so a restart resumes the index from
    * it alone. The
    * growth itself is replay-convergent (a keeper probing an index
    * that already contains it flags dup and is not re-added), but an
    * unguarded replay would overwrite the tick's verdict ledger with
    * all-dup rows — the guard keeps the ledger honest. */
  def streamingSemanticDedup(vectors: DataFrame, stored: SimilarityOps.IvfIndex,
                             outPath: String, checkpointDir: String): StreamingQuery = {
    val cols = Seq(col("vec_id"), col("vec"), col("norm"), col("list_id"))
    TickCommit.sink(vectors, outPath, checkpointDir, Seq(
        "assign" -> stored.assigned.select(cols: _*))) { (batch, tick, st) =>
      val index = SimilarityOps.IvfIndex(st("assign"), stored.centers, stored.nLists)
      val b = batch.localCheckpoint(false) // probe + keeper assign
      val verdicts = SimilarityOps.ivfSemanticProbe(index, b)
        .localCheckpoint(false) // verdict write + keeper semi-join
      verdicts.write.mode("overwrite")
        .parquet(s"$outPath/verdicts/tick=$tick")
      val keepers = b.join(
        verdicts.filter(!col("is_dup")).select(col("vec_id")),
        Seq("vec_id"), "left_semi")
      Tick(Seq("assign" -> index.assigned.unionByName(
          SimilarityOps.withVec(keepers)
            .join(SimilarityOps.ivfIncrementalAssign(index, keepers), "vec_id")
            .select(cols: _*))))
    }
  }

  /** STREAMING corpus-card maintenance — the live twin of
    * [[CorpusOps.corpusCardIncremental]] (q243), in the
    * [[streamingEntityResolution]] shape: each micro-batch of
    * documents folds into the carried ADDITIVE state
    * ([[CorpusOps.corpusCardIncrementalState]]) and the display card
    * snapshot is rewritten at `outPath/card`. The fingerprint store
    * grows by a distinct-sized merge (stored ∪ batch grouped to the
    * min keeper — no corpus re-scan), so a later batch's copy of an
    * earlier batch's text IS counted a duplicate: the final card
    * equals the one-shot rebuild over everything ever streamed
    * (StreamingSpec, across a cross-batch dup boundary).
    *
    * Scale: per micro-batch cost is one batch scan + a batch×fp-store
    * probe; the card snapshot is dimension-sized. Durable state is
    * the state + fingerprint snapshots, not executor memory — and the
    * pair (plus the derived display card) commits ATOMICALLY per tick
    * via [[TickCommit.sink]] (ADVICE r17): a crash between independent
    * state/fprints writes would persist a state that already folded
    * the batch next to a fingerprint store that never grew, so a
    * replay from those snapshots double-counts the batch's docs (or,
    * ordered the other way, drops them as dups before the fold —
    * neither ordering is safe). */
  def streamingCorpusCard(batchDocs: DataFrame, storedState: DataFrame,
                          storedFprints: DataFrame, outPath: String,
                          checkpointDir: String): StreamingQuery =
    TickCommit.sink(batchDocs, outPath, checkpointDir, Seq(
        "state" -> storedState, "fprints" -> storedFprints)) { (batch, _, st) =>
      val b = batch.localCheckpoint(false) // state fold + fp growth
      val state = CorpusOps.corpusCardIncrementalState(st("state"), st("fprints"), b)
        .drop("n_batch_docs")
        .localCheckpoint(false) // state + card snapshot writes
      Tick(Seq(
        "state" -> state,
        "card" -> CorpusOps.cardFromState(state),
        "fprints" -> st("fprints").unionByName(DedupOps.fingerprintStore(b))
          .groupBy(col("fp_md5")).agg(min(col("keeper_id")).as("keeper_id"))))
    }

  /** STREAMING LM maintenance — the live twin of q245
    * ([[TextOps.lmModelMerge]]): each micro-batch of reference text
    * folds into the carried count tables (keyed sums + vocab
    * distinct-union — every table additive, so the carried model is
    * at all times EXACTLY the full retrain over stored ∪ streamed),
    * the batch's docs score under the just-merged model (append-only
    * sink), and the three model snapshots rewrite. A later batch
    * reusing an earlier batch's novel phrasing scores it as SEEN —
    * countable only through the grown state, the cross-boundary case
    * StreamingSpec plants.
    *
    * Scale: per micro-batch cost is one batch tokenize scan +
    * model-bounded merges; snapshots are model-sized. Durable state
    * is the snapshot triple — committed ATOMICALLY per tick via
    * [[TickCommit.sink]] (r18): the merge is NOT idempotent, so the
    * three independent fixed-path writes this sink used to make carried
    * both failure modes the takedown protocol closed — a crash
    * BETWEEN the frame writes persisted a mixed-tick model (bigrams
    * merged, contexts not: corrupt probabilities forever), and a
    * crash after all three persisted but before Spark's commit log
    * re-merged the batch on replay (double-counted n). */
  def streamingLmMaintain(batchDocs: DataFrame, stored: TextOps.LmModel,
                          outPath: String, checkpointDir: String): StreamingQuery =
    TickCommit.sink(batchDocs, outPath, checkpointDir, lmFrames("", stored)) {
      (batch, tick, st) =>
        val b = batch.localCheckpoint(false) // count fold + scoring
        val model = pinned(TextOps.lmModelMerge(lmOf("", st), b))
        TextOps.lmScoreWith(model, b)
          .write.mode("overwrite").parquet(s"$outPath/scores/tick=$tick")
        Tick(lmFrames("", model))
    }

  /** An LM's three count tables under their snapshot names
    * (`<prefix>bigrams`, `<prefix>contexts`, `<prefix>vocab`), and the
    * model back from them — how the LM sinks carry a model. */
  private def lmFrames(prefix: String, m: TextOps.LmModel): Seq[(String, DataFrame)] =
    Seq(s"${prefix}bigrams" -> m.bigrams, s"${prefix}contexts" -> m.contexts,
      s"${prefix}vocab" -> m.vocab)

  private def lmOf(prefix: String, st: Map[String, DataFrame]): TextOps.LmModel =
    TextOps.LmModel(st(s"${prefix}bigrams"), st(s"${prefix}contexts"),
      st(s"${prefix}vocab"))

  /** The model with each table pinned: a tick's merged model feeds
    * both its scoring and its snapshot writes, and a static target
    * model every tick's scoring. */
  private def pinned(m: TextOps.LmModel): TextOps.LmModel = TextOps.LmModel(
    m.bigrams.localCheckpoint(false),
    m.contexts.localCheckpoint(false),
    m.vocab.localCheckpoint(false))

  /** STREAMING importance resampling — q251 live with an ADAPTIVE
    * proposal: the target LM is a STORED artifact (the frozen domain
    * definition), while the pool LM is carried state that grows by
    * the additive count fold as raw batches land
    * ([[graft.engine.TextOps.lmModelMerge]] — merge ≡ retrain, the
    * q245 contract). Each micro-batch merges FIRST, then scores under
    * stored-target + just-merged-pool via
    * [[graft.engine.TextOps.importanceVerdicts]], so the pool always
    * covers the batch it prices and the acceptance policy adapts: as
    * off-domain phrasing accumulates in the pool, identical text's
    * p_raw rises and its weight — hence its deterministic acceptance
    * rate — falls, which is precisely DSIR's behavior when the raw
    * distribution drifts. Verdicts append; the pool snapshot
    * commits ATOMICALLY per tick.
    *
    * Scale: per micro-batch one batch tokenize + model-bounded
    * merges/joins; durable state is the pool snapshot triple via
    * [[TickCommit.sink]] (r18 — same non-idempotent-merge crash matrix
    * as [[streamingLmMaintain]]). */
  def streamingImportanceResample(batchDocs: DataFrame,
                                  targetModel: TextOps.LmModel,
                                  storedPool: TextOps.LmModel,
                                  outPath: String,
                                  checkpointDir: String): StreamingQuery = {
    val target = pinned(targetModel)
    TickCommit.sink(batchDocs, outPath, checkpointDir, lmFrames("pool_", storedPool)) {
      (batch, tick, st) =>
        val b = batch.localCheckpoint(false) // count fold + scoring
        val pool = pinned(TextOps.lmModelMerge(lmOf("pool_", st), b))
        TextOps.importanceVerdicts(target, pool, b)
          .write.mode("overwrite").parquet(s"$outPath/verdicts/tick=$tick")
        Tick(lmFrames("pool_", pool))
    }
  }

  /** STREAMING mixture monitor — q296 live: the mixture-realization
    * audit as a standing dashboard over the ingest stream. The TARGET
    * is a STATIC dim (the q124 temperature design the pipeline was
    * launched with — source, w_sqrt; pinned once, broadcast into
    * every tick); each micro-batch folds its per-source token mass
    * into the carried ADDITIVE counts and the q296-shaped drift
    * report snapshots with them per tick — so a source flooding past
    * its designed share flags `drifted` AT THE TICK it happens, not
    * at the next offline audit.
    *
    * Stream ≡ batch by construction (token masses are additive — the
    * q235 argument; asserted in StreamingSpec across a split with a
    * planted flood on the boundary). State is source-dimension-sized;
    * durable state is the per-tick atomic counts/report snapshot
    * ([[TickCommit.sink]]). */
  def streamingMixMonitor(batchDocs: DataFrame, targetWeights: DataFrame,
                          outPath: String, checkpointDir: String,
                          driftPpm: Long = 50000L): StreamingQuery = {
    val spark = batchDocs.sparkSession
    import spark.implicits._
    val target = targetWeights.select(col("source"), col("w_sqrt"))
      .localCheckpoint(false) // static design dim, pinned once
    TickCommit.sink(batchDocs, outPath, checkpointDir, Seq("counts" ->
        Seq.empty[(String, Long)].toDF("source", "realized_tokens"))) {
      (batch, _, st) =>
        val counts = st("counts").unionByName(batch
            .select(col("source"),
              size(expr(s"regexp_extract_all(text, '${TextOps.tokenRe}', 0)"))
                .cast("long").as("realized_tokens")))
          .groupBy(col("source"))
          .agg(sum(col("realized_tokens")).cast("long").as("realized_tokens"))
          .localCheckpoint(false) // snapshot write + report
        // FULL outer (ADVICE-class fix): a source streaming in that
        // the launch design never listed must surface with target
        // share 0 and its full realized mass — a left join dropped
        // it from the report AND from tot_realized, deflating every
        // other source's denominator, so the exact flood this
        // monitor promises to flag stayed invisible
        val joined = target.join(counts, Seq("source"), "full_outer")
          .withColumn("realized_tokens",
            coalesce(col("realized_tokens"), lit(0L)))
          .withColumn("w_sqrt", coalesce(col("w_sqrt"), lit(0L)))
        val tot = joined.agg(
          sum(col("w_sqrt")).cast("long").as("tot_w"),
          sum(col("realized_tokens")).cast("long").as("tot_realized"))
        val report = joined.crossJoin(broadcast(tot))
          .withColumn("target_share_ppm",
            expr("(w_sqrt * 1000000L) div tot_w").cast("long"))
          .withColumn("realized_share_ppm",
            when(col("tot_realized") > 0,
              expr("(realized_tokens * 1000000L) div tot_realized"))
              .otherwise(lit(0L)).cast("long"))
          .withColumn("drift_ppm",
            (col("realized_share_ppm") - col("target_share_ppm")).cast("long"))
          .withColumn("drifted", abs(col("drift_ppm")) > driftPpm)
          .select(col("source"), col("realized_tokens"),
            col("target_share_ppm"), col("realized_share_ppm"),
            col("drift_ppm"), col("drifted"))
          .orderBy(col("source"))
        Tick(Seq("counts" -> counts, "report" -> report))
    }
  }

  /** STREAMING referential audit — q306 live: the per-load DQ pass as
    * a landing-zone monitor. Each micro-batch of arriving lineitem
    * facts checks its three FK edges against the PINNED parent
    * relations (stream-static anti-joins; the dims broadcast under
    * AQE, the orders edge shuffles on its key), writes the batch's
    * orphan ROWS to a tick-partitioned quarantine (at-least-once
    * replays rewrite their own partition), and folds the per-edge
    * counts into a carried cumulative ledger snapshotted atomically
    * per tick — so a broken upstream export flags AT ITS ARRIVAL
    * TICK with the offending rows already isolated for replay-safe
    * re-ingest once the parent lands. Counts are additive ⇒ stream ≡
    * batch (the final ledger equals q306's fk rows over everything
    * streamed); the ledger commits through [[TickCommit.sink]]. */
  def streamingReferentialAudit(facts: DataFrame, orders: DataFrame,
                                part: DataFrame, supplier: DataFrame,
                                outPath: String,
                                checkpointDir: String): StreamingQuery = {
    val spark = facts.sparkSession
    import spark.implicits._
    val edges: Seq[(String, String, DataFrame, String)] = Seq(
      ("fk lineitem.l_orderkey -> orders.o_orderkey", "l_orderkey",
        orders.select(col("o_orderkey")).localCheckpoint(false), "o_orderkey"),
      ("fk lineitem.l_partkey -> part.p_partkey", "l_partkey",
        part.select(col("p_partkey")).localCheckpoint(false), "p_partkey"),
      ("fk lineitem.l_suppkey -> supplier.s_suppkey", "l_suppkey",
        supplier.select(col("s_suppkey")).localCheckpoint(false), "s_suppkey"))
    TickCommit.sink(facts, outPath, checkpointDir, Seq("ledger" ->
        Seq.empty[(String, Long, Long, Boolean)]
          .toDF("check_name", "n_rows", "n_violations", "ok"))) {
      (batch, tick, st) =>
        val b = batch.localCheckpoint(false) // three edges read it
        val perEdge = edges.map { case (name, ck, parent, pk) =>
          val present = b.filter(col(ck).isNotNull)
            .localCheckpoint(false) // row count + anti-join + quarantine
          val orphans = present.join(parent, col(ck) === col(pk), "left_anti")
            .localCheckpoint(false) // count + quarantine write
          orphans.write.mode("overwrite")
            .parquet(s"$outPath/quarantine/edge=${ck}/tick=$tick")
          present.agg(count(lit(1)).cast("long").as("n_rows"))
            .crossJoin(orphans.agg(count(lit(1)).cast("long")
              .as("n_violations")))
            .select(lit(name).as("check_name"), col("n_rows"),
              col("n_violations"))
        }.reduce(_ unionByName _)
        Tick(Seq("ledger" -> st("ledger")
          .select(col("check_name"), col("n_rows"), col("n_violations"))
          .unionByName(perEdge)
          .groupBy(col("check_name"))
          .agg(sum(col("n_rows")).cast("long").as("n_rows"),
               sum(col("n_violations")).cast("long").as("n_violations"))
          .withColumn("ok", col("n_violations") === 0L)
          .select(col("check_name"), col("n_rows"), col("n_violations"),
            col("ok"))))
    }
  }

  /** STREAMING training-progress monitor — q298 live: a training run
    * reports step completions (shard, step) as it consumes the packed
    * corpus, and the monitor maintains the loader-resume accounting
    * as a standing dashboard. Carried state is per-shard HIGH-WATER
    * (hw = 1 + max completed step — duplicate and out-of-order
    * reports fold idempotently through max) plus per-source CONSUMED
    * token mass, advanced by the exact interval DELTA each tick: a
    * span's contribution to [old_hw, new_hw) is
    * consumedAt(new) − consumedAt(old) with consumedAt(S) =
    * clamp(S·seqLen − span_start, 0, n_toks) — additive by
    * construction, so stream ≡ batch (the final consumed equals the
    * one-shot arithmetic at the final high-waters; StreamingSpec).
    * The per-tick report joins the static per-source totals:
    * consumed_ppm and a `done` flag per source.
    *
    * Scale: the manifest is pinned ONCE (a production run reads its
    * stored pack table; partitioned by shard / ordered by start_seq
    * the delta predicate end_seq ≥ old_hw ∧ start_seq < new_hw
    * prunes to the spans the tick actually touched); the hw dim is
    * nShards rows and BROADCASTS into the delta join; state writes
    * are source/shard-dimension-sized. Durable state is the per-tick
    * atomic (hw, consumed, report) triple via [[TickCommit.sink]]. */
  def streamingLoaderProgress(stepEvents: DataFrame, documents: DataFrame,
                              outPath: String, checkpointDir: String,
                              budgetMult: Long = 4L, maxEpochs: Long = 4L,
                              nShards: Int = 8, seqLen: Int = 2048): StreamingQuery = {
    val spark = stepEvents.sparkSession
    import spark.implicits._
    val manifest = CorpusOps.epochPackManifest(documents, budgetMult,
        maxEpochs, nShards, seqLen)
      .select(col("shard"), col("source"), col("n_toks"), col("cum"),
        col("start_seq"), col("end_seq"))
      .localCheckpoint(false) // static pack manifest, pinned once
    val totals = manifest.groupBy(col("source"))
      .agg(sum(col("n_toks")).cast("long").as("total_toks"))
      .localCheckpoint(false)
    TickCommit.sink(stepEvents, outPath, checkpointDir, Seq(
        "hw" -> Seq.empty[(Long, Long)].toDF("shard", "hw_step"),
        "consumed" -> Seq.empty[(String, Long)].toDF("source", "consumed_toks"))) {
      (batch, _, st) =>
        val bHw = batch.groupBy(col("shard"))
          .agg((max(col("step")) + 1L).cast("long").as("b_hw"))
        val hwPair = st("hw").join(bHw, Seq("shard"), "full_outer")
          .select(col("shard"),
            coalesce(col("hw_step"), lit(0L)).as("old_hw"),
            greatest(coalesce(col("hw_step"), lit(0L)),
              coalesce(col("b_hw"), lit(0L))).as("new_hw"))
          .localCheckpoint(false) // delta join + the hw snapshot
        def consumedAt(s: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
          greatest(lit(0L), least(col("cum"), s * seqLen) -
            (col("cum") - col("n_toks")))
        val delta = manifest.join(broadcast(hwPair), "shard")
          .filter(col("end_seq") >= col("old_hw") &&
            col("start_seq") < col("new_hw"))
          .withColumn("d",
            (consumedAt(col("new_hw")) - consumedAt(col("old_hw"))).cast("long"))
          .groupBy(col("source"))
          .agg(sum(col("d")).cast("long").as("consumed_toks"))
        val consumed = st("consumed").unionByName(delta)
          .groupBy(col("source"))
          .agg(sum(col("consumed_toks")).cast("long").as("consumed_toks"))
          .localCheckpoint(false) // snapshot write + report
        val report = totals.join(consumed, Seq("source"), "left_outer")
          .withColumn("consumed_toks", coalesce(col("consumed_toks"), lit(0L)))
          .withColumn("consumed_ppm",
            expr("(consumed_toks * 1000000L) div total_toks").cast("long"))
          .withColumn("done", col("consumed_toks") === col("total_toks"))
          .select(col("source"), col("total_toks"), col("consumed_toks"),
            col("consumed_ppm"), col("done"))
          .orderBy(col("source"))
        Tick(Seq(
          "hw" -> hwPair.select(col("shard"), col("new_hw").as("hw_step")),
          "consumed" -> consumed, "report" -> report))
    }
  }

  /** STREAMING incremental entity resolution — q226's alias-store
    * maintenance as a landing-zone stream: each micro-batch of new
    * dim records (p_partkey, p_name, p_brand) resolves against the
    * CURRENT alias store via
    * [[graft.engine.DedupOps.incrementalEntityGroups]] (condensed
    * closure, stored×stored never re-matched), appends the batch
    * rows' verdicts to `outPath/verdicts`, and REPLACES the store
    * snapshot at `outPath/store` — so the next micro-batch resolves
    * against history ∪ every earlier batch. A later record within
    * match distance of an EARLIER batch's record therefore bridges
    * through the updated store (the cross-boundary case the
    * StreamingSpec fixture plants), and the final store equals the
    * one-shot incremental resolution of the concatenated batches:
    * the sequential cross-edges (batch₂ × dim∪batch₁) are exactly
    * the one-shot batch-internal b₁×b₂ pairs plus its cross edges,
    * and min-key closure labels are composition-invariant. Group
    * STATUS is per-round bookkeeping by design (a group extended in
    * two rounds reports `extended` twice, where the one-shot sees it
    * once) — equivalence is on membership, ids, and canonical names.
    *
    * Scale: per micro-batch cost is the q226 bound (batch + touched
    * groups); the store snapshot write is dim-sized, the same
    * overwrite cadence as the q80 streaming MV maintain. Durable
    * state is the per-tick ATOMIC (store, dim) snapshot pair
    * ([[TickCommit.sink]], r18): the old contract snapshotted only the
    * alias store, so a restart silently FORGOT the streamed records'
    * names (the grown dim lived in executor memory alone — a later
    * record within match distance of an earlier streamed record could
    * no longer bridge), and an unguarded replay re-unioned the batch
    * into the dim (duplicate dim rows inflate n_members). */
  def streamingEntityResolution(batchRecords: DataFrame, storedAliases: DataFrame,
                                storedDim: DataFrame, outPath: String,
                                checkpointDir: String): StreamingQuery =
    TickCommit.sink(batchRecords, outPath, checkpointDir, Seq(
        "store" -> storedAliases, "dim" -> storedDim)) { (batch, tick, st) =>
      val b = batch.localCheckpoint(false) // edges + verdict join + dim growth
      val resolved = DedupOps.incrementalEntityGroups(st("store"), st("dim"), b)
        .localCheckpoint(false) // verdict write + store update
      resolved.join(b.select(col("p_partkey")), Seq("p_partkey"), "left_semi")
        .write.mode("overwrite").parquet(s"$outPath/verdicts/tick=$tick")
      Tick(Seq(
        "store" -> resolved.select(col("p_partkey"), col("entity_id"),
          col("n_members"), col("canonical_name")),
        "dim" -> st("dim").unionByName(
          b.select(col("p_partkey"), col("p_name"), col("p_brand")))))
    }
}
