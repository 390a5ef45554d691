package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal join operators the DataFrame API lacks as primitives,
  * re-expressed the scalable Spark way (north-star custom-operator
  * example: as-of join).
  *
  * The as-of join ("for each left row, the most recent right row at or
  * before its time") is implemented by composition, not by a custom
  * physical operator: tag and UNION the two inputs into one keyed
  * stream, sort within each key partition by time, and carry the right
  * side's attributes forward with `last(_, ignoreNulls)` over an
  * unbounded-preceding window. That is ONE shuffle on the key and a
  * per-partition sort — no range cross-product, no per-key driver
  * loop — exactly the plan a purpose-built as-of operator would want
  * at 100 TB. Skew behaves like any keyed window (salt hot keys).
  */
object TemporalOps {

  /** As-of enrich events with the issuing user's most recent order at
    * or before the event time. Right rows are first deduplicated to
    * one per (customer, date) — max order key wins, its price via
    * max_by — which both pins the tie-break deterministically and
    * matches the oracle's ASOF semantics (one candidate per time
    * point). Events with no prior order keep nulls (left semantics). */
  def asofLatestOrder(events: DataFrame, orders: DataFrame): DataFrame = {
    val od = orders
      .groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(max(col("o_orderkey")).as("o_orderkey"),
           expr("max_by(o_totalprice, o_orderkey)").as("o_totalprice"))
    val right = od.select(
      col("o_custkey").as("k"), col("o_orderdate").cast("timestamp").as("t"),
      lit(0).as("is_event"),
      lit(null).cast("long").as("event_id"), lit(null).cast("double").as("value"),
      col("o_orderkey"), col("o_totalprice"))
    val left = events.select(
      col("user_id").as("k"), col("ts").as("t"),
      lit(1).as("is_event"),
      col("event_id"), col("value"),
      lit(null).cast("long").as("o_orderkey"), lit(null).cast("double").as("o_totalprice"))
    // order rows sort before events at the same instant (is_event 0<1),
    // so an order dated exactly at the event time is visible to it
    val w = Window.partitionBy(col("k"))
      .orderBy(col("t"), col("is_event"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    right.unionByName(left)
      .withColumn("asof_orderkey", last(col("o_orderkey"), ignoreNulls = true).over(w))
      .withColumn("asof_totalprice", last(col("o_totalprice"), ignoreNulls = true).over(w))
      .filter(col("is_event") === 1)
      .select(col("event_id"), col("k").as("user_id"), col("value"),
              col("asof_orderkey"), col("asof_totalprice"))
      .orderBy(col("event_id"))
  }

  /** Time-series gap fill + smoothing — the resampling pass every
    * monthly report needs before charting or forecasting: the
    * (priority × month) rollup DENSIFIED onto the complete month grid
    * (a month with no orders becomes an explicit zero row — absent
    * rows silently break moving averages and period-over-period
    * deltas), then a 3-month centered moving average over the filled
    * series. The month key is the integer year·12+month−1, so grid
    * generation is `sequence(lo, hi)` — no date iteration. The moving
    * average re-accumulates each frame in exact DECIMAL: sliding-sum
    * implementations that ADD AND SUBTRACT doubles incrementally
    * drift; a 3-row decimal sum cannot.
    *
    * Scale: the rollup is map-side combinable; the grid is
    * groups × months (report-sized); the window partitions by group
    * over month-count-bounded rows. */
  def monthGapFill(orders: DataFrame): DataFrame = {
    val base = orders.select(col("o_orderpriority"),
      (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1)
        .cast("long").as("mi"),
      col("o_totalprice"))
      .localCheckpoint(false) // rollup, bounds, and priority list read it
    val monthly = base.groupBy(col("o_orderpriority"), col("mi"))
      .agg(count(lit(1)).cast("long").as("n_orders"),
           Exact.decSum(col("o_totalprice")).as("total_price"))
    val bounds = base.agg(min(col("mi")).as("lo"), max(col("mi")).as("hi"))
    val grid = base.select(col("o_orderpriority")).distinct()
      .crossJoin(broadcast(bounds))
      .select(col("o_orderpriority"),
        explode(sequence(col("lo"), col("hi"))).as("mi"))
    val filled = grid.join(monthly, Seq("o_orderpriority", "mi"), "left_outer")
      .select(col("o_orderpriority"), col("mi"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("total_price"), lit(0.0)).as("total_price"))
    val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("mi"))
      .rowsBetween(-1, 1)
    filled
      .withColumn("ma3", (
        sum(col("total_price").cast("decimal(18,4)")).over(w).cast("double") /
          count(lit(1)).over(w)))
      .select(col("o_orderpriority"),
        expr("mi DIV 12").as("o_year"), (pmod(col("mi"), lit(12)) + 1).as("o_month"),
        col("n_orders"), col("total_price"), col("ma3"))
      .orderBy(col("o_orderpriority"), col("o_year"), col("o_month"))
  }

  /** CONVERSATION PACKING manifest (q280) — multi-turn training data
    * assembled from event logs, the composition every chat/agent
    * pipeline runs: gap-sessionize each user's event stream (a new
    * conversation starts when ts − prev_ts ≥ gap — note this family
    * deliberately splits on ≥ while q33/[[graft.engine.EventOps
    * .sessionize]] splits on strictly >; an event exactly gap minutes
    * after its predecessor OPENS a new conversation here but extends
    * the q33 session. Lag-expressed so the session ids are stable
    * ordinals. Then pack each user's conversations in order into
    * fixed-length training sequences under the q105 packing law
    * (cumulative token mass, integer start_seq/end_seq/tok_offset).
    * Turns inside a conversation stay CONTIGUOUS by construction (the
    * cumsum orders by session ordinal); a conversation longer than
    * seqLen splits across sequence boundaries, honestly visible as
    * start_seq < end_seq. Token mass here is one token per event (the
    * deterministic stand-in — a real tokenizer swaps into the
    * n_events aggregate and nothing downstream changes).
    *
    * Scale: two windows and one agg, ALL partitioned by user_id
    * (high-cardinality key — no 3-value reducer trap); the packing
    * cumsum runs over SESSION rows, not events. One shuffle on
    * user_id serves everything. */
  def sessionPackManifest(events: DataFrame, gapMinutes: Int = 5,
                          seqLen: Int = 64): DataFrame = {
    val wOrd = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sess = events.select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(
        Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))))
      .withColumn("new_sess",
        when(col("prev_ts").isNull ||
          col("ts") >= col("prev_ts") + expr(s"INTERVAL $gapMinutes MINUTES"),
          1L).otherwise(0L))
      .withColumn("session_id", sum(col("new_sess")).over(wOrd))
    val perSess = sess.groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).cast("long").as("n_events"),
           min(col("ts")).as("t_start"), max(col("ts")).as("t_end"))
    val wPack = Window.partitionBy(col("user_id")).orderBy(col("session_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perSess
      .withColumn("cum", sum(col("n_events")).over(wPack))
      .withColumn("start_seq", expr(s"CAST((cum - n_events) DIV $seqLen AS BIGINT)"))
      .withColumn("end_seq", expr(s"CAST((cum - 1) DIV $seqLen AS BIGINT)"))
      .withColumn("tok_offset", expr(s"CAST((cum - n_events) % $seqLen AS BIGINT)"))
      .select(col("user_id"), col("session_id"), col("n_events"),
        col("t_start"), col("t_end"), col("start_seq"), col("end_seq"),
        col("tok_offset"))
      .orderBy(col("user_id"), col("session_id"))
  }

  /** The stored [[sessionPackManifest]] of `events` at the default gap
    * and sequence length — the manifest store the user-level sweeps
    * correct (see [[EventOps.funnelFor]]). */
  def sessionPackManifestFor(events: DataFrame): DataFrame =
    Artifacts.table("ev_manifest", Nil, Seq(events))(sessionPackManifest(events))

  /** INCREMENTAL conversation packing (q281) — the batch-incremental
    * form completing the q280 one-shot / streaming-twin triple: a new
    * slice of events folds into the STORED manifest without ever
    * re-scanning stored events. Untouched users' rows pass through
    * verbatim (their packing cannot move); for each touched user only
    * the LAST stored conversation can change — a pseudo-row carrying
    * its end time seeds the batch sessionization, so a batch event
    * within the gap extends it (its start_seq/tok_offset are already
    * pinned by the stored cum; only n_events/t_end/end_seq grow)
    * while a gap-jump first event leaves it final and opens the next
    * ordinal. The packed mass resumes from the stored
    * start_seq·seqLen + tok_offset, so the law continues exactly.
    *
    * Contract: per-user event time is non-decreasing across slices
    * (the takedown-incremental monotone-arrival contract every
    * carried-state op here states); the oracle is the FULL q280
    * rebuild over stored ∪ batch — a hash match proves the fold.
    * Scale: cost is manifest-sized + batch-sized; windows partition
    * on user_id. */
  def sessionPackIncremental(storedManifest: DataFrame, batch: DataFrame,
                             gapMinutes: Int = 5, seqLen: Int = 64): DataFrame = {
    val touched = batch.select(col("user_id")).distinct()
      .localCheckpoint(false) // three probes
    val untouched = storedManifest.join(touched, Seq("user_id"), "left_anti")
    val wLast = Window.partitionBy(col("user_id"))
      .orderBy(col("session_id").desc)
    val last = storedManifest.join(touched, Seq("user_id"), "left_semi")
      .withColumn("rn", row_number().over(wLast)).filter(col("rn") === 1)
      .select(col("user_id"), col("session_id").as("base_sid"),
        col("n_events").as("open_n"), col("t_start").as("open_start"),
        col("t_end").as("open_end"),
        (col("start_seq") * seqLen + col("tok_offset")).as("cum_before"))
      .localCheckpoint(false) // pseudo-row + merge join + earlier filter
    val touchedEarlier = storedManifest.join(touched, Seq("user_id"), "left_semi")
      .join(last.select(col("user_id"), col("base_sid")), Seq("user_id"))
      .filter(col("session_id") < col("base_sid"))
      .drop("base_sid")
    // seeded sessionization: the pseudo-row (ts = stored end, id −1)
    // sorts first by the monotone contract and never starts a session
    val ev = batch.select(col("user_id"), col("ts"), col("event_id"))
      .unionByName(last.select(col("user_id"), col("open_end").as("ts"),
        lit(-1L).as("event_id")))
    val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val folded = ev
      .withColumn("prev_ts", lag(col("ts"), 1).over(wOrd))
      .withColumn("new_sess",
        when(col("event_id") === -1L, 0L)
          .when(col("prev_ts").isNull ||
            col("ts") >= col("prev_ts") + expr(s"INTERVAL $gapMinutes MINUTES"),
            1L)
          .otherwise(0L))
      .withColumn("rel", sum(col("new_sess")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val segs = folded.groupBy(col("user_id"), col("rel"))
      .agg(count(lit(1)).cast("long").as("n_rows"),
           min(col("ts")).as("s_start"), max(col("ts")).as("s_end"))
      .join(last, Seq("user_id"), "left_outer")
    val merged = segs
      .withColumn("session_id",
        coalesce(col("base_sid"), lit(0L)) + col("rel"))
      // rel 0 exists only for stateful users (the pseudo-row anchors
      // it) and holds open_n + real rows (n_rows counts the pseudo)
      .withColumn("n_events",
        when(col("rel") === 0, col("open_n") + col("n_rows") - 1)
          .otherwise(col("n_rows")))
      // a rel-0 group with only the pseudo-row reproduces the stored
      // last session bit-for-bit (n = open_n, t_end = open_end, same
      // packing) — no special passthrough needed
      .withColumn("t_start",
        when(col("rel") === 0, col("open_start")).otherwise(col("s_start")))
      .withColumn("t_end", col("s_end"))
      .withColumn("cum_base", coalesce(col("cum_before"), lit(0L)))
    val wPack = Window.partitionBy(col("user_id")).orderBy(col("session_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val repacked = merged
      .withColumn("cum", col("cum_base") + sum(col("n_events")).over(wPack))
      .withColumn("start_seq", expr(s"CAST((cum - n_events) DIV $seqLen AS BIGINT)"))
      .withColumn("end_seq", expr(s"CAST((cum - 1) DIV $seqLen AS BIGINT)"))
      .withColumn("tok_offset", expr(s"CAST((cum - n_events) % $seqLen AS BIGINT)"))
      .select(col("user_id"), col("session_id"), col("n_events"),
        col("t_start"), col("t_end"), col("start_seq"), col("end_seq"),
        col("tok_offset"))
    untouched.unionByName(touchedEarlier).unionByName(repacked)
      .orderBy(col("user_id"), col("session_id"))
  }
}
