package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.engine.{Artifacts, EventOps, Tables, TemporalOps}

/** Shared event-derived stores for the takedown/retention sweep
  * family (q284/q286/q290).
  *
  * The sweeps' own contract is "correct the STORED artifacts" — every
  * n_before column reads a store row count and every correction is
  * stored − removed-contribution — yet each sweep query re-derived
  * all six stores (q280 manifest, q161 sessions, q146 funnel, q147
  * retention, q199 transitions, q172 attribution) from the raw
  * events per run. This persists each store ONCE per events table as a
  * catalog table (the [[SketchShared]] / epoch-manifest posture:
  * pid-scoped tmp warehouse, cold pass pays the build) and serves
  * all three sweeps from the tables — the production shape, where
  * the stores exist because earlier jobs wrote them and a sweep only
  * ever reads them. The declared store-building queries themselves
  * (q280/q161/q146/q147/q199/q172) keep their inline derivations —
  * they ARE the builds the oracle certifies.
  *
  * Every store is a deterministic derivation of the events table
  * (exact-integer windows/rollups; each hash-matches its own
  * oracle), so stored ≡ inline — asserted row-for-row in ArtifactsSpec.
  * Each is a [[graft.engine.Artifacts]] table keyed by the events
  * table's identity.
  */
object EventShared {

  def manifest(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    Artifacts.table("ev_manifest", Nil, Seq(ev))(TemporalOps.sessionPackManifest(ev))
  }

  def sessions(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    Artifacts.table("ev_sessions", Nil, Seq(ev))(EventOps.sessionize(ev))
  }

  def funnel(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    Artifacts.table("ev_funnel", Nil, Seq(ev))(EventOps.funnel(ev))
  }

  def retention(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    Artifacts.table("ev_retention", Nil, Seq(ev))(EventOps.retentionCohorts(ev))
  }

  def transitions(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    Artifacts.table("ev_transitions", Nil, Seq(ev))(EventOps.eventTransitions(ev))
  }

  def attribution(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    Artifacts.table("ev_attribution", Nil, Seq(ev))(EventOps.lastTouchAttribution(ev))
  }
}
